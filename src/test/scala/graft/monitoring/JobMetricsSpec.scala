package graft.monitoring

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

import graft.testkit.SparkTestBase

class JobMetricsSpec extends SparkTestBase {
  private def sc = spark.sparkContext

  /** One job of `tasks` tasks. */
  private def job(tasks: Int): Long = sc.parallelize(1 to 10 * tasks, tasks).count()

  test("counts only its body's jobs while another thread runs jobs") {
    val otherJobs = new AtomicInteger
    @volatile var stop = false
    val other = new Thread(() => while (!stop) { job(2); otherJobs.incrementAndGet(); () })
    other.start()
    // between its own jobs the body waits for two of the other thread's,
    // so the two threads' jobs interleave on the bus
    def awaitOtherJobs(): Unit = {
      val (seen, deadline) = (otherJobs.get, System.nanoTime() + 30L * 1000 * 1000 * 1000)
      while (otherJobs.get < seen + 2 && System.nanoTime() < deadline) Thread.sleep(5)
    }
    try {
      val (_, m) = JobMetrics.measure(sc) {
        (1 to 3).foreach { _ => job(3); awaitOtherJobs() }
      }
      m.jobs should have size 3
      m.stages shouldBe 3
      m.tasks shouldBe 9
    } finally { stop = true; other.join(60000) }
    otherJobs.get should be >= 6
  }

  test("counts every task of its body when the bus delivers task ends late") {
    val path = s"${tmpDir("job_metrics")}/t"
    spark.range(0, 300, 1, 6).write.parquet(path)
    val (_, m) = withSlowTaskEnds(40.millis) {
      JobMetrics.measure(sc)(spark.read.parquet(path).write.format("noop").mode("overwrite").save())
    }
    m.recordsRead shouldBe 300L
    m.bytesRead should be > 0L
    m.jobs should not be empty
    m.tasks should be >= 1L
    m.taskSeconds should be >= 0.0
  }

  test("a bus-wait timeout returns what has arrived and does not throw") {
    // holds the shared queue at the first task end, before the collector sees it
    val gate = new CountDownLatch(1)
    val blocker = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { gate.await(60, TimeUnit.SECONDS); () }
    }
    sc.addSparkListener(blocker)
    try {
      val t0 = System.nanoTime()
      val (rows, m) = JobMetrics.measure(sc)(job(2))
      (System.nanoTime() - t0) / 1e9 should (be >= 10.0 and be < 30.0)
      rows shouldBe 20L
      m.tasks shouldBe 0L
      m.jobs shouldBe empty
    } finally { gate.countDown(); sc.removeSparkListener(blocker) }
  }

  test("a nested measurement counts in both, and the job tags are restored") {
    val before = sc.getJobTags()
    val ((_, inner), outer) = JobMetrics.measure(sc) {
      job(1)
      JobMetrics.measure(sc)(job(2))
    }
    inner.jobs should have size 1
    inner.tasks shouldBe 2L
    outer.jobs should have size 2
    outer.tasks shouldBe 3L
    sc.getJobTags() shouldBe before
    a[RuntimeException] should be thrownBy JobMetrics.measure(sc)(sys.error("body failed"))
    sc.getJobTags() shouldBe before
  }

  test("reports each job's description and the final plan of the body's last write") {
    sc.setJobDescription("measured")
    val (_, m) = try JobMetrics.measure(sc) {
      spark.range(0, 100, 1, 4).groupBy((col("id") % 3).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    } finally sc.setJobDescription(null)
    m.jobs should not be empty
    m.jobs.map(_.description).distinct shouldBe Seq("measured")
    m.jobs.map(_.id) shouldBe m.jobs.map(_.id).sorted
    m.jobs.foreach(_.seconds should be >= 0.0)
    val plan = m.writePlan.map(_.toString).getOrElse(fail("no write plan"))
    plan should startWith("OverwriteByExpression")
    plan should include("isFinalPlan=true")
  }
}
