package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/**
 * Dev-only measurement harness (guide §1: measure first): runs named battery
 * queries with the Bench session config, prints a per-JOB wall breakdown
 * (job id, seconds, description) for the timed pass, and dumps
 * `explain("formatted")` to `<plansDir>/<name>_<tag>.txt`.
 *
 * Usage: runMain graft.Profile <sfDir> <tag> <name>[,<name>...] [<plansDir>]
 * Never invoked by the driver; the bench contract lives in [[Bench]].
 */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tag = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    // round-scoped evidence dir as an argument (round 19 hardcoded "plans/r19"
    // and would have silently overwritten the previous round's dumps)
    val plansDir = if (args.length > 3) args(3) else "plans/r20"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // total executor task time + task count: load-insensitive work metrics
    // (wall seconds on a shared host swing 2-3x between runs; the summed
    // task time of the same computation does not)
    val taskNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val taskCount = new java.util.concurrent.atomic.AtomicLong(0L)
    val stageCount = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (record) jobStart.put(s.jobId,
          (System.nanoTime(), Option(s.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (record) Option(jobStart.get(e.jobId)).foreach { case (t0, desc) =>
          jobLines.add(f"    job ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%8.3f s  $desc")
        }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (record && t.taskMetrics != null) {
          taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
          taskCount.incrementAndGet()
          ()
        }
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (record) { stageCount.incrementAndGet(); () }
    })

    // the FINAL adaptive plan of the timed noop write (isFinalPlan=true,
    // with ReusedExchange / AQEShuffleRead nodes) — explain() on the
    // DataFrame only ever shows the initial plan, so runtime exchange/stage
    // reuse is invisible without this. Only the outer noop SAVE is
    // recorded: the eager barriers a query runs while it is built are
    // executions of their own and must not stand in for it.
    @volatile var finalPlan: String = null
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand])
          finalPlan = qe.executedPlan.toString
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    // QueryExecutionListener callbacks are async: wait for the last save's
    // plan, then clear it so the next capture cannot read a stale one
    def takeSavePlan(): Option[String] = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (finalPlan == null && System.nanoTime() < deadline) Thread.sleep(50)
      val plan = Option(finalPlan)
      finalPlan = null
      plan
    }

    val byName = Queries.all.map { case (n, f, _) => n -> f }.toMap
    Files.createDirectories(Paths.get(plansDir))
    names.foreach { name =>
      val fn = byName.getOrElse(name, sys.error(s"unknown query: $name"))
      // plan dump
      val df = fn(spark, sfDir)
      Files.writeString(Paths.get(s"$plansDir/${name}_$tag.txt"),
        df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      // warm-up (codegen + FS caches), then timed pass with job breakdown
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      takeSavePlan() // the warm-up save's plan: drained, never recorded
      jobLines.clear(); jobStart.clear()
      taskNanos.set(0L); taskCount.set(0L); stageCount.set(0L); record = true
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      record = false
      spark.sparkContext.setJobDescription(null)
      println(f"[profile] $name%-28s $sec%8.3f s  (${jobLines.size} jobs, " +
        f"${stageCount.get()} stages, " +
        f"${taskNanos.get() / 1e9}%.3f task-s over ${taskCount.get()} tasks)")
      jobLines.toArray(Array.empty[String]).sorted.foreach(println)
      takeSavePlan().foreach { plan =>
        Files.writeString(Paths.get(s"$plansDir/${name}_${tag}_final.txt"), plan)
      }
    }
    spark.stop()
  }
}
