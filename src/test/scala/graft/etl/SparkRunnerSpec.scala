package graft.etl

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.concurrent.duration._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft._
import graft.config.GraftConfig
import graft.monitoring.{Counter, Gauge, InMemoryMessagingSystem, MessagingSystem}
import graft.testkit.SparkJobSuiteBase
import graft.time.{Day, DateInterval}

/** End-to-end runner behavior (reference core SparkRunner.scala + TestEtlSpec). */
class SparkRunnerSpec extends SparkJobSuiteBase {

  private class CountingJob(failFirstN: Int = 0) extends SparkJob {
    var processedDates: Vector[DateInterval] = Vector.empty
    var attempts = 0
    override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean = true
    override def stages: Stage[SparkSession, _] = for {
      nums <- "nums".source { c =>
        import c.spark.implicits._
        c.spark.range(10).as[Long]
      }
      counted <- Stage.transform[Long, Long]("maybe_fail") { c =>
        attempts += 1
        if (attempts <= failFirstN) sys.error(s"flaky (attempt $attempts)")
        c.value
      }
      _ <- "record".sink[Long] { c => processedDates :+= c.date; () }
    } yield counted
  }

  private def runner(job: CountingJob, sched: Schedule, messaging: MessagingSystem, retryMax: Int = 1) =
    new SparkRunner[CountingJob] {
      override def jobName = "counting_job"
      override def schedule: Schedule = sched
      override def createJob(config: GraftConfig): CountingJob = job
      override protected def createMessaging(config: GraftConfig): MessagingSystem = messaging
      override def configFile: Option[String] = None
      def go(): Unit = runWith(spark, GraftConfig("retry.max" -> retryMax.toString, "retry.delay" -> "0ms"))
    }

  test("runs scheduled dates in chronological order") {
    val job = new CountingJob()
    val messaging = new InMemoryMessagingSystem
    val sched = Schedule.iterate(Day(2026, 8, 12)).where(_ >= Day(2026, 8, 10))
    runner(job, sched, messaging).go()
    job.processedDates shouldBe Vector(Day(2026, 8, 10), Day(2026, 8, 11), Day(2026, 8, 12))
    messaging.topics.count(_ == "jobs") shouldBe 6 // starting+complete per date
    messaging.topics should contain("metrics")
  }

  test("runWith leaves the listener bus as it found it") {
    val sc = spark.sparkContext
    val before = org.apache.spark.SparkTestAccess.listenerCount(sc)
    val r = runner(new CountingJob(), Schedule(Day(2026, 8, 12)), new InMemoryMessagingSystem)
    r.go()
    r.go()
    org.apache.spark.SparkTestAccess.listenerCount(sc) shouldBe before
  }

  /** A runner over one date whose job runs `pipeline`. */
  private def pipelineRunner(messaging: MessagingSystem, pipeline: Stage[SparkSession, _]) =
    new SparkRunner[SparkJob] {
      override def jobName = "read_job"
      override def schedule: Schedule = Schedule(Day(2026, 8, 12))
      override protected def createMessaging(config: GraftConfig) = messaging
      override def configFile: Option[String] = None
      override def createJob(config: GraftConfig): SparkJob = new SparkJob {
        override def shouldRunForDate(spark: SparkSession, date: DateInterval) = true
        override def stages: Stage[SparkSession, _] = pipeline
      }
    }

  /** A parquet table of `rows` rows. */
  private def parquetTable(rows: Long): String = {
    val path = s"${tmpDir("runner_read")}/t"
    spark.range(rows).write.parquet(path)
    path
  }

  private def readAll(c: Stage.Context[_], path: String): Unit =
    c.spark.read.parquet(path).write.format("noop").mode("overwrite").save()

  private def field(json: String, name: String): String =
    s""""$name":"([^"]+)"""".r.findFirstMatchIn(json).get.group(1)

  /** `(stage, spark_records_read)` of every MetricsEvent, in publication order. */
  private def recordsRead(messaging: InMemoryMessagingSystem): Seq[(String, Double)] =
    messaging.events.collect { case ("metrics", m) =>
      field(m, "stage") -> "\"spark_records_read\":([0-9.E]+)".r.findFirstMatchIn(m).get.group(1).toDouble
    }

  test("concurrent runWith calls on one session publish only their own reads") {
    val sizes = Seq(300L, 1700L)
    val paths = sizes.map(parquetTable)
    // one stage: read the file between `gate` waits, so concurrent reads overlap
    def readRun(path: String, gate: Option[CyclicBarrier]): Double = {
      val messaging = new InMemoryMessagingSystem
      pipelineRunner(messaging, Stage[SparkSession, Unit]("read") { c =>
        gate.foreach(_.await(60, TimeUnit.SECONDS))
        readAll(c, path)
        gate.foreach(_.await(60, TimeUnit.SECONDS))
        ()
      }).runWith(spark, GraftConfig("retry.max" -> "1", "retry.delay" -> "0ms"))
      val metrics = recordsRead(messaging)
      metrics should have size 1
      metrics.head._2
    }
    val solo = paths.map(readRun(_, None))
    solo shouldBe sizes.map(_.toDouble)
    val gate = new CyclicBarrier(2)
    val results = scala.collection.concurrent.TrieMap.empty[String, Double]
    val threads = paths.map(p => new Thread(() => { results.put(p, readRun(p, Some(gate))); () }))
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    paths.map(results.get) shouldBe solo.map(Some(_))
  }

  test("each stage publishes its own reads when the listener bus delivers them late") {
    val path = parquetTable(300)
    val messaging = new InMemoryMessagingSystem
    val pipeline = for {
      _ <- Stage[SparkSession, Unit]("a")(readAll(_, path))
      _ <- Stage[Unit, Unit]("b") { c => c.spark.sparkContext.parallelize(1 to 50, 4).count(); () }
    } yield ()
    withSlowTaskEnds(40.millis) {
      pipelineRunner(messaging, pipeline)
        .runWith(spark, GraftConfig("retry.max" -> "1", "retry.delay" -> "0ms"))
    }
    recordsRead(messaging) shouldBe Seq("a" -> 300.0, "b" -> 0.0)
    val lifecycle = messaging.events.collect {
      case ("stages", m) => field(m, "stage") -> field(m, "state")
      case ("metrics", m) => field(m, "stage") -> "Metrics"
    }
    lifecycle shouldBe Seq("a" -> "Processing", "a" -> "Complete", "a" -> "Metrics",
      "b" -> "Processing", "b" -> "Complete", "b" -> "Metrics")
  }

  test("a stage that reads and then fails publishes only its successful attempt's reads") {
    // the attempts read tables of different sizes, so a count that mixes
    // them shows
    val paths = Seq(parquetTable(100), parquetTable(300))
    val messaging = new InMemoryMessagingSystem
    var attempts = 0
    withSlowTaskEnds(40.millis) {
      pipelineRunner(messaging, Stage[SparkSession, Unit]("flaky_read") { c =>
        attempts += 1
        readAll(c, paths(attempts - 1))
        if (attempts == 1) sys.error("failed after reading")
      }).runWith(spark, GraftConfig("retry.max" -> "2", "retry.delay" -> "0ms"))
    }
    attempts shouldBe 2
    recordsRead(messaging) shouldBe Seq("flaky_read" -> 300.0)
  }

  test("retries a flaky stage and publishes a Retrying event") {
    val job = new CountingJob(failFirstN = 1)
    val messaging = new InMemoryMessagingSystem
    runner(job, Schedule(Day(2026, 8, 12)), messaging, retryMax = 3).go()
    job.attempts shouldBe 2
    job.processedDates shouldBe Vector(Day(2026, 8, 12))
    messaging.events.filter(_._1 == "stages").map(_._2).count(_.contains("\"Retrying\"")) shouldBe 1
  }

  test("gives up after max retries and publishes failure events") {
    val job = new CountingJob(failFirstN = 99)
    val messaging = new InMemoryMessagingSystem
    val r = runner(job, Schedule(Day(2026, 8, 12)), messaging, retryMax = 2)
    a[RuntimeException] should be thrownBy r.go()
    job.attempts shouldBe 2
    val stageStates = messaging.events.filter(_._1 == "stages").map(_._2)
    stageStates.count(_.contains("\"Failed\"")) shouldBe 1
    messaging.events.filter(_._1 == "jobs").map(_._2).count(_.contains("\"Failed\"")) shouldBe 1
  }

  test("all events of one date share a single processId") {
    val job = new CountingJob()
    val messaging = new InMemoryMessagingSystem
    runner(job, Schedule(Day(2026, 8, 12)), messaging).go()
    val pids = messaging.events.map(_._2)
      .flatMap("\"processId\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1)))
    pids should not be empty
    withClue(s"processIds: ${pids.distinct}") { pids.distinct should have size 1 }
  }

  test("sequenceAll under the runner runs every branch and aggregates failures") {
    var branchBRan = false
    val job = new SparkJob {
      override def shouldRunForDate(spark: SparkSession, date: DateInterval) = true
      override def stages: Stage[SparkSession, _] =
        "nums".source(_.spark.range(3)).andThen(Stage.sequenceAll(Seq(
          Stage.transform[java.lang.Long, java.lang.Long]("branch_a")(_ =>
            sys.error("branch a broke")),
          Stage.transform[java.lang.Long, java.lang.Long]("branch_b") { c =>
            branchBRan = true; c.value
          })))
    }
    val messaging = new InMemoryMessagingSystem
    val r = new SparkRunner[SparkJob] {
      override def jobName = "seqall_job"
      override def schedule: Schedule = Schedule(Day(2026, 8, 12))
      override def createJob(config: GraftConfig): SparkJob = job
      override protected def createMessaging(config: GraftConfig) = messaging
      override def configFile: Option[String] = None
    }
    val thrown = the[Stage.SequenceAllException[_, _]] thrownBy
      r.runWith(spark, GraftConfig("retry.max" -> "1", "retry.delay" -> "0ms"))
    // the failing branch did NOT abort the sequence: b ran, and the
    // aggregate lists exactly the one failure
    branchBRan shouldBe true
    thrown.failures.map(_._1.name) shouldBe Seq("branch_a")
    messaging.events.filter(_._1 == "jobs").map(_._2).count(_.contains("\"Failed\"")) shouldBe 1
  }

  test("stops the date walk where shouldRunForDate turns false") {
    val job = new CountingJob() {
      override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
        date >= Day(2026, 8, 11)
    }
    val messaging = new InMemoryMessagingSystem
    runner(job, Schedule.iterate(Day(2026, 8, 12)), messaging).go()
    job.processedDates shouldBe Vector(Day(2026, 8, 11), Day(2026, 8, 12))
  }

  test("testkit runJob drives a pipeline directly") {
    val job = new CountingJob()
    runJob(job, Day(2026, 8, 12)).isSuccess shouldBe true
    job.processedDates shouldBe Vector(Day(2026, 8, 12))
  }

  test("a warehouse-gated job is idempotent across runner invocations") {
    import graft.io.{HdfsUrl, WarehouseTable}
    val table = WarehouseTable(HdfsUrl(tmpDir("idempotent_wh")), "out")
    var writes = 0
    val job = new SparkJob {
      override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
        !table.exists(spark, date)
      override def stages: Stage[SparkSession, _] = for {
        nums <- "nums".source { c =>
          import c.spark.implicits._
          c.spark.range(5).as[Long]
        }
        _ <- "write".sink[Long] { c => writes += 1; table.save(c.value.toDF(), c.date) }
      } yield nums
    }
    val runner = new SparkRunner[SparkJob] {
      override def jobName = "idempotent_job"
      override def schedule: Schedule = Schedule.iterate(Day(2026, 8, 12)).where(_ >= Day(2026, 8, 11))
      override def createJob(config: GraftConfig): SparkJob = job
      override protected def createMessaging(config: GraftConfig) = new InMemoryMessagingSystem
      override def configFile: Option[String] = None
    }
    val config = GraftConfig("retry.max" -> "1", "retry.delay" -> "0ms")
    runner.runWith(spark, config)
    writes shouldBe 2 // both scheduled dates written
    runner.runWith(spark, config)
    writes shouldBe 2 // second invocation: shouldRunForDate gates everything out
  }

  test("custom counters/gauges ride the stage MetricsEvent and counters reset per run") {
    val messaging = new InMemoryMessagingSystem
    object r extends SparkRunner[SparkJob] {
      // declared as runner fields, exactly the reference pattern
      // (reference core SparkRunner.scala:170-177)
      val docsSeen: Counter = counter("docs_seen", "documents seen", "source")
      val lastBatch: Gauge = gauge("last_batch_rows", "rows in the most recent batch")
      override def jobName = "metrics_job"
      override def schedule: Schedule = Schedule(Day(2026, 8, 12))
      override protected def createMessaging(config: GraftConfig) = messaging
      override def configFile: Option[String] = None
      override def createJob(config: GraftConfig): SparkJob = new SparkJob {
        override def shouldRunForDate(spark: SparkSession, date: DateInterval) = true
        override def stages: Stage[SparkSession, _] = for {
          nums <- "nums".source { c =>
            import c.spark.implicits._
            c.spark.range(7).as[Long]
          }
          _ <- "count".sink[Long] { c =>
            docsSeen.labels("web").inc(c.value.count().toDouble)
            lastBatch.set(7.0)
          }
        } yield nums
      }
    }
    val config = GraftConfig("retry.max" -> "1", "retry.delay" -> "0ms")
    r.runWith(spark, config)
    def metricEvents = messaging.events.filter(_._1 == "metrics").map(_._2)
    metricEvents.exists(_.contains("\"docs_seen{source=web}\":7.0")) shouldBe true
    metricEvents.exists(_.contains("\"last_batch_rows\":7.0")) shouldBe true
    // a second run RESETS counters (reference semantics): the count is 7
    // again, not a 14 carried over from the first run
    r.runWith(spark, config)
    metricEvents.last should include("\"docs_seen{source=web}\":7.0")
    metricEvents.last should not include "14.0"
  }

  test("RetryOptions reads duration strings and counts from config") {
    val opts = RetryOptions.fromConfig(GraftConfig("retry.delay" -> "10s", "retry.max" -> "5"))
    opts.delay.toSeconds shouldBe 10
    opts.max shouldBe 5
    RetryOptions.fromConfig(GraftConfig()).max shouldBe 3 // defaults
  }

  test("a Stage.holding job frees what it held by the end of every date, retried stages included") {
    val sc = spark.sparkContext
    var attempts = 0
    var heldDuring = Vector.empty[Set[Int]]
    val before = sc.getPersistentRDDs.keySet.toSet
    val job = new SparkJob {
      override def shouldRunForDate(spark: SparkSession, date: DateInterval) = true
      override def stages: Stage[SparkSession, _] = Stage.holding { held =>
        for {
          nums <- "nums".source(c => held.persist(c.spark.range(100).toDF()))
          evens <- Stage.transform[Row, Row]("evens") { c =>
            held.barrier(c.value.toDF().where(col("id") % 2 === 0))
          }
          _ <- Stage.transform[Row, Row]("maybe_fail") { c =>
            attempts += 1
            if (attempts == 1) sys.error("flaky (attempt 1)")
            c.value
          }
          _ <- "count".sink[Row] { c =>
            nums.count() shouldBe 100L
            c.value.count() shouldBe 50L
            heldDuring :+= sc.getPersistentRDDs.keySet.toSet -- before
            ()
          }
        } yield evens
      }
    }
    new SparkRunner[SparkJob] {
      override def jobName = "holding_job"
      override def schedule: Schedule = Schedule.iterate(Day(2026, 8, 12)).where(_ >= Day(2026, 8, 10))
      override protected def createMessaging(config: GraftConfig) = new InMemoryMessagingSystem
      override def configFile: Option[String] = None
      override def createJob(config: GraftConfig): SparkJob = job
    }.runWith(spark, GraftConfig("retry.max" -> "2", "retry.delay" -> "0ms"))
    attempts shouldBe 4 // three dates, the first one's failing stage retried once
    heldDuring.map(_.size) shouldBe Vector(2, 2, 2) // the cache and the checkpoint
    (sc.getPersistentRDDs.keySet.toSet -- before) shouldBe empty
  }
}
