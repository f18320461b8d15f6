package graft.etl

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import graft.config.GraftConfig
import graft.monitoring.{Counter, Gauge, MessagingSystem, MetricRegistry}
import graft.time.{DateInterval, Day}
import graft.util.Logging

/** Per-stage retry policy. */
case class RetryOptions(delay: FiniteDuration, max: Int)

object RetryOptions {
  val none: RetryOptions = RetryOptions(0.millis, 1)

  /** Reads `retry.delay` (duration string or millis) and `retry.max`. */
  def fromConfig(config: GraftConfig): RetryOptions =
    RetryOptions(
      delay = config.getDuration("retry.delay").getOrElse(30.seconds),
      max = config.getInt("retry.max").getOrElse(3))
}

/**
 * Entry point driving a [[SparkJob]] over its [[Schedule]]
 * (reference core SparkRunner.scala:30-160):
 *
 *  1. load layered config (env > properties file), build the `SparkConf`
 *     from every `spark.*` config key,
 *  2. compute the dates to run: newest-first from the schedule, capped at
 *     [[SparkJob.MaxScheduledDates]], filtered by `shouldRunForDate`, then
 *     reversed so processing is chronological — or, when the `start` env
 *     variable ("yyyy-MM-dd") is set, EVERY schedule date at or after it
 *     (a backfill lower bound that bypasses `shouldRunForDate` and rewrites
 *     already-processed partitions),
 *  3. run the job's stage pipeline per date inside a monitoring + retry
 *     [[Stage.Context]]: every stage publishes starting/complete/failed
 *     events and is retried up to `retry.max` times with `retry.delay`
 *     between attempts,
 *  4. collect read metrics via a `SparkListener` and publish them per stage.
 */
abstract class SparkRunner[Job <: SparkJob] extends Logging with ScheduleDsl {
  def jobName: String
  def schedule: Schedule
  def createJob(config: GraftConfig): Job

  /** Override to point at a properties file with job configuration. */
  def configFile: Option[String] = sys.env.get("GRAFT_CONFIG_FILE")

  def main(args: Array[String]): Unit =
    Try(run()) match {
      case Failure(failure) =>
        System.err.println("Spark job failed")
        failure.printStackTrace(System.err)
        System.exit(1)
      case Success(_) =>
        System.exit(0)
    }

  def run(): Unit = {
    val config = GraftConfig.load(configFile)
    val spark = createSession(config)
    try runWith(spark, config)
    finally spark.stop()
  }

  /** Override to intercept lifecycle events (tests use the in-memory impl). */
  protected def createMessaging(config: GraftConfig): MessagingSystem =
    MessagingSystem.create(config)

  // ---- custom metrics (reference core SparkRunner.scala:165-205) ---------
  // Jobs declare counters/gauges as fields of their runner and bump them in
  // stage code; every stage's MetricsEvent carries the registry snapshot next
  // to the SparkListener read/write numbers. Counters reset per run.
  private val metricRegistry = new MetricRegistry

  /** Register (or re-use) a counter; reset before each job run. */
  protected def counter(name: String, help: String, labels: String*): Counter =
    metricRegistry.counter(name, help, labels: _*)

  /** Register (or re-use) a gauge; NOT reset between runs (point-in-time). */
  protected def gauge(name: String, help: String, labels: String*): Gauge =
    metricRegistry.gauge(name, help, labels: _*)

  /** Separated from [[run]] so tests can drive the date loop with their own session. */
  def runWith(spark: SparkSession, config: GraftConfig): Unit = {
    val messaging = createMessaging(config)
    val retryOptions = RetryOptions.fromConfig(config)
    metricRegistry.resetCounters() // fresh counts per run (reference semantics)
    val job = createJob(config)

    val singleDate = sys.env.get("start").flatMap(Day.parse)
    val shouldRun: DateInterval => Boolean = singleDate match {
      case Some(date) => date.<=
      case None => job.shouldRunForDate(spark, _)
    }

    val dates = schedule.iterator
      .take(SparkJob.MaxScheduledDates)
      .takeWhile(shouldRun)
      .toList
      .reverse

    logger.info(s"[$jobName] scheduled dates: $dates")
    val metrics = new RunnerMetrics
    try metrics.counting(spark.sparkContext) {
      dates.foreach { date =>
        val ctx = new RunnerContext(date, retryOptions, spark, messaging, metrics, spark)
        messaging.publishProcessStarting(ctx)
        job.stages.run(ctx) match {
          case Success(_) => messaging.publishProcessComplete(ctx)
          case Failure(failure) =>
            messaging.publishProcessFailed(ctx, failure)
            throw failure
        }
      }
    } finally messaging.stop()
  }

  def createSession(config: GraftConfig): SparkSession = {
    val sparkConf = new SparkConf().setAppName(jobName)
    config.entries.foreach {
      case (key, value) if key.startsWith("spark.") => sparkConf.setIfMissing(key, value)
      case _ =>
    }
    SparkSession.builder.config(sparkConf).getOrCreate()
  }

  /** Stage context wiring retry + lifecycle events around every stage execution. */
  class RunnerContext[+I](
      val eventDate: DateInterval,
      retryOptions: RetryOptions,
      spark: SparkSession,
      messaging: MessagingSystem,
      metrics: RunnerMetrics,
      value: I,
      // identity rides through withValue: a fresh UUID per stage transition
      // would orphan every post-first StageEvent from its process lifecycle
      val processId: String = java.util.UUID.randomUUID().toString,
      val startTime: Long = System.currentTimeMillis)
      extends Stage.Context[I](spark, eventDate, value)
      with MessagingSystem.Context {

    val jobId: String = jobName

    override def withValue[U](value: U): Stage.Context[U] =
      new RunnerContext(eventDate, retryOptions, spark, messaging, metrics, value,
        processId, startTime)

    override def run[O](stage: Stage[I, O], result: => O): Stage.Result[O] = {
      @scala.annotation.tailrec
      def attempt(callCount: Int): Stage.Result[O] = {
        val stageId = s"$jobName/$eventDate/$processId/${stage.name}"
        logger.info(s"[$stageId] running try #$callCount")
        metrics.reset()
        messaging.publishStageStarting(this, stage.name)
        Try(result) match {
          case success @ Success(_) =>
            messaging.publishStageComplete(this, stage.name)
            messaging.publishMetrics(this, stage.name,
              metrics.snapshot ++ metricRegistry.snapshot)
            success
          case failed @ Failure(failure) if callCount >= retryOptions.max =>
            logger.error(s"[$stageId] giving up after ${retryOptions.max} attempt(s)", failure)
            messaging.publishStageFailed(this, stage.name, failure)
            // return the Failure (Stage.run's contract) rather than throw:
            // combinators like sequenceAll must be able to keep going and
            // aggregate; the date loop publishes ProcessFailed and aborts
            failed
          case Failure(failure) =>
            logger.warn(s"[$stageId] retrying in ${retryOptions.delay}", failure)
            messaging.publishStageRetrying(this, stage.name)
            Thread.sleep(retryOptions.delay.toMillis)
            attempt(callCount + 1)
        }
      }
      attempt(1)
    }
  }
}

/**
 * Lightweight per-stage counters fed by Spark's task-end events — the
 * public-knowledge stand-in for the reference's Prometheus collectors
 * (reference core SparkRunner.scala:163-217).
 */
class RunnerMetrics extends Serializable {
  private val runIdProperty = "graft.runner.runId"
  private val runId = java.util.UUID.randomUUID().toString
  private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val bytesRead = new java.util.concurrent.atomic.AtomicLong
  private val recordsRead = new java.util.concurrent.atomic.AtomicLong
  private val recordsWritten = new java.util.concurrent.atomic.AtomicLong

  def reset(): Unit = { bytesRead.set(0); recordsRead.set(0); recordsWritten.set(0) }

  def snapshot: Map[String, Double] = Map(
    "spark_bytes_read" -> bytesRead.get.toDouble,
    "spark_records_read" -> recordsRead.get.toDouble,
    "spark_records_written" -> recordsWritten.get.toDouble)

  /** Runs `body` counting the tasks of the jobs it submits, and only those:
    * they carry this run's id as a local property (which follows this
    * thread and the threads Spark starts for it), so concurrent runs on one
    * session count only their own tasks. The listener is removed afterwards,
    * so a long-lived session driving many runs does not accumulate them. */
  def counting[T](sc: SparkContext)(body: => T): T = {
    val outerRun = sc.getLocalProperty(runIdProperty)
    sc.setLocalProperty(runIdProperty, runId)
    sc.addSparkListener(listener)
    try body
    finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(runIdProperty, outerRun)
    }
  }

  private val listener: SparkListener = new SparkListener {
    override def onJobStart(jobStart: SparkListenerJobStart): Unit =
      if (jobStart.properties.getProperty(runIdProperty) == runId)
        jobStart.stageIds.foreach(stages.add)

    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
      if (stages.contains(taskEnd.stageId)) {
        bytesRead.addAndGet(taskEnd.taskMetrics.inputMetrics.bytesRead)
        recordsRead.addAndGet(taskEnd.taskMetrics.inputMetrics.recordsRead)
        recordsWritten.addAndGet(taskEnd.taskMetrics.outputMetrics.recordsWritten)
        ()
      }
  }
}
