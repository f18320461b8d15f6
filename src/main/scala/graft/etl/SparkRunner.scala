package graft.etl

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import graft.config.GraftConfig
import graft.monitoring.{Counter, Gauge, JobMetrics, MessagingSystem, MetricRegistry}
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
 *  4. measure each stage attempt's own Spark jobs with [[JobMetrics]] and
 *     publish a successful attempt's numbers in its stage's `MetricsEvent`.
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
  // to the JobMetrics numbers. Counters reset per run.
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
    try dates.foreach { date =>
      val ctx = new RunnerContext(date, retryOptions, spark, messaging, spark)
      messaging.publishProcessStarting(ctx)
      job.stages.run(ctx) match {
        case Success(_) => messaging.publishProcessComplete(ctx)
        case Failure(failure) =>
          messaging.publishProcessFailed(ctx, failure)
          throw failure
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
      value: I,
      // identity rides through withValue: a fresh UUID per stage transition
      // would orphan every post-first StageEvent from its process lifecycle
      val processId: String = java.util.UUID.randomUUID().toString,
      val startTime: Long = System.currentTimeMillis)
      extends Stage.Context[I](spark, eventDate, value)
      with MessagingSystem.Context {

    val jobId: String = jobName

    override def withValue[U](value: U): Stage.Context[U] =
      new RunnerContext(eventDate, retryOptions, spark, messaging, value,
        processId, startTime)

    override def run[O](stage: Stage[I, O], result: => O): Stage.Result[O] = {
      @scala.annotation.tailrec
      def attempt(callCount: Int): Stage.Result[O] = {
        val stageId = s"$jobName/$eventDate/$processId/${stage.name}"
        logger.info(s"[$stageId] running try #$callCount")
        messaging.publishStageStarting(this, stage.name)
        val (outcome, metrics) = JobMetrics.measure(spark.sparkContext)(Try(result))
        outcome match {
          case success @ Success(_) =>
            messaging.publishStageComplete(this, stage.name)
            messaging.publishMetrics(this, stage.name,
              metrics.asMetrics ++ metricRegistry.snapshot)
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

