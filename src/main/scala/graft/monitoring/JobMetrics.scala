package graft.monitoring

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.concurrent.duration._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.util.Logging

/**
 * What the Spark jobs of one body did ([[JobMetrics.measure]]) — the
 * public-knowledge stand-in for the reference's Prometheus collectors
 * (reference core SparkRunner.scala:163-217). `taskSeconds` is executor
 * run time; `writePlan` is the final physical plan of the last data-source
 * (V2) write the body ran, adaptive query stages and reuse included.
 */
final case class JobMetrics(jobs: Seq[JobMetrics.Job], stages: Int, tasks: Long,
    taskSeconds: Double, bytesRead: Long, recordsRead: Long, recordsWritten: Long,
    writePlan: Option[SparkPlan]) {

  /** The flat form a stage's [[MetricsEvent]] carries. */
  def asMetrics: Map[String, Double] = Map(
    "spark_jobs" -> jobs.size.toDouble, "spark_stages" -> stages.toDouble,
    "spark_tasks" -> tasks.toDouble, "spark_task_seconds" -> taskSeconds,
    "spark_bytes_read" -> bytesRead.toDouble, "spark_records_read" -> recordsRead.toDouble,
    "spark_records_written" -> recordsWritten.toDouble)
}

object JobMetrics extends Logging {

  /** A finished job: its id, the seconds between its start and end
    * events, and its `spark.job.description` ("" when unset). */
  final case class Job(id: Int, seconds: Double, description: String)

  private val BusWait = 10.seconds

  /**
   * Runs `body` and measures the Spark jobs it submits, and only those:
   * the body runs under a fresh job tag (a local property that follows
   * this thread and the threads Spark starts for it), and only jobs,
   * stages, tasks and SQL executions carrying it count — not other
   * threads' work on the session; a nested measurement counts in both.
   * The listener bus delivers events asynchronously, so a mark is posted
   * after the body and the result waits, at most 10 s, until the mark
   * arrives; on a timeout it logs a warning and holds what arrived.
   */
  def measure[T](sc: SparkContext)(body: => T): (T, JobMetrics) = {
    val collector = new Collector(java.util.UUID.randomUUID().toString)
    sc.addSparkListener(collector)
    try {
      sc.addJobTag(collector.tag)
      val out = try body finally sc.removeJobTag(collector.tag)
      GraftExpressionBridge.post(sc, BusMark(collector.tag))
      if (!collector.marked.await(BusWait.toMillis, TimeUnit.MILLISECONDS))
        logger.warn(s"listener bus still behind after $BusWait: metrics hold the events that arrived")
      (out, collector.snapshot)
    } finally sc.removeSparkListener(collector)
  }

  private final case class BusMark(tag: String) extends SparkListenerEvent {
    override def logEvent: Boolean = false
  }

  /** Sums the events of the jobs tagged `tag`; locked, since a timed-out
    * measurement reads while the bus may still deliver. */
  private final class Collector(val tag: String) extends SparkListener {
    val marked = new CountDownLatch(1)
    private val stageIds = mutable.Set.empty[Int]
    private val executions = mutable.Set.empty[Long]
    private val started = mutable.Map.empty[Int, (Long, String)]
    private var m = JobMetrics(Vector.empty, 0, 0L, 0.0, 0L, 0L, 0L, None)

    def snapshot: JobMetrics = synchronized(m.copy(jobs = m.jobs.sortBy(_.id)))

    // `spark.job.tags`: the tags of the job's thread, comma-separated
    private def tagged(p: Properties): Boolean =
      p != null && Option(p.getProperty("spark.job.tags")).exists(_.split(',').contains(tag))

    override def onJobStart(e: SparkListenerJobStart): Unit = if (tagged(e.properties)) synchronized {
      stageIds ++= e.stageIds
      started(e.jobId) = (e.time, Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, description) =>
        m = m.copy(jobs = m.jobs :+ Job(e.jobId, (e.time - t0) / 1e3, description))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (stageIds(e.stageInfo.stageId)) m = m.copy(stages = m.stages + 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = e.taskMetrics
      if (t != null && stageIds(e.stageId)) m = m.copy(tasks = m.tasks + 1,
        taskSeconds = m.taskSeconds + t.executorRunTime / 1e3,
        bytesRead = m.bytesRead + t.inputMetrics.bytesRead,
        recordsRead = m.recordsRead + t.inputMetrics.recordsRead,
        recordsWritten = m.recordsWritten + t.outputMetrics.recordsWritten)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags(tag) => synchronized(executions += s.executionId); ()
      case end: SparkListenerSQLExecutionEnd if synchronized(executions.remove(end.executionId)) =>
        GraftExpressionBridge.succeeded(end).filter(_.logical.isInstanceOf[V2WriteCommand])
          .foreach(qe => synchronized { m = m.copy(writePlan = Some(qe.executedPlan)) })
      case BusMark(`tag`) => marked.countDown()
      case _ =>
    }
  }
}
