package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The benchmark's own listeners on the Spark layers beneath graft: the
 * SQL planner (planning phases and final adaptive plans), the scheduler
 * (jobs, stages, tasks), the executor (task metrics), shuffle and storage.
 * Events count only while `recording` is set, i.e. inside a traced timed
 * pass.
 */
final class Probe(spark: SparkSession, tracer: Tracer) {
  @volatile var recording = false

  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var pinned = 0L
  private val callsites = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val execSites = mutable.Map.empty[Long, String]

  def stageJobs: Map[Int, Int] = synchronized(jobOfStage.toMap)

  /** Jobs whose action was called outside graft, e.g. the battery's
    * `noop` write of a query's frame. */
  private val OutsideGraft = "action_outside_graft"

  /** First graft frame of a job's long call site, as `File.scala:line`. */
  private def graftFrame(long: String): String =
    Option(long).toSeq.flatMap(_.split('\n')).map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("at graft."))
      .flatMap(l => "\\(([^()]+:\\d+)\\)".r.findFirstMatchIn(l).map(_.group(1)))
      .getOrElse(OutsideGraft)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
      e.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, e.jobId))
      // a stage's details are the long form of its job's call site; jobs
      // that adaptive execution submits from its own threads carry none,
      // so they take the call site of the SQL execution they belong to
      callsites(e.jobId) = graftFrame(e.stageInfos.maxByOption(_.stageId).map(_.details).orNull) match {
        case OutsideGraft =>
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => execSites.get(id.toLong)).getOrElse(OutsideGraft)
        case site => site
      }
      tracer.count("sched.jobs")
      tracer.count(s"callsite.${callsites(e.jobId)}.jobs")
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) synchronized {
      jobStart.remove(e.jobId).foreach(s =>
        tracer.record("scheduler", s"job ${e.jobId}", s * 1000L, e.time * 1000L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) {
      val i = e.stageInfo
      tracer.count("sched.stages")
      for (s <- i.submissionTime; c <- i.completionTime)
        tracer.record("scheduler", s"stage ${i.stageId}.${i.attemptNumber()}", s * 1000L, c * 1000L)
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics; val t = e.taskInfo
      tracer.count("sched.tasks")
      tracer.record("executor", s"task ${e.stageId}.${e.stageAttemptId}:${t.index}",
        t.launchTime * 1000L, t.finishTime * 1000L)
      val dur = (t.finishTime - t.launchTime).toDouble
      tracer.count("sched.task_wait_s", math.max(0.0, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
      tracer.count("exec.task_s", m.executorRunTime / 1e3)
      tracer.count("exec.cpu_s", m.executorCpuTime / 1e9)
      tracer.count("exec.gc_s", m.jvmGCTime / 1e3)
      tracer.count("exec.task_wall_s", dur / 1e3)
      tracer.count("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      tracer.count("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      tracer.count("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      tracer.count("io.mb_read", m.inputMetrics.bytesRead / 1e6)
      val job = synchronized(jobOfStage.get(e.stageId).flatMap(callsites.get))
      job.foreach(cs => tracer.count(s"callsite.$cs.task_s", m.executorRunTime / 1e3))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if recording =>
        synchronized { execSites(x.executionId) = graftFrame(x.details) }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      // tracked even outside a traced pass: the peak counts blocks pinned
      // before the pass that are still held during it
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        pinned += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
        if (recording) tracer.max("storage.pinned_mb_peak", pinned / 1e6)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        tracer.count("sql.executions")
        qe.tracker.phases.foreach { case (phase, s) =>
          val name = phase match {
            case "analysis" => "sql.analysis_s"
            case "optimization" => "sql.optimize_s"
            case "planning" => "sql.planning_s"
            case other => s"sql.${other}_s"
          }
          tracer.count(name, (s.endTimeMs - s.startTimeMs) / 1e3)
          tracer.record("planner", s"$phase ${funcName}", s.startTimeMs * 1000L, s.endTimeMs * 1000L)
        }
        val (ex, reused) = Probe.exchanges(qe.executedPlan)
        tracer.count("sql.exchanges", ex)
        tracer.count("sql.reused_exchanges", reused)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (recording) tracer.count("sql.failed_executions")
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(sqlListener)

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(sqlListener)
  }
}

object Probe {
  /** Shuffle exchanges and reused exchanges in a final plan, looking
    * through adaptive wrappers, query stages and subqueries. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var ex = 0; var reused = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => reused += 1
        case e: ShuffleExchangeLike => ex += 1; e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, reused)
  }
}
