package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._

import graft.monitoring.JobMetrics

/**
 * Dev-only measurement and plan-audit harness: runs named battery queries
 * in Bench's session ([[LocalSession]]), prints a per-JOB wall breakdown
 * (job id, seconds, description) of the timed pass, dumps
 * `explain("formatted")` to `<plansDir>/<name>_<tag>.txt` and the timed
 * pass's final adaptive plan to `<plansDir>/<name>_<tag>_final.txt`, and
 * prints that final plan's shape: join strategies, hash/range/single
 * exchanges, reused exchanges, codegen spans and pushed filters.
 *
 * Usage: runMain graft.Profile <sfDir> <tag> <name>[,<name>...] <plansDir>
 * (no default plans dir: a default would overwrite committed evidence).
 * Never invoked by the driver; the bench contract lives in [[Bench]].
 */
object Profile extends AdaptiveSparkPlanHelper {

  /** Shape counters of an executed plan, looking through adaptive query
    * stages and subqueries: a reused exchange counts once, as reused. */
  def shape(plan: SparkPlan): (Seq[(String, Int)], Seq[String]) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(is: SparkPlan => Boolean): Int = nodes.count(is)
    def exchanges(is: Partitioning => Boolean): Int =
      n { case e: ShuffleExchangeLike => is(e.outputPartitioning); case _ => false }
    val counts = Seq(
      "bhj" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
      "smj" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> n(_.isInstanceOf[ShuffledHashJoinExec]),
      "bnlj" -> n(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "cartesian" -> n(_.isInstanceOf[CartesianProductExec]),
      "exchange" -> exchanges(_.isInstanceOf[HashPartitioning]),
      "rangeExchange" -> exchanges(_.isInstanceOf[RangePartitioning]),
      "singleExchange" -> exchanges(_ == SinglePartition),
      "reused" -> n(_.isInstanceOf[ReusedExchangeExec]),
      "codegenSpans" -> n(_.isInstanceOf[WholeStageCodegenExec]))
    val pushed = nodes.collect { case s: FileSourceScanExec => s.metadata.get("PushedFilters") }
      .flatten.filterNot(_ == "[]").distinct
    (counts, pushed)
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 4) {
      System.err.println("usage: graft.Profile <sfDir> <tag> <name>[,<name>...] <plansDir>")
      sys.exit(2)
    }
    val Array(sfDir, tag, nameList, plansDir) = args
    val names = Bench.queryNamesOrExit("profile", nameList)
    val spark = LocalSession.create()
    Files.createDirectories(Paths.get(plansDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // plan dump
      val df = fn(spark, sfDir)
      Files.writeString(Paths.get(s"$plansDir/${name}_$tag.txt"),
        df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      // warm-up (codegen + FS caches), then timed pass with job breakdown;
      // executor task time and task count are the load-insensitive work
      // metrics (wall seconds on a shared host swing 2-3x between runs)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.setJobDescription(name)
      val (sec, m) = JobMetrics.measure(spark.sparkContext) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      println(f"[profile] $name%-28s $sec%8.3f s  (${m.jobs.size} jobs, ${m.stages} stages, " +
        f"${m.taskSeconds}%.3f task-s over ${m.tasks} tasks)")
      m.jobs.foreach(j => println(f"    job ${j.id}%4d ${j.seconds}%8.3f s  ${j.description}"))
      // the FINAL adaptive plan of the timed noop write (with ReusedExchange
      // / AQEShuffleRead nodes): explain() on the DataFrame only ever shows
      // the initial plan. The eager barriers a query runs while it is built
      // are executions of their own and do not stand in for it.
      m.writePlan.foreach { plan =>
        Files.writeString(Paths.get(s"$plansDir/${name}_${tag}_final.txt"), plan.toString)
        val (counts, pushed) = shape(plan)
        println(s"[plan] $name: " + counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
        pushed.foreach(p => println(s"    PushedFilters: $p"))
      }
    }
    spark.stop()
  }
}
