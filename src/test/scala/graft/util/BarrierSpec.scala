package graft.util

import java.nio.file.Files

import org.apache.spark.SparkTestAccess.withCheckpointDir
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.monitoring.JobMetrics
import graft.testkit.SourceScan.{codeLines, sourceRoot}
import graft.testkit.SparkTestBase

class BarrierSpec extends SparkTestBase {

  private def checkpointedRdd(df: DataFrame): RDD[_] = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case other         => fail(s"expected a checkpointed leaf, got ${other.nodeName}")
  }

  test("a barrier is local without a session checkpoint dir and reliable with one") {
    spark.sparkContext.getCheckpointDir shouldBe None
    val df = spark.range(20).toDF("id")
    val local = checkpointedRdd(Barrier.checkpoint(df))
    local.isCheckpointed shouldBe true
    local.getCheckpointFile shouldBe None

    val dir = Files.createTempDirectory("graft-barrier")
    withCheckpointDir(dir.toString) {
      val set = spark.sparkContext.getCheckpointDir
      val out = Barrier.checkpoint(df)
      val file = checkpointedRdd(out).getCheckpointFile
      file.get should startWith(set.get)
      out.count() shouldBe 20L
      spark.sparkContext.getCheckpointDir shouldBe set
    }
    spark.sparkContext.getCheckpointDir shouldBe None
  }

  /** A frame whose rows are computed by a shuffle, so a recomputation
    * would show up in the observed metrics. */
  private def grouped(n: Int): DataFrame =
    spark.range(n).groupBy((col("id") % 7).as("k")).agg(sum(col("id")).as("s"))

  private val metrics = Seq(count(lit(1)).as("n"), sum(col("s")).as("total"),
    max(col("k")).as("n"))

  test("checkpointObserved answers the frame's aggregates from the barrier's own job") {
    for (rows <- Seq(500, 0)) withClue(s"$rows rows: ") {
      val df = grouped(rows)
      val expected = df.agg(metrics.head, metrics.tail: _*).head()
      val plainJobs = JobMetrics.measure(spark.sparkContext)(Barrier.checkpoint(df))._2.jobs.size
      val ((out, observed), m) =
        JobMetrics.measure(spark.sparkContext)(Barrier.checkpointObserved(df, metrics: _*))
      observed shouldBe expected
      m.jobs.size shouldBe plainJobs
      checkpointedRdd(out).isCheckpointed shouldBe true
      out.collect().toSet shouldBe df.collect().toSet
    }
    Barrier.checkpointObserved(grouped(0), count(lit(1)), sum(col("s")))._2 shouldBe
      Row(0L, null)
  }

  test("checkpointObserved counts every row once under a reliable checkpoint") {
    val dir = Files.createTempDirectory("graft-barrier-observed")
    val df = grouped(500)
    val expected = df.agg(metrics.head, metrics.tail: _*).head()
    withCheckpointDir(dir.toString) {
      val (out, observed) = Barrier.checkpointObserved(df, metrics: _*)
      checkpointedRdd(out).getCheckpointFile shouldBe defined
      observed shouldBe expected
    }
  }

  // The local-vs-reliable decision lives in Barrier alone: library code
  // neither sets the session's checkpoint dir nor calls Spark's
  // checkpoints directly.
  test("no library code sets the session checkpoint dir") {
    codeLines("""setCheckpointDir""".r) shouldBe empty
  }

  test("every checkpoint in library code goes through Barrier") {
    val barrier = sourceRoot.resolve("graft/util/Barrier.scala").toString + ":"
    codeLines("""localCheckpoint\(|(?<!Barrier)\.checkpoint\(""".r)
      .filterNot(_._1.startsWith(barrier)) shouldBe empty
  }
}
