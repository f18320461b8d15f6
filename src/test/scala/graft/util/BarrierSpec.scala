package graft.util

import org.apache.spark.SparkTestAccess.{rddBlockCount, withCheckpointDir}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

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

    val dir = tmpDir("graft-barrier")
    withCheckpointDir(dir) {
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
    val dir = tmpDir("graft-barrier-observed")
    val df = grouped(500)
    val expected = df.agg(metrics.head, metrics.tail: _*).head()
    withCheckpointDir(dir) {
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

  private def persisted(rdd: RDD[_]): Boolean = spark.sparkContext.getPersistentRDDs.contains(rdd.id)

  private def exists(checkpointFile: String): Boolean =
    new java.io.File(new java.net.URI(checkpointFile)).exists

  test("next frees the round it supersedes: its blocks, and its files under a checkpoint dir") {
    Barrier.holding { held =>
      val prev = held.barrier(grouped(100))
      val rdd = checkpointedRdd(prev)
      persisted(rdd) shouldBe true
      rddBlockCount(spark.sparkContext, rdd.id) should be > 0
      val out = held.next(prev, prev.withColumn("s2", col("s") * 2))
      persisted(rdd) shouldBe false
      eventually(timeout(10.seconds))(rddBlockCount(spark.sparkContext, rdd.id) shouldBe 0)
      out.count() shouldBe 7L
    }
    withCheckpointDir(tmpDir("graft-barrier-next")) {
      Barrier.holding { held =>
        val prev = held.barrier(grouped(100))
        val file = checkpointedRdd(prev).getCheckpointFile.get
        exists(file) shouldBe true
        val out = held.next(prev, prev.withColumn("s2", col("s") * 2))
        exists(file) shouldBe false
        out.count() shouldBe 7L
      }
    }
  }

  test("holding keeps the frames its result reads, through a subquery or a rebuilt leaf") {
    val expected = grouped(50).where(col("s") >= grouped(60).select(min(col("s"))).scalar())
      .crossJoin(grouped(80).select(col("k").as("k2"))).collect().toSet
    var frames = Seq.empty[DataFrame]
    val out = Barrier.holding { held =>
      val (a, b, c) = (held.barrier(grouped(50)), held.barrier(grouped(60)),
        held.persist(grouped(70)))
      val d = held.barrier(grouped(80))
      c.count()
      frames = Seq(a, b, c, d)
      // b only inside a scalar subquery; d only behind a leaf rebuilt over its rows
      val rebuilt = GraftExpressionBridge.mapPartitionsInternal(d, d.schema)(identity)
      a.where(col("s") >= b.select(min(col("s"))).scalar())
        .crossJoin(rebuilt.select(col("k").as("k2")))
    }
    val Seq(a, b, c, d) = frames
    Seq(a, b, d).map(f => persisted(checkpointedRdd(f))) shouldBe Seq(true, true, true)
    c.storageLevel shouldBe org.apache.spark.storage.StorageLevel.NONE
    out.collect().toSet shouldBe expected
  }

  test("holding frees everything for a non-frame result and on an exception") {
    var frames = Seq.empty[DataFrame]
    Barrier.holding { held =>
      frames :+= held.barrier(grouped(30))
      frames.head.count()
    } shouldBe 7L
    intercept[IllegalStateException] {
      Barrier.holding { held =>
        frames :+= held.barrier(grouped(40))
        throw new IllegalStateException("boom")
      }
    }
    frames.map(f => persisted(checkpointedRdd(f))) shouldBe Seq(false, false)
  }

  // Freeing stored frames is Barrier's alone, and jobs hold their frames
  // through Stage.holding rather than a list of their own.
  test("only Barrier frees stored frames, and no job keeps its own cached list") {
    val barrier = sourceRoot.resolve("graft/util/Barrier.scala").toString + ":"
    codeLines("""unpersist\(|getCheckpointFile""".r)
      .filterNot(_._1.startsWith(barrier)) shouldBe empty
    codeLines("""ListBuffer\.empty\[DataFrame\]""".r) shouldBe empty
  }
}
