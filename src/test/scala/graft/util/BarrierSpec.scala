package graft.util

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkTestAccess.withCheckpointDir
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

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

  // The local-vs-reliable decision lives in Barrier alone: library code
  // neither sets the session's checkpoint dir nor calls Spark's
  // checkpoints directly. ScaleCheck's amplification checkpoints are
  // timing scaffolding of a dev harness, not barriers.
  private val sourceRoot = Paths.get("src", "main", "scala")
  private val allowedCheckpointCallers = Set(
    sourceRoot.resolve("graft/util/Barrier.scala"),
    sourceRoot.resolve("graft/ScaleCheck.scala"))

  /** `(file:line, code)` for every non-comment source line matching `pattern`. */
  private def codeLines(pattern: scala.util.matching.Regex): Seq[(String, String)] = {
    Files.isDirectory(sourceRoot) shouldBe true
    val files = Files.walk(sourceRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.sorted.flatMap { f: Path =>
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/") &&
            pattern.findFirstIn(line.split("//", 2)(0)).isDefined =>
          (s"$f:${i + 1}", line.trim)
      }
    }
  }

  test("no library code sets the session checkpoint dir") {
    codeLines("""setCheckpointDir""".r) shouldBe empty
  }

  test("every checkpoint in library code goes through Barrier") {
    codeLines("""localCheckpoint\(|(?<!Barrier)\.checkpoint\(""".r)
      .filterNot { case (at, _) =>
        allowedCheckpointCallers.exists(a => at.startsWith(a.toString + ":"))
      } shouldBe empty
  }
}
