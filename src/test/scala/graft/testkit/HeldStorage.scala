package graft.testkit

import org.apache.spark.SparkTestAccess.withCheckpointDir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** What an operator leaves stored once it returns: the checks behind
  * "a call keeps only the frames its result reads". */
trait HeldStorage { self: SparkTestBase =>

  /** RDD ids of the `LogicalRDD` leaves `df` reads, subqueries included. */
  def leafRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.toSet

  /** Reliable checkpoint dirs behind the `LogicalRDD` leaves `df` reads. */
  def checkpointFiles(df: DataFrame): Set[String] =
    df.queryExecution.analyzed
      .collectWithSubqueries { case r: LogicalRDD => r.rdd.getCheckpointFile }.flatten
      .map(f => new java.io.File(new java.net.URI(f)).getCanonicalPath).toSet

  /** Every `rdd-*` checkpoint dir under `dir`. */
  def rddDirs(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Nil
      else if (f.getName.startsWith("rdd-")) Seq(f)
      else f.listFiles.toSeq.flatMap(walk)
    walk(new java.io.File(dir)).map(_.getCanonicalPath).toSet
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /**
   * Runs `call` without a session checkpoint dir, then with a fresh one,
   * and checks that both runs return the same rows and leave stored only
   * what their result reads: without a dir the context's persisted RDDs
   * grow only by the result's leaves; with one, the only `rdd-*` dirs left
   * are the result's reliable checkpoints (read after the call, so a freed
   * frame the result still reads fails here). Returns that dir count.
   */
  def leavesOnlyWhatItReads(call: () => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val local = call()
    (sc.getPersistentRDDs.keySet -- before).toSet.subsetOf(leafRdds(local)) shouldBe true
    val dir = tmpDir("held")
    val (reliable, left, read) = withCheckpointDir(dir) {
      val out = call()
      (rows(out), rddDirs(dir), checkpointFiles(out))
    }
    left shouldBe read
    reliable shouldBe rows(local)
    left.size
  }
}
