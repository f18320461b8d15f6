package graft.util

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

/**
 * The one materialization barrier every job and operator puts between
 * stages. Whether it is LOCAL (executor block manager: fast, but an
 * executor loss kills the lineage) or RELIABLE (written under the
 * checkpoint directory on a fault-tolerant filesystem) is a deployment
 * choice, not a per-call option: it follows the session's
 * `spark.checkpoint.dir`. Unset — single node, tests, benchmarks — every
 * barrier is `localCheckpoint`; set it (e.g. to an HDFS path in the job's
 * config file) and every barrier becomes a reliable `checkpoint`. The dir
 * is only read here, never set.
 *
 * A barrier already runs one job over every row of its frame, so
 * control-sized facts about the frame — its row count, a token total, a
 * checksum — ride that job for free through [[checkpointObserved]]
 * instead of costing an aggregate job of their own.
 *
 * Barrier and its [[Held]] owner are the one place that frees what was
 * stored: a local checkpoint's RDD blocks, a reliable checkpoint's files,
 * a persisted frame's cache (`Dataset.unpersist` does not reach
 * checkpoint blocks). A release never blocks and runs no Spark job.
 */
object Barrier {
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /**
   * An eager [[checkpoint]] of `df` that also evaluates the aggregate
   * `metrics` over the rows it materializes (an unnamed `Observation`, so
   * concurrent barriers never share a name) and returns them as one row,
   * in `metrics` order. The metrics follow global-aggregate semantics: on
   * zero rows `count` is 0 and `sum` is null, exactly as `df.agg(metrics)`
   * would answer — without its extra job.
   */
  def checkpointObserved(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    require(metrics.nonEmpty, "checkpointObserved needs at least one metric")
    val observation = Observation()
    // positional names: the observation answers by name, and callers'
    // metric aliases need not be unique
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val out = checkpoint(df.observe(observation, named.head, named.tail: _*))
    val byName = observation.get
    (out, Row.fromSeq(named.indices.map(i => byName(s"m$i"))))
  }

  /**
   * Runs `body` with a fresh [[Held]] owner, then frees what it holds but
   * the checkpoints a Dataset result reads: those whose RDD is a
   * `LogicalRDD` leaf of its plan, subqueries included, or in such a
   * leaf's lineage. Cached frames are always freed (a result that reads
   * one recomputes it), and everything is when `body` throws.
   */
  def holding[T](body: Held => T): T = {
    val held = new Held
    val out =
      try body(held)
      catch { case e: Throwable => held.releaseAll(); throw e }
    val read = mutable.Set.empty[Int]
    def lineage(rdd: RDD[_]): Unit =
      if (read.add(rdd.id)) rdd.dependencies.foreach(d => lineage(d.rdd))
    Some(out).collect { case ds: Dataset[_] => ds.queryExecution.analyzed }
      .foreach(_.foreachWithSubqueries { case r: LogicalRDD => lineage(r.rdd); case _ => })
    held.releaseAll(keep = checkpointRdd(_).exists(r => read(r.id)))
    out
  }

  private def checkpointRdd(df: DataFrame): Option[RDD[_]] = df.queryExecution.logical match {
    case r: LogicalRDD => Some(r.rdd)
    case _             => None
  }

  private[util] def release(checkpoint: DataFrame): Unit = checkpointRdd(checkpoint).foreach { rdd =>
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true)
    }
    rdd.unpersist(blocking = false)
  }
}

/** The owner of the frames one computation materializes (an operator's
  * rounds and setup frames, a job's cached frames for one date). A loop
  * frees each superseded round as it goes ([[next]]); [[Barrier.holding]]
  * and `Stage.holding` free the rest when the computation ends. */
final class Held private[graft] () {
  private val checkpoints = mutable.ArrayBuffer.empty[DataFrame]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  def barrier(df: DataFrame): DataFrame = { val out = Barrier.checkpoint(df); checkpoints += out; out }

  def barrierObserved(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val (out, row) = Barrier.checkpointObserved(df, metrics: _*)
    checkpoints += out
    (out, row)
  }

  def persist(df: DataFrame): DataFrame = { cached += df.persist(); df }

  /** A [[barrier]] over `df`, then frees `prev`, the round `df` was
    * computed from, if this owner holds it (a lazy seed or `null` is not). */
  def next(prev: DataFrame, df: DataFrame): DataFrame = {
    val out = barrier(df)
    val i = checkpoints.indexWhere(_ eq prev)
    if (i >= 0) Barrier.release(checkpoints.remove(i))
    out
  }

  /** `n` rounds from `seed`, each the [[next]] of the round before. */
  def rounds(seed: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(seed)((prev, _) => next(prev, step(prev)))

  /** Frees every cached frame and every checkpoint `keep` does not hold on to. */
  private[graft] def releaseAll(keep: DataFrame => Boolean = _ => false): Unit = {
    checkpoints.filterNot(keep).foreach(Barrier.release)
    cached.foreach(_.unpersist(blocking = false))
    checkpoints.clear()
    cached.clear()
  }
}
