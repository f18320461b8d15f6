package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

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
}
