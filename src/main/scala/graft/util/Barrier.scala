package graft.util

import org.apache.spark.sql.DataFrame

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
 */
object Barrier {
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
