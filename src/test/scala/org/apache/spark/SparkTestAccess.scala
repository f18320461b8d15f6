package org.apache.spark

/** Test access to the session-global facts the specs pin that Spark
  * keeps package-private: the checkpoint directory's setter (the public
  * `setCheckpointDir` cannot restore "unset"), whether a SQL conf is set,
  * and the listener bus. */
object SparkTestAccess {

  /** Runs `body` with the active context's checkpoint dir set to `dir` —
    * every [[graft.util.Barrier]] in it is a reliable checkpoint — and
    * restores the previous value (normally unset) afterwards, since all
    * specs share one session. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = SparkContext.getOrCreate()
    val prior = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body
    finally sc.checkpointDir = prior
  }

  /** Runs `body` with the SQL conf `key` set to `value` and restores the
    * prior state — set to its old value, or unset — afterwards, since all
    * specs share one session. */
  def withSqlConf[T](spark: sql.SparkSession, key: String, value: String)(body: => T): T = {
    val conf = spark.asInstanceOf[sql.classic.SparkSession].sessionState.conf
    val prior = if (conf.contains(key)) Some(conf.getConfString(key)) else None
    conf.setConfString(key, value)
    try body
    finally prior.fold(conf.unsetConf(key))(conf.setConfString(key, _))
  }

  /** Listeners currently registered on the context's bus. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Blocks of RDD `rddId` the block managers still store. */
  def rddBlockCount(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true).size
}
