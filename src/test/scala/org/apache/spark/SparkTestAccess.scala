package org.apache.spark

/** Test access to the two session-global facts the specs pin that Spark
  * keeps package-private: the checkpoint directory's setter (the public
  * `setCheckpointDir` cannot restore "unset") and the listener bus. */
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

  /** Listeners currently registered on the context's bus. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
