package org.apache.spark

/** The two listener-bus facts the benchmark needs are package-private to
  * Spark; this object lives in Spark's package to read them. */
object BenchAccess {
  /** Listeners currently registered on the context's bus. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Blocks until every posted event reached every listener, so counts
    * read after a timed region include that region's last events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
