package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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

  /** Blocks until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it submitted. The bus is
    * drained before and after, so no earlier job is counted and no job of
    * `body` is missed. */
  def countingJobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
