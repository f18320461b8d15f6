package graft.testkit

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.concurrent.duration.FiniteDuration
import scala.util.Try

import graft.etl.{SparkJob, Stage}
import graft.time.DateInterval

object SparkTestBase {
  /** One session for the whole forked test JVM. */
  lazy val sharedSpark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Temp directories a suite makes, deleted with everything in them after it. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh temp directory, deleted after the suite. */
  def tmpDir(prefix: String): String = tmpDirs.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs += dir
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.synchronized(tmpDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly))
    finally super.afterAll()
}

/** Base for all graft specs: shared local SparkSession + matchers. */
trait SparkTestBase extends AnyFunSuite with Matchers with TempDirs {
  lazy val spark: SparkSession = SparkTestBase.sharedSpark

  /** Runs `body` with a listener on the bus's shared queue that sleeps
    * `perTaskEnd` on every task end, so the listeners after it (a
    * [[graft.monitoring.JobMetrics]] collector among them) receive the
    * body's events late, after the actions that caused them returned. */
  def withSlowTaskEnds[T](perTaskEnd: FiniteDuration)(body: => T): T = {
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(perTaskEnd.toMillis)
    }
    spark.sparkContext.addSparkListener(slow)
    try body
    finally spark.sparkContext.removeSparkListener(slow)
  }
}

/**
 * Testkit for [[SparkJob]] suites (reference testkit SparkJobSuiteBase.scala):
 * run a job's stage pipeline for one date against the shared session.
 */
trait SparkJobSuiteBase extends SparkTestBase {
  def runJob(job: SparkJob, date: DateInterval): Try[Any] =
    job.stages.run(Stage.Context(spark, date))
}
