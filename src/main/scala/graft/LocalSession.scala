package graft

import org.apache.spark.sql.SparkSession

/**
 * The session of the local mains ([[Bench]], [[Verify]], [[Profile]]):
 * one definition, so their settings cannot drift apart. `local[n]` with
 * `n` shuffle partitions, where `n` is `SPARK_GRAFT_CPUS` or else the
 * machine's core count. Deployments build their session from config
 * instead ([[graft.etl.SparkRunner.createSession]]).
 */
object LocalSession {
  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores NANOS timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
