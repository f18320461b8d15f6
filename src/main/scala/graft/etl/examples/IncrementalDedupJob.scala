package graft.etl.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.TextAnalysis
import graft.time.DateInterval

/**
 * End-to-end example wiring the whole library together: an incremental
 * cross-date dedup pipeline, the shape every training-data ingestion job
 * takes.
 *
 * Per date: read the day's documents, drop rows whose normalized-text
 * fingerprint was already seen on ANY earlier date (anti join against the
 * fingerprint store), drop within-day duplicates, then append the day's new
 * fingerprints to the store and write the clean partition.
 *
 * Scale notes: the fingerprint store holds only `(fp)` — 32 bytes a row for
 * billions of rows; the anti join shuffles on the fingerprint hash (or stays
 * shuffle-free if both sides are bucketed by fp via [[graft.io.Bucketing]]);
 * day partitions load via partition pruning, never the whole corpus.
 */
class IncrementalDedupJob(
    source: DateInterval => DataFrame,
    clean: WarehouseTable,
    fingerprints: WarehouseTable,
    textCol: String = "text",
    idCol: String = "doc_id")
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !clean.exists(spark, date)

  /**
   * Fingerprints from partitions strictly BEFORE `date`: a rerun after a
   * crash between write_fingerprints and write_clean must not anti-join the
   * day's documents against their own already-stored fingerprints (that
   * would silently write an empty clean partition).
   */
  private def seenFingerprints(spark: SparkSession, date: DateInterval): DataFrame =
    if (fingerprints.hasAnyPartition(spark))
      fingerprints.loadBefore(spark, date).select(col("fp"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp", org.apache.spark.sql.types.StringType))))

  override def stages: Stage[SparkSession, _] = Stage.holding { held =>
    // caches acquired mid-pipeline are released when the date ends, on
    // success AND failure: a backfill loop runs many dates in one session,
    // and blocks leaked on a failed date would accumulate for its lifetime
    for {
      raw <- "read_docs".source(ctx => source(ctx.date))
      withFp <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("fingerprint") { ctx =>
        // persisted: antiJoinWithBloom's result is a two-leg union whose left
        // side is this frame, so without a cache the day's read + fingerprint
        // hash would run once per leg
        held.persist(ctx.value.toDF()
          .withColumn("fp", TextAnalysis.fingerprint(col(textCol))))
      }
      deduped <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("dedup") { ctx =>
        // bloom short-circuit: the store grows with every past day, and almost
        // every new document misses it — those rows never enter the anti join
        val newDocs = graft.ops.Bloom.antiJoinWithBloom(
          ctx.value.toDF(), seenFingerprints(ctx.spark, ctx.date), "fp")
        // within-day dedup: deterministic keeper on the smallest id; persisted
        // because both sinks consume it and its lineage is the whole day's
        // fingerprint + anti-join pipeline
        held.persist(graft.ops.Dedup.exact(newDocs, textCol, idCol))
      }
      _ <- "write_fingerprints".sink[org.apache.spark.sql.Row] { ctx =>
        fingerprints.save(ctx.value.toDF().select(col("fp")).distinct(), ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_clean".sink[org.apache.spark.sql.Row] { ctx =>
        clean.save(ctx.value.toDF().drop("fp"), ctx.date, Warehouse.WriteTruncate)
      }
    } yield deduped
  }
}
