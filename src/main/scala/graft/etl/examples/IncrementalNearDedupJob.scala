package graft.etl.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.Dedup
import graft.time.DateInterval

/**
 * Incremental NEAR-duplicate filtering across dates: each day's documents
 * are checked against a persistent LSH band store — `(band, band_hash)`
 * rows, ~40 bytes each — so history is never re-read or re-shingled.
 *
 * A new document is dropped when any of its bands collides with the store
 * (candidate = duplicate; precision is tuned by bands x rows-per-band — more
 * rows per band raises the effective Jaccard bar). Within-day near-dups are
 * removed exactly (LSH + Jaccard verify + cluster representative). Surviving
 * documents append their bands to the store.
 *
 * Scale: the store join is an equi-join on high-cardinality `(band, bh)` —
 * one shuffle, broadcast when the day is small; band rows are tiny compared
 * to text; writing the store date-partitioned keeps it append-only. The
 * within-day cluster iteration's durability follows the session's
 * `spark.checkpoint.dir` ([[Dedup.duplicateClusters]]' durability note).
 */
class IncrementalNearDedupJob(
    source: DateInterval => DataFrame,
    clean: WarehouseTable,
    bandStore: WarehouseTable,
    numHashes: Int = 12,
    rowsPerBand: Int = 3,
    threshold: Double = 0.8,
    textCol: String = "text",
    idCol: String = "doc_id",
    scriptAware: Boolean = false)
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !clean.exists(spark, date)

  /** `(id, band, bh)` rows for every document in `df` (same builder as the
    * within-day pass, so cross-date and within-day hashes can never drift). */
  private def bandRows(df: DataFrame): DataFrame =
    Dedup.bandedIds(df, idCol, textCol, numHashes, rowsPerBand, scriptAware)

  /**
   * Bands from partitions strictly BEFORE `date`: a rerun after a crash
   * between append_bands and write_clean must not treat the day's documents
   * as 'seen' against their own already-stored bands (that would silently
   * write an empty clean partition).
   */
  private def storedBands(spark: SparkSession, date: DateInterval): DataFrame =
    if (bandStore.hasAnyPartition(spark))
      bandStore.loadBefore(spark, date).select(col("band"), col("bh"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("bh", org.apache.spark.sql.types.StringType))))

  override def stages: Stage[SparkSession, _] = Stage.holding { held =>
    // caches acquired mid-pipeline are released when the date ends, on
    // success AND failure: a backfill loop runs many dates in one session,
    // and blocks leaked on a failed date would accumulate for its lifetime
    // the day's band frame, built once in drop_seen and reused by
    // append_bands (stages of one date run sequentially; reassigned per
    // date in a backfill loop)
    var dayBands: DataFrame = null
    for {
      raw <- "read_docs".source(ctx => source(ctx.date))
      // the day is shingled EXACTLY once (round 18): this band frame feeds
      // the cross-date semi-join, the within-day candidate self-join
      // (removeNearDuplicatesFromBands — bands are per-doc, so the
      // survivor restriction IS the survivors' band frame) and the store
      // append; re-deriving it from text tripled the dominant minhash cost.
      // NOTE (externally visible rename, round 18): the former
      // `drop_seen` + `within_day` stages were fused into this single
      // `dedup_day` stage — monitoring or metrics keyed on the old stage
      // names must re-key on `dedup_day`
      deduped <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("dedup_day") { ctx =>
        val docs = ctx.value.toDF()
        dayBands = held.persist(bandRows(docs))
        val hits = dayBands
          .join(storedBands(ctx.spark, ctx.date), Seq("band", "bh"), "left_semi")
          .select(col(idCol)).distinct()
        val kept = docs.join(hits, Seq(idCol), "left_anti")
        // persist: both sinks consume this, and its lineage is the whole
        // shingle/minhash/verify pipeline — without it each sink recomputes
        held.persist(Dedup.removeNearDuplicatesFromBands(kept,
          dayBands.join(hits, Seq(idCol), "left_anti"), idCol, textCol, threshold,
          scriptAware = scriptAware))
      }
      _ <- "append_bands".sink[org.apache.spark.sql.Row] { ctx =>
        val survivors = ctx.value.toDF().select(col(idCol))
        bandStore.save(dayBands.join(survivors, Seq(idCol), "left_semi")
          .select(col("band"), col("bh")).distinct(),
          ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_clean".sink[org.apache.spark.sql.Row] { ctx =>
        clean.save(ctx.value.toDF(), ctx.date, Warehouse.WriteTruncate)
      }
    } yield deduped
  }
}
