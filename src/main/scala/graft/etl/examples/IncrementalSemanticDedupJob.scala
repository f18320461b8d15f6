package graft.etl.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.Similarity
import graft.time.DateInterval

/**
 * Incremental SEMANTIC (embedding-space) dedup across dates — the SemDeDup
 * tier joining the exact ([[IncrementalDedupJob]]), URL
 * ([[IncrementalUrlDedupJob]]) and MinHash ([[IncrementalNearDedupJob]])
 * incremental jobs: paraphrases and re-renders that share no n-grams still
 * collapse, because the comparison runs in embedding space.
 *
 * Two persistent stores make it incremental:
 *
 *  - `centroidStore` — the IVF cell centroids, written ONCE from the first
 *    processed day's vectors ([[Similarity.ivfAssignSeeded]] seeds, so the
 *    whole history is deterministic) and loaded ever after: cell
 *    membership must never drift between runs, or yesterday's keeper and
 *    today's near-copy could land in different cells and never meet.
 *  - `keeperStore` — one `(centroid_id, id, vec)` row per KEPT document,
 *    date-partitioned. History is represented by its keepers only: a new
 *    document duplicates history iff it duplicates a keeper (transitively
 *    every dropped doc matched some keeper at >= threshold), so dropped
 *    vectors never need storing.
 *
 * Per date: assign the day's vectors to the stored centroids
 * ([[Similarity.assignToCentroids]]), drop those whose 4-dp cosine to any
 * SAME-CELL keeper from strictly-earlier dates reaches `threshold`, dedup
 * within the day ([[Similarity.semanticDedupAssigned]] — keep the
 * smallest id of each duplicate set), then append the survivors' rows to
 * the keeper store and write the clean partition.
 *
 * Scale: the cross-date check is an equi-join on `centroid_id` (cell-mates
 * only — sum of cell x cell, never corpus x history), the keeper store
 * loads with partition pruning (`loadBefore` — reruns are crash-safe for
 * the same reason as the near-dedup job: the day's own appended keepers
 * are never read back against it), and centroids broadcast. Cell skew
 * falls to AQE skew handling, as in [[Similarity.semanticDedup]].
 *
 * The streaming twin is
 * [[graft.streaming.EventStreams.dedupSemanticAgainstStore]] (S15), which
 * reads the SAME two stores.
 */
class IncrementalSemanticDedupJob(
    source: DateInterval => DataFrame,
    clean: WarehouseTable,
    keeperStore: WarehouseTable,
    centroidStore: WarehouseTable,
    k: Int = 16,
    threshold: Double = 0.9,
    vecCol: String = "embedding",
    idCol: String = "vec_id")
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !clean.exists(spark, date)

  /**
   * The pinned centroids: loaded from the store when present, else seeded
   * from `docs` AND written at `date` (first run — or a rerun of the first
   * date after a crash, which reloads the already-written table and so
   * seeds identically).
   */
  private def centroidsFor(
      spark: SparkSession, date: DateInterval, docs: DataFrame): DataFrame =
    if (centroidStore.hasAnyPartition(spark))
      centroidStore.loadAll(spark).select(col("centroid_id"), col("centroid")).distinct()
    else {
      val (_, cents) = Similarity.ivfAssignSeeded(docs, idCol, vecCol, k)
      centroidStore.save(cents, date, Warehouse.WriteTruncate)
      cents
    }

  /** Keepers from partitions strictly BEFORE `date` (crash-rerun safety:
    * the day's own appended keepers must not shadow its documents). */
  private def storedKeepers(spark: SparkSession, date: DateInterval): DataFrame =
    if (keeperStore.hasAnyPartition(spark))
      keeperStore.loadBefore(spark, date)
        .select(col("centroid_id"), col(idCol).as("__keeper_id"), col(vecCol).as("__keeper_vec"))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__keeper_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__keeper_vec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))

  override def stages: Stage[SparkSession, _] = Stage.holding { held =>
    for {
      raw <- "read_docs".source(ctx => source(ctx.date))
      assigned <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("assign_cells") { ctx =>
        val docs = ctx.value.toDF()
        Similarity.assignToCentroids(docs, idCol, vecCol,
          centroidsFor(ctx.spark, ctx.date, docs))
      }
      fresh <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("drop_seen") { ctx =>
        val day = ctx.value.toDF()
        val hits = day
          .join(storedKeepers(ctx.spark, ctx.date), Seq("centroid_id"))
          .filter(round(Similarity.cosine(col(vecCol), col("__keeper_vec")), 4) >= threshold)
          .select(col(idCol)).distinct()
        day.join(hits, Seq(idCol), "left_anti")
      }
      deduped <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("within_day") { ctx =>
        // persist: both sinks consume this, and its lineage holds the
        // centroid assignment + keeper join — without it each sink recomputes
        held.persist(Similarity.semanticDedupAssigned(ctx.value.toDF(), idCol, vecCol, threshold))
      }
      _ <- "append_keepers".sink[org.apache.spark.sql.Row] { ctx =>
        keeperStore.save(
          ctx.value.toDF().select(col("centroid_id"), col(idCol), col(vecCol)),
          ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_clean".sink[org.apache.spark.sql.Row] { ctx =>
        clean.save(ctx.value.toDF(), ctx.date, Warehouse.WriteTruncate)
      }
    } yield deduped
  }
}
