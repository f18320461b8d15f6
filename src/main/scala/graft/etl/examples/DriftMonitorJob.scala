package graft.etl.examples

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.Drift
import graft.time.DateInterval

/**
 * Corpus drift monitoring as an incremental daily job — the round-trip of
 * [[Drift.termCounts]]/[[Drift.vocabDriftFromCounts]] through the
 * warehouse. Per date:
 *
 *  1. read the day's documents,
 *  2. snapshot per-term counts into `snapshots` — VOCAB-sized rows, so the
 *     store grows with the vocabulary, not the corpus, and raw text is
 *     read exactly once per day ever,
 *  3. write the top-`k` vocab-drift report vs the most recent earlier
 *     snapshot that actually holds rows ([[WarehouseTable.hasDataForDate]]
 *     — an empty-write partition must not be chosen as the baseline). The
 *     first day has no baseline: it writes an EMPTY report, so `exists`
 *     still gates reruns while `hasDataForDate` tells consumers there is
 *     nothing to read,
 *  4. with `snapshotRetentionDays` set, thin the snapshot store
 *     ([[WarehouseTable.thinToWeekly]]): snapshots younger than the
 *     horizon stay daily, older ones keep one partition per ISO week —
 *     otherwise an always-on monitor accretes a vocab-sized partition per
 *     day forever. The horizon must cover `lookbackDays` (enforced), so
 *     the baseline search is never starved by its own retention.
 *
 * Scale: the only full-data pass is the day's term count; the drift
 * comparison is two vocab-sized tables however big the corpus. Gaps in
 * the calendar are fine — the baseline search walks back day by day up
 * to `lookbackDays`.
 */
class DriftMonitorJob(
    source: DateInterval => DataFrame,
    snapshots: WarehouseTable,
    reports: WarehouseTable,
    textCol: String = "text",
    k: Int = 20,
    lookbackDays: Int = 30,
    snapshotRetentionDays: Option[Int] = None)
    extends SparkJob {

  snapshotRetentionDays.foreach(n => require(n >= lookbackDays,
    s"snapshotRetentionDays ($n) must cover lookbackDays ($lookbackDays): " +
      "thinning inside the baseline-search window would starve the drift report"))

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !reports.exists(spark, date)

  /**
   * Most recent EARLIER snapshot day holding rows. Strictly earlier, so a
   * rerun after a crash between write_snapshot and write_report never
   * diffs the day against its own snapshot (the same trap
   * [[IncrementalDedupJob.seenFingerprints]] documents).
   */
  private def previousSnapshotDate(spark: SparkSession, date: DateInterval): Option[DateInterval] =
    Iterator.iterate(date.prev)(_.prev)
      .take(lookbackDays)
      .find(d => snapshots.hasDataForDate(spark, d))

  private def emptyReport(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("term", StringType),
        StructField("ppm_old", LongType),
        StructField("ppm_cur", LongType),
        StructField("delta_ppm", LongType))))
  }

  override def stages: Stage[SparkSession, _] = Stage.holding { held =>
    for {
      docs <- "read_docs".source(ctx => source(ctx.date))
      counts <- Stage.transform[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("snapshot_terms") { ctx =>
        // persisted: both sinks consume the counts, and their lineage is
        // the day's full tokenize + agg
        held.persist(Drift.termCounts(ctx.value.toDF(), textCol))
      }
      _ <- "write_snapshot".sink[org.apache.spark.sql.Row] { ctx =>
        snapshots.save(ctx.value.toDF(), ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_report".sink[org.apache.spark.sql.Row] { ctx =>
        val report = previousSnapshotDate(ctx.spark, ctx.date) match {
          case Some(prev) =>
            Drift.vocabDriftFromCounts(snapshots.load(ctx.spark, prev), ctx.value.toDF(), k)
          case None => emptyReport(ctx.spark)
        }
        reports.save(report, ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "thin_snapshots".sink[org.apache.spark.sql.Row] { ctx =>
        // after the report: the day's writes are done, so the store is
        // quiescent — the deletion contract thinToWeekly documents
        snapshotRetentionDays.foreach(n => snapshots.thinToWeekly(ctx.spark, ctx.date, n))
      }
    } yield counts
  }
}
