package graft.etl.examples

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.Retrieval
import graft.time.DateInterval

/**
 * The RLHF preference pipeline composed as an incremental daily job — the
 * warehouse round-trip of [[Retrieval.preferenceCells]] /
 * [[Retrieval.copelandFromCells]], the same snapshot-then-finish pattern as
 * [[ExperimentMonitorJob]] (and the batch twin of the `copeland_rank`
 * battery query; `EventStreams.preferenceCellsRollup` (S30) emits the same
 * mergeable cell shape from a live judgment stream). Per date:
 *
 *  1. read the day's judgment log (`item_a, item_b, winner` — winner null
 *     = tie, the [[Retrieval.preferenceCells]] law),
 *  2. snapshot the day's MERGEABLE canonical pair cells
 *     `(lo, hi, wins_lo, wins_hi, ties)` — pair-sized rows that ADD across
 *     days, so the raw judgments are read exactly once per day ever,
 *  3. write the campaign-to-date leaderboard over `[startDate, date]`:
 *     merge every day's cells per pair, finish through
 *     [[Retrieval.copelandFromCells]], and attach a deterministic
 *     `board_rank` under the `(copeland2 DESC, beats DESC, item)` total
 *     order — a model comparison that moved on today's judgments is one
 *     partition diff away.
 *
 * `minJudgments` guards the board the way [[ExperimentMonitorJob]]'s SRM
 * gate guards lifts: a pair decided on fewer than `minJudgments` total
 * judgments is NOISE, not preference — such cells are dropped from the
 * finish (not the store: they keep accumulating until they clear the bar),
 * so early days never publish a leaderboard built on three clicks.
 *
 * Scale: the only full-data pass is the day's cell agg (map-side
 * combined, pair-sized out); the leaderboard re-reads days × pair-sized
 * snapshots. Reruns are gated on the board partition, every write is
 * `WriteTruncate`, so crash-rerun is idempotent.
 */
class PreferenceLeaderboardJob(
    source: DateInterval => DataFrame,
    startDate: DateInterval,
    cells: WarehouseTable,
    board: WarehouseTable,
    itemACol: String = "item_a",
    itemBCol: String = "item_b",
    winnerCol: String = "winner",
    minJudgments: Long = 30L)
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !board.exists(spark, date)

  /** Merge cells-to-date per pair, gate thin pairs, finish to the board. */
  private[examples] def leaderboard(cellsToDate: DataFrame): DataFrame = {
    val merged = cellsToDate.groupBy(col("lo"), col("hi"))
      .agg(sum(col("wins_lo")).as("wins_lo"), sum(col("wins_hi")).as("wins_hi"),
        sum(col("ties")).as("ties"))
      .where(col("wins_lo") + col("wins_hi") + col("ties") >= minJudgments)
    val scored = Retrieval.copelandFromCells(merged, Seq.empty)
    graft.ops.TextAnalysis.withGlobalRank(scored, "board_rank",
      col("copeland2").desc, col("beats").desc, col("item"))
  }

  override def stages: Stage[SparkSession, _] = Stage.holding { held =>
    for {
      log <- "read_log".source { ctx =>
        held.persist(source(ctx.date))
      }
      _ <- "write_cells".sink[Row] { ctx =>
        cells.save(
          Retrieval.preferenceCells(ctx.value.toDF(), Seq.empty,
            itemACol, itemBCol, winnerCol),
          ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_board".sink[Row] { ctx =>
        val until = ctx.date.next
        board.save(
          leaderboard(cells.loadBetween(ctx.spark, startDate, until).drop("date")),
          ctx.date, Warehouse.WriteTruncate)
      }
    } yield log
  }
}
