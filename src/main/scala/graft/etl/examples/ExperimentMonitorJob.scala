package graft.etl.examples

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.etl.{SparkJob, Stage}
import graft.io.{Warehouse, WarehouseTable}
import graft.ops.Stats
import graft.time.DateInterval

/**
 * The experimentation suite composed as an incremental daily job — the
 * warehouse round-trip of [[Stats.srmFromCounts]] /
 * [[Stats.chi2FromCells]] / [[Stats.cupedAdjust]], the same
 * snapshot-then-finish pattern as [[DriftMonitorJob]] (and the batch twin
 * of the `experiment_readout` battery query; `EventStreams.kx2CellsRollup`
 * emits the same mergeable cell shape from a live assignment stream).
 * Per date:
 *
 *  1. read the day's assignment/outcome log
 *     (`group, unit, arm (0/1), converted, x, y` — pre-period metric `x`,
 *     in-period metric `y`, integral units),
 *  2. snapshot the day's MERGEABLE sufficient statistics:
 *     - `cells`: per (group, arm, converted) counts — arm-sized rows
 *       that ADD across days, feeding both the SRM guardrail (summed to
 *       per-arm counts) and the 2×2 conversion table,
 *     - `unitSums`: per (group, unit, arm) `x`/`y` sums — CUPED's
 *       covariate regression needs per-UNIT points, and a unit's metric
 *       across days is the sum of its daily sums, so the store grows with
 *       active units per day, never with raw events, and raw events are
 *       read exactly once per day ever,
 *  3. write the experiment-to-date readout over `[startDate, date]`: merge
 *     every day's cells/sums, then finish each leg in the platform's
 *     order — (1) the SRM gate on the arm split, (2) the 2×2 conversion
 *     lift + significance, (3) the CUPED variance-reduced adjusted lift.
 *     **The gate is real**: a group whose `srm_chi2_micro` exceeds
 *     `srmAlarmMicro` gets `srm_alarm = true` and NULL lift columns — a
 *     broken randomizer makes the downstream estimates meaningless, and
 *     publishing them invites exactly the wrong decision.
 *
 * Scale: the only full-data pass is the day's two snapshot aggs (one
 * arm×outcome-sized, one active-unit-sized, both map-side combined); the
 * readout re-reads only snapshot partitions — days × arm-sized cells plus
 * days × daily-active-unit sums — however big the raw log. Reruns are
 * gated on the readout partition (`shouldRunForDate`), and a crash between
 * snapshot and readout replays the date idempotently (every write is
 * `WriteTruncate`).
 */
class ExperimentMonitorJob(
    source: DateInterval => DataFrame,
    startDate: DateInterval,
    cells: WarehouseTable,
    unitSums: WarehouseTable,
    readouts: WarehouseTable,
    groupCol: String = "group",
    unitCol: String = "unit",
    armCol: String = "arm",
    convertedCol: String = "converted",
    xCol: String = "x",
    yCol: String = "y",
    srmAlarmMicro: Long = 10830000L) // χ²(1) at α = 0.001 — the daily-guardrail level
    extends SparkJob {

  override def shouldRunForDate(spark: SparkSession, date: DateInterval): Boolean =
    !readouts.exists(spark, date)

  private def g: Column = col(groupCol)

  /** Finish the three legs from the merged-to-date snapshot frames. */
  private[examples] def readout(cellsToDate: DataFrame, sumsToDate: DataFrame): DataFrame = {
    // (1) SRM gate: arm counts are the cells summed over the outcome axis
    val srm = Stats.srmFromCounts(cellsToDate, Seq(groupCol), armCol, "cnt")
      .select(g, col("n"), col("chi2_micro").as("srm_chi2_micro"))
    // (2) 2×2 conversion: arm 0 = exposed (a, b), arm 1 = control (c, d)
    def cell(p: Column) = sum(when(p, col("cnt")).otherwise(lit(0L))).cast("DECIMAL(38,0)")
    val arm0 = col(armCol) === 0
    val conv = col(convertedCol)
    val ab = Stats.chi2FromCells(
      cellsToDate.groupBy(g)
        .agg(cell(arm0 && conv).as("a"), cell(arm0 && !conv).as("b"),
          cell(!arm0 && conv).as("c"), cell(!arm0 && !conv).as("d")),
      Seq(groupCol))
      .select(g, col("lift_ppm"), col("chi2_micro").as("ab_chi2_micro"))
    // (3) CUPED on per-unit sums merged across days (sums ADD per unit)
    val perUnit = sumsToDate
      .groupBy(g, col(unitCol), col(armCol))
      .agg(sum(col(xCol)).as(xCol), sum(col(yCol)).as(yCol))
    val adjLift = Stats.cupedAdjust(perUnit, Seq(groupCol), armCol, yCol, xCol)
      .groupBy(g)
      .agg((max(when(col(armCol) === 0, col("adj_mean_y_micro")))
        - max(when(col(armCol) === 1, col("adj_mean_y_micro"))))
        .as("adj_lift_micro"))
    srm.join(ab, Seq(groupCol)).join(adjLift, Seq(groupCol))
      .withColumn("srm_alarm", col("srm_chi2_micro") > srmAlarmMicro)
      .select(g, col("n"), col("srm_chi2_micro"), col("srm_alarm"),
        when(!col("srm_alarm"), col("lift_ppm")).as("lift_ppm"),
        when(!col("srm_alarm"), col("ab_chi2_micro")).as("ab_chi2_micro"),
        when(!col("srm_alarm"), col("adj_lift_micro")).as("adj_lift_micro"))
  }

  override def stages: Stage[SparkSession, _] = Stage.holding { held =>
    for {
      log <- "read_log".source { ctx =>
        // persisted: BOTH snapshot aggs scan the same day's log — one read
        // of the raw data per date ever
        held.persist(source(ctx.date))
      }
      _ <- "write_cells".sink[Row] { ctx =>
        cells.save(
          ctx.value.toDF()
            .where(g.isNotNull && col(armCol).isNotNull && col(convertedCol).isNotNull)
            .groupBy(g, col(armCol), col(convertedCol))
            .agg(count(lit(1)).as("cnt")),
          ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_unit_sums".sink[Row] { ctx =>
        unitSums.save(
          ctx.value.toDF()
            .where(g.isNotNull && col(armCol).isNotNull &&
              col(xCol).isNotNull && col(yCol).isNotNull)
            .groupBy(g, col(unitCol), col(armCol))
            .agg(sum(col(xCol)).as(xCol), sum(col(yCol)).as(yCol)),
          ctx.date, Warehouse.WriteTruncate)
      }
      _ <- "write_readout".sink[Row] { ctx =>
        val until = ctx.date.next
        readouts.save(
          readout(
            cells.loadBetween(ctx.spark, startDate, until).drop("date"),
            unitSums.loadBetween(ctx.spark, startDate, until).drop("date")),
          ctx.date, Warehouse.WriteTruncate)
      }
    } yield log
  }
}
