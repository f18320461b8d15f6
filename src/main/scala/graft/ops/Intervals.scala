package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Barrier

/**
 * Interval / sweep-line analytics: "how many sessions were live at once",
 * "peak concurrent crawls", capacity planning over validity windows
 * ([[Snapshots.scd2FromChangeLog]] output is exactly an interval table).
 *
 * The primitive is an EXACT GLOBAL running sum with no one-reducer window:
 * [[Sketches.rangedCumSums]]' sharded scan (range shards, one linear scan
 * per shard, broadcast per-shard offsets). Spark's
 * `sum(...).over(Window.orderBy(...))` with no partition key collapses
 * the corpus onto one reducer; here only the shard-count offset frame
 * ever meets a single-partition window.
 */
object Intervals {

  /**
   * Exact global running total of `valueCol` in the total order given by
   * `order` (pass a unique tiebreaker): each row gets `totalCol` = sum of
   * `valueCol` over all rows at-or-before it, a null value counting as 0
   * (so the totals do not depend on the partitioning). This is
   * [[Sketches.rangedCumSums]] with no group columns: `totalCol` is LONG
   * for an integral `valueCol` and DECIMAL(38,0) for a DECIMAL one.
   */
  def withRunningTotal(
      df: DataFrame,
      totalCol: String,
      valueCol: String,
      order: Column*): DataFrame = {
    require(order.nonEmpty, "withRunningTotal needs at least one order column")
    Sketches.rangedCumSums(df, Nil, order, cums = Seq(valueCol -> totalCol))
  }

  /**
   * Exact global EXCLUSIVE running maximum of `valueCol` in the total
   * order given by `order`: each row gets `maxCol` = max of `valueCol`
   * over all rows STRICTLY before it (null for the first row) — the
   * "best seen so far" primitive under skyline/frontier queries
   * ([[Stats.paretoFront2D]]) and record-tracking analytics: an eager
   * range-partitioned [[graft.util.Barrier]], per-partition maxima as
   * offsets, and a per-partition window (max is associative, so
   * per-partition maxima compose exactly; only the partition-count offset
   * frame ever meets a single-partition window). It keeps its own recipe
   * because [[Sketches.rangedCumSums]]' scan only sums.
   */
  def withRunningMaxBefore(
      df: DataFrame,
      maxCol: String,
      valueCol: String,
      order: Column*): DataFrame = {
    require(order.nonEmpty, "withRunningMaxBefore needs at least one order column")
    val ranged = Barrier.checkpoint(df.repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id()))
    val offsets = ranged.groupBy(col("__pid"))
      .agg(max(col(valueCol)).as("__m"))
      .withColumn("__offset",
        max(col("__m")).over(
          Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__pid"), col("__offset"))
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(maxCol,
        greatest(
          col("__offset"),
          max(col(valueCol)).over(
            Window.partitionBy(col("__pid")).orderBy(order: _*)
              .rowsBetween(Window.unboundedPreceding, -1))))
      .drop("__pid", "__offset")
  }

  /**
   * Sweep-line concurrency profile of `[startCol, endCol)` intervals: one
   * row per interval BOUNDARY with `delta` (+1 open, -1 close) and
   * `active`, the number of intervals live immediately after it. Ends are
   * EXCLUSIVE: at a shared timestamp the close sorts before the open
   * (`delta` ascending inside the order), so back-to-back intervals never
   * double-count. `idCol` breaks remaining ties — the profile is a total
   * order, deterministic under any partitioning.
   *
   * `max(active)` is peak concurrency; joining the profile back to a
   * timeline gives load-over-time. Cost: one range exchange + local
   * sorts, whatever the interval count.
   */
  def concurrency(
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      idCol: String): DataFrame = {
    withRunningTotal(boundaries(intervals, startCol, endCol, idCol), "active", "delta",
      col("ts"), col("delta"), col("id"))
  }

  /** One `(ts, delta, id)` row per interval boundary: +1 at the start, -1 at the end. */
  private def boundaries(
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      idCol: String): DataFrame = {
    val opens = intervals.select(col(startCol).as("ts"), lit(1L).as("delta"),
      col(idCol).as("id"))
    val closes = intervals.select(col(endCol).as("ts"), lit(-1L).as("delta"),
      col(idCol).as("id"))
    opens.unionByName(closes)
  }

  /**
   * EXACT time-weighted daily load from `[startCol, endCol)` microsecond
   * intervals: for every UTC day index (`ts DIV 86400e6`), the integral of
   * the concurrency curve over that day (`active_us`, in count x
   * microseconds) and the time-weighted average in thousandths
   * (`avg_milli = active_us * 1000 DIV 86_400_000_000`) — "how many
   * orders/sessions were open on average each day", the capacity metric a
   * peak-only profile ([[concurrency]]) misses.
   *
   * Exactness comes from segment SPLITTING, not left-endpoint
   * attribution: each constant-`active` segment between consecutive
   * boundaries explodes into the days it spans (`sequence` generator) and
   * contributes `active * overlap_us` to each — a segment crossing
   * midnight lands in both days with the exact sub-day overlap. Idle
   * segments (`active = 0`) and zero-length segments (tied boundaries)
   * drop early, so days nothing was open produce no row.
   *
   * Plan: the [[concurrency]] running total, a global rank over the same
   * boundary order, ONE rank-shifted self-equi-join to attach each
   * boundary's successor (the distributed `lead()` — no one-reducer
   * window), the day explode, and one day-keyed aggregation — every stage
   * hash- or range-partitionable at any scale.
   */
  def timeWeightedDaily(
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      idCol: String): DataFrame = {
    val dayUs = 86400000000L
    // running concurrency AND global rank in ONE rangedCumSums pass over
    // the boundary order (round 20): the former concurrency() +
    // withGlobalRank() chain ran two full global-order scaffolds over the
    // same `(ts, delta, id)` total order — two range exchanges, an extra
    // per-__pid window exchange and an extra checkpoint of the boundary
    // frame. Both are running sums (active = Σdelta, rank = Σ1), so one
    // sharded scan emits both, bit-identically (same order, same inclusive
    // law; the oracle replays the fused form digit-for-digit).
    val ranked = Sketches.rangedCumSums(
      boundaries(intervals, startCol, endCol, idCol).withColumn("__one", lit(1L)),
      Seq.empty, Seq(col("ts"), col("delta"), col("id")),
      cums = Seq("delta" -> "active", "__one" -> "__rank"))
      .drop("__one")
    val segs = ranked.select(col("ts").as("s"), col("active"), col("__rank"))
      .join(ranked.select((col("__rank") - 1L).as("__rank"), col("ts").as("e")),
        Seq("__rank"))
      .where(col("e") > col("s") && col("active") > 0)
    segs
      .select(col("s"), col("e"), col("active"),
        explode(sequence(expr(s"s DIV ${dayUs}L"), expr(s"(e - 1) DIV ${dayUs}L")))
          .as("day_idx"))
      .withColumn("__overlap",
        least(col("e"), (col("day_idx") + 1L) * dayUs) -
          greatest(col("s"), col("day_idx") * dayUs))
      .groupBy("day_idx")
      // DECIMAL(38,0) multiply-sum: a single segment-day term reaches
      // active * 8.64e10, so a LongType product would silently wrap in
      // non-ANSI mode once concurrency passes ~1e8 — the same overflow
      // discipline as the drift/OLS folds.
      .agg(sum(col("active").cast("decimal(38,0)") *
        col("__overlap").cast("decimal(38,0)")).as("active_us"))
      .select(col("day_idx"), col("active_us").cast("long").as("active_us"))
      .withColumn("avg_milli",
        expr(s"CAST(CAST(active_us AS DECIMAL(38,0)) * 1000 DIV ${dayUs}L AS BIGINT)"))
  }
}
