package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Barrier

/**
 * Calendar-keyed series operators: densification, smoothing and lagged
 * cross-correlation over per-key daily metrics — the reporting layer on
 * top of the exact daily aggregates everything else here produces
 * (ingest volumes, revenue, drift counts).
 *
 * All operators key the work by the SERIES key: a series lives in one
 * partition for its window pass, so the scale unit is series-count x
 * span, never total rows — right for the "many keys, calendar-bounded
 * span" shape daily metrics have (a 30-year daily series is 11k rows;
 * what grows at 100 TB is the number of series, which is exactly the
 * partitioning key). Nothing here ever runs an un-partitioned window.
 *
 * Days are LONG day indexes (e.g. `datediff(day, '1970-01-01')`), never
 * dates: integer arithmetic is engine-portable and `sequence` over longs
 * is exact.
 */
object Timeseries {

  /**
   * Densify a per-(key, day) frame over each key's full observed span
   * `[min(day), max(day)]`, carrying the last observation forward (LOCF)
   * into the inserted days: one row per (key, day) in the span, with for
   * each value column `v` the original `v` (null on inserted days) and
   * `v_filled` (last non-null at-or-before the day — null only before a
   * key's first observation of `v`), plus `was_gap` (no source row for
   * that day).
   *
   * `df` must hold at most one row per (key, day) — it is the OUTPUT of
   * a daily aggregation, not raw events (enforce upstream; duplicate
   * days would densify ambiguously).
   *
   * Plan: one key agg for spans, a `sequence` day explode, one left
   * equi-join back to the observations, and per-KEY ordered windows for
   * the carry — one hash exchange on the key, no global window anywhere.
   */
  def gapFill(
      df: DataFrame,
      keyCols: Seq[String],
      dayCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "gapFill needs at least one key column")
    val keys = keyCols.map(col)
    val spans = df.groupBy(keys: _*)
      .agg(min(col(dayCol)).as("__d0"), max(col(dayCol)).as("__d1"))
    val calendar = spans
      .select(keys :+ explode(sequence(col("__d0"), col("__d1"))).as(dayCol): _*)
    val marked = df.withColumn("__present", lit(true))
    val joined = calendar.join(marked, keyCols :+ dayCol, "left")
    val w = Window.partitionBy(keys: _*).orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(joined) { (acc, v) =>
      acc.withColumn(s"${v}_filled", last(col(v), ignoreNulls = true).over(w))
    }
    filled
      .withColumn("was_gap", col("__present").isNull)
      .drop("__present")
  }

  /**
   * Truncated exponentially-weighted moving average in EXACT fixed
   * point: at each observed (key, day) row, the alpha = 1/2 EWMA over
   * the trailing `lags + 1` CALENDAR days,
   *
   *   `ewma_milli = 1000 * sum(2^(lags - (day - d)) * v(d))
   *                      DIV sum(2^(lags - (day - d)))`
   *
   * summed over the key's observed days `d` in `[day - lags, day]`. The
   * geometric weights are the alpha = 1/2 EWMA recurrence truncated at
   * `lags` steps (weight beyond the horizon < 2^-lags of the total —
   * under 1% at the default 7); weighting by CALENDAR distance means
   * missing days decay the average instead of silently stretching the
   * window, and the head of a series renormalizes over the weights
   * actually present (the standard bias-corrected form). Powers of two
   * keep every term an integer — the result is a pure integer function
   * of the data, replayable digit-for-digit in any engine.
   *
   * Plan: each observation explodes into the `lags + 1` target days it
   * can influence (bounded fan-out), ONE (key, day) aggregation builds
   * the weighted sums map-side, and an inner equi-join back to the
   * observed days keeps evaluation at observation times only. No
   * windows at all — the op is insensitive to per-key history length.
   */
  def truncatedEwma(
      df: DataFrame,
      keyCols: Seq[String],
      dayCol: String,
      valueCol: String,
      lags: Int = 7): DataFrame = {
    require(lags >= 0 && lags <= 62, s"lags must be in [0, 62], got $lags")
    val d38 = "DECIMAL(38,0)"
    val contrib = df
      .where(col(valueCol).isNotNull)
      .select((keyCols.map(col) :+ col(dayCol).as("__src") :+ col(valueCol).as("__v")): _*)
      .withColumn(dayCol, explode(sequence(col("__src"), col("__src") + lags)))
      .withColumn("__w",
        expr(s"shiftleft(1L, CAST($lags - (`$dayCol` - __src) AS INT))"))
      .groupBy((keyCols :+ dayCol).map(col): _*)
      .agg(sum(col("__w").cast(d38) * col("__v").cast(d38)).as("__wx"),
        sum(col("__w").cast(d38)).as("__wsum"))
    df.join(contrib, keyCols :+ dayCol)
      .withColumn("ewma_milli",
        expr("CAST(__wx * 1000 DIV __wsum AS BIGINT)"))
      .drop("__wx", "__wsum")
  }

  /**
   * Holt linear-trend (double exponential) smoothing + h-step forecast
   * per key, in EXACT fixed point — the level-AND-trend upgrade of
   * [[truncatedEwma]] (which tracks level only and lags a trending
   * series by construction): the classic recurrence (Holt 1957;
   * Hyndman & Athanasopoulos, "Forecasting: Principles and Practice")
   * with alpha = beta = 1/2 so every step is integer,
   *
   *   `l_t = (y_t*1000 + l_{t-1} + b_{t-1}) DIV 2`
   *   `b_t = (l_t - l_{t-1} + b_{t-1}) DIV 2`
   *
   * seeded `l_1 = y_1*1000, b_1 = 0`, forecast
   * `f = l_n + horizon * b_n`. Truncating division toward zero is
   * identical in Spark and DuckDB, so the whole recurrence — declining
   * (negative-trend) series included — replays digit-for-digit. The
   * recurrence runs over the key's OBSERVED days in day order (gaps
   * neither decay nor stretch anything — calendar-aware gap handling is
   * [[gapFill]] upstream); `dayCol` must be unique per key (a daily
   * rollup frame).
   *
   * A recurrence is inherently sequential PER KEY, so this evaluates as
   * ONE key aggregation collecting the day-sized series + a linear
   * `aggregate` fold per key — the [[truncatedEwma]] scale argument:
   * keys parallelize across the cluster, each key's state is its
   * calendar-bounded day frame (thousands of entries), never raw rows.
   * Output: key cols + `(n_days, level_milli, trend_milli,
   * forecast_milli)`.
   */
  def holtForecast(
      df: DataFrame,
      keyCols: Seq[String],
      dayCol: String,
      valueCol: String,
      horizon: Int = 1): DataFrame = {
    require(horizon >= 0, s"horizon must be >= 0, got $horizon")
    df.where(col(valueCol).isNotNull && col(dayCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(dayCol).as("d"),
        col(valueCol).cast("long").as("v")))).as("__s"))
      .withColumn("__st", expr(
        """aggregate(
             slice(__s, 2, size(__s) - 1),
             struct(CAST(element_at(__s, 1).v * 1000 AS BIGINT) AS l,
                    CAST(0 AS BIGINT) AS b),
             (acc, x) -> struct(
               CAST((x.v * 1000 + acc.l + acc.b) DIV 2 AS BIGINT) AS l,
               CAST(((x.v * 1000 + acc.l + acc.b) DIV 2 - acc.l + acc.b) DIV 2
                 AS BIGINT) AS b))"""))
      .select((keyCols.map(col) ++ Seq(
        size(col("__s")).cast("long").as("n_days"),
        col("__st.l").as("level_milli"),
        col("__st.b").as("trend_milli"),
        (col("__st.l") + lit(horizon.toLong) * col("__st.b"))
          .as("forecast_milli"))): _*)
  }

  /**
   * Theil–Sen robust trend per key — the MEDIAN of all pairwise slopes
   * `(y_j − y_i)/(d_j − d_i)` over the key's daily series (Theil 1950,
   * Sen 1968): the trend readout that shrugs off the outliers an OLS
   * fit ([[Stats.olsFit]]) chases (up to ~29% contamination), the
   * standard robust alternative for noisy ingest-volume and spend
   * series. Each slope is truncated once to micro units
   * (`(Δy·1e6) DIV Δd` — both engines truncate toward zero, negative
   * slopes included); the median is the exact nearest-rank p50 of those
   * integers via [[Sketches.exactPercentiles]]' range-partition recipe,
   * so the whole statistic replays digit-for-digit. Output per key:
   * `n_pairs, slope_micro`.
   *
   * The pair fan-out is O(days²) per key BY CONSTRUCTION — run it on
   * the calendar-bounded daily rollup (the [[lagCorrelation]] rule:
   * thousands of days → millions of pairs per key, never raw events);
   * keys parallelize, and the median rides the ranged recipe rather
   * than any one-reducer sort.
   */
  def theilSen(
      df: DataFrame,
      keyCol: String,
      dayCol: String,
      valueCol: String): DataFrame = {
    val pts = df.where(col(valueCol).isNotNull && col(dayCol).isNotNull)
      .select(col(keyCol), col(dayCol).cast("long").as("__d"),
        col(valueCol).cast("long").as("__v"))
    // materialize the pair frame once: three consumers (count, the
    // recipe's offsets, the rank pass) would otherwise re-run the
    // self-join each — the withGroupRank checkpoint discipline
    val slopes = Barrier.checkpoint(pts
      .join(pts.select(col(keyCol), col("__d").as("__d2"),
        col("__v").as("__v2")), Seq(keyCol))
      .where(col("__d2") > col("__d"))
      .withColumn("slope_micro",
        expr("CAST(CAST(__v2 - __v AS DECIMAL(38,0)) * 1000000 " +
          "DIV (__d2 - __d) AS BIGINT)")))
    val medians = Sketches.exactPercentiles(slopes, keyCol, "slope_micro",
      percentiles = Seq(50))
    slopes.groupBy(col(keyCol)).agg(count(lit(1)).as("n_pairs"))
      .join(medians.select(col(keyCol), col("slope_micro")), Seq(keyCol))
  }

  /**
   * Mann–Kendall trend test per key — the SIGNIFICANCE companion to
   * [[theilSen]]'s slope estimate (Mann 1945 / Kendall 1975, the
   * standard pairing in environmental/ops monitoring): is there a
   * monotonic trend at all, before asking how steep?
   * `S = Σ_{i<j} sgn(y_j − y_i)` over the key's day-ordered series —
   * pure integer, robust to outliers and any monotone transform.
   *
   * Significance WITHOUT libm: alongside `s_stat` the op emits
   * `var18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)` (18× the tie-corrected
   * variance of S — kept ×18 so it stays integer); the caller's normal
   * test is `z² ≈ 18·(|S|−1)² / var18`, a per-row lookup against z²
   * thresholds (3.84 at α=0.05). Null values drop; `var18` is 0 for
   * n < 2 or an all-tied series (no test possible — `s_stat` is 0
   * there too).
   *
   * Same calendar-bounded pair fan-out and scale law as [[theilSen]]
   * (run on the daily rollup; keys parallelize): one key-equi self-join
   * + ONE count-sum agg, plus a (key, value) tie agg for the
   * correction — every exchange key- or tie-group-sized.
   */
  def mannKendall(
      df: DataFrame,
      keyCol: String,
      dayCol: String,
      valueCol: String): DataFrame = {
    val pts = df.where(col(valueCol).isNotNull && col(dayCol).isNotNull)
      .select(col(keyCol), col(dayCol).cast("long").as("__d"),
        col(valueCol).cast("long").as("__v"))
    val pairs = pts
      .join(pts.select(col(keyCol), col("__d").as("__d2"),
        col("__v").as("__v2")), Seq(keyCol))
      .where(col("__d2") > col("__d"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(signum(col("__v2") - col("__v")).cast("long")).as("s_stat"))
    val ties = pts.groupBy(col(keyCol), col("__v"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("__distinct"),
        sum(col("__t")).cast("long").as("__n"),
        sum(expr("__t * (__t - 1) * (2 * __t + 5)")).as("__tieTerm"))
      .withColumn("var18",
        expr("CAST(__n * (__n - 1) * (2 * __n + 5) - __tieTerm AS BIGINT)"))
      .select(col(keyCol), col("__n").as("n_days"), col("var18"))
    // LEFT join: a single-observation key has zero pairs, but the scaladoc
    // promises n < 2 yields s_stat = 0 / var18 = 0 — don't drop it.
    ties.join(pairs, Seq(keyCol), "left")
      .select(col(keyCol), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        col("var18"))
  }

  /**
   * Lagged cross-correlation between two daily series: for every lag in
   * `[0, maxLag]`, the exact-ppm OLS fit of `y(day + lag)` against
   * `x(day)` ([[Stats.olsFromSums]] — slope, intercept, r² as truncated
   * integer ppm). The lead/lag screen — "do purchases follow views, and
   * at what horizon?" — read off the lag with the highest `r2_ppm`.
   *
   * Only days present in BOTH frames at the shifted alignment
   * contribute (inner join); rows per lag may therefore differ — `n` is
   * part of the output for exactly that reason.
   *
   * Plan: the x frame explodes into `maxLag + 1` lag copies (bounded
   * fan-out over the DAY-sized frame, not the raw events), one
   * day-keyed equi-join against y, one six-sum aggregation per lag.
   */
  def lagCorrelation(
      xs: DataFrame,
      ys: DataFrame,
      dayCol: String,
      xCol: String,
      yCol: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val lagged = xs.select(col(dayCol).as("__xday"), col(xCol))
      .withColumn("lag", explode(sequence(lit(0L), lit(maxLag.toLong))))
      .withColumn(dayCol, col("__xday") + col("lag"))
    val joined = lagged.join(ys.select(col(dayCol), col(yCol)), Seq(dayCol))
    Stats.olsFromSums(Stats.olsSums(joined, Seq("lag"), xCol, yCol), Seq("lag"))
  }

  /**
   * Page's one-sided CUSUM drift detector per key, EXACTLY and without
   * the sequential recurrence: the textbook form
   * `S_t = max(0, S_{t-1} + (x_t - drift))` unrolls to
   * `S_t = P_t - min(0, min_{j<=t} P_j)` where `P` is the plain running
   * sum of `(x - drift)` — so two ordered per-KEY windows (a running sum
   * and a running min) compute the exact recurrence with no row-at-a-time
   * state. `S` accumulates only sustained excess over `drift` (the
   * allowance per row) and resets through the min whenever the series
   * dips; `alarm = S > threshold` flags the CHANGE-POINT REGIME, not
   * single spikes — the sequential drift test a trailing-average anomaly
   * screen ([[Drift.volumeAnomalies]]) cannot express. Detect downward
   * drift by negating the value and drift.
   *
   * Rows are consumed in `(orderCol)` order per key AS GIVEN — run it on
   * a densified frame ([[gapFill]], zero- or carry-filled) when calendar
   * gaps should count against the drift allowance.
   *
   * All integer arithmetic; one hash exchange on the key, series-count
   * parallelism (same scale shape as [[gapFill]]).
   */
  def cusum(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      drift: Column,
      threshold: Column): DataFrame = {
    require(keyCols.nonEmpty, "cusum needs at least one key column")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__p",
        sum(col(valueCol).cast("long") - drift.cast("long")).over(w))
      .withColumn("cusum",
        (col("__p") - least(lit(0L), min(col("__p")).over(w))).cast("long"))
      .withColumn("alarm", col("cusum") > threshold.cast("long"))
      .drop("__p")
  }

  /**
   * Single-changepoint localization per key — WHERE did the level shift,
   * after [[cusum]] said THAT it shifted: the classic
   * binary-segmentation step (the argmax a CUSUM/E-Divisive splitter
   * recurses on). For the key's day-ordered values the cumulative
   * deviation from a flat series is `D_k = n·cum_k − k·S` (cross-scaled
   * by the count so it stays integer: `cum_k/k` vs `S/n` without a
   * division); the changepoint is the day maximizing `|D_k|`, ties to
   * the SMALLEST day (a total order — the verdict is a pure function of
   * the data). Output per key: `n_days, total, cp_day, abs_dev` (the
   * raw `|D|`; callers normalize or threshold against a permutation
   * scale of their choosing — no libm here).
   *
   * One key agg for `(n, S)` (broadcast) + ONE per-key ordered window
   * over the day-sized frame + a key argmax — the [[cusum]]/[[trailing]]
   * scale shape: raw events collapse at the daily rollup first.
   */
  def changepoint(
      df: DataFrame,
      keyCols: Seq[String],
      dayCol: String,
      valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val d38 = "DECIMAL(38,0)"
    val totals = df.where(col(valueCol).isNotNull)
      .groupBy(keys: _*)
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col(valueCol).cast(d38)).as("__s"))
    val w = Window.partitionBy(keys: _*).orderBy(col(dayCol))
    df.where(col(valueCol).isNotNull)
      .withColumn("__cum", sum(col(valueCol).cast(d38))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__k", row_number().over(w).cast(d38))
      .join(broadcast(totals), keyCols)
      .withColumn("__dev", abs(col("__n") * col("__cum") - col("__k") * col("__s")))
      .groupBy(keys: _*)
      .agg(max(col("__n")).cast("long").as("n_days"),
        max(col("__s")).cast("long").as("total"),
        min_by(struct(col(dayCol).as("d"), col("__dev").as("v")),
          struct((-col("__dev")).as("nd"), col(dayCol).as("d"))).as("__best"))
      .withColumn("cp_day", col("__best.d"))
      .withColumn("abs_dev", col("__best.v").cast("long"))
      .drop("__best")
  }

  /** [[cusum]] with constant allowance and threshold. Pass Columns (e.g. a
    * broadcast multiple of the global mean) to make the test scale-free. */
  def cusum(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      drift: Long,
      threshold: Long): DataFrame =
    cusum(df, keyCols, orderCol, valueCol, lit(drift), lit(threshold))

  /**
   * Trailing CALENDAR-window aggregates per key: for each observed
   * (key, day) row, the sum/count/exact-milli average of `valueCol` over
   * the key's rows with day in `[day - window + 1, day]` — a RANGE
   * window on the day index, so calendar gaps genuinely shrink the
   * trailing set (a ROWS window would silently stretch over them; on a
   * densified [[gapFill]] frame the two coincide). The rolling-report
   * primitive: trailing-7-day revenue, trailing-30-day actives.
   *
   * One hash exchange on the key; series-count parallelism, same scale
   * shape as [[gapFill]].
   */
  def trailing(
      df: DataFrame,
      keyCols: Seq[String],
      dayCol: String,
      valueCol: String,
      window: Int = 7): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(keyCols.nonEmpty, "trailing needs at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(dayCol))
      .rangeBetween(-(window - 1).toLong, 0L)
    df.withColumn("__tsum", sum(col(valueCol).cast("long")).over(w))
      .withColumn("__tn", count(col(valueCol)).over(w))
      .withColumn("trailing_sum", col("__tsum").cast("long"))
      .withColumn("trailing_n", col("__tn").cast("long"))
      .withColumn("trailing_avg_milli",
        expr("CAST(CAST(__tsum AS DECIMAL(38,0)) * 1000 DIV __tn AS BIGINT)"))
      .drop("__tsum", "__tn")
  }

  /**
   * Exact seasonal index per key and phase (`pmod(day, period)` — day of
   * week at the default 7): how each phase's average compares to the
   * key's overall average, in ppm:
   *
   *   `idx_ppm = (sum_phase * n_total * 1e6) DIV (n_phase * sum_total)`
   *
   * (1e6 = exactly the key average, 2e6 = twice it). The cross-multiplied
   * integer form never divides early, so the index replays
   * digit-for-digit; null when the key's total is zero. Phases are
   * relative to the epoch of the day index — label them downstream if
   * weekday names matter.
   *
   * One (key, phase) aggregation + a key-sized rollup joined back: both
   * frames are phase/key-sized, so the op is scan-bound at any scale.
   */
  def seasonalIndex(
      df: DataFrame,
      keyCols: Seq[String],
      dayCol: String,
      valueCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    require(keyCols.nonEmpty, "seasonalIndex needs at least one key column")
    val d38 = "DECIMAL(38,0)"
    // phase/key-sized and consumed twice (totals + join back): materialize
    // so the raw scan + agg run once, not per consumer
    val phased = Barrier.checkpoint(df
      .groupBy((keyCols.map(col) :+ pmod(col(dayCol), lit(period.toLong)).as("phase")): _*)
      .agg(count(lit(1)).cast(d38).as("__np"),
        sum(col(valueCol)).cast(d38).as("__sp")))
    val totals = phased.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__np")).as("__nt"), sum(col("__sp")).as("__st"))
    phased.join(totals, keyCols)
      .withColumn("n", col("__np").cast("long"))
      .withColumn("value_sum", col("__sp").cast("long"))
      .withColumn("idx_ppm",
        expr("CAST(CASE WHEN __st = 0 THEN NULL " +
          "ELSE __sp * __nt * 1000000 DIV (__np * __st) END AS BIGINT)"))
      .drop("__np", "__sp", "__nt", "__st")
  }
}
