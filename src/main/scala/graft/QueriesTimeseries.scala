package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Stage
import graft.io.{HdfsUrl, Warehouse, WarehouseTable}
import graft.ops.{Bpe, Dedup, Joins, Multimodal, Similarity, TextAnalysis, Web}
import graft.time.Day
import graft.util.Barrier

/**
 * Intervals, calendar series, layout, RFM/basket, attribution —
 * the timeseries + marketing-analytics battery.
 *
 * One battery family of [[Queries]] — split out for maintainability; the
 * query set and every definition are unchanged.
 */
private[graft] trait QueriesTimeseries extends QueryHelpers { this: QueryBattery =>
  /**
   * `concurrency_profile`: sweep-line interval analytics
   * ([[graft.ops.Intervals.concurrency]]) — orders as 7-day validity
   * windows, one row per boundary with the EXACT number of concurrently
   * open orders after it. The running sum is the no-one-reducer global
   * scan (range repartition + per-partition offsets); the oracle is the
   * naive single-window running sum — the hash match IS the
   * distributed-equals-definition proof, same as the global-rank family.
   */
  def concurrencyProfile(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val us = unix_micros(col("o_orderdate").cast("timestamp"))
    val iv = t(dir, "orders").select(col("o_orderkey").as("id"),
      us.as("start_us"), (us + 7L * 86400 * 1000000).as("end_us"))
    graft.ops.Intervals.concurrency(iv, "start_us", "end_us", "id")
      .select(col("ts").as("ts_us"), col("delta"), col("id"), col("active"))
  }

  val concurrencyProfileSql: String =
    """WITH b AS (
         SELECT epoch_us(o_orderdate) AS ts_us, 1 AS delta, o_orderkey AS id FROM orders
         UNION ALL
         SELECT epoch_us(o_orderdate) + 604800000000, -1, o_orderkey FROM orders)
       SELECT ts_us, CAST(delta AS BIGINT) AS delta, id,
              CAST(sum(delta) OVER (ORDER BY ts_us, delta, id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS active
       FROM b"""

  /**
   * `record_days`: record-breaking revenue days — days whose total
   * strictly exceeds EVERY earlier day, with the previous best attached
   * ([[graft.ops.Intervals.withRunningMaxBefore]] — the exclusive
   * best-so-far scan with no one-reducer window). The first day is a
   * record by definition (null previous best).
   */
  def recordDays(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = t(dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
    graft.ops.Intervals.withRunningMaxBefore(daily, "prev_best", "rev_cents", col("day"))
      .where(col("prev_best").isNull || col("rev_cents") > col("prev_best"))
  }

  val recordDaysSql: String =
    s"""WITH daily AS (
         SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                sum(${sqlCents("o_totalprice")}) AS rev_cents
         FROM orders GROUP BY 1),
       scanned AS (
         SELECT day, CAST(rev_cents AS BIGINT) AS rev_cents,
                CAST(max(rev_cents) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS prev_best
         FROM daily)
       SELECT day, rev_cents, prev_best FROM scanned
       WHERE prev_best IS NULL OR rev_cents > prev_best"""

  /** Shared per-nation daily-revenue frame for the series operators. */
  private[graft] def nationDaily(dir: String)(implicit spark: SparkSession): DataFrame =
    t(dir, "orders")
      .join(t(dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
          .cast("long").as("day_idx"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))

  private[graft] val sqlNationDaily: String =
    s"""SELECT n_name,
              CAST(datediff('day', DATE '1992-01-01', cast(o_orderdate as date)) AS BIGINT) AS day_idx,
              CAST(sum(${sqlCents("o_totalprice")}) AS BIGINT) AS rev_cents
       FROM orders JOIN customer ON o_custkey = c_custkey
                   JOIN nation ON c_nationkey = n_nationkey
       GROUP BY 1, 2"""

  /**
   * `gap_fill`: per-nation daily revenue DENSIFIED over each nation's
   * observed span with last-observation-carried-forward
   * ([[graft.ops.Timeseries.gapFill]]) — the calendar completion every
   * downstream window/report assumes; ~3 in 4 nation-days at sf0.01 are
   * gaps, so the explode and the carry are both genuinely exercised.
   * Per-KEY ordered windows only (one hash exchange on the nation);
   * nothing global.
   */
  def gapFillRevenue(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Timeseries.gapFill(nationDaily(dir), Seq("n_name"), "day_idx",
      Seq("rev_cents"))
  }

  val gapFillRevenueSql: String =
    s"""WITH daily AS ($sqlNationDaily),
       spans AS (SELECT n_name, min(day_idx) AS d0, max(day_idx) AS d1
                 FROM daily GROUP BY 1),
       cal AS (SELECT n_name, unnest(generate_series(d0, d1)) AS day_idx FROM spans),
       j AS (SELECT c.n_name, c.day_idx, d.rev_cents,
                    d.rev_cents IS NULL AS was_gap
             FROM cal c LEFT JOIN daily d
               ON c.n_name = d.n_name AND c.day_idx = d.day_idx)
       SELECT n_name, day_idx, rev_cents,
              last_value(rev_cents IGNORE NULLS) OVER (
                PARTITION BY n_name ORDER BY day_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_cents_filled,
              was_gap
       FROM j"""

  /**
   * `ewma_revenue`: alpha = 1/2 EWMA of per-nation daily revenue,
   * truncated at 7 calendar lags in EXACT fixed point
   * ([[graft.ops.Timeseries.truncatedEwma]] — power-of-two weights, so
   * every term is an integer and the whole smoothing replays
   * digit-for-digit in the oracle's naive windowed self-join). Bounded
   * 8x fan-out + ONE (nation, day) aggregation; no windows at all.
   */
  def ewmaRevenue(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Timeseries.truncatedEwma(nationDaily(dir), Seq("n_name"),
      "day_idx", "rev_cents", lags = 7)
  }

  val ewmaRevenueSql: String =
    s"""WITH daily AS ($sqlNationDaily)
       SELECT t.n_name, t.day_idx, t.rev_cents,
              CAST(sum(CAST(1 << (7 - (t.day_idx - s.day_idx)) AS HUGEINT) * s.rev_cents) * 1000
                   // sum(CAST(1 << (7 - (t.day_idx - s.day_idx)) AS HUGEINT)) AS BIGINT) AS ewma_milli
       FROM daily t JOIN daily s
         ON t.n_name = s.n_name AND s.day_idx BETWEEN t.day_idx - 7 AND t.day_idx
       GROUP BY 1, 2, 3"""

  /**
   * `holt_forecast`: Holt linear-trend double smoothing + 3-step
   * forecast of each nation's daily revenue
   * ([[graft.ops.Timeseries.holtForecast]], alpha = beta = 1/2) — the
   * level+trend recurrence in exact milli fixed point, seeded
   * `l_1 = y_1*1000, b_1 = 0`, truncating division toward zero at every
   * step so the ~2,400-step-per-nation recurrence replays
   * digit-for-digit in the oracle's recursive CTE (negative trend steps
   * included). One key agg + a linear per-key fold — keys parallelize,
   * state is the day-sized series.
   */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Timeseries.holtForecast(nationDaily(dir), Seq("n_name"),
      "day_idx", "rev_cents", horizon = 3)
  }

  val holtForecastSql: String =
    s"""WITH RECURSIVE daily AS ($sqlNationDaily),
       ord AS (SELECT n_name, rev_cents,
                 row_number() OVER (PARTITION BY n_name ORDER BY day_idx) AS rk,
                 count(*) OVER (PARTITION BY n_name) AS n
               FROM daily),
       rec AS (
         SELECT n_name, rk, n,
                CAST(rev_cents AS HUGEINT) * 1000 AS l, CAST(0 AS HUGEINT) AS b
         FROM ord WHERE rk = 1
         UNION ALL
         SELECT o.n_name, o.rk, o.n,
                (CAST(o.rev_cents AS HUGEINT) * 1000 + r.l + r.b) // 2 AS l,
                ((CAST(o.rev_cents AS HUGEINT) * 1000 + r.l + r.b) // 2
                  - r.l + r.b) // 2 AS b
         FROM rec r JOIN ord o ON o.n_name = r.n_name AND o.rk = r.rk + 1)
       SELECT n_name, CAST(n AS BIGINT) AS n_days, CAST(l AS BIGINT) AS level_milli,
              CAST(b AS BIGINT) AS trend_milli,
              CAST(l + 3 * b AS BIGINT) AS forecast_milli
       FROM rec WHERE rk = n"""

  /**
   * `theil_sen`: robust daily-volume trend per event type
   * ([[graft.ops.Timeseries.theilSen]]) — the exact nearest-rank median
   * of all pairwise slopes of the 30-day count series, each slope ONE
   * truncated micro division; the median rides the range-partition
   * percentile recipe and the oracle replays every pair and the rank
   * law digit-for-digit. Pair fan-out is calendar-bounded (days², never
   * raw events).
   */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = events(dir).groupBy(col("event_type"),
      expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))
    graft.ops.Timeseries.theilSen(daily, "event_type", "day_idx", "cnt")
  }

  val theilSenSql: String =
    """WITH daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx, count(*) AS cnt
         FROM events GROUP BY 1, 2),
       p AS (SELECT a.event_type,
               CAST(b.cnt - a.cnt AS HUGEINT) * 1000000 // (b.day_idx - a.day_idx)
                 AS slope
             FROM daily a JOIN daily b ON a.event_type = b.event_type
               AND b.day_idx > a.day_idx),
       r AS (SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rk,
               count(*) OVER (PARTITION BY event_type) AS m
             FROM p)
       SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
              CAST(max(CASE WHEN rk = (m * 50 + 99) // 100 THEN slope END)
                   AS BIGINT) AS slope_micro
       FROM r GROUP BY 1"""

  /**
   * `changepoint_detect`: single-changepoint localization of each event
   * type's daily volume ([[graft.ops.Timeseries.changepoint]]) — the
   * cross-scaled CUSUM deviation `|n·cum_k − k·S|` argmax with a
   * smallest-day tie law, all integers; the oracle replays the window
   * scan and the rank-1 pick digit-for-digit.
   */
  def changepointDetect(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = events(dir).groupBy(col("event_type"),
      expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))
    graft.ops.Timeseries.changepoint(daily, Seq("event_type"), "day_idx", "cnt")
  }

  val changepointDetectSql: String =
    """WITH daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       t AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(cnt) AS HUGEINT) AS s
             FROM daily GROUP BY 1),
       c AS (SELECT event_type, day_idx,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day_idx)
                    AS HUGEINT) AS cum,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day_idx)
                    AS HUGEINT) AS k
             FROM daily),
       dev AS (SELECT c.event_type, c.day_idx,
                 abs(t.n * c.cum - c.k * t.s) AS dv, t.n, t.s
               FROM c JOIN t ON c.event_type = t.event_type),
       r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY dv DESC, day_idx ASC) AS rk
             FROM dev)
       SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS total,
              day_idx AS cp_day, CAST(dv AS BIGINT) AS abs_dev
       FROM r WHERE rk = 1"""

  /**
   * `forecast_backtest`: does the L150 Holt forecast actually beat the
   * seasonal-naive baseline? Per event type: fit on days < 25 of the
   * daily volume series, forecast each held-out day `h` steps ahead
   * (`l + h·b`), and score BOTH the model and the lag-7 seasonal-naive
   * against the actuals in exact milli MAE; `skill_ppm = mae_model·1e6
   * DIV mae_naive` (< 1e6 = the model earns its keep — the MASE-style
   * readout, one truncated division). Backtesting is the honest half of
   * shipping a forecaster; every digit replays.
   */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = Barrier.checkpoint(events(dir).groupBy(col("event_type"),
      expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt")))
    // The cut date rides a broadcast 1-row frame instead of a driver
    // `.head()` scalar — no Action before the final collect, and the
    // whole backtest stays one lazily-planned DAG (VERDICT r15 item 5).
    val cutDf = daily.agg((min(col("day_idx")) + 24L).as("__cut"))
    val withCut = daily.join(broadcast(cutDf))
    val fit = graft.ops.Timeseries.holtForecast(
      withCut.where(col("day_idx") < col("__cut")).drop("__cut"),
      Seq("event_type"), "day_idx", "cnt", horizon = 0)
      .select(col("event_type"), col("level_milli"), col("trend_milli"))
    val naive = daily.select(col("event_type"),
      (col("day_idx") + 7).as("day_idx"), col("cnt").as("naive_cnt"))
    withCut.where(col("day_idx") >= col("__cut"))
      .withColumn("h", col("day_idx") - col("__cut") + 1)
      .drop("__cut")
      .join(fit, Seq("event_type"))
      .join(naive, Seq("event_type", "day_idx"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_held_out"),
        sum(abs(col("cnt") * 1000 - (col("level_milli")
          + col("h") * col("trend_milli")))).as("mae_model_milli"),
        sum(abs(col("cnt") * 1000 - col("naive_cnt") * 1000))
          .as("mae_naive_milli"))
      .withColumn("skill_ppm",
        expr("CAST(CASE WHEN mae_naive_milli = 0 THEN NULL " +
          "ELSE CAST(mae_model_milli AS DECIMAL(38,0)) * 1000000 " +
          "DIV mae_naive_milli END AS BIGINT)"))
  }

  val forecastBacktestSql: String =
    """WITH RECURSIVE daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       cut AS (SELECT min(day_idx) + 24 AS c FROM daily),
       ord AS (SELECT d.event_type, d.cnt,
                 row_number() OVER (PARTITION BY d.event_type
                                    ORDER BY d.day_idx) AS rk,
                 count(*) OVER (PARTITION BY d.event_type) AS n
               FROM daily d CROSS JOIN cut WHERE d.day_idx < cut.c),
       rec AS (
         SELECT event_type, rk, n,
                CAST(cnt AS HUGEINT) * 1000 AS l, CAST(0 AS HUGEINT) AS b
         FROM ord WHERE rk = 1
         UNION ALL
         SELECT o.event_type, o.rk, o.n,
                (CAST(o.cnt AS HUGEINT) * 1000 + r.l + r.b) // 2 AS l,
                ((CAST(o.cnt AS HUGEINT) * 1000 + r.l + r.b) // 2
                  - r.l + r.b) // 2 AS b
         FROM rec r JOIN ord o ON o.event_type = r.event_type
           AND o.rk = r.rk + 1),
       fit AS (SELECT event_type, l, b FROM rec WHERE rk = n),
       held AS (SELECT d.event_type, d.day_idx, d.cnt,
                  d.day_idx - cut.c + 1 AS h
                FROM daily d CROSS JOIN cut WHERE d.day_idx >= cut.c),
       nv AS (SELECT event_type, day_idx + 7 AS day_idx, cnt AS naive_cnt
              FROM daily)
       SELECT h.event_type, count(*) AS n_held_out,
              CAST(sum(abs(CAST(h.cnt AS HUGEINT) * 1000
                   - (f.l + h.h * f.b))) AS BIGINT) AS mae_model_milli,
              CAST(sum(abs(CAST(h.cnt AS HUGEINT) * 1000
                   - CAST(nv.naive_cnt AS HUGEINT) * 1000))
                   AS BIGINT) AS mae_naive_milli,
              CAST(CASE WHEN sum(abs(CAST(h.cnt AS HUGEINT) * 1000
                        - CAST(nv.naive_cnt AS HUGEINT) * 1000)) = 0 THEN NULL
                   ELSE sum(abs(CAST(h.cnt AS HUGEINT) * 1000
                        - (f.l + h.h * f.b))) * 1000000
                        // sum(abs(CAST(h.cnt AS HUGEINT) * 1000
                           - CAST(nv.naive_cnt AS HUGEINT) * 1000))
                   END AS BIGINT) AS skill_ppm
       FROM held h JOIN fit f ON h.event_type = f.event_type
                   JOIN nv ON h.event_type = nv.event_type
                     AND h.day_idx = nv.day_idx
       GROUP BY 1"""

  /**
   * `mann_kendall`: monotonic-trend significance per event type
   * ([[graft.ops.Timeseries.mannKendall]]) on the same 30-day volume
   * series as `theil_sen` — the sign-sum S statistic plus the
   * tie-corrected 18×variance, both pure integers, so the caller's z²
   * test needs no libm anywhere.
   */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = events(dir).groupBy(col("event_type"),
      expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))
    graft.ops.Timeseries.mannKendall(daily, "event_type", "day_idx", "cnt")
  }

  val mannKendallSql: String =
    """WITH daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       p AS (SELECT a.event_type, count(*) AS n_pairs,
               CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
                             WHEN b.cnt < a.cnt THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
             FROM daily a JOIN daily b ON a.event_type = b.event_type
               AND b.day_idx > a.day_idx
             GROUP BY 1),
       tg AS (SELECT event_type, cnt, CAST(count(*) AS HUGEINT) AS t
              FROM daily GROUP BY 1, 2),
       v AS (SELECT event_type, CAST(sum(t) AS HUGEINT) AS n,
               sum(t * (t - 1) * (2 * t + 5)) AS tie_term
             FROM tg GROUP BY 1)
       SELECT v.event_type, CAST(v.n AS BIGINT) AS n_days,
              CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
              CAST(coalesce(p.s_stat, 0) AS BIGINT) AS s_stat,
              CAST(v.n * (v.n - 1) * (2 * v.n + 5) - v.tie_term
                   AS BIGINT) AS var18
       FROM v LEFT JOIN p ON v.event_type = p.event_type"""

  /**
   * `lag_correlation`: lead/lag screen between the daily `view` and
   * `purchase` event-count series — for each lag 0..7, the exact-ppm OLS
   * fit of purchases(day + lag) on views(day)
   * ([[graft.ops.Timeseries.lagCorrelation]], finishing through
   * [[graft.ops.Stats.olsFromSums]]'s staged integer arithmetic). The
   * raw events collapse to day-sized frames BEFORE the 8x lag fan-out
   * and the one join — at 100 TB the fan-out rides thousands of rows,
   * not billions.
   */
  def lagCorrelation(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val daily = events(dir)
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))
    val views = daily.where(col("event_type") === "view")
      .select(col("day_idx"), col("cnt").as("views"))
    val purchases = daily.where(col("event_type") === "purchase")
      .select(col("day_idx"), col("cnt").as("purchases"))
    graft.ops.Timeseries.lagCorrelation(views, purchases, "day_idx",
      "views", "purchases", maxLag = 7)
  }

  val lagCorrelationSql: String =
    """WITH daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx, count(*) AS cnt
         FROM events GROUP BY 1, 2),
       v AS (SELECT day_idx, cnt AS x FROM daily WHERE event_type = 'view'),
       p AS (SELECT day_idx, cnt AS y FROM daily WHERE event_type = 'purchase'),
       lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
       j AS (SELECT l.lag, v.x, p.y
             FROM v CROSS JOIN lags l JOIN p ON v.day_idx + l.lag = p.day_idx),
       s AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
                    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
             FROM j GROUP BY lag),
       d AS (SELECT lag, n, sx, sy,
                    n * sxx - sx * sx AS dxx,
                    n * sxy - sx * sy AS dxy,
                    n * syy - sy * sy AS dyy
             FROM s)
       SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
         CAST(CASE WHEN dxx = 0 THEN NULL
              ELSE dxy * 1000000 // dxx END AS BIGINT) AS slope_ppm,
         CAST(CASE WHEN dxx = 0 THEN NULL
              ELSE (sy * 1000000 - (dxy * 1000000 // dxx) * sx) // n
              END AS BIGINT) AS intercept_ppm,
         CAST(CASE WHEN dxx = 0 OR dyy = 0 THEN NULL
              ELSE (dxy * 1000000 // dxx) * (dxy * 1000000000 // dyy) // 1000000000
              END AS BIGINT) AS r2_ppm
       FROM d"""

  /**
   * `zorder_parts`: the Z-order (Morton) layout key over part
   * (size, retail cents) ([[graft.ops.Layout.zOrderKey]], 8 bits per
   * dimension, equi-depth cells from exact global ranks) — sort-and-write
   * by this key and per-file min/max statistics prune 2-D selective
   * scans. The oracle replays rank, bucket and every interleaved bit, so
   * the hash match pins the full curve byte-for-byte.
   */
  def zorderParts(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val parts = t(dir, "part").select(col("p_partkey"),
      col("p_size").cast("long").as("size"),
      cents(col("p_retailprice")).as("price_cents"))
    graft.ops.Layout.zOrderKey(parts, Seq("size", "price_cents"), bits = 8,
      tie = Seq(col("p_partkey")))
  }

  val zorderPartsSql: String = {
    val interleave = (0 until 8).flatMap(i => Seq(
      s"(((b0 >> $i) & 1) << ${2 * i + 1})",
      s"(((b1 >> $i) & 1) << ${2 * i})")).mkString(" + ")
    s"""WITH p AS (
         SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
                ${sqlCents("p_retailprice")} AS price_cents
         FROM part),
       r AS (SELECT *, row_number() OVER (ORDER BY size, p_partkey) AS r0,
                    row_number() OVER (ORDER BY price_cents, p_partkey) AS r1,
                    count(*) OVER () AS n FROM p),
       b AS (SELECT p_partkey, size, price_cents,
                    (r0 - 1) * 256 // n AS b0, (r1 - 1) * 256 // n AS b1 FROM r)
       SELECT p_partkey, size, price_cents, CAST($interleave AS BIGINT) AS z_key
       FROM b"""
  }

  /**
   * `type_diversity`: per-user Gini-Simpson diversity of event types in
   * exact ppm ([[graft.ops.DataQuality.giniDiversity]]) — the
   * no-logarithm concentration screen (0 = single-type user, toward 8e5
   * as the five types even out). Two map-side-combined aggregations.
   */
  def typeDiversity(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.DataQuality.giniDiversity(events(dir), Seq("user_id"), "event_type")
  }

  val typeDiversitySql: String =
    """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS HUGEINT) AS cnt
                  FROM events GROUP BY 1, 2),
       g AS (SELECT user_id, sum(cnt * cnt) AS ss, sum(cnt) AS n FROM c GROUP BY 1)
       SELECT user_id, CAST(n AS BIGINT) AS n,
              CAST(1000000 - ss * 1000000 // (n * n) AS BIGINT) AS diversity_ppm
       FROM g"""

  /**
   * `cusum_revenue`: Page's CUSUM change-point regime over the
   * ZERO-FILLED per-nation daily revenue series
   * ([[graft.ops.Timeseries.cusum]] on [[graft.ops.Timeseries.gapFill]]
   * output — calendar gaps are genuinely zero-revenue days, so they
   * count against the drift allowance). Allowance and threshold are
   * integer multiples of the global calendar-day mean (computed exactly,
   * broadcast as one row), so the test is scale-free: 2x mean per day
   * tolerated, alarm when the cumulative excess tops 30 mean-days. The
   * exact distributed form is `S = P - min(0, running min of P)` — two
   * per-KEY windows, no sequential state.
   */
  def cusumRevenue(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // densified frame feeds the mean agg AND the cusum branch: materialize
    // so the gapFill join/window chain runs once, not per consumer
    val filled = Barrier.checkpoint(
      graft.ops.Timeseries.gapFill(nationDaily(dir), Seq("n_name"), "day_idx", Seq("rev_cents"))
        .select(col("n_name"), col("day_idx"),
          coalesce(col("rev_cents"), lit(0L)).as("rev")))
    val mean = filled.agg(
      expr("CAST(sum(rev) DIV count(*) AS BIGINT)").as("__mean"))
    graft.ops.Timeseries.cusum(filled.crossJoin(broadcast(mean)),
        Seq("n_name"), "day_idx", "rev",
        col("__mean") * 2, col("__mean") * 30)
      .drop("__mean")
  }

  val cusumRevenueSql: String =
    s"""WITH daily AS ($sqlNationDaily),
       spans AS (SELECT n_name, min(day_idx) AS d0, max(day_idx) AS d1
                 FROM daily GROUP BY 1),
       cal AS (SELECT n_name, unnest(generate_series(d0, d1)) AS day_idx FROM spans),
       j AS (SELECT c.n_name, c.day_idx, coalesce(d.rev_cents, 0) AS rev
             FROM cal c LEFT JOIN daily d
               ON c.n_name = d.n_name AND c.day_idx = d.day_idx),
       m AS (SELECT sum(rev) // count(*) AS mean FROM j),
       p AS (SELECT n_name, day_idx, rev, mean,
                    sum(rev - 2 * mean) OVER (
                      PARTITION BY n_name ORDER BY day_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
             FROM j CROSS JOIN m),
       sline AS (SELECT n_name, day_idx, rev, mean,
                    CAST(pp - least(0, min(pp) OVER (
                      PARTITION BY n_name ORDER BY day_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS cusum
             FROM p)
       SELECT n_name, day_idx, rev, cusum, cusum > 30 * mean AS alarm
       FROM sline"""

  /**
   * `dow_profile`: exact day-of-week seasonal index of per-nation
   * revenue ([[graft.ops.Timeseries.seasonalIndex]], period 7 over the
   * 1992-01-01-relative day index) — the cross-multiplied integer form
   * `sum_phase * n_total * 1e6 DIV (n_phase * sum_total)` never divides
   * early, so the index replays digit-for-digit. Phase/key-sized frames
   * only; scan-bound at any scale.
   */
  def dowProfile(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Timeseries.seasonalIndex(nationDaily(dir), Seq("n_name"),
      "day_idx", "rev_cents", period = 7)
  }

  val dowProfileSql: String =
    s"""WITH daily AS ($sqlNationDaily),
       phased AS (
         SELECT n_name, day_idx % 7 AS phase,
                CAST(count(*) AS HUGEINT) AS np,
                CAST(sum(CAST(rev_cents AS HUGEINT)) AS HUGEINT) AS sp
         FROM daily GROUP BY 1, 2),
       totals AS (SELECT n_name, sum(np) AS nt, sum(sp) AS st
                  FROM phased GROUP BY 1)
       SELECT p.n_name, p.phase, CAST(np AS BIGINT) AS n,
              CAST(sp AS BIGINT) AS value_sum,
              CAST(CASE WHEN st = 0 THEN NULL
                   ELSE sp * nt * 1000000 // (np * st) END AS BIGINT) AS idx_ppm
       FROM phased p JOIN totals t ON p.n_name = t.n_name"""

  /**
   * `trailing_revenue`: trailing-7-CALENDAR-day revenue per nation
   * ([[graft.ops.Timeseries.trailing]] — a RANGE window on the day
   * index, so the ~75% missing nation-days genuinely shrink the trailing
   * set instead of being silently stretched over by a ROWS frame). Sum,
   * count and the exact-milli average per observed day; one key
   * exchange.
   */
  def trailingRevenue(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Timeseries.trailing(nationDaily(dir), Seq("n_name"),
      "day_idx", "rev_cents", window = 7)
  }

  val trailingRevenueSql: String =
    s"""WITH daily AS ($sqlNationDaily)
       SELECT n_name, day_idx, rev_cents,
              CAST(sum(rev_cents) OVER w AS BIGINT) AS trailing_sum,
              CAST(count(rev_cents) OVER w AS BIGINT) AS trailing_n,
              CAST(sum(CAST(rev_cents AS HUGEINT)) OVER w * 1000
                   // count(rev_cents) OVER w AS BIGINT) AS trailing_avg_milli
       FROM daily
       WINDOW w AS (PARTITION BY n_name ORDER BY day_idx
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"""

  /**
   * `value_histogram`: exact equal-width 20-bin histogram of order value
   * cents ([[graft.ops.DataQuality.histogram]]) — integer bucket edges
   * from the observed min/max, so the shape profile replays
   * digit-for-digit (a float-width histogram cannot). One 1-row min/max
   * broadcast + one <=20-key count agg: scan-bound at any scale.
   */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.DataQuality.histogram(
      t(dir, "orders").select(cents(col("o_totalprice")).as("v")), "v", bins = 20)
  }

  val valueHistogramSql: String =
    s"""WITH vals AS (
         SELECT ${sqlCents("o_totalprice")} AS v FROM orders
         WHERE o_totalprice IS NOT NULL),
       e AS (SELECT min(v) AS mn, (max(v) - min(v) + 20) // 20 AS w FROM vals),
       g AS (SELECT (v - mn) // w AS bin, count(*) AS n
             FROM vals CROSS JOIN e GROUP BY 1)
       SELECT bin, CAST(mn + bin * w AS BIGINT) AS bin_lo,
              CAST(mn + bin * w + w - 1 AS BIGINT) AS bin_hi, n
       FROM g CROSS JOIN e"""

  /**
   * `log2_histogram`: power-of-two histogram of event spend cents per
   * event type ([[graft.ops.DataQuality.log2Histogram]]) — the long-tail
   * profiling shape equal-width bins waste: bin `b` holds `[2^b, 2^(b+1))`
   * via BIT LENGTH (no log, no data-dependent edges, so slices share
   * bins and ADD); zeros/negatives surface in bin -1 instead of
   * silently dropping. ONE <=64-bins-per-type count agg, scan-bound.
   */
  def log2Histogram(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.DataQuality.log2Histogram(
      events(dir).where(col("value").isNotNull)
        .select(col("event_type"), cents(col("value")).as("v")),
      Seq("event_type"), "v")
  }

  val log2HistogramSql: String =
    s"""WITH vals AS (
         SELECT event_type, ${sqlCents("value")} AS v FROM events
         WHERE value IS NOT NULL)
       SELECT event_type,
              CAST(CASE WHEN v <= 0 THEN -1
                   ELSE length(bin(v)) - 1 END AS BIGINT) AS bin,
              CAST(CASE WHEN v <= 0 THEN NULL
                   ELSE CAST(1 AS BIGINT) << (length(bin(v)) - 1)
                   END AS BIGINT) AS bin_lo,
              -- 2^(b+1)-1 staged as (2^b - 1) + 2^b, mirroring the Spark
              -- side: bin 62's hi is Long.MaxValue without overflow
              CAST(CASE WHEN v <= 0 THEN NULL
                   ELSE (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) - 1
                        + (CAST(1 AS BIGINT) << (length(bin(v)) - 1))
                   END AS BIGINT) AS bin_hi,
              count(*) AS n
       FROM vals GROUP BY 1, 2, 3, 4"""

  /**
   * `anchor_texts`: the anchor-text corpus per target host — for each
   * link-graph destination, total inlink count and the MODE anchor text
   * with its count ([[graft.ops.Stats.modeBy]] — deterministic tie law:
   * highest count, then largest anchor in binary order; `max_by` alone
   * would be tie-nondeterministic and hash-diverge). What anchors say
   * about a page is a classic relevance/quality signal
   * (Common-Crawl-style); the whole chain — extraction, host parse,
   * counts, argmax — is host/anchor-sized after the scan.
   */
  def anchorTexts(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val pages = t(dir, "documents").select(col("doc_id"), linkPageHtml.as("html"))
    val pairs = Web.extractLinks(pages, "doc_id", "html")
      .select(Web.urlHost(col("href")).as("host"), col("anchor"))
      .where(col("host").isNotNull)
    // ONE scan: the (host, anchor) counts feed both totals and the argmax
    // (host/anchor-sized, checkpointed for its two consumers)
    val counts = Barrier.checkpoint(pairs.groupBy(col("host"), col("anchor"))
      .agg(count(lit(1)).as("cnt")))
    val totals = counts.groupBy(col("host"))
      .agg(sum(col("cnt")).cast("long").as("n_links"))
    graft.ops.Stats.modeFromCounts(counts, Seq("host"), "anchor")
      .withColumnRenamed("mode", "top_anchor")
      .withColumnRenamed("mode_n", "top_anchor_n")
      .join(totals, Seq("host"))
  }

  /** Lazy: references `sqlLinkPages`/`sqlAnchorPat`, declared LATER in this
    * object — an eager val here would interpolate them as null (init order). */
  lazy val anchorTextsSql: String =
    s"""WITH $sqlLinkPages,
       ex AS (
         SELECT doc_id,
           regexp_extract_all(html, '$sqlAnchorPat', 1) AS hrefs,
           regexp_extract_all(html, '$sqlAnchorPat', 2) AS anchors
         FROM pages),
       l AS (SELECT unnest(hrefs) AS href, unnest(anchors) AS anchor FROM ex),
       h AS (
         SELECT lower(regexp_replace(regexp_extract(regexp_replace(href, '#.*', '', 'g'),
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$$', '', 'g')) AS host,
           anchor
         FROM l),
       c AS (SELECT host, anchor, count(*) AS cnt FROM h
             WHERE host IS NOT NULL GROUP BY 1, 2),
       m AS (SELECT host, anchor, cnt,
                    row_number() OVER (PARTITION BY host
                      ORDER BY cnt DESC, anchor DESC) AS rk FROM c),
       t AS (SELECT host, CAST(sum(cnt) AS BIGINT) AS n_links FROM c GROUP BY 1)
       SELECT t.host, m.anchor AS top_anchor, CAST(m.cnt AS BIGINT) AS top_anchor_n,
              n_links
       FROM t JOIN m ON t.host = m.host AND m.rk = 1"""

  /**
   * `pareto_parts`: the 2-D Pareto front of PROMO parts — biggest size
   * for the lowest price ([[graft.ops.Stats.paretoFront2D]], price
   * negated to minimize). The oracle is the NAIVE all-pairs dominance
   * NOT EXISTS over the same slice, so the hash match proves the sweep
   * (group-best + exclusive running max over size descending) IS the
   * skyline definition — the no-all-pairs form survives any scale, the
   * naive form is the proof.
   */
  def paretoParts(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val parts = t(dir, "part").filter(col("p_type").startsWith("PROMO"))
      .select(col("p_partkey"), col("p_size").cast("long").as("size"),
        cents(col("p_retailprice")).as("price_cents"))
      .withColumn("__negp", -col("price_cents"))
    graft.ops.Stats.paretoFront2D(parts, "size", "__negp").drop("__negp")
  }

  val paretoPartsSql: String =
    s"""WITH p AS (
         SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
                ${sqlCents("p_retailprice")} AS price_cents
         FROM part WHERE p_type LIKE 'PROMO%')
       SELECT p_partkey, size, price_cents FROM p a
       WHERE NOT EXISTS (
         SELECT 1 FROM p b
         WHERE b.size >= a.size AND b.price_cents <= a.price_cents
           AND (b.size > a.size OR b.price_cents < a.price_cents))"""

  /**
   * `rfm_segments`: classic RFM (recency / frequency / monetary)
   * customer segmentation with EXACT tercile buckets — one customer agg,
   * then three independent global ranks through the no-one-reducer
   * range-partition recipe ([[graft.ops.TextAnalysis.withGlobalRank]]),
   * bucket = `(rank - 1) * 3 DIV n` with ties broken by customer key (a
   * pure function of the data — `ntile` leaves tie placement
   * implementation-defined, so the oracle replays row_number with the
   * same total order instead). Segment string "rfm" concatenates the
   * three digits, 2 = top tercile.
   */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val base = t(dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        max(datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")))
          .cast("long").as("rec"),
        count(lit(1)).as("freq"),
        sum(cents(col("o_totalprice"))).as("mon"))
    val total = base.agg(count(lit(1)).as("__n"))
    var out = base.join(broadcast(total))
    for ((c, b) <- Seq(("rec", "r_bucket"), ("freq", "f_bucket"), ("mon", "m_bucket"))) {
      out = graft.ops.TextAnalysis
        .withGlobalRank(out, "__rk", col(c), col("o_custkey"))
        .withColumn(b, expr("(__rk - 1) * 3 DIV __n"))
        .drop("__rk")
    }
    out.drop("__n")
      .withColumn("segment",
        concat(col("r_bucket").cast("string"), col("f_bucket").cast("string"),
          col("m_bucket").cast("string")))
  }

  val rfmSegmentsSql: String =
    s"""WITH base AS (
         SELECT o_custkey,
                CAST(max(datediff('day', DATE '1970-01-01', cast(o_orderdate as date))) AS BIGINT) AS rec,
                count(*) AS freq,
                sum(${sqlCents("o_totalprice")}) AS mon
         FROM orders GROUP BY o_custkey),
       t AS (SELECT count(*) AS n FROM base),
       r AS (
         SELECT o_custkey, rec, freq, mon,
                row_number() OVER (ORDER BY rec, o_custkey) AS rk_r,
                row_number() OVER (ORDER BY freq, o_custkey) AS rk_f,
                row_number() OVER (ORDER BY mon, o_custkey) AS rk_m
         FROM base)
       SELECT o_custkey, rec, freq, CAST(mon AS BIGINT) AS mon,
              CAST((rk_r - 1) * 3 // n AS BIGINT) AS r_bucket,
              CAST((rk_f - 1) * 3 // n AS BIGINT) AS f_bucket,
              CAST((rk_m - 1) * 3 // n AS BIGINT) AS m_bucket,
              CAST((rk_r - 1) * 3 // n AS VARCHAR) ||
              CAST((rk_f - 1) * 3 // n AS VARCHAR) ||
              CAST((rk_m - 1) * 3 // n AS VARCHAR) AS segment
       FROM r CROSS JOIN t"""

  /**
   * `basket_lift`: market-basket brand affinity — for every pair of part
   * brands co-occurring in an order, exact support / confidence / lift in
   * ppm. The pair expansion is a self-equi-join ON THE ORDER KEY of the
   * per-order DISTINCT brand set, so fan-out is bounded by
   * (brands-per-order)², never corpus-sized; brand marginals and the
   * 1-row order total broadcast back. Lift > 1e6 = brands bought together
   * more than independence predicts. All divisions truncated integer ppm,
   * replayed in HUGEINT.
   */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // collapse straight to per-order SORTED distinct brand sets: ONE
    // order-keyed exchange with map-side collect_set partials replaces the
    // former distinct + order-keyed self-join (which shuffled the exploded
    // (order, brand) rows twice and re-paired them with a join — guide
    // §2.3 "aggregate before you shuffle"). Brands-per-order is bounded
    // (TPC-H ~7 lines/order), so the arrays are constant-sized at any
    // corpus scale. Materialized once for its three consumers.
    val sets = Barrier.checkpoint(t(dir, "lineitem")
      .join(broadcast(t(dir, "part")), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("brand"))).as("bs")))
    // pair expansion is now a per-row double explode over the sorted set
    // (codegen Generate nodes, no join): identical (ok, a < b) triples,
    // identical counts
    val pairs = sets
      .select(col("ok"), posexplode(col("bs")).as(Seq("__i", "brand_a")), col("bs"))
      .select(col("brand_a"),
        explode(slice(col("bs"), col("__i") + 2, size(col("bs")))).as("brand_b"))
      .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
    // brand marginals are brand-cardinality-sized — broadcast by definition
    val marg = sets.select(explode(col("bs")).as("brand"))
      .groupBy(col("brand")).agg(count(lit(1)).as("n"))
    val total = sets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"), col("n").as("n_a"))),
        Seq("brand_a"))
      .join(broadcast(marg.select(col("brand").as("brand_b"), col("n").as("n_b"))),
        Seq("brand_b"))
      .join(broadcast(total))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        expr("CAST(n_ab * 1000000 DIV n_orders AS BIGINT)").as("support_ppm"),
        expr("CAST(n_ab * 1000000 DIV n_a AS BIGINT)").as("confidence_ppm"),
        expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000 DIV (n_a * n_b) AS BIGINT)")
          .as("lift_ppm"))
  }

  val basketLiftSql: String =
    """WITH ob AS (
         SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       pairs AS (
         SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
         FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
         GROUP BY 1, 2),
       marg AS (SELECT brand, count(*) AS n FROM ob GROUP BY brand),
       tot AS (SELECT count(DISTINCT ok) AS n_orders FROM ob)
       SELECT brand_a, brand_b, n_ab,
              CAST(n_ab * 1000000 // n_orders AS BIGINT) AS support_ppm,
              CAST(n_ab * 1000000 // n_a AS BIGINT) AS confidence_ppm,
              CAST(CAST(n_ab AS HUGEINT) * n_orders * 1000000 // (n_a * n_b) AS BIGINT) AS lift_ppm
       FROM pairs
       JOIN (SELECT brand AS brand_a, n AS n_a FROM marg) USING (brand_a)
       JOIN (SELECT brand AS brand_b, n AS n_b FROM marg) USING (brand_b)
       CROSS JOIN tot"""

  /**
   * `time_weighted_load`: the exact daily integral of open-order
   * concurrency ([[graft.ops.Intervals.timeWeightedDaily]]) over the same
   * 7-day validity windows as `concurrency_profile` — average open orders
   * per UTC day in exact thousandths. Segments split at midnight, so the
   * oracle (one running-sum window + lead + generate_series day split)
   * replays every sub-day overlap digit-for-digit.
   */
  def timeWeightedLoad(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val us = unix_micros(col("o_orderdate").cast("timestamp"))
    val iv = t(dir, "orders").select(col("o_orderkey").as("id"),
      us.as("start_us"), (us + 7L * 86400 * 1000000).as("end_us"))
    graft.ops.Intervals.timeWeightedDaily(iv, "start_us", "end_us", "id")
  }

  val timeWeightedLoadSql: String =
    """WITH b AS (
         SELECT epoch_us(o_orderdate) AS ts, 1 AS delta, o_orderkey AS id FROM orders
         UNION ALL
         SELECT epoch_us(o_orderdate) + 604800000000, -1, o_orderkey FROM orders),
       r AS (
         SELECT ts, CAST(sum(delta) OVER (ORDER BY ts, delta, id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS active,
                row_number() OVER (ORDER BY ts, delta, id) AS rk
         FROM b),
       seg AS (
         SELECT r1.ts AS s, r2.ts AS e, r1.active
         FROM r r1 JOIN r r2 ON r2.rk = r1.rk + 1
         WHERE r2.ts > r1.ts AND r1.active > 0),
       d AS (
         SELECT s, e, active,
                unnest(generate_series(s // 86400000000, (e - 1) // 86400000000)) AS day_idx
         FROM seg)
       SELECT day_idx,
              CAST(sum(active * (least(e, (day_idx + 1) * 86400000000)
                   - greatest(s, day_idx * 86400000000))) AS BIGINT) AS active_us,
              CAST(CAST(sum(active * (least(e, (day_idx + 1) * 86400000000)
                   - greatest(s, day_idx * 86400000000))) AS HUGEINT)
                   * 1000 // 86400000000 AS BIGINT) AS avg_milli
       FROM d GROUP BY day_idx"""

  /**
   * `attribution_last`: last-touch conversion attribution
   * ([[graft.ops.Attribution.lastTouch]]) — purchases credited to the
   * latest click/view at-or-before them within a 3-day lookback, ONE
   * user-keyed exchange (running last-non-null window), unattributed
   * conversions surfaced with a null channel. The oracle replays the
   * identical window in DuckDB.
   */
  def attributionLast(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Attribution.lastTouch(events(dir), "user_id", "event_id", "ts",
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view"),
        channel = col("event_type"),
        lookbackUs = 3L * 86400 * 1000000)
      .select(col("user_id"), col("conversion_id"),
        micros(col("conv_ts")).as("conv_ts_us"), col("channel"),
        micros(col("touch_ts")).as("touch_ts_us"))
  }

  val attributionLastSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
       w AS (SELECT *,
          last_value(CASE WHEN event_type IN ('click','view') THEN ts_us END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS last_ts,
          last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS last_ch
          FROM e)
       SELECT event_id AS conversion_id, user_id, ts_us AS conv_ts_us,
              CASE WHEN last_ts >= ts_us - 259200000000 THEN last_ch END AS channel,
              CASE WHEN last_ts >= ts_us - 259200000000 THEN last_ts END AS touch_ts_us
       FROM w WHERE event_type = 'purchase'"""

  /**
   * `attribution_linear`: linear multi-touch attribution
   * ([[graft.ops.Attribution.linear]]) — every click/view in the 3-day
   * window shares the purchase's credit in exact ppm, division remainder
   * to the latest touch so each conversion's credit sums to exactly 1e6.
   * Conversions join touches on the USER key only (no range join); the
   * oracle replays the pairing, the `(ts, id)` tie rule and the
   * remainder arithmetic.
   */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Attribution.linear(events(dir), "user_id", "event_id", "ts",
      isConversion = col("event_type") === "purchase",
      isTouch = col("event_type").isin("click", "view"),
      channel = col("event_type"),
      lookbackUs = 3L * 86400 * 1000000)
  }

  val attributionLinearSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
       c AS (SELECT user_id, event_id AS conversion_id, ts_us AS cts FROM e
             WHERE event_type = 'purchase'),
       t AS (SELECT user_id, event_id AS tid, ts_us AS tts, event_type AS channel FROM e
             WHERE event_type IN ('click','view')),
       pairs AS (
         SELECT c.user_id, c.conversion_id, t.tid, t.tts, t.channel
         FROM c JOIN t USING (user_id)
         WHERE (t.tts < c.cts OR (t.tts = c.cts AND t.tid <= c.conversion_id))
           AND t.tts >= c.cts - 259200000000),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY conversion_id
                                      ORDER BY tts DESC, tid DESC) AS rk,
                   count(*) OVER (PARTITION BY conversion_id) AS n
         FROM pairs)
       SELECT user_id, conversion_id, channel,
              CAST(sum(CASE WHEN rk = 1 THEN 1000000 - (n - 1) * (1000000 // n)
                            ELSE 1000000 // n END) AS BIGINT) AS credit_ppm,
              count(*) AS n_touches
       FROM ranked GROUP BY 1, 2, 3"""

  /**
   * `attribution_first`: first-touch (acquisition) attribution
   * ([[graft.ops.Attribution.firstTouch]]) — the EARLIEST in-window
   * click/view takes the purchase's credit, computed with a
   * range-bounded min-struct window (no join, one user-keyed exchange).
   * The oracle takes the rank-1 ascending pair per conversion.
   */
  def attributionFirst(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Attribution.firstTouch(events(dir), "user_id", "event_id", "ts",
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view"),
        channel = col("event_type"),
        lookbackUs = 3L * 86400 * 1000000)
      .withColumnRenamed("conv_ts", "conv_ts_us")
      .withColumnRenamed("touch_ts", "touch_ts_us")
  }

  val attributionFirstSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
       c AS (SELECT user_id, event_id AS conversion_id, ts_us AS cts FROM e
             WHERE event_type = 'purchase'),
       t AS (SELECT user_id, event_id AS tid, ts_us AS tts, event_type AS channel FROM e
             WHERE event_type IN ('click','view')),
       pairs AS (
         SELECT c.conversion_id, t.tid, t.tts, t.channel
         FROM c JOIN t USING (user_id)
         WHERE (t.tts < c.cts OR (t.tts = c.cts AND t.tid <= c.conversion_id))
           AND t.tts >= c.cts - 259200000000),
       firsts AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY conversion_id
                                        ORDER BY tts ASC, tid ASC) AS rk
           FROM pairs) WHERE rk = 1)
       SELECT c.user_id, c.conversion_id, c.cts AS conv_ts_us,
              f.channel, f.tts AS touch_ts_us
       FROM c LEFT JOIN firsts f USING (conversion_id)"""

  /**
   * `attribution_position`: U-shaped (40/40/20) multi-touch attribution
   * ([[graft.ops.Attribution.positionBased]]) — first and last in-window
   * touch take 400,000 ppm each, middles share 200,000 with the
   * remainder on the last touch; 1-touch takes all, 2-touch splits
   * 500k/500k. Credit conserves to exactly 1e6 per conversion on both
   * engines.
   */
  def attributionPosition(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.ops.Attribution.positionBased(events(dir), "user_id", "event_id", "ts",
      isConversion = col("event_type") === "purchase",
      isTouch = col("event_type").isin("click", "view"),
      channel = col("event_type"),
      lookbackUs = 3L * 86400 * 1000000, edgePct = 40)
  }

  val attributionPositionSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
       c AS (SELECT user_id, event_id AS conversion_id, ts_us AS cts FROM e
             WHERE event_type = 'purchase'),
       t AS (SELECT user_id, event_id AS tid, ts_us AS tts, event_type AS channel FROM e
             WHERE event_type IN ('click','view')),
       pairs AS (
         SELECT c.user_id, c.conversion_id, t.tid, t.tts, t.channel
         FROM c JOIN t USING (user_id)
         WHERE (t.tts < c.cts OR (t.tts = c.cts AND t.tid <= c.conversion_id))
           AND t.tts >= c.cts - 259200000000),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY conversion_id
                                      ORDER BY tts DESC, tid DESC) AS rk,
                   count(*) OVER (PARTITION BY conversion_id) AS n
         FROM pairs)
       SELECT user_id, conversion_id, channel,
              CAST(sum(CASE WHEN n = 1 THEN 1000000
                            WHEN n = 2 THEN 500000
                            WHEN rk = n THEN 400000
                            WHEN rk = 1 THEN 600000 - (n - 2) * (200000 // (n - 2))
                            ELSE 200000 // (n - 2) END) AS BIGINT) AS credit_ppm,
              count(*) AS n_touches
       FROM ranked GROUP BY 1, 2, 3"""

  /**
   * `dow_strength`: seasonality strength per event type as the
   * correlation ratio η² ([[graft.ops.Stats.etaSquared]]) — how much of
   * per-event spend variance the day-of-week (epoch-day mod 7, engine-
   * portable) explains, in exact ppm. The "is this series weekly enough
   * to model?" screen beside `dow_profile`'s means: ONE (type, dow)
   * three-sum cell agg + one type-sized finish, cells ADD across slices.
   */
  def dowStrength(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ev = events(dir).where(col("value").isNotNull)
      .select(col("event_type"),
        (expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000") % 7).as("dow"),
        cents(col("value")).as("cents"))
    graft.ops.Stats.etaSquared(ev, Seq("event_type"), "dow", "cents")
  }

  val dowStrengthSql: String =
    """WITH e AS (
         SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
                CAST(round(value * 100, 0) AS BIGINT) AS v
         FROM events WHERE value IS NOT NULL),
       c AS (SELECT event_type, dow, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
             FROM e GROUP BY 1, 2),
       t AS (SELECT event_type, n, s, ss, s * s // n AS t FROM c),
       g AS (SELECT event_type, count(*) AS k, sum(n) AS nn, sum(s) AS ss1,
               sum(ss) AS ss2, sum(t) AS st
             FROM t GROUP BY 1)
       SELECT event_type, CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
              CAST(CASE WHEN nn * ss2 - ss1 * ss1 <= 0 THEN NULL
                   ELSE greatest(CAST(0 AS HUGEINT), nn * st - ss1 * ss1)
                        * 1000000 // (nn * ss2 - ss1 * ss1)
                   END AS BIGINT) AS eta2_ppm
       FROM g"""
}
