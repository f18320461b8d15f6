package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Barrier

/**
 * Mergeable distinct-count sketches (Apache DataSketches HLL, via Spark's
 * built-in `hll_sketch_agg` family): pre-aggregate each day/partition into a
 * fixed-size sketch once, then answer ANY coarser rollup — weekly, monthly,
 * all-time, sliced by other dimensions — by unioning sketches, never
 * re-reading events. `approx_count_distinct` can't do this (its result is a
 * number, not a mergeable state); exact distinct can't either without
 * re-shuffling the raw keys every time. At 100 TB/day this is the only
 * affordable shape for "distinct users this quarter".
 *
 * Sketches are a few KB regardless of cardinality (lgK=12 -> ~2.5 KB, ~1.6%
 * relative error) and the batch twin of the streaming HLL rollup
 * ([[graft.streaming.EventStreams]] S9).
 */
object Sketches {

  /** Aggregate `c` into an HLL sketch (binary, mergeable). */
  def hllSketch(c: Column, lgK: Int = 12): Column = hll_sketch_agg(c, lgK)

  /** Distinct estimate of a sketch column. */
  def estimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  /** Merge a column of sketches into one (aggregate). */
  def mergeSketches(sketch: Column): Column = hll_union_agg(sketch)

  /**
   * Per-bucket distinct rollup carrying BOTH the estimate (for direct
   * consumption) and the sketch (for later re-aggregation): one row per
   * `bucketCols` group with `distinct_est` and `key_sketch`.
   */
  def distinctRollup(
      df: DataFrame,
      bucketCols: Seq[String],
      keyCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(bucketCols.map(col): _*)
      .agg(hllSketch(col(keyCol), lgK).as("key_sketch"))
      .withColumn("distinct_est", estimate(col("key_sketch")).cast("long"))

  /**
   * Re-aggregate a [[distinctRollup]] to coarser buckets by unioning the
   * stored sketches — no return to the raw data. Same output shape, so
   * rollups chain (daily -> weekly -> monthly).
   */
  def reRollup(rollup: DataFrame, bucketCols: Seq[String]): DataFrame =
    rollup.groupBy(bucketCols.map(col): _*)
      .agg(mergeSketches(col("key_sketch")).as("key_sketch"))
      .withColumn("distinct_est", estimate(col("key_sketch")).cast("long"))

  // ---- bottom-k (KMV) quantile sketches --------------------------------

  /**
   * Bottom-k (KMV) quantile sketch: per `bucketCols` group, the `k` rows
   * whose `md5(idCol)` hashes are smallest, each carrying `valueCol` — a
   * DETERMINISTIC uniform sample (the hash is a fixed pseudo-random rank,
   * so the sample is a pure function of the data, independent of
   * partitioning or arrival order). Quantiles of the sample estimate
   * quantiles of the group within ~1/sqrt(k).
   *
   * Unlike HLL this sketch merges EXACTLY: the k smallest hashes of a
   * union are found inside the union of per-part k-smallest sets, so
   * daily sketches re-rolled to weekly equal the sketch built directly
   * from the week ([[reRollupQuantileSketch]]) — and a SQL oracle can
   * replay the whole pipeline bit-for-bit, which no randomized sample
   * allows.
   *
   * Scale shape: the bounded top-k aggregate keeps at most `k` entries per
   * group in each partial buffer and merges partials map-side (an
   * ObjectHashAggregate) — one shuffle of k-row sketches, never a
   * per-group sort of the raw data (the `row_number`-window formulation
   * sorts the entire corpus).
   *
   * Output: one row per group with `q_sample` = array of `(h, v)` structs
   * sorted by hash.
   */
  def quantileSketch(
      df: DataFrame,
      bucketCols: Seq[String],
      idCol: String,
      valueCol: String,
      k: Int = 128): DataFrame = {
    require(k > 0, "sample size k must be positive")
    val entry = struct(md5(col(idCol).cast("string")).as("h"), col(valueCol).as("v"))
    df.groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.functions.collect_bottom_k(entry, k).as("q_sample"))
  }

  /**
   * Re-aggregate [[quantileSketch]] rows to coarser buckets: flatten the
   * k-sized samples and keep the k smallest hashes overall. Exact — the
   * result is identical to sketching the coarser bucket directly. Same
   * output shape, so rollups chain without re-reading events.
   */
  def reRollupQuantileSketch(rollup: DataFrame, bucketCols: Seq[String], k: Int = 128): DataFrame =
    rollup.groupBy(bucketCols.map(col): _*)
      .agg(slice(array_sort(flatten(collect_list(col("q_sample")))), 1, k).as("q_sample"))

  /**
   * Quantile estimates from a sketch's sample column: the value at rank
   * `ceil(q * n)` of the sample's sorted values (the nearest-rank
   * *inclusive* discrete quantile — q=1.0 is the max, q=0.5 of n=4 is rank
   * 2 — deterministic, no interpolation, so an engine-independent oracle
   * reproduces it). Null values are dropped before ranking: Spark's
   * `array_sort` places NULLs last while other engines sort them first, so
   * keeping them would both poison high quantiles and diverge from oracles.
   */
  def quantileFromSketch(sample: Column, q: Double): Column = {
    require(q > 0 && q <= 1, s"quantile must be in (0, 1], got $q")
    val values = array_sort(
      transform(filter(sample, e => e.getField("v").isNotNull), e => e.getField("v")))
    element_at(values, greatest(ceil(lit(q) * size(values)), lit(1)).cast("int"))
  }

  /**
   * Sketch-accuracy evaluation — the quantile analogue of
   * [[graft.ops.Similarity.annRecall]], closing the sketch family's loop:
   * BEFORE trusting a k-sized [[quantileSketch]] for a production rollup,
   * measure what its estimates actually miss by against
   * [[exactPercentiles]]' ground truth on a slice you can afford to scan.
   * An estimate that drifts past tolerance means k is too small for the
   * value distribution (heavy tails need larger k at high percentiles).
   *
   * Per (group, pct): the sketch estimate, the exact nearest-rank value,
   * the signed error in value units and `abs_err_ppm` relative to
   * `max(1, |exact|)` (one truncated division — integer, engine-exact).
   * Values must be integral (cents, micros — the exactness contract).
   *
   * Plan: the k-capped sketch agg (O(k) buffers, one sketch-row
   * exchange) + the range-partition exact-percentile pass + ONE
   * group-sized equi-join of (group, pct) frames.
   */
  def sketchErrorProfile(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: String,
      percentiles: Seq[Int],
      k: Int = 128): DataFrame = {
    require(percentiles.nonEmpty, "need at least one percentile")
    val est = quantileSketch(df.where(col(valueCol).isNotNull),
        Seq(groupCol), idCol, valueCol, k)
      .select(col(groupCol), explode(array(percentiles.map(p =>
        struct(lit(p.toLong).as("pct"),
          quantileFromSketch(col("q_sample"), p / 100.0).as("est"))): _*)).as("__e"))
      .select(col(groupCol), col("__e.pct").as("pct"), col("__e.est").as("est"))
    val exact = exactPercentiles(df, groupCol, valueCol, percentiles)
      .select(col(groupCol), col("pct"), col(valueCol).as("exact"))
    est.join(exact, Seq(groupCol, "pct"))
      .withColumn("err", col("est") - col("exact"))
      .withColumn("abs_err_ppm",
        expr("CAST(abs(CAST(err AS DECIMAL(38,0))) * 1000000 " +
          "DIV greatest(CAST(1 AS DECIMAL(38,0)), abs(CAST(exact AS DECIMAL(38,0)))) AS BIGINT)"))
  }

  // ---- heavy hitters (Misra-Gries) -------------------------------------

  /**
   * Per-bucket HEAVY-HITTERS rollup — the top-k-frequency member of the
   * sketch family ([[distinctRollup]] counts distincts, [[quantileSketch]]
   * ranks values, this one finds the dominating keys: hot domains, hot
   * terms, hot users): one row per `bucketCols` group with `hh_summary`,
   * a bounded Misra-Gries counter summary
   * ([[graft.functions.MisraGries]] — at most `capacity` `(key, cnt)`
   * entries, sorted `(cnt DESC, key)`). Exact when `capacity` covers the
   * group's distinct keys; otherwise every count sits within
   * `n/(capacity+1)` below truth and every key above that share is
   * guaranteed present. ObjectHashAggregate with map-side partials — one
   * shuffle of capacity-bounded summaries, never a raw key shuffle.
   */
  def heavyHittersRollup(
      df: DataFrame,
      bucketCols: Seq[String],
      keyCol: String,
      capacity: Int = 256): DataFrame =
    df.groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.functions
        .misra_gries(col(keyCol).cast("string"), capacity).as("hh_summary"))

  /**
   * Re-aggregate [[heavyHittersRollup]] summaries to coarser buckets
   * ([[graft.functions.MisraGriesMerge]]) — daily to weekly to all-time
   * without re-reading events; the mergeable-summaries truncation keeps
   * the n/(capacity+1) bound additive across any merge tree. Same output
   * shape, so rollups chain.
   */
  def reRollupHeavyHitters(
      rollup: DataFrame,
      bucketCols: Seq[String],
      capacity: Int = 256): DataFrame =
    rollup.groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.functions
        .misra_gries_merge(col("hh_summary"), capacity).as("hh_summary"))

  /** Explode a summary to `(key, cnt, rank)` rows, rank 1 = heaviest —
    * the reporting end of the heavy-hitters pipeline. */
  def topHeavyHitters(rollup: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    rollup
      .select(rollup.columns.filterNot(_ == "hh_summary").map(col) :+
        posexplode(slice(col("hh_summary"), 1, k)).as(Seq("__pos", "__e")): _*)
      .select(rollup.columns.filterNot(_ == "hh_summary").map(col) ++ Seq(
        col("__e.key").as("key"), col("__e.cnt").as("cnt"),
        (col("__pos") + 1).cast("long").as("rank")): _*)
  }

  // ---- point frequencies (count-min) -----------------------------------

  /**
   * Per-bucket COUNT-MIN rollup — the point-frequency member of the sketch
   * family ([[distinctRollup]] counts distincts, [[quantileSketch]] ranks
   * values, [[heavyHittersRollup]] finds dominators, this one answers "how
   * often did THIS key occur" for ANY key, not just the heavy ones): one
   * row per `bucketCols` group with `cms`, a `depth x width` counter grid
   * ([[graft.functions.CountMinSketch]]). Estimates overshoot by at most
   * `2n/width` w.p. `1 - 2^-depth`; never undershoot. ObjectHashAggregate
   * with map-side partials — one shuffle of fixed-size grids, never raw
   * keys, regardless of key cardinality.
   */
  def cmsRollup(
      df: DataFrame,
      bucketCols: Seq[String],
      keyCol: String,
      width: Int = 1024,
      depth: Int = 4): DataFrame = {
    val agg = graft.functions.functions
      .count_min(col(keyCol).cast("string"), width, depth).as("cms")
    if (bucketCols.isEmpty) df.agg(agg)
    else df.groupBy(bucketCols.map(col): _*).agg(agg)
  }

  /**
   * Re-aggregate [[cmsRollup]] grids to coarser buckets by element-wise
   * addition — EXACT (unlike Misra-Gries truncation): re-rolled sketches
   * equal the sketch built directly from the union, bit for bit. Same
   * output shape, so rollups chain daily -> weekly -> all-time.
   */
  def reRollupCms(
      rollup: DataFrame,
      bucketCols: Seq[String],
      width: Int = 1024,
      depth: Int = 4): DataFrame = {
    val agg = graft.functions.functions
      .count_min_merge(col("cms"), width, depth).as("cms")
    if (bucketCols.isEmpty) rollup.agg(agg)
    else rollup.groupBy(bucketCols.map(col): _*).agg(agg)
  }

  /** Point-frequency estimate column for a key against a sketch column. */
  def cmsEstimate(sketch: Column, key: Column, width: Int = 1024, depth: Int = 4): Column =
    graft.functions.functions.cms_estimate(sketch, key.cast("string"), width, depth)

  /**
   * Estimated EQUI-JOIN OUTPUT SIZE between the two multisets the grids
   * summarize (Cormode & Muthukrishnan's inner-product estimate): per
   * depth row, the dot product of the two count rows; the estimate is the
   * MIN over rows. Each row's dot product >= the true join size
   * `sum_k a_k * b_k` (collisions only add), so the estimate is a
   * deterministic upper bound, within `2 * n_a * n_b / width` with
   * probability `1 - (1/2)^depth`.
   *
   * This is the pre-flight shuffle-size check at 100 TB: both sides'
   * daily [[cmsRollup]] grids already exist for frequency monitoring, so
   * "how many rows would `A join B on k` emit" costs a few KB of
   * arithmetic — no scan, no shuffle, and it composes with [[reRollupCms]]
   * (merge days first, then estimate the quarter join). Products
   * accumulate in DECIMAL(38,0): two 1e12-row sides can meet in one cell
   * before a LongType sum would wrap.
   *
   * Both grids must share `width`/`depth` (and the builds' key casts).
   */
  def cmsJoinSize(a: Column, b: Column, width: Int = 1024, depth: Int = 4): Column = {
    val rowDots = (0 until depth).map { d =>
      aggregate(
        zip_with(slice(a, d * width + 1, width), slice(b, d * width + 1, width),
          (x, y) => x.cast("decimal(38,0)") * y),
        lit(0L).cast("decimal(38,0)"), (acc, v) => acc + v)
    }
    least(rowDots: _*).cast("long")
  }

  /**
   * EXACT per-group percentiles at any scale — the no-one-reducer twin of
   * both [[quantileSketch]] (approximate, mergeable) and Spark's
   * `percentile` aggregate (exact, but its buffer COLLECTS every value of
   * a group into one reducer — at 100 TB a 5-value group key means five
   * reducers each holding a fifth of the corpus). Round 16: rows collapse
   * to per-(group, value) COUNTS first (one map-side-combined exchange —
   * a duplicate-heavy column shrinks to its distinct-value frame before
   * anything else moves), then the running count comes from
   * [[rangedCumSums]]' scan recipe, and the reported value is the
   * smallest `v` whose cumulative count reaches the NEAREST-RANK target,
   * decided by the CROSS-MULTIPLIED comparison `cum·100 >= total·pct`
   * (⇔ `cum >= ceil(total·pct/100)` on integers — exact, no
   * interpolation: interpolated definitions average in doubles, which
   * the cross-engine exactness contract avoids). Null values drop, like
   * the sketch reader. The weight-1 specialization of
   * [[weightedPercentiles]], kept named because half the library reads
   * through it.
   *
   * Output: `(groupCol, pct, value-column-named-after-valueCol)` — one
   * row per group per requested percentile.
   */
  def exactPercentiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      percentiles: Seq[Int]): DataFrame =
    exactPercentilesBy(df, Seq(groupCol), valueCol, percentiles)

  /** [[exactPercentiles]] keyed by MULTIPLE group columns — one scaffold
    * pass for stratified callers (round 20:
    * [[graft.ops.Stats.quantileTreatmentEffects]] runs treat and control
    * through ONE collapse + one range exchange with the side in the group
    * key, instead of two full percentile passes). Per-(finer-group)
    * cumulative counts are independent of sibling groups by construction,
    * so the values are bit-identical to per-slice calls. */
  def exactPercentilesBy(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      percentiles: Seq[Int]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(percentiles.nonEmpty, "need at least one percentile")
    require(percentiles.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1,100], got $percentiles")
    require(percentiles.distinct.size == percentiles.size, "duplicate percentiles")
    val gCols = groupCols.map(col)
    val counts = df.select((gCols :+ col(valueCol)): _*)
      .where(col(valueCol).isNotNull)
      .groupBy((gCols :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
    rangedCumSums(counts, groupCols, Seq(col(valueCol)),
      cums = Seq("__cnt" -> "__cum"), totals = Seq("__cnt" -> "__total"))
      .withColumn("pct", explode(typedLit(percentiles.map(_.toLong))))
      .where(col("__cum") * 100 >= col("__total") * col("pct"))
      .groupBy((gCols :+ col("pct")): _*)
      .agg(min(col(valueCol)).as(valueCol))
  }

  // ---- bottom-k (KMV) SET sketches: intersection / Jaccard --------------

  /**
   * Bottom-k DISTINCT-hash (KMV) set sketch per group — the member of the
   * sketch family that answers SET questions HLL cannot: "how many users
   * did clicks and purchases SHARE", "what's the Jaccard overlap of two
   * audiences" (Beyer et al. 2007, the public KMV estimator). Per group,
   * the `k` smallest `md5(key)` hashes of the DISTINCT key set — a
   * deterministic uniform sample of the set, a pure function of the key
   * multiset (no randomized state, so oracles replay it digit-for-digit,
   * which no randomized sample allows). Merges EXACTLY like the quantile
   * sketch (bottom-k of a union lives inside the union of bottom-ks).
   *
   * Plan: ONE k-capped ObjectHashAggregate — the dedup lives inside the
   * [[graft.functions.BottomKDistinct]] buffer, so a key seen a billion
   * times contributes one hash to an O(k) partial and only k-entry
   * buffers ever cross the exchange (no row-sized distinct collapse).
   * Output: `(bucketCols..., kmv: array<string> sorted ascending)`.
   */
  def kmvSetSketch(
      df: DataFrame,
      bucketCols: Seq[String],
      keyCol: String,
      k: Int = 128): DataFrame =
    df.where(col(keyCol).isNotNull)
      .select((bucketCols.map(col) :+
        md5(col(keyCol).cast("string")).as("__h")): _*)
      .groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.functions.bottom_k_distinct(col("__h"), k).as("kmv"))

  /**
   * Set-operation estimates from two [[kmvSetSketch]] frames joined on
   * `joinCols` (each carrying its `kmv` column): per joined group,
   *
   *  - `n_a_est` / `n_b_est` — distinct sizes (`(k−1)·2^60 DIV h_k` over
   *    the 60-bit prefix of the k-th hash; EXACT when the sketch holds
   *    fewer than k hashes — the sketch IS the set);
   *  - `union_est` — same law over the union's bottom-k;
   *  - `overlap_k` — common hashes within the union's k-th minimum: the
   *    intersection's share of the union sample;
   *  - `inter_est = overlap_k · union_est DIV s` and
   *    `jaccard_ppm = overlap_k · 1e6 DIV s` with `s` the union SAMPLE
   *    size (k in the estimator regime, ±~1/sqrt(k) relative; the whole
   *    union below k, where both collapse to the EXACT intersection and
   *    the exact Jaccard).
   *
   * Every step is deterministic integer arithmetic on md5 prefixes, so
   * the whole estimate replays in any engine — and at 100 TB the
   * audience-overlap question costs a join of KB-sized sketch rows,
   * never a join of the raw key sets.
   */
  def kmvSetOps(
      a: DataFrame,
      b: DataFrame,
      joinCols: Seq[String],
      k: Int = 128): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // 60-bit hash prefix as a long (exact; the estimator scale constant)
    def hexVal(c: Column): Column = conv(substring(c, 1, 15), 16, 10).cast("long")
    val H = 1L << 60
    // est = (k-1)*2^60 DIV h_k — integral DIV on DECIMAL(38,0), exact;
    // when the sketch holds < k hashes it IS the set: size is exact
    def est(kmvName: String, hName: String): Column =
      expr(s"CAST(CASE WHEN size($kmvName) < $k THEN size($kmvName) " +
        s"ELSE CAST(${k - 1} AS DECIMAL(38,0)) * $H DIV $hName END AS BIGINT)")
    val joined = a.select((joinCols.map(col) :+ col("kmv").as("__ka")): _*)
      .join(b.select((joinCols.map(col) :+ col("kmv").as("__kb")): _*), joinCols)
      .withColumn("__u", slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k))
      .withColumn("__m", get(col("__u"), size(col("__u")) - 1))
      .withColumn("__ha", hexVal(get(col("__ka"), lit(k - 1))))
      .withColumn("__hb", hexVal(get(col("__kb"), lit(k - 1))))
      .withColumn("__hu", hexVal(col("__m")))
      .withColumn("overlap_k",
        size(filter(array_intersect(col("__ka"), col("__kb")),
          x => x <= col("__m"))).cast("long"))
      .withColumn("n_a_est", est("__ka", "__ha"))
      .withColumn("n_b_est", est("__kb", "__hb"))
      .withColumn("union_est", est("__u", "__hu"))
      // scale by the UNION SAMPLE SIZE (= k in the estimator regime, the
      // whole union below it — where these become the exact intersection
      // and the exact Jaccard), never by k unconditionally
      .withColumn("inter_est",
        expr("CAST(CASE WHEN size(__u) = 0 THEN 0 " +
          "ELSE overlap_k * union_est DIV size(__u) END AS BIGINT)"))
      .withColumn("jaccard_ppm",
        expr("CAST(CASE WHEN size(__u) = 0 THEN 0 " +
          "ELSE overlap_k * 1000000 DIV size(__u) END AS BIGINT)"))
    joined.select((joinCols.map(col) ++ Seq(col("n_a_est"), col("n_b_est"),
      col("union_est"), col("overlap_k"), col("inter_est"),
      col("jaccard_ppm"))): _*)
  }

  /**
   * Merge finer-grained [[kmvSetSketch]] rows (daily) to a coarser horizon
   * (weekly/all-time) EXACTLY: the k smallest distinct hashes of a union
   * live inside the union of the per-slice bottom-ks, so re-rolled
   * sketches are bit-identical to sketches built directly from the union
   * — the same law as [[reRollupQuantileSketch]], plus the
   * `array_distinct` a SET sketch needs (one key seen on many days
   * contributes ONE hash). Slices per group are calendar-bounded, so the
   * collect is days x k entries, never data-sized.
   */
  def reRollupKmvSetSketch(rollup: DataFrame, bucketCols: Seq[String], k: Int = 128): DataFrame =
    rollup.groupBy(bucketCols.map(col): _*)
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))), 1, k)
        .as("kmv"))

  /**
   * Distributed per-group prefix sums — the range-partition + offset
   * recipe behind [[exactPercentiles]] and `withGroupRank`, generalized
   * from ranks to running SUMS so the cumulative-distribution operators
   * ([[weightedPercentiles]], [[Drift.ksTest]], [[Drift.mannWhitney]])
   * scale past any single reducer. Adds, for each `(src -> name)` in
   * `cums`, the running per-group sum of `src` in `order`-order
   * (inclusive of the current row), and for each `(src -> name)` in
   * `totals`, the per-group grand total.
   *
   * Plan: the global per-group order is sharded by `repartitionByRange`
   * over `(group, order)` and sorted within shards; each shard computes
   * its local running sums with ONE linear scan (a `mapPartitions` pass —
   * each physical partition holds exactly one `__pid`, a truth Catalyst
   * cannot see, so the declarative alternative
   * `Window.partitionBy(group, __pid)` would re-shuffle the whole frame
   * a second time just to re-create the clustering it already has), and
   * a broadcast per-shard offset frame (O(groups × shards) rows — the
   * per-(group, shard) partial sums, scanned once) shifts the local sums
   * to global. NO `Window.partitionBy(group).orderBy(value)` over the
   * full frame anywhere, so a group with a billion distinct values costs
   * a billion rows spread over every shard, not one reducer. The
   * checkpoint pins the shard ids so both passes see the same placement.
   *
   * `order` must be unique within each group (collapse to per-(group,
   * value) rows first, as every caller here does) so the running sums
   * are a pure function of the data, not the shard layout. A null value
   * adds 0 to the running sums and to the totals (a group of only nulls
   * totals 0), and a null group key is one group like any other key.
   * Sum columns must be DECIMAL or integral (checked: the scan would
   * truncate a DOUBLE to its integer part);
   * DECIMAL sources come back DECIMAL(38,0) (the scan accumulates in
   * BigDecimal — exact, no overflow), integral sources come back LONG
   * (so callers must pre-cast to DECIMAL(38,0) themselves when a long
   * running sum could overflow, as all do).
   * Group columns must be scalar (no ARRAY/MAP/BINARY/STRUCT): the scan
   * detects group changes by value equality on the raw row slots, and
   * array/binary slots compare by REFERENCE there — the accumulator
   * would never reset and every running sum would silently be wrong.
   */
  def rangedCumSums(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[Column],
      cums: Seq[(String, String)],
      totals: Seq[(String, String)] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    require(order.nonEmpty, "rangedCumSums needs order columns")
    require(cums.nonEmpty, "rangedCumSums needs at least one running-sum column")
    groupCols.foreach { g =>
      val dt = df.schema(g).dataType
      require(dt match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: StructType |
             org.apache.spark.sql.types.BinaryType => false
        case _ => true
      }, s"rangedCumSums group column '$g' has non-scalar type ${dt.sql}: " +
        "the per-partition scan's group-change check compares raw row " +
        "values, and array/map/binary/struct slots compare by reference")
    }
    val srcs = (cums.map(_._1) ++ totals.map(_._1)).distinct
    srcs.foreach { s =>
      val dt = df.schema(s).dataType
      require(dt match {
        case _: DecimalType | org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }, s"rangedCumSums sum column '$s' has type ${dt.sql}: the scan adds " +
        "exact integers, so sum columns must be integral or DECIMAL")
    }
    val gCols = groupCols.map(col)
    // materialize the input BEFORE the range exchange (round 19): the
    // RangePartitioner's bounds sampling executes the child plan once and
    // the exchange executes it AGAIN — for every caller here the child is
    // a collapse aggregate, so its reduce ran twice per call. Checkpointing
    // the collapsed frame first makes the sample and the exchange two cheap
    // scans of stored blocks. The input copy is freed once the ranged copy
    // is stored; the ranged copy alone backs the result.
    val ranged = Barrier.holding { held =>
      val input = held.barrier(df)
      held.next(input, input.repartitionByRange((gCols ++ order): _*)
        .sortWithinPartitions((gCols ++ order): _*)
        .withColumn("__pid", spark_partition_id()))
    }
    // the offsets meet the scanned rows on (group, shard) with the group
    // columns packed into ONE struct key: struct equality matches null
    // fields, so a null key is one group here as in the scan, and the join
    // stays an equi-join on the offsets' unique key (its size estimate is
    // then the scanned rows', not their product with the offsets). An
    // ungrouped scan has no key, so its offset windows stay one partition.
    val gKey = if (groupCols.isEmpty) Nil else Seq(struct(gCols: _*).as("__gk"))
    val keys = gKey.map(_ => "__gk") :+ "__pid"
    val partials = ranged.groupBy((gKey :+ col("__pid")): _*)
      .agg(sum(col(srcs.head)).as(s"__p_${srcs.head}"),
        srcs.tail.map(s => sum(col(s)).as(s"__p_$s")): _*)
    val wAll = Window.partitionBy(keys.init.map(col): _*)
    val wPrev = wAll.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val d380 = DecimalType(38, 0)
    // per-source result type: DECIMAL in -> DECIMAL(38,0) out, integral in
    // -> LONG out (what the former window-sum formulation produced)
    def outType(s: String) = ranged.schema(s).dataType match {
      case _: DecimalType => d380
      case _              => org.apache.spark.sql.types.LongType
    }
    val offsets = partials.select(keys.map(col) ++
      cums.map { case (s, n) =>
        coalesce(sum(col(s"__p_$s")).over(wPrev), lit(0)).cast(d380).as(s"__off_$n") } ++
      totals.map { case (s, n) =>
        coalesce(sum(col(s"__p_$s")).over(wAll), lit(0)).cast(outType(s)).as(n) }: _*)
    // per-shard linear scan: rows arrive (group, order)-sorted, so group
    // changes are contiguous — reset the accumulators on each new key.
    // Runs over the raw InternalRow stream (round 20; guide §4): the
    // Dataset.mapPartitions form paid a per-row external codec
    // (DeserializeToObject → SerializeFromObject with per-field validation
    // and string/decimal conversions both ways) that profiled as the
    // scaffold's single heaviest job on high-cardinality value domains
    // (weighted_pctl's 1.3 s scan). Same arithmetic, same output schema.
    val schema = ranged.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val gTypes = gIdx.map(schema(_).dataType)
    val srcIdx = cums.map { case (s, _) => schema.fieldIndex(s) }.toArray
    val srcTypes = srcIdx.map(schema(_).dataType)
    val locSchema = StructType(schema.fields ++
      cums.map { case (_, n) => StructField(s"__loc_$n", d380, nullable = false) })
    val nSrc = srcIdx.length
    val nKey = gIdx.length
    // boxed-value equality with Spark's float normalization — NaN == NaN
    // and -0.0 == 0.0, as the collapse groupBy, the range sort and the
    // offsets join all group them — and value equality everywhere else
    // (UTF8String/Decimal equals are value-based)
    def sameKeyVal(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) =>
        x.doubleValue == y.doubleValue || (x.isNaN && y.isNaN)
      case (x: java.lang.Float, y: java.lang.Float) =>
        x.floatValue == y.floatValue || (x.isNaN && y.isNaN)
      case _ => java.util.Objects.equals(a, b)
    }
    val withLocal = org.apache.spark.sql.GraftExpressionBridge
      .mapPartitionsInternal(ranged, locSchema) { it =>
        var curKey: Array[Any] = null
        var acc: Array[java.math.BigDecimal] = null
        it.map { r =>
          val key = new Array[Any](nKey)
          var k = 0
          while (k < nKey) {
            // values extracted from a reused row buffer must be copied
            // before they are held across rows (UTF8String points into it)
            key(k) = r.get(gIdx(k), gTypes(k)) match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
              case x => x
            }
            k += 1
          }
          var changed = curKey == null
          if (!changed) {
            var j = 0
            while (!changed && j < nKey) {
              if (!sameKeyVal(key(j), curKey(j))) changed = true
              j += 1
            }
          }
          if (changed) {
            curKey = key
            acc = Array.fill(nSrc)(java.math.BigDecimal.ZERO)
          }
          val extra = new Array[Any](nSrc)
          var i = 0
          while (i < nSrc) {
            val v =
              if (r.isNullAt(srcIdx(i))) java.math.BigDecimal.ZERO
              else r.get(srcIdx(i), srcTypes(i)) match {
                case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
                case x: java.lang.Number => java.math.BigDecimal.valueOf(x.longValue())
              }
            acc(i) = acc(i).add(v)
            extra(i) = org.apache.spark.sql.types.Decimal(acc(i), 38, 0)
            i += 1
          }
          new org.apache.spark.sql.catalyst.expressions.JoinedRow(
            r.copy(),
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(extra))
        }
      }
    val joined = withLocal.select(col("*") +: gKey: _*).join(broadcast(offsets), keys)
    val summed = cums.foldLeft(joined) { case (d, (s, n)) =>
      d.withColumn(n, (col(s"__off_$n") + col(s"__loc_$n")).cast(outType(s)))
    }
    // group columns lead the output: callers' `select("*")` reads this order
    val scaffold = (groupCols ++ keys ++
      cums.flatMap { case (_, n) => Seq(s"__off_$n", s"__loc_$n") }).toSet
    summed.select((gCols ++ summed.columns.filterNot(scaffold)
      .map(c => col(s"`${c.replace("`", "``")}`"))): _*)
  }

  /**
   * EXACT per-group WEIGHTED percentiles — "the median document length
   * weighted by token count", "the p90 load order weighted by quantity":
   * each row counts `weight` times, so the answer reflects mass, not row
   * count. The weighted generalization of [[exactPercentiles]]'s
   * nearest-rank law: the reported value is the smallest `v` whose
   * cumulative weight reaches `ceil(totalWeight * pct / 100)`, decided by
   * the CROSS-MULTIPLIED comparison `cumw * 100 >= total * pct` — no
   * division anywhere, a pure integer function of the data. Weights must
   * be integral (token counts, cents, quantities — the exactness contract
   * needs exact addition); null values, null weights and non-positive
   * weights are dropped.
   *
   * Plan: rows collapse to per-(group, value) weight sums FIRST (one
   * map-side-combined exchange), then the running weight comes from
   * [[rangedCumSums]] — the global value order is SHARDED by range
   * partition, with a broadcast per-shard offset frame shifting local
   * running sums to global. No per-group ordered window over the full
   * distinct-value frame, so an unbounded value domain (raw scores,
   * cents × huge corpora) spreads over every shard instead of landing
   * on one reducer.
   */
  def weightedPercentiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      percentiles: Seq[Int]): DataFrame = {
    require(percentiles.nonEmpty, "need at least one percentile")
    require(percentiles.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1,100], got $percentiles")
    require(percentiles.distinct.size == percentiles.size, "duplicate percentiles")
    val d38 = "DECIMAL(38,0)"
    val counts = df
      .where(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(col(weightCol).cast(d38)).as("__w"))
    rangedCumSums(counts, Seq(groupCol), Seq(col(valueCol)),
      cums = Seq("__w" -> "__cumw"), totals = Seq("__w" -> "__total"))
      .withColumn("pct", explode(typedLit(percentiles.map(_.toLong))))
      .where(col("__cumw") * 100 >= col("__total") * col("pct"))
      .groupBy(col(groupCol), col("pct"))
      .agg(min(col(valueCol)).as(valueCol))
  }
}
