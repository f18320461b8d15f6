package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Barrier

/**
 * Corpus and ingest drift monitoring — the health checks a continuously
 * refreshed training-data lake runs between snapshots: "did the token
 * distribution move?" (tokenizer/mix drift) and "did a source's daily
 * volume spike?" (scraper incident, duplicate-feed, upstream outage).
 * Both are exact integer math end-to-end, so results hash-match across
 * engines and reruns.
 */
object Drift {

  /**
   * Per-term counts of a corpus: `(term, cnt)`, vocabulary-sized output.
   * This is the SNAPSHOT to persist (e.g. one WarehouseTable partition per
   * day): vocab-sized rows instead of the corpus, and any two snapshots
   * diff via [[vocabDriftFromCounts]] without ever re-reading raw text —
   * the only affordable drift-monitoring shape at 100 TB/day.
   */
  def termCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /**
   * Token-distribution drift between two corpus snapshots: every term's
   * frequency in exact integer parts-per-million on each side, ranked by
   * absolute ppm change, top `k`. New terms read ppm_old = 0 and vanished
   * terms ppm_cur = 0, so additions and deletions surface alongside
   * shifts. Ppm is integer (`x * 1e6 DIV total` in DECIMAL(38) — never a
   * float sum), and the (|delta| desc, term) rank is a total order, so the
   * result is a pure function of the two corpora.
   *
   * Scale: the explodes collapse to VOCABULARY-sized per-term aggs with
   * map-side combine (the same property that makes BPE counting scale);
   * the full-outer join and everything after touch only vocab-sized data,
   * and the corpus totals ride in as 1-row broadcasts. Top-k is a
   * TakeOrdered, not a global sort shuffle.
   */
  def vocabDrift(old: DataFrame, cur: DataFrame, textCol: String, k: Int = 20): DataFrame =
    vocabDriftFromCounts(termCounts(old, textCol), termCounts(cur, textCol), k)

  /**
   * [[vocabDrift]] over two persisted `(term, cnt)` snapshots
   * ([[termCounts]]) — the incremental form: raw text is read once per
   * snapshot ever; every later comparison is vocab-sized work.
   *
   * An EMPTY side is well-defined: its total coalesces to a safe
   * denominator (every count on that side is 0, so its ppm column is 0 for
   * any denominator) instead of a null `sum` silently nulling every ppm
   * row — a brand-new corpus diffs against nothing as "everything added".
   */
  def vocabDriftFromCounts(old: DataFrame, cur: DataFrame, k: Int = 20): DataFrame = {
    require(k > 0, "k must be positive")
    val oldC = old.select(col("term"), col("cnt").as("cnt_old"))
    val curC = cur.select(col("term"), col("cnt").as("cnt_cur"))
    val oldTotal = oldC.agg(greatest(coalesce(sum(col("cnt_old")), lit(0L)), lit(1L)).as("__tot_old"))
    val curTotal = curC.agg(greatest(coalesce(sum(col("cnt_cur")), lit(0L)), lit(1L)).as("__tot_cur"))
    oldC.join(curC, Seq("term"), "full_outer")
      .na.fill(0L, Seq("cnt_old", "cnt_cur"))
      .join(broadcast(oldTotal)).join(broadcast(curTotal))
      .withColumn("ppm_old",
        expr("CAST(CAST(cnt_old AS DECIMAL(38,0)) * 1000000 DIV __tot_old AS BIGINT)"))
      .withColumn("ppm_cur",
        expr("CAST(CAST(cnt_cur AS DECIMAL(38,0)) * 1000000 DIV __tot_cur AS BIGINT)"))
      .withColumn("delta_ppm", col("ppm_cur") - col("ppm_old"))
      .orderBy(abs(col("delta_ppm")).desc, col("term"))
      .limit(k)
      .select(col("term"), col("ppm_old"), col("ppm_cur"), col("delta_ppm"))
  }

  /**
   * Daily ingest volume anomalies: a `(key, day)` bucket is flagged when
   * its row count exceeds `factorPct`% of its trailing `trailing`-day
   * average (exact integer cross-multiply — `n * prev_days * 100 >
   * prev_n * factorPct` — never a float division). Buckets with fewer than
   * `minPrevDays` preceding observed days are unscored: no baseline, no
   * verdict. Gaps in the calendar are skipped, not zero-filled — the
   * window is over OBSERVED days (the common case for sparse sources);
   * zero-fill upstream if absence itself must alarm.
   *
   * Scale: one `(key, day)` count agg with map-side combine — the only
   * pass over raw events — then a per-key window over the day-level
   * rollup, which is ~365 rows per key per year regardless of event
   * volume. Skewed keys cost nothing: the window input is already
   * aggregated.
   */
  def volumeAnomalies(
      df: DataFrame,
      keyCol: String,
      day: Column,
      trailing: Int = 7,
      factorPct: Int = 150,
      minPrevDays: Int = 3): DataFrame = {
    require(trailing >= minPrevDays && minPrevDays >= 1,
      s"need 1 <= minPrevDays ($minPrevDays) <= trailing ($trailing)")
    require(factorPct > 100, s"factorPct must exceed 100 (got $factorPct)")
    val daily = df.groupBy(col(keyCol), day.as("day")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(-trailing, -1)
    daily
      .withColumn("prev_n", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("prev_days", count(col("n")).over(w))
      .filter(col("prev_days") >= minPrevDays &&
        col("n") * col("prev_days") * 100 > col("prev_n") * factorPct)
      .select(col(keyCol), col("day"), col("n"), col("prev_n"), col("prev_days"))
  }

  /**
   * Per-dimension MEAN vector of an embedding column in exact e6
   * fixed-point (the [[Similarity.kmeansUpdate]] convention: values
   * quantize to micro-units BEFORE summing, so the integer sums are
   * associative and results hash-match across engines and partitionings)
   * — the snapshot to persist for embedding-drift monitoring (one
   * `(dim, n, mean_e6)` row per dimension, dimension-sized output however
   * large the corpus; the embedding sibling of [[termCounts]]).
   * Posexplode + one dim-keyed agg with map-side partials — never a
   * driver-side vector fold.
   */
  def meanVector(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("__v").cast("double") * 1000000, 0).cast("long")).as("__sum_e6"))
      // portable floor division for signed sums (see kmeansUpdate)
      .withColumn("mean_e6",
        expr("(__sum_e6 - ((__sum_e6 % n) + n) % n) DIV n").cast("long"))
      .select(col("dim").cast("long").as("dim"), col("n").cast("long").as("n"),
        col("mean_e6"))

  /**
   * Embedding drift between two [[meanVector]] snapshots — the
   * encoder-health check a continuously embedded corpus runs between
   * refreshes: a changed encoder version, a normalization bug or a scale
   * regression moves the corpus CENTROID long before any per-document
   * check fires. One row: both counts, the cosine between the two mean
   * vectors (rounded 4 dp; a healthy refresh sits at ~1.0) and the
   * centroid L2-norm ratio x10000 (catches pure scale drift, which
   * cosine is blind to; null when the old centroid is zero). The dot and
   * norm sums run in exact DECIMAL(38,0) arithmetic over the e6 means
   * (mirroring the oracle's hugeint — a LONG sum overflows already at
   * |mean_e6| ~ 3e9 for a single squared term), so the verdict is a pure
   * function of the snapshots. The join is dim-keyed and every fold runs
   * over dimension-count rows — embeddings are never re-read.
   */
  def embeddingDriftFromMeans(old: DataFrame, cur: DataFrame): DataFrame = {
    val joined = old.select(col("dim"),
        col("mean_e6").cast("decimal(38,0)").as("__mo"), col("n").as("__no"))
      .join(cur.select(col("dim"),
        col("mean_e6").cast("decimal(38,0)").as("__mc"), col("n").as("__nc")), Seq("dim"))
    joined.agg(
      // n is constant across dims (every vector has every dimension):
      // min() makes that deterministic without trusting row order
      min(col("__no")).cast("long").as("n_old"),
      min(col("__nc")).cast("long").as("n_new"),
      sum(col("__mo") * col("__mc")).as("__dot"),
      sum(col("__mo") * col("__mo")).as("__qo"),
      sum(col("__mc") * col("__mc")).as("__qc"))
      .select(col("n_old"), col("n_new"),
        round(when(col("__qo") === 0L || col("__qc") === 0L, lit(0.0))
          .otherwise(col("__dot").cast("double") /
            (sqrt(col("__qo").cast("double")) * sqrt(col("__qc").cast("double")))), 4)
          .as("mean_cosine"),
        when(col("__qo") === 0L, lit(null).cast("long"))
          .otherwise(floor(sqrt(col("__qc").cast("double")) /
            sqrt(col("__qo").cast("double")) * 10000).cast("long"))
          .as("norm_ratio_x10000"))
  }

  /**
   * Robust per-group value profile — median, MAD (median absolute
   * deviation) and outlier counts in exact integers, the VALUE-level
   * sibling of [[dailyVolumeAnomalies]]'s row-count alarms: a payments
   * feed whose amounts suddenly include scraper garbage, a sensor whose
   * scale flipped, a currency bug — mean/stddev miss them (the outliers
   * drag the mean), MAD does not. A row is an outlier when
   * `|value - median| * 100 > kX100 * mad` (k = `kX100`/100; the classic
   * robust z-score test without doubles — values should arrive as exact
   * integers, e.g. cents).
   *
   * Both the median and the MAD are EXACT nearest-rank percentiles via
   * [[Sketches.exactPercentiles]] — no percentile-aggregate value buffer
   * on one reducer, so the profile holds at any group size. Degenerate
   * groups where over half the values equal the median have `mad = 0`,
   * and EVERY deviating row flags — the standard MAD caveat, surfaced
   * rather than hidden (a constant-valued feed with one bad row should
   * alarm).
   *
   * Output: `(groupCol, n, median, mad, n_outliers, outlier_ppm)`.
   */
  def robustValueProfile(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      kX100: Long = 300L): DataFrame = {
    require(kX100 >= 0, s"kX100 must be >= 0, got $kX100")
    val vals = df.select(col(groupCol), col(valueCol))
      .where(col(valueCol).isNotNull)
    val med = Sketches.exactPercentiles(vals, groupCol, valueCol, Seq(50))
      .select(col(groupCol), col(valueCol).as("median"))
    // materialized once: BOTH consumers (the MAD percentile pass and the
    // final profile aggregation) read it, and its lineage is the full
    // median computation joined back over the data
    val dev = Barrier.checkpoint(vals.join(med, groupCol)
      .withColumn("__dev", abs(col(valueCol) - col("median"))))
    val mad = Sketches.exactPercentiles(
      dev.select(col(groupCol), col("__dev")), groupCol, "__dev", Seq(50))
      .select(col(groupCol), col("__dev").as("mad"))
    dev.join(mad, groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        first(col("median")).as("median"),
        first(col("mad")).as("mad"),
        sum(when(col("__dev") * 100 > lit(kX100) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ppm", expr("(n_outliers * 1000000) DIV n"))
  }

  /**
   * Shared scaffold of the two-sample rank tests: collapse rows to
   * per-(group, value) counts of each sample, then per-group running
   * counts over the distinct-value frame via
   * [[Sketches.rangedCumSums]] — the range-partition + broadcast-offset
   * recipe, so a CONTINUOUS value column (distinct-value frame ≈ the
   * rows themselves) spreads over every shard instead of one reducer
   * per group. The per-group totals ride the same offset frame.
   */
  private[ops] def cumCounts(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      inA: Column): DataFrame = {
    val counts = df
      .where(col(valueCol).isNotNull && inA.isNotNull)
      .groupBy((groupCols.map(col) :+ col(valueCol)): _*)
      .agg(
        sum(when(inA, 1L).otherwise(0L)).cast("DECIMAL(38,0)").as("ca"),
        sum(when(!inA, 1L).otherwise(0L)).cast("DECIMAL(38,0)").as("cb"))
    Sketches.rangedCumSums(counts, groupCols, Seq(col(valueCol)),
      cums = Seq("ca" -> "cuma", "cb" -> "cumb"),
      totals = Seq("ca" -> "n_a", "cb" -> "n_b"))
  }

  /**
   * Exact two-sample Kolmogorov–Smirnov distance per group — the
   * distribution-shift screen for NUMERIC columns between two slices
   * (last week vs this week, source A vs source B): did the whole shape
   * move, not just the mean ([[Timeseries.cusum]]) or the tails
   * ([[robustValueProfile]])?
   *
   * `inA` labels each row's sample (true = A, false = B; null rows and
   * null values are excluded). The statistic is the classic
   * `D = max_v |F_A(v) - F_B(v)|` over the pooled value set, computed
   * EXACTLY in cross-multiplied integers:
   * `d_ppm = max_v |cumA(v)*n_b - cumB(v)*n_a| * 1e6 DIV (n_a*n_b)` —
   * one truncated division at the very end, so the result is a pure
   * integer function of the data and replays digit-for-digit in any
   * engine. Null when either sample is empty. Caller-side significance:
   * reject at level α when `d_ppm > c(α)*sqrt((n_a+n_b)/(n_a*n_b))*1e6`
   * with the standard c table (1.358 at α=0.05) — a per-group lookup,
   * no libm in the operator.
   *
   * Plan: one (group, value) count aggregation (map-side combined), one
   * group-keyed window exchange over the distinct-value frame, one final
   * max aggregation.
   */
  def ksTest(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      inA: Column): DataFrame =
    cumCounts(df, groupCols, valueCol, inA)
      .groupBy(groupCols.map(col): _*)
      .agg(
        max(col("n_a")).cast("long").as("n_a"),
        max(col("n_b")).cast("long").as("n_b"),
        max(abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")))
          .as("__dnum"))
      .withColumn("d_ppm",
        expr("CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL " +
          "ELSE __dnum * 1000000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) " +
          "END AS BIGINT)"))
      .drop("__dnum")

  /**
   * Exact Mann–Whitney U (Wilcoxon rank-sum) per group — the
   * nonparametric location-shift test beside [[ksTest]]'s shape test:
   * "are A's values systematically larger than B's?", robust to outliers
   * a mean comparison drowns in.
   *
   * Tie-corrected midranks with NO fractions: ranks are carried DOUBLED
   * (a tied block occupying positions `[s+1, s+c]` has midrank
   * `s + (c+1)/2`, i.e. doubled midrank `2s + c + 1` — always an
   * integer), so `u2 = 2*U_A = Σ_v ca(v)*(2*cumBefore(v) + c(v) + 1)
   * - n_a*(n_a+1)` is exact. The effect size
   * `auc_ppm = U_A/(n_a*n_b) * 1e6 = u2 * 1e6 DIV (2*n_a*n_b)` is the
   * probability (ppm) that a random A value exceeds a random B value
   * (ties counted half) — 500000 = no shift, the caller's alarm axis;
   * one truncated division at the end. Null when either sample is empty.
   *
   * Same plan and distinct-value scale law as [[ksTest]] (shared
   * scaffold).
   */
  def mannWhitney(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      inA: Column): DataFrame =
    cumCounts(df, groupCols, valueCol, inA)
      .withColumn("__tot", col("cuma") + col("cumb"))
      .withColumn("__before", col("__tot") - col("ca") - col("cb"))
      .withColumn("__mid2", col("__before") * 2 + col("ca") + col("cb") + 1)
      .groupBy(groupCols.map(col): _*)
      .agg(
        max(col("n_a")).cast("long").as("n_a"),
        max(col("n_b")).cast("long").as("n_b"),
        sum(col("ca") * col("__mid2")).as("__r2a"))
      .withColumn("u2",
        expr("CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL " +
          "ELSE __r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) END AS BIGINT)"))
      .withColumn("auc_ppm",
        expr("CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL " +
          "ELSE CAST(u2 AS DECIMAL(38,0)) * 1000000 " +
          "DIV (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) END AS BIGINT)"))
      .drop("__r2a")

  /**
   * Per-(group, category) two-sample cells `(a, b)` — the mergeable half
   * of [[chiSquareKx2]], the k-row generalization of
   * [[Stats.chiSquare2x2]]'s four cells: counts from disjoint slices
   * (days, streaming windows) ADD per category before finishing. A
   * `(group, category, n)`-shaped frame per side (e.g. two
   * [[termCounts]] snapshots, or `EventStreams.windowedRollup` windows)
   * is already this cell shape with one side zero.
   */
  def kx2Cells(
      df: DataFrame,
      groupCols: Seq[String],
      categoryCol: String,
      inA: Column): DataFrame =
    df.where(inA.isNotNull)
      .groupBy((groupCols.map(col) :+ col(categoryCol)): _*)
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("a"),
        sum(when(!inA, 1L).otherwise(0L)).as("b"))

  /**
   * k×2 chi-squared homogeneity between two CATEGORICAL distributions per
   * group — "did the event-type / language / source mix shift between
   * slice A and slice B?" — the categorical complement of [[ksTest]].
   *
   * With per-category counts `a_i, b_i` and totals `N_a, N_b`, the
   * classic homogeneity statistic reduces to
   * `χ² = Σ_i (a_i*N_b - b_i*N_a)² / (N_a*N_b*(a_i+b_i))` — computed in
   * micro units via the STAGED truncated form
   * `(D_i² * 1e3 DIV (N_a*N_b)) * 1e3 DIV t_i` (the
   * [[Stats.chiSquare2x2]] discipline): no intermediate exceeds
   * DECIMAL(38,0) up to ~5e8 rows per sample, and each category's term
   * floors within `1e3/t_i + 1` micro of exact, so the sum is within
   * `k` micro units — a pure integer function of the counts that
   * replays digit-for-digit. Null when either sample is empty.
   * Significance is the caller's χ²(k-1) lookup.
   *
   * Output per group: `n_a, n_b, k` (category count) and `chi2_micro`.
   * One cell aggregation + one group-sized finish; cells are
   * category-frame-sized, never row-sized.
   */
  def chiSquareKx2(
      df: DataFrame,
      groupCols: Seq[String],
      categoryCol: String,
      inA: Column): DataFrame =
    chi2FromKx2Cells(kx2Cells(df, groupCols, categoryCol, inA), groupCols)

  /**
   * Chi-squared drift between two HISTOGRAMS — `(bin, count)` frames from
   * [[DataQuality.histogram]], [[EventStreams.histogramCellsRollup]]
   * windows (re-aggregated to any horizon first: cells add), or any
   * binned profile. Bins are categories, so this is [[chiSquareKx2]]'s
   * statistic with no join anywhere: the two sides stack via union with a
   * zero-filled opposite cell and [[chi2FromKx2Cells]] re-aggregates —
   * bins present on only one side are genuine drift mass, not an error.
   * Both frames must share the SAME edges (the streaming rollup's fixed
   * `(lo, width, bins)` contract guarantees it). Output: one row —
   * `n_a` (current), `n_b` (reference), `k` non-empty bins, `chi2_micro`.
   */
  def histogramDrift(
      cur: DataFrame,
      ref: DataFrame,
      binCol: String = "bin",
      countCol: String = "n"): DataFrame =
    chi2FromKx2Cells(
      cur.select(col(binCol), col(countCol).as("a"), lit(0L).as("b"))
        .unionByName(
          ref.select(col(binCol), lit(0L).as("a"), col(countCol).as("b"))),
      Seq.empty, binCol)

  /**
   * Total-variation distance between two CATEGORICAL distributions per
   * group, in ppm — the EFFECT-SIZE companion to [[chiSquareKx2]]'s
   * significance statistic: `TV = ½ Σ_i |a_i/N_a - b_i/N_b|` is the
   * largest probability mass any event set can disagree by, on a fixed
   * [0, 1e6] axis a dashboard can threshold directly ("the source mix
   * moved 4.2% of its mass") where χ² grows with sample size and needs a
   * k-dependent lookup. Computed EXACTLY in cross-multiplied integers:
   * `tv_ppm = (Σ_i |a_i*N_b - b_i*N_a|) * 1e6 DIV (2*N_a*N_b)` — the
   * numerator is non-negative so truncation agrees across engines, and
   * the single final division makes the result a pure integer function
   * of the counts. Null when either sample is empty.
   */
  def tvDrift(
      df: DataFrame,
      groupCols: Seq[String],
      categoryCol: String,
      inA: Column): DataFrame =
    tvFromKx2Cells(kx2Cells(df, groupCols, categoryCol, inA), groupCols)

  /** Finish [[tvDrift]]'s arithmetic from an `(a, b)`-cells frame — the
    * same mergeable cells [[chi2FromKx2Cells]] and the S23 streaming
    * rollup emit (re-aggregates by category first, so sliced/windowed
    * cells pass straight through). Output per group: `n_a, n_b, k`
    * (non-empty categories) and `tv_ppm`. */
  def tvFromKx2Cells(
      cells: DataFrame,
      groupCols: Seq[String],
      categoryCol: String = "",
      aCol: String = "a",
      bCol: String = "b"): DataFrame = {
    val catCols = if (categoryCol.nonEmpty) Seq(col(categoryCol))
      else cells.columns.filterNot(c => (groupCols :+ aCol :+ bCol).contains(c))
        .map(col).toSeq
    val d38 = "DECIMAL(38,0)"
    val merged = cells
      .groupBy((groupCols.map(col) ++ catCols): _*)
      .agg(sum(col(aCol)).cast(d38).as("__a"), sum(col(bCol)).cast(d38).as("__b"))
    val byGroup = Window.partitionBy(groupCols.map(col): _*)
    merged
      .withColumn("__na", sum(col("__a")).over(byGroup))
      .withColumn("__nb", sum(col("__b")).over(byGroup))
      .withColumn("__d", abs(col("__a") * col("__nb") - col("__b") * col("__na")))
      .groupBy(groupCols.map(col): _*)
      .agg(
        max(col("__na")).cast("long").as("n_a"),
        max(col("__nb")).cast("long").as("n_b"),
        sum(when(col("__a") + col("__b") > 0, 1L).otherwise(0L)).as("k"),
        sum(col("__d")).as("__dsum"))
      .withColumn("tv_ppm",
        expr("CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL " +
          "ELSE __dsum * 1000000 DIV (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) " +
          "END AS BIGINT)"))
      .drop("__dsum")
  }

  /** Finish the k×2 arithmetic from an `(a, b)`-cells frame (mergeable —
    * re-aggregates by category first, so sliced cells can be passed
    * directly; same staged statistic and null law as [[chiSquareKx2]]). */
  def chi2FromKx2Cells(
      cells: DataFrame,
      groupCols: Seq[String],
      categoryCol: String = "",
      aCol: String = "a",
      bCol: String = "b"): DataFrame = {
    val catCols = if (categoryCol.nonEmpty) Seq(col(categoryCol))
      else cells.columns.filterNot(c => (groupCols :+ aCol :+ bCol).contains(c))
        .map(col).toSeq
    val d38 = "DECIMAL(38,0)"
    val merged = cells
      .groupBy((groupCols.map(col) ++ catCols): _*)
      .agg(sum(col(aCol)).cast(d38).as("__a"), sum(col(bCol)).cast(d38).as("__b"))
    val byGroup = Window.partitionBy(groupCols.map(col): _*)
    merged
      .withColumn("__na", sum(col("__a")).over(byGroup))
      .withColumn("__nb", sum(col("__b")).over(byGroup))
      .withColumn("__d", col("__a") * col("__nb") - col("__b") * col("__na"))
      .withColumn("__t", col("__a") + col("__b"))
      .withColumn("__term",
        expr("CASE WHEN __na = 0 OR __nb = 0 THEN NULL WHEN __t = 0 THEN 0 " +
          "ELSE (__d * __d * 1000 DIV (__na * __nb)) * 1000 DIV __t END"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        max(col("__na")).cast("long").as("n_a"),
        max(col("__nb")).cast("long").as("n_b"),
        sum(when(col("__t") > 0, 1L).otherwise(0L)).as("k"),
        sum(col("__term")).cast("long").as("chi2_micro"))
  }
}
