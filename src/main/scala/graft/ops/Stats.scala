package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Barrier

/**
 * Exact-integer statistical fits over grouped data — trend detection for
 * monitoring ("is daily volume drifting?"), feature screening ("does
 * quality score move with document length?"), and the per-slice
 * regression summaries a corpus report tables out.
 *
 * Everything is closed-form over SUFFICIENT STATISTICS: one aggregation
 * pass computes per-group `(n, Σx, Σy, Σxy, Σx², Σy²)` in DECIMAL(38,0)
 * (map-side partial aggregation, ONE exchange however many rows), and
 * slope/intercept/fit-quality derive from those sums with integer `DIV`
 * only — no libm, no floats, so results are a pure function of the data
 * and replay digit-for-digit in any engine (SURVEY.md §6). At 100 TB the
 * shape is the same: the sums frame is group-sized, never row-sized.
 */
object Stats {

  /**
   * Per-group simple (one-feature) least-squares fit of `y = a + b*x` in
   * exact parts-per-million fixed point.
   *
   * Definitions (standard OLS closed form, integer-truncated):
   *  - `sxx = n*Σx² - (Σx)²`, `sxy = n*Σxy - Σx*Σy`, `syy = n*Σy² - (Σy)²`
   *  - `slope_ppm     = sxy * 1e6 DIV sxx` (null when `sxx = 0`: constant x)
   *  - `intercept_ppm = (Σy * 1e6 - slope_ppm * Σx) DIV n` — y units x 1e6
   *  - `r2_ppm        = slope_ppm * (sxy * 1e9 DIV syy) DIV 1e9`, i.e. the
   *    product of the y-on-x slope (ppm) and the x-on-y slope (held at
   *    PPB scale) — algebraically `sxy²/(sxx*syy)`, but composed from two
   *    already-truncated divisions so no intermediate ever SQUARES a
   *    covariance (the naive `sxy² * 1e6` overflows DECIMAL(38,0) for
   *    |sxy| > ~1e16, which real cents-scale data reaches). The x-on-y
   *    factor is tiny exactly when y-on-x is steep (revenue cents against
   *    a day index — the headline use case), so it is the factor held at
   *    the finer 1e9 scale: at ppm it would truncate to 0 whenever
   *    `|sxy| * 1e6 < syy` and r2 would read 0 despite high correlation.
   *    Truncation bias vs the exact ratio is SLOPE-DEPENDENT, not a
   *    flat ~2 ppm: |error| <= |b_xy| + |b_yx|/1e3 + 1 ppm where
   *    b_yx = sxy/sxx and b_xy = sxy/syy (e.g. a cents-vs-day-index fit
   *    with b_yx ~ 1e6 reads true to ~1e3 ppm — 0.1% of the statistic).
   *    Null when `syy = 0` (constant y).
   *
   * Overflow window (documented, not checked): `|sxy| * 1e9` must fit 38
   * digits — satisfied whenever `n² * max|x| * max|y| < ~1e29`, e.g. a
   * hundred million rows of cents-scale y against day-index x.
   *
   * Output: group columns + `(n, slope_ppm, intercept_ppm, r2_ppm)`.
   */
  def olsFit(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String): DataFrame =
    olsFromSums(olsSums(df, groupCols, xCol, yCol), groupCols)

  /**
   * The raw per-group sufficient statistics `(n, Σx, Σy, Σxy, Σx², Σy²)`
   * as DECIMAL(38,0) columns — the mergeable form: partial sums from
   * disjoint data slices ADD exactly, so daily statistic rows roll up to
   * any horizon without re-reading rows ([[olsFromSums]] finishes the
   * fit). The incremental/warehouse-friendly half of [[olsFit]].
   */
  def olsSums(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val x = col(xCol).cast(d38)
    val y = col(yCol).cast(d38)
    df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast(d38).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
  }

  /** Re-aggregate [[olsSums]] rows to coarser groups (exact: sums add). */
  def mergeOlsSums(sums: DataFrame, groupCols: Seq[String]): DataFrame =
    sums.groupBy(groupCols.map(col): _*)
      .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxy").as("sxy"), sum("sxx").as("sxx"), sum("syy").as("syy"))

  /**
   * Per-group 2x2 contingency analysis of two boolean columns — the A/B
   * experiment readout (exposure x outcome), in ONE conditional-count
   * aggregation pass + exact integer arithmetic.
   *
   * Output per group: the four cell counts
   * `a` (exposure & outcome), `b` (exposure only), `c` (outcome only),
   * `d` (neither), the conversion-rate difference
   * `lift_ppm = a*1e6 DIV (a+b) - c*1e6 DIV (c+d)`, and the chi-squared
   * independence statistic in micro units,
   * `chi2_micro ~= n * (ad - bc)^2 * 1e6 / (m1*m2*m3*m4)` with the four
   * margins `m1=a+b, m2=c+d, m3=a+c, m4=b+d` — computed in the STAGED
   * truncated form `((ad-bc)^2 * 1e3 DIV (m1*m2)) * n * 1e3 DIV (m3*m4)`
   * so no intermediate exceeds DECIMAL(38,0) up to a billion rows per
   * group ((ad-bc)^2 * 1e3 <= ~6e37 at n = 1e9; the one-shot form
   * overflows at n ~ 3e7). The staged floor differs from the exact
   * rational by at most `n*1e3/(m3*m4) + 1` micro units — sub-ppm for
   * any group large enough to test — and is a pure integer function of
   * the counts, so it replays digit-for-digit in the oracle. Null when
   * any margin is zero (chi-squared is undefined); `lift_ppm` null when
   * either exposure arm is empty.
   *
   * Significance thresholds are the caller's lookup (3.84e6 micro =
   * p<0.05 at 1 dof) — no p-value interpolation, no libm.
   */
  def chiSquare2x2(
      df: DataFrame,
      groupCols: Seq[String],
      exposureCol: String,
      outcomeCol: String): DataFrame =
    chi2FromCells(chi2Cells(df, groupCols, col(exposureCol), col(outcomeCol)), groupCols)

  /** The DECIMAL(38,0) `(a, b, c, d)` cells of [[chiSquare2x2]] over two
    * boolean expressions; rows where either is null drop. */
  private[graft] def chi2Cells(
      df: DataFrame, groupCols: Seq[String], e: Column, o: Column): DataFrame = {
    def cell(p: Column) = sum(when(p, 1L).otherwise(0L)).cast("DECIMAL(38,0)")
    df.where(e.isNotNull && o.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(cell(e && o).as("a"), cell(e && !o).as("b"),
        cell(!e && o).as("c"), cell(!e && !o).as("d"))
  }

  /**
   * Finish the 2x2 arithmetic from an `(a, b, c, d)`-cells frame — the
   * mergeable half of [[chiSquare2x2]]: cells from disjoint slices ADD
   * (daily or windowed cell rows re-aggregate to any horizon before
   * finishing), the same incremental shape as [[olsFromSums]]. Same
   * staged truncated-integer statistic and null laws.
   */
  def chi2FromCells(cells: DataFrame, groupCols: Seq[String]): DataFrame =
    cells
      .withColumn("__a", col("a").cast("DECIMAL(38,0)"))
      .withColumn("__b", col("b").cast("DECIMAL(38,0)"))
      .withColumn("__c", col("c").cast("DECIMAL(38,0)"))
      .withColumn("__d", col("d").cast("DECIMAL(38,0)"))
      .withColumn("lift_ppm",
        expr("CAST(CASE WHEN __a + __b = 0 OR __c + __d = 0 THEN NULL " +
          "ELSE __a * 1000000 DIV (__a + __b) - __c * 1000000 DIV (__c + __d) " +
          "END AS BIGINT)"))
      .withColumn("chi2_micro",
        expr("CAST(CASE WHEN __a + __b = 0 OR __c + __d = 0 " +
          "OR __a + __c = 0 OR __b + __d = 0 THEN NULL " +
          "ELSE ((__a * __d - __b * __c) * (__a * __d - __b * __c) * 1000 " +
          "DIV ((__a + __b) * (__c + __d))) " +
          "* (__a + __b + __c + __d) * 1000 DIV ((__a + __c) * (__b + __d)) " +
          "END AS BIGINT)"))
      .select(groupCols.map(col) ++ Seq(
        col("__a").cast("long").as("a"), col("__b").cast("long").as("b"),
        col("__c").cast("long").as("c"), col("__d").cast("long").as("d"),
        col("lift_ppm"), col("chi2_micro")): _*)

  /**
   * Exact Spearman rank correlation per group, in ppm — the MONOTONE
   * association screen beside [[olsFit]]'s linear one: robust to any
   * monotone transform and to outliers that leverage a least-squares
   * slope ("does quality rank track length rank?", "does spend rank
   * drift with tenure rank?").
   *
   * Ranks are `row_number` under the TOTAL order `(value, tieCol)` —
   * a deterministic tie law (the same discipline as the RFM terciles:
   * fractional midranks would leave integer arithmetic; an
   * implementation-defined tie order would hash-diverge). With ranks
   * being exact permutations, the classic closed form is EXACT:
   * `rho_ppm = 1e6 - 6·Σd²·1e6 DIV (n·(n²-1))`, d = rank_x - rank_y —
   * one truncated division, DECIMAL(38,0) sums (Σd² < n³ keeps 38
   * digits to ~3e11 rows per group). Ties-broken-by-id Spearman equals
   * textbook Spearman whenever values are distinct; under heavy ties it
   * is the documented id-consistent variant (both axes break ties by
   * the SAME id, so a constant column yields rho depending only on the
   * id order — screen such columns out with [[DataQuality.profile]]).
   * Null when n < 2; null x/y rows are dropped.
   *
   * Scale: two [[TextAnalysis.withGroupRank]] passes (range exchange +
   * partition-count offset windows each — no group ever collapses onto
   * one reducer) + one final aggregation. Output: group cols +
   * `(n, rho_ppm)`.
   */
  def spearman(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String,
      tieCol: String): DataFrame = {
    val base = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((groupCols :+ xCol :+ yCol :+ tieCol).distinct.map(col): _*)
    val rx = TextAnalysis.withGroupRank(base, "__rx", groupCols,
      col(xCol), col(tieCol))
    val rxy = TextAnalysis.withGroupRank(rx, "__ry", groupCols,
      col(yCol), col(tieCol))
    rxy
      .withColumn("__d", (col("__rx") - col("__ry")).cast("DECIMAL(38,0)"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("DECIMAL(38,0)").as("__n"),
        sum(col("__d") * col("__d")).as("__sd2"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("rho_ppm",
        expr("CAST(CASE WHEN __n < 2 THEN NULL " +
          "ELSE 1000000 - __sd2 * 6000000 DIV (__n * (__n * __n - 1)) " +
          "END AS BIGINT)"))
      .drop("__rx", "__ry", "__d", "__n", "__sd2")
      .select((groupCols :+ "n" :+ "rho_ppm").map(col): _*)
  }

  /**
   * Exact Cohen's kappa per group, in ppm — chance-corrected agreement
   * between two CATEGORICAL labelings of the same rows: two annotators,
   * two versions of a quality classifier, model-vs-human labels. Raw
   * percent-agree rewards skewed label distributions; kappa subtracts the
   * agreement two independent raters with these marginals would reach by
   * luck ("both say 'good' 95% of the time" scores near 0, not 0.9).
   *
   * Single-division exact form (no composed truncations):
   * `kappa_ppm = (n*agree - S) * 1e6 DIV (n² - S)` where
   * `S = Σ_label n_a(label) * n_b(label)` — algebraically
   * `(po - pe) / (1 - pe)` with `po = agree/n`, `pe = S/n²`. The
   * companion `po_ppm`/`pe_ppm` surface the ingredients (each one
   * truncated division). Null kappa when `n² = S` (both raters constant
   * and identical — chance explains everything) or `n = 0`; rows with a
   * null label on either side are dropped first. DECIMAL(38,0) holds
   * `n² * 1e6` to ~3e15 rows per group.
   *
   * Scale: ONE agree/count agg over the rows + ONE (group, label) count
   * agg over the two-sided label union (map-side combined; the union
   * reads the grouped frame twice, label frames are label-sized) + a
   * group-sized join. Output: group cols + `(n, po_ppm, pe_ppm,
   * kappa_ppm)`.
   */
  def cohenKappa(
      df: DataFrame,
      groupCols: Seq[String],
      aCol: String,
      bCol: String): DataFrame = {
    val base = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select((groupCols.map(col) :+ col(aCol).as("__a") :+ col(bCol).as("__b")): _*)
    val gkey = groupCols.map(col)
    val agree = base.groupBy(gkey: _*)
      .agg(count(lit(1)).cast("DECIMAL(38,0)").as("__n"),
        sum(when(col("__a") === col("__b"), 1L).otherwise(0L))
          .cast("DECIMAL(38,0)").as("__agree"))
    val labels = base.select((gkey :+ col("__a").as("__label") :+ lit(1L).as("__isa")): _*)
      .unionByName(base.select((gkey :+ col("__b").as("__label") :+ lit(0L).as("__isa")): _*))
      .groupBy((gkey :+ col("__label")): _*)
      .agg(sum(col("__isa")).cast("DECIMAL(38,0)").as("__na"),
        sum(lit(1L) - col("__isa")).cast("DECIMAL(38,0)").as("__nb"))
      .groupBy(gkey: _*)
      .agg(sum(col("__na") * col("__nb")).as("__s"))
    agree.join(labels, groupCols)
      .withColumn("n", col("__n").cast("long"))
      .withColumn("po_ppm",
        expr("CAST(CASE WHEN __n = 0 THEN NULL " +
          "ELSE __agree * 1000000 DIV __n END AS BIGINT)"))
      .withColumn("pe_ppm",
        expr("CAST(CASE WHEN __n = 0 THEN NULL " +
          "ELSE __s * 1000000 DIV (__n * __n) END AS BIGINT)"))
      .withColumn("kappa_ppm",
        expr("CAST(CASE WHEN __n = 0 OR __n * __n = __s THEN NULL " +
          "ELSE (__n * __agree - __s) * 1000000 DIV (__n * __n - __s) " +
          "END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("po_ppm"),
        col("pe_ppm"), col("kappa_ppm"))): _*)
  }

  /**
   * Exact Fleiss' kappa per group — [[cohenKappa]]'s generalization to
   * ANY fixed number of raters: `ratingsPerSubject` categorical ratings
   * per subject (3 annotators per document, 5 model votes per prompt),
   * rater identity irrelevant. Input is LONG form: one row per rating
   * `(group, subject, category)`. Subjects whose rating count differs
   * from `ratingsPerSubject` are excluded (Fleiss' statistic is only
   * defined on a balanced panel) and surfaced in `n_excluded` — an
   * unexpectedly large value means the upstream join dropped ratings.
   *
   * With `N` kept subjects, `n = ratingsPerSubject`, per-subject
   * category counts `n_ij`, category totals `C_j` and `S = Σ_j C_j²`:
   * `P̄o = Σ_ij n_ij(n_ij−1) / (N·n·(n−1))`, `P̄e = S / (N·n)²`, and the
   * single-division exact form used here is
   * `kappa_ppm = (Po_num·N·n − (n−1)·S) · 1e6 DIV ((n−1)·((N·n)² − S))`
   * — algebraically `(P̄o − P̄e)/(1 − P̄e)` with every intermediate an
   * integer. Null when every rating lands in one category (`S = (N·n)²`
   * — chance explains everything) or `N = 0`. Null categories are a
   * real category. DECIMAL(38,0) holds `(N·n)²·1e6` to ~3e15 ratings
   * per group.
   *
   * Shape: ONE linear pipeline of four map-side-combined aggregations —
   * (group, subject, category) counts (the only row-sized exchange),
   * (group, subject) with the subject's per-category counts collected
   * (bounded by `n` entries), a posexplode whose position-0 row carries
   * the subject-level stats so the (group, category) agg accumulates
   * subject AND category sums in one pass, and a group-sized finisher.
   * No join, no branch that would recompute the row-sized agg. Output:
   * group cols + `(n_subjects, n_excluded, po_ppm, pe_ppm, kappa_ppm)`.
   */
  def fleissKappa(
      df: DataFrame,
      groupCols: Seq[String],
      subjectCol: String,
      categoryCol: String,
      ratingsPerSubject: Int): DataFrame = {
    require(ratingsPerSubject >= 2,
      s"fleissKappa needs >= 2 ratings per subject, got $ratingsPerSubject")
    val n = ratingsPerSubject.toLong
    val g = groupCols.map(col)
    val sc = df.groupBy((g :+ col(subjectCol).as("__subj") :+
        col(categoryCol).as("__cat")): _*)
      .agg(count(lit(1)).as("__cnt"))
    val subj = sc.groupBy((g :+ col("__subj")): _*)
      .agg(sum(col("__cnt")).as("__tot"),
        sum(col("__cnt") * (col("__cnt") - 1L)).as("__po"),
        collect_list(struct(col("__cat").as("c"), col("__cnt").as("k")))
          .as("__cats"))
    val exploded = subj.select((g :+ col("__tot") :+ col("__po") :+
      posexplode(col("__cats")).as(Seq("__pos", "__e"))): _*)
    val byCat = exploded
      .groupBy((g :+ col("__e.c").as("__cat")): _*)
      .agg(sum(when(col("__tot") === n, col("__e.k")).otherwise(0L))
          .cast("DECIMAL(38,0)").as("__cj"),
        sum(when(col("__pos") === 0 && col("__tot") === n, 1L).otherwise(0L))
          .as("__ns"),
        sum(when(col("__pos") === 0 && col("__tot") =!= n, 1L).otherwise(0L))
          .as("__ne"),
        sum(when(col("__pos") === 0 && col("__tot") === n, col("__po"))
          .otherwise(0L)).as("__pop"))
    byCat.groupBy(g: _*)
      .agg(sum(col("__cj") * col("__cj")).as("__s"),
        sum(col("__ns")).as("n_subjects"),
        sum(col("__ne")).as("n_excluded"),
        sum(col("__pop")).cast("DECIMAL(38,0)").as("__po_num"))
      .withColumn("__nn",
        (col("n_subjects") * n).cast("DECIMAL(38,0)"))
      .withColumn("po_ppm",
        expr(s"CAST(CASE WHEN n_subjects = 0 THEN NULL " +
          s"ELSE __po_num * 1000000 DIV (__nn * ${n - 1}L) END AS BIGINT)"))
      .withColumn("pe_ppm",
        expr("CAST(CASE WHEN n_subjects = 0 THEN NULL " +
          "ELSE __s * 1000000 DIV (__nn * __nn) END AS BIGINT)"))
      .withColumn("kappa_ppm",
        expr(s"CAST(CASE WHEN n_subjects = 0 OR __nn * __nn = __s THEN NULL " +
          s"ELSE (__po_num * __nn - ${n - 1}L * __s) * 1000000 " +
          s"DIV (${n - 1}L * (__nn * __nn - __s)) END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n_subjects"), col("n_excluded"),
        col("po_ppm"), col("pe_ppm"), col("kappa_ppm"))): _*)
  }

  /**
   * The shared fixed-edge bin law `least(score * bins DIV 1e6, bins-1)`
   * clamped at 0, in pure Column API: DECIMAL(38,0) multiply before the
   * divide (an IntegerType score column would overflow a 32-bit
   * `score * bins` for large bins under the old `expr` splice) and
   * `floor` on the exact decimal quotient. Post-clamp this equals
   * truncating DIV for every input (negatives land <= 0 either way and
   * clamp to bin 0). Column-API throughout, so score columns needing
   * backticks work like everywhere else.
   */
  private[graft] def calBin(scorePpmCol: String, bins: Int) =
    least(greatest(
      floor(col(scorePpmCol).cast("DECIMAL(38,0)") * bins / lit(1000000)),
      lit(0L)), lit(bins - 1L)).cast("long")

  /**
   * Exact calibration table for a [0, 1e6]-ppm score against a boolean
   * outcome — "when the quality classifier says 700k, is the doc good
   * ~70% of the time?". Equal-width bins over the FIXED ppm domain
   * (`bin = least(score * bins DIV 1e6, bins - 1)`; fixed edges, not
   * quantiles, so slices/days re-aggregate bin-for-bin and replay
   * digit-for-digit). Per (group, bin): `n`, `mean_score_ppm`
   * (truncated), `pos_rate_ppm` — the reliability-diagram rows. Scores
   * outside [0, 1e6] are a caller bug: clamped into the edge bins so
   * mass is conserved (same law as the streaming histogram cells).
   *
   * [[calibrationFromCells]] over [[calibrationCells]]: the finishing
   * (group, bin) agg rides the cells' partitioning, so ONE exchange;
   * output is bins-sized.
   */
  def calibrationBins(
      df: DataFrame,
      groupCols: Seq[String],
      scorePpmCol: String,
      outcomeCol: String,
      bins: Int = 10): DataFrame =
    calibrationFromCells(
      calibrationCells(df, groupCols, scorePpmCol, outcomeCol, bins), groupCols)

  /**
   * The NUMERATOR cells behind [[calibrationBins]] — per (group, bin):
   * `n`, `sum_score` and `pos` — the form that merges EXACTLY across
   * slices/days/streams (sum the three columns per bin, then finish with
   * [[calibrationFromCells]]; re-aggregating the truncated rates of
   * [[calibrationBins]] directly would compose truncations). This is
   * what a daily calibration-monitor job should persist, and what the
   * S22 streaming rollup emits per window. Rows with a null score or
   * outcome drop. ONE map-side-combined agg.
   */
  def calibrationCells(
      df: DataFrame,
      groupCols: Seq[String],
      scorePpmCol: String,
      outcomeCol: String,
      bins: Int = 10): DataFrame = {
    require(bins > 0, "calibrationCells needs at least one bin")
    df.where(col(scorePpmCol).isNotNull && col(outcomeCol).isNotNull)
      .withColumn("bin", calBin(scorePpmCol, bins))
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(scorePpmCol).cast("DECIMAL(38,0)")).as("sum_score"),
        sum(when(col(outcomeCol), 1L).otherwise(0L))
          .cast("DECIMAL(38,0)").as("pos"))
  }

  /**
   * Finish re-aggregated [[calibrationCells]] into the
   * [[calibrationBins]] schema (`n`, `mean_score_ppm`, `pos_rate_ppm`
   * per (group, bin)) — the EXACT merge path: summing cells then
   * finishing here equals building the bins over the whole data, so
   * daily cells roll up to any horizon digit-for-digit (then
   * [[eceFromBins]] for the one-number gate). One (group, bin) agg that
   * rides the cells' partitioning when they were just built.
   */
  def calibrationFromCells(cells: DataFrame, groupCols: Seq[String]): DataFrame =
    cells
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(sum(col("n")).cast("DECIMAL(38,0)").as("__n"),
        sum(col("sum_score").cast("DECIMAL(38,0)")).as("__ss"),
        sum(col("pos").cast("DECIMAL(38,0)")).as("__pos"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("mean_score_ppm", expr("CAST(__ss DIV __n AS BIGINT)"))
      .withColumn("pos_rate_ppm",
        expr("CAST(__pos * 1000000 DIV __n AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("bin"), col("n"),
        col("mean_score_ppm"), col("pos_rate_ppm"))): _*)

  /**
   * Expected calibration error from a [[calibrationBins]] frame:
   * `ece_ppm = Σ_bin n_bin * |pos_rate - mean_score| DIV n` — the
   * bin-mass-weighted gap between claimed confidence and observed rate,
   * the one-number summary a classifier gate alarms on. Mergeable the
   * same way the bins are: re-aggregate bin rows across slices first
   * (sum `n`, recompute rates from re-summed numerators is the EXACT
   * path — or call this on the whole-data bins as built). Output: group
   * cols + `(n, ece_ppm)`.
   */
  def eceFromBins(binsDf: DataFrame, groupCols: Seq[String]): DataFrame =
    binsDf
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).cast("DECIMAL(38,0)").as("__n"),
        sum(col("n").cast("DECIMAL(38,0)") *
          abs(col("pos_rate_ppm") - col("mean_score_ppm"))).as("__w"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("ece_ppm",
        expr("CAST(CASE WHEN __n = 0 THEN NULL ELSE __w DIV __n END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("ece_ppm"))): _*)

  /**
   * Exact precision/recall/F1 sweep over EVERY observed score threshold
   * per group — the operating-point picker behind a quality-classifier
   * gate ("which cutoff keeps 95% of the good docs?") and the exact PR
   * curve behind average-precision eyeballing. For each distinct score
   * `v` in the group, the row reports the confusion counts of the rule
   * "predict positive when score >= v": `tp = P - cumPos(<v)`,
   * `fp = N - cumNeg(<v)`, `fn = P - tp`, plus `precision_ppm`,
   * `recall_ppm` and `f1_ppm` — each ONE truncated division of
   * non-negative integers, so every row replays digit-for-digit in any
   * engine. `positive` labels each row (null labels and null scores are
   * excluded). The threshold column keeps the score column's name.
   *
   * ROC-AUC needs no sweep at all: it is [[Drift.mannWhitney]]'s
   * `auc_ppm` with `inA = positive` (rank-sum identity, ties half).
   *
   * Plan: the [[Drift.ksTest]] scaffold — ONE (group, score) count agg
   * collapses the rows, then [[Sketches.rangedCumSums]] spreads the
   * running sums over range partitions (no one-reducer-per-group
   * ordered window however many distinct scores), then per-row
   * arithmetic. Output is distinct-score-frame-sized.
   */
  def prSweep(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      positive: Column): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    Drift.cumCounts(df, groupCols, scoreCol, positive)
      .withColumn("tp", (col("n_a") - col("cuma") + col("ca")).cast("long"))
      .withColumn("fp", (col("n_b") - col("cumb") + col("cb")).cast("long"))
      .withColumn("fn", (col("cuma") - col("ca")).cast("long"))
      .withColumn("precision_ppm",
        expr(s"CAST(CASE WHEN tp + fp = 0 THEN NULL " +
          s"ELSE CAST(tp AS $d38) * 1000000 DIV (tp + fp) END AS BIGINT)"))
      .withColumn("recall_ppm",
        expr(s"CAST(CASE WHEN n_a = 0 THEN NULL " +
          s"ELSE CAST(tp AS $d38) * 1000000 DIV n_a END AS BIGINT)"))
      .withColumn("f1_ppm",
        expr(s"CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN NULL " +
          s"ELSE CAST(tp AS $d38) * 2000000 DIV (2 * tp + fp + fn) END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col(scoreCol),
        col("n_a").cast("long").as("n_pos"), col("n_b").cast("long").as("n_neg"),
        col("tp"), col("fp"), col("fn"),
        col("precision_ppm"), col("recall_ppm"), col("f1_ppm"))): _*)
  }

  /**
   * CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker 2013,
   * "Improving the Sensitivity of Online Controlled Experiments by
   * Utilizing Pre-Experiment Data") — the experimentation-platform
   * standard for shrinking metric variance WITHOUT more traffic: each
   * unit's metric `y` is adjusted by its pre-experiment covariate `x`
   * (same metric, earlier window), `ŷ = y − θ·(x − x̄)`, where
   * `θ = Cov(x,y)/Var(x)` is fit POOLED across arms per group (fitting
   * per-arm would bias the contrast; the pooled θ leaves the expected
   * lift untouched while cancelling the pre-existing between-user
   * spread — typically 40-60% variance cut on revenue metrics).
   *
   * Exact integer arithmetic end-to-end: per-(group, arm) sums
   * `n, Σx, Σy, Σxy, Σx²` aggregate exactly in DECIMAL(38,0); with the
   * pooled totals,
   * `theta_ppm = (N·ΣXY − ΣX·ΣY) * 1e6 DIV (N·ΣXX − ΣX²)` and each
   * arm's `adj_mean_y_micro = mean_y_micro − theta_ppm *
   * (mean_x_micro − pooled_mean_x_micro) DIV 1e6` (means are
   * `Σ·1e6 DIV n`). Both engines truncate integer division toward zero,
   * so every composed step replays digit-for-digit. `theta_ppm` is null
   * (and the adjustment a no-op) when the covariate is constant; rows
   * with a null arm/x/y are excluded. The A/B contrast is the caller's
   * subtraction of two output rows — exactly the readout
   * [[chiSquare2x2]] gives for rates, for MEANS.
   *
   * Plan: ONE (group, arm) five-sum aggregation (map-side combined)
   * collapses the rows; pooled totals ride a group window over the
   * ARM-sized frame; everything after is per-row integer math. Output
   * per (group, arm): `n, mean_y_micro, theta_ppm, adj_mean_y_micro`.
   */
  def cupedAdjust(
      df: DataFrame,
      groupCols: Seq[String],
      armCol: String,
      yCol: String,
      xCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    def s(c: String) = col(c).cast(d38)
    val arms = df
      .where(col(armCol).isNotNull && col(yCol).isNotNull && col(xCol).isNotNull)
      .groupBy((groupCols.map(col) :+ col(armCol)): _*)
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(s(xCol)).as("__sx"), sum(s(yCol)).as("__sy"),
        sum(s(xCol) * s(yCol)).as("__sxy"), sum(s(xCol) * s(xCol)).as("__sxx"))
    val byGroup = Window.partitionBy(groupCols.map(col): _*)
    arms
      .withColumn("__tn", sum(col("__n")).over(byGroup))
      .withColumn("__tx", sum(col("__sx")).over(byGroup))
      .withColumn("__ty", sum(col("__sy")).over(byGroup))
      .withColumn("__txy", sum(col("__sxy")).over(byGroup))
      .withColumn("__txx", sum(col("__sxx")).over(byGroup))
      .withColumn("theta_ppm",
        expr("CAST(CASE WHEN __tn * __txx - __tx * __tx = 0 THEN NULL " +
          "ELSE (__tn * __txy - __tx * __ty) * 1000000 " +
          "DIV (__tn * __txx - __tx * __tx) END AS BIGINT)"))
      .withColumn("mean_y_micro",
        expr("CAST(__sy * 1000000 DIV __n AS BIGINT)"))
      .withColumn("adj_mean_y_micro",
        expr("CAST(CASE WHEN theta_ppm IS NULL THEN __sy * 1000000 DIV __n " +
          "ELSE __sy * 1000000 DIV __n - CAST(theta_ppm AS DECIMAL(38,0)) * " +
          "(__sx * 1000000 DIV __n - __tx * 1000000 DIV __tn) DIV 1000000 " +
          "END AS BIGINT)"))
      .withColumn("n", col("__n").cast("long"))
      .select((groupCols.map(col) ++ Seq(col(armCol), col("n"),
        col("mean_y_micro"), col("theta_ppm"), col("adj_mean_y_micro"))): _*)
  }

  /**
   * McNemar's test per group — THE comparison for two classifiers scored
   * on the SAME rows (new quality model vs old, lang-ID v2 vs v1):
   * accuracy deltas ignore that the models share the rows, so they
   * overstate noise; McNemar looks only at the DISAGREEMENT cells —
   * `b` (A right, B wrong) vs `c` (A wrong, B right) — and asks whether
   * the flips favor one side beyond chance:
   * `mcnemar_micro = (b − c)²·1e6 DIV (b + c)`, exact integers, one
   * truncated division, compared against χ²(1) (3.84 at α = 0.05).
   * Null when the models never disagree (`b + c = 0` — no information).
   * Output per group: `n, both_right, both_wrong, b, c, mcnemar_micro`.
   * ONE conditional-count aggregation pass.
   */
  def mcnemar(
      df: DataFrame,
      groupCols: Seq[String],
      aCorrect: Column,
      bCorrect: Column): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    df.where(aCorrect.isNotNull && bCorrect.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(aCorrect && bCorrect, 1L).otherwise(0L)).as("both_right"),
        sum(when(!aCorrect && !bCorrect, 1L).otherwise(0L)).as("both_wrong"),
        sum(when(aCorrect && !bCorrect, 1L).otherwise(0L)).as("b"),
        sum(when(!aCorrect && bCorrect, 1L).otherwise(0L)).as("c"))
      .withColumn("mcnemar_micro",
        expr(s"CAST(CASE WHEN b + c = 0 THEN NULL " +
          s"ELSE CAST(b - c AS $d38) * (b - c) * 1000000 DIV (b + c) " +
          s"END AS BIGINT)"))
  }

  /**
   * Exact Brier score per group — the PROPER scoring rule beside
   * [[eceFromBins]]'s binned calibration gap: `mean((p − y)²)` over ppm
   * scores and boolean outcomes, computed as
   * `brier_micro = Σ(score_ppm − y·1e6)² DIV (n·1e6)` — the squared
   * errors are exact integers (ppm² summed in DECIMAL(38,0)), ONE
   * truncated division scales back to micro units (0 = oracle,
   * 250000 = the 0.25 of always-saying-half). Unlike ECE it cannot be
   * gamed by coarse bins, and unlike AUC it punishes miscalibration,
   * not just misranking — the three belong on the same dashboard. Null
   * scores/outcomes drop; ONE map-side-combined aggregation.
   */
  def brierScore(
      df: DataFrame,
      groupCols: Seq[String],
      scorePpmCol: String,
      outcomeCol: String): DataFrame =
    brierCells(df, groupCols, scorePpmCol, outcomeCol)
      .withColumn("brier_micro",
        expr("CAST(CASE WHEN n = 0 THEN NULL " +
          "ELSE se DIV (CAST(n AS DECIMAL(38,0)) * 1000000) END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("brier_micro"))): _*)

  /** The mergeable `(n, se)` numerators of [[brierScore]]:
    * `se = Σ(score_ppm − y·1e6)²` in DECIMAL(38,0). */
  private[graft] def brierCells(
      df: DataFrame,
      groupCols: Seq[String],
      scorePpmCol: String,
      outcomeCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val err = (col(scorePpmCol).cast(d38) -
      when(col(outcomeCol), lit(1000000L)).otherwise(lit(0L)).cast(d38))
    df.where(col(scorePpmCol).isNotNull && col(outcomeCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(err * err).as("se"))
  }

  /**
   * Per-class precision/recall/F1 from a CONFUSION-COUNTS frame — the
   * multi-class evaluation finisher over the `(true, pred, n)` cells a
   * confusion query (e.g. `lang_confusion`) already produces: per TRUE
   * class, `tp` (diagonal), `fn` (row mass off the diagonal), `fp`
   * (column mass off the diagonal), and the three ppm rates, each ONE
   * truncated division of non-negative integers. Classes that only ever
   * appear as predictions (never as truth) still get a row — their
   * precision is the damning number. Mergeable by construction: cells
   * from disjoint slices ADD before finishing (the [[chi2FromCells]]
   * discipline). Macro-F1 is the caller's one-line average over the
   * output; micro-F1 over single-label data is plain accuracy. Two
   * cell-frame-sized aggs + one full-outer class join — nothing here
   * ever rescans rows.
   */
  def f1FromConfusion(
      cells: DataFrame,
      groupCols: Seq[String],
      trueCol: String,
      predCol: String,
      nCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val n = col(nCol).cast(d38)
    val byTrue = cells.groupBy((groupCols.map(col) :+
        col(trueCol).as("clazz")): _*)
      .agg(sum(when(col(trueCol) === col(predCol), n).otherwise(lit(0L).cast(d38)))
          .as("__tp"),
        sum(when(col(trueCol) =!= col(predCol), n).otherwise(lit(0L).cast(d38)))
          .as("__fn"))
    val byPred = cells.groupBy((groupCols.map(col) :+
        col(predCol).as("clazz")): _*)
      .agg(sum(when(col(trueCol) =!= col(predCol), n).otherwise(lit(0L).cast(d38)))
          .as("__fp"))
    byTrue.join(byPred, groupCols :+ "clazz", "full_outer")
      .withColumn("tp", coalesce(col("__tp"), lit(0L).cast(d38)).cast("long"))
      .withColumn("fn", coalesce(col("__fn"), lit(0L).cast(d38)).cast("long"))
      .withColumn("fp", coalesce(col("__fp"), lit(0L).cast(d38)).cast("long"))
      .withColumn("precision_ppm",
        expr(s"CAST(CASE WHEN tp + fp = 0 THEN NULL " +
          s"ELSE CAST(tp AS $d38) * 1000000 DIV (tp + fp) END AS BIGINT)"))
      .withColumn("recall_ppm",
        expr(s"CAST(CASE WHEN tp + fn = 0 THEN NULL " +
          s"ELSE CAST(tp AS $d38) * 1000000 DIV (tp + fn) END AS BIGINT)"))
      .withColumn("f1_ppm",
        expr(s"CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN NULL " +
          s"ELSE CAST(tp AS $d38) * 2000000 DIV (2 * tp + fp + fn) END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("clazz"), col("tp"), col("fp"),
        col("fn"), col("precision_ppm"), col("recall_ppm"), col("f1_ppm"))): _*)
  }

  /**
   * Effective sample size of a weighted sample per group — Kish's
   * `ESS = (Σw)² / Σw²`, the diagnostic every weighted/importance
   * sampling step owes its consumer: 1e6 ppm of n means the weights are
   * flat (weighting cost nothing), a collapsing `ess_ppm` means a few
   * heavy weights dominate and downstream statistics are running on far
   * fewer effective rows than the row count claims (the quiet failure
   * mode of temperature-mixed corpora and importance-weighted evals).
   * Exact: `ess_scaled = (Σw)²·1e6 DIV Σw²` (ESS ×1e6) and
   * `ess_ppm = (Σw)²·1e6 DIV (n·Σw²)` — one truncated division each,
   * null at zero weight mass. Null weights drop; negative weights are a
   * caller contract violation. ONE map-side-combined aggregation.
   */
  def effectiveSampleSize(
      df: DataFrame,
      groupCols: Seq[String],
      weightCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val w = col(weightCol).cast(d38)
    df.where(col(weightCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(w).as("__sw"), sum(w * w).as("__sww"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("ess_scaled",
        expr("CAST(CASE WHEN __sww = 0 THEN NULL " +
          "ELSE __sw * __sw * 1000000 DIV __sww END AS BIGINT)"))
      .withColumn("ess_ppm",
        expr("CAST(CASE WHEN __sww = 0 THEN NULL " +
          "ELSE __sw * __sw * 1000000 DIV (__n * __sww) END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("ess_scaled"),
        col("ess_ppm"))): _*)
  }

  /**
   * Sample-ratio-mismatch (SRM) check per group — the experimentation
   * guardrail that MUST run before any A/B readout is believed: if the
   * arm sizes deviate from the intended equal split more than chance
   * allows, the assignment is broken (bot filtering one arm, a crash in
   * one variant's logging) and every downstream metric is garbage. The
   * equal-split goodness-of-fit statistic reduces to the single-division
   * exact form `chi2_micro = Σ_i (k·o_i − n)² · 1e6 DIV (n·k)` over the
   * k observed arms (algebraically `Σ(o − n/k)²/(n/k)` with no fraction
   * ever materialized). Callers compare against χ²(k−1) — SRM alarms are
   * typically held to α = 0.001 (10.83 at k = 2) because the test runs
   * on every experiment every day. Null arms drop; `chi2_micro` is null
   * for an empty group. One (group, arm) count agg + a group finisher
   * over the arm-sized frame.
   */
  def srmCheck(
      df: DataFrame,
      groupCols: Seq[String],
      armCol: String): DataFrame =
    srmFromCounts(
      df.where(col(armCol).isNotNull)
        .groupBy((groupCols.map(col) :+ col(armCol)): _*)
        .agg(count(lit(1)).as("__cnt")),
      groupCols, armCol, "__cnt")

  /** Finish [[srmCheck]]'s arithmetic from a per-(group, arm) COUNTS
    * frame — the mergeable half: counts from disjoint slices (days,
    * `EventStreams.windowedRollup` windows) ADD per arm before
    * finishing, so a streaming assignment log gets the same guardrail
    * from per-window cells. Re-aggregates by arm first, so sliced cells
    * pass straight through. */
  def srmFromCounts(
      counts: DataFrame,
      groupCols: Seq[String],
      armCol: String,
      countCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    counts
      .groupBy((groupCols.map(col) :+ col(armCol)): _*)
      .agg(sum(col(countCol)).cast(d38).as("__o"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast(d38).as("__k"),
        sum(col("__o")).as("__n"),
        sum(col("__o") * col("__o")).as("__oo"))
      // Σ(k·o − n)² = k²·Σo² − 2kn·Σo + k·n² = k²·Σo² − k·n²  (Σo = n)
      .withColumn("chi2_micro",
        expr("CAST(CASE WHEN __n = 0 THEN NULL " +
          "ELSE (__k * __k * __oo - __k * __n * __n) * 1000000 " +
          "DIV (__n * __k) END AS BIGINT)"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("k", col("__k").cast("long"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("k"),
        col("chi2_micro"))): _*)
  }

  /**
   * Difference-in-differences readout per group — the quasi-experimental
   * contrast when there was no randomization (a feature shipped to one
   * market, a policy hit one source): with per-unit metric rows labeled
   * `treated` and `post`, the effect estimate is
   * `DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre)` — the control
   * arm's time trend cancels out of the treated arm's change (the
   * parallel-trends assumption made computable). Exact micro means via
   * one truncated division per cell, the contrast pure subtraction; any
   * empty cell nulls the estimate (a DiD without all four cells is a
   * different design, not a zero). One conditional-sum aggregation pass
   * — four count/sum pairs fused into a single group agg, the
   * [[chiSquare2x2]] cell discipline for MEANS. Output per group: the
   * four cell `(n, mean_micro)` pairs and `did_micro`.
   */
  def diffInDiff(
      df: DataFrame,
      groupCols: Seq[String],
      treatedCol: Column,
      postCol: Column,
      yCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val y = col(yCol).cast(d38)
    def cell(p: Column, tag: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).cast(d38).as(s"__n_$tag"),
      sum(when(p, y).otherwise(lit(0L).cast(d38))).as(s"__s_$tag"))
    val aggs =
      cell(treatedCol && postCol, "tp") ++ cell(treatedCol && !postCol, "t0") ++
      cell(!treatedCol && postCol, "cp") ++ cell(!treatedCol && !postCol, "c0")
    def mean(tag: String) =
      expr(s"CAST(CASE WHEN __n_$tag = 0 THEN NULL " +
        s"ELSE __s_$tag * 1000000 DIV __n_$tag END AS BIGINT)")
    df.where(treatedCol.isNotNull && postCol.isNotNull && col(yCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("n_treated_post", col("__n_tp").cast("long"))
      .withColumn("n_treated_pre", col("__n_t0").cast("long"))
      .withColumn("n_control_post", col("__n_cp").cast("long"))
      .withColumn("n_control_pre", col("__n_c0").cast("long"))
      .withColumn("mean_tp_micro", mean("tp"))
      .withColumn("mean_t0_micro", mean("t0"))
      .withColumn("mean_cp_micro", mean("cp"))
      .withColumn("mean_c0_micro", mean("c0"))
      .withColumn("did_micro",
        col("mean_tp_micro") - col("mean_t0_micro") -
          (col("mean_cp_micro") - col("mean_c0_micro")))
      .select((groupCols.map(col) ++ Seq(
        col("n_treated_pre"), col("n_treated_post"),
        col("n_control_pre"), col("n_control_post"),
        col("mean_t0_micro"), col("mean_tp_micro"),
        col("mean_c0_micro"), col("mean_cp_micro"), col("did_micro"))): _*)
  }

  /**
   * Mantel–Haenszel pooled 2×2 readout across strata per group — the
   * Simpson's-paradox-proof experiment analysis: when exposure is
   * confounded with a stratifying variable (day, country, device), the
   * naive pooled 2×2 can reverse the true per-stratum effect; MH pools
   * WITHIN-stratum comparisons instead. Two classics in one pass:
   *
   *  - `or_mh_ppm`: the Mantel–Haenszel common odds ratio
   *    `OR = Σ_i(a_i·d_i/n_i) / Σ_i(b_i·c_i/n_i)` in ppm (1e6 = no
   *    effect). Per-stratum terms are carried in truncated MILLI units
   *    (`a·d·1000 DIV n` — each floors < 1 milli, both engines replay
   *    the identical DIV), one truncated division at the end.
   *  - `cmh_chi2_micro`: the Cochran–Mantel–Haenszel statistic
   *    `(Σ(a_i − E_i))² / ΣVar_i` with `E_i = m1·m3/n`,
   *    `Var_i = m1·m2·m3·m4/(n²(n−1))` (margins m1=a+b, m2=c+d, m3=a+c,
   *    m4=b+d), staged so nothing exceeds DECIMAL(38,0) at a billion
   *    rows per stratum: E in milli; Var via
   *    `(m1·m2·1000 DIV n)·(m3·m4·1000 DIV n) DIV (n−1)` (micro units,
   *    each factor ≤ n·1e3, product ≤ 1e24). Compared against χ²(1) —
   *    3.84e6 micro at α = 0.05. Null when every stratum is degenerate
   *    (zero variance: a zero margin, or n < 2).
   *
   * Cells from disjoint slices ADD per stratum before finishing
   * ([[chi2FromCells]] discipline), so daily snapshot stores and
   * streaming windows feed it directly. One (group, stratum) cell agg +
   * one group-sized finish; the strata frame is the scale unit.
   */
  def mantelHaenszel(
      df: DataFrame,
      groupCols: Seq[String],
      stratumCol: String,
      exposureCol: String,
      outcomeCol: String): DataFrame = {
    val e = col(exposureCol)
    val o = col(outcomeCol)
    def cell(p: Column) = sum(when(p, 1L).otherwise(0L)).cast("DECIMAL(38,0)")
    mantelHaenszelFromCells(
      df.where(e.isNotNull && o.isNotNull)
        .groupBy((groupCols.map(col) :+ col(stratumCol)): _*)
        .agg(cell(e && o).as("a"), cell(e && !o).as("b"),
          cell(!e && o).as("c"), cell(!e && !o).as("d")),
      groupCols)
  }

  /** Finish [[mantelHaenszel]] from per-(group, stratum) `(a, b, c, d)`
    * cells — the mergeable half (cells ADD per stratum across days /
    * windows before finishing). Strata with n < 2 or a zero margin
    * contribute nothing to either statistic (their E and Var are
    * degenerate), matching the classical treatment. */
  def mantelHaenszelFromCells(cells: DataFrame, groupCols: Seq[String]): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    def c38(n: String) = col(n).cast(d38)
    cells
      .withColumn("__n", c38("a") + c38("b") + c38("c") + c38("d"))
      .withColumn("__m1", c38("a") + c38("b"))
      .withColumn("__m2", c38("c") + c38("d"))
      .withColumn("__m3", c38("a") + c38("c"))
      .withColumn("__m4", c38("b") + c38("d"))
      // degenerate strata (n<2 or any zero margin) carry no information
      .withColumn("__ok", col("__n") >= 2 && col("__m1") > 0 && col("__m2") > 0 &&
        col("__m3") > 0 && col("__m4") > 0)
      .withColumn("__r_milli",
        expr(s"CASE WHEN __n = 0 THEN CAST(0 AS $d38) " +
          s"ELSE CAST(a AS $d38) * d * 1000 DIV __n END"))
      .withColumn("__s_milli",
        expr(s"CASE WHEN __n = 0 THEN CAST(0 AS $d38) " +
          s"ELSE CAST(b AS $d38) * c * 1000 DIV __n END"))
      .withColumn("__e_milli",
        expr(s"CASE WHEN __ok THEN __m1 * __m3 * 1000 DIV __n " +
          s"ELSE CAST(0 AS $d38) END"))
      .withColumn("__a_milli",
        expr(s"CASE WHEN __ok THEN CAST(a AS $d38) * 1000 " +
          s"ELSE CAST(0 AS $d38) END"))
      .withColumn("__var_micro",
        expr(s"CASE WHEN __ok THEN (__m1 * __m2 * 1000 DIV __n) " +
          s"* (__m3 * __m4 * 1000 DIV __n) DIV (__n - 1) " +
          s"ELSE CAST(0 AS $d38) END"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_strata"),
        sum(col("__n")).cast("long").as("n"),
        sum(col("__r_milli")).as("__r"),
        sum(col("__s_milli")).as("__s"),
        sum(col("__a_milli") - col("__e_milli")).as("__dev_milli"),
        sum(col("__var_micro")).as("__var"))
      .withColumn("or_mh_ppm",
        expr("CAST(CASE WHEN __s = 0 THEN NULL " +
          "ELSE __r * 1000000 DIV __s END AS BIGINT)"))
      .withColumn("cmh_chi2_micro",
        // dev_milli² = dev²·1e6, __var = Var·1e6 → ·1e6 DIV __var = χ²·1e6
        expr("CAST(CASE WHEN __var = 0 THEN NULL " +
          "ELSE __dev_milli * __dev_milli * 1000000 DIV __var " +
          "END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n_strata"), col("n"),
        col("or_mh_ppm"), col("cmh_chi2_micro"))): _*)
  }

  /**
   * Correlation ratio η² (one-way ANOVA effect size) per group — how much
   * of a numeric column's variance a CATEGORICAL column explains:
   * `η² = SS_between / SS_total` in exact integer ppm. Two readings the
   * same cells serve: seasonality strength (category = day-of-week —
   * "is this series weekly-periodic enough to model?") and
   * feature-target association audits (category = source/lang/model —
   * the screen before anyone ships a feature). 0 = the category tells
   * you nothing; 1e6 = the category determines the value.
   *
   * Exact staging: per category `t_c = s_c² DIV n_c` (each floors < 1
   * unit, ≤ k units total — both engines replay the identical DIV), then
   * `eta2_ppm = max(0, N·Σt_c − S²) · 1e6 DIV (N·Σv² − S²)` — one final
   * truncated division; the max(0,·) clamps the ≤ k-unit truncation dip
   * when the true η² is ~0. Null when the value is constant (zero total
   * variance — no variance to explain). Overflow-safe in DECIMAL(38,0)
   * to ~1e9 rows of ~1e7-unit values. Null values/categories drop.
   *
   * ONE (group, category) three-sum agg (map-side combined) + ONE
   * group-sized finish — cells ADD across slices before finishing, the
   * [[chi2FromCells]] discipline for variance decomposition.
   */
  def etaSquared(
      df: DataFrame,
      groupCols: Seq[String],
      categoryCol: String,
      valueCol: String): DataFrame =
    etaSquaredFromCells(etaCells(df, groupCols, categoryCol, valueCol), groupCols)

  /** The DECIMAL(38,0) `(n, s, ss)` cells of [[etaSquared]] per (group,
    * category); null values and categories drop. */
  private[graft] def etaCells(
      df: DataFrame,
      groupCols: Seq[String],
      categoryCol: String,
      valueCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val v = col(valueCol).cast(d38)
    df.where(col(valueCol).isNotNull && col(categoryCol).isNotNull)
      .groupBy((groupCols.map(col) :+ col(categoryCol)): _*)
      .agg(count(lit(1)).cast(d38).as("n"), sum(v).as("s"), sum(v * v).as("ss"))
  }

  /** Finish [[etaSquared]] from per-(group, category) `(n, s, ss)` sum
    * cells — the mergeable half: cells from disjoint slices (days,
    * `EventStreams.etaCellsRollup` windows) ADD element-wise per
    * category before finishing. One row per (group, category) in; the
    * per-category `s² DIV n` staging happens HERE, after the merge, so
    * re-rolled horizons replay the batch digits exactly. */
  def etaSquaredFromCells(cells: DataFrame, groupCols: Seq[String]): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    cells
      .withColumn("__n", col("n").cast(d38))
      .withColumn("__s", col("s").cast(d38))
      .withColumn("__ss", col("ss").cast(d38))
      .withColumn("__t", expr("__s * __s DIV __n"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("k"),
        sum(col("__n")).as("__N"), sum(col("__s")).as("__S"),
        sum(col("__ss")).as("__SS"), sum(col("__t")).as("__T"))
      .withColumn("eta2_ppm",
        expr("CAST(CASE WHEN __N * __SS - __S * __S <= 0 THEN NULL " +
          "ELSE greatest(CAST(0 AS DECIMAL(38,0)), __N * __T - __S * __S) " +
          "* 1000000 DIV (__N * __SS - __S * __S) END AS BIGINT)"))
      .withColumn("n", col("__N").cast("long"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("k"),
        col("eta2_ppm"))): _*)
  }

  /**
   * Kaplan–Meier survival curve per group, in exact ppm — the
   * censoring-aware retention/churn readout (Kaplan & Meier 1958) that a
   * naive "fraction still alive at day t" gets WRONG the moment
   * observation windows differ (users who joined last week aren't
   * churned, they're CENSORED): at each duration `t` with `d_t` events
   * among `n_t` still at risk, `S(t) = S(t⁻)·(n_t − d_t)/n_t`, and
   * censored units leave the risk set without moving the curve.
   *
   * Exact integer replay: survival is carried in ppm and each step is
   * ONE truncated multiply-divide `S' = S·(n − d) DIV n` — the composed
   * truncation is the CONTRACT (both engines replay the same sequence
   * digit-for-digit; each step floors by < 1 ppm, so the curve sits
   * within #event-times ppm of the real-valued one). A cumulative
   * product is inherently sequential per group, so it evaluates as ONE
   * (group, duration) count aggregation + a per-group linear fold over
   * the collected duration-bounded frame (the [[Timeseries.holtForecast]]
   * discipline: groups parallelize, raw units never enter the fold —
   * only distinct durations do). Null durations/flags drop. Output: one
   * row per (group, observed duration): `n_risk, d, c, surv_ppm`.
   */
  def kaplanMeier(
      df: DataFrame,
      groupCols: Seq[String],
      durationCol: String,
      eventCol: Column): DataFrame = {
    val counts = df
      .where(col(durationCol).isNotNull && eventCol.isNotNull)
      .groupBy((groupCols.map(col) :+ col(durationCol).cast("long").as("__t")): _*)
      .agg(sum(when(eventCol, 1L).otherwise(0L)).as("__d"),
        sum(when(!eventCol, 1L).otherwise(0L)).as("__c"))
    counts
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__t"), col("__d"), col("__c"))))
          .as("__s"),
        sum(col("__d") + col("__c")).as("__n"))
      .withColumn("__rows", expr(
        """aggregate(
             __s,
             struct(CAST(__n AS BIGINT) AS at_risk,
                    CAST(1000000 AS BIGINT) AS surv,
                    CAST(array() AS
                      ARRAY<STRUCT<t: BIGINT, n_risk: BIGINT, d: BIGINT,
                                   c: BIGINT, surv: BIGINT>>) AS out),
             (acc, x) -> struct(
               acc.at_risk - x.__d - x.__c AS at_risk,
               CASE WHEN x.__d > 0
                 THEN acc.surv * (acc.at_risk - x.__d) DIV acc.at_risk
                 ELSE acc.surv END AS surv,
               concat(acc.out, array(struct(
                 x.__t AS t, acc.at_risk AS n_risk, x.__d AS d, x.__c AS c,
                 CASE WHEN x.__d > 0
                   THEN acc.surv * (acc.at_risk - x.__d) DIV acc.at_risk
                   ELSE acc.surv END AS surv))) AS out),
             acc -> acc.out)"""))
      .select((groupCols.map(col) :+ explode(col("__rows")).as("__r")): _*)
      .select((groupCols.map(col) ++ Seq(
        col("__r.t").as(durationCol), col("__r.n_risk").as("n_risk"),
        col("__r.d").as("d"), col("__r.c").as("c"),
        col("__r.surv").as("surv_ppm"))): _*)
  }

  /**
   * Exact Gini + Herfindahl–Hirschman concentration of a non-negative
   * quantity per group — "how unequal is spend across customers / token
   * mass across sources / traffic across hosts": the source-diversity
   * readout a curation pipeline watches before a head source swamps the
   * mix (the ECONOMIC twin of [[DataQuality.giniDiversity]]'s
   * category-entropy shape). Two classic axes at once:
   *
   *  - `gini_ppm`: the Lorenz-curve Gini via the sorted-rank identity
   *    `G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)` — 0 = everyone equal,
   *    →1e6 = one unit owns everything. The rank-weighted sum is
   *    invariant under any ordering of equal values (a tied block
   *    contributes `x·Σi` regardless of internal order), and ranks ride
   *    [[TextAnalysis.withGroupRank]]'s range-partition recipe — no
   *    one-reducer group window at any cardinality.
   *  - `hhi_ppm = Σx² · 1e6 DIV (Σx)²`: the Herfindahl index (sum of
   *    squared shares) in ONE division — 1e6/n = perfect spread,
   *    1e6 = monopoly; the mergeable-sums axis (Σx, Σx² add across
   *    slices) beside Gini's rank-exact one.
   *
   * Both null when `Σx = 0`. Negative values are the caller's contract
   * violation (a Lorenz curve is defined on non-negative mass); null
   * values drop. One ranked pass + ONE final aggregation. Output per
   * group: `n, sum_v, gini_ppm, hhi_ppm`.
   */
  def giniConcentration(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      tieCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    val ranked = TextAnalysis.withGroupRank(
      df.where(col(valueCol).isNotNull)
        .select((groupCols :+ valueCol :+ tieCol).distinct.map(col): _*),
      "__rk", groupCols, col(valueCol), col(tieCol))
    ranked
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col(valueCol).cast(d38)).as("__sx"),
        sum(col(valueCol).cast(d38) * col(valueCol).cast(d38)).as("__sxx"),
        sum(col("__rk").cast(d38) * col(valueCol).cast(d38)).as("__srx"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("sum_v", col("__sx").cast("long"))
      .withColumn("gini_ppm",
        expr("CAST(CASE WHEN __sx = 0 THEN NULL " +
          "ELSE (2 * __srx - (__n + 1) * __sx) * 1000000 DIV (__n * __sx) " +
          "END AS BIGINT)"))
      .withColumn("hhi_ppm",
        expr("CAST(CASE WHEN __sx = 0 THEN NULL " +
          "ELSE __sxx * 1000000 DIV (__sx * __sx) END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("sum_v"),
        col("gini_ppm"), col("hhi_ppm"))): _*)
  }

  /**
   * Exact 2-D Pareto front (skyline), MAXIMIZING both columns: rows kept
   * iff no other row is >= in both dimensions and strictly greater in at
   * least one — "cheapest-for-its-size" style frontier queries (negate a
   * column to minimize it). Equal (x, y) twins are mutually non-dominating
   * and both survive.
   *
   * The naive form is an all-pairs dominance anti-join; this one is the
   * classic sweep: per-x-group maxima (a row must be its group's best y —
   * an equal-x row with greater y dominates it), then an exclusive
   * running max of group-best y over x DESCENDING
   * ([[Intervals.withRunningMaxBefore]] — the no-one-reducer global
   * scan), and a row survives iff its y strictly beats everything seen at
   * strictly greater x. One x-keyed agg + the range-partition scan + one
   * x-keyed join: no all-pairs anywhere, at any scale.
   */
  def paretoFront2D(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val rows = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
    val groups = rows.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
    val scanned = Intervals.withRunningMaxBefore(groups, "__m1", "__ymax",
      col(xCol).desc)
    rows.join(scanned, Seq(xCol))
      .where(col(yCol) === col("__ymax") &&
        (col("__m1").isNull || col(yCol) > col("__m1")))
      .select(rows.columns.map(col): _*) // the key-join reorders; restore
  }

  /** Finish [[olsFit]]'s arithmetic from an [[olsSums]]-shaped frame. */
  def olsFromSums(sums: DataFrame, groupCols: Seq[String]): DataFrame =
    sums
      .withColumn("__dxx", expr("n * sxx - sx * sx"))
      .withColumn("__dxy", expr("n * sxy - sx * sy"))
      .withColumn("__dyy", expr("n * syy - sy * sy"))
      .withColumn("slope_ppm",
        expr("CAST(CASE WHEN __dxx = 0 THEN NULL " +
          "ELSE __dxy * 1000000 DIV __dxx END AS BIGINT)"))
      .withColumn("intercept_ppm",
        expr("CAST(CASE WHEN __dxx = 0 THEN NULL " +
          "ELSE (sy * 1000000 - (__dxy * 1000000 DIV __dxx) * sx) DIV n " +
          "END AS BIGINT)"))
      .withColumn("r2_ppm",
        expr("CAST(CASE WHEN __dxx = 0 OR __dyy = 0 THEN NULL " +
          "ELSE (__dxy * 1000000 DIV __dxx) * (__dxy * 1000000000 DIV __dyy) " +
          "DIV 1000000000 END AS BIGINT)"))
      .select(groupCols.map(col) ++ Seq(
        col("n").cast("long").as("n"),
        col("slope_ppm"), col("intercept_ppm"), col("r2_ppm")): _*)

  /**
   * Exact per-group MODE of a column with a deterministic tie law: the
   * value with the highest count, ties to the LARGEST value (numeric or
   * binary-collation string order — a total order, so the result is a
   * pure function of the data where a bare `max_by` would be
   * tie-nondeterministic). Output: group columns + `mode` + `mode_n`.
   *
   * Two map-side-combined aggregations ((group, value) counts, then a
   * per-group struct-max argmax) — never a window, never a sort; the
   * intermediate frame is distinct-value-sized. For top-K (not top-1)
   * dominators at unbounded cardinality, use the Misra-Gries sketch
   * ([[Sketches.heavyHittersRollup]]).
   */
  /**
   * Rank (quantile) normalization of a numeric column per group — the
   * scale-free feature transform of dataset curation ("where does this
   * document's length sit within its SOURCE?", "this score within its
   * model version?"): each row gets its mid-rank quantile
   * `q_ppm = (2·rank − 1)·1e6 DIV (2·n)` under the TOTAL order
   * `(value, tieCol)` — exact integers, uniform on (0, 1e6), directly
   * comparable across groups and features of any scale, robust to any
   * monotone transform of the raw values (the same rank law
   * [[spearman]] is built on). The tie column (an id) makes the
   * quantile a pure function of the data, not the partitioning.
   *
   * Ranks ride `TextAnalysis.withGroupRank`'s range-partition + offset
   * recipe, so a billion-row group spreads over every shard (no
   * one-reducer group window); sizes are one broadcastable group-sized
   * agg. Null values pass through with null `q_ppm` (dropping rows
   * would surprise a feature pipeline).
   */
  def rankNormalize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      tieCol: String,
      outCol: String = "q_ppm"): DataFrame = {
    val present = df.where(col(valueCol).isNotNull)
    val ranked = graft.ops.TextAnalysis.withGroupRank(
      present, "__rank", groupCols, col(valueCol), col(tieCol))
    val sizes = present.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val normalized = ranked.join(broadcast(sizes), groupCols)
      .withColumn(outCol, expr("(2 * __rank - 1) * 1000000 DIV (2 * __n)"))
      .drop("__rank", "__n")
    df.where(col(valueCol).isNull)
      .withColumn(outCol, lit(null).cast("long"))
      .unionByName(normalized)
  }

  /**
   * Per-group winsorization — clamp `valueCol` into its group's
   * `[loPct, hiPct]` EXACT nearest-rank percentile caps: the robust
   * outlier treatment of feature pipelines (cap transaction cents at
   * p99 before a mean, tame doc-length tails before a quality model)
   * that, unlike dropping rows, keeps n intact. Caps come from
   * [[graft.ops.Sketches.exactPercentiles]]'s range-partition recipe
   * (exact integers, no one-reducer group window at any cardinality);
   * the transform itself is a BROADCAST join of the group-sized caps
   * frame + a per-row `least/greatest` — rows never shuffle. Null
   * values pass through null with null flags (a feature pipeline must
   * not lose rows). Adds `outCol` (the clamped value), `clipped_lo`,
   * `clipped_hi`.
   */
  def winsorize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      loPct: Int = 5,
      hiPct: Int = 95,
      outCol: String = "winsorized"): DataFrame = {
    require(1 <= loPct && loPct < hiPct && hiPct <= 100,
      s"need 1 <= loPct < hiPct <= 100, got [$loPct, $hiPct]")
    val caps = graft.ops.Sketches.exactPercentiles(df, groupCol, valueCol, Seq(loPct, hiPct))
      .groupBy(col(groupCol))
      .agg(min(when(col("pct") === loPct, col(valueCol))).as("__lo"),
        min(when(col("pct") === hiPct, col(valueCol))).as("__hi"))
    df.join(broadcast(caps), Seq(groupCol), "left")
      // Spark's least/greatest SKIP nulls (a null value would clamp to the
      // cap instead of passing through) — guard the null branch explicitly
      .withColumn(outCol, when(col(valueCol).isNull, lit(null))
        .otherwise(least(greatest(col(valueCol), col("__lo")), col("__hi"))))
      .withColumn("clipped_lo", col(valueCol) < col("__lo"))
      .withColumn("clipped_hi", col(valueCol) > col("__hi"))
      .drop("__lo", "__hi")
  }

  /**
   * k×k chi-squared ASSOCIATION between two categorical columns per group
   * + Cramér's V² — the feature-association / leakage screen ("does
   * `source` determine `lang`? is the split column secretly correlated
   * with the label?") beside [[graft.ops.Drift.chiSquareKx2]]'s
   * two-SAMPLE homogeneity: this one crosses two columns of the SAME
   * rows. With cell counts `o_ij`, row totals `r_i`, column totals
   * `c_j`, total `n`, the classic statistic reduces by the identity
   * `χ² = n·(Σ_ij o_ij²/(r_i·c_j) − 1)` — the form where ABSENT cells
   * genuinely vanish (in the textbook `(o−e)²/e` sum an empty cell
   * still contributes `r_i·c_j/n`; the identity folds all of those into
   * the `−n` term, so the observed-cell frame is sufficient). Computed
   * in micro units with ONE truncated division per cell:
   * `term = o²·n·1e6 DIV (r_i·c_j)` (each floors within 1 micro; the
   * k²-cell sum is within k² micro; `o²·n·1e6` stays inside
   * DECIMAL(38,0) up to ~4e10 rows per group), then
   * `χ²_micro = max(0, Σ term − n·1e6)` — the clamp absorbs the
   * flooring on an exactly-independent table. The effect size is
   * reported SQUARED:
   * `v2_ppm = χ²_micro DIV (n · min(R−1, C−1))` so everything stays a
   * pure integer function of the counts (`V = sqrt(v2_ppm / 1e6)` is
   * the caller's one irrational step). Null in either column drops the
   * row; null when the table is degenerate (R < 2 or C < 2).
   *
   * Plan: ONE (group, x, y) count agg collapses rows to the
   * category-pair frame; marginals ride windows over that bounded frame
   * (never raw rows — pre-bucket an unbounded "category" first, as any
   * k×k test must); one group finisher. Output per group:
   * `n, r, c, chi2_micro, v2_ppm`.
   */
  def cramersV(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "DECIMAL(38,0)"
    val cells = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy((groupCols.map(col) ++ Seq(col(xCol), col(yCol))): _*)
      .agg(count(lit(1)).cast(d38).as("__o"))
    val byGroup = Window.partitionBy(groupCols.map(col): _*)
    val byRow = Window.partitionBy((groupCols.map(col) :+ col(xCol)): _*)
    val byCol = Window.partitionBy((groupCols.map(col) :+ col(yCol)): _*)
    cells
      .withColumn("__r", sum(col("__o")).over(byRow))
      .withColumn("__c", sum(col("__o")).over(byCol))
      .withColumn("__n", sum(col("__o")).over(byGroup))
      .withColumn("__nr", size(collect_set(col(xCol)).over(byGroup)))
      .withColumn("__nc", size(collect_set(col(yCol)).over(byGroup)))
      .withColumn("__term",
        expr("__o * __o * __n * 1000000 DIV (__r * __c)"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        max(col("__n")).cast("long").as("n"),
        max(col("__nr")).cast("long").as("r"),
        max(col("__nc")).cast("long").as("c"),
        sum(col("__term")).as("__t"))
      .withColumn("__chi2",
        expr(s"greatest(CAST(0 AS DECIMAL(38,0)), __t - CAST(n AS DECIMAL(38,0)) * 1000000)"))
      .withColumn("chi2_micro",
        expr("CAST(CASE WHEN r >= 2 AND c >= 2 THEN __chi2 END AS BIGINT)"))
      .withColumn("v2_ppm",
        expr("CAST(CASE WHEN r >= 2 AND c >= 2 THEN " +
          "__chi2 DIV (CAST(n AS DECIMAL(38,0)) * least(r - 1, c - 1)) " +
          "END AS BIGINT)"))
      .drop("__chi2", "__t")
  }

  /**
   * Class-balance audit of a label column per group — the
   * dataset-curation readout before training on labeled (or
   * pseudo-labeled) data: `n`, `k` (distinct labels), `majority` and its
   * share `majority_ppm`, and the Gini impurity
   * `gini_ppm = 1e6 - Σ c_i² · 1e6 DIV n²` — an EXACT integer
   * (0 = one class, → 1e6·(1−1/k) = uniform), unlike entropy whose
   * logarithms would never replay digit-for-digit across engines. Null
   * labels are excluded from the distribution but surfaced as `n_null`
   * (silently folding them in would flatter balance).
   *
   * One (group, label) count agg + one group finisher, both
   * map-side-combined; the intermediate frame is label-vocabulary-sized.
   * DECIMAL(38,0) squares keep `Σc²` exact past 1e9-row classes.
   */
  def labelBalance(
      df: DataFrame,
      groupCols: Seq[String],
      labelCol: String): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    df.groupBy((groupCols :+ labelCol).map(col): _*)
      .agg(count(lit(1)).cast(d38).as("__c"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col(labelCol).isNotNull, col("__c"))).as("__n"),
        sum(when(col(labelCol).isNull, col("__c"))).as("__nn"),
        count(when(col(labelCol).isNotNull, lit(1))).as("k"),
        max(when(col(labelCol).isNotNull,
          struct(col("__c").as("c"), col(labelCol).cast("string").as("lbl")))).as("__best"),
        sum(when(col(labelCol).isNotNull, col("__c") * col("__c"))).as("__ss"))
      .withColumn("n", coalesce(col("__n"), lit(0)).cast("long"))
      .withColumn("n_null", coalesce(col("__nn"), lit(0)).cast("long"))
      .withColumn("majority", col("__best.lbl"))
      .withColumn("majority_ppm",
        expr("CAST(CASE WHEN __n > 0 THEN __best.c * 1000000 DIV __n END AS BIGINT)"))
      .withColumn("gini_ppm",
        expr("CAST(CASE WHEN __n > 0 THEN 1000000 - __ss * 1000000 DIV (__n * __n) END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("n_null"), col("k"),
        col("majority"), col("majority_ppm"), col("gini_ppm"))): _*)
  }

  def modeBy(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame =
    modeFromCounts(
      df.groupBy((groupCols :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("cnt")),
      groupCols, valueCol)

  /**
   * Finish the argmax from a per-(group, value) COUNTS frame — the
   * mergeable half of [[modeBy]] (counts from disjoint slices ADD per
   * value before finishing, like [[chi2FromCells]]); also the
   * shared-scan form: when a query needs both per-group totals AND the
   * mode, aggregate counts ONCE and feed this plus a sum — not two
   * passes over the raw data.
   */
  def modeFromCounts(
      counts: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      countCol: String = "cnt"): DataFrame =
    counts
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(sum(col(countCol)).as("__cnt"))
      .groupBy(groupCols.map(col): _*)
      .agg(max(struct(col("__cnt"), col(valueCol))).as("__best"))
      .select(groupCols.map(col) ++ Seq(
        col(s"__best.$valueCol").as("mode"),
        col("__best.__cnt").cast("long").as("mode_n")): _*)

  /**
   * Krippendorff's alpha (nominal) per group — the inter-annotator
   * reliability coefficient that, unlike [[fleissKappa]], needs NO
   * balanced panel: units may have any number of ratings (2 raters here,
   * 5 there, raters anonymous), exactly the shape of real labeling
   * campaigns where assignments overlap irregularly. Input is LONG form:
   * one row per rating `(group, unit, category)`.
   *
   * With per-(unit, category) counts `n_uc`, unit totals `n_u` (units
   * with `n_u >= 2`; single-rating units carry no agreement information
   * and are counted in `n_single`), grand total `n = Σ n_u` and category
   * totals `c_j`: observed disagreement `D_o = (1/n) Σ_u (n_u² − Σ_c
   * n_uc²)/(n_u − 1)`, expected `D_e = (n² − Σ_j c_j²)/(n(n−1))`, and
   * `alpha = 1 − D_o/D_e` (Krippendorff 2004, nominal metric — public
   * formulation).
   *
   * Exact staged integers: each unit's term is
   * `(n_u² − Σ n_uc²) · 1e6 DIV (n_u − 1)` — one truncated division per
   * unit, flooring at most 1 micro-unit each (the [[graft.ops.Drift]]
   * `chiSquareKx2` staged-truncation discipline), then
   * `alpha_ppm = 1e6 − ((n−1) · Σ terms) DIV (n² − Σ c_j²)` — so the
   * result is a pure integer function of the counts that replays
   * digit-for-digit in any engine. Null when no unit has 2+ ratings or
   * every rating lands in one category (`D_e = 0`). Null categories are
   * a real category. DECIMAL(38,0) carries `n²·1e6` to ~1e15 ratings.
   *
   * Shape: ONE (group, unit, category) row-sized agg, a unit-sized agg
   * (per-category counts collected — bounded by the category count), the
   * [[fleissKappa]] posexplode trick so the (group, category) agg
   * accumulates unit AND category sums in one pass, and a group-sized
   * finisher. No joins.
   */
  def krippendorffAlpha(
      df: DataFrame,
      groupCols: Seq[String],
      unitCol: String,
      categoryCol: String): DataFrame = {
    val g = groupCols.map(col)
    val d38 = "DECIMAL(38,0)"
    val uc = df.groupBy((g :+ col(unitCol).as("__unit") :+
        col(categoryCol).as("__cat")): _*)
      .agg(count(lit(1)).as("__k"))
    val unit = uc.groupBy((g :+ col("__unit")): _*)
      .agg(sum(col("__k")).cast(d38).as("__nu"),
        sum(col("__k") * col("__k")).cast(d38).as("__s2"),
        collect_list(struct(col("__cat").as("c"), col("__k").as("k"))).as("__cats"))
      .withColumn("__term",
        expr("CASE WHEN __nu >= 2 THEN (__nu * __nu - __s2) * 1000000 DIV (__nu - 1) " +
          "ELSE CAST(0 AS DECIMAL(38,0)) END"))
    val exploded = unit.select((g :+ col("__nu") :+ col("__term") :+
      posexplode(col("__cats")).as(Seq("__pos", "__e"))): _*)
    val byCat = exploded
      .groupBy((g :+ col("__e.c").as("__cat")): _*)
      .agg(sum(when(col("__nu") >= 2, col("__e.k")).otherwise(0L)).cast(d38).as("__cj"),
        sum(when(col("__pos") === 0 && col("__nu") >= 2, col("__nu")).otherwise(0))
          .cast(d38).as("__n"),
        sum(when(col("__pos") === 0 && col("__nu") >= 2, 1L).otherwise(0L)).as("__units"),
        sum(when(col("__pos") === 0 && col("__nu") < 2, 1L).otherwise(0L)).as("__singles"),
        sum(when(col("__pos") === 0, col("__term")).otherwise(0)).cast(d38).as("__do"))
    byCat.groupBy(g: _*)
      .agg(sum(col("__cj") * col("__cj")).as("__sc2"),
        sum(col("__n")).cast(d38).as("__nn"),
        sum(col("__units")).as("n_units"),
        sum(col("__singles")).as("n_single"),
        sum(col("__do")).cast(d38).as("__don"))
      .withColumn("n_ratings", col("__nn").cast("long"))
      .withColumn("alpha_ppm",
        expr("CAST(CASE WHEN __nn < 2 OR __nn * __nn = __sc2 THEN NULL " +
          "ELSE 1000000 - ((__nn - 1) * __don) DIV (__nn * __nn - __sc2) " +
          "END AS BIGINT)"))
      .select((groupCols.map(col) ++ Seq(col("n_units"), col("n_single"),
        col("n_ratings"), col("alpha_ppm"))): _*)
  }

  /**
   * Benjamini–Hochberg FDR selection per group — the step-up procedure
   * (Benjamini & Hochberg 1995, public formulation) that makes a
   * 10,000-readout experiment platform honest: testing every metric ×
   * segment at α = 0.05 "finds" 500 false effects, BH bounds the
   * FALSE-DISCOVERY share instead. Tests carry p-values in ppm
   * (`pPpmCol`; null p-values drop); within each group the tests are
   * ranked ascending under the `(p, id)` total order, the cutoff is the
   * LARGEST rank `i` with `p_i · m ≤ alphaPpm · i` (cross-multiplied —
   * exact integers, no division anywhere), and every test at rank ≤
   * cutoff is significant — including ties and non-monotone stragglers
   * below it, the step-up property.
   *
   * Output: input group cols + `(idCol, p_ppm, rank, n_tests,
   * significant)` — the full decision sheet, not just the survivors, so
   * the caller audits the boundary.
   *
   * Shape: the [[graft.ops.TextAnalysis.withGroupRank]] range-partition
   * rank (no one-reducer p-value window at any test count), ONE
   * group-sized max-rank agg for `m`, ONE group-sized cutoff agg, two
   * group-keyed equi-joins of group-sized frames.
   */
  def benjaminiHochberg(
      df: DataFrame,
      groupCols: Seq[String],
      pPpmCol: String,
      idCol: String,
      alphaPpm: Long = 50000L): DataFrame = {
    require(alphaPpm > 0 && alphaPpm <= 1000000L,
      s"alphaPpm must be in (0, 1e6], got $alphaPpm")
    val g = groupCols.map(col)
    // materialized once: THREE consumers (the m agg, the cutoff agg and
    // the final sheet) read the ranked frame, whose lineage is the whole
    // range-partition rank scaffold
    val ranked = Barrier.checkpoint(TextAnalysis.withGroupRank(
      df.where(col(pPpmCol).isNotNull), "rank", groupCols,
      col(pPpmCol), col(idCol)))
    val m = ranked.groupBy(g: _*).agg(max(col("rank")).as("n_tests"))
    val flagged = ranked.join(m, groupCols)
      .withColumn("__cand",
        col(pPpmCol).cast("DECIMAL(38,0)") * col("n_tests") <=
          lit(alphaPpm) * col("rank").cast("DECIMAL(38,0)"))
    val cutoff = flagged.where(col("__cand"))
      .groupBy(g: _*).agg(max(col("rank")).as("__cut"))
    flagged.join(cutoff, groupCols, "left")
      .withColumn("significant", col("rank") <= coalesce(col("__cut"), lit(0L)))
      .select((g :+ col(idCol) :+ col(pPpmCol) :+ col("rank") :+
        col("n_tests") :+ col("significant")): _*)
  }

  /**
   * λ = 1 Poisson CDF thresholds scaled by 2^16 (floor) — the inverse-CDF
   * table behind [[poissonBootstrapCI]]'s deterministic weight draw:
   * a uniform 16-bit bucket `b` maps to weight `k = |{t in table : b >= t}|`
   * (so P(k=0) ≈ e^−1, P(k=1) ≈ e^−1, ... — the exact Poisson(1) pmf to
   * within 2^−16 per cell, capped at 7). FIXED integer constants, so the
   * draw is a pure function of the md5 bucket and replays digit-for-digit
   * in any engine — no `rand()`, no engine RNG law anywhere.
   */
  private[graft] val PoissonCdf16: Seq[Int] =
    graft.functions.PoissonDraw.Cdf16.toSeq

  /**
   * The `b` per-replicate Poisson(1) weights of one row as an
   * `array<long>` — each 128-bit `md5(salt:id:block)` yields EIGHT
   * independent 16-bit buckets (4 hex chars each), so `b` replicates
   * cost `ceil(b/8)` hash evaluations per row, not `b`. Shared by
   * [[poissonBootstrapCI]] and the S31 streaming twin so both draw the
   * identical replicate sets. Since round 17 this is the NATIVE
   * [[graft.functions.PoissonDraw]] kernel (one digest per block, buckets
   * read straight from the digest bytes); [[poissonWeightArrayComposed]]
   * keeps the original built-in-expression formulation, spec-pinned
   * element-identical, as the cross-engine statement of the law.
   */
  private[graft] def poissonWeightArray(id: Column, b: Int, salt: String): Column =
    graft.functions.PoissonWeights.column(id.cast("string"), b, salt)

  /**
   * The composed-builtin twin of [[poissonWeightArray]] — the md5-hex /
   * `conv` formulation the DuckDB oracle mirrors. Kept for the kernel
   * parity spec; the `conv` string machinery made it the battery's
   * hottest per-row loop, which is why the kernel exists.
   */
  private[graft] def poissonWeightArrayComposed(id: Column, b: Int, salt: String): Column = {
    val nBlocks = (b + 7) / 8
    // decode each 32-hex-char hash with THREE conv calls (12+12+8 chars ->
    // 48/48/32-bit longs), then DIV/MOD out the eight 16-bit buckets —
    // `conv`'s string machinery is the hot cost of the draw (a per-bucket
    // conv measured ~30% slower); long values < 2^48 divide exactly in
    // doubles, so the extraction is a pure integer function of the hex
    val parts: Seq[Column] = (0 until nBlocks).flatMap { blk =>
      val h = md5(concat(lit(s"$salt:"), id.cast("string"), lit(s":$blk")))
      Seq(conv(substring(h, 1, 12), 16, 10).cast("long"),
        conv(substring(h, 13, 12), 16, 10).cast("long"),
        conv(substring(h, 25, 8), 16, 10).cast("long"))
    }
    def bucket(r: Int): Column = {
      val blk = r / 8
      val off = r % 8
      val (p, shift) =
        if (off < 3) (parts(blk * 3), 2 - off)
        else if (off < 6) (parts(blk * 3 + 1), 5 - off)
        else (parts(blk * 3 + 2), 7 - off)
      ((p / math.pow(65536.0, shift).toLong).cast("long")) % 65536L
    }
    // UNCONDITIONAL boolean casts, not when-chains: codegen's subexpression
    // elimination skips expressions inside conditional branches, so a
    // CaseWhen form would re-evaluate the md5/conv per threshold
    def weight(r: Int): Column =
      PoissonCdf16.map(t => (bucket(r) >= t).cast("long")).reduce(_ + _)
    array((0 until b).map(weight): _*)
  }

  /**
   * Deterministic POISSON-BOOTSTRAP confidence interval per group — the
   * assumption-free uncertainty readout the experiment/eval suite was
   * missing: a mean difference without a CI invites shipping noise, and
   * closed-form normal CIs lie on skewed metrics (revenue, latency).
   * The Poisson bootstrap (the streaming-friendly resampling scheme:
   * each row enters replicate `r` with weight ~ Poisson(1), independent
   * per (row, replicate)) is the one bootstrap that needs NO global
   * resample — and drawing the weights via [[poissonWeightArray]]
   * (16-bit md5 slices through the fixed [[PoissonCdf16]] inverse-CDF
   * table) makes every replicate a PURE FUNCTION of the data: re-runs,
   * engines and the oracle agree on every digit, which no `rand()`
   * bootstrap allows.
   *
   * Per group: `n`, the plain mean (`mean_micro`, truncated micro units),
   * and the nearest-rank `loPct`/`hiPct` percentiles of the `b`
   * replicate means (`ci_lo_micro`, `ci_hi_micro`). Values must be
   * integral (cents, counts — the exactness contract); null values drop.
   * `salt` must match `[A-Za-z0-9_.-]*` — it is spliced into the weight
   * kernel's generated Java source as a string literal
   * ([[graft.functions.PoissonWeights]] enforces this at construction),
   * so a salt carrying e.g. `:` or a quote fails fast rather than
   * compiling injected code.
   *
   * Plan: ONE row-sized exchange — rows explode ×`b` replicates but the
   * (group, rep) aggregation map-side-combines, so only groups × b ×
   * shards partials ever cross; the replicate-mean frame (groups × b
   * rows) rides [[graft.ops.Sketches.exactPercentiles]] and one
   * group-sized join. The classic sort-the-resamples bootstrap ships
   * the data B times; this ships partials.
   */
  def poissonBootstrapCI(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: String,
      b: Int = 32,
      loPct: Int = 5,
      hiPct: Int = 95,
      salt: String = "boot"): DataFrame = {
    require(loPct >= 1 && hiPct <= 100 && loPct < hiPct,
      s"need 1 <= loPct < hiPct <= 100, got $loPct/$hiPct")
    val rows = df.select(col(groupCol), col(idCol), col(valueCol))
      .where(col(valueCol).isNotNull)
    val reps = bootstrapCells(rows, Seq(groupCol), idCol, valueCol, b, salt)
      .withColumn("__mean",
        expr("CAST(CASE WHEN nw > 0 THEN s * 1000000 DIV nw END AS BIGINT)"))
      .where(col("__mean").isNotNull)
    val ci = graft.ops.Sketches.exactPercentiles(
        reps, groupCol, "__mean", Seq(loPct, hiPct))
      .groupBy(col(groupCol))
      .agg(max(when(col("pct") === loPct, col("__mean"))).as("ci_lo_micro"),
        max(when(col("pct") === hiPct, col("__mean"))).as("ci_hi_micro"))
    val point = rows.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        expr(s"CAST(sum(CAST($valueCol AS DECIMAL(38,0))) * 1000000 " +
          "DIV count(1) AS BIGINT)").as("mean_micro"))
    point.join(ci, Seq(groupCol))
  }

  /** The per-(group, replicate) DECIMAL(38,0) weighted sums `(nw, s)` of
    * [[poissonBootstrapCI]], weights from [[poissonWeightArray]]; null
    * values drop. */
  private[graft] def bootstrapCells(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      valueCol: String,
      b: Int,
      salt: String): DataFrame = {
    require(b >= 8 && b <= 256, s"replicates must be in [8,256], got $b")
    val g = groupCols.map(col)
    df.where(col(valueCol).isNotNull)
      .withColumn("__wa", poissonWeightArray(col(idCol), b, salt))
      .select((g :+ col(valueCol) :+ posexplode(col("__wa")).as(Seq("rep", "__w"))): _*)
      .groupBy((g :+ col("rep")): _*)
      .agg(sum(col("__w")).cast("DECIMAL(38,0)").as("nw"),
        sum(col("__w") * col(valueCol)).cast("DECIMAL(38,0)").as("s"))
  }

  /**
   * Quantile treatment effects per group — the DISTRIBUTIONAL A/B readout
   * beside [[cupedAdjust]]'s mean lift: a treatment that moves the median
   * nothing but fattens the p90 tail (latency regressions, whale-revenue
   * effects) is invisible to every mean-based readout and is exactly what
   * `QTE(p) = Q_treat(p) − Q_control(p)` surfaces. Built on
   * [[graft.ops.Sketches.exactPercentiles]] per arm (nearest-rank, exact
   * integers — so the whole readout replays digit-for-digit), joined per
   * (group, pct); groups missing an arm drop (no one-sided effect rows).
   * `inTreat` labels each row's arm; null labels and null values drop.
   *
   * Output: `(group, pct, treat, control, qte)` in the value column's
   * units. Two counts-collapse percentile passes (each one row-sized
   * map-side-combined exchange + the scan recipe) + ONE group-sized
   * equi-join.
   */
  def quantileTreatmentEffects(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      inTreat: Column,
      percentiles: Seq[Int] = Seq(10, 25, 50, 75, 90)): DataFrame = {
    val base = df.where(inTreat.isNotNull && col(valueCol).isNotNull)
    // ONE stratified percentile pass (round 20): treat and control ride the
    // same counts-collapse + range exchange with the side in the group key
    // (exactPercentilesBy), then pivot — the former two full
    // exactPercentiles passes paid two collapses, four checkpoints and two
    // range exchanges for the same digits. Per-(group, side) cumulative
    // counts never see the other side, so the values are bit-identical;
    // the not-null filter reproduces the former inner join's
    // both-sides-present law (a side emits ALL percentiles for any group
    // it has rows in).
    val sided = base.select(col(groupCol), col(valueCol), inTreat.as("__treat"))
    graft.ops.Sketches
      .exactPercentilesBy(sided, Seq(groupCol, "__treat"), valueCol, percentiles)
      .groupBy(col(groupCol), col("pct"))
      .agg(max(when(col("__treat"), col(valueCol))).as("treat"),
        max(when(!col("__treat"), col(valueCol))).as("control"))
      .where(col("treat").isNotNull && col("control").isNotNull)
      .withColumn("qte", col("treat") - col("control"))
  }

  /**
   * Equal-frequency feature binning with per-bin target rates — the
   * feature-analysis readout behind every "is this signal worth training
   * on" decision (and the log-free half of weight-of-evidence tables):
   * cut the feature at its per-group nearest-rank quantiles
   * ([[graft.ops.Sketches.exactPercentiles]] — `nBins` equal-POPULATION
   * bins, not equal-width, so heavy-tailed features don't dump 95% of
   * rows into bin 0), then count rows and target positives per bin.
   * A monotone `pos_rate_ppm` across bins is the classic screen for a
   * usable ordinal feature; a flat profile means the feature carries
   * nothing.
   *
   * Bin law: `bin = |{edges e : value > e}|` with edges the p(100k/n)
   * percentiles, k = 1..n−1 — values at or below an edge fall LEFT of it,
   * a pure integer comparison chain that replays digit-for-digit (ties
   * at an edge can make bins uneven — exactness over evenness, the
   * nearest-rank discipline). Feature must be integral; null features
   * drop, null targets count as false.
   *
   * Plan: the exactPercentiles counts-collapse pass for edges, ONE
   * group-sized edge collect (n−1 entries), a broadcast edge attach and
   * ONE (group, bin) agg — the row frame crosses one exchange.
   */
  def featureBins(
      df: DataFrame,
      groupCol: String,
      featureCol: String,
      target: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 100 && 100 % nBins == 0,
      s"nBins must divide 100 and be in [2,100], got $nBins")
    val pcts = (1 until nBins).map(_ * (100 / nBins))
    val edges = graft.ops.Sketches.exactPercentiles(df, groupCol, featureCol, pcts)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col(featureCol))).as("__edges"))
    df.where(col(featureCol).isNotNull)
      .join(broadcast(edges), Seq(groupCol))
      .withColumn("bin",
        aggregate(col("__edges"), lit(0L),
          (acc, e) => acc + when(col(featureCol) > e, 1L).otherwise(0L)))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(target, 1L).otherwise(0L)).as("n_pos"))
      .withColumn("pos_rate_ppm", expr("n_pos * 1000000 DIV n"))
  }
}
