package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Declarative data-quality gates for ingestion pipelines (the public
 * Deequ/Great-Expectations recipe, re-expressed as plain aggregations): a
 * constraint suite is DATA — a list of named predicates — and evaluation is
 * a handful of Spark aggregations, so a 100 TB table is validated in one
 * scan plus one shuffle per uniqueness key and one broadcast anti-join per
 * foreign key, never a per-constraint pass.
 *
 * Two surfaces:
 *  - [[profile]] — per-column observability numbers (rows, nulls, exact
 *    distincts, completeness) to watch over time;
 *  - [[check]] — hard pass/fail constraints wired in front of a load (a
 *    failed verdict should abort the
 *    [[graft.io.Warehouse]] write, not quietly publish bad data).
 */
object DataQuality {

  /** One named constraint: `violations` counts the offending rows. */
  sealed trait Constraint { def name: String }

  /** `col` must never be null. */
  final case class NotNull(col: String) extends Constraint {
    val name = s"not_null($col)"
  }

  /** Row-level predicate (the general form — range gates, regex shape
    * gates, cross-column implications). Null predicate results count as
    * violations: an un-evaluable gate is a failing gate. */
  final case class Satisfies(name: String, predicate: Column) extends Constraint

  /** `col` must take only the listed values (nulls violate). */
  final case class Accepted(col: String, values: Seq[String]) extends Constraint {
    val name = s"accepted($col)"
  }

  /** The column tuple must be unique across the table. */
  final case class Unique(cols: Seq[String]) extends Constraint {
    val name = s"unique(${cols.mkString(",")})"
  }

  /** Every non-null `col` must exist in `dim.dimCol` (referential
    * integrity; the dimension is broadcast — dims are small by design). */
  final case class ForeignKey(col: String, dim: DataFrame, dimCol: String)
      extends Constraint {
    val name = s"foreign_key($col)"
  }

  /** Range gate in the numeric domain, inclusive on both ends. */
  def inRange(col: String, lo: Double, hi: Double): Satisfies =
    Satisfies(s"in_range($col)",
      org.apache.spark.sql.functions.col(col).between(lo, hi))

  /**
   * Evaluate a constraint suite: one row per constraint with `constraint`,
   * `violations` and `status` ('pass' / 'fail').
   *
   * Evaluation cost is the point: every row-level constraint (NotNull,
   * Satisfies, Accepted) folds into ONE conditional-sum aggregate over a
   * single scan; each [[Unique]] adds one count-per-key shuffle (map-side
   * partials); each [[ForeignKey]] adds one broadcast LEFT ANTI count.
   * Nothing is quadratic, nothing re-reads the table per constraint.
   */
  def check(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    val spark = df.sparkSession
    val rowLevel: Seq[(String, Column)] = constraints.collect {
      case NotNull(c)      => (s"not_null($c)", col(c).isNull)
      case s: Satisfies    => (s.name, coalesce(not(s.predicate), lit(true)))
      case Accepted(c, vs) => (s"accepted($c)", not(col(c).isin(vs: _*)) || col(c).isNull)
    }
    val rowLevelDf: Option[DataFrame] =
      if (rowLevel.isEmpty) None
      else Some {
        val sums = rowLevel.map { case (n, bad) =>
          // coalesce: sum over an empty table is null, not 0
          coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as(n)
        }
        val wide = df.agg(sums.head, sums.tail: _*)
        // unpivot the single wide row to (constraint, violations)
        wide.select(explode(map(
          rowLevel.flatMap { case (n, _) => Seq(lit(n), col(n)) }: _*))
          .as(Seq("constraint", "violations")))
      }
    val uniques = constraints.collect { case Unique(cols) =>
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
        .where(col("__n") > 1)
        .agg(coalesce(sum(col("__n") - 1), lit(0L)).as("violations"))
        .select(lit(s"unique(${cols.mkString(",")})").as("constraint"),
          col("violations"))
    }
    val fks = constraints.collect { case ForeignKey(c, dim, dc) =>
      df.where(col(c).isNotNull)
        .join(broadcast(dim.select(col(dc).as(c)).distinct()), Seq(c), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit(s"foreign_key($c)").as("constraint"), col("violations"))
    }
    (rowLevelDf.toSeq ++ uniques ++ fks)
      .reduce(_ unionByName _)
      .withColumn("status", when(col("violations") === 0, lit("pass"))
        .otherwise(lit("fail")))
  }

  /**
   * Per-column profile: `(column, rows, non_null, n_distinct,
   * completeness_ppm)` — exact integers only, so snapshots diff cleanly
   * and cross-engine checks hash-match. Distincts are EXACT multi-column
   * count-distincts: Catalyst rewrites them into one Expand (k-way row
   * replication, one replica per profiled column) feeding a two-phase
   * aggregate whose partial step dedups map-side — one shuffle of
   * per-partition distinct values, not k table scans. Profile the columns
   * you monitor, not all of them: cost scales with k.
   */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = Seq(count(lit(1)).as("__rows")) ++
      cols.flatMap { c =>
        Seq(coalesce(sum(when(col(c).isNotNull, 1L).otherwise(0L)), lit(0L)).as(s"__nn_$c"),
          count_distinct(col(c)).as(s"__nd_$c"))
      }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.flatMap { c =>
      Seq(lit(c), struct(col("__rows").as("rows"), col(s"__nn_$c").as("non_null"),
        col(s"__nd_$c").as("n_distinct")))
    }
    wide.select(explode(map(entries: _*)).as(Seq("column", "__s")))
      .select(col("column"), col("__s.rows").as("rows"),
        col("__s.non_null").as("non_null"),
        col("__s.n_distinct").as("n_distinct"))
      .withColumn("completeness_ppm",
        when(col("rows") === 0, lit(1000000L))
          .otherwise(expr("non_null * 1000000 DIV rows")))
  }

  /**
   * First-significant-digit distribution of an INTEGER-valued column (pass
   * money as exact cents) — the Benford's-law fraud/fabrication screen:
   * naturally-occurring magnitudes put ~30.1% of leading digits at 1,
   * fabricated or constrained values don't. Emits exact
   * `(digit, n, share_ppm)`; the caller compares against the Benford
   * expectation table (a 9-row lookup — no logarithms here, and none
   * needed). The leading digit comes from the canonical integer decimal
   * rendering, identical across engines, never from float formatting
   * (fractional inputs ROUND half-up under the decimal cast first — pass
   * exact integer units if that matters);
   * null and non-positive values (no leading significant digit) are
   * excluded from the shares and reported under digit '-' with a NULL
   * `share_ppm`: digit shares are normalized by the POSITIVE-row total
   * only, so they compare against the Benford expectation table directly
   * even when the column carries nulls or refunds (a total that included
   * the '-' bucket would bias every digit share low and blunt the
   * screen). One count aggregation + a 1-row total broadcast: scan-bound
   * at any scale.
   */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val d = df.select(
      when(col(valueCol).isNotNull && col(valueCol) > 0,
        substring(col(valueCol).cast("decimal(38,0)").cast("string"), 1, 1))
        .otherwise(lit("-")).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = d.where(col("digit") =!= "-")
      .agg(sum(col("n")).as("__total"))
    d.join(broadcast(total))
      .withColumn("share_ppm",
        expr("CAST(CASE WHEN digit = '-' THEN NULL " +
          "ELSE n * 1000000 DIV __total END AS BIGINT)"))
      .drop("__total")
  }

  /**
   * Per-group Gini-Simpson diversity of a categorical column in exact
   * ppm: `1e6 - sum(cnt_k^2) * 1e6 DIV n^2` — the probability (x 1e6)
   * that two independent draws from the group differ in category. 0 =
   * single-category group, -> 1e6 as categories even out. The
   * concentration/diversity screen with NO logarithms (Shannon entropy
   * is irrational and engine-divergent; Gini-Simpson carries the same
   * monitoring signal in exact integers) — per-user behavioral
   * diversity, per-domain topic spread, per-source language mix.
   *
   * Null categories count as a real category (a group of all-null is
   * concentration, not absence). Two aggregations — (group, category)
   * counts then group sums, both map-side combined; the squared sums run
   * in DECIMAL(38,0) so `n` up to ~1e15 rows per group cannot overflow.
   */
  def giniDiversity(
      df: DataFrame,
      groupCols: Seq[String],
      categoryCol: String): DataFrame = {
    require(groupCols.nonEmpty, "giniDiversity needs at least one group column")
    giniFromCounts(
      df.groupBy((groupCols :+ categoryCol).map(col): _*)
        .agg(count(lit(1)).as("cnt")),
      groupCols, categoryCol)
  }

  /**
   * Exact equal-width histogram of an INTEGER-valued column: `bins`
   * buckets of width `ceil((max - min + 1) / bins)` anchored at the
   * observed min, each emitted with its inclusive integer bounds and
   * exact count. Integer arithmetic end to end — bucket edges are a pure
   * function of (min, max, bins), so the histogram replays
   * digit-for-digit in any engine (a float-width histogram cannot: edge
   * rounding diverges). Nulls are excluded; a constant column lands in
   * one bin of width 1. Empty input yields no rows.
   *
   * One 1-row min/max aggregation broadcast + one count aggregation over
   * at most `bins` keys — scan-bound at any scale. The profiling
   * complement of [[profile]] (which reports counts, not shape) and of
   * the equi-DEPTH story ([[graft.ops.Sketches.exactPercentiles]]).
   */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val v = col(valueCol).cast("long")
    val edges = df.where(v.isNotNull)
      .agg(min(v).as("__min"), max(v).as("__max"))
      .where(col("__min").isNotNull)
      .withColumn("__width",
        expr(s"(__max - __min + $bins) DIV $bins"))
    df.where(v.isNotNull)
      .select(v.as("__v"))
      .join(broadcast(edges))
      .withColumn("bin", expr("(__v - __min) DIV __width"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        first(col("__min")).as("__min"), first(col("__width")).as("__width"))
      .withColumn("bin_lo", (col("__min") + col("bin") * col("__width")).cast("long"))
      .withColumn("bin_hi", (col("bin_lo") + col("__width") - 1L).cast("long"))
      .select(col("bin"), col("bin_lo"), col("bin_hi"), col("n"))
  }

  /**
   * Exact power-of-two (log2) histogram of an INTEGER-valued column per
   * group — the long-tail profiling shape [[histogram]]'s equal-width
   * bins waste (one bin swallows the head, the tail spreads over empty
   * buckets): bin `b >= 0` holds values in `[2^b, 2^(b+1))`, computed as
   * the BIT LENGTH of the value minus one — pure integer structure, no
   * log (and no libm), no data-dependent edges, so histograms of any two
   * slices share bins and ADD (the [[Stats.chi2FromCells]] mergeable
   * discipline), and the same value lands in the same bin in any engine.
   * Non-positive values land in bin -1 (out-of-domain mass is REPORTED,
   * not dropped — a DQ profile that silently drops zeros lies about
   * doc-length or spend distributions); nulls are excluded. Output per
   * (group, bin): inclusive `bin_lo`/`bin_hi` (null for bin -1) and `n`.
   *
   * ONE count aggregation over at most 64 bins per group (map-side
   * combined) — scan-bound at any scale.
   */
  def log2Histogram(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame =
    log2Cells(df, groupCols, valueCol)
      .withColumn("bin_lo",
        when(col("bin") < 0, lit(null).cast("long"))
          .otherwise(expr("shiftleft(1L, CAST(bin AS INT))")))
      .withColumn("bin_hi",
        // 2^(b+1)-1 staged as (2^b - 1) + 2^b: bin 62's hi is Long.MaxValue
        // and the naive shiftleft(1, 63) - 1 would overflow under ANSI
        when(col("bin") < 0, lit(null).cast("long"))
          .otherwise(expr("shiftleft(1L, CAST(bin AS INT)) - 1 " +
            "+ shiftleft(1L, CAST(bin AS INT))")))
      .select((groupCols.map(col) ++ Seq(col("bin"), col("bin_lo"),
        col("bin_hi"), col("n"))): _*)

  /** The mergeable `(group, bin, n)` counts of [[log2Histogram]]. */
  private[graft] def log2Cells(
      df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    df.where(v.isNotNull)
      .withColumn("bin",
        when(v <= 0, lit(-1L)).otherwise(length(bin(v)).cast("long") - 1L))
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /**
   * Finish the diversity arithmetic from a per-(group, category) COUNTS
   * frame — the mergeable half of [[giniDiversity]]: counts from disjoint
   * slices (days, streaming windows — `EventStreams.windowedRollup`'s
   * `n` column is exactly this cell shape) ADD per category before
   * finishing, the same incremental pattern as [[Stats.chi2FromCells]].
   * Re-aggregates `countCol` by (group, category) first, so callers can
   * pass window-sliced cells directly.
   */
  def giniFromCounts(
      counts: DataFrame,
      groupCols: Seq[String],
      categoryCol: String,
      countCol: String = "cnt"): DataFrame = {
    val d38 = "DECIMAL(38,0)"
    counts
      .groupBy((groupCols :+ categoryCol).map(col): _*)
      .agg(sum(col(countCol)).cast(d38).as("__cnt"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__cnt") * col("__cnt")).as("__ss"),
        sum(col("__cnt")).as("__n"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("diversity_ppm",
        expr("CAST(1000000 - __ss * 1000000 DIV (__n * __n) AS BIGINT)"))
      .drop("__ss", "__n")
  }

  /**
   * k-anonymity audit over a set of quasi-identifier columns (Sweeney
   * 2002): every row whose quasi-identifier combination is shared by
   * fewer than `k` rows is re-identifiable by joining those columns
   * against an outside dataset — the privacy screen a training-data
   * release runs BEFORE shipping, next to the PII scrubbers. Emits one
   * summary row: `n` rows audited, `n_classes` distinct combinations,
   * `min_class_size` (the table's actual k-anonymity level),
   * `violating_classes` / `violating_rows` below `k`, and
   * `violating_rows_ppm`. Null quasi-identifier values form real classes
   * (null zip + null age is still a signature).
   *
   * ONE (quasi-id) count aggregation (map-side combined) + a class-sized
   * summary agg: scan-bound at any scale, and the class frame is the
   * natural input to a suppression/generalization pass.
   */
  def kAnonymity(df: DataFrame, quasiIdCols: Seq[String], k: Long): DataFrame = {
    require(quasiIdCols.nonEmpty, "kAnonymity needs at least one quasi-identifier")
    require(k >= 1, s"k must be >= 1, got $k")
    df.groupBy(quasiIdCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .agg(sum(col("__cnt")).cast("DECIMAL(38,0)").as("__n"),
        count(lit(1)).as("n_classes"),
        min(col("__cnt")).as("min_class_size"),
        sum(when(col("__cnt") < k, 1L).otherwise(0L)).as("violating_classes"),
        sum(when(col("__cnt") < k, col("__cnt")).otherwise(0L))
          .cast("DECIMAL(38,0)").as("__vr"))
      .withColumn("n", col("__n").cast("long"))
      .withColumn("violating_rows", col("__vr").cast("long"))
      .withColumn("violating_rows_ppm",
        expr("CAST(CASE WHEN __n = 0 THEN NULL " +
          "ELSE __vr * 1000000 DIV __n END AS BIGINT)"))
      .select(col("n"), col("n_classes"), col("min_class_size"),
        col("violating_classes"), col("violating_rows"),
        col("violating_rows_ppm"))
  }

  /**
   * Distinct l-diversity audit (Machanavajjhala 2007) — k-anonymity's
   * necessary complement: a class of 50 rows that all share ONE sensitive
   * value discloses that value to anyone who can place a person in the
   * class, however large the class is. Per quasi-identifier class:
   * `class_size`, `n_sensitive` distinct sensitive values (nulls count —
   * "sensitive value withheld" is itself a value), and `diverse` =
   * whether the class meets `l`. Classes below `l` are the rows to
   * suppress or generalize; feed this frame's failures back into the
   * release gate beside [[kAnonymity]]'s summary.
   *
   * ONE (quasi-id, sensitive) dedup-count aggregation + one class agg,
   * both map-side combined — the distinct collapses before the exchange,
   * so a skewed sensitive column cannot flood the shuffle.
   */
  def lDiversity(
      df: DataFrame,
      quasiIdCols: Seq[String],
      sensitiveCol: String,
      l: Long): DataFrame = {
    require(quasiIdCols.nonEmpty, "lDiversity needs at least one quasi-identifier")
    require(l >= 1, s"l must be >= 1, got $l")
    val qids = quasiIdCols.map(col)
    df.groupBy((qids :+ col(sensitiveCol).as("__sv")): _*)
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(qids: _*)
      .agg(sum(col("__cnt")).cast("long").as("class_size"),
        count(lit(1)).as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= l)
  }

  /**
   * Approximate-functional-dependency audit for a candidate rule
   * `detCol -> depCol` ("source determines lang", "zip determines
   * state"): per determinant value, the rows that DISAGREE with the
   * modal dependent value are the violations — `g3` in the FD-discovery
   * literature (the minimum rows to delete for the FD to hold exactly).
   * Emits per-determinant rows: `n`, `n_dep` distinct dependent values,
   * the modal value `top_dep` (count ties broken null-first then by
   * smallest value — a total order, so the pick replays in any engine),
   * `violations`
   * `= n - top_n`, and `violation_ppm`. Sum `violations` across the
   * frame for the table-level g3; a clean FD is all-zeros. Null
   * dependent values are a real (modal-eligible) value; null
   * determinants form a real class.
   *
   * ONE (det, dep) count aggregation, then a det-sized max_by/sum agg
   * riding the same partitioning (Catalyst collapses the pair into two
   * map-side-combined exchanges over VALUE frames, never rows).
   */
  def fdViolations(df: DataFrame, detCol: String, depCol: String): DataFrame =
    df.groupBy(col(detCol), col(depCol).as("__dep"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(detCol))
      .agg(sum(col("__cnt")).cast("long").as("n"),
        count(lit(1)).as("n_dep"),
        min_by(col("__dep"), struct((-col("__cnt")).as("nc"),
          when(col("__dep").isNull, 0L).otherwise(1L).as("nullity"),
          col("__dep").as("d"))).as("top_dep"),
        max(col("__cnt")).cast("long").as("__top_n"))
      .withColumn("violations", col("n") - col("__top_n"))
      .withColumn("violation_ppm",
        expr("CAST(CAST(violations AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)"))
      .drop("__top_n")
}
