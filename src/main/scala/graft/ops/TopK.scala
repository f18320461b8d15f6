package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one per-key top-k of the library ([[ranked]]). */
private[graft] object TopK {

  /**
   * The best `k` rows of each `keys` group (no keys: one global list) under
   * `order` — plain columns of `df`, bare or `.asc`/`.desc`, with optional
   * null placement — as `(keys..., carry..., rank)`, `rank` a 1-based INT.
   *
   * Ordering law: exactly the rows and ranks of `row_number() OVER
   * (PARTITION BY keys ORDER BY order) <= k`, the form the DuckDB oracles
   * write, on every input: a null key is one group, ASC puts NULLs first
   * and DESC last, NaN sorts above every number, -0.0 equals 0.0. Callers
   * end `order` with an id; ties it leaves fall to the carried values.
   *
   * No window: each row becomes a struct whose field-wise ascending order
   * IS `order` (a DESC key is a null flag, a NaN flag for floating keys,
   * then its negation — bitwise NOT for integral keys, which cannot
   * overflow), and a k-capped priority queue per group (`collect_bottom_k`)
   * keeps the smallest. Partials merge map-side, so at most groups x
   * partitions x k entries cross the exchange, where a window shuffles and
   * sorts every row (REPOSE's bounded per-partition candidate lists).
   * Carried columns must be orderable (no maps).
   */
  def ranked(df: DataFrame, keys: Seq[String], order: Seq[Column], carry: Seq[String],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // (field name, value) of the entry struct, in comparison order
    val keyFields = order.zipWithIndex.flatMap { case (c, i) =>
      val (name, desc, nullsFirst) = GraftExpressionBridge.sortKey(c).getOrElse(
        throw new IllegalArgumentException(s"top-k order key must be a plain column: $c"))
      val (x, dataType) = (col(name), df.schema(name).dataType)
      val nullFlag = if (nullsFirst) Nil else Seq(s"__n$i" -> x.isNull)
      // a null row's NaN flag is null too, so its place stays nullFlag's
      val nanFlag = if (desc && (dataType == FloatType || dataType == DoubleType))
        Seq(s"__f$i" -> when(x.isNotNull, !isnan(x))) else Nil
      val value =
        if (!desc) (if (nullFlag.isEmpty && carry.contains(name)) name else s"__k$i") -> x
        else s"__k$i" -> (dataType match {
          case ByteType | ShortType | IntegerType | LongType => bitwise_not(x)
          case _: DecimalType | FloatType | DoubleType => -x
          case t => throw new IllegalArgumentException(s"DESC top-k key $name must be numeric, is $t")
        })
      nullFlag ++ nanFlag :+ value
    }
    val inEntry = keyFields.map(_._1).toSet
    val entry = struct((keyFields ++ carry.filterNot(inEntry).map(c => c -> col(c)))
      .map { case (n, v) => v.as(n) }: _*)
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.functions.collect_bottom_k(entry, k).as("__top"))
      .select(keys.map(col) :+ posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(keys.map(col) ++ carry.map(c => col("__e").getField(c).as(c)) :+
        (col("__pos") + 1).as("rank"): _*)
  }
}
