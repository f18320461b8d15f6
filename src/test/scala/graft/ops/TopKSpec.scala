package graft.ops

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.testkit.SourceScan.{codeLines, sourceRoot}
import graft.testkit.SparkTestBase

class TopKSpec extends SparkTestBase {
  import spark.implicits._

  /** The reference: `row_number() OVER (PARTITION BY keys ORDER BY order) <= k`. */
  private def windowTopK(
      df: DataFrame, keys: Seq[String], order: Seq[Column], carry: Seq[String], k: Int) = {
    val w = if (keys.isEmpty) Window.orderBy(order: _*)
      else Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w)).where($"rank" <= k)
      .select((keys ++ carry :+ "rank").map(col): _*)
  }

  /** The helper equals the window reference row for row, rank and schema included. */
  private def assertSameAsWindow(
      df: DataFrame, keys: Seq[String], order: Seq[Column], carry: Seq[String], k: Int): Unit = {
    val got = TopK.ranked(df, keys, order, carry, k)
    val want = windowTopK(df, keys, order, carry, k)
    withClue(s"keys=$keys order=$order k=$k partitions=${df.rdd.getNumPartitions}: ") {
      got.schema shouldBe want.schema
      got.collect().map(_.toString).sorted shouldBe want.collect().map(_.toString).sorted
    }
  }

  // scores that break a naive negate-and-sort: null, NaN, ±0.0, ±Infinity, ties
  private val doubles: Seq[Option[Double]] = Seq(None, Some(Double.NaN), Some(0.0), Some(-0.0),
    Some(1.5), Some(1.5), Some(-2.0), Some(Double.PositiveInfinity),
    Some(Double.NegativeInfinity), Some(Double.MaxValue))
  private val longs: Seq[Option[Long]] =
    Seq(None, Some(Long.MinValue), Some(Long.MaxValue), Some(0L), Some(-1L), Some(7L), Some(7L))

  private def randomFrame(seed: Long, n: Int): DataFrame = {
    val r = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    (0 until n).map { i =>
      (pick(Seq(Option(1), Option(2), Option(3), None)), pick(doubles), pick(longs),
        pick(doubles).map(d => if (d.isNaN || d.isInfinite) BigDecimal(0) else BigDecimal(d % 1e6)),
        pick(doubles).map(_.toFloat), (n - i).toLong, s"t$i")
    }.toDF("g", "score", "lscore", "dscore", "fscore", "id", "term")
      .withColumn("dscore", $"dscore".cast("decimal(20,4)"))
  }

  private val orders: Seq[Seq[Column]] = Seq(
    Seq($"score".desc, $"id"),
    Seq($"score", $"id"),
    Seq($"score".desc_nulls_first, $"id"),
    Seq($"score".asc_nulls_last, $"id".desc),
    Seq($"fscore".desc, $"id"),
    Seq($"lscore".desc, $"score".desc, $"id"),
    Seq($"dscore".desc, $"term"))

  test("ranked equals the row_number window on random frames") {
    for (seed <- 1L to 3L; order <- orders) {
      val df = randomFrame(seed, 60 + seed.toInt * 20).repartition(3)
      val k = Seq(1, 3, 50)((seed % 3).toInt)
      assertSameAsWindow(df, Seq("g"), order, Seq("id", "score", "lscore"), k)
    }
  }

  test("ranked equals the window on adversarial frames") {
    val adversarial = Seq(
      (Option(1), Option(Double.NaN), 1L), (Option(1), None, 2L), (Option(1), Option(-0.0), 3L),
      (Option(1), Option(0.0), 4L), (Option(1), Option(0.5), 5L), (Option(1), Option(0.5), 6L),
      (None, Option(0.5), 7L), (None, None, 8L), (Option(2), Option(Double.NaN), 9L))
      .toDF("g", "score", "id")
    for (order <- Seq(Seq($"score".desc, $"id"), Seq($"score", $"id"),
        Seq($"score".desc_nulls_first, $"id"), Seq($"score".asc_nulls_last, $"id"))) {
      // k above every group's size, k = 1, one partition and many
      for (k <- Seq(1, 2, 100); parts <- Seq(1, 4))
        assertSameAsWindow(adversarial.repartition(parts), Seq("g"), order, Seq("id", "score"), k)
      // no keys: one global list
      assertSameAsWindow(adversarial, Nil, order, Seq("g", "id", "score"), 3)
    }
    // empty input, with and without keys
    val empty = adversarial.where(lit(false))
    assertSameAsWindow(empty, Seq("g"), Seq($"score".desc, $"id"), Seq("id"), 3)
    assertSameAsWindow(empty, Nil, Seq($"score".desc, $"id"), Seq("id"), 3)
    // the carried order key is read back, not its encoding
    TopK.ranked(adversarial, Seq("g"), Seq($"score".desc, $"id"), Seq("score"), 1)
      .where($"g" === 1).select("score").as[Option[Double]].head().get.isNaN shouldBe true
  }

  test("ranked rejects k < 1, non-numeric DESC keys and computed keys") {
    val df = Seq((1, "a", 1L)).toDF("g", "s", "id")
    an[IllegalArgumentException] should be thrownBy TopK.ranked(df, Seq("g"), Seq($"id"), Nil, 0)
    an[IllegalArgumentException] should be thrownBy
      TopK.ranked(df, Seq("g"), Seq($"s".desc), Nil, 1)
    an[IllegalArgumentException] should be thrownBy
      TopK.ranked(df, Seq("g"), Seq(($"id" + 1).desc), Nil, 1)
  }

  test("ops rank every per-key top-k through TopK.ranked") {
    def sites(pattern: scala.util.matching.Regex) =
      codeLines(pattern).filter(_._1.startsWith(sourceRoot.resolve("graft/ops").toString))
    def files(s: Seq[(String, String)]) = s.map(_._1.takeWhile(_ != ':')
      .stripPrefix(sourceRoot.resolve("graft/ops").toString + "/"))
    // the helper, quantileSketch and invertedIndex (bounded arrays, no rank)
    val bottomK = sites("""collect_bottom_k\(""".r)
    withClue(bottomK.mkString("\n")) {
      files(bottomK) shouldBe Seq("Retrieval.scala", "Sketches.scala", "TopK.scala")
    }
    // the rankings that need every row's rank, plus assignToCentroids'
    // whole-row top-1 and sourceCap's data-sized cap
    val rowNumber = sites("""row_number\(\)""".r)
    withClue(rowNumber.mkString("\n")) {
      files(rowNumber) shouldBe Seq("Attribution.scala", "Dedup.scala", "Dedup.scala",
        "Similarity.scala", "Similarity.scala", "Snapshots.scala", "TextAnalysis.scala",
        "Timeseries.scala")
    }
  }
}
