package graft.io

import org.apache.spark.sql.functions._

import graft.testkit.SparkTestBase

class BucketingSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join without a shuffle") {
    val facts = spark.range(10000).select($"id".as("k"), (rand(42) * 100).as("x"))
    val dims = spark.range(10000).select($"id".as("k"), concat(lit("v"), $"id").as("label"))
    Bucketing.saveBucketed(facts, "b_facts", 4, Seq("k"))
    Bucketing.saveBucketed(dims, "b_dims", 4, Seq("k"))

    val joined = Bucketing.coLocatedJoin(spark, "b_facts", "b_dims", Seq("k"))
    joined.count() shouldBe 10000

    val plan = joined.queryExecution.executedPlan.toString
    withClue(plan.take(2000)) {
      plan should not include "Exchange hashpartitioning" // bucket-local, no shuffle
      plan should include("SortMergeJoin")
      plan should include("SelectedBucketsCount")
    }
  }

  test("rangeLayout writes files covering disjoint key ranges (footer-prunable)") {
    val dir = tmpDir("graft-layout")
    val df = spark.range(20000).select(
      (($"id" * 7919) % 20000).as("k"), $"id".as("payload")) // scrambled input order
    Bucketing.rangeLayout(df, Seq("k"), numFiles = 8)
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles().map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    val ranges = files.flatMap { f =>
      // a 0-row part file (empty range partition) has null stats: skip it
      spark.read.parquet(f).agg(min($"k"), max($"k"))
        .as[(Option[Long], Option[Long])].head() match {
          case (Some(lo), Some(hi)) => Some((lo, hi))
          case _ => None
        }
    }.sortBy(_._1)
    ranges.length should be >= 6 // target 8; sampling may leave a partition empty
    // pairwise disjoint [min, max] spans: every range predicate can skip
    // whole files on footer stats alone
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) => assert(hiA < loB, s"overlap in ${ranges.toSeq}")
      case _ =>
    }
    // nothing lost and a point lookup's rows sit in exactly one file
    spark.read.parquet(dir).count() shouldBe 20000
    ranges.count { case (lo, hi) => lo <= 12345 && 12345 <= hi } shouldBe 1
  }

  test("zOrderLayout files are prunable on BOTH dimensions; rangeLayout is not") {
    // a 140x140 grid in scrambled order: x and y are independent keys
    val n = 19600
    val df = spark.range(n).select(
      ((($"id" * 7919) % n) % 140).as("x"),
      expr(s"((id * 7919) % $n) DIV 140").as("y"),
      $"id".as("payload"))
    def fileSpans(dir: String): Array[((Long, Long), (Long, Long))] =
      new java.io.File(dir).listFiles().map(_.toString).filter(_.endsWith(".parquet"))
        .flatMap { f =>
          // a 0-row part file (empty range partition) has null stats: skip it
          spark.read.parquet(f).agg(min($"x"), max($"x"), min($"y"), max($"y"))
            .as[(Option[Long], Option[Long], Option[Long], Option[Long])].head() match {
              case (Some(xlo), Some(xhi), Some(ylo), Some(yhi)) => Some(((xlo, xhi), (ylo, yhi)))
              case _ => None
            }
        }
    def overlapping(spans: Array[(Long, Long)], v: Long): Int =
      spans.count { case (lo, hi) => lo <= v && v <= hi }

    val zDir = tmpDir("graft-zorder")
    Bucketing.zOrderLayout(df, "x", "y", numFiles = 16)
      .write.mode("overwrite").parquet(zDir)
    val zSpans = fileSpans(zDir)
    // range-sampling can leave a boundary partition empty; demand most files
    zSpans.length should be >= 12
    spark.read.parquet(zDir).count() shouldBe n
    // compact 2-D blocks: a point slice on EITHER dimension overlaps only
    // a fraction of footers (typically ~sqrt of the file count; bounded at
    // 3/4 because the sampled range boundaries shift with rdd-id seeding
    // under the parallel suite — the 1-D control below overlaps ALL files
    // on y, so the margin still separates the layouts)
    overlapping(zSpans.map(_._1), 70L) should be <= zSpans.length * 3 / 4
    overlapping(zSpans.map(_._2), 70L) should be <= zSpans.length * 3 / 4

    // control: single-column range layout cannot prune the OTHER dimension
    val rDir = tmpDir("graft-range1d")
    Bucketing.rangeLayout(df, Seq("x"), numFiles = 16)
      .write.mode("overwrite").parquet(rDir)
    val rSpans = fileSpans(rDir)
    overlapping(rSpans.map(_._1), 70L) should be <= 2 // x: perfectly prunable
    overlapping(rSpans.map(_._2), 70L) shouldBe rSpans.length // y: every file
  }

  test("mortonKey interleaves bits exactly") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (0xFFFFFFFFL, 0L))
      .toDF("a", "b")
      .select(Bucketing.mortonKey($"a", $"b").as("z")).as[Long].collect()
    rows(0) shouldBe 0L
    rows(1) shouldBe 1L // a's bit 0 -> position 0
    rows(2) shouldBe 2L // b's bit 0 -> position 1
    // a=0b011 spreads to 0b010101 & a-lanes, b=0b101 to b-lanes:
    // z = interleave(a=3, b=5) = b2 a2 b1 a1 b0 a0 = 1 0 0 1 1 1 = 0b100111
    rows(3) shouldBe 0x27L
    rows(4) shouldBe 0x5555555555555555L // all 32 a-bits in even positions
  }

  test("mortonKey fails loudly on out-of-range inputs instead of aliasing") {
    // a negative value would wrap to the top of the unsigned range and a
    // >32-bit value to its low bits — silently destroying z-locality — so
    // the contract violation must surface as an error, not a bad layout
    val neg = Seq((-1L, 0L)).toDF("a", "b")
      .select(Bucketing.mortonKey($"a", $"b").as("z"))
    val ex = intercept[Exception](neg.collect())
    ex.getMessage should include("mortonKey")
    val wide = Seq((0x1_0000_0000L, 0L)).toDF("a", "b")
      .select(Bucketing.mortonKey($"a", $"b").as("z"))
    intercept[Exception](wide.collect()).getMessage should include("mortonKey")
    // null inputs pass through as null keys rather than failing
    val withNull = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .select(Bucketing.mortonKey($"a", $"b").as("z"))
    withNull.collect().head.isNullAt(0) shouldBe true
  }

  test("a non-bucketed join of the same data does shuffle (control)") {
    val facts = spark.range(1000).select($"id".as("k"), lit(1.0).as("x"))
    val dims = spark.range(1000).select($"id".as("k"), lit("v").as("label"))
    // defeat the broadcast path so the control case shows the exchange
    val joined = facts.hint("merge").join(dims, Seq("k"))
    joined.queryExecution.executedPlan.toString should include("Exchange hashpartitioning")
  }
}
