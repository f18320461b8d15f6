package graft.etl.examples

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.monitoring.JobMetrics
import graft.ops.{Decontaminate, Dedup, TextAnalysis, Web}
import graft.testkit.SparkTestBase
import graft.util.Barrier

/**
 * The release manifest is built on the driver from numbers each stage's
 * barrier observed. This spec keeps the lazy-aggregate recipe — per-stage
 * 1-row aggregates unioned, a lag window over the stage rows, grouped mix
 * shares, pack and checksum aggregates — as the reference, and holds the
 * observed manifest (and the per-day stats rows) to it: equal rows and an
 * equal schema, nullability included.
 */
class ReleaseManifestSpec extends SparkTestBase {
  import spark.implicits._

  private def prose(seed: Int, words: Int = 45): String =
    (0 until words).map(i => s"word${(seed * 131 + i * 7) % 9973}x$i").mkString(" ")

  private val benchSpan = "alpha bravo charlie delta echo foxtrot golf hotel"

  /** Clean en/de/fr prose plus one offender per dedup/gate stage. */
  private def corpus(withNearDup: Boolean): DataFrame = {
    val near = prose(900, 200)
    val nearTwin =
      if (withNearDup) near.split(' ').dropRight(1).mkString(" ") + " changedtail"
      else prose(901, 200)
    ((0 until 16).map(i => (i.toLong, s"https://site.com/en/$i", "en", "s_en", prose(i))) ++
      (16 until 22).map(i => (i.toLong, s"https://site.com/de/$i", "de", "s_de", prose(i))) ++
      (22 until 25).map(i => (i.toLong, s"https://site.com/fr/$i", "fr", "s_fr", prose(i))) ++
      Seq(
        (30L, "https://site.com/page?x=1", "en", "s_en", prose(300)),
        (31L, "https://site.com/page?x=1&utm_source=feed", "en", "s_en", prose(301)),
        (32L, "https://site.com/a32", "en", "s_en", "the same exact text lives here in this document body"),
        (33L, "https://site.com/a33", "en", "s_en", "the  same   exact text lives here in this document body"),
        (34L, "https://site.com/a34", "de", "s_de", near),
        (35L, "https://site.com/a35", "de", "s_de", nearTwin),
        (36L, "https://site.com/a36", "en", "s_en", "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        (37L, "https://site.com/a37", "en", "s_en",
          s"this clean document quotes $benchSpan straight from the benchmark set")))
      .toDF("doc_id", "url", "lang", "source", "text")
  }

  private def bench: DataFrame =
    Seq((1000L, s"$benchSpan india juliet")).toDF("bench_id", "text")

  private val targets = Map("en" -> 500000, "de" -> 250000, "fr" -> 100000)

  // ---- the reference: the lazy-aggregate recipe -------------------------

  private def referenceStat(ord: Long, name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n"),
      coalesce(sum(col("n_tokens")), lit(0L)).cast("long").as("tokens"))
      .select(lit(ord).as("ord"), lit(name).as("stage"), col("n"), col("tokens"))

  /** Stages 0–5 of the batch chain and their unioned stats rows. */
  private def referenceChain(docs: DataFrame): (DataFrame, DataFrame) = {
    val s0 = Barrier.checkpoint(docs.select(col("doc_id"), col("url"), col("lang"),
      col("source"), col("text"),
      TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_tokens")))
    val s1 = Barrier.checkpoint(Web.dedupByUrl(s0, "url", "doc_id"))
    val s2 = Barrier.checkpoint(Dedup.exact(s1, "text", "doc_id"))
    val s3 = Barrier.checkpoint(Dedup.removeNearDuplicates(s2, "doc_id", "text", 0.8))
    val passes = TextAnalysis.qualityFlags(col("text"))
      .collectFirst { case ("passes", c) => c }.get
    val s4 = Barrier.checkpoint(s3.filter(passes === 1L))
    val s5 = Barrier.checkpoint(Decontaminate.removeContaminated(
      s4, "doc_id", "text", bench, "bench_id", "text", n = 5, minHits = 3))
    val base05 = Seq(s0, s1, s2, s3, s4, s5).zip(Seq("raw", "url_dedup",
      "exact_dedup", "near_dedup", "quality_gate", "decontaminate")).zipWithIndex
      .map { case ((df, name), ord) => referenceStat(ord.toLong, name, df) }
      .reduce(_ unionByName _)
    (s5, base05)
  }

  /** The manifest from the stage-6 frame on. */
  private def referenceManifest(mix: DataFrame, base05: DataFrame): DataFrame = {
    val s6 = Barrier.checkpoint(mix)
    val packed = TextAnalysis.packSequences(
      s6.select(col("doc_id"), col("source"), col("n_tokens")),
      "source", "doc_id", "n_tokens", 512)
    val chunks = Barrier.checkpoint(packed.groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .withColumn("chunk_key", concat(col("source"), lit(":"), col("chunk_id"))))
    val shuffled = Barrier.checkpoint(
      TextAnalysis.deterministicShuffle(chunks, "chunk_key", "release"))
    val noChk = lit(null).cast("long").as("checksum")
    val base = Barrier.checkpoint(base05.unionByName(referenceStat(6L, "target_mix", s6)))
    val kept = base.select(col("ord"), col("stage"), lit("kept").as("detail"),
      col("n"), col("tokens"), noChk)
    val wOrd = Window.orderBy(col("ord"))
    val reason = Release.RejectReasons.foldLeft(lit(null).cast("string")) {
      case (alt, (stage, r)) => when(col("stage") === stage, lit(r)).otherwise(alt)
    }
    val rejected = base
      .withColumn("__pn", lag(col("n"), 1).over(wOrd))
      .withColumn("__pt", lag(col("tokens"), 1).over(wOrd))
      .where(col("ord") >= 1)
      .select(col("ord"), col("stage"), concat(lit("rejected:"), reason).as("detail"),
        (col("__pn") - col("n")).as("n"), (col("__pt") - col("tokens")).as("tokens"), noChk)
    val shares = s6.groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("n_tokens")).cast("long").as("tokens"))
      .select(lit(7L).as("ord"), lit("mix_share").as("stage"),
        col("lang").as("detail"), col("n"), col("tokens"), noChk)
    val packRow = chunks
      .agg(count(lit(1)).cast("long").as("n"), sum(col("n_tokens")).cast("long").as("tokens"))
      .select(lit(8L).as("ord"), lit("pack").as("stage"),
        lit("kept").as("detail"), col("n"), col("tokens"), noChk)
    val shuffleRow = shuffled
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_tokens")).cast("long").as("tokens"),
        (sum(col("shuffle_rank").cast("decimal(38,0)") *
          TextAnalysis.hashBucket(col("chunk_key"), "graft")) % 2147483647L)
          .cast("long").as("checksum"))
      .select(lit(9L).as("ord"), lit("shuffle").as("stage"),
        lit("kept").as("detail"), col("n"), col("tokens"), col("checksum"))
    Seq(kept, rejected, shares, packRow, shuffleRow).reduce(_ unionByName _)
  }

  private def mixed(s5: DataFrame): DataFrame =
    TextAnalysis.targetMixSample(s5, "lang", "doc_id", targets)

  /** `docs` curated as the first day: every store empty. */
  private def curateFirstDay(docs: DataFrame): IncrementalRelease.DayCuration = {
    def empty(schema: StructType) = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    IncrementalRelease.curateDay(docs, bench,
      empty(IncrementalRelease.UrlStoreSchema), empty(IncrementalRelease.FpStoreSchema),
      empty(IncrementalRelease.VerifiedBandStoreSchema), verifyNear = true)
  }

  private def summed(stats: DataFrame): DataFrame =
    stats.groupBy(col("ord"), col("stage"))
      .agg(sum(col("n")).cast("long").as("n"), sum(col("tokens")).cast("long").as("tokens"))
      .select(col("ord"), col("stage"), col("n"), col("tokens"))

  // ---- the law ----------------------------------------------------------

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** Equal rows (as a multiset) and an equal schema, nullability included. */
  private def sameFrame(observed: DataFrame, reference: DataFrame): Unit = {
    observed.schema shouldBe reference.schema
    rows(observed) shouldBe rows(reference)
  }

  private def manifestRow(m: DataFrame, ord: Long, detail: String): Row =
    m.where(col("ord") === ord && col("detail") === detail).head()

  test("observed manifest equals the lazy-aggregate recipe on a normal build") {
    val (s5, base05) = referenceChain(corpus(withNearDup = true))
    val manifest = Release.build(corpus(withNearDup = true), bench, targets)._2
    sameFrame(manifest, referenceManifest(mixed(s5), base05))
    manifestRow(manifest, 3L, "rejected:near_dup").getLong(3) shouldBe 1L
    manifestRow(manifest, 9L, "kept").isNullAt(5) shouldBe false
  }

  test("observed manifest equals the recipe on a day with no near-dup pairs") {
    val docs = corpus(withNearDup = false)
    // 33 is 32's exact twin (the exact tier's offender): past it, no pair
    // of documents clears the near-dup threshold
    Dedup.nearDuplicatePairs(docs.where(col("doc_id") =!= 33L), "doc_id", "text", 0.8)
      .count() shouldBe 0L
    val (s5, base05) = referenceChain(docs)
    val manifest = Release.build(docs, bench, targets)._2
    sameFrame(manifest, referenceManifest(mixed(s5), base05))
    manifestRow(manifest, 3L, "rejected:near_dup").getLong(3) shouldBe 0L
  }

  test("observed stats and manifest equal the recipe when the gate and the mix leave zero rows") {
    val junk = (0 until 6).map(i =>
      (i.toLong, s"https://site.com/x/$i", if (i % 2 == 0) "en" else "de", "s_x",
        "!!! ??? ### $$$ %%% ^^^ " * (i + 1)))
    // a day the quality gate empties: zero-row stages 4 and 5
    val rejectedDay = junk.toDF("doc_id", "url", "lang", "source", "text")
    val (_, rejectedBase) = referenceChain(rejectedDay)
    val day = curateFirstDay(rejectedDay)
    sameFrame(day.stats, rejectedBase)
    day.curated.count() shouldBe 0L
    // targetMixSample refuses a pool without its target groups, so the
    // zero-row cut needs one clean document and a one-target mix that
    // draws it out: at just over half, a lone document survives iff its
    // hash bucket is under 32769 of 65536
    val halfPlus = Map("en" -> 500001)
    val lone = spark.range(100, 200)
      .where(TextAnalysis.hashBucket(col("id"), "graft") >= 32769L).head().longValue
    val docs = (junk :+ ((lone, s"https://site.com/x/$lone", "en", "s_x", prose(lone.toInt))))
      .toDF("doc_id", "url", "lang", "source", "text")
    val (s5, base05) = referenceChain(docs)
    val manifest = Release.build(docs, bench, halfPlus)._2
    sameFrame(manifest, referenceManifest(
      TextAnalysis.targetMixSample(s5, "lang", "doc_id", halfPlus), base05))
    manifestRow(manifest, 5L, "kept").getLong(3) shouldBe 1L
    manifestRow(manifest, 6L, "kept").getLong(3) shouldBe 0L
    manifest.where(col("stage") === "mix_share").count() shouldBe 0L
    manifestRow(manifest, 8L, "kept").isNullAt(4) shouldBe true
    manifestRow(manifest, 4L, "rejected:low_quality").getLong(3) should be > 0L
  }

  test("the incremental cut's observed manifest equals the recipe over summed stats") {
    val docs = corpus(withNearDup = true)
    val (s5, base05) = referenceChain(docs)
    val day = curateFirstDay(docs)
    sameFrame(day.stats, base05)
    val manifest = IncrementalRelease.cut(day.curated, day.stats, targets)._2
    sameFrame(manifest, referenceManifest(mixed(s5), summed(base05)))
  }

  // Stage barriers observe the manifest's numbers, so the manifest's own
  // plan is a local scan and these job counts are what pins its work: on
  // this corpus (local[4]) build runs 32 jobs and the cut 15, where the
  // lazy-aggregate manifest ran 68 and 21. A change that puts aggregate
  // jobs back on the release path fails here.
  test("Release.build runs at most 32 jobs") {
    val (_, m) = JobMetrics.measure(spark.sparkContext) {
      Release.build(corpus(withNearDup = true), bench, targets)._2.collect()
    }
    m.jobs.size should be <= 32
  }

  test("IncrementalRelease.cut runs at most 15 jobs") {
    val day = curateFirstDay(corpus(withNearDup = true))
    val (_, m) = JobMetrics.measure(spark.sparkContext) {
      IncrementalRelease.cut(day.curated, day.stats, targets)._2.collect()
    }
    m.jobs.size should be <= 15
  }
}
