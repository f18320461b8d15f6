package graft.etl.examples

import org.apache.spark.sql.DataFrame

import graft.io.{HdfsUrl, WarehouseTable}
import graft.testkit.SparkJobSuiteBase
import graft.time.{DateInterval, Day}

/**
 * The batch ≡ incremental law of the release capstone: day-split runs
 * through [[IncrementalReleaseJob]] produce the IDENTICAL manifest (and
 * export) to the one-shot [[Release.build]] over the union of the days —
 * on a corpus satisfying the documented preconditions (monotone ids,
 * band collisions that verify, no day-bridged clusters, non-null text).
 * Offenders are planted so every cross-day store does load-bearing work:
 * a URL recrawl, an exact re-text, a near-dup recrawl, plus within-day
 * duplicates, quality/contamination rejects and an untargeted language.
 */
class IncrementalReleaseJobSpec extends SparkJobSuiteBase {
  import spark.implicits._

  private val day1 = Day(2026, 8, 10)
  private val day2 = Day(2026, 8, 11)
  private val day3 = Day(2026, 8, 12)
  private val days = Seq(day1, day2, day3)

  private def prose(seed: Int, words: Int = 45): String =
    (0 until words).map(i => s"word${(seed * 131 + i * 7) % 9973}x$i").mkString(" ")

  private val near1 = prose(900, 200) // day-1 doc 34; day-2 doc 113 recrawls it
  private val near1Dup = near1.split(' ').dropRight(1).mkString(" ") + " changedtail"
  private val near2 = prose(910, 200) // day-2 doc 117; day-3 doc 207 recrawls it
  private val near2Dup = near2.split(' ').dropRight(1).mkString(" ") + " othertail"
  private val benchSpan = "alpha bravo charlie delta echo foxtrot golf hotel"

  private def rowsFor(date: DateInterval): Seq[(Long, String, String, String, String)] =
    date match {
      case `day1` =>
        (0 until 12).map(i => (i.toLong, s"https://site.com/en/$i", "en", "s_en", prose(i))) ++
        (12 until 16).map(i => (i.toLong, s"https://site.com/de/$i", "de", "s_de", prose(i))) ++
        Seq(
          (30L, "https://site.com/page?x=1", "en", "s_en", prose(300)),
          (32L, "https://site.com/a32", "en", "s_en", "the same exact text lives here in this document body"),
          (34L, "https://site.com/a34", "en", "s_en", near1),
          (36L, "https://site.com/a36", "en", "s_en", "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
          (37L, "https://site.com/a37", "en", "s_en",
            s"this clean document quotes $benchSpan straight from the benchmark set"))
      case `day2` =>
        (100 until 108).map(i => (i.toLong, s"https://site.com/en2/$i", "en", "s_en", prose(i))) ++
        Seq(
          // cross-day URL dup: same page as day-1's 30 modulo a tracking param
          (111L, "https://site.com/page?x=1&utm_source=feed", "en", "s_en", prose(311)),
          // cross-day exact dup: day-1 32's text modulo whitespace
          (112L, "https://site.com/a112", "en", "s_en", "the  same   exact text lives here in this document body"),
          // cross-day near dup: one word of day-1 34's 200 changed
          (113L, "https://site.com/a113", "en", "s_en", near1Dup),
          (114L, "https://site.com/es/114", "es", "s_es", prose(114)),
          // within-day exact pair: 116 dies to 115
          (115L, "https://site.com/a115", "de", "s_de", "duplicated body shared within the second day"),
          (116L, "https://site.com/a116", "de", "s_de", "duplicated  body shared within the second day"),
          (117L, "https://site.com/a117", "en", "s_en", near2))
      case _ =>
        (200 until 206).map(i => (i.toLong, s"https://site.com/en3/$i", "en", "s_en", prose(i))) ++
        Seq(
          // cross-day URL dup of a day-2 page
          (206L, "https://site.com/en2/100?utm_medium=rss", "en", "s_en", prose(600)),
          // cross-day near dup of day-2's 117
          (207L, "https://site.com/a207", "en", "s_en", near2Dup),
          (208L, "https://site.com/a208", "de", "s_de",
            s"another clean document quoting $benchSpan verbatim from the benchmark"),
          (209L, "https://site.com/a209", "de", "s_de", prose(777)))
    }

  private def sourceFor(date: DateInterval): DataFrame =
    rowsFor(date).toDF("doc_id", "url", "lang", "source", "text")

  private def bench: DataFrame = Seq(
    (1000L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"))
    .toDF("bench_id", "text")

  private val targets = Map("en" -> 500000, "de" -> 250000)

  private def collected(df: DataFrame): Set[(Long, String, String, Long, Long, Option[Long])] =
    df.selectExpr("ord", "stage", "detail", "n", "tokens", "checksum")
      .as[(Long, String, String, Long, Long, Option[Long])].collect().toSet

  private def job(root: HdfsUrl) = new IncrementalReleaseJob(
    sourceFor, _ => bench,
    WarehouseTable(root, "urls"), WarehouseTable(root, "fps"),
    WarehouseTable(root, "bands"), WarehouseTable(root, "curated"),
    WarehouseTable(root, "stats"), WarehouseTable(root, "release"),
    WarehouseTable(root, "manifest"), targets)

  test("day-split runs produce the identical manifest and export as the one-shot batch") {
    val root = HdfsUrl(tmpDir("incr_release"))
    val j = job(root)
    days.foreach(d => runJob(j, d).isSuccess shouldBe true)

    val union = days.map(sourceFor).reduce(_ unionByName _)
    val (batchExport, batchManifest) = Release.build(union, bench, targets)

    // the day-3 partitions ARE the release over all three days
    val incrManifest = WarehouseTable(root, "manifest").load(spark, day3)
    collected(incrManifest) shouldBe collected(batchManifest)

    val key = Seq("chunk_key", "shuffle_rank", "n_docs", "n_tokens")
    val incrExport = WarehouseTable(root, "release").load(spark, day3)
      .selectExpr(key: _*).as[(String, Long, Long, Long)].collect().toSet
    batchExport.selectExpr(key: _*).as[(String, Long, Long, Long)]
      .collect().toSet shouldBe incrExport

    // intermediate cut: day 2's manifest is the batch over days 1-2
    val (_, batch12) = Release.build(
      Seq(day1, day2).map(sourceFor).reduce(_ unionByName _), bench, targets)
    collected(WarehouseTable(root, "manifest").load(spark, day2)) shouldBe
      collected(batch12)

    // the planted cross-day offenders actually died at their tiers: the
    // summed stats equal the batch stage counts row for row (subsumed by
    // the manifest equality, asserted separately for a pointed failure)
    val rej = collected(incrManifest).collect {
      case (ord, stage, detail, n, _, _) if detail.startsWith("rejected:") =>
        (stage, n)
    }.toMap
    rej("url_dedup") shouldBe 2L // 111 (day2 vs day1) + 206 (day3 vs day2)
    rej("exact_dedup") shouldBe 2L // 112 cross-day + 116 within-day
    rej("near_dedup") shouldBe 2L // 113 (vs day1's 34) + 207 (vs day2's 117)
  }

  test("verifyNear: a FALSE cross-day band collision survives incrementally " +
    "and the manifest still matches the batch (precondition 2 struck)") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    // search deterministically for a sub-threshold pair that nonetheless
    // collides on a band: 20 shared words + 20 distinct per side gives
    // shingle Jaccard ~0.29 (far below 0.8), and each band collides with
    // probability ~0.29^3 — over 200 seeds some pair collides
    val cand = (0 until 200).flatMap { s =>
      val shared = (0 until 20).map(i => s"aw${s}q$i")
      val a = (shared ++ (20 until 40).map(i => s"bx${s}q$i")).mkString(" ")
      val b = (shared ++ (20 until 40).map(i => s"cy${s}q$i")).mkString(" ")
      Seq((2L * s, a), (2L * s + 1, b))
    }
    val candDf = cand.toDF("doc_id", "text")
    val bands = Dedup.bandedIds(candDf, "doc_id", "text")
    val seed = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") + 1 === col("y.doc_id") && col("x.doc_id") % 2 === 0)
      .select((col("x.doc_id") / 2).cast("long")).as[Long].collect()
      .headOption.getOrElse(fail("no false band collision in 200 seeds"))
    val textA = cand((2 * seed).toInt)._2
    val textB = cand((2 * seed).toInt + 1)._2
    // the planted pair is genuinely sub-threshold
    val jac = candDf.filter((col("doc_id") / 2).cast("long") === seed)
      .agg(Dedup.jaccard(
        org.apache.spark.sql.functions.min(Dedup.wordShingles(col("text"))),
        org.apache.spark.sql.functions.max(Dedup.wordShingles(col("text")))))
      .as[Double].head()
    jac should be < 0.8

    val d1 = Seq((10L, "https://e.com/a", "en", "s_en", textA))
      .toDF("doc_id", "url", "lang", "source", "text")
    val d2 = Seq((20L, "https://e.com/b", "en", "s_en", textB))
      .toDF("doc_id", "url", "lang", "source", "text")
    def empty(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    def runIncr(verify: Boolean) = {
      val bandSchema = if (verify) IncrementalRelease.VerifiedBandStoreSchema
        else IncrementalRelease.BandStoreSchema
      val init = (empty(IncrementalRelease.UrlStoreSchema),
        empty(IncrementalRelease.FpStoreSchema), empty(bandSchema),
        Seq.empty[DataFrame], Seq.empty[DataFrame])
      val (_, _, _, cur, st) = Seq(d1, d2).foldLeft(init) {
        case ((urls, fps, bs, c, s2), day) =>
          val dc = IncrementalRelease.curateDay(day, bench, urls, fps, bs,
            verifyNear = verify)
          (urls.unionByName(dc.urls), fps.unionByName(dc.fps),
            bs.unionByName(dc.bands), c :+ dc.curated, s2 :+ dc.stats)
      }
      (cur.reduce(_ unionByName _),
        IncrementalRelease.cut(cur.reduce(_ unionByName _),
          st.reduce(_ unionByName _), Map("en" -> 1000000))._2)
    }
    val (curVerified, mVerified) = runIncr(verify = true)
    val (curDefault, _) = runIncr(verify = false)
    // default mode drops the day-2 doc UNVERIFIED (the documented
    // one-sided rule); the verified tier pays the exact-Jaccard residual
    // and keeps it — agreeing with the batch verdict
    curDefault.filter(col("doc_id") === 20L).count() shouldBe 0L
    curVerified.filter(col("doc_id") === 20L).count() shouldBe 1L
    val (_, batchM) = Release.build(d1.unionByName(d2), bench, Map("en" -> 1000000))
    collected(mVerified) shouldBe collected(batchM)
  }

  test("reruns are manifest-gated and crash-rerun idempotent") {
    val root = HdfsUrl(tmpDir("incr_release_rerun"))
    val j = job(root)
    runJob(j, day1).isSuccess shouldBe true
    runJob(j, day2).isSuccess shouldBe true
    j.shouldRunForDate(spark, day2) shouldBe false

    // simulate a crash after the stores were appended but before the
    // manifest write: delete day2's manifest partition and rerun — the
    // stores are read strictly BEFORE the date, so the day must not dedup
    // against its own keys and write an emptier release
    val before = collected(WarehouseTable(root, "manifest").load(spark, day2))
    val part = WarehouseTable(root, "manifest").partitionUrl(day2)
    part.fileSystem(spark).delete(part.path, true)
    j.shouldRunForDate(spark, day2) shouldBe true
    runJob(j, day2).isSuccess shouldBe true
    collected(WarehouseTable(root, "manifest").load(spark, day2)) shouldBe before
  }
}
