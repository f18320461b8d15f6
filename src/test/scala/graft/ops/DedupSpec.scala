package graft.ops

import org.apache.spark.SparkTestAccess.withCheckpointDir
import org.apache.spark.sql.functions._

import graft.testkit.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then runs far away " +
    "through fields of golden wheat while the evening sun sets slowly behind distant hills " +
    "casting long warm shadows across the quiet valley where a small river bends gently " +
    "between mossy stones and ancient willows lean low over the clear slow water humming " +
    "with dragonflies while swallows wheel high above the old wooden bridge at dusk"

  private def docs = Seq(
    (1L, base),
    (2L, base.replace("golden", "silver")), // near-duplicate of 1 (one word of ~75)
    (3L, base.toUpperCase.replace(" ", "  ")), // normalization-equal to 1
    (4L, "completely different content about spark catalyst optimizer rules and " +
      "distributed shuffle joins across many executor nodes in a large cluster"),
    (5L, base) // exact duplicate of 1
  ).toDF("id", "text")

  test("exact dedup keeps the smallest key per normalized text") {
    val kept = Dedup.exact(docs, "text", "id").select("id").as[Long].collect().sorted
    // 3 normalizes to the same text as 1/5 (case+whitespace), so one survivor
    kept shouldBe Array(1L, 2L, 4L)
  }

  test("exactKeepBest keeps the highest score, tie-broken by smallest key") {
    val scored = Seq(
      (1L, "same text", 10L), (2L, "SAME   text", 30L), (3L, "same  TEXT", 30L),
      (4L, "unique", 5L)
    ).toDF("id", "text", "score")
    val kept = Dedup.exactKeepBest(scored, "text", "score", "id")
      .select("id").as[Long].collect().sorted
    kept shouldBe Array(2L, 4L) // 2 and 3 tie at 30; smaller id wins
    // partitioning-invariant (map-side arg-min, no window)
    Dedup.exactKeepBest(scored.repartition(5), "text", "score", "id")
      .select("id").as[Long].collect().sorted shouldBe Array(2L, 4L)
  }

  test("exactKeepBest: a null score loses to any scored duplicate") {
    val scored = Seq(
      (1L, "same text", Some(-5L)), (2L, "SAME   text", None), // null must NOT win
      (3L, "other", None), (4L, "OTHER", None) // all-null set: smallest id wins
    ).toDF("id", "text", "score")
    Dedup.exactKeepBest(scored, "text", "score", "id")
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 3L)
  }

  test("shingles are distinct sliding windows of the normalized text") {
    val sh = spark.sql("SELECT 'abcdefghij' AS t")
      .select(Dedup.shingles(col("t"), 8).as("sh")).as[Seq[String]].head()
    sh shouldBe Seq("abcdefgh", "bcdefghi", "cdefghij")
    // shorter than k -> single whole-string shingle
    spark.sql("SELECT 'abc' AS t").select(Dedup.shingles(col("t"), 8).as("sh"))
      .as[Seq[String]].head() shouldBe Seq("abc")
  }

  test("minhash signatures are identical for normalized-equal docs") {
    val sig = Dedup.withMinhashSignature(docs, "text", numHashes = 8)
    val rows = sig.select("id", "mh0", "mh7").collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    rows(1L) shouldBe rows(5L)
    rows(1L) shouldBe rows(3L) // normalization handles case/whitespace
    rows(1L) should not be rows(4L)
  }

  test("jaccard on known arrays") {
    val df = spark.sql("SELECT array('a','b','c') AS a, array('b','c','d') AS b")
    df.select(Dedup.jaccard(col("a"), col("b")).as("j")).as[Double].head() shouldBe 0.5
  }

  test("lsh candidates include near-duplicates and exclude unrelated docs") {
    val pairs = Dedup.lshCandidatePairs(docs, "id", "text")
      .as[(Long, Long)].collect().toSet
    pairs should contain(1L -> 5L)
    pairs should contain(1L -> 2L)
    pairs.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }

  test("near-duplicate pairs verify candidates with exact jaccard") {
    val verified = Dedup.nearDuplicatePairs(docs, "id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    verified should contain(1L -> 5L) // jaccard 1.0
    verified should contain(1L -> 2L) // one word changed
    verified.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }

  test("duplicate clusters are connected components labeled by min id") {
    // two chains: 1-2, 2-3 (cluster 1) and 7-9 (cluster 7); 5 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    clusters shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
  }

  test("removeNearDuplicates keeps one representative per cluster") {
    val kept = Dedup.removeNearDuplicates(docs, "id", "text", threshold = 0.8)
      .select("id").as[Long].collect().sorted
    // 1, 2 (near-dup of 1 but ALSO clustered with it -> only min survives),
    // 3 and 5 are exact/normalized dups of 1; 4 is unrelated
    kept shouldBe Array(1L, 4L)
  }

  test("from-bands entry points are bit-identical to the from-text forms") {
    // bands are a pure function of the text, so feeding the precomputed
    // bandedIds frame (the shingle-once path incremental jobs ride) must
    // reproduce the from-text results exactly — candidates AND survivors
    val bands = Dedup.bandedIds(docs, "id", "text")
    Dedup.lshCandidatePairsFromBands(bands, "id")
      .as[(Long, Long)].collect().toSet shouldBe
      Dedup.lshCandidatePairs(docs, "id", "text").as[(Long, Long)].collect().toSet
    Dedup.removeNearDuplicatesFromBands(docs, bands, "id", "text")
      .select("id").as[Long].collect().sorted shouldBe
      Dedup.removeNearDuplicates(docs, "id", "text").select("id").as[Long].collect().sorted
  }

  test("removeNearDuplicatesKeepBest keeps the highest-scored cluster member") {
    val scored = docs.withColumn("quality",
      when($"id" === 3L, 9.0).when($"id" === 4L, 1.0).otherwise(5.0))
    // cluster {1,2,3,5}: 3 has the top score and survives; 4 is unclustered
    Dedup.removeNearDuplicatesKeepBest(scored, "id", "text", "quality", threshold = 0.8)
      .select("id").as[Long].collect().sorted shouldBe Array(3L, 4L)
    // null scores lose: score only id 2 -> it wins its cluster
    val sparse = docs.withColumn("quality",
      when($"id" === 2L, 1.0).otherwise(lit(null).cast("double")))
    Dedup.removeNearDuplicatesKeepBest(sparse, "id", "text", "quality", threshold = 0.8)
      .select("id").as[Long].collect().sorted shouldBe Array(2L, 4L)
    // all-null cluster: smallest id wins (deterministic fallback)
    val none = docs.withColumn("quality", lit(null).cast("double"))
    Dedup.removeNearDuplicatesKeepBest(none, "id", "text", "quality", threshold = 0.8)
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 4L)
  }

  test("scriptAware near-dedup works on CJK text where the ASCII path would collapse everything") {
    val zhA = "深度学习模型在大规模语料库上训练需要高质量的数据和强大的算力支持"
    val zhB = zhA.dropRight(2) + "保障" // recrawl with the tail edited
    val zhC = "今天天气晴朗适合在公园里散步并且观察各种花草树木的生长情况"
    val cjk = Seq((1L, zhA), (2L, zhB), (3L, zhC)).toDF("id", "text")

    // THE HAZARD: the ASCII tokenizer sees zero tokens in all three, so
    // every document gets the same single-empty-shingle signature — the
    // whole language would collapse into one duplicate cluster
    Dedup.withMinhashSignature(cjk, "text")
      .select($"mh0").distinct().count() shouldBe 1L

    // script-aware shingles separate them: the recrawl pair is above the
    // Jaccard bar, the unrelated doc far below (self-validating)
    val sh = cjk.select($"id", Dedup.wordShingles($"text", scriptAware = true).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def jac(a: Seq[String], b: Seq[String]): Double =
      a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
    jac(sh(1L), sh(2L)) should be >= 0.8
    jac(sh(1L), sh(3L)) should be < 0.2

    Dedup.removeNearDuplicates(cjk, "id", "text", threshold = 0.8, scriptAware = true)
      .select("id").as[Long].collect().sorted shouldBe Array(1L, 3L)
    // simhash tier: same story, same flag. SimHash majority votes need
    // token volume to be stable — page-sized docs (the 4x repeat) put the
    // one-edit recrawl within the Hamming band; a lone sentence would not.
    val pages = Seq((1L, zhA * 4), (2L, zhA * 3 + zhB), (3L, zhC * 4)).toDF("id", "text")
    Dedup.simhashNearDupPairs(pages, "id", "text", scriptAware = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe Set((1L, 2L))
  }

  test("leakage-safe split keeps near-duplicates in one split") {
    val out = Dedup.leakageSafeSplit(docs, "id", "text",
      Seq("train" -> 80, "valid" -> 10, "test" -> 10))
      .select("id", "group_id", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // 1/2/3/5 are one near-dup cluster -> one group, one split; 4 is alone
    out(1L) shouldBe out(2L)
    out(1L) shouldBe out(3L)
    out(1L) shouldBe out(5L)
    out(4L)._1 shouldBe 4L
    Set("train", "valid", "test") should contain(out(1L)._2)
  }

  test("checkpointDir reaches the cluster iteration from the one-call APIs") {
    // with the session's checkpoint dir set, the one-call APIs give the
    // local default's answers, leave no checkpoint files under the dir once
    // their result reads none (the clustering's driver path returns a local
    // relation), and leave the session's dir as they found it
    val dir = new java.io.File(tmpDir("graft-ckpt"))
    def kept() = Dedup.removeNearDuplicates(docs, "id", "text", threshold = 0.8)
      .select("id").as[Long].collect().sorted
    def groups() = Dedup.leakageSafeSplit(docs, "id", "text",
      Seq("train" -> 80, "valid" -> 10, "test" -> 10))
      .select("id", "group_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      val (localKept, localGroups) = (kept(), groups())
      localKept shouldBe Array(1L, 4L)
      withCheckpointDir(dir.getAbsolutePath) {
        val set = spark.sparkContext.getCheckpointDir
        kept() shouldBe localKept
        def checkpointFiles = {
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
          walk(dir)
        }
        checkpointFiles shouldBe empty
        val split = groups()
        split shouldBe localGroups
        split(5L) shouldBe split(1L)
        spark.sparkContext.getCheckpointDir shouldBe set
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("oracle label-propagation depth covers the corpus") {
    // The dup_clusters / leakage_safe_split ORACLES unroll plain min-label
    // propagation Queries.OracleLabelPropRounds times; Spark pointer-jumps
    // to convergence. They agree only while every dup component's diameter
    // stays within the unrolled depth — replay the oracle's recurrence on
    // the actual verify corpus (sf0.01) and demand identical labels.
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val pairs = Dedup.nearDuplicatePairs(corpus, "doc_id", "text", threshold = 0.8)
      .select($"id_a", $"id_b").localCheckpoint(true)
    val converged = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    val edges = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
      .union(pairs.select($"id_b".as("src"), $"id_a".as("dst"))).localCheckpoint(true)
    var labels = edges.select($"src".as("id")).distinct().withColumn("cluster_id", $"id")
    (1 to graft.Queries.OracleLabelPropRounds).foreach { _ =>
      labels = labels
        .union(edges.join(labels.withColumnRenamed("id", "dst"), "dst")
          .select($"src".as("id"), $"cluster_id"))
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint(true)
    }
    labels.as[(Long, Long)].collect().toMap shouldBe converged
  }

  test("bucket cap drops degenerate buckets before pairing") {
    val boilerplate = (1L to 20L).map(i => (i, base)).toDF("id", "text")
    Dedup.lshCandidatePairs(boilerplate, "id", "text", maxBucket = 5).count() shouldBe 0
    Dedup.lshCandidatePairs(boilerplate, "id", "text", maxBucket = 100).count() shouldBe 190 // 20 choose 2
  }

  test("bucket cap recall loss is measurable; saltHotBuckets recovers it with no loss") {
    // A boilerplate-heavy corpus: 30 docs share one template (every band
    // collides -> one size-30 bucket per band, far over a cap of 8), plus
    // 5 genuinely distinct near-dup pairs in cold buckets.
    val hotDocs = (1L to 30L).map(i => (i, base))
    val coldDocs = (0 until 5).flatMap { p =>
      val suf = ('a' + p).toChar
      val t = base.split(" ").map(w => s"$w$suf").mkString(" ")
      // one word of ~75 changed: a genuine near-dup pair, cold bucket of 2
      Seq((100L + p * 2, t), (101L + p * 2, t.replace(s"golden$suf", "silver")))
    }
    val corpus = (hotDocs ++ coldDocs).toDF("id", "text")

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.as[(Long, Long)].collect().toSet

    // ground truth: every colliding pair, no cap in the way
    val truth = pairSet(Dedup.lshCandidatePairs(corpus, "id", "text", maxBucket = 1000000))
    truth.size should be >= (435 + 5) // 30C2 boilerplate pairs + the cold pairs

    // the default drop policy silently loses every hot-bucket pair
    val capped = pairSet(Dedup.lshCandidatePairs(corpus, "id", "text", maxBucket = 8))
    val recallPct = capped.size * 100 / truth.size
    recallPct should be < 5 // measured: ~1% — 435 of 440 true pairs dropped
    capped.foreach { case (a, b) => a should be >= 100L; b should be >= 100L }

    // salted pairing keeps the cap's per-reducer bound with ZERO recall loss
    val salted = pairSet(Dedup.lshCandidatePairs(corpus, "id", "text",
      maxBucket = 8, saltHotBuckets = true))
    salted shouldBe truth

    // and it is still an equi-join plan: no cartesian/nested-loop anywhere
    val plan = Dedup.lshCandidatePairs(corpus, "id", "text",
      maxBucket = 8, saltHotBuckets = true).queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoop"
  }

  test("native kernels are bit-identical to the composed built-in formulation") {
    val composed = docs.select($"id",
      Dedup.minhash(Dedup.wordShinglesComposed($"text"), 0).as("mh0"),
      Dedup.minhash(Dedup.wordShinglesComposed($"text"), 5).as("mh5"),
      Dedup.simhash32Composed($"text").as("sh"),
      TextAnalysis.rollingFingerprintComposed($"text").as("rf"))
    val native = Dedup.withMinhashSignature(docs.select($"id", $"text"), "text", numHashes = 8)
      .select($"id", $"mh0", $"mh5",
        Dedup.simhash32($"text").as("sh"),
        TextAnalysis.rollingFingerprint($"text").as("rf"))
    composed.orderBy("id").collect() shouldBe native.orderBy("id").collect()
  }

  test("simhash64 native kernel is bit-identical to its composed specification") {
    val texts = Seq[(Long, Option[String])](
      (1L, None),
      (2L, Some("")),
      (3L, Some("word")),
      (4L, Some("spam spam spam spam eggs spam")),
      (5L, Some("深度学习模型 需要 高质量的数据 🙂🚀 emoji ✨ mixed text")),
      (6L, Some(Seq.fill(40)(base).mkString(" "))))
    val df = texts.toDF("id", "text")
    df.select($"id", Dedup.simhash64Composed($"text")).orderBy("id").collect() shouldBe
      df.select($"id", Dedup.simhash64($"text", scriptAware = false)).orderBy("id").collect()
  }

  test("unicode_normalize folds equivalent text to one byte form") {
    import graft.functions.functions.unicode_normalize
    val df = Seq(
      (1L, "café"), // composed é
      (2L, "café"), // decomposed e + combining acute
      (3L, "Ａﬁ x²"), // fullwidth A, fi ligature, superscript 2
      (4L, "plain ascii")
    ).toDF("id", "s")
    val nfkc = df.select($"id", unicode_normalize($"s").as("n"))
      .as[(Long, String)].collect().toMap
    nfkc(1L) shouldBe nfkc(2L) // NFC-equivalent inputs converge...
    nfkc(1L) shouldBe "café"
    nfkc(3L) shouldBe "Afi x2" // ...and compatibility forms fold
    nfkc(4L) shouldBe "plain ascii"
    // NFC preserves compatibility characters (only canonical composition)
    val nfc = df.filter($"id" === 3)
      .select(unicode_normalize($"s", "NFC")).as[String].head()
    nfc shouldBe "Ａﬁ x²"
    // exact dedup now sees the equivalent texts as one family
    val deduped = Dedup.exact(
      df.select($"id", unicode_normalize($"s").as("text")), "text", "id")
    deduped.count() shouldBe 3 // 1 and 2 collapsed
    an[IllegalArgumentException] should be thrownBy
      graft.functions.UnicodeNormalize(null, "NFX")
  }

  test("native minhash works via SQL when GraftExtensions is registered") {
    // the extension-injected function path (spark.sql.extensions) shares the
    // same expression; here we exercise the Column constructor directly
    val one = docs.filter($"id" === 1)
      .select(graft.functions.functions.minhash_signature($"text", 4).as("sig"))
      .as[Seq[String]].head()
    one should have size 4
    all(one) should fullyMatch regex "[0-9a-f]{8}"
  }

  test("simhash near-dup pairs find small-Hamming pairs and nothing else") {
    val pairs = Dedup.simhashNearDupPairs(docs, "id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    // exact/normalized duplicates are Hamming 0 (simhash tokenizes lowercase)
    pairs((1L, 3L)) shouldBe 0L
    pairs((1L, 5L)) shouldBe 0L
    pairs((3L, 5L)) shouldBe 0L
    // the unrelated doc never pairs
    pairs.keys.flatMap(p => Seq(p._1, p._2)) should not contain 4L
    // exact recall to 3 bits: a pair is reported IFF its 64-bit Hamming <= 3
    val h12 = docs.filter($"id".isin(1L, 2L))
      .agg(Dedup.hammingDistance(
        min(Dedup.simhash64($"text")), max(Dedup.simhash64($"text"))))
      .as[Long].head()
    pairs.contains((1L, 2L)) shouldBe (h12 <= 3)
    // recall guarantee only holds to 3 bits with 4 bands
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDupPairs(docs, "id", "text", maxHamming = 4)
  }

  test("simhash is a bag-of-words fingerprint: permutation-invariant, dup-sensitive") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"), // same bag
      (3L, "omega psi chi phi upsilon tau")
    ).toDF("id", "text")
    val hashes = df.select($"id", Dedup.simhash32($"text").as("h")).as[(Long, Long)].collect().toMap
    hashes(1L) shouldBe hashes(2L)
    hashes(1L) should not be hashes(3L)
    df.filter($"id" === 1).select(Dedup.hammingDistance(Dedup.simhash32($"text"), lit(hashes(3L))))
      .as[Int].head() should be > 0
  }

  test("tuneBands centers the LSH S-curve on the requested threshold") {
    // 12 hashes: implied thresholds are 1/12, 0.408, 0.63, 0.76, 0.89, 1.0
    Dedup.tuneBands(12, 0.8) shouldBe ((3, 4))
    Dedup.tuneBands(12, 0.6) shouldBe ((4, 3))
    Dedup.tuneBands(12, 0.4) shouldBe ((6, 2))
    // the implied threshold brackets the request between its neighbors
    val (b, r) = Dedup.tuneBands(24, 0.85)
    b * r shouldBe 24
    math.abs(math.pow(1.0 / b, 1.0 / r) - 0.85) should be < 0.1
  }

  test("span dedup keeps the first occurrence of a repeated passage corpus-wide") {
    val df = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "alpha beta gamma delta one two three four five six seven eight"),
      (3L, "tiny doc"), // shorter than the window -> untouched
      (4L, "red green blue yellow red green blue yellow"), // intra-doc repeat
      (5L, "one two three four five six seven eight") // full copy of doc 1
    ).toDF("id", "text")
    val out = Dedup.removeDuplicateSpans(df, "id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((8L, 8L, "one two three four five six seven eight")) // first copy survives
    out(2L) shouldBe ((12L, 4L, "alpha beta gamma delta")) // quoted passage stripped
    out(3L) shouldBe ((2L, 2L, "tiny doc"))
    out(4L) shouldBe ((8L, 4L, "red green blue yellow")) // self-repeat collapsed
    out(5L) shouldBe ((8L, 0L, "")) // whole doc was already seen
  }

  test("span dedup matches a brute-force reference on seeded random corpora") {
    // naive reference: same keep-first semantics, computed with plain Scala
    def reference(docs: Seq[(Long, String)], w: Int): Map[Long, (Long, Long, String)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
      }.sortBy(_._1)
      val seen = collection.mutable.Set[String]()
      val covered = collection.mutable.Map[Long, collection.mutable.Set[Int]]()
      for ((id, ts) <- toks; pos <- 0 to ts.length - w) {
        val win = ts.slice(pos, pos + w).mkString(" ")
        if (seen(win)) covered.getOrElseUpdate(id, collection.mutable.Set()) ++= (pos until pos + w)
        else seen += win
      }
      toks.map { case (id, ts) =>
        val cov: collection.Set[Int] = covered.getOrElse(id, collection.mutable.Set.empty[Int])
        val kept = ts.zipWithIndex.collect { case (t, i) if !cov(i) => t }
        id -> ((ts.length.toLong, kept.length.toLong, kept.mkString(" ")))
      }.toMap
    }
    for (seed <- Seq(7, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("ax", "bo", "ce", "du", "ef", "fi", "gu", "ho")
      val docs = (1L to 20L).map { id =>
        id -> Vector.fill(8 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val out = Dedup.removeDuplicateSpans(docs.toDF("id", "text"), "id", "text", w = 3)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      withClue(s"seed=$seed") { out shouldBe reference(docs, 3) }
    }
  }

  test("span dedup is invariant to input partitioning") {
    val df = Seq(
      (10L, "a b c d e f g h i j"),
      (20L, "z y x w a b c d e f g h i j")
    ).toDF("id", "text")
    val one = Dedup.removeDuplicateSpans(df.coalesce(1), "id", "text", w = 5).collect().toSet
    val many = Dedup.removeDuplicateSpans(df.repartition(7), "id", "text", w = 5).collect().toSet
    one shouldBe many
  }

  test("containment is asymmetric: the quote clears the gate, the host does not") {
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel"
    val host = s"intro words here $quote and a very long tail " +
      "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12 k13 k14 k15 k16 k17 k18 k19 k20"
    val df = Seq((1L, quote), (2L, host)).toDF("id", "text")
    val out = Dedup.containmentPairs(df, "id", "text", minContainPpm = 900000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out shouldBe Set((1L, 2L)) // quote ⊂ host at ~100%; host → quote is diluted
  }

  test("containment ppm is the exact integer intersection over |S(A)|") {
    // 6 tokens -> 2 distinct 5-gram shingles each; docs share exactly 1
    val a = "w1 w2 w3 w4 w5 w6"     // shingles: {w1..w5, w2..w6}
    val b = "w2 w3 w4 w5 w6 w7"     // shingles: {w2..w6, w3..w7}
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val rows = Dedup.containmentPairs(df, "id", "text", minContainPpm = 0L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    rows shouldBe Set((1L, 2L, 1L, 2L, 500000L), (2L, 1L, 1L, 2L, 500000L))
  }

  test("the df cap drops boilerplate shingles from candidates and counts") {
    // the same banner shingle on every doc; unique content otherwise
    val docs = (1L to 8L).map(i => (i, s"the same cookie banner here c${i}a c${i}b c${i}c c${i}d c${i}e"))
    val df = docs.toDF("id", "text")
    // cap below the banner's df=8: banner shingles can't pair anyone
    Dedup.containmentPairs(df, "id", "text", minContainPpm = 1L, maxShingleDf = 7)
      .count() shouldBe 0L
    // cap at 8: every doc pairs with every other through the banner
    Dedup.containmentPairs(df, "id", "text", minContainPpm = 1L, maxShingleDf = 8)
      .count() shouldBe 8L * 7L
  }

  test("containment pairs are partitioning-independent and null-safe") {
    val df = Seq((1L, Option("a b c d e f g")), (2L, Option("a b c d e f g h")),
      (3L, Option.empty[String])).toDF("id", "text")
    val one = Dedup.containmentPairs(df.coalesce(1), "id", "text", minContainPpm = 0L)
      .collect().map(_.toSeq).toSet
    val many = Dedup.containmentPairs(df.repartition(5), "id", "text", minContainPpm = 0L)
      .collect().map(_.toSeq).toSet
    one shouldBe many
    one.map(_.head) should not contain 3L // null text never pairs
  }

  test("jaccardPairsExact equals the naive all-pairs definition") {
    // deterministic overlapping sets, sizes 3..7, some duplicate tokens
    val rows = (1L to 40L).map { i =>
      val toks = (0 until (3 + (i % 5)).toInt)
        .map(k => s"t${(i * 7 + k * 13) % 23}")
      (i, toks)
    }
    val df = rows.toDF("id", "toks")
    val t = 400000L
    val got = Dedup.jaccardPairsExact(df, "id", "toks", t)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // naive reference: every pair, full distinct sets, exact integer math
    val sets = rows.map { case (i, ts) => i -> ts.distinct.toSet }.toMap
    val want = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      sa = sets(a); sb = sets(b)
      inter = (sa & sb).size.toLong
      union = sa.size + sb.size - inter
      if inter * 1000000L >= union * t
    } yield (a, b, inter, sa.size.toLong, sb.size.toLong, inter * 1000000L / union)).toSet
    got shouldBe want
    want should not be empty // the fixture must actually exercise the join
  }

  test("jaccardPairsExact boundary pairs and degenerate sets") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),      // vs 2: inter 2, union 4 -> exactly 0.5
      (2L, Seq("a", "b")),
      (3L, Seq[String]()),                // empty: dropped, pairs no one
      (4L, Seq("a", "a", "b"))            // dupes collapse to {a,b} == set 2
    ).toDF("id", "toks")
    val out = Dedup.jaccardPairsExact(df, "id", "toks", 500000L)
      .select("id_a", "id_b", "jaccard_ppm").as[(Long, Long, Long)].collect().toSet
    out shouldBe Set((1L, 2L, 500000L), (2L, 4L, 1000000L), (1L, 4L, 500000L))
    // a hair above the boundary excludes the 0.5 pairs
    Dedup.jaccardPairsExact(df, "id", "toks", 500001L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe Set((2L, 4L))
  }

  test("jaccardPairsExact is partitioning-independent") {
    val df = (1L to 20L).map(i =>
      (i, (0 until 4).map(k => s"x${(i + k * 3) % 11}"))).toDF("id", "toks")
    val one = Dedup.jaccardPairsExact(df.coalesce(1), "id", "toks", 300000L)
      .collect().map(_.toSeq).toSet
    val many = Dedup.jaccardPairsExact(df.repartition(7), "id", "toks", 300000L)
      .collect().map(_.toSeq).toSet
    one shouldBe many
  }

  test("sortedNeighborhoodPairs emits exactly the pairs within the window, once each") {
    val df = (1L to 30L).map(i => (i, f"s$i%03d")).toDF("id", "v")
    val out = Dedup.sortedNeighborhoodPairs(df, "id", "v", window = 4)
      .select("rank_a", "rank_b").as[(Long, Long)].collect()
    val expected = for (a <- 1L to 30L; b <- a + 1 to math.min(a + 3, 30L)) yield (a, b)
    out.toSet shouldBe expected.toSet
    out.length shouldBe expected.length // no duplicate emissions across blocks
  }

  test("sortedNeighborhoodPairs orders by the value key so near-strings meet") {
    val df = Seq((10L, "apple"), (99L, "apple!"), (50L, "zebra"), (51L, "zebrb"))
      .toDF("id", "v")
    val pairs = Dedup.sortedNeighborhoodPairs(df, "id", "v", window = 2)
      .select("value_a", "value_b").as[(String, String)].collect().toSet
    // window 2 = adjacent-in-order only
    pairs shouldBe Set(("apple", "apple!"), ("apple!", "zebra"), ("zebra", "zebrb"))
  }

  test("sortedNeighborhoodPairs is partitioning-independent") {
    val df = (1L to 40L).map(i => (i, s"v${i * 7 % 19}")).toDF("id", "v")
    val one = Dedup.sortedNeighborhoodPairs(df.coalesce(1), "id", "v", 5)
      .collect().map(_.toSeq).toSet
    val many = Dedup.sortedNeighborhoodPairs(df.repartition(11), "id", "v", 5)
      .collect().map(_.toSeq).toSet
    one shouldBe many
  }
}
