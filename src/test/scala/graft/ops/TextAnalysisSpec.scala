package graft.ops

import org.apache.spark.SparkTestAccess.withSqlConf
import org.apache.spark.sql.functions._

import graft.testkit.SparkTestBase

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("tokens lowercases and splits on non-alphanumerics") {
    one("Hello, World! Take 5.").select(TextAnalysis.tokens($"text"))
      .as[Seq[String]].head() shouldBe Seq("hello", "world", "take", "5")
  }

  test("token counts: whitespace vs BPE-ish") {
    one("don't  stop me\tnow").select(
      TextAnalysis.whitespaceTokenCount($"text"),
      TextAnalysis.bpeTokenCount($"text")).as[(Int, Int)].head() shouldBe
      (4, 6) // [don't, stop, me, now] vs [don, ', t, stop, me, now]
  }

  test("language id picks the profile with most stopword hits") {
    one("the cat and the dog is in the house").select(TextAnalysis.languageId($"text"))
      .as[String].head() shouldBe "en"
    one("der Hund und die Katze ist nicht hier").select(TextAnalysis.languageId($"text"))
      .as[String].head() shouldBe "de"
    one("le chat est dans la maison avec les enfants").select(TextAnalysis.languageId($"text"))
      .as[String].head() shouldBe "fr"
    one("zzz qqq xxx").select(TextAnalysis.languageId($"text"))
      .as[String].head() shouldBe "und"
  }

  test("tokenize kernel is bit-identical to the composed filter(split(lower))") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      "The cat AND the dog", "a1b2c3", "  leading  and trailing  ",
      "", null, "...!!!", "ΣΊΣΥΦΟΣ greek UPPER", "İstanbul mixed TR",
      "中文没有空格但有English words", "tabs\tand\nnewlines", "ALL CAPS 123",
      "répétition déjà vu", "под водой кириллица")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    rows.select(
        TextAnalysis.tokens(col("text")).as("k"),
        TextAnalysis.tokensComposed(col("text")).as("c"))
      .where(!(col("k") <=> col("c"))).count() shouldBe 0L
  }

  test("stopword kernel is bit-identical to the composed fold (pick and single-profile hits)") {
    import org.apache.spark.sql.functions.{col, lit, element_at}
    // adversarial shapes: empty, null, separators-only, mixed scripts,
    // repeated stopwords (multiset law), stopwords shared across profiles,
    // uppercase (lowering first), digits glued to words
    val rows = Seq(
      "the cat and the dog is in the house",
      "der Hund und die Katze ist nicht hier",
      "le chat est dans la maison avec les enfants",
      "zzz qqq xxx", "", "   \t\n ", null,
      "THE THE THE the the de la el en un es und",
      "der die das de la le a o e i у и не 的 是",
      "a1the b2and c3und", "el agua es la vida y el sol",
      "это не русский текст а просто слова и буквы")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val both = rows.select(
      TextAnalysis.stopwordPickKernel(col("text")).as("k"),
      TextAnalysis.stopwordPickComposed(TextAnalysis.tokens(col("text"))).as("c"),
      TextAnalysis.stopwordHitsKernel(col("text"),
        TextAnalysis.StopwordProfiles("en")).as("hk"),
      TextAnalysis.stopwordHits(TextAnalysis.tokens(col("text")),
        TextAnalysis.StopwordProfiles("en")).cast("long").as("hc"))
    both.where(!(col("k") <=> col("c")) || !(col("hk") <=> col("hc")))
      .count() shouldBe 0L
  }

  test("language id classifies non-Latin scripts via the script pre-filter") {
    def lang(s: String): String =
      one(s).select(TextAnalysis.languageId($"text")).as[String].head()
    lang("机器学习模型在大规模数据集上训练效果更好") shouldBe "zh" // Han, kana-free
    lang("機械学習のモデルはこのデータで学習します") shouldBe "ja" // Han + kana
    lang("カタカナのテキストです") shouldBe "ja" // pure kana
    lang("머신러닝 모델은 대규모 데이터로 학습됩니다") shouldBe "ko"
    lang("модели машинного обучения работают лучше") shouldBe "ru"
    lang("نماذج التعلم الآلي تعمل بشكل أفضل") shouldBe "ar"
    lang("मशीन लर्निंग मॉडल बेहतर काम करते हैं") shouldBe "hi"
    lang("τα μοντέλα μηχανικής μάθησης λειτουργούν") shouldBe "el"
    lang("מודלים של למידת מכונה עובדים טוב") shouldBe "he"
    lang("โมเดลการเรียนรู้ทำงานได้ดี") shouldBe "th"
    // a FEW Latin letters inside CJK text do not flip the pick
    lang("この GPU モデルはデータで学習します") shouldBe "ja"
    // Latin text with diacritics still routes to the stopword stage
    lang("och att det som han var med den till inte") shouldBe "sv"
    lang("yang dan di dengan untuk dari ini itu pada") shouldBe "id"
    lang("hogy nem egy az ez volt csak mint") shouldBe "hu"
    lang("ve bir bu da ile ne gibi daha sonra") shouldBe "tr"
    lang("nie jest jak ale czy tak oraz przez") shouldBe "pl"
  }

  test("quality stats on a known document") {
    val stats = TextAnalysis.qualityStats($"text")
    val row = one("Hello world!").select(stats.map { case (n, c) => c.as(n) }: _*).collect().head
    row.getAs[Int]("n_chars") shouldBe 12
    row.getAs[Int]("n_tokens") shouldBe 2
    row.getAs[Double]("punct_ratio") shouldBe 1.0 / 12 +- 1e-4
    row.getAs[Double]("mean_word_len") shouldBe 5.0
  }

  test("normalization and fingerprints collapse case and whitespace") {
    val df = Seq(("A  B\tc", "a b c"), ("x", "y")).toDF("l", "r")
    df.select((TextAnalysis.fingerprint($"l") === TextAnalysis.fingerprint($"r")).as("eq"))
      .as[Boolean].collect() shouldBe Array(true, false)
  }

  test("rolling fingerprint is window-min based and deterministic") {
    val text = "one two three four five six seven eight nine ten"
    val fp1 = one(text).select(TextAnalysis.rollingFingerprint($"text")).as[String].head()
    val fp2 = one(text).select(TextAnalysis.rollingFingerprint($"text")).as[String].head()
    fp1 shouldBe fp2
    fp1 should fullyMatch regex "[0-9a-f]{32}"
    // appending text can only add windows -> the min can only stay or decrease
    val extended = one(text + " eleven twelve thirteen fourteen fifteen")
      .select(TextAnalysis.rollingFingerprint($"text")).as[String].head()
    extended should be <= fp1
  }

  test("PII scrubbing redacts emails, phones, IPs and SSNs") {
    val dirty = "mail me at john.doe+x@corp.example.org or call +1 (514) 555-0199, " +
      "server 192.168.1.10, ssn 123-45-6789 ok"
    val (scrubbed, flag) = one(dirty)
      .select(TextAnalysis.scrubPii($"text"), TextAnalysis.hasPii($"text"))
      .as[(String, Int)].head()
    scrubbed should include("<EMAIL>")
    scrubbed should include("<PHONE>")
    scrubbed should include("<IPV4>")
    scrubbed should include("<SSN>")
    scrubbed should not include "john.doe"
    scrubbed should not include "192.168.1.10"
    flag shouldBe 1
    one("nothing sensitive here").select(TextAnalysis.hasPii($"text")).as[Int].head() shouldBe 0
  }

  test("quality flags gate degenerate documents") {
    val rows = Seq(
      ("good", "the quick brown fox jumps over the lazy dog near the river bank today"),
      ("too_short", "hi"),
      ("repetitive", ("spam " * 50).trim),
      ("symbols", "@#$% ^&*! @#$% ^&*! @#$% ~~~ !!! ??? ### $$$ %%%")
    ).toDF("name", "text")
    val flags = TextAnalysis.qualityFlags($"text").map { case (n, c) => c.as(n) }
    val byName = rows.select($"name" +: flags: _*).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap // passes col
    byName("good") shouldBe 1L
    byName("too_short") shouldBe 0L
    byName("repetitive") shouldBe 0L // distinct ratio 1/50
    byName("symbols") shouldBe 0L
  }

  test("topNgrams counts multiset bigrams with deterministic ordering") {
    val df = Seq("the cat sat", "the cat ran", "a dog ran").toDF("text")
    val top = TextAnalysis.topNgrams(df, "text", n = 2, k = 3)
      .as[(String, Long)].collect().toList
    top.head shouldBe ("the cat", 2L)
    top should have size 3
    top(1)._2 shouldBe 1L // ties broken alphabetically
  }

  test("contamination counts shared n-grams against the probe set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely unrelated sentence about database joins"),
      (3L, "quick brown fox stories are nice")
    ).toDF("doc_id", "text")
    val probes = Seq("the quick brown fox runs").toDF("text")
    val hits = TextAnalysis.contamination(docs, probes, n = 3)
      .as[(Long, Long)].collect().toMap
    hits(1L) shouldBe 2L // "the quick brown", "quick brown fox"
    hits(3L) shouldBe 1L // "quick brown fox"
    hits.get(2L) shouldBe None // clean doc: no row
  }

  test("boilerplate lines are removed corpus-wide, order preserved, no doc lost") {
    val docs = Seq(
      (1L, "unique line one\nShared Footer Text\nunique line two"),
      (2L, "another original paragraph\nshared  footer   TEXT"), // normalization-equal footer
      (3L, "shared footer text"), // the doc IS the boilerplate -> empties out
      (4L, "totally unrelated content")
    ).toDF("doc_id", "text")
    val cleaned = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 2)
      .as[(Long, String)].collect().toMap
    cleaned(1L) shouldBe "unique line one\nunique line two"
    cleaned(2L) shouldBe "another original paragraph"
    cleaned(3L) shouldBe "" // kept as a row, text emptied
    cleaned(4L) shouldBe "totally unrelated content"
  }

  test("hashSplit is deterministic and roughly proportional") {
    val ids = spark.range(10000).toDF("id")
    val split = TextAnalysis.hashSplit($"id", Seq("train" -> 80, "valid" -> 10, "test" -> 10))
    val counts = ids.select(split.as("s")).groupBy("s").count()
      .as[(String, Long)].collect().toMap
    counts.keySet shouldBe Set("train", "valid", "test")
    counts("train").toDouble shouldBe 8000.0 +- 300.0
    counts("valid").toDouble shouldBe 1000.0 +- 150.0
    counts("test").toDouble shouldBe 1000.0 +- 150.0
    // same ids -> identical assignment, independent of partitioning
    val again = ids.repartition(13).select($"id", split.as("s")).as[(Long, String)].collect().toMap
    val first = ids.select($"id", split.as("s")).as[(Long, String)].collect().toMap
    again shouldBe first
  }

  test("kfoldAssign: folds in range, group-consistent, roughly uniform, k bounds enforced") {
    val df = spark.range(10000).toDF("id")
      .withColumn("grp", expr("id DIV 4"))
    val folds = df.select($"id", $"grp",
      TextAnalysis.kfoldAssign($"grp", k = 5).as("fold"))
      .as[(Long, Long, Long)].collect()
    folds.map(_._3).toSet.subsetOf((0L until 5L).toSet) shouldBe true
    // every group's rows share ONE fold — the leakage-safe CV law
    folds.groupBy(_._2).values.foreach(rows => rows.map(_._3).toSet.size shouldBe 1)
    // roughly uniform across folds (2000 rows/fold expected)
    val counts = folds.groupBy(_._3).view.mapValues(_.size).toMap
    counts.size shouldBe 5
    counts.values.foreach(_.toDouble shouldBe 2000.0 +- 300.0)
    // pure per-row math: partitioning cannot change assignments
    val again = df.repartition(13)
      .select($"id", TextAnalysis.kfoldAssign($"grp", 5).as("fold"))
      .as[(Long, Long)].collect().toMap
    again shouldBe folds.map(r => r._1 -> r._3).toMap
    an[IllegalArgumentException] should be thrownBy TextAnalysis.kfoldAssign($"grp", 1)
  }

  test("sentences enumerates terminator-run segments plus a trailing fragment") {
    def sents(s: String): Seq[String] =
      Seq(s).toDF("t").select(TextAnalysis.sentences($"t")).as[Seq[String]].head()
    sents("Hello world. How are you? Fine! trailing bit") shouldBe
      Seq("Hello world.", " How are you?", " Fine!", " trailing bit")
    sents("Really?! Yes.") shouldBe Seq("Really?!", " Yes.") // terminator runs group
    sents("no terminators") shouldBe Seq("no terminators")
    sents("Ends clean.") shouldBe Seq("Ends clean.")
    sents("") shouldBe Seq.empty
  }

  test("bigram typicality scores word order, not just word bags") {
    val ref = Seq(
      "the cat sat on the mat", "the cat sat by the door",
      "the dog sat on the mat", "the cat ran to the mat").toDF("text")
    // exact model check: "the cat" appears 3x of 20 total bigrams -> 150000 ppm
    val model = TextAnalysis.typicalityModelN(ref, "text", n = 2, vocabSize = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    model("the cat") shouldBe 150000L
    model("sat on") shouldBe 100000L
    // in-order text scores high; the same words scrambled mostly miss
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "mat the on sat cat the"),
      (3L, "solo")).toDF("doc_id", "text")
    val scored = TextAnalysis.typicalityScoresN(docs, "doc_id", "text", ref, "text",
      n = 2, vocabSize = 100).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    scored(1L)._1 shouldBe 5L // 5 bigrams
    scored(1L)._2 should be > scored(2L)._2
    scored.contains(3L) shouldBe false // under n tokens -> no row
    // literal-map form agrees with the agg form, gram for gram
    val lit = docs.select($"doc_id",
      TextAnalysis.typicalityScoreColN($"text", model, n = 2).as("t"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    lit(1L) shouldBe Some(scored(1L)._2)
    lit(2L) shouldBe Some(scored(2L)._2)
    lit(3L) shouldBe None
  }

  test("qualityLinearScore fuses exact integer features and literal weights") {
    // "ab cd ab 12." : 12 chars, 4 tokens (ab, cd, ab, 12), 1 punct char,
    // 2 digit chars, 0 stopwords, 3 distinct, word chars 8
    val feats = Seq("ab cd ab 12.").toDF("text").select(
      TextAnalysis.qualityFeatures($"text").map { case (n, c) => c.as(n) }: _*)
      .collect().head.getValuesMap[Long](Seq(
        "n_chars", "n_tokens", "punct_ppm", "digit_ppm",
        "stopword_ppm", "distinct_ppm", "mean_word_len_x100"))
    feats("n_chars") shouldBe 12L
    feats("n_tokens") shouldBe 4L
    feats("punct_ppm") shouldBe 83333L       // 1e6 DIV 12
    feats("digit_ppm") shouldBe 166666L      // 2e6 DIV 12
    feats("stopword_ppm") shouldBe 0L
    feats("distinct_ppm") shouldBe 750000L   // 3e6 DIV 4
    feats("mean_word_len_x100") shouldBe 200L // 8*100 DIV 4

    // score = bias + Σ w*f, exact longs; unknown features fail fast
    val w = Map("punct_ppm" -> -2L, "distinct_ppm" -> 1L, "mean_word_len_x100" -> 5L)
    val score = Seq("ab cd ab 12.").toDF("text")
      .select(TextAnalysis.qualityLinearScore($"text", w, bias = 7L)).as[Long].head()
    score shouldBe (7L - 2L * 83333L + 750000L + 5L * 200L)
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.qualityLinearScore($"text", Map("nope" -> 1L))

    // prose scores above symbol/digit soup under prose-shaped weights
    val pw = Map("stopword_ppm" -> 3L, "distinct_ppm" -> 1L,
      "punct_ppm" -> -2L, "digit_ppm" -> -1L)
    val scored = Seq(
      (1L, "the cat sat on the mat and the dog ran away"),
      (2L, "!!! 123 ### 456 $$$ 789 !!! 123")).toDF("id", "text")
      .select($"id", TextAnalysis.qualityLinearScore($"text", pw).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scored(1L) should be > scored(2L)
    scored(2L) should be < 0L
  }

  test("trainQualityWeights learns a gate that the integer serving path reproduces") {
    // clearly separable: stopword-rich prose (keep=1) vs digit/symbol soup
    // (keep=0); the learned float model, quantized to integer weights,
    // must separate held-out examples of both registers through the
    // scan-speed serving expression
    val prose = Seq(
      "the cat sat on the mat and the dog ran away for the day",
      "it was the best of times and it was the worst of times",
      "she walked to the river in the morning with the old dog",
      "the rain fell on the quiet town for most of that week")
    val soup = Seq(
      "1111 2222 3333 4444 5555 6666 7777 8888",
      "!!! ### 123 456 $$$ %%% 789 000",
      "9999 8888 7777 6666 5555 4444 3333 2222",
      "000 111 ### 222 333 $$$ 444 555")
    val labeled = (prose.map((_, 1)) ++ soup.map((_, 0))).toDF("text", "keep")
    val (w, bias) = TextAnalysis.trainQualityWeights(labeled, "text", "keep")

    val held = Seq(
      (1L, "the fox ran over the hill and into the woods at dusk"),
      (2L, "4242 1337 9001 ### 555 $$$ 777 888")).toDF("doc_id", "text")
    val scored = held.select($"doc_id",
      TextAnalysis.qualityLinearScore($"text", w, bias).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scored(1L) should be >= 0L // prose lands keep-side of the boundary
    scored(2L) should be < 0L  // soup lands drop-side
  }

  test("backoff typicality gives partial credit for unseen pairs of known words") {
    // ref: 6 tokens -> uni ppm the=333333, cat/sat/on/mat=166666;
    //      5 distinct bigrams, each ppm 200000
    val ref = Seq("the cat sat on the mat").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat"), // every bigram known: full credit
      (2L, "mat on sat cat the the"), // known words, unseen pairs: backoff only
      (3L, "qq zz pp ww rr tt"),      // gibberish: 0 under both models
      (4L, "one")).toDF("doc_id", "text") // under 2 tokens: no row
    val out = TextAnalysis.typicalityScoresBackoff(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out(1L) shouldBe ((5L, 200000L))
    // backoff per gram: 40% of uni(w2) -> on/sat/cat 66666, the 133333;
    // mean = (3*66666 + 2*133333) DIV 5 = 93332
    out(2L) shouldBe ((5L, 93332L))
    out(3L) shouldBe ((5L, 0L))
    out.contains(4L) shouldBe false

    // literal-map scan form agrees gram for gram; short rows score null
    val uniM = TextAnalysis.typicalityModel(ref, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val biM = TextAnalysis.typicalityModelN(ref, "text", n = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lit = docs.select($"doc_id",
      TextAnalysis.typicalityBackoffCol($"text", uniM, biM).as("t"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    lit(1L) shouldBe Some(200000L)
    lit(2L) shouldBe Some(93332L)
    lit(3L) shouldBe Some(0L)
    lit(4L) shouldBe None
  }

  test("hashed_tf kernel is bit-identical to the composed twin and conserves mass") {
    val texts = Seq("the cat sat on the mat", "", "MiXeD Case 42!", "solo",
      "a a a a b b c", "Крым naïve Café déjà vu")
    for (dims <- Seq(1, 16, 64)) {
      val rows = texts.toDF("text").select(
        TextAnalysis.hashedTfVector($"text", dims).as("fast"),
        TextAnalysis.hashedTfComposed($"text", dims).as("spec"),
        org.apache.spark.sql.functions.size(TextAnalysis.tokens($"text")).as("n"))
        .collect()
      rows.foreach { r =>
        r.getSeq[Double](0) shouldBe r.getSeq[Double](1)
        // every token lands in exactly one dimension
        r.getSeq[Double](0).sum shouldBe r.getInt(2).toDouble
      }
    }
    // cosine over hashed vectors behaves like bag-of-words similarity:
    // shared vocabulary scores above disjoint vocabulary
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat near the mat"),
      (3L, "quantum flux capacitors hum loudly")).toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.hashedTfVector($"text", 64).as("vec"))
    val top = Similarity.bruteForceTopK(docs.filter($"doc_id" === 1L), docs, "doc_id", "vec", k = 2)
      .orderBy($"rank").select($"neighbor_id").as[Long].collect()
    top.head shouldBe 2L
  }

  test("word_ngrams kernel is bit-identical to the composed-builtin twin") {
    // the codegen'd kernel the typicality hot path uses vs the
    // sequence/transform/slice specification form, over edge shapes:
    // punctuation-only, exactly n-1 tokens, exactly n, long, empty, mixed case
    // non-ASCII rows pin the tokenization convention: the kernel lowercases
    // via Locale.ROOT while the twin uses Spark lower() — they must agree
    // on accented text and on Turkish dotted/dotless I regardless of the
    // JVM default locale (the locale-sensitive case mapping trap)
    val texts = Seq("the cat sat on the mat", "solo", "two words", "",
      "?!, .", "MiXeD Case-Tokens_42 here", "a b c d e f g h i j k l m",
      "Крым naïve Café déjà vu", "Istanbul İstanbul DIYARBAKIR ışık")
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = texts.toDF("text").select(
        graft.functions.functions.word_ngrams($"text", n).as("fast"),
        TextAnalysis.wordNgrams(TextAnalysis.tokens($"text"), n).as("spec"))
        .collect()
      rows.foreach { r =>
        r.getSeq[String](0) shouldBe r.getSeq[String](1)
      }
    }
    // null text: kernel null-propagates, twin yields empty — both produce
    // zero rows under explode and a null score under the literal-map form,
    // the only two consumers
    val nullRow = Seq(Option.empty[String]).toDF("text").select(
      explode(graft.functions.functions.word_ngrams($"text", 2))).collect()
    nullRow shouldBe empty
  }

  test("card_scan kernel is bit-identical to the composed regex chain") {
    // adversarial shapes for every documented matching quirk: grouped /
    // dashed / plain runs; 12 (short), 13/16/19 (in-range), 20 (over-long)
    // digits; over-long SPACE-separated runs (13+-digit prefix matches,
    // the separator doubling as the consumed boundary) vs DASH-separated
    // (never match); double separators; runs at string start / end; two
    // runs separated by a single char (the consumed-boundary miss); runs
    // preceded by a dash (no legal left boundary); Luhn-valid and -invalid
    // runs; a valid run appearing twice (replace-all); astral boundary
    // chars (code-point stepping); empty text
    val validPan = "4532015112830366" // passes Luhn
    val texts = Seq(
      s"user card $validPan ok",
      s"$validPan",
      s"pay $validPan",
      s"4532 0151 1283 0366 grouped",
      s"4532-0151-1283-0366 dashed",
      "short 123456789012 run",
      "plain 1234567890123 thirteen",
      "nineteen 1234567890123456789 digits",
      "overlong 12345678901234567890 twenty",
      "overlong spaced 1234567890123 4567890 prefix",
      "overlong dashed 1234567890123-4567890 prefix",
      "double  sep 12345  67890123456 x",
      "1234567890123,2222222222222 single-sep miss",
      s"-$validPan dash boundary",
      s"twice $validPan and $validPan again",
      s"🙂$validPan🙂 astral",
      "4532 0151 1283 0366", // grouped, at both ends
      "ends with 4532015112830366",
      "tail sep 4532015112830366 ",
      "tail dash 4532015112830366-x",
      "")
    // plus deterministic digit/sep/letter soup to shake out anything the
    // hand-picked shapes miss
    val soup = (0 until 200).map { i =>
      val r = new scala.util.Random(i)
      (0 until 60).map { _ =>
        "0123456789- x.🙂".charAt(r.nextInt(15))
      }.mkString
    }
    val rows = (texts ++ soup).toDF("text").select(
      $"text",
      graft.functions.functions.card_scan($"text").as("k"),
      TextAnalysis.cardCandidates($"text").as("c"),
      TextAnalysis.validCardNumbers($"text").as("v"),
      TextAnalysis.scrubCardNumbers($"text").as("s"))
      .collect()
    rows.foreach { r =>
      withClue(s"text=<${r.getString(0)}>: ") {
        val k = r.getStruct(1)
        k.getSeq[String](0) shouldBe r.getSeq[String](2)
        k.getSeq[String](1) shouldBe r.getSeq[String](3)
        k.getString(2) shouldBe r.getString(4)
      }
    }
    // null text null-propagates like every TextHash kernel
    Seq(Option.empty[String]).toDF("text")
      .select(graft.functions.functions.card_scan($"text"))
      .collect().head.isNullAt(0) shouldBe true
  }

  test("script_counts kernel is bit-identical to the composed regex form") {
    // one row per script plus boundary shapes: mixed scripts, chars just
    // outside each range (é, Cyrillic-supplement, CJK-ext-A, fullwidth
    // Latin, halfwidth katakana), astral chars (surrogate halves must fall
    // in no range), empty and digits-only
    val texts = Seq(
      "Hello world", "Привет мир", "こんにちは世界", "漢字のみ文章", "안녕하세요",
      "مرحبا بالعالم", "שלום עולם", "नमस्ते दुनिया", "Γειά σου Κόσμε", "สวัสดีชาวโลก",
      "mixed Кир 漢 かな 123 !!!", "", "12345 .,;:", "é ѐ ԰ 㐀 Ａｚ ｱ", "🙂 astral 𝔸 🙂")
    val rows = texts.toDF("text").select(
      graft.functions.functions.script_counts($"text").as("fast"),
      TextAnalysis.scriptCountsComposed($"text").cast("array<bigint>").as("spec"))
      .collect()
    rows.foreach(r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1))
    // null text: kernel null-propagates where the composed form yields an
    // array of null counts — languageId (the one consumer) says "und" for both
    Seq(Option.empty[String]).toDF("text")
      .select(TextAnalysis.languageId($"text")).as[String].head() shouldBe "und"
  }

  test("scriptTokens kernel is bit-identical to the composed regex form") {
    // one row per word script, one per segmentation script, mixed runs,
    // boundary shapes: lone seg chars, seg runs split by spaces/ASCII,
    // chars just outside the ranges, astral chars, case folding
    val texts = Seq(
      "Hello, World 42!", "Привет мир", "Γειά σου Κόσμε", "مرحبا بالعالم",
      "שלום עולם", "नमस्ते दुनिया", "안녕하세요 세계",
      "深度学习模型在大规模语料库上训练", "こんにちは世界",
      "ひらがなとカタカナと漢字が混ざる文", "สวัสดีชาวโลก",
      "mixed 漢字 and English คำไทย Кириллица",
      "漢", "a漢b", "漢 字", "GPU で学習", "", "12345 .,;:",
      "é ѐ ԰ 㐀 Ａｚ ｱ", "🙂 astral 𝔸 🙂")
    val rows = texts.toDF("text").select(
      TextAnalysis.scriptTokens($"text").as("fast"),
      TextAnalysis.scriptTokensComposed($"text").as("spec")).collect()
    rows.foreach(r => r.getSeq[String](0) shouldBe r.getSeq[String](1))
    // null text null-propagates in both forms
    Seq(Option.empty[String]).toDF("text")
      .select(explode(TextAnalysis.scriptTokens($"text"))).collect() shouldBe empty
  }

  test("scriptTokens segments CJK/Thai as character bigrams, words elsewhere") {
    def toksOf(s: String): Seq[String] =
      Seq(s).toDF("t").select(TextAnalysis.scriptTokens($"t")).as[Seq[String]].head()
    val zh = "深度学习模型在大规模语料库上训练" // one 16-char Han run
    toksOf(zh) should have length (zh.length - 1)
    toksOf(zh).take(2) shouldBe Seq("深度", "度学")
    // kana and Han segment as ONE run (Japanese interleaves them mid-word)
    toksOf("漢字かな") shouldBe Seq("漢字", "字か", "かな")
    toksOf("漢") shouldBe Seq("漢")          // lone char emits itself
    toksOf("漢 字") shouldBe Seq("漢", "字") // separator splits the run
    // ASCII case-folds; seg runs bound by word runs
    toksOf("GPU で学習") shouldBe Seq("gpu", "で学", "学習")
    // word scripts (spaces exist) stay word tokens, no case folding outside ASCII
    toksOf("Привет мир") shouldBe Seq("Привет", "мир")
    // the ASCII subset matches the classic tokenizer exactly
    val ascii = "MiXeD Case-Tokens_42 here"
    Seq(ascii).toDF("t")
      .select(TextAnalysis.scriptTokens($"t") === TextAnalysis.tokens($"t"))
      .as[Boolean].head() shouldBe true
  }

  test("script-aware gates and lang-ID give sane verdicts on zh/ja/th docs") {
    val docs = Seq(
      ("zh", "深度学习模型在大规模语料库上训练需要高质量的数据和强大的算力支持"),
      ("ja", "ひらがなとカタカナと漢字が混ざる日本語の文章を正しく処理する"),
      ("th", "การประมวลผลข้อความภาษาไทยต้องแบ่งคำอย่างถูกต้อง")).toDF("want", "text")
    // the ASCII gates reject every one of these outright (zero tokens);
    // the script-aware gates pass them all
    val asciiPass = TextAnalysis.qualityFlags(col("text"))
      .collectFirst { case ("passes", c) => c }.get
    val scriptPass = TextAnalysis.qualityFlagsScriptAware(col("text"))
      .collectFirst { case ("passes", c) => c }.get
    val rows = docs.select($"want", asciiPass.as("ascii"), scriptPass.as("script"),
      TextAnalysis.languageId($"text").as("lang"),
      TextAnalysis.scriptTokenCount($"text").as("n_tok"),
      TextAnalysis.whitespaceTokenCount($"text").as("ws_tok")).collect()
    rows.foreach { r =>
      r.getAs[Long]("ascii") shouldBe 0L
      r.getAs[Long]("script") shouldBe 1L
      r.getAs[String]("lang") shouldBe r.getAs[String]("want")
      // a spaceless sentence is ONE whitespace token but many script bigrams
      r.getAs[Int]("n_tok") should be > 10
      r.getAs[Int]("ws_tok") shouldBe 1
    }
    // degenerate repetition still fails the script-aware distinct gate
    Seq("的的的的的的的的的的的的的的的的的的的的").toDF("text")
      .select(scriptPass).as[Long].head() shouldBe 0L
    // an English doc gets the same verdict from both gate families
    Seq("The quick brown fox jumps over the lazy dog near the river bank today")
      .toDF("text").select(asciiPass === scriptPass).as[Boolean].head() shouldBe true
  }

  test("selectTokenBudget keeps the exact greedy best-first prefix, any partitioning") {
    // (id, score, tokens): ordered by score desc the cumulative tokens are
    // 30, 70, 90, 140, 150 — a 100-token budget keeps exactly ids 5, 1, 4
    val docs = Seq(
      (1L, 80L, 40L), (2L, 50L, 50L), (3L, 40L, 10L), (4L, 70L, 20L), (5L, 90L, 30L))
      .toDF("id", "score", "n_tok")
    def cut(df: org.apache.spark.sql.DataFrame, budget: Long) =
      TextAnalysis.selectTokenBudget(df, "score", "n_tok", "id", budget)
        .select($"id", $"cum_tokens").as[(Long, Long)].collect().toMap
    cut(docs, 100L) shouldBe Map(5L -> 30L, 1L -> 70L, 4L -> 90L)
    // a document never splits: budget 120 still stops before id 2 (140)
    cut(docs, 120L) shouldBe Map(5L -> 30L, 1L -> 70L, 4L -> 90L)
    cut(docs, 150L).keySet shouldBe Set(1L, 2L, 3L, 4L, 5L)
    cut(docs, 0L) shouldBe Map.empty
    // exact same result under any range partition count (the offset
    // arithmetic must equal the single-window definition)
    for (p <- Seq(1, 2, 7)) {
      withSqlConf(spark, "spark.sql.shuffle.partitions", p.toString) {
        cut(docs.repartition(3), 100L) shouldBe Map(5L -> 30L, 1L -> 70L, 4L -> 90L)
      }
    }
    // ties in score resolve by id ascending
    val tied = Seq((10L, 5L, 10L), (11L, 5L, 10L), (12L, 5L, 10L)).toDF("id", "score", "n_tok")
    cut(tied, 20L).keySet shouldBe Set(10L, 11L)
  }

  test("selectTokenBudgetPerGroup cuts each group at its own budget, any partitioning") {
    // en cum by score desc: 30, 70, 90...; de cum: 40, 60; absent fr drops
    val docs = Seq(
      (1L, "en", 80L, 40L), (2L, "en", 50L, 50L), (3L, "en", 40L, 10L),
      (4L, "en", 70L, 20L), (5L, "en", 90L, 30L),
      (6L, "de", 60L, 40L), (7L, "de", 30L, 20L), (8L, "de", 20L, 50L),
      (9L, "fr", 99L, 5L))
      .toDF("id", "lang", "score", "n_tok")
    def cut(budgets: Map[String, Long]) =
      TextAnalysis.selectTokenBudgetPerGroup(
        docs.repartition(3), "lang", "score", "n_tok", "id", budgets)
        .select($"id", $"cum_tokens").as[(Long, Long)].collect().toMap
    val expected = Map(5L -> 30L, 1L -> 70L, 4L -> 90L, // en budget 100
      6L -> 40L, 7L -> 60L) // de budget 60; fr absent -> id 9 gone
    cut(Map("en" -> 100L, "de" -> 60L)) shouldBe expected
    // exact same result under any range partition count — per-group
    // offsets must equal the per-group single-window definition even when a
    // group spans several range partitions
    for (p <- Seq(1, 2, 7)) {
      withSqlConf(spark, "spark.sql.shuffle.partitions", p.toString) {
        cut(Map("en" -> 100L, "de" -> 60L)) shouldBe expected
      }
    }
    // zero budget keeps nothing of that group but leaves the others alone
    cut(Map("en" -> 0L, "de" -> 60L)) shouldBe Map(6L -> 40L, 7L -> 60L)
  }

  test("token-budget cuts count a null token count as 0, identically at any shuffle partition count") {
    // every second token count null; scores repeat, so ids break ties
    val rows = (1 to 30).map { i =>
      (i.toLong, if (i % 3 == 0) "de" else "en", (i * 7 % 11).toLong,
        if (i % 2 == 0) None else Some(i.toLong * 3))
    }
    val docs = rows.toDF("id", "lang", "score", "n_tok")
    // plain model: walk each (score DESC, id) order, nulls adding 0
    def model(rs: Seq[(Long, String, Long, Option[Long])], budget: Long): Map[Long, Long] =
      rs.sortBy(r => (-r._3, r._1))
        .scanLeft((0L, 0L)) { case ((_, acc), r) => (r._1, acc + r._4.getOrElse(0L)) }
        .tail.filter(_._2 <= budget).toMap
    val budgets = Map("en" -> 100L, "de" -> 60L)
    val global = model(rows, 150L)
    val perGroup = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) => model(rs, budgets(g)) }.toMap
    global.size should (be > 0 and be < rows.size)
    for (p <- Seq(1, 4, 7, 13)) {
      withSqlConf(spark, "spark.sql.shuffle.partitions", p.toString) {
        withClue(s"shuffle partitions=$p") {
          TextAnalysis.selectTokenBudget(docs.repartition(3), "score", "n_tok", "id", 150L)
            .select($"id", $"cum_tokens").as[(Long, Long)].collect().toMap shouldBe global
          TextAnalysis.selectTokenBudgetPerGroup(
            docs.repartition(3), "lang", "score", "n_tok", "id", budgets)
            .select($"id", $"cum_tokens").as[(Long, Long)].collect().toMap shouldBe perGroup
        }
      }
    }
  }

  test("typicalityTerciles equals the one-window rank/tercile definition") {
    import org.apache.spark.sql.expressions.Window
    // 9 docs over a shared vocabulary with graded amounts of HAPAX filler
    // (each filler token appears once in the whole corpus, so its model
    // weight is minimal): typicality strictly decreases with id
    val common = "the cat sat on the mat and the dog ran"
    val docs = (1 to 9).map { i =>
      (i.toLong, common + (1 to i).map(j => s" zz${i}x$j").mkString)
    }.toDF("doc_id", "text")
    val out = TextAnalysis.typicalityTerciles(docs.repartition(4), "doc_id", "text", docs, "text")
      .select($"doc_id", $"bucket").as[(Long, String)].collect().toMap
    out.filter(_._2 == "head").keySet shouldBe Set(1L, 2L, 3L)
    out.filter(_._2 == "middle").keySet shouldBe Set(4L, 5L, 6L)
    out.filter(_._2 == "tail").keySet shouldBe Set(7L, 8L, 9L)
    // and in general it must equal the plain single-window definition
    val scores = TextAnalysis.typicalityScores(docs, "doc_id", "text", docs, "text")
    val n = scores.count()
    val expected = scores.withColumn("r",
      row_number().over(Window.orderBy($"typicality_ppm".desc, $"doc_id")))
      .withColumn("bucket",
        when(($"r" - 1) * 3 / n < 1, "head")
          .when(($"r" - 1) * 3 / n < 2, "middle").otherwise("tail"))
      .select($"doc_id", $"bucket").as[(Long, String)].collect().toMap
    out shouldBe expected
  }

  test("withGlobalRank equals the single-window row_number, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 57L).map(i => (i, (i * 37) % 19)).toDF("id", "key")
    val expected = df.withColumn("r",
      row_number().over(Window.orderBy($"key", $"id")).cast("long"))
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    for (parts <- Seq(1, 3, 8)) {
      TextAnalysis.withGlobalRank(df.repartition(parts), "r", $"key", $"id")
        .select($"id", $"r").as[(Long, Long)].collect().toMap shouldBe expected
    }
  }

  test("withGroupRank equals the per-group row_number, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 83L).map(i => (i, "g" + (i % 4), (i * 37) % 19)).toDF("id", "g", "key")
    val expected = df.withColumn("r",
      row_number().over(Window.partitionBy($"g").orderBy($"key", $"id")).cast("long"))
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    for (parts <- Seq(1, 3, 8)) {
      TextAnalysis.withGroupRank(df.repartition(parts), "r", Seq("g"), $"key", $"id")
        .select($"id", $"r").as[(Long, Long)].collect().toMap shouldBe expected
    }
  }

  test("deterministicShuffle draws a reproducible salt-keyed permutation") {
    val df = (1L to 40L).toDF("doc_id")
    def ranks(salt: String): Seq[Long] =
      TextAnalysis.deterministicShuffle(df, "doc_id", salt)
        .orderBy($"doc_id").select($"shuffle_rank").as[Long].collect().toSeq
    val a = ranks("a")
    a.sorted shouldBe (1L to 40L) // a full permutation, no gaps or dups
    ranks("a") shouldBe a         // same salt -> same permutation
    ranks("b") should not be a    // fresh salt -> independent draw
    a should not be (1L to 40L)   // and it actually shuffles
  }

  test("dedupLinesInDoc keeps first occurrences in order") {
    def clean(s: String): String =
      Seq(s).toDF("t").select(TextAnalysis.dedupLinesInDoc($"t")).as[String].head()
    clean("nav\nbody text\nnav\nfooter\nnav") shouldBe "nav\nbody text\nfooter"
    clean("a\nb\nc") shouldBe "a\nb\nc" // nothing repeated, nothing touched
    clean("same\nsame\nsame") shouldBe "same"
    clean("single line") shouldBe "single line"
    // blank lines dedup like any other line (first blank kept)
    clean("a\n\nb\n\nc") shouldBe "a\n\nb\nc"
  }

  test("htmlToText strips markup, drops code blocks, decodes entities, folds whitespace") {
    def extract(html: String): String =
      Seq(html).toDF("h").select(TextAnalysis.htmlToText($"h")).as[String].head()

    extract("<html><head><title>T</title><style>p { a > b }</style>" +
      "<script>if (1 < 2 && 2 > 1) { x(\"y\"); }</script></head>" +
      "<body><!-- c --><h1>Hello</h1>\n\n<p class=\"l\">world  now</p></body></html>") shouldBe
      "T Hello world now"
    // entity decode, &amp; last: double-encoded stays single-decoded
    extract("<p>Tom &amp; Jerry &lt;3&nbsp;end &quot;q&quot; it&#39;s &amp;lt;raw</p>") shouldBe
      "Tom & Jerry <3 end \"q\" it's &lt;raw"
    // noscript/template bodies vanish; multiline + case-insensitive blocks
    extract("<NOSCRIPT>enable js</NOSCRIPT><template><li>x</li></template>" +
      "<STYLE type=\"a\">\nbody {}\n</STYLE>keep") shouldBe "keep"
    // malformed markup degrades, never throws: unpaired < passes through
    extract("a < b with no closing") shouldBe "a < b with no closing"
    extract("") shouldBe ""
  }

  test("mainContent keeps body text, drops nav/sidebar/footer and short blocks") {
    def extract(html: String): String =
      Seq(html).toDF("h").select(TextAnalysis.mainContent($"h")).as[String].head()

    val article = "the quick brown fox jumps over the lazy dog again and again today"
    val page =
      "<html><head><style>a { x > y }</style></head><body>" +
        "<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/a\">About us</a></li></ul></nav>" +
        // sidebar: clears the 5-word floor, must die by LINK DENSITY alone
        "<div id=\"s\"><a href=\"/r1\">Related article one</a> <a href=\"/r2\">Related two</a></div>" +
        // short plain block: link-free, must die by the WORD FLOOR alone
        "<p>Share this page</p>" +
        s"<article><p>$article</p></article>" +
        "<footer><a href=\"/t\">Terms of service</a> | <a href=\"/p\">Privacy policy</a> x</footer>" +
        "</body></html>"
    extract(page) shouldBe article

    // a long body paragraph with a FEW inline links stays (density under the bar)
    val linked = s"<p>$article <a href=\"/ref\">source</a></p>"
    extract(linked) shouldBe s"$article source"
    // two body blocks survive in document order, newline-joined
    extract(s"<p>$article</p><p>$article</p>") shouldBe s"$article\n$article"
    // entity decode + script drop inside kept blocks
    extract(s"<script>1 < 2</script><p>Tom &amp; Jerry $article</p>") shouldBe
      s"Tom & Jerry $article"
    // all-boilerplate page -> empty extraction, not a crash
    extract("<nav><a href=\"/\">Home</a></nav><p>too short</p>") shouldBe ""
    // null-safe
    Seq(Option.empty[String]).toDF("h")
      .select(TextAnalysis.mainContent($"h")).as[Option[String]].head() shouldBe None
  }

  test("all text operators are null-safe") {
    val df = Seq((1L, Some("real text here")), (2L, None)).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextAnalysis.tokens($"text").as("toks"),
      TextAnalysis.fingerprint($"text").as("fp"),
      TextAnalysis.languageId($"text").as("lang"),
      TextAnalysis.rollingFingerprint($"text").as("rfp"),
      graft.ops.Dedup.simhash32($"text").as("sh"),
      graft.functions.functions.minhash_signature($"text", 4).as("sig"),
      TextAnalysis.scrubPii($"text").as("scrubbed"),
      TextAnalysis.htmlToText($"text").as("extracted"))
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    rows(2L).isNullAt(1) shouldBe true // tokens null
    rows(2L).isNullAt(2) shouldBe true // fingerprint null
    rows(2L).isNullAt(4) shouldBe true // native rolling fp null
    rows(2L).isNullAt(5) shouldBe true // native simhash null
    rows(2L).isNullAt(6) shouldBe true // native minhash null
    rows(1L).isNullAt(2) shouldBe false
    // exact dedup groups null texts without crashing
    val deduped = graft.ops.Dedup.exact(
      Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, null.asInstanceOf[String])).toDF("id", "text"),
      "text", "id")
    deduped.select("id").as[Long].collect().sorted shouldBe Array(1L, 2L)
  }

  test("packSequences assigns chunks by running token budget per group") {
    val docs = Seq(
      ("a", 1L, 100L), ("a", 2L, 200L), ("a", 3L, 300L), ("a", 4L, 50L),
      ("b", 1L, 600L), ("b", 2L, 10L))
      .toDF("source", "doc_id", "n_tokens")
    val packed = TextAnalysis.packSequences(docs, "source", "doc_id", "n_tokens", contextLen = 256)
      .select($"source", $"doc_id", $"chunk_id").as[(String, Long, Long)].collect().toSet
    // group a: tokens-before = 0, 100, 300, 600 -> chunks 0, 0, 1, 2
    // group b packs independently: tokens-before = 0, 600 -> chunks 0, 2
    packed shouldBe Set(
      ("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L), ("a", 4L, 2L),
      ("b", 1L, 0L), ("b", 2L, 2L))
    // partitioning-independent
    val again = TextAnalysis.packSequences(docs.repartition(7), "source", "doc_id", "n_tokens", 256)
      .select($"source", $"doc_id", $"chunk_id").as[(String, Long, Long)].collect().toSet
    again shouldBe packed
  }

  test("stratifiedKeep is deterministic, rate-monotonic and stratum-scoped") {
    val docs = spark.range(2000).select($"id", (($"id" % 2) === 0).cast("string").as("stratum"))
    def kept(rates: Map[String, Int]): Set[Long] =
      docs.filter(TextAnalysis.stratifiedKeep($"id", $"stratum", rates))
        .select("id").as[Long].collect().toSet
    kept(Map("true" -> 100, "false" -> 100)) should have size 2000
    kept(Map("true" -> 0, "false" -> 0)) shouldBe empty
    // a stratum missing from the rates keeps nothing
    kept(Map("true" -> 100)) shouldBe (0L until 2000L).filter(_ % 2 == 0).toSet
    // raising a rate only ever adds rows (hash thresholding, not resampling)
    val half = kept(Map("true" -> 50, "false" -> 20))
    val more = kept(Map("true" -> 80, "false" -> 40))
    half.subsetOf(more) shouldBe true
    // approximate proportions per stratum
    half.count(_ % 2 == 0).toDouble shouldBe 500.0 +- 80.0
    half.count(_ % 2 == 1).toDouble shouldBe 200.0 +- 60.0
    // partitioning-independent
    docs.repartition(11).filter(TextAnalysis.stratifiedKeep($"id", $"stratum",
      Map("true" -> 50, "false" -> 20))).select("id").as[Long].collect().toSet shouldBe half
  }

  test("repetitionStats measures duplicate line and char fractions exactly") {
    val docs = Seq(
      (1L, "alpha beta\ngamma\nAlpha  beta\n\n"), // "alpha beta" repeats (case/ws-insensitive)
      (2L, "unique one\nunique two"),
      (3L, "\n \n")) // all-empty doc is omitted
      .toDF("doc_id", "text")
    val stats = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    stats.keySet shouldBe Set(1L, 2L)
    // doc 1: 3 nonempty lines, 2 distinct -> dup_line_frac 1/3;
    // chars: "alpha beta"(10)*2 + "gamma"(5) = 25, dup chars 20 -> 0.8
    stats(1L) shouldBe ((1L, 3L, 0.3333, 0.8))
    stats(2L) shouldBe ((2L, 2L, 0.0, 0.0))
  }

  test("tfidfTopTerms ranks rare-but-frequent terms first") {
    val docs = Seq(
      (1L, "zebra zebra zebra common"),
      (2L, "common words only here"),
      (3L, "common zebra words")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
    val first = top.filter($"doc_id" === 1 && $"rank" === 1)
      .select("term", "tf", "df", "score").as[(String, Long, Long, Double)].head()
    // zebra: tf=3, df=2, n_docs=3 -> score 4.5 beats common (tf=1, df=3 -> 1.0)
    first shouldBe (("zebra", 3L, 2L, 4.5))
    // every doc gets at most k ranked rows, ranks contiguous from 1
    val byDoc = top.select("doc_id", "rank").as[(Long, Long)].collect().groupBy(_._1)
    byDoc.values.foreach(rs => rs.map(_._2).sorted shouldBe (1L to rs.size.toLong).toArray)
  }

  test("chunkDocuments covers the text with overlapping windows") {
    val docs = Seq((1L, "a" * 450), (2L, "short")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text", chunkChars = 200, overlap = 20)
      .select($"doc_id", $"chunk_id", $"chunk_text").as[(Long, Long, String)].collect()
    // doc 1: ceil((450-20)/180) = 3 chunks at offsets 0/180/360; last is short
    chunks.filter(_._1 == 1L).map(c => (c._2, c._3.length)).sorted shouldBe
      Seq((0L, 200), (1L, 200), (2L, 90))
    // consecutive chunks share exactly `overlap` characters
    val c1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    c1(0).takeRight(20) shouldBe c1(1).take(20)
    // a doc shorter than one chunk still yields one (whole-text) chunk
    chunks.filter(_._1 == 2L).map(_._3) shouldBe Array("short")
  }

  test("chunkBySentences breaks only at sentence boundaries and overlaps by sentence") {
    // ten 10-char sentences -> offsets 0,10,...,90
    val text = (0 until 10).map(i => s"sent ${i}xxx.").mkString
    val docs = Seq((1L, text), (2L, "one tiny doc."), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")

    // no overlap: chunks partition the document exactly, each a whole
    // number of sentences, none splits mid-sentence
    val exact = TextAnalysis.chunkBySentences(docs, "doc_id", "text", maxChars = 35, overlap = 0)
      .as[(Long, Long, String)].collect().filter(_._1 == 1L).sortBy(_._2)
    exact.map(_._3).mkString shouldBe text // full coverage, in order
    exact.foreach { case (_, _, c) =>
      c.length % 10 shouldBe 0 // whole sentences only
      c should endWith(".")
    }
    // step=35 bins sentence starts: 0-30 / 40-60 / 70-90 -> 4+3+3 sentences
    exact.map(_._3.length / 10) shouldBe Seq(4, 3, 3)

    // with overlap: a boundary-straddling sentence repeats at the head of
    // the next chunk; stripping each chunk's head down to the first
    // non-repeated sentence reconstructs the document
    val ov = TextAnalysis.chunkBySentences(docs, "doc_id", "text", maxChars = 40, overlap = 15)
      .as[(Long, Long, String)].collect().filter(_._1 == 1L).sortBy(_._2)
    ov.foreach { case (_, _, c) => c.length % 10 shouldBe 0 }
    // step=25: chunk k holds starts in [25k, 25k+40); sentences in the
    // shared 15-char band repeat — consecutive chunks overlap by a whole
    // sentence suffix/prefix (at least one sentence)
    ov.sliding(2).foreach {
      case Array((_, _, a), (_, _, b)) =>
        val shared = (10 to math.min(a.length, b.length) by 10)
          .filter(l => a.takeRight(l) == b.take(l))
        shared should not be empty
      case _ => ()
    }
    // despite repetition, the union of sentences is still the whole doc
    ov.flatMap(_._3.grouped(10)).toSet shouldBe text.grouped(10).toSet

    // boundary invariance: every chunk is a substring of the original doc
    // (sentences are atomic, never cut)
    (exact ++ ov).foreach { case (_, _, c) => text should include(c) }

    // single-sentence and null docs
    val all = TextAnalysis.chunkBySentences(docs, "doc_id", "text", maxChars = 35, overlap = 0)
      .as[(Long, Long, String)].collect()
    all.filter(_._1 == 2L).map(_._3) shouldBe Array("one tiny doc.")
    all.filter(_._1 == 3L) shouldBe empty // null text -> no rows
  }

  test("chunkBySentences kernel is bit-identical to the composed specification form") {
    // adversarial shapes: multi-terminator runs, leading/inter-sentence
    // terminator gaps (belong to NO sentence), trailing unterminated
    // fragment, an over-long sentence spanning several offset windows
    // (sparse chunk ids), non-ASCII and astral code points (offsets count
    // code points, not UTF-16 units), empty / all-terminator / null text
    val docs = Seq(
      (1L, (0 until 40).map(i => s"sentence number $i here.").mkString(" ")),
      (2L, "...!!!???"), // all terminators: no sentences, no rows
      (3L, ""), // empty: no rows
      (4L, null.asInstanceOf[String]),
      (5L, "x" * 500 + ". tail fragment without terminator"),
      (6L, "?!leading. gaps..between?!sentences.!?tail"),
      (7L, "émojis 😀 count once. ça va?! bien... oui"),
      (8L, "short. " + "y" * 300 + "! after the long one. end")
    ).toDF("doc_id", "text")
    for ((maxChars, overlap) <- Seq((120, 30), (80, 0), (64, 32), (1000, 0))) {
      val fast = TextAnalysis.chunkBySentences(docs, "doc_id", "text", maxChars, overlap)
        .as[(Long, Long, String)].collect().sorted
      val composed = TextAnalysis.chunkBySentencesComposed(docs, "doc_id", "text", maxChars, overlap)
        .as[(Long, Long, String)].collect().sorted
      fast shouldBe composed
    }
  }

  test("stopword hits count multiset occurrences") {
    one("the the the").select(
      TextAnalysis.stopwordHits(TextAnalysis.tokens($"text"), Seq("the", "and")))
      .as[Int].head() shouldBe 3
  }

  test("ngramRepetition measures top and duplicated n-gram token fractions") {
    val docs = Seq(
      (1L, "a b a b c"), // bigrams: (a b)x2, (b a), (b c) -> top 4/5, dup 4/5
      (2L, "one two three four"), // no repeated bigram -> top 2/4, dup 0
      (3L, "x") // shorter than n -> no grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramRepetition(docs, "doc_id", "text", n = 2)
      .select($"doc_id", $"top_ngram_frac", $"dup_ngram_frac")
      .as[(Long, Double, Double)].collect().toSet
    out shouldBe Set((1L, 0.8, 0.8), (2L, 0.5, 0.0), (3L, 0.0, 0.0))
  }

  test("mixReport computes exact ppm token shares per stratum") {
    val docs = Seq(
      ("web", "en", 600L), ("web", "en", 150L),
      ("web", "de", 150L), ("books", "en", 100L)
    ).toDF("source", "lang", "n_tok")
    val out = TextAnalysis.mixReport(docs, Seq("source", "lang"), "n_tok")
      .select($"source", $"lang", $"n_docs", $"n_tokens", $"share_ppm")
      .as[(String, String, Long, Long, Long)].collect().toSet
    out shouldBe Set(
      ("web", "en", 2L, 750L, 750000L),
      ("web", "de", 1L, 150L, 150000L),
      ("books", "en", 1L, 100L, 100000L))
  }

  test("sourceCap keeps at most N per stratum with contiguous hash-order ranks") {
    val docs = (0L until 60L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val capped = TextAnalysis.sourceCap(docs, "source", "doc_id", maxDocs = 5)
      .select($"source", $"doc_id", $"cap_rank").as[(String, Long, Long)].collect()
    capped.groupBy(_._1).foreach { case (_, rows) =>
      rows.length shouldBe 5
      rows.map(_._3).sorted shouldBe Seq(1L, 2L, 3L, 4L, 5L)
    }
    // deterministic: a second run keeps exactly the same ids
    val again = TextAnalysis.sourceCap(docs, "source", "doc_id", maxDocs = 5)
      .select($"doc_id").as[Long].collect().toSet
    again shouldBe capped.map(_._2).toSet
    // hash order, not id order: the kept set is not simply the lowest ids
    capped.map(_._2).toSet should not be (0L until 15L).toSet
  }

  test("weightedKeep is deterministic and monotonic in the rate") {
    val docs = (0L until 500L).toDF("doc_id")
    def kept(rate: Int): Set[Long] = docs
      .filter(TextAnalysis.weightedKeep($"doc_id", lit(rate)))
      .as[Long].collect().toSet
    kept(0) shouldBe empty
    kept(100) should have size 500
    val k30 = kept(30); val k60 = kept(60)
    k30.subsetOf(k60) shouldBe true // same hash, higher threshold
    k30.size should (be > 100 and be < 200) // ~30% of 500
  }

  test("bpePairs counts char pairs weighted by word frequency") {
    // words: "abab" x2 -> pairs ab, ba, ab (x2 each occurrence); "ab" x1
    val docs = Seq("abab abab ab").toDF("text")
    val pairs = TextAnalysis.bpePairs(docs, "text", k = 10)
      .as[(String, Long)].collect().toMap
    pairs("ab") shouldBe 5L // 2 per "abab" occurrence (x2) + 1 in "ab"
    pairs("ba") shouldBe 2L
    pairs.keySet shouldBe Set("ab", "ba")
  }

  test("targetMixSample hits the target mix at the largest feasible size") {
    // a: 40 rows, b: 10, c: 10, d: 5; targets a 50%, b 25%, c 25% (d drops)
    // M = min(40/.5, 10/.25, 10/.25) = 40 -> b and c bind: kept WHOLE
    // (their threshold is bucket < 65536, exact); a samples at rate 1/2
    val rows = (0L until 40L).map(i => (i, "a")) ++
      (100L until 110L).map(i => (i, "b")) ++
      (200L until 210L).map(i => (i, "c")) ++
      (300L until 305L).map(i => (i, "d"))
    val df = rows.toDF("doc_id", "grp")
    val kept = TextAnalysis.targetMixSample(df, "grp", "doc_id",
      Map("a" -> 500000, "b" -> 250000, "c" -> 250000))
      .select($"doc_id", $"grp").as[(Long, String)].collect()
    val byGrp = kept.groupBy(_._2).view.mapValues(_.length).toMap
    byGrp.getOrElse("d", 0) shouldBe 0 // no target -> dropped
    byGrp("b") shouldBe 10 // binding groups keep every row
    byGrp("c") shouldBe 10
    // a downsamples at exactly rate 1/2 in expectation (hash-deterministic)
    byGrp("a").toDouble should (be > 10.0 and be < 30.0)

    // deterministic under any partitioning
    val repartitioned = TextAnalysis.targetMixSample(df.repartition(7), "grp", "doc_id",
      Map("a" -> 500000, "b" -> 250000, "c" -> 250000))
      .select($"doc_id").as[Long].collect().toSet
    repartitioned shouldBe kept.map(_._1).toSet

    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.targetMixSample(df, "grp", "doc_id", Map("a" -> 600000, "b" -> 600000))

    // a target group with zero corpus rows fails fast: its share can never
    // be realized, and silently excluding it from the feasibility minimum
    // would skew the realized mix away from the request
    val absent = intercept[IllegalArgumentException] {
      TextAnalysis.targetMixSample(df, "grp", "doc_id",
        Map("a" -> 500000, "zz" -> 500000))
    }
    absent.getMessage should include("zz")
  }

  test("mixPlan computes exact budgets, rates and epoch multipliers") {
    val docs = Seq(("web", 900L), ("curated", 100L)).toDF("source", "n_tok")
    val targets = Seq(("web", 500000L), ("curated", 500000L)).toDF("source", "target_ppm")
    val plan = TextAnalysis.mixPlan(docs, "source", "n_tok", targets)
      .select($"source", $"avail_tokens", $"planned_tokens", $"rate_ppm", $"epochs_x100")
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (s, a, p, r, e) => s -> ((a, p, r, e)) }.toMap
    // total 1000 tokens, each stratum plans 500
    plan("web") shouldBe ((900L, 500L, 555555L, 56L)) // consumes 0.56 epochs of web
    plan("curated") shouldBe ((100L, 500L, 1000000L, 500L)) // 5 epochs to fill 500 from 100
  }

  test("typicalityScores: exact ppm means, vocab cap with tie-break, OOV weighs 0") {
    val docs = Seq(
      ("d1", "the the the cat"), // all in-vocab
      ("d2", "the dog"),         // dog misses the capped vocab -> 0
      ("d3", "zzz qqq"),         // fully out-of-vocabulary
      ("d4", "!!!")              // no tokens -> no row
    ).toDF("doc_id", "text")
    // ref counts: the=4, cat/dog/qqq/zzz=1 over 8 tokens; cap 2 keeps
    // the (500000 ppm) and, by term tie-break among the count-1 terms, cat
    // (125000 ppm)
    val got = TextAnalysis.typicalityScores(docs, "doc_id", "text", docs, "text", vocabSize = 2)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    got shouldBe Map(
      "d1" -> ((4L, 406250L)), // (3*500000 + 125000) / 4
      "d2" -> ((2L, 250000L)), // (500000 + 0) / 2
      "d3" -> ((2L, 0L)))
  }

  test("typicalityScoreCol (literal-map form) matches the agg form; tokenless rows null") {
    val docs = Seq(
      ("d1", "the the the cat"), ("d2", "the dog"), ("d3", "zzz qqq"), ("d4", "!!!")
    ).toDF("doc_id", "text")
    val model = TextAnalysis.typicalityModel(docs, "text", vocabSize = 2)
      .as[(String, Long)].collect().toMap
    model shouldBe Map("the" -> 500000L, "cat" -> 125000L)
    val perRow = docs
      .select($"doc_id", TextAnalysis.typicalityScoreCol($"text", model).as("t"))
      .as[(String, Option[Long])].collect().toMap
    perRow shouldBe Map(
      "d1" -> Some(406250L), "d2" -> Some(250000L), "d3" -> Some(0L), "d4" -> None)
  }

  test("luhnValid accepts the canonical test PANs and rejects off-by-one digits") {
    val cases = Seq(
      ("4111 1111 1111 1111", true),  // classic Visa test number, spaced
      ("4111111111111111", true),     // same, plain
      ("5500-0000-0000-0004", true),  // Mastercard test number, dashed
      ("4111 1111 1111 1112", false), // checksum broken by one digit
      ("378282246310005", true),      // 15-digit Amex test number
      ("1234567890123", false))       // 13 digits, fails the checksum
    val df = cases.map(_._1).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "cand")
    val out = df.select($"id", TextAnalysis.luhnValid($"cand").as("v"))
      .as[(Long, Boolean)].collect().toMap
    cases.zipWithIndex.foreach { case ((cand, expected), i) =>
      withClue(cand) { out(i.toLong) shouldBe expected }
    }
  }

  test("card candidates respect digit-run boundaries and the 13-19 length band") {
    val text = "order 123456789012 then 4111 1111 1111 1111 and ip 12345678901234567890x"
    val cands = spark.range(1).select(
      TextAnalysis.cardCandidates(org.apache.spark.sql.functions.lit(text)).as("c"))
      .as[Seq[String]].head()
    // 12 digits: below the band. 20 digits: NO window fits — any suffix
    // start has a digit on its left boundary, so over-long runs (which are
    // never PANs) are wholly rejected, not partially matched.
    cands shouldBe Seq("4111 1111 1111 1111")
  }

  test("readabilityStats: exact counts and the floored fixed-point Flesch score") {
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),  // 6 words, 2 sentences, 6 vowel groups
      (2L, ""),                            // word-free: flesch null
      (3L, "no terminators here"))         // trailing fragment = 1 sentence
      .toDF("id", "text")
    val out = df.select(col("id") +:
        TextAnalysis.readabilityStats(col("text")).map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // flesch = 206835 - (1015*6 DIV 2) - (84600*6 DIV 6) = 206835 - 3045 - 84600
    out(1L) shouldBe ((6L, 2L, 6L, Some(206835L - 3045L - 84600L)))
    out(2L) shouldBe ((0L, 0L, 0L, None))
    out(3L)._2 shouldBe 1L // "no terminators here" is one fragment sentence
  }

  test("vocabCoverage: exact OOV ppm, full coverage, token-free null") {
    val vocab = Seq("the", "cat", "dog").toDF("term")
    val docs = Seq(
      (1L, "the cat saw the dog run"), // 6 tokens, 2 OOV (saw, run)
      (2L, "the cat"),                  // fully covered
      (3L, "???"))                      // token-free
      .toDF("id", "text")
    val out = TextAnalysis.vocabCoverage(docs, "id", "text", vocab, "term")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out(1L) shouldBe ((6L, 2L, Some(333333L)))
    out(2L) shouldBe ((2L, 0L, Some(0L)))
    out(3L) shouldBe ((0L, 0L, None))
  }

  test("collocations: exact PMI-ratio fixed point, ties by pair, min-count gate") {
    val docs = (Seq.fill(4)("alpha beta") ++ Seq.fill(4)("alpha gamma delta"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // unigrams: alpha 8, beta 4, gamma 4, delta 4; N=20
    // pairs (x4 each): alpha beta 4*20/(8*4)=2.5; alpha gamma 2.5; gamma delta 5
    val out = TextAnalysis.collocations(docs, "text", k = 2, minPairCount = 4)
      .as[(String, String, Long, Long)].collect().toSeq
    out shouldBe Seq(
      ("gamma", "delta", 4L, 5000000L),
      ("alpha", "beta", 4L, 2500000L)) // score tie vs (alpha, gamma): w2 decides
    // raising the gate above the pair counts empties the result
    TextAnalysis.collocations(docs, "text", k = 2, minPairCount = 5).count() shouldBe 0L
  }

  test("collocations surface the engineered phrase above chance neighbors") {
    // filler words stride differently per doc, so filler ADJACENCIES never
    // repeat across docs (pair counts stay under the gate) while the
    // phrase repeats verbatim in every doc
    val docs = (1L to 10L).map { i =>
      val filler = (1 to 40).map(j => s"f${(i * j) % 41}").mkString(" ")
      (i, s"machine learning $filler")
    }.toDF("id", "text")
    val top = TextAnalysis.collocations(docs, "text", k = 1, minPairCount = 5)
      .as[(String, String, Long, Long)].head()
    (top._1, top._2) shouldBe (("machine", "learning"))
  }

  test("flesch orders simple text above polysyllabic legalese") {
    val simple = "The cat sat on the mat. The dog ran to the tree. We like it."
    val dense = "Notwithstanding aforementioned considerations, heterogeneous " +
      "organizational infrastructures necessitate comprehensive recalibration."
    val df = Seq((1L, simple), (2L, dense)).toDF("id", "text")
    val scores = df.select(col("id"),
        TextAnalysis.readabilityStats(col("text"))
          .collectFirst { case ("flesch_fp", c) => c }.get.as("f"))
      .as[(Long, Long)].collect().toMap
    scores(1L) should be > scores(2L)
  }

  test("scrubCardNumbers masks only checksum-passing runs") {
    val df = Seq(
      (1L, "pay 4111 1111 1111 1111 ref 4111 1111 1111 1112 done"),
      (2L, "no cards here, just words"),
      (3L, "two: 4111111111111111 and 5500-0000-0000-0004."))
      .toDF("id", "text")
    val out = df.select($"id", TextAnalysis.scrubCardNumbers($"text").as("t"))
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "pay <CARD> ref 4111 1111 1111 1112 done"
    out(2L) shouldBe "no cards here, just words"
    out(3L) shouldBe "two: <CARD> and <CARD>."
  }

  test("vocabGrowth: hand-computed slabs, debuts, cumulative sums") {
    val df = Seq(
      (0L, "a b"), (1L, "b c"),    // slab 0: 2 docs, 4 tokens, debuts a b c
      (2L, "c d d"),               // slab 1: 1 doc, 3 tokens, debut d
      (5L, "a e")                  // slab 2 (5 DIV 2): 2 tokens, debut e
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(df, "doc_id", "text", bucketSize = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    out.toSeq shouldBe Seq(
      (0L, 2L, 4L, 3L, 4L, 3L),
      (1L, 1L, 3L, 1L, 7L, 4L),
      (2L, 1L, 2L, 1L, 9L, 5L))
  }

  test("vocabGrowth: tokenless and null-text docs count as docs, not tokens") {
    val out = TextAnalysis.vocabGrowth(
      Seq((0L, Some("x y")), (1L, Some("!!!")), (2L, None))
        .toDF("doc_id", "text"), "doc_id", "text", bucketSize = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    out.head shouldBe ((0L, 3L, 2L, 2L, 2L, 2L))
  }

  test("vocabGrowth is a pure function of the data, not its partitioning") {
    val rnd = new scala.util.Random(43)
    val rows = (0L until 300L).map(i =>
      (i, (1 to 8).map(_ => "w" + rnd.nextInt(120)).mkString(" ")))
    def run(parts: Int) =
      TextAnalysis.vocabGrowth(rows.toDF("doc_id", "text").repartition(parts),
        "doc_id", "text", bucketSize = 25).collect().map(_.toSeq).toSet
    run(1) shouldBe run(16)
  }

  test("zipfSlope: hand OLS over bit-length logs of a planted distribution") {
    // counts 8,4,2,1 -> (lr, lf) points (0,3),(1,2),(1,1),(2,0):
    // dxx=8 dxy=-12 dyy=20 -> slope -1500000, intercept 3000000, r2 900000
    val df = Seq((1L, "a a a a a a a a b b b b c c d")).toDF("doc_id", "text")
    val r = TextAnalysis.zipfSlope(df, "text").collect().head
    r.getLong(r.fieldIndex("n")) shouldBe 4L
    r.getLong(r.fieldIndex("slope_ppm")) shouldBe -1500000L
    r.getLong(r.fieldIndex("intercept_ppm")) shouldBe 3000000L
    r.getLong(r.fieldIndex("r2_ppm")) shouldBe 900000L
  }

  test("zipfSlope is a pure function of the data, not its partitioning") {
    val rnd = new scala.util.Random(91)
    // Zipf-ish synthetic: term w_k appears ~N/k times
    val words = (1 to 60).flatMap(k => Seq.fill(240 / k)("w" + k))
    val shuffled = rnd.shuffle(words)
    val rows = shuffled.grouped(12).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
    def run(parts: Int) =
      TextAnalysis.zipfSlope(rows.toDF("doc_id", "text").repartition(parts), "text")
        .collect().map(_.toSeq).toSet
    val one = run(1)
    one shouldBe run(16)
    // the planted 1/k law reads back as a steep negative fit
    val slope = one.head(1).asInstanceOf[Long]
    slope should be < -500000L
  }
  test("isqrt: exact at boundaries, including past the double-precision cliff") {
    val t = Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L,
      (1L << 31) * (1L << 31),       // 2^62, a perfect square
      (1L << 31) * (1L << 31) - 1,   // one below it
      1000000007L * 1000000007L, 1000000007L * 1000000007L + 1,
      // the top of the Long domain, where a naive (w+1)² probe wraps
      // negative and promotes past the true root 3037000499
      3037000499L * 3037000499L,     // the largest representable square
      3037000499L * 3037000499L - 1,
      Long.MaxValue)
      .toDF("t").select(TextAnalysis.isqrt(col("t"))).as[Long].collect()
    t.toSeq shouldBe Seq(0L, 1L, 1L, 1L, 2L, 2L, 3L,
      1L << 31, (1L << 31) - 1, 1000000007L, 1000000007L,
      3037000499L, 3037000498L, 3037000499L)
    Seq(Some(-1L), None).toDF("t").select(TextAnalysis.isqrt(col("t")))
      .as[Option[Long]].collect().toSeq shouldBe Seq(None, None)
  }

  test("sqrtMixWeights: hand-computed shares, head down-sampled, tail boosted") {
    val docs = (Seq.fill(9)(("A", 100L)) ++ Seq(("B", 100L))).toDF("src", "tok")
    val out = TextAnalysis.sqrtMixWeights(docs, "src", "tok")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // A: 900 tokens -> sqrt 30; B: 100 -> sqrt 10; total 1000 / 40
    out("A") shouldBe ((900L, 30L, Some(900000L), Some(750000L), Some(83L)))
    out("B") shouldBe ((100L, 10L, Some(100000L), Some(250000L), Some(250L)))
  }

}
