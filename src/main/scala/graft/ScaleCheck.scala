package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-amplification harness behind BASELINE.md's scale checks: replicates
 * the test tables `factor`x (with re-keyed ids so key cardinality grows too)
 * and times the shuffle-bearing operators on the amplified data. Linear (or
 * better) growth here is the evidence that the operator's one-shuffle design
 * holds as data outgrows a single node.
 *
 * Usage: runMain graft.ScaleCheck [sfDir] [factor]
 */
object ScaleCheck {

  /**
   * Every stage name `time(...)` may be called with — the validation set for
   * the SPARK_GRAFT_ONLY filter. `time` itself requires membership, so a new
   * stage that skips registration fails fast instead of silently drifting
   * out of the filterable set.
   */
  val stageNames: Set[String] = Set(
    "asof_join", "range_join", "simhash_neardup", "cjk_lsh_pairs", "boilerplate_lines",
    "token_budget_cut", "training_shuffle", "ccnet_buckets", "sentence_redact",
    "exact_dedup", "doc_repetition", "tfidf_top_terms", "span_dedup",
    "leakage_safe_split", "bloom_anti_join", "funnel", "event_transitions",
    "retention_cohorts", "key_skew_profile", "vocab_stats", "domain_quality",
    "pack_sequences", "semantic_dedup", "hamming_ann", "source_cap",
    "weighted_sample", "bpe_pairs", "snapshot_diff", "kmeans_update",
    "quantile_sketch", "lsh_salted_pairs", "contamination_hits",
    "projected_ann", "target_mix_sample", "bpe_tokenize",
    "bpe_train_256merges", "typicality_score", "typicality_bigram",
    "typicality_backoff", "url_dedup", "sentence_chunks",
    "funnel_window", "asof_nearest", "heavy_hitters", "main_content",
    "token_budget_per_group", "fuzzy_join", "containment_pairs", "host_pagerank",
    "bm25_topk", "collocations", "exact_percentiles",
    "triangles", "label_prop", "jaccard_join", "sorted_neighborhood",
    "running_total", "kcore", "bfs_reach", "edit_capped_density",
    "gap_fill", "cusum", "trailing", "zorder",
    "basket_lift", "time_weighted_load", "damerau_pairs", "rrf_fusion",
    "attribution_linear", "blocklist", "spearman", "fleiss", "vocab_growth",
    "ks_drift", "mw_drift", "weighted_pctl", "entity_resolution", "gram_matrix",
    "connected_components", "connected_components_loop", "audience_overlap",
    "pr_curve", "cuped_adjust", "gini_concentration", "theil_sen",
    "holt_forecast", "kaplan_meier", "mann_kendall", "changepoint",
    "mantel_haenszel", "zipf_slope", "negative_samples",
    "link_prediction", "copeland_rank", "krippendorff", "bh_select", "bootstrap_ci",
    "release_chain", "release_chain_incr")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** `factor` copies; ids re-keyed into disjoint ranges, timestamps kept.
      * Repartitioned to the core count BEFORE the checkpoint (untimed):
      * the tiny source parquet reads as ONE split, so without this every
      * stage's pre-shuffle map work ran on one core — unrepresentative of
      * any real input, which arrives in thousands of splits (round 16:
      * the single-partition layout was inflating map-heavy stages ~10x). */
    def amplify(df: DataFrame, idCols: Seq[String], span: Long): DataFrame =
      df.withColumn("__copy", explode(sequence(lit(0), lit(factor - 1))))
        .select(df.columns.map(c =>
          (if (idCols.contains(c)) col(c) + col("__copy") * span else col(c)).as(c)): _*)
        .repartition(cpus.toInt)

    // Optional comma-separated stage filter (same contract as Bench's
    // SPARK_GRAFT_ONLY): re-measure one stage's 1x/20x pair without paying
    // for the whole sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // Same contract as Bench: a typo'd filter (e.g. a leftover Bench query
    // name) must not masquerade as a silent no-op sweep — unknown names are
    // fatal before any amplification or timing.
    only.foreach { names =>
      val unknown = (names -- stageNames).toSeq.sorted
      if (unknown.nonEmpty) {
        System.err.println(
          s"[scale] SPARK_GRAFT_ONLY names match no scale stage: ${unknown.mkString(", ")}")
        spark.stop()
        sys.exit(2)
      }
    }
    def time[T](name: String)(f: => DataFrame): Unit = {
      require(stageNames.contains(name),
        s"scale stage '$name' missing from ScaleCheck.stageNames — register it")
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }

    // same both-shapes handling as Queries.events: nanosAsLong surfaces a
    // raw long only for files actually written with nano precision
    val events0 = spark.read.parquet(s"$sfDir/events.parquet")
    val events = events0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        events0.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => events0.withColumn("ts", col("ts").cast("timestamp"))
    }
    val bigEvents = amplify(events, Seq("event_id", "user_id"), 1000000L)
      .localCheckpoint(eager = true) // time operators, not the amplification
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bigDocs = amplify(docs, Seq("doc_id"), 1000000L).localCheckpoint(eager = true)
    println(s"[scale] events ${bigEvents.count()} rows, documents ${bigDocs.count()} rows (${factor}x)")

    time("asof_join") {
      val purchases = bigEvents.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val signups = bigEvents.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(col("value")).as("signup_value"))
      ops.Joins.asOf(purchases, signups, Seq("user_id"), "ts_us")
    }
    time("range_join") {
      val pts = bigEvents.select(expr("unix_micros(ts) DIV 86400000000").as("d"))
      val iv = bigEvents.filter(col("event_id") % 1000 === 0)
        .select(col("event_id").as("iid"),
          expr("unix_micros(ts) DIV 86400000000").as("lo"),
          (expr("unix_micros(ts) DIV 86400000000") + 7).as("hi"))
      ops.Joins.rangeJoin(pts, iv, "d", "lo", "hi", 7).groupBy("iid").count()
    }
    time("simhash_neardup") {
      ops.Dedup.simhashNearDupPairs(bigDocs, "doc_id", "text")
    }
    // the script-aware path at scale: transliterate the non-en langs to
    // Han/kana/Thai (as the cjk battery queries do), then run LSH banding
    // over the bigram-token kernel — every amplified copy collides with
    // its original, so the banding join sees maximal duplicate mass
    time("cjk_lsh_pairs") {
      val az = "abcdefghijklmnopqrstuvwxyz"
      val pages = bigDocs.withColumn("page",
        when(col("lang") === "zh",
          translate(col("text"), az, "的一是不了人我在有他这中大来上国个到说们为子和你地出"))
          .when(col("lang") === "es",
            translate(col("text"), az, "あ学習模い型訓練う語言処理翻え訳文字列解お析構造か体"))
          .when(col("lang") === "de",
            translate(col("text"), az, "กขฃคฅฆงจฉชซฌญฎฏฐฑฒณดตถทธนบ"))
          .otherwise(col("text")))
      ops.Dedup.lshCandidatePairs(pages, "doc_id", "page",
        maxBucket = math.max(2, factor / 2), saltHotBuckets = true, scriptAware = true)
    }
    time("boilerplate_lines") {
      ops.TextAnalysis.removeBoilerplateLines(bigDocs, "doc_id", "text")
    }
    time("exact_dedup") {
      ops.Dedup.exact(bigDocs, "text", "doc_id")
    }
    time("doc_repetition") {
      ops.TextAnalysis.repetitionStats(bigDocs, "doc_id", "text")
    }
    time("tfidf_top_terms") {
      ops.TextAnalysis.tfidfTopTerms(bigDocs, "doc_id", "text")
    }
    // the no-one-reducer global-order primitives: the range exchange and
    // the pid-keyed window must scale with partitions, not collapse
    time("token_budget_cut") {
      val sized = bigDocs.select(col("doc_id"), col("n_chars").cast("long").as("score"),
        ops.TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("n_tok"))
      ops.TextAnalysis.selectTokenBudget(sized, "score", "n_tok", "doc_id",
        budgetTokens = 1000000L)
    }
    time("training_shuffle") {
      ops.TextAnalysis.deterministicShuffle(bigDocs.select(col("doc_id")), "doc_id")
    }
    // per-group budgets: same recipe keyed (group, score, id) — a hot
    // group spreads over contiguous partitions, never one reducer
    time("token_budget_per_group") {
      val sized = bigDocs.select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("score"),
        ops.TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("n_tok"))
      ops.TextAnalysis.selectTokenBudgetPerGroup(sized, "lang", "score", "n_tok", "doc_id",
        budgets = Map("en" -> 500000L, "de" -> 100000L, "zh" -> 100000L,
          "es" -> 100000L, "fr" -> 100000L))
    }
    // scoring + rank + terciles: per-doc rows past the scoring aggs
    time("ccnet_buckets") {
      ops.TextAnalysis.typicalityTerciles(bigDocs, "doc_id", "text", bigDocs, "text")
    }
    // bench side stays original-sized (eval suites don't grow with the
    // corpus); worst case by construction: every word becomes a sentence
    // (max sentence density) AND word-level grams hit the bench vocabulary
    // everywhere, so the flag/rebuild path carries maximal redaction load
    time("sentence_redact") {
      val bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
      ops.Decontaminate.redactContaminatedSentences(
        bigDocs.withColumn("page", regexp_replace(col("text"), " ", ". ")),
        "doc_id", "page", bench, "text", n = 1)
    }
    // worst case by construction: every amplified copy repeats every window
    // of its original, so ALL duplicate spans are found and stripped
    time("span_dedup") {
      ops.Dedup.removeDuplicateSpans(bigDocs, "doc_id", "text")
    }
    // worst case by construction: every amplified copy is a near-dup of its
    // original, so clusters grow `factor`x and the LSH -> verify -> cluster ->
    // split pipeline sees the densest duplicate graph it could meet
    time("leakage_safe_split") {
      ops.Dedup.leakageSafeSplit(bigDocs, "doc_id", "text",
        Seq("train" -> 80, "valid" -> 10, "test" -> 10))
    }
    time("bloom_anti_join") {
      val fps = bigDocs.select(col("doc_id"), ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      val store = fps.filter(col("doc_id") % 3 === 0).select(col("fp"))
      ops.Bloom.antiJoinWithBloom(fps, store, "fp", expectedItems = 200000L * factor)
    }
    time("funnel") {
      ops.Funnels.funnelCounts(bigEvents, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
    }
    // the conversion window is one extra predicate on the same running
    // minimum — cost must track plain funnel, not add a shuffle
    time("funnel_window") {
      ops.Funnels.funnelCounts(bigEvents, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGap = Some(expr("INTERVAL 12 HOURS")))
    }
    // nearest = two sorts over ONE user-keyed exchange; must track asof_join
    time("asof_nearest") {
      val purchases = bigEvents.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val signups = bigEvents.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(col("value")).as("signup_value"))
      ops.Joins.asOf(purchases, signups, Seq("user_id"), "ts_us", direction = "nearest")
    }
    // capacity-bounded summaries through the exchange, never raw keys
    time("heavy_hitters") {
      val daily = ops.Sketches.heavyHittersRollup(
        bigEvents.withColumn("day", to_date(col("ts"))),
        Seq("event_type", "day"), "user_id", capacity = 256)
      ops.Sketches.reRollupHeavyHitters(daily, Seq("event_type"), capacity = 256)
    }
    // per-row regex block math; zero exchanges — linear by construction
    time("main_content") {
      bigDocs.select(col("doc_id"),
        ops.TextAnalysis.mainContent(
          concat(lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About us</a></nav><p>"),
            col("text"),
            lit("</p><footer><a href=\"/t\">Terms</a> | <a href=\"/p\">Privacy</a></footer>")))
          .as("main"))
    }
    // the user-key lead window is the cost driver: same shape as sessionize
    time("event_transitions") {
      ops.Funnels.transitionCounts(bigEvents, "user_id", "ts", "event_type", "event_id")
    }
    time("retention_cohorts") {
      ops.Funnels.retentionCohorts(bigEvents, "user_id",
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd"))
    }
    time("key_skew_profile") {
      ops.Skew.skewProfile(bigEvents, "user_id")
    }
    time("vocab_stats") {
      ops.TextAnalysis.vocabStats(bigDocs, "text")
    }
    // one map-side-combined agg; output stays domain-cardinality-sized
    // however large the corpus
    time("domain_quality") {
      ops.Web.domainQualityProfile(bigDocs, "source", "text")
    }
    time("pack_sequences") {
      val sized = bigDocs.select(col("doc_id"), col("source"),
        ops.TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_tokens"))
      ops.TextAnalysis.packSequences(sized, "source", "doc_id", "n_tokens", 2048)
    }
    // every amplified copy is an exact semantic duplicate of its original:
    // the worst-case load AND a correctness check (survivors = one per
    // duplicate family). k grows with the corpus so cell^2 work stays flat.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bigEmb = amplify(emb, Seq("vec_id"), 1000000L).localCheckpoint(eager = true)
    println(s"[scale] embeddings ${bigEmb.count()} rows (${factor}x)")
    time("semantic_dedup") {
      ops.Similarity.semanticDedup(bigEmb, "vec_id", "embedding", k = 8 * factor, threshold = 0.999)
    }
    time("hamming_ann") {
      ops.Similarity.hammingTopK(
        bigEmb.filter(col("vec_id") < 5), bigEmb, "vec_id", "embedding", k = 10)
    }
    // every copy keeps its source: each domain's row count grows `factor`x,
    // so the cap window sees the hot-domain case it must survive
    time("source_cap") {
      ops.TextAnalysis.sourceCap(bigDocs, "source", "doc_id", maxDocs = 100)
    }
    time("weighted_sample") {
      bigDocs.filter(ops.TextAnalysis.weightedKeep(col("doc_id"),
        least(lit(100L), expr("n_chars DIV 20"))))
    }
    // vocab is shared across copies, so the pair agg stays vocab-sized
    // however large the corpus — the property that makes BPE counting scale
    time("bpe_pairs") {
      ops.TextAnalysis.bpePairs(bigDocs, "text", k = 50)
    }
    time("snapshot_diff") {
      val old = bigDocs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      val cur = bigDocs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      ops.Snapshots.diff(old, cur, "doc_id", "fp")
    }
    time("kmeans_update") {
      val (assigned, _) = ops.Similarity.ivfAssignSeeded(bigEmb, "vec_id", "embedding", k = 8)
      ops.Similarity.kmeansUpdate(assigned, "embedding")
    }
    // bounded bottom-k partials: state is O(k) per (type, day) group however
    // many events — the curve to watch is flat-ish, not linear
    time("quantile_sketch") {
      val ev = bigEvents.select(col("event_type"),
        to_date(col("ts")).as("day"), col("event_id"), col("value"))
      ops.Sketches.reRollupQuantileSketch(
        ops.Sketches.quantileSketch(ev, Seq("event_type", "day"), "event_id", "value", k = 128),
        Seq("event_type"), k = 128)
    }
    // worst case by construction: every amplified copy lands in its
    // original's LSH buckets, so EVERY bucket is `factor` deep — far over
    // the cap — and the entire corpus takes the salted hot-bucket path.
    // Output is pair-quadratic per family (factor^2/2 x families), so the
    // curve to compare against is the PAIR COUNT's growth, not row count
    time("lsh_salted_pairs") {
      ops.Dedup.lshCandidatePairs(bigDocs, "doc_id", "text",
        maxBucket = math.max(2, factor / 2), saltHotBuckets = true)
    }
    // bench side stays original-sized (eval suites don't grow with the
    // corpus): the corpus gram stream grows `factor`x but never shuffles —
    // broadcast probe + an agg over matching grams only
    time("contamination_hits") {
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("bid"), col("text"))
      ops.Decontaminate.contaminationHits(
        bigDocs, "doc_id", "text", bench, "bid", "text", n = 5, minHits = 3)
    }
    // projection scan grows linearly; shortlist + rerank stay query-bounded
    time("projected_ann") {
      ops.Similarity.projectedTopK(
        bigEmb.filter(col("vec_id") < 5), bigEmb, "vec_id", "embedding",
        k = 10, projDims = 8, candidates = 50)
    }
    // one group-count agg + a per-row compare: pure scan-bound growth
    time("target_mix_sample") {
      ops.TextAnalysis.targetMixSample(bigDocs, "lang", "doc_id",
        Map("en" -> 400000, "de" -> 200000, "fr" -> 200000, "zh" -> 200000))
    }
    // vocab is shared across copies: after the word count the 8 merge folds
    // and the token agg run over an unchanged vocabulary — like bpe_pairs,
    // only the first count sees the corpus
    time("bpe_tokenize") {
      val merges = Seq("e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w",
        "s" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar")
      val words = bigDocs
        .select(explode(ops.TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      words.select(explode(ops.Bpe.applyMergePairs(col("w"), merges)).as("token"), col("wc"))
        .groupBy(col("token")).agg(sum(col("wc")).cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(50)
    }
    // training is vocab-sized after ONE corpus pass: the distributed word
    // count is the only Spark job; all 256 merge rounds are exact
    // incremental updates over the collected vocab on the driver. The
    // number to compare against is 256 serialized jobs (the naive loop):
    // rounds never multiply jobs, however deep the vocabulary
    if (only.forall(_.contains("bpe_train_256merges"))) {
      val t0 = System.nanoTime()
      val merges = ops.Bpe.learnCollected(bigDocs, "text", numMerges = 256, minCount = 2)
      println(f"[scale] bpe_train_256merges        ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        f"  (${merges.size} merges, 1 Spark job)")
    }
    // model stays top-4096 however large the corpus (bounded broadcast);
    // the scoring pass is scan-bound: per-token stream -> one doc agg
    time("typicality_score") {
      ops.TextAnalysis.typicalityScores(
        bigDocs, "doc_id", "text", bigDocs, "text", vocabSize = 4096)
    }
    // the distinct-BIGRAM count is the cost driver (gram vocabulary >>
    // word vocabulary, still Heaps-law-bounded and shared across copies);
    // one gram-agg shuffle, model capped top-4096 after it
    time("typicality_bigram") {
      ops.TextAnalysis.typicalityScoresN(
        bigDocs, "doc_id", "text", bigDocs, "text", n = 2, vocabSize = 4096)
    }
    // same gram stream plus the unigram side: two capped models, one doc agg
    time("typicality_backoff") {
      ops.TextAnalysis.typicalityScoresBackoff(
        bigDocs, "doc_id", "text", bigDocs, "text", vocabSize = 4096)
    }
    // worst case by construction: the `factor` copies of each original doc
    // share a canonical URL, so every group is a full recrawl pile and the
    // min_by agg sees maximum duplicate mass
    time("url_dedup") {
      val orig = col("doc_id") % 1000000L
      ops.Web.dedupByUrl(
        bigDocs.withColumn("url", concat(lit("HTTP://Site"), orig,
          lit(".com:80/p/"), orig, lit("?utm_source=x"))),
        "url", "doc_id")
    }
    // per-row ceiling: every word becomes a sentence (the battery query's
    // page shape), so the offsets pass and membership scan see the densest
    // sentence stream per char
    time("sentence_chunks") {
      ops.TextAnalysis.chunkBySentences(
        bigDocs.withColumn("page", regexp_replace(col("text"), " ", ". ")),
        "doc_id", "page", maxChars = 120, overlap = 30)
    }
    // segment-blocked exact Levenshtein self-join over variant families
    // (the battery query's shape): candidate volume scales with family
    // count, not corpus²; families grow with the amplified id space
    time("fuzzy_join") {
      val strs = bigDocs.selectExpr("doc_id AS id",
        "substring(md5(concat('fz:', CAST(doc_id DIV 4 AS STRING))), 1, 10) AS b")
        .selectExpr("id",
          """CASE WHEN id % 4 = 0 THEN b
             ELSE concat(substring(b, 1, CAST((id % 4) * 3 - 1 AS INT)), 'z',
               substring(b, CAST((id % 4) * 3 + 1 AS INT),
                 CAST(10 - (id % 4) * 3 AS INT))) END AS s""")
      ops.Joins.editDistanceJoin(strs, "id", "s", strs, "id", "s", maxDist = 2)
        .filter(col("id_a") < col("id_b"))
    }
    // block-density stress for the maxBlock knob: a third of the families
    // share the constant `aaa` first segment (the battery edit_capped_join
    // corpus), so amplifying rows 20x makes the hot i=0 block 20x DENSER —
    // uncapped, its within-block candidates grow 400x; with maxBlock the
    // hot block drops before the candidate join (measured recall trade,
    // JoinsSpec) and wall must track the linear cold/probe work instead
    time("edit_capped_density") {
      val strs = bigDocs.selectExpr("doc_id AS id",
        "substring(md5(concat('ec:', CAST(doc_id DIV 2 AS STRING))), 1, 10) AS b")
        .selectExpr("id",
          """CASE WHEN id % 2 = 1
               THEN concat(substring(b, 1, 4), 'z', substring(b, 6, 3), 'z', substring(b, 10, 1))
               ELSE b END AS v""")
        .selectExpr("id",
          """CASE WHEN (id DIV 2) % 3 = 0
               THEN concat('aaa', substring(v, 4, 7)) ELSE v END AS s""")
      ops.Joins.editDistanceJoin(strs, "id", "s", strs, "id", "s",
        maxDist = 2, maxBlock = 64)
        .filter(col("id_a") < col("id_b"))
    }
    // the full record-linkage pipeline: the same variant-family generator
    // A/B-split by parity, then the mutualBest acceptance rule — pair
    // volume grows with family count, the argmax aggs collapse to
    // key-sized frames before their join
    time("entity_resolution") {
      val strs = bigDocs.selectExpr("doc_id AS id",
        "substring(md5(concat('fz:', CAST(doc_id DIV 4 AS STRING))), 1, 10) AS b")
        .selectExpr("id",
          """CASE WHEN id % 4 = 0 THEN b
             ELSE concat(substring(b, 1, CAST((id % 4) * 3 - 1 AS INT)), 'z',
               substring(b, CAST((id % 4) * 3 + 1 AS INT),
                 CAST(10 - (id % 4) * 3 AS INT))) END AS s""")
      val pairs = ops.Joins.editDistanceJoin(
        strs.where(col("id") % 4 < 2), "id", "s",
        strs.where(col("id") % 4 >= 2), "id", "s", maxDist = 2)
        .withColumn("score", lit(2L) - col("dist"))
      ops.Joins.mutualBest(pairs, "id_a", "id_b", "score")
    }
    // one-pass gram sufficient statistics: 20x vectors through the ONE
    // ObjectHashAggregate; only label-keyed d²-grids cross the wire, so
    // growth must be scan-bound (map-side partials absorb the fan-in)
    time("gram_matrix") {
      ops.Similarity.gramSums(bigEmb, Seq("label"), "embedding", dim = 64)
    }
    // worst case by construction: the factor copies of each doc are EXACT
    // text duplicates under distinct ids, so every copy-group is an
    // all-pairs containment clique — output itself is quadratic in factor
    // (the inter-join stays df-capped and linear per shingle)
    time("containment_pairs") {
      ops.Dedup.containmentPairs(bigDocs, "doc_id", "text",
        minContainPpm = 600000L, maxShingleDf = 100)
    }
    // corpus tokenizes once; the tf agg sees only query-term rows and the
    // df frame derives from it (one reused exchange subtree)
    time("bm25_topk") {
      val qs = spark.createDataFrame(Seq(
        ("q1", "table scan merge"), ("q2", "slow query filter"),
        ("q3", "stream window customer"))).toDF("query_id", "qtext")
      ops.Retrieval.bm25TopK(bigDocs, "doc_id", "text", qs, "query_id", "qtext", k = 10)
    }
    // gram streams grow linearly; the pair/unigram vocabularies are
    // Heaps-law-bounded and shared across the amplified copies
    time("collocations") {
      ops.TextAnalysis.collocations(bigDocs, "text", k = 20, minPairCount = 5)
    }
    // the no-one-reducer exact percentile: range exchange + one
    // (group, pid) window exchange over the values, offsets tiny
    time("exact_percentiles") {
      val v = bigEvents.select(col("event_type"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      ops.Sketches.exactPercentiles(v, "event_type", "cents", Seq(50, 90, 99))
    }
    // node count scales with the corpus (hosts = ids mod 250*factor), edge
    // count is 3x docs; 5 rank iterations = 10 bounded shuffles over
    // edge-sized frames with node-sized ranks
    time("host_pagerank") {
      val links = bigDocs.select(
        concat(lit("h"), (col("doc_id") % (250L * factor)).cast("string")).as("src"),
        explode(array(
          concat(lit("h"), ((col("doc_id") * 7 + 13) % (250L * factor)).cast("string")),
          concat(lit("h"), ((col("doc_id") * 7 + 26) % (250L * factor)).cast("string")),
          concat(lit("h"), ((col("doc_id") * 7 + 39) % (250L * factor)).cast("string"))))
          .as("dst"))
      ops.Graphs.pageRank(links, iterations = 5)
    }
    // same amplified link graph: host count scales with factor, so these
    // measure graph-size growth, not densification of a fixed 250 hosts
    def bigLinks = bigDocs.select(
      concat(lit("h"), (col("doc_id") % (250L * factor)).cast("string")).as("src"),
      explode(array(
        concat(lit("h"), ((col("doc_id") * 7 + 13) % (250L * factor)).cast("string")),
        concat(lit("h"), ((col("doc_id") * 7 + 26) % (250L * factor)).cast("string")),
        concat(lit("h"), ((col("doc_id") * 7 + 39) % (250L * factor)).cast("string"))))
        .as("dst"))
    time("triangles") {
      ops.Graphs.triangleCounts(bigLinks)
    }
    time("label_prop") {
      ops.Graphs.labelPropagation(bigLinks)
    }
    time("kcore") {
      ops.Graphs.kCore(bigLinks, k = 4)
    }
    // components of the same graph on both paths: as called (the driver
    // union-find while the edge frame fits Graphs.DriverMaxEdgeRows), and
    // with broadcasts off, which keeps it on the fixpoint loop — pointer
    // jumping, rounds O(log diameter), each round edge-sized joins
    time("connected_components") {
      ops.Graphs.connectedComponents(bigLinks)
    }
    time("connected_components_loop") {
      val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the path is chosen, and the loop run, inside the call
      try ops.Graphs.connectedComponents(bigLinks)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
    time("bfs_reach") {
      ops.Graphs.bfsDistances(bigLinks, Seq("h13"), maxDepth = 4)
    }
    time("jaccard_join") {
      ops.Dedup.jaccardPairsExact(
        bigDocs.select(col("doc_id").as("id"),
          ops.Dedup.wordShingles(col("text"), 5).as("toks")),
        "id", "toks", minJaccardPpm = 700000L)
    }
    time("sorted_neighborhood") {
      ops.Dedup.sortedNeighborhoodPairs(
        bigDocs.select(col("doc_id").as("id"),
          substring(md5(col("doc_id").cast("string")), 1, 10).as("v")),
        "id", "v", window = 10)
    }
    time("running_total") {
      ops.Intervals.concurrency(
        bigEvents.select(col("event_id").as("id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + 3600000000L).as("e")),
        "s", "e", "id")
    }
    // per-key daily series: the key cardinality scales with factor (the
    // scale axis of the calendar operators is SERIES COUNT, spans stay
    // calendar-bounded), so 20x = 20x more series, not longer ones
    val bigDaily = bigEvents
      .groupBy((col("user_id") % (500L * factor)).as("k"),
        expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true)
    time("gap_fill") {
      ops.Timeseries.gapFill(bigDaily, Seq("k"), "day_idx", Seq("cnt"))
    }
    time("cusum") {
      ops.Timeseries.cusum(bigDaily, Seq("k"), "day_idx", "cnt",
        drift = 1L, threshold = 10L)
    }
    time("trailing") {
      ops.Timeseries.trailing(bigDaily, Seq("k"), "day_idx", "cnt", window = 7)
    }
    time("zorder") {
      ops.Layout.zOrderKey(
        bigEvents.select(col("event_id"), col("user_id"),
          (col("value") * 100).cast("long").as("vc")),
        Seq("user_id", "vc"), bits = 8, tie = Seq(col("event_id")))
    }
    // 2000-phrase blocklist through the Aho-Corasick kernel: per-row
    // codegen, zero exchanges — the point is that pattern count does NOT
    // multiply the scan (the composed contains() form would re-walk the
    // text 2000x); a handful of phrases genuinely match the synthetic text
    time("blocklist") {
      val pats = (0 until 2000).map(i => s"zq${java.lang.Integer.toString(i, 36)}x") ++
        Seq("slow fast", "table value", "stream window", "merge batch")
      ops.TextAnalysis.blocklistHits(bigDocs, "text", pats)
        .select(col("doc_id"), col("n_matched"))
    }
    // the TPC-H-shaped heavies: orders/lineitem/part amplified with the
    // same disjoint-range re-keying (l_partkey shares part's span so each
    // copy joins its own parts — the brand universe stays 25 brands)
    val keySpan = 10000000L
    val bigOrders = amplify(spark.read.parquet(s"$sfDir/orders.parquet"),
      Seq("o_orderkey"), keySpan).localCheckpoint(eager = true)
    val bigLineitem = amplify(spark.read.parquet(s"$sfDir/lineitem.parquet"),
      Seq("l_orderkey", "l_partkey"), keySpan).localCheckpoint(eager = true)
    val bigPart = amplify(spark.read.parquet(s"$sfDir/part.parquet"),
      Seq("p_partkey"), keySpan).localCheckpoint(eager = true)
    // pair fan-out bounded by (brands-per-order)² per order — order count
    // grows 20x, brands-per-order is data-constant, so pairs grow linearly;
    // the 25-brand marginals/total stay broadcast-sized at any factor
    time("basket_lift") {
      val ob = bigLineitem
        .join(broadcast(bigPart.select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct()
        .localCheckpoint(true)
      val pairs = ob.select(col("ok"), col("brand").as("brand_a"))
        .join(ob.select(col("ok"), col("brand").as("brand_b")), Seq("ok"))
        .where(col("brand_a") < col("brand_b"))
        .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
      val marg = ob.groupBy(col("brand")).agg(count(lit(1)).as("n"))
      val total = ob.select(countDistinct(col("ok")).as("n_orders"))
      pairs
        .join(broadcast(marg.select(col("brand").as("brand_a"), col("n").as("n_a"))),
          Seq("brand_a"))
        .join(broadcast(marg.select(col("brand").as("brand_b"), col("n").as("n_b"))),
          Seq("brand_b"))
        .join(broadcast(total))
        .select(col("brand_a"), col("brand_b"), col("n_ab"),
          expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000 DIV (n_a * n_b) AS BIGINT)")
            .as("lift_ppm"))
    }
    // the date span is data-constant, so 20x intervals means 20x boundary
    // rows through the range exchange and 20x concurrency per day — the
    // day-split explode and day agg stay calendar-bounded
    time("time_weighted_load") {
      val us = unix_micros(col("o_orderdate").cast("timestamp"))
      val iv = bigOrders.select(col("o_orderkey").as("id"),
        us.as("start_us"), (us + 7L * 86400 * 1000000).as("end_us"))
      ops.Intervals.timeWeightedDaily(iv, "start_us", "end_us", "id")
    }
    // block families stay data-sized (copies get disjoint blocks via the
    // copy index, as fuzzy_join's families do): a bigger corpus means MORE
    // blocks, not denser ones — the honest entity-resolution scale model;
    // per-block verify cost is bounded by block size at any factor
    // block DENSITY grows with the amplification here, deliberately: TPC-H
    // part names keep their ~92 last-word blocks across copies, so 20x rows
    // means 20x rows PER BLOCK — the regime that blew up 106x at the real
    // sf1 decade before round 19. The build-side rank cap (the battery
    // query's exact recipe) bounds within-block candidates to 32 x probe,
    // so wall must grow ~linearly with the probe side, not quadratically
    time("damerau_pairs") {
      val parts = bigPart.select(col("p_partkey").as("id"),
        col("p_name").as("name"),
        element_at(split(col("p_name"), " "), -1).as("block"))
      val a = parts.where(col("id") % 7 === 1)
        .select(col("block"), col("id").as("id_a"), col("name").as("__na"))
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("block")).orderBy(col("id_a"))))
        .where(col("__rk") <= 32).drop("__rk")
      val b = parts.where(col("id") % 7 === 2)
        .select(col("block"), col("id").as("id_b"), col("name").as("__nb"))
      a.join(b, "block")
        .withColumn("dist",
          graft.functions.functions.damerau_levenshtein(col("__na"), col("__nb"))
            .cast("long"))
        .where(col("dist") <= 4)
        .select(col("id_a"), col("id_b"), col("dist"))
    }
    // both retriever legs scan the amplified corpus once; ranks (not
    // corpus rows) cross into the fusion, which is (queries x k)-sized
    time("rrf_fusion") {
      val qs = spark.createDataFrame(Seq(
        ("q1", "table scan merge"), ("q2", "slow query filter"),
        ("q3", "stream window customer"))).toDF("query_id", "qtext")
      val lex = ops.Retrieval
        .bm25TopK(bigDocs, "doc_id", "text", qs, "query_id", "qtext", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val overlap = ops.Retrieval.toRanking(
        ops.Retrieval
          .percolate(bigDocs, "doc_id", "text", qs, "query_id", "qtext",
            minMatchPct = 1)
          .select(col("query_id"), col("doc_id"), col("n_matched")),
        "n_matched", k = 20)
      ops.Retrieval.rrfFuse(Seq(lex, overlap), k0 = 60, k = 10)
    }
    // groups stay 5 event types while rows grow 20x — each group FAR
    // exceeds one partition at 20x, which is exactly the case the
    // withGroupRank range recipe exists for (a hash-window formulation
    // would put 400k-row groups on single reducers)
    time("spearman") {
      ops.Stats.spearman(
        bigEvents.select(col("event_type"),
          (col("value") * 100).cast("long").as("cents"),
          unix_micros(col("ts")).as("us"), col("event_id")),
        Seq("event_type"), "cents", "us", "event_id")
    }
    // subjects (re-keyed docs) grow 20x, groups stay 5 langs: the one
    // row-sized exchange carries 20x (subject, category) rows over 20x
    // keys; the cat/group finishers stay category-sized
    time("fleiss") {
      def tier(lo: Long, hi: Long) =
        when(col("n_chars") < lo, "low").when(col("n_chars") < hi, "mid")
          .otherwise("high")
      ops.Stats.fleissKappa(
        bigDocs.select(col("lang"), col("doc_id"),
          explode(array(tier(150, 350), tier(180, 320), tier(200, 300))).as("cat")),
        Seq("lang"), "doc_id", "cat", 3)
    }
    // docs and slabs grow 20x (disjoint re-keyed id ranges -> disjoint
    // slabs); the vocabulary is data-constant, so the type-debut agg's
    // OUTPUT stays fixed while its input grows 20x — map-side combine
    // absorbs the growth, the slab window stays slab-sized
    time("vocab_growth") {
      ops.TextAnalysis.vocabGrowth(bigDocs, "doc_id", "text", bucketSize = 50)
    }
    // the rank tests on a CONTINUOUS column (unix micros — essentially
    // unique per row, so the distinct-value frame IS the row frame):
    // exactly the case the old hash-window formulation put on one
    // reducer per group. Groups stay 5 event types while rows grow 20x;
    // rangedCumSums spreads each group's 400k+ values over every range
    // shard, so growth must track rows, not largest-group size
    time("ks_drift") {
      ops.Drift.ksTest(
        bigEvents.select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("user_id")),
        Seq("event_type"), "us", col("user_id") % 2 === 0)
    }
    time("mw_drift") {
      ops.Drift.mannWhitney(
        bigEvents.select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("user_id")),
        Seq("event_type"), "us", col("user_id") % 2 === 0)
    }
    // weighted percentiles over the same continuous value axis, cents
    // as mass: per-(group, value) collapse buys nothing here (values
    // unique), so the running-weight scan carries the full 20x frame
    time("weighted_pctl") {
      ops.Sketches.weightedPercentiles(
        bigEvents.select(col("event_type"), unix_micros(col("ts")).as("us"),
          (col("value") * 100).cast("long").as("cents")),
        "event_type", "us", "cents", Seq(50, 90, 99))
    }
    // users grow 20x (re-keyed), per-user history is data-constant: the
    // ONE user-keyed exchange carries 20x rows over 20x keys, per-key
    // window work unchanged
    time("attribution_linear") {
      ops.Attribution.linear(bigEvents, "user_id", "event_id", "ts",
        isConversion = col("event_type") === "purchase",
        isTouch = col("event_type").isin("click", "view"),
        channel = col("event_type"),
        lookbackUs = 3L * 86400 * 1000000)
    }
    // distinct users grow 20x (re-keyed): the (bucket, hash) distinct
    // collapse carries 20x rows, the bottom-k agg still ships k-row
    // sketches — sketch-side work is scale-constant by construction
    time("audience_overlap") {
      val ev = bigEvents.select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000 % 7").as("dow"), col("user_id"))
      ops.Sketches.kmvSetOps(
        ops.Sketches.kmvSetSketch(
          ev.where(col("event_type") === "click"), Seq("dow"), "user_id", k = 128),
        ops.Sketches.kmvSetSketch(
          ev.where(col("event_type") === "view"), Seq("dow"), "user_id", k = 128),
        Seq("dow"), k = 128)
    }
    // the PR sweep on a CONTINUOUS score (unix micros — distinct-score
    // frame IS the row frame): the ks_drift scaffold must spread each
    // group's 400k+ thresholds across every range shard, and the
    // confusion arithmetic is per-row after that — growth tracks rows
    time("pr_curve") {
      ops.Stats.prSweep(
        bigEvents.select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("user_id")),
        Seq("event_type"), "us", col("user_id") % 3 === 0)
    }
    // users grow 20x (re-keyed): the per-user pre/post rollup — the one
    // row-sized exchange — carries 20x rows over 20x keys; the (cohort,
    // arm) frame and the pooled window stay arm-sized
    time("cuped_adjust") {
      val cut = expr("TIMESTAMP '2024-01-16'")
      val perUser = bigEvents.where(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts") < cut,
            (col("value") * 100).cast("long"))), lit(0L)).as("x_cents"),
          coalesce(sum(when(col("ts") >= cut,
            (col("value") * 100).cast("long"))), lit(0L)).as("y_cents"))
        .withColumn("cohort", (col("user_id") % 3).cast("long"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
      ops.Stats.cupedAdjust(perUser, Seq("cohort"), "arm", "y_cents", "x_cents")
    }
    // units (re-keyed users) grow 20x on an essentially-unique value
    // axis: the Lorenz rank pass must spread each group's frame across
    // range shards (no one-reducer window), the four-sum agg collapses
    time("gini_concentration") {
      val perUser = bigEvents.where(col("value").isNotNull)
        .groupBy((col("user_id") % 5).as("cohort"), col("user_id"))
        .agg(sum((col("value") * 100).cast("long")).as("spend_cents"))
      ops.Stats.giniConcentration(perUser, Seq("cohort"), "spend_cents",
        "user_id")
    }
    // keys (re-keyed user ranges) grow 20x, each key's daily series stays
    // calendar-bounded (<=30 days -> <=435 pairs per key): pair volume
    // grows with KEYS, never days² x rows — the honest Theil-Sen model
    time("theil_sen") {
      val daily = bigEvents.groupBy(expr("user_id DIV 1000").as("grp"),
        expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
        .agg(count(lit(1)).as("cnt"))
      ops.Timeseries.theilSen(daily, "grp", "day_idx", "cnt")
    }
    // same 20x key growth, day-sized fold state per key: the key agg
    // collects <=30-entry arrays however many raw rows fed the rollup
    time("holt_forecast") {
      val daily = bigEvents.groupBy(expr("user_id DIV 1000").as("grp"),
        expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
        .agg(sum((col("value") * 100).cast("long")).as("cents"))
      ops.Timeseries.holtForecast(daily, Seq("grp"), "day_idx", "cents",
        horizon = 3)
    }
    // units (re-keyed users) grow 20x through the one per-user rollup;
    // the survival fold state is the distinct-duration frame (hour
    // domain, calendar-bounded) per cohort
    time("kaplan_meier") {
      val perUser = bigEvents.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("f"), max(unix_micros(col("ts"))).as("l"))
        .select((col("user_id") % 3).cast("long").as("cohort"),
          expr("(l - f) DIV 3600000000").as("hours"),
          (col("l") < lit(1705881600000000L)).as("churned"))
      ops.Stats.kaplanMeier(perUser, Seq("cohort"), "hours", col("churned"))
    }
    // keys grow 20x, pair fan-out calendar-bounded per key — the
    // theil_sen law for the sign-sum statistic
    time("mann_kendall") {
      val daily = bigEvents.groupBy(expr("user_id DIV 1000").as("grp"),
        expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
        .agg(count(lit(1)).as("cnt"))
      ops.Timeseries.mannKendall(daily, "grp", "day_idx", "cnt")
    }
    // keys grow 20x, day-sized window frames per key; totals broadcast
    time("changepoint") {
      val daily = bigEvents.groupBy(expr("user_id DIV 1000").as("grp"),
        expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
        .agg(count(lit(1)).as("cnt"))
      ops.Timeseries.changepoint(daily, Seq("grp"), "day_idx", "cnt")
    }
    // rows grow 20x into the ONE (type, stratum) cell agg (map-side
    // combined); the MH/CMH finish runs over the strata frame only
    time("mantel_haenszel") {
      ops.Stats.mantelHaenszel(
        bigEvents.where(col("value").isNotNull && col("user_id").isNotNull)
          .select(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("stratum"),
            (col("user_id") % 2 === 0).as("x"), (col("value") > 50).as("o")),
        Seq("event_type"), "stratum", "x", "o")
    }
    // tokens grow 20x into the vocab-sized count agg; the rank pass
    // range-shards the vocabulary, the OLS finish is one global agg
    time("zipf_slope") {
      ops.TextAnalysis.zipfSlope(bigDocs, "text")
    }
    // corpus grows 20x with buckets scaled to hold ~64 ids each, so the
    // bucket join's per-anchor fan-out stays constant — the honest model
    // (a fixed bucket count would quadratically inflate the join)
    time("negative_samples") {
      val n = bigDocs.count()
      ops.Retrieval.negativeSamples(bigDocs.select(col("doc_id")), "doc_id",
        k = 3, buckets = math.max(1L, n / 64L).toInt)
    }
    // wedge volume must track edges (cap x |E|), not degree^2: hosts stay
    // 250 while each gains 20x the edges — the worst case for an uncapped
    // wedge join, tamed by the center cap
    time("link_prediction") {
      val edges = bigDocs.select(
        concat(lit("h"), (col("doc_id") % 250).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7 + 13) % 997).cast("string")).as("dst"))
      ops.Graphs.linkPrediction(edges, maxCenterDegree = 64)
    }
    // judgments grow 20x through the ONE user-keyed lag window (keys
    // re-keyed to 20x, per-user history constant) then collapse to the
    // pair-sized cell frame — item count constant
    time("copeland_rank") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prefs = bigEvents
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .where(col("prev_type").isNotNull && col("prev_type") =!= col("event_type"))
        .withColumn("winner",
          when(col("value") > col("prev_value"), col("event_type"))
            .when(col("value") < col("prev_value"), col("prev_type")))
      ops.Retrieval.copelandRank(prefs, Nil, "prev_type", "event_type", "winner")
    }
    // ratings grow 20x through the linear agg pipeline; units grow 20x,
    // per-unit collect bounded by the category count
    time("krippendorff") {
      ops.Stats.krippendorffAlpha(
        bigDocs.select(expr("doc_id DIV 5").as("unit"),
          expr("(doc_id DIV 5) % 3").as("panel"), col("lang")),
        Seq("panel"), "unit", "lang")
    }
    // rows explode x32 but map-side-combine into ONE (group, rep)
    // exchange — only groups x 32 x shards partials ever cross; the
    // replicate-mean frame is groups x 32 rows at any data size
    time("bootstrap_ci") {
      ops.Stats.poissonBootstrapCI(
        bigEvents.select(col("event_type"), col("event_id"),
          (col("value") * 100).cast("long").as("cents")),
        "event_type", "event_id", "cents", b = 32)
    }
    // tests grow 20x through the range-partition rank scaffold; the m /
    // cutoff frames stay group-sized
    time("bh_select") {
      val b = conv(substring(md5(concat(lit("bh:"), col("doc_id").cast("string"))), 1, 4),
        16, 10).cast("long")
      ops.Stats.benjaminiHochberg(
        bigDocs.select(col("source"), col("doc_id"),
          when(col("doc_id") % 11 === 0, b % 2000L + 1L)
            .otherwise((b * 16L) % 1000000L + 1L).cast("long").as("p_ppm")),
        Seq("source"), "p_ppm", "doc_id", 50000L)
    }
    // the round-17 capstone end-to-end: URL -> exact -> near dedup ->
    // quality -> decontaminate -> mix -> pack -> shuffle + manifest over
    // the amplified corpus. Amplified copies share TEXT, so the 20x run
    // carries maximal duplicate mass — and the chain's stage ORDER is the
    // scale story: exact dedup collapses the copy families before the
    // (quadratic-within-family) near-dup verify ever sees them
    time("release_chain") {
      val chainDocs = bigDocs.select(col("doc_id"), Queries.syntheticUrl.as("url"),
        col("lang"), col("source"), col("text"))
      // bench stays ORIGINAL-sized (the sentence_redact convention: eval
      // suites don't grow with the corpus). Amplified-side bench would be
      // degenerate here: copy ids d + k*1e6 cover every residue mod 17
      // (1e6 ≡ 9, coprime to 17), so every text family would contain a
      // bench member and decontamination would correctly erase the corpus
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      graft.etl.examples.Release.build(chainDocs, bench,
        Map("en" -> 400000, "de" -> 200000, "fr" -> 200000, "zh" -> 200000))._2
    }
    // the INCREMENTAL twin end-to-end: the same amplified corpus arrives
    // as three contiguous-id "days" through the store-backed tiers, the
    // cut runs over the pooled survivors. The data-dependent work equals
    // the batch chain's (each day curates a third; store joins are
    // key-sized) — what this row bounds is that the per-day fixed job
    // overhead stays FLAT as data grows, i.e. the incremental shape's
    // extra cost is a constant, not a multiplier
    time("release_chain_incr") {
      import graft.etl.examples.IncrementalRelease
      val chainDocs = bigDocs.select(col("doc_id"), Queries.syntheticUrl.as("url"),
        col("lang"), col("source"), col("text"))
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val bounds = chainDocs.agg(max(col("doc_id")).as("__maxid"))
      val withB = chainDocs.crossJoin(broadcast(bounds))
      val days = Seq(
        withB.filter(col("doc_id") * 3 <= col("__maxid")),
        withB.filter(col("doc_id") * 3 > col("__maxid") &&
          col("doc_id") * 3 <= col("__maxid") * 2),
        withB.filter(col("doc_id") * 3 > col("__maxid") * 2)).map(_.drop("__maxid"))
      def empty(schema: org.apache.spark.sql.types.StructType) =
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val init = (empty(IncrementalRelease.UrlStoreSchema),
        empty(IncrementalRelease.FpStoreSchema),
        empty(IncrementalRelease.BandStoreSchema),
        Seq.empty[DataFrame], Seq.empty[DataFrame])
      val (_, _, _, cur, st) = days.foldLeft(init) {
        case ((urls, fps, bands, cur, st), day) =>
          val dc = IncrementalRelease.curateDay(day, bench, urls, fps, bands)
          (urls.unionByName(dc.urls), fps.unionByName(dc.fps),
            bands.unionByName(dc.bands), cur :+ dc.curated, st :+ dc.stats)
      }
      IncrementalRelease.cut(cur.reduce(_ unionByName _), st.reduce(_ unionByName _),
        Map("en" -> 400000, "de" -> 200000, "fr" -> 200000, "zh" -> 200000))._2
    }
    spark.stop()
  }
}
