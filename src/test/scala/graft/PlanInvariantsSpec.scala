package graft

import graft.testkit.SparkTestBase

/**
 * Plan-shape regression guard: the scale properties PLANS.md documents are
 * asserted here against the executed plans, so an accidental broadcast-hint
 * removal or join-order change fails the build instead of silently turning a
 * one-shuffle query into a sort-merge cascade at 100 TB.
 *
 * Bounds are per-query ceilings from the PLANS.md audit (a plan using FEWER
 * shuffles than documented is fine). Plans are scale-independent, so the
 * tiny sf0.001 tables are enough to pin the shapes.
 */
class PlanInvariantsSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def shape(name: String): (String, Map[String, Int]) = {
    val fn = Queries.all.collectFirst { case (`name`, f, _) => f }
      .getOrElse(fail(s"unknown query $name"))
    val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
    def n(p: String) = p.r.findAllIn(plan).size
    (plan, Map(
      "smj" -> n("SortMergeJoin"),
      "cartesian" -> n("CartesianProduct"),
      "bnlj" -> n("BroadcastNestedLoopJoin"),
      "exchange" -> n("Exchange hashpartitioning")))
  }

  /** maxShuffles = hash exchanges; maxBnlj covers deliberate 1-row scalar broadcasts. */
  private def check(name: String, maxShuffles: Int, maxSmj: Int = 0, maxBnlj: Int = 0): Unit = {
    val (plan, counts) = shape(name)
    withClue(s"$name plan:\n$plan\n") {
      counts("cartesian") shouldBe 0
      counts("smj") should be <= maxSmj
      counts("bnlj") should be <= maxBnlj
      counts("exchange") should be <= maxShuffles
    }
  }

  test("TPC-H shapes: broadcast dims, bounded shuffles, no cartesian/SMJ") {
    check("q1_pricing_summary", maxShuffles = 1)
    check("q3_shipping_priority", maxShuffles = 1)
    check("q5_region_revenue", maxShuffles = 1)
    check("q6_revenue", maxShuffles = 0)
    check("q9_profit_by_nation", maxShuffles = 1)
    check("q10_returned_items", maxShuffles = 1)
    check("q11_important_parts", maxShuffles = 2, maxBnlj = 1) // 1-row scalar broadcast
    check("q12_priority_lines", maxShuffles = 1)
    check("q14_promo_revenue", maxShuffles = 0)
    check("q15_top_supplier", maxShuffles = 2, maxBnlj = 1)
    check("q16_supplier_variety", maxShuffles = 2)
    check("q17_small_qty_revenue", maxShuffles = 1)
    check("q19_disjunctive_revenue", maxShuffles = 0)
    check("q20_heavy_suppliers", maxShuffles = 2)
    check("q21_sole_blame", maxShuffles = 3)
  }

  test("per-row operators stay exchange-free") {
    check("minhash_signatures", maxShuffles = 0)
    check("simhash_fingerprints", maxShuffles = 0)
    check("doc_fingerprints", maxShuffles = 0)
    check("multimodal_meta", maxShuffles = 0)
    check("chunk_documents", maxShuffles = 0)
    check("stratified_sample", maxShuffles = 0)
    check("html_extract", maxShuffles = 0)
    check("url_profile", maxShuffles = 0)
    check("intra_doc_dedup", maxShuffles = 0)
    check("sentence_stats", maxShuffles = 0)
    check("sentence_chunks", maxShuffles = 0)
    check("lang_id", maxShuffles = 0)
    check("quality_score", maxShuffles = 0)
  }

  test("script-aware battery: per-row kernels, the standard LSH shape") {
    // translate + ScriptTokens + gates are all per-row; ONE per-lang agg
    check("cjk_token_stats", maxShuffles = 1)
    // banding explode + bucket-cap window + pair distinct + verify joins
    // (broadcast at this sf) — same ceilings as near_dup_pairs
    check("cjk_near_dup", maxShuffles = 4)
  }

  test("round-12 additions: no corpus-on-one-reducer windows, scan-speed gates") {
    // the global-order primitives run rangedCumSums' scan: the corpus
    // rides the checkpointed range exchange, and the only hash exchange is
    // the pid-keyed offset agg (1 in the final plan; the pin predates the
    // scan, when a pid-keyed window exchange carried the full data)
    check("token_budget_cut", maxShuffles = 2)
    // per-group budgets: the same scan keyed by group — a (group, pid)
    // offset agg plus a group-keyed running window over those
    // partition-count-sized offsets (the global form's SinglePartition
    // window becomes a hash exchange here — still offset-row-sized); 2 in
    // the final plan, the full data crossing no hash exchange
    check("token_budget_per_group", maxShuffles = 3)
    check("training_shuffle", maxShuffles = 2)
    // per-row URL parsing + flags fused into the scan
    check("url_filter", maxShuffles = 0)
    // quantize/dequantize per-row into the bounded-partial top-k (the
    // BNLJ is the deliberate broadcast query-set x corpus scan)
    check("ann_quantized_topk", maxShuffles = 1, maxBnlj = 1)
    // sentence/gram streams + broadcast bench probe + doc-keyed rebuild
    check("decontaminate_sentences", maxShuffles = 3)
    // dim-keyed snapshot aggs + dim join (SMJ over dim-count rows is the
    // at-scale plan: dimension-sized, not corpus-sized) + 1-row fold
    check("embedding_drift", maxShuffles = 4, maxSmj = 1)
  }

  test("hashed-tf ANN: per-row vectors into the bounded-partial top-k, no window") {
    val (plan, counts) = shape("hashed_tf_topk")
    withClue(s"hashed_tf_topk plan:\n$plan\n") {
      counts("cartesian") shouldBe 0
      counts("smj") shouldBe 0
      counts("exchange") should be <= 2
      plan should not include "Window" // ranked via k-capped partials
    }
  }

  test("url dedup: one min_by partial-agg shuffle, no window") {
    val (plan, counts) = shape("url_dedup")
    withClue(s"url_dedup plan:\n$plan\n") {
      counts("exchange") should be <= 1
      counts("smj") shouldBe 0
      counts("cartesian") shouldBe 0
      // keep-first must stay an arg-min agg (map-side combining), never a
      // row_number window (full per-URL sort at 100 TB)
      plan should not include "Window"
    }
  }

  test("bigram typicality: bounded broadcast model, one doc agg") {
    // gram-count agg + capped top-V + broadcast probe + doc agg + top-100
    check("typicality_bigram", maxShuffles = 4, maxBnlj = 1)
    // two model aggs (uni + bi, each with a 1-row total broadcast) + the
    // one doc agg; both model probes broadcast — never SMJ
    check("typicality_backoff", maxShuffles = 4, maxBnlj = 2)
    // one map-side-combined agg, domain-cardinality output
    check("domain_quality", maxShuffles = 1)
  }

  test("dedup/similarity pipelines: equi-joins only, bounded shuffles") {
    check("dedup_exact", maxShuffles = 1)
    check("lsh_candidate_pairs", maxShuffles = 3)
    // cold pairing + the salted hot-bucket self-join (both equi-keyed):
    // window count, two pair joins, final distinct
    check("lsh_salted_pairs", maxShuffles = 5)
    // broadcast bench probe + one hit-count agg exchange
    check("contamination_hits", maxShuffles = 1)
    // the targets-sized count table is collected as driver control flow
    // and the per-group bucket limits fuse into the scan as literals:
    // the returned plan is scan + filter, no joins, no exchanges
    check("target_mix_sample", maxShuffles = 0)
    // + flagged-id distinct and the anti-join (SMJ statically; AQE
    // broadcasts the small flagged side at runtime)
    check("decontaminated_docs", maxShuffles = 3, maxSmj = 1)
    check("pack_sequences", maxShuffles = 1)
    check("doc_repetition", maxShuffles = 2)
    check("tfidf_top_terms", maxShuffles = 5, maxBnlj = 1)
    // the SMJs are the within-cell self-join and the survivors anti-join —
    // both sides are the corpus in each, so a shuffle join IS the at-scale
    // plan; the 2 BNLJs are the deliberate corpus x 8-centroid crosses
    check("semantic_dedup", maxShuffles = 6, maxSmj = 2, maxBnlj = 2)
  }

  test("round-4 additions: bounded shuffles, no cartesian") {
    // token stream + window hashing + keep-first + interval sweep: the
    // doc-id partitioning is reused by sweep and rebuild (3 exchanges);
    // the rebuild join broadcasts at this sf, shuffle equi-join at scale
    check("span_dedup", maxShuffles = 4, maxSmj = 1)
    // the BNLJ is the deliberate broadcast query-set x sketch scan; the
    // shortlist and the rerank are bounded ObjectHashAggregates on query_id
    // (the rerank's vector fetches broadcast at this sf)
    check("ann_hamming_topk", maxShuffles = 2, maxSmj = 1, maxBnlj = 1)
    // the BNLJ is the deliberate broadcast query-set x projection scan;
    // rerank fetch is an equi-join on the shortlist only
    check("ann_projected_topk", maxShuffles = 2, maxSmj = 1, maxBnlj = 1)
    // bloom scalar subquery adds its own agg exchange; anti join is equi
    check("dedup_incremental_bloom", maxShuffles = 3, maxSmj = 1)
    check("corpus_mix", maxShuffles = 2, maxBnlj = 1)
    // explode + per-gram agg + per-doc agg + rebuild join, all on doc id
    check("ngram_repetition", maxShuffles = 4, maxSmj = 1)
    // bucket-exploded equi-join; broadcast here, shuffle equi-join at scale
    check("overlap_join_pairs", maxShuffles = 1, maxSmj = 1)
    // ONE user-keyed exchange (running-min window chaining + an agg that
    // reuses the window's partitioning) + the tiny final histogram agg —
    // at any funnel step count
    check("funnel_steps", maxShuffles = 2)
    // the conversion window is one extra predicate on the same running
    // minimum — the bound must not cost an exchange
    check("funnel_window", maxShuffles = 2)
    check("vocab_stats", maxShuffles = 2)
  }

  test("brute-force ANN tier ranks via bounded partials, not a full-expansion window") {
    // the queries x corpus scored expansion must never cross an exchange:
    // per-partition k-capped partials (ObjectHashAggregate), no Window
    val (plan, counts) = shape("ann_bruteforce_topk")
    withClue(s"ann_bruteforce_topk plan:\n$plan\n") {
      plan should include("ObjectHashAggregate")
      plan should not include "Window"
      counts("exchange") should be <= 1
      counts("cartesian") shouldBe 0
    }
    // every ANN tier (shortlists, reranks, IVF probes and seeds) and the
    // tf-idf profile rank through TopK.ranked: no top-k window anywhere.
    // The one window left is assignToCentroids' whole-row top-1 by __cos.
    (Queries.all.map(_._1).filter(_.startsWith("ann_")) :+ "tfidf_top_terms").foreach { q =>
      val (p, _) = shape(q)
      withClue(s"$q plan:\n$p\n") {
        "Window \\[.*".r.findAllIn(p).filterNot(_.contains("__cos")).toSeq shouldBe empty
      }
    }
    Seq("ann_hamming_topk", "ann_projected_topk").foreach { q =>
      val (p, c) = shape(q)
      withClue(s"$q plan:\n$p\n") {
        p should include("ObjectHashAggregate")
        c("cartesian") shouldBe 0
      }
    }
  }

  test("round-5 additions: bounded shuffles, no cartesian") {
    // one window shuffle on the stratum
    check("source_cap", maxShuffles = 1)
    // pure per-row hash-threshold filter
    check("weighted_sample", maxShuffles = 0)
    // vocab agg + pair agg; top-k is TakeOrdered, not a range exchange
    check("bpe_pairs", maxShuffles = 2)
    // same two aggs (word count, token count); the 8 merge folds are
    // per-row expressions between them — no extra exchange
    check("bpe_tokenize", maxShuffles = 2)
    // vocab agg + doc agg; the capped model BROADCASTS into the token
    // stream; the bnlj is the deliberate 1-row ref-total broadcast
    check("typicality_score", maxShuffles = 2, maxBnlj = 1)
    // all occurrences are the ONE canonical per-source agg (avail, total's
    // input, the target list) — ReuseExchange runs that shuffle once
    check("mix_plan", maxShuffles = 4, maxBnlj = 2)
    // assign window on vec_id + (cell, dim) agg; the BNLJ is the deliberate
    // corpus x 8-centroid cross (seed selection is a take-ordered limit,
    // not a hash exchange)
    check("kmeans_update", maxShuffles = 2, maxBnlj = 1)
    // full-outer equi-join cannot broadcast: the SMJ on doc_id IS the
    // at-scale plan; fingerprints, not payloads, go through its exchanges
    check("snapshot_diff", maxShuffles = 2, maxSmj = 1)
    // norm windows on label + tiny per-label quartile agg broadcast back
    check("embedding_outliers", maxShuffles = 2)
    // signup pre-agg + the tagged-union window on user_id — no join operator
    check("asof_forward", maxShuffles = 2)
    // nearest: BOTH walks ride the same user_id partitioning (two sorts,
    // one window exchange) — same ceiling as the single-direction forms
    check("asof_nearest", maxShuffles = 2)
    // same single min_by agg shuffle as dedup_exact
    check("dedup_keep_best", maxShuffles = 1)
  }

  test("round-6 additions: bounded shuffles, no cartesian") {
    // one exact distinct-agg shuffle pair on (type, user)
    check("distinct_users_exact", maxShuffles = 2)
    // round 18 verdict row: daily sketch agg + re-agg (2) + the exact
    // two-phase distinct (2), joined group-sized (broadcast)
    check("distinct_users_sketch", maxShuffles = 4)
    // daily bottom-k agg + re-rollup agg: k-row sketches through both
    check("value_quantiles_sketch", maxShuffles = 2)
    // daily Misra-Gries agg + merge agg: capacity-bounded summaries through
    // both exchanges, never raw keys
    check("heavy_hitters_sketch", maxShuffles = 2)
    // per-row block split/score/join — fused into the scan
    check("main_content", maxShuffles = 0)
  }

  test("round-13 additions: link graph, fuzzy join, containment — bounded shuffles") {
    // per-row regexp extraction + posexplode, never an exchange
    check("extract_links", maxShuffles = 0)
    // final-round frame only: prior iterations live behind checkpoints, the
    // last join/agg pair is node-sized and broadcasts at this scale
    check("host_pagerank", maxShuffles = 2)
    // ONE candidate equi-join + the pair distinct; verify is per-row — the
    // naive form would be a cartesian, which stays banned here
    check("fuzzy_join", maxShuffles = 4)
    // shingle df agg + capped inverted self-join + pair agg + size join
    check("containment_pairs", maxShuffles = 6)
    // candidate regex + Luhn fold + replace fold: pure per-row codegen
    check("pii_luhn", maxShuffles = 0)
    // only THREE exchanges carry data-sized frames (q-term tf agg, per-
    // (query,doc) sum, k-capped top-k partials); the rest move the tiny
    // query vocabulary, and the single BNLJ is the 1-row stats broadcast
    check("bm25_topk", maxShuffles = 8, maxBnlj = 1)
    // (host, term) count agg + k-capped bounded partial per host — no window
    check("anchor_text_profile", maxShuffles = 2)
    // one term-keyed agg: exact df + capped smallest-id postings together
    check("inverted_index", maxShuffles = 1)
    // counts + floored-DIV score fused into the scan
    check("readability", maxShuffles = 0)
    // final-frame view like host_pagerank: the RAW per-round sums live
    // behind checkpoints; the last round's max-normalize stays lazy (round
    // 18: one heavy job per half-iteration instead of two), so the visible
    // plan carries its two deliberate 1-row max broadcasts; the zero-row
    // re-attach is ONE union + id-keyed agg — no data-sized joins
    check("host_hits", maxShuffles = 1, maxSmj = 0, maxBnlj = 2)
    // two degree aggs + the reversed-pair self-join + node-sized assembly
    // outer joins (same checkpoint-blind SMJ allowance as host_hits)
    check("host_degrees", maxShuffles = 8, maxSmj = 3)
    // (domain, fp) agg + domain rollup — two map-side-combined exchanges
    check("domain_dedup_profile", maxShuffles = 2)
    // per-row lang-ID kernel + one (lang, pred) count agg
    check("lang_confusion", maxShuffles = 1)
    // broadcast anti-join (no shuffle) + doc-keyed count + assembly join
    check("vocab_coverage", maxShuffles = 3)
    // two token aggs + vocab-sized joins + 1-row total BNLJ + TakeOrdered
    check("collocations", maxShuffles = 6, maxBnlj = 1)
    // range exchange lives behind the checkpoint; data crosses the
    // (group, pid) window exchange once; counts/offsets/targets frames
    // are groups x partitions sized
    check("exact_percentiles", maxShuffles = 5)
    // two exactPercentiles passes (the deviation frame materializes once
    // behind a checkpoint) + the deviation join + one profile agg; the
    // group-sized mad join pins as SMJ pre-AQE (checkpoint-blind sizes,
    // same allowance as host_hits — AQE broadcasts it at runtime)
    check("value_outliers", maxShuffles = 9, maxSmj = 2)
    // broadcast query terms, ONE data-sized (doc, query) count exchange
    check("percolate", maxShuffles = 3)
    // the dup-cluster machinery + two bounded histogram aggs
    check("cluster_sizes", maxShuffles = 8)
  }

  test("round-13 closing additions: stats, paths, cube, graphs — bounded shuffles") {
    // daily agg + ONE six-sum sufficient-statistics agg; dims broadcast
    check("ols_trend", maxShuffles = 2)
    // one conditional-count agg exchange, arithmetic is per-group projection
    check("ab_test", maxShuffles = 1)
    // digit count agg + total agg; the 1-row total joins back as a BNLJ broadcast
    check("benford_profile", maxShuffles = 2, maxBnlj = 1)
    // grouping-sets expansion is map-side: all four CUBE levels in ONE exchange
    check("cube_revenue", maxShuffles = 1)
    // sessionization window + path agg reuse the user_id partitioning;
    // path-count agg + bounded TakeOrdered
    check("session_paths", maxShuffles = 2)
    // first-touch min agg + day count behind the running total's input
    // checkpoint; the visible plan is rangedCumSums' pid-keyed offset agg
    // (1 in the final plan) — its range exchange and partition-count offset
    // frame are not hash exchanges
    check("cumulative_users", maxShuffles = 2)
    // und + oriented live behind checkpoints: visible plan is the wedge join
    // + closing join + corner agg; the node-sized deg join pins as SMJ
    // pre-AQE (checkpoint-blind sizes, same allowance as value_outliers)
    check("host_triangles", maxShuffles = 4, maxSmj = 2)
    // final-round frame only: all LPA rounds live behind checkpoints
    check("host_communities", maxShuffles = 1)
    // peel rounds behind checkpoints; visible plan = final subgraph degree agg
    check("host_kcore", maxShuffles = 2)
    // frontier rounds behind checkpoints; final min-agg frame is reach-sized
    check("host_reach", maxShuffles = 1)
    // running total (behind checkpoint) + rank-shifted successor self-join
    // (the distributed lead) + day explode + ONE day-keyed agg
    check("time_weighted_load", maxShuffles = 5)
    // (order, brand) distinct behind a checkpoint; order-keyed pair self-join
    // (checkpoint-blind SMJ pre-AQE) + pair agg; marginals/total broadcast
    check("basket_lift", maxShuffles = 6, maxSmj = 1, maxBnlj = 1)
    // one customer agg; the three tercile ranks ride range exchanges +
    // broadcast offsets, not hash exchanges
    check("rfm_segments", maxShuffles = 2)
    // group-best agg + the checkpointed running-max range scan + one
    // x-keyed join back (broadcastable group-best side)
    check("pareto_parts", maxShuffles = 3)
    // one day agg; the exclusive running-max offsets ride a range exchange
    // + a partition-count broadcast
    check("record_days", maxShuffles = 2)
    // daily agg + span agg + calendar-observation join on (key, day) +
    // per-KEY carry window; the join is SMJ at scale (both sides row-sized)
    check("gap_fill", maxShuffles = 5, maxSmj = 2)
    // daily agg + ONE (key, day) contribution agg + the join back to
    // observed days — no windows anywhere
    check("ewma_revenue", maxShuffles = 4, maxSmj = 2)
    // two day-sized count aggs + the day equi-join + one six-sum agg per lag
    check("lag_correlation", maxShuffles = 4, maxSmj = 1)
    // two rank passes (range exchanges + partition-count offset aggs) + the
    // 1-row count broadcast (the deliberate BNLJ); bit math is projection
    check("zorder_parts", maxShuffles = 3, maxBnlj = 1)
    // (group, category) counts then group sums — two map-side-combined aggs
    check("type_diversity", maxShuffles = 2)
    // gapFill chain behind a checkpoint (two consumers: mean + cusum);
    // visible plan = 1-row mean broadcast (the BNLJ) + ONE key window
    check("cusum_revenue", maxShuffles = 1, maxBnlj = 1)
    // checkpointed (key, phase) agg + key totals agg + the key-sized join
    // back (checkpoint-blind SMJ pre-AQE)
    check("dow_profile", maxShuffles = 2, maxSmj = 1)
    // daily agg + ONE key RANGE window (calendar-correct trailing frame)
    check("trailing_revenue", maxShuffles = 2)
    // 1-row min/max broadcast (the BNLJ) + one <=bins-key count agg
    check("value_histogram", maxShuffles = 1, maxBnlj = 1)
    // ONE raw scan into checkpointed (host, anchor) counts; totals +
    // argmax + join are host/anchor-sized
    check("anchor_texts", maxShuffles = 3, maxSmj = 1)
  }

  test("round-7 additions: bounded shuffles, no cartesian") {
    // two vocab-sized term aggs (each feeding the join AND its 1-row total),
    // a full-outer join on term (SMJ is the at-scale plan; both sides are
    // vocabularies), two 1-row total broadcasts, TakeOrdered top-k
    check("vocab_drift", maxShuffles = 4, maxSmj = 1, maxBnlj = 2)
    // one (type, day) count agg + one per-type window over the day rollup
    check("ingest_anomalies", maxShuffles = 2)
    // one per-key count agg; the total is a metadata-only zero-column count
    // broadcast as one row; top-k is TakeOrdered
    check("key_skew_profile", maxShuffles = 1, maxBnlj = 1)
    // user-key window + type-pair agg; the ppm total is a global window
    // over the bounded (<= |types|^2 rows) pair frame — one linear plan
    check("event_transitions", maxShuffles = 2)
    // (user, bucket) distinct + per-user min cohort (both user-keyed,
    // shareable partitioning) + join + tiny (cohort, bucket) agg
    check("retention_cohorts", maxShuffles = 3)
    // cluster labels (checkpoint-hidden) + score join + per-cluster min_by
    // + keeper anti-join + survivor anti-join — all equi-keyed
    check("near_dedup_keep_best", maxShuffles = 4, maxSmj = 2)
  }

  test("round-14 additions: drift tests, blocklist, spearman") {
    // each drift test: ONE (group, value) count agg, then the
    // rangedCumSums recipe — (group, shard) partials agg + the tiny
    // offsets-window exchange (O(groups x shards) rows) + the
    // (group, shard) running-sum window exchange — + the finisher agg
    // (AQE reuses the last exchange). NO per-group ordered window over
    // the full distinct-value frame anywhere: a continuous value column
    // spreads over every shard, never one reducer.
    check("ks_drift", maxShuffles = 4)
    check("mw_drift", maxShuffles = 4)
    check("category_drift", maxShuffles = 2)
    // (group, value) weight agg + the same rangedCumSums shape + probe
    check("weighted_pctl", maxShuffles = 4)
    // two key-sized argmax aggs + one shuffled equi-join of the two
    // best-partner frames (one row per key each side -> both exchanges
    // are key-sized); never a self-join of the raw pair frame
    check("mutual_best", maxShuffles = 4)
    // Aho-Corasick kernel is per-row codegen: the 2000-phrase automaton
    // broadcasts as a literal, the scan walks each text ONCE — the only
    // exchange is the output count agg
    check("blocklist_hits", maxShuffles = 1)
    // two withGroupRank passes (range exchanges hide behind checkpoints;
    // each pass shows its offsets agg + its (group, pid) window exchange
    // riding broadcast offsets) + the final sum-of-d² agg
    check("spearman_corr", maxShuffles = 4)
  }

  test("round-15 additions: entity resolution, gram, kfold, balance") {
    // editDistanceJoin generator (segment-index equi-join; its range/
    // checkpoint internals hide) + the mutualBest acceptance shape:
    // two key-sized argmax aggs + their key-sized equi-join; +2 in
    // round 19: the build-length distinct (<= maxLen rows, bytes on
    // the wire) feeding the probe-pruning broadcast semi-join appears
    // once per mutualBest leg (each leg re-evaluates the generator)
    check("entity_resolution", maxShuffles = 6)
    // pure per-row hash math — NO exchange at any scale
    check("kfold_split", maxShuffles = 0)
    // ONE ObjectHashAggregate pass (map-side gram partials -> merge on
    // the label key): only d²-sized grids cross the wire, vectors never
    // do; the covariance explode is projection on the label-sized output
    check("embedding_gram", maxShuffles = 1)
    // (source, lang) count agg + source finisher, both map-side combined
    check("label_balance", maxShuffles = 2)
    // fixpoint loop materializes every round (localCheckpoint), so the
    // executed plan is the final node-sized projection; per-round cost is
    // two edge-sized equi-joins + one min agg, asserted by GraphsSpec's
    // 12-round chain bound instead of a plan string
    check("host_components", maxShuffles = 0)
    // ONE (x, y) cell agg; marginal windows + finisher ride the bounded
    // category-pair frame (single-partition exchanges, not hash)
    check("lang_source_assoc", maxShuffles = 1)
    // the bm25 run + the qrels leg, both derived from ONE shared
    // query-term base (round 20): the qrels side is matchCountsFromBase
    // over the SAME tf subtree as the run, so the tf exchange appears
    // once more per consumer in the INITIAL plan (16 textual exchanges)
    // but executes once — the final adaptive plan resolves the copies to
    // ReusedExchange and the corpus parquet scan count DROPS 10 -> 9
    // (plans/r20/retrieval_eval_{before,after}_final.txt); submitted
    // stages unchanged at 21. The pin bounds the textual count; the
    // runtime dedup is the optimization.
    check("retrieval_eval", maxShuffles = 16, maxBnlj = 1)
    // withGroupRank pass (offsets agg + (group, pid) window exchange,
    // range exchange checkpoint-hidden) + group-size agg (broadcast
    // join) + null-branch union + final decile agg — no one-reducer
    // group window at any value cardinality
    check("rank_normalize", maxShuffles = 5)
    // ONE bottom_k_distinct ObjectHashAggregate per side (dedup inside
    // the O(k) buffer — no row-sized distinct exchange) + the set-ops
    // join of two bucket-sized sketch frames (k-row payloads), so every
    // exchange past the two aggs is sketch-sized however big the raw key
    // sets; estimator math is per-row array/integer code after that
    check("audience_overlap", maxShuffles = 4)
    // the two runs themselves: brute force = its pinned 1-exchange bounded
    // agg + deliberate broadcast queries x corpus BNLJ; IVF = bounded seed
    // list, broadcast query x centroid probe cross (BNLJ) + bounded probe
    // agg, cell equi-join + bounded rerank agg. The recall eval on top is
    // |Q|*k-row frames only: the pair join broadcasts (its non-equi
    // null-safe form is the 3rd BNLJ), the per-query agg is the one extra
    // exchange
    check("ann_recall", maxShuffles = 6, maxBnlj = 3)
    // the exactPercentiles recipe (pinned <=5 standalone; range exchange
    // checkpoint-hidden, offsets agg + running-sum window + target join)
    // computing the TWO caps in one pass, the group-sized caps pivot agg,
    // the broadcast caps join (no exchange) + the final per-type rollup
    // agg — every exchange past the recipe is group-sized or type-sized
    check("winsorize", maxShuffles = 7)
    // TV rides the category_drift cell shape exactly: (group, category)
    // cell agg + the group finisher over the category-sized frame
    check("tv_drift", maxShuffles = 2)
    // the ks_drift scaffold verbatim — (group, score) count agg +
    // rangedCumSums ((group, shard) partials, tiny offsets window,
    // running-sum window) — then pure per-row confusion arithmetic:
    // NO extra exchange for the sweep itself, no one-reducer score
    // window at any distinct-score cardinality
    check("pr_curve", maxShuffles = 4)
    // mannWhitney on the label split: same scaffold + the finisher agg
    check("score_auc", maxShuffles = 4)
    // per-user pre/post split agg (user-keyed exchange) + the (cohort,
    // arm) five-sum agg + pooled-total window over the ARM-sized frame;
    // everything after is per-row integer math
    check("cuped_adjust", maxShuffles = 3)
    // bit-length bin is per-row projection; ONE <=64-bins-per-type agg
    check("log2_histogram", maxShuffles = 1)
    // nationDaily (broadcast dims + one (nation, day) agg) + ONE key agg
    // collecting the day-sized series; the Holt fold is per-row code on
    // the key-sized frame — a recurrence is sequential per key, keys
    // parallelize
    check("holt_forecast", maxShuffles = 2, maxSmj = 2)
    // the pair frame materializes ONCE (checkpoint hides the daily agg +
    // key-equi self-join — the only row-heavy movement); every visible
    // exchange is key- or (key, shard)-sized: n_pairs agg, the
    // exactPercentiles recipe's offsets/targets aggs + rank window
    // (range exchange checkpoint-hidden), and the key-sized median join
    check("theil_sen", maxShuffles = 8, maxSmj = 2)
    // per-customer rollup + withGroupRank (offsets agg + (group, pid)
    // window exchange over the checkpoint-hidden range partitioning)
    // + ONE final four-sum agg
    check("gini_concentration", maxShuffles = 5, maxSmj = 2)
    // per-user first/last rollup (the one row-sized exchange) +
    // (cohort, duration) count agg + the cohort collect agg; the
    // survival fold is per-row code on duration-bounded arrays
    check("kaplan_meier", maxShuffles = 3)
    // daily rollup + key-equi pair self-join (day-sized both sides) +
    // sign-sum agg + the (key, value) tie agg and key join — all
    // post-rollup frames calendar- or key-sized
    check("mann_kendall", maxShuffles = 6, maxSmj = 2)
    // daily rollup + totals agg (broadcast) + ONE per-key ordered window
    // over the day-sized frame + the key argmax agg
    check("changepoint_detect", maxShuffles = 4)
    // ONE (group, arm) count agg + the arm-sized group finisher
    check("srm_check", maxShuffles = 2)
    // ONE fused conditional-sum agg; the contrast is projection
    check("did_readout", maxShuffles = 1)
    // ONE three-sum agg; both ESS divisions are projection
    check("sample_ess", maxShuffles = 1)
    // Spark expands the three sets map-side: ONE expand + ONE shuffle,
    // never a union of three scans
    check("grouping_sets_revenue", maxShuffles = 1)
    // the confusion cell agg + two cell-frame-sized class aggs + the
    // class full-outer join (class-frame SMJ is the at-scale plan)
    check("class_f1", maxShuffles = 5, maxSmj = 1)
    // ONE map-side-combined squared-error agg; the division is projection
    check("brier_score", maxShuffles = 1)
    // ONE conditional-count agg over the paired verdicts
    check("mcnemar_test", maxShuffles = 1)
    // three verified legs composed: srm's two aggs + the 2x2 cell agg +
    // the per-user rollup + (type, arm) five-sum agg + pooled window +
    // adj-lift agg, then type-sized joins of three 5-row frames
    check("experiment_readout", maxShuffles = 10, maxSmj = 3)
    // the daily frame materializes once (checkpoint); visible = the
    // holt fit agg over the train split + the (type, day) naive join +
    // the type join of the 5-row fit + the final MAE agg
    // maxBnlj=2: the cut date rides a broadcast 1-row frame into both the
    // fit and held-out legs (round 16 — replaced the driver-side .head())
    check("forecast_backtest", maxShuffles = 6, maxSmj = 2, maxBnlj = 2)
    // two exactPercentiles passes (each: range exchange checkpoint-
    // hidden; visible = offsets agg + offsets window + targets agg +
    // rank window, all groups-x-shards sized) + the decile-frame
    // equi-join of two 45-row results — no row-sized exchange anywhere
    check("decile_shift", maxShuffles = 12, maxSmj = 2)
  }

  test("round-16 additions: stratified MH readout, zipf slope") {
    // ONE (type, stratum) cell agg + ONE type-sized finish agg — the
    // strata frame is the scale unit, nothing rescans rows past the cells
    check("mantel_haenszel", maxShuffles = 2)
    // vocab-sized term counts + the withGlobalRank offsets agg (range
    // exchange checkpoint-hidden); the OLS finish is one global agg
    check("zipf_slope", maxShuffles = 2)
    // ONE (type, dow) three-sum cell agg + the type-sized eta^2 finish
    check("dow_strength", maxShuffles = 2)
    // ids distinct + bucket equi-join + (anchor, j) argmin agg
    check("negative_samples", maxShuffles = 4)
    // edge dedup (checkpoint-hidden) + degree agg + capped wedge self-join
    // + pair-count agg + anti-join + two degree attaches + top-100 sort
    check("link_prediction", maxShuffles = 7)
    // (panel, unit, cat) counts -> unit collect -> posexplode -> (panel,
    // cat) -> panel finisher: the fleiss linear-agg pipeline, no join
    check("krippendorff_alpha", maxShuffles = 4)
    // user-keyed lag window + pair-cell agg + side-explode item agg
    check("copeland_rank", maxShuffles = 3)
    // withGroupRank scaffold (offsets agg + (group, pid) window exchange;
    // range exchange checkpoint-hidden) + m agg + cutoff agg + two
    // group-keyed joins of group-sized frames
    check("bh_select", maxShuffles = 6)
    // ONE source agg (appearing twice pre-reuse: the shares branch and the
    // 1-row total both read it — the mix_plan shape); total is a broadcast
    // BNLJ by construction
    check("temperature_mix", maxShuffles = 2, maxBnlj = 1)
    // k-capped sketch agg + the exact-percentile range scaffold + ONE
    // (group, pct) equi-join of group-sized frames
    check("sketch_error", maxShuffles = 6)
    // the exactPercentiles counts-collapse scaffold for edges + ONE
    // group-sized edge collect + a broadcast edge attach + (group, bin) agg
    check("feature_bins", maxShuffles = 6)
    // explode x32 map-side-combines into ONE (group, rep) exchange; the
    // groups x b mean frame rides the percentile scaffold + point-mean agg
    check("bootstrap_ci", maxShuffles = 7)
    // two per-arm counts-collapse percentile passes + one group-sized join
    check("qte_readout", maxShuffles = 9)
  }

  test("round-14 additions: agreement, calibration, privacy and web audits") {
    // rows agg + two-sided label-union agg + group agg + group-sized join
    check("label_agreement", maxShuffles = 3)
    // ONE linear 4-agg pipeline: (g,subj,cat) counts -> subject collect ->
    // posexplode -> (g,cat) -> g; no join, only the first is row-sized
    check("fleiss_kappa", maxShuffles = 4)
    // ONE (group, bin) agg; the ECE finisher adds the group-sized agg
    check("score_calibration", maxShuffles = 1)
    check("calibration_ece", maxShuffles = 2)
    // two daily CMS rollups (1 agg each) meeting in a deliberate 1-row
    // broadcast cross — the estimate never scans either side's rows
    check("join_size_cms", maxShuffles = 2, maxBnlj = 1)
    // ONE quasi-id count agg + 1-row summary; class frame, never rows
    check("k_anonymity", maxShuffles = 1)
    // (class, sensitive) distinct collapse + class agg
    check("l_diversity", maxShuffles = 2)
    // (det, dep) counts + det-sized modal agg riding a value frame
    check("fd_violations", maxShuffles = 2)
    // type-debut agg (the vocab-sized exchange) + slab aggs; the running
    // window rides the SLAB frame (id_range/bucketSize rows)
    check("vocab_growth", maxShuffles = 3)
    // per-row prefix fan-out into ONE (host, prefix) count agg
    check("path_rollup", maxShuffles = 1)
  }

  test("leakage-safe split: outer join is equi, split is per-row") {
    // the cluster ITERATION hides behind checkpoints (audited under
    // dup_clusters); what the final plan must show is docs equi-joined to
    // the checkpointed labels plus per-row hash math — never a cartesian,
    // never a shuffle beyond the one join
    check("leakage_safe_split", maxShuffles = 2, maxSmj = 1)
  }

  test("round-17 capstone: release manifest assembly over materialized stages") {
    // every chain stage (url/exact/near dedup, quality, decontaminate,
    // mix, pack, shuffle) hides behind its own checkpoint and is pinned by
    // its own battery row; each barrier's job observes the stage's
    // manifest numbers, so the VISIBLE plan is the driver-built manifest
    // alone: one LocalTableScan, no exchange, no join (final plans in
    // plans/observed_manifest/; the lazy-aggregate assembly pinned here
    // before had up to 8 and 9 exchanges and 2 SMJs)
    check("release_manifest", maxShuffles = 0)
    // the incremental twin sums the per-day stats rows with one collect
    // inside the cut, before the manifest is built — the same local scan.
    // A local scan has no exchange to count: ReleaseManifestSpec pins the
    // jobs Release.build and IncrementalRelease.cut run instead
    check("release_manifest_incr", maxShuffles = 0)
  }

  test("round-19 block-density control: capped edit join and capped damerau blocking") {
    // hot-key agg + broadcast anti-join route the cold rows; ONE candidate
    // equi-join + the pair distinct; verify per-row — and still no
    // cartesian even though the corpus deliberately saturates a block
    check("edit_capped_join", maxShuffles = 6)
    // build-side rank cap (one block-keyed window sort) + the block
    // equi-join; the DP is per-row codegen
    check("damerau_pairs", maxShuffles = 3)
  }

  test("round-19 optimization pins: kernels in the hot paths, no object-agg q21") {
    def plan(name: String): String = {
      val fn = Queries.all.collectFirst { case (`name`, f, _) => f }
        .getOrElse(fail(s"unknown query $name"))
      fn(spark, sfDir).queryExecution.executedPlan.toString
    }
    // q21: two codegen HashAggregates, never the ObjectHashAggregate +
    // distinct-Expand the countDistinct+collect_list form planned as
    val q21 = plan("q21_sole_blame")
    withClue(q21) {
      "ObjectHashAggregate".r.findAllIn(q21).size shouldBe 0
      "\\bExpand\\b".r.findAllIn(q21).size shouldBe 0
    }
    // the int8 ANN tier rides the one-pass kernel, not the interpreted
    // three-lambda quantize/dequantize chain
    plan("ann_quantized_topk") should include("int8_roundtrip")
    // languageId scores profiles through the single-pass kernel
    plan("mcnemar_test") should include("stopword_scores")
    // tokens() is the codegen kernel at its explode sites
    plan("bm25_topk") should include("tokenize_text")
  }
}
