package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Keyword-retrieval scoring over a document corpus — the "find the docs
 * about X" primitive a curation team runs constantly (inspect a topic,
 * pull ablation slices, spot-check a filter's victims) without an
 * embedding model in sight.
 *
 * All scores are exact fixed-point integer arithmetic (DECIMAL(38,0)
 * cross-multiplies, integer `DIV`), so rankings are a pure function of
 * the corpus and reproduce digit-for-digit on any engine — the library's
 * standard determinism contract (SURVEY.md §6).
 */
object Retrieval {

  /**
   * BM25-style top-`k` documents per query (Robertson-Sparck Jones /
   * Okapi BM25, the public formulation) with one deliberate,
   * cross-engine-exactness-driven substitution: the idf is the raw RSJ
   * odds ratio `(N - df + 0.5) / (df + 0.5)` in exact fixed-point
   * (x1e6), NOT its logarithm (no libm in the determinism contract — the
   * same substitution [[TextAnalysis.tfidfTopTerms]] makes). The odds
   * ratio is a monotone transform of the classic idf, so single-term
   * rankings are identical; multi-term sums weight rare terms more
   * sharply than log-BM25 would — documented behavior, not an
   * approximation error.
   *
   * Per term: `score = idf_x1e6 * tf * (k1+1) * T DIV
   * (tf * T + k1 * ((1-b) * T + b * dl * N))` — the classic saturating
   * tf with length normalization, cross-multiplied by `T` (total corpus
   * tokens) so `avgdl = T/N` never divides early; `k1`/`b` arrive as
   * integer tenths/hundredths. Per-term scores floor before the per-doc
   * sum (deterministic, like the typicality family). Intermediates ride
   * DECIMAL(38,0): at web scale (N ~ 1e10 docs, T ~ 1e13 tokens) the
   * largest product is ~1e35 — inside DECIMAL(38) headroom.
   *
   * Plan shape: the corpus tokenizes ONCE into an array column; terms
   * explode off it and tf aggregates AFTER a broadcast semi-join to the
   * query vocabulary (queries are human-sized), so the aggregation only
   * ever sees query-term rows; df DERIVES from the tf frame (rows per
   * term there), so both consumers share the one corpus-explode exchange
   * subtree (AQE reuses it) instead of scanning the corpus twice — the
   * change that took the battery query 4.5 s -> 1.3 s; the 1-row corpus
   * stats frame broadcasts; the final top-k is [[TopK.ranked]] per query
   * (k-capped map-side partials) — never a corpus-wide window.
   *
   * Output: `(query_id, doc_id, score_fp, rank)`, `score_fp` the x1e6
   * fixed-point BM25-style score, rank 1-based by `(score desc, doc)`.
   */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int = 10,
      k1X10: Int = 12,
      bX100: Int = 75): DataFrame =
    bm25TopKFromBase(
      queryTermBase(docs, idCol, textCol, queries, queryIdCol, queryTextCol),
      k, k1X10, bX100)

  /**
   * The corpus-side subtrees [[bm25TopK]] and the percolate-style match
   * count share: the once-tokenized corpus, the broadcast query-term
   * frame, and the per-(doc, term) `tf` frame restricted to the query
   * vocabulary. A query that needs BOTH a BM25 run and a term-overlap
   * view (`rrf_fusion`'s second ranker, `retrieval_eval`'s conjunctive
   * qrels) builds the base ONCE and derives each from the same `tf`
   * exchange subtree — Spark's exchange reuse then tokenizes and explodes
   * the corpus once per query instead of once per consumer (round 20;
   * guide §2.4 — two operations keyed the same way share one exchange).
   */
  final case class QueryTermBase(tokened: DataFrame, qterms: DataFrame, tf: DataFrame)

  /** Build the [[QueryTermBase]] for a corpus + query set — the shared
    * front half of [[bm25TopK]], split out verbatim (round 20). */
  def queryTermBase(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String): QueryTermBase = {
    // tokenize ONCE into an array column; explode and stats read the array
    val tokened = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val terms = tokened.select(col("doc_id"), explode(col("__toks")).as("term"),
      size(col("__toks")).cast("long").as("dl"))
    val qterms = broadcast(queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as("term")))
    // only query-vocabulary terms survive into the tf aggregation, and df
    // DERIVES from the tf frame (df = rows per term there) — the corpus
    // explode feeds ONE exchange subtree, which AQE reuses for both
    // consumers instead of re-scanning the corpus
    val qdocTerms = terms.join(broadcast(qterms.select("term").distinct()), "term")
    val tf = qdocTerms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    QueryTermBase(tokened, qterms, tf)
  }

  /** The scoring back half of [[bm25TopK]] over a prebuilt
    * [[QueryTermBase]] — identical arithmetic, split out verbatim. */
  def bm25TopKFromBase(
      base: QueryTermBase,
      k: Int = 10,
      k1X10: Int = 12,
      bX100: Int = 75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1X10 >= 0, s"k1X10 must be >= 0, got $k1X10")
    require(bX100 >= 0 && bX100 <= 100, s"bX100 must be in [0,100], got $bX100")
    val QueryTermBase(tokened, qterms, tf) = base
    // stats: one row (N docs, T tokens), broadcast everywhere
    val stats = broadcast(tokened.agg(
      count(lit(1)).as("__n"),
      sum(size(col("__toks"))).cast("long").as("__t")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val termScore = tf.join(broadcast(dfreq), "term").join(qterms, "term")
      .join(stats)
      .withColumn("__idf",
        expr("CAST(((__n - df) * 2 + 1) AS DECIMAL(38,0)) * 1000000 DIV (2 * df + 1)"))
      .withColumn("__s", expr(
        s"""CAST(CAST(__idf AS DECIMAL(38,0)) * tf * ${(k1X10 + 10) * 100} * __t DIV
            (CAST(1000 AS DECIMAL(38,0)) * tf * __t +
             $k1X10 * (CAST(${100 - bX100} AS DECIMAL(38,0)) * __t + $bX100 * dl * __n))
            AS BIGINT)"""))
    val scored = termScore.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__s")).as("score_fp"))
    byScore(scored, "score_fp", Seq("doc_id", "score_fp"), k)
  }

  /** The top-`k` docs per query by `(scoreCol DESC, doc_id)` ([[TopK.ranked]]),
    * as `(query_id, carry..., rank)` with a BIGINT rank. */
  private def byScore(scored: DataFrame, scoreCol: String, carry: Seq[String], k: Int): DataFrame =
    TopK.ranked(scored, Seq("query_id"), Seq(col(scoreCol).desc, col("doc_id")), carry, k)
      .withColumn("rank", col("rank").cast("long"))

  /**
   * Percolation — reverse search: match every document against a
   * REGISTERED set of keyword queries (topic routing, corpus alerting,
   * "tell me when crawl batches mention X"). A document matches a query
   * when at least `minMatchPct`% of the query's distinct terms occur in
   * it (100 = all terms, the AND semantics; 50 = half, the
   * minimum-should-match relaxation).
   *
   * The query set broadcasts (it is human-curated-sized); per document
   * the work is one distinct-term explode, a broadcast equi-join and one
   * `(doc, query)` count — a single data-sized exchange, no scoring
   * state. The companion of [[bm25TopK]]: that ranks a corpus for one
   * ad-hoc query, this streams a corpus past many standing ones.
   *
   * Output: `(doc_id, query_id, n_matched, n_terms)` for matching pairs.
   */
  def percolate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      minMatchPct: Int = 100): DataFrame = {
    require(minMatchPct >= 1 && minMatchPct <= 100,
      s"minMatchPct must be in [1,100], got $minMatchPct")
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol)))).as("term"))
    val qsizes = qterms.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
    val docTerms = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("term"))
    docTerms.join(broadcast(qterms), "term")
      .groupBy(col("doc_id"), col("query_id"))
      .agg(count(lit(1)).as("n_matched"))
      .join(broadcast(qsizes), "query_id")
      .where(col("n_matched") * 100 >= col("n_terms") * minMatchPct)
      .select(col("doc_id"), col("query_id"), col("n_matched"), col("n_terms"))
  }

  /**
   * [[percolate]]'s match-count law derived from a [[QueryTermBase]]
   * instead of a second corpus pass: the base's `tf` frame already holds
   * exactly one row per (doc, query-vocabulary term) the doc contains, so
   * joining it to the per-query term list and counting per (doc, query)
   * yields the identical `n_matched` — without re-tokenizing, re-exploding
   * or re-shuffling the corpus (RetrievalSpec pins the equivalence; the
   * `rrf_fusion` / `retrieval_eval` oracle hashes pin it end-to-end).
   * Output shape matches [[percolate]]:
   * `(doc_id, query_id, n_matched, n_terms)`.
   */
  def matchCountsFromBase(base: QueryTermBase, minMatchPct: Int = 100): DataFrame = {
    require(minMatchPct >= 1 && minMatchPct <= 100,
      s"minMatchPct must be in [1,100], got $minMatchPct")
    val qsizes = base.qterms.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
    base.tf.select(col("doc_id"), col("term"))
      .join(broadcast(base.qterms), "term")
      .groupBy(col("doc_id"), col("query_id"))
      .agg(count(lit(1)).as("n_matched"))
      .join(broadcast(qsizes), "query_id")
      .where(col("n_matched") * 100 >= col("n_terms") * minMatchPct)
      .select(col("doc_id"), col("query_id"), col("n_matched"), col("n_terms"))
  }

  /**
   * Inverted index: `(term, df, postings)` per corpus term — `df` the
   * EXACT document frequency, `postings` the `maxPostings` SMALLEST doc
   * ids containing the term, ascending. The posting cap rides the bounded
   * `collect_bottom_k` aggregate behind [[TopK.ranked]] (map-side
   * k-capped partials — a hot stopword's postings never materialize
   * beyond `maxPostings` per partition, so the term row stays bounded
   * however large the corpus; `df` is a plain count and stays exact).
   * Smallest-ids is a deterministic, partitioning-independent cap rule —
   * re-building the index on a reshuffled corpus yields byte-identical
   * rows. One distinct + one term-keyed aggregation; the lookup side of
   * [[bm25TopK]] when the corpus is indexed once and queried often.
   */
  def invertedIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int = 1000): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        graft.functions.functions.collect_bottom_k(
          struct(col("doc_id").as("doc_id")), maxPostings).as("__p"))
      .select(col("term"), col("df"),
        transform(col("__p"), p => p.getField("doc_id")).as("postings"))
  }

  /**
   * Turn per-(query, doc) scores into a dense 1-based ranking — top `k`
   * by `(score DESC, doc_id)` per query — via [[TopK.ranked]]'s k-capped
   * partial aggregate, never a corpus-wide window:
   * each partial buffer holds at most `k` candidates per query, so a
   * retriever scoring millions of docs per query shuffles k rows of it.
   * Output: `(query_id, doc_id, rank)`.
   */
  def toRanking(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    byScore(scored, scoreCol, Seq("doc_id"), k)

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009): the
   * standard hybrid-retrieval combiner — each ranker contributes
   * `1/(k0 + rank)` per document, summed across rankers, no score
   * calibration needed (ranks, not scores, so a BM25 ranker and a
   * cosine ranker fuse without comparable units). Computed in exact
   * fixed-point (`1e12 DIV (k0 + rank)`, floored) so the fusion
   * replays digit-for-digit in any engine.
   *
   * Inputs are `(query_id, doc_id, rank)` frames ([[toRanking]] /
   * [[bm25TopK]] output shape). Each input is assumed deduplicated per
   * (query, doc) — rankings are. One union + one (query, doc) sum + the
   * k-capped [[TopK.ranked]] partial per query; the fused lists are
   * human-consumption-sized, so this costs one small shuffle at any
   * corpus scale.
   *
   * Output: `(query_id, doc_id, rrf_fp, n_rankers, rank)` — `rrf_fp` the
   * x1e12 fused score, `n_rankers` how many input rankings carried the
   * doc, rank 1-based by `(rrf_fp DESC, doc_id)`.
   */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.size >= 2, s"fusion needs >= 2 rankings, got ${rankings.size}")
    require(k0 >= 0, s"k0 must be >= 0, got $k0")
    require(k >= 1, s"k must be >= 1, got $k")
    val union = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
      .withColumn("__c", expr(s"1000000000000 DIV ($k0 + rank)"))
    val fused = union.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).as("rrf_fp"), count(lit(1)).as("n_rankers"))
    byScore(fused, "rrf_fp", Seq("doc_id", "rrf_fp", "n_rankers"), k)
  }

  /**
   * EXACT ranking-quality metrics per query — the offline retrieval-eval
   * readout (search regression suites, RAG retriever comparisons): given
   * a ranked RUN (`query_id, doc_id, rank` with ranks 1..k, as
   * [[bm25TopK]]/[[toRanking]]/[[rrfFuse]] emit) and a relevance set
   * QRELS (`query_id, doc_id`, duplicates tolerated), per query:
   *
   *  - `n_results`, `n_rel` (relevance-set size; 0 when the query has no
   *    qrels), `hits` (relevant results retrieved);
   *  - `first_rel_rank` and the reciprocal rank
   *    `rr_ppm = 1e6 DIV first_rel_rank` (null when nothing relevant was
   *    retrieved — average over queries for MRR);
   *  - `p_at_k_ppm = hits·1e6 DIV k` and
   *    `r_at_k_ppm = hits·1e6 DIV n_rel` (null when `n_rel = 0`).
   *
   * Truncated integers only — MRR/P@k/R@k are the RATIONAL core of
   * ranking eval; nDCG's `1/log2(rank+1)` discount is irrational and out
   * of the exactness contract (a caller with fixed k can table scaled
   * discounts and reuse the same join). Queries present in qrels but
   * absent from the run don't appear — count them separately when
   * averaging (their RR/recall is 0 by convention, not null).
   *
   * Plan: qrels dedup + per-query qrel count (both query-keyed,
   * broadcastable — qrels are human-sized), ONE equi-join onto the run,
   * one per-query agg. Nothing scans the corpus; cost is run-sized.
   */
  def rankingMetrics(
      run: DataFrame,
      qrels: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rel = qrels.select(col("query_id"), col("doc_id")).distinct()
      .withColumn("__rel", lit(1L))
    val relCounts = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    run.join(broadcast(rel), Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_results"),
        sum(coalesce(col("__rel"), lit(0L))).as("hits"),
        min(when(col("__rel") === 1L, col("rank"))).cast("long").as("first_rel_rank"))
      .join(broadcast(relCounts), Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel"))
      .withColumn("rr_ppm", expr("CAST(1000000 DIV first_rel_rank AS BIGINT)"))
      .withColumn("p_at_k_ppm", expr(s"CAST(hits * 1000000 DIV $k AS BIGINT)"))
      .withColumn("r_at_k_ppm",
        expr("CAST(CASE WHEN n_rel > 0 THEN hits * 1000000 DIV n_rel END AS BIGINT)"))
      .select(col("query_id"), col("n_results"), col("n_rel"), col("hits"),
        col("first_rel_rank"), col("rr_ppm"), col("p_at_k_ppm"), col("r_at_k_ppm"))
  }

  /**
   * Deterministic negative sampling for contrastive training — for every
   * anchor id, `k` pseudo-random OTHER ids from the same frame, a pure
   * function of the ids (md5 all the way down): the (anchor, positive,
   * negative) triple builder every embedding/reranker training set needs,
   * reproducible across runs, engines and partitionings — no
   * `rand()`, no driver-side sampling.
   *
   * Recipe: every candidate lands in one of `buckets` md5 buckets; each
   * (anchor, j < k) draw targets bucket `md5(anchor:j) % buckets` and
   * takes, among that bucket's candidates ≠ anchor, the one minimizing
   * `md5(anchor:j:cand)` (tie law: then smallest cand — a total order).
   * Distinct draws hit independent buckets, so the k negatives are
   * spread corpus-wide; a draw whose bucket holds only the anchor
   * itself yields no row (starved draw — size `buckets` ≪ corpus so
   * every bucket is populated). Optional `positives` (anchor, cand)
   * pairs are excluded BEFORE the argmin, so a known positive can never
   * be drawn as a negative (the leakage law).
   *
   * Plan: ONE bucket equi-join (anchors×k rows against corpus/buckets-
   * sized buckets — per-anchor work is k·(N/buckets), constant when
   * `buckets` scales with the corpus) + optional positive anti-join +
   * ONE (anchor, j) argmin agg (map-side combined). Never all-pairs; at
   * 100 TB pick buckets ≈ N/64 and the fan-out stays 64·k per anchor.
   */
  def negativeSamples(
      df: DataFrame,
      idCol: String,
      k: Int,
      buckets: Int,
      positives: Option[DataFrame] = None,
      salt: String = "neg"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val ids = df.select(col(idCol).as("anchor")).where(col("anchor").isNotNull)
      .distinct()
    val cands = ids.select(col("anchor").as("cand"))
      .withColumn("__b", TextAnalysis.hashBucket(col("cand"), salt) % buckets)
    val draws = ids
      .withColumn("j", explode(typedLit((0 until k).map(_.toLong))))
      .withColumn("__b",
        TextAnalysis.hashBucket(
          concat(col("anchor").cast("string"), lit(":"), col("j")), salt) % buckets)
    val joined = draws.join(cands, Seq("__b"))
      .where(col("cand") =!= col("anchor"))
    val filtered = positives.fold(joined) { pos =>
      joined.join(
        pos.select(col(pos.columns(0)).as("anchor"), col(pos.columns(1)).as("cand"))
          .distinct(),
        Seq("anchor", "cand"), "left_anti")
    }
    filtered
      .withColumn("__score",
        md5(concat(lit(salt), lit(":"), col("anchor").cast("string"), lit(":"),
          col("j"), lit(":"), col("cand").cast("string"))))
      .groupBy(col("anchor"), col("j"))
      .agg(min(struct(col("__score"), col("cand"))).as("__m"))
      .select(col("anchor"), col("j"), col("__m.cand").as("negative"))
  }

  /**
   * Per-(group, unordered pair) preference cells — the mergeable half of
   * [[copelandRank]]: judgment rows `(itemA, itemB, winner)` (winner null
   * = tie) collapse to canonical `(lo, hi, wins_lo, wins_hi, ties)`
   * counts. Cells from disjoint slices (days, streaming windows) ADD
   * per pair before finishing, so a preference log re-rolls daily →
   * all-time without revisiting judgments — the sketch-family shape,
   * and exactly what an RLHF preference pipeline accumulates.
   *
   * Rows where both sides are the same item, or either item is null, are
   * dropped; a winner that matches neither item counts as a tie (a
   * malformed judgment should not silently become a win).
   */
  def preferenceCells(
      df: DataFrame,
      groupCols: Seq[String],
      itemACol: String,
      itemBCol: String,
      winnerCol: String): DataFrame = {
    val g = groupCols.map(col)
    df.where(col(itemACol).isNotNull && col(itemBCol).isNotNull &&
        col(itemACol) =!= col(itemBCol))
      .select((g :+
        least(col(itemACol), col(itemBCol)).as("lo") :+
        greatest(col(itemACol), col(itemBCol)).as("hi") :+
        col(winnerCol).as("__w")): _*)
      .groupBy((g :+ col("lo") :+ col("hi")): _*)
      .agg(
        sum(when(col("__w") === col("lo"), 1L).otherwise(0L)).as("wins_lo"),
        sum(when(col("__w") === col("hi"), 1L).otherwise(0L)).as("wins_hi"),
        sum(when(col("__w").isNull || (col("__w") =!= col("lo") && col("__w") =!= col("hi")),
          1L).otherwise(0L)).as("ties"))
  }

  /**
   * Copeland ranking from [[preferenceCells]] — the voting-theory rank
   * aggregation over pairwise preferences (Copeland 1951, public
   * formulation): an item scores a point for every opponent it beats on
   * majority and half a point for every exact pairwise tie. Unlike
   * Elo/Bradley–Terry it needs no iteration and no real-valued strength —
   * the score is a pure INTEGER function of the win/loss cells, so model
   * leaderboards built from preference judgments replay digit-for-digit
   * in any engine.
   *
   * Carried DOUBLED (`copeland2` = 2·wins + ties over opponents) so the
   * half-points stay integral — the [[graft.ops.Drift.mannWhitney]]
   * doubled-midrank discipline. Output per (group, item):
   * `n_opponents, beats, pair_ties, losses, copeland2`.
   *
   * Shape: cells are pair-sized (never judgment-sized); the finisher
   * explodes each cell to its two sides and runs ONE item-keyed agg.
   */
  def copelandFromCells(cells: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val sides = cells.select((g :+ posexplode(array(
        struct(col("lo").as("item"), col("wins_lo").as("w"), col("wins_hi").as("l")),
        struct(col("hi").as("item"), col("wins_hi").as("w"), col("wins_lo").as("l"))))
          .as(Seq("__p", "__s"))): _*)
    sides
      .select((g :+ col("__s.item").as("item") :+
        when(col("__s.w") > col("__s.l"), 1L).otherwise(0L).as("__beat") :+
        when(col("__s.w") === col("__s.l"), 1L).otherwise(0L).as("__tie")): _*)
      .groupBy((g :+ col("item")): _*)
      .agg(count(lit(1)).as("n_opponents"),
        sum(col("__beat")).as("beats"),
        sum(col("__tie")).as("pair_ties"),
        (count(lit(1)) - sum(col("__beat")) - sum(col("__tie"))).as("losses"),
        (sum(col("__beat")) * 2 + sum(col("__tie"))).as("copeland2"))
  }

  /** [[preferenceCells]] + [[copelandFromCells]] in one call. */
  def copelandRank(
      df: DataFrame,
      groupCols: Seq[String],
      itemACol: String,
      itemBCol: String,
      winnerCol: String): DataFrame =
    copelandFromCells(
      preferenceCells(df, groupCols, itemACol, itemBCol, winnerCol), groupCols)
}
