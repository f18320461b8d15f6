package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Stage
import graft.io.{HdfsUrl, Warehouse, WarehouseTable}
import graft.ops.{Bpe, Dedup, Joins, Multimodal, Similarity, TextAnalysis, Web}
import graft.time.Day

/**
 * Overlap joins, funnels, corpus stats, the ANN family, multimodal
 * columns, chunking, semantic dedup, packing and sampling.
 *
 * One battery family of [[Queries]] — split out for maintainability; the
 * query set and every definition are unchanged.
 */
private[graft] trait QueriesAnnCorpus extends QueryHelpers { this: QueryBattery =>
  /**
   * Interval overlap join: 14-day activity windows of one customer slice
   * against another's, via [[Joins.intervalOverlapJoin]] (bucket explode +
   * equi-join, each pair emitted in its first common bucket — never a
   * nested loop). Oracle is the plain inequality join.
   */
  def overlapJoinPairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    def days(c: Column) = datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")
    val o = t(dir, "orders")
    val a = o.filter(col("o_custkey") <= 2)
      .select(col("o_orderkey").as("key_a"), days(col("o_orderdate")).as("lo_a"),
        (days(col("o_orderdate")) + 14).as("hi_a"))
    val b = o.filter(col("o_custkey").between(3, 6))
      .select(col("o_orderkey").as("key_b"), days(col("o_orderdate")).as("lo_b"),
        (days(col("o_orderdate")) + 14).as("hi_b"))
    Joins.intervalOverlapJoin(a, b, "lo_a", "hi_a", "lo_b", "hi_b", bucketWidth = 14)
      .select(col("key_a"), col("key_b"))
  }

  val overlapJoinPairsSql: String =
    s"""WITH a AS (
         SELECT o_orderkey AS key_a,
                datediff('day', DATE '1970-01-01', cast(o_orderdate as date)) AS lo
         FROM orders WHERE o_custkey <= 2),
       b AS (
         SELECT o_orderkey AS key_b,
                datediff('day', DATE '1970-01-01', cast(o_orderdate as date)) AS lo2
         FROM orders WHERE o_custkey BETWEEN 3 AND 6)
       SELECT key_a, key_b FROM a, b WHERE lo < lo2 + 14 AND lo2 < lo + 14"""

  /**
   * Conversion funnel view -> click -> purchase over the first two event
   * days (the full month is degenerate — every user eventually completes;
   * the cutoff makes per-user truncated histories differ, so the
   * strictly-after chaining is actually exercised).
   */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    ops.Funnels.funnelCounts(
      events(dir).filter(col("ts") < lit("2024-01-03").cast("timestamp")),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
  }

  val funnelStepsSql: String =
    s"""WITH e AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'),
       t1 AS (
         SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
       t2 AS (
         SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN t1 ON e.user_id = t1.user_id
         WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
       t3 AS (
         SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN t2 ON e.user_id = t2.user_id
         WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
       SELECT steps_reached, count(*) AS n_users FROM (
         SELECT t1.user_id,
                1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS steps_reached
         FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
                 LEFT JOIN t3 ON t1.user_id = t3.user_id)
       GROUP BY steps_reached"""

  /**
   * `funnel_window`: the same view -> click -> purchase funnel TIME-BOUNDED
   * ([[ops.Funnels.funnel]] with `maxGap`): each step counts only within 12
   * hours of the first qualifying occurrence of the previous step. At this
   * bound the histogram genuinely differs from `funnel_steps` (70/18/4 vs
   * 51/20/21 users at sf0.01) — slow converters demote, so the window
   * predicate is actually exercised, not decorative.
   */
  def funnelWindow(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    ops.Funnels.funnelCounts(
      events(dir).filter(col("ts") < lit("2024-01-03").cast("timestamp")),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
      maxGap = Some(expr("INTERVAL 12 HOURS")))
  }

  val funnelWindowSql: String =
    s"""WITH e AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'),
       t1 AS (
         SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
       t2 AS (
         SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN t1 ON e.user_id = t1.user_id
         WHERE e.event_type = 'click' AND e.ts > t1.t1
           AND e.ts <= t1.t1 + INTERVAL '12' HOUR GROUP BY 1),
       t3 AS (
         SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN t2 ON e.user_id = t2.user_id
         WHERE e.event_type = 'purchase' AND e.ts > t2.t2
           AND e.ts <= t2.t2 + INTERVAL '12' HOUR GROUP BY 1)
       SELECT steps_reached, count(*) AS n_users FROM (
         SELECT t1.user_id,
                1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS steps_reached
         FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
                 LEFT JOIN t3 ON t1.user_id = t3.user_id)
       GROUP BY steps_reached"""

  /** Corpus vocabulary statistics (hapax share as exact integer ppm). */
  def vocabStats(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.vocabStats(t(dir, "documents"), "text")
  }

  val vocabStatsSql: String =
    s"""SELECT cast(sum(n) as bigint) AS n_tokens,
              count(*) AS n_terms,
              cast(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) as bigint) AS hapax_terms,
              cast((sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000) // count(*) as bigint) AS hapax_ppm
       FROM (SELECT t, count(*) AS n
             FROM (SELECT unnest(toks) AS t FROM (SELECT $Toks AS toks FROM documents))
             GROUP BY t)"""

  /** Gopher n-gram repetition signals (top/dup 2-gram token fractions). */
  def ngramRepetition(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.ngramRepetition(t(dir, "documents"), "doc_id", "text", n = 2)
  }

  val ngramRepetitionSql: String =
    s"""WITH toks AS (SELECT doc_id, $Toks AS toks FROM documents),
       grams AS (
         SELECT doc_id,
                unnest(CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
                       ELSE []::VARCHAR[] END) AS gram
         FROM toks),
       per AS (SELECT doc_id, gram, count(*) AS cnt
               FROM grams GROUP BY doc_id, gram),
       stats AS (SELECT doc_id,
              round(max(cnt) * 2 / cast(sum(cnt) + 1 as double), 4) AS top_ngram_frac,
              round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 2 / cast(sum(cnt) + 1 as double), 4) AS dup_ngram_frac
              FROM per GROUP BY doc_id)
       SELECT d.doc_id, coalesce(top_ngram_frac, 0.0) AS top_ngram_frac,
              coalesce(dup_ngram_frac, 0.0) AS dup_ngram_frac
       FROM documents d LEFT JOIN stats USING (doc_id)"""

  /** Training-mix report per (source, lang): counts + exact ppm token share. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents").select(col("source"), col("lang"),
      TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("n_tok"))
    TextAnalysis.mixReport(docs, Seq("source", "lang"), "n_tok")
  }

  val corpusMixSql: String =
    raw"""WITH d AS (
         SELECT source, lang,
                cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) as bigint) AS n_tok
         FROM documents)
       SELECT source, lang, count(*) AS n_docs, cast(sum(n_tok) as bigint) AS n_tokens,
              cast((sum(n_tok) * 1000000) // (SELECT sum(n_tok) FROM d) as bigint) AS share_ppm
       FROM d GROUP BY source, lang"""

  /** Full + rolling-window document fingerprints. */
  def docFingerprints(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "documents").select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.rollingFingerprint(col("text")).as("rolling_fp"))
  }

  val docFingerprintsSql: String =
    s"""SELECT doc_id, md5($Norm) AS fp,
       list_min(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
                i -> md5(array_to_string(toks[i:i+4], ' ')))) AS rolling_fp
       FROM (SELECT doc_id, text, $Toks AS toks FROM documents)"""

  /** Exact cosine top-k: broadcast query set, no corpus shuffle. */
  def annBruteforceTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val emb = t(dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 5)
  }

  val annBruteforceTopKSql: String =
    s"""SELECT query_id, neighbor_id, cosine, rank FROM (
       SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    $SqlCos AS cosine
             FROM (SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id < 5) q,
                  (SELECT vec_id, embedding AS nv FROM embeddings) c
             WHERE q.vec_id <> c.vec_id))
       WHERE rank <= 5"""

  /**
   * `hashed_tf_topk`: the no-embedding-model similarity path — hashing-
   * trick TF vectors ([[TextAnalysis.hashedTfVector]], 64 dims) straight
   * off document text, then the same bounded-partial brute-force cosine
   * top-k as `ann_bruteforce_topk`. Oracle rebuilds the md5-dimension
   * vectors with hex-digit arithmetic and replays the identical cosine
   * and rank in DuckDB.
   *
   * The query sample is FIXED-SIZE (`doc_id % 97 == 0 AND doc_id < 4900`,
   * the `annRecall` discipline: a broadcastable query set, the corpus scan
   * unchanged) — an unbounded `% 97` predicate scales the query count with
   * the corpus and turns the brute-force baseline quadratic at a real
   * decade (round 18 measured 42.9x on 10x data) while its ANN variants
   * stay sub-linear; a benchmark baseline must scale like its challengers.
   */
  def hashedTfTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // the library operator owns the featurize-once barrier (local here;
    // reliable under spark.checkpoint.dir) and the token-free-doc filter
    Similarity.hashedTfTopK(t(dir, "documents"), "doc_id", "text",
      isQuery = col("doc_id") % 97 === 0 && col("doc_id") < 4900,
      dims = 64, k = 5)
  }

  val hashedTfTopKSql: String = {
    def digit(i: Int) = s"(strpos('0123456789abcdef', substring(md5(t), $i, 1)) - 1)"
    val dim = s"((((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)}) % 64)"
    s"""WITH dimtoks AS (
         SELECT doc_id, list_transform($Toks, t -> $dim) AS ds FROM documents
         WHERE len($Toks) > 0),
       vecs AS (
         SELECT doc_id,
           list_transform(range(0, 64), d ->
             cast(coalesce(list_sum(list_transform(ds, x -> CASE WHEN x = d THEN 1 ELSE 0 END)), 0) as double)) AS v
         FROM dimtoks)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                      $SqlCos AS cosine
               FROM (SELECT doc_id, v AS qv FROM vecs
                     WHERE doc_id % 97 = 0 AND doc_id < 4900) q,
                    (SELECT doc_id, v AS nv FROM vecs) c
               WHERE q.doc_id <> c.doc_id))
       WHERE rank <= 5"""
  }

  /**
   * `ann_quantized_topk`: brute-force cosine top-k over INT8-quantized
   * embeddings ([[Similarity.quantizeInt8]] → dequantize → the same
   * bounded-partial top-k) — the 4x-smaller-memory ANN tier. Quantization
   * uses half-up `floor(x + 0.5)` codes and a shared double scale, so the
   * oracle replays every code and every dequantized product bit-for-bit;
   * the hash match proves the whole quantize→dequantize→rank path is
   * engine-exact, not just approximately close.
   */
  def annQuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val emb = t(dir, "embeddings").select(col("vec_id"),
      Similarity.int8RoundtripVec(col("embedding")).as("qvec"))
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "qvec", k = 5)
  }

  val annQuantizedTopKSql: String = {
    val scale = "(list_max(list_transform(embedding, v -> abs(cast(v as double)))) / 127.0)"
    val qvec = s"""CASE WHEN $scale = 0
         THEN list_transform(embedding, v -> cast(0 as double))
         ELSE list_transform(embedding, v -> cast(floor(cast(v as double) / $scale + 0.5) as int) * $scale) END"""
    s"""WITH vecs AS (SELECT vec_id, $qvec AS v FROM embeddings)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      $SqlCos AS cosine
               FROM (SELECT vec_id, v AS qv FROM vecs WHERE vec_id < 5) q,
                    (SELECT vec_id, v AS nv FROM vecs) c
               WHERE q.vec_id <> c.vec_id))
       WHERE rank <= 5"""
  }

  /** Random-hyperplane LSH bucket histogram (the ANN scale path). */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Similarity.withLshBucket(t(dir, "embeddings"), "embedding", nbits = 8)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
  }

  private[graft] def sqlLshBucket(vec: String, nbits: Int = 8): String =
    (0 until nbits).map { i =>
      s"(CASE WHEN list_sum(list_transform(range(0, len($vec)), d -> cast($vec[d + 1] as double) * cast((($i * 31 + d * 17) % 7) - 3 as double))) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  val annLshBucketsSql: String =
    s"""SELECT bucket, count(*) AS n FROM (
       SELECT cast(${sqlLshBucket("embedding")} as bigint) AS bucket FROM embeddings)
       GROUP BY bucket"""

  /** Twin of [[Similarity.signSketchComposed]]: double-modulus hyperplane family. */
  private[graft] def sqlSignSketch(vec: String, nbits: Int = 48): String =
    (0 until nbits).map { i =>
      s"(CASE WHEN list_sum(list_transform(range(0, len($vec)), d -> cast($vec[d + 1] as double) * cast((($i * 37 + d * 11) % 101) % 7 - 3 as double))) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /**
   * Quantized ANN: 48-bit sign-sketch Hamming scan (8 bytes per corpus row)
   * picks 20 candidates per query, exact cosine reranks. The memory-bound
   * scale path between brute force and LSH bucketing.
   */
  def annHammingTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val emb = t(dir, "embeddings")
    Similarity.hammingTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, nbits = 48, candidates = 20)
  }

  val annHammingTopKSql: String =
    s"""WITH sk AS (
         SELECT vec_id, embedding, cast(${sqlSignSketch("embedding")} as bigint) AS s
         FROM embeddings),
       cand AS (
         SELECT query_id, qv, neighbor_id, hamming,
                row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
         FROM (SELECT q.vec_id AS query_id, q.embedding AS qv, c.vec_id AS neighbor_id,
                      cast(bit_count(xor(q.s, c.s)) as bigint) AS hamming
               FROM (SELECT * FROM sk WHERE vec_id < 5) q, sk c
               WHERE q.vec_id <> c.vec_id)),
       res AS (
         SELECT query_id, neighbor_id, hamming, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM (SELECT query_id, neighbor_id, hamming, $SqlCos AS cosine
               FROM (SELECT query_id, qv, neighbor_id, hamming FROM cand WHERE hr <= 20) x
               JOIN (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings) e
               USING (neighbor_id)))
       SELECT query_id, neighbor_id, hamming, cosine, rank FROM res WHERE rank <= 5"""

  /** Component `i` of the deterministic 8-dim random projection (twin of
    * [[Similarity.randomProject]] — signSketch weight family, value kept). */
  private[graft] def sqlRandomProjComp(vec: String, i: Int): String =
    s"coalesce(list_sum(list_transform(range(0, len($vec)), d -> cast($vec[d + 1] as double) * cast((($i * 37 + d * 11) % 101) % 7 - 3 as double))), 0.0)"

  /**
   * Projection-space ANN ([[Similarity.projectedTopK]]): candidates rank by
   * cosine in the 8-dim deterministic random projection (scan cost an order
   * of magnitude under the full vector at production dims), top 20 rerank
   * by exact full-vector cosine. Every stage is deterministic double math
   * in a fixed fold order, so the whole pass replays in DuckDB.
   */
  def annProjectedTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val emb = t(dir, "embeddings")
    Similarity.projectedTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, projDims = 8, candidates = 20)
  }

  val annProjectedTopKSql: String = {
    val p = "[" + (0 until 8).map(i => sqlRandomProjComp("embedding", i)).mkString(", ") + "]"
    s"""WITH pr AS (
         SELECT vec_id, embedding, $p AS p FROM embeddings),
       cand AS (
         SELECT query_id, fullq, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS prank
         FROM (SELECT q.vec_id AS query_id, q.embedding AS fullq, c.vec_id AS neighbor_id,
                      $SqlCos AS pcos
               FROM (SELECT vec_id, embedding, p AS qv FROM pr WHERE vec_id < 5) q,
                    (SELECT vec_id, p AS nv FROM pr) c
               WHERE q.vec_id <> c.vec_id)),
       res AS (
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM (SELECT query_id, neighbor_id, $SqlCos AS cosine
               FROM (SELECT query_id, fullq AS qv, neighbor_id FROM cand WHERE prank <= 20) x
               JOIN (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings) e
               USING (neighbor_id)))
       SELECT query_id, neighbor_id, cosine, rank FROM res WHERE rank <= 5"""
  }

  /**
   * Embedding-cosine near-duplicates within LSH buckets. The testdata
   * embeddings are near-orthogonal random vectors (max pairwise cosine
   * ~0.51), so the "duplicate" bar here is 0.3 with coarse 4-bit buckets —
   * production corpora would use ~0.95 and more bits.
   */
  def embeddingNeardup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(t(dir, "embeddings")(spark), "vec_id", "embedding",
      threshold = 0.3, nbits = 4)

  val embeddingNeardupSql: String =
    s"""WITH bucketed AS (
         SELECT vec_id, embedding, cast(${sqlLshBucket("embedding", 4)} as bigint) AS bucket
         FROM embeddings)
       SELECT DISTINCT id_a, id_b, cosine FROM (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                $SqlCos AS cosine
         FROM (SELECT vec_id, embedding AS qv, bucket FROM bucketed) a
         JOIN (SELECT vec_id, embedding AS nv, bucket FROM bucketed) b USING (bucket)
         WHERE a.vec_id < b.vec_id)
       WHERE cosine >= 0.3"""

  /**
   * IVF ANN: cells + probe-and-rerank. The verified path uses
   * [[Similarity.ivfAssignSeeded]] (deterministic pinned-sample centroids) so
   * the whole index — assignment, probe selection, rerank — replays
   * bit-for-bit in DuckDB; the MLlib k-means training path ([[Similarity.ivfAssign]])
   * is covered by SimilaritySpec's recall>=0.9 check instead (k-means has no
   * SQL twin).
   */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val emb = t(dir, "embeddings")
    val (assigned, centroids) = Similarity.ivfAssignSeeded(emb, "vec_id", "embedding", k = 8)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5), assigned, centroids,
      "vec_id", "embedding", k = 5, nprobe = 2)
  }

  val annIvfTopKSql: String =
    s"""WITH cent AS (
         SELECT rk - 1 AS centroid_id, embedding AS cv FROM (
           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rk FROM embeddings)
         WHERE rk <= 8),
       assigned AS (
         SELECT vec_id, embedding, centroid_id FROM (
           SELECT vec_id, embedding, centroid_id,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
           FROM (SELECT e.vec_id, e.qv AS embedding, c.centroid_id, $SqlCos AS cos
                 FROM (SELECT vec_id, embedding AS qv FROM embeddings) e
                 CROSS JOIN (SELECT centroid_id, cv AS nv FROM cent) c))
         WHERE rn = 1),
       probes AS (
         SELECT query_id, qv, centroid_id FROM (
           SELECT query_id, qv, centroid_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, centroid_id) AS rn
           FROM (SELECT q.vec_id AS query_id, q.qv, c.centroid_id, $SqlCos AS cos
                 FROM (SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id < 5) q
                 CROSS JOIN (SELECT centroid_id, cv AS nv FROM cent) c))
         WHERE rn <= 2),
       cand AS (
         SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.embedding AS nv
         FROM probes p JOIN assigned a USING (centroid_id)
         WHERE p.query_id <> a.vec_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM (SELECT query_id, neighbor_id, $SqlCos AS cosine FROM cand))
       WHERE rank <= 5"""

  /**
   * `ann_recall`: [[Similarity.annRecall]] — recall@5 of the IVF
   * probe-and-rerank run (`ann_ivf_topk`, nprobe=2 of 8 cells) against the
   * exact brute-force ground truth (`ann_bruteforce_topk`), per query:
   * `n_truth`, `hits`, `recall_ppm`. THE measurement that chooses nprobe at
   * 100 TB — run on a broadcastable query sample, the eval join is
   * |queries|·k rows however big the corpus. The oracle composes both
   * already-verified run oracles verbatim (CTE-in-subquery) and replays
   * the set intersection and the truncated division.
   */
  def annRecallQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.annRecall(
      annBruteforceTopK(spark, dir), annIvfTopK(spark, dir))

  val annRecallSql: String =
    s"""SELECT query_id, n_truth, hits,
              CAST(hits * 1000000 // n_truth AS BIGINT) AS recall_ppm
       FROM (
         SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_truth,
                CAST(count(a.neighbor_id) AS BIGINT) AS hits
         FROM ($annBruteforceTopKSql) t
         LEFT JOIN (SELECT DISTINCT query_id, neighbor_id
                    FROM ($annIvfTopKSql)) a
           ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         GROUP BY t.query_id)"""

  /** Multimodal: opaque binary payloads + SQL-side metadata. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val payload = encode(col("text"), "UTF-8")
    val meta = Multimodal.payloadMeta(payload).map { case (n, c) => c.as(n) }
    t(dir, "documents").select(col("doc_id") +: meta: _*)
  }

  val multimodalMetaSql: String =
    """SELECT doc_id, cast(octet_length(encode(text)) as bigint) AS byte_len, md5(text) AS checksum
       FROM documents"""

  /**
   * Deterministic frame-sampling offsets over binary payloads. The offsets
   * surface as a comma-joined string: the driver's pandas-side compare sorts
   * result columns, and raw array cells are unsortable there (round 2's only
   * broken check) — the list itself is still computed and verified.
   */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val off = Multimodal.sampleOffsets(encode(col("text"), "UTF-8"), 4)
    t(dir, "documents").select(col("doc_id"),
      array_join(transform(off, _.cast("string")), ",").as("offsets"))
  }

  val multimodalFramesSql: String =
    """SELECT doc_id,
       array_to_string(list_transform(range(0, 4),
         i -> cast(i * cast(octet_length(encode(text)) as bigint) // 4 as varchar)), ',') AS offsets
       FROM documents"""

  /**
   * Fixed-size overlapping document chunks (pre-embedding/training step);
   * chunk text surfaces as length + md5 so the compare stays narrow.
   */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.chunkDocuments(t(dir, "documents"), "doc_id", "text",
      chunkChars = 200, overlap = 20)
      .select(col("doc_id"), col("chunk_id"),
        length(col("chunk_text")).cast("long").as("chunk_len"),
        md5(col("chunk_text")).as("chunk_fp"))
  }

  val chunkDocumentsSql: String =
    """SELECT doc_id, chunk_id,
       cast(length(substring(text, cast(chunk_id * 180 + 1 as int), 200)) as bigint) AS chunk_len,
       md5(substring(text, cast(chunk_id * 180 + 1 as int), 200)) AS chunk_fp
       FROM (SELECT doc_id, text,
               unnest(range(0, greatest((length(text) - 20 + 179) // 180, 1))) AS chunk_id
             FROM documents)"""

  /**
   * Gopher-style intra-document repetition stats (duplicate-line and
   * duplicate-character fractions) — exact rational math both sides.
   */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.repetitionStats(t(dir, "documents"), "doc_id", "text")
  }

  val docRepetitionSql: String =
    raw"""WITH lines AS (
         SELECT doc_id, lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS nl
         FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents)
         WHERE lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) <> ''),
       per AS (
         SELECT doc_id, nl, count(*) AS n, length(nl) AS len
         FROM lines GROUP BY doc_id, nl)
       SELECT doc_id, cast(sum(n) as bigint) AS n_lines,
              round((sum(n) - count(*)) / cast(sum(n) as double), 4) AS dup_line_frac,
              round(sum(CASE WHEN n > 1 THEN n * len ELSE 0 END) / cast(sum(n * len) as double), 4) AS dup_char_frac
       FROM per GROUP BY doc_id"""

  /**
   * Per-document top-3 terms by the exact rational tf-idf weight
   * `tf * n_docs / df` (no `ln`: libm-dependent, not engine-portable;
   * identical top-k ranking within a document).
   */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.tfidfTopTerms(t(dir, "documents"), "doc_id", "text", k = 3)
  }

  val tfidfTopTermsSql: String =
    s"""WITH terms AS (
         SELECT doc_id, unnest($Toks) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
       dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
       nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
       SELECT doc_id, term, tf, df, score, rank FROM (
         SELECT doc_id, term, tf, df,
                round(tf * n_docs / cast(df as double), 6) AS score,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY round(tf * n_docs / cast(df as double), 6) DESC, term) AS rank
         FROM tf JOIN dfreq USING (term), nd)
       WHERE rank <= 3"""

  /**
   * SemDeDup-style semantic dedup over the deterministic IVF cells: keep the
   * smallest-id member of every within-cell duplicate set (cosine >= 0.3 —
   * the testdata vectors are near-orthogonal, production uses ~0.95).
   */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Similarity.semanticDedup(t(dir, "embeddings"), "vec_id", "embedding", k = 8, threshold = 0.3)
      .select(col("vec_id"), col("label"))
  }

  val semanticDedupSql: String =
    s"""WITH cent AS (
         SELECT rk - 1 AS centroid_id, embedding AS cv FROM (
           SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rk FROM embeddings)
         WHERE rk <= 8),
       assigned AS (
         SELECT vec_id, embedding, centroid_id FROM (
           SELECT vec_id, embedding, centroid_id,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
           FROM (SELECT e.vec_id, e.qv AS embedding, c.centroid_id, $SqlCos AS cos
                 FROM (SELECT vec_id, embedding AS qv FROM embeddings) e
                 CROSS JOIN (SELECT centroid_id, cv AS nv FROM cent) c))
         WHERE rn = 1),
       dropped AS (
         SELECT DISTINCT b.vec_id
         FROM (SELECT centroid_id, vec_id, embedding AS nv FROM assigned) b
         JOIN (SELECT centroid_id, vec_id AS id_a, embedding AS qv FROM assigned) a
           USING (centroid_id)
         WHERE a.id_a < b.vec_id AND $SqlCos >= 0.3)
       SELECT vec_id, label FROM embeddings
       WHERE vec_id NOT IN (SELECT vec_id FROM dropped)"""

  /**
   * Context-window sequence packing: per-source running token totals assign
   * each document a chunk id under a 512-token budget. One window shuffle on
   * `source`; groups pack independently at any scale.
   */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents").select(col("doc_id"), col("source"),
      TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_tokens"))
    TextAnalysis.packSequences(docs, "source", "doc_id", "n_tokens", contextLen = 512)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("chunk_id"))
  }

  val packSequencesSql: String =
    raw"""SELECT doc_id, source, n_tokens,
       cast((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 512 as bigint) AS chunk_id
       FROM (SELECT doc_id, source,
               cast(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) as bigint) AS n_tokens
             FROM documents)"""

  /**
   * Deterministic per-language stratified sampling (training-mix
   * re-weighting): hash-bucket keep decision, exact integer compare — same
   * rows survive on any engine, any partitioning.
   */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val rates = Map("en" -> 60, "de" -> 40, "fr" -> 40, "es" -> 20, "zh" -> 10)
    t(dir, "documents")
      .filter(TextAnalysis.stratifiedKeep(col("doc_id"), col("lang"), rates))
      .select(col("doc_id"), col("lang"))
  }

  val stratifiedSampleSql: String = {
    val bucket = sqlHashBucket("doc_id")
    s"""SELECT doc_id, lang FROM documents
       WHERE $bucket * 100 < (CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 40 WHEN 'fr' THEN 40
                                        WHEN 'es' THEN 20 WHEN 'zh' THEN 10 ELSE 0 END) * 65536"""
  }

  /**
   * `kfold_split`: [[TextAnalysis.kfoldAssign]] — deterministic
   * group-consistent k-fold assignment for cross-validation: the fold is
   * a pure function of the GROUP key (here the 4-document families
   * `doc_id DIV 4`, standing in for a dedup-cluster id), so sibling
   * documents can never straddle train/eval folds — the CV twin of
   * `leakage_safe_split`'s whole-cluster routing. Oracle replays the
   * shared 16-bit hash-bucket law scaled to [0, k).
   */
  def kfoldSplit(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "documents")
      .withColumn("group_id", expr("doc_id DIV 4"))
      .withColumn("fold", TextAnalysis.kfoldAssign(col("group_id"), k = 5))
      .select(col("doc_id"), col("group_id"), col("fold"))
  }

  val kfoldSplitSql: String = {
    val bucket = sqlHashBucket("(doc_id // 4)")
    s"""SELECT doc_id, doc_id // 4 AS group_id,
              ($bucket * 5) // 65536 AS fold
       FROM documents"""
  }

  /**
   * `embedding_gram`: [[Similarity.gramSums]] → [[Similarity
   * .covarianceFromGram]] — the one-pass per-label Gram/mean sufficient
   * statistics of the embedding corpus, exploded to per-(i, j)
   * covariance numerators. The kernel micro-truncates every per-row product
   * (`floor(x_i·x_j·1e6)` in IEEE doubles) and accumulates the longs
   * EXACTLY, so the d²-summary is order-independent and the oracle
   * replays it digit-for-digit from a double-unnest in DuckDB; the
   * covariance numerator `n·gram_ij·1e6 − s_i·s_j` is exact integer
   * arithmetic on top. This is PCA-whitening/OPQ prep at 100 TB: one
   * scan, only d²-sized grids cross the wire, daily grams re-roll
   * bit-identically (`gram_merge`).
   */
  def embeddingGram(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val g = Similarity.gramSums(t(dir, "embeddings"), Seq("label"), "embedding", dim = 64)
    Similarity.covarianceFromGram(g, Seq("label"), dim = 64)
      .withColumn("cov_num", col("cov_num").cast("long"))
  }

  val embeddingGramSql: String =
    """WITH pr AS (
         SELECT label, i, j,
           CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) *
                      CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE) * 1000000) AS BIGINT) AS g,
           CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xi,
           CAST(floor(CAST(embedding[CAST(j AS INT) + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xj
         FROM embeddings, range(0, 64) r1(i), range(0, 64) r2(j)
         WHERE embedding IS NOT NULL),
       cells AS (
         SELECT label, i, j, count(*) AS n, sum(g) AS gram_micro,
                sum(xi) AS si_micro, sum(xj) AS sj_micro
         FROM pr GROUP BY 1, 2, 3)
       SELECT label, i, j, n,
              CAST(gram_micro AS BIGINT) AS gram_micro,
              CAST(si_micro AS BIGINT) AS si_micro,
              CAST(sj_micro AS BIGINT) AS sj_micro,
              CAST(n * gram_micro * 1000000 - si_micro * sj_micro AS BIGINT) AS cov_num
       FROM cells"""

  /**
   * Data-driven target-mix rebalancing ([[TextAnalysis.targetMixSample]]):
   * make the corpus 40% en / 20% de / 20% fr / 20% zh (es drops). Rates
   * derive from the actual group counts in exact integer math — the
   * binding group keeps every row; the rest downsample to match.
   */
  def targetMixQ(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.targetMixSample(
      t(dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id",
      Map("en" -> 400000, "de" -> 200000, "fr" -> 200000, "zh" -> 200000))
      .select(col("doc_id"), col("lang"))
  }

  val targetMixSql: String = {
    val bucket = sqlHashBucket("doc_id")
    s"""WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       tgt AS (SELECT lang, n,
                 CASE lang WHEN 'en' THEN 400000 WHEN 'de' THEN 200000
                           WHEN 'fr' THEN 200000 WHEN 'zh' THEN 200000 ELSE 0 END AS t
               FROM counts),
       feasible AS (SELECT min(cast(n AS hugeint) * 1000000 // t) AS m FROM tgt WHERE t > 0)
       SELECT doc_id, lang
       FROM documents d JOIN tgt USING (lang), feasible
       WHERE t > 0 AND cast($bucket AS hugeint) * n * 1000000 < cast(t AS hugeint) * m * 65536"""
  }

  // ---- round 5: curation planning + incremental corpus ops ------------

  /**
   * `vocab_growth`: [[graft.ops.TextAnalysis.vocabGrowth]] — the exact
   * Heaps'-law curve over 50-doc slabs in doc_id order: new word types
   * per slab plus running token/type totals, the marginal-vocabulary
   * read a mixing decision wants beside `vocab_stats`. The oracle
   * replays debut slabs (min doc_id DIV 50 per type) and both running
   * sums with the shared tokenizer.
   */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.vocabGrowth(t(dir, "documents"), "doc_id", "text", bucketSize = 50)
  }

  val vocabGrowthSql: String =
    s"""WITH tok AS (SELECT doc_id // 50 AS b, unnest($Toks) AS t FROM documents),
       pb AS (SELECT doc_id // 50 AS b, count(*) AS n_docs,
                COALESCE(CAST(sum(len($Toks)) AS BIGINT), 0) AS n_tokens
              FROM documents GROUP BY 1),
       de AS (SELECT t, min(b) AS b FROM tok GROUP BY 1),
       nt AS (SELECT b, count(*) AS new_types FROM de GROUP BY 1)
       SELECT pb.b AS bucket, n_docs, n_tokens,
              COALESCE(new_types, 0) AS new_types,
              CAST(sum(n_tokens) OVER (ORDER BY pb.b) AS BIGINT) AS cum_tokens,
              CAST(sum(COALESCE(new_types, 0)) OVER (ORDER BY pb.b) AS BIGINT) AS cum_types
       FROM pb LEFT JOIN nt ON pb.b = nt.b"""
}
