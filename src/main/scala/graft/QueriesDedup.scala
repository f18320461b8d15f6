package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Stage
import graft.io.{HdfsUrl, Warehouse, WarehouseTable}
import graft.ops.{Bpe, Dedup, Joins, Multimodal, Similarity, TextAnalysis, Web}
import graft.time.Day
import graft.util.Barrier

/**
 * Dedup + text-curation battery: exact/LSH/SimHash/span dedup,
 * contamination, quality gates, lang-ID, HTML/URL ops, CJK, token budgets.
 *
 * One battery family of [[Queries]] — split out for maintainability; the
 * query set and every definition are unchanged.
 */
private[graft] trait QueriesDedup extends QueryHelpers { this: QueryBattery =>
  /** Exact dedup: one shuffle on the normalized-text hash. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Dedup.exact(t(dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
  }

  val dedupExactSql: String =
    s"""SELECT doc_id, md5($Norm) AS fp FROM (
       SELECT doc_id, text,
              row_number() OVER (PARTITION BY md5($Norm) ORDER BY doc_id) AS rn
       FROM documents) WHERE rn = 1"""

  /** MinHash signatures (4 seeds shown; per-row, shuffle-free). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Dedup.withMinhashSignature(t(dir, "documents").select(col("doc_id"), col("text")), "text", numHashes = 4)
      .select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))
  }

  /** DuckDB twin of [[Dedup.minhash]]: word `j%4` of the md5 of block `j/4`. */
  private[graft] def sqlMinhash(j: Int): String =
    s"list_min(list_transform(sh, s -> substring(md5(s || ':${j / 4}'), ${(j % 4) * 8 + 1}, 8)))"

  val minhashSignaturesSql: String = {
    val mhs = (0 until 4)
      .map(j => s"${sqlMinhash(j)} AS mh$j").mkString(",\n       ")
    s"""SELECT doc_id,
       $mhs
       FROM $SqlShingleDocs"""
  }

  /** LSH banding: candidates from an equi-join on (band, hash) — no crossJoin. */
  def lshCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidatePairs(t(dir, "documents")(spark), "doc_id", "text",
      numHashes = 12, rowsPerBand = 3)

  val lshCandidatePairsSql: String = {
    val mhs = (0 until 12)
      .map(j => s"${sqlMinhash(j)} AS mh$j").mkString(", ")
    val bands = (0 until 4)
      .map(b => s"md5(mh${3 * b} || '|' || mh${3 * b + 1} || '|' || mh${3 * b + 2}) AS band$b").mkString(", ")
    val unpivot = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, band$b AS bh FROM banded").mkString(" UNION ALL ")
    s"""WITH sig AS (SELECT doc_id, $mhs
                     FROM $SqlShingleDocs),
       banded AS (SELECT doc_id, $bands FROM sig),
       buckets AS ($unpivot),
       capped AS (SELECT doc_id, band, bh FROM buckets
                  QUALIFY count(*) OVER (PARTITION BY band, bh) <= 1000)
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM capped a JOIN capped b ON a.band = b.band AND a.bh = b.bh
       WHERE a.doc_id < b.doc_id"""
  }

  /**
   * Salted hot-bucket LSH pairing ([[Dedup.lshCandidatePairs]] with
   * `saltHotBuckets`): `maxBucket = 2` forces every bucket of 3+ docs
   * through the salted self-join path on real data. Salting is no-loss by
   * construction, so the result must equal the UNCAPPED pair set — which
   * is exactly what the oracle computes (no QUALIFY cap).
   */
  def lshSaltedPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidatePairs(t(dir, "documents")(spark), "doc_id", "text",
      numHashes = 12, rowsPerBand = 3, maxBucket = 2, saltHotBuckets = true)

  val lshSaltedPairsSql: String = {
    val mhs = (0 until 12)
      .map(j => s"${sqlMinhash(j)} AS mh$j").mkString(", ")
    val bands = (0 until 4)
      .map(b => s"md5(mh${3 * b} || '|' || mh${3 * b + 1} || '|' || mh${3 * b + 2}) AS band$b").mkString(", ")
    val unpivot = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, band$b AS bh FROM banded").mkString(" UNION ALL ")
    s"""WITH sig AS (SELECT doc_id, $mhs
                     FROM $SqlShingleDocs),
       banded AS (SELECT doc_id, $bands FROM sig),
       buckets AS ($unpivot)
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh
       WHERE a.doc_id < b.doc_id"""
  }

  /**
   * Benchmark decontamination report ([[Decontaminate.contaminationHits]]):
   * every 17th document plays the eval set; training docs sharing >= 3
   * distinct word 5-grams with a bench doc are flagged with the exact
   * overlap count. Bench side broadcasts; the corpus gram stream never
   * shuffles before the hit-count agg.
   */
  def contaminationHits(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(dir, "documents")(spark)
    val bench = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("bid"), col("text"))
    graft.ops.Decontaminate.contaminationHits(
      docs, "doc_id", "text", bench, "bid", "text", n = 5, minHits = 3)
  }

  val contaminationHitsSql: String =
    s"""WITH docg AS (SELECT doc_id, unnest(sh) AS g FROM $SqlShingleDocs),
       benchg AS (SELECT doc_id AS bench_id, unnest(sh) AS g
                  FROM $SqlShingleDocs WHERE doc_id % 17 = 0)
       SELECT d.doc_id, b.bench_id, count(*) AS hits
       FROM docg d JOIN benchg b ON d.g = b.g
       GROUP BY 1, 2
       HAVING count(*) >= 3"""

  /**
   * `decontaminate_sentences`: surgical decontamination
   * ([[graft.ops.Decontaminate.redactContaminatedSentences]]) over
   * two-sentence pages (`text || '. ' || reverse(text)` — the second,
   * char-reversed sentence never matches the probes, so the oracle
   * proves SENTENCE-level surgery: leaked docs lose exactly their first
   * sentence, not the document). Probes are docs 7/77/177 as in
   * `contamination`.
   */
  def decontaminateSentences(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents")
    val pages = docs.select(col("doc_id"),
      concat(col("text"), lit(". "), reverse(col("text"))).as("page"))
    val probes = docs.filter(col("doc_id").isin(7L, 77L, 177L)).select(col("text"))
    graft.ops.Decontaminate
      .redactContaminatedSentences(pages, "doc_id", "page", probes, "text", n = 3)
      .select(col("doc_id"), col("n_sentences"), col("n_redacted"),
        md5(col("clean_text")).as("clean_fp"))
  }

  val decontaminateSentencesSql: String = {
    def stoks(s: String) =
      s"list_filter(string_split_regex(lower($s), '[^a-z0-9]+'), x -> x <> '')"
    // FULL 3-grams only (greatest(len - 2, 0): a < 3-token input yields no
    // grams, mirroring redactContaminatedSentences's padded-shingle filter)
    def sh3(s: String) =
      s"list_distinct(list_transform(range(1, greatest(len(${stoks(s)}) - 2, 0) + 1), i -> array_to_string(${stoks(s)}[i:i+2], ' ')))"
    s"""WITH pg AS (SELECT list(DISTINCT g) AS pg FROM (
           SELECT unnest(${sh3("text")}) AS g
           FROM documents WHERE doc_id IN (7, 77, 177))),
       pages AS (SELECT doc_id, text || '. ' || reverse(text) AS page FROM documents),
       marked AS (
         SELECT doc_id,
           regexp_extract_all(page, '[^.!?]+[.!?]+|[^.!?]+${"$"}') AS sents,
           list_transform(regexp_extract_all(page, '[^.!?]+[.!?]+|[^.!?]+${"$"}'),
             s -> CASE WHEN list_has_any(${sh3("s")}, pg)
                  THEN 1 ELSE 0 END) AS hits
         FROM pages, pg)
       SELECT doc_id,
         cast(len(sents) as bigint) AS n_sentences,
         cast(coalesce(list_sum(hits), 0) as bigint) AS n_redacted,
         md5(array_to_string(
           list_transform(list_filter(range(1, len(sents) + 1), i -> hits[i] = 0),
             i -> sents[i]), '')) AS clean_fp
       FROM marked"""
  }

  /** The corpus after decontamination: flagged docs anti-joined away. */
  def decontaminatedDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(dir, "documents")(spark)
    val bench = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("bid"), col("text"))
    graft.ops.Decontaminate.removeContaminated(
      docs, "doc_id", "text", bench, "bid", "text", n = 5, minHits = 3)
      .select(col("doc_id"))
  }

  val decontaminatedDocsSql: String =
    s"""WITH docg AS (SELECT doc_id, unnest(sh) AS g FROM $SqlShingleDocs),
       benchg AS (SELECT doc_id AS bench_id, unnest(sh) AS g
                  FROM $SqlShingleDocs WHERE doc_id % 17 = 0),
       flagged AS (
         SELECT d.doc_id FROM docg d JOIN benchg b ON d.g = b.g
         GROUP BY d.doc_id, b.bench_id HAVING count(*) >= 3)
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (SELECT doc_id FROM flagged)"""

  /** LSH candidates verified by exact shingle Jaccard. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicatePairs(t(dir, "documents")(spark), "doc_id", "text", threshold = 0.8)

  val nearDupPairsSql: String =
    s"""WITH cand AS ($lshCandidatePairsSql),
       docs AS (SELECT * FROM $SqlShingleDocs)
       SELECT id_a, id_b, jaccard FROM (
         SELECT id_a, id_b,
                round(cast(len(list_filter(a.sh, x -> list_contains(b.sh, x))) as double)
                      / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4) AS jaccard
         FROM cand JOIN docs a ON cand.id_a = a.doc_id JOIN docs b ON cand.id_b = b.doc_id)
       WHERE jaccard >= 0.8"""

  /** Duplicate clusters: connected components over verified near-dup pairs. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDuplicatePairs(t(dir, "documents")(spark), "doc_id", "text", threshold = 0.8)
    Dedup.duplicateClusters(pairs)
  }

  /**
   * Rounds of min-label propagation the cluster ORACLES unroll. Spark's
   * [[Dedup.duplicateClusters]] pointer-jumps to convergence; plain
   * (non-jumping) propagation unrolled `n` rounds matches it only for
   * components of diameter <= n. Every oracle built on [[dupClusterCtes]]
   * — `dup_clusters` AND `leakage_safe_split`, whose split assignment
   * rides the cluster label — inherits this assumption.
   * DedupSpec("oracle label-propagation depth covers the corpus") asserts
   * the test corpus's true max cluster diameter stays within it.
   */
  val OracleLabelPropRounds: Int = 6

  /** The oracles' label-propagation chain over a preceding `pairs(id_a,
    * id_b)` CTE, ending in `l6(id, cluster_id)`. All `MATERIALIZED`: each
    * round reads the one before twice, and DuckDB would otherwise inline
    * the chain at every reference. */
  private def labelPropCtes: String = {
    val rounds = (1 to OracleLabelPropRounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT id, min(cluster_id) AS cluster_id FROM (
            SELECT id, cluster_id FROM l${k - 1}
            UNION ALL
            SELECT e.src AS id, l.cluster_id FROM edges e JOIN l${k - 1} l ON e.dst = l.id
          ) GROUP BY id)"""
    }.mkString(",\n       ")
    s"""edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS cluster_id FROM edges),
       $rounds"""
  }

  /** Oracle twin of [[Dedup.duplicateClusters]] — the [[labelPropCtes]]
    * over the near-dup pairs, covering any component of diameter <=
    * [[OracleLabelPropRounds]]; reused by the split oracle. */
  private[graft] val dupClusterCtes: String =
    s"""pairs AS MATERIALIZED ($nearDupPairsSql),
       $labelPropCtes"""

  val dupClustersSql: String =
    s"""WITH $dupClusterCtes
       SELECT id, cluster_id FROM l$OracleLabelPropRounds"""

  /**
   * Leakage-safe split: every document keyed to its near-dup cluster
   * representative, split by the group's hash bucket — near-copies can
   * never straddle train/test ([[Dedup.leakageSafeSplit]]). The oracle's
   * cluster labels come from [[dupClusterCtes]] and are therefore exact
   * only for components of diameter <= [[OracleLabelPropRounds]] (see its
   * doc; the corpus-diameter spec guards the assumption).
   */
  def leakageSafeSplitQ(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Dedup.leakageSafeSplit(t(dir, "documents"), "doc_id", "text",
      Seq("train" -> 80, "valid" -> 10, "test" -> 10), threshold = 0.8)
      .select(col("doc_id"), col("group_id"), col("split"))
  }

  val leakageSafeSplitSql: String = {
    val bucket = sqlHashBucket("group_id")
    s"""WITH $dupClusterCtes,
       groups AS (
         SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_id
         FROM documents d LEFT JOIN l$OracleLabelPropRounds l ON d.doc_id = l.id)
       SELECT doc_id, group_id,
              CASE WHEN $bucket * 100 < 80 * 65536 THEN 'train'
                   WHEN $bucket * 100 < 90 * 65536 THEN 'valid'
                   ELSE 'test' END AS split
       FROM groups"""
  }

  /**
   * Keep-best near-dedup: per near-dup cluster the highest-`n_chars`
   * member survives (ties -> smallest id), unclustered docs always do
   * ([[Dedup.removeNearDuplicatesKeepBest]] — the curation variant of
   * near-dup removal). Cluster oracle inherits the
   * [[OracleLabelPropRounds]] assumption via [[dupClusterCtes]].
   */
  def nearDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Dedup.removeNearDuplicatesKeepBest(t(dir, "documents"), "doc_id", "text",
      "n_chars", threshold = 0.8)
      .select(col("doc_id"), col("n_chars"))
  }

  val nearDedupKeepBestSql: String =
    s"""WITH $dupClusterCtes,
       scored AS (
         SELECT l.id, l.cluster_id, d.n_chars
         FROM l$OracleLabelPropRounds l JOIN documents d ON d.doc_id = l.id),
       keepers AS (
         SELECT id FROM (
           SELECT id, row_number() OVER (PARTITION BY cluster_id
             ORDER BY (n_chars IS NULL), n_chars DESC, id) AS rn
           FROM scored) WHERE rn = 1),
       losers AS (
         SELECT id FROM l$OracleLabelPropRounds
         WHERE id NOT IN (SELECT id FROM keepers))
       SELECT doc_id, n_chars FROM documents
       WHERE doc_id NOT IN (SELECT id FROM losers)"""

  /** Multiprobe LSH ANN: probe own + Hamming-1 buckets, exact rerank. */
  def annMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val emb = t(dir, "embeddings")
    Similarity.annTopKMultiprobe(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, nbits = 8)
  }

  val annMultiprobeSql: String =
    s"""WITH bucketed AS (
         SELECT vec_id, embedding, cast(${sqlLshBucket("embedding")} as bigint) AS bucket
         FROM embeddings),
       probes AS (
         SELECT vec_id AS query_id, embedding AS qv,
                unnest(list_concat(list_transform(range(0, 8), i -> xor(bucket, (1::BIGINT << i))),
                                   [bucket])) AS bucket
         FROM bucketed WHERE vec_id < 5),
       cand AS (
         SELECT p.query_id, c.vec_id AS neighbor_id, p.qv AS qv, c.embedding AS nv
         FROM probes p JOIN bucketed c USING (bucket)
         WHERE p.query_id <> c.vec_id),
       scored AS (
         SELECT DISTINCT query_id, neighbor_id, $SqlCos AS cosine FROM cand)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM scored)
       WHERE rank <= 5"""

  /** 32-bit SimHash fingerprints (per-row, portable md5 bit parity). */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "documents").select(col("doc_id"), Dedup.simhash32(col("text")).as("simhash"))
  }

  val simhashFingerprintsSql: String = {
    val terms = (1 to 32).map { j =>
      val w = 1L << (j - 1)
      s"(CASE WHEN coalesce(list_sum(list_transform(toks, t -> ((strpos('0123456789abcdef', substring(md5(t), $j, 1)) - 1) % 2) * 2 - 1)), 0) > 0 THEN $w ELSE 0 END)"
    }.mkString(" + ")
    s"""SELECT doc_id, cast($terms as bigint) AS simhash
       FROM (SELECT doc_id, $Toks AS toks FROM documents)"""
  }

  /** SimHash 16-bit-band near-dup pairs (exact recall for Hamming <= 3). */
  def simhashNeardup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(t(dir, "documents")(spark), "doc_id", "text", maxHamming = 3)

  /** DuckDB twin of [[Dedup.simhash64]]: bit j = bit j%4 of md5 hex digit j/4. */
  private[graft] val SqlSimhash64: String = {
    val terms = (0 until 64).map { j =>
      val contrib = if (j == 63) "((-9223372036854775807)::BIGINT - 1)" else (1L << j).toString
      s"(CASE WHEN coalesce(list_sum(list_transform(toks, t -> (((strpos('0123456789abcdef', substring(md5(t), ${j / 4 + 1}, 1)) - 1) >> ${j % 4}) & 1) * 2 - 1)), 0) > 0 THEN $contrib ELSE 0 END)"
    }.mkString(" + ")
    s"cast($terms as bigint)"
  }

  val simhashNeardupSql: String =
    s"""WITH sh AS (SELECT doc_id, $SqlSimhash64 AS simhash
                    FROM (SELECT doc_id, $Toks AS toks FROM documents)),
       banded AS (SELECT doc_id, simhash, b.band, (simhash >> (b.band * 16)) & 65535 AS bb
                  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)
       SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
              cast(bit_count(xor(a.simhash, c.simhash)) as bigint) AS hamming
       FROM banded a JOIN banded c ON a.band = c.band AND a.bb = c.bb
       WHERE a.doc_id < c.doc_id AND bit_count(xor(a.simhash, c.simhash)) <= 3"""

  /**
   * Line-level boilerplate removal (C4-style). The word-soup corpus has no
   * newlines, so a deterministic footer line is appended to every 3rd doc
   * first; the op must strip the shared footer everywhere and empty out
   * fully-duplicated documents, preserving everything else in order.
   */
  def boilerplateLines(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val salted = t(dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nSubscribe to our newsletter today")))
        .otherwise(col("text")).as("text"))
    TextAnalysis.removeBoilerplateLines(salted, "doc_id", "text", minDocs = 2)
      .select(col("doc_id"),
        when(length(col("text")) === 0, 0L)
          .otherwise(size(split(col("text"), "\n")).cast("long")).as("n_lines"),
        md5(col("text")).as("clean_fp"))
  }

  val boilerplateLinesSql: String = {
    val normLine = raw"md5(lower(trim(regexp_replace(line, '\s+', ' ', 'g'))))"
    s"""WITH salted AS (
         SELECT doc_id, CASE WHEN doc_id % 3 = 0
                THEN text || chr(10) || 'Subscribe to our newsletter today'
                ELSE text END AS text
         FROM documents),
       lines AS (
         SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
         FROM salted),
       norm AS (SELECT doc_id, pos, line, $normLine AS nfp FROM lines),
       bp AS (SELECT nfp FROM norm GROUP BY nfp HAVING count(DISTINCT doc_id) >= 2),
       rebuilt AS (
         SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
         FROM norm WHERE nfp NOT IN (SELECT nfp FROM bp)
         GROUP BY doc_id)
       SELECT d.doc_id,
              cast(coalesce(len(string_split(r.text, chr(10))), 0) as bigint) AS n_lines,
              md5(coalesce(r.text, '')) AS clean_fp
       FROM documents d LEFT JOIN rebuilt r USING (doc_id)"""
  }

  /**
   * Span-level exact substring dedup (Lee-et-al-style, word-window
   * granularity). The word-soup corpus has few organic repeated 8-grams, so
   * a fixed 12-token disclaimer is appended to every 4th doc first; the op
   * must keep the disclaimer's first corpus occurrence, strip it everywhere
   * else, and leave everything else byte-identical.
   */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val disclaimer =
      " please subscribe to our newsletter for weekly updates and exclusive offers today"
    val salted = t(dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 4 === 0, concat(col("text"), lit(disclaimer)))
        .otherwise(col("text")).as("text"))
    Dedup.removeDuplicateSpans(salted, "doc_id", "text", w = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        md5(col("clean_text")).as("clean_fp"))
  }

  val spanDedupSql: String = {
    s"""WITH salted AS (
         SELECT doc_id, CASE WHEN doc_id % 4 = 0
                THEN text || ' please subscribe to our newsletter for weekly updates and exclusive offers today'
                ELSE text END AS text
         FROM documents),
       toks AS (SELECT doc_id, $Toks AS toks FROM salted),
       tokpos AS (
         SELECT doc_id, unnest(range(1, len(toks) + 1)) AS tp, unnest(toks) AS tok
         FROM toks),
       wins AS (
         SELECT doc_id, pos, md5(array_to_string(toks[pos:pos+7], ' ')) AS h
         FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS pos
               FROM toks WHERE len(toks) >= 8)),
       dup AS (
         SELECT doc_id, pos FROM (
           SELECT doc_id, pos, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           FROM wins)
         WHERE rn > 1),
       covered AS (
         SELECT DISTINCT doc_id, pos + g AS tp
         FROM dup CROSS JOIN (SELECT unnest(range(0, 8)) AS g) offs),
       kept AS (
         SELECT t.doc_id, t.tp, t.tok
         FROM tokpos t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.tp = c.tp
         WHERE c.tp IS NULL),
       rebuilt AS (
         SELECT doc_id, count(*) AS n_kept,
                md5(string_agg(tok, ' ' ORDER BY tp)) AS clean_fp
         FROM kept GROUP BY doc_id)
       SELECT d.doc_id, cast(len(d.toks) as bigint) AS n_tokens,
              cast(coalesce(r.n_kept, 0) as bigint) AS n_kept,
              coalesce(r.clean_fp, md5('')) AS clean_fp
       FROM toks d LEFT JOIN rebuilt r USING (doc_id)"""
  }

  /**
   * Bloom-accelerated incremental dedup: docs whose fingerprint is in the
   * "store" (every 3rd doc stands in for past days) are dropped; the bloom
   * scalar subquery short-circuits the definitely-new rows around the anti
   * join. The bloom path is approximate but one-sided, and the exact anti
   * join re-verifies, so the oracle is the plain NOT EXISTS.
   */
  def dedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val store = docs.filter(col("doc_id") % 3 === 0).select(col("fp"))
    ops.Bloom.antiJoinWithBloom(docs, store, "fp").select(col("doc_id"), col("fp"))
  }

  val dedupIncrementalBloomSql: String =
    s"""WITH fps AS (SELECT doc_id, md5($Norm) AS fp FROM documents),
       store AS (SELECT fp FROM fps WHERE doc_id % 3 = 0)
       SELECT doc_id, fp FROM fps
       WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = fps.fp)"""

  /** Deterministic hash-based train/valid/test split, counted per language. */
  def hashSplitCounts(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "documents")
      .select(TextAnalysis.hashSplit(col("doc_id"),
        Seq("train" -> 80, "valid" -> 10, "test" -> 10)).as("split"), col("lang"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
  }

  val hashSplitCountsSql: String = {
    val bucket = sqlHashBucket("doc_id")
    s"""SELECT split, lang, count(*) AS n FROM (
       SELECT lang, CASE WHEN $bucket * 100 < 80 * 65536 THEN 'train'
                         WHEN $bucket * 100 < 90 * 65536 THEN 'valid'
                         ELSE 'test' END AS split
       FROM documents)
       GROUP BY split, lang"""
  }

  /** Quality-scoring stats; pure codegen'd column math. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val stats = TextAnalysis.qualityStats(col("text")).map {
      case (n @ ("n_chars" | "n_tokens"), c) => c.cast("long").as(n)
      case (name, c) => c.as(name)
    }
    t(dir, "documents").select(col("doc_id") +: stats: _*)
  }

  /** Fixed demo weights for the `quality_score` battery query — shaped
    * like a trained prose-vs-junk model (reward stopwords/diversity/word
    * length, punish punctuation and digit soup), shared with the oracle. */
  private[graft] val QualityWeights: Seq[(String, Long)] = Seq(
    "stopword_ppm" -> 3L, "distinct_ppm" -> 1L, "mean_word_len_x100" -> 5L,
    "punct_ppm" -> -2L, "digit_ppm" -> -1L)

  /**
   * `quality_score`: [[TextAnalysis.qualityLinearScore]] — the serving
   * side of a trained linear quality classifier, every feature and the
   * score exact BIGINT so the model replays bit-identically in DuckDB.
   */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val feats = TextAnalysis.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
    t(dir, "documents").select(
      (col("doc_id") +: feats) :+
        TextAnalysis.qualityLinearScore(col("text"), QualityWeights.toMap)
          .as("quality_score"): _*)
  }

  val qualityScoreSql: String = {
    val stop = TextAnalysis.StopwordProfiles("en").map(w => s"'$w'").mkString(", ")
    val terms = QualityWeights.sortBy(_._1)
      .map { case (n, w) => s"($w) * $n" }.mkString(" + ")
    s"""SELECT doc_id, n_chars, n_tokens, punct_ppm, digit_ppm, stopword_ppm,
              distinct_ppm, mean_word_len_x100,
              cast(0 + $terms as bigint) AS quality_score
       FROM (SELECT doc_id,
               cast(length(text) as bigint) AS n_chars,
               cast(len(toks) as bigint) AS n_tokens,
               cast((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) * 1000000 // greatest(length(text), 1) as bigint) AS punct_ppm,
               cast((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1000000 // greatest(length(text), 1) as bigint) AS digit_ppm,
               cast(coalesce(list_sum(list_transform(toks, t -> CASE WHEN t IN ($stop) THEN 1 ELSE 0 END)), 0) * 1000000 // greatest(len(toks), 1) as bigint) AS stopword_ppm,
               cast(len(list_distinct(toks)) * 1000000 // greatest(len(toks), 1) as bigint) AS distinct_ppm,
               cast(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 100 // greatest(len(toks), 1) as bigint) AS mean_word_len_x100
             FROM (SELECT doc_id, text, $Toks AS toks FROM documents))"""
  }

  val textQualitySql: String = {
    val stop = TextAnalysis.StopwordProfiles("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       cast(length(text) as bigint) AS n_chars,
       cast(len(toks) as bigint) AS n_tokens,
       round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / cast(greatest(length(text), 1) as double), 4) AS punct_ratio,
       round(coalesce(list_sum(list_transform(toks, t -> CASE WHEN t IN ($stop) THEN 1 ELSE 0 END)), 0) / cast(greatest(len(toks), 1) as double), 4) AS stopword_ratio,
       round(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) / cast(greatest(len(toks), 1) as double), 4) AS mean_word_len
       FROM (SELECT doc_id, text, $Toks AS toks FROM documents)"""
  }

  /** Stopword-profile language ID. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "documents").select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))
  }

  val langIdSql: String = {
    // mirrors TextAnalysis.languageId stage for stage, generated from the
    // same constants: script-count argmax pre-filter (ranges are \x{...}
    // escapes that parse identically in RE2), kana-share ja/zh rule, then
    // the stopword argmax when Latin wins
    val scriptCols = TextAnalysis.ScriptRanges.map { case (s, r) =>
      s"length(text) - length(regexp_replace(text, '[$r]', '', 'g')) AS c_$s"
    }.mkString(",\n         ")
    val bestScript = s"greatest(${TextAnalysis.ScriptRanges.map("c_" + _._1).mkString(", ")})"
    val ordered = TextAnalysis.StopwordProfiles.toSeq.sortBy(_._1)
    val scores = ordered.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      lang -> s"coalesce(list_sum(list_transform(toks, t -> CASE WHEN t IN ($set) THEN 1 ELSE 0 END)), 0)"
    }
    val scoreCols = scores.map { case (lang, e) => s"$e AS s_$lang" }.mkString(",\n         ")
    val bestStop = s"greatest(${scores.map(p => "s_" + p._1).mkString(", ")})"
    val stopPick = scores.map { case (lang, _) => s"WHEN s_$lang = bests AND bests > 0 THEN '$lang'" }
      .mkString(" ")
    val cjk = "CASE WHEN c_kana * 20 >= c_kana + c_hani THEN 'ja' ELSE 'zh' END"
    val scriptPick = TextAnalysis.ScriptRanges.map { case (s, _) =>
      val v = s match {
        case "latn" => s"(CASE $stopPick ELSE 'und' END)"
        case "hani" | "kana" => s"($cjk)"
        case other => s"'${TextAnalysis.ScriptLang(other)}'"
      }
      s"WHEN c_$s = bestc AND bestc > 0 THEN $v"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $scriptPick ELSE 'und' END AS lang_pred
       FROM (SELECT doc_id, $bestScript AS bestc, $bestStop AS bests, * FROM (
         SELECT doc_id,
         $scriptCols,
         $scoreCols
         FROM (SELECT doc_id, text, $Toks AS toks FROM documents)))"""
  }

  /**
   * PII scrubbing: the word-soup test corpus has no PII, so deterministic
   * synthetic PII is appended to every 5th doc before scrubbing — the
   * redaction, detection flag and scrubbed fingerprint are all checked.
   */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val salted = when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com or +1 555 010 "),
        col("doc_id"), lit(" at 10.0.0."), col("doc_id") % 255))
      .otherwise(col("text"))
    t(dir, "documents")
      .select(col("doc_id"), salted.as("salted"))
      .select(col("doc_id"),
        TextAnalysis.hasPii(col("salted")).cast("long").as("has_pii"),
        md5(TextAnalysis.scrubPii(col("salted"))).as("scrubbed_fp"))
  }

  /**
   * `html_extract`: [[TextAnalysis.htmlToText]] over a deterministic HTML
   * page built around each document's text — a head whose style/script
   * blocks contain raw `<`/`>` operators that MUST vanish with the block,
   * a comment, a noscript fallback, markup tags, and an entity-laden
   * footer (incl. a double-encoded `&amp;lt;` that must resolve to the
   * literal `&lt;`). The oracle rebuilds the same page and runs the same
   * engine-portable strip/decode/fold chain in DuckDB (RE2).
   */
  private[graft] val HtmlHead: String =
    "<html><head><title>Doc</title><style media=\"all\">p { color: #333; }</style>" +
      "<script type=\"text/javascript\">if (1 < 2 && 2 > 1) { emit(\"x\"); }</script>" +
      "</head><body><!-- header --><noscript>enable js</noscript><h1>Entry</h1><p class=\"lead\">"
  private[graft] val HtmlTail: String =
    "</p>  <p>Tom &amp; Jerry &lt;3&nbsp;end &quot;quoted&quot; it&#39;s &amp;lt;raw</p></body></html>"

  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "documents").select(col("doc_id"),
      TextAnalysis.htmlToText(concat(lit(HtmlHead), col("text"), lit(HtmlTail))).as("text"))
  }

  val htmlExtractSql: String = {
    def q(s: String) = s.replace("'", "''")
    val wrapped = s"'${q(HtmlHead)}' || text || '${q(HtmlTail)}'"
    val untagged = TextAnalysis.HtmlStripPatterns.foldLeft("wrapped") { (c, p) =>
      s"regexp_replace($c, '${q(p)}', ' ', 'g')"
    }
    val decoded = TextAnalysis.HtmlEntities.foldLeft(untagged) { case (c, (e, r)) =>
      s"replace($c, '${q(e)}', '${q(r)}')"
    }
    s"""SELECT doc_id,
       trim(regexp_replace($decoded, '${q(TextAnalysis.HtmlWhitespacePattern)}', ' ', 'g')) AS text
       FROM (SELECT doc_id, $wrapped AS wrapped FROM documents)"""
  }

  /**
   * `main_content`: [[TextAnalysis.mainContentBlocks]] over a nav-heavy
   * page built around each document's text — a linky nav menu, a
   * link-saturated sidebar that clears the word floor (link density must
   * kill it), a plain 3-word share bar (the word floor must kill it), the
   * article body, a tag cloud and a linky footer. Only the article text
   * may survive; the oracle replays the same block-split / link-density /
   * word-floor chain in DuckDB (RE2).
   */
  private[graft] val NavHead: String =
    "<html><head><title>T</title><style>a { color: red; }</style></head><body>" +
      "<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/about\">About us</a></li>" +
      "<li><a href=\"/contact\">Contact</a></li></ul></nav>" +
      "<div id=\"side\"><a href=\"/r1\">Related article one</a> <a href=\"/r2\">Related two</a></div>" +
      "<p>Share this page</p><article><p class=\"body\">"
  private[graft] val NavTail: String =
    "</p></article><div class=\"tags\"><a href=\"/t/a\">alpha</a> <a href=\"/t/b\">beta</a>" +
      " <a href=\"/t/c\">gamma</a></div>" +
      "<footer><a href=\"/tos\">Terms of service</a> | <a href=\"/priv\">Privacy policy</a>" +
      " &copy; 2026 Example</footer></body></html>"

  def mainContentQuery(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val page = concat(lit(NavHead), col("text"), lit(NavTail))
    t(dir, "documents").select(col("doc_id"),
      size(TextAnalysis.mainContentBlocks(page)).cast("long").as("n_kept"),
      md5(TextAnalysis.mainContent(page)).as("main_fp"))
  }

  val mainContentSql: String = {
    def q(s: String) = s.replace("'", "''")
    val wrapped = s"'${q(NavHead)}' || text || '${q(NavTail)}'"
    val pre = TextAnalysis.HtmlStripPatterns.dropRight(1).foldLeft("page") { (c, p) =>
      s"regexp_replace($c, '${q(p)}', ' ', 'g')"
    }
    def clean(e: String) = {
      val untag = s"regexp_replace($e, '<[^>]*>', ' ', 'g')"
      val dec = TextAnalysis.HtmlEntities.foldLeft(untag) { case (c, (en, r)) =>
        s"replace($c, '${q(en)}', '${q(r)}')"
      }
      s"trim(regexp_replace($dec, '${q(TextAnalysis.HtmlWhitespacePattern)}', ' ', 'g'))"
    }
    val words = s"len(list_filter(string_split(${clean("b")}, ' '), w -> w <> ''))"
    // coalesce: DuckDB's array_to_string returns NULL (not '') for an
    // empty extract list inside a lambda — an anchor-free block must score
    // link length 0, as Spark's array_join does
    val linkText = clean(
      s"coalesce(array_to_string(regexp_extract_all(b, '${q(TextAnalysis.AnchorPattern)}', 1), ' '), '')")
    s"""WITH pages AS (SELECT doc_id, $wrapped AS page FROM documents),
       blocks AS (SELECT doc_id,
           string_split_regex($pre, '${q(TextAnalysis.BlockTagPattern)}') AS bs
         FROM pages),
       kept AS (SELECT doc_id,
           list_filter(bs, b ->
             $words >= 5 AND len($linkText) * 100 <= len(${clean("b")}) * 33) AS ks
         FROM blocks)
       SELECT doc_id, cast(len(ks) as bigint) AS n_kept,
         md5(array_to_string(list_transform(ks, b -> ${clean("b")}), chr(10))) AS main_fp
       FROM kept"""
  }

  /**
   * `intra_doc_dedup`: [[TextAnalysis.dedupLinesInDoc]] over a synthetic
   * page that repeats a nav header and footer line around each document's
   * text (the word-soup corpus is single-line) — first occurrences
   * survive in order, repeats drop, and the removed-line count is exact.
   * Oracle: the same first-occurrence index filter via DuckDB list
   * lambdas (1-based there, 0-based in Spark — both compared to the
   * 1-based first-position).
   */
  def intraDocDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val header = concat(lit("NAV "), col("source"))
    val page = concat_ws("\n",
      header, col("text"), header, lit("contact us"), header, lit("contact us"))
    t(dir, "documents").select(col("doc_id"), page.as("page"))
      .select(col("doc_id"),
        TextAnalysis.dedupLinesInDoc(col("page")).as("clean_text"),
        (size(split(col("page"), "\n")) -
          size(split(TextAnalysis.dedupLinesInDoc(col("page")), "\n"))).cast("long")
          .as("n_removed"))
  }

  val intraDocDedupSql: String = {
    val dedup = "list_filter(string_split(page, chr(10)), " +
      "(l, i) -> list_position(string_split(page, chr(10)), l) = i)"
    s"""SELECT doc_id,
       array_to_string($dedup, chr(10)) AS clean_text,
       CAST(len(string_split(page, chr(10))) - len($dedup) AS BIGINT) AS n_removed
       FROM (SELECT doc_id,
               'NAV ' || source || chr(10) || text || chr(10) || 'NAV ' || source ||
                 chr(10) || 'contact us' || chr(10) || 'NAV ' || source || chr(10) || 'contact us' AS page
             FROM documents)"""
  }

  /**
   * `url_profile`: the [[Web]] URL toolkit over deterministic synthetic
   * URLs (the word-soup corpus has no URL column) — five shapes per
   * `doc_id % 5` exercise mixed-case schemes/hosts, default ports,
   * co.uk-style second-level domains, hosting-platform private suffixes
   * (`<user>.blogspot.com` keeps its user label), tracking params,
   * fragments, schemeless hosts and root slashes. The oracle rebuilds the
   * same URLs and mirrors every chain stage for stage in DuckDB (RE2).
   */
  def urlProfile(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val id = col("doc_id").cast("string")
    val url = when(col("doc_id") % 5 === 0,
      concat(lit("HTTPS://WWW."), col("source"), lit(".Example.CO.UK:443/Articles/"), id,
        lit("?utm_source=feed&ref="), col("lang"), lit("#sec2")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("http://blog."), col("source"), lit(".com:80/post/"), id,
          lit("?id="), id, lit("&utm_campaign=x&gclid=abc")))
      .when(col("doc_id") % 5 === 2, concat(col("source"), lit(".org/data/"), id))
      .when(col("doc_id") % 5 === 3,
        concat(lit("https://"), col("source"), col("lang"), lit(".blogspot.com/"), id))
      .otherwise(concat(lit("https://cdn."), col("source"), lit(".net/")))
    t(dir, "documents").select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        Web.urlHost(col("url")).as("host"),
        Web.urlDomain(col("url")).as("domain"),
        Web.normalizeUrl(col("url")).as("norm_url"))
  }

  val urlProfileSql: String = {
    val urlCase = "CASE doc_id % 5" +
      " WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.CO.UK:443/Articles/' || doc_id || '?utm_source=feed&ref=' || lang || '#sec2'" +
      " WHEN 1 THEN 'http://blog.' || source || '.com:80/post/' || doc_id || '?id=' || doc_id || '&utm_campaign=x&gclid=abc'" +
      " WHEN 2 THEN source || '.org/data/' || doc_id" +
      " WHEN 3 THEN 'https://' || source || lang || '.blogspot.com/' || doc_id" +
      " ELSE 'https://cdn.' || source || '.net/' END"
    val sll = graft.ops.Web.SecondLevelLabels.map(l => s"'$l'").mkString(", ")
    val privs = graft.ops.Web.PrivateSuffixes.map(l => s"'$l'").mkString(", ")
    // base registrable (ccTLD-aware), then the private-suffix widening:
    // when the base lands on a hosting platform, keep one more label
    val baseLen = s"CASE WHEN len(labels) <= 2 THEN len(labels)" +
      s" WHEN length(labels[-1]) = 2 AND labels[-2] IN ($sll) THEN 3 ELSE 2 END"
    val base = s"CASE WHEN len(labels) <= 2 THEN host" +
      s" ELSE array_to_string(list_slice(labels, len(labels) - ($baseLen) + 1, len(labels)), '.') END"
    s"""SELECT doc_id, url, host,
       CASE WHEN ($base) IN ($privs) AND len(labels) > ($baseLen)
              THEN array_to_string(list_slice(labels, len(labels) - ($baseLen), len(labels)), '.')
            ELSE ($base) END AS domain,
       sch || '://' || nhost || (CASE WHEN path0 = '/' THEN '' ELSE path0 END) ||
         (CASE WHEN qc = '' THEN '' ELSE '?' || qc END) AS norm_url
       FROM (SELECT doc_id, url, sch, host, nhost, path0, string_split(host, '.') AS labels,
               trim(regexp_replace('&' || q0 || '&', '&(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*', '', 'g'), '&') AS qc
             FROM (SELECT doc_id, url,
                     lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
                     lower(regexp_replace(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+${"$"}', '', 'g')) AS host,
                     lower(regexp_replace(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':(80|443)${"$"}', '', 'g')) AS nhost,
                     regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
                     regexp_extract(u, '\\?([^#]*)', 1) AS q0
                   FROM (SELECT doc_id, url,
                           regexp_replace(CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN url ELSE 'http://' || url END, '#.*', '', 'g') AS u
                         FROM (SELECT doc_id, $urlCase AS url FROM documents))))"""
  }

  /**
   * `url_dedup`: [[Web.dedupByUrl]] — the cheapest dedup tier of a crawl
   * pipeline: canonical-URL keep-first over deterministic synthetic URL
   * variants. Docs sharing a `(site, page)` pair under variants 0-2
   * (default port + mixed case / tracking params / schemeless + fragment)
   * collapse to one canonical URL; variant 3 carries a real `ref=keep`
   * param and stays its own group; `doc_id % 10 == 7` rows have NO url
   * and pass through untouched. Oracle replays the same canonicalization
   * chain and a `row_number` keep-first in DuckDB.
   */
  /** Deterministic synthetic URL variants shared by `url_dedup` and
    * `release_manifest` (the corpus has no URL column, so both replay the
    * same variant law on each side). */
  private[graft] def syntheticUrl: Column = {
    val site = (col("doc_id") % 5).cast("string")
    val page = (col("doc_id") % 50).cast("string")
    when(col("doc_id") % 10 === 7, lit(null).cast("string"))
      .when(col("doc_id") % 4 === 0,
        concat(lit("HTTP://WWW.Site"), site, lit(".COM:80/Page/"), page))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://www.site"), site, lit(".com/Page/"), page,
          lit("?utm_source=feed&utm_id=9")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("www.site"), site, lit(".com/Page/"), page, lit("#section")))
      .otherwise(concat(lit("http://www.site"), site, lit(".com/Page/"), page,
        lit("?ref=keep")))
  }

  /** DuckDB twin of [[syntheticUrl]]. */
  private[graft] val SqlUrlCase: String =
    "CASE WHEN doc_id % 10 = 7 THEN NULL" +
      " WHEN doc_id % 4 = 0 THEN 'HTTP://WWW.Site' || (doc_id % 5) || '.COM:80/Page/' || (doc_id % 50)" +
      " WHEN doc_id % 4 = 1 THEN 'http://www.site' || (doc_id % 5) || '.com/Page/' || (doc_id % 50) || '?utm_source=feed&utm_id=9'" +
      " WHEN doc_id % 4 = 2 THEN 'www.site' || (doc_id % 5) || '.com/Page/' || (doc_id % 50) || '#section'" +
      " ELSE 'http://www.site' || (doc_id % 5) || '.com/Page/' || (doc_id % 50) || '?ref=keep' END"

  /** DuckDB URL-canonicalization CTE body (the [[Web.dedupByUrl]] law)
    * over a CTE named `urls(doc_id, url)`; emits `(doc_id, canon_url)`
    * for non-null URLs. Shared by `url_dedup` and `release_manifest`. */
  private[graft] val SqlUrlCanon: String =
    s"""SELECT doc_id,
           sch || '://' || nhost || (CASE WHEN path0 = '/' THEN '' ELSE path0 END) ||
             (CASE WHEN qc = '' THEN '' ELSE '?' || qc END) AS canon_url
         FROM (SELECT doc_id, sch, nhost, path0,
                 trim(regexp_replace('&' || q0 || '&', '&(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*', '', 'g'), '&') AS qc
               FROM (SELECT doc_id,
                       lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
                       lower(regexp_replace(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':(80|443)${"$"}', '', 'g')) AS nhost,
                       regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
                       regexp_extract(u, '\\?([^#]*)', 1) AS q0
                     FROM (SELECT doc_id,
                             regexp_replace(CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN url ELSE 'http://' || url END, '#.*', '', 'g') AS u
                           FROM urls WHERE url IS NOT NULL)))"""

  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents").select(col("doc_id"), syntheticUrl.as("url"))
    Web.dedupByUrl(docs, "url", "doc_id")
      .select(col("doc_id"), Web.normalizeUrl(col("url")).as("canon_url"))
  }

  val urlDedupSql: String = {
    val urlCase = SqlUrlCase
    s"""WITH urls AS (SELECT doc_id, $urlCase AS url FROM documents),
       canon AS ($SqlUrlCanon)
       SELECT doc_id, canon_url FROM (
         SELECT doc_id, canon_url,
                row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn
         FROM canon) WHERE rn = 1
       UNION ALL
       SELECT doc_id, NULL AS canon_url FROM urls WHERE url IS NULL"""
  }

  /**
   * `domain_quality`: [[Web.domainQualityProfile]] per source — exact
   * integer-ppm punctuation and Gopher-gate-failure shares, the
   * measurement pass behind a domain blocklist. Oracle replays the same
   * per-doc flags (quality_filter's inner SQL) and the same HUGEINT
   * cross-multiplied shares.
   */
  def domainQuality(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Web.domainQualityProfile(t(dir, "documents"), "source", "text")
  }

  val domainQualitySql: String =
    s"""SELECT domain, n_docs, punct_ppm, gate_fail_ppm,
       cast(CASE WHEN punct_ppm > 200000 OR gate_fail_ppm > 500000 THEN 1 ELSE 0 END AS BIGINT) AS low_quality
       FROM (SELECT source AS domain, cast(count(*) AS BIGINT) AS n_docs,
               CAST(CAST(sum(punct) AS HUGEINT) * 1000000 // greatest(sum(chars), 1) AS BIGINT) AS punct_ppm,
               CAST(CAST(sum(1 - passes) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS gate_fail_ppm
             FROM (SELECT source, length(text) AS chars,
                     (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) AS punct,
                     (CASE WHEN len(toks) >= 5 AND len(toks) <= 100000 THEN 1 ELSE 0 END)
                     * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 1 ELSE 0 END)
                     * (CASE WHEN symbol_ratio <= 0.2 THEN 1 ELSE 0 END)
                     * (CASE WHEN distinct_ratio >= 0.2 THEN 1 ELSE 0 END) AS passes
                   FROM (SELECT source, text,
                           coalesce(list_sum(list_transform(toks, t -> length(t))), 0) / cast(greatest(len(toks), 1) as double) AS mean_len,
                           (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / cast(greatest(length(text), 1) as double) AS symbol_ratio,
                           len(list_distinct(toks)) / cast(greatest(len(toks), 1) as double) AS distinct_ratio,
                           toks
                         FROM (SELECT source, text, $Toks AS toks FROM documents)))
             GROUP BY source)"""

  val piiScrubSql: String = {
    val salted = "CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' || doc_id || " +
      "'@example.com or +1 555 010 ' || doc_id || ' at 10.0.0.' || (doc_id % 255) ELSE text END"
    // DuckDB single-quoted strings are not C-escaped: backslashes pass through verbatim
    val scrubbed = TextAnalysis.PiiPatterns.foldLeft("salted") { case (c, (kind, p)) =>
      s"regexp_replace($c, '${p.replace("'", "''")}', '<${kind.toUpperCase}>', 'g')"
    }
    val any = TextAnalysis.PiiPatterns
      .map { case (_, p) => s"CASE WHEN regexp_matches(salted, '${p.replace("'", "''")}') THEN 1 ELSE 0 END" }
      .mkString(" + ")
    s"""SELECT doc_id, cast(CASE WHEN ($any) > 0 THEN 1 ELSE 0 END as bigint) AS has_pii,
       md5($scrubbed) AS scrubbed_fp
       FROM (SELECT doc_id, $salted AS salted FROM documents)"""
  }

  /** Gopher-style quality gate flags per document. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val flags = TextAnalysis.qualityFlags(col("text")).map { case (n, c) => c.as(n) }
    t(dir, "documents").select(col("doc_id") +: flags: _*)
  }

  val qualityFilterSql: String =
    s"""SELECT doc_id,
       cast(CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1 ELSE 0 END as bigint) AS ok_word_count,
       cast(CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 1 ELSE 0 END as bigint) AS ok_mean_word_len,
       cast(CASE WHEN symbol_ratio <= 0.2 THEN 1 ELSE 0 END as bigint) AS ok_symbol_ratio,
       cast(CASE WHEN distinct_ratio >= 0.2 THEN 1 ELSE 0 END as bigint) AS ok_distinct_ratio,
       cast((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1 ELSE 0 END)
         * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 1 ELSE 0 END)
         * (CASE WHEN symbol_ratio <= 0.2 THEN 1 ELSE 0 END)
         * (CASE WHEN distinct_ratio >= 0.2 THEN 1 ELSE 0 END) as bigint) AS passes
       FROM (SELECT doc_id,
               len(toks) AS n_tokens,
               coalesce(list_sum(list_transform(toks, t -> length(t))), 0) / cast(greatest(len(toks), 1) as double) AS mean_len,
               (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / cast(greatest(length(text), 1) as double) AS symbol_ratio,
               len(list_distinct(toks)) / cast(greatest(len(toks), 1) as double) AS distinct_ratio
             FROM (SELECT doc_id, text, $Toks AS toks FROM documents))"""

  // Deterministic transliteration alphabets for `cjk_token_stats`: the
  // synthetic corpus is ASCII word soup even in its "zh" rows, so the query
  // builds REAL Han/kana/Thai pages from it with translate() — char-for-char
  // with identical semantics in Spark and DuckDB — and the oracle replays
  // the same mapping. 26 chars each, aligned to a-z.
  private[graft] val CjkAz = "abcdefghijklmnopqrstuvwxyz"
  private[graft] val CjkHan = "的一是不了人我在有他这中大来上国个到说们为子和你地出"
  private[graft] val CjkJa = "あ学習模い型訓練う語言処理翻え訳文字列解お析構造か体"
  private[graft] val CjkTh = "กขฃคฅฆงจฉชซฌญฎฏฐฑฒณดตถทธนบ"

  /** The transliterated page: zh rows → Han, es rows → kana-laced Japanese,
    * de rows → Thai, everything else verbatim. Word boundaries (spaces)
    * survive translate, so segmentation runs end where words did. */
  private[graft] def cjkPage: Column =
    when(col("lang") === "zh", translate(col("text"), CjkAz, CjkHan))
      .when(col("lang") === "es", translate(col("text"), CjkAz, CjkJa))
      .when(col("lang") === "de", translate(col("text"), CjkAz, CjkTh))
      .otherwise(col("text"))

  /**
   * `cjk_token_stats`: the script-aware tokenizer
   * ([[TextAnalysis.scriptTokens]] — character bigrams for Han/kana/Thai,
   * word tokens elsewhere) and the script-aware Gopher gates
   * ([[TextAnalysis.qualityFlagsScriptAware]]) over a mixed-script corpus,
   * aggregated per language: document/token/token-char counts, exact
   * integer mean token length (x100), and the gate pass count. Under the
   * ASCII tokenizer every non-Latin page here would report ZERO tokens and
   * fail every gate; these stats prove the token ops measure CJK/Thai text.
   * Per-row codegen'd kernels + ONE map-side-combined aggregation — scan
   * speed at any corpus size.
   */
  def cjkTokenStats(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val toks = TextAnalysis.scriptTokens(cjkPage)
    val passes = TextAnalysis.qualityFlagsScriptAware(cjkPage)
      .collectFirst { case ("passes", c) => c }.get
    t(dir, "documents")
      .select(col("lang"),
        size(toks).cast("long").as("__n_tok"),
        aggregate(toks, lit(0L), (a, tk) => a + length(tk)).as("__tchars"),
        passes.as("__passes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n_tok")).cast("long").as("n_tokens"),
        sum(col("__tchars")).cast("long").as("token_chars"),
        sum(col("__passes")).cast("long").as("n_pass"))
      .withColumn("mean_token_len_x100",
        expr("CAST(CAST(token_chars AS DECIMAL(38,0)) * 100 DIV greatest(n_tokens, 1) AS BIGINT)"))
  }

  /** DuckDB twin of [[TextAnalysis.scriptTokens]] over a `page` column. */
  private[graft] def sqlScriptToks: String = {
    val segCls = TextAnalysis.SegScriptRanges
    val wordCls = s"a-z0-9${TextAnalysis.NonAsciiWordRanges}"
    s"""flatten(list_transform(
       regexp_extract_all(translate(page, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '$CjkAz'),
         '[$wordCls]+|[$segCls]+'),
       r -> CASE WHEN regexp_matches(r, '^[$segCls]')
            THEN CASE WHEN length(r) = 1 THEN [r]
                 ELSE list_transform(range(1, length(r)), i -> substring(r, i, 2)) END
            ELSE [r] END))"""
  }

  /** DuckDB twin of [[cjkPage]]. */
  private[graft] def sqlCjkPage: String =
    s"""CASE WHEN lang = 'zh' THEN translate(text, '$CjkAz', '$CjkHan')
       WHEN lang = 'es' THEN translate(text, '$CjkAz', '$CjkJa')
       WHEN lang = 'de' THEN translate(text, '$CjkAz', '$CjkTh')
       ELSE text END"""

  val cjkTokenStatsSql: String = {
    val segCls = TextAnalysis.SegScriptRanges
    val wordCls = s"a-z0-9${TextAnalysis.NonAsciiWordRanges}"
    s"""WITH pages AS (
         SELECT lang, $sqlCjkPage AS page
         FROM documents),
       tok AS (SELECT lang, page, $sqlScriptToks AS toks FROM pages),
       feat AS (
         SELECT lang, len(toks) AS n_tok,
           coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS tchars,
           (length(page) - length(regexp_replace(page, '[^a-zA-Z0-9\\s$wordCls$segCls]', '', 'g'))) / cast(greatest(length(page), 1) as double) AS symbol_ratio,
           len(list_distinct(toks)) / cast(greatest(len(toks), 1) as double) AS distinct_ratio
         FROM tok),
       gated AS (
         SELECT lang, n_tok, tchars,
           (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1 ELSE 0 END)
           * (CASE WHEN tchars / cast(greatest(n_tok, 1) as double) >= 2.0 AND tchars / cast(greatest(n_tok, 1) as double) <= 12.0 THEN 1 ELSE 0 END)
           * (CASE WHEN symbol_ratio <= 0.2 THEN 1 ELSE 0 END)
           * (CASE WHEN distinct_ratio >= 0.2 THEN 1 ELSE 0 END) AS passes
         FROM feat)
       SELECT lang, count(*) AS n_docs,
              cast(sum(n_tok) as bigint) AS n_tokens,
              cast(sum(tchars) as bigint) AS token_chars,
              cast(sum(passes) as bigint) AS n_pass,
              cast((sum(tchars) * 100) // greatest(sum(n_tok), 1) as bigint) AS mean_token_len_x100
       FROM gated GROUP BY lang"""
  }

  /**
   * `cjk_near_dup`: the WHOLE near-dedup pipeline — script tokens →
   * 5-gram shingles → 12-hash MinHash → 4-band LSH → exact Jaccard verify
   * — running script-aware over the transliterated mixed-script corpus
   * ([[cjkPage]]), against synthesized recrawls (every 13th page
   * reappears under `doc_id + 1000000` with a short Han suffix appended).
   * Under the ASCII tokenizer every CJK page would share ONE empty-shingle
   * signature and the pair set would be a full cross-product of the
   * language; script-aware, pairs are exactly the long-enough recrawls.
   * Oracle replays tokenization, hashing, banding and verification in
   * DuckDB. Same plan shape and scale properties as `near_dup_pairs`.
   */
  def cjkNearDup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val base = t(dir, "documents").select(col("doc_id"), cjkPage.as("page"))
    val recrawls = base.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("page"), lit(" 的数据质量很重要")).as("page"))
    Dedup.nearDuplicatePairs(base.unionByName(recrawls), "doc_id", "page",
      threshold = 0.8, scriptAware = true)
  }

  val cjkNearDupSql: String = {
    val mhs = (0 until 12).map(j => s"${sqlMinhash(j)} AS mh$j").mkString(", ")
    val bands = (0 until 4)
      .map(b => s"md5(mh${3 * b} || '|' || mh${3 * b + 1} || '|' || mh${3 * b + 2}) AS band$b").mkString(", ")
    val unpivot = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, band$b AS bh FROM banded").mkString(" UNION ALL ")
    s"""WITH pages0 AS (SELECT doc_id, $sqlCjkPage AS page FROM documents),
       pages AS (SELECT doc_id, page FROM pages0
                 UNION ALL
                 SELECT doc_id + 1000000, page || ' 的数据质量很重要'
                 FROM pages0 WHERE doc_id % 13 = 0),
       tok AS (SELECT doc_id, $sqlScriptToks AS toks FROM pages),
       docs AS (SELECT doc_id, $SqlShingles AS sh FROM tok),
       sig AS (SELECT doc_id, $mhs FROM docs),
       banded AS (SELECT doc_id, $bands FROM sig),
       buckets AS ($unpivot),
       capped AS (SELECT doc_id, band, bh FROM buckets
                  QUALIFY count(*) OVER (PARTITION BY band, bh) <= 1000),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM capped a JOIN capped b ON a.band = b.band AND a.bh = b.bh
                WHERE a.doc_id < b.doc_id)
       SELECT id_a, id_b, jaccard FROM (
         SELECT id_a, id_b,
                round(cast(len(list_filter(a.sh, x -> list_contains(b.sh, x))) as double)
                      / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4) AS jaccard
         FROM cand JOIN docs a ON cand.id_a = a.doc_id JOIN docs b ON cand.id_b = b.doc_id)
       WHERE jaccard >= 0.8"""
  }

  /**
   * `token_budget_cut`: [[TextAnalysis.selectTokenBudget]] — keep the
   * highest-scored documents whose cumulative token count fits a fixed
   * budget (the greedy fixed-compute selection every training run ends
   * with). Score = `n_chars`, tokens = whitespace count, budget 20k.
   * Oracle is ONE SQL cumulative sum over the same total order; the Spark
   * side must reproduce it exactly from its range-partitioned offset
   * arithmetic — the hash match IS the proof the distributed cut equals
   * the single-window definition.
   */
  def tokenBudgetCut(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents").select(col("doc_id"),
      col("n_chars").cast("long").as("score"),
      TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("n_tok"))
    TextAnalysis.selectTokenBudget(docs, "score", "n_tok", "doc_id", budgetTokens = 20000L)
      .select(col("doc_id"), col("score"), col("n_tok"), col("cum_tokens"))
  }

  val tokenBudgetCutSql: String =
    raw"""SELECT doc_id, score, n_tok, cum_tokens FROM (
         SELECT doc_id, score, n_tok,
                cast(sum(n_tok) OVER (ORDER BY score DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_tokens
         FROM (SELECT doc_id, cast(n_chars as bigint) AS score,
                      cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) as bigint) AS n_tok
               FROM documents))
       WHERE cum_tokens <= 20000"""

  /**
   * `token_budget_per_group`: [[TextAnalysis.selectTokenBudgetPerGroup]] —
   * the per-language budget cut behind real mixing decisions. en/de/zh get
   * budgets below their full token mass (every listed group's cut is
   * exercised); es/fr are absent from the map and must vanish entirely.
   * Oracle: one per-group SQL cumulative sum + a CASE budget lookup —
   * the hash match proves the distributed per-group cut equals the
   * single-window-per-group definition.
   */
  def tokenBudgetPerGroup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents").select(col("doc_id"), col("lang"),
      col("n_chars").cast("long").as("score"),
      TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("n_tok"))
    TextAnalysis.selectTokenBudgetPerGroup(docs, "lang", "score", "n_tok", "doc_id",
      budgets = Map("en" -> 6000L, "de" -> 2000L, "zh" -> 2000L))
      .select(col("doc_id"), col("lang"), col("score"), col("n_tok"), col("cum_tokens"))
  }

  val tokenBudgetPerGroupSql: String =
    raw"""SELECT doc_id, lang, score, n_tok, cum_tokens FROM (
         SELECT doc_id, lang, score, n_tok,
                cast(sum(n_tok) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_tokens
         FROM (SELECT doc_id, lang, cast(n_chars as bigint) AS score,
                      cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) as bigint) AS n_tok
               FROM documents))
       WHERE cum_tokens <= CASE lang WHEN 'en' THEN 6000
                                     WHEN 'de' THEN 2000
                                     WHEN 'zh' THEN 2000 END"""

  /**
   * `training_shuffle`: [[TextAnalysis.deterministicShuffle]] — the exact
   * global md5-keyed pseudo-random permutation a training export shuffles
   * by, computed WITHOUT a corpus-on-one-reducer window (range partition +
   * offset arithmetic, like `token_budget_cut`). The oracle is the plain
   * `row_number() OVER (ORDER BY md5(...))` definition — the hash match
   * proves the distributed ranks equal it position for position.
   */
  def trainingShuffle(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    TextAnalysis.deterministicShuffle(
      t(dir, "documents").select(col("doc_id"), col("lang")), "doc_id", salt = "r12")
  }

  val trainingShuffleSql: String =
    """SELECT doc_id, lang,
       cast(row_number() OVER (ORDER BY md5('shuffle:r12:' || doc_id), doc_id) as bigint) AS shuffle_rank
       FROM documents"""

  /**
   * `url_filter`: [[Web.urlQualityFlags]] — the C4/RefinedWeb-style
   * pre-fetch URL heuristics over six deterministic URL shapes, one per
   * gate: a clean page, an asset extension, an over-deep path, a
   * parameter explosion, a blocked word, an over-long URL. Oracle mirrors
   * every flag expression in DuckDB.
   */
  def urlFilter(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val id = col("doc_id").cast("string")
    val deep = (1 to 11).map(i => s"s$i").mkString("/", "/", "/")
    val manyParams = (1 to 10).map(i => s"p$i=$i").mkString("?", "&", "")
    val url = when(col("doc_id") % 6 === 0,
      concat(lit("https://"), col("source"), lit(".com/articles/"), id))
      .when(col("doc_id") % 6 === 1,
        concat(lit("https://"), col("source"), lit(".com/images/photo"), id, lit(".JPG")))
      .when(col("doc_id") % 6 === 2,
        concat(lit("https://"), col("source"), lit(s".com$deep"), id))
      .when(col("doc_id") % 6 === 3,
        concat(lit("https://"), col("source"), lit(s".com/p$manyParams")))
      .when(col("doc_id") % 6 === 4,
        concat(lit("https://"), col("source"), lit(".com/casino/bonus"), id))
      .otherwise(concat(lit("https://"), col("source"), lit(".com/search?q="),
        lit("x" * 600)))
    val flags = Web.urlQualityFlags(col("url")).map { case (n, c) => c.as(n) }
    t(dir, "documents").select(col("doc_id"), url.as("url"))
      .select(col("doc_id") +: col("url") +: flags: _*)
  }

  val urlFilterSql: String = {
    val deep = (1 to 11).map(i => s"s$i").mkString("/", "/", "/")
    val manyParams = (1 to 10).map(i => s"p$i=$i").mkString("?", "&", "")
    val longQ = "x" * 600
    val exts = Web.NonPageExtensions.map(e => s"'$e'").mkString(", ")
    val words = Seq("casino", "porn", "viagra", "xxx")
      .map(w => s"contains(lower(url), '$w')").mkString(" OR ")
    s"""WITH urls AS (
         SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'https://' || source || '.com/articles/' || doc_id
             WHEN 1 THEN 'https://' || source || '.com/images/photo' || doc_id || '.JPG'
             WHEN 2 THEN 'https://' || source || '.com$deep' || doc_id
             WHEN 3 THEN 'https://' || source || '.com/p$manyParams'
             WHEN 4 THEN 'https://' || source || '.com/casino/bonus' || doc_id
             ELSE 'https://' || source || '.com/search?q=$longQ' END AS url
         FROM documents),
       parsed AS (
         SELECT doc_id, url,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
           regexp_extract(url, '\\?([^#]*)', 1) AS q
         FROM urls),
       feat AS (
         SELECT doc_id, url,
           lower(regexp_extract(path0, '\\.([A-Za-z0-9]{1,5})${"$"}', 1)) AS ext,
           regexp_replace(path0, '^/|/${"$"}', '', 'g') AS trimmed,
           q
         FROM parsed),
       flags AS (
         SELECT doc_id, url,
           CASE WHEN ext = '' OR ext NOT IN ($exts) THEN 1 ELSE 0 END AS ok_extension,
           CASE WHEN (CASE WHEN trimmed = '' THEN 0
                 ELSE length(trimmed) - length(replace(trimmed, '/', '')) + 1 END) <= 10
             THEN 1 ELSE 0 END AS ok_depth,
           CASE WHEN length(url) <= 512 THEN 1 ELSE 0 END AS ok_length,
           CASE WHEN (CASE WHEN q = '' THEN 0
                 ELSE length(q) - length(replace(q, '&', '')) + 1 END) <= 8
             THEN 1 ELSE 0 END AS ok_params,
           CASE WHEN $words THEN 0 ELSE 1 END AS ok_words
         FROM feat)
       SELECT doc_id, url,
              cast(ok_extension as bigint) AS ok_extension,
              cast(ok_depth as bigint) AS ok_depth,
              cast(ok_length as bigint) AS ok_length,
              cast(ok_params as bigint) AS ok_params,
              cast(ok_words as bigint) AS ok_words,
              cast(ok_extension * ok_depth * ok_length * ok_params * ok_words as bigint) AS passes
       FROM flags"""
  }

  /**
   * Contamination check: documents sharing word 3-grams with a probe set
   * (here: the texts of three fixed documents, playing the benchmark role).
   */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents")
    val probes = docs.filter(col("doc_id").isin(7L, 77L, 177L)).select(col("text"))
    TextAnalysis.contamination(docs, probes, n = 3)
  }

  val contaminationSql: String = {
    val grams = (toks: String) =>
      s"list_transform(range(1, greatest(len($toks) - 2, 1) + 1), i -> array_to_string($toks[i:i+2], ' '))"
    s"""WITH probe_grams AS (
         SELECT DISTINCT unnest(${grams("toks")}) AS gram
         FROM (SELECT $Toks AS toks FROM documents WHERE doc_id IN (7, 77, 177))),
       doc_grams AS (
         SELECT doc_id, unnest(list_distinct(${grams("toks")})) AS gram
         FROM (SELECT doc_id, $Toks AS toks FROM documents))
       SELECT doc_id, count(*) AS n_contaminated_grams
       FROM doc_grams JOIN probe_grams USING (gram)
       GROUP BY doc_id"""
  }

  /** Corpus-level top-50 bigrams by frequency. */
  def topNgrams(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgrams(t(dir, "documents")(spark), "text", n = 2, k = 50)

  val topNgramsSql: String =
    s"""SELECT ngram, n FROM (
       SELECT ngram, count(*) AS n,
              row_number() OVER (ORDER BY count(*) DESC, ngram) AS rk
       FROM (SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                    i -> array_to_string(toks[i:i+1], ' '))) AS ngram
             FROM (SELECT $Toks AS toks FROM documents))
       GROUP BY ngram) WHERE rk <= 50"""

  /** Whitespace + BPE-ish token counts. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "documents").select(col("doc_id"),
      TextAnalysis.whitespaceTokenCount(col("text")).cast("long").as("ws_tokens"),
      TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
  }

  val tokenCountsSql: String =
    raw"""SELECT doc_id,
       cast(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) as bigint) AS ws_tokens,
       cast(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) as bigint) AS bpe_tokens
       FROM documents"""

  /**
   * `blocklist_hits`: the Aho–Corasick blocklist screen
   * ([[graft.ops.TextAnalysis.blocklistHits]] over the
   * [[graft.functions.MultiMatch]] kernel) — per banned phrase, how many
   * documents contain it. ONE text pass per document however many
   * phrases are listed (the oracle's `list_filter(contains)` is the
   * O(phrases x text) definition the kernel is proven against); the
   * never-matching phrase exercises the negative path. Per-row codegen +
   * one term-sized count aggregation — scan-speed at any scale.
   */
  def blocklistHitsQ(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val pats = Seq("slow fast", "table value", "stream window", "merge batch",
      "key agg row", "quantum leap")
    TextAnalysis.blocklistHits(t(dir, "documents"), "text", pats)
      .select(explode(col("matched_terms")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_docs"))
  }

  val blocklistHitsSql: String =
    """SELECT term, count(*) AS n_docs FROM (
         SELECT unnest(list_filter(
           ['slow fast', 'table value', 'stream window', 'merge batch',
            'key agg row', 'quantum leap'],
           p -> contains(lower(text), p))) AS term
         FROM documents WHERE text IS NOT NULL)
       GROUP BY term"""

  /**
   * `path_rollup`: [[Web.pathRollup]] over synthetic two-segment site
   * URLs (`https://<source>.example.com/<lang>/p<doc_id%7>/<doc_id>`,
   * depth-capped at 2) — the site-map rollup that prices crawl sections.
   * The oracle rebuilds each URL's segment prefixes directly and counts;
   * host parsing itself is hash-checked under `url_profile`.
   */
  def pathRollupQ(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val url = concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/p"), (col("doc_id") % 7).cast("string"),
      lit("/"), col("doc_id").cast("string"))
    Web.pathRollup(t(dir, "documents").select(url.as("url")), "url", maxDepth = 2)
  }

  val pathRollupSql: String =
    """WITH u AS (SELECT source || '.example.com' AS host, lang,
                  'p' || CAST(doc_id % 7 AS VARCHAR) AS seg2 FROM documents),
       p AS (SELECT host, CAST(1 AS BIGINT) AS depth, '/' || lang AS prefix FROM u
             UNION ALL
             SELECT host, CAST(2 AS BIGINT), '/' || lang || '/' || seg2 FROM u)
       SELECT host, depth, prefix, count(*) AS n_urls
       FROM p GROUP BY 1, 2, 3"""

  /**
   * `release_manifest`: the CAPSTONE —
   * [[graft.etl.examples.Release.build]]'s manifest over the full
   * URL→exact→near dedup → quality gate → decontaminate → target-mix →
   * pack → shuffle chain, every stage one of the battery's already
   * hash-proven laws composed end-to-end. Rows: per-stage kept/rejected
   * counts WITH token totals, the realized mix shares, the packed-chunk
   * totals and the order-SENSITIVE shuffle checksum
   * (`Σ rank·bucket16(key) mod 2³¹−1`). The oracle replays the entire
   * chain as one CTE pipeline — the strongest single correctness
   * statement in the battery: a one-row drift in ANY stage moves at
   * least one manifest count.
   */
  def releaseManifest(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = t(dir, "documents").select(col("doc_id"), syntheticUrl.as("url"),
      col("lang"), col("source"), col("text"))
    val bench = t(dir, "documents").filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.etl.examples.Release.build(docs, bench,
      Map("en" -> 400000, "de" -> 200000, "fr" -> 200000, "zh" -> 200000))._2
  }

  /**
   * `release_manifest_incr`: the batch ≡ incremental LAW of the capstone,
   * driver-checked on real data — the corpus is split into three
   * contiguous doc_id ranges ("days", ids monotone across days), curated
   * day by day through [[graft.etl.examples.IncrementalRelease.curateDay]]
   * against accumulating URL/fingerprint/band stores, and the release cut
   * from the pooled survivors. The ORACLE is [[releaseManifestSql]] — the
   * ONE-SHOT batch chain over the union — so a hash match proves the
   * day-split manifest is digit-identical to the batch manifest (under
   * the preconditions IncrementalRelease documents; they hold on this
   * corpus, which the match itself verifies at every sf the driver runs).
   * Runs with `verifyNear = true` (round 19): cross-day band collisions
   * pay the exact-Jaccard residual instead of being dropped unverified,
   * so the law here needs one FEWER precondition than the default mode —
   * and the manifest must still match the batch oracle digit-for-digit.
   * Day bounds come from a 1-row max broadcast, never a collect.
   */
  def releaseManifestIncr(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import graft.etl.examples.IncrementalRelease
    val docs = t(dir, "documents").select(col("doc_id"), syntheticUrl.as("url"),
      col("lang"), col("source"), col("text"))
    // the benchmark suite is the same every day: materialize it ONCE so
    // each day shingles stored rows instead of re-scanning the corpus
    val bench = Barrier.checkpoint(t(dir, "documents").filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("bench_id"), col("text")))
    val bounds = docs.agg(max(col("doc_id")).as("__maxid"))
    val withB = docs.crossJoin(broadcast(bounds))
    val days = Seq(
      withB.filter(col("doc_id") * 3 <= col("__maxid")),
      withB.filter(col("doc_id") * 3 > col("__maxid") &&
        col("doc_id") * 3 <= col("__maxid") * 2),
      withB.filter(col("doc_id") * 3 > col("__maxid") * 2)
    ).map(_.drop("__maxid"))
    def empty(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val init = (empty(IncrementalRelease.UrlStoreSchema),
      empty(IncrementalRelease.FpStoreSchema),
      empty(IncrementalRelease.VerifiedBandStoreSchema),
      Seq.empty[DataFrame], Seq.empty[DataFrame])
    val (_, _, _, curatedParts, statsParts) =
      days.foldLeft(init) { case ((urls, fps, bands, cur, st), day) =>
        val dc = IncrementalRelease.curateDay(day, bench, urls, fps, bands, verifyNear = true)
        (urls.unionByName(dc.urls), fps.unionByName(dc.fps),
          bands.unionByName(dc.bands), cur :+ dc.curated, st :+ dc.stats)
      }
    IncrementalRelease.cut(curatedParts.reduce(_ unionByName _),
      statsParts.reduce(_ unionByName _),
      Map("en" -> 400000, "de" -> 200000, "fr" -> 200000, "zh" -> 200000))._2
  }

  val releaseManifestSql: String = {
    val mhs = (0 until 12).map(j => s"${sqlMinhash(j)} AS mh$j").mkString(", ")
    val bands = (0 until 4)
      .map(b => s"md5(mh${3 * b} || '|' || mh${3 * b + 1} || '|' || mh${3 * b + 2}) AS band$b")
      .mkString(", ")
    val unpivot = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, band$b AS bh FROM banded").mkString(" UNION ALL ")
    val reason = RejectReasonsSqlCase
    val bucketDoc = sqlHashBucket("doc_id")
    val bucketKey = sqlHashBucket("chunk_key")
    s"""WITH d0 AS MATERIALIZED (
         SELECT doc_id, lang, source, text,
           cast(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) as bigint) AS n_tokens,
           $SqlUrlCase AS url
         FROM documents),
       urls AS (SELECT doc_id, url FROM d0),
       canon AS ($SqlUrlCanon),
       u_keep AS (
         SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn
           FROM canon) WHERE rn = 1
         UNION ALL SELECT doc_id FROM d0 WHERE url IS NULL),
       s1 AS MATERIALIZED (SELECT d0.* FROM d0 JOIN u_keep USING (doc_id)),
       s2 AS MATERIALIZED (SELECT doc_id, lang, source, text, n_tokens FROM (
           SELECT s1.*, row_number() OVER (PARTITION BY md5($Norm) ORDER BY doc_id) AS rn
           FROM s1) WHERE rn = 1),
       sh2 AS MATERIALIZED (SELECT doc_id, $SqlShingles AS sh
               FROM (SELECT doc_id, $Toks AS toks FROM s2)),
       sig AS MATERIALIZED (SELECT doc_id, $mhs FROM sh2),
       banded AS MATERIALIZED (SELECT doc_id, $bands FROM sig),
       buckets AS MATERIALIZED ($unpivot),
       capped AS MATERIALIZED (SELECT doc_id, band, bh FROM buckets
                  QUALIFY count(*) OVER (PARTITION BY band, bh) <= 1000),
       cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM capped a JOIN capped b ON a.band = b.band AND a.bh = b.bh
                WHERE a.doc_id < b.doc_id),
       pairs AS MATERIALIZED (SELECT id_a, id_b FROM (
           SELECT id_a, id_b,
                  round(cast(len(list_filter(a.sh, x -> list_contains(b.sh, x))) as double)
                        / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4) AS jaccard
           FROM cand JOIN sh2 a ON cand.id_a = a.doc_id JOIN sh2 b ON cand.id_b = b.doc_id)
         WHERE jaccard >= 0.8),
       $labelPropCtes,
       losers AS (SELECT id FROM l$OracleLabelPropRounds WHERE id <> cluster_id),
       s3 AS MATERIALIZED (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT id FROM losers)),
       s4 AS MATERIALIZED (SELECT doc_id, lang, source, text, n_tokens FROM (
           SELECT doc_id, lang, source, text, n_tokens,
             (CASE WHEN len(toks) >= 5 AND len(toks) <= 100000 THEN 1 ELSE 0 END)
             * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 1 ELSE 0 END)
             * (CASE WHEN symbol_ratio <= 0.2 THEN 1 ELSE 0 END)
             * (CASE WHEN distinct_ratio >= 0.2 THEN 1 ELSE 0 END) AS passes
           FROM (SELECT doc_id, lang, source, text, n_tokens, toks,
                   coalesce(list_sum(list_transform(toks, t -> length(t))), 0) / cast(greatest(len(toks), 1) as double) AS mean_len,
                   (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / cast(greatest(length(text), 1) as double) AS symbol_ratio,
                   len(list_distinct(toks)) / cast(greatest(len(toks), 1) as double) AS distinct_ratio
                 FROM (SELECT doc_id, lang, source, text, n_tokens, $Toks AS toks FROM s3)))
         WHERE passes = 1),
       benchg AS MATERIALIZED (SELECT doc_id AS bench_id, unnest(sh) AS g
                  FROM $SqlShingleDocs WHERE doc_id % 17 = 0),
       docg AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g
                FROM (SELECT doc_id, $SqlShingles AS sh
                      FROM (SELECT doc_id, $Toks AS toks FROM s4))),
       flagged AS MATERIALIZED (SELECT d.doc_id FROM docg d JOIN benchg b ON d.g = b.g
                   GROUP BY d.doc_id, b.bench_id HAVING count(*) >= 3),
       s5 AS MATERIALIZED (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM flagged)),
       counts AS MATERIALIZED (SELECT lang, count(*) AS cn FROM s5 GROUP BY 1),
       tgt AS MATERIALIZED (SELECT lang, cn,
                 CASE lang WHEN 'en' THEN 400000 WHEN 'de' THEN 200000
                           WHEN 'fr' THEN 200000 WHEN 'zh' THEN 200000 ELSE 0 END AS t
               FROM counts),
       feasible AS MATERIALIZED (SELECT min(cast(cn AS hugeint) * 1000000 // t) AS m FROM tgt WHERE t > 0),
       s6 AS MATERIALIZED (SELECT s5.* FROM s5 JOIN tgt USING (lang), feasible
              WHERE t > 0 AND cast($bucketDoc AS hugeint) * cn * 1000000 < cast(t AS hugeint) * m * 65536),
       packed AS MATERIALIZED (SELECT doc_id, source, n_tokens,
           cast((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 512 as bigint) AS chunk_id
         FROM s6),
       chunks AS MATERIALIZED (SELECT source, chunk_id,
                    cast(sum(n_tokens) as bigint) AS n_tokens,
                    source || ':' || chunk_id AS chunk_key
                  FROM packed GROUP BY 1, 2),
       shuffled AS MATERIALIZED (SELECT *, cast(row_number() OVER (
                      ORDER BY md5('shuffle:release:' || chunk_key), chunk_key) as bigint) AS shuffle_rank
                    FROM chunks),
       base AS MATERIALIZED (
             SELECT 0 AS ord, 'raw' AS stage, count(*) AS n, coalesce(sum(n_tokens), 0) AS tokens FROM d0
         UNION ALL SELECT 1, 'url_dedup', count(*), coalesce(sum(n_tokens), 0) FROM s1
         UNION ALL SELECT 2, 'exact_dedup', count(*), coalesce(sum(n_tokens), 0) FROM s2
         UNION ALL SELECT 3, 'near_dedup', count(*), coalesce(sum(n_tokens), 0) FROM s3
         UNION ALL SELECT 4, 'quality_gate', count(*), coalesce(sum(n_tokens), 0) FROM s4
         UNION ALL SELECT 5, 'decontaminate', count(*), coalesce(sum(n_tokens), 0) FROM s5
         UNION ALL SELECT 6, 'target_mix', count(*), coalesce(sum(n_tokens), 0) FROM s6),
       kept AS (SELECT ord, stage, 'kept' AS detail, n, tokens, NULL AS checksum FROM base),
       rej AS (SELECT ord, stage, 'rejected:' || ($reason) AS detail,
                 pn - n AS n, pt - tokens AS tokens, NULL AS checksum
               FROM (SELECT ord, stage, n, tokens,
                       lag(n) OVER (ORDER BY ord) AS pn,
                       lag(tokens) OVER (ORDER BY ord) AS pt
                     FROM base)
               WHERE ord >= 1),
       shares AS (SELECT 7 AS ord, 'mix_share' AS stage, lang AS detail,
                    count(*) AS n, sum(n_tokens) AS tokens, NULL AS checksum
                  FROM s6 GROUP BY lang),
       packrow AS (SELECT 8 AS ord, 'pack' AS stage, 'kept' AS detail,
                     count(*) AS n, sum(n_tokens) AS tokens, NULL AS checksum
                   FROM chunks),
       shufrow AS (SELECT 9 AS ord, 'shuffle' AS stage, 'kept' AS detail,
                     count(*) AS n, sum(n_tokens) AS tokens,
                     sum(cast(shuffle_rank AS hugeint) * $bucketKey) % 2147483647 AS checksum
                   FROM shuffled)
       SELECT cast(ord AS BIGINT) AS ord, stage, detail,
              cast(n AS BIGINT) AS n, cast(tokens AS BIGINT) AS tokens,
              cast(checksum AS BIGINT) AS checksum
       FROM (SELECT * FROM kept UNION ALL SELECT * FROM rej
             UNION ALL SELECT * FROM shares UNION ALL SELECT * FROM packrow
             UNION ALL SELECT * FROM shufrow)"""
  }

  /** DuckDB CASE over [[graft.etl.examples.Release.RejectReasons]] —
    * generated from the same constant the Spark side folds, so the audit
    * vocabulary cannot drift between engines. */
  private def RejectReasonsSqlCase: String =
    "CASE stage " + graft.etl.examples.Release.RejectReasons
      .map { case (stage, r) => s"WHEN '$stage' THEN '$r'" }.mkString(" ") + " END"
}
