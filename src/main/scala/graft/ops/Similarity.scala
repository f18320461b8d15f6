package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Barrier

/**
 * Similarity search over embedding columns (`array<float>`):
 *
 *  - [[bruteForceTopK]] — exact cosine top-k of a (small, broadcast) query
 *    set against the corpus. The baseline: one broadcast join, no shuffle of
 *    the corpus, linear scan. Right answer at any scale when the query set
 *    is small.
 *  - [[withLshBucket]] / [[annTopK]] — random-hyperplane LSH: corpus and
 *    queries are bucketed by the sign pattern of `nbits` fixed hyperplanes;
 *    candidates come from an equi-join on the bucket (optionally probing
 *    neighboring buckets), then exact cosine reranks. At 100 TB this turns a
 *    full scan per query into a bucketed lookup: the corpus is hash-
 *    partitioned by bucket once and reused.
 *
 * Every shortlist, rerank, probe and seed list here is a [[TopK.ranked]]
 * top-k (bounded partials, no window): a NULL cosine ranks last, NaN first.
 *
 * The hyperplanes are deterministic integer-weight vectors derived from
 * `(bit, dim)`, so results are reproducible across engines and runs without
 * shipping a random state.
 */
object Similarity {

  /** Dot product of two numeric arrays (native one-pass kernel, double accumulator). */
  def dot(a: Column, b: Column): Column = graft.functions.vectors.dot_product(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (native one-pass kernel; [[cosineComposed]] is its spec). */
  def cosine(a: Column, b: Column): Column = graft.functions.vectors.cosine_similarity(a, b)

  /** Built-in-function specification of [[cosine]] (spec cross-check + oracle twin). */
  private[graft] def cosineComposed(a: Column, b: Column): Column = {
    def dotC(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")), lit(0.0), (acc, v) => acc + v)
    // zero-norm cosine is 0 by definition (matches the kernel): avoids NaN,
    // whose sort order differs between Spark and the DuckDB oracle
    val den = sqrt(dotC(a, a)) * sqrt(dotC(b, b))
    when(den === 0.0, lit(0.0)).otherwise(dotC(a, b) / den)
  }

  /**
   * Symmetric int8 quantization of an embedding: `scale = max|v| / 127`
   * and `q_i = floor(v_i / scale + 0.5)` (half-up, identical in every
   * engine — `round()` tie-breaking is not), packed as
   * `struct(scale double, q array<int>)`. At 100 TB this is the storage/
   * memory lever for the ANN tiers: int8 vectors are 4x smaller than
   * float32 (8x than double) with ~1e-2 cosine error — shortlist on the
   * quantized corpus, rerank the few candidates on full precision. An
   * all-zero vector quantizes to scale 0 / zero codes (dequantizes to
   * itself; its cosine is 0 by the zero-norm rule).
   */
  def quantizeInt8(vec: Column): Column = {
    val scale = aggregate(vec, lit(0.0), (m, v) => greatest(m, abs(v.cast("double")))) / 127.0
    // pack (scale, vec) into a 1-element array and code inside the lambda,
    // where scale is a BOUND VARIABLE: the max-abs fold runs once per row,
    // not once per element (O(d) per row, not O(d^2) — the difference is
    // real at 768-dim embeddings; same trick as languageId's packed struct)
    element_at(transform(array(struct(scale.as("s"), vec.as("v"))), p => {
      val s = p.getField("s")
      struct(s.as("scale"),
        transform(p.getField("v"), x =>
          when(s === 0.0, lit(0))
            .otherwise(floor(x.cast("double") / s + 0.5).cast("int"))).as("q"))
    }), 1)
  }

  /** Inverse of [[quantizeInt8]]: `q_i * scale` as doubles — exact products
    * of an int and one shared double, so every engine agrees bit-for-bit. */
  def dequantizeInt8(quantized: Column): Column =
    transform(quantized.getField("q"),
      q => q.cast("double") * quantized.getField("scale"))

  /** `dequantizeInt8(quantizeInt8(vec))` as ONE codegen char pass — the
    * quantization-error view an int8 ANN tier scores against. The composed
    * chain is three higher-order lambdas (CodegenFallback: interpreted per
    * element, boxing every value) plus a packed struct per row; the kernel
    * ([[graft.functions.Int8Roundtrip]]) loops once over the raw ArrayData.
    * Bit-identical to the composed form — SimilaritySpec pins the parity,
    * the `ann_quantized_topk` oracle hash pins it end-to-end. */
  def int8RoundtripVec(vec: Column): Column =
    graft.functions.vectors.int8_roundtrip(vec)

  /**
   * Exact top-`k` cosine neighbors for each query vector. `queries` must be
   * small enough to broadcast (it is explicitly broadcast). Excludes
   * self-matches on id equality. The scan stays map-side: per-partition
   * bounded top-k partials ([[TopK.ranked]]), never a queries x corpus
   * window shuffle.
   */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"))
    val scored = q
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("query_vec"), col("neighbor_vec")), 4))
    byCosine(scored, k)
  }

  /** The top-`k` rows per query by `(cosine DESC, neighbor_id)` — every ANN tier's final rank. */
  private def byCosine(scored: DataFrame, k: Int,
      carry: Seq[String] = Seq("neighbor_id", "cosine")): DataFrame =
    TopK.ranked(scored, Seq("query_id"), Seq(col("cosine").desc, col("neighbor_id")), carry, k)

  /**
   * No-embedding-model similarity: hashing-trick TF vectors
   * ([[TextAnalysis.hashedTfVector]]) straight off document text, then the
   * exact brute-force cosine top-k of [[bruteForceTopK]]. `isQuery` marks
   * the (broadcastable) query subset WITHIN the corpus, so the corpus is
   * featurized exactly once and both join sides read the same vectors.
   *
   * Token-free documents (empty or null text) are excluded up front: an
   * all-zero TF vector carries no similarity signal, and its 0/0 cosine
   * would otherwise need a NaN-ordering contract between engines.
   *
   * The featurized frame is materialized behind an explicit barrier —
   * without one, CollapseProject inlines the featurizer expression past
   * the non-equi join and the corpus re-featurizes once PER QUERY row
   * (measured 52x at sf0.1). The barrier is lazy and follows
   * [[graft.util.Barrier]]: local by default, reliable when the session
   * sets `spark.checkpoint.dir`.
   */
  def hashedTfTopK(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      isQuery: Column,
      dims: Int = 64,
      k: Int = 10,
      scriptAware: Boolean = false): DataFrame = {
    val toks =
      if (scriptAware) TextAnalysis.scriptTokens(col(textCol))
      else TextAnalysis.tokens(col(textCol))
    val featurized = corpus
      .filter(size(toks) > 0)
      .select(col(idCol), isQuery.as("__is_query"),
        TextAnalysis.hashedTfVector(col(textCol), dims, scriptAware).as("__vec"))
    val vectors = Barrier.checkpoint(featurized, eager = false)
    bruteForceTopK(
      vectors.filter(col("__is_query")).drop("__is_query"),
      vectors.drop("__is_query"), idCol, "__vec", k)
  }

  /**
   * Deterministic hyperplane weight for (bit `i`, dimension `d`): a small
   * integer in [-3, 3]. Engine-portable (plain modular arithmetic).
   */
  private def weight(i: Int, d: Column): Column =
    ((lit(i * 31) + d * 17) % 7) - 3

  /** Sign-pattern bucket id in [0, 2^nbits) for a vector under the fixed
    * hyperplanes (native one-pass kernel; [[lshBucketComposed]] is its spec). */
  def lshBucket(vec: Column, nbits: Int = 8): Column =
    graft.functions.vectors.lsh_bucket(vec, nbits)

  /** Built-in-function specification of [[lshBucket]] (spec cross-check). */
  private[graft] def lshBucketComposed(vec: Column, nbits: Int = 8): Column = {
    val dims = sequence(lit(0), size(vec) - 1)
    val bits = (0 until nbits).map { i =>
      val proj = aggregate(dims, lit(0.0), (acc, d) =>
        acc + element_at(vec, d + 1).cast("double") * weight(i, d).cast("double"))
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  def withLshBucket(df: DataFrame, vecCol: String, nbits: Int = 8): DataFrame =
    df.withColumn("bucket", lshBucket(col(vecCol), nbits))

  /**
   * ANN top-`k`: candidates share the query's LSH bucket, exact cosine
   * reranks ([[TopK.ranked]]). Recall/latency trades on `nbits` (more bits
   * -> smaller buckets, lower recall per probe).
   */
  def annTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nbits: Int = 8): DataFrame = {
    val q = broadcast(
      withLshBucket(queries, vecCol, nbits)
        .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"), col("bucket")))
    val c = withLshBucket(corpus, vecCol, nbits)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"), col("bucket"))
    val scored = q
      .join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("query_vec"), col("neighbor_vec")), 4))
    byCosine(scored, k)
  }

  /**
   * Sign-bit quantization sketch for Hamming ANN: `nbits` fixed hyperplane
   * signs packed into a long (native one-pass kernel;
   * [[signSketchComposed]] is its executable specification). Uses the
   * double-modulus weight family — the [[lshBucket]] family is linear mod
   * 7, so beyond 7 bits its hyperplanes repeat; the sketch needs all bits
   * independent.
   */
  def signSketch(vec: Column, nbits: Int = 48): Column =
    graft.functions.vectors.sign_sketch(vec, nbits)

  /** Built-in-function specification of [[signSketch]] (spec cross-check + oracle twin). */
  private[graft] def signSketchComposed(vec: Column, nbits: Int = 48): Column = {
    val dims = sequence(lit(0), size(vec) - 1)
    val bits = (0 until nbits).map { i =>
      val proj = aggregate(dims, lit(0.0), (acc, d) =>
        acc + element_at(vec, d + 1).cast("double") *
          ((((lit(i * 37) + d * 11) % 101) % 7) - 3).cast("double"))
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    // empty vector -> 0, matching the kernel (and the SQL twin, whose
    // list_sum over an empty list is NULL -> every sign test false);
    // sequence(0, -1) would otherwise be a DESCENDING [0, -1]
    when(size(vec) === 0, lit(0L)).otherwise(bits.reduce(_ + _))
  }

  /**
   * Deterministic random projection to `k` dims (native one-pass kernel;
   * [[randomProjectComposed]] is its spec). Integer hyperplanes of the
   * [[signSketch]] weight family, so angles are approximately preserved
   * for `k >> log n` (Achlioptas-style sparse projection) and any engine
   * replays the exact values. The pre-ANN compaction step at scale:
   * project 768-dim embeddings to 32-64 dims, index/scan the projection
   * (an order of magnitude less IO per row), rerank survivors on the full
   * vector — [[projectedTopK]] wires exactly that.
   */
  def randomProject(vec: Column, k: Int): Column =
    graft.functions.vectors.random_project(vec, k)

  /** Built-in-function specification of [[randomProject]] (spec cross-check + oracle twin). */
  private[graft] def randomProjectComposed(vec: Column, k: Int): Column = {
    val dims = sequence(lit(0), size(vec) - 1)
    val comps = (0 until k).map { i =>
      aggregate(dims, lit(0.0), (acc, d) =>
        acc + element_at(vec, d + 1).cast("double") *
          ((((lit(i * 37) + d * 11) % 101) % 7) - 3).cast("double"))
    }
    array(comps: _*)
  }

  /**
   * ANN through the projection: candidates rank by cosine in `projDims`-dim
   * projected space (cheap scan), the best `candidates` per query rerank by
   * exact cosine on the full vector ([[rerank]]). Same two-phase shape as
   * [[hammingTopK]] with a finer-grained proxy: projected cosine degrades
   * smoothly, Hamming quantizes to `nbits` levels.
   */
  def projectedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      projDims: Int = 8,
      candidates: Int = 50): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      randomProject(col(vecCol), projDims).as("__qp")))
    val projected = corpus.select(col(idCol).as("neighbor_id"),
      randomProject(col(vecCol), projDims).as("__np"))
    val scoredP = q.join(projected, col("query_id") =!= col("neighbor_id"))
      .withColumn("pcos", round(cosine(col("__qp"), col("__np")), 4))
    val cand = TopK.ranked(scoredP, Seq("query_id"),
      Seq(col("pcos").desc, col("neighbor_id")), Seq("neighbor_id"), candidates)
    rerank(cand, q, corpus, idCol, vecCol, k, Seq("neighbor_id", "cosine"))
  }

  /** Exact-cosine top-`k` of a `(query_id, neighbor_id, ...)` shortlist: the
    * query vectors re-attach by broadcast (the shortlist is queries x
    * candidates rows), the corpus vectors by an equi-join on it. */
  private def rerank(shortlist: DataFrame, q: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, carry: Seq[String]): DataFrame =
    byCosine(shortlist
      .join(broadcast(q.select(col("query_id"), col("query_vec"))), Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec")),
        Seq("neighbor_id"))
      .withColumn("cosine", round(cosine(col("query_vec"), col("neighbor_vec")), 4)), k, carry)

  /**
   * Quantized ANN: rank candidates by Hamming distance between `nbits`-bit
   * sign sketches (cosine's quantized proxy — for unit-ish vectors the
   * angle is proportional to the expected sign-disagreement rate), then
   * exact-cosine rerank the best `candidates` per query ([[rerank]]).
   *
   * This is the memory-bound scale path: the corpus scan touches an 8-byte
   * sketch per row instead of the full float vector (64x smaller at 128
   * dims — in production the sketch column is materialized once next to
   * the corpus), and full vectors are fetched by equi-join for the
   * candidate set only. Every step is deterministic integer math, so the
   * whole pass replays in SQL.
   */
  def hammingTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nbits: Int = 48,
      candidates: Int = 50): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      signSketch(col(vecCol), nbits).as("__qs")))
    val sketches = corpus.select(col(idCol).as("neighbor_id"),
      signSketch(col(vecCol), nbits).as("__ns"))
    val scoredH = q.join(sketches, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", bit_count(col("__qs").bitwiseXOR(col("__ns"))).cast("long"))
    val cand = TopK.ranked(scoredH, Seq("query_id"),
      Seq(col("hamming"), col("neighbor_id")), Seq("hamming", "neighbor_id"), candidates)
    rerank(cand, q, corpus, idCol, vecCol, k, Seq("neighbor_id", "hamming", "cosine"))
  }

  /**
   * Multiprobe LSH ANN: each query also probes the buckets at Hamming
   * distance 1 from its own (flip each of the `nbits` sign bits), trading
   * `nbits+1` x candidate volume for much higher recall at the same bucket
   * granularity — the standard way to keep buckets small AND recall high.
   */
  def annTopKMultiprobe(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nbits: Int = 8): DataFrame = {
    val flips = array((0 until nbits).map(i => lit(1L << i)) :+ lit(0L): _*)
    val q = broadcast(
      withLshBucket(queries, vecCol, nbits)
        .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
          explode(transform(flips, f => col("bucket").bitwiseXOR(f))).as("bucket")))
    val c = withLshBucket(corpus, vecCol, nbits)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"), col("bucket"))
    val scored = q
      .join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("query_vec"), col("neighbor_vec")), 4))
    byCosine(scored.select(col("query_id"), col("neighbor_id"), col("cosine")).distinct(), k)
  }

  /**
   * IVF (inverted-file) index: k-means centroids partition the corpus into
   * cells; queries search only the `nprobe` nearest cells. The scale path
   * when random-hyperplane buckets are too coarse: cells adapt to the data
   * distribution, and the corpus can be written bucketed/partitioned by
   * `centroid_id` so probes touch only matching files.
   *
   * Uses MLlib k-means (deterministic seed). The centroid set (k rows) stays
   * tiny and broadcasts; the corpus is never collected.
   */
  def ivfAssign(
      corpus: DataFrame,
      vecCol: String,
      k: Int = 16,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val featurized = corpus.withColumn("__features", array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(20).setFeaturesCol("__features")
      .fit(featurized)
    val assigned = model.transform(featurized)
      .withColumnRenamed(model.getPredictionCol, "centroid_id")
      .drop("__features")
    val centroids = corpus.sparkSession.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.map(_.toFloat)) }.toSeq)
      .toDF("centroid_id", "centroid")
    (assigned, centroids)
  }

  /**
   * Deterministic IVF centroids without k-means training: the `k`
   * smallest-id corpus vectors seed the cells directly (the "train on a
   * sample" shortcut production IVF indexes use, with the sample pinned for
   * reproducibility), numbered 0..k-1 by one global [[TopK.ranked]] list. Assignment is nearest-centroid by cosine with an id
   * tiebreak — every step engine-portable, so a SQL oracle can replay it
   * bit-for-bit, unlike [[ivfAssign]]'s MLlib k-means. Cell quality is lower
   * than trained centroids; use this for verification paths and k-means for
   * recall-critical production indexes.
   */
  def ivfAssignSeeded(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 16): (DataFrame, DataFrame) = {
    // one global k-capped list: per-partition partials, never a corpus sort
    val centroids = broadcast(TopK.ranked(corpus, Nil, Seq(col(idCol)), Seq(vecCol), k)
      .select((col("rank") - 1).as("centroid_id"), col(vecCol).as("centroid")))
    (assignToCentroids(corpus, idCol, vecCol, centroids), centroids)
  }

  /**
   * Nearest-centroid assignment against an EXISTING centroid table
   * (`centroid_id`, `centroid`) — the piece that makes an IVF index
   * incremental: new batches assign against the STORED centroids, so cell
   * membership never drifts between runs. Same deterministic rule as
   * [[ivfAssignSeeded]] (4-dp-rounded cosine, centroid-id tiebreak);
   * centroids broadcast, the per-id window sees k rows.
   */
  def assignToCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    val assignW = Window.partitionBy(col(idCol)).orderBy(col("__cos").desc, col("centroid_id"))
    corpus
      .join(broadcast(centroids), lit(true))
      .withColumn("__cos", round(cosine(col(vecCol), col("centroid")), 4))
      .withColumn("__rn", row_number().over(assignW))
      .filter(col("__rn") === 1)
      .drop("__cos", "__rn", "centroid")
  }

  /**
   * Literal-centroid nearest-cell assignment: the centroid table collapsed
   * into the expression itself (k x dim floats — a few KB), so assignment
   * is pure per-row math with NO join and NO window: the form a STREAMING
   * tier needs (windows are unsupported on streams) and the fastest batch
   * form when k is small. Same rule bit-for-bit: 4-dp-rounded cosine,
   * smallest-centroid-id tiebreak.
   */
  def nearestCentroidCol(vec: Column, centroids: Seq[(Int, Seq[Float])]): Column = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    // max over (cosine, -id) structs == highest cosine, then smallest id
    val scored = array(centroids.map { case (cid, c) =>
      struct(round(cosine(vec, typedLit(c)), 4).as("c"), lit(-cid).as("nid"))
    }: _*)
    (-array_max(scored).getField("nid")).cast("int")
  }

  /**
   * ANN top-k over an IVF-assigned corpus: each query probes its `nprobe`
   * nearest centroids (k x |queries| tiny cross score, centroids broadcast),
   * then exact cosine reranks within the probed cells only. Centroid
   * distances rank on 4-dp-rounded cosine with a centroid-id tiebreak so
   * probe selection is deterministic and engine-portable; probes and
   * rerank both rank through [[TopK.ranked]].
   */
  def ivfTopK(
      queries: DataFrame,
      assigned: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val probes = TopK.ranked(
      q.join(broadcast(centroids), lit(true))
        .withColumn("c_dist", round(cosine(col("query_vec"), col("centroid")), 4)),
      Seq("query_id"), Seq(col("c_dist").desc, col("centroid_id")),
      Seq("centroid_id", "query_vec"), nprobe)
    val cells = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"),
      col("centroid_id"))
    byCosine(broadcast(probes)
      .join(cells, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("query_vec"), col("neighbor_vec")), 4)), k)
  }

  /**
   * Recall@k of an approximate ANN run against exact ground truth — the
   * index-quality measurement behind every `nprobe`/`nbits`/`candidates`
   * knob: per query, how many of the TRUE top-k neighbors the approximate
   * shortlist recovered. Both inputs are `(query_id, neighbor_id, ...)`
   * run frames (any of [[bruteForceTopK]] / [[ivfTopK]] / [[annTopK]] /
   * [[annTopKMultiprobe]] / [[hammingTopK]] / [[projectedTopK]]); extra
   * columns are ignored, duplicate pairs collapse. Output per query:
   * `n_truth`, `hits` (|truth ∩ approx|), and the exact integer
   * `recall_ppm = hits·1e6 DIV n_truth`.
   *
   * Scale: run frames are |queries|·k rows HOWEVER big the corpus, so
   * this eval join is run-sized — at 100 TB the nprobe/recall trade is
   * measured on a broadcastable query sample (truth from one
   * [[bruteForceTopK]] pass over that sample) with no second corpus scan,
   * and the two k-capped runs stay the only distributed work.
   */
  def annRecall(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("neighbor_id")).distinct()
    // the approx run is |queries|*k rows by construction — broadcast it,
    // so the eval join never shuffles the (equally small) truth side
    val a = broadcast(approx.select(col("query_id"), col("neighbor_id")).distinct()
      .withColumn("__hit", lit(1L)))
    t.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .withColumn("recall_ppm", expr("hits * 1000000 DIV n_truth"))
  }

  /** Embedding-based near-duplicate pairs: same-bucket pairs above a cosine threshold. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nbits: Int = 8): DataFrame = {
    val bucketed = withLshBucket(df, vecCol, nbits)
      .select(col(idCol), col(vecCol), col("bucket"))
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("vec_a"), col("vec_b")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
  }

  /**
   * SemDeDup-style semantic deduplication: cluster the corpus into IVF cells
   * ([[ivfAssignSeeded]] so the whole pass is deterministic and
   * engine-replayable), then inside each cell drop every vector whose cosine
   * to a smaller-id cell-mate reaches `threshold` — the "keep the first of
   * each semantic duplicate set" rule. Returns the surviving rows.
   *
   * Scale: pairwise comparison happens only WITHIN a cell (the self-join is
   * an equi-join on `centroid_id`), so work is sum of cell^2, not corpus^2;
   * `k` scales with corpus size to bound cells (SemDeDup uses ~50k cells for
   * web-scale corpora). Skewed cells fall to AQE skew-join handling.
   */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    val (assigned, _) = ivfAssignSeeded(corpus, idCol, vecCol, k)
    // anti-join against the RAW corpus scan (not the assigned frame): same
    // result, and the assignment lineage is not re-evaluated a third time
    corpus.join(semanticDropIds(assigned, idCol, vecCol, threshold), Seq(idCol), "left_anti")
  }

  /** Ids losing the within-cell smaller-id cosine contest — the shared core
    * of [[semanticDedup]] and [[semanticDedupAssigned]]. */
  private def semanticDropIds(
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val slim = assigned.select(col("centroid_id"), col(idCol), col(vecCol))
    slim.select(col("centroid_id"), col(idCol), col(vecCol).as("__v_b"))
      .join(slim.select(col("centroid_id"), col(idCol).as("__id_a"), col(vecCol).as("__v_a")),
        Seq("centroid_id"))
      .filter(col("__id_a") < col(idCol))
      .filter(round(cosine(col("__v_a"), col("__v_b")), 4) >= threshold)
      .select(col(idCol)).distinct()
  }

  /**
   * The within-cell half of [[semanticDedup]] over an ALREADY-ASSIGNED
   * frame (a `centroid_id` column present — from [[ivfAssignSeeded]],
   * [[assignToCentroids]] or a persisted assignment): drop every row whose
   * 4-dp cosine to a smaller-id cell-mate reaches `threshold`, keeping the
   * assignment column in the output. This is the piece an incremental job
   * reuses per batch once the centroids are pinned in a store.
   */
  def semanticDedupAssigned(
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9): DataFrame =
    assigned.join(semanticDropIds(assigned, idCol, vecCol, threshold), Seq(idCol), "left_anti")

  /**
   * Embedding-hygiene check: flag vectors whose L2 norm is a Tukey outlier
   * (outside `[Q1 - 1.5 IQR, Q3 + 1.5 IQR]`) within their label group —
   * broken encoders, zero-padding bugs and scale drift all surface as norm
   * outliers before they poison an ANN index or a training mix.
   *
   * Quartiles are DISCRETE (the element at `floor(p * (n-1))` in norm
   * order) over exact fixed-point micro-unit norms, and the Tukey fences
   * compare in doubled integers, so the flags are bit-identical on any
   * engine/partitioning — no interpolation arithmetic to drift. One window
   * shuffle on the label plus a tiny per-label quartile agg broadcast back.
   */
  def normOutliers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val norms = df.select(col(idCol), col(labelCol),
      round(l2Norm(col(vecCol)) * 1000000, 0).cast("long").as("norm_e6"))
    val w = Window.partitionBy(col(labelCol)).orderBy(col("norm_e6"), col(idCol))
    val wAll = Window.partitionBy(col(labelCol))
    val ranked = norms
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
    val quart = ranked.groupBy(col(labelCol)).agg(
      max(when(col("__rn") === expr("(__n - 1) * 25 DIV 100") + 1, col("norm_e6"))).as("__q1"),
      max(when(col("__rn") === expr("(__n - 1) * 75 DIV 100") + 1, col("norm_e6"))).as("__q3"))
    ranked.join(broadcast(quart), Seq(labelCol))
      // doubled-integer Tukey fences: lo = q1 - 1.5 iqr, hi = q3 + 1.5 iqr
      .withColumn("is_outlier",
        (col("norm_e6") * 2 < col("__q1") * 2 - (col("__q3") - col("__q1")) * 3) ||
          (col("norm_e6") * 2 > col("__q3") * 2 + (col("__q3") - col("__q1")) * 3))
      .select(col(idCol), col(labelCol), col("norm_e6"), col("is_outlier"))
  }

  /**
   * One Lloyd (k-means) update step over an IVF assignment: recompute each
   * cell's centroid as the element-wise mean of its member vectors,
   * surfaced as one row per `(cell, dim)` in exact fixed-point micro-units
   * (`round(v * 1e6)` per element, integer sum, exact floor division) so
   * the result is bit-identical regardless of partitioning, summation
   * order or engine — float accumulation would make an iterative fit
   * unreproducible at scale.
   *
   * `posexplode` streams `(cell, dim, value)` triples into a two-key agg
   * with map-side partials — two equi-keyed shuffles over scalar rows, no
   * vector ever leaves the executors; output is k x d rows however large
   * the corpus. Iterating assign/update to convergence is a driver-side
   * loop over this pair.
   */
  def kmeansUpdate(
      assigned: DataFrame,
      vecCol: String,
      cellCol: String = "centroid_id"): DataFrame =
    assigned
      .select(col(cellCol), posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col(cellCol), col("dim"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(round(col("__v").cast("double") * 1000000, 0).cast("long")).as("sum_e6"))
      // portable floor division for signed sums: subtract the non-negative
      // remainder first so the dividend divides exactly — then trunc-vs-floor
      // `DIV` semantics (which differ between engines on negative dividends)
      // cannot matter, and integer DIV avoids double-precision loss
      .withColumn("centroid_e6",
        expr("(sum_e6 - ((sum_e6 % n_members) + n_members) % n_members) DIV n_members").cast("long"))
      .withColumn("dim", col("dim").cast("long"))

  /**
   * One-pass per-group Gram/mean sufficient statistics of an embedding
   * column ([[graft.functions.GramMatrix]] kernel): per group one row
   * `(n, sums_micro[d], gram_micro[d*d] row-major)` — everything
   * covariance, PCA whitening or OPQ rotation training needs, reduced
   * from N vectors to a d²-sized summary in ONE map-side-combined
   * ObjectHashAggregate (no vector ever crosses the wire un-reduced).
   * Per-row contributions are micro-truncated (`floor(x_i*x_j*1e6)` in
   * IEEE doubles) then summed EXACTLY, so the summary is a pure function
   * of the vector multiset — engine-replayable, partition-independent —
   * and summaries from slices merge to the whole-data summary
   * bit-identically (`gram_merge`, the daily→all-time path).
   */
  def gramSums(
      df: DataFrame,
      groupCols: Seq[String],
      vecCol: String,
      dim: Int): DataFrame =
    gramCells(df, groupCols, vecCol, dim).select((groupCols.map(col) :+
      element_at(col("gram"), 1).as("n") :+
      slice(col("gram"), 2, dim).as("sums_micro") :+
      slice(col("gram"), 2 + dim, dim * dim).as("gram_micro")): _*)

  /** The packed `gram = [n | Σx_i | Σx_i·x_j]` aggregate of [[gramSums]]
    * (mergeable with `gram_merge`); null vectors drop. */
  private[graft] def gramCells(
      df: DataFrame, groupCols: Seq[String], vecCol: String, dim: Int): DataFrame =
    df.where(col(vecCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.functions.gram_matrix(col(vecCol), dim).as("gram"))

  /**
   * Finish [[gramSums]] rows into exploded covariance entries: one row
   * per (group, i, j) with the EXACT integer numerator
   * `cov_num = n * gram_ij * 1e6 - s_i * s_j` over the implied
   * denominator `n² * 1e12` (population covariance; callers divide —
   * keeping the quotient symbolic preserves exactness and lets DECIMAL
   * carry magnitudes a double would round). Output also carries
   * `gram_micro`, `si_micro`, `sj_micro` and `n` so the reliability of
   * each entry is auditable. d² rows per group — driver-safe to collect
   * for the eigen step ([[principalDirection]]).
   */
  def covarianceFromGram(gram: DataFrame, groupCols: Seq[String], dim: Int): DataFrame =
    gram
      .select((groupCols.map(col) :+ col("n") :+ col("sums_micro") :+
        posexplode(col("gram_micro")).as(Seq("__pos", "gram_micro"))): _*)
      .withColumn("i", (col("__pos") / dim).cast("long"))
      .withColumn("j", pmod(col("__pos"), lit(dim)).cast("long"))
      .withColumn("si_micro", element_at(col("sums_micro"), (col("i") + 1).cast("int")))
      .withColumn("sj_micro", element_at(col("sums_micro"), (col("j") + 1).cast("int")))
      .withColumn("cov_num",
        (col("n").cast("DECIMAL(38,0)") * col("gram_micro") * lit(1000000L)
          - col("si_micro").cast("DECIMAL(38,0)") * col("sj_micro")))
      .select((groupCols.map(col) ++ Seq(col("i"), col("j"), col("n"),
        col("gram_micro"), col("si_micro"), col("sj_micro"), col("cov_num"))): _*)

  /**
   * Dominant eigenvector of the covariance implied by ONE collected
   * [[gramSums]] row — the driver-side finisher (the d×d matrix is KBs;
   * the cluster's job ended when the gram was reduced): deterministic
   * power iteration from the all-ones start, `iters` fixed rounds, final
   * vector L2-normalized with a sign convention (first nonzero component
   * positive) so the answer is reproducible run to run. Returns null-free
   * `Array[Double]` of length d; callers wanting more components deflate
   * and re-call.
   */
  def principalDirection(
      n: Long,
      sumsMicro: Array[Long],
      gramMicro: Array[Long],
      iters: Int = 50): Array[Double] = {
    val d = sumsMicro.length
    require(gramMicro.length == d * d, s"gram length ${gramMicro.length} != $d^2")
    require(n > 0, "principalDirection needs a non-empty gram")
    // cov_ij in double from the exact integers: (n*gram_ij*1e6 - s_i*s_j) / (n²·1e12)
    val nn = n.toDouble * n.toDouble * 1e12
    val cov = Array.tabulate(d, d) { (i, j) =>
      (n.toDouble * gramMicro(i * d + j) * 1e6 - sumsMicro(i).toDouble * sumsMicro(j)) / nn
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm == 0) return v // degenerate (zero covariance): any direction
      v = w.map(_ / norm)
      it += 1
    }
    val firstNonzero = v.find(math.abs(_) > 1e-12).getOrElse(1.0)
    if (firstNonzero < 0) v.map(-_) else v
  }
}
