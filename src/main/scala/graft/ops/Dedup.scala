package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for LLM training-data pipelines: exact (hash
 * groupBy), near-duplicate via MinHash + LSH banding, SimHash fingerprints
 * and n-gram Jaccard verification.
 *
 * Scale design (100 TB):
 *  - signature computation (shingle -> md5 -> min) is per-row, shuffle-free,
 *    whole-stage-codegen'd — it streams at scan speed;
 *  - LSH candidates come from an equi-join on `(band, band_hash)`, i.e. one
 *    shuffle keyed on a high-cardinality hash — never an all-pairs
 *    `crossJoin`. Bucket sizes are bounded (docs sharing a band hash), and
 *    AQE skew-join handles pathological boilerplate buckets; for known-skewed
 *    corpora, drop buckets larger than a cap before pairing (`maxBucket`);
 *  - the exact-Jaccard verify runs only on candidate pairs.
 *
 * Hashes are md5 (identical hex in every engine) so the driver's DuckDB
 * oracle reproduces signatures bit-for-bit.
 */
object Dedup {

  import TextAnalysis.normalize

  /**
   * Exact dedup: keep one row per normalized text, the one with the smallest
   * `keyCol` (deterministic keeper). A `min_by` aggregation, not a window:
   * the arg-min combines map-side before the shuffle and never sorts or
   * buffers whole partitions of document text — the difference between one
   * partial-agg shuffle and a full-corpus sort at 100 TB.
   */
  def exact(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    argMinByFingerprint(df, textCol, col(keyCol))

  /**
   * Exact dedup keeping the BEST row of each duplicate set instead of the
   * smallest-keyed one: the curation variant ("of these identical texts,
   * keep the one from the highest-quality source / with the richest
   * metadata"). `scoreCol` must be numeric; ties fall to the smallest
   * `keyCol` so the keeper is always deterministic. Same single
   * partial-agg shuffle as [[exact]] — the arg-min runs on a
   * `(null-flag, -score, key)` struct, combining map-side, no window sort;
   * integral scores negate in DECIMAL(38,0) so even MinValue orders
   * correctly (see [[descendingScore]]).
   *
   * A row with a NULL score loses to every scored duplicate (the leading
   * null-flag sorts scored rows first — a bare `-score` would put null
   * first in struct ordering and make the UNscored row win); among
   * all-null duplicate sets the smallest `keyCol` still wins.
   */
  def exactKeepBest(df: DataFrame, textCol: String, scoreCol: String, keyCol: String): DataFrame =
    argMinByFingerprint(df, textCol,
      struct(col(scoreCol).isNull.cast("int").as("__scoreless"),
        descendingScore(col(scoreCol), df.schema(scoreCol).dataType).as("__neg"),
        col(keyCol).as("__key")))

  /**
   * Overflow-safe descending-order key for an arg-MIN aggregate: integral
   * scores negate in DECIMAL(38,0) — a raw two's-complement negation of
   * `Long.MinValue` wraps to itself and would sort that score as the BEST
   * row instead of the worst. Fractional and decimal ranges are symmetric,
   * so they negate natively (keeping exact float semantics). Null scores
   * coalesce to 0 only as a struct-field placeholder; callers gate on a
   * leading null-flag field.
   */
  private[ops] def descendingScore(
      score: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        -coalesce(score.cast(DecimalType(38, 0)), lit(0))
      case _ => -coalesce(score, lit(0))
    }
  }

  /** One shared arg-min scaffold: group on the normalized-text fingerprint,
    * keep the row minimizing `ordering` (map-side partial agg, no window). */
  private def argMinByFingerprint(df: DataFrame, textCol: String, ordering: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(normalize(col(textCol))).as("__fp"))
      .agg(min_by(struct(cols.map(col): _*), ordering).as("__row"))
      .select(cols.map(c => col(s"__row.$c")): _*)
  }

  /** Distinct character `k`-shingles of the normalized text (min 1 shingle for short docs). */
  def shingles(text: Column, k: Int = 8): Column = {
    val norm = normalize(text)
    val starts = sequence(lit(1), greatest(length(norm) - (k - 1), lit(1)))
    array_distinct(transform(starts, i => substring(norm, i, lit(k))))
  }

  /**
   * Word `n`-gram shingles — the default unit for near-dup detection. A
   * ~500-char document yields ~80 word 5-grams vs ~490 char 8-shingles, so
   * signatures cost ~6x fewer digests at equal (word-level) sensitivity;
   * this is the shingling used by the standard large-corpus dedup recipes.
   * Native kernel; may contain duplicates (all downstream uses — min,
   * array_intersect, array_union — are multiset-safe).
   */
  def wordShingles(text: Column, n: Int = 5, scriptAware: Boolean = false): Column =
    graft.functions.functions.word_shingles(text, n, scriptAware)

  /** Built-in-function specification of [[wordShingles]] (spec cross-check). */
  private[graft] def wordShinglesComposed(text: Column, n: Int = 5): Column = {
    val toks = TextAnalysis.tokens(text)
    val starts = sequence(lit(1), greatest(size(toks) - (n - 1), lit(1)))
    array_distinct(transform(starts, i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /**
   * MinHash signature component `j`: the lexicographic minimum, over the
   * document's shingles, of an 8-hex-char hash of the shingle. Minima of
   * independent keyed hashes approximate permutation minima, so equality
   * rate across docs estimates Jaccard similarity.
   *
   * One md5 yields FOUR independent signature components (its 32 hex chars
   * split into 8-char words), so an n-hash signature costs ceil(n/4) md5
   * evaluations per shingle instead of n — md5 dominates the cost of the
   * whole dedup scan, and this stays bit-portable to any engine
   * (lexicographic min of fixed-width hex == numeric min).
   */
  def minhash(shingleArr: Column, j: Int): Column = {
    val (block, word) = (j / 4, j % 4)
    array_min(transform(shingleArr,
      s => substring(md5(concat(s, lit(s":$block"))), word * 8 + 1, 8)))
  }

  /**
   * Add `mh0..mh{n-1}` signature columns over word 5-gram shingles, via the
   * native single-pass [[graft.functions.MinHashSignature]] kernel
   * (~30x the throughput of the equivalent higher-order-function
   * formulation; bit-identical output — see [[minhash]] for the math).
   */
  def withMinhashSignature(df: DataFrame, textCol: String, numHashes: Int = 12,
      scriptAware: Boolean = false): DataFrame = {
    val sig = graft.functions.functions.minhash_signature(col(textCol), numHashes,
      scriptAware = scriptAware)
    df.withColumn("__sig", sig)
      .select(col("*") +: (0 until numHashes).map(j => element_at(col("__sig"), j + 1).as(s"mh$j")): _*)
      .drop("__sig")
  }

  /**
   * Pick `(bands, rowsPerBand)` for an `numHashes`-component signature so
   * the LSH collision S-curve centers on `threshold`: with `b` bands of `r`
   * rows the curve's inflection sits near `(1/b)^(1/r)` (MMDS ch. 3), so
   * choose the divisor pair whose implied threshold is closest. More rows
   * per band -> fewer false candidates below the threshold; fewer rows ->
   * better recall above it.
   */
  def tuneBands(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes > 0 && threshold > 0 && threshold < 1,
      "need a positive signature and a threshold in (0, 1)")
    val (b, r) = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
      .minBy { case (b, r) => math.abs(math.pow(1.0 / b, 1.0 / r) - threshold) }
    (b, r)
  }

  /**
   * LSH banding: hash `rowsPerBand` consecutive signature components per band;
   * docs colliding in any band become candidate pairs. With `b` bands of `r`
   * rows, a pair of Jaccard `s` collides with probability `1-(1-s^r)^b`.
   */
  def bandHashes(numHashes: Int, rowsPerBand: Int): Seq[Column] = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide evenly into bands")
    (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      md5(concat_ws("|", cols: _*)).as(s"band$b")
    }
  }

  /**
   * `(id, band, bh)` banding rows for every document — the shared builder
   * behind [[lshCandidatePairs]] and incremental band stores (a fix to
   * banding must hit both, or cross-date and within-day hashes diverge).
   */
  def bandedIds(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      scriptAware: Boolean = false): DataFrame = {
    val bands = numHashes / rowsPerBand
    val sig = withMinhashSignature(df.select(idCol, textCol), textCol, numHashes, scriptAware)
    sig
      .select(col(idCol) +: bandHashes(numHashes, rowsPerBand): _*)
      .select(col(idCol), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), col(s"band$b").as("bh"))): _*)).as("e"))
      .select(col(idCol), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /**
   * Candidate near-duplicate pairs `(id_a < id_b)` from LSH bucket collisions.
   *
   * Buckets larger than `maxBucket` (boilerplate text) are degenerate: a
   * bucket of n docs yields n²/2 pairs on ONE reducer key. Two policies:
   *
   *  - `saltHotBuckets = false` (default): DROP over-cap buckets before
   *    pairing. Cheap, but a RECALL LOSS — any true near-dup pair whose
   *    only collisions happen inside hot buckets is never proposed
   *    (DedupSpec measures the loss on a boilerplate-heavy corpus).
   *  - `saltHotBuckets = true`: keep every bucket and pair hot ones via a
   *    salted self-join (the [[Skew]] replicate-join pattern, with a
   *    DETERMINISTIC per-id salt so each pair is produced exactly once):
   *    the probe side spreads over `ceil(bucket_n / maxBucket)` salts, the
   *    build side replicates across them, so no reducer key sees more than
   *    ~`maxBucket` build rows however hot the bucket. Zero recall loss;
   *    the replicated shuffle volume (`bucket_n² / maxBucket` rows) is
   *    bounded by the pair output the bucket was always going to emit —
   *    you pay for the pairs you asked to keep, spread evenly, instead of
   *    silently not computing them.
   */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      maxBucket: Int = 1000,
      saltHotBuckets: Boolean = false,
      scriptAware: Boolean = false): DataFrame =
    lshCandidatePairsFromBands(
      bandedIds(df, idCol, textCol, numHashes, rowsPerBand, scriptAware),
      idCol, maxBucket, saltHotBuckets)

  /**
   * [[lshCandidatePairs]] from a PRECOMPUTED `(id, band, bh)` frame (the
   * [[bandedIds]] shape) — the shingle-once entry point for callers that
   * already hold the day's band rows (an incremental job feeds the same
   * frame to its cross-day store semi-join, its store append, and the
   * within-day candidate self-join; re-deriving bands from text would
   * triple the dominant per-row minhash cost at corpus scale). Bucket caps
   * and hot-bucket salting behave exactly as in [[lshCandidatePairs]],
   * computed over the rows given.
   */
  def lshCandidatePairsFromBands(
      bands: DataFrame,
      idCol: String,
      maxBucket: Int = 1000,
      saltHotBuckets: Boolean = false): DataFrame = {
    val banded = bands
      .withColumn("bucket_n", count("*").over(Window.partitionBy(col("band"), col("bh"))))
    val cold = banded.filter(col("bucket_n") <= maxBucket).drop("bucket_n")
    val a = cold.select(col("band"), col("bh"), col(idCol).as("id_a"))
    val b = cold.select(col("band"), col("bh"), col(idCol).as("id_b"))
    val coldPairs = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val pairs =
      if (!saltHotBuckets) coldPairs
      else {
        val hot = banded.filter(col("bucket_n") > maxBucket)
          .withColumn("__nsalt",
            ceil(col("bucket_n").cast("double") / maxBucket).cast("int"))
        val hotA = hot.select(col("band"), col("bh"), col(idCol).as("id_a"),
          explode(sequence(lit(0), col("__nsalt") - 1)).as("__salt"))
        val hotB = hot.select(col("band"), col("bh"), col(idCol).as("id_b"),
          pmod(hash(col(idCol)), col("__nsalt")).as("__salt"))
        coldPairs.union(
          hotA.join(hotB, Seq("band", "bh", "__salt"))
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b")))
      }
    pairs.distinct()
  }

  /** Exact Jaccard similarity between two shingle/token arrays. */
  def jaccard(a: Column, b: Column): Column =
    round(
      size(array_intersect(a, b)).cast("double") /
        greatest(size(array_union(a, b)), lit(1)),
      4)

  /**
   * Near-duplicate pairs: LSH candidates verified by exact shingle Jaccard
   * at `threshold`. The verify join touches only candidate rows.
   */
  def nearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      maxBucket: Int = 1000,
      saltHotBuckets: Boolean = false,
      scriptAware: Boolean = false): DataFrame = {
    val candidates =
      lshCandidatePairs(df, idCol, textCol, numHashes, rowsPerBand, maxBucket,
        saltHotBuckets, scriptAware)
    verifyCandidates(candidates, df, idCol, textCol, threshold, scriptAware)
  }

  /** The exact-Jaccard verify join shared by the from-text and from-bands
    * pair builders: touches only candidate rows. */
  private def verifyCandidates(
      candidates: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      scriptAware: Boolean): DataFrame = {
    val docs = df.select(col(idCol),
      wordShingles(col(textCol), scriptAware = scriptAware).as("sh"))
    candidates
      .join(docs.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * 32-bit SimHash: one bit per md5 hex digit parity, majority-voted across
   * tokens. Near-duplicates land within a small Hamming distance. Uses only
   * engine-portable primitives (md5, substring, char position) so the oracle
   * can reproduce it.
   *
   * Each token is digested exactly once: the fold accumulates the 32 per-bit
   * vote counters as an array, instead of re-hashing every token per bit
   * (which would cost 32 digests per token).
   */
  def simhash32(text: Column, scriptAware: Boolean = false): Column =
    graft.functions.functions.simhash32(text, scriptAware)

  /**
   * The same SimHash as a composition of built-in higher-order functions —
   * kept as the executable specification of the native kernel (the
   * [[DedupSpec]] cross-checks them; the DuckDB oracle mirrors this form).
   */
  private[graft] def simhash32Composed(text: Column): Column = {
    val hexDigits = "0123456789abcdef"
    // vote of token-hash h for bit j (1-indexed): +1 or -1 by hex digit parity
    def vote(h: Column, j: Column): Column =
      ((instr(lit(hexDigits), h.substr(j, lit(1))) - 1) % 2) * 2 - 1
    // digest FIRST (one md5 per token), then fold over the hash values: an
    // md5 buried inside the inner lambda would re-evaluate per (token, bit).
    val votes = aggregate(
      transform(TextAnalysis.tokens(text), t => md5(t)),
      array_repeat(lit(0L), 32),
      (acc, h) => zip_with(acc, sequence(lit(1), lit(32)), (a, j) => a + vote(h, j)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(31)),
        (v, i) => when(v > 0, pow(lit(2.0), i).cast("long")).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /**
   * 64-bit SimHash: 4 bits per md5 hex digit — same one-digest-per-token
   * cost as [[simhash32]], but wide enough to band into 4 x 16-bit bands
   * (65536 values each) for [[simhashNearDupPairs]]. Native kernel;
   * [[simhash64Composed]] is its executable specification.
   */
  def simhash64(text: Column, scriptAware: Boolean = false): Column =
    graft.functions.functions.simhash64(text, scriptAware)

  /** Built-in-function specification of [[simhash64]] (spec + oracle twin). */
  private[graft] def simhash64Composed(text: Column): Column = {
    val hexDigits = "0123456789abcdef"
    // vote of token-hash h for bit j (0-indexed): bit j%4 of hex digit j/4
    def vote(h: Column, j: Column): Column = {
      val digit = instr(lit(hexDigits), h.substr((floor(j / 4) + 1).cast("int"), lit(1))) - 1
      (floor(digit / pow(lit(2.0), j % 4)).cast("long") % 2) * 2 - 1
    }
    val votes = aggregate(
      transform(TextAnalysis.tokens(text), t => md5(t)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (a, j) => a + vote(h, j)))
    // powers of two are exact doubles up to 2^62; bit 63 is the sign bit
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, i) =>
        when(v > 0, when(i === 63, lit(Long.MinValue)).otherwise(pow(lit(2.0), i).cast("long")))
          .otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-duplicate pairs: fingerprints within `maxHamming` bits.
   * The 64-bit simhash splits into 4 x 16-bit bands; by pigeonhole, any
   * pair within Hamming distance 3 agrees on at least one whole band, so
   * the equi-join on `(band, value)` has EXACT recall for `maxHamming <= 3`
   * — one shuffle keyed on the band value, never an all-pairs scan. 16-bit
   * bands (65536 values) keep buckets bounded on large corpora — byte-bands
   * of a 32-bit hash (256 values) measured a 1.6e9-pair candidate blow-up
   * at just 100k docs. (For larger `maxHamming`, add bands/permutations;
   * above 3 this band layout loses its recall guarantee, so it is rejected.)
   */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      scriptAware: Boolean = false): DataFrame = {
    require(0 <= maxHamming && maxHamming <= 3,
      "4 bands guarantee recall only for maxHamming <= 3")
    val sh = df.select(col(idCol), simhash64(col(textCol), scriptAware).as("__sh"))
    val banded = sh.select(col(idCol), col("__sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftright(col("__sh"), b * 16).bitwiseAND(lit(65535L)).as("bb"))): _*)).as("e"))
      .select(col(idCol), col("__sh"), col("e.band").as("band"), col("e.bb").as("bb"))
    val a = banded.select(col("band"), col("bb"), col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val b = banded.select(col("band"), col("bb"), col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    a.join(b, Seq("band", "bb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hammingDistance(col("__sh_a"), col("__sh_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /**
   * Duplicate clusters from near-dup pairs: connected components, each doc
   * labeled with its cluster's minimum id (the canonical keeper). Iterative
   * min-label propagation over the pair edges — converges in
   * O(log(diameter)) joins, and dup clusters are short chains in practice,
   * so the default iteration cap is generous. Unlike a GraphX round trip
   * this stays in DataFrame land (AQE, broadcast, codegen all apply).
   *
   * Input: `(id_a, id_b)` pairs. Output: `(id, cluster_id)` for every id
   * appearing in any pair; singletons are their own cluster by omission.
   *
   * Durability: each round truncates lineage with a checkpoint, so the
   * iteration is NOT recomputable from source. The rounds follow
   * [[graft.util.Barrier]]: LOCAL (executor block storage) by default —
   * fastest, fine on `local[*]` or short jobs, but on a large cluster
   * losing ONE executor mid-iteration kills the job, with no lineage left
   * to recompute the lost blocks. With `spark.checkpoint.dir` set to a
   * reliable filesystem path (HDFS/object store) rounds pay one
   * distributed write each but survive executor loss.
   */
  def duplicateClusters(
      pairs: DataFrame,
      maxIterations: Int = 10): DataFrame =
    // the dedup-facing face of the shared fixpoint-components primitive
    // (min-label propagation + pointer jumping, Graphs.connectedComponents)
    Graphs.connectedComponents(pairs, "id_a", "id_b", maxIterations)
      .select(col("id"), col("component").as("cluster_id"))

  /**
   * Span-level exact substring deduplication — the "dedup the repeated
   * passages, not just the documents" recipe (Lee et al. 2022, done there
   * with suffix arrays), re-expressed shuffle-friendly at `w`-token window
   * granularity: any `w`-token window whose content already occurred
   * earlier in the corpus (in `(id, position)` total order) is a duplicate
   * span; every token covered by one is dropped, and each document's
   * surviving tokens reassemble in order. The first occurrence of every
   * span survives, so shared boilerplate / quoted passages are kept exactly
   * once corpus-wide — a dedup granularity document-level hashing cannot
   * reach (docs sharing a paragraph are NOT near-duplicates).
   *
   * Output: `(idCol, n_tokens, n_kept, clean_text)` for every input row;
   * `clean_text` is the kept tokens joined by spaces. Tokens are the
   * normalized lowercase-alphanumeric stream ([[TextAnalysis.tokens]]) —
   * this operator feeds training pipelines, which retokenize anyway.
   * Documents shorter than `w` tokens pass through untouched.
   *
   * Scale: no suffix array and no global sort. Window hashes come from `w-1`
   * `lead`s over the per-document token stream (one shuffle on the doc id,
   * reused by the rebuild); keep-first is one `row_number` keyed on the
   * window hash — high-cardinality, skewed only where text genuinely
   * repeats. Covered tokens come from an interval sweep, not a per-position
   * explode: duplicate spans union into the token stream and one running
   * `max(span end)` window per document marks coverage — O(tokens + spans)
   * rows through one doc-keyed shuffle, where the explode form ships
   * `w x spans` rows into a distinct plus an anti join. That sweep, plus
   * carrying the token count from the pre-explode array instead of a
   * count() window, measured 42 s -> 17 s on the all-duplicate 20x
   * ScaleCheck corpus. Everything is
   * md5/substring arithmetic, so a SQL oracle replays it bit-for-bit.
   */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    require(w >= 2, "span window must cover at least 2 tokens")
    val tokpos = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__n"),
        posexplode(col("__toks")).as(Seq("__tp0", "__tok")))
      .select(col(idCol), col("__n"), (col("__tp0") + 1).as("__tp"), col("__tok"))
    // hash of the w-token window starting at each position: the codegen'd
    // WordNgrams kernel emits exactly the space-joined w-grams the previous
    // lead()-window formulation concatenated (bit-identical tokenization,
    // TextAnalysisSpec), already stopping at n-w+1 — so the per-token
    // doc-keyed sort the lead window needed disappears from the plan
    // entirely (measured 2.04 -> 1.30 s on the battery query)
    val wins = df
      .select(col(idCol),
        posexplode(graft.functions.functions.word_ngrams(col(textCol), w))
          .as(Seq("__tp0", "__gram")))
      .select(col(idCol), (col("__tp0") + 1).as("__pos"), md5(col("__gram")).as("__h"))
    val dupSpans = wins
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("__h")).orderBy(col(idCol), col("__pos"))))
      .filter(col("__rn") > 1)
    // interval sweep: spans (__k=0) sort before the token at the same
    // position (__k=1), so the running max span-end at a token row covers
    // exactly the tokens inside any earlier-starting duplicate span
    val spanEvents = dupSpans.select(col(idCol), col("__pos").as("__ord"),
      lit(0).as("__k"), (col("__pos") + (w - 1)).as("__end"),
      lit(null).cast("string").as("__tok"))
    val tokenEvents = tokpos.select(col(idCol), col("__tp").as("__ord"),
      lit(1).as("__k"), lit(null).cast("long").as("__end"), col("__tok"))
    val sweepW = Window.partitionBy(col(idCol)).orderBy(col("__ord"), col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rebuilt = spanEvents.unionByName(tokenEvents)
      .withColumn("__covend", max(col("__end")).over(sweepW))
      .filter(col("__k") === 1 &&
        (col("__covend").isNull || col("__covend") < col("__ord")))
      .select(col(idCol), col("__ord").as("__tp"), col("__tok"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__tp"), col("__tok")))),
            e => e.getField("__tok"))).as("clean_text"))
    df.select(col(idCol), size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .na.fill(0L, Seq("n_kept"))
      .na.fill("", Seq("clean_text"))
      .select(col(idCol), col("n_tokens"), col("n_kept").cast("long").as("n_kept"),
        col("clean_text"))
  }

  /**
   * Leakage-safe train/valid/test split: near-duplicate documents land in
   * the SAME split, so a test document never has a near-copy in train —
   * the contamination a plain per-document hash split cannot prevent (near
   * duplicates hash independently and straddle the boundary). Splitting on
   * the duplicate-cluster representative ([[duplicateClusters]]; a doc in
   * no cluster is its own group) keys the whole cluster to one hash draw.
   *
   * Adds `group_id` (the split unit) and `split` to every input row. The
   * assignment is a pure function of the data ([[TextAnalysis.hashSplit]]
   * md5 buckets), so reruns and engines agree bit-for-bit.
   *
   * Scale: the clustering is the LSH near-dup pipeline (bucketed
   * equi-joins, O(log d) label rounds); the split itself is per-row math
   * on the cluster label — one broadcast-or-shuffle equi-join over the
   * (small) clustered subset beyond the pipeline's own cost. The label
   * iteration's durability is [[duplicateClusters]]'.
   */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[(String, Int)],
      threshold: Double = 0.8,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      scriptAware: Boolean = false): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold, numHashes, rowsPerBand,
      scriptAware = scriptAware)
    val clusters = duplicateClusters(pairs)
      .withColumnRenamed("id", idCol)
    df.join(clusters, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split", TextAnalysis.hashSplit(col("group_id"), weights))
      .drop("cluster_id")
  }

  /**
   * Near-dup removal keeping, per duplicate cluster, the HIGHEST-`scoreCol`
   * row (ties -> smallest id; a null score loses to any scored duplicate —
   * the same semantics as [[exactKeepBest]]). This is the curation variant:
   * when near-duplicates differ in quality, the keeper should be the best
   * one, not the lowest id. Unclustered documents always survive.
   *
   * Scale: the LSH pipeline plus ONE per-cluster min_by agg over the
   * (small) clustered subset and one anti equi-join back — no window, no
   * per-cluster sort.
   */
  def removeNearDuplicatesKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      scriptAware: Boolean = false): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold, numHashes, rowsPerBand,
      scriptAware = scriptAware)
    val clusters = duplicateClusters(pairs)
    val scored = clusters.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__s")), Seq("id"))
    val keepers = scored.groupBy(col("cluster_id"))
      .agg(min_by(col("id"),
        struct(col("__s").isNull.cast("int").as("__scoreless"),
          descendingScore(col("__s"), df.schema(scoreCol).dataType).as("__neg"),
          col("id").as("__id"))).as("id"))
      .select(col("id"))
    val losers = clusters.select(col("id")).join(keepers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * One-call near-dup removal: keep, per duplicate cluster, the smallest id.
   * Returns the deduplicated DataFrame.
   */
  def removeNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      scriptAware: Boolean = false): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold, numHashes, rowsPerBand,
      scriptAware = scriptAware)
    val losers = duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * [[removeNearDuplicates]] with PRECOMPUTED band rows (see
   * [[lshCandidatePairsFromBands]] for why): `bands` must be the
   * [[bandedIds]] frame of exactly `df`'s rows — candidates come from the
   * band self-join, the exact-Jaccard verify re-reads only candidate
   * texts, and the cluster/keeper law is identical to the from-text form
   * (bit-equal output, since bands are a pure function of the text).
   */
  def removeNearDuplicatesFromBands(
      df: DataFrame,
      bands: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      saltHotBuckets: Boolean = false,
      scriptAware: Boolean = false): DataFrame = {
    val candidates = lshCandidatePairsFromBands(bands, idCol, maxBucket, saltHotBuckets)
    val pairs = verifyCandidates(candidates, df, idCol, textCol, threshold, scriptAware)
    val losers = duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * ASYMMETRIC containment pairs: `(id_a, id_b)` where at least
   * `minContainPpm` of A's distinct word shingles also occur in B —
   * Broder's containment coefficient `|S(A) ∩ S(B)| / |S(A)|`, the
   * quote/subset detector Jaccard near-dup cannot be: a short document
   * wholly quoted inside a long one has containment ~1 but Jaccard
   * ~|A|/|B| (far below any near-dup threshold), so MinHash banding —
   * which estimates JACCARD — never surfaces the pair.
   *
   * Candidates come from the exact inverted shingle equi-join, not LSH:
   * docs sharing at least one rare shingle pair up, the shared-shingle
   * count is the exact intersection, and `contain_ppm` is exact integer
   * arithmetic (`inter * 1e6 DIV |S(A)|`). Shingles occurring in more
   * than `maxShingleDf` documents are EXCLUDED from candidates and
   * intersection counts — the boilerplate-shingle cap that bounds the
   * self-join (per-key fan-out <= maxShingleDf^2; without it one hot
   * boilerplate shingle pairs the whole corpus). Same measured-tradeoff
   * pattern as [[lshCandidatePairs]]'s `maxBucket`: an intersection
   * counted over rare shingles only UNDERCOUNTS pairs whose overlap is
   * mostly boilerplate — which is usually the point (two pages sharing
   * only a cookie banner are not a quote relation); the denominator
   * `|S(A)|` stays uncapped. Output has BOTH directions of every
   * qualifying pair (containment is directional).
   *
   * Scale: explode is linear in corpus tokens; the per-shingle groups are
   * capped, so the candidate join's output is bounded by
   * `sum_g df(g)^2 <= maxShingleDf * sum_g df(g)` — linear in corpus
   * size with a constant-factor cap, never quadratic.
   */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minContainPpm: Long = 500000L,
      maxShingleDf: Int = 100,
      shingleSize: Int = 5,
      scriptAware: Boolean = false): DataFrame = {
    require(minContainPpm >= 0 && minContainPpm <= 1000000L,
      s"minContainPpm must be in [0, 1e6], got $minContainPpm")
    require(maxShingleDf >= 2, s"maxShingleDf must be >= 2, got $maxShingleDf")
    val base = df.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize, scriptAware).as("__sh"))
    val sizes = base.select(col("id"), size(col("__sh")).cast("long").as("size_a"))
    val ex = base.select(col("id"), explode(col("__sh")).as("g"))
    val rare = ex.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf).select("g")
    val r = ex.join(rare, "g")
    val inter = r.select(col("g"), col("id").as("id_a"))
      .join(r.select(col("g"), col("id").as("id_b")), "g")
      .where(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter.join(sizes.withColumnRenamed("id", "id_a"), "id_a")
      .withColumn("contain_ppm", expr("(inter * 1000000) DIV size_a"))
      .filter(col("contain_ppm") >= minContainPpm)
      .select("id_a", "id_b", "inter", "size_a", "contain_ppm")
  }

  /**
   * EXACT Jaccard set-similarity self-join via prefix filtering — the
   * AllPairs/PPJoin recipe (Bayardo et al. WWW'07; Xiao et al. WWW'08):
   * every unordered pair `(id_a < id_b)` of rows whose distinct-element
   * sets satisfy `|A ∩ B| / |A ∪ B| >= t`, with NO approximation — the
   * result is identical to the naive all-pairs definition, which is what
   * the oracle replays. The exact tier of the similarity-join family:
   * MinHash+LSH ([[lshCandidatePairs]]) trades recall for speed,
   * [[containmentPairs]] answers the asymmetric question; this answers
   * the symmetric one exactly.
   *
   * How it avoids the quadratic scan: elements get a global "rare-first"
   * total order (document frequency asc, element asc). If `J(A,B) >= t`
   * then `|A ∩ B| >= ceil(t·|A|)`, so A's first `|A| - ceil(t·|A|) + 1`
   * elements in that order (its PREFIX) must share at least one element
   * with B's prefix — pairs are generated only from an equi-join on
   * prefix elements, then length-filtered (`t·|B| <= |A| <= |B|/t`,
   * exact cross-multiplied integers) and verified with the true
   * intersection. Rare-first ordering makes prefixes hit the lowest-df
   * elements, so the per-element join fan-out is the smallest the data
   * allows; the filter is provably lossless, so unlike `maxBucket`
   * capping there is no recall knob to tune.
   *
   * Scale: explode is linear in total set elements; every join is
   * equi-keyed (element, then id) — never a cross product; candidate
   * volume is `sum_g prefixdf(g)^2` over prefix-element groups, the
   * published bound that makes exact similarity join feasible on
   * web-scale corpora. Threshold is ppm integer arithmetic end-to-end so
   * every engine agrees on boundary pairs.
   *
   * Input sets are de-duplicated internally; rows with empty sets are
   * dropped (Jaccard is undefined on them). Output: both ids, the exact
   * intersection and set sizes, and `jaccard_ppm = inter·1e6 DIV union`.
   */
  def jaccardPairsExact(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      minJaccardPpm: Long = 500000L): DataFrame = {
    require(minJaccardPpm > 0 && minJaccardPpm <= 1000000L,
      s"minJaccardPpm must be in (0, 1e6], got $minJaccardPpm")
    val base = df.select(col(idCol).as("id"), array_distinct(col(tokensCol)).as("__set"))
      .filter(size(col("__set")) > 0)
    val ex = base.select(col("id"), size(col("__set")).cast("long").as("sz"),
      explode(col("__set")).as("tok"))
    // global rare-first order: (df asc, element asc) is a total order on
    // elements (df is a function of the element), shared by every set
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("__df"))
    val prefix = ex.join(dfreq, "tok")
      .withColumn("__pos", row_number().over(
        Window.partitionBy("id").orderBy(col("__df"), col("tok"))))
      // prefix length |A| - ceil(t·|A|) + 1, ceil in exact integer ppm
      .filter(col("__pos") <=
        col("sz") - expr(s"(sz * ${minJaccardPpm}L + 999999) DIV 1000000") + 1)
      .select(col("tok"), col("id"), col("sz"))
    val cand = prefix.select(col("tok"), col("id").as("id_a"), col("sz").as("sza"))
      .join(prefix.select(col("tok"), col("id").as("id_b"), col("sz").as("szb")), "tok")
      .where(col("id_a") < col("id_b"))
      // length filter: J >= t forces t·|B| <= |A| and t·|A| <= |B|
      .where(col("sza") * 1000000L >= col("szb") * minJaccardPpm &&
        col("szb") * 1000000L >= col("sza") * minJaccardPpm)
      .select("id_a", "id_b").distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("__set").as("__sa")), "id_a")
      .join(base.select(col("id").as("id_b"), col("__set").as("__sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("size_a", size(col("__sa")).cast("long"))
      .withColumn("size_b", size(col("__sb")).cast("long"))
      .withColumn("__union", col("size_a") + col("size_b") - col("inter"))
      // boundary pairs decided by exact cross-multiplication, not division
      .filter(col("inter") * 1000000L >= col("__union") * minJaccardPpm)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        expr("(inter * 1000000) DIV __union").as("jaccard_ppm"))
  }

  /**
   * Sorted-neighborhood candidate pairs (Hernandez & Stolfo, SIGMOD 1995
   * — the classic record-linkage blocking): order the corpus by a sort
   * key and pair every two rows within `window` positions. The
   * complement of segment blocking ([[graft.ops.Joins.editDistanceJoin]])
   * and LSH banding: one cheap global order instead of per-row keys,
   * recall bounded by the window (near-pairs far apart in the sort order
   * are missed — the documented trade; multi-pass with different keys is
   * the standard recovery).
   *
   * Distributed shape: the global position comes from the no-one-reducer
   * rank recipe ([[TextAnalysis.withGlobalRank]]); pairing is an
   * equi-join on the `rank DIV (window-1)` block (the left side keyed by
   * its block, the right exploded to its own and the previous block), so
   * every qualifying pair `0 < rank_b - rank_a < window` matches exactly
   * once and nothing is quadratic beyond the window itself.
   *
   * Output: `(id_a, value_a, rank_a, id_b, value_b, rank_b)` with
   * `rank_a < rank_b` — feed a verifier (edit distance, Jaccard) next.
   */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      window: Int = 10): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val span = (window - 1).toLong
    val ranked = TextAnalysis
      .withGlobalRank(df.select(col(idCol), col(valueCol)), "__rank",
        col(valueCol), col(idCol))
      .withColumn("__blk", expr(s"__rank DIV $span"))
    val left = ranked.select(col("__blk"), col(idCol).as("id_a"),
      col(valueCol).as("value_a"), col("__rank").as("rank_a"))
    val right = ranked
      .withColumn("__blk", explode(array(col("__blk"), col("__blk") - 1)))
      .select(col("__blk"), col(idCol).as("id_b"),
        col(valueCol).as("value_b"), col("__rank").as("rank_b"))
    left.join(right, "__blk")
      .where(col("rank_b") > col("rank_a") && col("rank_b") - col("rank_a") < window)
      .select(col("id_a"), col("value_a"), col("rank_a"),
        col("id_b"), col("value_b"), col("rank_b"))
  }
}
