package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination: find (and drop) training documents that
 * overlap an evaluation set — the gate every LLM training pipeline runs
 * before a corpus ships, since a single leaked eval document inflates the
 * benchmark it came from. Overlap is counted in distinct word n-grams
 * ([[Dedup.wordShingles]] — the unit the published decontamination recipes
 * use), so paraphrase-level edits still hit while single shared phrases
 * stay below any sane threshold.
 *
 * Scale: the benchmark side is SMALL (eval suites are thousands of docs) —
 * it broadcasts, so the corpus-side n-gram stream never shuffles for the
 * probe; the only exchange is the per-(doc, bench) hit count agg, whose
 * input is already filtered to matching grams (~0 rows for a clean
 * corpus). Set `broadcastBench = false` for an unusually large benchmark
 * union and the probe degrades to a plain gram-keyed equi-join.
 *
 * [[TextAnalysis.contamination]] is the lighter sibling: one pooled
 * per-doc overlap count against an undifferentiated probe set. Use this
 * one when you need to know WHICH benchmark leaked, gate on a threshold,
 * or actually drop the offenders.
 */
object Decontaminate {

  /**
   * Contamination report: one row per `(doc, bench doc)` pair sharing at
   * least `minHits` distinct word `n`-grams, with the exact count.
   * [[Dedup.wordShingles]] emits DISTINCT grams per document, so a plain
   * `count(*)` over the gram join is the distinct-overlap count — no
   * `count distinct` shuffle needed.
   */
  def contaminationHits(
      docs: DataFrame,
      docId: String,
      docText: String,
      bench: DataFrame,
      benchId: String,
      benchText: String,
      n: Int = 5,
      minHits: Int = 3,
      broadcastBench: Boolean = true): DataFrame =
    contaminationHitsOnGrams(docs, docId, docText,
      benchGramRows(bench, benchId, benchText, n), n, minHits, broadcastBench)

  /**
   * The benchmark side of [[contaminationHits]] as a standalone frame: one
   * `(bench_id, __gram)` row per (bench doc, DISTINCT word `n`-gram) —
   * exactly the probe side the gram join consumes. Build it once and
   * materialize it when the same benchmark screens many corpus slices.
   */
  def benchGramRows(
      bench: DataFrame,
      benchId: String,
      benchText: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, "n must be at least 1")
    bench.select(col(benchId).as("bench_id"),
      explode(Dedup.wordShingles(col(benchText), n)).as("__gram"))
  }

  /** [[contaminationHits]] against a precomputed [[benchGramRows]] frame
    * (columns `bench_id, __gram`). `n` is the gram order the frame was
    * built with — it only shapes the doc side here. */
  def contaminationHitsOnGrams(
      docs: DataFrame,
      docId: String,
      docText: String,
      benchGrams: DataFrame,
      n: Int,
      minHits: Int,
      broadcastBench: Boolean): DataFrame = {
    require(n >= 1, "n must be at least 1")
    require(minHits >= 1, "minHits must be at least 1")
    val docGrams = docs.select(col(docId),
      explode(Dedup.wordShingles(col(docText), n)).as("__gram"))
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    docGrams
      .join(probe, "__gram")
      .groupBy(col(docId), col("bench_id"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /**
   * SURGICAL decontamination: instead of dropping whole documents, redact
   * only the SENTENCES that share any word `n`-gram with the benchmark —
   * the published middle ground when a long legitimate document quotes a
   * few eval lines (dropping it wastes the 99% that never leaked; keeping
   * it verbatim ships the leak). Returns one row per document WITH at
   * least one sentence (null/empty text has nothing to redact and yields
   * no row): `clean_text` (the surviving sentences, in order),
   * `n_sentences` and `n_redacted`. Documents with nothing redacted keep
   * their full sentence stream; `clean_text` is the SENTENCE rebuild (leading
   * orphan terminators, which [[TextAnalysis.sentences]] assigns to no
   * sentence, do not survive — the same stream every sentence-level
   * consumer sees).
   *
   * Scale: sentence explode (row multiplier bounded by sentence count),
   * gram matching against the BROADCAST benchmark gram set (the corpus
   * gram stream never shuffles), one doc-keyed rebuild agg whose state is
   * the document's own sentences. Flagging is per (doc, sentence) — a
   * sentence is redacted if ANY of its grams hits any benchmark.
   *
   * Both gram streams keep only FULL `n`-grams: [[Dedup.wordShingles]]
   * pads short inputs to one (short) shingle and a token-free input to
   * the empty-string shingle, and without the filter an empty benchmark
   * row would match — and redact — every punctuation-only sentence
   * corpus-wide. Sentences shorter than `n` tokens are therefore never
   * redacted (they cannot contain a full benchmark n-gram).
   */
  def redactContaminatedSentences(
      docs: DataFrame,
      docId: String,
      docText: String,
      bench: DataFrame,
      benchText: String,
      n: Int = 5,
      broadcastBench: Boolean = true): DataFrame = {
    require(n >= 1, "n must be at least 1")
    // a full n-gram is exactly n tokens joined by single spaces. The
    // word_ngrams kernel emits exactly those (nothing for < n-token
    // inputs), so the former filter(wordShingles(...), size(split(g)) = n)
    // — an interpreted HOF that re-split every gram — disappears
    // (round 19; guide §4). word_ngrams is positional where wordShingles
    // was distinct, but both consumers are set-shaped: benchGrams is
    // .distinct() and the flagged frame semi-joins then .distinct()s, so
    // the result is bit-identical (oracle hash pins it).
    def fullGrams(text: Column): Column =
      graft.functions.functions.word_ngrams(text, n)
    val benchGrams0 = bench
      .select(explode(fullGrams(col(benchText))).as("__gram")).distinct()
    val benchGrams = if (broadcastBench) broadcast(benchGrams0) else benchGrams0
    val sents = docs.select(col(docId),
      posexplode(TextAnalysis.sentences(col(docText))).as(Seq("__pos", "__sent")))
    val flagged = sents
      .select(col(docId), col("__pos"),
        explode(fullGrams(col("__sent"))).as("__gram"))
      .join(benchGrams, Seq("__gram"), "left_semi")
      .select(col(docId), col("__pos")).distinct()
    sents
      .join(flagged.withColumn("__hit", lit(1)), Seq(docId, "__pos"), "left")
      .groupBy(col(docId))
      .agg(
        count(lit(1)).cast("long").as("n_sentences"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).cast("long").as("n_redacted"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__hit").isNull, struct(col("__pos"), col("__sent"))))),
            e => e.getField("__sent")),
          "").as("clean_text"))
  }

  /**
   * The corpus with every contaminated document removed: one anti equi-join
   * on the flagged ids from [[contaminationHits]]. Keep the report too —
   * audits want to know WHAT was dropped and against WHICH benchmark.
   */
  def removeContaminated(
      docs: DataFrame,
      docId: String,
      docText: String,
      bench: DataFrame,
      benchId: String,
      benchText: String,
      n: Int = 5,
      minHits: Int = 3,
      broadcastBench: Boolean = true): DataFrame =
    removeContaminatedOnGrams(docs, docId, docText,
      benchGramRows(bench, benchId, benchText, n), n, minHits, broadcastBench)

  /** [[removeContaminated]] against a precomputed [[benchGramRows]] frame —
    * same anti-join law, the benchmark shingled once however many corpus
    * slices it screens. */
  def removeContaminatedOnGrams(
      docs: DataFrame,
      docId: String,
      docText: String,
      benchGrams: DataFrame,
      n: Int,
      minHits: Int,
      broadcastBench: Boolean): DataFrame = {
    val flagged = contaminationHitsOnGrams(
      docs, docId, docText, benchGrams, n, minHits, broadcastBench)
      .select(col(docId)).distinct()
    docs.join(flagged, Seq(docId), "left_anti")
  }
}
