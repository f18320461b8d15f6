package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Barrier

/**
 * Byte-pair-encoding tokenizer TRAINING on the corpus — the step beyond
 * [[TextAnalysis.bpePairs]]'s single pair count: iterate "count adjacent
 * pairs, merge the most frequent" to learn an ordered merge list, the
 * artifact a BPE tokenizer ships. [[applyMerges]] then tokenizes any text
 * with the learned merges, entirely in Catalyst expressions.
 *
 * Scale: the corpus is read ONCE (the initial word count); every merge
 * round after that is vocabulary-sized — pair counting collapses to a
 * per-distinct-word explode weighted by word frequency (the standard
 * trick that makes BPE training corpus-size-independent), and the merge
 * rewrite is a per-word `aggregate` fold. Each round merges a BATCH of
 * top pairs (up to `maxPerRound`) so a merge does not always cost a full
 * Spark job + checkpoint: only the round's winners cross to the driver
 * (≤ `maxPerRound`+1 rows — control flow, like the cluster-convergence
 * probe), and the per-round checkpoint truncates lineage so rounds never
 * stack plans. Exactness caps the win, though — see [[learnCollected]],
 * the recommended trainer for production vocabulary sizes.
 *
 * Batched ≡ sequential, provably: the batch is the maximal NO-SKIP prefix
 * of the (count desc, left, right)-sorted pair list that is pairwise
 * symbol-disjoint (and whose merged symbols collide with no later batch
 * pair), trimmed so every kept count strictly exceeds the first excluded
 * pair's count. Disjointness keeps each batch member's count unchanged
 * while earlier members merge; any pair CREATED by a batch merge borrows
 * an occurrence of an excluded neighbour pair, so its count is bounded by
 * the first excluded count — strictly below every kept member. Hence at
 * each sequential round the argmax (with tie-break) is exactly the next
 * batch member, and the learned merge list — ranks, pairs, counts — is
 * bit-identical to one-merge-per-round training.
 *
 * Determinism: ties on pair count break on (left, right) symbol order, so
 * the learned merge list is a pure function of the corpus.
 */
object Bpe {

  /**
   * One learned merge: rank-th most frequent pair at its round, with
   * count. `round` is the Spark round that learned it (rank == round only
   * when `maxPerRound = 1`); `merges.map(_.round).distinct.size` is the
   * number of jobs a training run actually paid.
   */
  case class Merge(rank: Int, left: String, right: String, count: Long, round: Int = 0)

  /** Per-character initial symbols of a word (no empty symbols). */
  private[ops] def charSymbols(w: Column): Column =
    filter(split(w, ""), s => s =!= "")

  /**
   * Greedy left-to-right merge of adjacent `(a, b)` symbol pairs — one
   * `aggregate` fold (codegen, no UDF): carry the pending symbol; when
   * `(pending, next) == (a, b)` emit the merged symbol and clear, else
   * flush pending. Exactly canonical BPE greedy semantics, including
   * overlapping runs of an identical-pair ("aaaa" with (a,a) -> aa, aa;
   * "aaaaa" -> aa, aa, a).
   */
  private[ops] def mergePair(symbols: Column, a: String, b: String): Column = {
    val empty = array().cast("array<string>")
    val init = struct(empty.as("out"), lit(null).cast("string").as("pend"))
    def flushed(acc: Column): Column =
      when(acc.getField("pend").isNotNull,
        concat(acc.getField("out"), array(acc.getField("pend"))))
        .otherwise(acc.getField("out"))
    aggregate(
      symbols,
      init,
      (acc, x) =>
        when(acc.getField("pend") === a && x === b,
          struct(concat(acc.getField("out"), array(lit(a + b))).as("out"),
            lit(null).cast("string").as("pend")))
          .otherwise(struct(flushed(acc).as("out"), x.as("pend"))),
      acc => flushed(acc))
  }

  /** Adjacent-pair counts of a `(symbols, wc)` vocabulary: `(left, right, cnt)`. */
  private[ops] def pairCounts(words: DataFrame): DataFrame =
    words
      .filter(size(col("symbols")) >= 2)
      .select(col("wc"), explode(transform(
        sequence(lit(1), size(col("symbols")) - 1),
        i => struct(element_at(col("symbols"), i).as("l"),
          element_at(col("symbols"), i + 1).as("r")))).as("p"))
      .select(col("p.l").as("left"), col("p.r").as("right"), col("wc"))
      .groupBy(col("left"), col("right")).agg(sum(col("wc")).cast("long").as("cnt"))

  /**
   * The round's batch: walk the sorted `(left, right, cnt)` rows in order
   * and accept while (a) capacity remains, (b) the pair shares no symbol
   * with an accepted pair, and (c) neither symbol equals a symbol CREATED
   * by an accepted pair (else its count would grow mid-batch). The walk
   * stops at the first rejection — no skips, so everything excluded sorts
   * strictly after the batch. Then trim trailing accepted pairs whose
   * count does not strictly exceed the boundary count (the first excluded
   * row; pairs under `minCount` are below it by the `cnt >= minCount`
   * filter). Falls back to the single top pair when trimming empties the
   * batch — one merge per round is trivially canonical.
   */
  private[ops] def selectBatch(
      rows: Seq[(String, String, Long)], capacity: Int): Seq[(String, String, Long)] = {
    val accepted = mutable.ArrayBuffer.empty[(String, String, Long)]
    val used = mutable.Set.empty[String]
    val created = mutable.Set.empty[String]
    var boundary = Option.empty[Long]
    val it = rows.iterator
    while (boundary.isEmpty && it.hasNext) {
      val row @ (a, b, cnt) = it.next()
      if (accepted.size == capacity || used(a) || used(b) || created(a) || created(b))
        boundary = Some(cnt)
      else {
        accepted += row
        used += a += b
        created += (a + b)
      }
    }
    val trimmed = boundary match {
      case Some(t) => accepted.takeWhile(_._3 > t)
      case None => accepted.toSeq // whole eligible table accepted; nothing excluded
    }
    if (trimmed.isEmpty) rows.take(1) else trimmed.toSeq
  }

  /**
   * Learn `numMerges` ordered merges from the corpus. Stops early when no
   * pair occurs at least `minCount` times (vocab fully merged or corpus
   * exhausted). `maxPerRound` caps the merges per Spark round; the result
   * is identical for every value (see the batching proof above) — 1
   * reproduces the classic one-job-per-merge loop. Measured honestly: on
   * natural text the no-skip rule keeps batches small (~1.1 pairs/round
   * on the documents corpus — top pairs share common letters), so
   * batching trims rather than transforms the round count; the trainer
   * that actually escapes merge-round serialization is [[learnCollected]].
   *
   * Checkpointing as in [[Dedup.duplicateClusters]]: each round's vocab is
   * NOT recomputable from source once lineage is truncated, so every
   * round ends at a [[graft.util.Barrier]] — LOCAL by default (fastest,
   * fine on `local[*]`, but losing one executor mid-training kills the
   * job), RELIABLE when the session sets `spark.checkpoint.dir` (one
   * distributed write per round, of the VOCABULARY, not the corpus, that
   * survives executor loss). Each round's storage is freed as soon as the
   * next round materializes, and the last round's when training ends, so
   * a run leaves nothing behind under the checkpoint dir.
   */
  def learn(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L,
      maxPerRound: Int = 16): Seq[Merge] = {
    require(numMerges > 0, "numMerges must be positive")
    require(minCount >= 1, "minCount must be at least 1")
    require(maxPerRound >= 1, "maxPerRound must be at least 1")
    Barrier.holding { held =>
      var words = held.barrier(df
        .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        .select(charSymbols(col("w")).as("symbols"), col("wc"))
      ) // the ONLY corpus-sized pass; vocab-sized after
      val learned = Seq.newBuilder[Merge]
      var rank = 0
      var round = 0
      var exhausted = false
      while (rank < numMerges && !exhausted) {
        val capacity = math.min(maxPerRound, numMerges - rank)
        val top = pairCounts(words)
          .filter(col("cnt") >= minCount)
          .orderBy(col("cnt").desc, col("left"), col("right"))
          .limit(capacity + 1) // +1: the boundary row that bounds excluded counts
          .collect() // ≤ maxPerRound+1 rows — driver control flow only
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toSeq
        if (top.isEmpty) exhausted = true
        else {
          val batch = selectBatch(top, capacity)
          batch.foreach { case (a, b, cnt) =>
            learned += Merge(rank, a, b, cnt, round)
            rank += 1
          }
          words = held.next(words, words.select(
            batch.foldLeft(col("symbols")) { case (sym, (a, b, _)) => mergePair(sym, a, b) }
              .as("symbols"),
            col("wc"))
          ) // one rewrite + lineage truncation per ROUND, not per merge
          round += 1
        }
      }
      learned.result()
    }
  }

  /**
   * Learn merges by collecting the distinct-WORD count table (never the
   * corpus) and running the classic incremental trainer on the driver —
   * the shape every production tokenizer trainer uses, because BPE
   * training is vocabulary-sized after the word count: Spark does the one
   * corpus-sized pass (distributed word count), then `numMerges` rounds
   * touch only the in-memory vocab with exact incremental pair-count
   * updates. Zero Spark jobs per merge, so a 32k-merge vocabulary costs
   * one job + seconds of driver CPU instead of thousands of serialized
   * rounds. Canonical by construction — same greedy semantics and
   * (count desc, left, right) tie-break as [[learn]], merge-for-merge.
   *
   * Why this exists alongside [[learn]]'s batched rounds: batching can
   * only stay bit-identical to sequential training by taking a NO-SKIP
   * symbol-disjoint prefix of the sorted pair table (see the proof on
   * [[learn]]), and on natural text the top pairs share common letters,
   * so the measured batch size is ~1 in the early char regime — exactness
   * caps what distributed batching can win. Collecting the vocab sidesteps
   * the whole serialization problem at the realistic design point: even a
   * 100 TB corpus has a bounded distinct-word table once tokenized
   * (`maxVocab` guards the collect and fails loudly — fall back to
   * [[learn]] if a corpus genuinely exceeds it).
   */
  def learnCollected(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L,
      maxVocab: Int = 10000000): Seq[Merge] = {
    require(numMerges > 0, "numMerges must be positive")
    require(minCount >= 1, "minCount must be at least 1")
    val vocabDf = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val overCap = vocabDf.limit(maxVocab + 1).count()
    require(overCap <= maxVocab,
      s"distinct-word vocabulary exceeds maxVocab=$maxVocab; raise the cap " +
        "or use the distributed Bpe.learn loop")
    val vocab = vocabDf.collect().map(r => (r.getString(0), r.getLong(1)))
    // ---- driver-side exact incremental trainer over the collected vocab
    val words = vocab.map { case (w, _) => mutable.ArrayBuffer(w.split("").filter(_.nonEmpty): _*) }
    val wcs = vocab.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def add(p: (String, String), i: Int, wc: Long): Unit = {
      counts.updateWith(p) { c => Some(c.getOrElse(0L) + wc) }
      index.getOrElseUpdate(p, mutable.Set.empty) += i
    }
    def remove(p: (String, String), i: Int, wc: Long): Unit =
      counts.updateWith(p) { c =>
        val n = c.getOrElse(0L) - wc
        if (n <= 0L) { index.remove(p); None } else Some(n)
      }
    for (i <- words.indices; j <- 0 until words(i).size - 1)
      add((words(i)(j), words(i)(j + 1)), i, wcs(i))
    /** Driver twin of [[mergePair]]: greedy left-to-right, same overlap rule. */
    def mergeInWord(sym: mutable.ArrayBuffer[String], a: String, b: String): mutable.ArrayBuffer[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < sym.size) {
        if (j + 1 < sym.size && sym(j) == a && sym(j + 1) == b) { out += (a + b); j += 2 }
        else { out += sym(j); j += 1 }
      }
      out
    }
    val learned = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // linear argmax scan; a count-keyed priority structure drops this to
      // O(log P) when merges number in the tens of thousands
      val eligible = counts.view.filter(_._2 >= minCount)
      if (eligible.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = eligible.minBy { case ((l, r), c) => (-c, l, r) }
        learned += Merge(rank, a, b, cnt, round = 0)
        for (i <- index.getOrElse((a, b), mutable.Set.empty).toArray.sorted) {
          val before = words(i)
          val after = mergeInWord(before, a, b)
          for (j <- 0 until before.size - 1) remove((before(j), before(j + 1)), i, wcs(i))
          for (j <- 0 until after.size - 1) add((after(j), after(j + 1)), i, wcs(i))
          words(i) = after
        }
        rank += 1
      }
    }
    learned.result()
  }

  /**
   * Tokenize with a learned merge list: per-char symbols, then each merge
   * applied in rank order — a chain of `aggregate` folds, all codegen.
   * The column form of the tokenizer the merges define; the token COUNT
   * per doc is `size(applyMerges(...))`.
   */
  def applyMerges(word: Column, merges: Seq[Merge]): Column =
    applyMergePairs(word, merges.sortBy(_.rank).map(m => (m.left, m.right)))

  /** [[applyMerges]] over bare `(left, right)` pairs, already in rank order. */
  def applyMergePairs(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(charSymbols(word)) { case (sym, (a, b)) => mergePair(sym, a, b) }
}
