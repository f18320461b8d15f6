package graft.ops

import org.apache.spark.SparkTestAccess.withCheckpointDir
import org.apache.spark.sql.functions._

import graft.testkit.SparkTestBase

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference single-node BPE: canonical greedy semantics, plain Scala. */
  private object Ref {
    def tokenize(text: String): Seq[String] =
      text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

    def mergePair(sym: List[String], a: String, b: String): List[String] = sym match {
      case x :: y :: rest if x == a && y == b => (a + b) :: mergePair(rest, a, b)
      case x :: rest => x :: mergePair(rest, a, b)
      case Nil => Nil
    }

    def learn(corpus: Seq[String], numMerges: Int, minCount: Long = 2L): Seq[(String, String, Long)] = {
      var words: Map[List[String], Long] = corpus.flatMap(tokenize)
        .groupBy(identity).map { case (w, ws) => w.split("").toList -> ws.size.toLong }
      val out = Seq.newBuilder[(String, String, Long)]
      var round = 0
      var done = false
      while (round < numMerges && !done) {
        val counts = words.toSeq.flatMap { case (sym, wc) =>
          sym.zip(sym.drop(1)).map(p => p -> wc)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val eligible = counts.filter(_._2 >= minCount)
        if (eligible.isEmpty) done = true
        else {
          val ((a, b), cnt) = eligible.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((a, b, cnt))
          words = words.groupMapReduce { case (sym, _) => mergePair(sym, a, b) }(_._2)(_ + _)
          round += 1
        }
      }
      out.result()
    }
  }

  private val corpus = Seq(
    "the cat sat on the mat with another cat",
    "that cat chased the rat past the mat",
    "aaaa aaaaa banana bandana", // identical-pair runs + shared 'an'/'na' structure
    "low lower lowest slow slowly")

  test("learn matches the canonical single-node reference, merge for merge") {
    val expected = Ref.learn(corpus, numMerges = 12)
    val got = Bpe.learn(corpus.toDF("text"), "text", numMerges = 12)
      .map(m => (m.left, m.right, m.count))
    got shouldBe expected
    expected.size shouldBe 12 // this corpus supports all 12 rounds
  }

  test("batched learning is bit-identical to sequential, whatever the round size") {
    // a seeded diverse corpus: deep merge lists with mid-table count ties,
    // the case where a naive batch rule would diverge from sequential
    val rng = new scala.util.Random(42)
    val letters = "abcdefghijkl"
    val words = Seq.fill(400)(
      String.valueOf(Array.fill(3 + rng.nextInt(10))(letters(rng.nextInt(letters.length)))))
    val lines = words.grouped(8).map(_.mkString(" ")).toSeq
    val df = lines.toDF("text")
    val expected = Ref.learn(lines, numMerges = 96, minCount = 1)
    expected.size shouldBe 96
    // one-merge-per-round reproduces the classic loop (prefix of the list)
    Bpe.learn(df, "text", numMerges = 24, minCount = 1, maxPerRound = 1)
      .map(m => (m.left, m.right, m.count)) shouldBe expected.take(24)
    val batched = Bpe.learn(df, "text", numMerges = 96, minCount = 1, maxPerRound = 16)
    batched.map(m => (m.left, m.right, m.count)) shouldBe expected
    batched.map(_.rank) shouldBe (0 until 96)
    // batching saved rounds (the no-skip rule keeps the win modest on
    // letter-heavy corpora — the large-vocab path is learnCollected)
    val rounds = batched.map(_.round).distinct.size
    rounds should be < 96
    // a wider cap changes nothing but the round count
    Bpe.learn(df, "text", numMerges = 96, minCount = 1, maxPerRound = 64)
      .map(m => (m.left, m.right, m.count)) shouldBe expected
  }

  test("learnCollected is bit-identical to the reference and to distributed learn") {
    // same seeded corpus as the batched case: deep merge list, count ties
    val rng = new scala.util.Random(42)
    val letters = "abcdefghijkl"
    val words = Seq.fill(400)(
      String.valueOf(Array.fill(3 + rng.nextInt(10))(letters(rng.nextInt(letters.length)))))
    val lines = words.grouped(8).map(_.mkString(" ")).toSeq
    val expected = Ref.learn(lines, numMerges = 96, minCount = 1)
    Bpe.learnCollected(lines.toDF("text"), "text", numMerges = 96, minCount = 1)
      .map(m => (m.left, m.right, m.count)) shouldBe expected
    // and on the natural-language corpus, merge for merge
    Bpe.learnCollected(corpus.toDF("text"), "text", numMerges = 12)
      .map(m => (m.left, m.right, m.count)) shouldBe Ref.learn(corpus, 12)
    // early stop parity too
    Bpe.learnCollected(Seq("ab cd").toDF("text"), "text", numMerges = 5) shouldBe empty
  }

  test("learnCollected fails loudly when the vocabulary exceeds maxVocab") {
    val ex = intercept[IllegalArgumentException] {
      Bpe.learnCollected(corpus.toDF("text"), "text", numMerges = 4, maxVocab = 3)
    }
    ex.getMessage should include("maxVocab")
  }

  test("selectBatch takes a no-skip disjoint prefix and trims boundary-count ties") {
    // (c,d) conflicts with nothing before it; walk must stop there anyway
    // once (a,b)+(b,c)-style symbol sharing appears earlier
    Bpe.selectBatch(Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 8L)), 8) shouldBe
      Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 8L))
    // shared symbol stops the walk — no skipping over (b,c)
    Bpe.selectBatch(Seq(("a", "b", 10L), ("b", "c", 9L), ("e", "f", 8L)), 8) shouldBe
      Seq(("a", "b", 10L))
    // created-symbol collision: ("ab","c") would gain occurrences mid-batch
    Bpe.selectBatch(Seq(("a", "b", 10L), ("ab", "c", 9L)), 8) shouldBe
      Seq(("a", "b", 10L))
    // boundary tie: (e,f) ties the first excluded count, so it is trimmed
    Bpe.selectBatch(Seq(("a", "b", 10L), ("e", "f", 8L), ("g", "h", 8L)), 2) shouldBe
      Seq(("a", "b", 10L))
    // trimming to empty falls back to the single top pair
    Bpe.selectBatch(Seq(("a", "b", 8L), ("e", "f", 8L), ("g", "h", 8L)), 2) shouldBe
      Seq(("a", "b", 8L))
  }

  test("mergePair is canonical greedy, including overlapping identical-pair runs") {
    def run(word: String, a: String, b: String): Seq[String] =
      Seq(word).toDF("w")
        .select(Bpe.mergePair(Bpe.charSymbols($"w"), a, b))
        .as[Seq[String]].head()
    run("aaaa", "a", "a") shouldBe Seq("aa", "aa")
    run("aaaaa", "a", "a") shouldBe Seq("aa", "aa", "a")
    run("banana", "a", "n") shouldBe Seq("b", "an", "an", "a")
    run("xyz", "a", "b") shouldBe Seq("x", "y", "z")
  }

  test("applyMerges tokenizes exactly like the reference fold") {
    val merges = Bpe.learn(corpus.toDF("text"), "text", numMerges = 10)
    val refMerges = Ref.learn(corpus, numMerges = 10)
    val words = Seq("lowest", "banana", "aaaaa", "catamaran")
    val spark_ = words.toDF("w")
      .select($"w", Bpe.applyMerges($"w", merges).as("toks"))
      .as[(String, Seq[String])].collect().toMap
    words.foreach { w =>
      val ref = refMerges.foldLeft(w.split("").toList) { case (sym, (a, b, _)) =>
        Ref.mergePair(sym, a, b)
      }
      spark_(w) shouldBe ref
    }
    // the learned tokens rebuild the word exactly (BPE invariant)
    words.foreach(w => spark_(w).mkString shouldBe w)
  }

  test("learn with a reliable checkpointDir produces identical merges") {
    val dir = tmpDir("bpe-ckpt")
    withCheckpointDir(dir) {
      Bpe.learn(corpus.toDF("text"), "text", numMerges = 4)
    }.map(m => (m.left, m.right, m.count)) shouldBe Ref.learn(corpus, 4)
  }

  test("reliable-checkpoint rounds are cleaned up and the checkpoint dir left unchanged") {
    val dir = tmpDir("bpe-ckpt2")
    withCheckpointDir(dir) {
      val set = spark.sparkContext.getCheckpointDir
      Bpe.learn(corpus.toDF("text"), "text", numMerges = 6, maxPerRound = 2)
        .map(m => (m.left, m.right, m.count)) shouldBe Ref.learn(corpus, 6)
      // the session checkpoints where it did before the call ...
      spark.sparkContext.getCheckpointDir shouldBe set
    }
    // ... and every per-round checkpoint was deleted on completion: no
    // file is left anywhere under the dir
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)) shouldBe empty
  }

  test("learn leaves no persisted RDD behind without a checkpoint dir") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Bpe.learn(corpus.toDF("text"), "text", numMerges = 6, maxPerRound = 2)
      .map(m => (m.left, m.right, m.count)) shouldBe Ref.learn(corpus, 6)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("learn stops early when no pair clears minCount") {
    val tiny = Seq("ab cd").toDF("text") // every pair occurs once
    Bpe.learn(tiny, "text", numMerges = 5, minCount = 2) shouldBe empty
    // with minCount 1 it merges until single symbols remain
    val all = Bpe.learn(tiny, "text", numMerges = 5, minCount = 1)
    all.size shouldBe 2 // ab and cd each fully merge in one round
  }
}
