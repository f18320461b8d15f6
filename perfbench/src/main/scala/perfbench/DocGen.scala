package perfbench

import java.security.MessageDigest

/** SplitMix64: a tiny, fully specified PRNG, so a seed names the same
  * inputs on every JVM and every run (java.util.Random would do too, but
  * this one is cheap to split into independent streams per day). */
final class SplitMix64(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
}

/** One input document, in the column order the release jobs read. */
final case class Doc(doc_id: Long, url: String, lang: String, source: String, text: String)

/** Shares of each kind of derived document. Every share is drawn per
  * document; the rest are fresh originals. */
final case class GenParams(
    days: Int,
    docsPerDay: Int,
    minWords: Int = 60,
    maxWords: Int = 140,
    vocabSize: Int = 6000,
    recrawlShare: Double = 0.06,
    exactDupShare: Double = 0.05,
    nearDupShare: Double = 0.05,
    crossDayShare: Double = 0.5,
    contaminatedShare: Double = 0.02,
    lowQualityShare: Double = 0.02,
    benchDocs: Int = 40)

/** What the generator actually produced, counted per kind (the measured
  * shares a claim that depends on duplicate share cites). */
final case class GenCounts(
    docs: Long, recrawls: Long, exactDups: Long, nearDups: Long,
    crossDay: Long, contaminated: Long, lowQuality: Long, textBytes: Long) {
  def shares: Seq[(String, Double)] = {
    val n = math.max(docs, 1L).toDouble
    Seq("recrawl" -> recrawls / n, "exact_dup" -> exactDups / n,
      "near_dup" -> nearDups / n, "cross_day" -> crossDay / n,
      "contaminated" -> contaminated / n, "low_quality" -> lowQuality / n)
  }
}

/**
 * Seeded corpus for the release workloads.
 *
 * It keeps the preconditions of the batch ≡ incremental law documented on
 * `IncrementalRelease`: ids grow across days (a later duplicate always has
 * the larger id), text is never null, and every derived document (recrawl,
 * exact or near duplicate, contaminated copy) is derived from an ORIGINAL
 * that no other document derives from. Duplicate clusters are therefore
 * pairs, which a later-day document can never bridge.
 *
 * Near duplicates change one word in at least 60, which keeps the 5-word
 * shingle Jaccard above 0.83, over the release's 0.8 threshold.
 */
final class DocGen(seed: Long, p: GenParams) {
  require(p.days >= 1 && p.docsPerDay >= 1 && p.minWords >= 60 && p.maxWords >= p.minWords)

  val langs: Seq[(String, Double)] = Seq("en" -> 0.55, "de" -> 0.25, "fr" -> 0.12, "es" -> 0.08)
  /** Target mix in parts per million, as the release jobs take it. */
  val targetsPpm: Map[String, Int] = Map("en" -> 500000, "de" -> 300000, "fr" -> 200000)

  private val root = new SplitMix64(seed)
  // the vocabulary is the same for every seed (like a language): a seed
  // draws documents, not word lengths, so text size does not vary by seed
  private val vocab: Array[String] = {
    val r = new SplitMix64(0x5EED)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < p.vocabSize) {
      val syl = 1 + r.nextInt(3)
      seen += (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}")
        .mkString + (if (r.nextInt(3) == 0) cons(r.nextInt(cons.length)).toString else "")
    }
    seen.toArray
  }

  private def words(r: SplitMix64, n: Int): Array[String] =
    // squaring a uniform skews draws toward the head of the vocabulary,
    // so word frequencies are uneven like real text
    Array.fill(n) { val u = r.nextDouble(); vocab((u * u * vocab.length).toInt) }

  /** The benchmark (evaluation) set the decontamination stage probes. */
  val bench: Seq[(Long, String)] = {
    val r = new SplitMix64(root.nextLong())
    (0 until p.benchDocs).map(i => (9000000000L + i, words(r, 40).mkString(" ")))
  }

  private val dayStreams = Array.fill(p.days)(root.nextLong())

  /** All days at once: day `d` may derive from originals of days `< d`, so
    * a day's documents depend on every earlier day's. */
  lazy val (days: IndexedSeq[IndexedSeq[Doc]], counts: GenCounts) = generate()

  private def generate(): (IndexedSeq[IndexedSeq[Doc]], GenCounts) = {
    val pool = scala.collection.mutable.ArrayBuffer.empty[Doc] // unused originals
    var recrawls, exact, near, cross, contam, lowQ, bytes = 0L
    val out = (0 until p.days).map { d =>
      val r = new SplitMix64(dayStreams(d))
      val crossPoolEnd = pool.size // originals of earlier days
      val day = scala.collection.mutable.ArrayBuffer.empty[Doc]
      for (i <- 0 until p.docsPerDay) {
        val id = (d + 1).toLong * 10000000L + i
        val lang = pickLang(r)
        def original(): Doc = {
          val n = p.minWords + r.nextInt(p.maxWords - p.minWords + 1)
          Doc(id, s"https://site${r.nextInt(400)}.example/$lang/d$d/p$i", lang, s"s_$lang",
            words(r, n).mkString(" "))
        }
        val u = r.nextDouble()
        // a derived doc takes its source out of the pool: one derivative
        // per original keeps every duplicate cluster a pair
        def takeSource(): Option[Doc] = {
          val cross0 = crossPoolEnd > 0 && r.nextDouble() < p.crossDayShare
          val (lo, hi) = if (cross0) (0, crossPoolEnd) else (crossPoolEnd, pool.size)
          if (hi <= lo) None
          else {
            val k = lo + r.nextInt(hi - lo)
            val src = pool(k)
            pool(k) = pool(pool.size - 1); pool.remove(pool.size - 1)
            if (cross0) cross += 1
            Some(src)
          }
        }
        val doc: Doc =
          if (u < kinds(0)) takeSource().fold(original()) { s =>
            recrawls += 1
            original().copy(url = s.url + (if (r.nextInt(2) == 0) "?utm_source=feed" else ""),
              lang = s.lang, source = s.source)
          }
          else if (u < kinds(1)) takeSource().fold(original()) { s =>
            exact += 1
            Doc(id, s"https://mirror${r.nextInt(50)}.example/x$d-$i", s.lang, s.source,
              s.text.replace(" ", "  "))
          }
          else if (u < kinds(2)) takeSource().fold(original()) { s =>
            near += 1
            val w = s.text.split(' ')
            w(w.length - 1 - r.nextInt(3)) = "zqx" + r.nextInt(1000000)
            Doc(id, s"https://mirror${r.nextInt(50)}.example/n$d-$i", s.lang, s.source,
              w.mkString(" "))
          }
          else if (u < kinds(3)) {
            contam += 1
            val o = original()
            val b = bench(r.nextInt(bench.size))._2.split(' ')
            val at = r.nextInt(b.length - 12)
            o.copy(text = o.text + " " + b.slice(at, at + 12).mkString(" "))
          }
          else if (u < kinds(4)) {
            lowQ += 1
            original().copy(text = Seq.fill(30)("#!? %%").mkString(" "))
          }
          else {
            val o = original(); pool += o; o
          }
        bytes += doc.text.length + doc.url.length
        day += doc
      }
      day.toIndexedSeq
    }
    (out, GenCounts(out.map(_.size.toLong).sum, recrawls, exact, near, cross, contam, lowQ, bytes))
  }

  /** Upper ends of each derived kind's share of [0, 1). */
  private val kinds = Seq(p.recrawlShare, p.exactDupShare, p.nearDupShare,
    p.contaminatedShare, p.lowQualityShare).scanLeft(0.0)(_ + _).tail

  private def pickLang(r: SplitMix64): String = {
    var u = r.nextDouble()
    langs.find { case (_, w) => u -= w; u < 0 }.fold(langs.last._1)(_._1)
  }

  /** SHA-256 over every generated field: the same seed must give the
    * same digest (the determinism self-test). */
  def digest(): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    days.flatten.foreach(d => Seq(d.doc_id.toString, d.url, d.lang, d.source, d.text).foreach(put))
    bench.foreach { case (id, t) => put(id.toString); put(t) }
    md.digest().map("%02x".format(_)).mkString
  }
}
