package perfbench

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`):
  * seeded inputs are byte-identical, the percentile rule, span self-time
  * arithmetic and parent resolution, and JSON escaping. Exits 1 on the
  * first failed check. */
object SelfTest {
  private var checks = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += 1
    if (!ok) { System.err.println(s"FAIL $name $detail"); sys.exit(1) }
    println(s"ok   $name")
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val p = GenParams(days = 3, docsPerDay = 500)
    val a = new DocGen(11, p)
    check("same seed, same inputs", a.digest() == new DocGen(11, p).digest())
    check("other seed, other inputs", a.digest() != new DocGen(12, p).digest())
    val ids = a.days.flatten.map(_.doc_id)
    check("ids grow across days", ids.zip(ids.tail).forall { case (x, y) => x < y })
    check("text never null or empty", a.days.flatten.forall(d => d.text != null && d.text.nonEmpty))
    a.counts.shares.filter(_._1 != "cross_day").foreach { case (k, v) =>
      val want = k match {
        case "recrawl" => p.recrawlShare; case "exact_dup" => p.exactDupShare
        case "near_dup" => p.nearDupShare; case "contaminated" => p.contaminatedShare
        case _ => p.lowQualityShare
      }
      check(s"measured $k share near its parameter", math.abs(v - want) < 0.02, s"$v vs $want")
    }

    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    check("p50 of odd count is the middle", close(Trace.percentile(xs, 50), 3.0))
    check("p50 of even count interpolates", close(Trace.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50), 2.5))
    check("p95 of 1..100", close(Trace.percentile((1 to 100).map(_.toDouble), 95), 95.05))
    check("p0 and p100 are min and max",
      Trace.percentile(xs, 0) == 1.0 && Trace.percentile(xs, 100) == 5.0)
    check("one sample", Trace.percentile(Seq(7.0), 95) == 7.0)

    check("coverage merges overlaps and clips",
      Trace.coverage(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0L, 100L) == 50L)
    val spans = Seq(
      Span(1, -1, "bench", "pass", 0, 100),
      Span(2, 1, "etl", "stage", 10, 60),
      Span(3, 2, "scheduler", "job 7", 20, 50),
      Span(4, 3, "executor", "task 3.0:0", 25, 45),
      Span(5, 3, "executor", "task 3.0:1", 30, 48))
    val self = Trace.selfTimes(spans)
    check("self time subtracts child coverage", self == Map(1 -> 50L, 2 -> 20L, 3 -> 7L, 4 -> 20L, 5 -> 18L),
      self.toString)
    val layers = Trace.layerSelfSeconds(spans)
    check("layer self times add up to the root span",
      close(layers.values.sum, 100e-6 + 38e-6 - 23e-6) && close(layers("executor"), 38e-6), layers.toString)

    val raw = Vector(
      Span(1, -1, "bench", "pass", 0, 100),
      Span(2, 1, "etl", "stage", 10, 60),
      Span(3, -1, "scheduler", "job 7", 20, 50),
      Span(4, -1, "scheduler", "stage 3.0", 21, 49),
      Span(5, -1, "executor", "task 3.0:0", 25, 45),
      Span(6, -1, "planner", "planning save", 12, 14))
    val resolved = Trace.resolveParents(raw, Set("bench", "etl"), Map(3 -> 7)).map(s => s.id -> s.parent).toMap
    check("listener spans find their causes",
      resolved == Map(1 -> -1, 2 -> 1, 3 -> 2, 4 -> 3, 5 -> 4, 6 -> 2), resolved.toString)

    check("json escaping", Json.str("a\"b\\c\nd\u0001") == "\"a\\\"b\\\\c\\nd\\u0001\"")
    println(s"selftest: $checks checks passed")
  }
}
