package graft

/**
 * Benchmark main: runs every SparkEntry query against
 * `SPARK_GRAFT_SF_DIR` and prints one JSON line of per-query seconds.
 *
 * Materialization is a `noop`-format write — every row is fully produced
 * and shipped to the sink, unlike `count()` which lets parquet answer from
 * row-group metadata and would under-measure wide projections.
 */
object Bench {
  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped, so data (a query name, an oracle's SQL) cannot
    * break the record it sits in. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The battery query names in the comma-separated `csv`, in order, trimmed,
    * empty entries dropped; `Left` lists the unknown ones, sorted. */
  def queryNames(csv: String): Either[Seq[String], Seq[String]] = {
    val names = csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(Queries.all.map(_._1).toSet).distinct.sorted
    Either.cond(unknown.isEmpty, names, unknown)
  }

  /** [[queryNames]] for a local main: a typo'd list must not masquerade as
    * a short run, so unknown names are listed and exit 2 before any query. */
  def queryNamesOrExit(main: String, csv: String): Seq[String] =
    queryNames(csv) match {
      case Right(names) => names
      case Left(unknown) =>
        System.err.println(s"[$main] names match no query: ${unknown.mkString(", ")}")
        sys.exit(2)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated query-name filter for local iteration
    // (`SPARK_GRAFT_ONLY=typicality_bigram sbt "runMain graft.Bench"`).
    // The driver never sets it, so protocol runs always time the full
    // battery; filtered output is marked.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(queryNamesOrExit("bench", _).toSet)
    val spark = LocalSession.create()
    val battery = only match {
      case Some(names) => Queries.all.filter { case (n, _, _) => names(n) }
      case None        => Queries.all
    }
    // Untimed warm pass of the FULL battery: generated code is schema- and
    // query-specific, so synthetic warm-ups keep missing paths (round 3: the
    // string-struct min_by comparator of dedup_exact billed 22 s of
    // Janino+C2 compilation to its first run despite a lookalike warm-up).
    // Running each real query once compiles exactly the code the timed pass
    // executes and populates the FS/footer caches; the timed pass then
    // measures steady-state execution, which is what the protocol reports
    // (BASELINE.md).
    battery.foreach { case (name, fn, _) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // Two timed passes, per-query MIN: a single pass bills whichever query a
    // major GC / OS hiccup lands on (observed: the same battery swinging
    // 0.7 s <-> 3.4 s on lang_id between runs). The min of two passes is the
    // steady-state cost the protocol reports; systematic regressions still
    // show (they slow every pass).
    def timedPass(): Seq[(String, Double)] = battery.map { case (name, fn, _) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        name -> (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          name -> -1.0 // sentinel: a broken query must not look fast-and-complete
      }
    }
    val (p1, p2) = (timedPass(), timedPass().toMap)
    val results = p1.map { case (name, v1) =>
      val v2 = p2.getOrElse(name, -1.0)
      name -> (if (v1 < 0 || v2 < 0) -1.0 else math.min(v1, v2))
    }
    // The consumer reads a bounded ~2000-char tail of stdout, and sbt appends
    // a trailing "[success] Total time..." line. An 87-entry per-query map is
    // ~2.1 kB, so it can never be the stdout line: the head gets chopped and
    // the JSON fails to parse. Contract: the LAST stdout line is a short
    // (<300 char) summary; the full per-query map goes to stderr and to
    // bench_full.json for humans.
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => jsonString(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    // maxByOption: with every query failed (all -1 sentinels) maxBy would
    // throw and the summary line — the one thing the consumer parses — would
    // never print; "none" keeps the contract in exactly the all-failed case
    val maxQ = results.filter(_._2 >= 0).maxByOption(_._2).getOrElse("none" -> 0.0)
    // filtered:true marks partial (SPARK_GRAFT_ONLY) runs so a filtered
    // bench_full.json can never be mistaken for a full-battery protocol run
    val filteredMark = if (only.isDefined) "\"filtered\":true," else ""
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$filteredMark"queries":$qs,"sf":"$sfDir"}"""
    System.err.println(fullLine)
    // Per-query timings also go out as SHORT one-line JSON records, AFTER
    // the >2000-char map line: a bounded log tail chops that line, so the
    // tail ends in these ~60-char records, each of which parses on its own.
    // The stdout summary stays the LAST stdout line, byte-compatible.
    results.foreach { case (name, v) =>
      System.err.println(s"""{"metric":"query","name":${jsonString(name)},"sec":${fmt(v)}}""")
    }
    try {
      val p = java.nio.file.Paths.get("bench_full.json")
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] could not write bench_full.json: ${e.getMessage}") }
    val summary = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$filteredMark"n":${results.size},"failed":$failed,"max_query":${jsonString(maxQ._1)},"max_sec":${fmt(maxQ._2)},"sf":"$sfDir"}"""
    println(summary)
    spark.stop()
  }
}
