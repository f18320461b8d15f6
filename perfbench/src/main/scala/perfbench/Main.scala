package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/**
 * Runs one workload and writes its measurements to `--out` as JSON; run.py
 * adds the DuckDB checks and prints the contract line.
 *
 * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
 *   --trace <0|1> --work <dir> --data <sf0.01 dir> --out <file>
 */
object Main {
  /** Session settings of `graft.Bench` (recorded in perfbench/README.md). */
  def settings(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString)

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    settings(cores, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Release sizes: small days for the daily run, large ones for bulk. */
  val DailyParams: GenParams = GenParams(days = 3, docsPerDay = 400)
  val BulkParams: GenParams = GenParams(days = 2, docsPerDay = 15000)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val w: Workload = workload match {
      case "battery" => new Battery(Paths.get(opt("data")).toAbsolutePath.toString, seed)
      case "release_daily" => new ReleaseWorkload(incremental = true, seed, DailyParams)
      case "release_bulk" => new ReleaseWorkload(incremental = false, seed, BulkParams)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, three times: session start and input generation
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      w.prepare(spark, work)
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    w.warmUp(spark, work)
    val warmS = (System.nanoTime() - tw) / 1e9

    // the untraced passes give the end-to-end numbers; with --trace 1,
    // traced passes alternate with untraced ones (at least three passes,
    // as the first may run cold), and tracing overhead compares them
    val tracer = new Tracer(trace)
    val off = new Tracer(false)
    val probe = if (trace) Some(new Probe(spark, tracer)) else None
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Pass, Boolean, Long, Long)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more: Boolean =
      passes.size < (if (trace) 3 else 1) || elapsed + passes.last._1.wallS <= seconds
    while (more) {
      val traced = trace && passes.size % 2 == 1
      probe.foreach(_.recording = traced)
      val s = Clock.nowUs
      val p = w.pass(spark, work, passes.size, if (traced) tracer else off)
      probe.foreach { pr => org.apache.spark.BenchAccess.drain(spark.sparkContext); pr.recording = false }
      passes += ((p, traced, s, Clock.nowUs))
    }
    val rssMb = peakRssMb()

    val tc = System.nanoTime()
    val failures = try w.check(spark, work) catch {
      case NonFatal(e) => Seq(s"check raised ${e.getClass.getName}: ${e.getMessage}")
    }
    val checkS = (System.nanoTime() - tc) / 1e9
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))

    val plain = passes.filterNot(_._2).map(_._1)
    val traced = passes.filter(_._2)
    val ops = plain.flatMap(_.warmOpsS).toVector
    val wall = w.wallOf(plain.toVector)
    val e2e = Seq(
      "setup_s" -> median(setups.toVector),
      "wall_s" -> wall,
      "op_p50_s" -> Trace.percentile(ops, 50),
      "op_p95_s" -> Trace.percentile(ops, 95),
      "docs_per_s" -> w.inputDocs / wall,
      "peak_rss_mb" -> rssMb)

    val (layers, largestSelf) =
      if (!trace) (Nil, None)
      else perLayer(work, w, tracer, probe.get, traced.toVector, plain.toVector, cores)
    probe.foreach(_.remove())

    val attempted = passes.map(_._1.opsS.size).sum + passes.map(_._1.failed).sum + w.checks
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> attempted.toString,
      "failed" -> (passes.map(_._1.failed).sum + failures.size).toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "passes" -> passes.size.toString,
      "op_samples" -> ops.size.toString,
      "warmup_s" -> Json.num(warmS),
      "check_s" -> Json.num(checkS),
      "setup_samples_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "passes_s" -> passes.map(p => Json.obj(Seq("wall_s" -> Json.num(p._1.wallS),
        "traced" -> p._2.toString, "ops_s" -> p._1.opsS.map(Json.num).mkString("[", ",", "]"),
        "by_op" -> Json.obj(p._1.byOp.map { case (k, v) => k -> Json.num(v) }))))
        .mkString("[", ",", "]"),
      "input_docs" -> w.inputDocs.toString,
      "input_bytes" -> w.inputBytes.toString,
      "store_amp" -> Json.num(plain.last.storeBytes.toDouble / w.inputBytes),
      "info" -> Json.obj(w.info.map { case (k, v) => k -> Json.str(v) }),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })) ++
      largestSelf.map(l => "largest_self" -> Json.str(l)))
    Files.writeString(Paths.get(opt("out")), result)
    spark.stop()
  }

  def median(xs: Vector[Double]): Double = Trace.percentile(xs, 50)

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Layer metrics per traced pass, self time per layer, and the spans
    * file written next to the result. */
  private def perLayer(work: Path, w: Workload, tracer: Tracer, probe: Probe,
      traced: Vector[(Pass, Boolean, Long, Long)], plain: Vector[Pass],
      cores: Int): (Seq[(String, Double)], Option[String]) = {
    val (raw, counters) = tracer.snapshot
    val spans = Trace.resolveParents(raw, DriverLayers, probe.stageJobs)
    val n = traced.size.toDouble
    val tracedWall = traced.map(_._1.wallS)
    val jobs = spans.filter(s => s.layer == "scheduler" && s.name.startsWith("job "))
      .map(s => (s.start, s.end))
    val noJob = traced.map { case (p, _, s, e) => (e - s - Trace.coverage(jobs, s, e)) / 1e6 }.sum
    val self = Trace.layerSelfSeconds(spans)
    def c(k: String): Double = counters.getOrElse(k, 0.0)
    val etl = EtlStages.map { st =>
      s"etl.${st}_s" -> spans.filter(s => s.layer == "etl" && s.name == st).map(_.dur).sum / 1e6 / n
    }
    val stageSum = spans.filter(s => s.layer == "etl" && !s.name.startsWith("date ")).map(_.dur).sum / 1e6
    val runWith = spans.filter(s => s.layer == "bench" && s.name == "runWith").map(_.dur).sum / 1e6
    val release = w match { case r: ReleaseWorkload => Some(r); case _ => None }
    val etlStats = release.map(_.etlStats.toVector).getOrElse(Vector.empty)
    def sumE(f: EtlPass => Double) = etlStats.map(f).sum / n
    val io = spans.filter(_.layer == "io")
    val metrics = Seq(
      "query.build_s" -> spans.filter(_.name == "query.build").map(_.dur).sum / 1e6 / n,
      "query.write_s" -> spans.filter(_.name == "query.write").map(_.dur).sum / 1e6 / n) ++
      Seq("sql.executions", "sql.analysis_s", "sql.optimize_s", "sql.planning_s",
        "sql.exchanges", "sql.reused_exchanges", "sched.jobs", "sched.stages", "sched.tasks")
        .map(k => k -> c(k) / n) ++
      Seq("sched.no_job_s" -> noJob / n, "sched.task_wait_s" -> c("sched.task_wait_s") / n) ++
      Seq("exec.task_s", "exec.cpu_s", "exec.gc_s").map(k => k -> c(k) / n) ++
      Seq("exec.busy_frac" -> c("exec.task_wall_s") / (tracedWall.sum * cores)) ++
      Seq("shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb").map(k => k -> c(k) / n) ++
      Seq("storage.pinned_mb_peak" -> c("storage.pinned_mb_peak")) ++
      etl ++ Seq(
        "etl.date_resolve_s" -> sumE(_.dateResolveS),
        "etl.framework_s" -> (if (release.isEmpty) 0.0 else (runWith - stageSum) / n),
        "etl.retries" -> sumE(_.retries.toDouble),
        "etl.stage_failures" -> sumE(_.stageFailures.toDouble),
        "etl.listeners_added" -> release.map(_.listenersAdded.sum.toDouble / (traced.size + plain.size))
          .getOrElse(0.0),
        "io.files_written" -> traced.map(_._1.files.toDouble).sum / n,
        "io.mb_written" -> (if (release.isEmpty) 0.0 else traced.map(_._1.storeBytes / 1e6).sum / n),
        "io.mb_read" -> c("io.mb_read") / n,
        "io.store_amp" -> traced.map(_._1.storeBytes.toDouble / w.inputBytes).sum / n,
        "io.save_s" -> io.filter(_.name.startsWith("save ")).map(_.dur).sum / 1e6 / n,
        "io.load_s" -> io.filterNot(_.name.startsWith("save ")).map(_.dur).sum / 1e6 / n,
        "mon.events" -> sumE(_.events.toDouble)) ++
      Layers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / n) ++
      Seq("self.driver_s" -> DriverLayers.toSeq.map(self.getOrElse(_, 0.0)).sum / n) ++
      // op medians of warm passes: the first pass of a release run is
      // cold and never traced, so it is left out of the comparison
      Seq("trace.overhead_frac" ->
        (median(traced.flatMap(_._1.warmOpsS)) / median(plain.drop(1).flatMap(_.warmOpsS)) - 1.0))
    (metrics, Some(writeTrace(work, spans, counters, self, n)))
  }

  val DriverLayers: Set[String] = Set("bench", "SparkEntry", "etl", "io")
  val Layers: Seq[String] = Seq("bench", "SparkEntry", "etl", "io", "planner", "scheduler", "executor")
  val EtlStages: Seq[String] = Seq("read_docs", "curate_day", "append_stores", "write_curated",
    "cut_release", "write_release", "write_manifest", "release_chain")

  /** spans.jsonl (one span per line) and layers.txt (the per-layer table
    * with self time, plus the call sites with the most task time); returns
    * the layer with the largest self time. */
  private def writeTrace(work: Path, spans: Vector[Span], counters: Map[String, Double],
      self: Map[String, Double], n: Double): String = {
    val lines = spans.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
      "start_us" -> s.start.toString, "end_us" -> s.end.toString)))
    Files.writeString(work.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
    val total = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(_.dur).sum / 1e6 }
    val rows = Layers.map(l => (l, total.getOrElse(l, 0.0) / n, self.getOrElse(l, 0.0) / n))
    val top = rows.maxBy(_._3)
    val sb = new StringBuilder
    sb ++= f"layer table (per traced pass; self = span time not covered by child spans)%n"
    sb ++= f"  ${"layer"}%-12s ${"spans_s"}%10s ${"self_s"}%10s%n"
    rows.foreach { case (l, t, s) => sb ++= f"  $l%-12s $t%10.3f $s%10.3f%n" }
    sb ++= s"largest self time: ${top._1}\n"
    val sites = counters.collect { case (k, v) if k.startsWith("callsite.") && k.endsWith(".task_s") =>
      k.stripPrefix("callsite.").stripSuffix(".task_s") -> v / n }.toSeq.sortBy(-_._2).take(8)
    sites.foreach { case (site, v) =>
      sb ++= f"  callsite $site%-40s task_s $v%8.3f jobs ${counters.getOrElse(s"callsite.$site.jobs", 0.0) / n}%6.1f%n"
    }
    Files.writeString(work.resolve("layers.txt"), sb.toString)
    top._1
  }
}
