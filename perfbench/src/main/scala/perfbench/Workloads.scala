package perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.config.GraftConfig
import graft.etl.{Schedule, SparkJob, SparkRunner}
import graft.etl.examples.{IncrementalRelease, IncrementalReleaseJob, Release, ReleaseJob}
import graft.io.{HdfsUrl, Warehouse, WarehouseTable}
import graft.monitoring.MessagingSystem
import graft.time.{DateInterval, Day}

/** One timed pass: its wall time and one latency sample per operation;
  * the first `coldOps` samples ran cold and stay out of the percentiles. */
final case class Pass(wallS: Double, opsS: Vector[Double], failed: Int, storeBytes: Long, files: Long,
    byOp: Vector[(String, Double)] = Vector.empty, coldOps: Int = 0) {
  def warmOpsS: Vector[Double] = opsS.drop(coldOps)
}

/** A workload drives graft only through its public entry points. */
trait Workload {
  /** Input-creating part of set-up; called once per set-up repetition. */
  def prepare(spark: SparkSession, dir: Path): Unit
  /** Untimed executions before the timed passes (none for a release). */
  def warmUp(spark: SparkSession, dir: Path): Unit
  def pass(spark: SparkSession, dir: Path, k: Int, tracer: Tracer): Pass
  /** Correctness failures, one line each; runs after the timed region. */
  def check(spark: SparkSession, dir: Path): Seq[String]
  /** Operations the check attempts (each failure counts against these). */
  def checks: Int
  /** `wall_s` from the untraced passes. */
  def wallOf(passes: Vector[Pass]): Double = Main.median(passes.map(_.wallS))
  def inputDocs: Long
  def inputBytes: Long
  def info: Seq[(String, String)]
}

object Disk {
  /** Bytes and count of the data files under `p` (hidden and `_` marker
    * files left out). */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(f => Files.isRegularFile(f) && !"._".contains(f.getFileName.toString.head))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
  }
}

/**
 * `battery`: a fixed sample of `SparkEntry.queries` over the sf0.01 tables,
 * each materialized with a `noop` write as `graft.Bench` does, in an order
 * drawn from the seed. The warm-up writes each result to parquet, which
 * run.py then checks against `SparkEntry.oracleSql` in DuckDB.
 */
final class Battery(dataDir: String, seed: Long) extends Workload {
  val names: Vector[String] = Battery.Sample
  private val fns = SparkEntry.queries
  private val order = new SplitMix64(seed)
  private var outBytes = 0L

  def prepare(spark: SparkSession, dir: Path): Unit =
    Battery.Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)

  def warmUp(spark: SparkSession, dir: Path): Unit = {
    val out = dir.resolve("out")
    names.foreach { n =>
      try fns(n)(spark, dataDir).write.mode("overwrite").parquet(out.resolve(n).toString)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up $n failed: $e") }
    }
    // a second, noop execution: one run leaves the JIT compiling for
    // most of the first timed pass
    names.foreach { n =>
      try fns(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up $n failed: $e") }
    }
    val oracle = names.map(n => Json.str(n) + ":" + Json.str(SparkEntry.oracleSql(n)))
    Files.writeString(out.resolve("oracle_sql.json"), oracle.mkString("{", ",\n", "}"))
    outBytes = Disk.du(out)._1
  }

  def pass(spark: SparkSession, dir: Path, k: Int, tracer: Tracer): Pass = {
    val perm = shuffle(names)
    var failed = 0
    val t0 = System.nanoTime()
    val ops = perm.flatMap { n =>
      val q0 = System.nanoTime()
      try tracer.span("bench", s"query $n") {
        val df = tracer.span("SparkEntry", "query.build")(fns(n)(spark, dataDir))
        tracer.span("SparkEntry", "query.write")(df.write.format("noop").mode("overwrite").save())
        Some(n -> (System.nanoTime() - q0) / 1e9)
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $n failed: $e"); failed += 1; None
      }
    }
    Pass((System.nanoTime() - t0) / 1e9, ops.map(_._2), failed, outBytes, 0L, ops)
  }

  private def shuffle(xs: Vector[String]): Vector[String] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = order.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  // outputs are compared in DuckDB by run.py, which adds its failures
  def check(spark: SparkSession, dir: Path): Seq[String] = Nil
  def checks: Int = 0
  /** A pass of each query's median over the passes: one slow execution
    * (a collection, a compile) moves it far less than a pass's sum. */
  override def wallOf(passes: Vector[Pass]): Double =
    passes.flatMap(_.byOp).groupMap(_._1)(_._2).values.map(v => Main.median(v.toVector)).sum
  lazy val inputDocs: Long = Battery.docRows(dataDir)
  lazy val inputBytes: Long = Disk.du(java.nio.file.Paths.get(dataDir))._1
  def info: Seq[(String, String)] = Seq("queries" -> names.mkString(","), "sf" -> "0.01")
}

object Battery {
  /** Every 20th query, from the 10th, of the 240 (of 250) whose DuckDB
    * oracle answers within a second at sf0.01: the whole battery takes
    * about 140 s a pass on 4 cores, and the other ten oracles take
    * seconds to minutes. Listed by name so that adding a query to the
    * battery does not change the benchmark. */
  val Sample: Vector[String] = Vector("ann_recall", "category_drift", "damerau_pairs",
    "embedding_drift", "grouping_sets_revenue", "kfold_split", "mix_plan", "pr_curve",
    "q8_market_share", "semantic_dedup", "time_weighted_load", "vocab_drift")
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private def docRows(dir: String): Long =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))
      .getBlocks.stream().mapToLong(_.getRowCount).sum()
}

/** Lifecycle events of one `runWith`, recorded for the benchmark: date
  * latencies always, stage spans when tracing. */
final class BenchMessaging(tracer: Tracer) extends MessagingSystem {
  import MessagingSystem.Context
  var events = 0L
  var retries = 0L
  var stageFailures = 0L
  var firstDateUs = 0L
  private var dateStart = 0L
  val dates = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def publish(topic: String, message: String): Unit = events += 1
  override def publishProcessStarting(ctx: Context): Unit = {
    dateStart = Clock.nowUs
    if (firstDateUs == 0L) firstDateUs = dateStart
    tracer.open("etl", s"date ${ctx.eventDate}")
    super.publishProcessStarting(ctx)
  }
  override def publishProcessComplete(ctx: Context): Unit = {
    super.publishProcessComplete(ctx)
    tracer.close()
    dates += (Clock.nowUs - dateStart) / 1e6
  }
  override def publishProcessFailed(ctx: Context, failure: Throwable): Unit = {
    super.publishProcessFailed(ctx, failure); tracer.close()
  }
  override def publishStageStarting(ctx: Context, stage: String, message: String): Unit = {
    tracer.open("etl", stage); super.publishStageStarting(ctx, stage, message)
  }
  override def publishStageComplete(ctx: Context, stage: String, message: String): Unit = {
    super.publishStageComplete(ctx, stage, message); tracer.close()
  }
  override def publishStageRetrying(ctx: Context, stage: String): Unit = {
    retries += 1; super.publishStageRetrying(ctx, stage); tracer.close()
  }
  override def publishStageFailed(ctx: Context, stage: String, failure: Throwable): Unit = {
    stageFailures += 1; super.publishStageFailed(ctx, stage, failure); tracer.close()
  }
}

/** `WarehouseTable` with spans around the calls the jobs make into `io`;
  * used only in traced passes, so untraced passes run the plain table. */
final class TracedTable(root: HdfsUrl, name: String, tracer: Tracer)
    extends WarehouseTable(root, name) {
  override def save[T](ds: org.apache.spark.sql.Dataset[T], date: DateInterval,
      writeDisposition: Warehouse.WriteDisposition,
      createDisposition: Warehouse.CreateDisposition): Unit =
    tracer.span("io", s"save $name")(super.save(ds, date, writeDisposition, createDisposition))
  override def loadBefore(spark: SparkSession, date: DateInterval): DataFrame =
    tracer.span("io", s"load $name")(super.loadBefore(spark, date))
  override def exists(spark: SparkSession, date: DateInterval): Boolean =
    tracer.span("io", s"exists $name")(super.exists(spark, date))
  override def hasAnyPartition(spark: SparkSession): Boolean =
    tracer.span("io", s"partitions $name")(super.hasAnyPartition(spark))
}

/** What the messaging system saw in one traced `runWith`. */
final case class EtlPass(events: Long, retries: Long, stageFailures: Long, dateResolveS: Double)

/** The runner the release workloads drive: an explicit schedule, the
  * benchmark's messaging system, and the job built per pass. */
final class BenchRunner[J <: SparkJob](val jobName: String, dates: Seq[DateInterval],
    job: GraftConfig => J, val messaging: BenchMessaging) extends SparkRunner[J] {
  def schedule: Schedule = Schedule(LazyList.from(dates.reverse))
  def createJob(config: GraftConfig): J = job(config)
  override protected def createMessaging(config: GraftConfig): MessagingSystem = messaging
}

/**
 * `release_daily` (incremental) and `release_bulk` (batch): `SparkRunner`
 * drives the shipped release job over seed-generated days, writing into
 * fresh `Warehouse` tables each pass.
 */
final class ReleaseWorkload(incremental: Boolean, seed: Long, params: GenParams) extends Workload {
  val dates: Vector[DateInterval] = Vector.tabulate(params.days)(d => Day(2026, 3, 2 + d))
  private var gen: DocGen = _
  private var inDir: Path = _
  private var lastRoot: Path = _
  private var lastInBytes = 0L
  val listenersAdded = scala.collection.mutable.ArrayBuffer.empty[Int]
  val etlStats = scala.collection.mutable.ArrayBuffer.empty[EtlPass]

  /** Runner settings: failures are retried at once and counted, so no
    * retry sleep can hide inside the timed wall. */
  val config: GraftConfig = GraftConfig("retry.max" -> "2", "retry.delay" -> "0ms")

  private def dayDir(d: DateInterval): String = inDir.resolve(d.format("'date='yyyy-MM-dd")).toString

  def prepare(spark: SparkSession, dir: Path): Unit = {
    gen = new DocGen(seed, params)
    inDir = dir.resolve("input")
    Disk.rm(inDir)
    import spark.implicits._
    dates.zip(gen.days).foreach { case (d, docs) =>
      docs.toDS().toDF().repartition(math.max(1, docs.size / 20000)).write.parquet(dayDir(d))
    }
    gen.bench.toDF("bench_id", "text").coalesce(1).write.parquet(inDir.resolve("bench").toString)
    lastInBytes = Disk.du(inDir)._1
  }

  private def source(spark: SparkSession)(d: DateInterval): DataFrame = spark.read.parquet(dayDir(d))
  private def bench(spark: SparkSession): DataFrame = spark.read.parquet(inDir.resolve("bench").toString)

  private def runner(spark: SparkSession, root: Path, tracer: Tracer): BenchRunner[SparkJob] = {
    val url = HdfsUrl(root.toString)
    def table(n: String): WarehouseTable =
      if (tracer.enabled) new TracedTable(url, n, tracer) else WarehouseTable(url, n)
    val job: GraftConfig => SparkJob =
      if (incremental) _ => new IncrementalReleaseJob(source(spark), bench,
        table("urls"), table("fps"), table("bands"), table("curated"), table("stats"),
        table("release"), table("manifest"), gen.targetsPpm, verifyNear = true)
      else _ => new ReleaseJob(source(spark), bench, table("release"), table("manifest"),
        gen.targetsPpm)
    new BenchRunner[SparkJob](if (incremental) "release_daily" else "release_bulk",
      dates, job, new BenchMessaging(tracer))
  }

  // no warm-up: the first date of the first pass runs cold, as a job
  // launched once per date does; it counts in wall_s, and the op
  // percentiles are over the warm dates
  def warmUp(spark: SparkSession, dir: Path): Unit = ()

  def pass(spark: SparkSession, dir: Path, k: Int, tracer: Tracer): Pass = {
    Option(lastRoot).foreach(Disk.rm)
    val root = dir.resolve(s"wh-$k")
    val r = runner(spark, root, tracer)
    val before = org.apache.spark.BenchAccess.listenerCount(spark.sparkContext)
    val t0 = System.nanoTime(); val t0us = Clock.nowUs
    tracer.span("bench", "runWith")(r.runWith(spark, config))
    val wall = (System.nanoTime() - t0) / 1e9
    listenersAdded += org.apache.spark.BenchAccess.listenerCount(spark.sparkContext) - before
    val m = r.messaging
    if (tracer.enabled) etlStats += EtlPass(m.events, m.retries, m.stageFailures, (m.firstDateUs - t0us) / 1e6)
    lastRoot = root
    val (bytes, files) = Disk.du(root)
    Pass(wall, m.dates.toVector, 0, bytes, files, coldOps = if (k == 0) 1 else 0)
  }

  private def rows(df: DataFrame): Set[String] =
    df.selectExpr("ord", "stage", "detail", "n", "tokens", "checksum").collect()
      .map(_.mkString("|")).toSet

  val checks: Int = 2 // the law, and the raw count against the generator

  /** The final manifest must equal the other release path's over the same
    * documents: daily runs against the one-shot `Release.build` over the
    * union of the days; bulk runs (one `Release.build` per date) against
    * the incremental curation and cut of the last date alone. */
  def check(spark: SparkSession, dir: Path): Seq[String] = {
    val last = dates.last
    val got = rows(WarehouseTable(HdfsUrl(lastRoot.toString), "manifest").load(spark, last))
    val want =
      if (incremental) rows(Release.build(dates.map(source(spark)).reduce(_ unionByName _),
        bench(spark), gen.targetsPpm)._2)
      else {
        val empty = (s: org.apache.spark.sql.types.StructType) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        val day = IncrementalRelease.curateDay(source(spark)(last), bench(spark),
          empty(IncrementalRelease.UrlStoreSchema), empty(IncrementalRelease.FpStoreSchema),
          empty(IncrementalRelease.VerifiedBandStoreSchema), verifyNear = true)
        rows(IncrementalRelease.cut(day.curated, day.stats, gen.targetsPpm)._2)
      }
    val raw = got.find(_.startsWith("0|raw|kept|")).map(_.split('|')(3).toLong)
    val expectRaw = if (incremental) gen.counts.docs else gen.days.last.size.toLong
    (if (got == want) Nil
     else Seq(s"manifest differs: only in run ${(got -- want).toSeq.sorted.mkString(";")} " +
       s"only in reference ${(want -- got).toSeq.sorted.mkString(";")}")) ++
    (if (raw.contains(expectRaw)) Nil else Seq(s"manifest raw count $raw, generated $expectRaw"))
  }

  def inputDocs: Long = gen.counts.docs
  def inputBytes: Long = lastInBytes
  def info: Seq[(String, String)] =
    Seq("days" -> dates.size.toString, "docs_per_day" -> params.docsPerDay.toString,
      "input_text_mb" -> f"${gen.counts.textBytes / 1e6}%.2f") ++
    gen.counts.shares.map { case (k, v) => s"share.$k" -> f"$v%.4f" }
}
