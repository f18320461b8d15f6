package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.testkit.SourceScan.{codeLines, sourceRoot}
import graft.testkit.SparkTestBase

/** Embedding-bearing stream row for the S15 semantic-dedup test. */
case class VecDoc(docId: Long, ts: Timestamp, embedding: Seq[Float])

/** Preference-judgment stream row for the S30 cells test. */
case class Judgment(ts: Timestamp, itemA: String, itemB: String, winner: Option[String])

class EventStreamsSpec extends SparkTestBase {
  import EventStreams._
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(3600_000L * 24 * 365 * 50 + minute * 60_000L)

  /** MemoryStream[Event] yields camelCase columns; the stream contract is snake_case. */
  private def asContract(df: org.apache.spark.sql.DataFrame) =
    df.toDF("event_id", "ts", "user_id", "event_type", "value")

  private def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
  }

  test("windowed rollup emits a window once the watermark passes it") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = windowedRollup(asContract(in.toDF()), windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("rollup_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 11, "click", 2.0),
      Event(3, ts(4), 10, "view", 5.0))
    q.processAllAvailable()
    // advance the watermark far past the first window
    in.addData(Event(99, ts(60), 12, "click", 0.0))
    runToCompletion(q)
    val out = spark.table("rollup_out")
      .select($"event_type", $"n", $"total_value").as[(String, Long, Double)].collect().toSet
    out shouldBe Set(("click", 2L, 3.0), ("view", 1L, 5.0))
  }

  test("unique-user rollup counts distinct users per window via HLL sketch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = uniqueUsersRollup(asContract(in.toDF()), windowLength = "10 minutes",
      watermark = "5 minutes")
      .writeStream.format("memory").queryName("uu_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 1.0), // same user again
      Event(3, ts(3), 11, "click", 1.0),
      Event(4, ts(4), 12, "view", 1.0))
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "click", 0.0)) // advance watermark
    runToCompletion(q)
    val out = spark.table("uu_out")
      .select($"event_type", $"n", $"approx_users").as[(String, Long, Long)].collect().toSet
    // HLL++ is exact in sparse mode at these cardinalities
    out shouldBe Set(("click", 3L, 2L), ("view", 1L, 1L))
  }

  test("value-quantile rollup tracks per-window quantiles via mergeable sketch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = valueQuantilesRollup(asContract(in.toDF()), windowLength = "10 minutes",
      watermark = "5 minutes", quantiles = Seq(0.5, 1.0))
      .writeStream.format("memory").queryName("vq_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 11, "click", 2.0),
      Event(3, ts(3), 12, "click", 3.0),
      Event(4, ts(4), 13, "view", 5.0))
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 14, "click", 0.0)) // advance watermark
    runToCompletion(q)
    val out = spark.table("vq_out")
      .select($"event_type", $"n", $"value_quantiles").as[(String, Long, Seq[Double])]
      .collect().toSet
    // small windows fit entirely in the summary -> exact quantiles
    out shouldBe Set(("click", 3L, Seq(2.0, 3.0)), ("view", 1L, Seq(5.0, 5.0)))
  }

  test("heavy-hitters rollup tracks per-window top keys via mergeable Misra-Gries summary") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = heavyHittersRollup(asContract(in.toDF()), keyCol = "user_id",
      windowLength = "10 minutes", watermark = "5 minutes", capacity = 8)
      .writeStream.format("memory").queryName("hh_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 1.0),
      Event(3, ts(3), 10, "click", 1.0),
      Event(4, ts(4), 11, "click", 1.0),
      Event(5, ts(5), 12, "view", 1.0))
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "click", 0.0)) // advance watermark
    runToCompletion(q)
    val out = spark.table("hh_out")
      .select($"event_type", $"n",
        org.apache.spark.sql.functions.expr(
          "transform(hh_summary, e -> concat(e.key, ':', e.cnt))"))
      .as[(String, Long, Seq[String])].collect().toSet
    // capacity 8 >> distinct keys: exact counts, sorted (cnt DESC, key)
    out shouldBe Set(
      ("click", 4L, Seq("10:3", "11:1")),
      ("view", 1L, Seq("12:1")))
  }

  test("count-min rollup estimates per-window key frequencies and re-rolls exactly") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = cmsRollup(asContract(in.toDF()), keyCol = "user_id",
      windowLength = "10 minutes", watermark = "5 minutes", width = 64, depth = 4)
      .writeStream.format("memory").queryName("cms_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 1.0),
      Event(3, ts(3), 10, "click", 1.0),
      Event(4, ts(4), 11, "click", 1.0),
      Event(5, ts(15), 10, "click", 1.0)) // second window
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "click", 0.0)) // advance watermark
    runToCompletion(q)
    val windows = spark.table("cms_out").where($"event_type" === "click")
    // per-window point estimates are exact at this width
    val est = windows
      .select($"window_start", graft.ops.Sketches.cmsEstimate(
        $"cms", org.apache.spark.sql.functions.lit("10"), 64, 4).as("e"))
      .as[(Timestamp, Long)].collect().toMap
    est.values.toSeq.sorted shouldBe Seq(1L, 3L)
    // emitted windows re-roll to the all-time sketch EXACTLY: estimate over
    // the merged grid equals the total across windows
    val total = graft.ops.Sketches.reRollupCms(
      windows.select($"cms"), Seq.empty, 64, 4)
      .select(graft.ops.Sketches.cmsEstimate(
        $"cms", org.apache.spark.sql.functions.lit("10"), 64, 4))
      .as[Long].head()
    total shouldBe 4L
  }

  test("S23 kx2 cells: windowed two-sample counts merge to the exact batch chi-squared") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = kx2CellsRollup(asContract(in.toDF()), "event_type", $"user_id" % 2 === 0,
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("kx2_out").outputMode("append").start()
    val rows = Seq(
      Event(1, ts(1), 10, "click", 0.0), // even -> a
      Event(2, ts(2), 11, "click", 0.0), // odd  -> b
      Event(3, ts(3), 12, "view", 0.0),
      Event(4, ts(4), 13, "view", 0.0),
      Event(5, ts(15), 14, "click", 0.0), // second window, even
      Event(6, ts(16), 15, "view", 0.0))  // second window, odd
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "purchase", 0.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("kx2_out").where($"event_type" =!= "purchase")
    cells.select($"window_start").distinct().count() shouldBe 2L
    // categories span both windows: merged cells finish EXACTLY to the
    // batch statistic over the same rows (counts add per category)
    val streamed = graft.ops.Drift.chi2FromKx2Cells(
      cells.select($"event_type", $"a", $"b"), Seq.empty, "event_type")
    val batch = graft.ops.Drift.chiSquareKx2(
      rows.map(e => (e.eventId, e.userId, e.eventType))
        .toDF("event_id", "user_id", "event_type"),
      Seq.empty, "event_type", $"user_id" % 2 === 0)
    streamed.collect().map(_.toSeq) shouldBe batch.collect().map(_.toSeq)
    // and the SAME window cells finish to the batch total-variation
    // effect size too — one rollup feeds both drift finishers
    val tvStream = graft.ops.Drift.tvFromKx2Cells(
      cells.select($"event_type", $"a", $"b"), Seq.empty, "event_type")
    val tvBatch = graft.ops.Drift.tvDrift(
      rows.map(e => (e.eventId, e.userId, e.eventType))
        .toDF("event_id", "user_id", "event_type"),
      Seq.empty, "event_type", $"user_id" % 2 === 0)
    tvStream.collect().map(_.toSeq) shouldBe tvBatch.collect().map(_.toSeq)
    // and unpivoted into per-arm counts, the windows feed the SRM
    // guardrail's mergeable finisher — assignment monitoring from the
    // same cells, no extra streaming state
    val armCounts = cells.select($"event_type", org.apache.spark.sql.functions.lit(0L).as("arm"), $"a".as("cnt"))
      .unionByName(cells.select($"event_type", org.apache.spark.sql.functions.lit(1L).as("arm"), $"b".as("cnt")))
    val srmStream = graft.ops.Stats.srmFromCounts(armCounts,
      Seq("event_type"), "arm", "cnt")
    val srmBatch = graft.ops.Stats.srmCheck(
      rows.map(e => (e.eventType, e.userId % 2)).toDF("event_type", "arm"),
      Seq("event_type"), "arm")
    srmStream.collect().map(_.toSeq).toSet shouldBe
      srmBatch.collect().map(_.toSeq).toSet
  }

  test("S27 brier cells: windowed numerators finish to the batch score exactly") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val stream = asContract(in.toDF())
      .withColumn("score_ppm",
        org.apache.spark.sql.functions.least(
          (org.apache.spark.sql.functions.col("value") * 10000).cast("long"),
          org.apache.spark.sql.functions.lit(1000000L)))
      .withColumn("good", $"user_id" % 2 === 0)
    val q = EventStreams.brierCellsRollup(stream, "score_ppm", "good",
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("brier_out").outputMode("append").start()
    val rows = Seq(
      Event(1, ts(1), 10, "click", 80.0),  // 800000 ppm, good
      Event(2, ts(2), 11, "click", 40.0),  // 400000 ppm, not good
      Event(3, ts(15), 12, "click", 90.0), // second window, good
      Event(4, ts(16), 13, "click", 10.0)) // second window, not good
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "purchase", 1.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("brier_out").where($"event_type" === "click")
    cells.select($"window_start").distinct().count() shouldBe 2L
    // merged numerators finish with the batch division to the batch score
    val merged = cells.agg(
      org.apache.spark.sql.functions.sum($"n").as("n"),
      org.apache.spark.sql.functions.sum($"se").as("se"))
      .selectExpr("CAST(se DIV (n * 1000000) AS BIGINT)").as[Long].head()
    val batch = graft.ops.Stats.brierScore(
      rows.map(e => ("click", (e.value * 10000).toLong min 1000000L,
        e.userId % 2 == 0)).toDF("t", "score_ppm", "good"),
      Seq("t"), "score_ppm", "good")
      .select($"brier_micro").as[Long].head()
    merged shouldBe batch
    // hand check: errors 0.2, 0.4, 0.1, 0.1 -> mean sq = 0.055 -> 55000
    batch shouldBe 55000L
  }

  test("S28 confusion cells: windowed (true, pred) counts merge to the batch F1") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    // true label = event_type; "prediction" = a deterministic function of
    // user_id so the confusion matrix has real off-diagonal mass
    val stream = asContract(in.toDF())
      .withColumn("pred",
        org.apache.spark.sql.functions.when($"user_id" % 3 === 0, "click")
          .otherwise($"event_type"))
    val q = EventStreams.confusionCellsRollup(stream, "event_type", "pred",
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("conf_out").outputMode("append").start()
    val rows = Seq(
      Event(1, ts(1), 10, "click", 0.0),  // pred click (tp)
      Event(2, ts(2), 11, "view", 0.0),   // pred view (tp)
      Event(3, ts(3), 12, "view", 0.0),   // user 12 % 3 = 0 -> pred click (miss)
      Event(4, ts(15), 13, "click", 0.0), // second window, pred click (tp)
      Event(5, ts(16), 15, "view", 0.0),  // user 15 % 3 = 0 -> pred click (miss)
      Event(6, ts(17), 16, "view", 0.0))  // pred view (tp)
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 14, "purchase", 0.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("conf_out").where($"event_type" =!= "purchase")
    cells.select($"window_start").distinct().count() shouldBe 2L
    // cells ADD per (true, pred) across windows, then finish EXACTLY to
    // the batch per-class F1 over the same rows
    val streamed = graft.ops.Stats.f1FromConfusion(
      cells.groupBy($"event_type", $"pred")
        .agg(org.apache.spark.sql.functions.sum($"n").as("n")),
      Seq.empty, "event_type", "pred", "n")
      .orderBy($"clazz")
    val batch = graft.ops.Stats.f1FromConfusion(
      rows.map(e => (e.eventType,
          if (e.userId % 3 == 0) "click" else e.eventType))
        .toDF("event_type", "pred")
        .groupBy($"event_type", $"pred")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")),
      Seq.empty, "event_type", "pred", "n")
      .orderBy($"clazz")
    streamed.collect().map(_.toSeq) shouldBe batch.collect().map(_.toSeq)
    // hand check: view recall = 2/4 -> 500000 ppm recall
    streamed.where($"clazz" === "view")
      .select($"recall_ppm").as[Long].head() shouldBe 500000L
  }

  test("S29 eta cells: windowed sum triples merge to the batch eta-squared") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val stream = asContract(in.toDF())
      .withColumn("category", ($"user_id" % 2).cast("string"))
      .withColumn("value_units", ($"value" * 100).cast("long"))
    val q = EventStreams.etaCellsRollup(stream, "event_type", "category",
      "value_units", windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("eta_out").outputMode("append").start()
    val rows = Seq(
      Event(1, ts(1), 10, "click", 2.0),  // cat 0
      Event(2, ts(2), 11, "click", 10.0), // cat 1
      Event(3, ts(3), 12, "click", 4.0),  // cat 0
      Event(4, ts(15), 13, "click", 12.0), // second window, cat 1
      Event(5, ts(16), 14, "click", 3.0))  // second window, cat 0
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 15, "purchase", 1.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("eta_out").where($"event_type" === "click")
    cells.select($"window_start").distinct().count() shouldBe 2L
    // cells ADD per (group, category) across windows, then finish to the
    // batch statistic digit-for-digit
    val streamed = graft.ops.Stats.etaSquaredFromCells(
      cells.groupBy($"event_type", $"category")
        .agg(org.apache.spark.sql.functions.sum($"n").as("n"),
          org.apache.spark.sql.functions.sum($"s").as("s"),
          org.apache.spark.sql.functions.sum($"ss").as("ss")),
      Seq("event_type"))
    val batch = graft.ops.Stats.etaSquared(
      rows.map(e => ("click", (e.userId % 2).toString, (e.value * 100).toLong))
        .toDF("event_type", "category", "value_units"),
      Seq("event_type"), "category", "value_units")
    streamed.collect().map(_.toSeq) shouldBe batch.collect().map(_.toSeq)
  }

  test("S26 log2 cells: windowed bit-length bins merge to the batch histogram") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.log2CellsRollup(asContract(in.toDF()),
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("log2_out").outputMode("append").start()
    val rows = Seq(
      Event(1, ts(1), 10, "click", 1.0),   // bin 0
      Event(2, ts(2), 11, "click", 3.0),   // bin 1
      Event(3, ts(3), 12, "click", 0.0),   // bin -1 (non-positive)
      Event(4, ts(15), 13, "click", 2.0),  // second window, bin 1
      Event(5, ts(16), 14, "click", 9.0))  // second window, bin 3
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "purchase", 1.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("log2_out").where($"event_type" === "click")
    cells.select($"window_start").distinct().count() shouldBe 2L
    // merged window cells == batch log2Histogram over the same values
    val merged = cells.groupBy($"bin")
      .agg(org.apache.spark.sql.functions.sum($"n").as("n"))
      .as[(Long, Long)].collect().toMap
    val batch = graft.ops.DataQuality.log2Histogram(
      rows.map(e => ("click", e.value.toLong)).toDF("t", "v"), Seq("t"), "v")
      .select($"bin", $"n").as[(Long, Long)].collect().toMap
    merged shouldBe batch
    merged(-1L) shouldBe 1L // the zero landed in the out-of-domain bin
  }

  test("S24 gram cells: windowed summaries merge bit-identically to the batch gram") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[VecDoc]
    val vecs = (0 until 6).map(i =>
      Array.tabulate(4)(d => (math.sin(i * 13 + d * 7) * 2).toFloat))
    val stream = in.toDF()
      .withColumn("label", ($"docId" % 2).cast("int"))
      .withColumnRenamed("ts", "ts")
    val q = EventStreams.gramCellsRollup(stream, "embedding", "label", dim = 4,
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("gram_out").outputMode("append").start()
    in.addData(
      VecDoc(0L, ts(1), vecs(0)), VecDoc(1L, ts(2), vecs(1)),
      VecDoc(2L, ts(3), vecs(2)), VecDoc(3L, ts(4), vecs(3)),
      VecDoc(4L, ts(15), vecs(4)), VecDoc(5L, ts(16), vecs(5))) // 2nd window
    q.processAllAvailable()
    in.addData(VecDoc(99L, ts(60), vecs(0))) // advance watermark
    runToCompletion(q)
    val cells = spark.table("gram_out").where($"window_start" < ts(50))
    cells.select($"window_start").distinct().count() shouldBe 2L
    // merge across windows == batch gramSums over the same rows, bit for bit
    val merged = cells.groupBy($"label")
      .agg(graft.functions.functions.gram_merge($"gram", 4).as("m"))
      .as[(Int, Seq[Long])].collect().toMap
    val batch = graft.ops.Similarity.gramSums(
      vecs.zipWithIndex.map { case (v, i) => (i % 2, v) }.toDF("label", "embedding"),
      Seq("label"), "embedding", dim = 4)
    batch.select($"label",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.array($"n"), $"sums_micro", $"gram_micro")
        .as("packed"))
      .as[(Int, Seq[Long])].collect().toMap shouldBe merged
  }

  test("S25 KMV set cells: window sketches re-roll bit-identically to batch, ops finish") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = kmvSetCellsRollup(asContract(in.toDF()), keyCol = "user_id",
      windowLength = "10 minutes", watermark = "5 minutes", k = 8)
      .writeStream.format("memory").queryName("kmv_out").outputMode("append").start()
    // users overlap across windows AND repeat within one (the distinct law)
    val evs = Seq(
      Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "click", 1.0),
      Event(3, ts(3), 11, "click", 1.0), Event(4, ts(4), 12, "click", 1.0),
      Event(5, ts(5), 13, "view", 1.0), Event(6, ts(6), 11, "view", 1.0),
      Event(7, ts(15), 11, "click", 1.0), Event(8, ts(16), 14, "click", 1.0),
      Event(9, ts(17), 14, "view", 1.0))
    in.addData(evs: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 99, "purchase", 0.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("kmv_out").where($"window_start" < ts(50))
    cells.select($"window_start").distinct().count() shouldBe 2L
    // merge across windows == batch sketch over the same rows, bit for bit
    val merged = graft.ops.Sketches.reRollupKmvSetSketch(cells, Seq("event_type"), k = 8)
    val batchDf = evs.map(e => (e.eventType, e.userId)).toDF("event_type", "uid")
    val batch = graft.ops.Sketches.kmvSetSketch(batchDf, Seq("event_type"), "uid", k = 8)
    merged.as[(String, Seq[String])].collect().toMap shouldBe
      batch.as[(String, Seq[String])].collect().toMap
    // and the merged sketches finish into set ops: click={10,11,12,14},
    // view={13,11,14} -> sub-k regime, EXACT inter=2, union=5
    val out = graft.ops.Sketches.kmvSetOps(
      merged.where($"event_type" === "click")
        .select(org.apache.spark.sql.functions.lit(1).as("g"), $"kmv"),
      merged.where($"event_type" === "view")
        .select(org.apache.spark.sql.functions.lit(1).as("g"), $"kmv"),
      Seq("g"), k = 8)
      .as[(Int, Long, Long, Long, Long, Long, Long)].head()
    out shouldBe ((1, 4L, 3L, 5L, 2L, 2L, 2L * 1000000L / 5L))
  }

  test("S21 histogram cells: exact fixed-edge counts, clamping, drift finish parity") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    // edges: lo=0, width=10, bins=3 -> [0,10) [10,20) [20,inf clamped)
    val q = histogramCellsRollup(asContract(in.toDF()), lo = 0L, width = 10L, bins = 3,
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("hist_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 3.0),
      Event(2, ts(2), 10, "click", 12.0),
      Event(3, ts(3), 10, "click", 14.0),
      Event(4, ts(4), 10, "click", 99.0),  // clamps into bin 2
      Event(5, ts(6), 10, "click", -7.0),  // clamps into bin 0
      Event(6, ts(15), 10, "click", 11.0)) // second window
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "click", 0.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("hist_out").where($"event_type" === "click")
    // per-window exact cells with the clamp law
    cells.groupBy($"bin").sum("n").as[(Long, Long)].collect().toMap shouldBe
      Map(0L -> 2L, 1L -> 3L, 2L -> 1L)
    cells.select($"window_start").distinct().count() shouldBe 2L

    // windows re-aggregate (cells add) and finish against a reference with
    // the exact staged chi-squared — bit-identical to the batch finisher
    val merged = cells.groupBy($"bin").agg(
      org.apache.spark.sql.functions.sum($"n").as("n"))
    val ref = Seq((0L, 2L), (1L, 3L), (2L, 1L)).toDF("bin", "n")
    val drift = graft.ops.Drift.histogramDrift(merged, ref)
      .as[(Long, Long, Long, Long)].collect().head
    drift shouldBe ((6L, 6L, 3L, 0L)) // identical shape -> exactly zero
    // and a genuinely shifted reference flags a positive statistic
    val shifted = Seq((0L, 6L), (1L, 0L), (2L, 0L)).toDF("bin", "n")
    graft.ops.Drift.histogramDrift(merged, shifted)
      .as[(Long, Long, Long, Long)].collect().head._4 should be > 0L
  }

  test("S22 calibration cells: stream numerators finish to the batch bins and ECE") {
    import org.apache.spark.sql.functions.{expr, sum}
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val scored = asContract(in.toDF())
      .withColumn("score_ppm", expr("CAST(round(value * 100, 0) AS BIGINT)"))
      .withColumn("good", $"user_id" % 2 === 0)
    val q = calibrationCellsRollup(scored, "score_ppm", "good", bins = 4,
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("cal_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 1000.0),  // 100000 ppm -> bin 0, good
      Event(2, ts(2), 11, "click", 3000.0),  // 300000 -> bin 1, bad
      Event(3, ts(3), 12, "click", 3200.0),  // 320000 -> bin 1, good
      Event(4, ts(4), 13, "click", 9999.0),  // 999900 -> bin 3, bad
      Event(5, ts(15), 14, "click", 2600.0)) // second window: bin 1, good
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 13, "view", 0.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("cal_out").where($"event_type" === "click")
    cells.select($"window_start").distinct().count() shouldBe 2L
    // bin 1 spans both windows: merged numerators finish EXACTLY to the
    // batch bins + ECE over the same rows (rates would compose truncations)
    val merged = graft.ops.Stats.calibrationFromCells(
      cells.groupBy($"event_type", $"bin").agg(sum($"n").as("n"),
        sum($"sum_score").as("sum_score"), sum($"pos").as("pos")),
      Seq("event_type"))
    val batch = graft.ops.Stats.calibrationBins(
      Seq((100000L, true), (300000L, false), (320000L, true),
        (999900L, false), (260000L, true))
        .map { case (s, g) => ("click", s, g) }
        .toDF("event_type", "score_ppm", "good"),
      Seq("event_type"), "score_ppm", "good", bins = 4)
    merged.collect().map(_.toSeq).toSet shouldBe batch.collect().map(_.toSeq).toSet
    graft.ops.Stats.eceFromBins(merged, Seq("event_type"))
      .collect().map(_.toSeq) shouldBe
      graft.ops.Stats.eceFromBins(batch, Seq("event_type")).collect().map(_.toSeq)
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = dedup(asContract(in.toDF()), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(1, ts(2), 10, "click", 1.0), // dup id
      Event(2, ts(2), 11, "view", 2.0),
      Event(2, ts(3), 11, "view", 2.0), // dup id
      Event(3, ts(3), 12, "click", 3.0))
    runToCompletion(q)
    spark.table("dedup_out").select($"event_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
  }

  test("stream-static enrichment joins each batch against the dim table") {
    implicit val sc = spark.sqlContext
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = enrich(asContract(in.toDF()), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    in.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 99, "view", 2.0))
    runToCompletion(q)
    val out = spark.table("enrich_out").select($"user_id", $"tier").as[(Long, Option[String])]
      .collect().toSet
    out shouldBe Set((10L, Some("gold")), (99L, None))
  }

  test("dedupAgainstStore drops stored fingerprints and in-stream repeats") {
    implicit val sc = spark.sqlContext
    // the store holds the fingerprint of "seen before" (normalized)
    val store = Seq("seen before").toDF("text")
      .select(graft.ops.TextAnalysis.fingerprint($"text").as("fp"))
    val in = MemoryStream[Event]
    // reuse the Event stream shape: event_type carries the "text"
    val docs = asContract(in.toDF()).select($"event_id".as("doc_id"), $"ts",
      $"event_type".as("text"))
    val q = dedupAgainstStore(docs, store, textCol = "text")
      .writeStream.format("memory").queryName("store_dedup_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 0, "Seen  BEFORE", 0.0), // normalizes onto the stored fp -> dropped
      Event(2, ts(2), 0, "fresh one", 0.0),
      Event(3, ts(3), 0, "fresh  ONE", 0.0), // in-stream near-repeat -> dropped
      Event(4, ts(4), 0, "another", 0.0))
    runToCompletion(q)
    spark.table("store_dedup_out").select($"doc_id").as[Long].collect().sorted shouldBe
      Array(2L, 4L)
  }

  test("dedupUrlsAgainstStore drops stored and in-stream canonical URL repeats") {
    implicit val sc = spark.sqlContext
    // the store holds the canonical form of a known page
    val store = Seq("http://x.com/known").toDF("u")
      .select(graft.ops.Web.normalizeUrl($"u").as("canon_url"))
    val in = MemoryStream[Event]
    // reuse the Event stream shape: event_type carries the URL; empty
    // string plays the missing-URL row (nullif below)
    val docs = asContract(in.toDF()).select($"event_id".as("doc_id"), $"ts",
      org.apache.spark.sql.functions.expr("nullif(event_type, '')").as("url"))
    val q = EventStreams.dedupUrlsAgainstStore(docs, store)
      .writeStream.format("memory").queryName("url_dedup_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 0, "HTTP://X.com:80/known?utm_source=a", 0.0), // stored page -> dropped
      Event(2, ts(2), 0, "x.com/fresh", 0.0),                        // first sighting -> kept
      Event(3, ts(3), 0, "http://x.com/fresh#frag", 0.0),            // in-stream recrawl -> dropped
      Event(4, ts(4), 0, "", 0.0),                                   // no URL -> kept untouched
      Event(5, ts(5), 0, "https://y.org/other", 0.0))
    runToCompletion(q)
    val out = spark.table("url_dedup_out")
      .select($"doc_id", $"canon_url").as[(Long, Option[String])].collect().toMap
    out.keySet shouldBe Set(2L, 4L, 5L)
    out(2L) shouldBe Some("http://x.com/fresh") // canonical form for the store append
    out(4L) shouldBe None
  }

  test("dedupNearAgainstStore drops store near-dups and in-stream near-dups, batch parity") {
    implicit val sc = spark.sqlContext
    // one-word-changed recrawls: fingerprint/URL equality miss both pairs
    val stored = "the quick brown fox jumps over the lazy dog while the sun sets slowly behind the quiet hills tonight"
    val storedVar = stored.replace("tonight", "today")
    val freshA = "completely different content about spark structured streaming state management and watermarks in every engine version"
    val freshAVar = freshA.replace("version", "release")
    val distinct = "unrelated third topic entirely about cooking pasta with tomatoes basil and olive oil at home for dinner"

    // self-validating preconditions: each near-dup pair shares LSH bands,
    // no cross-pair does (the hashes are deterministic, so this is stable)
    def bandsOf(t: String): Set[(Int, String)] =
      graft.ops.Dedup.bandedIds(Seq((1L, t)).toDF("id", "text"), "id", "text")
        .select($"band", $"bh").as[(Int, String)].collect().toSet
    (bandsOf(stored) intersect bandsOf(storedVar)) should not be empty
    (bandsOf(freshA) intersect bandsOf(freshAVar)) should not be empty
    (bandsOf(stored) intersect bandsOf(freshA)) shouldBe empty
    (bandsOf(freshA) intersect bandsOf(distinct)) shouldBe empty
    (bandsOf(storedVar) intersect bandsOf(distinct)) shouldBe empty

    // the band store as the batch job writes it: (band, bh) rows
    val store = graft.ops.Dedup
      .bandedIds(Seq((0L, stored)).toDF("id", "text"), "id", "text")
      .select($"band", $"bh")

    val in = MemoryStream[Event]
    val docs = asContract(in.toDF()).select($"event_id".as("doc_id"), $"ts",
      $"event_type".as("text"))
    val q = dedupNearAgainstStore(docs, store, textCol = "text")
      .writeStream.format("memory").queryName("near_dedup_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 0, storedVar, 0.0), // near-dup of history -> dropped
      Event(2, ts(2), 0, freshA, 0.0),    // first sighting -> kept
      Event(3, ts(3), 0, freshAVar, 0.0), // in-stream near-dup -> dropped
      Event(4, ts(4), 0, distinct, 0.0))  // kept
    runToCompletion(q)
    spark.table("near_dedup_out").select($"doc_id").as[Long].collect().sorted shouldBe
      Array(2L, 4L)
    // survivors carry their band columns for the store-append sink
    spark.table("near_dedup_out").columns should contain allOf ("band0", "band1", "band2", "band3")

    // batch parity: the incremental job's tiers (store semi-join + within-
    // day near-dedup) give the same verdicts on the same day of documents
    val day = Seq((1L, storedVar), (2L, freshA), (3L, freshAVar), (4L, distinct))
      .toDF("doc_id", "text")
    val hits = graft.ops.Dedup.bandedIds(day, "doc_id", "text")
      .join(store, Seq("band", "bh"), "left_semi").select($"doc_id").distinct()
    val afterStore = day.join(hits, Seq("doc_id"), "left_anti")
    graft.ops.Dedup.removeNearDuplicates(afterStore, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted shouldBe Array(2L, 4L)
  }

  test("dedupNearAgainstStore opt-in verify keeps below-threshold band collisions") {
    implicit val sc = spark.sqlContext
    val stored = "the quick brown fox jumps over the lazy dog while the sun sets slowly behind the quiet hills tonight"
    val storedVar = stored.replace("tonight", "today")
    val distinct = "unrelated third topic entirely about cooking pasta with tomatoes basil and olive oil at home for dinner"

    val storedDocs = Seq((0L, stored)).toDF("id", "text")
    val store = graft.ops.Dedup.bandedIds(storedDocs, "id", "text")
      .select($"band", $"bh")

    // preconditions: the recrawl collides with the stored doc's bands, and
    // its exact Jaccard (one changed word of 19 -> 14/16 = 0.875) sits
    // between the two thresholds the test exercises
    def bandsOf(t: String): Set[(Int, String)] =
      graft.ops.Dedup.bandedIds(Seq((1L, t)).toDF("id", "text"), "id", "text")
        .select($"band", $"bh").as[(Int, String)].collect().toSet
    (bandsOf(stored) intersect bandsOf(storedVar)) should not be empty
    val jac = Seq((stored, storedVar)).toDF("a", "b")
      .select(graft.ops.Dedup.jaccard(
        graft.ops.Dedup.wordShingles($"a"), graft.ops.Dedup.wordShingles($"b")))
      .as[Double].collect().head
    jac shouldBe 0.875

    // strict threshold: the band collision FAILS verify -> the gray-zone
    // recrawl survives (the unverified tier would have dropped it); the
    // exact copy (Jaccard 1.0) still verifies and drops
    val in = MemoryStream[Event]
    val docs = asContract(in.toDF()).select($"event_id".as("doc_id"), $"ts",
      $"event_type".as("text"))
    val q = dedupNearAgainstStore(docs, store, textCol = "text",
      verifyDocs = Some(storedDocs), verifyThreshold = 0.99)
      .writeStream.format("memory").queryName("near_verify_out").outputMode("append").start()
    in.addData(
      Event(1, ts(1), 0, storedVar, 0.0), // band collision, 0.875 < 0.99 -> SURVIVES
      Event(2, ts(2), 0, stored, 0.0),    // exact copy, 1.0 -> verified drop
      Event(3, ts(3), 0, distinct, 0.0))  // no collision -> kept
    runToCompletion(q)
    spark.table("near_verify_out").select($"doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 3L)

    // batch threshold (default 0.8): the same recrawl IS a verified dup —
    // the verified tier agrees with the unverified drop on true near-dups
    val in2 = MemoryStream[Event]
    val docs2 = asContract(in2.toDF()).select($"event_id".as("doc_id"), $"ts",
      $"event_type".as("text"))
    val q2 = dedupNearAgainstStore(docs2, store, textCol = "text",
      verifyDocs = Some(storedDocs))
      .writeStream.format("memory").queryName("near_verify_out2").outputMode("append").start()
    in2.addData(
      Event(1, ts(1), 0, storedVar, 0.0), // 0.875 >= 0.8 -> verified drop
      Event(2, ts(2), 0, distinct, 0.0))
    runToCompletion(q2)
    spark.table("near_verify_out2").select($"doc_id").as[Long].collect().sorted shouldBe
      Array(2L)
  }

  test("dedupSemanticAgainstStore drops stored dups verified and in-stream sketch dups, batch parity") {
    implicit val sc = spark.sqlContext
    // the stores as IncrementalSemanticDedupJob writes them
    val centroids = Seq((0, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "centroid")
    val keepers = Seq((0, 1L, Seq(1f, 0f, 0f, 0f)), (1, 2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "vec_id", "embedding")

    val storedDup = Seq(0.98f, 0.2f, 0f, 0f)   // cos ~0.98 to keeper 1 -> store drop
    val fresh = Seq(0f, 0f, 1f, 0f)            // new direction -> kept
    val freshCopy = Seq(0f, 0f, 1f, 0f)        // identical in-stream repeat -> sketch drop
    val other = Seq(0f, 0f, 0f, 1f)            // distinct new direction -> kept

    val in = MemoryStream[VecDoc]
    val q = dedupSemanticAgainstStore(in.toDF(), keepers, centroids, threshold = 0.95)
      .writeStream.format("memory").queryName("sem_dedup_out").outputMode("append").start()
    in.addData(
      VecDoc(10L, ts(1), storedDup),
      VecDoc(11L, ts(2), fresh),
      VecDoc(12L, ts(3), freshCopy),
      VecDoc(13L, ts(4), other))
    runToCompletion(q)
    spark.table("sem_dedup_out").select($"docId").as[Long].collect().sorted shouldBe
      Array(11L, 13L)
    // survivors carry centroid_id for the keeper-store-append sink
    spark.table("sem_dedup_out").columns should contain allOf ("centroid_id", "sem_sketch")

    // batch parity: assign-to-stored-centroids + keeper cosine drop + within-
    // day dedup gives the same verdicts on the same batch of documents
    val day = Seq((10L, storedDup), (11L, fresh), (12L, freshCopy), (13L, other))
      .toDF("vec_id", "embedding")
    val assigned = graft.ops.Similarity.assignToCentroids(day, "vec_id", "embedding", centroids)
    val hits = assigned
      .join(keepers.select($"centroid_id", $"embedding".as("__kv")), Seq("centroid_id"))
      .filter(org.apache.spark.sql.functions.round(
        graft.ops.Similarity.cosine($"embedding", $"__kv"), 4) >= 0.95)
      .select($"vec_id").distinct()
    graft.ops.Similarity.semanticDedupAssigned(
      assigned.join(hits, Seq("vec_id"), "left_anti"), "vec_id", "embedding", 0.95)
      .select($"vec_id").as[Long].collect().sorted shouldBe Array(11L, 13L)
  }

  test("warehouseSink lands micro-batches in a date partition") {
    implicit val sc = spark.sqlContext
    val table = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("stream_wh")), "events")
    val date = graft.time.Day(2026, 8, 12)
    val in = MemoryStream[Event]
    val q = warehouseSink(asContract(in.toDF()), table, () => date)
      .option("checkpointLocation", tmpDir("stream_wh_ckpt")).start()
    in.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 11, "view", 2.0))
    q.processAllAvailable()
    in.addData(Event(3, ts(3), 12, "click", 3.0))
    runToCompletion(q)
    table.load(spark, date).count() shouldBe 3 // appended across micro-batches
  }

  test("warehouseSink replay: a re-delivered micro-batch does not double-append") {
    implicit val sc = spark.sqlContext
    val table = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("stream_wh_replay")), "events")
    val date = graft.time.Day(2026, 8, 12)
    val in = MemoryStream[Event]
    val q = warehouseSink(asContract(in.toDF()), table, () => date)
      .option("checkpointLocation", tmpDir("stream_wh_replay_ckpt")).start()
    in.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 11, "view", 2.0))
    runToCompletion(q)
    table.load(spark, date).count() shouldBe 2
    // simulate the at-least-once foreachBatch contract: a crash between a
    // completed write and the checkpoint commit re-invokes the handler with
    // the SAME (batch, batchId) — re-run the sink body for batch 0 verbatim
    val replayed = Seq(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 11, "view", 2.0))
      .toDF()
    table.saveStreamBatch(asContract(replayed), date, batchId = 0L)
    table.load(spark, date).count() shouldBe 2 // exactly-once held
  }

  test("curation verdicts with scriptAware pass CJK pages the ASCII gate rejects") {
    val docs = Seq(
      (1L, "深度学习模型在大规模语料库上训练需要高质量的数据和强大的算力支持"),
      (2L, "a good english sentence with many plain readable words in it today"),
      (3L, "的的的的的的的的的的的的的的的的的的的的")).toDF("doc_id", "text")
    def verdicts(scriptAware: Boolean): Map[Long, Boolean] =
      curationVerdicts(docs, scriptAware = scriptAware)
        .select($"doc_id", $"passes").as[(Long, Boolean)].collect().toMap
    val ascii = verdicts(scriptAware = false)
    val script = verdicts(scriptAware = true)
    ascii(1L) shouldBe false  // zero ASCII tokens -> whole language rejected
    script(1L) shouldBe true  // bigram tokens -> real verdict
    ascii(2L) shouldBe script(2L) // English unchanged by the flag
    script(3L) shouldBe false // degenerate repetition still fails
  }

  test("curation gate routes accepts and tagged rejects with batch-parity verdicts") {
    implicit val sc = spark.sqlContext
    val model = Map("the" -> 100000L, "cat" -> 50000L, "sat" -> 50000L, "mat" -> 50000L)
    val docs = Seq(
      (1L, "the cat sat on the mat with the other cat today"), // passes everything
      (2L, "!!! ### $$$ %%%"), // no words
      (3L, "word word word word word word word word"), // degenerate repetition
      (4L, "qqq zzz xxx vvv www yyy kkk jjj")) // tokens fine, typicality 0
    val accepted = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("gate_ok")), "docs")
    val rejected = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("gate_no")), "docs")
    val date = graft.time.Day(2026, 8, 12)

    val in = MemoryStream[(Long, String)]
    val q = EventStreams.curationGate(in.toDF().toDF("doc_id", "text"),
      accepted, rejected, typicalityModel = Some(model), minTypicalityPpm = 10000L,
      date = () => date)
      .option("checkpointLocation", tmpDir("gate_ckpt")).start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*) // across micro-batches
    runToCompletion(q)

    accepted.load(spark, date).select("doc_id").as[Long].collect().toSet shouldBe Set(1L)
    val rejects = rejected.load(spark, date)
      .select("doc_id", "reject_reason").as[(Long, String)].collect().toMap
    rejects.keySet shouldBe Set(2L, 3L, 4L)
    rejects(2L) shouldBe "ok_word_count" // symbols tokenize to nothing
    rejects(3L) shouldBe "ok_distinct_ratio"
    rejects(4L) shouldBe "atypical"

    // bit-identical to the batch verdicts on the same rows — the gate is
    // the same per-row expression, so stream == batch by construction
    val batch = EventStreams.curationVerdicts(docs.toDF("doc_id", "text"),
      typicalityModel = Some(model), minTypicalityPpm = 10000L)
      .select("doc_id", "passes", "reject_reason")
      .as[(Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    batch(1L)._1 shouldBe true
    rejects.keySet.foreach { id => batch(id)._1 shouldBe false }
    rejects.foreach { case (id, reason) => batch(id)._2 shouldBe Some(reason) }
  }

  test("curation gate with a bigram model scores word order, stream == batch") {
    implicit val sc = spark.sqlContext
    // bigram model: "the cat" / "cat sat" / "sat on" etc. — the scrambled
    // doc has the same words (a unigram model passes it) but no bigrams
    val ref = Seq("the cat sat on the mat and the cat sat still")
      .toDF("text")
    val model = graft.ops.TextAnalysis.typicalityModelN(ref, "text", n = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat sat still"), // in order
      (2L, "still sat cat the and mat the on sat cat the")) // scrambled
    val accepted = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("bigate_ok")), "docs")
    val rejected = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("bigate_no")), "docs")
    val date = graft.time.Day(2026, 8, 13)

    val in = MemoryStream[(Long, String)]
    val q = EventStreams.curationGate(in.toDF().toDF("doc_id", "text"),
      accepted, rejected, typicalityModel = Some(model), minTypicalityPpm = 50000L,
      typicalityN = 2, date = () => date)
      .option("checkpointLocation", tmpDir("bigate_ckpt")).start()
    in.addData(docs: _*)
    runToCompletion(q)

    accepted.load(spark, date).select("doc_id").as[Long].collect().toSet shouldBe Set(1L)
    val rejects = rejected.load(spark, date)
      .select("doc_id", "reject_reason").as[(Long, String)].collect().toMap
    rejects shouldBe Map(2L -> "atypical")

    // verdicts bit-identical to batch scoring with the same n
    val batch = EventStreams.curationVerdicts(docs.toDF("doc_id", "text"),
      typicalityModel = Some(model), minTypicalityPpm = 50000L, typicalityN = 2)
      .select("doc_id", "passes", "reject_reason")
      .as[(Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    batch(1L) shouldBe ((true, None))
    batch(2L) shouldBe ((false, Some("atypical")))
  }

  test("curation verdicts with a trained model gate tag low_quality_score") {
    // prose-shaped weights: doc 1 (stopword-rich prose) scores high; doc 2
    // passes every Gopher flag (enough distinct words, clean symbols) but
    // has zero stopwords -> negative model score -> model gate only
    val w = Map("stopword_ppm" -> 3L, "distinct_ppm" -> 1L,
      "punct_ppm" -> -2L, "digit_ppm" -> -200L)
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog ran far away"),
      (2L, "1111 2222 3333 4444 5555 6666 7777 8888 9999 0000"))
    val v = EventStreams.curationVerdicts(docs.toDF("doc_id", "text"),
      qualityWeights = Some(w), minQualityScore = 100000L)
      .select("doc_id", "passes", "reject_reason")
      .as[(Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    v(1L) shouldBe ((true, None))
    v(2L) shouldBe ((false, Some("low_quality_score")))

    // without weights the model gate is off: both pass the Gopher flags
    val off = EventStreams.curationVerdicts(docs.toDF("doc_id", "text"))
      .select("doc_id", "passes").as[(Long, Boolean)].collect().toMap
    off shouldBe Map(1L -> true, 2L -> true)
  }

  test("curation gate with stupid backoff credits unseen pairs of known words") {
    implicit val sc = spark.sqlContext
    val ref = Seq("the cat sat on the mat").toDF("text")
    val uni = graft.ops.TextAnalysis.typicalityModel(ref, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bi = graft.ops.TextAnalysis.typicalityModelN(ref, "text", n = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Seq(
      (1L, "the cat sat on the mat"), // known bigrams: 200000 either way
      (2L, "mat on sat cat the the"), // known words, unseen pairs: 0 pure / 93332 backoff
      (3L, "qq zz pp ww rr tt"))      // gibberish: 0 both ways

    // the pure bigram gate cannot tell scrambled-common from gibberish
    val pure = EventStreams.curationVerdicts(docs.toDF("doc_id", "text"),
      typicalityModel = Some(bi), minTypicalityPpm = 50000L, typicalityN = 2)
      .select("doc_id", "passes").as[(Long, Boolean)].collect().toMap
    pure shouldBe Map(1L -> true, 2L -> false, 3L -> false)

    // backoff separates them: partial unigram credit saves doc 2 only
    val bo = EventStreams.curationVerdicts(docs.toDF("doc_id", "text"),
      typicalityModel = Some(bi), minTypicalityPpm = 50000L,
      backoffUniModel = Some(uni))
      .select("doc_id", "passes").as[(Long, Boolean)].collect().toMap
    bo shouldBe Map(1L -> true, 2L -> true, 3L -> false)

    // and the streaming gate lands the same backoff verdicts
    val accepted = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("bogate_ok")), "docs")
    val rejected = graft.io.WarehouseTable(graft.io.HdfsUrl(tmpDir("bogate_no")), "docs")
    val date = graft.time.Day(2026, 8, 13)
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.curationGate(in.toDF().toDF("doc_id", "text"),
      accepted, rejected, typicalityModel = Some(bi), minTypicalityPpm = 50000L,
      backoffUniModel = Some(uni), date = () => date)
      .option("checkpointLocation", tmpDir("bogate_ckpt")).start()
    in.addData(docs: _*)
    runToCompletion(q)
    accepted.load(spark, date).select("doc_id").as[Long].collect().toSet shouldBe Set(1L, 2L)
    rejected.load(spark, date).select("doc_id", "reject_reason")
      .as[(Long, String)].collect().toMap shouldBe Map(3L -> "atypical")
  }

  test("stream-stream join pairs events within the time bound only") {
    implicit val sc = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val joined = joinWithin(
      asContract(purchases.toDF()).select($"event_id".as("p_id"), $"ts", $"user_id"),
      asContract(clicks.toDF()).select($"event_id".as("c_id"), $"ts", $"user_id"),
      key = "user_id", maxGap = "30 minutes", watermark = "5 minutes")
    val q = joined.select($"p_id", $"c_id")
      .writeStream.format("memory").queryName("ss_join_out").outputMode("append").start()
    clicks.addData(
      Event(100, ts(0), 10, "click", 0.0), // 40 min before the purchase: outside gap
      Event(101, ts(20), 10, "click", 0.0), // 20 min before: inside
      Event(102, ts(35), 10, "click", 0.0), // 5 min before: inside
      Event(103, ts(20), 11, "click", 0.0)) // other user: never pairs
    purchases.addData(Event(1, ts(40), 10, "purchase", 9.99))
    q.processAllAvailable()
    // advance both watermarks so buffered state flushes
    clicks.addData(Event(199, ts(500), 99, "click", 0.0))
    purchases.addData(Event(99, ts(500), 99, "purchase", 0.0))
    runToCompletion(q)
    val pairs = spark.table("ss_join_out").as[(Long, Long)].collect().toSet
    pairs should contain allOf ((1L, 101L), (1L, 102L))
    pairs should not contain ((1L, 100L))
    pairs.map(_._2) should not contain 103L
  }

  test("volume-anomaly monitor flags a spiking window against its trailing average") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    // 10-minute windows; flag when n exceeds 115% of the trailing average
    // of >= 2 observed windows
    val q = volumeAnomalyMonitor(in.toDS(), windowMinutes = 10, watermark = "5 minutes",
      trailing = 7, factorPct = 115, minPrevWindows = 2)
      .writeStream.format("memory").queryName("vol_out").outputMode("append").start()
    // clicks: windows w0/w1 hold 2 events each (baseline), w2 holds 6 (spike)
    in.addData(
      Event(1, ts(1), 10, "click", 0), Event(2, ts(2), 11, "click", 0),
      Event(3, ts(11), 10, "click", 0), Event(4, ts(12), 11, "click", 0))
    q.processAllAvailable()
    in.addData((5 to 10).map(i => Event(i.toLong, ts(21 + (i - 5)), 10L + i, "click", 0.0)): _*)
    q.processAllAvailable()
    // advance the watermark far past w2 so every window closes and scores
    in.addData(Event(99, ts(120), 99, "click", 0))
    q.processAllAvailable()
    in.addData(Event(100, ts(240), 99, "click", 0))
    runToCompletion(q)
    val out = spark.table("vol_out")
      .select($"eventType", $"windowStartMs", $"n", $"prevN", $"prevWindows")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // w0: no history; w1: 1 prev < minPrevWindows; w2: 6*2*100 > (2+2)*115 -> flag
    out shouldBe Set(("click", ts(20).getTime, 6L, 4L, 2L))
  }

  test("volume-anomaly monitor agrees with the batch operator on day windows") {
    implicit val sc = spark.sqlContext
    // four baseline days of 2 events, then a 6-event day: exactly one flag
    val events = (0 until 4).flatMap(d => Seq(
      Event(d * 10L, ts(d * 1440 + 1), 1, "click", 0),
      Event(d * 10L + 1, ts(d * 1440 + 2), 2, "click", 0))) ++
      (0 until 6).map(i => Event(100L + i, ts(4 * 1440 + i + 1), 3L + i, "click", 0.0))

    val batch = graft.ops.Drift.volumeAnomalies(
      asContract(events.toDF()), "event_type",
      org.apache.spark.sql.functions.date_format($"ts", "yyyy-MM-dd"),
      trailing = 7, factorPct = 115, minPrevDays = 3)
      .as[(String, String, Long, Long, Long)].collect().toSet

    val in = MemoryStream[Event]
    val q = volumeAnomalyMonitor(in.toDS(), windowMinutes = 1440, watermark = "5 minutes",
      trailing = 7, factorPct = 115, minPrevWindows = 3)
      .writeStream.format("memory").queryName("vol_parity_out").outputMode("append").start()
    in.addData(events: _*)
    q.processAllAvailable()
    in.addData(Event(999, ts(10 * 1440), 99, "click", 0)) // close day 5
    q.processAllAvailable()
    in.addData(Event(1000, ts(20 * 1440), 99, "click", 0))
    runToCompletion(q)
    val streaming = spark.table("vol_parity_out")
      .as[VolumeAnomaly].collect()
      .map(a => (a.eventType,
        java.time.Instant.ofEpochMilli(a.windowStartMs)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString,
        a.n, a.prevN, a.prevWindows)).toSet

    streaming shouldBe batch // identical integer verdicts, batch and stream
    batch.map(_._3) shouldBe Set(6L) // and it IS the spike day
  }

  test("volume-anomaly monitor: steady volume never flags, state retires windows") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = volumeAnomalyMonitor(in.toDS(), windowMinutes = 10, watermark = "1 minute",
      trailing = 3, factorPct = 115, minPrevWindows = 2)
      .writeStream.format("memory").queryName("vol_steady_out").outputMode("append").start()
    // 6 windows of exactly 2 events: 2*k*100 <= 2k*115 always -> no flags
    (0 until 6).foreach { wi =>
      in.addData(
        Event(wi * 2L, ts(wi * 10 + 1), 10, "view", 0),
        Event(wi * 2L + 1, ts(wi * 10 + 2), 11, "view", 0))
      q.processAllAvailable()
    }
    in.addData(Event(99, ts(300), 99, "view", 0))
    runToCompletion(q)
    spark.table("vol_steady_out").count() shouldBe 0
  }

  test("volume-anomaly monitor reaps a retired key's state at the retention horizon") {
    // Same event sequence twice: key "a" builds 2 windows of history, goes
    // silent past the retention horizon, then spikes. With a short
    // retention its history was reaped, so the spike has no baseline and
    // cannot flag; with a long retention the history survives and flags it.
    def run(retentionWindows: Int, sink: String): Set[(String, Long)] = {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Event]
      val q = volumeAnomalyMonitor(in.toDS(), windowMinutes = 10, watermark = "1 minute",
        trailing = 3, factorPct = 115, minPrevWindows = 2,
        retentionWindows = retentionWindows)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      // a: two baseline windows (w0, w1) of 2 events each
      in.addData(
        Event(1, ts(1), 10, "a", 0), Event(2, ts(2), 11, "a", 0),
        Event(3, ts(11), 10, "a", 0), Event(4, ts(12), 11, "a", 0),
        Event(5, ts(1), 99, "wmdriver", 0))
      q.processAllAvailable()
      // watermark-driver events close a's windows, then push the watermark
      // past a's retention horizon (w1 start + (retention+1) windows)
      in.addData(Event(6, ts(60), 99, "wmdriver", 0))
      q.processAllAvailable()
      in.addData(Event(7, ts(200), 99, "wmdriver", 0))
      q.processAllAvailable()
      // a resumes with a 6-event spike window at ts(201..206)
      in.addData((0 until 6).map(i => Event(10L + i, ts(201 + i), 20L + i, "a", 0.0)): _*)
      q.processAllAvailable()
      in.addData(Event(30, ts(400), 99, "wmdriver", 0))
      q.processAllAvailable()
      in.addData(Event(31, ts(600), 99, "wmdriver", 0))
      runToCompletion(q)
      spark.table(sink).as[VolumeAnomaly].collect().map(a => (a.eventType, a.n)).toSet
    }
    // retention 2 windows: horizon ts(10) + 3*10min = ts(40) passed at the
    // ts(200) batch -> history reaped -> spike has 0 prev windows, no flag
    run(retentionWindows = 2, sink = "vol_reap_out") shouldBe Set.empty
    // generous retention: history survives the silence, spike flags
    run(retentionWindows = 168, sink = "vol_keep_out") shouldBe Set(("a", 6L))
  }

  test("stateful sessionization closes sessions on gap timeout") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMinutes = 30, watermark = "1 minute")
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    // user 10: two events 5 min apart (one session), then nothing for > 30 min
    // user 11: one event
    in.addData(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "view", 1.0),
      Event(3, ts(2), 11, "click", 1.0))
    q.processAllAvailable()
    // second batch: an event 90 minutes later pushes the watermark past both
    // users' session timeouts AND starts a new session for user 10
    in.addData(Event(4, ts(90), 10, "click", 1.0))
    q.processAllAvailable()
    // third batch: advance watermark past the second session's timeout too
    in.addData(Event(5, ts(200), 12, "click", 1.0))
    runToCompletion(q)
    val sessions = spark.table("sessions_out")
      .select($"userId", $"startMs", $"endMs", $"nEvents")
      .as[(Long, Long, Long, Long)].collect().toSet
    sessions should contain((10L, ts(0).getTime, ts(5).getTime, 2L)) // closed by gap
    sessions should contain((11L, ts(2).getTime, ts(2).getTime, 1L))
    sessions should contain((10L, ts(90).getTime, ts(90).getTime, 1L)) // second session
  }

  test("S17 percolation matches standing queries statelessly, stream == batch") {
    implicit val sc = spark.sqlContext
    val queries = Map(
      "q_all" -> "spark shuffle join",
      "q_none" -> "zebra unicorn",
      "q_blank" -> "!!!") // token-free standing query: can never fire
    val docs = Seq(
      (1L, "spark shuffle join plan today"),
      (2L, "spark shuffle only here"),
      (3L, "nothing relevant at all"))

    val in = MemoryStream[(Long, String)]
    val q = EventStreams.percolateStream(in.toDF().toDF("doc_id", "text"),
      queries, minMatchPct = 60)
      .writeStream.format("memory").queryName("percolate_out").outputMode("append").start()
    in.addData(docs: _*)
    runToCompletion(q)
    val streamed = spark.table("percolate_out")
      .select($"doc_id", $"query_id", $"n_matched", $"n_terms")
      .as[(Long, String, Long, Long)].collect().toSet
    streamed shouldBe Set((1L, "q_all", 3L, 3L), (2L, "q_all", 2L, 3L))

    // bit-identical to the batch operator's verdicts on the same frame
    val qdf = queries.toSeq.toDF("qid", "qtext")
    val batch = graft.ops.Retrieval.percolate(docs.toDF("doc_id", "text"),
      "doc_id", "text", qdf, "qid", "qtext", minMatchPct = 60)
      .as[(Long, String, Long, Long)].collect().toSet
    batch shouldBe streamed
  }

  test("S20 A/B cells rollup: windows add to the exact batch chi-squared") {
    implicit val sc = spark.sqlContext
    // exposure = even user, outcome = value > 10; engineered association
    def ev(id: Long, minute: Int, uid: Long, v: Double) = Event(id, ts(minute), uid, "m", v)
    val rows = Seq(
      ev(1, 1, 2, 20.0), ev(2, 2, 4, 30.0), ev(3, 3, 6, 5.0),   // window 1
      ev(4, 15, 1, 2.0), ev(5, 16, 3, 1.0), ev(6, 17, 8, 50.0)) // window 2
    val in = MemoryStream[Event]
    val q = abCellsRollup(asContract(in.toDF()),
      "user_id % 2 = 0", "value > 10",
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("ab_out").outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(ev(99, 60, 12, 0.0)) // advance watermark
    runToCompletion(q)
    val windows = spark.table("ab_out").where($"event_type" === "m")
    windows.count() shouldBe 2

    val merged = graft.ops.Stats.chi2FromCells(
      windows.groupBy().agg(
        org.apache.spark.sql.functions.sum($"a").as("a"),
        org.apache.spark.sql.functions.sum($"b").as("b"),
        org.apache.spark.sql.functions.sum($"c").as("c"),
        org.apache.spark.sql.functions.sum($"d").as("d")),
      Seq.empty)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].head()

    val batch = graft.ops.Stats.chiSquare2x2(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .selectExpr("user_id % 2 = 0 AS e", "value > 10 AS o"),
      Seq.empty, "e", "o")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].head()
    merged shouldBe batch
  }

  test("windowed rollup cells finish into the exact whole-stream Gini diversity") {
    implicit val sc = spark.sqlContext
    // two windows, type mix 3xclick / 2xview / 1xerror across them
    val rows = Seq(
      Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "view", 1.0),
      Event(3, ts(3), 1, "click", 1.0),
      Event(4, ts(15), 1, "click", 1.0), Event(5, ts(16), 1, "view", 1.0),
      Event(6, ts(17), 1, "error", 1.0))
    val in = MemoryStream[Event]
    val q = windowedRollup(asContract(in.toDF()),
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("gini_out").outputMode("append").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 2, "late-marker", 0.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("gini_out").where($"event_type" =!= "late-marker")
    cells.select($"window_start").distinct().count() shouldBe 2

    val streamed = graft.ops.DataQuality
      .giniFromCounts(cells, Seq.empty, "event_type", "n")
      .as[(Long, Long)].head()
    val batch = graft.ops.DataQuality
      .giniDiversity(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value")
          .withColumn("g", org.apache.spark.sql.functions.lit(1)),
        Seq("g"), "event_type")
      .select($"n", $"diversity_ppm").as[(Long, Long)].head()
    streamed shouldBe batch
    // hand check: counts 3/2/1 of 6 -> 1e6 - 14e6/36 = 611112
    streamed shouldBe ((6L, 1000000L - 14L * 1000000 / 36))
  }

  test("S19 OLS rollup: window sums merge to the exact all-time fit, batch parity") {
    implicit val sc = spark.sqlContext
    def xSec(minute: Int): Long = ts(minute).getTime / 1000
    // value on the exact line y = 2x + 5 against epoch seconds
    def ev(id: Long, minute: Int) =
      Event(id, ts(minute), 10, "m", (2L * xSec(minute) + 5).toDouble)
    val in = MemoryStream[Event]
    val q = olsTrendRollup(asContract(in.toDF()),
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("ols_out").outputMode("append").start()
    in.addData(ev(1, 1), ev(2, 2), ev(3, 4), ev(4, 15), ev(5, 16))
    q.processAllAvailable()
    in.addData(Event(99, ts(60), 12, "other", 0.0)) // advance watermark
    runToCompletion(q)
    val windows = spark.table("ols_out").where($"event_type" === "m")
    windows.count() shouldBe 2 // two emitted windows, seven numbers each

    val merged = graft.ops.Stats.olsFromSums(
      graft.ops.Stats.mergeOlsSums(
        windows.select($"n", $"sx", $"sy", $"sxy", $"sxx", $"syy"), Seq.empty),
      Seq.empty)
      .as[(Long, Option[Long], Option[Long], Option[Long])].head()
    merged._1 shouldBe 5L
    merged._2 shouldBe Some(2000000L) // exact slope in ppm
    merged._3 shouldBe Some(5000000L) // exact intercept
    merged._4 shouldBe Some(1000000L) // perfect fit

    // bit-identical to the batch operator over the same rows
    val batchDf = Seq(ev(1, 1), ev(2, 2), ev(3, 4), ev(4, 15), ev(5, 16))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .select(org.apache.spark.sql.functions.unix_timestamp($"ts").as("x"), $"value".as("y"))
    val batch = graft.ops.Stats.olsFit(batchDf, Seq.empty, "x", "y")
      .as[(Long, Option[Long], Option[Long], Option[Long])].head()
    batch shouldBe merged
  }

  test("S30 preference cells: windowed judgments merge to the batch Copeland ranking") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Judgment]
    val stream = in.toDF().toDF("ts", "item_a", "item_b", "winner")
    val q = EventStreams.preferenceCellsRollup(stream,
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("pref_out").outputMode("append").start()
    val rows = Seq(
      Judgment(ts(1), "A", "B", Some("A")),
      Judgment(ts(2), "B", "A", Some("A")),  // reversed order, same cell
      Judgment(ts(3), "A", "B", Some("B")),
      Judgment(ts(4), "A", "C", None),       // tie judgment
      Judgment(ts(15), "A", "B", Some("A")), // second window
      Judgment(ts(16), "B", "C", Some("C")))
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Judgment(ts(60), "X", "Y", Some("X"))) // advance watermark
    runToCompletion(q)
    val cells = spark.table("pref_out").where($"lo" =!= "X")
    cells.select($"window_start").distinct().count() shouldBe 2L
    val streamed = graft.ops.Retrieval.copelandFromCells(
      cells.groupBy($"lo", $"hi")
        .agg(org.apache.spark.sql.functions.sum($"wins_lo").as("wins_lo"),
          org.apache.spark.sql.functions.sum($"wins_hi").as("wins_hi"),
          org.apache.spark.sql.functions.sum($"ties").as("ties")),
      Seq.empty).orderBy($"item")
    val batch = graft.ops.Retrieval.copelandRank(
      rows.take(6).map(j => (j.itemA, j.itemB, j.winner)).toDF("ia", "ib", "w"),
      Seq.empty, "ia", "ib", "w").orderBy($"item")
    streamed.collect().map(_.toSeq) shouldBe batch.collect().map(_.toSeq)
    // hand check: A beat B 3-1 -> copeland2(A) = 2 (beat) + 1 (tie with C)
    streamed.where($"item" === "A").select($"copeland2").as[Long].head() shouldBe 3L
  }

  test("S31 bootstrap cells: windowed replicate sums merge to the batch CI") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val stream = asContract(in.toDF())
      .withColumn("value_units", ($"value" * 100).cast("long"))
    val q = EventStreams.bootstrapCellsRollup(stream, b = 16,
      windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("boot_out").outputMode("append").start()
    val rows = (1 to 30).map(i =>
      Event(i.toLong, ts(if (i <= 15) i else i + 5), 10, "click", i.toDouble))
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(Event(99, ts(90), 15, "purchase", 1.0)) // advance watermark
    runToCompletion(q)
    val cells = spark.table("boot_out").where($"event_type" === "click")
    cells.select($"window_start").distinct().count() should be >= 2L
    // cells ADD per (group, rep) across windows, then the finished
    // replicate means equal a batch bootstrap over the union
    val streamedMeans = cells.groupBy($"event_type", $"rep")
      .agg(org.apache.spark.sql.functions.sum($"nw").as("nw"),
        org.apache.spark.sql.functions.sum($"s").as("s"))
      .where($"nw" > 0)
      .selectExpr("event_type", "rep", "CAST(s * 1000000 DIV nw AS BIGINT) AS mean")
      .orderBy($"rep")
    val batch = graft.ops.Stats.poissonBootstrapCI(
      rows.map(e => ("click", e.eventId, (e.value * 100).toLong))
        .toDF("event_type", "event_id", "value_units"),
      "event_type", "event_id", "value_units", b = 16)
      .select($"ci_lo_micro", $"ci_hi_micro").as[(Long, Long)].head()
    val means = streamedMeans.select($"mean").as[Long].collect().sorted
    // nearest-rank 5/95 band over the 16 merged replicate means
    means(math.max(1, (means.length * 5 + 99) / 100) - 1) shouldBe batch._1
    means((means.length * 95 + 99) / 100 - 1) shouldBe batch._2
  }

  test("every rollup windows through the one helper: no hand-written groupBy(window(") {
    val file = sourceRoot.resolve("graft/streaming/EventStreams.scala").toString
    def sites(code: String) = codeLines(java.util.regex.Pattern.quote(code).r)
      .filter(_._1.startsWith(file + ":"))
    withClue(sites("window(").mkString("\n")) {
      sites("groupBy(window(") shouldBe empty
      sites("""window(col("ts")""").size shouldBe 1
    }
  }

  test("each stream twin's schema is window_start + its batch cells operator's schema") {
    import org.apache.spark.sql.functions.{expr, unix_timestamp}
    import org.apache.spark.sql.types.TimestampType
    import graft.ops.{DataQuality, Drift, Retrieval, Similarity, Sketches, Stats}
    implicit val sc = spark.sqlContext
    // unstarted streams: the schemas are read off the plans, no query runs
    val ev = asContract(MemoryStream[Event].toDF())
      .withColumn("score_ppm", $"value".cast("long"))
      .withColumn("good", $"user_id" % 2 === 0)
      .withColumn("category", ($"user_id" % 2).cast("string"))
      .withColumn("value_units", $"value".cast("long"))
    val vecs = MemoryStream[VecDoc].toDF().withColumn("label", ($"docId" % 2).cast("int"))
    val judged = MemoryStream[Judgment].toDF().toDF("ts", "item_a", "item_b", "winner")
    val byType = Seq("event_type")
    val inA = $"user_id" % 2 === 0
    val twins = Seq(
      "olsTrendRollup" -> (olsTrendRollup(ev),
        Stats.olsSums(ev.withColumn("__x", unix_timestamp($"ts")), byType, "__x", "value")),
      "abCellsRollup" -> (abCellsRollup(ev, "user_id % 2 = 0", "value > 10"),
        Stats.chi2Cells(ev, byType, expr("user_id % 2 = 0"), expr("value > 10"))),
      "calibrationCellsRollup" -> (calibrationCellsRollup(ev, "score_ppm", "good"),
        Stats.calibrationCells(ev, byType, "score_ppm", "good")),
      "brierCellsRollup" -> (brierCellsRollup(ev, "score_ppm", "good"),
        Stats.brierCells(ev, byType, "score_ppm", "good")),
      "etaCellsRollup" -> (etaCellsRollup(ev),
        Stats.etaCells(ev, byType, "category", "value_units")),
      "bootstrapCellsRollup" -> (bootstrapCellsRollup(ev),
        Stats.bootstrapCells(ev, byType, "event_id", "value_units", 32, "boot")),
      "kx2CellsRollup" -> (kx2CellsRollup(ev, "event_type", inA),
        Drift.kx2Cells(ev, Nil, "event_type", inA)),
      "preferenceCellsRollup" -> (preferenceCellsRollup(judged),
        Retrieval.preferenceCells(judged, Nil, "item_a", "item_b", "winner")),
      "log2CellsRollup" -> (log2CellsRollup(ev),
        DataQuality.log2Cells(ev, byType, "value")),
      "gramCellsRollup" -> (gramCellsRollup(vecs, dim = 4),
        Similarity.gramCells(vecs, Seq("label"), "embedding", 4)),
      "kmvSetCellsRollup" -> (kmvSetCellsRollup(ev),
        Sketches.kmvSetSketch(ev, byType, "user_id")))
    twins.foreach { case (name, (twin, cells)) =>
      withClue(s"$name: ${twin.schema.simpleString} vs ${cells.schema.simpleString}") {
        twin.isStreaming shouldBe true
        (twin.schema.head.name, twin.schema.head.dataType) shouldBe (("window_start", TimestampType))
        twin.schema.tail.map(f => (f.name, f.dataType)) shouldBe
          cells.schema.map(f => (f.name, f.dataType))
      }
    }
  }
}
