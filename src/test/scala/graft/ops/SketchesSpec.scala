package graft.ops

import org.apache.spark.SparkTestAccess.withCheckpointDir
import org.apache.spark.sql.functions._

import graft.testkit.SourceScan.{codeLines, sourceRoot}
import graft.testkit.{HeldStorage, SparkTestBase}

class SketchesSpec extends SparkTestBase with HeldStorage {
  import spark.implicits._

  // 30 days x interleaved users: user u is active on day u % 30 and (u*7) % 30
  private lazy val events = (0L until 10000L).flatMap { u =>
    Seq((u % 30, u), ((u * 7) % 30, u))
  }.toDF("day", "user_id")

  test("sketch estimate is within HLL error bounds of the exact count") {
    val est = events.agg(Sketches.estimate(Sketches.hllSketch($"user_id")).cast("long"))
      .as[Long].head()
    val exact = 10000L
    math.abs(est - exact).toDouble / exact should be < 0.05 // lgK=12 ~ 1.6% typical
  }

  test("daily sketches union to exactly the global sketch's estimate") {
    val daily = Sketches.distinctRollup(events, Seq("day"), "user_id")
    daily.count() shouldBe 30
    val merged = Sketches.reRollup(daily.withColumn("all", lit(1)), Seq("all"))
      .select($"distinct_est").as[Long].head()
    val direct = events.agg(Sketches.estimate(Sketches.hllSketch($"user_id")).cast("long"))
      .as[Long].head()
    // union of per-day sketches reconstructs the same register state as one
    // pass over everything: identical estimate, not merely close
    merged shouldBe direct
  }

  test("rollups chain: daily -> weekly re-rollup tracks direct weekly within error") {
    val weekly = Sketches.reRollup(
      Sketches.distinctRollup(events, Seq("day"), "user_id")
        .withColumn("week", expr("day DIV 7")),
      Seq("week"))
    val direct = Sketches.distinctRollup(
      events.withColumn("week", expr("day DIV 7")), Seq("week"), "user_id")
    val a = weekly.select($"week", $"distinct_est").as[(Long, Long)].collect().toMap
    val b = direct.select($"week", $"distinct_est").as[(Long, Long)].collect().toMap
    a.keySet shouldBe b.keySet
    // NOT exact: unioning small (coupon-mode) sketches promotes to dense
    // HLL, whose estimator differs slightly from the coupon-exact direct
    // sketch — chained rollups agree within the sketch's error bound
    a.foreach { case (week, est) =>
      math.abs(est - b(week)).toDouble / b(week) should be < 0.02
    }
  }

  // (id, value) stream where value = id: quantiles of the group are known
  private lazy val measured = (1L to 5000L).map(i => (i % 10, i, i.toDouble))
    .toDF("day", "id", "v")

  test("quantile sketch: daily re-rollup is EXACTLY the directly-built sketch") {
    val daily = Sketches.quantileSketch(measured, Seq("day"), "id", "v", k = 64)
    daily.count() shouldBe 10
    val merged = Sketches.reRollupQuantileSketch(
      daily.withColumn("all", lit(1)), Seq("all"), k = 64)
      .select($"q_sample").collect().head.getSeq[Any](0)
    val direct = Sketches.quantileSketch(
      measured.withColumn("all", lit(1)), Seq("all"), "id", "v", k = 64)
      .select($"q_sample").collect().head.getSeq[Any](0)
    // bottom-k by a deterministic hash rank merges exactly, unlike HLL
    merged shouldBe direct
  }

  test("quantile sketch is partition-invariant and tracks exact quantiles") {
    val sketch = Sketches.quantileSketch(
      measured.withColumn("all", lit(1)), Seq("all"), "id", "v", k = 256)
    val reparted = Sketches.quantileSketch(
      measured.repartition(17).withColumn("all", lit(1)), Seq("all"), "id", "v", k = 256)
    sketch.collect() shouldBe reparted.collect()
    val (p50, p90) = sketch.select(
      Sketches.quantileFromSketch($"q_sample", 0.5),
      Sketches.quantileFromSketch($"q_sample", 0.9)).as[(Double, Double)].head()
    // values are 1..5000 uniform: exact p50=2500, p90=4500; k=256 -> ~1/16 error
    math.abs(p50 - 2500) / 2500 should be < 0.15
    math.abs(p90 - 4500) / 4500 should be < 0.15
  }

  test("bottom-k sample is the k smallest hash ranks, ascending") {
    val df = (1L to 100L).map(i => (1, i, i.toDouble)).toDF("g", "id", "v")
    val sample = Sketches.quantileSketch(df, Seq("g"), "id", "v", k = 7)
      .select($"q_sample").collect().head.getSeq[org.apache.spark.sql.Row](0)
    sample should have size 7
    val hashes = sample.map(_.getString(0))
    hashes shouldBe hashes.sorted
    val expected = (1L to 100L).map(i =>
      java.security.MessageDigest.getInstance("MD5").digest(i.toString.getBytes)
        .map("%02x".format(_)).mkString).sorted.take(7)
    hashes shouldBe expected
  }

  // Zipf-ish stream: key k appears ~ 600/k times for k in 1..60 (heavy head,
  // long tail), shuffled deterministically so arrival order is adversarial
  private lazy val zipf = (1 to 60).flatMap(k => Seq.fill(600 / k)(s"k$k"))
    .sortBy(_.hashCode)

  private def mgTop(capacity: Int, partitions: Int): Map[String, Long] = {
    val df = zipf.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("i", "key").repartition(partitions)
    df.groupBy(lit(1).as("g"))
      .agg(graft.functions.functions.misra_gries($"key", capacity).as("hh_summary"))
      .select(explode($"hh_summary").as("e")).select($"e.key", $"e.cnt")
      .as[(String, Long)].collect().toMap
  }

  test("misra-gries exact regime equals plain counts, any partitioning") {
    val exact = zipf.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // capacity >= distinct keys: no decrement can ever fire
    mgTop(64, 1) shouldBe exact
    mgTop(64, 13) shouldBe exact // partition-invariant in the exact regime
  }

  test("misra-gries approximate regime honors the n/(capacity+1) bound and presence guarantee") {
    val exact = zipf.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = zipf.size.toLong
    for (capacity <- Seq(8, 16, 32); parts <- Seq(1, 7)) {
      val est = mgTop(capacity, parts)
      val slack = n / (capacity + 1)
      withClue(s"capacity=$capacity parts=$parts: ") {
        est.size should be <= capacity
        // underestimate only, by at most n/(capacity+1)
        est.foreach { case (k, c) =>
          c should be <= exact(k)
          (exact(k) - c) should be <= slack
        }
        // any key heavier than the slack MUST be present
        exact.filter(_._2 > slack).keySet.foreach { k => est.keySet should contain(k) }
      }
    }
  }

  test("misra-gries daily summaries re-roll to all-time within the same bound") {
    // 3 'days' with disjoint-ish tails, shared heavy head
    val days = (0 until 3).flatMap { d =>
      (1 to 40).flatMap(k => Seq.fill(400 / k)((d, s"k$k"))) ++
        Seq.fill(30)((d, s"only$d"))
    }
    val df = days.toDF("day", "key")
    val exact = days.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = days.size.toLong
    val capacity = 24
    val daily = Sketches.heavyHittersRollup(df, Seq("day"), "key", capacity)
    daily.count() shouldBe 3
    val merged = Sketches.reRollupHeavyHitters(
      daily.withColumn("all", lit(1)), Seq("all"), capacity)
    val est = merged.select(explode($"hh_summary").as("e"))
      .select($"e.key", $"e.cnt").as[(String, Long)].collect().toMap
    val slack = n / (capacity + 1)
    est.foreach { case (k, c) =>
      c should be <= exact(k)
      (exact(k) - c) should be <= slack
    }
    exact.filter(_._2 > slack).keySet.foreach { k => est.keySet should contain(k) }
    // exact regime re-rollup reproduces plain counts exactly
    val wide = Sketches.reRollupHeavyHitters(
      Sketches.heavyHittersRollup(df, Seq("day"), "key", 256)
        .withColumn("all", lit(1)), Seq("all"), 256)
    val ew = wide.select(explode($"hh_summary").as("e"))
      .select($"e.key", $"e.cnt").as[(String, Long)].collect().toMap
    ew shouldBe exact
    // topHeavyHitters reports rank 1 = heaviest with the (cnt DESC, key) tie order
    val top = Sketches.topHeavyHitters(wide, 3)
      .select($"key", $"cnt", $"rank").as[(String, Long, Long)].collect()
    top.map(_._3).toSeq shouldBe Seq(1L, 2L, 3L)
    top.head._1 shouldBe "k1"
    top.head._2 shouldBe 1200L // 3 days x 400
  }

  test("misra-gries summary output is sorted (cnt DESC, key) and null keys are skipped") {
    val df = Seq(Some("b"), Some("b"), Some("a"), Some("a"), Some("c"), None)
      .toDF("key")
    val s = df.agg(graft.functions.functions.misra_gries($"key", 10).as("s"))
      .select($"s").collect().head.getSeq[org.apache.spark.sql.Row](0)
    s.map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("a", 2L), ("b", 2L), ("c", 1L)) // ties break by key, nulls contribute nothing
  }

  test("exactPercentiles matches the nearest-rank definition under any partitioning") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(_ => ("g" + rnd.nextInt(3), rnd.nextInt(1000).toLong)) ++
      Seq(("gnull", 5L)) // a 1-row group: every percentile is its only value
    val df = rows.toDF("g", "v")
    val pcts = Seq(1, 50, 90, 100)
    def naive: Set[(String, Long, Long)] = rows.groupBy(_._1).flatMap { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      pcts.map { p =>
        val target = (sorted.size.toLong * p + 99) / 100
        (g, p.toLong, sorted((target - 1).toInt))
      }
    }.toSet
    for (parts <- Seq(1, 4, 23)) {
      val out = Sketches.exactPercentiles(df.repartition(parts), "g", "v", pcts)
        .as[(String, Long, Long)].collect().toSet
      withClue(s"parts=$parts") { out shouldBe naive }
    }
  }

  test("exactPercentiles drops nulls before ranking; duplicate values are fine") {
    val df = Seq(("g", Some(10L)), ("g", Some(10L)), ("g", Some(10L)),
      ("g", Some(20L)), ("g", Option.empty[Long])).toDF("g", "v")
    val out = Sketches.exactPercentiles(df, "g", "v", Seq(50, 100))
      .as[(String, Long, Long)].collect().toSet
    // 4 non-null values: p50 target ceil(2.0)=2 -> 10; p100 target 4 -> 20
    out shouldBe Set(("g", 50L, 10L), ("g", 100L, 20L))
  }

  // ---- count-min --------------------------------------------------------

  private def zipfKeys: Seq[String] =
    (1 to 60).flatMap(k => Seq.fill(600 / k)(s"k$k"))

  private def cmsEstimates(df: org.apache.spark.sql.DataFrame,
      width: Int, depth: Int): Map[String, Long] = {
    val sk = Sketches.cmsRollup(df, Seq.empty, "key", width, depth)
    df.select($"key").distinct()
      .crossJoin(org.apache.spark.sql.functions.broadcast(sk))
      .select($"key", Sketches.cmsEstimate($"cms", $"key", width, depth).as("est"))
      .as[(String, Long)].collect().toMap
  }

  test("count-min wide grid equals plain counts under any partitioning") {
    val truth = zipfKeys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 7)) {
      val df = zipfKeys.toDF("key").repartition(parts)
      withClue(s"parts=$parts") { cmsEstimates(df, 4096, 4) shouldBe truth }
    }
  }

  test("count-min never undershoots and honors the 2n/width bound in the collision regime") {
    val truth = zipfKeys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = zipfKeys.size
    val width = 16 // 60 keys in 16 cells: collisions guaranteed
    val est = cmsEstimates(zipfKeys.toDF("key"), width, 6)
    est.keySet shouldBe truth.keySet
    est.foreach { case (k, e) =>
      withClue(k) {
        e should be >= truth(k)
        e should be <= truth(k) + 2L * n / width
      }
    }
  }

  test("count-min daily sketches merge EXACTLY to the all-time sketch") {
    val rows = zipfKeys.zipWithIndex.map { case (k, i) => (s"d${i % 3}", k) }
    val df = rows.toDF("day", "key")
    val direct = Sketches.cmsRollup(df, Seq.empty, "key", 64, 4)
      .as[Seq[Long]].head()
    val rerolled = Sketches.reRollupCms(
      Sketches.cmsRollup(df, Seq("day"), "key", 64, 4), Seq.empty, 64, 4)
      .as[Seq[Long]].head()
    rerolled shouldBe direct
    // grid conservation: every hash row sums to n
    direct.grouped(64).map(_.sum).toSeq shouldBe Seq.fill(4)(rows.size.toLong)
  }

  test("count-min ignores null keys and rejects shape mismatches on merge") {
    val df = Seq(Some("a"), None, Some("a"), Some("b")).toDF("key")
    val sk = Sketches.cmsRollup(df, Seq.empty, "key", 32, 2)
    sk.select(Sketches.cmsEstimate($"cms", org.apache.spark.sql.functions.lit("a"), 32, 2))
      .as[Long].head() shouldBe 2L
    val bad = Sketches.cmsRollup(df, Seq.empty, "key", 16, 2)
    intercept[Exception] {
      Sketches.reRollupCms(sk.union(bad), Seq.empty, 32, 2).collect()
    }
  }

  test("weightedPercentiles: hand-computed mass cuts under the ceil nearest-rank law") {
    // weights 1,2,3,4 over values 1..4 (total 10): cum = 1,3,6,10
    val df = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 4L))
      .toDF("g", "v", "w")
    val out = Sketches.weightedPercentiles(df, "g", "v", "w", Seq(1, 10, 50, 90, 100))
      .as[(String, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    out shouldBe Map(1L -> 1L, 10L -> 1L, 50L -> 3L, 90L -> 4L, 100L -> 4L)
  }

  test("weightedPercentiles with unit weights equals exactPercentiles") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(500)(("g" + rnd.nextInt(3), rnd.nextInt(40).toLong))
    val df = rows.toDF("g", "v")
    val exact = Sketches.exactPercentiles(df, "g", "v", Seq(25, 50, 99))
      .collect().map(_.toSeq).toSet
    val weighted = Sketches.weightedPercentiles(
      df.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
      "g", "v", "w", Seq(25, 50, 99)).collect().map(_.toSeq).toSet
    weighted shouldBe exact
  }

  test("weightedPercentiles drops null/non-positive weights; partitioning-independent") {
    val df = Seq(("g", Some(1L), Some(0L)), ("g", Some(2L), Some(5L)),
      ("g", Some(9L), Option.empty[Long]), ("g", Option.empty[Long], Some(3L)),
      ("g", Some(7L), Some(-2L))).toDF("g", "v", "w")
    // only (2, w=5) survives the hygiene filters
    Sketches.weightedPercentiles(df, "g", "v", "w", Seq(50, 100))
      .as[(String, Long, Long)].collect().map(_._3).toSet shouldBe Set(2L)
    val rnd = new scala.util.Random(31)
    val big = Seq.fill(300)(("g" + rnd.nextInt(2), rnd.nextInt(25).toLong,
      rnd.nextInt(9).toLong + 1)).toDF("g", "v", "w")
    Sketches.weightedPercentiles(big.coalesce(1), "g", "v", "w", Seq(50, 90))
      .collect().map(_.toSeq).toSet shouldBe
      Sketches.weightedPercentiles(big.repartition(11), "g", "v", "w", Seq(50, 90))
        .collect().map(_.toSeq).toSet
  }

  private def joinSizeEst(a: Seq[String], b: Seq[String], width: Int, depth: Int): Long = {
    val sa = Sketches.cmsRollup(a.toDF("key"), Seq.empty, "key", width, depth)
      .withColumnRenamed("cms", "ca")
    val sb = Sketches.cmsRollup(b.toDF("key"), Seq.empty, "key", width, depth)
      .withColumnRenamed("cms", "cb")
    sa.crossJoin(sb).select(Sketches.cmsJoinSize($"ca", $"cb", width, depth))
      .as[Long].head()
  }

  test("kmv set ops: sub-k regime is EXACT sizes, intersection and Jaccard") {
    // A = {0..59}, B = {40..119}: |A|=60 |B|=80 |A∩B|=20 |A∪B|=120, k=128
    val a = (0L until 60L).map(("g", _)).toDF("g", "id")
    val b = (40L until 120L).map(("g", _)).toDF("g", "id")
    val out = Sketches.kmvSetOps(
      Sketches.kmvSetSketch(a, Seq("g"), "id", k = 128),
      Sketches.kmvSetSketch(b, Seq("g"), "id", k = 128), Seq("g"), k = 128)
      .as[(String, Long, Long, Long, Long, Long, Long)].head()
    out shouldBe (("g", 60L, 80L, 120L, 20L, 20L, 20L * 1000000L / 120L))
  }

  test("kmv set ops: estimator regime lands within ~3/sqrt(k) of truth") {
    // A = {0..9999}, B = {5000..14999}: true inter 5000, union 15000, J=1/3
    val a = (0L until 10000L).map(("g", _)).toDF("g", "id")
    val b = (5000L until 15000L).map(("g", _)).toDF("g", "id")
    val k = 256
    val out = Sketches.kmvSetOps(
      Sketches.kmvSetSketch(a, Seq("g"), "id", k),
      Sketches.kmvSetSketch(b, Seq("g"), "id", k), Seq("g"), k)
      .as[(String, Long, Long, Long, Long, Long, Long)].head()
    val tol = 3.0 / math.sqrt(k) // ~19%
    math.abs(out._2 - 10000.0) / 10000.0 should be < tol
    math.abs(out._3 - 10000.0) / 10000.0 should be < tol
    math.abs(out._4 - 15000.0) / 15000.0 should be < tol
    math.abs(out._6 - 5000.0) / 5000.0 should be < (2 * tol)
    math.abs(out._7 - 333333.0) / 333333.0 should be < (2 * tol)
  }

  test("kmv set sketch is deterministic: dedup of keys, partitioning-independent") {
    val rows = (0L until 3000L).map(i => ("g", i % 500)) // heavy key repeats
    def sk(parts: Int) =
      Sketches.kmvSetSketch(rows.toDF("g", "id").repartition(parts), Seq("g"), "id", 64)
        .select($"kmv").as[Seq[String]].head()
    val s1 = sk(1)
    s1.length shouldBe 64
    s1 shouldBe s1.sorted
    s1.distinct.length shouldBe 64 // distinct collapse before bottom-k
    sk(13) shouldBe s1
  }

  test("bottom_k_distinct: dedup, cap, null skip, ascending order, SQL registration") {
    val df = Seq(Some("c"), Some("a"), Some("c"), Some("b"), None, Some("a"), Some("d"))
      .toDF("v")
    df.agg(graft.functions.functions.bottom_k_distinct($"v", 3).as("s"))
      .as[Seq[String]].head() shouldBe Seq("a", "b", "c") // d evicted, dups once, null skipped
    // over-capacity k returns the whole distinct set
    df.agg(graft.functions.functions.bottom_k_distinct($"v", 10).as("s"))
      .as[Seq[String]].head() shouldBe Seq("a", "b", "c", "d")
    // SQL-registered spelling agrees (and exercises serialize/deserialize
    // through the exchange when the input is repartitioned)
    graft.functions.functions.registry.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    df.repartition(7).createOrReplaceTempView("bkd_sql")
    spark.sql("SELECT bottom_k_distinct(v, 3) FROM bkd_sql")
      .as[Seq[String]].head() shouldBe Seq("a", "b", "c")
  }

  test("kmv set sketches re-roll bit-identically to the direct whole-data sketch") {
    // 3 "days" with overlapping key sets: the same key on many days must
    // contribute ONE hash after the merge (the set-sketch distinct law)
    val rows = (0 until 3).flatMap(d => (d * 300L until d * 300L + 700L).map(("g", d, _)))
    val df = rows.toDF("g", "day", "id")
    val daily = Sketches.kmvSetSketch(df, Seq("g", "day"), "id", k = 64)
    val rerolled = Sketches.reRollupKmvSetSketch(daily, Seq("g"), k = 64)
      .select($"kmv").as[Seq[String]].head()
    val direct = Sketches.kmvSetSketch(df, Seq("g"), "id", k = 64)
      .select($"kmv").as[Seq[String]].head()
    rerolled shouldBe direct
  }

  test("rangedCumSums equals the naive one-reducer window on random data") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(31)
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val recipe = Sketches.rangedCumSums(df, Seq("g"), Seq($"v"),
        cums = Seq("a" -> "cuma", "b" -> "cumb"),
        totals = Seq("a" -> "ta", "b" -> "tb"))
        .select($"g", $"v", $"cuma", $"cumb", $"ta", $"tb")
        .collect().map(_.toSeq.map(String.valueOf)).toSet
      val w = Window.partitionBy($"g").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"g")
      val naive = df
        .withColumn("cuma", sum($"a").over(w)).withColumn("cumb", sum($"b").over(w))
        .withColumn("ta", sum($"a").over(wAll)).withColumn("tb", sum($"b").over(wAll))
        .select($"g", $"v", $"cuma", $"cumb", $"ta", $"tb")
        .collect().map(_.toSeq.map(String.valueOf)).toSet
      recipe shouldBe naive
    }
    // unique (g, v) per group (the recipe's order-uniqueness contract)
    check((for (g <- 0 until 4; v <- 0 until 500)
      yield ("g" + g, v.toLong, rnd.nextInt(100).toLong, rnd.nextInt(50).toLong))
      .toDF("g", "v", "a", "b").repartition(13))
    // float keys: NaN is ONE group and -0.0 is 0.0 (interleaved in v), as
    // Spark's groupBy, range sort and join normalize them
    val keys = Seq(Double.NaN, 0.0, -0.0, 1.5)
    check((0 until 400)
      .map(v => (keys(v % keys.size), v.toLong, rnd.nextInt(100).toLong, rnd.nextInt(50).toLong))
      .toDF("g", "v", "a", "b").repartition(7))
  }

  test("rangedCumSums with a reliable checkpointDir matches the default and writes files") {
    // with spark.checkpoint.dir set the scaffold's two barriers are
    // reliable: same sums, checkpoint files actually land under the dir
    // (executor loss on a real cluster then recovers from storage), and
    // the call reads the session's dir without changing it
    val dir = new java.io.File(tmpDir("graft-sketch-ckpt"))
    try {
      val df = (for (g <- 0 until 3; v <- 0 until 40)
        yield ("g" + g, v.toLong, (v * 7 % 13).toLong)).toDF("g", "v", "a").repartition(5)
      def sums() = Sketches.rangedCumSums(df, Seq("g"), Seq($"v"),
        cums = Seq("a" -> "cuma"), totals = Seq("a" -> "ta"))
        .select($"g", $"v", $"cuma", $"ta")
        .collect().map(_.toSeq.map(String.valueOf)).toSet
      val reliable = withCheckpointDir(dir.getAbsolutePath) {
        val set = spark.sparkContext.getCheckpointDir
        val out = sums()
        spark.sparkContext.getCheckpointDir shouldBe set
        out
      }
      reliable shouldBe sums()
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(dir) should not be empty
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("rangedCumSums keeps only its ranged copy, with or without a checkpoint dir") {
    // the input copy only feeds the range exchange's sample and shuffle,
    // so it is freed once the ranged copy is stored
    val df = (for (g <- 0 until 3; v <- 0 until 40)
      yield ("g" + g, v.toLong, (v * 7 % 13).toLong)).toDF("g", "v", "a").repartition(5)
    leavesOnlyWhatItReads(() => Sketches.rangedCumSums(df, Seq("g"), Seq($"v"),
      cums = Seq("a" -> "cuma"), totals = Seq("a" -> "ta"))) shouldBe 1
  }

  test("rangedCumSums rejects non-scalar group columns") {
    // the per-partition scan compares raw row slots to detect group
    // changes; array slots compare by reference there, so the accumulator
    // would never reset — the recipe must refuse rather than be wrong
    val arr = Seq((Seq(1L), 1L, 1L)).toDF("g", "v", "a")
    val e = intercept[IllegalArgumentException] {
      Sketches.rangedCumSums(arr, Seq("g"), Seq($"v"), cums = Seq("a" -> "c"))
    }
    e.getMessage should include("non-scalar")
    val bin = Seq((Array[Byte](1), 1L, 1L)).toDF("g", "v", "a")
    intercept[IllegalArgumentException] {
      Sketches.rangedCumSums(bin, Seq("g"), Seq($"v"), cums = Seq("a" -> "c"))
    }
  }

  test("rangedCumSums sums only integral or DECIMAL columns") {
    // the scan adds exact integers: a DOUBLE of 0.5 would sum to 0
    val base = (1 to 10).map(i => (i.toLong, 0.5)).toDF("v", "x")
    for (t <- Seq("double", "float")) {
      val e = intercept[IllegalArgumentException] {
        Sketches.rangedCumSums(base.withColumn("x", $"x".cast(t)), Nil, Seq($"v"),
          cums = Seq("x" -> "c"))
      }
      e.getMessage should include("'x'")
      e.getMessage should include(t.toUpperCase)
    }
    intercept[IllegalArgumentException] {
      Sketches.rangedCumSums(base.withColumn("one", lit(1L)), Nil, Seq($"v"),
        cums = Seq("one" -> "c"), totals = Seq("x" -> "t"))
    }
    for (t <- Seq("int", "bigint", "decimal(20,0)")) {
      val out = Sketches.rangedCumSums(base.withColumn("x", lit(3).cast(t)), Nil, Seq($"v"),
        cums = Seq("x" -> "c"))
        .select($"v", $"c".cast("long")).as[(Long, Long)].collect().toMap
      withClue(t) { out shouldBe (1 to 10).map(i => i.toLong -> 3L * i).toMap }
    }
  }

  test("src/main takes shard ids only in rangedCumSums and withRunningMaxBefore") {
    // every running sum goes through rangedCumSums' one scan: a hand-written
    // copy of the range-shard + spark_partition_id recipe fails here
    val sites = codeLines("""spark_partition_id""".r)
    withClue(sites.mkString("\n")) {
      sites.map(_._1.takeWhile(_ != ':')) shouldBe Seq(
        sourceRoot.resolve("graft/ops/Intervals.scala").toString,
        sourceRoot.resolve("graft/ops/Sketches.scala").toString)
    }
  }

  test("rangedCumSums keeps null group keys and totals an all-null group to 0") {
    // a null key is one group in the scan, the partials, the offsets and
    // the offsets join, so its rows keep their running sums
    val df = Seq((Option("a"), 1L, Option(1L)), (None, 2L, None), (None, 3L, None),
      (Option("a"), 4L, Option(2L))).toDF("g", "v", "x").repartition(3)
    val out = Sketches.rangedCumSums(df, Seq("g"), Seq($"v"),
      cums = Seq("x" -> "c"), totals = Seq("x" -> "t"))
    out.columns.toSeq shouldBe Seq("g", "v", "x", "t", "c")
    out.select($"g", $"v", $"c", $"t").as[(Option[String], Long, Long, Long)]
      .collect().sortBy(_._2) shouldBe Array(
        (Some("a"), 1L, 1L, 3L), (None, 2L, 0L, 0L), (None, 3L, 0L, 0L), (Some("a"), 4L, 3L, 3L))
    TextAnalysis.withGroupRank(df, "rk", Seq("g"), $"v")
      .select($"v", $"rk").as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L)
  }

  test("rangedCumSums with empty group columns shards a single global order") {
    val df = (0 until 1000).map(i => (i.toLong, 1L)).toDF("v", "one").repartition(7)
    val out = Sketches.rangedCumSums(df, Seq.empty, Seq($"v"),
      cums = Seq("one" -> "rank"), totals = Seq("one" -> "n"))
      .select($"v", $"rank", $"n").as[(Long, Long, Long)].collect()
    out.length shouldBe 1000
    out.foreach { case (v, rank, n) => rank shouldBe v + 1; n shouldBe 1000L }
  }

  test("cms join size: exact inner product in the wide-grid regime, 0 when disjoint") {
    val a = Seq("x", "x", "x", "y", "z", "z")
    val b = Seq("x", "y", "y", "y", "w")
    // true join size = 3*1 + 1*3 = 6
    joinSizeEst(a, b, 4096, 4) shouldBe 6L
    joinSizeEst(a, Seq("p", "q", "q"), 4096, 4) shouldBe 0L
  }

  test("cms join size never undershoots the true size in the collision regime") {
    val rnd = new scala.util.Random(7)
    val a = Seq.fill(500)("k" + rnd.nextInt(120))
    val b = Seq.fill(400)("k" + rnd.nextInt(120))
    val truth = a.groupBy(identity).map { case (k, xs) =>
      xs.size.toLong * b.count(_ == k) }.sum
    val est = joinSizeEst(a, b, 16, 4) // heavy collisions at width 16
    est should be >= truth
    est should be <= truth + 2L * a.size * b.size / 16
  }

  test("cms join size composes with the merge path: re-rolled days == direct build") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(300)((rnd.nextInt(3), "k" + rnd.nextInt(40)))
    val probe = Sketches.cmsRollup(Seq.fill(50)("k" + 7).toDF("key"),
      Seq.empty, "key", 64, 4).withColumnRenamed("cms", "cb")
    def est(skA: org.apache.spark.sql.DataFrame): Long =
      skA.withColumnRenamed("cms", "ca").crossJoin(probe)
        .select(Sketches.cmsJoinSize($"ca", $"cb", 64, 4)).as[Long].head()
    val direct = est(Sketches.cmsRollup(rows.toDF("day", "key"), Seq.empty, "key", 64, 4))
    val merged = est(Sketches.reRollupCms(
      Sketches.cmsRollup(rows.toDF("day", "key"), Seq("day"), "key", 64, 4),
      Seq.empty, 64, 4))
    merged shouldBe direct
  }
  test("sketchErrorProfile: a sketch holding the full group has zero error") {
    val rows = (1L to 100L).map(v => ("g", v, v * 10)).toDF("g", "id", "cents")
    val out = Sketches.sketchErrorProfile(rows, "g", "id", "cents",
      Seq(50, 90, 99), k = 128)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5, r._6))).toMap
    out.keySet shouldBe Set(50L, 90L, 99L)
    out.foreach { case (_, (est, exact, err, ppm)) =>
      est shouldBe exact; err shouldBe 0L; ppm shouldBe 0L
    }
    out(50L)._2 shouldBe 500L // nearest-rank p50 of 10..1000 by 10
  }

  test("sketchErrorProfile: a small sketch reports its miss honestly") {
    val rows = (1L to 1000L).map(v => ("g", v, v)).toDF("g", "id", "v")
    val out = Sketches.sketchErrorProfile(rows, "g", "id", "v", Seq(50), k = 16)
      .as[(String, Long, Long, Long, Long, Long)].collect().head
    val (_, _, est, exact, err, ppm) = out
    exact shouldBe 500L
    err shouldBe (est - exact)
    ppm shouldBe math.abs(err) * 1000000L / math.max(1L, math.abs(exact))
  }

}
