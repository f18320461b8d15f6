package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.testkit.SparkTestBase

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  /**
   * Deterministic clustered corpus: 4 near-orthogonal cluster centers in
   * 16 dims, 25 points each, with small sin-based noise (no RNG state).
   */
  private lazy val corpus: DataFrame = {
    val rows = for {
      c <- 0 until 4
      i <- 0 until 25
    } yield {
      val id = (c * 25 + i).toLong
      val vec = Array.tabulate(16) { d =>
        val center = if (d % 4 == c) 10.0f else 0.0f
        center + math.sin(id * 31 + d * 7).toFloat
      }
      (id, c, vec)
    }
    rows.toDF("vec_id", "cluster", "embedding")
  }

  test("int8 quantization: exact codes, tight cosine error, top-k recall") {
    // exact code math on a known vector: scale = 10/127, codes round half-up
    val one = Seq((1L, Array(10.0f, -10.0f, 5.0f, 0.0f, 0.04f))).toDF("vec_id", "embedding")
    val q = one.select(Similarity.quantizeInt8($"embedding").as("s"))
      .select($"s.scale", $"s.q").as[(Double, Seq[Int])].head()
    q._1 shouldBe (10.0 / 127) +- 1e-12
    q._2 shouldBe Seq(127, -127, 64, 0, 1) // 5/10*127 = 63.5 -> half-up 64
    // an all-zero vector quantizes to zero codes, never NaN
    Seq((2L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8($"embedding").as("s"))
      .select($"s.scale", $"s.q").as[(Double, Seq[Int])].head() shouldBe ((0.0, Seq(0, 0)))

    // corpus-wide: dequantized cosine stays within 1e-2 of exact, and the
    // quantized brute-force top-5 keeps >= 0.9 recall vs full precision
    val deq = corpus.select($"vec_id", $"cluster",
      Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding")).as("qvec"))
    val errs = corpus.join(deq.select($"vec_id", $"qvec"), "vec_id")
      .select(abs(Similarity.cosine($"embedding", $"qvec") - 1.0))
      .as[Double].collect()
    all(errs) should be < 1e-2
    val queries = corpus.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val qQueries = deq.filter($"vec_id" < 8)
    val quant = Similarity.bruteForceTopK(qQueries, deq, "vec_id", "qvec", k = 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    (exact intersect quant).size.toDouble / exact.size should be >= 0.9
  }

  test("int8 round-trip kernel is bit-identical to the composed quantize→dequantize") {
    // corpus + adversarial shapes: all-zero, single element, negatives,
    // exact-half codes (5/10*127 = 63.5), tiny magnitudes, empty vector
    val edge = Seq(
      (1000L, Array(10.0f, -10.0f, 5.0f, 0.0f, 0.04f)),
      (1001L, Array(0.0f, 0.0f)),
      (1002L, Array(-3.5f)),
      (1003L, Array.empty[Float]),
      (1004L, Array(1e-30f, -1e-30f)),
      (1005L, Array(127.0f, -63.5f, 63.5f))).toDF("vec_id", "embedding")
    val both = corpus.select($"vec_id", $"embedding").unionByName(edge)
      .select($"vec_id",
        Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding")).as("composed"),
        Similarity.int8RoundtripVec($"embedding").as("kernel"))
    both.where(!($"composed" <=> $"kernel")).count() shouldBe 0L
    // null text propagates to a null array on both forms
    val nullRow = Seq((1L, null: Array[Float])).toDF("vec_id", "embedding")
      .select(Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding")).as("composed"),
        Similarity.int8RoundtripVec($"embedding").as("kernel"))
    nullRow.where(!($"composed" <=> $"kernel")).count() shouldBe 0L
    // null-ELEMENT shapes (round 20): in a max-abs-0 vector the composed
    // `when(s === 0.0, lit(0))` branch codes a null slot to 0 without ever
    // inspecting the element, so it dequantizes to 0.0 — the kernel
    // reproduces that; with non-zero max-abs the null propagates through
    // the arithmetic on both forms
    val nullElems = spark.sql(
      """SELECT embedding FROM VALUES
           (array(CAST(NULL AS DOUBLE))),
           (array(0.0D, CAST(NULL AS DOUBLE))),
           (array(CAST(NULL AS DOUBLE), 1.0D)) AS t(embedding)""")
      .select(
        Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding")).as("composed"),
        Similarity.int8RoundtripVec($"embedding").as("kernel"))
    nullElems.where(!($"composed" <=> $"kernel")).count() shouldBe 0L
  }

  test("dot, norm and cosine on known vectors") {
    val df = spark.sql("SELECT array(1.0, 0.0) AS a, array(0.0, 1.0) AS b, array(2.0, 0.0) AS c")
    df.select(Similarity.dot($"a", $"c")).as[Double].head() shouldBe 2.0
    df.select(Similarity.cosine($"a", $"b")).as[Double].head() shouldBe 0.0
    df.select(Similarity.cosine($"a", $"c")).as[Double].head() shouldBe 1.0 +- 1e-12
  }

  test("brute-force top-k finds same-cluster neighbors first") {
    val queries = corpus.filter($"vec_id".isin(0L, 30L, 60L, 90L))
    val top = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5)
    val byQuery = top.select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    byQuery should have size 4
    for ((q, neighbors) <- byQuery) {
      val cluster = (q / 25).toInt
      neighbors should have size 5
      all(neighbors.map(n => (n / 25).toInt)) shouldBe cluster
    }
  }

  test("brute-force top-k ranks a NaN cosine first and a null cosine last, as the window does") {
    // id 3's null vector scores a NULL cosine, id 4's NaN component a NaN
    // one: DESC puts NaN above every number and NULL after all of them
    val corpus = Seq[(Long, Option[Array[Float]])](
      (1L, Some(Array(1f, 0f))), (2L, Some(Array(1f, 0.1f))), (3L, None),
      (4L, Some(Array(Float.NaN, 1f))), (5L, Some(Array(0f, 1f)))).toDF("id", "vec")
    val top = Similarity.bruteForceTopK(corpus.where($"id" === 1L), corpus, "id", "vec", k = 4)
    top.orderBy("rank").select("neighbor_id", "rank").as[(Long, Int)].collect() shouldBe
      Array((4L, 1), (2L, 2), (5L, 3), (3L, 4))
  }

  test("native vector kernels are bit-identical to the composed formulation") {
    val pairs = corpus.as("a").join(corpus.as("b"), $"a.vec_id" + 25 === $"b.vec_id")
      .select($"a.embedding".as("x"), $"b.embedding".as("y"))
    val checked = pairs.select(
      (Similarity.cosine($"x", $"y") === Similarity.cosineComposed($"x", $"y")).as("cos_eq"),
      (Similarity.lshBucket($"x", 8) === Similarity.lshBucketComposed($"x", 8)).as("b_eq"))
      .collect()
    all(checked.map(r => r.getBoolean(0) && r.getBoolean(1))) shouldBe true
  }

  test("same vector always lands in the same bucket; scaling preserves it") {
    val b = Similarity.withLshBucket(corpus, "embedding", nbits = 8)
      .filter($"vec_id" === 7).select("bucket").as[Long].head()
    val scaled = corpus.withColumn("embedding", transform($"embedding", x => x * 3.0f))
    val b2 = Similarity.withLshBucket(scaled, "embedding", nbits = 8)
      .filter($"vec_id" === 7).select("bucket").as[Long].head()
    b2 shouldBe b
  }

  test("LSH ANN reaches recall >= 0.8 vs brute force") {
    val queries = corpus.filter($"vec_id" % 10 === 0)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.annTopK(queries, corpus, "vec_id", "embedding", k = 5, nbits = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    withClue(s"per-query recalls: $recalls") { mean should be >= 0.8 }
  }

  test("sign sketch: native kernel matches composed form; bits are independent") {
    val checked = corpus.select(
      (Similarity.signSketch($"embedding", 48) === Similarity.signSketchComposed($"embedding", 48))
        .as("eq"))
      .as[Boolean].collect()
    all(checked) shouldBe true
    // the wide sketch must use >7 distinct hyperplanes: across a clustered
    // corpus, sketches take many distinct values (the lshBucket family
    // would collapse bits i and i+7 to copies)
    val distinctSketches = corpus.select(Similarity.signSketch($"embedding", 48))
      .distinct().count()
    distinctSketches should be >= 4L
    val bitsUsed = (0 until 48).count { i =>
      corpus.select((shiftright(Similarity.signSketch($"embedding", 48), i) % 2).cast("int"))
        .distinct().count() == 2
    }
    withClue(s"varying bits: $bitsUsed") { bitsUsed should be > 7 }
    // empty vector: kernel and composed form agree on 0 (no vacuous all-set sketch)
    val empty = spark.sql("SELECT cast(array() as array<float>) AS v")
    empty.select(Similarity.signSketch($"v", 48)).as[Long].head() shouldBe 0L
    empty.select(Similarity.signSketchComposed($"v", 48)).as[Long].head() shouldBe 0L
  }

  test("sign sketch is invariant to exact positive scaling") {
    // x4 is an exponent shift: float-exact, so projections scale without
    // rounding and every sign bit is preserved
    val base = corpus.select($"vec_id", Similarity.signSketch($"embedding", 48).as("s"))
    val scaled = corpus
      .withColumn("embedding", transform($"embedding", x => x * 4.0f))
      .select($"vec_id", Similarity.signSketch($"embedding", 48).as("s"))
    base.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      scaled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random projection: native kernel matches composed form; angles survive") {
    val checked = corpus.select(
      (Similarity.randomProject($"embedding", 8) ===
        Similarity.randomProjectComposed($"embedding", 8)).as("eq"))
      .as[Boolean].collect()
    all(checked) shouldBe true
    // projected cosine tracks full cosine: same-cluster pairs must score
    // higher than cross-cluster pairs after projection to 8 dims
    val ref = corpus.filter($"vec_id" === 0)
      .select(lit(1).as("__k"), $"embedding".as("ref"))
    val scored = corpus.withColumn("__k", lit(1)).join(broadcast(ref), "__k")
      .filter($"vec_id".isin(1L, 2L, 30L, 60L)) // 2 same-cluster, 2 cross
      .select($"vec_id",
        Similarity.cosine(
          Similarity.randomProject($"embedding", 8),
          Similarity.randomProject($"ref", 8)).as("pcos"))
      .as[(Long, Double)].collect().toMap
    scored(1L) should be > scored(30L)
    scored(1L) should be > scored(60L)
    scored(2L) should be > scored(30L)
    scored(2L) should be > scored(60L)
  }

  test("projected-space ANN reaches recall >= 0.8 vs brute force") {
    val queries = corpus.filter($"vec_id" % 10 === 0)
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = results(Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5))
    val approx = results(Similarity.projectedTopK(
      queries, corpus, "vec_id", "embedding", k = 5, projDims = 8, candidates = 15))
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    withClue(s"per-query recalls: $recalls") { mean should be >= 0.8 }
  }

  test("vector kernels are SQL-callable through the extension registry") {
    // same (id, info, builder) triples GraftExtensions injects via
    // spark.sql.extensions; the test session registers them directly
    graft.functions.functions.registry.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    corpus.createOrReplaceTempView("emb_sql")
    val row = spark.sql(
      """SELECT dot_product(embedding, embedding) AS d,
                cosine_similarity(embedding, embedding) AS c,
                lsh_bucket(embedding) AS b,
                sign_sketch(embedding, 16) AS s,
                random_project(embedding, 4) AS p
         FROM emb_sql WHERE vec_id = 0""").head()
    row.getDouble(0) should be > 0.0
    row.getDouble(1) shouldBe 1.0 +- 1e-9
    row.getAs[Seq[Double]](4) should have size 4
    // and the SQL path computes exactly what the Column API computes
    val viaColumn = corpus.filter($"vec_id" === 0)
      .select(Similarity.randomProject($"embedding", 4)).as[Seq[Double]].head()
    row.getAs[Seq[Double]](4) shouldBe viaColumn
  }

  test("collect_bottom_k is SQL-callable: ascending k-smallest per group") {
    graft.functions.functions.registry.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    Seq(("a", 5), ("a", 1), ("a", 3), ("a", 2), ("b", 9), ("b", 7))
      .toDF("g", "v").createOrReplaceTempView("cbk_sql")
    val got = spark.sql(
      "SELECT g, collect_bottom_k(v, 3) AS bottom FROM cbk_sql GROUP BY g ORDER BY g")
      .as[(String, Seq[Int])].collect()
    got shouldBe Array(("a", Seq(1, 2, 3)), ("b", Seq(7, 9)))
  }

  test("random_project rejects bad k at plan time, not mid-codegen") {
    // k = 0 would project to an empty vector whose cosine is NaN (which
    // sorts ABOVE real similarities); k < 0 an array-alloc crash inside
    // generated code — both must fail before any job runs
    an[IllegalArgumentException] should be thrownBy
      graft.functions.vectors.random_project($"embedding", 0)
    an[IllegalArgumentException] should be thrownBy
      graft.functions.vectors.random_project($"embedding", -3)
    // the SQL registry rejects wrong arity instead of an opaque
    // IndexOutOfBoundsException from the builder
    graft.functions.functions.registry.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    corpus.createOrReplaceTempView("emb_sql_arity")
    val ex = intercept[Exception] {
      spark.sql("SELECT random_project(embedding) FROM emb_sql_arity").head()
    }
    ex.getMessage should include("2 arguments")
  }

  test("Hamming-sketch ANN reaches recall >= 0.8 vs brute force") {
    val queries = corpus.filter($"vec_id" % 10 === 0)
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = results(Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5))
    val approx = results(
      Similarity.hammingTopK(queries, corpus, "vec_id", "embedding", k = 5, candidates = 15))
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    withClue(s"per-query recalls: $recalls") { mean should be >= 0.8 }
  }

  test("multiprobe LSH beats single-probe recall at the same nbits") {
    val queries = corpus.filter($"vec_id" % 10 === 0)
    def recallOf(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = results(Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5))
    val single = recallOf(results(
      Similarity.annTopK(queries, corpus, "vec_id", "embedding", k = 5, nbits = 10)), exact)
    val multi = recallOf(results(
      Similarity.annTopKMultiprobe(queries, corpus, "vec_id", "embedding", k = 5, nbits = 10)), exact)
    withClue(s"single=$single multi=$multi") {
      multi should be >= single
      multi should be >= 0.9
    }
  }

  test("IVF ANN reaches recall >= 0.9 vs brute force with nprobe=2") {
    val queries = corpus.filter($"vec_id" % 10 === 0)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (assigned, centroids) = Similarity.ivfAssign(corpus, "embedding", k = 8)
    centroids.count() shouldBe 8
    val approx = Similarity.ivfTopK(queries, assigned, centroids, "vec_id", "embedding", k = 5, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    withClue(s"per-query recalls: $recalls") { mean should be >= 0.9 }
  }

  test("seeded IVF assigns every vector to exactly one deterministic cell") {
    val (assigned, centroids) = Similarity.ivfAssignSeeded(corpus, "vec_id", "embedding", k = 8)
    centroids.count() shouldBe 8
    centroids.select("centroid_id").as[Long].collect().sorted shouldBe (0L until 8L).toArray
    assigned.count() shouldBe corpus.count() // exactly one cell per vector
    assigned.columns should contain("centroid_id")
    // deterministic: a second run produces the identical assignment
    val (assigned2, _) = Similarity.ivfAssignSeeded(corpus, "vec_id", "embedding", k = 8)
    assigned.select("vec_id", "centroid_id").except(
      assigned2.select("vec_id", "centroid_id")).count() shouldBe 0
    // probe-and-rerank over the seeded cells returns well-formed ranked rows
    val queries = corpus.filter($"vec_id" % 25 === 0)
    val top = Similarity.ivfTopK(queries, assigned, centroids, "vec_id", "embedding", k = 5, nprobe = 2)
    val ranks = top.groupBy("query_id").count().select("count").as[Long].collect()
    all(ranks) shouldBe 5L
  }

  test("embedding near-dup pairs stay within clusters") {
    val pairs = Similarity.embeddingNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.9, nbits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    pairs should not be empty
    all(pairs.map { case (a, b) => (a / 25, b / 25) }.map(p => p._1 == p._2)) shouldBe true
  }

  test("semantic dedup keeps the smallest id of every within-cell duplicate set") {
    val survivors = Similarity.semanticDedup(corpus, "vec_id", "embedding", k = 8, threshold = 0.9)
    val ids = survivors.select("vec_id").as[Long].collect().toSet
    // the clustered corpus is massively redundant at cosine 0.9: most of each
    // 25-point cluster collapses, and the globally smallest id always survives
    ids should contain(0L)
    ids.size should be < 40
    ids.size should be >= 4 // at least one representative per cluster
    // keep-first invariant: no surviving pair in the same IVF cell is still
    // above the threshold (cross-cell pairs may be; that's the recall trade)
    val (assigned, _) = Similarity.ivfAssignSeeded(corpus, "vec_id", "embedding", k = 8)
    val cells = assigned.filter($"vec_id".isin(ids.toSeq.map(Long.box): _*))
      .select($"centroid_id", $"vec_id", $"embedding")
    val offending = cells.as("a")
      .join(cells.as("b"), $"a.centroid_id" === $"b.centroid_id" && $"a.vec_id" < $"b.vec_id")
      .filter(round(Similarity.cosine($"a.embedding", $"b.embedding"), 4) >= 0.9)
    offending.count() shouldBe 0
    // deterministic: same survivors on a different partitioning
    val again = Similarity.semanticDedup(corpus.repartition(13), "vec_id", "embedding",
      k = 8, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    again shouldBe ids
  }

  test("kmeansUpdate computes exact fixed-point cell means") {
    // two cells with hand-computable means
    val assigned = Seq(
      (0, Array(1.0f, -2.0f)), (0, Array(2.0f, -3.0f)), (0, Array(4.0f, -7.0f)),
      (1, Array(0.5f, 0.25f))
    ).toDF("centroid_id", "embedding")
    val out = Similarity.kmeansUpdate(assigned, "embedding")
      .select($"centroid_id", $"dim", $"n_members", $"sum_e6", $"centroid_e6")
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    out shouldBe Set(
      // cell 0: dim0 mean (1+2+4)/3 = 7/3 -> floor(7000000/3) = 2333333
      (0, 0L, 3L, 7000000L, 2333333L),
      // dim1 mean (-2-3-7)/3 = -4 exactly
      (0, 1L, 3L, -12000000L, -4000000L),
      (1, 0L, 1L, 500000L, 500000L),
      (1, 1L, 1L, 250000L, 250000L))
  }

  test("normOutliers flags Tukey norm outliers per label, exactly") {
    // label 0: norms 1..20 plus one huge outlier (fences: q1=6, q3=16,
    // hi = 16 + 1.5*10 = 31 -> only the 1000-norm vector is out);
    // label 1: a tight cluster, nothing flagged
    val rows = (1 to 20).map(i => (i.toLong, 0, Array(i.toFloat, 0f))) ++
      Seq((100L, 0, Array(1000f, 0f))) ++
      (200 to 205).map(i => (i.toLong, 1, Array(5f, 0f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val out = Similarity.normOutliers(df, "vec_id", "embedding", "label")
    out.filter($"is_outlier").select($"vec_id").as[Long].collect().toSet shouldBe Set(100L)
    out.count() shouldBe rows.size.toLong
    // partitioning-invariant (discrete quartiles, integer fences)
    val again = Similarity.normOutliers(df.repartition(7), "vec_id", "embedding", "label")
      .filter($"is_outlier").select($"vec_id").as[Long].collect().toSet
    again shouldBe Set(100L)
  }

  test("kmeansUpdate is partitioning-invariant (exact integer accumulation)") {
    val (assigned, _) = Similarity.ivfAssignSeeded(corpus, "vec_id", "embedding", k = 4)
    val a = Similarity.kmeansUpdate(assigned, "embedding")
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    val b = Similarity.kmeansUpdate(assigned.repartition(17), "embedding")
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    b shouldBe a
    a.size shouldBe 4 * 16 // k cells x 16 dims
    // every cell's member count is constant across its dims
    a.groupBy(_._1).values.foreach(rows => rows.map(_._3).toSet.size shouldBe 1)
  }

  test("gramSums: hand-computed micro-truncated sums on a tiny frame") {
    val df = Seq(
      (0, Array(1.0f, -0.5f)),
      (0, Array(0.25f, 2.0f)),
      (1, Array(-1.0f, 0.0f))).toDF("g", "v")
    val out = Similarity.gramSums(df, Seq("g"), "v", dim = 2)
      .as[(Int, Long, Seq[Long], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // g=0: sums = floor(1e6)+floor(0.25e6), floor(-0.5e6)+floor(2e6)
    val (n0, s0, m0) = (out(0)._1, out(0)._2, out(0)._3)
    n0 shouldBe 2L
    s0 shouldBe Seq(1250000L, 1500000L)
    // gram row-major: [x0x0, x0x1, x1x0, x1x1] summed over the two rows
    m0 shouldBe Seq(
      math.floor(1.0 * 1.0 * 1e6).toLong + math.floor(0.25 * 0.25 * 1e6).toLong,
      math.floor(1.0 * -0.5 * 1e6).toLong + math.floor(0.25 * 2.0 * 1e6).toLong,
      math.floor(-0.5 * 1.0 * 1e6).toLong + math.floor(2.0 * 0.25 * 1e6).toLong,
      math.floor(-0.5 * -0.5 * 1e6).toLong + math.floor(2.0 * 2.0 * 1e6).toLong)
    out(1)._1 shouldBe 1L
    out(1)._2 shouldBe Seq(-1000000L, 0L)
  }

  test("gram summaries merge bit-identically to the whole-data gram") {
    val whole = Similarity.gramSums(corpus, Seq.empty, "embedding", dim = 16)
      .select($"n", $"sums_micro", $"gram_micro")
      .as[(Long, Seq[Long], Seq[Long])].head()
    // slice by cluster, then re-roll the per-slice summaries with gram_merge
    val sliced = Similarity.gramSums(corpus, Seq("cluster"), "embedding", dim = 16)
      .select(concat(
        array($"n"), $"sums_micro", $"gram_micro").as("packed"))
      .agg(graft.functions.functions.gram_merge($"packed", 16).as("m"))
      .select($"m").as[Seq[Long]].head()
    sliced.head shouldBe whole._1
    sliced.slice(1, 17) shouldBe whole._2
    sliced.drop(17) shouldBe whole._3
  }

  test("gramSums is partitioning-independent (truncate-then-accumulate law)") {
    def run(parts: Int) =
      Similarity.gramSums(corpus.repartition(parts), Seq.empty, "embedding", 16)
        .select($"n", $"sums_micro", $"gram_micro")
        .as[(Long, Seq[Long], Seq[Long])].head()
    run(1) shouldBe run(13)
  }

  test("gramSums fails loudly on a wrong-dimension vector") {
    val bad = Seq((0, Array(1.0f, 2.0f, 3.0f))).toDF("g", "v")
    val ex = intercept[org.apache.spark.SparkException] {
      Similarity.gramSums(bad, Seq("g"), "v", dim = 2).collect()
    }
    ex.getMessage should include("dimension mismatch")
  }

  test("covarianceFromGram: exact integer numerators, diagonal positive") {
    val g = Similarity.gramSums(corpus, Seq("cluster"), "embedding", dim = 16)
    val cov = Similarity.covarianceFromGram(g, Seq("cluster"), dim = 16)
    val rows = cov.where($"cluster" === 0)
      .select($"i", $"j", $"n", $"gram_micro", $"si_micro", $"sj_micro",
        $"cov_num".cast("long"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    rows.length shouldBe 256
    rows.foreach { case (_, _, n, gm, si, sj, num) =>
      num shouldBe n * gm * 1000000L - si * sj
    }
    // variances (i == j) are positive for the noisy coordinates
    rows.filter(r => r._1 == r._2).map(_._7).count(_ > 0) should be >= 15
  }

  test("principalDirection recovers the dominant axis of a stretched cloud") {
    // points spread along dim 3 (variance >> others): x3 = ±10 + noise
    val rows = (0 until 200).map { i =>
      val sign = if (i % 2 == 0) 1.0 else -1.0
      Array.tabulate(8)(d =>
        (if (d == 3) sign * 10.0 + math.sin(i * 13 + d) * 0.1
         else math.sin(i * 29 + d * 7) * 0.5).toFloat)
    }
    val df = rows.map(Tuple1(_)).toDF("v")
    val (n, sums, gram) = Similarity.gramSums(df, Seq.empty, "v", dim = 8)
      .select($"n", $"sums_micro", $"gram_micro")
      .as[(Long, Seq[Long], Seq[Long])].head()
    val dir = Similarity.principalDirection(n, sums.toArray, gram.toArray)
    math.abs(dir(3)) should be > 0.99
    // sign convention: first nonzero component positive -> reproducible
    dir.find(math.abs(_) > 1e-12).get should be > 0.0
  }

  test("annRecall: hand-computed hits, perfect and partial recall, dup collapse") {
    val truth = Seq(
      ("q1", 10L), ("q1", 11L), ("q1", 12L), ("q1", 13L),
      ("q2", 20L), ("q2", 21L)).toDF("query_id", "neighbor_id")
    val approx = Seq(
      ("q1", 11L), ("q1", 13L), ("q1", 99L), ("q1", 11L), // dup pair collapses
      ("q2", 20L), ("q2", 21L), ("q2", 22L)).toDF("query_id", "neighbor_id")
    val out = Similarity.annRecall(truth, approx)
      .orderBy($"query_id").as[(String, Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      ("q1", 4L, 2L, 2L * 1000000L / 4L), // 11,13 hit; 10,12 missed; 99 ignored
      ("q2", 2L, 2L, 1000000L))           // perfect recall
  }

  test("annRecall on the clustered corpus: ivf nprobe=2 recovers most of truth") {
    val queries = corpus.filter($"vec_id" < 4)
    val truth = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5)
    val (assigned, cents) = Similarity.ivfAssignSeeded(corpus, "vec_id", "embedding", k = 4)
    val approx = Similarity.ivfTopK(queries, assigned, cents, "vec_id", "embedding",
      k = 5, nprobe = 2)
    val rec = Similarity.annRecall(truth, approx)
    rec.count() shouldBe 4
    // every query's truth set has 5 entries; recall_ppm consistent with hits
    rec.select(max($"n_truth")).as[Long].head() shouldBe 5L
    rec.filter(expr("recall_ppm <> hits * 1000000 DIV n_truth")).count() shouldBe 0
    // clustered data, 2 of 4 cells probed: macro recall comfortably high
    rec.agg(sum($"hits") * 1000000 / sum($"n_truth")).as[Double].head() should be >= 600000.0
  }
}
