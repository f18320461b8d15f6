package graft.ops

import org.apache.spark.SparkTestAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.monitoring.JobMetrics
import graft.testkit.{HeldStorage, SparkTestBase}

class GraphsSpec extends SparkTestBase with HeldStorage {
  import spark.implicits._

  private val Scale = 1000000000000L

  /** Star graph: every leaf links to the hub, hub links back to leaf1. */
  private def star = Seq(
    ("leaf1", "hub"), ("leaf2", "hub"), ("leaf3", "hub"), ("hub", "leaf1"))
    .toDF("src", "dst")

  test("the node everyone links to outranks the nodes nobody links to") {
    val ranks = Graphs.pageRank(star).as[(String, Long)].collect().toMap
    ranks("hub") should be > ranks("leaf1")
    ranks("leaf1") should be > ranks("leaf2") // hub's backlink beats no links
    ranks("leaf2") shouldBe ranks("leaf3")    // symmetric nodes tie exactly
  }

  test("total mass never exceeds the initial allocation (floor + dangling only lose)") {
    val ranks = Graphs.pageRank(star).as[(String, Long)].collect()
    ranks.map(_._2).sum should be <= Scale
    ranks.map(_._2).min should be > 0L // teleport keeps every node positive
  }

  test("ranks are a pure function of the graph, not its partitioning") {
    val a = Graphs.pageRank(star).as[(String, Long)].collect().toSet
    val b = Graphs.pageRank(star.repartition(7)).as[(String, Long)].collect().toSet
    a shouldBe b
  }

  test("duplicate edges, self-loops and null endpoints are dropped") {
    val messy = Seq(
      Some("a") -> Some("b"), Some("a") -> Some("b"), // duplicate
      Some("b") -> Some("b"),                         // self-loop
      None -> Some("b"), Some("a") -> None,           // null endpoints
      Some("b") -> Some("a"))
      .toDF("src", "dst")
    val clean = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    Graphs.pageRank(messy).as[(String, Long)].collect().toSet shouldBe
      Graphs.pageRank(clean).as[(String, Long)].collect().toSet
  }

  test("a dangling node keeps its teleport rank and leaks the rest") {
    // c has no out-edges: its inbound mass is dropped each round
    val ranks = Graphs.pageRank(Seq(("a", "b"), ("b", "c"), ("b", "a")).toDF("src", "dst"))
      .as[(String, Long)].collect().toMap
    ranks.keySet shouldBe Set("a", "b", "c")
    // c still accrues inbound from b; the graph total shrinks every round
    ranks.values.sum should be < Scale
  }

  test("one iteration matches the hand-computed integer recipe") {
    // a -> b, b -> a: n=2, base = scale/2, deg 1 each
    // round 1: share = base; rank = teleport + 85*base/100 for both
    val base = Scale / 2
    val teleport = 15L * base / 100L
    val expected = teleport + 85L * base / 100L
    val ranks = Graphs.pageRank(Seq(("a", "b"), ("b", "a")).toDF("src", "dst"),
      iterations = 1).as[(String, Long)].collect().toMap
    ranks("a") shouldBe expected
    ranks("b") shouldBe expected
  }

  test("damping 100 is pure flow, damping 0 is pure teleport") {
    val flow = Graphs.pageRank(star, dampingPct = 0).as[(String, Long)].collect().toMap
    flow.values.toSet.size shouldBe 1 // everyone sits at scale/n (teleport only)
    val hot = Graphs.pageRank(star, dampingPct = 100).as[(String, Long)].collect().toMap
    hot("hub") should be > flow("hub") // all mass flows into the hub
  }

  test("parameter validation fails fast") {
    an[IllegalArgumentException] should be thrownBy
      Graphs.pageRank(star, iterations = 0)
    an[IllegalArgumentException] should be thrownBy
      Graphs.pageRank(star, dampingPct = 101)
    an[IllegalArgumentException] should be thrownBy
      Graphs.pageRank(Seq.empty[(String, String)].toDF("src", "dst"))
  }

  test("extractLinks pulls aligned href/anchor pairs and skips the documented shapes") {
    val html =
      """<html><body><A HREF="https://x.example/a" class="n">first</A>
        |<a href='https://single.example/'>single-quoted skipped</a>
        |<a id="z" href="https://y.example/b">nested <b>markup</b> skipped</a>
        |<a href="https://z.example/c">last</a></body></html>""".stripMargin
    val out = Web.extractLinks(Seq((1L, html)).toDF("id", "html"), "id", "html")
      .orderBy("link_pos").as[(Long, Long, String, String)].collect()
    out shouldBe Array(
      (1L, 0L, "https://x.example/a", "first"),
      (1L, 1L, "https://z.example/c", "last"))
  }

  test("extractLinks: null html and link-free pages produce no rows") {
    val df = Seq((1L, Option.empty[String]), (2L, Option("<p>no links</p>")))
      .toDF("id", "html")
    Web.extractLinks(df, "id", "html").count() shouldBe 0L
  }

  test("hits: the linked-to node is the top authority, the pointers are the top hubs") {
    val out = Graphs.hits(star).as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    out("hub")._2 shouldBe 1000000L        // max authority, exactly scale
    out("leaf2")._1 shouldBe 1000000L      // pure hubs normalize to scale
    out("leaf3") shouldBe out("leaf2")     // symmetric nodes tie exactly
    out("leaf2")._2 shouldBe 0L            // nothing links to a leaf
    out("hub")._1 should be < out("leaf2")._1 // hub's one outlink targets a weak authority
    out("leaf1")._2 should be > 0L         // hub's backlink gives leaf1 some authority
  }

  test("hits first round matches the hand-computed normalize-by-max recipe") {
    // a -> b, c -> b, b -> a: auth1 raw = (b: 2e6, a: 1e6); norm: b=1e6, a=500000
    // hub1 raw = (a: auth(b)=1e6, c: 1e6, b: auth(a)=500000); norm: a=c=1e6, b=500000
    val g = Seq(("a", "b"), ("c", "b"), ("b", "a")).toDF("src", "dst")
    val out = Graphs.hits(g, iterations = 1).as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    out("b") shouldBe ((500000L, 1000000L))
    out("a") shouldBe ((1000000L, 500000L))
    out("c") shouldBe ((1000000L, 0L))
  }

  test("hits is partitioning-independent") {
    val g = (1L to 30L).map(i => (s"n${i % 9}", s"n${(i * 5 + 2) % 9}")).toDF("src", "dst")
    val a = Graphs.hits(g).collect().map(_.toSeq).toSet
    val b = Graphs.hits(g.repartition(7)).collect().map(_.toSeq).toSet
    a shouldBe b
  }

  test("degreeStats counts out/in/reciprocal, dedups edges, covers all nodes") {
    val g = Seq(("a", "b"), ("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"))
      .toDF("src", "dst")
    val out = Graphs.degreeStats(g).as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out("a") shouldBe ((2L, 1L, 1L)) // a->b reciprocated, a->c not; self-loop dropped
    out("b") shouldBe ((1L, 1L, 1L))
    out("c") shouldBe ((0L, 1L, 0L)) // in-only node still reported
  }

  private def triMap(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("triangleCounts: hand-computed diamond (K4 minus one edge)") {
    // a-b, a-c, a-d, b-c, c-d: triangles {a,b,c} and {a,c,d}
    val g = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("c", "d"))
      .toDF("src", "dst")
    val out = triMap(Graphs.triangleCounts(g))
    out("a") shouldBe ((3L, 2L, 2L * 2 * 1000000 / (3 * 2))) // deg 3, 2 tris
    out("c") shouldBe ((3L, 2L, 666666L))
    out("b") shouldBe ((2L, 1L, 1000000L)) // both neighbours linked
    out("d") shouldBe ((2L, 1L, 1000000L))
  }

  test("triangleCounts: a star has no triangles however big the hub") {
    val g = (1 to 40).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    val out = triMap(Graphs.triangleCounts(g))
    out.values.map(_._2).sum shouldBe 0L
    out("hub")._1 shouldBe 40L
    out("hub")._3 shouldBe 0L
  }

  test("triangleCounts: direction, duplicates, self-loops and nulls are hygiene, not data") {
    // the same triangle written with reversed/duplicated edges + junk rows
    val g = Seq(Some("a") -> Some("b"), Some("b") -> Some("a"),
      Some("b") -> Some("c"), Some("c") -> Some("a"), Some("c") -> Some("a"),
      Some("a") -> Some("a"), None -> Some("b"), Some("c") -> None)
      .toDF("src", "dst")
    val out = triMap(Graphs.triangleCounts(g))
    out("a") shouldBe ((2L, 1L, 1000000L))
    out("b") shouldBe ((2L, 1L, 1000000L))
    out("c") shouldBe ((2L, 1L, 1000000L))
  }

  test("labelPropagation: two cliques joined by one bridge edge settle into two communities") {
    // clique {a1,a2,a3} + clique {b1,b2,b3}, bridge a3-b1
    def clique(p: String) = Seq((s"${p}1", s"${p}2"), (s"${p}1", s"${p}3"), (s"${p}2", s"${p}3"))
    val g = (clique("a") ++ clique("b") :+ ("a3", "b1")).toDF("src", "dst")
    val out = Graphs.labelPropagation(g).as[(String, String)].collect().toMap
    // labels may leak across the bridge (b's community ends up labelled "a3"
    // here) — what must hold is the PARTITION: each clique uniform, cliques apart
    Set(out("a1"), out("a2"), out("a3")).size shouldBe 1
    Set(out("b1"), out("b2"), out("b3")).size shouldBe 1
    out("a1") should not be out("b1")
  }

  test("labelPropagation: one round adopts the min neighbour label (hand-computed)") {
    // path x-y-z: after 1 round, y sees {x,z} (tie -> x); x sees {y}; z sees {y}
    val g = Seq(("x", "y"), ("y", "z")).toDF("src", "dst")
    val out = Graphs.labelPropagation(g, iterations = 1).as[(String, String)].collect().toMap
    out shouldBe Map("x" -> "y", "y" -> "x", "z" -> "y")
  }

  test("labelPropagation is partitioning-independent and direction-blind") {
    val g = (1L to 60L).map(i => (s"n${i % 13}", s"n${(i * 7 + 3) % 13}")).toDF("src", "dst")
    val rev = g.select($"dst".as("src"), $"src".as("dst"))
    val a = Graphs.labelPropagation(g).collect().map(_.toSeq).toSet
    val b = Graphs.labelPropagation(g.repartition(7)).collect().map(_.toSeq).toSet
    val c = Graphs.labelPropagation(rev).collect().map(_.toSeq).toSet
    a shouldBe b
    a shouldBe c
  }

  test("kCore: peeling cascades — a tail hanging off a triangle dies in order") {
    // triangle {a,b,c} + path c-d-e: 2-core should peel e (deg 1), then d
    val g = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val out = Graphs.kCore(g, k = 2).as[(String, Long)].collect().toMap
    out shouldBe Map("a" -> 2L, "b" -> 2L, "c" -> 2L)
  }

  test("kCore: a bounded round count leaves a deeper cascade unpeeled (documented law)") {
    // chain t1-t2-...-t5 off a triangle: each 2-core round peels ONE tail node
    val chain = Seq(("c", "t1"), ("t1", "t2"), ("t2", "t3"), ("t3", "t4"), ("t4", "t5"))
    val g = (Seq(("a", "b"), ("b", "c"), ("a", "c")) ++ chain).toDF("src", "dst")
    val two = Graphs.kCore(g, k = 2, rounds = 2).as[(String, Long)].collect().toMap
    two.keySet should contain allOf ("t1", "t2", "t3") // only t5, t4 peeled so far
    val deep = Graphs.kCore(g, k = 2, rounds = 8).as[(String, Long)].collect().toMap
    deep.keySet shouldBe Set("a", "b", "c") // enough rounds: whole tail gone
  }

  test("kCore is partitioning-independent") {
    val g = (1L to 80L).map(i => (s"n${i % 17}", s"n${(i * 5 + 2) % 17}")).toDF("src", "dst")
    val a = Graphs.kCore(g, k = 4).collect().map(_.toSeq).toSet
    val b = Graphs.kCore(g.repartition(7), k = 4).collect().map(_.toSeq).toSet
    a shouldBe b
  }

  test("bfsDistances: exact hop counts, direction respected, horizon enforced") {
    val g = Seq(("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"), ("x", "s"), ("b", "a"))
      .toDF("src", "dst")
    val out = Graphs.bfsDistances(g, Seq("s"), maxDepth = 3)
      .as[(String, Long)].collect().toMap
    out shouldBe Map("s" -> 0L, "a" -> 1L, "b" -> 2L, "c" -> 3L)
    // d is 4 hops (beyond horizon); x only REACHES s, never reached from it
  }

  test("bfsDistances: multiple seeds take the minimum, shortcuts win over long walks") {
    val g = Seq(("s1", "m"), ("m", "z"), ("s2", "z")).toDF("src", "dst")
    val out = Graphs.bfsDistances(g, Seq("s1", "s2"), maxDepth = 4)
      .as[(String, Long)].collect().toMap
    out shouldBe Map("s1" -> 0L, "s2" -> 0L, "m" -> 1L, "z" -> 1L)
  }

  test("triangleCounts is partitioning-independent") {
    val g = (1L to 60L).map(i => (s"n${i % 11}", s"n${(i * 7 + 3) % 11}")).toDF("src", "dst")
    val a = Graphs.triangleCounts(g).collect().map(_.toSeq).toSet
    val b = Graphs.triangleCounts(g.repartition(7)).collect().map(_.toSeq).toSet
    a shouldBe b
    a.nonEmpty shouldBe true
  }

  /** Runs `body` with broadcasts off — which keeps every graph on
    * connectedComponents' distributed loop — and restores the session's
    * threshold afterwards, since all specs share one session. */
  private def onLoop[T](body: => T): T =
    SparkTestAccess.withSqlConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  // Each connectedComponents law runs twice: as written (these graphs are
  // small, so the driver union-find answers) and on the distributed loop.
  private val componentLaws: Seq[(String, () => Unit)] = Seq(
    "connectedComponents labels every node with its component's min id" -> { () =>
      // two components {1,2,3,4} (star + tail) and {10,11}, direction ignored
      val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (11L, 10L)).toDF("src", "dst")
      Graphs.connectedComponents(edges).as[(Long, Long)].collect().toMap shouldBe
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    },
    "connectedComponents converges on a long chain (pointer jumping)" -> { () =>
      // a 200-node chain has diameter 199; the compress step must close it
      // in far fewer rounds than maxIterations allows
      val chain = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
      val labels = Graphs.connectedComponents(chain, maxIterations = 12)
        .as[(Long, Long)].collect()
      labels.length shouldBe 200
      labels.map(_._2).toSet shouldBe Set(0L)
    },
    "connectedComponents drops self-loops/nulls and ignores duplicate edges" -> { () =>
      val edges = Seq(
        (Some(1L), Some(1L)),   // self-loop: contributes nothing
        (Some(1L), Some(2L)), (Some(1L), Some(2L)), // duplicate
        (None, Some(9L)), (Some(8L), None)          // null endpoints
      ).toDF("src", "dst")
      Graphs.connectedComponents(edges).as[(Long, Long)].collect().toMap shouldBe
        Map(1L -> 1L, 2L -> 1L)
    },
    "connectedComponents is a pure function of the graph, not its partitioning" -> { () =>
      val rnd = new scala.util.Random(17)
      val edges = (1 to 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      def run(parts: Int) =
        Graphs.connectedComponents(edges.toDF("src", "dst").repartition(parts))
          .collect().map(_.toSeq).toSet
      run(1) shouldBe run(13)
    },
    "connectedComponents clusters dedup pairs into families" -> { () =>
      // the intended composition: pair-generator output -> families
      val pairs = Seq((100L, 200L), (200L, 300L), (500L, 600L)).toDF("id_a", "id_b")
      val fams = Graphs.connectedComponents(pairs, "id_a", "id_b")
        .groupBy($"component").count().as[(Long, Long)].collect().toMap
      fams shouldBe Map(100L -> 3L, 500L -> 2L)
    })

  componentLaws.foreach { case (name, law) =>
    test(name)(law())
    test(s"$name [distributed loop]")(onLoop(law()))
  }

  /** Both connectedComponents paths over one edge frame: equal rows and an
    * equal schema, nullability included. */
  private def bothPathsAgree(edges: DataFrame): Set[Seq[Any]] = {
    val local = Graphs.connectedComponents(edges)
    val loop = onLoop(Graphs.connectedComponents(edges))
    isLocal(local) shouldBe true
    isLocal(loop) shouldBe false
    local.schema shouldBe loop.schema
    val rows = local.collect().map(_.toSeq).toSet
    rows shouldBe loop.collect().map(_.toSeq).toSet
    rows
  }

  /** Random edges over `pool`, with ~10% null endpoints, self-loops and
    * duplicate edges. */
  private def randomEdges[T](rnd: scala.util.Random, pool: IndexedSeq[T], n: Int) =
    (1 to n).flatMap { _ =>
      def node = if (rnd.nextInt(10) == 0) None else Some(pool(rnd.nextInt(pool.length)))
      val e = (node, node)
      if (rnd.nextInt(8) == 0) Seq(e, e) else Seq(e)
    } :+ ((Some(pool(0)), Some(pool(0))))

  test("connectedComponents: driver union-find equals the distributed loop on Long ids") {
    for (seed <- 1 to 4) withClue(s"seed $seed: ") {
      val rnd = new scala.util.Random(seed)
      val pool = (0 until 40).map(_ => rnd.nextInt(1000).toLong - 500L)
      bothPathsAgree(randomEdges(rnd, pool, 35).toDF("src", "dst"))
    }
    val chain = bothPathsAgree((0L until 199L).map(i => (i + 1, i)).toDF("src", "dst"))
    chain.size shouldBe 200
    chain.map(_(1)) shouldBe Set(0L)
  }

  test("connectedComponents: both paths order String ids as UTF-8 bytes") {
    // U+FB01 (UTF-8 EF AC 81) sorts BEFORE U+1F600 (F0 9F 98 80) as bytes,
    // but AFTER it as UTF-16 code units (FB01 > D83D) — Scala's String order
    val (ligature, emoji) = ("\uFB01", new String(Character.toChars(0x1F600)))
    ligature.compareTo(emoji) should be > 0
    bothPathsAgree(Seq((emoji, ligature)).toDF("src", "dst")) shouldBe
      Set(Seq(emoji, ligature), Seq(ligature, ligature))
    val pool = IndexedSeq("a", "Z", "é", "e\u0301", "ü", "日本", ligature, emoji,
      new String(Character.toChars(0x1D518)), "\uFFFD", "zz", "")
    for (seed <- 1 to 4) withClue(s"seed $seed: ") {
      bothPathsAgree(randomEdges(new scala.util.Random(seed), pool, 10).toDF("src", "dst"))
    }
  }

  test("connectedComponents: a 10-edge graph costs at most 3 jobs on the driver path") {
    val edges = (0L until 10L).map(i => (i % 4, i + 10)).toDF("src", "dst")
    val (rows, m) = JobMetrics.measure(spark.sparkContext) {
      Graphs.connectedComponents(edges).collect()
    }
    rows.length shouldBe 14
    m.jobs.size should be <= 3
  }

  test("connectedComponents: an edge frame over DriverMaxEdgeRows stays on the loop") {
    // (i % 64, 64 + i): 64 stars whose leaves never repeat, so each edge
    // adds two distinct directed rows
    def stars(undirected: Long) =
      spark.range(undirected).select((col("id") % 64).as("src"), (col("id") + 64).as("dst"))
    val atLimit = Graphs.connectedComponents(stars(Graphs.DriverMaxEdgeRows / 2))
    isLocal(atLimit) shouldBe true
    val over = Graphs.connectedComponents(stars(Graphs.DriverMaxEdgeRows / 2 + 1))
    isLocal(over) shouldBe false
    over.where(col("component") =!= col("id") % 64 &&
      col("component") =!= col("id")).count() shouldBe 0L
    over.count() shouldBe Graphs.DriverMaxEdgeRows / 2 + 1 + 64
  }

  test("connectedComponents: string ids over DriverMaxIdBytes stay on the loop") {
    // 4 edges, 8 directed rows: 16 endpoints of an eighth of the budget
    // each — a handful of rows carrying twice the id bytes the driver
    // may hold
    val big = (Graphs.DriverMaxIdBytes / 8).toInt
    def id(c: Char) = c.toString * big
    val edges = Seq(('a', 'b'), ('b', 'c'), ('d', 'e'), ('e', 'f'))
      .map { case (u, v) => (id(u), id(v)) }.toDF("src", "dst")
    val out = Graphs.connectedComponents(edges)
    isLocal(out) shouldBe false
    out.select(substring(col("id"), 1, 1), substring(col("component"), 1, 1))
      .as[(String, String)].collect().toMap shouldBe
      Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d", "f" -> "d")
  }

  test("linkPrediction: hand-computed cn/jaccard/pa on the diamond graph") {
    // 1-2, 1-3, 2-3, 2-4, 3-4: the only non-adjacent pair is (1,4), with
    // common neighbors {2, 3}; deg 1 = deg 4 = 2 -> jaccard = 2/(2+2-2) = 1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val out = Graphs.linkPrediction(edges)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    out.toSeq shouldBe Seq((1L, 4L, 2L, 2L, 2L, 1000000L, 4L))
  }

  test("linkPrediction: existing edges never appear; duplicates/reversals dedup") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 3L)).toDF("src", "dst")
    // path 2-1-3: candidate (2,3) via center 1; (1,2)/(1,3) are edges
    val out = Graphs.linkPrediction(edges)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    out.toSeq shouldBe Seq((2L, 3L, 1L, 1L, 1L, 1000000L, 1L))
  }

  test("linkPrediction: centers above maxCenterDegree contribute no wedges") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    // deg(2) = deg(3) = 3 > 2: the only wedge centers for (1,4) are capped out
    Graphs.linkPrediction(edges, maxCenterDegree = 2).count() shouldBe 0L
  }

  test("linkPrediction: jaccard truncates; hub degree still counts in the denominator") {
    // star 1-{2,3,4} plus 2-3: non-edges (2,4) and (3,4) share center 1 only;
    // cn=1, deg2=2 (or deg3=2), deg4=1 -> jaccard = 1e6 DIV 2 = 500000
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    val out = Graphs.linkPrediction(edges)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    out shouldBe Set(
      (2L, 4L, 1L, 2L, 1L, 500000L, 2L),
      (3L, 4L, 1L, 2L, 1L, 500000L, 2L))
  }

  // ---- what the iterative operators leave stored -----------------------

  /** Self-loops, duplicate edges, ids isolated by a self-loop or a null
    * partner, a dense cluster with a tail, and a 40-hop chain. */
  private def adversarial = ((0 until 40).map(i => (s"c$i", s"c${i + 1}")) ++ Seq(
    ("h0", "h0"), ("h0", "h1"), ("h0", "h1"), ("h1", "h2"), ("h2", "h0"),
    ("h3", "h0"), ("h3", "h1"), ("h1", "h3"), ("h4", "h3"),
    ("lone", "lone"), ("x", null), (null, "y"))).toDF("src", "dst")

  // (name, the rdd-* dirs its result reads under a checkpoint dir, call)
  private val iterative: Seq[(String, Int, () => DataFrame)] = Seq(
    ("pageRank(5)", 1, () => Graphs.pageRank(adversarial, iterations = 5)),
    ("pageRank(20)", 1, () => Graphs.pageRank(adversarial, iterations = 20)),
    // the node list plus the last round's hub and authority sums
    ("hits", 3, () => Graphs.hits(adversarial)),
    ("labelPropagation", 1, () => Graphs.labelPropagation(adversarial)),
    // the edge view plus the last alive set
    ("kCore", 2, () => Graphs.kCore(adversarial, k = 2)),
    ("bfsDistances", 1, () => Graphs.bfsDistances(adversarial, Seq("c0", "h4", "lone"))),
    // the driver path answers with a local relation, reading no checkpoint
    ("connectedComponents", 0, () => Graphs.connectedComponents(adversarial)))

  iterative.foreach { case (name, reads, call) =>
    test(s"$name keeps only the checkpoints its result reads, with or without a checkpoint dir") {
      leavesOnlyWhatItReads(call) shouldBe reads
    }
  }

  test("connectedComponents [distributed loop] keeps only the last round's labels") {
    onLoop(leavesOnlyWhatItReads(() => Graphs.connectedComponents(adversarial))) shouldBe 1
    bothPathsAgree(adversarial).size shouldBe 46 // c0..c40 and h0..h4
  }
}
