package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.util.Barrier

/**
 * Link-graph operators for web-corpus curation. Crawl pipelines rank hosts
 * by link centrality (the Common-Crawl host-graph recipe) and use the rank
 * as a per-domain quality prior next to [[Web.domainQualityProfile]]'s
 * content statistics: a domain nobody links to is a much weaker training
 * source than its byte count suggests.
 *
 * Everything here is exact integer fixed-point arithmetic (`DIV`, never
 * float division), so ranks are a pure function of the graph and reproduce
 * bit-for-bit on any engine — the same cross-engine determinism rule as the
 * rest of the library (SURVEY.md §6).
 */
object Graphs {

  /**
   * PageRank with a FIXED number of iterations in exact integer
   * fixed-point — the host-quality prior of web curation (Page et al.
   * 1999, the public formulation), made engine-reproducible:
   *
   *  - ranks are integers scaled by `scale` (default 1e12); the initial
   *    rank of every node is `scale DIV n`;
   *  - one iteration: each node with out-degree `deg` sends
   *    `rank DIV deg` along every out-edge, and every node's next rank is
   *    `teleport + (dampingPct * inboundSum) DIV 100` with
   *    `teleport = ((100 - dampingPct) * (scale DIV n)) DIV 100`;
   *  - every division is integer `DIV` (truncation), so each iteration is
   *    a pure integer function of the previous one — an unrolled SQL twin
   *    reproduces the exact digits (the `host_pagerank` oracle does).
   *
   * Deliberate simplifications, both standard and both documented because
   * they change digits, not ordering quality: dangling nodes (no
   * out-edges) leak their mass instead of redistributing it, and the
   * floor in `rank DIV deg` discards at most `deg - 1` units per node per
   * round — total mass decays slightly, relative ranking is unaffected.
   * Fixed iteration count instead of a convergence test keeps the oracle
   * unrollable; 5-10 rounds is where web-graph ordering stabilizes.
   *
   * Scale: edges are deduplicated and materialized ONCE (they are
   * re-joined every round and their lineage may be an expensive
   * extraction pipeline); each round is one `src` equi-join plus one
   * `dst` aggregation — two bounded shuffles over edge-sized data, with
   * rank/degree frames only node-sized (hosts, not pages). Each round's
   * result is materialized behind a [[graft.util.Barrier]] (reliable
   * when the session sets `spark.checkpoint.dir`) so lineage stays flat
   * and an executor loss on a real cluster never replays the whole
   * iteration chain.
   *
   * Input: any DataFrame with `srcCol`/`dstCol` node columns (self-loops
   * and duplicate edges are dropped; null endpoints are dropped).
   * Output: `(id, rank)` — every node, rank in `scale` fixed-point units.
   */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 5,
      dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct must be in [0,100], got $dampingPct")
    val e = Barrier.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .distinct())
    val nodes = Barrier.checkpoint(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    // driver-side count of the node frame: one value off a host-sized table
    // (the same bounded-collect class as Bpe's vocab guard)
    val n = nodes.count()
    require(n > 0, "pageRank needs at least one edge")
    val base = scale / n
    val teleport = (100L - dampingPct) * base / 100L
    val outDeg = Barrier.checkpoint(e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))

    var ranks = nodes.withColumn("rank", lit(base))
    for (_ <- 1 to iterations) {
      val shares = ranks.join(outDeg, "id")
        .select(col("id").as("src"), expr("rank DIV deg").as("share"))
      val contrib = e.join(shares, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("share")).as("inbound"))
      ranks = Barrier.checkpoint(nodes.join(contrib, Seq("id"), "left").select(
        col("id"),
        (lit(teleport) + expr(s"($dampingPct * coalesce(inbound, 0L)) DIV 100")).as("rank")))
    }
    ranks
  }

  /**
   * HITS hubs and authorities (Kleinberg 1999, the public formulation)
   * with a FIXED iteration count in exact integer fixed-point — the
   * complement of [[pageRank]]: authorities are pages good links POINT
   * TO, hubs are pages that point to good authorities (directory/index
   * pages), the split that matters for crawl seeding where PageRank's
   * single score conflates the two roles.
   *
   * Exact-arithmetic recipe, one iteration: `auth'(v) = sum of hub(u)
   * over in-edges`, then normalize so the maximum authority is exactly
   * `scale` (`a * scale DIV max` — DECIMAL(38,0) cross-multiply, integer
   * DIV); `hub'(u) = sum of auth'(v) over out-edges`, normalized the same
   * way. The per-round max lives in a 1-row aggregated frame joined back
   * in (a broadcast, and a scalar subquery in the SQL twin) — no driver
   * round-trips, and the whole computation unrolls into CTEs that replay
   * every digit. Nodes with no in-edges (resp. out-edges) hold authority
   * (resp. hub) 0, exactly as the definition says.
   *
   * Scale: identical shape to [[pageRank]] — two edge-sized equi-join +
   * aggregation pairs per round over the once-materialized edge list,
   * node-sized score frames, per-round materialization for flat lineage.
   *
   * Output: `(id, hub, authority)` for every node, both in `scale`
   * fixed-point units (max element of each = `scale` when any edge
   * exists).
   */
  def hits(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 5,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = Barrier.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .distinct())
    val nodes = Barrier.checkpoint(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())

    // normalize a (id, v) frame so its max value is exactly `scale`.
    // The caller materializes `scored` FIRST: the 1-row max aggregate and
    // the rescale projection are then two cheap node-sized reads of the
    // checkpointed frame. Normalizing the RAW lineage instead re-ran the
    // edge join + aggregation twice per half-iteration (once under the max
    // job, once under the checkpoint) — measured at ~2x the whole query.
    def normalized(scored: DataFrame): DataFrame = {
      val m = scored.agg(max(col("v")).as("__max"))
      scored.join(broadcast(m))
        .select(col("id"),
          expr(s"CAST(CAST(v AS DECIMAL(38,0)) * $scale DIV greatest(__max, 1) AS BIGINT)")
            .as("v"))
    }

    // the loop carries only EDGE-ACTIVE scores: a node with no in-edges has
    // authority 0 and feeds no hub sum (and vice versa), so zero rows are
    // dead weight inside the iteration — they re-attach once at the end.
    // Scores start at `scale` for every edge source (the all-ones init
    // restricted to rows the first join would keep anyway).
    var hubs = Barrier.checkpoint(e.select(col("src").as("id")).distinct()
      .withColumn("v", lit(scale)))
    var auths: DataFrame = null
    // materialize the RAW sums (the join-bearing half) and leave the
    // normalize as a lazy node-sized projection over the checkpointed
    // frame: one heavy job per half-iteration, and both of the normalize's
    // consumers (the next join, the final union) replay only the cheap
    // broadcast-rescale, never the edge join
    for (_ <- 1 to iterations) {
      val authRaw = Barrier.checkpoint(
        e.join(hubs.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("v")).as("v")))
      auths = normalized(authRaw)
      val hubRaw = Barrier.checkpoint(
        e.join(auths.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("v")).as("v")))
      hubs = normalized(hubRaw)
    }
    // re-attach the zero rows with ONE union + id-keyed aggregation instead
    // of two node-sized outer joins: each id contributes at most one hub row
    // and one authority row, so the sums ARE the scores (0 where absent)
    nodes.select(col("id"), lit(0L).as("hub"), lit(0L).as("authority"))
      .union(hubs.select(col("id"), col("v").as("hub"), lit(0L).as("authority")))
      .union(auths.select(col("id"), lit(0L).as("hub"), col("v").as("authority")))
      .groupBy("id")
      .agg(sum(col("hub")).as("hub"), sum(col("authority")).as("authority"))
  }

  /**
   * Synchronous label-propagation community detection (Raghavan et al.
   * 2007) over the undirected edge view, with a FIXED iteration count and
   * a deterministic tie law — communities for topic/mirror-cluster
   * discovery where connected components (which merge everything
   * touching) are too coarse.
   *
   * Every node starts labelled with its own id; each round, every node
   * adopts the most frequent label among its neighbours, ties broken by
   * the SMALLEST label — so the result is a pure function of the graph
   * (plain async LPA is run-order-dependent; this sync+tie-law variant
   * replays in an unrolled SQL twin). Fixed rounds also mean the known
   * sync-LPA oscillation on bipartite structure is bounded and
   * reproducible rather than non-terminating.
   *
   * Scale: per round, one edge-sized equi-join (neighbour label lookup),
   * one map-side-combined (node, label) count, one node-keyed argmax via
   * `min(struct(-cnt, label))` — no windows, no all-pairs; per-round
   * materialization keeps lineage flat (a [[graft.util.Barrier]],
   * reliable on real clusters). Output: `(id, community)`.
   */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val bidir = Barrier.checkpoint(fwd.union(fwd.select(col("v"), col("u"))).distinct())
    var labels = Barrier.checkpoint(
      bidir.select(col("u").as("id")).distinct().withColumn("lbl", col("id")))
    for (_ <- 1 to iterations) {
      val counts = bidir.join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
      labels = Barrier.checkpoint(counts
        .groupBy(col("u").as("id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("__m"))
        .select(col("id"), col("__m.l").as("lbl")))
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /**
   * EXACT connected components of the undirected edge view — THE
   * clustering primitive under every pair-generating dedup tier: LSH /
   * containment / edit-distance pairs become duplicate FAMILIES by
   * running components over the pair graph (then
   * [[Dedup]]'s keep-best picks one representative per family), and the
   * same op answers "which hosts form one site cluster" on the link
   * graph. Every node's `component` is the SMALLEST node id it can
   * reach — a canonical, engine-reproducible labeling.
   *
   * Min-label propagation with POINTER JUMPING, run to FIXPOINT: each
   * round every node takes the minimum label in its closed neighborhood
   * (one edge-sized equi-join + one node-keyed min agg), then labels
   * compress through one label-keyed self-join (`lbl := lbl's lbl` —
   * label values are always node ids, monotonically non-increasing, so
   * the join is total). Compression makes convergence O(log diameter)
   * rounds, not O(diameter) — the difference between 6 rounds and 600 on
   * a chain-shaped crawl frontier. Each round materializes (a
   * [[graft.util.Barrier]], reliable under `spark.checkpoint.dir`) and
   * a driver-side changed-count probe ends the loop at the true
   * fixpoint; `maxIterations` is a defensive bound only.
   *
   * SMALL graphs skip the loop: the deduplicated undirected edge frame's
   * barrier observes its row count and id bytes (real string lengths),
   * and when both fit [[DriverMaxEdgeRows]] and [[DriverMaxIdBytes]] the
   * edges are collected once and union-find runs on the driver, keeping
   * the smallest id under Catalyst's ordering of the id type (strings
   * compare as UTF-8 bytes, as `min` does in the loop). That answer is
   * the true fixpoint — the loop's answer whenever it converges within
   * `maxIterations` — returned as a local relation. A session with
   * broadcasts off (`spark.sql.autoBroadcastJoinThreshold` ≤ 0) holds no
   * small relation on the driver, and keeps every graph on the loop.
   *
   * Scale: per round two edge/node-sized equi-joins + one
   * map-side-combined min agg — no windows, no all-pairs, frames never
   * exceed edges. Output: `(id, component)` for every non-isolated node
   * (isolated nodes never appear in an edge list; union them in as
   * their own ids if the caller carries them).
   */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIterations: Int = 50): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")

    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val undirected = fwd.union(fwd.select(col("v"), col("u"))).distinct()
    // the id payload the driver would hold: real string/binary lengths,
    // the fixed width of any other id type
    val idBytes = undirected.schema("u").dataType match {
      case _: StringType | BinaryType => sum(octet_length(col("u")) + octet_length(col("v")))
      case t => count(lit(1)) * (2L * t.defaultSize)
    }
    val (bidir, observed) = Barrier.checkpointObserved(
      undirected, count(lit(1)), coalesce(idBytes, lit(0L)))
    val broadcasts = bidir.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold > 0
    if (broadcasts && observed.getLong(0) <= DriverMaxEdgeRows &&
        observed.getLong(1) <= DriverMaxIdBytes)
      return localComponents(bidir)
    // The round 16–20 measurements quoted below predate the driver path:
    // they timed the loop on graphs (battery host graph, sf1 CC
    // consumers) of which the small ones no longer reach it. No benchmark
    // or battery query times the loop today (ROADMAP item 6); GraphsSpec
    // checks it by forcing it with broadcasts off.
    var labels = Barrier.checkpoint(
      bidir.select(col("u").as("id")).distinct().withColumn("lbl", col("id")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIterations) {
      // closed-neighborhood min; the PRE-round label rides along as __old
      // so convergence is decided on the materialized frame itself — no
      // per-round probe join back to the previous labels.
      // Round 20 TRIED folding this agg + join into ONE union'd
      // aggregation (self rows riding the neighbor union with a flag;
      // min = closed min, max(when(self)) = __old): results identical and
      // ~4 fewer jobs/query at sf0.1, but at sf1 the union form measured
      // +20-45% summed task time on all four CC consumers (9.3→11.5,
      // 7.0→8.8, 6.3→9.3, 5.5→6.8 task-s) with neutral wall — the label
      // rows that this join BROADCASTS get shuffled through the union's
      // exchange instead, and the partial agg doubles its functions.
      // Reverted on that measurement; this shape stands.
      val nbrMin = bidir.join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id")).agg(min(col("lbl")).as("__nl"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("__old"),
          least(col("lbl"), coalesce(col("__nl"), col("lbl"))).as("lbl"))
      // ONE pointer jump: compress lbl to its label's label (labels are
      // node ids and monotonically non-increasing, so the hop is a total,
      // valid relabeling and the fixpoint is unchanged) — this is what
      // makes convergence O(log diameter). A SECOND hop per round was
      // tried (round 16) and measured OUT (round 17): on the battery host
      // graph it saves ZERO rounds (7 = 7 with either form — realistic
      // web/dedup graphs are small-diameter, so the propagation step, not
      // compression, gates the round count) while paying two extra
      // label-keyed joins per round (~+29% wall-clock); only on a
      // pathological 200-node chain did it cut rounds 8 -> 5, and the
      // single hop already closes that chain in 8 ≪ 199 rounds.
      val jumped = stepped
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("__ll")), Seq("lbl"), "left")
        .select(col("id"), coalesce(col("__ll"), col("lbl")).as("lbl"), col("__old"))
      val next = Barrier.checkpoint(jumped)
      // limit(1): the probe needs existence, not the change count — and it
      // reads the JUST-materialized frame (lbl vs the carried __old), so
      // the whole round costs exactly one join-bearing job plus this
      // node-sized filter scan
      changed = next.where(col("lbl") =!= col("__old")).limit(1).count()
      labels = next.drop("__old")
      it += 1
    }
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Largest deduplicated undirected edge frame (rows, both directions
    * counted) [[connectedComponents]] solves on the driver. Measured on
    * sparse random graphs (local[4], 4 vCPU; Long ids and ~40-byte URL
    * ids), driver union-find against the loop: 16k rows 0.22 vs 3.6 s,
    * 64k rows 0.37–0.60 vs 5.9–10.9 s, 256k rows 1.4–2.7 vs 26 s. The
    * limit sits inside that measured range, not at a crossover. */
  private[ops] val DriverMaxEdgeRows: Long = 1L << 17

  /** Largest id payload (both endpoints over those rows, in bytes) the
    * driver path collects — the bound on driver memory for long string
    * ids, since each id is held a few times over (external value,
    * Catalyst value, output row). 8 MB is ~100k rows of ~40-byte URLs. */
  private[ops] val DriverMaxIdBytes: Long = 8L << 20

  /** [[connectedComponents]] of a materialized, deduplicated undirected
    * edge frame `(u, v)` (both directions present, no nulls) by driver
    * union-find: nodes are sorted by Catalyst's ordering of their type,
    * so a node's index order IS its id order and every root, always the
    * smaller index, is its component's smallest id. */
  private def localComponents(bidir: DataFrame): DataFrame = {
    val idType = bidir.schema("u").dataType
    val ordering = TypeUtils.getInterpretedOrdering(idType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    // per edge: u's external value, then u and v as Catalyst values
    val edges = bidir.collect().map(r => (r.get(0), toCatalyst(r.get(0)), toCatalyst(r.get(1))))
    // every node is some edge's `u`: the nodes are the runs of equal `u`
    // in ordering order
    val byU = edges.sortWith((a, b) => ordering.lt(a._2, b._2))
    val nodes = byU.indices
      .collect { case i if i == 0 || ordering.compare(byU(i - 1)._2, byU(i)._2) != 0 => byU(i) }
    val keys = nodes.map(_._2.asInstanceOf[AnyRef]).toArray
    def index(v: Any): Int = java.util.Arrays.binarySearch(keys, v.asInstanceOf[AnyRef], ordering)
    val parent = Array.tabulate(nodes.length)(identity)
    def root(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (_, u, v) =>
      val (a, b) = (root(index(u)), root(index(v)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val rows = nodes.indices.map(i => Row(nodes(i)._1, nodes(root(i))._1))
    bidir.sparkSession.createDataFrame(rows.asJava,
      bidir.select(col("u").as("id"), col("u").as("component")).schema)
  }

  /**
   * Exact per-node triangle counts + local clustering coefficient over the
   * UNDIRECTED view of an edge list — the community-density signal next to
   * [[degreeStats]]: link farms show high degree with near-zero triangle
   * density, organic topic clusters the opposite.
   *
   * Degree-ordered counting (the standard O(m^1.5) exact recipe): orient
   * every undirected edge from its lower-(degree, id) endpoint to the
   * higher one — the orientation is acyclic and bounds every node's
   * out-degree by O(sqrt(m)), so the wedge self-join (the only expansion
   * in the plan) generates `sum(outdeg^2)` = O(m^1.5) candidate rows no
   * matter how skewed the raw degree distribution is. A hub with a million
   * undirected neighbours contributes NO wedges of its own: all its edges
   * point INTO it. Each triangle materializes exactly once (its three
   * nodes are totally ordered), then a posexplode fans the count back to
   * all three corners.
   *
   * Plan: degree agg + two edge-sized joins (orientation rank attach) +
   * ONE wedge self-join on the oriented source + one closing equi-join on
   * the candidate (lo, hi) pair + a node-keyed count — every join an
   * equi-join on hash-partitionable keys, never all-pairs.
   *
   * Output: `(id, degree, triangles, lcc_ppm)` with
   * `lcc_ppm = 2 * triangles * 1e6 DIV (degree * (degree - 1))` (0 for
   * degree < 2) — exact integer parts-per-million, engine-reproducible.
   */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // undirected distinct edge set as canonical (lo, hi) pairs; materialized
    // because deg + orientation both read it (same once-built-edges rule as
    // pageRank/hits — without the barrier each consumer re-runs the dedup)
    val und = Barrier.checkpoint(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .distinct())
    val deg = und.select(col("lo").as("id")).union(und.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    // orient by (degree, id): out-degree bounded by O(sqrt(m)); materialized
    // because the wedge join reads it twice and the closing join a third time
    val oriented = Barrier.checkpoint(und
      .join(deg.select(col("id").as("lo"), col("degree").as("dlo")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("degree").as("dhi")), Seq("hi"))
      .select(
        when(col("dlo") < col("dhi") ||
             (col("dlo") === col("dhi") && col("lo") < col("hi")), col("lo"))
          .otherwise(col("hi")).as("u"),
        when(col("dlo") < col("dhi") ||
             (col("dlo") === col("dhi") && col("lo") < col("hi")), col("hi"))
          .otherwise(col("lo")).as("v")))
    // wedges (u; v, w) with v before w in orientation order close into a
    // triangle iff the oriented edge v -> w exists. Ordering the pair by
    // plain (id) works because the closing edge is looked up in BOTH
    // canonical positions via the (lo, hi) canonical form below.
    val w1 = oriented.select(col("u"), col("v").as("x"))
    val w2 = oriented.select(col("u"), col("v").as("y"))
    val wedges = w1.join(w2, Seq("u")).where(col("x") < col("y"))
    val closing = oriented.select(
      least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y"))
    val tris = wedges.join(closing, Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val perNode = tris
      .select(posexplode(array(col("u"), col("x"), col("y"))).as(Seq("__p", "id")))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc_ppm",
        when(col("degree") < 2, lit(0L)).otherwise(
          expr("CAST(2 * triangles * 1000000 DIV (degree * (degree - 1)) AS BIGINT)")))
  }

  /**
   * Fixed-round k-core peeling over the undirected edge view: repeatedly
   * remove nodes whose CURRENT degree (within the surviving subgraph) is
   * below `k` — the standard dense-subgraph extractor (a high-k core is a
   * tightly knit cluster; spam rings and genuine topic hubs both surface
   * here, which is why it pairs with [[triangleCounts]]' clustering
   * coefficient for telling them apart).
   *
   * `rounds` bounds the peel cascade instead of a driver-side
   * convergence loop — the same oracle-replayable fixed-iteration law as
   * [[pageRank]]/[[hits]]/[[labelPropagation]]; a cascade deeper than
   * `rounds` leaves some sub-k nodes unpeeled (documented, and a larger
   * `rounds` only removes more). Each round is two alive-set semi-joins
   * (edge-sized) + one degree agg (node-sized), all hash-partitionable;
   * rounds materialize for flat lineage.
   *
   * Output: `(id, degree)` for surviving nodes — degree measured INSIDE
   * the surviving subgraph after the last round.
   */
  def kCore(
      edges: DataFrame,
      k: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = Barrier.checkpoint(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .distinct())
    def degrees(e: DataFrame): DataFrame =
      e.select(col("lo").as("id")).union(e.select(col("hi").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
    var alive = Barrier.checkpoint(degrees(und).where(col("degree") >= k).select("id"))
    for (_ <- 2 to rounds) {
      val sub = und
        .join(alive.withColumnRenamed("id", "lo"), Seq("lo"), "left_semi")
        .join(alive.withColumnRenamed("id", "hi"), Seq("hi"), "left_semi")
      alive = Barrier.checkpoint(degrees(sub).where(col("degree") >= k).select("id"))
    }
    val finalSub = und
      .join(alive.withColumnRenamed("id", "lo"), Seq("lo"), "left_semi")
      .join(alive.withColumnRenamed("id", "hi"), Seq("hi"), "left_semi")
    degrees(finalSub)
      .join(alive, Seq("id"), "left_semi")
  }

  /**
   * Bounded-depth BFS distances from a seed set over the DIRECTED edge
   * list: every node reachable within `maxDepth` hops gets its exact
   * shortest-path hop count — reach/diffusion analysis ("what does this
   * hub feed within 3 clicks"), crawl-frontier budgeting, and the
   * distance feature link-spam classifiers use.
   *
   * Per round one frontier-edge equi-join + one min agg, both
   * edge/node-sized and hash-partitionable; `maxDepth` rounds replay as
   * unrolled CTEs (exact min is associative, so the oracle's
   * round-by-round min matches regardless of partitioning). Nodes not
   * reached within `maxDepth` are absent from the output — at web scale
   * that's almost everything, so the result stays reach-sized, not
   * graph-sized.
   *
   * Output: `(id, dist)` with `dist = 0` for the seeds themselves.
   */
  def bfsDistances(
      edges: DataFrame,
      sources: Seq[String],
      srcCol: String = "src",
      dstCol: String = "dst",
      maxDepth: Int = 4): DataFrame = {
    require(sources.nonEmpty, "need at least one source node")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Barrier.checkpoint(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct())
    var dist = Barrier.checkpoint(sources.distinct.toDF("id").withColumn("dist", lit(0L)))
    for (_ <- 1 to maxDepth) {
      val step = e.join(dist.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("dist") + 1L).as("dist"))
      dist = Barrier.checkpoint(dist.union(step).groupBy("id").agg(min(col("dist")).as("dist")))
    }
    dist
  }

  /**
   * Per-node degree profile of a directed edge list: out-degree,
   * in-degree, and the count of RECIPROCATED out-edges (u→v with v→u —
   * high reciprocity separates social/link-exchange structure from
   * editorial linking). Edges dedup first; two degree aggs + one
   * self-equi-join on the reversed pair, all hash-partitionable.
   */
  def degreeStats(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct()
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    val recip = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("reciprocal"))
    out.join(in, Seq("id"), "full")
      .join(recip, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("reciprocal"), lit(0L)).as("reciprocal"))
  }

  /**
   * Exact link-prediction scores for non-adjacent node pairs over the
   * UNDIRECTED view of an edge list — the classic neighborhood heuristics
   * (Liben-Nowell & Kleinberg 2003, the public formulation): which hosts
   * SHOULD be linking but aren't (crawl-frontier candidates, related-domain
   * suggestions, missing-citation screens)?
   *
   * Per candidate pair `(u, v)` with `u < v`, no existing edge, and at
   * least one common neighbor:
   *  - `cn` — common-neighbor count `|N(u) ∩ N(v)|`;
   *  - `jaccard_ppm` — `cn * 1e6 DIV (deg_u + deg_v − cn)` (truncated —
   *    exact integer, engine-reproducible);
   *  - `pa` — preferential attachment `deg_u * deg_v`.
   *
   * `maxCenterDegree`: wedge enumeration is quadratic in the CENTER node's
   * degree (a hub with a million neighbors implies ~5e11 candidate pairs),
   * and a super-hub is also the weakest evidence — being co-linked from a
   * portal front page says nothing, the same reason Adamic–Adar divides by
   * log(deg). Centers above the cap contribute NO wedges (their edges
   * still count toward `deg` and `jaccard`'s denominator); the cap is part
   * of the operator's definition, so the oracle replays it digit-for-digit.
   * Wedge volume is then ≤ cap · |E| — linear in edges at any skew.
   *
   * Plan: edge dedup (materialized once — degree agg and wedge join both
   * read it) + node-degree agg + ONE adjacency self-join on the capped
   * center + pair-count agg + an anti-join removing existing edges + two
   * broadcast-eligible degree attaches. Every join is an equi-join on
   * hash-partitionable keys; the only expansion is the capped wedge join.
   */
  def linkPrediction(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxCenterDegree: Int = 1000): DataFrame = {
    require(maxCenterDegree >= 2, s"maxCenterDegree must be >= 2, got $maxCenterDegree")
    val und = Barrier.checkpoint(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
      .distinct())
    val adj = und.select(col("lo").as("ctr"), col("hi").as("nbr"))
      .union(und.select(col("hi").as("ctr"), col("lo").as("nbr")))
    val deg = adj.groupBy(col("ctr").as("id")).agg(count(lit(1)).as("degree"))
    val centers = adj.join(
      deg.where(col("degree") <= maxCenterDegree).select(col("id").as("ctr")), Seq("ctr"))
    val w1 = centers.select(col("ctr"), col("nbr").as("u"))
    val w2 = centers.select(col("ctr"), col("nbr").as("v"))
    val cn = w1.join(w2, Seq("ctr")).where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    cn.join(und, cn("u") === und("lo") && cn("v") === und("hi"), "left_anti")
      .join(deg.select(col("id").as("u"), col("degree").as("deg_u")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("degree").as("deg_v")), Seq("v"))
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        expr("CAST(cn * 1000000 DIV (deg_u + deg_v - cn) AS BIGINT)").as("jaccard_ppm"),
        (col("deg_u") * col("deg_v")).as("pa"))
  }
}
