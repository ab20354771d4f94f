package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** Iterative graph analytics over relational edge sets.
  *
  * Companion to Dedup.d8Components (min-label propagation): the same
  * Pregel-on-DataFrames shape — persisted edge frame, one
  * co-partitioned join + one aggregation per superstep,
  * `localCheckpoint` to truncate lineage — but with weighted numeric
  * messages instead of min-labels.
  *
  * All arithmetic is FIXED-POINT (BIGINT units of 1e-9, integer `div`),
  * so every superstep is exact integer math: no floating-point
  * summation order exists, and the DuckDB oracle replays the identical
  * computation bit-for-bit — the zorder/q37 integer-replay trick
  * applied to an iterative algorithm.
  */
object Graph {

  /** PageRank supersteps. Fixed (not to-convergence) so the oracle can
    * replay them as chained CTEs. */
  val prIters = 3
  /** Initial mass per node: 1.0 in 1e-9 units. */
  val prOne = 1000000000L
  /** Damping 0.85 as integer per-cent (applied as `(85*x) div 100`). */
  val prDampPct = 85L

  /** Session-scoped cache of the two edge frames, keyed like
    * [[Dedup.sharedSigs]]: the graph family (g1/g4 on copurchase,
    * g2/g3 on strong edges) shares one materialized build per
    * (session, dir) instead of re-deriving the self-join + distinct
    * per query — a session-scoped materialized view over immutable
    * fixture data. Stopped-session entries evict first (same
    * identityHashCode argument as the signature cache). */
  private val edgeCache =
    graft.SessionCaches.valueCache[(String, String), DataFrame](Seq(_))
  private def cachedEdges(spark: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    edgeCache.getOrElseUpdate(spark, (dir, kind))(
      build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Session-scoped cache of the hop-reach census (u, c1..c[[khopMax]])
    * over the strong-affinity graph — the [[edgeCache]] discipline one
    * level up: g12 (k-hop census), g14 (distance distribution) and g16
    * (harmonic centrality) are three READOUTS of the SAME HyperBall
    * register fold over the same immutable fixture graph, so the
    * superstep loop (the expensive part: [[khopMax]] join+fold rounds
    * with per-round localCheckpoints) runs once per (session, dir)
    * instead of once per query. `counts` is None for an edgeless
    * support-pruned graph (each readout degrades to its zero shape,
    * exactly as before); `wide` records the register mode so g12's
    * raw-estimate HLL readout — which is NOT derivable from the
    * monotone-clamped counts — can keep its own path. */
  private case class Reach(counts: Option[DataFrame], wide: Boolean)
  private val reachCache =
    graft.SessionCaches.valueCache[String, Reach](_.counts.toSeq)
  private def cachedReach(spark: SparkSession, dir: String): Reach =
    reachCache.getOrElseUpdate(spark, dir) {
      import spark.implicits._
      val und = strongEdges(spark, dir)
      val sym = und.select($"src".as("u"), $"dst".as("v"))
        .unionAll(und.select($"dst".as("u"), $"src".as("v")))
        .localCheckpoint()
      val maxKeyOpt = Option(sym.agg(max($"v")).head().get(0))
        .map(_.asInstanceOf[Long])
      maxKeyOpt match {
        case None => Reach(None, wide = false)
        case Some(mk) =>
          val wide = useWideRegisters(mk)
          Reach(Some(monotoneReachCounts(sym, mk, wide)
            .persist(StorageLevel.MEMORY_AND_DISK)), wide)
      }
    }

  /** Undirected co-purchase edges: two parts are linked iff some order
    * contains both. The self-join on o_orderkey explodes each order
    * into its line-item pairs — bounded by order width (≤ 7 lines in
    * TPC-H-shaped data), so the blow-up is a constant factor, never
    * quadratic in the table. Degree is precomputed onto the edge so
    * the per-superstep join is a single equi-join. */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    cachedEdges(spark, dir, "copurchase") {
      import spark.implicits._
      val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
      val e = li.as("a").join(li.as("b"), Seq("l_orderkey"))
        .filter($"a.l_partkey" =!= $"b.l_partkey")
        .select($"a.l_partkey".as("src"), $"b.l_partkey".as("dst"))
        .distinct()
      val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
      e.join(deg, "src")
    }

  /** D47: fixed-point PageRank over the co-purchase graph — "which
    * parts sit at the center of basket co-occurrence". Each superstep
    * sends floor(score/deg) along every edge and folds the damped sum:
    *
    *   score'(v) = 0.15·ONE + (85 · Σ_{u→v} (score(u) div deg(u))) div 100
    *
    * Two shuffles per superstep (join on src is co-partitioned with
    * the persisted edge frame; the aggregation shuffles on dst), and
    * messages are (dst, long) pairs — never wider. `localCheckpoint`
    * truncates the per-round lineage growth exactly as d8 documents.
    * Top-20 by score is TakeOrdered, not a global sort. */
  def g1Pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pagerank(copurchaseEdges(spark, dir), prIters)
      .orderBy($"s".desc, $"pk")
      .limit(20)
      .select($"pk".as("part_key"), $"s".as("score"))
  }

  /** Core fixed-point loop over any (src, dst, deg) edge frame;
    * returns (pk, s) final scores, already materialized (the input
    * edge cache is released before returning). */
  def pagerank(edgeFrame: DataFrame, iters: Int): DataFrame = {
    import edgeFrame.sparkSession.implicits._
    // cache hash-partitioned AND sorted on the join key: every
    // superstep's sort-merge join then reuses the cached layout — no
    // exchange and no re-sort of the (large) edge side, only the
    // (vertex-sized) score frame moves per round
    val edges = edgeFrame.repartition($"src").sortWithinPartitions($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    var scores = edges.select($"src".as("pk")).distinct()
      .withColumn("s", lit(prOne))
    // Round-16 (guide §1.2): scores appears ONCE per superstep, so the
    // lineage grows LINEARLY — no per-step localCheckpoint needed (that
    // discipline is for loops whose state feeds a step twice). All
    // supersteps chain into one plan; the single final checkpoint
    // materializes it, saving iters−1 driver round-trips.
    for (_ <- 1 to iters) {
      scores = edges.join(scores, edges("src") === scores("pk"))
        .select($"dst", expr("s div deg").as("c"))
        .groupBy($"dst")
        .agg(sum($"c").as("m"))
        .select($"dst".as("pk"),
          (lit(prOne * 15L / 100L) + expr(s"($prDampPct * m) div 100")).as("s"))
    }
    scores = scores.localCheckpoint()
    edges.unpersist()
    scores
  }

  /** Minimum co-purchase support for an edge to count as an affinity
    * (g2). The raw basket graph is a union of per-order cliques —
    * quadratically many one-off edges that no affinity analysis keeps;
    * support thresholding is the standard market-basket prune (the
    * a-priori first pass), and it is what makes exact triangle
    * counting tractable: the un-pruned fixture graph has ~670× more
    * edges and wedge fan-out in the tens of millions. */
  val triMinSupport = 2L

  /** Affinity edges: part pairs co-purchased in ≥ [[triMinSupport]]
    * DISTINCT orders, canonical src < dst. The support count is one
    * partial-aggregated shuffle over (order, src, dst)-deduped pairs —
    * the same bounded per-order explode as [[copurchaseEdges]]. */
  def strongEdges(spark: SparkSession, dir: String): DataFrame =
    cachedEdges(spark, dir, "strong") {
      strongEdgesBuild(spark, dir)
    }

  private def strongEdgesBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
    li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .filter($"a.l_partkey" < $"b.l_partkey")
      .select($"l_orderkey", $"a.l_partkey".as("src"), $"b.l_partkey".as("dst"))
      .distinct() // one vote per order
      .groupBy($"src", $"dst").agg(count(lit(1)).as("support"))
      .filter($"support" >= triMinSupport)
      .select($"src", $"dst")
  }

  /** D48: exact triangle counting per node over the strong co-purchase
    * affinity graph — "which parts sit in clustered buying patterns".
    *
    * Scale shape: the classic degree-ordered orientation. Each
    * undirected edge is directed from its (degree, id)-smaller endpoint
    * to the larger, which bounds every out-degree by O(√m); the wedge
    * self-join on the source vertex therefore fans out at most
    * outdeg² ≤ O(m) rows TOTAL instead of Σ deg² (which a hub vertex
    * makes quadratic), and the closure check is a semi-join back on the
    * oriented edge set — three equi-joins, no pairwise blow-up anywhere.
    * Each triangle {x,y,z} closes exactly one oriented wedge, so counts
    * are exact without de-duplication. The oriented edge list is
    * `localCheckpoint`ed because the plan consumes it three times. */
  def g2Triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    triangleCounts(strongEdges(spark, dir))
      .orderBy($"n_triangles".desc, $"part_key")
      .limit(20)
  }

  /** Core oriented-wedge triangle count over any canonical (src < dst)
    * undirected edge frame; returns (part_key, n_triangles), one row
    * per vertex that participates in ≥ 1 triangle. */
  def triangleCounts(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    import graft.CacheScope.ScopedPersist
    // Round-16 (guide §1.2): the degree census feeds both orientation
    // joins — persisted so the second broadcast build reads the cache
    // instead of re-running the census (the edgeJaccard fix).
    val deg = und.select($"src".as("vx")).unionAll(und.select($"dst".as("vx")))
      .groupBy($"vx").agg(count(lit(1)).as("dg"))
      .scopedPersist()
    val withDeg = und
      .join(deg.select($"vx".as("src"), $"dg".as("ds")), "src")
      .join(deg.select($"vx".as("dst"), $"dg".as("dd")), "dst")
    // orient low (degree, id) → high: out-degrees are O(√m)-bounded
    val ori = withDeg.select(
        when($"ds" < $"dd" || ($"ds" === $"dd" && $"src" < $"dst"),
          struct($"src".as("u"), $"dst".as("v")))
          .otherwise(struct($"dst".as("u"), $"src".as("v"))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
      .localCheckpoint() // consumed 3× below; truncate + materialize once
    val wedge = ori.as("a").join(ori.as("b"),
        $"a.u" === $"b.u" && $"a.v" =!= $"b.v")
      .select($"a.u".as("x"), $"a.v".as("y"), $"b.v".as("z"))
    // only the ≺-ordered wedge of a triangle finds its closing edge,
    // so each triangle survives exactly once
    val tri = wedge.join(ori.as("c"),
      $"y" === $"c.u" && $"z" === $"c.v", "left_semi")
    tri.select(explode(array($"x", $"y", $"z")).as("part_key"))
      .groupBy($"part_key").agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core threshold (g3): keep vertices with ≥ k surviving neighbors. */
  val coreK = 3L
  /** Fixed peel supersteps — like [[prIters]], fixed (not to-convergence)
    * so the oracle replays them as chained CTEs. 12 reaches fixpoint on
    * the sf0.01 fixture (11 rounds); at any sf the operator is defined
    * as "12 peel rounds", identical on both engines. */
  val coreIters = 12

  /** D83: k-core decomposition (fixed-round peel) over the strong
    * co-purchase affinity graph — "which parts sit in a mutually-dense
    * buying cluster", the standard graph-density filter (cohesive
    * subgraph mining; also the usual prune before community detection).
    * Each round drops vertices with < [[coreK]] surviving neighbors and
    * their incident edges; membership stabilizes at the k-core.
    *
    * Scale shape: per round one partial-aggregated degree groupBy
    * (vertex-sized output) and two semi-joins of the edge frame against
    * the alive set — no pairwise blow-up, messages are (vertex, long).
    * `localCheckpoint` per round truncates the iterative lineage
    * exactly as [[pagerank]] documents. Edges only ever shrink, so
    * round cost is monotonically non-increasing. */
  def g3Kcore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    kcore(strongEdges(spark, dir), coreK, coreIters)
      .select($"src".as("part_key"), $"core_deg")
      .orderBy($"part_key")
  }

  /** Core fixed-round peel over any canonical (src < dst) undirected
    * edge frame; returns (src, core_deg) for surviving vertices. */
  def kcore(und: DataFrame, k: Long, iters: Int): DataFrame = {
    import und.sparkSession.implicits._
    var e = und.select($"src", $"dst")
      .unionAll(und.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val alive = e.groupBy($"src").agg(count(lit(1)).as("dg"))
        .filter($"dg" >= k).select($"src".as("vx"))
      e = e.join(alive.select($"vx".as("src")), Seq("src"), "left_semi")
        .join(alive.select($"vx".as("dst")), Seq("dst"), "left_semi")
        .select($"src", $"dst")
        .localCheckpoint()
    }
    e.groupBy($"src").agg(count(lit(1)).as("core_deg"))
  }

  /** Label-propagation supersteps. Fixed (not to-convergence) so the
    * oracle can replay them as chained CTEs — the g1/g3 convention. */
  val lpIters = 3
  /** Seed stride: parts whose key ≡ 0 (mod this) keep their brand. */
  val lpSeedMod = 4L

  /** D108: seeded label propagation over the co-purchase graph —
    * brand labels spread from a 1-in-[[lpSeedMod]] seed set to
    * unlabeled parts, each superstep labeling a node with the
    * MAJORITY label among its already-labeled neighbors (ties break
    * on label text). Seed-frozen: once labeled, a node never changes
    * — so each superstep is a deterministic BFS-like frontier
    * expansion and the whole run is exactly replayable (no
    * oscillation, no update-order sensitivity — the classic async-LPA
    * nondeterminism is designed out).
    *
    * Scale shape: per superstep, ONE equi-join of the persisted edge
    * frame against the current label frame (co-partitioned on src) +
    * one partial-aggregated (node, label) count; the argmax window
    * partitions by node over ≤ |labels-per-node| rows.
    * `localCheckpoint` truncates lineage per round (d8/g1). */
  def g4LabelProp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lpLabels(spark, dir)
      .select($"node".as("p_partkey"), $"label", $"step")
      .orderBy($"p_partkey")
  }

  /** Session-cached g4 label frame (node, label, step) — shared by g4
    * and g8 exactly like the edge cache, so the 12 supersteps run once
    * per (session, dir). */
  private def lpLabels(spark: SparkSession, dir: String): DataFrame =
    cachedEdges(spark, dir, "lplabels") {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      // projection of the session-cached edge frame — no extra persist
      val edges = copurchaseEdges(spark, dir).select($"src", $"dst")
      var labels = Tables.part(spark, dir)
        .filter($"p_partkey" % lpSeedMod === 0L)
        .select($"p_partkey".as("node"), $"p_brand".as("label"),
          lit(0).as("step"))
        .localCheckpoint()
      for (i <- 1 to lpIters) {
        val msgs = edges
          .join(labels.select($"node".as("src"), $"label"), "src")
          .select($"dst".as("node"), $"label")
          .join(labels.select($"node"), Seq("node"), "left_anti")
          .groupBy($"node", $"label").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy($"node").orderBy($"c".desc, $"label")
        val newly = msgs.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"node", $"label", lit(i).as("step"))
        labels = labels.unionByName(newly).localCheckpoint()
      }
      labels
    }

  /** Number of seed nodes for g5 (top-degree, ties by part key). */
  val pprSeedK = 3

  /** D126: personalized PageRank from the [[pprSeedK]] highest-degree
    * parts — "what is near the catalog's hubs", the seeded-relevance
    * variant of g1 (recommendation candidates around an anchor set,
    * per Haveliwala's topic-sensitive PageRank). Same fixed-point
    * integer discipline as g1 (BIGINT 1e-9 units, integer div — no
    * float summation order at any partitioning), but the restart mass
    * goes ONLY to the seeds:
    *
    *   score'(v) = [v ∈ seeds]·0.15·ONE + (85 · Σ_{u→v} score(u) div deg(u)) div 100
    *
    * and scores START at the seeds, so the frame holds only REACHED
    * nodes — it grows with the seed neighborhood, not the graph
    * (frontier-sized state, the d8 argument inverted).
    *
    * Per superstep: one co-partitioned edges⋈scores equi-join + one
    * partial-aggregated (dst, msg) shuffle + a seed-sized unionAll;
    * `localCheckpoint` truncates lineage (g1 discipline). Seeds are
    * deterministic: (deg DESC, pk) — the same total order both
    * engines replay. */
  def g5Ppr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edgeFrame = copurchaseEdges(spark, dir)
    val edges = edgeFrame.repartition($"src").sortWithinPartitions($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = edges.select($"src", $"deg").distinct()
      .orderBy($"deg".desc, $"src").limit(pprSeedK)
      .select($"src".as("pk"))
    val restart = seeds.withColumn("s", lit(prOne * 15L / 100L))
    var scores = seeds.withColumn("s", lit(prOne))
    // Round-16 (guide §1.2): linear lineage (scores feeds each step
    // once) — chain every superstep into one plan and checkpoint once,
    // the same batching as [[pagerank]].
    for (_ <- 1 to prIters) {
      val msgs = edges.join(scores, edges("src") === scores("pk"))
        .select($"dst", expr("s div deg").as("c"))
        .groupBy($"dst")
        .agg(sum($"c").as("m"))
        .select($"dst".as("pk"), expr(s"($prDampPct * m) div 100").as("s"))
      scores = msgs.unionByName(restart)
        .groupBy($"pk").agg(sum($"s").as("s"))
    }
    scores = scores.localCheckpoint()
    edges.unpersist()
    scores.orderBy($"s".desc, $"pk").limit(20)
      .select($"pk".as("part_key"), $"s".as("score"))
  }

  // ---------------------------------------------------------------- g6

  /** g6 wedge-center degree cap: hubs above this degree are skipped as
    * wedge centers. Wedge fan-out is Σ deg(y)², which a power-law hub
    * makes quadratic; capping bounds it at cap·m while each skipped
    * center could have contributed at most 10⁶/cap ≈ 7.8k micro-units
    * per pair — the standard truncation for RA/Adamic-Adar at scale.
    * Deterministic and replayed by the oracle. */
  val raDegCap = 128L
  /** g6 leaderboard depth. */
  val raTopK = 50

  /** D140: link prediction over the strong co-purchase graph — for
    * part pairs NOT currently linked, the common-neighbor count and
    * the Resource-Allocation index (Zhou–Lü–Zhang 2009: Σ_y 1/deg(y)
    * over common neighbors y), the standard "which products will be
    * bought together next" candidate generator.
    *
    * Exactness: RA is kept in integer MICRO-units — each common
    * neighbor contributes floor(10⁶ / deg(y)) — so the score is an
    * exact integer sum with no float summation order anywhere (the s8
    * fixed-point discipline; 1/deg terms, unlike Adamic–Adar's
    * 1/ln deg, need no transcendental).
    *
    * Scale shape: wedge enumeration through each center y — one
    * self-equi-join of the capped adjacency list (see [[raDegCap]]),
    * candidate pairs anti-joined against the edge set (semi-join
    * shape, no pairwise scan), then one partial-aggregated rollup per
    * pair. Top-[[raTopK]] is a TakeOrdered, not a global sort; the
    * total order (ra, cn, pair) is deterministic. */
  def g6LinkPredict(spark: SparkSession, dir: String): DataFrame =
    linkPredict(strongEdges(spark, dir))

  /** Core RA/common-neighbor scorer over any canonical (src < dst)
    * undirected edge frame. */
  def linkPredict(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val adj = und.select($"src".as("y"), $"dst".as("n"))
      .unionAll(und.select($"dst".as("y"), $"src".as("n")))
    val deg = adj.groupBy($"y").agg(count(lit(1)).as("dg"))
    val adjC = adj.join(deg, "y").filter($"dg" <= raDegCap)
      .localCheckpoint() // consumed twice by the wedge self-join
    val wedges = adjC.as("a").join(adjC.as("b"),
        $"a.y" === $"b.y" && $"a.n" < $"b.n")
      .select($"a.n".as("pa"), $"b.n".as("pb"), $"a.dg".as("dgy"))
    val nonEdge = wedges.join(und,
      wedges("pa") === und("src") && wedges("pb") === und("dst"), "left_anti")
    nonEdge.groupBy($"pa", $"pb")
      .agg(count(lit(1)).as("cn"), sum(expr("1000000 div dgy")).as("ra_micro"))
      .orderBy($"ra_micro".desc, $"cn".desc, $"pa", $"pb")
      .limit(raTopK)
      .select($"pa".as("part_a"), $"pb".as("part_b"), $"cn", $"ra_micro")
  }

  /** g7 leaderboard depth. */
  val ejTopK = 20

  /** D157: edge-neighborhood Jaccard — for each EXISTING strong edge,
    * |N(u)∩N(v)| / |N(u)∪N(v)| over the endpoint neighborhoods
    * (excluding u, v themselves): the tie-strength / embeddedness
    * score (Granovetter; also the Jarvis–Patrick clustering
    * similarity). g6 scores absent edges for prediction; g7 scores
    * present ones for strength.
    *
    * Exactness: common-neighbor counts come from exact per-edge
    * triangle counting; J = cn / (du + dv − 2 − cn) is a ratio of
    * integers, one division (the denominator is ≥ cn ≥ 1 on every
    * emitted row). Top-[[ejTopK]] is a TakeOrdered with total
    * (J, u, v) order.
    *
    * Scale shape: the g2 degree-ordered wedge machinery — each
    * triangle closes exactly one oriented wedge, and exploding its 3
    * canonical edges + a partial-aggregated rollup yields per-edge
    * common-neighbor counts with O(√m)-bounded wedge fan-out; two
    * broadcast-size degree joins finish the score. */
  def g7EdgeJaccard(spark: SparkSession, dir: String): DataFrame =
    edgeJaccard(strongEdges(spark, dir))

  /** Core per-edge Jaccard over any canonical (src < dst) undirected
    * edge frame. */
  def edgeJaccard(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    import graft.CacheScope.ScopedPersist
    // Round-16 (guide §1.2): the vertex degree census feeds FOUR joins
    // (both orientation sides + both readout sides) — without the
    // scoped persist each broadcast build re-ran the union+groupBy
    // census from the edge frame. Vertex-sized; drains per query.
    val deg = und.select($"src".as("vx")).unionAll(und.select($"dst".as("vx")))
      .groupBy($"vx").agg(count(lit(1)).as("dg"))
      .scopedPersist()
    val withDeg = und
      .join(deg.select($"vx".as("src"), $"dg".as("ds")), "src")
      .join(deg.select($"vx".as("dst"), $"dg".as("dd")), "dst")
    val ori = withDeg.select(
        when($"ds" < $"dd" || ($"ds" === $"dd" && $"src" < $"dst"),
          struct($"src".as("u"), $"dst".as("v")))
          .otherwise(struct($"dst".as("u"), $"src".as("v"))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
      .localCheckpoint() // consumed 3× (wedge sides + closure)
    val wedge = ori.as("a").join(ori.as("b"),
        $"a.u" === $"b.u" && $"a.v" =!= $"b.v")
      .select($"a.u".as("x"), $"a.v".as("y"), $"b.v".as("z"))
    val tri = wedge.join(ori.as("c"),
      $"y" === $"c.u" && $"z" === $"c.v", "left_semi")
    val cn = tri.select(explode(array(
        struct(least($"x", $"y").as("s"), greatest($"x", $"y").as("t")),
        struct(least($"x", $"z").as("s"), greatest($"x", $"z").as("t")),
        struct(least($"y", $"z").as("s"), greatest($"y", $"z").as("t"))))
        .as("e"))
      .select($"e.s".as("src"), $"e.t".as("dst"))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("n_common"))
    und.join(cn, Seq("src", "dst"))
      .join(deg.select($"vx".as("src"), $"dg".as("du")), "src")
      .join(deg.select($"vx".as("dst"), $"dg".as("dv")), "dst")
      .select($"src".as("part_a"), $"dst".as("part_b"), $"n_common",
        round(expr("""CAST(n_common AS DOUBLE) /
            CAST(du + dv - 2 - n_common AS DOUBLE)"""), 4).as("jaccard"))
      .orderBy($"jaccard".desc, $"part_a", $"part_b")
      .limit(ejTopK)
  }

  /** D161: modularity of the g4 label-propagation communities over the
    * undirected co-purchase graph — the one-number "did the clustering
    * find real structure" audit (Newman–Girvan Q; > 0.3 is the usual
    * "meaningful community" bar). Unlabeled nodes count as singleton
    * communities (zero internal edges, degree term only), so Q scores
    * the WHOLE partition g4 actually produced.
    *
    * Exactness: Q = W/m − D₂/(4m²) where W = within-community edge
    * count, D₂ = Σ_c (Σ_{v∈c} deg v)² + Σ_{unlabeled v} (deg v)² —
    * ALL exact integers (DECIMAL(38,0) squares), so Q is one fixed
    * IEEE expression, 4-dp. No per-community float summation exists.
    *
    * Scale shape: reuses the session-cached co-purchase edges and
    * g4's label frame; two label equi-joins for W, one degree rollup
    * per community + one anti-joined rollup for the singletons —
    * partial-aggregated throughout, output is ONE row. */
  def g8Modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = copurchaseEdges(spark, dir)
      .filter($"src" < $"dst").select($"src", $"dst")
    val deg = und.select($"src".as("vx")).unionAll(und.select($"dst".as("vx")))
      .groupBy($"vx").agg(count(lit(1)).as("dg"))
    val lab = lpLabels(spark, dir).select($"node", $"label")
    val within = und
      .join(lab.select($"node".as("src"), $"label".as("la")), "src")
      .join(lab.select($"node".as("dst"), $"label".as("lb")), "dst")
      .filter($"la" === $"lb")
      .agg(count(lit(1)).as("w"))
    val commDeg = lab.join(deg, $"node" === $"vx")
      .groupBy($"label").agg(sum($"dg").as("sd"))
      .agg(count(lit(1)).as("n_communities"),
        sum($"sd".cast("decimal(38,0)") * $"sd").as("d2l"))
    val unl = deg.join(lab, deg("vx") === lab("node"), "left_anti")
      .agg(coalesce(sum($"dg".cast("decimal(38,0)") * $"dg"),
        lit(0).cast("decimal(38,0)")).as("d2u"))
    val nl = lab.agg(count(lit(1)).as("n_labeled"))
    val m = und.agg(count(lit(1)).as("me"))
    commDeg.crossJoin(within).crossJoin(unl).crossJoin(nl).crossJoin(m)
      .select($"n_communities", $"n_labeled", $"me".as("m_edges"),
        $"w".as("within_edges"),
        round(expr("""CAST(w AS DOUBLE) / CAST(me AS DOUBLE)
            - CAST(d2l + d2u AS DOUBLE)
              / (4.0 * CAST(me AS DOUBLE) * CAST(me AS DOUBLE))"""), 4)
          .as("modularity"))
  }

  /** D174: degree ASSORTATIVITY of the co-purchase graph — Newman's
    * r (Phys. Rev. Lett. 89, 208701): the Pearson correlation of
    * endpoint degrees over the (symmetric) directed edge list.
    * Positive r → hubs link to hubs (popular parts co-sell with other
    * popular parts, the "hit-bundle" market); negative → hub-and-spoke
    * baskets. The one-number structural summary a graph audit reads
    * before deciding whether degree-based sampling (s14/g5 seeds) is
    * biased.
    *
    * Determinism + scale: degrees ride the session-cached edge frame;
    * the five moments are exact DECIMAL(38,0)/HUGEINT integer sums in
    * ONE map-side-combined aggregate (no shuffle wider than the edge
    * join), and r is a single IEEE closed form over them. The final
    * 1×1 cross join (moments × node census) is a broadcast one-row
    * frame (the g8/q43 audited shape). */
  def g9Assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = copurchaseEdges(spark, dir) // (src, dst, deg-of-src)
    val degs = e.select($"src", $"deg").distinct()
    val pairs = e.select($"dst", $"deg".as("dj"))
      .join(degs.select($"src".as("dst"), $"deg".as("dk")), "dst")
    val m = pairs.agg(
      count(lit(1)).as("m"),
      sum($"dj".cast("decimal(38,0)")).as("sj"),
      sum($"dk".cast("decimal(38,0)")).as("sk"),
      sum(($"dj".cast("decimal(38,0)") * $"dk")).as("sjk"),
      sum(($"dj".cast("decimal(38,0)") * $"dj")).as("sjj"),
      sum(($"dk".cast("decimal(38,0)") * $"dk")).as("skk"))
    val nn = degs.agg(count(lit(1)).as("n_nodes"),
      sum($"deg".cast("decimal(38,0)")).as("sdeg"))
    m.crossJoin(nn)
      .select($"m".as("n_edges"), $"n_nodes",
        round(expr("CAST(sdeg AS DOUBLE) / CAST(n_nodes AS DOUBLE)"), 4)
          .as("mean_deg"),
        round(expr(
          """(CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
              - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
             / sqrt((CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
                  - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                * (CAST(m AS DOUBLE) * CAST(skk AS DOUBLE)
                  - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)))"""), 4)
          .as("assortativity"))
  }

  /** The rich-set fractions [[g10RichClub]] reports. */
  val richClubPcts: Seq[Double] = Seq(0.1, 0.25, 0.5)

  /** D179: rich-club coefficients — for the top-p fraction of nodes by
    * degree (ties → lowest part id), the edge density φ(p) among them:
    * E_rich / (|R|·(|R|−1)) over the symmetric directed edge list.
    * Rising φ toward small p = the market's hubs preferentially
    * co-sell with each other (the "rich-club ordering" of Colizza et
    * al. 2006) — with g9's assortativity, the two standard hub-
    * structure diagnostics.
    *
    * Determinism + scale: the degree rank is ONE global window over
    * the node census (bounded by the part dimension, the t16 global-
    * rank precedent); each edge reduces to max(rank_src, rank_dst) and
    * all three thresholds are CONDITIONAL SUMS in one map-side-combined
    * aggregate — the 3-row output assembles driver-side from scalar
    * counts (p11 pattern). Cutoffs ceil(p·n) are computed identically
    * on both engines from the exact node count. */
  def g10RichClub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = copurchaseEdges(spark, dir)
    val degs = e.select($"src", $"deg").distinct()
    val n = degs.count()
    val ranked = degs.withColumn("rnk", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy($"deg".desc, $"src")))
    val m = e.select($"src", $"dst")
      .join(ranked.select($"src", $"rnk".as("ra")), "src")
      .join(ranked.select($"src".as("dst"), $"rnk".as("rb")), "dst")
      .select(greatest($"ra", $"rb").as("m"))
    val cuts = richClubPcts.map(p => math.ceil(p * n).toLong)
    val row = m.agg(
      sum(when($"m" <= cuts(0), 1L).otherwise(0L)).as("e0"),
      sum(when($"m" <= cuts(1), 1L).otherwise(0L)).as("e1"),
      sum(when($"m" <= cuts(2), 1L).otherwise(0L)).as("e2")).head()
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    richClubPcts.zipWithIndex.map { case (p, i) =>
      val (nr, er) = (cuts(i), row.getLong(i))
      (p, nr, er,
        if (nr >= 2) Some(r4(er.toDouble / (nr.toDouble * (nr - 1).toDouble)))
        else None)
    }.toDF("top_pct", "n_rich", "n_edges_rich", "phi")
      .orderBy($"top_pct")
  }

  /** D185: local clustering-coefficient census over the strong
    * affinity graph — per degree class, the mean fraction of a node's
    * neighbor pairs that are themselves linked, cc(v) = 2T(v)/(d(d−1)):
    * the classic "small-world" readout (high cc at high degree = hubs
    * sit in tight communities; cc falling as 1/d = tree-like growth).
    * Complements g2 (who has the most triangles) and g9/g10 (hub
    * mixing) with the closure-density view.
    *
    * Exactness: within a degree class d the mean of cc(v) equals
    * 2·ΣT(v) / (n·d·(d−1)) — ALL-INTEGER numerator and denominator
    * (no double summed per node), one IEEE division chain, 4-dp.
    *
    * Scale shape: per-node triangle counts reuse [[triangleCounts]]'s
    * degree-ordered oriented wedge join (O(m^1.5) bound, never a hub
    * blow-up); the census is degree-keyed — output bounded by the
    * distinct-degree count, a histogram not a node list. Nodes of
    * degree ≥ 2 with NO triangle enter via the left join (cc = 0,
    * exactly — dropping them would bias every class upward). */
  def g11Clustering(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = strongEdges(spark, dir)
    val deg = und.select($"src".as("vx")).unionAll(und.select($"dst".as("vx")))
      .groupBy($"vx").agg(count(lit(1)).as("dg"))
    val tri = triangleCounts(und)
    deg.filter($"dg" >= 2)
      .join(tri.select($"part_key".as("vx"), $"n_triangles"), Seq("vx"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .groupBy($"dg".as("degree"))
      .agg(count(lit(1)).as("n_nodes"), sum($"n_triangles").as("n_closed"))
      .select($"degree", $"n_nodes", $"n_closed",
        round(expr("""2.0 * CAST(n_closed AS DOUBLE)
            / (CAST(n_nodes AS DOUBLE) * CAST(degree AS DOUBLE)
               * CAST(degree - 1 AS DOUBLE))"""), 4).as("avg_cc"))
      .orderBy($"degree")
  }

  /** Hop depths [[g12KHop]] reports (fixed — each hop is one
    * register-fold superstep, so depth bounds cost). */
  val khopMax = 3

  /** Widest key domain the EXACT bitset registers are allowed: above
    * [[khopExactMaxWords]] 64-bit words per vertex (= 1 M keys,
    * 128 KB/vertex) [[g12KHop]] switches to the constant-width HLL
    * registers ([[graft.functions.HllReach]]) — per-vertex state stops
    * growing with the domain, counts become ~1.6%-error estimates
    * (the HyperBall original). Fixture domains are far below this, so
    * the oracle-gated path stays exact. */
  val khopExactMaxWords = 1 << 14

  /** Exact-register TOTAL budget: worst-case aggregate bitset bytes
    * (every key a vertex, so deterministic from maxKey alone — no
    * extra count pass) must stay well inside one executor's share of
    * heap. Width alone is not enough: 3,000-word registers are fine
    * per vertex but 200k of them are 5 GB through every superstep
    * fold — measured OOMing the 8 GB audit JVM at the sf1-synth
    * domain while the per-vertex width was nowhere near the ceiling. */
  val khopExactMaxTotalBytes = 2L << 30

  /** The shared exact-vs-HLL register routing of g12/g14/g16. */
  private[graft] def useWideRegisters(maxKey: Long): Boolean = {
    val words = (maxKey >> 6) + 1
    words > khopExactMaxWords ||
      words * 8L * (maxKey + 1) > khopExactMaxTotalBytes
  }

  /** The ONE HyperBall superstep loop shared by every register mode of
    * [[g12KHop]]/[[g12KHopHll]]/[[g14DistanceDist]]: fold each
    * vertex's neighbor set into a register, then for each further hop
    * join the register frame across the symmetric edge frame and
    * re-fold with the element-wise union aggregator — the frame stays
    * ONE ROW PER VERTEX throughout (never the reach-pair frame +
    * `distinct()`, which goes near-quadratic on a power-law graph by
    * hop 3). Both folds are `TypedImperativeAggregate`s →
    * partial-aggregated map-side, so superstep shuffle width is
    * #vertices × register width, independent of path multiplicity.
    * Each hop's frame is `localCheckpoint`ed (lineage truncation).
    * Returns the register frame after each hop 1..[[khopMax]];
    * register representation (exact bitset vs HLL sketch) is entirely
    * the aggregator pair's concern. */
  private def hopRegisterFrames(sym: DataFrame,
      nbrAgg: Column => Column, unionAgg: Column => Column): Seq[DataFrame] = {
    import sym.sparkSession.implicits._
    var reg = sym.groupBy($"u").agg(nbrAgg($"v").as("bits"))
      .localCheckpoint()
    (1 to khopMax).map { h =>
      if (h > 1) {
        // shuffle-hash hint, build side = the narrow edge frame: the
        // checkpointed register frame's size ESTIMATE ignores the wide
        // `bits` arrays, so the planner would otherwise try to
        // broadcast gigabytes of registers (OOMs at wide key domains);
        // pinning the join keeps register movement at the documented
        // superstep shuffle width and never in a broadcast
        reg = sym.as("s").hint("shuffle_hash")
          .join(reg.as("r"), $"s.v" === $"r.u")
          .select($"s.u".as("u"), $"r.bits".as("bits"))
          .unionAll(reg.select($"u", $"bits"))
          .groupBy($"u").agg(unionAgg($"bits").as("bits"))
          .localCheckpoint()
      }
      reg
    }
  }

  /** The exact-mode aggregator pair: one-hot neighbor bitsets +
    * element-wise OR, both width-fixed at `nWords` 64-bit words. */
  private def exactRegisterAggs(nWords: Int)
      : (Column => Column, Column => Column) = {
    val nbr = udaf(new graft.functions.BitsetReach.NeighborBitset(nWords),
      org.apache.spark.sql.Encoders.scalaLong)
    val or = udaf(new graft.functions.BitsetReach.BitsetUnion(nWords),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    (nbr(_), or(_))
  }

  /** The sketch-mode aggregator pair: per-neighbor HLL inserts +
    * register-wise max-merge, constant 2^p bytes per vertex. */
  private def hllRegisterAggs(p: Int)
      : (Column => Column, Column => Column) = {
    val nbr = udaf(new graft.functions.HllReach.NeighborHll(p),
      org.apache.spark.sql.Encoders.scalaLong)
    val or = udaf(new graft.functions.HllReach.HllUnion(p),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Byte]]())
    (nbr(_), or(_))
  }

  /** Exact reach count off a bitset register row: popcount minus the
    * self bit (hop-1 registers never hold it — no self loops; the
    * symmetric superstep fold sets it from hop 2 on). */
  private def exactReachCnt: Column =
    expr("""aggregate(bits, CAST(0 AS BIGINT),
            (acc, w) -> acc + CAST(bit_count(w) AS BIGINT))""") -
    expr("""shiftright(element_at(bits, CAST(shiftright(u, 6) AS INT) + 1),
            CAST(u % 64 AS INT)) & 1""")

  /** D196: bounded k-hop reachability census — for h = 1..3, how many
    * parts each part can reach within h hops of the strong affinity
    * graph (count, mean, max): the "influence radius" readout
    * (substitution/cross-sell blast radius in h referral steps) and
    * the standard small-world diagnostic next to g11's closure
    * density — a steep hop-2→3 jump says the graph has a short
    * diameter and hub shortcuts.
    *
    * Plan: the HyperBall fold ([[graft.functions.BitsetReach]]) with
    * EXACT fixed-width bitset registers over the bounded part-key
    * domain. Hop 1 ORs each vertex's neighbor one-hots into one
    * register (`groupBy(u).agg(neighborBits(v))`); each further hop
    * joins the register frame with the symmetric edge list and
    * re-folds with the element-wise-OR aggregator, so the frame stays
    * ONE ROW PER VERTEX throughout — never the (u, v) reach-pair
    * frame + `distinct()`, which materializes every reachable pair
    * and goes near-quadratic on a power-law graph by hop 3. Both
    * folds are `TypedImperativeAggregate`s → partial-aggregated
    * map-side, so superstep shuffle width is #vertices × register
    * width, independent of path multiplicity. Counts are exact
    * popcounts (minus the self bit the symmetric fold sets from hop 2
    * on), so the DuckDB pair-frame oracle still hash-matches. Past
    * [[khopExactMaxWords]] the SAME supersteps auto-switch to
    * constant-width HLL registers ([[g12KHopHll]] — the HyperBall
    * original): per-vertex state stops growing with the key domain,
    * counts become ~1.6%-error estimates, GraphSpec gates the two
    * modes against each other at ±2% per hop.
    *
    * Scale shape: h−1 join+fold supersteps over the SUPPORT-PRUNED
    * graph (the g2 argument), each `localCheckpoint`ed; h fixed at 3.
    * Per-hop stats are one map-side-combined rollup each; the 3-row
    * result assembles driver-side (p11 pattern). */
  def g12KHop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // round-15: the exact-mode census reads off the SHARED
    // [[cachedReach]] register fold (one superstep loop per session
    // for g12/g14/g16) — valid because exact bitset reach is monotone
    // in h by construction, so the monotone-clamped (u, c1..c3) frame
    // carries the identical per-hop counts the raw register frames
    // did, and the vertex set is the same every hop. The readout is
    // ONE seven-moment aggregate instead of three per-hop jobs.
    val rc = cachedReach(spark, dir)
    if (rc.counts.isEmpty) {
      // max of an EMPTY frame is null — a support-pruned graph with no
      // strong edges short-circuits to the all-zero census instead of
      // an NPE (the old pair-frame path degraded gracefully too).
      return (1 to khopMax).map(h => (h.toLong, 0L, 0L, 0.0, 0L))
        .toDF("hop", "n_nodes", "n_pairs", "avg_reach", "max_reach")
        .orderBy($"hop")
    }
    // unbounded-domain guard (round-10 verdict #1): past the exact
    // registers' width ceiling, run the SAME supersteps over
    // constant-width HLL registers instead — per-vertex state is 2^p
    // bytes regardless of maxKey, so the fold survives a key domain
    // the dense bitset cannot (~2.5 MB/vertex at a 20M-key domain).
    // The HLL readout sums UNROUNDED per-vertex estimates, which the
    // rounded monotone counts cannot reproduce — it keeps its own
    // register loop.
    if (rc.wide) {
      val und = strongEdges(spark, dir)
      val sym = und.select($"src".as("u"), $"dst".as("v"))
        .unionAll(und.select($"dst".as("u"), $"src".as("v")))
        .localCheckpoint()
      return khopCensusHll(spark, sym, graft.functions.HllReach.defaultP)
    }
    val aggs = count(lit(1)) +:
      (1 to khopMax).flatMap(h => Seq(sum(col(s"c$h")), max(col(s"c$h"))))
    val r = rc.counts.get.agg(aggs.head, aggs.tail: _*).head()
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = r.getLong(0)
    (1 to khopMax).map { h =>
      val p = r.getLong(2 * h - 1); val mx = r.getLong(2 * h)
      (h.toLong, n, p, r4(p.toDouble / n.toDouble), mx)
    }.toDF("hop", "n_nodes", "n_pairs", "avg_reach", "max_reach")
      .orderBy($"hop")
  }

  /** D229: [[g12KHop]]'s scale path — the identical HyperBall
    * supersteps over CONSTANT-width HLL registers
    * ([[graft.functions.HllReach]], 2^p bytes/vertex for any key
    * domain). [[g12KHop]] auto-switches here past
    * [[khopExactMaxWords]]; this public entry forces the sketch mode
    * so GraphSpec can gate its per-hop estimates against the exact
    * census (±2% band) on the fixture graph, where both modes run.
    *
    * Self-count alignment with the exact mode: hop-1 registers hold
    * neighbors only (no self-loops in the edge frame); from hop 2 on
    * the symmetric fold inevitably folds u into its own sketch, so
    * the readout subtracts 1 per vertex for h ≥ 2 — the sketch
    * estimate of |reach \ {u}|, the exact mode's popcount-minus-self.
    *
    * Scale shape: identical to the exact mode — h−1 join+fold
    * supersteps, map-side-combined register max-merge, one row per
    * vertex throughout — with per-superstep shuffle width
    * #vertices × 2^p bytes, FLAT in the key domain. */
  def g12KHopHll(spark: SparkSession, dir: String,
      p: Int = graft.functions.HllReach.defaultP): DataFrame = {
    import spark.implicits._
    val und = strongEdges(spark, dir)
    val sym = und.select($"src".as("u"), $"dst".as("v"))
      .unionAll(und.select($"dst".as("u"), $"src".as("v")))
      .localCheckpoint()
    // empty-graph short-circuit (the g12KHop guard's HLL twin): a
    // support-pruned graph with no strong edges degrades to the
    // all-zero census instead of an NPE in the stats rollup
    if (sym.isEmpty) {
      return (1 to khopMax).map(h => (h.toLong, 0L, 0L, 0.0, 0L))
        .toDF("hop", "n_nodes", "n_pairs", "avg_reach", "max_reach")
        .orderBy($"hop")
    }
    khopCensusHll(spark, sym, p)
  }

  /** The HLL superstep loop shared by [[g12KHopHll]] and the
    * [[g12KHop]] wide-domain auto-switch. `sym` is the symmetric
    * (u, v) strong-edge frame. */
  private[graft] def khopCensusHll(spark: SparkSession, sym: DataFrame,
      p: Int): DataFrame = {
    import spark.implicits._
    val (nbrHll, orHll) = hllRegisterAggs(p)
    val estU = udf((reg: Array[Byte]) => graft.functions.HllReach.estimate(reg))
    def stats(reg: DataFrame, h: Int): (Long, Long, Long, Long) = {
      // h >= 2: the symmetric fold put u into its own sketch — read
      // the estimate as |reach \ {u}| by subtracting the self element
      val self = if (h >= 2) 1.0 else 0.0
      val r = reg
        .select($"u", greatest(estU($"bits") - lit(self), lit(0.0)).as("c"))
        .agg(count(lit(1)), round(sum($"c")).cast("long"),
          round(max($"c")).cast("long")).head()
      (h.toLong, r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val rows = hopRegisterFrames(sym, nbrHll, orHll)
      .zipWithIndex.map { case (reg, i) => stats(reg, i + 1) }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.map { case (h, n, pr, mx) =>
      (h, n, pr, if (n == 0) 0.0 else r4(pr.toDouble / n.toDouble), mx)
    }.toDF("hop", "n_nodes", "n_pairs", "avg_reach", "max_reach")
      .orderBy($"hop")
  }

  /** D236: hop-distance distribution + per-vertex effective radius —
    * the HyperBall NEIGHBOURHOOD-FUNCTION readout (Boldi & Vigna 2013
    * §4, the statistic HyperBall was built to compute) over the same
    * strong-affinity graph as [[g12KHop]]: per hop h = 1..[[khopMax]],
    * how many ordered (u, v) pairs sit at EXACT distance h
    * (N(h) − N(h−1)), that hop's share of all ≤[[khopMax]]-hop pairs,
    * the cumulative share (the empirical distance CDF — the
    * small-world curve), and how many vertices have effective radius
    * h (smallest h whose reach covers ≥ 90% of the vertex's
    * [[khopMax]]-hop reach — HyperBall's per-node effective-radius
    * definition with r = 0.9). A distribution that jumps to ~1.0 by
    * hop 2 says hub shortcuts dominate; a flat curve says the graph
    * is chain-like and propagation analyses need deeper horizons.
    *
    * Plan: ONE register-superstep loop (the g12 exact bitset fold —
    * identical shuffle discipline, one row per vertex throughout)
    * keeping the per-vertex popcount AFTER EACH hop as a narrow
    * (u, c_h) frame; the three frames join on the vertex key (reach
    * sets only grow, so the vertex sets are identical), the
    * effective radius is a per-row integer CASE (10·c_h ≥ 9·c_3 —
    * integer arithmetic, no float compare), and ONE partial-aggregated
    * rollup reduces everything to a single driver row from which the
    * 3-row result assembles (p11 pattern). Cost over g12: two extra
    * vertex-keyed joins of long-pair frames — no new register passes.
    *
    * Scale shape: inherits g12's — supersteps over the support-pruned
    * graph, map-side-combined bitset folds; past [[khopExactMaxWords]]
    * the same readout would run over [[graft.functions.HllReach]]
    * estimates (effective radius is a RATIO of a vertex's own
    * estimates, so the shared-universe collision bias largely
    * cancels); the fixture domain stays exact/oracle-gated. */
  def g14DistanceDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // round-15: readout over the shared [[cachedReach]] census — one
    // register fold per session for g12/g14/g16
    val rc = cachedReach(spark, dir)
    rc.counts match {
      case None =>
        (1 to khopMax).map(h => (h.toLong, 0L, 0.0, 0.0, 0L))
          .toDF("hop", "n_new_pairs", "pct_pairs", "cum_share",
            "n_radius_nodes")
          .orderBy($"hop")
      case Some(cu) => distanceDistReadout(spark, cu)
    }
  }

  /** Per-vertex cumulative reach counts (u, c1, c2, c3) at hops
    * 1..[[khopMax]], exact-bitset or HLL mode — the shared readout of
    * [[g14DistanceDist]] and [[g16Harmonic]]. Counts are clamped
    * monotone in h on the JOINED frame: per-vertex reach is monotone
    * by construction, but the HLL branch's round(est − self) can dip
    * one below the previous hop on saturated vertices, which would
    * otherwise produce a negative per-hop delta — a no-op for the
    * exact branch. */
  private def monotoneReachCounts(sym: DataFrame, maxKey: Long,
      wide: Boolean): DataFrame = {
    import sym.sparkSession.implicits._
    val perHop: Seq[DataFrame] = if (wide) {
      val (nbrHll, orHll) = hllRegisterAggs(graft.functions.HllReach.defaultP)
      val estU = udf((reg: Array[Byte]) =>
        graft.functions.HllReach.estimate(reg))
      hopRegisterFrames(sym, nbrHll, orHll).zipWithIndex.map { case (reg, i) =>
        val h = i + 1
        // hop >= 2: the symmetric fold put u into its own sketch
        val self = if (h >= 2) 1.0 else 0.0
        reg.select($"u",
          greatest(round(estU($"bits") - lit(self)), lit(0.0))
            .cast("long").as(s"c$h"))
      }
    } else {
      val nWords = (maxKey >> 6).toInt + 1
      val (nbrBits, orBits) = exactRegisterAggs(nWords)
      hopRegisterFrames(sym, nbrBits, orBits).zipWithIndex.map { case (reg, i) =>
        reg.select($"u", exactReachCnt.as(s"c${i + 1}"))
      }
    }
    // fold the hop frames into (u, c1, c2, c3) with ONE union+groupBy
    // instead of a 3-way join: Spark's size estimate for the
    // checkpointed register RDDs includes the wide `bits` arrays, so
    // the join planner tries to BROADCAST a "small" count frame whose
    // estimate is actually gigabytes — the fold has no broadcast to
    // mis-plan and ships one narrow exchange
    val tagged = perHop.zipWithIndex.map { case (df, i) =>
      df.select($"u", lit(i + 1).as("h"), col(s"c${i + 1}").as("c"))
    }.reduce(_ unionAll _)
    val aggs = (1 to khopMax).map(h =>
      max(when($"h" === h, $"c")).as(s"c$h"))
    tagged.groupBy($"u").agg(aggs.head, aggs.tail: _*)
      .withColumn("c2", greatest($"c2", $"c1"))
      .withColumn("c3", greatest($"c3", $"c2"))
  }

  /** The g14 readout over an already-built symmetric edge frame —
    * split out so GraphSpec can drive the wide-domain HLL branch on a
    * synthetic graph (`forceHll`). */
  private[graft] def distanceDistFrom(spark: SparkSession, sym: DataFrame,
      forceHll: Boolean = false): DataFrame = {
    import spark.implicits._
    val zero = (1 to khopMax).map(h => (h.toLong, 0L, 0.0, 0.0, 0L))
      .toDF("hop", "n_new_pairs", "pct_pairs", "cum_share", "n_radius_nodes")
    val maxKeyOpt = Option(sym.agg(max($"v")).head().get(0))
      .map(_.asInstanceOf[Long])
    if (maxKeyOpt.isEmpty) return zero.orderBy($"hop")
    // same unbounded-domain guard as g12: past the exact registers'
    // width ceiling run the identical supersteps over constant-width
    // HLL registers — per-hop counts become ~1.6%-error estimates and
    // the effective radius a RATIO of a vertex's own estimates (the
    // shared-universe collision bias largely cancels)
    val wide = forceHll || useWideRegisters(maxKeyOpt.get)
    distanceDistReadout(spark, monotoneReachCounts(sym, maxKeyOpt.get, wide))
  }

  /** The g14 aggregation + assembly over a (u, c1..c[[khopMax]])
    * monotone reach-count frame — shared by the cached-census entry
    * and the spec-facing [[distanceDistFrom]]. */
  private def distanceDistReadout(spark: SparkSession,
      counts: DataFrame): DataFrame = {
    import spark.implicits._
    val cu = counts
      .withColumn("eff",
        when($"c1" * 10 >= $"c3" * 9, 1)
          .when($"c2" * 10 >= $"c3" * 9, 2).otherwise(3))
    val t = cu.agg(
      sum($"c1"), sum($"c2" - $"c1"), sum($"c3" - $"c2"), sum($"c3"),
      sum(when($"eff" === 1, 1L).otherwise(0L)),
      sum(when($"eff" === 2, 1L).otherwise(0L)),
      sum(when($"eff" === 3, 1L).otherwise(0L))).head()
    val nNew = Array(t.getLong(0), t.getLong(1), t.getLong(2))
    val nTot = t.getLong(3)
    val nEff = Array(t.getLong(4), t.getLong(5), t.getLong(6))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    (1 to khopMax).map { h =>
      val cum = nNew.take(h).sum
      (h.toLong, nNew(h - 1),
        r4(nNew(h - 1).toDouble / nTot.toDouble),
        r4(cum.toDouble / nTot.toDouble), nEff(h - 1))
    }.toDF("hop", "n_new_pairs", "pct_pairs", "cum_share", "n_radius_nodes")
      .orderBy($"hop")
  }

  /** Rows on the g16 leaderboard. */
  val harmonicTopK = 10

  /** D256: bounded harmonic-centrality leaderboard — the top-10 most
    * central parts of the strong affinity graph by hop-bounded
    * harmonic centrality Σ_{h≤3} new_h/h (Boldi & Vigna's axiomatized
    * centrality, the quantity HyperBall was built to estimate): the
    * "which products sit closest to everything" readout g14 only
    * aggregates in distribution form. Reported as `harmonic6` =
    * 6·new₁ + 3·new₂ + 2·new₃ — six times the harmonic sum, an EXACT
    * INTEGER (no per-vertex double accumulation to hash-drift), ties
    * by part key.
    *
    * Plan: the SAME HyperBall register supersteps as g12/g14
    * ([[hopRegisterFrames]] via [[monotoneReachCounts]] — third
    * consumer of the shared loop), auto-switching to HLL registers
    * past the exact-width ceiling like its siblings; the leaderboard
    * is a TakeOrdered top-10, never a global sort.
    *
    * Scale shape: g14's exactly — 2 join+fold supersteps over the
    * support-pruned graph, one row per vertex throughout, plus a
    * top-k. */
  def g16Harmonic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // round-15: readout over the shared [[cachedReach]] census — one
    // register fold per session for g12/g14/g16
    val rc = cachedReach(spark, dir)
    if (rc.counts.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("part_key", "reach1", "reach3", "harmonic6")
    rc.counts.get
      .select($"u".as("part_key"), $"c1".as("reach1"), $"c3".as("reach3"),
        (lit(6L) * $"c1" + lit(3L) * ($"c2" - $"c1")
          + lit(2L) * ($"c3" - $"c2")).as("harmonic6"))
      .orderBy($"harmonic6".desc, $"part_key").limit(harmonicTopK)
      .orderBy($"harmonic6".desc, $"part_key")
  }

  /** Tail thresholds the power-law fit is evaluated at. */
  val plawDmins = Seq(1L, 2L, 4L)

  /** D238: degree power-law fit — the continuous-MLE exponent
    * (Clauset, Shalizi & Newman 2009, eq. 3.1 with the −0.5
    * discreteness correction: alpha = 1 + n / Σ ln(d_i/(dmin−0.5)))
    * of the strong-affinity graph's degree distribution, evaluated at
    * each tail threshold in [[plawDmins]], with the tail size and
    * tail share. The single most-quoted scale-free diagnostic: an
    * alpha that HOLDS (≈ constant) as dmin rises says the tail is
    * genuinely power-law and hub-centric sampling/salting strategies
    * apply; an alpha that drifts says the tail is truncated and g10's
    * rich-club readout is the better guide.
    *
    * Plan: one degree rollup off the symmetric edge frame (the g9/g10
    * shuffle), then the ≤|V|-row degree frame crosses the 3-row
    * broadcast threshold list and ONE partial-aggregated rollup per
    * threshold produces the 3-row result — no joins back to the
    * corpus, no iteration. ln sums are IEEE doubles; the readout
    * rounds to 4 dp (the q60/q69 float-sum precedent).
    *
    * Scale shape: degree census is one exchange; everything after is
    * bounded by |V| × 3 rows partial-aggregated map-side. */
  def g15PowerlawFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = strongEdges(spark, dir)
    val sym = und.select($"src".as("u")).unionAll(und.select($"dst".as("u")))
    val deg = sym.groupBy($"u").agg(count(lit(1)).as("d"))
    val totN = deg.agg(count(lit(1)).as("n_nodes"))
    val dmins = plawDmins.toDF("dmin")
    deg.crossJoin(broadcast(dmins))
      .filter($"d" >= $"dmin")
      .groupBy($"dmin")
      .agg(count(lit(1)).as("n_tail"),
        sum(log($"d".cast("double") / ($"dmin".cast("double") - 0.5)))
          .as("lnsum"))
      .crossJoin(broadcast(totN))
      .select($"dmin", $"n_tail",
        round($"n_tail".cast("double") / $"n_nodes".cast("double"), 4)
          .as("tail_share"),
        round(lit(1.0) + $"n_tail".cast("double") / $"lnsum", 4).as("alpha"))
      .orderBy($"dmin")
  }

  /** HITS fixed-point scale (1e4 — small enough that score·SCALE
    * stays in BIGINT at any realistic degree) and superstep count. */
  val hitsScale = 10000L
  val hitsIters = 3

  /** D209: HITS hubs & authorities over the customer→part purchase
    * bipartite graph — authority(part) = Σ hub(customer) over its
    * buyers, hub(customer) = Σ authority(part) over their basket,
    * max-normalized each half-step: the "which parts do the BIG
    * buyers buy" ranking that pagerank's undirected co-purchase view
    * cannot express (g1 ranks centrality among parts; HITS couples
    * the two sides of the market). Kleinberg 1999, the g1 integer
    * fixed-point discipline.
    *
    * Determinism: scores are integers at [[hitsScale]] resolution;
    * each half-step is sum → max-normalize (s·SCALE div max) — all
    * exact integer arithmetic, no doubles anywhere; ranking ties
    * break on part id.
    *
    * Scale shape: the (customer, part) edge list is distinct pairs
    * (bounded by purchase history, not its square); each half-step is
    * ONE co-partitioned equi-join + partial-aggregated sum + a
    * single-scalar max (broadcast back); `localCheckpoint` truncates
    * per-round lineage (the g1/d8 discipline). Top-20 is
    * TakeOrdered. */
  def g13Hits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // localCheckpoint the distinct edge list ONCE (round-15): ec and
    // ep below each materialize a persisted layout of it, and without
    // the checkpoint each materialization re-ran the orders⋈lineitem
    // join + distinct from the scan
    val e = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p"))
      .distinct()
      .localCheckpoint()
    // the g1 cached-layout trick, once per join key: each half-step's
    // sort-merge join reuses the cached exchange+sort of the (large)
    // edge side — only the score frames move per round
    val ec = e.repartition($"c").sortWithinPartitions($"c")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ep = e.repartition($"p").sortWithinPartitions($"p")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var hubs = ec.select($"c").distinct().withColumn("h", lit(hitsScale))
    var auth: DataFrame = null
    // each half-step's max-normalization folds the single-scalar max
    // back in via a broadcast cross-join of a 1-row frame (the q43
    // pattern) instead of a blocking driver .head(): the only action
    // per half-step is the lineage-truncating localCheckpoint, and
    // the integer `div` semantics are unchanged.
    // Round-16 negative result (measured, REVERTED): replacing the six
    // per-half-step localCheckpoints with lazy scoped persists (the
    // iteration count is fixed, so no action is semantically needed)
    // regressed 3.80 s → 6.10 s in a positional TimeOne A/B — all six
    // broadcast-max relationFutures start at prepare time and RACE to
    // compute the unmaterialized half-step chain, duplicating each
    // join+aggregate before the cache fills (the BlockManager
    // "already exists" symptom). The eager checkpoint per half-step is
    // what keeps the fixed-point sequential; it stays.
    for (_ <- 1 to hitsIters) {
      val araw = ec.join(hubs, "c").groupBy($"p").agg(sum($"h").as("a"))
        .localCheckpoint()
      auth = araw.crossJoin(broadcast(araw.agg(max($"a").as("am"))))
        .select($"p", expr(s"(a * $hitsScale) div am").as("a"))
      val hraw = ep.join(auth, "p").groupBy($"c").agg(sum($"a").as("h"))
        .localCheckpoint()
      hubs = hraw.crossJoin(broadcast(hraw.agg(max($"h").as("hm"))))
        .select($"c", expr(s"(h * $hitsScale) div hm").as("h"))
    }
    val out = auth
      .orderBy($"a".desc, $"p")
      .limit(20)
      .select($"p".as("part_key"), $"a".as("authority"))
    ec.unpersist(); ep.unpersist()
    out
  }

  /** D259: weakly-connected-component census over the support-pruned
    * affinity graph — component count and size distribution: the
    * "product family" structural readout (how many independent
    * co-purchase clusters exist, and are they a few giants or many
    * small families?). The graph twin of d8's near-dup clustering,
    * run on [[strongEdges]] where components are MEANINGFUL (the
    * un-pruned basket graph is one giant blob by construction).
    * Parts in no strong edge are singleton components (counted — a
    * census that silently drops isolated nodes under-reports the
    * denominator).
    *
    * Scale shape: min-label propagation to FIXPOINT (d8's loop: one
    * co-partitioned join + one min-aggregation per superstep,
    * `localCheckpoint` lineage truncation, convergence by exact
    * label-sum invariant — supersteps bounded by component diameter,
    * which support-pruning keeps small); the census is two
    * partial-aggregated rollups (assignment → size → histogram), and
    * the histogram is bounded by #distinct sizes ≤ √(2·|V|) rows.
    * The oracle replays the components as d8's recursive-closure CTE
    * (exact same assignment, engine-independent). */
  def g17Wcc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = strongEdges(spark, dir).select($"src", $"dst")
    // Round-16 (guide §2.4): ONE co-partitioned symmetric edge layout —
    // both directions hash-partitioned by the join endpoint `v` ONCE,
    // so every superstep's edges⋈labels join reuses the checkpointed
    // partitioning (the pagerank edge-cache trick) instead of
    // re-exchanging the edge set per round. localCheckpoint preserves
    // outputPartitioning, and `labels` (groupBy(u) output, also
    // checkpointed) arrives at the join already partitioned on the
    // renamed key.
    val edges = und.union(und.select($"dst", $"src"))
      .toDF("u", "v").repartition($"v").localCheckpoint()
    var labels = edges.select($"u").distinct()
      .select($"u", $"u".as("lbl")).localCheckpoint()
    var prevSum = labels.agg(coalesce(sum($"lbl"), lit(0L))).as[Long].head()
    var converged = edges.isEmpty
    var iters = 0
    // Round-16 (guide §1.2): TWO propagation steps per checkpoint +
    // convergence probe. Each driver round-trip (localCheckpoint
    // materialization + label-sum action) costs as much as the
    // propagation itself at this scale, so batching two neighbor-min
    // steps into one lineage halves the fixed per-round cost while
    // computing the identical fixpoint: labels are monotone
    // non-increasing, so an unchanged sum across a double-step
    // certifies BOTH inner steps were stable. (A pointer-chasing
    // variant was A/B-tested and did NOT reduce rounds on
    // this graph — random vertex ids create local minima that break
    // label chains — so it was rejected; 2-step batching cut rounds
    // 8 → 5 with bit-identical output.)
    def step(l: DataFrame): DataFrame = l
      .union(edges.join(l.withColumnRenamed("u", "v"), "v")
        .select($"u", $"lbl"))
      .groupBy($"u").agg(min($"lbl").as("lbl"))
    while (!converged && iters < Dedup.maxLabelIters) {
      val next = step(step(labels)).localCheckpoint()
      val sum2 = next.agg(coalesce(sum($"lbl"), lit(0L))).as[Long].head()
      labels = next
      converged = sum2 == prevSum
      prevSum = sum2
      iters += 1
    }
    require(converged,
      s"label propagation did not converge in ${Dedup.maxLabelIters} rounds")
    val assign = Tables.part(spark, dir).select($"p_partkey")
      .join(labels.withColumnRenamed("u", "p_partkey"), Seq("p_partkey"), "left")
      .select(coalesce($"lbl", $"p_partkey").as("comp"))
    assign.groupBy($"comp").agg(count(lit(1)).as("comp_size"))
      .groupBy($"comp_size").agg(count(lit(1)).as("n_components"))
      .select($"comp_size", $"n_components",
        ($"comp_size" * $"n_components").as("n_parts"))
      .orderBy($"comp_size")
  }

  /** k-truss support threshold: every surviving edge must sit in
    * ≥ [[trussK]]−2 triangles among surviving edges (k = 3: the
    * triangle-connected subgraph — k = 4 is EMPTY on the sf0.01
    * fixture's support-pruned graph, a degenerate census). */
  val trussK = 3L
  /** Fixed truss-peel supersteps (the [[coreIters]] convention: the
    * operator is DEFINED as this many rounds, identical on both
    * engines; 6 reaches fixpoint on the fixtures). */
  val trussIters = 6

  /** D266: bounded k-truss peel over the strong affinity graph — the
    * EDGE-cohesion analogue of g3's k-core (a vertex can sit in a
    * k-core through many weak neighbors; a k-truss edge must itself
    * close ≥ k−2 triangles among surviving edges, so trusses are the
    * tightly-knit sub-communities community detection actually wants).
    * Each round enumerates surviving triangles, counts per-edge
    * support, and drops edges below [[trussK]]−2; output is each
    * part's degree inside the truss subgraph.
    *
    * Scale shape: per round, triangle enumeration is the canonical
    * a<b<c path join (two equi-joins on the canonical edge set — each
    * triangle found exactly once; the degree-ordered orientation g2
    * uses is the drop-in replacement if a hub-heavy graph makes the
    * id-order wedge fan out), one explode to 3 edge-rows per triangle,
    * one partial-aggregated support count, and a semi-join filter;
    * `localCheckpoint` truncates lineage per round (d8/g1). Rounds are
    * FIXED, so 100 TB cost = trussIters × (triangle pass on the
    * support-pruned graph). */
  def g18Truss(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var e = strongEdges(spark, dir).select($"src", $"dst").localCheckpoint()
    for (_ <- 1 to trussIters) {
      val path = e.as("ab").join(e.as("bc"), $"ab.dst" === $"bc.src")
        .select($"ab.src".as("a"), $"ab.dst".as("b"), $"bc.dst".as("c"))
      val tri = path.join(e.select($"src".as("a"), $"dst".as("c")),
        Seq("a", "c"), "left_semi")
      val sup = tri.select(explode(array(
          struct($"a".as("src"), $"b".as("dst")),
          struct($"b".as("src"), $"c".as("dst")),
          struct($"a".as("src"), $"c".as("dst")))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"))
        .groupBy($"src", $"dst").agg(count(lit(1)).as("sup"))
      e = e.join(sup.filter($"sup" >= trussK - 2),
          Seq("src", "dst"), "left_semi")
        .localCheckpoint()
    }
    e.unionAll(e.select($"dst".as("src"), $"src".as("dst")))
      .groupBy($"src").agg(count(lit(1)).as("truss_deg"))
      .select($"src".as("part_key"), $"truss_deg")
      .orderBy($"part_key")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g18_truss" -> g18Truss,
    "g17_wcc" -> g17Wcc,
    "g16_harmonic" -> g16Harmonic,
    "g15_powerlaw" -> g15PowerlawFit,
    "g14_distance_dist" -> g14DistanceDist,
    "g13_hits" -> g13Hits,
    "g12_khop" -> g12KHop,
    "g11_clustering" -> g11Clustering,
    "g10_rich_club" -> g10RichClub,
    "g9_assortativity" -> g9Assortativity,
    "g8_modularity" -> g8Modularity,
    "g7_edge_jaccard" -> g7EdgeJaccard,
    "g6_link_predict" -> g6LinkPredict,
    "g5_ppr" -> g5Ppr,
    "g4_label_prop" -> g4LabelProp,
    "g1_pagerank" -> g1Pagerank,
    "g2_triangles" -> g2Triangles,
    "g3_kcore" -> g3Kcore)

  /** One superstep as SQL over the previous iteration's CTE. */
  private def prStepSql(prev: String): String =
    s"""SELECT e.dst AS pk,
        CAST(${prOne * 15L / 100L} + ($prDampPct * sum($prev.s // e.deg)) // 100
          AS BIGINT) AS s
        FROM e JOIN $prev ON e.src = $prev.pk GROUP BY e.dst"""

  /** Shared co-purchase pair CTE body (g1 + g2 oracles). */
  private val pairsCte =
    """pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey <> b.l_partkey)"""

  /** One peel superstep: alive set (degree ≥ k), then both-endpoint
    * filtered edges — the SQL twin of the g3 loop body. MATERIALIZED
    * is load-bearing: DuckDB inlines plain CTEs, and each round
    * references the previous one three times, so 12 inlined rounds
    * would expand 3¹²-fold (observed as a file-handle blowup). */
  private def coreStepSql(i: Int): String =
    s"""a$i AS MATERIALIZED (SELECT src FROM e${i - 1}
                GROUP BY src HAVING count(*) >= $coreK),
        e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
                JOIN a$i s ON e.src = s.src JOIN a$i d ON e.dst = d.src)"""

  /** One label-propagation superstep: majority label over labeled
    * neighbors for still-unlabeled nodes, then the frontier union —
    * the SQL twin of the g4 loop body (MATERIALIZED for the same
    * inlining-blowup reason as g3). */
  private def lpStepSql(i: Int): String =
    s"""n$i AS MATERIALIZED (SELECT e.dst AS node, l.label,
              CAST(count(*) AS BIGINT) AS c
            FROM pairs e JOIN l${i - 1} l ON e.src = l.node
            WHERE e.dst NOT IN (SELECT node FROM l${i - 1})
            GROUP BY 1, 2),
        p$i AS MATERIALIZED (SELECT node, label, $i AS step FROM (
              SELECT node, label, row_number() OVER (PARTITION BY node
                ORDER BY c DESC, label) AS rn FROM n$i) WHERE rn = 1),
        l$i AS MATERIALIZED (SELECT * FROM l${i - 1}
              UNION ALL SELECT * FROM p$i)"""

  /** One g5 superstep: damped aggregated messages ⊎ seed restart. */
  private def pprStepSql(i: Int): String =
    s"""it$i AS MATERIALIZED (SELECT pk, CAST(sum(s) AS BIGINT) AS s FROM (
          SELECT e.dst AS pk,
            CAST(($prDampPct * sum(it${i - 1}.s // e.deg)) // 100 AS BIGINT) AS s
          FROM e JOIN it${i - 1} ON e.src = it${i - 1}.pk GROUP BY e.dst
          UNION ALL
          SELECT pk, CAST(${prOne * 15L / 100L} AS BIGINT) AS s FROM seeds)
        GROUP BY pk)"""

  /** One truss-peel superstep: triangle enumeration over e{i-1},
    * per-edge support, threshold filter — the SQL twin of the g18
    * loop body (MATERIALIZED for the g3 inlining-blowup reason). */
  private def trussStepSql(i: Int): String =
    s"""t$i AS MATERIALIZED (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
          FROM e${i - 1} ab JOIN e${i - 1} bc ON ab.dst = bc.src
          JOIN e${i - 1} ac ON ac.src = ab.src AND ac.dst = bc.dst),
        s$i AS MATERIALIZED (SELECT src, dst,
            CAST(count(*) AS BIGINT) AS sup
          FROM (SELECT a AS src, b AS dst FROM t$i
                UNION ALL SELECT b AS src, c AS dst FROM t$i
                UNION ALL SELECT a AS src, c AS dst FROM t$i)
          GROUP BY src, dst),
        e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
          JOIN s$i s ON e.src = s.src AND e.dst = s.dst
          WHERE s.sup >= ${trussK - 2})"""

  val oracle: Map[String, String] = Map(
    "g18_truss" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          e0 AS MATERIALIZED (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          ${(1 to trussIters).map(trussStepSql).mkString(",\n          ")}
          SELECT src AS part_key, CAST(count(*) AS BIGINT) AS truss_deg
          FROM (SELECT src, dst FROM e$trussIters
                UNION ALL SELECT dst AS src, src AS dst FROM e$trussIters)
          GROUP BY src ORDER BY part_key""",
    "g17_wcc" ->
      s"""WITH RECURSIVE p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          edges AS (SELECT src AS u, dst AS v FROM und
                    UNION ALL SELECT dst AS u, src AS v FROM und),
          r(u, v) AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
                      UNION
                      SELECT r.u, e.v FROM r JOIN edges e ON r.v = e.u),
          comp AS (SELECT u, min(v) AS lbl FROM r GROUP BY u),
          assign AS (SELECT coalesce(c.lbl, p.p_partkey) AS comp
                     FROM part p LEFT JOIN comp c ON p.p_partkey = c.u),
          cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS comp_size
                 FROM assign GROUP BY comp)
          SELECT comp_size, CAST(count(*) AS BIGINT) AS n_components,
            CAST(comp_size * count(*) AS BIGINT) AS n_parts
          FROM cs GROUP BY comp_size ORDER BY comp_size""",
    "g10_rich_club" -> {
      val selects = richClubPcts.map { p =>
        s"""SELECT CAST($p AS DOUBLE) AS top_pct,
            CAST(ceil($p * (SELECT n FROM nn)) AS BIGINT) AS n_rich,
            (SELECT CAST(sum(CASE WHEN m <=
                CAST(ceil($p * (SELECT n FROM nn)) AS BIGINT)
              THEN 1 ELSE 0 END) AS BIGINT) FROM em) AS n_edges_rich"""
      }.mkString(" UNION ALL ")
      s"""WITH $pairsCte,
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM pairs GROUP BY 1),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
          rk AS (SELECT src,
              row_number() OVER (ORDER BY deg DESC, src) AS rnk
            FROM deg),
          em AS (SELECT greatest(ra.rnk, rb.rnk) AS m
            FROM pairs e JOIN rk ra ON ra.src = e.src
                         JOIN rk rb ON rb.src = e.dst),
          rows_ AS ($selects)
          SELECT top_pct, n_rich, n_edges_rich,
            CASE WHEN n_rich >= 2 THEN
              round(CAST(n_edges_rich AS DOUBLE)
                / (CAST(n_rich AS DOUBLE) * CAST(n_rich - 1 AS DOUBLE)), 4)
            END AS phi
          FROM rows_ ORDER BY top_pct"""
    },
    "g9_assortativity" ->
      s"""WITH $pairsCte,
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM pairs GROUP BY 1),
          p AS (SELECT dj.deg AS dj, dk.deg AS dk
                FROM pairs e JOIN deg dj ON dj.src = e.src
                             JOIN deg dk ON dk.src = e.dst),
          m AS (SELECT CAST(count(*) AS BIGINT) AS m,
              sum(CAST(dj AS HUGEINT)) AS sj,
              sum(CAST(dk AS HUGEINT)) AS sk,
              sum(CAST(dj AS HUGEINT) * dk) AS sjk,
              sum(CAST(dj AS HUGEINT) * dj) AS sjj,
              sum(CAST(dk AS HUGEINT) * dk) AS skk
            FROM p),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              sum(CAST(deg AS HUGEINT)) AS sdeg
            FROM deg)
          SELECT m.m AS n_edges, nn.n_nodes,
            round(CAST(sdeg AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4)
              AS mean_deg,
            round((CAST(m.m AS DOUBLE) * CAST(sjk AS DOUBLE)
                - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
              / sqrt((CAST(m.m AS DOUBLE) * CAST(sjj AS DOUBLE)
                    - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                  * (CAST(m.m AS DOUBLE) * CAST(skk AS DOUBLE)
                    - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))), 4)
              AS assortativity
          FROM m CROSS JOIN nn""",
    "g8_modularity" ->
      s"""WITH $pairsCte,
          l0 AS MATERIALIZED (SELECT p_partkey AS node, p_brand AS label,
                0 AS step FROM part WHERE p_partkey % $lpSeedMod = 0),
          ${(1 to lpIters).map(lpStepSql).mkString(",\n          ")},
          und AS (SELECT src, dst FROM pairs WHERE src < dst),
          deg AS (SELECT vx, CAST(count(*) AS BIGINT) AS dg
                  FROM (SELECT src AS vx FROM und
                        UNION ALL SELECT dst AS vx FROM und) GROUP BY 1),
          lab AS (SELECT node, label FROM l$lpIters),
          we AS (SELECT CAST(count(*) AS BIGINT) AS w
                 FROM und JOIN lab a ON und.src = a.node
                 JOIN lab b ON und.dst = b.node AND a.label = b.label),
          cd AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
                   sum(CAST(sd AS HUGEINT) * sd) AS d2l
                 FROM (SELECT l.label, CAST(sum(d.dg) AS BIGINT) AS sd
                       FROM lab l JOIN deg d ON l.node = d.vx GROUP BY 1)),
          ud AS (SELECT COALESCE(sum(CAST(dg AS HUGEINT) * dg), 0) AS d2u
                 FROM deg WHERE vx NOT IN (SELECT node FROM lab)),
          nl AS (SELECT CAST(count(*) AS BIGINT) AS n_labeled FROM lab),
          mm AS (SELECT CAST(count(*) AS BIGINT) AS me FROM und)
          SELECT n_communities, n_labeled, me AS m_edges,
            w AS within_edges,
            round(CAST(w AS DOUBLE) / CAST(me AS DOUBLE)
              - CAST(d2l + d2u AS DOUBLE)
                / (4.0 * CAST(me AS DOUBLE) * CAST(me AS DOUBLE)), 4)
              AS modularity
          FROM cd CROSS JOIN we CROSS JOIN ud CROSS JOIN nl CROSS JOIN mm""",
    "g7_edge_jaccard" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          deg AS (SELECT vx, CAST(count(*) AS BIGINT) AS dg
                  FROM (SELECT src AS vx FROM und
                        UNION ALL SELECT dst AS vx FROM und)
                  GROUP BY vx),
          ori AS (SELECT CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND u.src < u.dst)
                              THEN u.src ELSE u.dst END AS u,
                         CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND u.src < u.dst)
                              THEN u.dst ELSE u.src END AS v
                  FROM und u JOIN deg ds ON u.src = ds.vx
                             JOIN deg dd ON u.dst = dd.vx),
          tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                  FROM ori a JOIN ori b ON a.u = b.u AND a.v <> b.v
                  WHERE EXISTS (SELECT 1 FROM ori c
                                WHERE c.u = a.v AND c.v = b.v)),
          te AS (SELECT least(x, y) AS src, greatest(x, y) AS dst FROM tri
                 UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
                 UNION ALL SELECT least(y, z), greatest(y, z) FROM tri),
          cn AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n_common
                 FROM te GROUP BY 1, 2)
          SELECT u.src AS part_a, u.dst AS part_b, cn.n_common,
            round(CAST(cn.n_common AS DOUBLE)
              / CAST(ds.dg + dd.dg - 2 - cn.n_common AS DOUBLE), 4) AS jaccard
          FROM und u JOIN cn ON u.src = cn.src AND u.dst = cn.dst
          JOIN deg ds ON u.src = ds.vx JOIN deg dd ON u.dst = dd.vx
          ORDER BY jaccard DESC, part_a, part_b LIMIT $ejTopK""",
    "g6_link_predict" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          adj AS (SELECT src AS y, dst AS n FROM und
                  UNION ALL SELECT dst AS y, src AS n FROM und),
          deg AS (SELECT y, CAST(count(*) AS BIGINT) AS dg
                  FROM adj GROUP BY 1),
          adjc AS (SELECT a.y, a.n, d.dg FROM adj a
                   JOIN deg d ON a.y = d.y WHERE d.dg <= $raDegCap),
          w AS (SELECT a.n AS pa, b.n AS pb, a.dg AS dgy
                FROM adjc a JOIN adjc b ON a.y = b.y AND a.n < b.n),
          ne AS (SELECT * FROM w WHERE NOT EXISTS (
                  SELECT 1 FROM und u WHERE u.src = w.pa AND u.dst = w.pb))
          SELECT pa AS part_a, pb AS part_b,
            CAST(count(*) AS BIGINT) AS cn,
            CAST(sum(1000000 // dgy) AS BIGINT) AS ra_micro
          FROM ne GROUP BY 1, 2
          ORDER BY ra_micro DESC, cn DESC, part_a, part_b LIMIT $raTopK""",
    "g5_ppr" ->
      s"""WITH $pairsCte,
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM pairs GROUP BY src),
          e AS (SELECT p.src, p.dst, d.deg FROM pairs p JOIN deg d USING (src)),
          seeds AS (SELECT src AS pk FROM deg
                    ORDER BY deg DESC, src LIMIT $pprSeedK),
          it0 AS (SELECT pk, CAST($prOne AS BIGINT) AS s FROM seeds),
          ${(1 to prIters).map(pprStepSql).mkString(",\n          ")}
          SELECT pk AS part_key, s AS score FROM it$prIters
          ORDER BY score DESC, part_key LIMIT 20""",
    "g4_label_prop" ->
      s"""WITH $pairsCte,
          l0 AS MATERIALIZED (SELECT p_partkey AS node, p_brand AS label,
                0 AS step FROM part WHERE p_partkey % $lpSeedMod = 0),
          ${(1 to lpIters).map(lpStepSql).mkString(",\n          ")}
          SELECT node AS p_partkey, label, CAST(step AS INT) AS step
          FROM l$lpIters ORDER BY p_partkey""",
    "g3_kcore" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          e0 AS MATERIALIZED (SELECT src, dst FROM und
                 UNION ALL SELECT dst, src FROM und),
          ${(1 to coreIters).map(coreStepSql).mkString(",\n          ")}
          SELECT src AS part_key, CAST(count(*) AS BIGINT) AS core_deg
          FROM e$coreIters GROUP BY src ORDER BY part_key""",
    "g13_hits" -> {
      val rounds = (1 to hitsIters).map { i =>
        s"""a${i}r AS MATERIALIZED (SELECT e.p, CAST(sum(h.h) AS BIGINT) AS a
              FROM e JOIN h${i - 1} h USING (c) GROUP BY e.p),
            a$i AS MATERIALIZED (SELECT p,
                (a * $hitsScale) // (SELECT max(a) FROM a${i}r) AS a
              FROM a${i}r),
            h${i}r AS MATERIALIZED (SELECT e.c, CAST(sum(a.a) AS BIGINT) AS h
              FROM e JOIN a$i a USING (p) GROUP BY e.c),
            h$i AS MATERIALIZED (SELECT c,
                (h * $hitsScale) // (SELECT max(h) FROM h${i}r) AS h
              FROM h${i}r)"""
      }.mkString(",\n          ")
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c,
              l.l_partkey AS p
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
          h0 AS (SELECT DISTINCT c, CAST($hitsScale AS BIGINT) AS h FROM e),
          $rounds
          SELECT p AS part_key, CAST(a AS BIGINT) AS authority
          FROM a$hitsIters ORDER BY a DESC, p LIMIT 20"""
    },
    "g12_khop" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          sym AS (SELECT src AS u, dst AS v FROM und
                  UNION ALL SELECT dst, src FROM und),
          r1 AS (SELECT DISTINCT u, v FROM sym),
          r2 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
            SELECT r.u, s.v FROM r1 r JOIN sym s ON r.v = s.u
            WHERE r.u <> s.v
            UNION ALL SELECT u, v FROM r1)),
          r3 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
            SELECT r.u, s.v FROM r2 r JOIN sym s ON r.v = s.u
            WHERE r.u <> s.v
            UNION ALL SELECT u, v FROM r2)),
          st AS (
            SELECT 1 AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(c) AS BIGINT) AS n_pairs,
              CAST(max(c) AS BIGINT) AS max_reach
            FROM (SELECT u, count(*) AS c FROM r1 GROUP BY u)
            UNION ALL SELECT 2, CAST(count(*) AS BIGINT),
              CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT)
            FROM (SELECT u, count(*) AS c FROM r2 GROUP BY u)
            UNION ALL SELECT 3, CAST(count(*) AS BIGINT),
              CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT)
            FROM (SELECT u, count(*) AS c FROM r3 GROUP BY u))
          SELECT CAST(hop AS BIGINT) AS hop, n_nodes, n_pairs,
            round(CAST(n_pairs AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4)
              AS avg_reach,
            max_reach
          FROM st ORDER BY hop""",
    "g16_harmonic" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          sym AS (SELECT src AS u, dst AS v FROM und
                  UNION ALL SELECT dst, src FROM und),
          r1 AS (SELECT DISTINCT u, v FROM sym),
          r2 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
            SELECT r.u, s.v FROM r1 r JOIN sym s ON r.v = s.u
            WHERE r.u <> s.v
            UNION ALL SELECT u, v FROM r1)),
          r3 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
            SELECT r.u, s.v FROM r2 r JOIN sym s ON r.v = s.u
            WHERE r.u <> s.v
            UNION ALL SELECT u, v FROM r2)),
          k1 AS (SELECT u, CAST(count(*) AS BIGINT) AS c1
                 FROM r1 GROUP BY u),
          k2 AS (SELECT u, CAST(count(*) AS BIGINT) AS c2
                 FROM r2 GROUP BY u),
          k3 AS (SELECT u, CAST(count(*) AS BIGINT) AS c3
                 FROM r3 GROUP BY u)
          SELECT k1.u AS part_key, c1 AS reach1, c3 AS reach3,
            6 * c1 + 3 * (c2 - c1) + 2 * (c3 - c2) AS harmonic6
          FROM k1 JOIN k2 ON k1.u = k2.u JOIN k3 ON k1.u = k3.u
          ORDER BY harmonic6 DESC, part_key LIMIT $harmonicTopK""",
    "g14_distance_dist" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          sym AS (SELECT src AS u, dst AS v FROM und
                  UNION ALL SELECT dst, src FROM und),
          r1 AS (SELECT DISTINCT u, v FROM sym),
          r2 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
            SELECT r.u, s.v FROM r1 r JOIN sym s ON r.v = s.u
            WHERE r.u <> s.v
            UNION ALL SELECT u, v FROM r1)),
          r3 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
            SELECT r.u, s.v FROM r2 r JOIN sym s ON r.v = s.u
            WHERE r.u <> s.v
            UNION ALL SELECT u, v FROM r2)),
          k1 AS (SELECT u, CAST(count(*) AS BIGINT) AS c1
                 FROM r1 GROUP BY u),
          k2 AS (SELECT u, CAST(count(*) AS BIGINT) AS c2
                 FROM r2 GROUP BY u),
          k3 AS (SELECT u, CAST(count(*) AS BIGINT) AS c3
                 FROM r3 GROUP BY u),
          cu AS (SELECT k1.u, c1, c2, c3,
              CASE WHEN c1 * 10 >= c3 * 9 THEN 1
                   WHEN c2 * 10 >= c3 * 9 THEN 2 ELSE 3 END AS eff
            FROM k1 JOIN k2 ON k1.u = k2.u JOIN k3 ON k1.u = k3.u),
          tot AS (SELECT
              CAST(sum(c1) AS BIGINT) AS n1,
              CAST(sum(c2 - c1) AS BIGINT) AS n2,
              CAST(sum(c3 - c2) AS BIGINT) AS n3,
              CAST(sum(c3) AS BIGINT) AS nt,
              CAST(count(*) FILTER (WHERE eff = 1) AS BIGINT) AS e1,
              CAST(count(*) FILTER (WHERE eff = 2) AS BIGINT) AS e2,
              CAST(count(*) FILTER (WHERE eff = 3) AS BIGINT) AS e3
            FROM cu),
          st AS (
            SELECT 1 AS hop, n1 AS n_new_pairs,
              round(CAST(n1 AS DOUBLE) / nt, 4) AS pct_pairs,
              round(CAST(n1 AS DOUBLE) / nt, 4) AS cum_share,
              e1 AS n_radius_nodes FROM tot
            UNION ALL SELECT 2, n2, round(CAST(n2 AS DOUBLE) / nt, 4),
              round(CAST(n1 + n2 AS DOUBLE) / nt, 4), e2 FROM tot
            UNION ALL SELECT 3, n3, round(CAST(n3 AS DOUBLE) / nt, 4),
              round(CAST(n1 + n2 + n3 AS DOUBLE) / nt, 4), e3 FROM tot)
          SELECT CAST(hop AS BIGINT) AS hop, n_new_pairs, pct_pairs,
            cum_share, n_radius_nodes
          FROM st ORDER BY hop""",
    "g15_powerlaw" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT src AS u FROM und UNION ALL SELECT dst FROM und)
            GROUP BY u),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
          dm AS (SELECT unnest([${plawDmins.mkString(", ")}]) AS dmin),
          tl AS (SELECT dm.dmin, CAST(count(*) AS BIGINT) AS n_tail,
              sum(ln(CAST(d AS DOUBLE) / (CAST(dmin AS DOUBLE) - 0.5)))
                AS lnsum
            FROM deg CROSS JOIN dm WHERE deg.d >= dm.dmin
            GROUP BY dm.dmin)
          SELECT CAST(dmin AS BIGINT) AS dmin, n_tail,
            round(CAST(n_tail AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4)
              AS tail_share,
            round(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 4) AS alpha
          FROM tl CROSS JOIN tot ORDER BY dmin""",
    "g11_clustering" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          deg AS (SELECT vx, CAST(count(*) AS BIGINT) AS dg
                  FROM (SELECT src AS vx FROM und
                        UNION ALL SELECT dst AS vx FROM und)
                  GROUP BY vx),
          ori AS (SELECT CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND u.src < u.dst)
                              THEN u.src ELSE u.dst END AS u,
                         CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND u.src < u.dst)
                              THEN u.dst ELSE u.src END AS v
                  FROM und u JOIN deg ds ON u.src = ds.vx
                             JOIN deg dd ON u.dst = dd.vx),
          tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                  FROM ori a JOIN ori b ON a.u = b.u AND a.v <> b.v
                  WHERE EXISTS (SELECT 1 FROM ori c
                                WHERE c.u = a.v AND c.v = b.v)),
          tcnt AS (SELECT part_key, CAST(count(*) AS BIGINT) AS n_triangles
                   FROM (SELECT unnest([x, y, z]) AS part_key FROM tri)
                   GROUP BY part_key)
          SELECT d.dg AS degree, CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(sum(COALESCE(t.n_triangles, 0)) AS BIGINT) AS n_closed,
            round(2.0 * CAST(sum(COALESCE(t.n_triangles, 0)) AS DOUBLE)
              / (CAST(count(*) AS DOUBLE) * CAST(d.dg AS DOUBLE)
                 * CAST(d.dg - 1 AS DOUBLE)), 4) AS avg_cc
          FROM deg d LEFT JOIN tcnt t ON t.part_key = d.vx
          WHERE d.dg >= 2
          GROUP BY d.dg ORDER BY degree""",
    "g2_triangles" ->
      s"""WITH p0 AS (SELECT DISTINCT a.l_orderkey,
              a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey),
          und AS (SELECT src, dst FROM p0 GROUP BY src, dst
                  HAVING count(*) >= $triMinSupport),
          deg AS (SELECT vx, CAST(count(*) AS BIGINT) AS dg
                  FROM (SELECT src AS vx FROM und
                        UNION ALL SELECT dst AS vx FROM und)
                  GROUP BY vx),
          ori AS (SELECT CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND u.src < u.dst)
                              THEN u.src ELSE u.dst END AS u,
                         CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND u.src < u.dst)
                              THEN u.dst ELSE u.src END AS v
                  FROM und u JOIN deg ds ON u.src = ds.vx
                             JOIN deg dd ON u.dst = dd.vx),
          tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                  FROM ori a JOIN ori b ON a.u = b.u AND a.v <> b.v
                  WHERE EXISTS (SELECT 1 FROM ori c
                                WHERE c.u = a.v AND c.v = b.v))
          SELECT part_key, CAST(count(*) AS BIGINT) AS n_triangles
          FROM (SELECT unnest([x, y, z]) AS part_key FROM tri)
          GROUP BY part_key
          ORDER BY n_triangles DESC, part_key LIMIT 20""",
    "g1_pagerank" ->
      s"""WITH $pairsCte,
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                  FROM pairs GROUP BY src),
          e AS (SELECT p.src, p.dst, d.deg FROM pairs p JOIN deg d USING (src)),
          it0 AS (SELECT DISTINCT src AS pk, CAST($prOne AS BIGINT) AS s FROM e),
          ${(1 to prIters).map(i => s"it$i AS (${prStepSql(s"it${i - 1}")})")
            .mkString(",\n          ")}
          SELECT pk AS part_key, s AS score FROM it$prIters
          ORDER BY score DESC, part_key LIMIT 20""")
}
