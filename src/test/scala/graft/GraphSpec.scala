package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

/** The distributed fixed-point PageRank must replay a scalar reference
  * implementation of the identical integer recurrence exactly — no
  * tolerance, because there is no floating point anywhere. */
class GraphSpec extends AnyFunSuite {
  import TestSpark._

  /** Scalar replay of Graph.pagerank's recurrence. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var s = deg.keys.map(_ -> Graph.prOne).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => s(src) / deg(src) }.sum
      }
      s = in.map { case (pk, m) =>
        pk -> (Graph.prOne * 15L / 100L + Graph.prDampPct * m / 100L)
      }
    }
    s
  }

  test("distributed fixed-point PageRank equals the scalar replay exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // undirected triangle + pendant: 1-2, 2-3, 1-3, 3-4
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val dir = und ++ und.map(_.swap)
    val e = dir.toDF("src", "dst")
    val withDeg = e.join(e.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
    val got = Graph.pagerank(withDeg.repartition(5), 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == reference(dir, 4))
    // the hub (node 3, degree 3) must outrank the pendant (node 4)
    assert(got(3L) > got(4L))
  }

  test("g9 assortativity equals a brute Newman-r replay over the copurchase edges") {
    val edges = Graph.copurchaseEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val (m, nNodes) = (edges.length.toLong, deg.size.toLong)
    // exact BigInt moments, then the engine's own double closed form
    def bsum(f: ((Long, Long)) => BigInt) = edges.map(f).sum
    val sj = bsum(e => BigInt(deg(e._1)))
    val sk = bsum(e => BigInt(deg(e._2)))
    val sjk = bsum(e => BigInt(deg(e._1)) * deg(e._2))
    val sjj = bsum(e => BigInt(deg(e._1)) * deg(e._1))
    val skk = bsum(e => BigInt(deg(e._2)) * deg(e._2))
    val mD = m.toDouble
    val r = (mD * sjk.toDouble - sj.toDouble * sk.toDouble) /
      math.sqrt((mD * sjj.toDouble - sj.toDouble * sj.toDouble) *
        (mD * skk.toDouble - sk.toDouble * sk.toDouble))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Graph.g9Assortativity(spark, sf).collect()(0)
    assert(row.getLong(0) == m && row.getLong(1) == nNodes)
    // node-level mean degree: Σ_v deg(v) / n = m / n (each directed
    // edge contributes once to its src's degree)
    assert(row.getDouble(2) == r4(mD / nNodes.toDouble))
    assert(row.getDouble(3) == r4(r))
    // symmetric edge list → sj == sk, and r is a correlation
    assert(sj == sk && row.getDouble(3) >= -1.0001 && row.getDouble(3) <= 1.0001)
  }

  test("g10 rich-club coefficients equal a brute ranked-subgraph replay") {
    val edges = Graph.copurchaseEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = deg.size
    val ranked = deg.toSeq.sortBy { case (v, d) => (-d, v) }
      .zipWithIndex.map { case ((v, _), i) => v -> (i + 1L) }.toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Graph.richClubPcts.map { p =>
      val cut = math.ceil(p * n).toLong
      val er = edges.count { case (a, b) =>
        math.max(ranked(a), ranked(b)) <= cut }.toLong
      (p, cut, er,
        if (cut >= 2) Some(r4(er.toDouble / (cut.toDouble * (cut - 1))))
        else None)
    }
    val got = Graph.g10RichClub(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq
    assert(got == expected)
    // densities are valid and the edge counts grow with the club
    assert(got.flatMap(_._4).forall(p => p >= 0.0 && p <= 1.0))
    val ers = got.map(_._3)
    assert(ers.zip(ers.tail).forall { case (a, b) => a <= b })
  }

  test("oriented-wedge triangle count equals the brute-force enumeration") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, 3 per vertex) + triangle {5,6,7}
    // + pendant 7-8 (in no triangle)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L))
    val got = Graph.triangleCounts(und.toDF("src", "dst").repartition(5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: every 3-subset with all edges present
    val es = und.toSet
    def adj(a: Long, b: Long) = es((a min b, a max b))
    val verts = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = (for {
      i <- verts; j <- verts if i < j; k <- verts if j < k
      if adj(i, j) && adj(i, k) && adj(j, k)
    } yield Seq(i, j, k)).flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == brute)
    assert(got(1L) == 3L && got(5L) == 1L && !got.contains(8L))
  }

  test("g2 top-20 is deterministic across runs") {
    val a = Graph.g2Triangles(spark, sf).collect().map(_.toString).toSeq
    val b = Graph.g2Triangles(spark, sf).collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty && a.size <= 20)
  }

  test("g3 k-core equals a brute peel replay and reaches fixpoint") {
    val und = Graph.strongEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var e: Seq[(Long, Long)] = (und ++ und.map(_.swap)).toSeq
    for (_ <- 1 to Graph.coreIters) {
      val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val alive = deg.filter(_._2 >= Graph.coreK).keySet
      e = e.filter { case (s, d) => alive(s) && alive(d) }
    }
    val expected = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = Graph.g3Kcore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // fixpoint on the fixture: every survivor keeps >= k neighbors, and
    // one further peel round changes nothing
    assert(expected.values.forall(_ >= Graph.coreK))
  }

  test("k-core peels a pendant chain off a clique") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + chain 4-5-6: k=3 must peel 6 then 5 and
    // keep exactly the clique at degree 3
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Graph.kcore(und, 3L, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("g1 top-20 is deterministic and scores stay positive") {
    val a = Graph.g1Pagerank(spark, sf).collect().map(_.toString).toSeq
    val b = Graph.g1Pagerank(spark, sf).collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty && a.size <= 20)
    Graph.g1Pagerank(spark, sf).collect()
      .foreach(r => assert(r.getLong(1) > 0L))
  }

  test("g4 label propagation equals a brute seed-frozen BFS majority replay") {
    import graft.sources.Tables
    val edges = Graph.copurchaseEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brands = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    var labels: Map[Long, (String, Int)] = brands.collect {
      case (pk, b) if pk % Graph.lpSeedMod == 0L => pk -> (b, 0)
    }.toMap
    val nbrs = edges.groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    for (i <- 1 to Graph.lpIters) {
      val frontier = nbrs.collect {
        case (node, ins) if !labels.contains(node) =>
          val votes = ins.flatMap(s => labels.get(s).map(_._1))
          if (votes.isEmpty) None
          else {
            val best = votes.groupBy(identity).toSeq
              .map { case (l, xs) => (l, xs.size) }
              .sortBy { case (l, c) => (-c, l) }.head._1
            Some(node -> (best, i))
          }
      }.flatten
      labels = labels ++ frontier
    }
    val expected = labels.toSeq.map { case (n, (l, s)) => (n, l, s) }
      .sortBy(_._1)
    val got = Graph.g4LabelProp(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == expected)
    // seeds never move, and each step only ever ADDS labels
    assert(got.filter(_._1 % Graph.lpSeedMod == 0L).forall(_._3 == 0))
    assert(got.exists(_._3 > 0), "propagation labeled no new node")
  }

  test("g5 personalized PageRank equals a brute seeded fixed-point replay") {
    val rows = Graph.copurchaseEdges(spark, sf)
      .select("src", "dst", "deg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val deg = rows.map(r => (r._1, r._3)).toMap
    val seeds = deg.toSeq.sortBy { case (pk, d) => (-d, pk) }
      .take(Graph.pprSeedK).map(_._1).toSet
    val restart = Graph.prOne * 15L / 100L
    var scores: Map[Long, Long] = seeds.map(_ -> Graph.prOne).toMap
    for (_ <- 1 to Graph.prIters) {
      val msgs = rows.flatMap { case (s, d, dg) =>
        scores.get(s).map(v => d -> v / dg)
      }.groupBy(_._1).view.mapValues(ms => 85L * ms.map(_._2).sum / 100L)
      scores = (msgs.keySet ++ seeds).map { pk =>
        pk -> (msgs.getOrElse(pk, 0L) + (if (seeds(pk)) restart else 0L))
      }.toMap
    }
    val expected = scores.toSeq.sortBy { case (pk, s) => (-s, pk) }.take(20)
    val got = Graph.g5Ppr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // restart mass keeps every seed alive in the final frame
    assert(seeds.forall(scores.contains))
    // personalization actually localizes: the frame stays a strict
    // subset of the full graph's vertex set after prIters supersteps,
    // or at minimum scores differ from uniform g1 (localized mass)
    assert(got.nonEmpty && got.forall(_._2 > 0L))
  }

  test("g6 RA link prediction matches hand-checkable wedges on a synthetic graph") {
    import spark.implicits._
    // path 1-2-3 plus square 4-5-6-7 (edges 4-5,5-6,6-7,4-7):
    // non-edges with common neighbors: (1,3) via 2; (4,6) via 5 and 7;
    // (5,7) via 4 and 6. All degrees 2 -> each neighbor adds 500000.
    val und = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 7L), (4L, 7L))
      .toDF("src", "dst")
    val got = Graph.linkPredict(und).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((4L, 6L, 2L, 1000000L), (5L, 7L, 2L, 1000000L),
      (1L, 3L, 1L, 500000L)))
  }

  test("g6 equals a brute RA/common-neighbor replay over the strong graph") {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs: Seq[(Long, Long)] = li.groupBy(_._1).values.toSeq.flatMap {
      order =>
        val ps = order.map(_._2).distinct.toSeq
        for (a <- ps; b <- ps if a < b) yield (a, b)
    }
    // .toSeq is load-bearing: Map.collect over a pair-valued PF would
    // rebuild a Map keyed on part_a and silently collapse the edge set
    val und = pairs.groupBy(identity).toSeq
      .collect { case (e, g) if g.size >= Graph.triMinSupport => e }.toSet
    val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val cand = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long)]
    adj.foreach { case (y, ns) =>
      if (deg(y) <= Graph.raDegCap)
        for (x <- ns; z <- ns if x < z && !und.contains((x, z))) {
          val (cn, ra) = cand.getOrElse((x, z), (0L, 0L))
          cand((x, z)) = (cn + 1, ra + 1000000L / deg(y))
        }
    }
    val brute = cand.toSeq
      .map { case ((a, b), (cn, ra)) => (a, b, cn, ra) }
      .sortBy { case (a, b, cn, ra) => (-ra, -cn, a, b) }
      .take(Graph.raTopK)
    val got = Graph.g6LinkPredict(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == brute && got.nonEmpty)
  }

  test("g7 edge Jaccard matches hand-checkable values on a synthetic graph") {
    import spark.implicits._
    // triangle 1-2-3 with pendant 4 on vertex 1:
    // edge (2,3): cn=1 (via 1), union = d2+d3-2-cn = 2+2-2-1 = 1 -> J=1
    // edges (1,2),(1,3): cn=1, union = 3+2-2-1 = 2 -> J=0.5
    // edge (1,4): no common neighbor -> not emitted
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = Graph.edgeJaccard(und).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((2L, 3L, 1L, 1.0), (1L, 2L, 1L, 0.5), (1L, 3L, 1L, 0.5)))
  }

  test("g7 equals a brute per-edge common-neighbor replay on the strong graph") {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs: Seq[(Long, Long)] = li.groupBy(_._1).values.toSeq.flatMap {
      order =>
        val ps = order.map(_._2).distinct.toSeq
        for (a <- ps; b <- ps if a < b) yield (a, b)
    }
    val und = pairs.groupBy(identity).toSeq
      .collect { case (e, g) if g.size >= Graph.triMinSupport => e }.toSet
    val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val brute = und.toSeq.flatMap { case (u, v) =>
      val cn = (adj(u) & adj(v)).size.toLong
      if (cn >= 1)
        Some((u, v, cn,
          r4(cn.toDouble / (adj(u).size + adj(v).size - 2 - cn).toDouble)))
      else None
    }.sortBy { case (u, v, _, j) => (-j, u, v) }.take(Graph.ejTopK)
    val got = Graph.g7EdgeJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == brute && got.nonEmpty)
  }

  test("g8 modularity equals a driver replay over g4's labels") {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val und: Set[(Long, Long)] = li.groupBy(_._1).values.toSeq.flatMap {
      order =>
        val ps = order.map(_._2).distinct.toSeq
        for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val deg = und.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val labels = Graph.g4LabelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = und.size.toLong
    val w = und.count { case (a, b) =>
      labels.contains(a) && labels.contains(b) && labels(a) == labels(b)
    }.toLong
    val d2l = labels.keys.toSeq.groupBy(labels).values
      .map(c => { val sd = c.map(v => deg.getOrElse(v, 0L)).sum; BigInt(sd) * sd })
      .sum
    val d2u = deg.collect { case (v, d) if !labels.contains(v) => BigInt(d) * d }.sum
    val q = w.toDouble / m.toDouble -
      (d2l + d2u).toDouble / (4.0 * m.toDouble * m.toDouble)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = Graph.g8Modularity(spark, sf).collect()(0)
    assert(r.getLong(1) == labels.size.toLong)
    assert(r.getLong(2) == m && r.getLong(3) == w)
    assert(math.abs(r.getDouble(4) - r4(q)) < 2e-4)
    // Q is within its theoretical range
    assert(r.getDouble(4) > -0.5001 && r.getDouble(4) < 1.0001)
  }

  test("g13 HITS equals a brute integer fixed-point replay") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byC = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val byP = pairs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val S = Graph.hitsScale
    var hubs = byC.keys.map(_ -> S).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to Graph.hitsIters) {
      val araw = byP.map { case (p, cs) => p -> cs.map(hubs).sum }
      val am = araw.values.max
      auth = araw.map { case (p, a) => p -> a * S / am }
      val hraw = byC.map { case (c, ps) => c -> ps.map(auth).sum }
      val hm = hraw.values.max
      hubs = hraw.map { case (c, h) => c -> h * S / hm }
    }
    val expected = auth.toSeq.sortBy { case (p, a) => (-a, p) }.take(20)
    val got = Graph.g13Hits(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // normalization holds: the top authority is exactly SCALE
    assert(got.head._2 == S)
  }

  test("g12 k-hop reachability equals a brute BFS replay") {
    val edges = Graph.strongEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // per-node reach sets, expanded one hop at a time
    var reach = adj
    val expected = (1 to Graph.khopMax).map { h =>
      if (h > 1)
        reach = reach.map { case (u, s) =>
          u -> (s ++ s.flatMap(v => adj.getOrElse(v, Set.empty)) - u)
        }
      val counts = reach.values.map(_.size.toLong)
      (h.toLong, reach.size.toLong, counts.sum,
        r4(counts.sum.toDouble / reach.size.toDouble), counts.max)
    }
    val got = Graph.g12KHop(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // reach grows (weakly) with the hop budget
    val avgs = got.map(_._4)
    assert(avgs.zip(avgs.tail).forall { case (a, b) => a <= b })
  }

  test("g14 distance distribution equals a brute BFS replay") {
    val edges = Graph.strongEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // per-node reach sets after each hop budget
    var reach = adj
    val perHop = (1 to Graph.khopMax).map { h =>
      if (h > 1)
        reach = reach.map { case (u, s) =>
          u -> (s ++ s.flatMap(v => adj.getOrElse(v, Set.empty)) - u)
        }
      reach.map { case (u, s) => u -> s.size.toLong }
    }
    val c1 = perHop(0); val c2 = perHop(1); val c3 = perHop(2)
    val eff = c1.keys.map { u =>
      u -> (if (c1(u) * 10 >= c3(u) * 9) 1
            else if (c2(u) * 10 >= c3(u) * 9) 2 else 3)
    }.toMap
    // .toSeq first: mapping over the KEY SET would collapse equal deltas
    val nNew = Seq(c1.values.sum,
      c1.keys.toSeq.map(u => c2(u) - c1(u)).sum,
      c1.keys.toSeq.map(u => c3(u) - c2(u)).sum)
    val nTot = c3.values.sum
    val expected = (1 to Graph.khopMax).map { h =>
      (h.toLong, nNew(h - 1),
        r4(nNew(h - 1).toDouble / nTot.toDouble),
        r4(nNew.take(h).sum.toDouble / nTot.toDouble),
        eff.values.count(_ == h).toLong)
    }
    val got = Graph.g14DistanceDist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // the distance CDF is monotone and ends at exactly 1.0
    assert(got.map(_._4).last == 1.0)
    // every vertex lands in exactly one effective-radius bucket
    assert(got.map(_._5).sum == c1.size.toLong)
  }

  test("g16 harmonic leaderboard equals a brute BFS replay") {
    val edges = Graph.strongEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var reach = adj
    val counts: Seq[Map[Long, Long]] = (1 to Graph.khopMax).map { h =>
      if (h > 1)
        reach = reach.map { case (u, s) =>
          u -> (s ++ s.flatMap(v => adj.getOrElse(v, Set.empty)) - u)
        }
      reach.map { case (u, s) => u -> s.size.toLong }
    }
    val expected = adj.keys.toSeq.map { u =>
      val c1 = counts(0)(u); val c2 = counts(1)(u); val c3 = counts(2)(u)
      (u, c1, c3, 6 * c1 + 3 * (c2 - c1) + 2 * (c3 - c2))
    }.sortBy(t => (-t._4, t._1)).take(Graph.harmonicTopK)
    val got = Graph.g16Harmonic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected && got.nonEmpty)
    // the integer harmonic is bounded by its reach counts: every
    // reached vertex contributes 2..6 of the 6-scaled weight
    got.foreach { case (_, _, c3, h6) =>
      assert(h6 >= 2 * c3 && h6 <= 6 * c3)
    }
  }

  test("g12 HLL mode tracks the exact census within 2% per hop") {
    val exact = Graph.g12KHop(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val hll = Graph.g12KHopHll(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(exact.length == Graph.khopMax && hll.length == Graph.khopMax)
    exact.zip(hll).foreach { case ((he, ne, pe, me), (hh, nh, ph, mh)) =>
      assert(he == hh && ne == nh) // vertex census is exact in both modes
      // hop-aggregate reach estimate inside the ±2% band
      assert(math.abs(ph - pe).toDouble / pe.toDouble <= 0.02,
        s"hop $he n_pairs: exact $pe vs hll $ph")
      // per-vertex max is a single sketch readout — wider band
      assert(math.abs(mh - me).toDouble / me.toDouble <= 0.10,
        s"hop $he max_reach: exact $me vs hll $mh")
    }
  }

  test("g12 HLL per-vertex state is flat across a 10x-wider key domain") {
    import spark.implicits._
    // ring + chords over 200 nodes; the widened twin spreads the SAME
    // topology over ids x1000 (a 10x+-wider key domain in bits)
    val n = 200
    val base = (0 until n).flatMap { i =>
      Seq((i.toLong, ((i + 1) % n).toLong), (i.toLong, ((i + 7) % n).toLong))
    }
    def symDf(scale: Long) = {
      val e = base.map { case (a, b) => (a * scale, b * scale) }
      (e ++ e.map(_.swap)).toDF("u", "v")
    }
    val p = graft.functions.HllReach.defaultP
    // exact per-vertex state GROWS with the domain ...
    val wordsNarrow = ((n - 1L) >> 6) + 1
    val wordsWide = ((n - 1L) * 1000L >> 6) + 1
    assert(wordsWide >= 10 * wordsNarrow)
    // ... the HLL register does not: 2^p bytes in both domains
    assert(new graft.functions.HllReach.NeighborHll(p).zero.length == (1 << p))
    // and the wide-domain estimates still track the brute BFS census
    val adj = (base ++ base.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var reach = adj
    val brute = (1 to Graph.khopMax).map { h =>
      if (h > 1)
        reach = reach.map { case (u, s) =>
          u -> (s ++ s.flatMap(v => adj.getOrElse(v, Set.empty)) - u)
        }
      reach.values.map(_.size.toLong).sum
    }
    val wide = Graph.khopCensusHll(spark, symDf(1000L), p).collect()
      .map(_.getLong(2))
    brute.zip(wide).foreach { case (b, w) =>
      assert(math.abs(w - b).toDouble / b.toDouble <= 0.02,
        s"wide-domain n_pairs: brute $b vs hll $w")
    }
  }

  test("HLL estimate error stays inside the register's design band") {
    val p = graft.functions.HllReach.defaultP
    val agg = new graft.functions.HllReach.NeighborHll(p)
    Seq(100L, 1000L, 20000L).foreach { card =>
      val reg = (0L until card).foldLeft(agg.zero)((b, k) =>
        agg.reduce(b, k * 7919L + 13L))
      val est = graft.functions.HllReach.estimate(reg)
      assert(math.abs(est - card) / card.toDouble <= 0.05,
        s"cardinality $card estimated as $est")
    }
  }

  test("g11 clustering census equals a brute neighbor-pair replay") {
    val edges = Graph.strongEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perNode = adj.toSeq.map { case (v, nbrs) =>
      val tri = nbrs.toSeq.combinations(2)
        .count { case Seq(a, b) => adj(a).contains(b) }.toLong
      (v, nbrs.size.toLong, tri)
    }
    val expected = perNode.filter(_._2 >= 2).groupBy(_._2).toSeq
      .map { case (d, ns) =>
        val sumT = ns.map(_._3).sum
        (d, ns.size.toLong, sumT,
          r4(2.0 * sumT.toDouble /
            (ns.size.toDouble * d.toDouble * (d - 1).toDouble)))
      }.sortBy(_._1)
    val got = Graph.g11Clustering(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected && got.nonEmpty)
    // every class average is a valid density
    assert(got.forall(g => g._4 >= 0.0 && g._4 <= 1.0))
  }

  test("g14 HLL branch tracks the exact distance distribution on a " +
      "synthetic graph") {
    import spark.implicits._
    // the flat-state ring+chords fixture (the g12 HLL proof graph)
    val n = 200
    val base = (0 until n).flatMap { i =>
      Seq((i.toLong, ((i + 1) % n).toLong), (i.toLong, ((i + 7) % n).toLong))
    }
    val sym = (base ++ base.map(_.swap)).toDF("u", "v").localCheckpoint()
    val exact = Graph.distanceDistFrom(spark, sym).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val hll = Graph.distanceDistFrom(spark, sym, forceHll = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    exact.zip(hll).foreach { case ((he, ne, _), (hh, nh, _)) =>
      assert(he == hh)
      // per-hop new-pair estimates inside a 3% band (a DIFFERENCE of
      // two ~1%-error sketch sums)
      assert(math.abs(nh - ne).toDouble / math.max(ne, 1L).toDouble <= 0.03,
        s"hop $he n_new_pairs: exact $ne vs hll $nh")
      // radius census: every vertex still lands in exactly one bucket
    }
    assert(hll.map(_._3).sum == n.toLong)
  }

  test("g15 power-law fit equals a brute degree-census MLE replay") {
    val edges = Graph.strongEdges(spark, sf)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = deg.size.toLong
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Graph.g15PowerlawFit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got.map(_._1) == Graph.plawDmins)
    got.foreach { case (dmin, nTail, share, alpha) =>
      val tail = deg.values.filter(_ >= dmin).toSeq
      assert(nTail == tail.length.toLong)
      assert(share == r4(nTail.toDouble / n.toDouble))
      // the engine reports 4 dp and its ln-sum order differs from the
      // brute's — compare inside the 4-dp half-ulp + float slack
      val lnsum = tail.map(d => math.log(d.toDouble / (dmin - 0.5))).sum
      assert(math.abs(alpha - (1.0 + nTail / lnsum)) < 1e-4,
        s"dmin=$dmin alpha $alpha vs brute ${1.0 + nTail / lnsum}")
      // a continuous-MLE exponent on a degree tail is > 1 by definition
      assert(alpha > 1.0)
    }
    // the fixture's tails are non-degenerate at every threshold
    assert(got.forall(_._2 > 0))
  }

  test("g18 truss peel equals a brute triangle-support replay") {
    import spark.implicits._
    val edges0 = Graph.strongEdges(spark, sf).select($"src", $"dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var es = edges0
    for (_ <- 1 to Graph.trussIters) {
      val byA = es.groupBy(_._1)
      val triEdges = es.toSeq.flatMap { case (a, b) =>
        byA.getOrElse(b, Set.empty).toSeq.collect {
          case (_, c) if es.contains((a, c)) =>
            Seq((a, b), (b, c), (a, c))
        }.flatten
      }
      val sup = triEdges.groupBy(identity).view.mapValues(_.size.toLong).toMap
      es = es.filter(e => sup.getOrElse(e, 0L) >= Graph.trussK - 2)
    }
    val expected = (es.toSeq.map(_._1) ++ es.toSeq.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.g18Truss(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toMap == expected && got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    // the truss is a subgraph of the input: degrees can only shrink
    val deg0 = (edges0.toSeq.map(_._1) ++ edges0.toSeq.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.forall { case (v, d) => d <= deg0(v) })
    // a truss vertex has ≥ trussK − 1 truss neighbors by definition,
    // and the fixture's truss is non-degenerate
    assert(got.nonEmpty && got.forall(_._2 >= Graph.trussK - 1))
  }

  test("g17 WCC census equals a brute union-find replay") {
    import spark.implicits._
    import graft.sources.Tables
    val edges = Graph.strongEdges(spark, sf).select($"src", $"dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parts = Tables.part(spark, sf).select($"p_partkey")
      .collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(parts.map(p => p -> p): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val sizes = parts.groupBy(find).map(_._2.length.toLong).toSeq
    val expected = sizes.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.g17Wcc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(g => (g._1, g._2)).toMap == expected)
    // row identity + the census accounts for every part exactly once
    assert(got.forall(g => g._3 == g._1 * g._2))
    assert(got.map(_._3).sum == parts.length.toLong)
    // the census is not degenerate: a non-trivial component exists
    // (singletons appear only when some part escapes every strong
    // edge, which the dense smoke fixture does not guarantee)
    assert(got.exists(_._1 > 1L))
  }
}
