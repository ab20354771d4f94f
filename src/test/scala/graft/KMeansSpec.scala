package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KMeans
import graft.sources.Tables

/** Semantics guards for D67: the distributed Lloyd rounds must equal a
  * sequential driver replay exactly (the integer-sum determinism
  * claim), and the census must conserve the corpus. */
class KMeansSpec extends AnyFunSuite {
  import TestSpark._

  private def bruteFit(kk: Int = KMeans.k): (Array[Array[Double]], Array[Long]) = {
    import TestSpark.spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val d = vecs.head._2.length
    def q(v: Double) = math.floor(v * KMeans.qScale).toLong
    def mean(s: Long, n: Long) = (s.toDouble / n.toDouble) / KMeans.qScale
    var cents = vecs.take(kk).map(_._2.map(v => mean(q(v), 1L)))
    val counts = Array.fill(kk)(0L)
    for (_ <- 1 to KMeans.iters) {
      def dot(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      val assign = vecs.map { case (_, e) =>
        (0 until kk).map { cid =>
          (dot(cents(cid), cents(cid)) - 2 * dot(e, cents(cid)), cid)
        }.min._2
      }
      val next = Array.tabulate(kk) { cid =>
        val members = vecs.indices.filter(assign(_) == cid)
        counts(cid) = members.size.toLong
        if (members.isEmpty) cents(cid)
        else Array.tabulate(d) { pos =>
          mean(members.map(m => q(vecs(m)._2(pos))).sum, members.size.toLong)
        }
      }
      cents = next
    }
    (cents, counts)
  }

  test("p8 census equals a sequential Lloyd replay (counts and 4-dp norms)") {
    val (cents, counts) = bruteFit()
    val expected = (0 until KMeans.k).map { cid =>
      val norm = math.sqrt(cents(cid).map(x => x * x).sum)
      (cid, counts(cid),
        BigDecimal(norm).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = KMeans.p8Kmeans(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("p8 census conserves the corpus and forms >1 cluster") {
    val rows = KMeans.p8Kmeans(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.embeddings(spark, sf).count())
    assert(rows.count(_.getLong(1) > 0) > 1, "degenerate single-cluster fit")
  }

  test("d14 k formula: max(8, ceil(n/100)), and the fixture fit uses it") {
    assert(KMeans.semK(1L) == 8)
    assert(KMeans.semK(500L) == 8)        // this fixture: unchanged k
    assert(KMeans.semK(801L) == 9)        // first count that outgrows 8
    assert(KMeans.semK(2000L) == 20)      // sf0.1
    assert(KMeans.semK(2000000L) == 20000) // 100TB-ish posture: k ~ n/100
  }

  test("d14 semdedup equals a brute within-cluster cosine replay") {
    import TestSpark.spark.implicits._
    val kk = KMeans.semK(Tables.embeddings(spark, sf).count())
    val (cents, _) = bruteFit(kk)
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    // assign against the FINAL centroids (what d14 does post-fit)
    val asg = vecs.map { case (id, e) =>
      val cid = (0 until kk).map { c =>
        (dot(cents(c), cents(c)) - 2 * dot(e, cents(c)), c)
      }.min._2
      (id, cid, e, math.sqrt(dot(e, e)))
    }
    def rnd(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = asg.flatMap { case (vid, cid, ev, nv) =>
      val wits = asg.filter { case (uid, ucid, _, _) =>
        ucid == cid && uid < vid }
        .map { case (uid, _, eu, nu) =>
          (uid, rnd(dot(eu, ev) / (nu * nv))) }
        .filter(_._2 >= KMeans.semTau)
      if (wits.isEmpty) None
      else {
        val (bid, bcos) = wits.minBy { case (uid, c) => (-c, uid) }
        Some((vid, cid, bid, bcos))
      }
    }.sortBy(_._1).toSeq
    val got = KMeans.d14SemDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    assert(expected.nonEmpty, "fixture produced no semantic dups")
  }

  test("GraftKMeans estimator: fit/transform agree with the census; persistence round-trips") {
    import TestSpark.spark.implicits._
    import graft.ml.feature.{GraftKMeans, GraftKMeansModel}
    val emb = Tables.embeddings(spark, sf)
    val model = new GraftKMeans()
      .setK(KMeans.k).setMaxIter(KMeans.iters)
      .setInputCol("embedding").setPredictionCol("cluster")
      .setOrderCol("vec_id")
      .fit(emb)
    // transform assigns by the FINAL centroids (one step past the last
    // fit-loop assignment, whose counts clusterSizes records): verify
    // per-row against a driver argmin replay on model.centroids
    val sizes = model.transform(emb).groupBy($"cluster")
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val expectedSizes = emb.select($"embedding".cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
      .map { e =>
        model.centroids.indices.map { cid =>
          val c = model.centroids(cid)
          (dot(c, c) - 2 * dot(e, c), cid)
        }.min._2
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(sizes == expectedSizes, s"transform sizes $sizes != $expectedSizes")
    assert(model.clusterSizes.sum == emb.count())
    // the recorded fit-loop sizes are the p8 census counts
    val census = KMeans.p8Kmeans(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(model.clusterSizes.zipWithIndex.map(_.swap).toMap == census)

    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans").toString
    model.write.overwrite().save(s"$dir/model")
    val loaded = GraftKMeansModel.load(s"$dir/model")
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq, "centroids drifted through parquet")
    val reTransformed = loaded.transform(emb).groupBy($"cluster")
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(reTransformed == sizes, "loaded model transforms differently")

    new GraftKMeans().setK(3).setMaxIter(2).setInputCol("embedding")
      .setOrderCol("vec_id").write.overwrite().save(s"$dir/est")
    val est = GraftKMeans.load(s"$dir/est")
    assert(est.getK == 3 && est.get(est.maxIter).contains(2) &&
      est.get(est.orderCol).contains("vec_id"))
  }
}
