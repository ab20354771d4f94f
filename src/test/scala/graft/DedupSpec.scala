package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.concat_ws
import graft.operators.Dedup
import graft.sources.Tables

/** MinHash/LSH correctness: the Spark pipeline must reproduce an
  * independent scalar replay of the same hash scheme, and the exact
  * Jaccard scores it reports must match set arithmetic. */
class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private def shinglesOf(text: String): Seq[String] = {
    val t = text.toLowerCase.split(" ", -1).toSeq
    if (t.length < 3) Seq.empty
    else t.sliding(3).map(_.mkString(" ")).toSeq
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Scalar replay of Dedup.signaturesOf for one document. */
  private def signatureOf(text: String): Seq[Long] = {
    val hs = shinglesOf(text).map { s =>
      val h = md5hex(s)
      (java.lang.Long.parseLong(h.substring(0, 8), 16),
        java.lang.Long.parseLong(h.substring(8, 16), 16))
    }
    (0 until Dedup.numHashes).map { i =>
      hs.map { case (h1, h2) => (h1 + i * h2) % Dedup.hashMod }.min
    }
  }

  test("Spark signatures equal the scalar replay bit-for-bit") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"),
      (3L, "the quick brown fox jumps over the lazy cat"))
    val df = texts.toDF("doc_id", "text")
    val shRows = df.select($"doc_id",
      org.apache.spark.sql.functions.explode(Dedup.shingles($"text")).as("s"))
    val got = Dedup.signaturesOf(shRows).collect()
      .map(r => r.getLong(0) -> (1 to Dedup.numHashes).map(r.getLong(_)))
      .toMap
    texts.foreach { case (id, text) =>
      assert(got(id) == signatureOf(text), s"doc $id signature mismatch")
    }
  }

  test("shingles expression matches sliding-window semantics") {
    import spark.implicits._
    val texts = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "one two three"))
    val got = texts.toDF("doc_id", "text")
      .select($"doc_id", Dedup.shingles($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == shinglesOf(t), s"doc $id")
    }
  }

  test("d23 weighted jaccard equals a brute idf-weighted set replay on d4's pairs") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sets = docs.map { case (id, t) => id -> shinglesOf(t).toSet }.toMap
    val n = docs.length.toLong
    val df = sets.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def w(s: String): Long = n / df(s) // integer division, both engines
    val pairs = Dedup.d4LshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = pairs.map { case (a, b) =>
      val wi = sets(a).intersect(sets(b)).toSeq.map(w).sum
      val (wa, wb) = (sets(a).toSeq.map(w).sum, sets(b).toSeq.map(w).sum)
      (a, b, wi, wa + wb - wi, r4(wi.toDouble / (wa + wb - wi).toDouble))
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = Dedup.d23WeightedJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // the weighting is doing something: at least one pair where the
    // weighted score differs from the unweighted jaccard
    val plain = pairs.map { case (a, b) =>
      val i = sets(a).intersect(sets(b)).size
      r4(i.toDouble / (sets(a).size + sets(b).size - i).toDouble)
    }
    assert(got.map(_._5).zip(plain).exists { case (wj, j) => wj != j })
  }

  test("d5 jaccard scores equal exact set arithmetic on the fixture corpus") {
    import spark.implicits._
    val pairs = Dedup.d5Jaccard(spark, sf).collect()
    assert(pairs.nonEmpty, "fixture corpus has planted near-dups; d5 found none")
    val texts = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.foreach { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (sa, sb) = (shinglesOf(texts(a)).toSet, shinglesOf(texts(b)).toSet)
      val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(j >= 0.5 && math.abs(j - exact) < 5e-5,
        s"pair ($a,$b): reported $j vs exact $exact")
    }
  }

  test("sharedSigs cache survives a session stop: second session recomputes (forked JVM)") {
    // must fork: the shared TestSpark session can't be stopped in-process
    val (rc, out) = ForkedJvm.run("graft.TwoSessionCheck", sf)
    assert(rc == 0 && out.contains("TWO_SESSION_OK"),
      s"two-session check failed (rc=$rc):\n${out.takeRight(3000)}")
  }

  test("decontaminatePairs counts shared shingles and DF-caps boilerplate") {
    import spark.implicits._
    // test docs are ids % 20 == 0. Shingle "bp" appears in 101 test docs
    // (> maxShingleDf) so it must not count as contamination; doc 3
    // would score 3 shared with doc 20 if the cap leaked it.
    val boiler = (1 to (Dedup.maxShingleDf + 1)).map(i => (i * 20L, "bp"))
    val rows = boiler ++ Seq(
      (20L, "x1"), (20L, "x2"), (20L, "q1"), (20L, "q2"),
      (1L, "x1"), (1L, "x2"),          // → (1, 20, 2)
      (2L, "x1"),                      // 1 shared < minSharedShingles
      (3L, "bp"), (3L, "q1"), (3L, "q2")) // bp capped → (3, 20, 2)
    val got = Dedup.decontaminatePairs(rows.toDF("doc_id", "s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 20L, 2L), (3L, 20L, 2L)))
  }

  test("d10 bloom decontamination equals d7's pair set rolled up per train doc") {
    val expect = Dedup.d7Decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (train, ps) => (train, ps.length.toLong, ps.map(_._3).sum) }
      .toSet
    val got = Dedup.d10BloomDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty,
      "bloom prefilter changed the verified decontamination output")
  }

  test("d12 containment equals a brute shingle-set replay on the fixture corpus") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sets = docs.map { case (id, t) => id -> shinglesOf(t).toSet }.toMap
    val df = sets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val rare = df.filter(_._2 <= Dedup.maxShingleDf).keySet
    val ids = docs.map(_._1).sorted
    val expected = (for {
      i <- ids.indices; j <- i + 1 until ids.length
      a = ids(i); b = ids(j)
      if sets(a).intersect(sets(b)).exists(rare)
      inter = sets(a).intersect(sets(b)).size.toLong
      cMin = inter.toDouble / math.min(sets(a).size, sets(b).size)
      if cMin >= Dedup.containmentMin
    } yield (a, b, inter, sets(a).size.toLong, sets(b).size.toLong,
      BigDecimal(cMin).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq
    val got = Dedup.d12Containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("d13 contamination score equals a brute per-doc set replay") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sets = docs.map { case (id, t) => id -> shinglesOf(t).toSet }.toMap
    val trainVocab = docs.collect {
      case (id, _) if id % Dedup.testModulus != 0 => sets(id)
    }.flatten.toSet
    val expected = docs.collect {
      case (id, _) if id % Dedup.testModulus == 0 && sets(id).nonEmpty =>
        val n = sets(id).size.toLong
        val hits = sets(id).count(trainVocab).toLong
        (id, n, hits,
          BigDecimal(hits.toDouble / n)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toSeq
    val got = Dedup.d13ContaminationScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    assert(got.nonEmpty, "no test docs scored")
    assert(got.exists(_._4 > 0.0), "degenerate fixture: zero contamination everywhere")
  }

  test("d8 components: pair members share a cluster, id = min, one rep each") {
    import spark.implicits._
    val assign = Dedup.d8Components(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.d5Jaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every confirmed near-dup pair landed in the same cluster
    pairs.foreach { case (a, b) =>
      assert(assign(a) == assign(b), s"pair ($a,$b) split across clusters")
    }
    // transitivity beyond single pairs: chained pairs {a,b},{b,c} merge
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
    pairs.foreach { case (a, b) =>
      adj.getOrElse(b, Array.empty).map(_._2).filter(_ != a).foreach { c =>
        assert(assign(a) == assign(c), s"chain $a-$b-$c not merged")
      }
    }
    // cluster id is the min member; exactly one representative per cluster
    assign.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"cluster $cid is not its min member")
      assert(members.keys.count(_ == cid) == 1)
    }
    // singletons (docs in no pair) are their own cluster
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assign.filterNot(kv => paired(kv._1)).foreach { case (d, c) =>
      assert(d == c, s"singleton $d assigned to foreign cluster $c")
    }
  }

  test("d11 verdict cascade: exact beats near beats new, on synthetic ingest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ids ≡ 0 (mod 5) are "incoming": 10 = exact copy of old 11;
    // 20 = near-dup of old 21 (one word changed); 30 = genuinely new
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (10L, base), (11L, base),
      (20L, base.replace("kappa", "lambda")), (21L, base),
      (30L, "completely different text with none of the shared words at all " * 3))
      .toDF("doc_id", "text")
    val hashes = docs.select($"doc_id",
      md5(regexp_replace(trim(lower($"text")), "\\s+", " ")).as("ch"))
    val buckets = Dedup.bandRows(Dedup.signaturesOf(
      docs.select($"doc_id", explode(Dedup.shingles($"text")).as("s")).distinct()))
    val got = Dedup.incrementalVerdicts(hashes, buckets).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "exact_dup", 20L -> "near_dup", 30L -> "new"))
  }

  test("d15 line dedup equals a brute segmentation replay") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lines(t: String): Seq[String] =
      t.toLowerCase.split(" ", -1).grouped(Dedup.lineLen)
        .map(_.mkString(" ")).toSeq
    val dupSet = docs.flatMap { case (id, t) => lines(t).map(_ -> id) }
      .distinct.groupBy(_._1)
      .filter(_._2.length >= Dedup.lineDupDocs).keySet
    val expected = docs.map { case (id, t) =>
      val ls = lines(t)
      val kept = ls.filterNot(dupSet)
      (id, ls.size.toLong, kept.size.toLong, kept.mkString(" "))
    }.sortBy(_._1).toSeq
    val got = Dedup.d15LineDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == expected)
    // the fixture must actually exercise the drop path
    assert(expected.exists(r => r._3 < r._2))
  }

  test("d16 duplicate weights sum to the distinct-content count") {
    val rows = Dedup.d16DupWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    val byHash = rows.groupBy(_._2)
    // multiplicity is consistent and the canonical member is min doc_id
    byHash.foreach { case (_, xs) =>
      assert(xs.forall(_._3 == xs.length.toLong))
      assert(xs.filter(_._5 == 1).map(_._1).toSeq == Seq(xs.map(_._1).min))
    }
    // weights: 1/n rounded, and group weight mass ~ 1
    rows.foreach { case (_, _, n, w, _) =>
      assert(w == BigDecimal(1.0 / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
  }

  test("identical documents collapse to one exact-dedup group") {
    import spark.implicits._
    val df = Seq((1L, "Same  Text here"), (2L, "same text HERE"), (3L, "other"))
      .toDF("doc_id", "text")
    val groups = df
      .withColumn("content_hash", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.regexp_replace(
          org.apache.spark.sql.functions.trim(
            org.apache.spark.sql.functions.lower($"text")), "\\s+", " ")))
      .groupBy($"content_hash").count().collect()
    assert(groups.length == 2 && groups.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
  }

  test("d18 LSH sweep: monotone tradeoff, truth-by-construction, d4 agreement") {
    val rows = Dedup.d18LshTuning(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(x => (x._1, x._2)).toSeq == Dedup.lshSweep)
    // more bands → more candidates (monotone down the sweep)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-_).toSeq)
    // found never exceeds candidates, and recall/precision are consistent
    rows.foreach { case (_, _, nc, nf, rec, prec) =>
      assert(nf <= nc)
      if (nc > 0) assert(math.abs(prec - nf.toDouble / nc) < 1e-4)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // truth is scored over the widest config's candidates, so (8,1)
    // recall is 1.0 by construction
    assert(rows.head._5 == 1.0)
    // the production 4×2 config: candidate count equals d4's pair count
    // (the maxBucket cap never binds on this fixture)
    val d4n = Dedup.d4LshPairs(spark, sf).count()
    val c42 = rows.find(x => x._1 == 4 && x._2 == 2).get._3
    assert(c42 == d4n, s"sweep (4,2) $c42 vs d4 $d4n")
  }

  test("d17 fidelity audit composes d4's estimates with d5's exact measure") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Dedup.d17MinhashFidelity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    // same pair set and identical estimates as d4
    val d4 = Dedup.d4LshPairs(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.map(x => (x._1, x._2)).toSet == d4.keySet)
    got.foreach { case (a, b, est, _, _) => assert(est == d4((a, b))) }
    // exact jaccard agrees with d5 on every pair d5 keeps (>= 0.5)
    val d5 = Dedup.d5Jaccard(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.filter(_._4 >= 0.5).foreach { case (a, b, _, tj, _) =>
      assert(d5((a, b)) == tj) }
    assert(got.count(_._4 >= 0.5) == d5.size)
    // the error column is exactly |est - true| on the 4-dp grid, and
    // the k=8 sketch is in its theoretical noise band on average
    got.foreach { case (_, _, est, tj, err) =>
      assert(err == r4(math.abs(est - tj))) }
    val meanErr = got.map(_._5).sum / got.length
    assert(got.nonEmpty && meanErr < 0.35, s"mean |err| $meanErr")
  }

  /** Driver replay of the winnowing fingerprint set for one text. */
  private def winnowFps(text: String): Set[Long] = {
    val toks = text.toLowerCase.split(" ")
    val grams = toks.sliding(3).map(_.mkString(" ")).toArray
    val hs = grams.map { g =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    if (hs.length < Dedup.winnowW) Set.empty
    else hs.sliding(Dedup.winnowW).map(_.min).toSet
  }

  test("d19 winnowing pairs match a brute per-document fingerprint replay") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val fps = docs.map { case (id, t) => id -> winnowFps(t) }.toMap
    val expected = (for {
      (a, fa) <- fps.toSeq; (b, fb) <- fps.toSeq if a < b
      n = (fa intersect fb).size.toLong if n >= Dedup.winnowMinShared
    } yield (a, b, n)).sortBy(p => (p._1, p._2))
    val got = Dedup.d19Winnowing(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("d20 substring pairs match a brute replay; run >= k+stride-1 guaranteed") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // brute replay on the fixture
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= Dedup.subK)
    val te = docs.filter(_._1 % Dedup.testModulus == 0).map { case (id, t) =>
      id -> (0 to t.length - Dedup.subK)
        .map(i => md5hex(t.substring(i, i + Dedup.subK))).toSet
    }
    val tr = docs.filter(_._1 % Dedup.testModulus != 0).map { case (id, t) =>
      id -> (0 to t.length - Dedup.subK by Dedup.subStride)
        .map(i => md5hex(t.substring(i, i + Dedup.subK))).toSet
    }
    val expected = (for {
      (a, ha) <- tr; (b, hb) <- te
      n = (ha intersect hb).size.toLong if n > 0
    } yield (a, b, n)).sortBy(p => (p._1, p._2)).toSeq
    val got = Dedup.d20SubstringContamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "fixture contains no verbatim leak — gate not exercised")
    // constructed guarantee: a 47-char shared run (k+stride-1) pairs;
    // disjoint text does not. test ids are multiples of testModulus.
    val run = "the quick brown fox jumps over the lazy dog idx"  // 48 chars
    val syn = Seq(
      (1L, s"totally unrelated training prefix text ${run} and a suffix tail here"),
      (20L, s"eval question referencing ${run} inside its body, padded to length"),
      (40L, "another eval doc with no overlap at all, padded out to be long enough"))
      .toDF("doc_id", "text")
    val pairs = Dedup.substringPairs(syn).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 20L)))
    assert(!pairs.exists(_._2 == 40L))
  }

  test("d19 winnowing guarantee: a shared run of >= w+k-1 tokens always pairs") {
    import spark.implicits._
    // 16 shared tokens = 14 shared 3-grams = 11 full shared windows of
    // 4 — the Schleimer et al. positional guarantee (>= 1 shared
    // fingerprint per shared run of w+k-1 tokens, which MinHash
    // sampling does NOT give), with enough slack to clear the
    // production n_shared >= 2 reporting floor deterministically
    val run = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi"
    val docs = Seq(
      (1L, s"unrelated prefix tokens one two three $run"),
      (2L, s"$run completely different suffix goes here now"),
      (3L, "nothing in common with the others at all whatsoever")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("d22 cluster census conserves documents and matches the component assignment") {
    import spark.implicits._
    val ca = Dedup.componentAssignment(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = ca.groupBy(_._2).values.map(_.size.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (szv, n) => (szv, n, szv * n) }.sortBy(_._1)
    val got = Dedup.d22ClusterCensus(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // every document appears in exactly one cluster
    assert(got.map(_._3).sum == ca.length.toLong)
    // near-dup families exist in the fixture (some cluster size > 1)
    assert(got.exists(_._1 > 1L))
  }

  test("d21 canonicalizes identical descriptors and pairs exactly word-hamming <= 1") {
    import spark.implicits._
    val names = Seq(
      (1L, "a b c"), (2L, "a b c"), // identical: one canonical group
      (3L, "a b d"),                // hamming 1 vs group {1,2}
      (4L, "a x d"),                // hamming 1 vs 3, hamming 2 vs {1,2}
      (5L, "a b c d"),              // different word count: never pairs
      (6L, "q r s")).toDF("key", "name")
    val got = Dedup.fuzzyNamePairs(names).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.toSet == Set((1L, 3L, 2L, 1L, 1), (3L, 4L, 1L, 1L, 1)))
  }

  test("d21 blocking equals the brute quadratic over canonical groups on the fixture") {
    import spark.implicits._
    val descs = Tables.part(spark, sf)
      .select($"p_partkey", concat_ws(" ", $"p_name", $"p_brand", $"p_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val groups = descs.groupBy(_._2).map { case (name, g) =>
      (g.map(_._1).min, g.length.toLong, name.split(" ").toSeq)
    }.toSeq
    val brute = (for {
      a <- groups; b <- groups
      if a._1 < b._1 && a._3.length == b._3.length
      d = a._3.zip(b._3).count { case (x, y) => x != y }
      if d <= 1
    } yield (a._1, b._1, a._2, b._2, d)).toSet
    val got = Dedup.d21FuzzyNames(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(got == brute && got.nonEmpty)
  }

  test("d24 dup-growth curve equals a brute first-occurrence replay") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val firstOf = docs.groupBy(d => norm(d._2))
      .map { case (k, ds) => k -> ds.map(_._1).min }
    val mn = docs.map(_._1).min; val mx = docs.map(_._1).max
    val span = mx - mn + 1
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (1 to 10).map { i =>
      val c = mn - 1 + span * i / 10
      val in = docs.filter(_._1 <= c)
      val dup = in.count(d => firstOf(norm(d._2)) < d._1).toLong
      (i.toLong, c, in.length.toLong, dup,
        r4(dup.toDouble / in.length.toDouble))
    }
    val got = Dedup.d24DupGrowth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    // cumulative counts never shrink and the fraction is a fraction
    val ns = got.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a <= b })
    assert(got.forall(g => g._5 >= 0.0 && g._5 <= 1.0))
  }

  test("CacheScope: per-query persists drain; session-shared sigs survive") {
    CacheScope.drain() // clean slate from earlier tests
    val d = Dedup.d17MinhashFidelity(spark, sf)
    d.write.format("noop").mode("overwrite").save()
    assert(CacheScope.liveCount > 0, "d17's scoped persists were not tracked")
    val n = CacheScope.drain()
    assert(n > 0 && CacheScope.liveCount == 0)
    // the deliberate session-scoped signature frames are NOT drained
    val (sh, _) = Dedup.sharedSigs(spark, sf)
    assert(sh.storageLevel.useMemory || sh.storageLevel.useDisk,
      "session-shared shingle frame lost its persist level after drain")
    // and the query recomputes identically on a cold cache
    assert(Dedup.d17MinhashFidelity(spark, sf).count() == d.count())
    CacheScope.drain()
  }

  test("GraftMinHash fit reproduces the d18 sweep and picks its F1-best config") {
    import graft.ml.feature.GraftMinHash
    val docs = Tables.documents(spark, sf)
    val model = new GraftMinHash().setIdCol("doc_id").setTextCol("text")
      .fit(docs)
    val d18 = Dedup.d18LshTuning(spark, sf).collect()
      .map(r => Array[Double](r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    // same sweep core on the same sample → identical table
    assert(model.sweep.map(_.toSeq).sortBy(-_.head).toSeq ==
      d18.map(_.toSeq).toSeq)
    def f1(r: Array[Double]): Double =
      if (r(4) + r(5) == 0.0) 0.0 else 2.0 * r(4) * r(5) / (r(4) + r(5))
    val best = model.sweep.minBy(r => (-f1(r), r(2), r(0)))
    assert((model.numBands, model.rowsPerBand) ==
      ((best(0).toInt, best(1).toInt)))
    assert(Dedup.lshSweep.contains((model.numBands, model.rowsPerBand)))
    CacheScope.drain()
  }

  test("GraftMinHash transform bands equal the exploded-aggregate derivation " +
    "and the model round-trips") {
    import graft.ml.feature.{GraftMinHash, GraftMinHashModel}
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val docs = Tables.documents(spark, sf)
    val model = new GraftMinHash().setIdCol("doc_id").setTextCol("text")
      .setBandsCol("bands").fit(docs)
    val (b, r) = (model.numBands, model.rowsPerBand)
    // aggregate-path bands at the chosen config (the d4/d18 derivation)
    val sigs = Dedup.signaturesOf(
      docs.select($"doc_id", explode(Dedup.shingles($"text")).as("s")))
    val bandCols = (0 until b).map { i =>
      md5(concat_ws("|",
        (0 until r).map(j => col(s"sig${i * r + j}")): _*)).as(s"b$i")
    }
    val expected = sigs.select(col("doc_id") +: bandCols: _*).collect()
      .map(x => (x.getLong(0),
        (0 until b).map(i => x.getString(i + 1)).toSeq)).toMap
    val got = model.transform(docs).select($"doc_id", $"bands").collect()
      .map(x => (x.getLong(0),
        Option(x.getSeq[String](1)).map(_.toSeq))).toMap
    assert(got.size == docs.count())
    expected.foreach { case (id, bands) =>
      assert(got(id).contains(bands), s"band mismatch for doc $id")
    }
    // docs absent from the aggregate path (< 3 tokens) must be null
    (got.keySet -- expected.keySet).foreach { id =>
      assert(got(id).isEmpty, s"doc $id has no shingles but non-null bands")
    }
    // persistence round-trip preserves the learned plan and transform
    val dir = java.nio.file.Files.createTempDirectory("gmh").toString
    model.write.overwrite().save(s"$dir/m")
    val loaded = GraftMinHashModel.load(s"$dir/m")
    assert(loaded.numBands == model.numBands &&
      loaded.rowsPerBand == model.rowsPerBand &&
      loaded.sweep.map(_.toSeq).toSeq == model.sweep.map(_.toSeq).toSeq)
    val reGot = loaded.transform(docs).select($"doc_id", $"bands").collect()
      .map(x => (x.getLong(0),
        Option(x.getSeq[String](1)).map(_.toSeq))).toMap
    assert(reGot == got)
    CacheScope.drain()
  }

  test("d25 simhash pairs equal a brute 64-bit pack/band/Hamming replay") {
    import TestSpark.spark.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sim64(text: String): Long = {
      val counts = Array.fill(64)(0)
      text.toLowerCase.split(" ", -1).foreach { t =>
        val hx = md5hex(t)
        val hlo = java.lang.Long.parseLong(hx.substring(0, 8), 16)
        val hhi = java.lang.Long.parseLong(hx.substring(8, 16), 16)
        (0 until 32).foreach { i =>
          counts(i) += (if (((hlo >> i) & 1L) == 1L) 1 else -1)
          counts(i + 32) += (if (((hhi >> i) & 1L) == 1L) 1 else -1)
        }
      }
      (0 until 64).foldLeft(0L)((acc, i) =>
        if (counts(i) > 0) acc | (1L << i) else acc)
    }
    val sims = docs.map { case (id, t) => id -> sim64(t) }.toMap
    val banded = sims.toSeq.flatMap { case (id, s) =>
      (0 until Dedup.simhashBands)
        .map(b => ((b, (s >> (b * 16)) & 65535L), id, s))
    }
    val okKeys = banded.groupBy(_._1)
      .filter(_._2.size <= Dedup.maxBucket).keySet
    val cand = banded.filter(r => okKeys(r._1)).groupBy(_._1).values
      .flatMap { rows =>
        val ds = rows.map(r => (r._2, r._3))
        for { a <- ds; b <- ds if a._1 < b._1 }
          yield (a._1, b._1, a._2, b._2)
      }.toSet
    val expected = cand.toSeq
      .map { case (a, b, sa, sb) =>
        (a, b, java.lang.Long.bitCount(sa ^ sb))
      }
      .filter(_._3 <= Dedup.simhashMaxHam).sortBy(t => (t._1, t._2))
    val got = Dedup.d25SimhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expected && got.nonEmpty)
    // pairs are canonical and within the verified Hamming radius
    assert(got.forall(p => p._1 < p._2 && p._3 <= Dedup.simhashMaxHam))
  }
}
