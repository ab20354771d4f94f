package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{PackDoc, Pipeline, TextAnalysis}
import graft.sources.Tables

/** Invariants of the sequence packer (c3) that the row-level oracle
  * hash can't state directly: budget respected, packing greedy, no doc
  * lost. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("packFold invariants hold on arbitrary token lists (property)") {
    val budget = 100L
    val gen = Gen.listOf(Gen.chooseNum(1L, 250L)) // includes oversized docs
    val prop = Prop.forAll(gen) { toks =>
      val docs = toks.zipWithIndex.map { case (t, i) => PackDoc(0L, i.toLong, t) }
      val out = Pipeline.packFold(docs.iterator, budget).toList
      val lossless = out.map(_.doc_id) == docs.map(_.doc_id)
      val seqs = out.groupBy(_.seq_id)
      val monotone = out.map(_.seq_id) == out.map(_.seq_id).sorted
      val budgetOk = seqs.values.forall(s =>
        s.map(_.toks).sum <= budget || s.length == 1)
      val greedy = out.sliding(2).forall {
        case List(a, b) if b.seq_id == a.seq_id + 1 =>
          seqs(a.seq_id).map(_.toks).sum + b.toks > budget
        case _ => true
      }
      lossless && monotone && budgetOk && greedy
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("c3 packing: budget respected, greedy, lossless") {
    val rows = Pipeline.c3PackSequences(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("seq_id"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("toks")))
    assert(rows.nonEmpty)
    // lossless: every document appears exactly once
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).distinct.length.toLong == nDocs)
    val bySeq = rows.groupBy(t => (t._1, t._2))
    bySeq.foreach { case ((b, s), ds) =>
      val total = ds.map(_._4).sum
      // a sequence may exceed the budget only as a single oversized doc
      assert(total <= Pipeline.packBudget || ds.length == 1,
        s"bucket $b seq $s overfilled: $total tokens over ${ds.length} docs")
    }
    // greedy: the first doc of sequence n+1 would have overflowed
    // sequence n (docs are packed in ascending doc_id within a bucket)
    rows.groupBy(_._1).foreach { case (b, ds) =>
      val inOrder = ds.sortBy(_._3)
      inOrder.sliding(2).foreach {
        case Array((_, s1, _, _), (_, s2, id2, t2)) if s2 == s1 + 1 =>
          val fillPrev = inOrder.filter(_._2 == s1).map(_._4).sum
          assert(fillPrev + t2 > Pipeline.packBudget,
            s"bucket $b: doc $id2 started seq $s2 but would have fit seq $s1")
        case _ =>
      }
    }
  }

  test("m4 shard manifest: lossless, budget-respected, modality-pure") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), octet_length(encode(col("text"), "UTF-8")).as("nb"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong)
    val rows = graft.operators.Multimodal.m4ShardManifest(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq("audio", "image", "video"))
    // lossless: blob counts and bytes reconcile with the corpus
    assert(rows.map(_._3).sum == docs.length.toLong)
    assert(rows.map(_._4).sum == docs.map(_._2).sum)
    // budget: a shard exceeds it only as a single oversized blob
    rows.foreach { case (m, s, n, b) =>
      assert(b <= graft.operators.Multimodal.shardBudget || n == 1,
        s"shard ($m, $s) overfilled: $b bytes over $n blobs")
    }
    // shard ids are dense from 0 within each modality
    rows.groupBy(_._1).foreach { case (m, ss) =>
      assert(ss.map(_._2).sorted.toSeq == (0L until ss.length).toSeq, m)
    }
  }

  test("m5 interleaved packing: joint text+patch costs, budget respected, lossless") {
    import TestSpark.spark.implicits._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // joint cost replay: text tokens + ceil(bytes/64) patch tokens
    val cost = docs.map { case (id, t) =>
      id -> (t.split(" ", -1).length.toLong +
        math.ceil(t.getBytes("UTF-8").length / Multimodal.patchBytes).toLong)
    }.toMap
    val packed = Multimodal.m5InterleavedPack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // lossless: every doc packed exactly once
    assert(packed.map(_._3).sum == docs.length.toLong)
    // totals replay the joint cost per (bucket, seq) via a driver fold
    val byBucket = docs.map { case (id, _) =>
      (id % graft.operators.Pipeline.packBuckets, id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expected = byBucket.toSeq.flatMap { case (b, ids) =>
      var seq = 0L; var fill = 0L
      val out = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
      ids.foreach { id =>
        val c = cost(id)
        if (fill > 0 && fill + c > Multimodal.interleavedBudget) { seq += 1; fill = 0 }
        fill += c
        val k = (b, seq)
        val (n0, t0) = out.getOrElse(k, (0L, 0L))
        out(k) = (n0 + 1, t0 + c)
      }
      out.toSeq.map { case ((bb, ss), (n, t)) => (bb, ss, n, t) }
    }.sortBy(x => (x._1, x._2))
    assert(packed.toSeq == expected)
    // budget respected except single-oversized-doc sequences
    packed.foreach { case (b, s, n, t) =>
      assert(t <= Multimodal.interleavedBudget || n == 1,
        s"bucket $b seq $s overflows with $n samples / $t toks")
    }
  }

  test("m6 aspect buckets equal a driver stub-decode replay; waste in [0,1)") {
    import graft.operators.Multimodal
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 % 3 == 0)
    val dims = docs.map { case (id, t) =>
      val d = Multimodal.decodeImageStub(id, t.getBytes("UTF-8"))
      (d.width.toLong, d.height.toLong)
    }
    val expected = dims.map { case (w, h) =>
      val ar = (w * 1000L) / h
      val b = if (ar < Multimodal.arPortraitMax) "portrait"
        else if (ar <= Multimodal.arSquareMax) "square" else "landscape"
      (b, w, h)
    }.groupBy(_._1).toSeq.map { case (b, xs) =>
      val n = xs.length.toLong
      val mw = xs.map(_._2).max; val mh = xs.map(_._3).max
      val px = xs.map(x => x._2 * x._3).sum
      (b, n, mw.toInt, mh.toInt,
        r4(1.0 - px.toDouble / (n * mw * mh).toDouble))
    }.sortBy(_._1)
    val got = Multimodal.m6AspectBuckets(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.map(_._1).toSet == Set("portrait", "square", "landscape"))
    assert(got.forall(x => x._5 >= 0.0 && x._5 < 1.0))
  }

  test("m14 pyramid plan equals a driver stub replay; overhead bounded") {
    import graft.operators.Multimodal
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 % 3 == 0)
    val per = docs.map { case (id, t) =>
      val d = Multimodal.decodeImageStub(id, t.getBytes("UTF-8"))
      val levels = (0 until Multimodal.pyrMaxLevels).filter(l =>
        (d.width >> l) >= Multimodal.pyrMinSide &&
          (d.height >> l) >= Multimodal.pyrMinSide)
      (levels.length.toLong, d.width.toLong * d.height,
        levels.map(l => ((d.width >> l).toLong * (d.height >> l))).sum)
    }
    val expected = per.groupBy(_._1).toSeq.map { case (depth, xs) =>
      val spx = xs.map(_._2).sum; val ppx = xs.map(_._3).sum
      (depth, xs.length.toLong, spx, ppx, r4(ppx.toDouble / spx.toDouble))
    }.sortBy(_._1)
    val got = Multimodal.m14PyramidPlan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // a halving pyramid's total pixels sit in [1, 4/3) of the source
    assert(got.forall(x => x._5 >= 1.0 && x._5 < 4.0 / 3.0 + 1e-9))
  }

  test("m7 audio VAD equals a driver stub replay incl. longest-run islands") {
    import graft.operators.Multimodal
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(d => d._1 % 3 == 1 && d._2.getBytes("UTF-8").length >= Multimodal.vadFrameBytes)
    val expected = docs.map { case (id, t) =>
      val cm = md5hex(t)
      val nf = (t.getBytes("UTF-8").length / Multimodal.vadFrameBytes).toInt
      val es = (1 to nf).map(f =>
        Integer.parseInt(md5hex(s"$cm:$f").substring(0, 3), 16) % 1000)
      val voiced = es.map(_ >= Multimodal.vadThreshold)
      // longest consecutive run of voiced frames
      val longest = voiced.foldLeft((0L, 0L)) { case ((best, cur), v) =>
        if (v) (math.max(best, cur + 1), cur + 1) else (best, 0L)
      }._1
      (id, nf, voiced.count(identity).toLong,
        r4(es.sum.toDouble / (nf * 1000.0)), longest)
    }.sortBy(_._1).toSeq
    val got = Multimodal.m7AudioVad(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // the islands path is actually exercised: some doc has a run >= 2
    assert(got.exists(_._5 >= 2L))
    assert(got.forall(x => x._5 <= x._3))
  }

  test("c8 dataset card recomposes its own oracle-gated signals") {
    import graft.operators.{Dedup, TextAnalysis, Pipeline}
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val card = Pipeline.c8DatasetCard(spark, sf).collect()
    assert(card.length == 1)
    val r = card.head
    val nDocs = r.getLong(0)
    // d1's exact-dup census implies the card's dup rate
    val d1 = Dedup.d1ExactDedup(spark, sf).collect()
    assert(nDocs == d1.map(_.getLong(2)).sum)
    assert(r.getDouble(5) ==
      r4(1.0 - d1.length.toDouble / nDocs.toDouble))
    // t2's per-source counts partition the corpus
    val t2 = TextAnalysis.t2Quality(spark, sf).collect()
    assert(t2.map(_.getLong(1)).sum == nDocs)
    assert(r.getLong(2) == t2.length.toLong) // n_sources
    // basic shape sanity
    assert(r.getLong(1) >= 2 && r.getDouble(7) > 0.0 && r.getDouble(7) < 1.0)
    assert(r.getLong(4) > 0 && r.getLong(3) >= r.getLong(4))
  }

  test("c5 split is component-stable: no near-dup pair straddles train/val") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    // replicate the per-doc gate, then check every component maps to ONE split
    val perDoc = graft.operators.Dedup.componentAssignment(spark, sf)
      .select($"doc_id", $"cluster_id")
      .withColumn("split", when(
        conv(substring(md5($"cluster_id".cast("string")), 1, 4), 16, 10)
          .cast("long") % 10 < 8, "train").otherwise("val"))
    val splitsPerComponent = perDoc.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("n")).agg(max($"n")).head().getLong(0)
    assert(splitsPerComponent == 1L, "a component straddles the split boundary")
    // census conserves the corpus: n_docs sums to |documents|, and both
    // splits are non-empty at fixture scale
    val census = Pipeline.c5StableSplit(spark, sf).collect()
    assert(census.map(_.getLong(2)).sum == Tables.documents(spark, sf).count())
    assert(census.map(_.getString(0)).distinct.sorted.toSeq == Seq("train", "val"))
  }

  test("c4 chunking: count formula, full-width bodies, stride overlap, coverage") {
    val s0 = spark
    import s0.implicits._
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", TextAnalysis.tokens($"text").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val rows = Pipeline.c4ChunkOverlap(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Int]("n_chunk_toks"), r.getAs[String]("chunk_md5")))
    val C = Pipeline.chunkSize; val S = Pipeline.chunkStride
    rows.groupBy(_._1).foreach { case (doc, ch) =>
      val n = toks(doc).length
      val expected = math.ceil(math.max(n - C, 0) / S.toDouble).toInt + 1
      assert(ch.length == expected, s"doc $doc: ${ch.length} chunks, want $expected")
      val sorted = ch.sortBy(_._2)
      sorted.foreach { case (_, id, len, md5got) =>
        val slice = toks(doc).slice(id * S, math.min(id * S + C, n))
        assert(len == slice.length, s"doc $doc chunk $id length")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(slice.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(md5got == md, s"doc $doc chunk $id digest")
      }
      // coverage: last chunk reaches the final token
      assert((sorted.last._2 * S + sorted.last._3) == n, s"doc $doc tail coverage")
    }
  }

  test("c6 mixture: budget respected, maximal prefix, deterministic order") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{md5, size}
    val rows = Pipeline.c6Mixture(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("sel_rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("quota")))
    assert(rows.nonEmpty, "mixture admitted nothing")
    // driver replay: per-source md5-ordered docs with token counts
    val all = Tables.documents(spark, sf)
      .select($"source", $"doc_id",
        size(TextAnalysis.tokens($"text")).cast("long").as("n"),
        md5($"doc_id".cast("string")).as("h"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(d => (d._4, d._2))).toMap
    val bySrc = rows.groupBy(_._1)
    bySrc.foreach { case (src, sel) =>
      val quota = sel.head._6
      val expTier = 1 + src.stripPrefix("src").toInt % 4
      assert(quota == expTier.toLong * Pipeline.mixtureBaseQuota, s"$src quota")
      val sorted = sel.sortBy(_._2)
      // cum is the running sum and stays within budget
      var cum = 0L
      sorted.foreach { case (_, rk, _, n, c, _) =>
        cum += n
        assert(c == cum, s"$src rank $rk cum mismatch")
        assert(c <= quota, s"$src rank $rk over budget")
      }
      // admitted set is exactly the maximal md5-ordered prefix
      val replay = all(src)
      val expect = replay.scanLeft(0L)(_ + _._3).tail.zip(replay)
        .takeWhile(_._1 <= quota).map(_._2._2)
      assert(sorted.map(_._3).toSeq == expect.toSeq, s"$src prefix mismatch")
      // and the next doc (if any) would overflow
      if (expect.length < replay.length) {
        val nextTok = replay(expect.length)._3
        assert(cum + nextTok > quota, s"$src stopped early")
      }
    }
    // every source with documents appears (quota >= 400 admits >= 1 doc here)
    assert(bySrc.keySet == all.keySet, "missing sources")
  }

  test("c7 curriculum is an exact permutation replaying the census-offset order") {
    import TestSpark.spark.implicits._
    val scored = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id",
        graft.operators.TextAnalysis.qualityScore($"text").as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def stage(q: Double): Int =
      if (q >= Pipeline.currHi) 0 else if (q >= Pipeline.currLo) 1 else 2
    val expected = scored
      .map { case (id, q) => (id, q, stage(q), (id % Pipeline.currSalts).toInt) }
      .sortBy { case (id, q, st, salt) => (st, salt, -q, id) }
      .zipWithIndex
      .map { case ((id, q, st, _), pos) => (pos.toLong, st, id, q) }
      .toSeq
    val got = Pipeline.c7Curriculum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // positions are a gapless permutation and stages appear in order
    assert(got.map(_._1) == (0L until scored.length.toLong))
    assert(got.map(_._2) == got.map(_._2).sorted)
    // non-degenerate banding on the fixture: all three stages occur
    assert(got.map(_._2).distinct.size == 3)
  }

  test("m8 banding finds every small-bucket hamming<=3 pair and drops capped buckets") {
    import spark.implicits._
    import graft.operators.Multimodal
    val h = 0x0123456789ABCL
    val skew = (100L until 170L).map(i => (i, 0x7777777777777L)) // 70 > cap
    val imgs = (Seq(
      (1L, h), (2L, h),                                  // identical
      (3L, h ^ (1L << 2) ^ (1L << 17) ^ (1L << 32)),     // 3 bits, 3 bands
      (4L, h ^ 15L)                                      // hamming 4: out
    ) ++ skew).toDF("doc_id", "phash")
    val got = Multimodal.phashPairs(imgs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 0), (1L, 3L, 3), (2L, 3L, 3)))
  }

  test("m8 fixture pairs equal a driver md5-phash replay with brute banded hamming") {
    import graft.operators.Multimodal
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val imgs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .filter(_._1 % 3 == 0)
    val phashes = imgs.map { case (id, lang, source, nc) =>
      val base = (0 to 3).map { i =>
        val b = Integer.parseInt(md5hex(s"$lang:$source:${nc / 50}:$i").substring(0, 4), 16) % 32768L
        b << (15 * i)
      }.sum
      val k = id % 5
      val hx = md5hex(id.toString)
      val noise = (1 to 4).map { j =>
        if (j <= k) 1L << (Integer.parseInt(hx.substring(2 * (j - 1), 2 * j), 16) % 60) else 0L
      }.reduce(_ ^ _)
      id -> (base ^ noise)
    }
    val bandsOf = (ph: Long) => (0 to 3).map(i => (i, (ph >> (15 * i)) & 32767L))
    val census = phashes.flatMap(p => bandsOf(p._2)).groupBy(identity)
      .view.mapValues(_.length).toMap
    val brute = (for {
      (a, pa) <- phashes; (b, pb) <- phashes
      if a < b
      if bandsOf(pa).exists(bd => bandsOf(pb).contains(bd) &&
        census(bd) <= Multimodal.phashBandCap)
      hm = java.lang.Long.bitCount(pa ^ pb)
      if hm <= Multimodal.phashMaxHamming
    } yield (a, b, hm)).toSet
    val got = Multimodal.m8PhashNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
  }

  test("c11 stage funnel is monotone and consistent with c1's survivor set") {
    val rows = Pipeline.c11StageFunnel(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    // each stage only removes mass
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4, s"stage ${b._1} grew")
    }
    // raw row retained == 1.0; fractions within (0, 1]
    assert(rows.head._5 == 1.0 && rows.head._6 == 1.0)
    assert(rows.forall(r => r._5 > 0.0 && r._5 <= 1.0))
    // stage-3 doc count recomposes c1's per-(lang, source) census
    val c1Docs = Pipeline.c1CleanCorpus(spark, sf).collect()
      .map(_.getLong(2)).sum
    assert(rows.last._3 == c1Docs)
  }

  test("c10 temperature mixture equals a driver replay and rebalances toward small sources") {
    import org.apache.spark.sql.functions.{split, lower, col, size => asize}
    val census = Tables.documents(spark, sf)
      .select(col("source"), asize(split(lower(col("text")), " ")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val tot = census.map(_._2).sum
    var totSqrt = 0.0
    census.foreach { case (_, n) => totSqrt += math.sqrt(n.toDouble) }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = census.map { case (src, n) =>
      val raw = n.toDouble / tot.toDouble
      val tmp = math.sqrt(n.toDouble) / totSqrt
      (src, n, r4(raw), r4(tmp), r4(tmp / raw))
    }
    val got = Pipeline.c10MixtureTemperature(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // temperature flattens: smallest source boosted, largest damped
    val smallest = got.minBy(_._2); val largest = got.maxBy(_._2)
    assert(smallest._5 >= 1.0 - 1e-9 && largest._5 <= 1.0 + 1e-9)
  }

  test("m9 scene cuts equal a driver stub replay incl. islands scene ids") {
    import graft.operators.Multimodal
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vids = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(d => d._1 % 3 == 2 &&
        d._2.getBytes("UTF-8").length >= Multimodal.sceneFrameBytes)
    val expected = vids.map { case (id, t) =>
      val cm = md5hex(t)
      val nf = (t.getBytes("UTF-8").length / Multimodal.sceneFrameBytes).toInt
      val es = (1 to nf).map(f =>
        Integer.parseInt(md5hex(s"$cm:$f").substring(0, 3), 16) % 1000)
      val cuts = es.indices.count(i =>
        i > 0 && math.abs(es(i) - es(i - 1)) > Multimodal.sceneCutDelta)
      val lens = es.indices.foldLeft(List(0)) { (acc, i) =>
        if (i > 0 && math.abs(es(i) - es(i - 1)) > Multimodal.sceneCutDelta)
          1 :: acc
        else (acc.head + 1) :: acc.tail
      }
      (id, nf, (cuts + 1).toLong, lens.max.toLong,
        r4(nf.toDouble / (cuts + 1).toDouble))
    }.sortBy(_._1).toSeq
    val got = Multimodal.m9SceneCuts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    // cuts actually occur on the fixture
    assert(got.exists(_._3 > 1L))
    got.foreach { g => assert(g._4 <= g._2 && g._3 <= g._2) }
  }

  test("m10 keyframes equal a driver per-scene argmax replay") {
    import graft.operators.Multimodal
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val vids = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(d => d._1 % 3 == 2 &&
        d._2.getBytes("UTF-8").length >= Multimodal.sceneFrameBytes)
    val expected = vids.flatMap { case (id, t) =>
      val cm = md5hex(t)
      val nf = (t.getBytes("UTF-8").length / Multimodal.sceneFrameBytes).toInt
      val es = (1 to nf).map(f =>
        Integer.parseInt(md5hex(s"$cm:$f").substring(0, 3), 16) % 1000)
      // running scene ids, then argmax energy (ties -> earliest frame)
      val scenes = es.indices.scanLeft(0L) { (s, i) =>
        if (i > 0 && math.abs(es(i) - es(i - 1)) > Multimodal.sceneCutDelta)
          s + 1
        else s
      }.tail // scanLeft includes the seed; frame i has scene scenes(i)
      es.indices.groupBy(scenes(_)).toSeq.sortBy(_._1).map { case (sc, fs) =>
        val kf = fs.minBy(i => (-es(i), i))
        (id, sc, fs.length.toLong, kf + 1, es(kf))
      }
    }.sortBy(x => (x._1, x._2)).toSeq
    val got = Multimodal.m10Keyframes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // consistency with m9: same scene count per video
    val m9n = Multimodal.m9SceneCuts(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val m10n = got.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(m10n == m9n)
  }

  test("c12 dedup-aware mixture equals a driver canonical-attribution replay") {
    import org.apache.spark.sql.functions.{col, lower, split}
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"),
        split(lower(col("text")), " "))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getSeq[String](3).length.toLong))
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val keep = docs.groupBy(d => norm(d._3)).map { case (_, ds) =>
      norm(ds.head._3) -> ds.map(_._1).min }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val per = docs.groupBy(_._2).map { case (src, ds) =>
      val canon = ds.filter(d => keep(norm(d._3)) == d._1)
      (src, ds.size.toLong, canon.size.toLong,
        ds.map(_._4).sum, canon.map(_._4).sum)
    }.toSeq.sortBy(_._1)
    val (traw, teff) = (per.map(_._4).sum, per.map(_._5).sum)
    val expected = per.map { case (src, nd, nc, raw, eff) =>
      (src, nd, nc, raw, eff, r4(1.0 - eff.toDouble / raw.toDouble),
        r4(raw.toDouble / traw.toDouble), r4(eff.toDouble / teff.toDouble))
    }
    val got = Pipeline.c12DedupMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSeq
    assert(got == expected && got.nonEmpty)
    // effective never exceeds raw; shares are a distribution
    assert(got.forall(g => g._5 <= g._4 && g._6 >= 0.0))
    assert(math.abs(got.map(_._7).sum - 1.0) < 0.01 &&
      math.abs(got.map(_._8).sum - 1.0) < 0.01)
  }

  test("m11 frame-dedup census equals a driver stub replay") {
    import graft.operators.Multimodal
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vids = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(d => d._1 % 3 == 2 &&
        d._2.getBytes("UTF-8").length >= Multimodal.sceneFrameBytes)
    val expected = vids.map { case (id, t) =>
      val cm = md5hex(t)
      val nf = (t.getBytes("UTF-8").length / Multimodal.sceneFrameBytes).toInt
      val es = (1 to nf).map(f =>
        Integer.parseInt(md5hex(s"$cm:$f").substring(0, 3), 16) % 1000)
      val distinct = es.distinct.size.toLong
      val runs = es.foldLeft(List.empty[(Int, Long)]) { (acc, e) =>
        acc match {
          case (pe, len) :: tl if pe == e => (pe, len + 1) :: tl
          case _ => (e, 1L) :: acc
        }
      }
      (id, nf, distinct, nf - distinct,
        r4((nf - distinct).toDouble / nf.toDouble), runs.map(_._2).max)
    }.sortBy(_._1).toSeq
    val got = Multimodal.m11FrameDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("m12 token-budget accounting equals a driver replay") {
    import spark.implicits._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text",
        org.apache.spark.sql.functions.size(
          graft.operators.TextAnalysis.tokens($"text")).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    def modality(id: Long) = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val per = docs.groupBy(d => (modality(d._1), d._2)).map { case (k, ds) =>
      val tt = ds.map(_._4).sum
      val pt = ds.map(d =>
        math.ceil(d._3.getBytes("UTF-8").length / 64.0).toLong).sum
      (k._1, k._2, ds.length.toLong, tt, pt, tt + pt)
    }.toSeq.sortBy(t => (t._1, t._2))
    val g = per.map(_._6).sum
    val expected = per.map(t =>
      (t._1, t._2, t._3, t._4, t._5, t._6, r4(t._6.toDouble / g.toDouble)))
    val got = Multimodal.m12TokenBudget(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == expected && got.nonEmpty)
    // shares form a distribution
    assert(math.abs(got.map(_._7).sum - 1.0) < 0.01)
  }

  test("c15 mixture plan equals a driver replay and is budget-consistent") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"),
        org.apache.spark.sql.functions.size(
          graft.operators.TextAnalysis.tokens(col("text"))).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val keep = docs.groupBy(d => norm(d._3))
      .map { case (k, ds) => k -> ds.map(_._1).min }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val per = docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, ds) =>
      (src, ds.map(_._4).sum,
        ds.filter(d => keep(norm(d._3)) == d._1).map(_._4).sum)
    }
    // sequential source-ordered sqrt fold, identical to the engine
    val totSqrt = per.foldLeft(0.0) { case (a, (_, raw, _)) =>
      a + math.sqrt(raw.toDouble) }
    val expected = per.map { case (src, raw, eff) =>
      val share = math.sqrt(raw.toDouble) / totSqrt
      val alloc = math.floor(share * Pipeline.mixPlanBudget.toDouble).toLong
      val ep = alloc.toDouble / eff.toDouble
      (src, raw, eff, r4(share), alloc, r4(ep),
        if (ep > Pipeline.mixPlanMaxEpochs) 1 else 0)
    }
    val got = Pipeline.c15MixPlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getInt(6))).toSeq
    assert(got == expected && got.nonEmpty)
    // allocations respect the budget (floor can only undershoot)
    assert(got.map(_._5).sum <= Pipeline.mixPlanBudget)
    assert(math.abs(got.map(_._4).sum - 1.0) < 0.01)
  }

  test("m13 corrupt audit equals a driver stub replay") {
    import graft.operators.Multimodal
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def modality(id: Long) = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val expected = docs.groupBy(d => modality(d._1)).toSeq.sortBy(_._1)
      .map { case (m, ds) =>
        val bad = ds.filter(d => md5hex(d._2).startsWith("0"))
        (m, ds.length.toLong, bad.length.toLong,
          bad.map(_._2.getBytes("UTF-8").length.toLong).sum,
          ds.map(_._2.getBytes("UTF-8").length.toLong).sum,
          r4(bad.length.toDouble / ds.length.toDouble))
      }
    val got = Multimodal.m13CorruptAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("c16 checksum manifest equals a driver fingerprint replay") {
    // c3's packing is oracle-gated; the manifest must be an exact
    // rollup of it plus the commutative content fingerprint
    val packed = Pipeline.c3PackSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashes = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map { r =>
        val norm = r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ")
        r.getLong(0) -> java.lang.Long.parseUnsignedLong(
          md5hex(norm).substring(0, 15), 16)
      }.toMap
    val expected = packed.groupBy(p => (p._2, p._3)).toSeq
      .sortBy(_._1).map { case ((bucket, seq), ds) =>
        val fp = (ds.map(d => BigInt(hashes(d._1))).sum %
          BigInt(1000000000000000000L)).toLong
        (bucket, seq, ds.length.toLong, ds.map(_._4).sum, fp)
      }
    val got = Pipeline.c16ChecksumManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // fingerprints discriminate: no two shards in a bucket collide
    got.groupBy(_._1).values.foreach { shards =>
      assert(shards.map(_._5).distinct.size == shards.size)
    }
  }

  test("c9 BPE merges equal an independent list-walk replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, split, lower}
    // independent implementation: symbol LISTS + greedy left-to-right
    // non-overlapping merge — checks the bracketed-string replace trick
    val words = Tables.documents(spark, sf)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .collect().map(_.getString(0)).filter(_.matches("^[a-z]+$"))
      .groupBy(w => w).view.mapValues(_.length.toLong).toSeq
    var vocab: Seq[(Vector[String], Long)] =
      words.map { case (w, n) => (w.map(_.toString).toVector :+ "_", n) }
    val expected = (1 to Pipeline.bpeMerges).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (sy, n) =>
        sy.indices.dropRight(1).foreach { i =>
          val k = (sy(i), sy(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + n
        }
      }
      val ((x, y), cnt) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (sy, n) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == x && sy(i + 1) == y) {
            out += (x + y); i += 2
          } else { out += sy(i); i += 1 }
        }
        (out.result(), n)
      }
      (r, x, y, x + y, cnt)
    }
    val got = Pipeline.c9BpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == expected, s"merges diverged: $got vs $expected")
    // merges actually compose: some later merge consumes an earlier one
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1))
  }

  test("c13 perplexity gate equals a derivation from t18's scores") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextAnalysis
    // t18 is itself oracle-gated, so its per-doc scores are trusted
    // inputs; the gate must be an exact per-source rollup of them
    val scores = TextAnalysis.t18BigramNll(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2) / r.getLong(1).toDouble)
      .toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokens(col("text")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).length.toLong))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (src, ds) =>
        val kept = ds.filter(d =>
          scores.get(d._1).exists(_ <= Pipeline.pplNllCutoff))
        val dropped = ds.filterNot(d =>
          scores.get(d._1).exists(_ <= Pipeline.pplNllCutoff))
        val keptM = kept.flatMap(d => scores.get(d._1))
        val dropM = dropped.flatMap(d => scores.get(d._1))
        (src, ds.length.toLong, kept.length.toLong,
          r4(kept.length.toDouble / ds.length.toDouble),
          ds.map(_._3).sum, kept.map(_._3).sum,
          if (keptM.nonEmpty) Some(r4(keptM.max)) else None,
          if (dropM.nonEmpty) Some(r4(dropM.min)) else None)
    }
    val got = Pipeline.c13PplFilter(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5),
        Option(r.get(6)).map(_.asInstanceOf[Double]),
        Option(r.get(7)).map(_.asInstanceOf[Double]))).toSeq
    assert(got == expected && got.nonEmpty)
    // the gate actually separates: every kept boundary sits at or
    // below the cutoff, every dropped boundary above it
    got.foreach { g =>
      g._7.foreach(m => assert(m <= Pipeline.pplNllCutoff))
      g._8.foreach(m => assert(m > Pipeline.pplNllCutoff))
      assert(g._6 <= g._5)
    }
  }

  test("c17 pretraining run: funnel binds, shards respect the pack budget, draw is deterministic") {
    val m = Pipeline.c17PretrainRun(spark, sf).collect()
    assert(m.nonEmpty)
    // every shard respects the pack budget (fixture docs are far
    // shorter than packBudget, so no single-doc overflow shard exists)
    m.foreach(r => assert(r.getAs[Long]("n_tokens") <= Pipeline.packBudget))
    // the mix draw binds: total manifest tokens stay within the global
    // training budget, and the funnel genuinely dropped documents
    val total = m.map(_.getAs[Long]("n_tokens")).sum
    assert(total <= Pipeline.pretrainBudget)
    val nDocs = m.map(_.getAs[Long]("n_docs")).sum
    val raw = Tables.documents(spark, sf).count()
    assert(nDocs > 0 && nDocs < raw,
      s"funnel did not bind: $nDocs of $raw docs survived to the manifest")
    // deterministic end to end: a second run reproduces every fingerprint
    val again = Pipeline.c17PretrainRun(spark, sf).collect()
    assert(m.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq)
    CacheScope.drain()
  }

  test("c18 ablation equals a driver flag replay; ablations are monotone") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", TextAnalysis.qualityScore($"text").as("q"),
        md5(regexp_replace(trim(lower($"text")), "\\s+", " ")).as("ch"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val keep = docs.groupBy(_._3).view.mapValues(_.map(_._1).min).toMap
    val nd = graft.operators.Dedup.d5Jaccard(spark, sf)
      .select($"doc_b").distinct().collect().map(_.getLong(0)).toSet
    def count(q: Boolean, e: Boolean, n: Boolean): (Long, Double) = {
      val sel = docs.filter { case (id, ql, ch) =>
        (!q || ql >= 0.5) && (!e || keep(ch) == id) && (!n || !nd(id))
      }
      // the engine sums exact 1e-4 integer units (order-free grid)
      (sel.length.toLong,
        sel.map(d => math.floor(d._2 * 10000 + 0.5).toLong).sum / 10000.0)
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = Map(
      "full" -> count(true, true, true),
      "no_quality" -> count(false, true, true),
      "no_exact" -> count(true, false, true),
      "no_neardup" -> count(true, true, false))
    val got = Pipeline.c18FilterAblation(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got.map(_._1) == exp.keys.toSeq.sorted)
    got.foreach { case (cfg, n, sq, vf) =>
      assert(n == exp(cfg)._1, s"$cfg count")
      assert(sq == r4(exp(cfg)._2), s"$cfg quality")
      assert(vf == r4(n.toDouble / exp("full")._1.toDouble), s"$cfg ratio")
    }
    // removing a filter can only let documents through
    val full = exp("full")._1
    assert(exp.values.forall(_._1 >= full))
    CacheScope.drain()
  }

  test("c19 BPE apply equals a driver merge-replay encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val merges = Pipeline.c9BpeTrain(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    def enc(w: String): Long = {
      var rep = "<" + w.split("").mkString("><") + "><_>"
      merges.foreach { case (x, y) =>
        rep = rep.replace(s"<$x><$y>", s"<$x$y>")
      }
      rep.substring(1, rep.length - 1).split("><").length.toLong
    }
    val words = Tables.documents(spark, sf)
      .select($"source", explode(split(lower($"text"), " ")).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.matches("^[a-z]+$"))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = words.groupBy(_._1).toSeq.map { case (src, ws) =>
      val chars = ws.map(_._2.length.toLong + 1L).sum
      val syms = ws.map(w => enc(w._2)).sum
      (src, ws.length.toLong, chars, syms,
        r4(chars.toDouble / syms.toDouble))
    }.sortBy(_._1)
    val got = Pipeline.c19BpeApply(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // merges only ever shrink the symbol stream
    assert(got.forall(g => g._4 <= g._3 && g._5 >= 1.0))
  }

  test("GraftBPE fit equals the c9 merge table, transform matches a " +
    "driver encode, and the model round-trips") {
    import spark.implicits._
    import graft.ml.feature.{GraftBPE, GraftBPEModel}
    val docs = Tables.documents(spark, sf)
    val model = new GraftBPE().setTextCol("text").fit(docs)
    val c9 = Pipeline.c9BpeTrain(spark, sf).collect()
      .map(r => Seq(r.getString(1), r.getString(2)))
    assert(model.merges.map(_.toSeq).toSeq == c9.toSeq)
    def encSyms(w: String): Seq[String] = {
      var rep = "<" + w.split("").mkString("><") + "><_>"
      model.merges.foreach { case Array(x, y) =>
        rep = rep.replace(s"<$x><$y>", s"<$x$y>")
      }
      rep.substring(1, rep.length - 1).split("><").toSeq
    }
    val expected = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split(" ", -1).toSeq
          .filter(_.matches("^[a-z]+$")).flatMap(encSyms))).toMap
    val got = model.transform(docs)
      .select($"doc_id", $"bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toMap
    assert(got == expected && got.nonEmpty)
    // encoded stream still ends every word with the merged-in marker
    assert(got.values.forall(_.forall(_.nonEmpty)))
    val dir = java.nio.file.Files.createTempDirectory("gbpe").toString
    model.write.overwrite().save(s"$dir/m")
    val loaded = GraftBPEModel.load(s"$dir/m")
    assert(loaded.merges.map(_.toSeq).toSeq ==
      model.merges.map(_.toSeq).toSeq)
    val reGot = loaded.transform(docs)
      .select($"doc_id", $"bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toMap
    assert(reGot == got)
  }

  test("BlobDecoder SPI: an injected decoder drives m3 with a " +
      "once-per-partition open/close lifecycle") {
    import graft.operators.Multimodal
    val baseline = Multimodal.m3DecodeFeatures(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    PipelineSpec.opens.set(0)
    PipelineSpec.closes.set(0)
    PipelineSpec.decodes.set(0)
    val saved = Multimodal.decoderFactory
    try {
      Multimodal.decoderFactory = () => new PipelineSpec.CountingStub
      val got = Multimodal.m3DecodeFeatures(spark, sf).collect()
        .map(_.toString).sorted.toSeq
      // same answer through the SPI as through the default stub
      assert(got == baseline && got.nonEmpty)
      // every row decoded, one open and one close per decoder instance
      val nPayloads = Multimodal.withPayload(spark, sf).count()
      assert(PipelineSpec.decodes.get() == nPayloads)
      assert(PipelineSpec.opens.get() > 0)
      assert(PipelineSpec.opens.get() == PipelineSpec.closes.get(),
        s"opens ${PipelineSpec.opens.get()} != closes ${PipelineSpec.closes.get()}")
      // per-PARTITION lifecycle, not per-row
      assert(PipelineSpec.opens.get() < nPayloads)
    } finally Multimodal.decoderFactory = saved
  }

  test("BlobDecoder close() still runs when the task terminates early") {
    import graft.operators.Multimodal
    val s0 = spark
    import s0.implicits._
    PipelineSpec.opens.set(0)
    PipelineSpec.closes.set(0)
    val saved = Multimodal.decoderFactory
    try {
      Multimodal.decoderFactory = () => new PipelineSpec.CountingStub
      // a limit leaves the partition iterators UNDRAINED — the
      // task-completion listener must still release every decoder
      val ds = Multimodal.withPayload(spark, sf)
        .select($"doc_id", $"payload")
        .as[(Long, Array[Byte])]
      val few = Multimodal.decodePartitions(ds).limit(1).collect()
      assert(few.length == 1)
      assert(PipelineSpec.opens.get() > 0)
      assert(PipelineSpec.opens.get() == PipelineSpec.closes.get(),
        s"early termination leaked decoders: opens " +
          s"${PipelineSpec.opens.get()} closes ${PipelineSpec.closes.get()}")
    } finally Multimodal.decoderFactory = saved
  }

  test("c21 index lifecycle equals a brute driver-side assignment replay") {
    import spark.implicits._
    import graft.operators.{Pipeline, Similarity}
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val k = Pipeline.lifecycleK
    val spark0 = spark
    def embDf = {
      graft.sources.Tables.embeddings(spark0, sf)
    }
    val centsOld = Similarity.ivfCentroids(
      embDf.filter($"vec_id" % Similarity.ingestMod =!= 0), k, 2)
    val centsNew = Similarity.ivfCentroids(embDf, k, 2)
    // brute per-row assignment: own distance loop, lowest-cid ties
    def assign(v: Array[Double], cents: Array[Array[Double]]): Int =
      cents.indices.minBy { c =>
        var d = 0.0; var i = 0
        while (i < v.length) {
          val t = v(i) - cents(c)(i); d += t * t; i += 1
        }
        (d, c)
      }
    def census(rows: Array[(Long, Array[Double])],
        cents: Array[Array[Double]]): Map[Int, Long] =
      rows.groupBy(r => assign(r._2, cents)).view
        .mapValues(_.length.toLong).toMap
    val oldRows = emb.filter(_._1 % Similarity.ingestMod != 0)
    val oldC = census(oldRows, centsOld)
    val combC = census(emb, centsOld)
    val retC = census(emb, centsNew)
    val nOld = oldRows.length.toLong; val nAll = emb.length.toLong
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pad(c: Map[Int, Long]) = (0 until k).map(i => c.getOrElse(i, 0L))
    val drift2 = r4(pad(combC).zip(pad(oldC))
      .map { case (nc, no) => (nc * nOld - no * nAll).abs }
      .max.toDouble / (nOld.toDouble * nAll.toDouble))
    val tv = r4(0.5 * pad(combC).sorted.reverse
      .zip(pad(retC).sorted.reverse)
      .map { case (a, b) => (a - b).abs }.sum.toDouble / nAll.toDouble)
    val expected = Seq(
      ("1_train", nOld, oldC.size.toLong,
        r4(oldC.values.max.toDouble / nOld.toDouble), 0.0),
      ("2_ingest", nAll, combC.size.toLong,
        r4(combC.values.max.toDouble / nAll.toDouble), drift2),
      ("3_retrain", nAll, retC.size.toLong,
        r4(retC.values.max.toDouble / nAll.toDouble), tv))
    val got = Pipeline.c21IndexLifecycle(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // the fixture genuinely moves occupancy in both lifecycle steps
    assert(got(1)._5 > 0.0)
  }

  test("c22 delta census ties to c20's diff and its gate to a brute replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, sum}
    val c22 = Pipeline.c22IncrementalRefresh(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // cross-operator identity: the delta c22 processes per source IS
    // c20's added + changed census (same snapshot versions by
    // construction)
    val c20 = Pipeline.c20SnapshotDiff(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1) + r.getLong(3))).toMap
    assert(c22.nonEmpty)
    c22.foreach { case (src, nDelta, nPass, nFail, toks, share) =>
      assert(nDelta == c20(src), s"$src delta != c20 added+changed")
      assert(nPass + nFail == nDelta)
      assert(share > 0.0 && share <= 1.0)
      // every PASSING doc contributes at least one token
      assert(toks >= nPass)
    }
    // brute gate replay: recompute the per-source pass counts from the
    // raw fixture using the same membership/mutation rules
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the previous crawl keeps RAW text; only the current one mutates
    val prevIds = docs.filter(_._1 % Pipeline.snapPrevMod != 0)
      .map(d => d._1 -> d._3).toMap
    val delta = docs.filter(_._1 % Pipeline.snapCurMod != 0)
      .map(d => (d._1, d._2, mutText(d)))
      .filter { case (id, _, txt) => !prevIds.get(id).contains(txt) }
    // pass/fail via the engine's own (already spec-pinned) scorer, run
    // over the mutated delta texts
    val scored = delta.toSeq.toDF("doc_id", "source", "text")
      .select($"source",
        (graft.operators.TextAnalysis.qualityScore($"text") >= 0.5)
          .cast("long").as("p"))
      .groupBy($"source").agg(count(lit(1)).as("n"), sum($"p").as("np"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    c22.foreach { case (src, nDelta, nPass, _, _, _) =>
      assert(scored(src) == ((nDelta, nPass)), s"$src gate mismatch")
    }
  }

  private def mutText(d: (Long, String, String)): String =
    if (d._1 % Pipeline.snapMutMod == 0) d._3.replaceFirst("^[^ ]+ ", "")
    else d._3
}

object PipelineSpec {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
  val decodes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stub decoder instrumented to prove the SPI lifecycle (local-mode
    * statics: executors share the JVM). */
  final class CountingStub extends graft.operators.Multimodal.BlobDecoder {
    override def open(): Unit = { opens.incrementAndGet(); () }
    override def decode(docId: Long,
        payload: Array[Byte]): graft.operators.Multimodal.DecodedMedia = {
      decodes.incrementAndGet()
      graft.operators.Multimodal.decodeImageStub(docId, payload)
    }
    override def close(): Unit = { closes.incrementAndGet(); () }
  }
}
