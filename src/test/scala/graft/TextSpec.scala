package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis
import graft.sources.Tables

/** Repetition/boilerplate metrics (t8) against hand-computed values. */
class TextSpec extends AnyFunSuite {
  import TestSpark._

  test("repetitionMetrics matches hand-computed token/bigram fractions") {
    import spark.implicits._
    val docs = Seq(
      // tokens: a×3, b×1 → distinct 2/4, top 3/4;
      // bigrams: "a a"×2, "a b"×1 → top 2/3
      (1L, "a a a b"),
      // all-distinct: distinct 4/4, top 1/4; bigrams all unique → 1/3
      (2L, "w x y z"),
      // pathological boilerplate: one token repeated
      (3L, "spam spam spam spam spam")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionMetrics(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(got(1L) == ((4L, 0.5, 0.75, 0.6667)))
    assert(got(2L) == ((4L, 1.0, 0.25, 0.3333)))
    assert(got(3L) == ((5L, 0.2, 1.0, 1.0)))
  }

  test("bigrams expression matches sliding-window semantics") {
    import spark.implicits._
    val got = Seq((1L, "a b c"), (2L, "x"), (3L, "p q"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.bigrams($"text").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b", "b c"))
    assert(got(2L) == Seq.empty)
    assert(got(3L) == Seq("p q"))
  }

  test("t16 Zipf fit matches a driver OLS over the ranked vocabulary") {
    import spark.implicits._
    val freqs = Tables.documents(spark, sf).select($"text").collect()
      .flatMap(_.getString(0).toLowerCase.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, f) => (-f, t) }
    val xy = freqs.zipWithIndex.map { case ((_, f), i) =>
      (math.log((i + 1).toDouble), math.log(f.toDouble)) }
    val n = xy.length.toDouble
    val (mx, my) = (xy.map(_._1).sum / n, xy.map(_._2).sum / n)
    val cxy = xy.map { case (x, y) => (x - mx) * (y - my) }.sum / (n - 1)
    val vx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum / (n - 1)
    val vy = xy.map { case (_, y) => (y - my) * (y - my) }.sum / (n - 1)
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = TextAnalysis.t16Zipf(spark, sf).head()
    assert(row.getLong(0) == xy.length.toLong)
    assert(math.abs(row.getDouble(1) - r4(cxy / vx)) < 2e-4, "slope")
    assert(math.abs(row.getDouble(2) - r4(my - (cxy / vx) * mx)) < 2e-4, "intercept")
    assert(math.abs(row.getDouble(3) - r4(cxy * cxy / (vx * vy))) < 2e-4, "r2")
    assert(row.getDouble(1) < 0, "Zipf slope must be negative")
  }

  test("t17 BM25 top-10 matches a driver scoring replay") {
    import spark.implicits._
    val docToks = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1))
      .sortBy(_._1)
    val n = docToks.length.toDouble
    val avgdl = docToks.map(_._2.length.toLong).sum.toDouble / n
    val dfm = docToks.flatMap(_._2.distinct).groupBy(identity)
      .view.mapValues(_.length.toDouble).toMap
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = TextAnalysis.bm25Queries.flatMap { case (qid, terms) =>
      docToks.flatMap { case (did, toks) =>
        val dl = toks.length.toDouble
        val contribs = terms.flatMap { t =>
          val tf = toks.count(_ == t).toDouble
          if (tf == 0) None
          else {
            val idf = math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
            Some(r4(idf * (tf * (TextAnalysis.bm25K1 + 1.0)) /
              (tf + TextAnalysis.bm25K1 * (1.0 - TextAnalysis.bm25B
                + TextAnalysis.bm25B * dl / avgdl))))
          }
        }
        if (contribs.isEmpty) None
        else Some((did, r4(contribs.sum)))
      }.sortBy { case (did, s) => (-s, did) }
        .take(10).zipWithIndex
        .map { case ((did, s), i) => (qid, i + 1, did, s) }
    }
    val got = TextAnalysis.t17Bm25(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.groupBy(_._1).size == 5,
      "every query must return results")
  }

  test("t15 per-doc keywords match a driver TF-IDF replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length.toDouble
    val tf = docs.flatMap { case (id, t) =>
      t.toLowerCase.split(" ", -1).groupBy(identity)
        .map { case (w, ws) => (id, w, ws.length.toLong) }
    }
    val df = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = tf.groupBy(_._1).toSeq.flatMap { case (id, ts) =>
      ts.map { case (_, w, f) =>
        val s = BigDecimal(f * math.log(n / df(w)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (w, s)
      }.sortBy { case (w, s) => (-s, w) }.take(3).zipWithIndex
        .map { case ((w, s), i) => (id, i + 1, w, s) }
    }.toSet
    val got = TextAnalysis.t15DocKeywords(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == expected)
  }

  test("t12 stratified quota: exact per-stratum counts, equals the direct window") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = TextAnalysis.t12StratifiedQuota(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rk"), r.getAs[Long]("doc_id")))
    val sizes = Tables.documents(spark, sf).groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == math.min(TextAnalysis.stratumQuota.toLong, sizes(lang)),
        s"$lang quota not exact")
    }
    // the salted two-phase must equal the plain single window
    val w = Window.partitionBy($"lang")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val direct = Tables.documents(spark, sf)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TextAnalysis.stratumQuota)
      .select($"lang", $"rk", $"doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got.toSet == direct, "two-phase sample diverged from direct window")
  }

  test("Misra-Gries sketch: exact total, no heavy hitter lost, bounded size") {
    val s0 = spark
    import s0.implicits._
    // skewed stream: a×50, b×30, c×20 + 40 singletons = 140 items
    val items = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      (1 to 40).map(i => s"u$i")
    val capacity = 4
    val (cands, total) = spark.createDataset(items).repartition(7)
      .select(new graft.functions.MisraGries(capacity).toColumn).head()
    assert(total == 140L)
    assert(cands.size <= capacity)
    // guarantee: every item with count > total/(capacity+1)=28 survives
    assert(cands.contains("a") && cands.contains("b"))
    // counters only ever undercount, by at most total/(capacity+1)
    cands.foreach { case (k, v) =>
      val truth = items.count(_ == k).toLong
      assert(v <= truth && truth - v <= total / (capacity + 1), s"bound broken for $k")
    }
  }

  test("t13 boilerplate phrases equal the brute-force heavy-hitter set") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions._
    val brute = Tables.documents(spark, sf)
      .select(explode(TextAnalysis.bigrams($"text")).as("phrase"))
      .groupBy($"phrase").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = brute.map(_._2).sum
    val expect = brute.filter(_._2 * TextAnalysis.hhK > total).toMap
    val got = TextAnalysis.t13Boilerplate(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("t14 vocab encode: ids replay a driver-side vocabulary build exactly") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSeq)
    val freq = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toSeq
    val vocab = freq.sortBy { case (t, c) => (-c, t) }
      .take(TextAnalysis.vocabSize).zipWithIndex
      .map { case ((t, _), i) => t -> (i + 1) }.toMap
    val expect = docs.map { case (id, toks) =>
      id -> (toks.size.toLong,
        toks.take(TextAnalysis.encodeLen).map(t => vocab.getOrElse(t, 0)).mkString("."))
    }.toMap
    val got = TextAnalysis.t14VocabEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("t11 inverted index: df/tf/postings digest match a brute recount") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions._
    val brute = Tables.documents(spark, sf)
      .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("term"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val rows = TextAnalysis.t11InvertedIndex(spark, sf).collect()
    // sf0.001's vocabulary is smaller than the top-50 cap
    val vocab = brute.map(_._2).distinct.length
    assert(rows.length == math.min(50, vocab) && rows.nonEmpty)
    rows.take(5).foreach { r =>
      val term = r.getAs[String]("term")
      val hits = brute.filter(_._2 == term)
      val docs = hits.map(_._1).distinct.sorted
      assert(r.getAs[Long]("df") == docs.length.toLong)
      assert(r.getAs[Long]("total_tf") == hits.length.toLong)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(docs.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getAs[String]("postings_md5") == md, s"postings digest for '$term'")
    }
  }

  test("t21 source drift equals brute shingle-set arithmetic") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val tk = t.toLowerCase.split(" ", -1).toSeq
      if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val bySrc = docs.groupBy(_._1).view
      .mapValues(_.map(x => shingles(x._2)).reduce(_ ++ _)).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      i <- srcs.indices; j <- i + 1 until srcs.length
      a = bySrc(srcs(i)); b = bySrc(srcs(j))
    } yield (srcs(i), srcs(j), a.size.toLong, b.size.toLong,
      (a & b).size.toLong, (a | b).size.toLong,
      r4((a & b).size.toDouble / (a | b).size))).toSeq
    val got = TextAnalysis.t21SourceDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == expected)
  }

  test("t20 novelty equals a driver first-occurrence replay") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Seq[String] = {
      val tk = t.toLowerCase.split(" ", -1).toSeq
      if (tk.length < 3) Seq.empty else tk.sliding(3).map(_.mkString(" ")).toSeq
    }
    val firstDoc = docs.flatMap { case (id, t) => shingles(t).map(_ -> id) }
      .groupBy(_._1).map { case (sh, xs) => sh -> xs.map(_._2).min }
    val expected = docs.flatMap { case (id, t) =>
      val sh = shingles(t)
      if (sh.isEmpty) None
      else {
        val novel = sh.count(firstDoc(_) == id).toLong
        Some((id, sh.length.toLong, novel, r4(novel.toDouble / sh.length)))
      }
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.t20Novelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // the earliest document is by definition fully novel
    assert(got.head._4 == 1.0)
  }

  test("t19 weighted sample equals a driver A-ES replay and favors long docs") {
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def key(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u32 = java.lang.Long.parseLong(hex, 16)
      math.log((u32 + 1L).toDouble / 4294967297.0) / w
    }
    val expected = docs.map { case (id, w) => (id, w, key(id, w)) }
      .sortBy(t => (-t._3, t._1)).take(TextAnalysis.wsampleK)
      .zipWithIndex
      .map { case ((id, w, k), i) => (i + 1, id, w,
        BigDecimal(k).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq
    val got = TextAnalysis.t19WeightedSample(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // weighting sanity: sampled docs skew long — their mean length
    // exceeds the corpus mean (P(include) grows with n_chars)
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = got.map(_._3).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("t18 bigram NLL equals a driver add-one-smoothing replay") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1).toSeq))
    val uniCnt = docs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val vocab = uniCnt.size.toLong
    val bigCnt = docs.flatMap(_._2.sliding(2).filter(_.size == 2))
      .map(_.mkString(" ")).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val expected = docs.flatMap { case (id, toks) =>
      val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      if (bgs.isEmpty) None
      else {
        val nll = bgs.map { bg =>
          val w1 = bg.split(" ")(0)
          r4(math.log((uniCnt(w1) + vocab).toDouble / (bigCnt(bg) + 1L)))
        }.sum
        Some((id, bgs.size.toLong, r4(nll)))
      }
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.t18BigramNll(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("t38 Kneser-Ney NLL equals a driver continuation-count replay") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1).toSeq))
    val uniCnt = docs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val bigCnt = docs.flatMap(_._2.sliding(2).filter(_.size == 2))
      .map(_.mkString(" ")).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val tTypes = bigCnt.size.toLong
    val fwd = bigCnt.keys.groupBy(_.split(" ")(0)).view
      .mapValues(_.size.toLong).toMap
    val pred = bigCnt.keys.groupBy(_.split(" ")(1)).view
      .mapValues(_.size.toLong).toMap
    val d = TextAnalysis.knDiscount
    val expected = docs.flatMap { case (id, toks) =>
      val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      if (bgs.isEmpty) None
      else {
        val nll = bgs.map { bg =>
          val Array(w1, w2) = bg.split(" ")
          val p = ((bigCnt(bg).toDouble - d) +
            d * fwd(w1).toDouble * (pred(w2).toDouble / tTypes.toDouble)) /
            uniCnt(w1).toDouble
          r4(-math.log(p))
        }.sum
        Some((id, bgs.size.toLong, r4(nll)))
      }
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.t38KnNll(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected && got.nonEmpty)
    // every attested-bigram probability is a genuine probability
    assert(got.forall(_._3 >= 0.0))
  }

  test("t22 NB confusion matrix equals a driver naive-Bayes replay") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split(" ", -1).toSeq))
    val nDocs = docs.length.toLong
    val langs = docs.map(_._2).distinct.sorted
    val vocab = docs.flatMap(_._3).distinct
    val vsz = vocab.length.toLong
    val ltc = docs.flatMap { case (_, l, tk) => tk.map(l -> _) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ltot = langs.map(l => l ->
      ltc.collect { case ((ll, _), c) if ll == l => c }.sum).toMap
    val prior = langs.map { l =>
      l -> r4(math.log(docs.count(_._2 == l).toDouble / nDocs.toDouble))
    }.toMap
    val preds = docs.map { case (_, actual, tk) =>
      val best = langs.map { l =>
        val ll = r4(tk.map(t => r4(math.log(
          (ltc.getOrElse((l, t), 0L) + 1L).toDouble /
            (ltot(l) + vsz).toDouble))).sum)
        (l, r4(ll + prior(l)))
      }.sortBy { case (l, s) => (-s, l) }.head._1
      (actual, best)
    }
    val expected = preds.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.map { case ((a, p), n) => (a, p, n) }.sortBy(t => (t._1, t._2))
    val got = TextAnalysis.t22NbLang(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // resubstitution on its own training set must beat a majority-class
    // guess (the fixture languages share most of their vocabulary, so
    // perfect separation is NOT expected — only better-than-baseline)
    val diag = got.collect { case (a, p, n) if a == p => n }.sum
    val majority = langs.map(l => docs.count(_._2 == l).toLong).max
    assert(diag > majority, s"NB diagonal $diag <= majority baseline $majority")
  }

  test("t24 vocab coverage equals a driver ranked-census replay") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val toks = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split(" ", -1))
    val tf = toks.groupBy(identity).toSeq
      .map { case (t, xs) => (t, xs.length.toLong) }
      .sortBy { case (t, c) => (-c, t) }
    val nTokens = toks.length.toLong
    val expected = TextAnalysis.coverageKs.map { k =>
      val effK = math.min(k, tf.length)
      val covered = tf.take(effK).map(_._2).sum
      (k, effK.toLong, covered, r4(covered.toDouble / nTokens.toDouble))
    }
    val got = TextAnalysis.t24VocabCoverage(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // the curve is monotone and ends near full coverage on this corpus
    assert(got.map(_._4).toSeq == got.map(_._4).sorted)
    assert(got.last._4 > 0.9)
  }

  test("t23 entropy/TTR equal a driver unigram replay and pin degenerate docs") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, t) =>
      val tk = t.toLowerCase.split(" ", -1).toSeq
      val tf = tk.groupBy(identity).toSeq.sortBy(_._1).map(_._2.size.toLong)
      val dl = tk.size.toLong
      val sv = tf.map(c => r4(c.toDouble * math.log(c.toDouble))).sum
      (id, dl, tf.size.toLong, r4(math.log(dl.toDouble) - sv / dl.toDouble),
        r4(tf.size.toDouble / dl.toDouble))
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.t23TokenEntropy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    // constructed degenerate docs: all-one-token spam has entropy 0 and
    // TTR 1/n; an all-distinct doc has entropy ln(n) and TTR 1
    import spark.implicits._
    val deg = TextAnalysis.tokenEntropy(
      Seq((1L, "spam spam spam spam"), (2L, "w x y z"))
        .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(deg(1L) == ((4L, 1L, 0.0, 0.25)))
    assert(deg(2L) == ((4L, 4L, r4(math.log(4.0)), 1.0)))
  }

  test("t26 per-source KL matches a driver replay and is Gibbs-nonnegative") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    val toks = Tables.documents(spark, sf).select($"source", $"text").collect()
      .flatMap(r => r.getString(1).toLowerCase.split(" ").map(r.getString(0) -> _))
    val n = toks.length.toLong
    val ct = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = toks.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ts) =>
      val ns = ts.length.toLong
      val cst = ts.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val kl = cst.toSeq.map { case (t, c) =>
        r4((c.toDouble / ns) * math.log(c.toDouble * n / (ns.toDouble * ct(t))))
      }.sum
      (src, cst.size.toLong, r4(kl))
    }
    val got = TextAnalysis.t26KlSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // Gibbs: KL >= 0 up to the 4-dp per-term grid
    assert(got.forall(_._3 >= -0.001))
  }

  test("t25 PMI collocations match a driver count replay and rank on the 4-dp grid") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    val texts = Tables.documents(spark, sf).select($"text").collect()
      .map(_.getString(0).toLowerCase.split(" ").toSeq)
    val toks = texts.flatten
    val n = toks.length.toLong
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = texts.flatMap(t => t.sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = big.toSeq
      .filter(_._2 >= TextAnalysis.pmiMinPairs)
      .map { case ((a, b), cab) =>
        (a, b, cab, r4(math.log(n.toDouble * cab / (uni(a).toDouble * uni(b)))))
      }
      .sortBy { case (a, b, _, pmi) => (-pmi, a, b) }
      .take(20)
    val got = TextAnalysis.t25Pmi(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    assert(got.size == 20)
  }

  test("t27 Simpson diversity equals an exact BigInt driver replay") {
    import org.apache.spark.sql.functions.{explode, split, lower, col}
    val terms = Tables.documents(spark, sf)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = terms.groupBy(_._1).view.mapValues { g =>
      val counts = g.map(_._2).groupBy(identity).map(_._2.length.toLong)
      val n = counts.sum
      val coll = counts.map(c => BigInt(c) * (c - 1)).sum
      (n, counts.size.toLong,
        r4(coll.toDouble / (n.toDouble * (n - 1).toDouble)),
        r4((n.toDouble * (n - 1).toDouble) / coll.toDouble),
        r4(counts.max.toDouble / n.toDouble))
    }.toMap
    val got = TextAnalysis.t27Simpson(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got == expected && got.nonEmpty)
    // diversity bounds: 1 <= inv_simpson <= vocab
    got.values.foreach { case (n, _, s1, inv, bp) =>
      assert(s1 > 0.0 && s1 <= 1.0001)
      // the UNBIASED inverse can slightly exceed raw richness on
      // near-uniform counts ((Vc-1)/(c-1) > V); bound by tokens instead
      assert(inv >= 0.9999 && inv <= n.toDouble + 1e-4)
      assert(bp > 0.0 && bp <= 1.0001)
    }
  }

  test("t33 langid eval derives exactly from t22's confusion matrix") {
    val cm = graft.operators.TextAnalysis.t22NbLang(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val langs = (cm.map(_._1) ++ cm.map(_._2)).distinct.sorted
    val expected = langs.map { l =>
      val support = cm.filter(_._1 == l).map(_._3).sum
      val predicted = cm.filter(_._2 == l).map(_._3).sum
      val tp = cm.filter(c => c._1 == l && c._2 == l).map(_._3).sum
      (l, support, predicted, tp,
        if (predicted > 0) Some(r4(tp.toDouble / predicted)) else None,
        if (support > 0) Some(r4(tp.toDouble / support)) else None,
        if (support + predicted > 0)
          Some(r4(2.0 * tp / (support + predicted).toDouble)) else None)
    }
    val got = graft.operators.TextAnalysis.t33LangidEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]),
        Option(r.get(6)).map(_.asInstanceOf[Double]))).toSeq
    assert(got == expected.toSeq && got.nonEmpty)
    // supports conserve the corpus
    assert(got.map(_._2).sum == Tables.documents(spark, sf).count())
  }

  test("t32 Good-Turing census equals a driver frequency-of-frequencies replay") {
    import org.apache.spark.sql.functions.{col, lower, split}
    val docs = Tables.documents(spark, sf)
      .select(col("source"), split(lower(col("text")), " "))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
      val counts = ds.flatMap(_._2).groupBy(identity).map(_._2.length.toLong)
      val n = counts.sum
      val nr = counts.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .withDefaultValue(0L)
      def rStar(r: Int): Option[Double] =
        if (nr(r.toLong) > 0)
          Some(r4((r + 1).toDouble * nr(r + 1L).toDouble / nr(r.toLong).toDouble))
        else None
      (src, n, counts.size.toLong, nr(1L), nr(2L),
        r4(nr(1L).toDouble / n.toDouble), rStar(1), rStar(2), rStar(3))
    }
    val got = graft.operators.TextAnalysis.t32GoodTuring(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5),
        Option(r.get(6)).map(_.asInstanceOf[Double]),
        Option(r.get(7)).map(_.asInstanceOf[Double]),
        Option(r.get(8)).map(_.asInstanceOf[Double]))).toSeq
    assert(got == expected && got.nonEmpty)
    // GT identities: the freq-of-freqs conserve the corpus and p0 < 1
    got.foreach { case (_, n, v, n1, _, p0, _, _, _) =>
      assert(n1 <= v && v <= n)
      assert(p0 >= 0.0 && p0 < 1.0)
    }
  }

  test("t28 burstiness equals an exact Fano-factor driver replay") {
    import org.apache.spark.sql.functions.{explode, split, lower, col}
    val perDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // mirror the engine's D exactly: ALL documents, including any that
    // tokenize to zero tokens (the engine and oracle count the table)
    val nDocs = Tables.documents(spark, sf).count()
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = perDoc.groupBy(_._2).toSeq.flatMap { case (term, occ) =>
      val counts = occ.groupBy(_._1).map(_._2.length.toLong)
      val n = counts.sum
      if (n >= TextAnalysis.burstMinCount) {
        val sumsq = counts.map(c => BigInt(c) * c).sum
        val b = (BigInt(nDocs) * sumsq - BigInt(n) * n).toDouble /
          (nDocs.toDouble * n.toDouble)
        Some((term, n, counts.size.toLong, r4(b)))
      } else None
    }.sortBy(t => (-t._4, t._1)).take(TextAnalysis.burstTopK)
    val got = TextAnalysis.t28Burstiness(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected && got.nonEmpty)
    // Fano >= (1 - n/D) lower bound not useful; assert nonnegative
    assert(got.forall(_._4 >= -1e-9))
  }

  test("t29 dup n-gram coverage equals a driver span-census replay") {
    import org.apache.spark.sql.functions.{split, lower, col}
    val docs = Tables.documents(spark, sf)
      .select(col("source"), split(lower(col("text")), " "))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    val n = TextAnalysis.dupNgramN
    val spans = docs.filter(_._2.length >= n).flatMap { case (src, tk) =>
      tk.sliding(n).map(w => (src, w.mkString(" ")))
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perSrc = spans.groupBy(_._1).view.mapValues { g =>
      g.map(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val globalC = spans.map(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val expected = perSrc.toSeq.sortBy(_._1).map { case (src, cs) =>
      val t = cs.values.sum
      val d = cs.size.toLong
      val cross = cs.collect { case (sp, c) if globalC(sp) > c => c }.sum
      (src, t, d, r4((t - d).toDouble / t.toDouble),
        r4(cross.toDouble / t.toDouble))
    }
    val got = TextAnalysis.t29DupNgrams(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // duplication actually present in the fixture corpus
    assert(got.exists(_._4 > 0.0) || got.exists(_._5 > 0.0))
  }

  test("t30 entropy rate equals a driver census replay and is information-consistent") {
    import org.apache.spark.sql.functions.{split, lower, col}
    val docs = Tables.documents(spark, sf)
      .select(col("source"), split(lower(col("text")), " "))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def hOf(counts: Iterable[Long]): Double = {
      val n = counts.sum
      math.log(n.toDouble) -
        counts.map(c => r4(c * math.log(c.toDouble))).sum / n.toDouble
    }
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, ds) =>
        val uni = ds.flatMap(_._2).groupBy(identity).map(_._2.length.toLong)
        val bi = ds.flatMap(d => d._2.sliding(2).filter(_.size == 2)
          .map(_.mkString(" ")))
          .groupBy(identity).map(_._2.length.toLong)
        val (h1, h2) = (hOf(uni), hOf(bi))
        (src, uni.sum, bi.sum, r4(h1), r4(h2), r4(h2 - h1))
    }
    val got = TextAnalysis.t30EntropyRate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    // double aggregation order can drift the last 4-dp ulp; compare with slack
    assert(got.map(t => (t._1, t._2, t._3)) == expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 2e-4 && math.abs(g._5 - e._5) < 2e-4 &&
        math.abs(g._6 - e._6) < 4e-4, s"${g._1}: $g vs $e")
    }
    // information consistency: 0 <= H1 <= H2 <= H1 + H1 (subadditivity-ish)
    got.foreach { t =>
      assert(t._4 >= -1e-9 && t._5 >= t._4 - 1e-9)
    }
  }

  test("t34 Heaps curve equals a brute first-occurrence replay") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val mn = docs.map(_._1).min
    val mx = docs.map(_._1).max
    val span = mx - mn + 1
    val cuts = (1 to 10).map(i => mn - 1 + span * i / 10)
    val firstOcc = docs.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1).map { case (t, occ) => t -> occ.map(_._2).min }
    val expected = (1 to 10).map { i =>
      val c = cuts(i - 1)
      val in = docs.filter(_._1 <= c)
      (i.toLong, c, in.length.toLong, in.map(_._2.length.toLong).sum,
        firstOcc.values.count(_ <= c).toLong)
    }
    val got = TextAnalysis.t34HeapsLaw(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // curve monotonicity: docs, tokens and vocab never shrink
    Seq[((Long, Long, Long, Long, Long)) => Long](_._3, _._4, _._5)
      .foreach { f =>
        val xs = got.map(f)
        assert(xs.zip(xs.tail).forall { case (a, b) => a <= b })
      }
    // final checkpoint covers the whole corpus
    assert(got.last._3 == docs.length.toLong)
    assert(got.last._5 == firstOcc.size.toLong)
  }

  test("t36 Gopher audit equals a brute rule replay") {
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    import TextAnalysis._
    val flags = docs.map { case (src, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      val n = toks.length.toLong
      val sumlen = text.length.toLong - (n - 1)
      val sym = "[^a-z0-9 ]".r.findAllIn(text.toLowerCase).length.toLong
      val chars = text.length.toLong
      val stop = toks.count(stopwords.contains).toLong
      val maxtf = toks.groupBy(identity).values.map(_.length).max.toLong
      (src,
        n >= gopherWcMin && n <= gopherWcMax,
        sumlen >= gopherWlMin * n && sumlen <= gopherWlMax * n,
        sym * 100 <= gopherSymPct * chars,
        stop >= 1,
        maxtf * 100 <= gopherMaxTfPct * n)
    }
    val expected = flags.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, fs) =>
        val pass = fs.count(f => f._2 && f._3 && f._4 && f._5 && f._6).toLong
        (src, fs.length.toLong,
          fs.count(!_._2).toLong, fs.count(!_._3).toLong,
          fs.count(!_._4).toLong, fs.count(!_._5).toLong,
          fs.count(!_._6).toLong, pass,
          r4(pass.toDouble / fs.length.toDouble))
    }
    val got = TextAnalysis.t36GopherAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getDouble(8))).toSeq
    assert(got == expected && got.nonEmpty)
    // the census is conservation-consistent
    got.foreach(g => assert(g._8 <= g._2))
  }

  test("t37 JS divergence equals a brute full-distribution replay") {
    val toks = Tables.documents(spark, sf).select("source", "text").collect()
      .flatMap(r => r.getString(1).toLowerCase.split(" ", -1)
        .map(t => (r.getString(0), t)))
    val bySrc = toks.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap).toMap
    val corpus = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = toks.length.toLong
    // direct JS over the FULL vocabulary (no correction trick): an
    // independent derivation, so it also validates the engine's
    // absent-mass identity, not just its arithmetic
    val expected = bySrc.toSeq.sortBy(_._1).map { case (src, cs) =>
      val totS = cs.values.sum
      val totR = n - totS
      val js = corpus.toSeq.map { case (t, ct) =>
        val c = cs.getOrElse(t, 0L)
        val p = c.toDouble / totS.toDouble
        val q = (ct - c).toDouble / totR.toDouble
        val m = (p + q) / 2.0
        (if (p > 0) 0.5 * p * math.log(p / m) else 0.0) +
          (if (q > 0) 0.5 * q * math.log(q / m) else 0.0)
      }.sum
      (src, cs.size.toLong, js)
    }
    val got = TextAnalysis.t37JsSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(g => (g._1, g._2)) == expected.map(e => (e._1, e._2)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) <= 2e-4, s"${g._1}: ${g._3} vs ${e._3}")
    }
    // JS is bounded by ln 2
    assert(got.forall(g => g._3 >= -1e-9 && g._3 <= math.log(2.0) + 1e-9))
  }

  test("t35 kappa equals a derivation from the two classifiers' predictions") {
    // t3 and t22 are oracle-gated; the agreement statistic must be an
    // exact rollup of their per-doc predictions
    val hp = TextAnalysis.heuristicLangPred(spark, sf)
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val np = TextAnalysis.nbLangPred(spark, sf)
      .select("doc_id", "model_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = hp.keySet.intersect(np.keySet).toSeq
    val n = ids.length.toLong
    val agree = ids.count(i => hp(i) == np(i)).toLong
    val na = ids.groupBy(hp).view.mapValues(_.length.toLong).toMap
    val nb = ids.groupBy(np).view.mapValues(_.length.toLong).toMap
    val peNum = na.toSeq.map { case (l, a) =>
      BigInt(a) * BigInt(nb.getOrElse(l, 0L)) }.sum
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val po = agree.toDouble / n.toDouble
    val pe = peNum.toDouble / (n.toDouble * n.toDouble)
    val row = TextAnalysis.t35Kappa(spark, sf).head()
    assert(row.getLong(0) == n && row.getLong(1) == agree)
    assert(row.getDouble(2) == r4(po) && row.getDouble(3) == r4(pe))
    assert(math.abs(row.getDouble(4) - r4((po - pe) / (1.0 - pe))) <= 1.01e-4)
    // kappa never exceeds 1 and po is a fraction
    assert(row.getDouble(4) <= 1.0 && po >= 0.0 && po <= 1.0)
  }

  test("GraftIDF fit equals the inline idf derivation; transform scores " +
      "and persistence replay it") {
    import spark.implicits._
    import graft.ml.feature.{GraftIDF, GraftIDFModel}
    val docs = graft.sources.Tables.documents(spark, sf)
    val model = new GraftIDF().setMinDf(2).fit(docs)
    // fit ≡ the t6-style df census computed independently
    val rows = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ").toSeq))
    val n = rows.length.toLong
    val df = rows.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expIdf = df.filter(_._2 >= 2).map { case (t, d) =>
      t -> math.log(n.toDouble / d.toDouble)
    }
    assert(model.nDocs == n)
    assert(model.idf.keySet == expIdf.keySet)
    model.idf.foreach { case (t, v) =>
      assert(math.abs(v - expIdf(t)) < 1e-12, s"term $t")
    }
    // transform ≡ the brute per-doc tf·idf mass (4-dp)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = model.transform(docs)
      .select($"doc_id", org.apache.spark.sql.functions.col(model.getOrDefault(model.outputCol)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, ts) =>
      val exp = r4(ts.flatMap(expIdf.get).sum)
      assert(math.abs(got(id) - exp) <= 1e-4, s"doc $id: ${got(id)} vs $exp")
    }
    // round-trip: identical table, identical scores
    val dir = java.nio.file.Files.createTempDirectory("gidf").toString
    model.write.overwrite().save(s"$dir/m")
    val loaded = GraftIDFModel.load(s"$dir/m")
    assert(loaded.idf == model.idf && loaded.nDocs == model.nDocs)
    val re = loaded.transform(docs)
      .select($"doc_id", org.apache.spark.sql.functions.col(model.getOrDefault(model.outputCol)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(re == got)
    // self-overwrite: a LOADED model's idf table lazily reads from the
    // artifact path itself — re-saving to that SAME path must stage
    // the table before the overwrite delete, not destroy it
    loaded.write.overwrite().save(s"$dir/m")
    val again = GraftIDFModel.load(s"$dir/m")
    assert(again.idf == model.idf && again.nDocs == model.nDocs)
    // minDf actually prunes (the fixture vocab is fully shared, so
    // exercise the gate on a crafted corpus with one singleton term)
    assert(df.size >= model.idf.size)
    val crafted = Seq((1L, "alpha beta"), (2L, "alpha gamma"),
      (3L, "alpha beta")).toDF("doc_id", "text")
    val pruned = new GraftIDF().setMinDf(2).fit(crafted)
    assert(pruned.idf.keySet == Set("alpha", "beta"))
  }

  test("GraftIDF vocabSize caps the table at the top-df terms (ties by " +
      "term) and the transform join is broadcast only below the cap") {
    import spark.implicits._
    import graft.ml.feature.GraftIDF
    // crafted dfs: alpha=3, beta=2, delta=1, gamma=1
    val crafted = Seq((1L, "alpha beta"), (2L, "alpha beta gamma"),
      (3L, "alpha delta")).toDF("doc_id", "text")
    val cap2 = new GraftIDF().setVocabSize(2).fit(crafted)
    assert(cap2.idf.keySet == Set("alpha", "beta"))
    // the df=1 tie breaks term-ascending: delta in, gamma out
    val cap3 = new GraftIDF().setVocabSize(3).fit(crafted)
    assert(cap3.idf.keySet == Set("alpha", "beta", "delta"))
    // capped transform still scores: gamma/delta are OOV under cap2
    val got = cap2.transform(crafted)
      .select($"doc_id", $"tfidf_mass")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ia = math.log(3.0 / 3.0); val ib = math.log(3.0 / 2.0)
    assert(math.abs(got(1L) - r4(ia + ib)) <= 1e-4)
    assert(math.abs(got(2L) - r4(ia + ib)) <= 1e-4) // gamma OOV → 0
    assert(math.abs(got(3L) - r4(ia)) <= 1e-4) // delta OOV → 0
    // plan guard (t6 broadcast-vs-shuffle rule), with auto-broadcast
    // off so only the model's own hint can produce a broadcast join
    val docs = graft.sources.Tables.documents(spark, sf)
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val below = new GraftIDF().fit(docs) // default cap 2^20 ≤ max
      val planB = below.transform(docs)
        .queryExecution.executedPlan.toString
      assert(planB.contains("BroadcastHashJoin"),
        s"no hinted broadcast below the cap:\n${planB.take(1200)}")
      // routing keys on the ACTUAL kept-term count recorded at fit, not
      // the configured cap: a defensively-huge cap over a small corpus
      // still broadcasts...
      val bigCap = new GraftIDF()
        .setVocabSize(GraftIDF.broadcastMaxVocab + 1).fit(docs)
      assert(bigCap.vocabCount <= GraftIDF.broadcastMaxVocab)
      val planA = bigCap.transform(docs)
        .queryExecution.executedPlan.toString
      assert(planA.contains("BroadcastHashJoin"),
        s"small actual vocab must broadcast despite a huge cap:\n${planA.take(1200)}")
      // ...and a model whose RECORDED size exceeds the bound shuffles
      // (constructed directly with an over-bound count; default params
      // match the fixture's column names)
      val huge = new graft.ml.feature.GraftIDFModel(bigCap.uid,
        bigCap.nDocs, GraftIDF.broadcastMaxVocab + 1L, bigCap.idfTable)
      val planH = huge.transform(docs)
        .queryExecution.executedPlan.toString
      assert(!planH.contains("BroadcastHashJoin"),
        s"idf join broadcast above the actual-size bound:\n${planH.take(1200)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
  }

  test("t40 OOV drift equals a brute capped-vocabulary replay") {
    import spark.implicits._
    val t = TextAnalysis
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split(" ").toSeq))
    val vocab = docs.filter(_._1 % t.oovSnapMod != 0).flatMap(_._2)
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (term, n) => (-n, term) }
      .take(t.oovVocabCap).map(_._1).toSet
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val arriving = docs.filter(_._1 % t.oovSnapMod == 0)
      .flatMap { case (id, ts) =>
        ts.map(term => ((id / 10) % t.oovEpochs, term))
      }
    val expected = arriving.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (e, rows) =>
        val oov = rows.filterNot(r => vocab.contains(r._2))
        (e, rows.length.toLong, oov.length.toLong,
          r4(oov.length.toDouble / rows.length.toDouble),
          oov.map(_._2).distinct.length.toLong)
      }
    val got = t.t40OovDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // the capped table leaves genuine OOV mass on the fixture
    assert(got.forall(g => g._3 > 0L && g._5 > 0L))
  }

  test("GraftIDFModel loads pre-vocabCount artifacts with the cap fallback") {
    import spark.implicits._
    import graft.ml.feature.{GraftIDF, GraftIDFModel}
    val crafted = Seq((1L, "alpha beta"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val m = new GraftIDF().fit(crafted)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_idf_legacy").toString + "/model"
    m.write.save(dir)
    // rewrite the meta WITHOUT vocabCount — the pre-field layout
    val metaPath = s"$dir/meta"
    val legacy = spark.read.parquet(metaPath).select("params", "nDocs")
    val tmpMeta = s"$dir/meta_legacy"
    legacy.write.parquet(tmpMeta)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(metaPath), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmpMeta),
      new org.apache.hadoop.fs.Path(metaPath))
    val back = GraftIDFModel.load(dir)
    // fallback = the configured cap (default 2^20), and the model scores
    assert(back.vocabCount == (1L << 20))
    assert(back.transform(crafted).count() == 2L)
  }

  test("t41 Flesch readability equals a brute per-doc replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val vowels = java.util.regex.Pattern.compile("[aeiouy]+")
    val sentEnd = java.util.regex.Pattern.compile("[.!?]")
    def count(p: java.util.regex.Pattern, s: String) = {
      val m = p.matcher(s); var c = 0
      while (m.find()) c += 1
      c
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.sortBy(_._1).map { case (id, text) =>
      // limit -1: Spark's split / DuckDB string_split keep trailing empties
      val words = text.toLowerCase.split(" ", -1)
      val w = words.length.toLong
      val s = math.max(count(sentEnd, text), 1).toLong
      val sy = words.map(t => math.max(count(vowels, t), 1).toLong).sum
      val fl = 206.835 - 1.015 * (w.toDouble / s.toDouble) -
        84.6 * (sy.toDouble / w.toDouble)
      val fk = 0.39 * (w.toDouble / s.toDouble) +
        11.8 * (sy.toDouble / w.toDouble) - 15.59
      (id, w, s, sy, r4(fl), r4(fk))
    }.toSeq
    val got = TextAnalysis.t41Flesch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected && got.nonEmpty)
    // fixture prose has multi-syllable words: syllables strictly exceed words
    assert(got.exists(g => g._4 > g._2))
  }
}
