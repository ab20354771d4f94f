package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ols
import graft.sources.Tables

/** Semantics guard for D79: the one-pass-moments + Cramer solve must
  * agree with an independent dense least-squares solve (Breeze QR via
  * `\`) on the same quantized design matrix — two entirely different
  * numerical routes to the same β. */
class OlsSpec extends AnyFunSuite {
  import TestSpark._

  test("p9 coefficients match a Breeze dense least-squares solve") {
    import TestSpark.spark.implicits._
    import breeze.linalg.{DenseMatrix, DenseVector}
    val rows = Tables.lineitem(spark, sf)
      .select($"l_quantity", $"l_discount", $"l_tax", $"l_extendedprice")
      .collect()
      .map { r =>
        (math.round(r.getDouble(0)).toDouble,
          math.round(r.getDouble(1) * 100).toDouble,
          math.round(r.getDouble(2) * 100).toDouble,
          math.round(r.getDouble(3) * 100).toDouble)
      }
    val x = DenseMatrix.tabulate(rows.length, 4) { (i, j) =>
      j match {
        case 0 => 1.0
        case 1 => rows(i)._1
        case 2 => rows(i)._2
        case 3 => rows(i)._3
      }
    }
    val y = DenseVector(rows.map(_._4))
    val beta = x \ y
    val got = Ols.p9OlsMulti(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(got.map(_._2).toSeq ==
      Seq("intercept", "quantity", "discount_pct", "tax_pct"))
    got.foreach { case (idx, feat, coef) =>
      val ref = beta(idx)
      assert(math.abs(coef - ref) <= 1e-4 * math.max(1.0, math.abs(ref)),
        s"$feat: cramer $coef vs breeze $ref")
    }
    // non-degenerate: the fixture's mean price is far from zero, so a
    // well-posed solve must put the intercept near the sample mean
    // (features are uncorrelated with price in this synthetic data)
    assert(got.forall { case (_, _, c) =>
      !c.isNaN && !c.isInfinite }, "singular normal equations")
    assert(math.abs(got(0)._3) > 1e5,
      "intercept should carry the (cents-scale) mean price")
  }

  test("p10 ridge matches a Breeze regularized solve and shrinks toward p9") {
    import TestSpark.spark.implicits._
    import breeze.linalg.{DenseMatrix, DenseVector, inv}
    val rows = Tables.lineitem(spark, sf)
      .select($"l_quantity", $"l_discount", $"l_tax", $"l_extendedprice")
      .collect()
      .map { r =>
        (math.round(r.getDouble(0)).toDouble,
          math.round(r.getDouble(1) * 100).toDouble,
          math.round(r.getDouble(2) * 100).toDouble,
          math.round(r.getDouble(3) * 100).toDouble)
      }
    val x = DenseMatrix.tabulate(rows.length, 4) { (i, j) =>
      j match {
        case 0 => 1.0
        case 1 => rows(i)._1
        case 2 => rows(i)._2
        case 3 => rows(i)._3
      }
    }
    val y = DenseVector(rows.map(_._4))
    val xtx = x.t * x
    for (j <- 1 to 3) xtx(j, j) += Ols.ridgeLambda.toDouble
    val beta = inv(xtx) * (x.t * y)
    val got = Ols.p10Ridge(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    got.foreach { case (idx, feat, coef) =>
      val ref = beta(idx)
      assert(math.abs(coef - ref) <= 1e-3 * math.max(1.0, math.abs(ref)),
        s"$feat: cramer $coef vs breeze $ref")
    }
    // the penalty must actually bite: some non-intercept coefficient
    // moves vs the unregularized p9 solve (element-wise shrinkage is
    // only guaranteed for orthogonal designs, so assert difference,
    // not direction)
    val ols = Ols.p9OlsMulti(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(got.filter(_._1 > 0).exists { case (idx, _, coef) =>
      math.abs(coef - ols(idx)) > 1e-4 }, "ridge penalty had no effect")
  }

  test("p11 logistic IRLS trace equals a driver integer-moments replay") {
    import graft.operators.Logistic
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rnd(v: Double): Long =
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val docs = Tables.documents(spark, sf).select("n_chars", "lang")
      .collect()
      .map(r => (r.getLong(0) / 100L, if (r.getString(1) == "en") 1L else 0L))
    def step(beta: Option[(Double, Double)]): (Double, Double) = {
      var sw, swx, swxx, swz, swxz = BigInt(0)
      docs.foreach { case (x, y) =>
        val (etaq, pq) = beta match {
          case None => (0L, 500000L)
          case Some((b0, b1)) =>
            val e = rnd((b0 + b1 * x.toDouble) * 1e6)
            val p = 1.0 / (1.0 + math.exp(-(e.toDouble / 1e6)))
            (e, math.min(Logistic.pqMax,
              math.max(Logistic.pqMin, rnd(p * 1e6))))
        }
        val wq = pq * (1000000L - pq)
        val zq = etaq + math.floor(
          ((y * 1000000L - pq).toDouble * 1e12) / wq.toDouble).toLong
        sw += wq; swx += BigInt(wq) * x; swxx += BigInt(wq) * x * x
        swz += BigInt(wq) * zq; swxz += BigInt(wq) * x * zq
      }
      val (dsw, dswx, dswxx, dswz, dswxz) = (sw.toDouble, swx.toDouble,
        swxx.toDouble, swz.toDouble, swxz.toDouble)
      val det = dsw * dswxx - dswx * dswx
      ((dswz * dswxx - dswx * dswxz) / det / 1e6,
        (dsw * dswxz - dswx * dswz) / det / 1e6)
    }
    val b1 = step(None)
    val b2 = step(Some(b1))
    val expected = Seq(
      (1, 0, "intercept", r4(b1._1)), (1, 1, "hecto_chars", r4(b1._2)),
      (2, 0, "intercept", r4(b2._1)), (2, 1, "hecto_chars", r4(b2._2)))
    val got = Logistic.p11Logistic(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // step 1 is the exact closed form (p = 1/2): finite, and the second
    // step must stay in the same neighborhood (IRLS step, not a blowup)
    assert(math.abs(b2._1 - b1._1) < 1.0 && math.abs(b2._2 - b1._2) < 1.0)
  }

  test("p12 CV equals an independent Gaussian-elimination replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat_ws, conv, md5, substring, round => sround}
    val O = graft.operators.Ols
    val rows = Tables.lineitem(spark, sf)
      .select(
        (conv(substring(md5(concat_ws(":", $"l_orderkey", $"l_linenumber")),
          1, 4), 16, 10).cast("long") % O.cvFolds).cast("int"),
        sround($"l_quantity").cast("long"),
        sround($"l_discount" * 100).cast("long"),
        sround($"l_tax" * 100).cast("long"),
        sround($"l_extendedprice" * 100).cast("long"))
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // exact BigInt moments per fold + totals
    def mom(rs: Array[(Int, Long, Long, Long, Long)]) = {
      val xs = rs.map { case (_, q, d, t, y) => Array(1L, q, d, t, y) }
      val names = Array("n", "sq", "sd", "st", "sy", "sqq", "sqd", "sqt",
        "sdd", "sdt", "stt", "sqy", "sdy", "sty")
      val idx = Array((0, 0), (0, 1), (0, 2), (0, 3), (0, 4), (1, 1), (1, 2),
        (1, 3), (2, 2), (2, 3), (3, 3), (1, 4), (2, 4), (3, 4))
      names.zip(idx.map { case (i, j) =>
        xs.map(x => BigInt(x(i)) * x(j)).sum
      }).toMap
    }
    val tot = mom(rows)
    // independent solver: Gaussian elimination with partial pivoting
    def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
      val n = b.length
      val m = a.map(_.clone); val v = b.clone
      for (c <- 0 until n) {
        val p = (c until n).maxBy(r => math.abs(m(r)(c)))
        val (tr, tv) = (m(c), v(c)); m(c) = m(p); v(c) = v(p)
        m(p) = tr; v(p) = tv
        for (r <- c + 1 until n) {
          val f = m(r)(c) / m(c)(c)
          for (k <- c until n) m(r)(k) -= f * m(c)(k)
          v(r) -= f * v(c)
        }
      }
      val x = new Array[Double](n)
      for (r <- n - 1 to 0 by -1) {
        x(r) = (v(r) - (r + 1 until n).map(k => m(r)(k) * x(k)).sum) / m(r)(r)
      }
      x
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (0 until O.cvFolds).map { f =>
      val fm = mom(rows.filter(_._1 == f))
      val tr = tot.map { case (k, v) => k -> (v - fm(k)).toDouble }
      def g(k: String, diagLam: Boolean = false) =
        tr(k) + (if (diagLam) O.ridgeLambda.toDouble else 0.0)
      val a = Array(
        Array(g("n"), g("sq"), g("sd"), g("st")),
        Array(g("sq"), g("sqq", true), g("sqd"), g("sqt")),
        Array(g("sd"), g("sqd"), g("sdd", true), g("sdt")),
        Array(g("st"), g("sqt"), g("sdt"), g("stt", true)))
      val bb = Array(g("sy"), g("sqy"), g("sdy"), g("sty"))
      val beta = solve(a, bb)
      val test = rows.filter(_._1 == f)
      val sse = test.map { case (_, q, d, t, y) =>
        val e = y.toDouble - (beta(0) + beta(1) * q + beta(2) * d + beta(3) * t)
        BigDecimal(r4(e * e))
      }.sum
      (f, test.length.toLong, beta,
        math.sqrt((sse / test.length).toDouble))
    }
    val got = O.p12RidgeCv(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.map(_._1).toSeq == (0 until O.cvFolds))
    assert(got.map(_._2).sum == rows.length.toLong) // folds partition exactly
    got.zip(expected).foreach { case (g, e) =>
      assert(g._2 == e._2)
      val bs = Seq(g._3, g._4, g._5, g._6)
      bs.zip(e._3).foreach { case (gb, eb) =>
        // different solver (elimination vs Cramer): tiny float drift
        assert(math.abs(gb - eb) < math.max(5e-3, math.abs(eb) * 1e-6),
          s"fold ${g._1}: coef $gb vs $eb")
      }
      assert(math.abs(g._7 - e._4) < 5e-3, s"fold ${g._1}: rmse ${g._7} vs ${e._4}")
    }
  }

  test("p13 confusion census equals a driver replay from p11's final coefficients") {
    import spark.implicits._
    val O = graft.operators.Logistic
    // final-iteration coefficients from the (separately oracle-gated)
    // p11 trace — 4-dp rounded, so replay predictions with the same
    // quantized sigmoid tolerate only boundary rows; compare counts
    // against a replay using UNROUNDED engine-order math via p13 itself
    val betas = O.p11Logistic(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val iters = betas.keys.map(_._1).max
    val (b0, b1) = (betas((iters, 0)), betas((iters, 1)))
    import org.apache.spark.sql.functions.{expr, when}
    val xy = graft.sources.Tables.documents(spark, sf)
      .select(expr("n_chars div 100"),
        when($"lang" === "en", 1L).otherwise(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // predictions from 4-dp coefficients: eta sign decides; count rows
    // within a safe margin of the boundary to bound the drift
    var tp = 0L; var fp = 0L; var fn = 0L; var tn = 0L; var boundary = 0
    xy.foreach { case (x, y) =>
      val eta = b0 + b1 * x.toDouble
      if (math.abs(eta) < 1e-3) boundary += 1
      val pred = if (eta >= 0.0) 1L else 0L
      (pred, y) match {
        case (1L, 1L) => tp += 1
        case (1L, 0L) => fp += 1
        case (0L, 1L) => fn += 1
        case _ => tn += 1
      }
    }
    val r = O.p13LogisticEval(spark, sf).collect()(0)
    val (gtp, gfp, gfn, gtn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(gtp + gfp + gfn + gtn == xy.length.toLong)
    // counts agree up to rows sitting on the rounded-coefficient boundary
    assert(math.abs(gtp - tp) <= boundary && math.abs(gfp - fp) <= boundary &&
      math.abs(gfn - fn) <= boundary && math.abs(gtn - tn) <= boundary,
      s"($gtp,$gfp,$gfn,$gtn) vs ($tp,$fp,$fn,$tn) boundary=$boundary")
    // metric consistency with the engine's own counts
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) ==
      r4((gtp + gtn).toDouble / (gtp + gfp + gfn + gtn).toDouble))
    assert(r.getDouble(7) ==
      r4(2.0 * gtp / (2.0 * gtp + gfp + gfn).toDouble))
    // the model actually separates: better than the majority-class rate
    val maj = math.max(xy.count(_._2 == 1L), xy.count(_._2 == 0L)).toDouble / xy.length
    assert(r.getDouble(4) >= maj - 0.05)
  }

  test("GraftLogistic estimator: transform equals p13's scoring; persistence round-trips") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, when}
    import graft.ml.feature.{GraftLogistic, GraftLogisticModel}
    val O = graft.operators.Logistic
    val xy = graft.sources.Tables.documents(spark, sf)
      .select(expr("n_chars div 100").as("hecto"),
        when($"lang" === "en", 1L).otherwise(0L).as("is_en"))
    val model = new GraftLogistic()
      .setFeaturesCol("hecto").setLabelCol("is_en")
      .setMaxIter(O.lrIters)
      .fit(xy)
    // coefficients equal the p11 trace's final iteration (4-dp grid)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val betas = O.p11Logistic(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(r4(model.intercept) == betas((O.lrIters, 0)) &&
      r4(model.coefficient) == betas((O.lrIters, 1)))
    assert(model.trace.length == O.lrIters)
    // transform scoring IS p13's scoring: the confusion counts from the
    // model's prediction column equal p13's census exactly
    val preds = model.transform(xy)
    val counts = preds.groupBy($"prediction", $"is_en").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      .withDefaultValue(0L)
    val p13 = O.p13LogisticEval(spark, sf).collect()(0)
    assert(counts((1L, 1L)) == p13.getLong(0) && // tp
      counts((1L, 0L)) == p13.getLong(1) &&      // fp
      counts((0L, 1L)) == p13.getLong(2) &&      // fn
      counts((0L, 0L)) == p13.getLong(3))        // tn
    // probability column is the ppm-quantized sigmoid, in [0.001, 0.999]
    val probs = preds.select($"probability").collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.001 && p <= 0.999))
    assert(probs.forall(p => (p * 1e6) == math.rint(p * 1e6)), "not on ppm grid")

    // persistence: model round-trip preserves coefficients and scoring
    val dir = java.nio.file.Files.createTempDirectory("graft-logistic").toString
    model.write.overwrite().save(s"$dir/model")
    val loaded = GraftLogisticModel.load(s"$dir/model")
    assert(loaded.intercept == model.intercept &&
      loaded.coefficient == model.coefficient)
    assert(loaded.trace.map(_.toSeq).toSeq == model.trace.map(_.toSeq).toSeq)
    val reCounts = loaded.transform(xy).groupBy($"prediction").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reCounts == preds.groupBy($"prediction").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

    // estimator round-trip preserves explicitly-set params
    new GraftLogistic().setFeaturesCol("hecto").setLabelCol("is_en")
      .setMaxIter(3).write.overwrite().save(s"$dir/est")
    val est = GraftLogistic.load(s"$dir/est")
    assert(est.get(est.maxIter).contains(3) &&
      est.get(est.featuresCol).contains("hecto") &&
      est.get(est.labelCol).contains("is_en"))
  }

  test("GraftPoisson estimator: transform equals p14's model; persistence round-trips") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, floor, lit}
    import graft.ml.feature.{GraftPoisson, GraftPoissonModel}
    val P = graft.operators.Poisson
    val xy = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf).groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders")),
        $"c_custkey" === $"o_custkey", "left")
      .na.fill(0L, Seq("n_orders"))
      .select(floor(col("c_acctbal").cast("double") / 1000.0).cast("long")
        .as("kilo"), $"n_orders")
    val model = new GraftPoisson()
      .setFeaturesCol("kilo").setLabelCol("n_orders")
      .setMaxIter(P.poIters)
      .fit(xy)
    // coefficients equal the p14 trace's final iteration (4-dp grid)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val betas = P.p14Poisson(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(r4(model.intercept) == betas((P.poIters, 0)) &&
      r4(model.coefficient) == betas((P.poIters, 1)))
    assert(model.trace.length == P.poIters + 1) // init + supersteps
    // predicted rates ride the ppm grid within the clamp
    val rates = model.transform(xy).select($"rate").collect()
      .map(_.getDouble(0))
    assert(rates.forall(r => r >= 0.001 && r <= 1000.0))
    assert(rates.forall(r => (r * 1e6) == math.rint(r * 1e6)),
      "not on ppm grid")

    // persistence: model round-trip preserves coefficients and scoring
    val dir = java.nio.file.Files.createTempDirectory("graft-poisson").toString
    model.write.overwrite().save(s"$dir/model")
    val loaded = GraftPoissonModel.load(s"$dir/model")
    assert(loaded.intercept == model.intercept &&
      loaded.coefficient == model.coefficient)
    assert(loaded.trace.map(_.toSeq).toSeq == model.trace.map(_.toSeq).toSeq)
    val re = loaded.transform(xy).select($"rate").collect()
      .map(_.getDouble(0)).toSeq
    assert(re == rates.toSeq)

    // estimator round-trip preserves explicitly-set params
    new GraftPoisson().setFeaturesCol("kilo").setLabelCol("n_orders")
      .setMaxIter(5).write.overwrite().save(s"$dir/est")
    val est = GraftPoisson.load(s"$dir/est")
    assert(est.get(est.maxIter).contains(5) &&
      est.get(est.featuresCol).contains("kilo") &&
      est.get(est.labelCol).contains("n_orders"))
  }

  test("p14 Poisson IRLS trace equals a driver integer-moments replay") {
    import graft.operators.Poisson
    import org.apache.spark.sql.functions.{col, floor, count, lit}
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rnd(v: Double): Long =
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    import TestSpark.spark.implicits._
    val cnts = Tables.orders(spark, sf).groupBy($"o_custkey")
      .agg(count(lit(1))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = Tables.customer(spark, sf)
      .select($"c_custkey", floor(col("c_acctbal").cast("double") / 1000.0)
        .cast("long")).collect()
      .map(r => (r.getLong(1), cnts.getOrElse(r.getLong(0), 0L)))
    val b0init = math.log(d.map(_._2).sum.toDouble / d.length.toDouble)
    def step(b0: Double, b1: Double): (Double, Double) = {
      var sw, swx, swxx, swz, swxz = BigInt(0)
      d.foreach { case (x, y) =>
        val etaq = rnd((b0 + b1 * x.toDouble) * 1e6)
        val muq = math.min(Poisson.muqMax, math.max(Poisson.muqMin,
          rnd(math.exp(etaq.toDouble / 1e6) * 1e6)))
        val zq = etaq + math.floor(
          ((y * 1000000L - muq).toDouble * 1e6) / muq.toDouble).toLong
        sw += muq; swx += BigInt(muq) * x; swxx += BigInt(muq) * x * x
        swz += BigInt(muq) * zq; swxz += BigInt(muq) * x * zq
      }
      val (dsw, dswx, dswxx, dswz, dswxz) = (sw.toDouble, swx.toDouble,
        swxx.toDouble, swz.toDouble, swxz.toDouble)
      val det = dsw * dswxx - dswx * dswx
      ((dswz * dswxx - dswx * dswxz) / det / 1e6,
        (dsw * dswxz - dswx * dswz) / det / 1e6)
    }
    val trace = Iterator.iterate(List((b0init, 0.0))) { acc =>
      acc :+ step(acc.last._1, acc.last._2)
    }.drop(Poisson.poIters).next()
    val expected = trace.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i, 0, "intercept", r4(a)), (i, 1, "kilo_acctbal", r4(b)))
    }
    val got = Poisson.p14Poisson(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // the fit actually converges: the last two steps agree to 4 dp
    val byIter = got.groupBy(_._1)
    assert(byIter(Poisson.poIters).map(_._4) ==
      byIter(Poisson.poIters - 1).map(_._4),
      s"IRLS did not converge: $got")

    // p15: deviance/Pearson/dispersion from the same driver trace
    val (b0, b1) = trace.last
    var sd, sp = BigInt(0)
    d.foreach { case (x, y) =>
      val etaq = rnd((b0 + b1 * x.toDouble) * 1e6)
      val muq = math.min(Poisson.muqMax, math.max(Poisson.muqMin,
        rnd(math.exp(etaq.toDouble / 1e6) * 1e6)))
      val mu = muq.toDouble / 1e6
      val dev = (if (y > 0) y.toDouble * math.log(y.toDouble / mu) else 0.0) -
        (y.toDouble - mu)
      val pe = (y.toDouble - mu) * (y.toDouble - mu) / mu
      sd += BigInt(math.floor(dev * 1e6 + 0.5).toLong)
      sp += BigInt(math.floor(pe * 1e6 + 0.5).toLong)
    }
    val row = Poisson.p15PoissonEval(spark, sf).head()
    assert(row.getLong(0) == d.length.toLong)
    assert(row.getDouble(1) == r4(2.0 * sd.toDouble / 1e6))
    assert(row.getDouble(2) == r4(sp.toDouble / 1e6))
    assert(row.getDouble(3) ==
      r4(sp.toDouble / 1e6 / (d.length - 2).toDouble))
    // fit-quality values are finite and non-negative
    assert(row.getDouble(1) >= 0.0 && row.getDouble(3) >= 0.0)
  }

  test("GraftLinear estimator: fit equals p9/p10 coefficients; transform scores; persistence round-trips") {
    import spark.implicits._
    import graft.ml.feature.{GraftLinear, GraftLinearModel}
    val O = graft.operators.Ols
    // the p9 design, under user-facing column names
    val xy = Tables.lineitem(spark, sf).select(
      org.apache.spark.sql.functions.round($"l_quantity").cast("long").as("qty"),
      org.apache.spark.sql.functions.round($"l_discount" * 100).cast("long").as("disc_pct"),
      org.apache.spark.sql.functions.round($"l_tax" * 100).cast("long").as("tax_pct"),
      org.apache.spark.sql.functions.round($"l_extendedprice" * 100).cast("long").as("cents"))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val model = new GraftLinear()
      .setFeaturesCols(Array("qty", "disc_pct", "tax_pct"))
      .setLabelCol("cents")
      .fit(xy)
    // λ=0 fit is BIT-identical to the p9 query's coefficients (4-dp grid)
    val p9 = O.p9OlsMulti(spark, sf).collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(r4(model.intercept) == p9(0))
    model.coefficients.zipWithIndex.foreach { case (b, i) =>
      assert(r4(b) == p9(i + 1), s"coef $i: ${r4(b)} vs ${p9(i + 1)}")
    }
    // λ=ridgeLambda fit equals the p10 query
    val ridge = new GraftLinear()
      .setFeaturesCols(Array("qty", "disc_pct", "tax_pct"))
      .setLabelCol("cents").setRegParam(O.ridgeLambda)
      .fit(xy)
    val p10 = O.p10Ridge(spark, sf).collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(r4(ridge.intercept) == p10(0) &&
      ridge.coefficients.zipWithIndex.forall { case (b, i) => r4(b) == p10(i + 1) })
    // transform appends the exact linear form b0 + Σ bᵢxᵢ (spot replay)
    val preds = model.transform(xy.limit(200))
      .select($"qty", $"disc_pct", $"tax_pct", $"prediction").collect()
    preds.foreach { r =>
      val want = model.intercept + model.coefficients(0) * r.getLong(0) +
        model.coefficients(1) * r.getLong(1) + model.coefficients(2) * r.getLong(2)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(want))
    }
    // persistence: model round-trip preserves coefficients and scoring
    val dir = java.nio.file.Files.createTempDirectory("graft-linear").toString
    model.write.overwrite().save(s"$dir/model")
    val loaded = GraftLinearModel.load(s"$dir/model")
    assert(loaded.intercept == model.intercept &&
      loaded.coefficients.toSeq == model.coefficients.toSeq)
    val re = loaded.transform(xy.limit(200)).select($"prediction")
      .collect().map(_.getDouble(0)).toSeq
    assert(re == preds.map(_.getDouble(3)).toSeq)
    // estimator round-trip preserves explicitly-set params
    new GraftLinear().setFeaturesCols(Array("qty", "disc_pct", "tax_pct"))
      .setLabelCol("cents").setRegParam(42L)
      .write.overwrite().save(s"$dir/est")
    val est = GraftLinear.load(s"$dir/est")
    assert(est.get(est.featuresCols).map(_.toSeq).contains(Seq("qty", "disc_pct", "tax_pct")) &&
      est.get(est.labelCol).contains("cents") &&
      est.get(est.regParam).contains(42L))
    // guard: the 4x4 design requires exactly three distinct features
    intercept[IllegalArgumentException] {
      new GraftLinear().setFeaturesCols(Array("qty", "qty", "tax_pct"))
    }
  }

  test("p16 weighted least squares equals a brute BigInt-moment replay") {
    import spark.implicits._
    val rows = graft.operators.Ols.designFrame(spark, sf)
      .select($"x1", $"x2", $"y").collect()
      .map(r => (BigInt(r.getLong(0)), BigInt(r.getLong(1)),
        BigInt(r.getLong(2))))
    // exact rational moments, then the closed forms in double
    val sw = rows.map(_._1).sum
    val swx = rows.map { case (w, x, _) => w * x }.sum
    val swy = rows.map { case (w, _, y) => w * y }.sum
    val swxx = rows.map { case (w, x, _) => w * x * x }.sum
    val swxy = rows.map { case (w, x, y) => w * x * y }.sum
    val swyy = rows.map { case (w, _, y) => w * y * y }.sum
    val (dw, dwx, dwy, dwxx, dwxy, dwyy) = (sw.toDouble, swx.toDouble,
      swy.toDouble, swxx.toDouble, swxy.toDouble, swyy.toDouble)
    val b1 = (dw * dwxy - dwx * dwy) / (dw * dwxx - dwx * dwx)
    val b0 = (dwy - b1 * dwx) / dw
    val sse = dwyy - 2.0 * (b0 * dwy + b1 * dwxy) + b0 * b0 * dw +
      2.0 * b0 * b1 * dwx + b1 * b1 * dwxx
    val sst = dwyy - dwy * dwy / dw
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.operators.Ols.p16Wls(spark, sf).collect()(0)
    assert(got.getLong(0) == rows.length.toLong)
    assert(got.getLong(1) == sw.toLong)
    assert(got.getDouble(2) == r4(b0))
    assert(got.getDouble(3) == r4(b1))
    assert(got.getDouble(4) == r4(1.0 - sse / sst))
    // a discount regression on this fixture explains SOME variance
    // and prices fall with discount
    assert(got.getDouble(4) > 0.0 && got.getDouble(4) < 1.0)
  }

  test("p18 calibration equals a driver replay and its bins tile the corpus") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Logistic => O}
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rnd(v: Double): Long =
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val d = Tables.documents(spark, sf).select(
      expr("n_chars div 100").as("x"),
      when($"lang" === "en", 1L).otherwise(0L).as("y"))
    // engine beta — its trace is pinned by the p11 replay test above
    val beta = O.fitTrace(d, O.lrIters).last
    val docs = Tables.documents(spark, sf).select("n_chars", "lang")
      .collect()
      .map(r => (r.getLong(0) / 100L, if (r.getString(1) == "en") 1L else 0L))
    val scored = docs.map { case (x, y) =>
      val e = rnd((beta.b0 + beta.b1 * x.toDouble) * 1e6)
      val p = 1.0 / (1.0 + math.exp(-(e.toDouble / 1e6)))
      (math.min(O.pqMax, math.max(O.pqMin, rnd(p * 1e6))), y)
    }.toSeq
    val mnq = scored.map(_._1).min
    val mxq = scored.map(_._1).max
    def binOf(pq: Long) = ((pq - mnq) * 10L) / (mxq - mnq + 1L)
    def statsOf(rows: Seq[(Long, Long)]) = {
      val n = rows.length.toLong
      val spq = rows.map(r => BigInt(r._1)).sum
      val sy = rows.map(_._2).sum
      val se = rows.map { r =>
        val e = BigInt(r._1 - r._2 * 1000000L); e * e
      }.sum
      (n, r4(spq.toDouble / (n.toDouble * 1e6)),
        r4(sy.toDouble / n.toDouble),
        r4(se.toDouble / (n.toDouble * 1e12)))
    }
    val expected = (scored.groupBy(s => binOf(s._1)).toSeq
      .map { case (b, rows) => (b, statsOf(rows)) } :+ (-1L, statsOf(scored)))
      .sortBy(_._1)
      .map { case (b, (n, mp, or, br)) => (b, n, mp, or, br) }
    val got = O.p18Calibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // the decile rows tile the corpus (total row counts everything once)
    val total = got.find(_._1 == -1L).get
    assert(got.filter(_._1 >= 0L).map(_._2).sum == total._2)
    // Brier is a proper score in [0, 1]
    assert(total._5 >= 0.0 && total._5 <= 1.0)
  }

  test("p17 stump equals a brute exact-Gini split search") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, sf)
      .select(floor($"l_extendedprice" / 100.0).cast("long").as("bin"),
        ($"l_returnflag" === "R").cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = rows.length.toLong
    val pos = rows.map(_._2).sum
    val hist = rows.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._2).sum))
      .toSeq.sortBy(_._1)
    var cnl = 0L; var cpl = 0L
    val cands = hist.map { case (bin, (c, p)) =>
      cnl += c; cpl += p; (bin, cnl, cpl)
    }.filter(_._2 < n)
    // the engines' shared IEEE tree, same operand order
    def gini(p: Long, q: Long, m: Long) =
      1.0 - (p.toDouble / m.toDouble) * (p.toDouble / m.toDouble) -
        (q.toDouble / m.toDouble) * (q.toDouble / m.toDouble)
    def wg(nl: Long, pl: Long) = {
      val nr = n - nl; val pr = pos - pl
      (nl.toDouble * gini(pl, nl - pl, nl) +
        nr.toDouble * gini(pr, nr - pr, nr)) / n.toDouble
    }
    val best = cands.minBy(c => (wg(c._2, c._3), c._1))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.operators.Stump.p17Stump(spark, sf).collect()
    assert(got.length == 1)
    val g = got(0)
    assert(g.getLong(0) == best._1)
    assert(g.getLong(1) == best._2 && g.getLong(2) == n - best._2)
    assert(g.getLong(3) == best._3 && g.getLong(4) == pos - best._3)
    assert(g.getDouble(5) == r4(wg(best._2, best._3)))
    assert(g.getDouble(6) == r4(gini(pos, n - pos, n) - wg(best._2, best._3)))
    // a split can never be worse than the parent
    assert(g.getDouble(6) >= 0.0)
  }

  test("p19 depth-2 tree equals a brute recursive split search") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, sf)
      .select(floor($"l_extendedprice" / 100.0).cast("long").as("bin"),
        ($"l_returnflag" === "R").cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def gini(p: Long, q: Long, m: Long) =
      1.0 - (p.toDouble / m.toDouble) * (p.toDouble / m.toDouble) -
        (q.toDouble / m.toDouble) * (q.toDouble / m.toDouble)
    // best split over a subset: (threshold, n, pos, parentGini, wg)
    def best(sub: Seq[(Long, Long)]): Option[(Long, Long, Long, Double, Double)] = {
      val n = sub.length.toLong; val pos = sub.map(_._2).sum
      val hist = sub.groupBy(_._1).view
        .mapValues(v => (v.length.toLong, v.map(_._2).sum))
        .toSeq.sortBy(_._1)
      var nl = 0L; var pl = 0L
      val cands = hist.map { case (bin, (c, p)) =>
        nl += c; pl += p; (bin, nl, pl)
      }.filter(_._2 < n)
      if (cands.isEmpty) None
      else {
        def wg(nl: Long, pl: Long) = {
          val nr = n - nl; val pr = pos - pl
          (nl.toDouble * gini(pl, nl - pl, nl) +
            nr.toDouble * gini(pr, nr - pr, nr)) / n.toDouble
        }
        val b = cands.minBy(c => (wg(c._2, c._3), c._1))
        Some((b._1, n, pos, gini(pos, n - pos, n), wg(b._2, b._3)))
      }
    }
    val Some(root) = best(rows.toSeq)
    val expected = (Seq("root" -> best(rows.toSeq)) ++ Seq(
      "left" -> best(rows.filter(_._1 <= root._1).toSeq),
      "right" -> best(rows.filter(_._1 > root._1).toSeq)))
      .collect { case (nm, Some((t, n, p, pg, wg))) =>
        (nm, t, n, p, r4(pg), r4(wg), r4(pg - wg))
      }.sortBy(_._1)
    val got = graft.operators.Stump.p19Tree2(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == expected)
    // children partition the root's population
    val byNode = got.map(g => g._1 -> g._3).toMap
    if (byNode.contains("left") && byNode.contains("right"))
      assert(byNode("left") + byNode("right") == byNode("root"))
  }

  /** Brute recursive split search shared by the p20 and GraftTree
    * replays: path-labeled, depth-k, same IEEE operand order as the
    * engines' shared Gini tree. */
  private def bruteTree(rows: Seq[(Long, Long)], maxDepth: Int)
      : Seq[(String, Int, Long, Long, Long, Double, Double)] = {
    def gini(p: Long, q: Long, m: Long) =
      1.0 - (p.toDouble / m.toDouble) * (p.toDouble / m.toDouble) -
        (q.toDouble / m.toDouble) * (q.toDouble / m.toDouble)
    def best(sub: Seq[(Long, Long)])
        : Option[(Long, Long, Long, Double, Double)] = {
      val n = sub.length.toLong; val pos = sub.map(_._2).sum
      val hist = sub.groupBy(_._1).view
        .mapValues(v => (v.length.toLong, v.map(_._2).sum))
        .toSeq.sortBy(_._1)
      var nl = 0L; var pl = 0L
      val cands = hist.map { case (bin, (c, p)) =>
        nl += c; pl += p; (bin, nl, pl)
      }.filter(_._2 < n)
      if (cands.isEmpty) None
      else {
        def wg(nl: Long, pl: Long) = {
          val nr = n - nl; val pr = pos - pl
          (nl.toDouble * gini(pl, nl - pl, nl) +
            nr.toDouble * gini(pr, nr - pr, nr)) / n.toDouble
        }
        val b = cands.minBy(c => (wg(c._2, c._3), c._1))
        Some((b._1, n, pos, gini(pos, n - pos, n), wg(b._2, b._3)))
      }
    }
    def rec(path: String, sub: Seq[(Long, Long)], d: Int)
        : Seq[(String, Int, Long, Long, Long, Double, Double)] =
      if (d >= maxDepth) Seq.empty
      else best(sub) match {
        case None => Seq.empty
        case Some((t, n, p, pg, wg)) =>
          (path, d, t, n, p, pg, wg) +:
            (rec(path + "L", sub.filter(_._1 <= t), d + 1) ++
              rec(path + "R", sub.filter(_._1 > t), d + 1))
      }
    rec("", rows, 0)
  }

  test("p20 depth-3 tree equals a brute recursive split search") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, sf)
      .select(floor($"l_extendedprice" / 100.0).cast("long").as("bin"),
        ($"l_returnflag" === "R").cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = bruteTree(rows, 3)
      .map { case (nm, d, t, n, p, pg, wg) =>
        (if (nm.isEmpty) "root" else nm, d.toLong, t, n, p,
          r4(pg), r4(wg), r4(pg - wg))
      }.sortBy(e => (e._2, e._1))
    val got = graft.operators.Stump.p20Tree3(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toSeq
    assert(got == expected && got.nonEmpty)
    // child-partition identities at EVERY level: each split node's
    // population equals its children's (or is a leaf)
    val splits = graft.operators.RegTree.fitForestSplits(
      rows.toDF("bin", "y").groupBy($"bin", $"y").agg(count(lit(1)).as("w")),
      Seq((lit(true), Seq("bin"))), 3, graft.operators.RegTree.Gini).head
    val byNode = splits.map(s => s.node -> s).toMap
    splits.foreach { s =>
      assert(s.nl + s.nr == s.n && s.pl + s.pr == s.pos,
        s"split census of '${s.node}' does not partition the node")
      byNode.get(s.node + "L").foreach(c =>
        assert(c.n == s.nl && c.pos == s.pl,
          s"left child census of '${s.node}' drifted"))
      byNode.get(s.node + "R").foreach(c =>
        assert(c.n == s.nr && c.pos == s.pr,
          s"right child census of '${s.node}' drifted"))
    }
  }

  test("p21 boosted stumps equal a brute residual-fitting replay, SSE non-increasing") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, sf)
      .select(floor($"l_extendedprice" / 100.0).cast("long").as("bin"),
        ($"l_returnflag" === "R").cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val S = graft.operators.Gbt.gbtShift
    val n = rows.length.toLong
    val pos = rows.map(_._2).sum
    val hist = rows.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._2).sum))
      .toSeq.sortBy(_._1).toVector
    val f0 = pos * 1000L / n
    // independent derivation: per-BIN prediction map, residual moments
    // accumulated bin-by-bin in plain Scala
    var fOf: Map[Long, Long] = hist.map(h => h._1 -> f0).toMap
    var expected = Vector.empty[(Long, Long, Long, Long, Long, Long, Long)]
    for (t <- 1 to graft.operators.Gbt.gbtRounds) {
      val moments = hist.map { case (bin, (cnt, p)) =>
        val f = fOf(bin)
        (bin, cnt, p * 1000L - cnt * f,
          p * (1000L - f) * (1000L - f) + (cnt - p) * f * f)
      }
      val nT = moments.map(_._2).sum
      val srT = moments.map(_._3).sum
      val srrT = moments.map(_._4).sum
      var nl = 0L; var srl = 0L; var srrl = 0L
      val cands = moments.map { m =>
        nl += m._2; srl += m._3; srrl += m._4; (m._1, nl, srl, srrl)
      }.filter(_._2 < nT)
      def sse(c: (Long, Long, Long, Long)): Double = {
        val (_, cnl, csrl, csrrl) = c
        val cnr = nT - cnl; val csrr = srT - csrl; val csrrr = srrT - csrrl
        (csrrl.toDouble - csrl.toDouble * csrl.toDouble / cnl.toDouble) +
          (csrrr.toDouble - csrr.toDouble * csrr.toDouble / cnr.toDouble)
      }
      val b = cands.minBy(c => (sse(c), c._1))
      val (thr, bnl, bsrl, _) = b
      val bnr = nT - bnl; val bsrr = srT - bsrl
      val vl = (bsrl + bnl * S) / bnl - S
      val vr = (bsrr + bnr * S) / bnr - S
      val dl = (vl + S) / 2L - S / 2L
      val dr = (vr + S) / 2L - S / 2L
      fOf = fOf.map { case (bin, f) =>
        bin -> (f + (if (bin <= thr) dl else dr))
      }
      val sseAfter = hist.map { case (bin, (cnt, p)) =>
        val f = fOf(bin)
        p * (1000L - f) * (1000L - f) + (cnt - p) * f * f
      }.sum
      expected :+= ((t.toLong, thr, bnl, bnr, vl, vr, sseAfter))
    }
    val got = graft.operators.Gbt.p21Gbt3(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toVector
    assert(got == expected)
    // boosting must not make training SSE worse, round over round
    val sses = got.map(_._7)
    val sse0 = hist.map { case (_, (cnt, p)) =>
      p * (1000L - f0) * (1000L - f0) + (cnt - p) * f0 * f0
    }.sum
    (sse0 +: sses).sliding(2).foreach { w =>
      assert(w(1) <= w(0), s"SSE increased: ${w(0)} -> ${w(1)}")
    }
    // predictions stayed far inside the shift margin (the division
    // correctness bound)
    assert(fOf.values.forall(f => math.abs(f) < S / 2))
  }

  test("GraftGBT estimator: boosted fit, additive scoring, persistence round-trip") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ml.feature.{GraftGBT, GraftGBTModel}
    val design = Tables.lineitem(spark, sf)
      .select($"l_extendedprice".as("price"),
        ($"l_returnflag" === "R").cast("long").as("label"))
    val model = new GraftGBT().setMaxIter(3).setBinWidth(100.0)
      .setFeaturesCol("price").setLabelCol("label")
      .fit(design)
    // the fitted rounds ARE p21's oracle-gated output
    val p21 = graft.operators.Gbt.p21Gbt3(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(model.rounds.toSeq.map(r => (r.round.toLong, r.thresholdBin,
      r.nLeft, r.nRight, r.vLeft, r.vRight, r.sseAfter)) == p21)
    // transform scores every row with the exact additive integer chain
    def walk(bin: Long): Long =
      model.rounds.foldLeft(model.baseF) { (f, r) =>
        val (dl, dr) = graft.operators.Gbt.adjustments(r)
        f + (if (bin <= r.thresholdBin) dl else dr)
      }
    val scored = model.transform(design)
      .select(floor($"price" / 100.0).cast("long"),
        $"probability", $"prediction").limit(500).collect()
    scored.foreach { r =>
      val f = walk(r.getLong(0))
      assert(r.getDouble(1) == f.toDouble / 1000.0)
      assert(r.getLong(2) == (if (f >= 500L) 1L else 0L))
    }
    // persistence round-trip preserves rounds, base, params, scoring
    val dir = java.nio.file.Files.createTempDirectory("graft_gbt").toString
    model.write.overwrite().save(dir)
    val back = GraftGBTModel.load(dir)
    assert(back.baseF == model.baseF &&
      back.rounds.toSeq == model.rounds.toSeq)
    assert(back.getOrDefault(back.maxIter) == 3)
    val a = model.transform(design).agg(sum($"probability")).head.getDouble(0)
    val b = back.transform(design).agg(sum($"probability")).head.getDouble(0)
    assert(a == b)
    // estimator (unfitted) round-trip keeps explicit params
    val edir = java.nio.file.Files.createTempDirectory("graft_gbt_e").toString
    new GraftGBT().setMaxIter(2).setFeaturesCol("price")
      .setLabelCol("label").write.overwrite().save(edir)
    val eBack = GraftGBT.load(edir)
    assert(eBack.getOrDefault(eBack.maxIter) == 2 &&
      eBack.get(eBack.featuresCol).contains("price"))
  }

  test("GraftTree estimator: depth-k fit, codegen scoring, persistence round-trip") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ml.feature.{GraftTree, GraftTreeModel}
    val design = Tables.lineitem(spark, sf)
      .select($"l_extendedprice".as("price"),
        ($"l_returnflag" === "R").cast("long").as("label"))
    val model = new GraftTree().setMaxDepth(3).setBinWidth(100.0)
      .setFeaturesCol("price").setLabelCol("label")
      .fit(design)
    // the fitted split table IS the brute recursion's
    val rows = design.select(floor($"price" / 100.0).cast("long"),
        $"label").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = bruteTree(rows, 3).map(b => (b._1, b._3)).sortBy(_._1)
    assert(model.splits.map(s => (s.node, s.thresholdBin)).sortBy(_._1)
      .toSeq == brute)
    // transform scores every row with its leaf's EXACT positive rate
    val scored = model.transform(design)
    assert(scored.schema.fieldNames.contains("probability") &&
      scored.schema.fieldNames.contains("prediction"))
    val byNode = model.splits.map(s => s.node -> s).toMap
    def leafOf(bin: Long): String = {
      var p = ""
      while (byNode.contains(p))
        p += (if (bin <= byNode(p).thresholdBin) "L" else "R")
      p
    }
    def rateOf(path: String): Double = {
      val s = byNode(path.dropRight(1))
      if (path.last == 'L') s.pl.toDouble / s.nl.toDouble
      else s.pr.toDouble / s.nr.toDouble
    }
    val sample = scored.select(floor($"price" / 100.0).cast("long"),
        $"probability", $"prediction").limit(500).collect()
    sample.foreach { r =>
      val want = rateOf(leafOf(r.getLong(0)))
      assert(r.getDouble(1) == want, s"bin ${r.getLong(0)} scored wrong")
      assert(r.getLong(2) == (if (want >= 0.5) 1L else 0L))
    }
    // leaf rates aggregate back to the corpus positive rate
    val agg = scored.agg(sum($"probability"), count(lit(1))).head()
    val posTotal = rows.map(_._2).sum.toDouble
    assert(math.abs(agg.getDouble(0) - posTotal) < 1e-6 * rows.length,
      "leaf-rate mass must reproduce the total positives")
    // persistence round-trip: params + split table + scoring identical
    val dir = java.nio.file.Files.createTempDirectory("graft_tree").toString
    model.write.overwrite().save(dir)
    val back = GraftTreeModel.load(dir)
    assert(back.splits.toSeq == model.splits.toSeq &&
      back.rootN == model.rootN && back.rootPos == model.rootPos)
    assert(back.getOrDefault(back.maxDepth) == 3 &&
      back.getOrDefault(back.binWidth) == 100.0)
    val again = back.transform(design).select($"probability")
      .limit(100).collect().map(_.getDouble(0)).toSeq
    val orig = scored.select($"probability")
      .limit(100).collect().map(_.getDouble(0)).toSeq
    assert(again == orig)
    // estimator (unfitted) round-trip keeps explicit params
    val edir = java.nio.file.Files.createTempDirectory("graft_tree_e").toString
    new GraftTree().setMaxDepth(2).setFeaturesCol("price")
      .setLabelCol("label").write.overwrite().save(edir)
    val eBack = GraftTree.load(edir)
    assert(eBack.getOrDefault(eBack.maxDepth) == 2 &&
      eBack.get(eBack.featuresCol).contains("price"))
  }

  /** Brute multi-feature recursive split search (independent of the
    * engine's window/explode formulation): rows carry the FULL feature
    * vector, each node argmins weighted Gini across every (feature,
    * bin) candidate with tie order wg -> feature -> bin. */
  private def bruteTreeMulti(rows: Seq[(IndexedSeq[Long], Long)],
      maxDepth: Int)
      : Seq[(String, Int, Int, Long, Long, Long, Double, Double)] = {
    val k = rows.head._1.length
    def gini(p: Long, q: Long, m: Long) =
      1.0 - (p.toDouble / m.toDouble) * (p.toDouble / m.toDouble) -
        (q.toDouble / m.toDouble) * (q.toDouble / m.toDouble)
    def best(sub: Seq[(IndexedSeq[Long], Long)])
        : Option[(Int, Long, Long, Long, Double, Double)] = {
      val n = sub.length.toLong; val pos = sub.map(_._2).sum
      def wg(nl: Long, pl: Long) = {
        val nr = n - nl; val pr = pos - pl
        (nl.toDouble * gini(pl, nl - pl, nl) +
          nr.toDouble * gini(pr, nr - pr, nr)) / n.toDouble
      }
      val cands = (0 until k).flatMap { f =>
        val hist = sub.groupBy(_._1(f)).view
          .mapValues(v => (v.length.toLong, v.map(_._2).sum))
          .toSeq.sortBy(_._1)
        var nl = 0L; var pl = 0L
        hist.map { case (bin, (c, p)) =>
          nl += c; pl += p; (f, bin, nl, pl)
        }.filter(_._3 < n)
      }
      if (cands.isEmpty) None
      else {
        val b = cands.minBy(c => (wg(c._3, c._4), c._1, c._2))
        Some((b._1, b._2, n, pos, gini(pos, n - pos, n), wg(b._3, b._4)))
      }
    }
    def rec(path: String, sub: Seq[(IndexedSeq[Long], Long)], d: Int)
        : Seq[(String, Int, Int, Long, Long, Long, Double, Double)] =
      if (d >= maxDepth) Seq.empty
      else best(sub) match {
        case None => Seq.empty
        case Some((f, t, n, p, pg, wg)) =>
          (path, d, f, t, n, p, pg, wg) +:
            (rec(path + "L", sub.filter(_._1(f) <= t), d + 1) ++
              rec(path + "R", sub.filter(_._1(f) > t), d + 1))
      }
    rec("", rows, 0)
  }

  private def multiRows(): Seq[(IndexedSeq[Long], Long)] = {
    graft.operators.Stump.multiDesign(spark, sf).collect()
      .map(r => (IndexedSeq(r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getLong(3))).toSeq
  }

  test("p22 multi-feature tree equals a brute argmin across all feature histograms") {
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = multiRows()
    val expected = bruteTreeMulti(rows, 3)
      .map { case (nm, d, f, t, n, p, pg, wg) =>
        (if (nm.isEmpty) "root" else nm, d.toLong, f.toLong, t, n, p,
          r4(pg), r4(wg), r4(pg - wg))
      }.sortBy(e => (e._2, e._1))
    val got = graft.operators.Stump.p22TreeMulti(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8))).toSeq
    assert(got == expected && got.nonEmpty)
    // the search genuinely arbitrates: at least two distinct features
    // must be chosen somewhere in the depth-3 table (price/quantity/
    // discount have very different Gini profiles on the fixture)
    assert(got.map(_._3).distinct.length >= 2,
      s"argmin never left one feature: ${got.map(_._3)}")
    // census identities per split node
    import org.apache.spark.sql.functions.lit
    val splits = graft.operators.RegTree.fitForestSplits(
      graft.operators.Stump.multiDesign(spark, sf),
      Seq((lit(true), graft.operators.Stump.multiFeatures)), 3,
      graft.operators.RegTree.Gini).head
    val byNode = splits.map(x => x.node -> x).toMap
    splits.foreach { x =>
      assert(x.nl + x.nr == x.n && x.pl + x.pr == x.pos)
      byNode.get(x.node + "L").foreach(c =>
        assert(c.n == x.nl && c.pos == x.pl))
      byNode.get(x.node + "R").foreach(c =>
        assert(c.n == x.nr && c.pos == x.pr))
    }
  }

  test("p23 multi-feature GBT equals a brute residual replay over the feature vectors") {
    val rows = multiRows()
    val S = graft.operators.Gbt.shiftFor(graft.operators.Gbt.gbtRounds)
    val n = rows.length.toLong
    val pos = rows.map(_._2).sum
    val f0 = pos * 1000L / n
    // per-ROW prediction (multi-feature routing makes per-bin F
    // ill-defined — the very reason the engine re-censuses per round)
    var fRow: IndexedSeq[Long] = IndexedSeq.fill(rows.length)(f0)
    var expected = Vector.empty[(Long, Long, Long, Long, Long, Long, Long, Long)]
    for (t <- 1 to graft.operators.Gbt.gbtRounds) {
      val rr = rows.indices.map(i => rows(i)._2 * 1000L - fRow(i))
      val srT = rr.sum
      val srrT = rr.map(x => x * x).sum
      val cands = (0 until 3).flatMap { f =>
        val byBin = rows.indices.groupBy(i => rows(i)._1(f)).toSeq
          .sortBy(_._1)
        var nl = 0L; var srl = 0L; var srrl = 0L
        byBin.map { case (bin, idx) =>
          nl += idx.length; srl += idx.map(rr).sum
          srrl += idx.map(i => rr(i) * rr(i)).sum
          (f, bin, nl, srl, srrl)
        }.filter(_._3 < n)
      }
      def sse(c: (Int, Long, Long, Long, Long)): Double = {
        val (_, _, cnl, csrl, csrrl) = c
        val cnr = n - cnl; val csrr = srT - csrl; val csrrr = srrT - csrrl
        (csrrl.toDouble - csrl.toDouble * csrl.toDouble / cnl.toDouble) +
          (csrrr.toDouble - csrr.toDouble * csrr.toDouble / cnr.toDouble)
      }
      val b = cands.minBy(c => (sse(c), c._1, c._2))
      val (bf, thr, bnl, bsrl, _) = b
      val bnr = n - bnl; val bsrr = srT - bsrl
      val vl = (bsrl + bnl * S) / bnl - S
      val vr = (bsrr + bnr * S) / bnr - S
      val dl = (vl + S) / 2L - S / 2L
      val dr = (vr + S) / 2L - S / 2L
      fRow = rows.indices.map(i =>
        fRow(i) + (if (rows(i)._1(bf) <= thr) dl else dr))
      val sseAfter = rows.indices.map { i =>
        val d2 = rows(i)._2 * 1000L - fRow(i); d2 * d2 }.sum
      expected :+= ((t.toLong, bf.toLong, thr, bnl, bnr, vl, vr, sseAfter))
    }
    val got = graft.operators.Gbt.p23GbtMulti(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toVector
    assert(got == expected)
    // SSE non-increasing round over round
    val sse0 = rows.indices.map { i =>
      val d2 = rows(i)._2 * 1000L - f0; d2 * d2 }.sum
    (sse0 +: got.map(_._8)).sliding(2).foreach(w =>
      assert(w(1) <= w(0), s"SSE increased: ${w(0)} -> ${w(1)}"))
  }

  test("GraftTree/GraftGBT featureCols: multi-feature fit, scoring, persistence") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ml.feature.{GraftGBT, GraftGBTModel, GraftTree, GraftTreeModel}
    // raw columns pre-scaled so binWidths of (100, 1, 1) reproduce the
    // p22/p23 design bins exactly (disc*100 floors identically)
    val design = Tables.lineitem(spark, sf)
      .select($"l_extendedprice".as("price"),
        $"l_quantity".cast("double").as("qty"),
        ($"l_discount" * 100.0).as("disc100"),
        ($"l_returnflag" === "R").cast("long").as("label"))
    val feats = Array("price", "qty", "disc100")
    val widths = Array(100.0, 1.0, 1.0)
    val tree = new GraftTree().setMaxDepth(3).setFeatureCols(feats)
      .setBinWidths(widths).setLabelCol("label").fit(design)
    // the fitted split table IS p22's oracle-gated output
    val p22 = graft.operators.Stump.p22TreeMulti(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
      .toSeq
    assert(tree.splits.map(s => (if (s.node.isEmpty) "root" else s.node,
      s.feature.toLong, s.thresholdBin)).sortBy(_._1).toSeq == p22)
    // codegen scoring routes on the CHOSEN feature per node
    val byNode = tree.splits.map(s => s.node -> s).toMap
    def leafRate(bins: IndexedSeq[Long]): Double = {
      var p = ""
      while (byNode.contains(p)) {
        val s = byNode(p)
        p += (if (bins(s.feature) <= s.thresholdBin) "L" else "R")
      }
      val s = byNode(p.dropRight(1))
      if (p.last == 'L') s.pl.toDouble / s.nl.toDouble
      else s.pr.toDouble / s.nr.toDouble
    }
    val sample = tree.transform(design)
      .select(floor($"price" / 100.0).cast("long"),
        floor($"qty").cast("long"), floor($"disc100").cast("long"),
        $"probability").limit(300).collect()
    sample.foreach { r =>
      val want = leafRate(IndexedSeq(r.getLong(0), r.getLong(1),
        r.getLong(2)))
      assert(r.getDouble(3) == want)
    }
    // persistence keeps the feature indices and the array params
    val tdir = java.nio.file.Files.createTempDirectory("graft_treem").toString
    tree.write.overwrite().save(tdir)
    val tBack = GraftTreeModel.load(tdir)
    assert(tBack.splits.toSeq == tree.splits.toSeq)
    assert(tBack.getOrDefault(tBack.featureCols).toSeq == feats.toSeq)
    assert(tBack.getOrDefault(tBack.binWidths).toSeq == widths.toSeq)
    val pa = tree.transform(design).agg(sum($"probability")).head.getDouble(0)
    val pb = tBack.transform(design).agg(sum($"probability")).head.getDouble(0)
    assert(pa == pb)
    // GBT: fitted rounds ARE p23's oracle-gated output, scoring exact
    val gbt = new GraftGBT().setMaxIter(3).setFeatureCols(feats)
      .setBinWidths(widths).setLabelCol("label").fit(design)
    val p23 = graft.operators.Gbt.p23GbtMulti(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(gbt.rounds.toSeq.map(r => (r.round.toLong, r.feature.toLong,
      r.thresholdBin, r.nLeft, r.nRight, r.vLeft, r.vRight,
      r.sseAfter)) == p23)
    def walk(bins: IndexedSeq[Long]): Long =
      gbt.rounds.foldLeft(gbt.baseF) { (f, r) =>
        val (dl, dr) = graft.operators.Gbt.adjustments(r)
        f + (if (bins(r.feature) <= r.thresholdBin) dl else dr)
      }
    val gsample = gbt.transform(design)
      .select(floor($"price" / 100.0).cast("long"),
        floor($"qty").cast("long"), floor($"disc100").cast("long"),
        $"probability", $"prediction").limit(300).collect()
    gsample.foreach { r =>
      val f = walk(IndexedSeq(r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(r.getDouble(3) == f.toDouble / 1000.0)
      assert(r.getLong(4) == (if (f >= 500L) 1L else 0L))
    }
    val gdir = java.nio.file.Files.createTempDirectory("graft_gbtm").toString
    gbt.write.overwrite().save(gdir)
    val gBack = GraftGBTModel.load(gdir)
    assert(gBack.rounds.toSeq == gbt.rounds.toSeq &&
      gBack.baseF == gbt.baseF)
    assert(gBack.getOrDefault(gBack.featureCols).toSeq == feats.toSeq)
  }

  /** Independent quantile edges: brute sort + (n−1)p interpolation —
    * the quantile_cont definition derived from scratch, not via the
    * engine's two-phase exactPercentiles. */
  private def bruteEdges(vals: Seq[Double], bins: Int): Seq[Double] = {
    val v = vals.sorted.toIndexedSeq
    (1 until bins).map { b =>
      val k = (b.toDouble / bins) * (v.length - 1).toDouble
      val lo = v(math.floor(k).toInt)
      val hi = v(math.ceil(k).toInt)
      lo + (k - math.floor(k)) * (hi - lo)
    }
  }

  private def bruteBin(x: Double, edges: Seq[Double]): Long = {
    val i = edges.indexWhere(x <= _)
    if (i < 0) edges.length.toLong else i.toLong
  }

  /** The p24/p25 quantile-binned rows, derived entirely spec-side. */
  private def regRows(): Seq[(IndexedSeq[Long], Long)] = {
    import TestSpark.spark.implicits._
    val raw = Tables.lineitem(spark, sf)
      .select($"l_extendedprice", $"l_discount",
        $"l_quantity".cast("long")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
    val pe = bruteEdges(raw.map(_._1), graft.operators.RegTree.priceBins)
    val de = bruteEdges(raw.map(_._2), graft.operators.RegTree.discBins)
    raw.map { case (p, d, y) =>
      (IndexedSeq(bruteBin(p, pe), bruteBin(d, de)), y) }
  }

  test("p24 regression tree equals a brute variance split search " +
      "over independently derived quantile bins") {
    val rows = regRows()
    // brute recursive squared-error split search, tie sse→feature→bin
    def best(sub: Seq[(IndexedSeq[Long], Long)])
        : Option[(Int, Long, Long, Long, Long, Long, Long, Long)] = {
      val n = sub.length.toLong
      val syt = sub.map(_._2).sum
      val syyt = sub.map(r => r._2 * r._2).sum
      def sse(nl: Long, syl: Long, syyl: Long) = {
        val nr = n - nl; val syr = syt - syl; val syyr = syyt - syyl
        (syyl.toDouble - syl.toDouble * syl.toDouble / nl.toDouble) +
          (syyr.toDouble - syr.toDouble * syr.toDouble / nr.toDouble)
      }
      val cands = (0 until 2).flatMap { f =>
        val hist = sub.groupBy(_._1(f)).view
          .mapValues(v => (v.length.toLong, v.map(_._2).sum,
            v.map(r => r._2 * r._2).sum)).toSeq.sortBy(_._1)
        var nl = 0L; var syl = 0L; var syyl = 0L
        hist.map { case (bin, (c, s, ss)) =>
          nl += c; syl += s; syyl += ss; (f, bin, nl, syl, syyl)
        }.filter(_._3 < n)
      }
      if (cands.isEmpty) None
      else {
        val b = cands.minBy(c => (sse(c._3, c._4, c._5), c._1, c._2))
        val (f, t, nl, syl, _) = b
        val nr = n - nl; val syr = syt - syl
        Some((f, t, n, syt, nl, nr,
          Math.floorDiv(1000L * syl, nl), Math.floorDiv(1000L * syr, nr)))
      }
    }
    def rec(path: String, sub: Seq[(IndexedSeq[Long], Long)], d: Int)
        : Seq[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)] =
      if (d >= 3) Seq.empty
      else best(sub) match {
        case None => Seq.empty
        case Some((f, t, n, syt, nl, nr, vl, vr)) =>
          (if (path.isEmpty) "root" else path, d.toLong, f.toLong, t, n,
            syt, nl, nr, vl, vr) +:
            (rec(path + "L", sub.filter(_._1(f) <= t), d + 1) ++
              rec(path + "R", sub.filter(_._1(f) > t), d + 1))
      }
    val expected = rec("", rows, 0).sortBy(e => (e._2, e._1))
    val got = graft.operators.RegTree.p24RegTree(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9))).toSeq
    assert(got == expected && got.nonEmpty)
    // both features must be chosen somewhere (the argmin arbitrates)
    assert(got.map(_._3).distinct.length == 2,
      s"argmin never left one feature: ${got.map(_._3)}")
  }

  test("p25 regression GBT equals a brute residual replay on the " +
      "integer grid") {
    val rows = regRows()
    val S = graft.operators.RegTree.regShiftFor(
      graft.operators.RegTree.regGridBound, graft.operators.Gbt.gbtRounds)
    val n = rows.length.toLong
    val yg = rows.map(_._2 * 100L)
    val f0 = Math.floorDiv(yg.sum, n)
    var fRow: IndexedSeq[Long] = IndexedSeq.fill(rows.length)(f0)
    var expected = Vector.empty[(Long, Long, Long, Long, Long, Long, Long, Long)]
    for (t <- 1 to graft.operators.Gbt.gbtRounds) {
      val rr = rows.indices.map(i => yg(i) - fRow(i))
      val srT = rr.sum
      val srrT = rr.map(x => x * x).sum
      val cands = (0 until 2).flatMap { f =>
        val byBin = rows.indices.groupBy(i => rows(i)._1(f)).toSeq
          .sortBy(_._1)
        var nl = 0L; var srl = 0L; var srrl = 0L
        byBin.map { case (bin, idx) =>
          nl += idx.length; srl += idx.map(rr).sum
          srrl += idx.map(i => rr(i) * rr(i)).sum
          (f, bin, nl, srl, srrl)
        }.filter(_._3 < n)
      }
      def sse(c: (Int, Long, Long, Long, Long)): Double = {
        val (_, _, cnl, csrl, csrrl) = c
        val cnr = n - cnl; val csrr = srT - csrl; val csrrr = srrT - csrrl
        (csrrl.toDouble - csrl.toDouble * csrl.toDouble / cnl.toDouble) +
          (csrrr.toDouble - csrr.toDouble * csrr.toDouble / cnr.toDouble)
      }
      val b = cands.minBy(c => (sse(c), c._1, c._2))
      val (bf, thr, bnl, bsrl, _) = b
      val bnr = n - bnl; val bsrr = srT - bsrl
      val vl = (bsrl + bnl * S) / bnl - S
      val vr = (bsrr + bnr * S) / bnr - S
      val dl = (vl + S) / 2L - S / 2L
      val dr = (vr + S) / 2L - S / 2L
      fRow = rows.indices.map(i =>
        fRow(i) + (if (rows(i)._1(bf) <= thr) dl else dr))
      val sseAfter = rows.indices.map { i =>
        val d2 = yg(i) - fRow(i); d2 * d2 }.sum
      expected :+= ((t.toLong, bf.toLong, thr, bnl, bnr, vl, vr, sseAfter))
    }
    val got = graft.operators.RegTree.p25RegGbt(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toVector
    assert(got == expected)
    // SSE non-increasing round over round
    val sse0 = rows.indices.map { i =>
      val d2 = yg(i) - f0; d2 * d2 }.sum
    (sse0 +: got.map(_._8)).sliding(2).foreach(w =>
      assert(w(1) <= w(0), s"SSE increased: ${w(0)} -> ${w(1)}"))
  }

  test("GraftTree/GraftGBT variance loss: quantile binning, scoring, " +
      "persistence round-trips") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ml.feature.{GraftGBT, GraftGBTModel, GraftTree, GraftTreeModel}
    val raw = Tables.lineitem(spark, sf)
      .select($"l_extendedprice".as("price"), $"l_discount".as("disc"),
        $"l_quantity".cast("long").as("qty"))
    // variance tree with automatic quantile binning (numBins edges
    // learned at fit, persisted, reused by transform)
    val tree = new GraftTree().setMaxDepth(2).setLossType("variance")
      .setNumBins(8).setFeatureCols(Array("price", "disc"))
      .setLabelCol("qty").fit(raw)
    assert(tree.binEdges.length == 2 &&
      tree.binEdges.forall(_.length == 7))
    // the fitted splits equal a direct reg-trainer run on the same
    // engine-binned design (edges are width-invariant exact quantiles)
    val pe = tree.binEdges(0).toSeq
    val de = tree.binEdges(1).toSeq
    val design = raw.select(
      graft.operators.RegTree.quantileBin($"price", pe).as("f0"),
      graft.operators.RegTree.quantileBin($"disc", de).as("f1"),
      $"qty".as("y"), lit(1L).as("w"))
    val direct = graft.operators.RegTree.fitForestSplits(design,
      Seq((lit(true), Seq("f0", "f1"))), 2,
      graft.operators.RegTree.Variance).head
    assert(tree.splits.toSeq == direct)
    // transform: leaf value is the exact mean, prediction its half-up
    // rounding
    val scored = tree.transform(raw).select($"probability", $"prediction")
      .limit(200).collect()
    scored.foreach(r => assert(
      r.getLong(1) == math.floor(r.getDouble(0) + 0.5).toLong))
    // persistence: edges, loss, and scoring survive the round-trip
    val tdir = java.nio.file.Files.createTempDirectory("graft_regt").toString
    tree.write.overwrite().save(tdir)
    val tBack = GraftTreeModel.load(tdir)
    assert(tBack.binEdges.map(_.toSeq).toSeq ==
      tree.binEdges.map(_.toSeq).toSeq)
    assert(tBack.getOrDefault(tBack.lossType) == "variance")
    assert(tBack.getOrDefault(tBack.numBins) == 8)
    assert(tBack.splits.toSeq == tree.splits.toSeq)
    val ta = tree.transform(raw).agg(sum($"probability")).head.getDouble(0)
    val tb = tBack.transform(raw).agg(sum($"probability")).head.getDouble(0)
    assert(ta == tb)
    // estimator params round-trip too
    val edir = java.nio.file.Files.createTempDirectory("graft_rege").toString
    val est = new GraftTree().setLossType("variance").setNumBins(8)
      .setFeatureCols(Array("price", "disc")).setLabelCol("qty")
    est.write.overwrite().save(edir)
    val eBack = GraftTree.load(edir)
    assert(eBack.getOrDefault(eBack.lossType) == "variance" &&
      eBack.getOrDefault(eBack.numBins) == 8)
    // variance GBT: equals a direct fitGbtMulti on the same
    // width-binned design; params round-trip
    val gbt = new GraftGBT().setMaxIter(3).setLossType("variance")
      .setLabelGrid(100L).setLabelBound(5000L)
      .setFeatureCols(Array("price", "disc"))
      .setBinWidths(Array(100.0, 0.01)).setLabelCol("qty").fit(raw)
    val gdesign = raw.select(
      floor($"price" / 100.0).cast("long").as("__f0"),
      floor($"disc" / 0.01).cast("long").as("__f1"),
      ($"qty" * 100L).as("yg"), lit(1L).as("w"))
    val (gf0, gdirect) = graft.operators.Gbt.fitGbtMulti(gdesign,
      Seq("__f0", "__f1"), 3, (-5000L, 5000L),
      graft.operators.RegTree.regShiftFor(5000L, 3))
    assert(gbt.baseF == gf0 && gbt.rounds.toSeq == gdirect)
    val gdir2 = java.nio.file.Files.createTempDirectory("graft_regg").toString
    gbt.write.overwrite().save(gdir2)
    val gBack = GraftGBTModel.load(gdir2)
    assert(gBack.getOrDefault(gBack.lossType) == "variance" &&
      gBack.getOrDefault(gBack.labelGrid) == 100L &&
      gBack.getOrDefault(gBack.labelBound) == 5000L)
    assert(gBack.rounds.toSeq == gbt.rounds.toSeq &&
      gBack.baseF == gbt.baseF)
    // variance scoring: probability is F/grid, prediction its rounding
    val gscored = gbt.transform(raw).select($"probability", $"prediction")
      .limit(200).collect()
    gscored.foreach(r => assert(
      r.getLong(1) == math.floor(r.getDouble(0) + 0.5).toLong))
  }

  test("p26 bagged forest equals per-tree brute replays on hash-complement bags") {
    import TestSpark.spark.implicits._
    import graft.operators.RegTree
    val raw = Tables.lineitem(spark, sf)
      .select($"l_extendedprice", $"l_discount", $"l_tax",
        $"l_quantity".cast("long"), $"l_orderkey", $"l_linenumber")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getInt(5))).toSeq
    val pe = bruteEdges(raw.map(_._1), RegTree.priceBins)
    val de = bruteEdges(raw.map(_._2), RegTree.discBins)
    val te = bruteEdges(raw.map(_._3), RegTree.taxBins)
    // independent bag-bucket derivation: JVM MessageDigest, not
    // Spark's md5/conv chain
    def bucket(ok: Long, ln: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$ok#$ln".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map("%02x".format(_)).mkString, 16) % 3L
    }
    val rows = raw.map { case (p, d, x, y, ok, ln) =>
      (IndexedSeq(bruteBin(p, pe), bruteBin(d, de), bruteBin(x, te)), y,
        bucket(ok, ln)) }
    // brute depth-2 recursion over an explicit GLOBAL feature subset
    def best(sub: Seq[(IndexedSeq[Long], Long)], fs: Seq[Int])
        : Option[(Int, Long, Long, Long, Long, Long, Long, Long)] = {
      val n = sub.length.toLong
      val syt = sub.map(_._2).sum
      val syyt = sub.map(r => r._2 * r._2).sum
      def sse(nl: Long, syl: Long, syyl: Long) = {
        val nr = n - nl; val syr = syt - syl; val syyr = syyt - syyl
        (syyl.toDouble - syl.toDouble * syl.toDouble / nl.toDouble) +
          (syyr.toDouble - syr.toDouble * syr.toDouble / nr.toDouble)
      }
      val cands = fs.indices.flatMap { j =>
        val f = fs(j)
        val hist = sub.groupBy(_._1(f)).view
          .mapValues(v => (v.length.toLong, v.map(_._2).sum,
            v.map(r => r._2 * r._2).sum)).toSeq.sortBy(_._1)
        var nl = 0L; var syl = 0L; var syyl = 0L
        hist.map { case (bin, (c, s, ss)) =>
          nl += c; syl += s; syyl += ss; (j, bin, nl, syl, syyl)
        }.filter(_._3 < n)
      }
      if (cands.isEmpty) None
      else {
        // tie order is LOCAL feature index (the engine argmins over
        // its two-column design), then bin
        val b = cands.minBy(c => (sse(c._3, c._4, c._5), c._1, c._2))
        val (j, t, nl, syl, _) = b
        val nr = n - nl; val syr = syt - syl
        Some((fs(j), t, n, syt, nl, nr,
          Math.floorDiv(1000L * syl, nl), Math.floorDiv(1000L * syr, nr)))
      }
    }
    def rec(tree: Int, fs: Seq[Int], path: String,
        sub: Seq[(IndexedSeq[Long], Long)], d: Int): Seq[(Long, String,
        Long, Long, Long, Long, Long, Long, Long, Long, Long)] =
      if (d >= RegTree.forestTreeDepth) Seq.empty
      else best(sub, fs) match {
        case None => Seq.empty
        case Some((f, t, n, syt, nl, nr, vl, vr)) =>
          (tree.toLong, if (path.isEmpty) "root" else path, d.toLong,
            f.toLong, t, n, syt, nl, nr, vl, vr) +:
            (rec(tree, fs, path + "L", sub.filter(_._1(f) <= t), d + 1) ++
              rec(tree, fs, path + "R", sub.filter(_._1(f) > t), d + 1))
      }
    val expected = RegTree.forestSubsets.zipWithIndex.flatMap {
      case ((a, b), t) =>
        rec(t, Seq(a, b), "",
          rows.filter(_._3 != t.toLong).map(r => (r._1, r._2)), 0)
    }.sortBy(e => (e._1, e._3, e._2))
    val got = RegTree.p26Forest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9), r.getLong(10))).toSeq
    assert(got == expected && got.nonEmpty)
    // bagging is real: each tree's root population is its bag size
    val bagSizes = (0 until 3).map(t => rows.count(_._3 != t.toLong).toLong)
    val roots = got.filter(_._2 == "root").sortBy(_._1)
    assert(roots.map(_._6) == bagSizes)
    // the subspaces are real: every tree only ever splits on its two
    // assigned global features
    got.groupBy(_._1).foreach { case (t, g) =>
      val (a, b) = RegTree.forestSubsets(t.toInt)
      assert(g.map(_._4).toSet.subsetOf(Set(a.toLong, b.toLong)))
    }
  }
}
