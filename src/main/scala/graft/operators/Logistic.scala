package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist
import graft.sources.Tables

/** D111: logistic regression by IRLS over the documents table —
  * `P(lang = 'en') ~ intercept + hecto_chars` — the GLM companion of
  * p9/p10: same one-pass-exact-moments-then-driver-solve shape, but
  * the weighted least squares inside each IRLS step makes it an
  * ITERATIVE moments pipeline (the g1 fixed-superstep discipline
  * applied to model fitting).
  *
  * Fixed [[lrIters]] = 2 supersteps from β⁰ = 0:
  *  - step 1: η = 0 ⇒ p = ½ EXACTLY — no transcendental anywhere, the
  *    weighted normal equations are exact-integer moments (w ≡ ¼,
  *    z = 4y − 2);
  *  - step 2: the single sigmoid pass is QUANTIZED to the ppm grid
  *    (pq = round(p·10⁶) as BIGINT, clamped to [1000, 999000] — the
  *    standard IRLS weight clip), so the one cross-engine
  *    transcendental (exp) would have to land within ~1 ulp of a
  *    0.5-ppm boundary to flip anything; every downstream moment is
  *    again an exact integer (DECIMAL(38,0) / HUGEINT).
  *
  * All float arithmetic after the moments (2×2 Cramer solve, unit
  * de-scaling) is the same expression structure on both engines over
  * bit-identical inputs — the p9 shared-by-construction argument.
  *
  * Scale shape: one partial-aggregated moments pass per superstep
  * (5 mergeable DECIMAL sums each, no row shuffle), O(1) driver
  * solves between passes. IRLS at 100 TB is exactly
  * `iters × (one scan)`, and iters is fixed at 2.
  *
  * Integer-unit bookkeeping: x = n_chars div 100 (hecto-chars), pq in
  * 1e-6, w_q = pq·(10⁶−pq) in 1e-12, zq in 1e-6; per-row products
  * w_q·x²·zq reach ~1e22, so the product chain runs in decimal(38,0)
  * (Spark) / HUGEINT (DuckDB) — cast BEFORE the multiply. The z
  * update is floor(numeratorDouble / wDouble) with the numerator
  * built by the IDENTICAL expression structure on both engines (the
  * intermediate exceeds 2^53, so the double is rounded — identically,
  * because both engines evaluate the same ops on the same operands);
  * its floor is then an exact integer on both (the e9 floor-vs-trunc
  * lesson applied by construction: floor() everywhere, no integer
  * `div`/`//` on possibly-negative values).
  */
object Logistic {

  /** IRLS supersteps (fixed; step 1 is the exact closed half-p form). */
  val lrIters = 2

  /** ppm clamp for the sigmoid quantization (standard weight clip). */
  val pqMin = 1000L
  val pqMax = 999000L

  private[graft] case class Beta(b0: Double, b1: Double)

  /** Full IRLS coefficient trace over an (x: long, y: long) design —
    * the shared fit loop of p11/p13 and the
    * [[graft.ml.feature.GraftLogistic]] Estimator. */
  private[graft] def fitTrace(d: DataFrame, iters: Int): List[Beta] =
    Iterator.iterate(List.empty[Beta]) { acc =>
      acc :+ step(d, acc.lastOption)
    }.drop(iters).next()

  /** The ppm-quantized sigmoid score over the integer feature `x` —
    * ONE expression shared by p13's eval scan and
    * [[graft.ml.feature.GraftLogisticModel.transform]], so model
    * scoring is p13's scoring by construction. */
  private[graft] def pqCol(b0: Double, b1: Double, x: Column): Column = {
    val etaq = round((lit(b0) + lit(b1) * x.cast("double")) * lit(1e6))
      .cast("long")
    least(lit(pqMax), greatest(lit(pqMin),
      round((lit(1.0) / (lit(1.0) +
        exp(-(etaq.cast("double") / lit(1e6))))) * lit(1e6)).cast("long")))
  }

  /** (x, y) integer design: hecto-chars and the is-English indicator. */
  private def design(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      expr("n_chars div 100").as("x"),
      when($"lang" === "en", 1L).otherwise(0L).as("y"))
  }

  /** One IRLS step: given β (None = the exact p=½ first step), compute
    * quantized weights/working response, take exact-integer moments,
    * and Cramer-solve the 2×2 weighted normal equations. */
  private def step(d: DataFrame, beta: Option[Beta]): Beta = {
    val withP = beta match {
      case None =>
        // η = 0 ⇒ p = ½ exactly: pq = 500000, no exp anywhere
        d.withColumn("pq", lit(500000L))
      case Some(Beta(b0, b1)) =>
        // ppm-quantized sigmoid of the (ppm-quantized) linear predictor
        d.withColumn("etaq",
            round((lit(b0) + lit(b1) * col("x").cast("double")) * lit(1e6))
              .cast("long"))
          .withColumn("p",
            lit(1.0) / (lit(1.0) +
              exp(-(col("etaq").cast("double") / lit(1e6)))))
          .withColumn("pq",
            least(lit(pqMax), greatest(lit(pqMin),
              round(col("p") * lit(1e6)).cast("long"))))
    }
    val scored = withP
      .withColumn("wq", col("pq") * (lit(1000000L) - col("pq")))
      .withColumn("etaq0", beta match {
        case None => lit(0L)
        case Some(_) => col("etaq")
      })
      // zq (1e-6 units) = ηq + floor((y·1e6 − pq)·1e12 / w_q); floor on
      // both engines (numerator can be negative when y = 0)
      .withColumn("zq", col("etaq0") +
        floor(((col("y") * lit(1000000L) - col("pq")).cast("double") *
          lit(1e12)) / col("wq").cast("double")).cast("long"))
    wlsSolve(scored, col("wq"))
  }

  /** The decimal-exact 2×2 weighted least-squares solve that ends
    * every IRLS step here and in [[Poisson]]: exact-integer moments
    * Σw, Σwx, Σwx², Σwz, Σwxz of the weight column `w` over the
    * integer feature `x` and working response `zq` (1e-6 units), then
    * Cramer's rule and the ppm de-scaling — the same expression
    * structure as the oracles' stepSql. */
  private[operators] def wlsSolve(scored: DataFrame, w: Column): Beta = {
    // cast to decimal BEFORE multiplying: w·x·zq reaches ~1e22, far
    // past BIGINT — the whole product chain must run in decimal(38,0)
    // (HUGEINT on the DuckDB side)
    val wd = w.cast("decimal(38,0)")
    val row = scored.agg(
      sum(wd), sum(wd * col("x")), sum(wd * col("x") * col("x")),
      sum(wd * col("zq")), sum(wd * col("x") * col("zq"))).head()
    val Seq(sw, swx, swxx, swz, swxz) =
      (0 until 5).map(row.getDecimal(_).doubleValue)
    val det = sw * swxx - swx * swx
    Beta((swz * swxx - swx * swxz) / det / 1e6,
      (sw * swxz - swx * swz) / det / 1e6)
  }

  /** p11: per-iteration coefficient trace (β after each superstep). */
  def p11Logistic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = design(spark, dir)
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val trace = fitTrace(d, lrIters)
    trace.zipWithIndex.flatMap { case (b, i) =>
      Seq((i + 1, 0, "intercept", r4(b.b0)),
        (i + 1, 1, "hecto_chars", r4(b.b1)))
    }.toDF("iter", "idx", "feature", "coef").orderBy($"iter", $"idx")
  }

  /** D166: trained-GLM classification eval — run the fitted p11 model
    * over the corpus at the p ≥ ½ decision threshold and report the
    * exact confusion census + accuracy/precision/recall/F1: the
    * supervised-model counterpart of q52's score-ranking AUC (q52
    * grades a raw feature; p13 grades the MODEL p11 actually fit).
    *
    * Predictions reuse the identical ppm-quantized sigmoid pipeline
    * (clamping never crosses the ½ boundary, so the decision equals
    * η ≥ 0); TP/FP/FN/TN are exact integer sums; each metric is one
    * fixed IEEE expression over those counts (F1 in the
    * 2TP/(2TP+FP+FN) form — no intermediate precision/recall
    * division), 4-dp.
    *
    * Scale shape: the two IRLS moment passes (p11) + ONE scoring scan
    * reduced map-side to a single confusion row. */
  def p13LogisticEval(spark: SparkSession, dir: String): DataFrame = {
    val d = design(spark, dir)
    val beta = fitTrace(d, lrIters).last
    val scored = d
      .withColumn("pq", pqCol(beta.b0, beta.b1, col("x")))
      .withColumn("pred", (col("pq") >= 500000L).cast("long"))
    scored.agg(
        sum(col("pred") * col("y")).as("tp"),
        sum(col("pred") * (lit(1L) - col("y"))).as("fp"),
        sum((lit(1L) - col("pred")) * col("y")).as("fn"),
        sum((lit(1L) - col("pred")) * (lit(1L) - col("y"))).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(expr("CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)"), 4)
          .as("accuracy"),
        round(expr("""CASE WHEN tp + fp = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END"""), 4)
          .as("precision"),
        round(expr("""CASE WHEN tp + fn = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END"""), 4)
          .as("recall"),
        round(expr("""CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE 2.0 * CAST(tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END"""), 4)
          .as("f1"))
  }

  /** D265: calibration curve + Brier score for the trained GLM — per
    * predicted-probability decile: row count, mean predicted
    * probability, observed positive rate; plus the overall row
    * (bin = −1 via ROLLUP) whose Brier score is the proper scoring
    * rule. p13 grades the DECISIONS (threshold confusion); this
    * grades the PROBABILITIES — the readout that decides whether the
    * model's scores can be consumed as probabilities (mixture
    * weighting, expected-loss ranking) or only as a ranking.
    *
    * Bins are ten equal-width slices of the OBSERVED ppm score range
    * (a weakly-separating model concentrates its scores — absolute
    * [0,1] deciles would put the whole corpus in one bin and no curve
    * exists to read).
    *
    * Exactness: the score pq is already a ppm-grid INTEGER
    * ([[pqCol]]); the range bin ((pq−min)·10 div (max−min+1)), Σpq,
    * Σy, and the Brier numerator Σ(pq − y·10⁶)² are all exact
    * integers (decimal(38,0)/HUGEINT — the squared term reaches 1e12
    * per row); each output stat is ONE double division over exact
    * integers, 4-dp. No float ever sums across rows.
    *
    * Scale shape: the two IRLS moment passes + a scoring scan reduced
    * map-side to the 1-row range frame (broadcast-crossed back, the
    * q43 shape) + ONE census scan reduced to ≤ 11 rollup rows. */
  def p18Calibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = design(spark, dir)
    val beta = fitTrace(d, lrIters).last
    val pqd = d.withColumn("pq", pqCol(beta.b0, beta.b1, col("x")))
      .scopedPersist()
    val range = pqd.agg(min($"pq").as("mnq"), max($"pq").as("mxq"))
    val scored = pqd
      .crossJoin(broadcast(range))
      .withColumn("bin", expr("((pq - mnq) * 10) div (mxq - mnq + 1)"))
      .withColumn("eq", ($"pq" - $"y" * lit(1000000L)).cast("decimal(38,0)"))
    scored.rollup($"bin")
      .agg(count(lit(1)).as("n"),
        sum($"pq".cast("decimal(38,0)")).as("spq"),
        sum($"y").as("sy"),
        sum($"eq" * $"eq").as("se"))
      .select(coalesce($"bin", lit(-1L)).as("bin"), $"n",
        expr("round(CAST(spq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 4)")
          .as("mean_pred"),
        expr("round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 4)")
          .as("obs_rate"),
        expr("round(CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 4)")
          .as("brier"))
      .orderBy($"bin")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p11_logistic" -> p11Logistic,
    "p13_logistic_eval" -> p13LogisticEval,
    "p18_calibration" -> p18Calibration)

  /** The shared moment/solve SQL text for one step. `pqExpr` supplies
    * the quantized-p expression over row set `src` (which must expose
    * x, y, and — for step 2 — etaq). */
  private def stepSql(src: String, mName: String, bName: String,
      withEta: Boolean): String = {
    val etaq0 = if (withEta) "etaq" else "0"
    s"""$mName AS (SELECT sum(wqh) AS sw, sum(wqh * x) AS swx,
            sum(wqh * x * x) AS swxx, sum(wqh * zq) AS swz,
            sum(wqh * x * zq) AS swxz
          FROM (SELECT x, CAST(wq AS HUGEINT) AS wqh,
              $etaq0 + CAST(floor(((y * 1000000 - pq) * 1e12) /
                CAST(wq AS DOUBLE)) AS BIGINT) AS zq
            FROM (SELECT *, pq * (1000000 - pq) AS wq FROM $src))),
        $bName AS (SELECT
            (CAST(swz AS DOUBLE) * CAST(swxx AS DOUBLE)
              - CAST(swx AS DOUBLE) * CAST(swxz AS DOUBLE))
              / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) / 1e6 AS b0,
            (CAST(sw AS DOUBLE) * CAST(swxz AS DOUBLE)
              - CAST(swx AS DOUBLE) * CAST(swz AS DOUBLE))
              / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) / 1e6 AS b1
          FROM $mName)"""
  }

  val oracle: Map[String, String] = Map(
    "p18_calibration" ->
      s"""WITH d AS (SELECT n_chars // 100 AS x,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
          s1 AS (SELECT x, y, CAST(500000 AS BIGINT) AS pq FROM d),
          ${stepSql("s1", "m1", "beta1", withEta = false)},
          s2 AS (SELECT d.x, d.y,
              CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE)) * 1e6)
                AS BIGINT) AS etaq,
              least($pqMax, greatest($pqMin,
                CAST(round(1000000.0 * (1.0 / (1.0 +
                  exp(-(CAST(CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE))
                    * 1e6) AS BIGINT) AS DOUBLE) / 1e6))))) AS BIGINT)))
                AS pq
            FROM d CROSS JOIN beta1 b),
          ${stepSql("s2", "m2", "beta2", withEta = true)},
          sc AS (SELECT d.y,
              least($pqMax, greatest($pqMin,
                CAST(round(1000000.0 * (1.0 / (1.0 +
                  exp(-(CAST(CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE))
                    * 1e6) AS BIGINT) AS DOUBLE) / 1e6))))) AS BIGINT)))
                AS pq
            FROM d CROSS JOIN beta2 b),
          rg AS (SELECT CAST(min(pq) AS BIGINT) AS mnq,
              CAST(max(pq) AS BIGINT) AS mxq FROM sc),
          b0 AS (SELECT ((sc.pq - rg.mnq) * 10) // (rg.mxq - rg.mnq + 1)
                AS bin, sc.y, sc.pq,
              sc.pq - sc.y * 1000000 AS e
            FROM sc CROSS JOIN rg),
          g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
              sum(CAST(pq AS HUGEINT)) AS spq,
              CAST(sum(y) AS BIGINT) AS sy,
              sum(CAST(e AS HUGEINT) * e) AS se
            FROM b0 GROUP BY ROLLUP(bin))
          SELECT coalesce(bin, -1) AS bin, n,
            round(CAST(spq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 4)
              AS mean_pred,
            round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 4) AS obs_rate,
            round(CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 4)
              AS brier
          FROM g ORDER BY bin""",
    "p13_logistic_eval" ->
      s"""WITH d AS (SELECT n_chars // 100 AS x,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
          s1 AS (SELECT x, y, CAST(500000 AS BIGINT) AS pq FROM d),
          ${stepSql("s1", "m1", "beta1", withEta = false)},
          s2 AS (SELECT d.x, d.y,
              CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE)) * 1e6)
                AS BIGINT) AS etaq,
              least($pqMax, greatest($pqMin,
                CAST(round(1000000.0 * (1.0 / (1.0 +
                  exp(-(CAST(CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE))
                    * 1e6) AS BIGINT) AS DOUBLE) / 1e6))))) AS BIGINT)))
                AS pq
            FROM d CROSS JOIN beta1 b),
          ${stepSql("s2", "m2", "beta2", withEta = true)},
          sc AS (SELECT d.y,
              CASE WHEN least($pqMax, greatest($pqMin,
                CAST(round(1000000.0 * (1.0 / (1.0 +
                  exp(-(CAST(CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE))
                    * 1e6) AS BIGINT) AS DOUBLE) / 1e6))))) AS BIGINT)))
                >= 500000 THEN 1 ELSE 0 END AS pred
            FROM d CROSS JOIN beta2 b),
          cm AS (SELECT
              CAST(sum(pred * y) AS BIGINT) AS tp,
              CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
              CAST(sum((1 - pred) * y) AS BIGINT) AS fn,
              CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn
            FROM sc)
          SELECT tp, fp, fn, tn,
            round(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 4)
              AS accuracy,
            round(CASE WHEN tp + fp = 0 THEN NULL
              ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 4)
              AS precision,
            round(CASE WHEN tp + fn = 0 THEN NULL
              ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END, 4)
              AS recall,
            round(CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
              ELSE 2.0 * CAST(tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
              END, 4) AS f1
          FROM cm""",
    "p11_logistic" ->
      s"""WITH d AS (SELECT n_chars // 100 AS x,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
          s1 AS (SELECT x, y, CAST(500000 AS BIGINT) AS pq FROM d),
          ${stepSql("s1", "m1", "beta1", withEta = false)},
          s2 AS (SELECT d.x, d.y,
              CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE)) * 1e6)
                AS BIGINT) AS etaq,
              least($pqMax, greatest($pqMin,
                CAST(round(1000000.0 * (1.0 / (1.0 +
                  exp(-(CAST(CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE))
                    * 1e6) AS BIGINT) AS DOUBLE) / 1e6))))) AS BIGINT)))
                AS pq
            FROM d CROSS JOIN beta1 b),
          ${stepSql("s2", "m2", "beta2", withEta = true)}
          SELECT * FROM (
            SELECT 1 AS iter, 0 AS idx, 'intercept' AS feature,
              round(b0, 4) AS coef FROM beta1
            UNION ALL SELECT 1, 1, 'hecto_chars', round(b1, 4) FROM beta1
            UNION ALL SELECT 2, 0, 'intercept', round(b0, 4) FROM beta2
            UNION ALL SELECT 2, 1, 'hecto_chars', round(b1, 4) FROM beta2)
          ORDER BY iter, idx""")
}
