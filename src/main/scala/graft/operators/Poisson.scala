package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Logistic.Beta
import graft.sources.Tables

/** D192: Poisson regression by IRLS — `orders-per-customer ~
  * intercept + kilo_acctbal` with the canonical log link: the COUNT
  * outcome member of the GLM family (p9/p10 fit Gaussian, p11
  * logistic fits Bernoulli; order frequency is a rate, and modeling
  * it Gaussian misstates both the variance and the support).
  *
  * The p11 quantization discipline, re-derived for the log link
  * (IRLS: w = μ, z = η + (y − μ)/μ). Initialization is the standard
  * null-model start β⁰ = (ln ȳ, 0) — ȳ from ONE exact-integer
  * (Σy, n) pre-pass, the log applied identically on both engines —
  * which puts the first step already in Newton's quadratic
  * neighborhood (β⁰ = 0 would need ~|η*| extra passes just to walk
  * the log scale). Then [[poIters]] = 3 quantized supersteps: each
  * exp() pass is QUANTIZED to the ppm grid (μq = round(μ·10⁶)
  * clamped to [[muqMin]]..[[muqMax]] — the standard IRLS weight
  * clip, and the cap also bounds every downstream product), so a
  * cross-engine transcendental would have to land within ~1 ulp of a
  * 0.5-ppm boundary to flip anything; every downstream moment is an
  * exact integer (DECIMAL(38,0) / HUGEINT).
  *
  * All float arithmetic after the moments (2×2 Cramer solve, ppm
  * de-scaling) is the same expression structure on both engines over
  * bit-identical inputs — the p9/p11 shared-by-construction argument.
  * The z update is floor(numeratorDouble / μDouble) — floor, never
  * integer div, because y = 0 makes the numerator negative (the e9
  * floor-vs-trunc lesson).
  *
  * Scale shape: ONE partial-aggregated moments pass per superstep
  * (5 mergeable DECIMAL sums, no row shuffle beyond the
  * co-partitioned customer⋈order-count join), O(1) driver solves
  * between passes — IRLS at 100 TB is `(1 + iters) × (one scan)`,
  * iters fixed at 3.
  */
object Poisson {

  /** IRLS supersteps after the null-model init (fixed). */
  val poIters = 3

  /** ppm clamp for the quantized mean: μ ∈ [0.001, 1000]. */
  val muqMin = 1000L
  val muqMax = 1000000000L

  /** (x, y) integer design: kilo-dollar account balance (floor — the
    * balance can be negative) and the customer's order count (LEFT
    * join: never-ordered customers are real y = 0 observations). */
  private def design(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("y"))
    Tables.customer(spark, dir)
      .select($"c_custkey",
        floor($"c_acctbal".cast("double") / 1000.0).cast("long").as("x"))
      .join(cnt, $"c_custkey" === $"o_custkey", "left")
      .na.fill(0L, Seq("y"))
      .select($"x", $"y")
  }

  /** Null-model start: β⁰ = (ln ȳ, 0) from one exact (Σy, n) pass. */
  private def init(d: DataFrame): Beta = {
    val r = d.agg(sum(col("y")), count(lit(1))).head()
    Beta(math.log(r.getLong(0).toDouble / r.getLong(1).toDouble), 0.0)
  }

  /** One IRLS step: quantized mean/working response, exact-integer
    * moments, 2×2 Cramer solve. */
  private def step(d: DataFrame, beta: Beta): Beta = {
    val withMu =
        d.withColumn("etaq",
            round((lit(beta.b0) + lit(beta.b1) * col("x").cast("double"))
              * lit(1e6)).cast("long"))
          .withColumn("muq",
            least(lit(muqMax), greatest(lit(muqMin),
              round(exp(col("etaq").cast("double") / lit(1e6)) * lit(1e6))
                .cast("long"))))
    val scored = withMu
      // zq (1e-6 units) = ηq + floor((y·1e6 − μq)·1e6 / μq)
      .withColumn("zq", col("etaq") +
        floor(((col("y") * lit(1000000L) - col("muq")).cast("double") *
          lit(1e6)) / col("muq").cast("double")).cast("long"))
    Logistic.wlsSolve(scored, col("muq"))
  }

  private[graft] def fitTrace(d: DataFrame, iters: Int): List[Beta] =
    Iterator.iterate(List(init(d))) { acc =>
      acc :+ step(d, acc.last)
    }.drop(iters).next()

  /** p14: per-iteration coefficient trace (β after each superstep). */
  def p14Poisson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = design(spark, dir)
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val trace = fitTrace(d, poIters)
    trace.zipWithIndex.flatMap { case (b, i) =>
      Seq((i, 0, "intercept", r4(b.b0)),
        (i, 1, "kilo_acctbal", r4(b.b1)))
    }.toDF("iter", "idx", "feature", "coef").orderBy($"iter", $"idx")
  }

  /** ppm-quantized mean under (b0, b1) over the integer feature —
    * the identical expression tree [[step]] builds, shared with p15's
    * eval scan and [[graft.ml.feature.GraftPoissonModel.transform]]
    * (model scoring ≡ training-time scoring by construction, the
    * p13/pqCol pattern). */
  private[graft] def muqCol(b0: Double, b1: Double,
      x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(muqMax), greatest(lit(muqMin),
      round(exp(round((lit(b0) + lit(b1) * x.cast("double")) * lit(1e6))
        .cast("long").cast("double") / lit(1e6)) * lit(1e6)).cast("long")))

  /** D198: Poisson GLM goodness-of-fit — residual deviance
    * D = 2Σ[y·ln(y/μ) − (y−μ)], Pearson X² = Σ(y−μ)²/μ, and the
    * dispersion X²/(n−p): the table that says whether p14's model can
    * be TRUSTED (dispersion ≫ 1 = overdispersion — the count data
    * wants a negative-binomial, and every p14 standard error is
    * understated). The GLM counterpart of p13's confusion census.
    *
    * Determinism: μ comes from the same ppm-quantized pipeline as
    * training; each per-row deviance/Pearson term is one IEEE
    * expression over (exact y, quantized μq) snapped to a 1e-6 grid,
    * so both sums are ORDER-FREE exact integers; y = 0 takes the
    * exact limit (y·ln(y/μ) → 0). Three 4-dp divisions at the end.
    *
    * Scale shape: the p14 fit passes + ONE extra scoring scan reduced
    * map-side to a single row. */
  def p15PoissonEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = design(spark, dir)
    val beta = fitTrace(d, poIters).last
    val scored = d.withColumn("muq", muqCol(beta.b0, beta.b1, col("x")))
      .withColumn("dev6", expr(
        """CAST(floor(((CASE WHEN y > 0 THEN CAST(y AS DOUBLE)
             * ln(CAST(y AS DOUBLE) / (CAST(muq AS DOUBLE) / 1e6))
             ELSE 0.0 END)
             - (CAST(y AS DOUBLE) - CAST(muq AS DOUBLE) / 1e6))
             * 1e6 + 0.5) AS BIGINT)"""))
      .withColumn("pe6", expr(
        """CAST(floor(((CAST(y AS DOUBLE) - CAST(muq AS DOUBLE) / 1e6)
             * (CAST(y AS DOUBLE) - CAST(muq AS DOUBLE) / 1e6)
             / (CAST(muq AS DOUBLE) / 1e6)) * 1e6 + 0.5) AS BIGINT)"""))
    scored.agg(count(lit(1)).as("n"),
        sum($"dev6".cast("decimal(38,0)")).as("sd"),
        sum($"pe6".cast("decimal(38,0)")).as("sp"))
      .select($"n",
        round(expr("2.0 * CAST(sd AS DOUBLE) / 1e6"), 4).as("deviance"),
        round(expr("CAST(sp AS DOUBLE) / 1e6"), 4).as("pearson_chi2"),
        round(expr("CAST(sp AS DOUBLE) / 1e6 / CAST(n - 2 AS DOUBLE)"), 4)
          .as("dispersion"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p14_poisson" -> p14Poisson,
    "p15_poisson_eval" -> p15PoissonEval)

  /** One oracle superstep: quantized η/μ over the previous beta CTE,
    * then the moment/solve pair — the SQL twin of [[step]]. */
  private def stepSql(i: Int): String =
    s"""s$i AS (SELECT d.x, d.y,
            CAST(round((b.b0 + b.b1 * CAST(d.x AS DOUBLE)) * 1e6)
              AS BIGINT) AS etaq
          FROM d CROSS JOIN beta${i - 1} b),
        q$i AS (SELECT x, y, etaq,
            least($muqMax, greatest($muqMin,
              CAST(round(exp(CAST(etaq AS DOUBLE) / 1e6) * 1e6)
                AS BIGINT))) AS muq
          FROM s$i),
        m$i AS (SELECT sum(wqh) AS sw, sum(wqh * x) AS swx,
            sum(wqh * x * x) AS swxx, sum(wqh * zq) AS swz,
            sum(wqh * x * zq) AS swxz
          FROM (SELECT x, CAST(muq AS HUGEINT) AS wqh,
              etaq + CAST(floor(((y * 1000000 - muq) * 1e6) /
                CAST(muq AS DOUBLE)) AS BIGINT) AS zq
            FROM q$i)),
        beta$i AS (SELECT
            (CAST(swz AS DOUBLE) * CAST(swxx AS DOUBLE)
              - CAST(swx AS DOUBLE) * CAST(swxz AS DOUBLE))
              / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) / 1e6 AS b0,
            (CAST(sw AS DOUBLE) * CAST(swxz AS DOUBLE)
              - CAST(swx AS DOUBLE) * CAST(swz AS DOUBLE))
              / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) / 1e6 AS b1
          FROM m$i)"""

  /** Shared design + init + chained-step CTE prefix (ends at
    * beta[[poIters]]). */
  private def fitCtes: String =
    s"""d AS (SELECT
              CAST(floor(CAST(c.c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
                AS x,
              CAST(COALESCE(o.y, 0) AS BIGINT) AS y
            FROM customer c LEFT JOIN (
              SELECT o_custkey, count(*) AS y FROM orders GROUP BY 1) o
              ON c.c_custkey = o.o_custkey),
          beta0 AS (SELECT
              ln(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS b0,
              0.0 AS b1
            FROM d),
          ${(1 to poIters).map(stepSql).mkString(",\n          ")}"""

  val oracle: Map[String, String] = Map(
    "p15_poisson_eval" ->
      s"""WITH $fitCtes,
          ev AS (SELECT d.y,
              least($muqMax, greatest($muqMin,
                CAST(round(exp(CAST(CAST(round((b.b0 + b.b1
                  * CAST(d.x AS DOUBLE)) * 1e6) AS BIGINT) AS DOUBLE)
                  / 1e6) * 1e6) AS BIGINT))) AS muq
            FROM d CROSS JOIN beta$poIters b),
          t AS (SELECT CAST(count(*) AS BIGINT) AS n,
              sum(CAST(floor(((CASE WHEN y > 0 THEN CAST(y AS DOUBLE)
                * ln(CAST(y AS DOUBLE) / (CAST(muq AS DOUBLE) / 1e6))
                ELSE 0.0 END)
                - (CAST(y AS DOUBLE) - CAST(muq AS DOUBLE) / 1e6))
                * 1e6 + 0.5) AS HUGEINT)) AS sd,
              sum(CAST(floor(((CAST(y AS DOUBLE) - CAST(muq AS DOUBLE) / 1e6)
                * (CAST(y AS DOUBLE) - CAST(muq AS DOUBLE) / 1e6)
                / (CAST(muq AS DOUBLE) / 1e6)) * 1e6 + 0.5) AS HUGEINT))
                AS sp
            FROM ev)
          SELECT n,
            round(2.0 * CAST(sd AS DOUBLE) / 1e6, 4) AS deviance,
            round(CAST(sp AS DOUBLE) / 1e6, 4) AS pearson_chi2,
            round(CAST(sp AS DOUBLE) / 1e6 / CAST(n - 2 AS DOUBLE), 4)
              AS dispersion
          FROM t""",
    "p14_poisson" ->
      s"""WITH $fitCtes
          SELECT * FROM (
            ${(0 to poIters).map(i =>
        s"""SELECT $i AS iter, 0 AS idx, 'intercept' AS feature,
              round(b0, 4) AS coef FROM beta$i
            UNION ALL SELECT $i, 1, 'kilo_acctbal', round(b1, 4)
              FROM beta$i""").mkString("\n            UNION ALL ")})
          ORDER BY iter, idx""")
}
