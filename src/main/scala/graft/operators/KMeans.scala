package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distributed Lloyd k-means over the embeddings table (SURVEY.md
  * §2.B12 D67) — the second full ML algorithm beside PCA, built on the
  * same partial-aggregation discipline as the reference's covariance
  * pass (`/root/reference/src/main/scala/org/apache/spark/ml/linalg/distributed/RapidsRowMatrix.scala:177-234`
  * batches per-partition work; here Catalyst's partial hash aggregate
  * plays that role).
  *
  * Determinism (the whole design): float summation order is
  * execution-order-dependent in a distributed sum, so per-dimension
  * centroid means are accumulated as INTEGER sums of
  * `floor(v · 2^20)` quantized components — integer addition commutes,
  * so the means are bit-identical on any partitioning, any engine.
  * Assignment compares `dot(c,c) − 2·dot(x,c)` (the ‖x‖²-free
  * expansion of squared L2) with both dots summed in ascending index
  * order (the native [[Similarity.dot]] and DuckDB
  * `list_inner_product` agree bit-for-bit — the s1/s3 precedent), ties
  * broken by lowest centroid id via lexicographic struct-min. Init is the k
  * lowest-vec_id embeddings quantized through the same mean formula
  * (n = 1) — no RNG anywhere.
  *
  * Scale shape per iteration: assignment is a narrow map (centroids
  * ride along as an 8×64 literal — the q44 broadcast-boundaries
  * shape), the ONLY shuffle is the per-(cid, dim) partial-aggregated
  * integer-sum rollup (k·d = 512 rows to the driver, independent of
  * corpus size). Empty clusters keep their previous centroid. */
object KMeans {

  val k = 8
  val iters = 3

  /** Quantization scale for the exact integer mean sums (2^20). */
  val qScale = 1048576.0

  private def quantMean(s: Long, n: Long): Double =
    (s.toDouble / n.toDouble) / qScale

  /** Ascending-index sequential dot of two double arrays (driver). */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Fitted state: per-cluster counts + centroid means (+norms). */
  private[graft] case class Fit(cents: Array[Array[Double]],
      counts: Array[Long])

  /** The per-row argmin-assignment column against a centroid set —
    * shared by the fit loop and [[graft.ml.feature.GraftKMeansModel]]'s
    * transform. `e` must be an `array<double>` column. */
  private[graft] def assignCol(e: Column,
      cents: Array[Array[Double]]): Column = {
    val distStructs = cents.zipWithIndex.map { case (c, cid) =>
      val cLit = typedLit(c.toSeq)
      struct((lit(dotSeq(c, c)) - lit(2.0) * Similarity.dot(e, cLit)).as("dist"),
        lit(cid).as("cid"))
    }
    array_min(array(distStructs: _*)).getField("cid")
  }

  /** Core Lloyd loop over a frame with columns (ord: Long, e:
    * array<double>): init = the kk lowest-ord rows, then `rounds`
    * assign+update steps. Parameterized for the Estimator API; p8 uses
    * the ([[k]], [[iters]]) constants. */
  private[graft] def fitVectors(vecs: DataFrame, kk: Int,
      rounds: Int): Fit = {
    import vecs.sparkSession.implicits._
    // init: the kk lowest-ord vectors through the n=1 mean formula
    var cents: Array[Array[Double]] = vecs.orderBy($"ord").limit(kk)
      .select($"e").collect()
      .map(_.getSeq[Double](0).toArray
        .map(v => quantMean(math.floor(v * qScale).toLong, 1L)))
    require(cents.length == kk, s"need >= $kk rows to seed $kk clusters")
    var counts = Array.fill(kk)(0L)

    for (_ <- 1 to rounds) {
      val assigned = vecs.select($"e", assignCol($"e", cents).as("cid"))
      val sums = assigned
        .select($"cid", posexplode($"e").as(Seq("pos", "v")))
        .groupBy($"cid", $"pos")
        .agg(sum(floor($"v" * qScale)).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val next = Array.tabulate(kk) { cid =>
        if (sums.contains((cid, 0)))
          Array.tabulate(cents(cid).length) { pos =>
            val (s, n) = sums((cid, pos)); quantMean(s, n)
          }
        else cents(cid) // empty cluster keeps its centroid
      }
      counts = Array.tabulate(kk)(cid =>
        sums.get((cid, 0)).map(_._2).getOrElse(0L))
      cents = next
    }
    Fit(cents, counts)
  }

  /** One Lloyd fit per (fixture dir, k) per JVM: p8, d14 and c17's
    * semantic stage all consume the same fitted centroids over the
    * same immutable embeddings fixture, so the fit is memoized like
    * [[graft.operators.PcaQueries]]'s statsCache — the value is plain
    * driver-local arrays (k × dim doubles + k counts), eagerly
    * computed, valid across sessions. Round-15 measurement: c17 was
    * paying d14's full 4-job re-fit a second time inside one bench
    * run. */
  private val fitCache =
    graft.SessionCaches.scalarCache[(String, Int, Int), Fit]()
  private def cachedFit(spark: SparkSession, dir: String, kk: Int): Fit =
    fitCache.getOrElseUpdate((dir, kk, iters), {
      import spark.implicits._
      fitVectors(Tables.embeddings(spark, dir)
        .select($"vec_id".as("ord"),
          $"embedding".cast("array<double>").as("e")),
        kk, iters)
    })

  private def fit(spark: SparkSession, dir: String): Fit =
    cachedFit(spark, dir, k)

  /** p8: per-cluster census after [[iters]] Lloyd rounds — cluster id,
    * member count, and the centroid's L2 norm (4 dp). */
  def p8Kmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = fit(spark, dir)
    (0 until k).map { cid =>
      (cid, f.counts(cid),
        BigDecimal(math.sqrt(dotSeq(f.cents(cid), f.cents(cid))))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("cluster_id", "n_vecs", "centroid_norm")
      .orderBy($"cluster_id")
  }

  /** Cosine threshold for [[d14SemDedup]] — the d9/s3 convention. */
  val semTau = 0.35

  /** d14 target cluster size: the SemDeDup contract is that k GROWS
    * with the corpus so cluster size (and with it the within-cluster
    * quadratic pair stage) stays bounded — the paper runs 50k clusters
    * over LAION. k = max([[k]], ceil(n / 100)) keeps per-cluster pair
    * work at ~n·100 dots (linear in the corpus) instead of O(n²/8). */
  val semTargetClusterSize = 100L

  /** The d14 cluster-count formula — replayed verbatim by the oracle's
    * `kv` CTE (`greatest(8, ceil(count(*) / 100.0))`), so engine and
    * DuckDB always agree on k for any corpus size. */
  private[graft] def semK(n: Long): Int =
    math.max(k, math.ceil(n.toDouble / semTargetClusterSize).toInt)

  /** D77: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the [[fitVectors]]
    * Lloyd k-means, then flag a vector as a semantic duplicate when a
    * LOWER-id member of the SAME cluster has cosine ≥ [[semTau]] —
    * keep-lowest-id, the d5/d9 convention. Output: one row per dropped
    * vector with its cluster, its best (highest-cosine, tie → lowest
    * id) retained witness, and that cosine.
    *
    * Scale shape: this is the SemDeDup contract — the quadratic
    * pairwise stage is confined within clusters, and k = [[semK]]
    * (derived from a cheap metadata count) grows with the corpus so
    * cluster size stays bounded at ~[[semTargetClusterSize]] and the
    * pair stage stays LINEAR in n; the cross-cluster pair space is
    * never enumerated. (At extreme k the n·k assignment term itself
    * would move to an IVF shortlist — the s6 machinery.)
    * Assignment is the narrow p8 map (centroid literal rides along);
    * the pair stage is one cid-equi-join; per-vector norms are
    * computed ONCE before the join, so each pair costs one dot, not
    * three. The dup witness is a high-cardinality per-vec_id window
    * (c2 discipline). Determinism: doubles all the way, ranked on the
    * 4-dp rounded cosine (ties → lowest witness id) — bit-stable on
    * any partitioning given the ascending-index dot (p8 precedent). */
  def d14SemDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.CacheScope.ScopedPersist
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id".as("ord"), $"embedding".cast("array<double>").as("e"))
    val f = cachedFit(spark, dir, semK(vecs.count()))
    // Round-16 (guide §1.2): the n·k assignment map feeds BOTH sides of
    // the within-cluster self-join — without the scoped persist each
    // side re-ran the k-centroid argmin (k ≈ n/100 dots of d=64 per
    // row, the query's dominant map cost) plus the norm. ~12 B/row of
    // key columns + the 512 B embedding per row, released by the
    // harness drain.
    val asg = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .select($"vec_id", $"e", assignCol($"e", f.cents).as("cid"))
      .withColumn("nrm", Similarity.normCol($"e"))
      .scopedPersist()
    val kept = asg.select($"cid", $"vec_id".as("dup_of"),
      $"e".as("ea"), $"nrm".as("na"))
    val cand = asg.select($"cid", $"vec_id",
      $"e".as("eb"), $"nrm".as("nb"))
    kept.join(cand, Seq("cid"))
      .filter($"dup_of" < $"vec_id")
      .withColumn("cos_sim",
        round(Similarity.dot($"ea", $"eb") / ($"na" * $"nb"), 4))
      .filter($"cos_sim" >= semTau)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"vec_id")
          .orderBy($"cos_sim".desc, $"dup_of")))
      .filter($"rk" === 1)
      .select($"vec_id", $"cid".as("cluster_id"), $"dup_of", $"cos_sim")
      .orderBy($"vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p8_kmeans" -> p8Kmeans,
    "d14_semdedup" -> d14SemDedup)

  // Oracle: the same three Lloyd rounds as chained CTEs. Quantized
  // integer sums make every mean exact; list_inner_product matches the
  // ascending-index native dot bit-for-bit.
  /** Shared Lloyd-replay CTE chain (`e`, `init`, `c0`, `a1..c[iters]`)
    * — interpolated after `WITH` by the p8 and d14 oracles. `initCtes`
    * is the seed-selection CTE: p8 passes the fixed `LIMIT k` form;
    * d14 passes the `kv`-derived form replaying [[semK]] in SQL. */
  private def lloydCtes(initCtes: String): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, e, cid FROM (
            SELECT v.vec_id, v.e, c.cid,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                list_inner_product(c.c, c.c)
                  - 2 * list_inner_product(v.e, c.c), c.cid) AS rk
            FROM e v CROSS JOIN c${i - 1} c) WHERE rk = 1),
          s$i AS (SELECT cid, i AS pos,
              sum(CAST(floor(e[i] * $qScale) AS BIGINT)) AS s,
              CAST(count(*) AS BIGINT) AS n
            FROM a$i CROSS JOIN
              (SELECT unnest(generate_series(1, 64)) AS i)
            GROUP BY cid, i),
          c$i AS (SELECT p.cid,
              coalesce(u.c, p.c) AS c, coalesce(u.n, 0) AS n
            FROM c${i - 1} p LEFT JOIN (
              SELECT cid,
                list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / $qScale
                     ORDER BY pos) AS c,
                any_value(n) AS n
              FROM s$i GROUP BY cid) u ON u.cid = p.cid)"""
    }.mkString(",\n          ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
          $initCtes,
          c0 AS (SELECT cid,
              list_transform(e, v -> (CAST(floor(v * $qScale) AS DOUBLE)
                / 1.0) / $qScale) AS c
            FROM init),
          $iterCtes"""
  }

  /** p8's fixed-k seed: the [[k]] lowest-vec_id embeddings. */
  private val initFixed: String =
    s"""init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                AS INT) AS cid, e
            FROM e ORDER BY vec_id LIMIT $k)"""

  /** d14's corpus-derived seed: kv replays [[semK]] —
    * greatest(k, ceil(n / targetClusterSize)) — in SQL, so the oracle
    * fits the same cluster count the engine derives from its count. */
  private val initDyn: String =
    s"""kv AS (SELECT greatest($k,
              CAST(ceil(count(*) / $semTargetClusterSize.0) AS INT)) AS kk
            FROM e),
          init AS (SELECT cid, e FROM (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                  AS INT) AS cid, e
              FROM e) WHERE cid < (SELECT kk FROM kv))"""

  private val oracleSql: String =
    s"""WITH ${lloydCtes(initFixed)}
          SELECT cid AS cluster_id, CAST(n AS BIGINT) AS n_vecs,
            round(sqrt(list_inner_product(c, c)), 4) AS centroid_norm
          FROM c$iters ORDER BY cluster_id"""

  /** DuckDB replay of [[d14SemDedup]]: the shared Lloyd chain, one
    * more assignment pass against the FINAL centroids (the engine
    * assigns with post-fit `f.cents`, i.e. `c$iters`), then the
    * within-cluster pair scan and the rounded-cosine witness rank.
    * Exposed as a CTE chain ending in
    * `r(vec_id, cid, dup_of, cos_sim, rk)` so the c17 composition
    * oracle ([[Pipeline]]) replays the semantic-dedup stage verbatim. */
  private[operators] lazy val semWitnessCtes: String =
    s"""${lloydCtes(initDyn)},
          a4 AS (SELECT vec_id, e, cid FROM (
            SELECT v.vec_id, v.e, c.cid,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                list_inner_product(c.c, c.c)
                  - 2 * list_inner_product(v.e, c.c), c.cid) AS rk
            FROM e v CROSS JOIN c$iters c) WHERE rk = 1),
          pairs AS (SELECT y.vec_id AS vec_id, y.cid, x.vec_id AS dup_of,
              round(list_inner_product(x.e, y.e) /
                (sqrt(list_inner_product(x.e, x.e)) *
                 sqrt(list_inner_product(y.e, y.e))), 4) AS cos_sim
            FROM a4 x JOIN a4 y
              ON x.cid = y.cid AND x.vec_id < y.vec_id),
          r AS (SELECT vec_id, cid, dup_of, cos_sim,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY cos_sim DESC, dup_of) AS rk
            FROM pairs WHERE cos_sim >= $semTau)"""

  private val d14OracleSql: String =
    s"""WITH $semWitnessCtes
          SELECT vec_id, cid AS cluster_id, dup_of, cos_sim
          FROM r WHERE rk = 1 ORDER BY vec_id"""

  val oracle: Map[String, String] = Map(
    "p8_kmeans" -> oracleSql,
    "d14_semdedup" -> d14OracleSql)
}
