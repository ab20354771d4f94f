package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.graftshim.ExpressionShim.{column, expression}
import graft.functions.{CosineSimilarity, LshBuckets, NearestCentroid, PqAdc, PqEncode, SumOfSquares}
import graft.sources.Tables
import graft.CacheScope.ScopedPersist

/** Similarity search over the embedding column (SURVEY.md §2.B D19).
  *
  * - Exact path (s1): brute-force cosine top-k for a bounded query set —
  *   broadcast the queries, stream the corpus once, per-partition
  *   ranking via a window. Linear in corpus size, never materializes
  *   the full pairwise matrix.
  * - Scale path #1 (s2): random-hyperplane LSH (sign-bucket ANN) —
  *   bucket keys computed per row from deterministic hyperplanes,
  *   candidates join only within (table, bucket), so the shuffle is
  *   keyed on bucket values and quadratic work is confined to buckets.
  * - Scale path #2 (s6): IVF — coarse k-means cells, probed search.
  * - Plus threshold near-dup pairs (s3), centroid analytics (s4), and
  *   int8 quantization (s5).
  *
  * Arithmetic: the expression-form dot ([[dot]]) and the codegen'd
  * [[cosineCol]] both widen float→double and sum sequentially in
  * element order, so every score is bit-identical to DuckDB's
  * `list_inner_product` on `DOUBLE[]` — which is what makes the s1/s3
  * oracles hash-exact. (Spark's higher-order expressions are
  * interpreted, so hot pair-scoring uses the native expressions of
  * [[graft.functions]].)
  */
object Similarity {

  /** Sequential-sum dot product of two float arrays, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine for the hot scoring loops: the codegen'd native expression
    * [[graft.functions.CosineSimilarity]] (zero per-row allocation,
    * fused into whole-stage codegen), bit-identical to [[cosine]]. */
  def cosineCol(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** L2 norm of an `array<float>` column via the codegen'd Σx²
    * expression [[graft.functions.SumOfSquares]]; bit-identical to the
    * HOF form [[l2norm]]. */
  def normCol(a: Column): Column = sqrt(column(SumOfSquares(expression(a))))

  /** D19: exact brute-force cosine top-5 neighbors for query vectors
    * (vec_id < 5). Queries are broadcast; the corpus is scanned once.
    *
    * Two-phase ranking: a single window keyed on the 5 query ids would
    * sort ALL corpus×query scores in 5 tasks regardless of cluster size
    * (the q9 low-cardinality-window trap). Phase 1 takes a local top-5
    * per (query, salt) — cluster-wide parallelism — and phase 2 ranks
    * only the ≤ 5·salts survivors per query. A global top-5 row always
    * survives its salt bucket's local top-5, so results are identical. */
  def s1KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val scored = emb.select($"vec_id".as("neighbor_id"), $"embedding")
      .crossJoin(broadcast(q))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
      .withColumn("salt", pmod(crc32($"neighbor_id".cast("string")), lit(32)))
    val wLocal = Window.partitionBy($"query_id", $"salt")
      .orderBy($"cos".desc, $"neighbor_id")
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored
      .withColumn("rk_local", row_number().over(wLocal))
      .filter($"rk_local" <= 5)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** Cosine threshold for [[s10RangeSearch]]. */
  val rangeTau = 0.25

  /** D87: threshold (range) retrieval — EVERY corpus vector with
    * cosine ≥ [[rangeTau]] against each query, the "give me all
    * sufficiently-similar documents" primitive that top-k cannot
    * express (k is unknown a priori: dedup sweeps, recall-oriented
    * retrieval, contamination scans all want the full ≥τ set).
    *
    * Scale shape: strictly better than s1 — broadcast the bounded
    * query set, stream the corpus ONCE through the codegen'd cosine,
    * and apply a narrow filter; no window, no shuffle, no ranking
    * phase at all. Output size is data-dependent but the plan is a
    * pure map-filter over the scan, so it parallelizes perfectly at
    * any corpus size. The ≥ compare is on raw doubles (identical bits
    * both engines, the s1 argument); the 4-dp round is display-only. */
  def s10RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    emb.select($"vec_id".as("neighbor_id"), $"embedding")
      .crossJoin(broadcast(q))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
      .filter($"cos" >= rangeTau)
      .select($"query_id", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"neighbor_id")
  }

  /** D94: ANN recall evaluation — the quality gate every approximate
    * index needs before production: run the exact top-5 (s1) and the
    * LSH top-5 (s2) side by side and report per-query recall@5 plus
    * hit counts. This is the operator form of what SimilaritySpec's
    * recall assertions hand-check — "is my index still good after the
    * last re-shard" as a scheduled query.
    *
    * Determinism: both inputs are the committed, oracle-gated s1/s2
    * pipelines; the intersection is an equi-join on
    * (query_id, neighbor_id); recall = n_hits/5 is an exact
    * quarter/fifth-decimal, no rounding needed.
    *
    * Scale shape: the two retrieval plans dominate (each is its own
    * audited shape); the eval itself joins two k·|queries|-row frames
    * — negligible at any corpus size. */
  def s11RecallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = s1KnnBrute(spark, dir).select($"query_id", $"neighbor_id")
    val ann = s2KnnLsh(spark, dir)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    exact.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .withColumn("recall_at_5",
        $"n_hits".cast("double") / lit(5.0))
      .orderBy($"query_id")
  }

  /** Number of hyperplanes per LSH table (2^planes buckets). */
  val lshPlanes = 4
  /** Number of independent LSH tables (union of candidates). */
  val lshTables = 4

  /** Deterministic pseudo-random hyperplane component in [-1, 1), from
    * MurmurHash3 of (table, plane, dim) — no RNG state, reproducible
    * on any executor. */
  // productHash is pinned deliberately: its exact output is baked into
  // the interpolated s2/d9 oracle SQL and the committed recall
  // expectations; the suggested caseClassHash replacement hashes
  // differently and would silently regenerate the whole tensor.
  @annotation.nowarn("cat=deprecation")
  private def planeComponent(table: Int, plane: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((table, plane, d))
    h.toDouble / Int.MaxValue
  }

  /** Deterministic hyperplane tensor (tables × planes × dim). The
    * default plane count is [[lshPlanes]]; d9 passes its corpus-derived
    * [[d9Planes]] count (extra planes are the SAME deterministic
    * (table, plane, dim) components — a bigger prefix-consistent
    * tensor, so growing the count refines buckets without moving any
    * existing sign bit). */
  private[graft] def planesTensor(dim: Int,
      nPlanes: Int = lshPlanes): Array[Array[Array[Double]]] =
    Array.tabulate(lshTables, nPlanes, dim)(planeComponent)

  /** d9 target LSH bucket size: the corpus-scale near-dup pass keeps
    * pair work ~linear by REFINING buckets as the corpus grows —
    * bucket size ∝ n / 2^planes, so planes is the smallest p in
    * [[[lshPlanes]], [[d9MaxPlanes]]] with 2^p · target ≥ n (an exact
    * integer comparison chain, replayed verbatim by the oracle's `kv`
    * CTE — the d14 semK precedent). With a FIXED 4-plane table the
    * round-8 ×10 audit measured 18× growth: n²/16 pair work. */
  val d9TargetBucket = 250L

  /** Plane-count ceiling — bounds the oracle's interpolated tensor
    * (4 tables × 12 planes × 64 dims); 2^12 buckets/table holds the
    * target bucket size to ~1M vectors per table. */
  val d9MaxPlanes = 12

  /** Smallest p in [lshPlanes, d9MaxPlanes] with 2^p·target ≥ n. */
  private[graft] def d9Planes(n: Long): Int = {
    var p = lshPlanes
    while (p < d9MaxPlanes && (d9TargetBucket << p) < n) p += 1
    p
  }

  /** All-tables bucket ids in one pass via the codegen'd native
    * expression [[graft.functions.LshBuckets]]: the hyperplane tensor
    * rides as one foldable literal, and the per-row sign bits of the
    * hyperplane dot products (float widened to double, ascending-dim
    * summation) run inside whole-stage codegen — an order of magnitude
    * faster than 16 interpreted higher-order dot expressions. */
  def lshBucketsCol(a: Column, dim: Int, nPlanes: Int = lshPlanes): Column =
    column(LshBuckets(expression(a), expression(
      typedLit(planesTensor(dim, nPlanes).map(_.map(_.toSeq).toSeq).toSeq))))

  /** D19 scale path: LSH-bucketed approximate top-5 — explode each
    * vector to its `lshTables` (table, bucket) keys, equi-join within
    * buckets, union candidates across tables, exact-rank the survivors.
    * Oracle: the hyperplane tensor is DATA-INDEPENDENT (derived from
    * MurmurHash3 of (table, plane, dim) indices), so its constants are
    * interpolated into the DuckDB SQL and the whole bucket→join→rank
    * pipeline replays hash-exact; recall vs [[s1KnnBrute]] is
    * additionally asserted in SimilaritySpec. */
  def s2KnnLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val dim = 64 // fixture embedding width (FIXTURES.md)
    val keyed = emb.select($"vec_id", $"embedding",
      posexplode(lshBucketsCol($"embedding", dim)).as(Seq("tbl", "bucket")))
    val qs = keyed.filter($"vec_id" < 5)
      .select($"tbl", $"bucket", $"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val cands = keyed
      .select($"tbl", $"bucket", $"vec_id".as("neighbor_id"), $"embedding")
      .join(qs, Seq("tbl", "bucket"))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"q_emb", $"embedding")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    cands.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** Per-(table, bucket) population cap for the pair-enumeration path
    * ([[d9EmbeddingNearDup]]): a bucket of b vectors yields b²/2
    * candidate pairs, so one hot bucket (all-zero embeddings, a
    * degenerate hyperplane) would quadratically dominate the stage at
    * corpus scale. Buckets above the cap are dropped whole — same
    * contract as [[graft.operators.Dedup.maxBucket]] — and the oracle
    * replays the cap, so the gate pins the guarded semantics. */
  val maxPairBucket = 2000

  /** D18 scale path: embedding-cosine near-duplicate pairs over the
    * FULL corpus via LSH bucketing — the unbounded companion of the
    * exact-but-bounded [[s3NearDupPairs]].
    *
    * Shape for 100 TB: the plane count GROWS with the corpus
    * ([[d9Planes]]: smallest p with 2^p·[[d9TargetBucket]] ≥ n, from a
    * cheap metadata count), so bucket size — and with it the quadratic
    * within-bucket pair stage — stays ~constant instead of ∝ n/16 (the
    * round-8 ×10 audit measured 18× growth on the fixed tensor); the
    * exploded stream carries only (tbl, bucket, vec_id) — 12 bytes/row,
    * never the vectors — through the candidate self-join; the bucket
    * census is bounded by tables × 2^planes rows, so the skew-cap
    * filter is a broadcast; vectors are fetched back by two
    * id-equi-joins only for surviving deduped pairs, and the exact
    * cosine threshold then makes precision 1.0 (LSH affects recall
    * only). Oracle: hyperplanes are data-independent (MurmurHash3 of
    * indices), interpolated into the DuckDB SQL up to [[d9MaxPlanes]],
    * with the active count replayed by a `kv` CTE (exact integer
    * comparisons) — the whole bucket→cap→pair→score pipeline replays
    * hash-exact. */
  def d9EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val dim = 64 // fixture embedding width (FIXTURES.md)
    val np = d9Planes(emb.count())
    // Round-16 (guide §1.2): `keyed` feeds BOTH the bucket census and
    // the candidate join; the census side's exchange is not reusable by
    // the broadcast-join side, so without the scoped persist the LSH
    // bucket expression ran over the whole corpus twice. 12 bytes/row.
    val keyed = emb.select($"vec_id",
      posexplode(lshBucketsCol($"embedding", dim, np))
        .as(Seq("tbl", "bucket")))
      .scopedPersist()
    // bounded census (≤ tables × 2^planes rows): broadcast filter
    val okBuckets = keyed.groupBy($"tbl", $"bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter($"bsz" <= maxPairBucket)
      .select($"tbl", $"bucket")
    val ok = keyed.join(broadcast(okBuckets), Seq("tbl", "bucket"))
    val pairs = ok.select($"tbl", $"bucket", $"vec_id".as("id_a"))
      .join(ok.select($"tbl", $"bucket", $"vec_id".as("id_b")),
        Seq("tbl", "bucket"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .dropDuplicates("id_a", "id_b")
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("emb_a"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("emb_b"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("cos", round(cosineCol($"emb_a", $"emb_b"), 4))
      .filter($"cos" >= 0.35)
      .select($"id_a", $"id_b", $"cos".as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  /** D19/D18: embedding-cosine near-duplicate pairs above a threshold,
    * exact within a bounded id range (oracle-checkable); the unbounded
    * variant is [[d9EmbeddingNearDup]]. */
  def s3NearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).filter($"vec_id" < 200)
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("emb_a"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("emb_b"))
    a.crossJoin(b)
      .filter($"id_a" < $"id_b")
      .withColumn("cos", round(cosineCol($"emb_a", $"emb_b"), 4))
      .filter($"cos" >= 0.35)
      .select($"id_a", $"id_b", $"cos".as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  /** D19+D21: vector normalization + per-label centroid norms — nested
    * array math as pure column expressions. */
  def s4Centroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    // norm lands in its own projection below the Generate, so the O(d)
    // dot runs once per ROW; dividing inside a `transform` lambda would
    // re-evaluate it per ELEMENT (interpreted HOF) — O(d²) per row
    emb.select($"label", normCol($"embedding").as("nrm"),
        posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(avg($"v".cast("double") / $"nrm").as("c"))
      .groupBy($"label")
      .agg(round(sqrt(sum($"c" * $"c")), 4).as("centroid_norm"),
        count(lit(1)).as("dim"))
      .orderBy($"label")
  }

  /** D114: label-centroid drift matrix — cosine similarity between the
    * mean unit-vectors of every label pair, the embedding-space health
    * check ("are my classes collapsing?" / "did this batch's
    * embeddings drift from last batch's?"). Extends s4: same
    * per-(label, pos) mean over row-normalized vectors, then the
    * pairwise cosine read off the LABEL-level frames only.
    *
    * Scale shape: the corpus-sized work is the one posexplode +
    * partial-aggregated (label, pos) mean — s4's plan exactly; the
    * pairwise stage joins two (|labels|·dims)-row frames equi-keyed on
    * pos (bounded dimension-sized, broadcast) — never the corpus.
    * Float discipline: avg-then-round-4dp per scalar output (the s4
    * precedent for cross-engine mean parity). */
  def s12CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.embeddings(spark, dir)
      .select($"label", normCol($"embedding").as("nrm"),
        posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(avg($"v".cast("double") / $"nrm").as("c"))
      .scopedPersist() // dot sides + both norms
    val n = c.groupBy($"label").agg(sqrt(sum($"c" * $"c")).as("nn"))
    val dot = c.select($"label".as("label_a"), $"pos", $"c".as("ca"))
      .join(broadcast(c.select($"label".as("label_b"), $"pos", $"c".as("cb"))),
        "pos")
      .filter($"label_a" < $"label_b")
      .groupBy($"label_a", $"label_b")
      .agg(sum($"ca" * $"cb").as("dot"))
    dot
      .join(broadcast(n.select($"label".as("label_a"), $"nn".as("na"))),
        "label_a")
      .join(broadcast(n.select($"label".as("label_b"), $"nn".as("nb"))),
        "label_b")
      .select($"label_a", $"label_b",
        round($"dot" / ($"na" * $"nb"), 4).as("centroid_cos"))
      .orderBy($"label_a", $"label_b")
  }

  /** IVF coarse quantizer: ONE distributed pass draws the bounded
    * [[ivfTrainSample]] (the only corpus-sized work), then Lloyd
    * iterations run driver-local over the collected sample — at
    * [[ivfTrainSize]]×64 dims that is ~2 MB, so per-iteration Spark
    * jobs (shuffle + codegen + scheduling) would cost more than the
    * arithmetic they distribute. Deterministic: hash-ordered sample,
    * seed = its first `k` rows, sequential mean accumulation, empty
    * cells keep their previous centroid. Returns the codebook. */
  def ivfCentroids(emb: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    import emb.sparkSession.implicits._
    val sample = ivfTrainSample(emb)
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= k,
      s"IVF training sample has ${sample.length} rows, need >= $k")
    lloyd(sample, k, iters)
  }

  /** Driver-local Lloyd iterations over a collected bounded sample —
    * the shared codebook trainer of IVF ([[ivfCentroids]]) and PQ
    * ([[pqCodebooks]]). Deterministic AND cross-engine replayable
    * (the KMeans/d14 discipline): seed = first `k` rows, squared-L2
    * assignment with strict < and lowest-index ties (the same rule as
    * [[nearestCentroidCol]]), means as INTEGER sums of
    * `floor(v · 2^20)` quantized components — integer addition
    * commutes, so the means are order-free and bit-identical to the
    * DuckDB oracle's `sum(CAST(floor(v*qScale) AS BIGINT))` replay —
    * empty cells keep their previous centroid. */
  private[graft] def lloyd(sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    val qs = graft.operators.KMeans.qScale
    var cents = sample.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val ct = cents(c); var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - ct(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var i = 0
        while (i < dim) { s(i) += math.floor(v(i) * qs).toLong; i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(s => (s.toDouble / counts(c).toDouble) / qs))
    }
    cents
  }

  /** Cell assignment via the codegen'd native expression
    * [[graft.functions.NearestCentroid]]: the centroid matrix rides as
    * one foldable literal; squared L2 with strict < and lowest-index
    * ties (the [[lloyd]] rule). */
  def nearestCentroidCol(a: Column, cents: Array[Array[Double]]): Column =
    column(NearestCentroid(expression(a),
      expression(typedLit(cents.map(_.toSeq).toSeq))))

  /** Probed cluster ids (the `nprobe` nearest centroids) for a query. */
  private[graft] def probes(cents: Array[Array[Double]], nprobe: Int) =
    udf { (emb: Seq[Float]) =>
      cents.indices.map { c =>
        val ct = cents(c); var d = 0.0; var i = 0
        while (i < ct.length) { val t = emb(i) - ct(i); d += t * t; i += 1 }
        (d, c)
      }.sortBy(_._1).take(nprobe).map(_._2).toArray
    }

  /** Codebook-training sample size: FIXED, not proportional — centroid
    * quality converges long before corpus size matters, so Lloyd's cost
    * must not grow with the corpus. */
  val ivfTrainSize = 4096

  /** One codebook fit per (fixture dir, variant) per JVM — the
    * PcaQueries statsCache discipline: the trainers are deterministic
    * functions of the immutable fixture (bounded hash-ordered sample +
    * driver-local Lloyd), and the s-family re-derived the identical
    * codebooks in up to ten queries per run (round-15 measurement:
    * one sampling TakeOrdered job per call). Values are plain driver
    * arrays, eagerly computed, valid across sessions. The Estimator
    * paths (GraftIVF/GraftPQ) fit USER frames and stay uncached. */
  private val centsCache = graft.SessionCaches
    .scalarCache[(String, String), Array[Array[Double]]]()
  private[operators] def fullCents(spark: SparkSession, dir: String)
      : Array[Array[Double]] =
    centsCache.getOrElseUpdate((dir, "full-16-2"),
      ivfCentroids(Tables.embeddings(spark, dir), k = 16, iters = 2))
  private[operators] def oldCents(spark: SparkSession, dir: String)
      : Array[Array[Double]] =
    centsCache.getOrElseUpdate((dir, "old-16-2"),
      ivfCentroids(Tables.embeddings(spark, dir)
        .filter(col("vec_id") % ingestMod =!= 0), k = 16, iters = 2))
  private val booksCache = graft.SessionCaches
    .scalarCache[String, Array[Array[Array[Double]]]]()
  private def fullBooks(spark: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    booksCache.getOrElseUpdate(dir, pqCodebooks(Tables.embeddings(spark, dir)))

  /** Deterministic fixed-size training sample: hash-ordered top-N
    * (TakeOrderedAndProject — one corpus pass, per-partition top-N,
    * no global sort shuffle), reproducible on any cluster layout.
    * Callers persist it so each Lloyd pass scans `ivfTrainSize` cached
    * rows instead of re-reading the corpus. */
  def ivfTrainSample(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(ivfTrainSize)
  }

  /** D19 scale path #2: IVF ANN — corpus partitioned into coarse
    * k-means cells, queries probe their `nprobe` nearest cells, exact
    * cosine ranking inside the probed cells only. Complements
    * [[s2KnnLsh]]; recall vs brute force asserted in SimilaritySpec,
    * and since round 8 the whole pipeline (trainer included) replays
    * hash-exact in DuckDB ([[s6OracleSql]] — the quantized [[lloyd]]
    * makes every centroid cross-engine reproducible). */
  def s6KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    // training cost is corpus-size-independent: one sampling pass, then
    // driver-local Lloyd over the bounded sample (see ivfCentroids)
    val cents = fullCents(spark, dir)
    val corpus = emb.select($"vec_id".as("neighbor_id"), $"embedding",
      nearestCentroidCol($"embedding", cents).as("cell"))
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        explode(probes(cents, 4)($"embedding")).as("cell"))
    val cands = corpus.join(qs, Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    cands.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** D221: attribute-FILTERED vector search — the s6 IVF pipeline
    * with a metadata predicate (neighbor.label = query.label) applied
    * INSIDE candidate generation, before the exact re-rank: the
    * "filtered ANN" shape every production vector store exposes
    * (search only documents matching a tenant/language/category
    * filter). Pre-filtering the candidate stream is the scale-correct
    * order — filter-AFTER-top-k silently returns < k results whenever
    * the filter is selective, and filter-BEFORE-index (a separate
    * index per attribute value) explodes index count; in-probe
    * filtering reuses ONE index and keeps the re-rank k-deep.
    *
    * Probe width: [[filteredProbes]] (6) instead of s6's 4 — the
    * standard filtered-search compensation: a selective predicate
    * thins every probed cell, so the index OVER-probes to keep the
    * effective candidate depth of the unfiltered search (what
    * production vector stores do when a filter is attached).
    *
    * Determinism: identical quantized-Lloyd cells/probes as s6 (the
    * hash-exact DuckDB replay) plus one equi-predicate; same top-5
    * re-rank tail. Scale shape: s6's — the filter only SHRINKS the
    * candidate stream (a narrow predicate on the cell join), and the
    * label column rides the probe join, never a separate corpus
    * pass. */
  /** s20's widened probe count (filter-compensating over-probe). */
  val filteredProbes = 6

  /** s21's ingest-batch selector: vec_id % this == 0 is the NEW batch
    * (a deterministic 10% stand-in for "vectors that arrived after
    * the index was built"). */
  val ingestMod = 10

  /** Shared IEEE fragments for [[s21IncrementalIndex]]. */
  private val s21Frac =
    """(CAST(n_new AS DOUBLE)
       / (CAST(n_old AS DOUBLE) + CAST(n_new AS DOUBLE)))"""
  private val s21Share =
    """(CAST(tn AS DOUBLE)
       / (CAST(to_ AS DOUBLE) + CAST(tn AS DOUBLE)))"""

  /** D228: incremental index ingest — assign a NEW vector batch into
    * an IVF index whose centroids were trained on the OLD corpus
    * only, and report the per-cell old/new census with each cell's
    * new-vector fraction and its drift vs the corpus-wide new share:
    * the d11 incremental-ingest story for the ANN side. Production
    * vector stores ingest WITHOUT retraining (retraining invalidates
    * every stored cell assignment); the operational question this
    * table answers is "is the new data drifting into a few cells" —
    * sustained positive drift in one cell is the signal to retrain
    * (s16's imbalance audit, read longitudinally).
    *
    * Determinism: centroids come from the quantized-Lloyd trainer
    * over the OLD-only deterministic sample (hash-exact replay);
    * assignment is the s6 nearestCentroid rule; everything else is
    * exact integer counts + two shared 4-dp IEEE fragments.
    *
    * Scale shape: ONE corpus assignment pass (codegen'd nearest-
    * centroid over a driver-trained, sample-bounded codebook) →
    * partial-aggregated ≤k-row cell census → 1-row totals broadcast
    * (q43 shape). The new batch never triggers a retrain or a
    * re-shuffle of the old corpus. */
  def s21IncrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = oldCents(spark, dir)
    val cells = emb
      .select(nearestCentroidCol($"embedding", cents).as("cell_id"),
        ($"vec_id" % ingestMod === 0).cast("long").as("isnew"))
      .groupBy($"cell_id")
      .agg(sum(lit(1L) - $"isnew").as("n_old"), sum($"isnew").as("n_new"))
    val tot = cells.agg(sum($"n_old").as("to_"), sum($"n_new").as("tn"))
    cells.crossJoin(broadcast(tot))
      .select($"cell_id", $"n_old", $"n_new",
        expr(s"round($s21Frac, 4)").as("new_frac"),
        expr(s"round($s21Frac - $s21Share, 4)").as("drift"))
      .orderBy($"cell_id")
  }

  /** How many logical arrival batches [[s22IndexIngest]] splits the
    * new-vector stream into (deterministic: batch = (id div 10) mod
    * this — a fixed stand-in for commit epochs). */
  val numIngestBatches = 3

  /** D232: STREAMING index-ingest census, batch twin — s21's
    * incremental IVF ingest replayed per ARRIVAL BATCH: new vectors
    * land in [[numIngestBatches]] logical commit epochs, and for each
    * (batch, cell) the table reports the adds, the cell's cumulative
    * new count, and the cell's occupancy share of the whole index
    * AFTER that batch — the longitudinal view an index operator
    * watches to decide when drift has accumulated enough to retrain
    * (s16's imbalance audit as a time series instead of a snapshot).
    * The streaming face ([[graft.streaming.IvfIngest]]) folds the
    * same per-batch census in `foreachBatch`; StreamingSpec gates
    * stream ≡ batch including an out-of-order batch boundary.
    *
    * Determinism: centroids from the OLD-only quantized-Lloyd trainer
    * (the s21 hash-exact replay); assignment the s6 rule; batch ids a
    * pure function of vec_id; everything else exact integer counts +
    * one 4-dp IEEE share.
    *
    * Scale shape: ONE corpus assignment pass → a partial-aggregated
    * ≤ k·(batches+1)-row census; every later frame (grid, cumulative
    * windows, totals) is bounded by k × batches — constants — so the
    * whole readout after the scan is driver-trivial no matter the
    * corpus size. The batches-per-cell window orders a 3-element
    * partition; the per-batch totals window a 3-row frame. */
  def s22IndexIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = oldCents(spark, dir)
    // one corpus pass: (cell, old|batch) census, ≤ k·(batches+1) rows
    val census = emb
      .select(nearestCentroidCol($"embedding", cents).as("cell_id"),
        ($"vec_id" % ingestMod === 0).as("isnew"),
        expr(s"CASE WHEN vec_id % $ingestMod = 0 THEN " +
          s"(vec_id div $ingestMod) % $numIngestBatches ELSE -1 END")
          .as("batch_id"))
      .groupBy($"cell_id", $"isnew", $"batch_id")
      .agg(count(lit(1)).as("n"))
      .scopedPersist()
    val oldC = census.filter(!$"isnew")
      .groupBy($"cell_id").agg(sum($"n").as("n_old"))
    val adds = census.filter($"isnew")
      .select($"batch_id", $"cell_id", $"n".as("n_added"))
    val grid = census.select($"cell_id").distinct()
      .crossJoin(broadcast(
        spark.range(numIngestBatches).select($"id".as("batch_id"))))
    val g = grid
      .join(adds, Seq("batch_id", "cell_id"), "left")
      .na.fill(0L, Seq("n_added"))
      .join(oldC, Seq("cell_id"), "left")
      .na.fill(0L, Seq("n_old"))
      .withColumn("cum_new", sum($"n_added").over(
        Window.partitionBy($"cell_id").orderBy($"batch_id")))
    val btot = g.groupBy($"batch_id").agg(sum($"n_added").as("badd"))
      .withColumn("cum_tot", sum($"badd").over(Window.orderBy($"batch_id")))
      .select($"batch_id", $"cum_tot")
    val totOld = oldC.agg(sum($"n_old").as("tot_old"))
    g.join(broadcast(btot), "batch_id")
      .crossJoin(broadcast(totOld))
      .select($"batch_id", $"cell_id", $"n_added", $"cum_new",
        round(($"n_old" + $"cum_new").cast("double")
          / ($"tot_old" + $"cum_tot").cast("double"), 4).as("occ_share"))
      .orderBy($"batch_id", $"cell_id")
  }

  /** Probe counts [[s23NprobeSweep]] evaluates (must fit in k = 16). */
  val sweepProbes = Seq(1, 2, 4, 8)

  /** D243: nprobe recall sweep — the IVF tuning curve an index
    * operator reads before pinning the production probe count: for
    * each nprobe in [[sweepProbes]], recall@5 of the s6 pipeline
    * against the s1 brute-force truth and the total candidates the
    * re-rank had to score (the recall/cost trade in one table — d18's
    * banding sweep, for the vector index). The standard operating
    * point is the knee: the smallest nprobe whose recall plateaus.
    *
    * Plan: ONE probe expansion at the widest setting (posexplode of
    * the max-nprobe probe list keeps the probe RANK), ONE candidate
    * join + cosine pass shared by every setting (scoped-persisted);
    * each sweep row is then a rank-filtered window over the shared
    * candidate frame — no re-probing, no extra corpus passes. Truth
    * is the committed s1 query.
    *
    * Scale shape: candidate volume is bounded by #queries ×
    * (maxProbes/k) × corpus-per-cell — the s6 shape at its widest
    * setting, paid once; the sweep itself re-reads the persisted
    * frame (queries × shortlist rows). */
  def s23NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = fullCents(spark, dir)
    val corpus = emb.select($"vec_id".as("neighbor_id"), $"embedding",
      nearestCentroidCol($"embedding", cents).as("cell"))
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        posexplode(probes(cents, sweepProbes.max)($"embedding"))
          .as(Seq("pidx", "cell")))
    val cands = corpus.join(qs, Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"pidx",
        cosineCol($"q_emb", $"embedding").as("cos"))
      .scopedPersist()
    val truth = s1KnnBrute(spark, dir)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    val top = sweepProbes.map { p =>
      cands.filter($"pidx" < p)
        .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
        .select(lit(p.toLong).as("nprobe"), $"query_id", $"neighbor_id")
    }.reduce(_.unionAll(_))
    val counts = sweepProbes.map { p =>
      cands.filter($"pidx" < p)
        .agg(count(lit(1)).as("n_cands"))
        .select(lit(p.toLong).as("nprobe"), $"n_cands")
    }.reduce(_.unionAll(_))
    val rec = top.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"nprobe")
      .agg(sum(coalesce($"hit", lit(0L))).as("hits"))
    counts.join(rec, Seq("nprobe"), "left")
      .select($"nprobe", $"n_cands",
        round(coalesce($"hits", lit(0L)).cast("double") / 25.0, 4)
          .as("recall_at_5"))
      .orderBy($"nprobe")
  }

  /** D247: codebook stability census — after c21's retrain, how far
    * did the codebook actually move? For each RETRAINED centroid: its
    * nearest OLD centroid (lowest-id ties), the squared distance
    * between them (4-dp), and whether that old centroid was already
    * claimed by a closer retrained one (a collision means two new
    * cells carved up one old cell — the assignment-invalidation
    * hotspot). The operator-facing answer to "do stored cell ids
    * survive the retrain approximately, or not at all".
    *
    * Determinism: both codebooks are the bit-deterministic quantized-
    * Lloyd fits (s21's old-only trainer, the full-corpus retrain);
    * distances are the ascending-index squared-L2 both engines
    * evaluate identically (the s6 precedent); collision flags are
    * integer ranks.
    *
    * Scale shape: the cross-distance table is k × k = 256 driver-side
    * doubles — corpus cost is exactly the two bounded-sample fits
    * (s6's audited shape); no corpus pass at all beyond them. */
  def s24CodebookStability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val centsOld = oldCents(spark, dir)
    val centsNew = fullCents(spark, dir)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nearest = centsNew.indices.map { n =>
      val (d, o) = centsOld.indices
        .map(o => (sq(centsNew(n), centsOld(o)), o)).min
      (n, o, d)
    }
    // collision: the old centroid is claimed by a CLOSER new centroid
    // (ties by lower new cid)
    val best = nearest.groupBy(_._2).view
      .mapValues(_.map(t => (t._3, t._1)).min._2).toMap
    nearest.map { case (n, o, d) =>
      (n.toLong, o.toLong, r4(d), if (best(o) == n) 0L else 1L)
    }.toDF("new_cid", "old_cid", "sq_dist", "displaced")
      .orderBy($"new_cid")
  }

  def s20FilteredKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = fullCents(spark, dir)
    val corpus = emb.select($"vec_id".as("neighbor_id"),
      $"label".as("n_label"), $"embedding",
      nearestCentroidCol($"embedding", cents).as("cell"))
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"label".as("q_label"),
        $"embedding".as("q_emb"),
        explode(probes(cents, filteredProbes)($"embedding")).as("cell"))
    val cands = corpus.join(qs, Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id" && $"n_label" === $"q_label")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    cands.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** PQ layout: 8 subspaces × 8 dims (over the 64-dim fixture), 64
    * centroids per subspace → 8 small codes per vector, a 32×
    * compression of the float embedding. */
  val pqSubspaces = 8
  val pqCodebookSize = 64
  val pqIters = 5
  /** ADC shortlist size per query before the exact re-rank. */
  val pqShortlist = 50

  private[graft] def normalized(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val s = math.sqrt(n)
    if (s == 0.0) v else v.map(_ / s)
  }

  /** Per-subspace PQ codebooks trained on the same bounded
    * deterministic sample as IVF (one corpus pass, driver-local Lloyd;
    * corpus-size-independent cost). Vectors are L2-normalized first so
    * squared-L2 ADC ranking is cosine ranking (cos = 1 − d²/2 on unit
    * vectors). */
  def pqCodebooks(emb: DataFrame): Array[Array[Array[Double]]] = {
    import emb.sparkSession.implicits._
    val sample = ivfTrainSample(emb)
      .select($"embedding").collect()
      .map(r => normalized(r.getSeq[Float](0).map(_.toDouble).toArray))
    require(sample.length >= pqCodebookSize,
      s"PQ training sample has ${sample.length} rows, need >= $pqCodebookSize")
    val sub = sample.head.length / pqSubspaces
    Array.tabulate(pqSubspaces) { m =>
      lloyd(sample.map(v =>
        java.util.Arrays.copyOfRange(v, m * sub, (m + 1) * sub)),
        pqCodebookSize, pqIters)
    }
  }

  /** PQ encoder via the codegen'd native expression
    * [[graft.functions.PqEncode]]: normalize, then per-subspace
    * nearest-centroid code (strict <, lowest index — the [[lloyd]]
    * assignment rule), with the codebook baked into the generated stage
    * through one foldable literal. */
  def pqEncodeCol(a: Column, books: Array[Array[Array[Double]]]): Column =
    column(PqEncode(expression(a),
      expression(typedLit(books.map(_.map(_.toSeq).toSeq).toSeq))))

  /** ADC ranking via the codegen'd native expression
    * [[graft.functions.PqAdc]]: ascending-subspace double adds over the
    * bounded per-query distance tables, which ride as ONE foldable
    * struct-array literal. An id absent from the tables fails the
    * query rather than scoring silently. */
  def pqAdcCol(qid: Column, codes: Column,
      tables: Map[Long, Array[Array[Double]]]): Column =
    column(PqAdc(expression(qid), expression(codes),
      expression(typedLit(tables.toSeq.sortBy(_._1)
        .map { case (id, t) => (id, t.map(_.toSeq).toSeq) }))))

  /** D19 scale path #3: product-quantization ANN with asymmetric
    * distance computation (ADC). The corpus is encoded ONCE into 4
    * per-subspace codes (all that the scoring shuffle ever carries —
    * never the 64 floats); each bounded query precomputes a 4×16
    * distance table driver-side, and scoring a corpus vector is 4 table
    * lookups instead of a 64-dim dot product. Ranking = ascending ADC
    * squared-L2 on unit vectors ≡ descending approximate cosine.
    *
    * Two stages, the production IVFADC shape: (1) ADC over the codes
    * retrieves a [[pqShortlist]]-sized candidate set per query via the
    * same salted two-phase top-k as [[s1KnnBrute]]; (2) only the
    * shortlist (bounded: shortlist × queries rows) is joined back to
    * the float embeddings for an exact cosine re-rank. The corpus-wide
    * scan touches codes only; full vectors are re-read for ≤ 50·|Q|
    * rows regardless of corpus size. Recall vs brute force asserted in
    * SimilaritySpec, and since round 8 the whole pipeline — all 8
    * subspace trainers included — replays hash-exact in DuckDB
    * ([[s7OracleSql]], on the quantized-[[lloyd]] argument). */
  def s7KnnPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val books = fullBooks(spark, dir)
    // bounded query set → driver-side ADC tables (5 × 4×16 doubles)
    val qRows = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        normalized(r.getSeq[Float](1).map(_.toDouble).toArray))
    val sub = qRows.head._2.length / pqSubspaces
    val tables: Map[Long, Array[Array[Double]]] = qRows.map { case (id, q) =>
      id -> Array.tabulate(pqSubspaces) { m =>
        books(m).map { ct =>
          var d = 0.0; var i = 0
          while (i < sub) { val t = q(m * sub + i) - ct(i); d += t * t; i += 1 }
          d
        }
      }
    }.toMap
    val corpus = emb.select($"vec_id".as("neighbor_id"),
      pqEncodeCol($"embedding", books).as("codes"))
    val qIds = qRows.map(_._1).toSeq.toDF("query_id")
    val scored = corpus.crossJoin(broadcast(qIds))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("adc", pqAdcCol($"query_id", $"codes", tables))
      .withColumn("salt", pmod(crc32($"neighbor_id".cast("string")), lit(32)))
    val wLocal = Window.partitionBy($"query_id", $"salt")
      .orderBy($"adc".asc, $"neighbor_id")
    val wAdc = Window.partitionBy($"query_id").orderBy($"adc".asc, $"neighbor_id")
    val shortlist = scored
      .withColumn("rk_local", row_number().over(wLocal))
      .filter($"rk_local" <= pqShortlist)
      .withColumn("rk_adc", row_number().over(wAdc))
      .filter($"rk_adc" <= pqShortlist)
      .select($"query_id", $"neighbor_id")
    // exact re-rank of the bounded shortlist: join the float vectors
    // back for ≤ pqShortlist·|Q| rows only
    val qEmb = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    shortlist
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"), "neighbor_id")
      .join(broadcast(qEmb), "query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** D170: composed IVFADC ANN — the production index shape (Jégou et
    * al. 2011, "Product Quantization for Nearest Neighbor Search"):
    * IVF coarse cells restrict the search to the probed partitions and
    * PQ ADC ranks ONLY those members, so a query's scan cost is
    * ~n·nprobe/k CODE rows (4 small ints each) instead of s6's full
    * vectors-in-probed-cells or s7's corpus-wide ADC; only the
    * [[pqShortlist]] survivors are re-read as floats for the exact
    * re-rank. Both trainers are the shared bounded-sample quantized
    * Lloyd, so the full composition — cells, probes, codes, ADC,
    * shortlist, re-rank — replays hash-exact in DuckDB
    * ([[s15OracleSql]] = the s6 + s7 fragments joined). */
  def s15KnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = fullCents(spark, dir)
    val books = fullBooks(spark, dir)
    val corpus = emb.select($"vec_id".as("neighbor_id"),
      nearestCentroidCol($"embedding", cents).as("cell"),
      pqEncodeCol($"embedding", books).as("codes"))
    val qRows = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    // driver-side probes (5 queries × k cells) — the s6 probe rule:
    // stable sort on squared L2, lowest cell id on ties
    val probeDf = qRows.flatMap { case (id, q) =>
      cents.indices.map { c =>
        val ct = cents(c); var d = 0.0; var i = 0
        while (i < ct.length) { val t = q(i) - ct(i); d += t * t; i += 1 }
        (d, c)
      }.sortBy(_._1).take(4).map { case (_, c) => (id, c) }
    }.toSeq.toDF("query_id", "cell")
    // driver-side ADC tables over the NORMALIZED queries (s7 rule)
    val sub = qRows.head._2.length / pqSubspaces
    val tables: Map[Long, Array[Array[Double]]] = qRows.map { case (id, q0) =>
      val q = normalized(q0)
      id -> Array.tabulate(pqSubspaces) { m =>
        books(m).map { ct =>
          var d = 0.0; var i = 0
          while (i < sub) { val t = q(m * sub + i) - ct(i); d += t * t; i += 1 }
          d
        }
      }
    }.toMap
    val scored = corpus.join(broadcast(probeDf), Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("adc", pqAdcCol($"query_id", $"codes", tables))
      .withColumn("salt", pmod(crc32($"neighbor_id".cast("string")), lit(32)))
    val wLocal = Window.partitionBy($"query_id", $"salt")
      .orderBy($"adc".asc, $"neighbor_id")
    val wAdc = Window.partitionBy($"query_id").orderBy($"adc".asc, $"neighbor_id")
    val shortlist = scored
      .withColumn("rk_local", row_number().over(wLocal))
      .filter($"rk_local" <= pqShortlist)
      .withColumn("rk_adc", row_number().over(wAdc))
      .filter($"rk_adc" <= pqShortlist)
      .select($"query_id", $"neighbor_id")
    val qEmb = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    shortlist
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"), "neighbor_id")
      .join(broadcast(qEmb), "query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** D178: IVF index-balance audit — the per-cell census of the s6/s15
    * coarse quantizer plus FAISS's imbalance factor
    * λ = k·Σᵢ(sizeᵢ/n)² (the expected scan-cost inflation of probing
    * under a size-proportional query distribution; λ = 1 is perfectly
    * balanced, λ → k is one hot cell). The d18-style instrument for
    * the ANN family: read THIS before trusting s6/s15 latency at
    * corpus scale, because a skewed quantizer silently turns nprobe/k
    * of the corpus into most of it.
    *
    * Determinism: λ's numerator is the exact integer Σ sizeᵢ² (one
    * DECIMAL(38,0) sum — no double summation order), and every output
    * is a single 4-dp division. Scale shape: the census is ONE
    * map-side-combined aggregate to k rows; the totals frame is one
    * broadcast row (the g8/q43 audited cross-join shape). */
  def s16IvfStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = fullCents(spark, dir)
    val cells = emb
      .select(nearestCentroidCol($"embedding", cents).as("cell"))
      .groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum($"n_vecs").as("n"),
      sum(($"n_vecs".cast("decimal(38,0)") * $"n_vecs")).as("ss"),
      count(lit(1)).as("k"))
    cells.crossJoin(broadcast(tot))
      .select($"cell".as("cell_id"), $"n_vecs",
        round($"n_vecs".cast("double") / $"n".cast("double"), 4).as("frac"),
        round($"k".cast("double") * expr("CAST(ss AS DOUBLE)") /
          ($"n".cast("double") * $"n".cast("double")), 4).as("imbalance"))
      .orderBy($"cell_id")
  }

  /** D190: PQ distortion audit — per subspace, the mean and max
    * squared quantization error between each normalized vector's
    * subspace slice and its assigned codeword: the s16-style
    * instrument for the PQ side of the ANN family (read THIS before
    * trusting s7/s15 ADC rankings — a subspace with high distortion
    * contributes noise, not signal, to every ADC score, and the fix —
    * more centroids or a rotation — is per-subspace).
    *
    * Determinism: assignment and error reuse the [[pqEncodeCol]]
    * arithmetic (ascending-dim squared-difference fold — identical
    * IEEE order to the oracle's list_inner_product over the dv list);
    * each per-vector error is snapped to a 1e-9 integer grid and
    * summed as DECIMAL(38,0), so the corpus sum is ORDER-FREE; max is
    * order-free on identical doubles. 6-dp output (errors live at
    * 1e-2 scale — the 4-dp grid would quantize away the signal).
    *
    * Scale shape: codebooks train on the fixed deterministic sample
    * (corpus-size-independent); the corpus pass is ONE map-side-
    * combined aggregate over the [[pqSubspaces]]-row explode — output
    * is 8 rows, no joins, no window. */
  def s17PqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val books = fullBooks(spark, dir)
    val errU = udf { (embv: Seq[Float]) =>
      val v = normalized(embv.map(_.toDouble).toArray)
      val sub = v.length / books.length
      Array.tabulate(books.length) { m =>
        val book = books(m); val off = m * sub
        var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          val ct = book(c); var d = 0.0; var i = 0
          while (i < sub) { val t = v(off + i) - ct(i); d += t * t; i += 1 }
          if (d < bestD) bestD = d
          c += 1
        }
        bestD
      }
    }
    emb.select(posexplode(errU($"embedding")).as(Seq("subspace", "err")))
      .groupBy($"subspace")
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(floor(err * 1000000000.0 + 0.5) AS DECIMAL(38,0))"))
          .as("s9"),
        max($"err").as("mx"))
      .select($"subspace", $"n_vecs",
        round(expr(
          "CAST(s9 AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1000000000.0)"), 6)
          .as("mse"),
        round($"mx", 6).as("max_err"))
      .orderBy($"subspace")
  }

  /** D213: ANN index leaderboard — mean recall@5 vs the exact brute
    * ranking for ALL FOUR committed index types (LSH, IVF, PQ+ADC,
    * IVFADC) in one table: the decision artifact for "which index do
    * we ship" that s11 (one method), s16 (IVF balance) and s17 (PQ
    * distortion) each answer only a facet of. Methods rank directly
    * because every pipeline here is the committed, oracle-gated one —
    * the leaderboard can never drift from what the engine actually
    * retrieves.
    *
    * Determinism: intersections are equi-joins of oracle-gated
    * outputs; recall is exact hit counting over 5·|queries| pairs,
    * one 4-dp division.
    *
    * Scale shape: the four retrieval plans dominate (each its own
    * audited shape); the eval joins k·|queries|-row frames against a
    * 4-row broadcast method list — negligible at any corpus size. */
  def s18IndexLeaderboard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val methods = Seq(
      ("ivf", s6KnnIvf(spark, dir)), ("ivfpq", s15KnnIvfPq(spark, dir)),
      ("lsh", s2KnnLsh(spark, dir)), ("pq", s7KnnPq(spark, dir)))
    val anns = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), $"query_id", $"neighbor_id",
        lit(1L).as("hit"))
    }.reduce(_ unionAll _)
    val tags = methods.map(_._1).toDF("method")
    s1KnnBrute(spark, dir).select($"query_id", $"neighbor_id")
      .crossJoin(broadcast(tags))
      .join(anns, Seq("method", "query_id", "neighbor_id"), "left")
      .groupBy($"method")
      .agg(countDistinct($"query_id").as("n_queries"),
        sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .select($"method", $"n_queries",
        round(expr(
          "CAST(n_hits AS DOUBLE) / (5.0 * CAST(n_queries AS DOUBLE))"), 4)
          .as("mean_recall_at_5"))
      .orderBy($"method")
  }

  /** RRF rank constant (Cormack & Clarke's k=60, the standard). */
  val rrfK = 60
  /** Fixed-point scale for RRF contributions: 1e6 div (k + rank) —
    * integer division so the per-list contribution is an EXACT
    * integer and the cross-list sum is order-free (the q60 `div`
    * discipline; summing 1/(k+r) doubles would hang the hash on
    * cross-engine addition order). */
  val rrfScale = 1000000L

  /** D216: reciprocal-rank-fusion of two committed retrieval
    * pipelines (LSH + IVF) — the standard hybrid-retrieval merge
    * (Cormack, Clarke & Buettcher, SIGIR'09): each candidate scores
    * Σ_lists 1/(k + rank), which rewards appearing in BOTH lists
    * without ever comparing raw cosine scores across indexes. The
    * production shape for "vector + keyword" or "two ANN indexes with
    * different failure modes" search — s18 says which single index
    * wins; s19 is what you ship when you can afford two.
    *
    * Determinism: contributions are exact integer micros
    * ([[rrfScale]] div (k + rk)); the fused ordering ties-break on
    * neighbor_id. Scale shape: the two retrieval plans dominate (each
    * its own audited shape); fusion itself is one groupBy + one
    * per-query top-5 window over ≤ 2·5·|queries| rows. */
  def s19RankFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lists =
      s2KnnLsh(spark, dir).select($"query_id", $"neighbor_id", $"rk")
        .unionAll(
          s6KnnIvf(spark, dir).select($"query_id", $"neighbor_id", $"rk"))
    val fused = lists
      .select($"query_id", $"neighbor_id",
        expr(s"CAST($rrfScale div ($rrfK + rk) AS BIGINT)").as("micros"))
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"micros").as("rrf_micros"),
        count(lit(1)).cast("int").as("n_lists"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"rrf_micros".desc, $"neighbor_id")
    fused.withColumn("fused_rank", row_number().over(w))
      .filter($"fused_rank" <= 5)
      .select($"query_id", $"fused_rank", $"neighbor_id",
        $"rrf_micros", $"n_lists")
      .orderBy($"query_id", $"fused_rank")
  }

  /** D21: symmetric int8 quantization of the embedding column +
    * reconstruction-error statistics per label — the compression step a
    * training pipeline applies before shipping embeddings. Quantization
    * uses floor(x/scale + 0.5) (round-half-toward-+inf) so Spark and
    * the SQL oracle agree on negative half-way points. Pure narrow map
    * + one low-cardinality aggregation. */
  def s5Quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val scaled = emb.select($"label",
      (array_max(transform($"embedding", x => abs(x.cast("double")))) / 127.0).as("scale"),
      $"embedding")
    val err = aggregate(
      transform($"embedding", x => {
        val xd = x.cast("double")
        val q = least(greatest(floor(xd / $"scale" + 0.5), lit(-127.0)), lit(127.0))
        abs(xd - q * $"scale")
      }),
      lit(0.0), (acc, e) => acc + e)
    scaled
      .select($"label", (err / size($"embedding")).as("mae"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg($"mae"), 6).as("avg_mae"),
        round(max($"mae"), 6).as("max_mae"))
      .orderBy($"label")
  }

  /** MMR trade-off λ, candidate-pool size, and result size for
    * [[s9MmrRerank]]. */
  val mmrLambda = 0.7
  val mmrPool = 20
  val mmrK = 5

  /** D80: Maximal-Marginal-Relevance diversified retrieval (Carbonell
    * & Goldstein, SIGIR'98) — the re-rank stage a RAG / dedup-aware
    * retrieval pipeline puts after s1/s2: from each query's top-
    * [[mmrPool]] cosine candidates, greedily select [[mmrK]] results
    * maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s). Step 1 is
    * the pure-relevance argmax (no selected set yet); its score column
    * is rel.
    *
    * Scale shape: the greedy recursion is inherently sequential in k
    * but embarrassingly parallel ACROSS queries — each of the
    * [[mmrK]] supersteps is one (query, candidate)-keyed join+argmax
    * over pool-bounded frames, so a million queries run as well as
    * five (the g1 fixed-superstep pattern). The pool and its ≤pool²
    * pairwise-sim frame are persisted once — the corpus is scanned
    * exactly once (pool build); no step rescans it. Determinism:
    * rel/sim/score all rounded to 4 dp before every argmax, ties →
    * lowest candidate id; λ and 1−λ interpolated into the oracle via
    * Double.toString (1−0.7 is NOT the literal 0.3). */
  def s9MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val scored = emb.select($"vec_id".as("cid"), $"embedding")
      .crossJoin(broadcast(q))
      .filter($"cid" =!= $"query_id")
      .withColumn("rel", round(cosineCol($"q_emb", $"embedding"), 4))
      .withColumn("salt", pmod(crc32($"cid".cast("string")), lit(32)))
    val wL = Window.partitionBy($"query_id", $"salt")
      .orderBy($"rel".desc, $"cid")
    val wG = Window.partitionBy($"query_id").orderBy($"rel".desc, $"cid")
    val cand = scored
      .withColumn("lrk", row_number().over(wL)).filter($"lrk" <= mmrPool)
      .withColumn("rk", row_number().over(wG)).filter($"rk" <= mmrPool)
      .select($"query_id", $"cid", $"rel", $"embedding")
      .scopedPersist()
    val csim = cand.select($"query_id", $"cid".as("cid_a"), $"embedding".as("ea"))
      .join(cand.select($"query_id", $"cid".as("cid_b"), $"embedding".as("eb")),
        Seq("query_id"))
      .filter($"cid_a" =!= $"cid_b")
      .withColumn("sim", round(cosineCol($"ea", $"eb"), 4))
      .select($"query_id", $"cid_a", $"cid_b", $"sim")
      .scopedPersist()
    val pool = cand.select($"query_id", $"cid", $"rel")
    val wPick = Window.partitionBy($"query_id").orderBy($"score".desc, $"cid")
    var picks = pool.withColumn("score", $"rel")
      .withColumn("r", row_number().over(wPick)).filter($"r" === 1)
      .select($"query_id", $"cid", lit(1).as("step"), $"score")
    var sel = picks.select($"query_id", $"cid")
    for (k <- 2 to mmrK) {
      val pk = pool
        .join(sel, Seq("query_id", "cid"), "left_anti")
        .join(csim.withColumnRenamed("cid_a", "cid")
            .join(sel.withColumnRenamed("cid", "cid_b"),
              Seq("query_id", "cid_b")),
          Seq("query_id", "cid"))
        .groupBy($"query_id", $"cid", $"rel").agg(max($"sim").as("ms"))
        .withColumn("score", round(
          lit(mmrLambda) * $"rel" - lit(1.0 - mmrLambda) * $"ms", 4))
        .withColumn("r", row_number().over(wPick)).filter($"r" === 1)
        .select($"query_id", $"cid", lit(k).as("step"), $"score")
      // localCheckpoint per superstep (the d8/g1 lineage-truncation
      // discipline): without it every step RE-EXECUTES all prior
      // steps' windows and anti-joins — measured 12.5s → ~2s at sf0.1.
      // (Round-16: `sel` is a narrow projection OF the checkpointed
      // picks, so its own localCheckpoint was a second materialization
      // job per superstep buying nothing — removed, 4 fewer actions.)
      picks = picks.unionByName(pk).localCheckpoint()
      sel = picks.select($"query_id", $"cid")
    }
    picks
      .select($"query_id", $"step", $"cid".as("vec_id"), $"score")
      .orderBy($"query_id", $"step")
  }

  // ---------------------------------------------------------------- s13

  /** Anchor-set size for triplet mining (the s1 bounded-query-set
    * convention). */
  val tripletAnchors = 10

  /** D145: batch-hard triplet mining (Schroff et al., FaceNet 2015) —
    * for each anchor embedding, the HARDEST POSITIVE (same label,
    * minimum cosine) and HARDEST NEGATIVE (other label, maximum
    * cosine), plus the margin between them: the candidate generator a
    * contrastive/metric-learning data pipeline runs every epoch.
    *
    * Scale shape: the s1 discipline — anchors broadcast, ONE corpus
    * scan scores both extremes, and each extreme uses the salted
    * two-phase argmin/argmax (a local extreme per salt bucket, then a
    * rank over ≤ salts survivors) so no low-cardinality window ever
    * sees the corpus. Cosines come from the codegen'd
    * [[cosineCol]]; ties break on candidate id; the 4-dp round is
    * display-only (ranking uses full doubles — bit-identical both
    * engines, the s1 argument). */
  def s13TripletMining(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val anchors = emb.filter($"vec_id" < tripletAnchors)
      .select($"vec_id".as("anchor_id"), $"embedding".as("a_emb"),
        $"label".as("a_label"))
    val scored = emb.select($"vec_id".as("cand_id"), $"embedding", $"label")
      .crossJoin(broadcast(anchors))
      .filter($"cand_id" =!= $"anchor_id")
      .withColumn("cos", cosineCol($"a_emb", $"embedding"))
      .withColumn("salt", pmod(crc32($"cand_id".cast("string")), lit(32)))
      .scopedPersist()
    def extreme(df: DataFrame, asc: Boolean): DataFrame = {
      val ord = if (asc) Seq($"cos".asc, $"cand_id".asc)
                else Seq($"cos".desc, $"cand_id".asc)
      val wL = Window.partitionBy($"anchor_id", $"salt").orderBy(ord: _*)
      val wG = Window.partitionBy($"anchor_id").orderBy(ord: _*)
      df.withColumn("rl", row_number().over(wL)).filter($"rl" === 1)
        .withColumn("rk", row_number().over(wG)).filter($"rk" === 1)
    }
    val pos = extreme(scored.filter($"label" === $"a_label"), asc = true)
      .select($"anchor_id", $"cand_id".as("pos_id"), $"cos".as("cp"))
    val neg = extreme(scored.filter($"label" =!= $"a_label"), asc = false)
      .select($"anchor_id", $"cand_id".as("neg_id"), $"cos".as("cn"))
    pos.join(neg, "anchor_id")
      .select($"anchor_id", $"pos_id", round($"cp", 4).as("cos_pos"),
        $"neg_id", round($"cn", 4).as("cos_neg"),
        round($"cn" - $"cp", 4).as("margin"))
      .orderBy($"anchor_id")
  }

  // ---------------------------------------------------------------- s14

  /** Coreset size for k-center diversity sampling. */
  val kcenterK = 10

  /** D146: greedy k-center (farthest-point) diversity sampling — pick
    * [[kcenterK]] embeddings maximizing pairwise spread in cosine
    * distance: seed at the lowest vec_id, then repeatedly take the
    * point FARTHEST from its nearest chosen center (the classic
    * 2-approximation; the coreset/diversity-curation pass of an
    * embedding-curated training set, complementing s9's per-query MMR).
    *
    * Determinism/exactness: distances are 1 − [[cosineCol]] cosine
    * (bit-identical both engines); min-distances update through
    * `least` and the argmax ties break on vec_id — pure comparisons on
    * identical doubles. Chosen centers keep distance 0 so they can
    * never be re-picked.
    *
    * Scale shape: k−1 rounds, each ONE corpus scan against a single
    * broadcast center (the newest pick — min-dist state carries the
    * rest) + a TakeOrdered top-1; `localCheckpoint` per round
    * truncates the iterative lineage (g1 discipline). Only k rows ever
    * reach the driver. The oracle replays the rounds as chained
    * MATERIALIZED CTEs (c9 idiom). */
  def s14KcenterSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val seed = emb.orderBy($"vec_id").limit(1).collect()(0)
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Option[Double])]
    picks += ((1, seed.getLong(0), None))
    var centerEmb = seed.getSeq[Float](1).toArray
    var state = emb
      .withColumn("dist",
        lit(1.0) - cosineCol($"embedding", typedLit(centerEmb)))
      .localCheckpoint()
    for (r <- 2 to kcenterK) {
      val next = state.orderBy($"dist".desc, $"vec_id").limit(1).collect()(0)
      picks += ((r, next.getLong(0),
        Some(BigDecimal(next.getDouble(2))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      centerEmb = next.getSeq[Float](1).toArray
      state = state
        .withColumn("dist", least($"dist",
          lit(1.0) - cosineCol($"embedding", typedLit(centerEmb))))
        .localCheckpoint()
    }
    picks.toSeq.map(p => (p._1, p._2, p._3))
      .toDF("rk", "vec_id", "sel_dist")
      .orderBy($"rk")
  }

  /** Compiled squared-L2 distance for `array<float>` pairs: float →
    * double per element, ascending sequential summation — bit-identical
    * to DuckDB's `list_inner_product(dv, dv)` over the ascending diff
    * list ([[sqDistCols]]), the same parity contract as [[cosineCol]]. */
  private[graft] val sqDistF = udf { (a: Seq[Float], b: Seq[Float]) =>
    var d = 0.0; var i = 0
    val n = a.length
    while (i < n) {
      val t = a(i).toDouble - b(i).toDouble
      d += t * t; i += 1
    }
    d
  }

  /** s25 NSW graph degree: exact nearest neighbors kept per node
    * within its cell. 8 is the HNSW-family default M — degree 4
    * measured 2/5 recall@1 on the smoke fixture (greedy descent
    * strands in local minima on a too-sparse graph). */
  val nswM = 8
  /** s25 greedy-walk superstep count — FIXED, so the search replays as
    * a bounded CTE chain (the g1 fixed-superstep discipline); staying
    * put is idempotent, so extra hops past convergence are free. */
  val nswHops = 8
  /** s25 probe width. */
  val nswProbes = 2

  /** D251: graph-ANN hybrid — a navigable-small-world neighbor graph
    * (Malkov et al., the NSW/HNSW family's base layer) built WITHIN
    * each IVF cell, searched by greedy best-first descent inside the
    * query's probed cells. The one modern index family LSH/IVF/PQ
    * don't cover, made Spark-shaped by the cell restriction: graph
    * construction is a CELL-KEYED self-join (bounded per cell under
    * the d14 rule that k grows ∝ n, so cell size stays ~constant) and
    * each walk step touches only [[nswM]] adjacency rows per live
    * walker — never a corpus scan per hop.
    *
    * Search: per (query, probed cell), start at the cell's minimum
    * vec_id (excluding the query itself — deterministic entry), take
    * [[nswHops]] supersteps; each step moves to the best adjacent
    * node iff it strictly improves the squared-L2 distance (staying
    * put is idempotent, so the FIXED step count subsumes "stop at a
    * local minimum"). Result: each query's best node across its
    * probed walks, plus a `hit` flag against the exact within-probed-
    * cells top-1 — the recall readout that tells the operator whether
    * graph descent found what cell-exhaustive scan would have.
    *
    * Determinism: quantized-Lloyd cells/probes (the s6 hash-exact
    * replay), strict-< moves on bit-identical doubles ([[sqDistF]] ≡
    * the oracle's diff-list inner product), lexicographic
    * (distance, id) ties everywhere.
    *
    * Scale shape: supersteps are the g1 fixed-count pattern over a
    * walker frame of |Q|·nprobe rows; the per-hop joins key on
    * cur_id/nbr_id against the persisted adjacency (corpus-linear,
    * ~nswM rows per node); the only pairwise stage is the within-cell
    * kNN-graph build, cell-bounded by construction. */
  def s25NswIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = fullCents(spark, dir)
    val cells = emb.select($"vec_id", $"embedding",
      nearestCentroidCol($"embedding", cents).as("cell"))
      .scopedPersist()
    // within-cell exact kNN graph: the NSW base layer, cell-confined
    val a = cells.select($"cell", $"vec_id".as("node_id"),
      $"embedding".as("a_emb"))
    val b = cells.select($"cell", $"vec_id".as("nbr_id"),
      $"embedding".as("b_emb"))
    val wAdj = Window.partitionBy($"node_id").orderBy($"d", $"nbr_id")
    val adj = a.join(b, Seq("cell"))
      .filter($"node_id" =!= $"nbr_id")
      // project the embeddings AWAY before the ranking shuffle: the
      // window moves (node, nbr, d) triples, never the vectors
      .select($"node_id", $"nbr_id", sqDistF($"a_emb", $"b_emb").as("d"))
      .withColumn("rk", row_number().over(wAdj))
      .filter($"rk" <= nswM)
      .select($"node_id", $"nbr_id")
      .scopedPersist()
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        explode(probes(cents, nswProbes)($"embedding")).as("cell"))
      .scopedPersist()
    // deterministic entry: the probed cell's min id, query excluded
    val entry = q.join(cells.select($"cell", $"vec_id"), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"cell").agg(min($"vec_id").as("cur_id"))
    val nbrEmb = cells.select($"vec_id".as("__nid"), $"embedding".as("n_emb"))
    var state = q.join(entry, Seq("query_id", "cell"))
      .join(nbrEmb, $"cur_id" === $"__nid")
      .select($"query_id", $"cell", $"q_emb", $"cur_id",
        sqDistF($"q_emb", $"n_emb").as("cur_d"))
    def hop(st: DataFrame): DataFrame = {
      // name-based equi-join (not st("cur_id") === adj("node_id")):
      // with two hops sharing one lineage, adj appears twice in the
      // plan and dataframe-reference conditions turn ambiguous
      val best = st
        .select($"query_id", $"cell", $"q_emb", $"cur_id".as("node_id"))
        .join(adj, Seq("node_id"))
        .filter($"nbr_id" =!= $"query_id")
        .join(nbrEmb, $"nbr_id" === $"__nid")
        .withColumn("nd", sqDistF($"q_emb", $"n_emb"))
        .groupBy($"query_id", $"cell")
        .agg(min(struct($"nd", $"nbr_id")).as("b"))
        .select($"query_id", $"cell",
          $"b.nd".as("bd"), $"b.nbr_id".as("bn"))
      st.join(best, Seq("query_id", "cell"), "left")
        .select($"query_id", $"cell", $"q_emb",
          when($"bd" < $"cur_d", $"bn").otherwise($"cur_id").as("cur_id"),
          when($"bd" < $"cur_d", $"bd").otherwise($"cur_d").as("cur_d"))
    }
    // One checkpoint per hop: the state feeds each hop TWICE (candidate
    // join + keep-or-move), so an unmaterialized intermediate would
    // execute its join+aggregate twice per round. (Round-16 A/B note:
    // 2-hop batching was tried — unlike g17 it cannot shrink the round
    // count, the 1.5× re-execution outweighed the saved driver
    // round-trips, and it was reverted.)
    for (_ <- 1 to nswHops)
      state = hop(state).localCheckpoint()
    val found = state.groupBy($"query_id")
      .agg(min(struct($"cur_d", $"cur_id")).as("b"))
      .select($"query_id", $"b.cur_id".as("found_id"),
        round($"b.cur_d", 4).as("found_d"))
    // exact top-1 inside the probed cells: the walk's recall oracle;
    // its candidate count is the COST the graph descent avoided (the
    // walk evaluates ≤ 1 + nswHops·nswM distances per probed cell —
    // a constant — vs the probed cells' full occupancy here)
    val exact = q.join(cells, Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("d", sqDistF($"q_emb", $"embedding"))
      .groupBy($"query_id")
      .agg(min(struct($"d", $"vec_id")).as("b"),
        count(lit(1)).as("n_exact"))
      .select($"query_id", $"b.vec_id".as("exact_id"), $"n_exact")
    found.join(exact, Seq("query_id"))
      .select($"query_id", $"found_id", $"found_d",
        ($"found_id" === $"exact_id").cast("int").as("hit"), $"n_exact")
      .orderBy($"query_id")
  }

  /** SQ8 quantization levels (codes 0..255 — the classic one-byte
    * scalar quantizer). */
  val sqLevels = 255

  /** Shared per-dimension SQ8 code expression over columns (v, mn, mx)
    * — interpolated into BOTH engines. Degenerate dimensions
    * (mx = mn) code to 0; the top of the range clamps to
    * [[sqLevels]]. */
  private val sqCodeSql =
    s"""(CASE WHEN CAST(mx AS DOUBLE) = CAST(mn AS DOUBLE)
        THEN CAST(0 AS BIGINT)
        ELSE CAST(least(floor((CAST(v AS DOUBLE) - CAST(mn AS DOUBLE))
          / ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) / $sqLevels.0)),
          $sqLevels.0) AS BIGINT) END)"""

  /** D263: SQ8 scalar-quantization ANN — the third classic index
    * compression next to PQ (s7) and IVF (s6): each dimension is
    * independently quantized to one byte against its corpus min/max,
    * candidate ranking is the EXACT integer squared distance in code
    * space (symmetric SQ distance), and only the [[pqShortlist]]
    * survivors are re-read as floats for the exact cosine re-rank
    * (s7's readout contract). SQ8 is what production stores default
    * to when recall matters more than PQ's 32× compression — 4× is
    * free and nearly lossless.
    *
    * Determinism: per-dim min/max are exact float order statistics;
    * the code is ONE shared IEEE expression ([[sqCodeSql]]); code
    * distances are exact integers, so the shortlist — ordered by
    * (distance, neighbor_id) — is engine-independent; the re-rank
    * reuses the s1 ascending-fold cosine.
    *
    * Scale shape: the stats census reduces to DIM rows; codes ride a
    * broadcast equi-join on the dim index; the corpus-wide candidate
    * scan carries integer codes only (the s7 ADC cost argument), with
    * the salted two-phase top-k so no single reducer sees the corpus;
    * float vectors are re-read for ≤ shortlist·|Q| rows. */
  def s26KnnSq8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val ex = emb.select($"vec_id", posexplode($"embedding").as(Seq("i", "v")))
    val stats = ex.groupBy($"i").agg(min($"v").as("mn"), max($"v").as("mx"))
    val codes = ex.join(broadcast(stats), "i")
      .select($"vec_id".as("neighbor_id"), $"i", expr(sqCodeSql).as("code"))
      .scopedPersist()
    val qCodes = codes.filter($"neighbor_id" < 5)
      .select($"neighbor_id".as("query_id"), $"i", $"code".as("qcode"))
    val dists = codes.join(broadcast(qCodes), "i")
      .filter($"neighbor_id" =!= $"query_id")
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum(($"qcode" - $"code") * ($"qcode" - $"code")).as("d"))
      .withColumn("salt", pmod(crc32($"neighbor_id".cast("string")), lit(32)))
    val wLocal = Window.partitionBy($"query_id", $"salt")
      .orderBy($"d".asc, $"neighbor_id")
    val wAll = Window.partitionBy($"query_id").orderBy($"d".asc, $"neighbor_id")
    val shortlist = dists
      .withColumn("rk_local", row_number().over(wLocal))
      .filter($"rk_local" <= pqShortlist)
      .withColumn("rk_sq", row_number().over(wAll))
      .filter($"rk_sq" <= pqShortlist)
      .select($"query_id", $"neighbor_id")
    val qEmb = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    shortlist
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"), "neighbor_id")
      .join(broadcast(qEmb), "query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  /** Shared per-dimension binary-quantization threshold over columns
    * (mn, mx): the midrange — from exact float order statistics, so
    * both engines derive the identical double. */
  private val bqThrSql =
    "((CAST(mn AS DOUBLE) + CAST(mx AS DOUBLE)) / 2.0)"

  /** D269: binary (1-bit) quantization ANN — the 32× compression end
    * of the quantizer family (PQ 8×, SQ8 4×): each dimension collapses
    * to sign-vs-midrange, a 64-dim vector packs into two 32-bit code
    * words, candidate ranking is the EXACT integer Hamming distance
    * (XOR + popcount — the cheapest distance that exists), and the
    * [[pqShortlist]] survivors get the exact cosine re-rank (the s7
    * readout contract). Binary codes are what a memory-tight first
    * pass uses when even SQ8 is too big — recall is bought back by the
    * wide shortlist + re-rank.
    *
    * Determinism: per-dim min/max are exact float order statistics;
    * the midrange threshold is one shared IEEE expression
    * ([[bqThrSql]]); bits, packed code words (two non-negative ≤ 2³²
    * sums — never touching the sign bit, so neither engine's overflow
    * semantics is in play), and Hamming distances are exact integers;
    * the re-rank reuses the s1 ascending-fold cosine.
    *
    * Scale shape: the stats census reduces to DIM rows; packing is a
    * broadcast equi-join + one partial-aggregated groupBy; the corpus
    * candidate scan carries TWO LONGS per row against a ≤|Q|-row
    * broadcast (the s1 bounded-query-set shape) with the salted
    * two-phase top-k; floats re-read for ≤ shortlist·|Q| rows. */
  def s27KnnBinary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val ex = emb.select($"vec_id", posexplode($"embedding").as(Seq("i", "v")))
    val stats = ex.groupBy($"i").agg(min($"v").as("mn"), max($"v").as("mx"))
    val codes = ex.join(broadcast(stats), "i")
      .select($"vec_id",
        when(expr(s"CAST(v AS DOUBLE) > $bqThrSql"), 1L).otherwise(0L)
          .as("bit"),
        $"i")
      .groupBy($"vec_id")
      .agg(
        sum(when($"bit" === 1L && $"i" < 32,
          expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(0L)).as("lo"),
        sum(when($"bit" === 1L && $"i" >= 32,
          expr("shiftleft(CAST(1 AS BIGINT), i - 32)")).otherwise(0L))
          .as("hi"))
      .scopedPersist()
    val qCodes = codes.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"lo".as("qlo"), $"hi".as("qhi"))
    val dists = codes.select($"vec_id".as("neighbor_id"), $"lo", $"hi")
      .crossJoin(broadcast(qCodes))
      .filter($"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id",
        expr("CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT)")
          .as("d"))
      .withColumn("salt", pmod(crc32($"neighbor_id".cast("string")), lit(32)))
    val wLocal = Window.partitionBy($"query_id", $"salt")
      .orderBy($"d".asc, $"neighbor_id")
    val wAll = Window.partitionBy($"query_id").orderBy($"d".asc, $"neighbor_id")
    val shortlist = dists
      .withColumn("rk_local", row_number().over(wLocal))
      .filter($"rk_local" <= pqShortlist)
      .withColumn("rk_bq", row_number().over(wAll))
      .filter($"rk_bq" <= pqShortlist)
      .select($"query_id", $"neighbor_id")
    val qEmb = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    shortlist
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"), "neighbor_id")
      .join(broadcast(qEmb), "query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"rk", $"neighbor_id", round($"cos", 4).as("cos_sim"))
      .orderBy($"query_id", $"rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s27_knn_binary" -> s27KnnBinary,
    "s26_knn_sq8" -> s26KnnSq8,
    "s13_triplet_mining" -> s13TripletMining,
    "s14_kcenter_sample" -> s14KcenterSample,
    "s9_mmr_rerank" -> s9MmrRerank,
    "s1_knn_brute" -> s1KnnBrute,
    "s2_knn_lsh" -> s2KnnLsh,
    "s10_range_search" -> s10RangeSearch,
    "s11_recall_eval" -> s11RecallEval,
    "s3_neardup_pairs" -> s3NearDupPairs,
    "d9_embedding_neardup" -> d9EmbeddingNearDup,
    "s4_centroids" -> s4Centroids,
    "s12_centroid_drift" -> s12CentroidDrift,
    "s5_quantize" -> s5Quantize,
    "s6_knn_ivf" -> s6KnnIvf,
    "s7_knn_pq" -> s7KnnPq,
    "s15_knn_ivfpq" -> s15KnnIvfPq,
    "s16_ivf_stats" -> s16IvfStats,
    "s17_pq_distortion" -> s17PqDistortion,
    "s18_index_leaderboard" -> s18IndexLeaderboard,
    "s19_rank_fusion" -> s19RankFusion,
    "s20_filtered_knn" -> s20FilteredKnn,
    "s21_incremental_index" -> s21IncrementalIndex,
    "s22_index_ingest" -> s22IndexIngest,
    "s23_nprobe_sweep" -> s23NprobeSweep,
    "s24_codebook_stability" -> s24CodebookStability,
    "s25_nsw_ivf" -> s25NswIvf)

  private val cosSql =
    """list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""

  /** DuckDB replay of [[s2KnnLsh]]: the plane constants print via
    * Double.toString (shortest round-tripping decimal), so DuckDB
    * parses back the identical doubles; list_inner_product widens
    * float→double and sums ascending exactly like the codegen'd
    * expression, so bucket ids — sign comparisons on identical doubles
    * — match bit-for-bit (the same argument that makes s1 hash-exact). */
  /** The shared `b`/`k` CTEs: every vector exploded to its
    * (tbl, bucket) LSH keys, plane constants interpolated. Prefix for
    * both [[s2OracleSql]] and [[d9OracleSql]]. */
  private def lshKeyedCte: String = {
    val planes = planesTensor(64)
    def bucketExpr(t: Int) = (0 until lshPlanes).map { p =>
      val arr = planes(t)(p).mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(embedding::DOUBLE[], $arr::DOUBLE[]) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until lshTables)
      .map(t => s"${bucketExpr(t)} AS b$t").mkString(", ")
    val bucketCase = s"CASE tbl ${(0 until lshTables)
      .map(t => s"WHEN $t THEN b$t").mkString(" ")} END"
    s"""b AS (SELECT vec_id, $bucketCols FROM embeddings),
        k AS (SELECT vec_id, tbl, $bucketCase AS bucket
              FROM b CROSS JOIN (SELECT unnest([${(0 until lshTables).mkString(", ")}]) AS tbl) t)"""
  }

  private def s2OracleSql: String = {
    s"""WITH $lshKeyedCte,
        pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                  FROM k q JOIN k c ON q.tbl = c.tbl AND q.bucket = c.bucket
                  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        scored AS (SELECT p.query_id, p.neighbor_id, $cosSql AS cos
                   FROM pairs p JOIN embeddings a ON a.vec_id = p.query_id
                                JOIN embeddings b ON b.vec_id = p.neighbor_id),
        r AS (SELECT query_id, neighbor_id, cos,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
        SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
          round(cos, 4) AS cos_sim
        FROM r WHERE rk <= 5 ORDER BY query_id, rk"""
  }

  /** d9's `kv`/`b`/`k` CTEs: the corpus-derived plane count replayed
    * as an exact integer CASE chain (the d14 semK precedent), and the
    * bucket expression carrying the FULL [[d9MaxPlanes]]-plane
    * interpolated tensor with each bit gated on `p < np` — so one
    * static SQL string replays [[d9Planes]]'s refinement at any corpus
    * size. */
  private def d9KeyedCte: String = {
    val planes = planesTensor(64, d9MaxPlanes)
    def bucketExpr(t: Int) = (0 until d9MaxPlanes).map { p =>
      val arr = planes(t)(p).mkString("[", ", ", "]")
      s"""(CASE WHEN $p < (SELECT np FROM kv) AND
            list_inner_product(embedding::DOUBLE[], $arr::DOUBLE[]) >= 0
            THEN ${1 << p} ELSE 0 END)"""
    }.mkString(" + ")
    val kvCase = (lshPlanes until d9MaxPlanes).map(p =>
      s"WHEN count(*) <= ${d9TargetBucket << p} THEN $p").mkString(" ")
    val bucketCols = (0 until lshTables)
      .map(t => s"${bucketExpr(t)} AS b$t").mkString(", ")
    val bucketCase = s"CASE tbl ${(0 until lshTables)
      .map(t => s"WHEN $t THEN b$t").mkString(" ")} END"
    s"""kv AS (SELECT CASE $kvCase ELSE $d9MaxPlanes END AS np
              FROM embeddings),
        b AS (SELECT vec_id, $bucketCols FROM embeddings),
        k AS (SELECT vec_id, tbl, $bucketCase AS bucket
              FROM b CROSS JOIN (SELECT unnest([${(0 until lshTables).mkString(", ")}]) AS tbl) t)"""
  }

  /** DuckDB replay of [[d9EmbeddingNearDup]]: the dynamic-plane
    * [[d9KeyedCte]], plus the bucket-size cap replayed as a census
    * CTE, so the skew-guarded semantics are what the gate pins. */
  private def d9OracleSql: String =
    s"""WITH $d9KeyedCte,
        sz AS (SELECT tbl, bucket FROM k GROUP BY tbl, bucket
               HAVING count(*) <= $maxPairBucket),
        ok AS (SELECT k.* FROM k JOIN sz USING (tbl, bucket)),
        pairs AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                  FROM ok x JOIN ok y
                    ON x.tbl = y.tbl AND x.bucket = y.bucket
                   AND x.vec_id < y.vec_id),
        scored AS (SELECT id_a, id_b, round($cosSql, 4) AS cos_sim
                   FROM pairs p JOIN embeddings a ON a.vec_id = p.id_a
                                JOIN embeddings b ON b.vec_id = p.id_b)
        SELECT id_a, id_b, cos_sim FROM scored
        WHERE cos_sim >= 0.35 ORDER BY id_a, id_b"""

  /** DuckDB replay of [[s9MmrRerank]]: pool, pairwise sims, then the
    * [[mmrK]]−1 greedy supersteps as chained CTEs (the p8 Lloyd
    * pattern); λ and 1−λ interpolated via Double.toString. */
  private val s9OracleSql: String = {
    def cos(a: String, b: String) =
      s"""list_inner_product($a, $b) /
         (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"""
    val lam = mmrLambda.toString
    val oneMinus = (1.0 - mmrLambda).toString
    val steps = (2 to mmrK).map { k =>
      s"""m$k AS (SELECT c.query_id, c.cid, c.rel, max(cs.sim) AS ms
            FROM cand c
            JOIN csim cs ON cs.query_id = c.query_id AND cs.cid_a = c.cid
            JOIN sel${k - 1} s ON s.query_id = cs.query_id
                              AND s.cid = cs.cid_b
            WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
                              WHERE x.query_id = c.query_id
                                AND x.cid = c.cid)
            GROUP BY c.query_id, c.cid, c.rel),
          p$k AS (SELECT query_id, cid, $k AS step, score FROM (
              SELECT query_id, cid,
                round($lam * rel - $oneMinus * ms, 4) AS score,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY round($lam * rel - $oneMinus * ms, 4) DESC,
                    cid) AS r
              FROM m$k) WHERE r = 1),
          sel$k AS (SELECT query_id, cid FROM sel${k - 1}
                    UNION ALL SELECT query_id, cid FROM p$k)"""
    }.mkString(",\n          ")
    val unions =
      (2 to mmrK).map(k => s"UNION ALL SELECT * FROM p$k").mkString(" ")
    s"""WITH q AS (SELECT vec_id AS query_id,
            CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id < 5),
        c0 AS (SELECT q.query_id, b.vec_id AS cid,
            round(${cos("q.e", "b.e")}, 4) AS rel, b.e
          FROM q CROSS JOIN (SELECT vec_id,
              CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b
          WHERE b.vec_id != q.query_id),
        cand AS (SELECT query_id, cid, rel, e FROM (
            SELECT query_id, cid, rel, e,
              row_number() OVER (PARTITION BY query_id
                ORDER BY rel DESC, cid) AS rk
            FROM c0) WHERE rk <= $mmrPool),
        csim AS (SELECT x.query_id, x.cid AS cid_a, y.cid AS cid_b,
            round(${cos("x.e", "y.e")}, 4) AS sim
          FROM cand x JOIN cand y
            ON x.query_id = y.query_id AND x.cid != y.cid),
        p1 AS (SELECT query_id, cid, 1 AS step, rel AS score FROM (
            SELECT query_id, cid, rel,
              row_number() OVER (PARTITION BY query_id
                ORDER BY rel DESC, cid) AS r
            FROM cand) WHERE r = 1),
        sel1 AS (SELECT query_id, cid FROM p1),
        $steps
        SELECT query_id, step, cid AS vec_id, score
        FROM (SELECT * FROM p1 $unions)
        ORDER BY query_id, step"""
  }

  /** Shared replay CTEs for the s6/s7 codebook training: `e` (doubles),
    * `smp` (the hash-ordered bounded training sample with its rank).
    * Every arithmetic shape below is the one already proven bit-exact
    * cross-engine: float→double element cast, ascending
    * `list_inner_product` dots, squared-L2 distance as
    * `list_inner_product(diff, diff)` (≡ the engine's ascending t·t
    * accumulation), and Lloyd means as exact integer sums of
    * `floor(v·2^20)` (the KMeans/d14 discipline — [[lloyd]] quantizes
    * identically, so centroid literals need no interpolation at all:
    * the whole trainer replays in SQL). */
  private[operators] def trainBaseCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
        smp AS (SELECT rn, e FROM (
            SELECT e, row_number() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM e) WHERE rn <= $ivfTrainSize)"""

  /** Squared-L2 distance SQL between DOUBLE[] expressions over `dim`
    * dims — the diff vector is a lateral column alias so it is written
    * once; `list_inner_product(dv, dv)` sums t·t ascending exactly like
    * the engine loops. Emits "(SELECT-list fragment, dist alias)". */
  private def sqDistCols(a: String, b: String, dim: Int): String =
    s"""list_transform(generate_series(1, $dim), j -> $a[j] - $b[j]) AS dv,
        list_inner_product(dv, dv) AS dist"""

  /** DuckDB replay of [[s6KnnIvf]] — the full pipeline in SQL: the
    * bounded hash-ordered sample, 2 quantized Lloyd rounds over 16
    * cells, corpus cell assignment, 4-cell query probes, exact cosine
    * rank inside the probed cells. */
  /** The IVF side of the s6/s15 replays: quantized Lloyd chain
    * (c0..c{iters}), corpus `cells`, query `probes`. */
  private[operators] def ivfOracleCtes(k: Int, iters: Int, nprobe: Int,
      dim: Int, pfx: String = "", smpCte: String = "smp"): String = {
    val qs = graft.operators.KMeans.qScale
    val iterCtes = (1 to iters).map { i =>
      s"""${pfx}a$i AS (SELECT rn, e, cid FROM (
            SELECT rn, e, cid, row_number() OVER (
                PARTITION BY rn ORDER BY dist, cid) AS rk
            FROM (SELECT s.rn, s.e, c.cid,
                ${sqDistCols("s.e", "c.c", dim)}
              FROM $smpCte s CROSS JOIN ${pfx}c${i - 1} c)) WHERE rk = 1),
          ${pfx}s$i AS (SELECT cid, j AS pos,
              sum(CAST(floor(e[j] * $qs) AS BIGINT)) AS s,
              CAST(count(*) AS BIGINT) AS n
            FROM ${pfx}a$i CROSS JOIN
              (SELECT unnest(generate_series(1, $dim)) AS j)
            GROUP BY cid, j),
          ${pfx}c$i AS (SELECT p.cid, coalesce(u.c, p.c) AS c
            FROM ${pfx}c${i - 1} p LEFT JOIN (
              SELECT cid,
                list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / $qs
                     ORDER BY pos) AS c
              FROM ${pfx}s$i GROUP BY cid) u ON u.cid = p.cid)"""
    }.mkString(",\n          ")
    s"""${pfx}c0 AS (SELECT CAST(rn - 1 AS INT) AS cid, e AS c
            FROM $smpCte WHERE rn <= $k),
          $iterCtes,
          ${pfx}cells AS (SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rk
            FROM (SELECT v.vec_id, c.cid,
                ${sqDistCols("v.e", "c.c", dim)}
              FROM e v CROSS JOIN ${pfx}c$iters c)) WHERE rk = 1),
          ${pfx}probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
            SELECT vec_id, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rk
            FROM (SELECT v.vec_id, c.cid,
                ${sqDistCols("v.e", "c.c", dim)}
              FROM e v CROSS JOIN ${pfx}c$iters c
              WHERE v.vec_id < 5)) WHERE rk <= $nprobe)"""
  }

  /** The shared top-5 exact-cosine re-rank tail of the s6/s7/s15
    * replays, over a `(query_id, neighbor_id)` candidate CTE. */
  private def rerankTailSql(candCte: String): String =
    s"""scored AS (SELECT s.query_id, s.neighbor_id, $cosSql AS cos
            FROM $candCte s
            JOIN embeddings a ON a.vec_id = s.query_id
            JOIN embeddings b ON b.vec_id = s.neighbor_id),
          r AS (SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rk
            FROM scored)
          SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
            round(cos, 4) AS cos_sim
          FROM r WHERE rk <= 5 ORDER BY query_id, rk"""

  /** DuckDB replay of [[s25NswIvf]]: the s6 cells/probes chain, a
    * within-cell kNN adjacency CTE, then the greedy walk unrolled as
    * [[nswHops]] fixed CTE supersteps (candidate → per-walker best →
    * conditional move), ending in the cross-cell best + the exact
    * probed-cell top-1 recall flag. */
  private def s25OracleSql: String = {
    val hopCtes = (1 to nswHops).map { i =>
      s"""cd$i AS MATERIALIZED (SELECT query_id, cell, nbr_id, dist FROM (
            SELECT s.query_id, s.cell, a.nbr_id,
              ${sqDistCols("q.e", "b.e", 64)}
            FROM st${i - 1} s
            JOIN adj a ON a.node_id = s.cur_id
            JOIN e q ON q.vec_id = s.query_id
            JOIN e b ON b.vec_id = a.nbr_id
            WHERE a.nbr_id <> s.query_id)),
          bt$i AS MATERIALIZED (SELECT query_id, cell, nbr_id, dist FROM (
            SELECT query_id, cell, nbr_id, dist, row_number() OVER (
                PARTITION BY query_id, cell ORDER BY dist, nbr_id) AS rk
            FROM cd$i) WHERE rk = 1),
          st$i AS MATERIALIZED (SELECT s.query_id, s.cell,
              CASE WHEN b.dist < s.cur_d THEN b.nbr_id
                   ELSE s.cur_id END AS cur_id,
              CASE WHEN b.dist < s.cur_d THEN b.dist
                   ELSE s.cur_d END AS cur_d
            FROM st${i - 1} s LEFT JOIN bt$i b
              ON b.query_id = s.query_id AND b.cell = s.cell)"""
    }.mkString(",\n          ")
    s"""WITH $trainBaseCtes,
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = nswProbes, dim = 64)},
          apr AS MATERIALIZED (SELECT node_id, nbr_id, dist FROM (
            SELECT ca.vec_id AS node_id, cb.vec_id AS nbr_id,
              ${sqDistCols("ea.e", "eb.e", 64)}
            FROM cells ca
            JOIN cells cb ON cb.cell = ca.cell AND cb.vec_id <> ca.vec_id
            JOIN e ea ON ea.vec_id = ca.vec_id
            JOIN e eb ON eb.vec_id = cb.vec_id)),
          adj AS MATERIALIZED (SELECT node_id, nbr_id FROM (
            SELECT node_id, nbr_id, row_number() OVER (
                PARTITION BY node_id ORDER BY dist, nbr_id) AS rk
            FROM apr) WHERE rk <= $nswM),
          ent AS MATERIALIZED (SELECT p.query_id, p.cell, min(c.vec_id) AS cur_id
            FROM probes p JOIN cells c ON c.cell = p.cell
              AND c.vec_id <> p.query_id
            GROUP BY p.query_id, p.cell),
          st0 AS MATERIALIZED (SELECT query_id, cell, cur_id, dist AS cur_d FROM (
            SELECT en.query_id, en.cell, en.cur_id,
              ${sqDistCols("q.e", "c.e", 64)}
            FROM ent en
            JOIN e q ON q.vec_id = en.query_id
            JOIN e c ON c.vec_id = en.cur_id)),
          $hopCtes,
          fin AS MATERIALIZED (SELECT query_id, cur_id AS found_id, cur_d FROM (
            SELECT query_id, cur_id, cur_d, row_number() OVER (
                PARTITION BY query_id ORDER BY cur_d, cur_id) AS rk
            FROM st$nswHops) WHERE rk = 1),
          exd AS MATERIALIZED (SELECT query_id, vec_id, dist FROM (
            SELECT p.query_id, c.vec_id,
              ${sqDistCols("q.e", "b.e", 64)}
            FROM probes p
            JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
            JOIN e q ON q.vec_id = p.query_id
            JOIN e b ON b.vec_id = c.vec_id)),
          ex AS MATERIALIZED (SELECT query_id, vec_id AS exact_id, n_exact FROM (
            SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, vec_id) AS rk,
              count(*) OVER (PARTITION BY query_id) AS n_exact
            FROM exd) WHERE rk = 1)
        SELECT f.query_id, f.found_id, round(f.cur_d, 4) AS found_d,
          CAST(CASE WHEN f.found_id = x.exact_id THEN 1 ELSE 0 END AS INT)
            AS hit,
          CAST(x.n_exact AS BIGINT) AS n_exact
        FROM fin f JOIN ex x ON x.query_id = f.query_id
        ORDER BY f.query_id"""
  }

  private def s6OracleSql: String =
    s"""WITH $trainBaseCtes,
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = 4, dim = 64)},
          cand AS (SELECT p.query_id, cl.vec_id AS neighbor_id
            FROM probes p
            JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id),
          ${rerankTailSql("cand")}"""

  /** DuckDB replay of [[s20FilteredKnn]] — s6's cells/probes chain
    * with the label equi-predicate inside the candidate CTE. */
  private def s20OracleSql: String =
    s"""WITH $trainBaseCtes,
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = filteredProbes, dim = 64)},
          cand AS (SELECT p.query_id, cl.vec_id AS neighbor_id
            FROM probes p
            JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id
            JOIN embeddings qe ON qe.vec_id = p.query_id
            JOIN embeddings ne ON ne.vec_id = cl.vec_id
            WHERE ne.label = qe.label),
          ${rerankTailSql("cand")}"""

  /** DuckDB replay of [[s7KnnPq]] — sample → L2 normalize → 8
    * per-subspace quantized Lloyd chains (subspace id `m` rides as a
    * grouping key, so all 8 codebooks train in ONE chain of CTEs) →
    * corpus codes → per-query ADC tables → ordered-list ADC sum (the
    * engine's ascending-m fold) → top-[[pqShortlist]] shortlist →
    * exact cosine re-rank. */
  /** The PQ side of the s7/s15 replays: normalized sample, subspace
    * slices, 8 quantized Lloyd chains (subspace id `m` as a grouping
    * key), corpus `codes`, per-query ADC tables `qd`. */
  private def pqOracleCtes: String = {
    val sub = 64 / pqSubspaces
    val qs = graft.operators.KMeans.qScale
    val iterCtes = (1 to pqIters).map { i =>
      s"""pa$i AS (SELECT m, rn, v, cid FROM (
            SELECT m, rn, v, cid, row_number() OVER (
                PARTITION BY m, rn ORDER BY dist, cid) AS rk
            FROM (SELECT s.m, s.rn, s.v, c.cid,
                ${sqDistCols("s.v", "c.c", sub)}
              FROM sl s JOIN pc${i - 1} c ON c.m = s.m)) WHERE rk = 1),
          ps$i AS (SELECT m, cid, j AS pos,
              sum(CAST(floor(v[j] * $qs) AS BIGINT)) AS s,
              CAST(count(*) AS BIGINT) AS n
            FROM pa$i CROSS JOIN
              (SELECT unnest(generate_series(1, $sub)) AS j)
            GROUP BY m, cid, j),
          pc$i AS (SELECT p.m, p.cid, coalesce(u.c, p.c) AS c
            FROM pc${i - 1} p LEFT JOIN (
              SELECT m, cid,
                list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / $qs
                     ORDER BY pos) AS c
              FROM ps$i GROUP BY m, cid) u
              ON u.m = p.m AND u.cid = p.cid)"""
    }.mkString(",\n          ")
    s"""nsmp AS (SELECT rn,
              CASE WHEN nrm = 0 THEN e
                   ELSE list_transform(e, x -> x / nrm) END AS e
            FROM (SELECT rn, e, sqrt(list_inner_product(e, e)) AS nrm
                  FROM smp)),
          sl AS (SELECT rn, m, e[(m * $sub + 1):(m * $sub + $sub)] AS v
            FROM nsmp CROSS JOIN
              (SELECT unnest(generate_series(0, ${pqSubspaces - 1})) AS m)),
          pc0 AS (SELECT m, CAST(rn - 1 AS INT) AS cid, v AS c
            FROM sl WHERE rn <= $pqCodebookSize),
          $iterCtes,
          ne AS (SELECT vec_id,
              CASE WHEN nrm = 0 THEN e
                   ELSE list_transform(e, x -> x / nrm) END AS e
            FROM (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
                  FROM e)),
          ces AS (SELECT vec_id, m, e[(m * $sub + 1):(m * $sub + $sub)] AS v
            FROM ne CROSS JOIN
              (SELECT unnest(generate_series(0, ${pqSubspaces - 1})) AS m)),
          codes AS (SELECT vec_id, m, cid AS code FROM (
            SELECT vec_id, m, cid, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY dist, cid) AS rk
            FROM (SELECT s.vec_id, s.m, c.cid,
                ${sqDistCols("s.v", "c.c", sub)}
              FROM ces s JOIN pc$pqIters c ON c.m = s.m)) WHERE rk = 1),
          qd AS (SELECT query_id, m, cid AS code,
              list_inner_product(dv, dv) AS dist FROM (
            SELECT s.vec_id AS query_id, s.m, c.cid,
              list_transform(generate_series(1, $sub),
                j -> s.v[j] - c.c[j]) AS dv
            FROM ces s JOIN pc$pqIters c ON c.m = s.m
            WHERE s.vec_id < 5))"""
  }

  private def s7OracleSql: String =
    s"""WITH $trainBaseCtes,
          $pqOracleCtes,
          adc AS (SELECT d.query_id, cd.vec_id AS neighbor_id,
              list_sum(list(d.dist ORDER BY d.m)) AS adc
            FROM codes cd
            JOIN qd d ON d.m = cd.m AND d.code = cd.code
            WHERE cd.vec_id <> d.query_id
            GROUP BY d.query_id, cd.vec_id),
          short AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk
            FROM adc) WHERE rk <= $pqShortlist),
          ${rerankTailSql("short")}"""

  /** DuckDB replay of [[s15KnnIvfPq]]: the IVF fragments restrict the
    * ADC scan to probed-cell members; everything else is the s6/s7
    * machinery verbatim. */
  private def s15OracleSql: String =
    s"""WITH $trainBaseCtes,
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = 4, dim = 64)},
          $pqOracleCtes,
          cand AS (SELECT p.query_id, cl.vec_id AS neighbor_id
            FROM probes p
            JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id),
          adc AS (SELECT c.query_id, c.neighbor_id,
              list_sum(list(d.dist ORDER BY d.m)) AS adc
            FROM cand c
            JOIN codes cd ON cd.vec_id = c.neighbor_id
            JOIN qd d ON d.query_id = c.query_id
              AND d.m = cd.m AND d.code = cd.code
            GROUP BY c.query_id, c.neighbor_id),
          short AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk
            FROM adc) WHERE rk <= $pqShortlist),
          ${rerankTailSql("short")}"""

  /** Shared s1 replay (also the exact side of the s11 recall eval). */
  private def s1OracleSql: String =
    s"""WITH scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id != a.vec_id),
        r AS (SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
        SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
          round(cos, 4) AS cos_sim
        FROM r WHERE rk <= 5 ORDER BY query_id, rk"""

  /** One s14 greedy round as chained MATERIALIZED CTEs (the c9
    * idiom): n_r = argmax of the previous min-dist state, d_r = state
    * updated against the new center. */
  private def kcenterRoundSql(r: Int, withState: Boolean): String = {
    val pick =
      s"""n$r AS MATERIALIZED (SELECT vec_id, dist FROM d${r - 1}
            ORDER BY dist DESC, vec_id LIMIT 1)"""
    if (!withState) pick
    else pick + s""",
        d$r AS MATERIALIZED (SELECT a.vec_id, a.embedding,
            least(a.dist, 1.0 - $cosSql) AS dist
          FROM d${r - 1} a CROSS JOIN (SELECT e.embedding FROM embeddings e
            JOIN n$r t ON e.vec_id = t.vec_id) b)"""
  }

  val oracle: Map[String, String] = Map(
    "s27_knn_binary" ->
      s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
          st AS (SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i),
          b0 AS (SELECT e.vec_id, e.i - 1 AS i,
              CASE WHEN CAST(e.v AS DOUBLE) >
                ((CAST(s.mn AS DOUBLE) + CAST(s.mx AS DOUBLE)) / 2.0)
                THEN 1 ELSE 0 END AS bit
            FROM ex e JOIN st s USING (i)),
          cc AS (SELECT vec_id,
              CAST(sum(CASE WHEN bit = 1 AND i < 32
                THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS lo,
              CAST(sum(CASE WHEN bit = 1 AND i >= 32
                THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS hi
            FROM b0 GROUP BY vec_id),
          qc AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
            FROM cc WHERE vec_id < 5),
          d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
              CAST(bit_count(xor(c.lo, q.qlo))
                + bit_count(xor(c.hi, q.qhi)) AS BIGINT) AS d
            FROM cc c CROSS JOIN qc q WHERE c.vec_id <> q.query_id),
          sl AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY d, neighbor_id) AS rk
                  FROM d) WHERE rk <= $pqShortlist),
          scored AS (SELECT s.query_id, s.neighbor_id, $cosSql AS cos
                     FROM sl s JOIN embeddings a ON a.vec_id = s.query_id
                               JOIN embeddings b ON b.vec_id = s.neighbor_id),
          r AS (SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
          SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
            round(cos, 4) AS cos_sim
          FROM r WHERE rk <= 5 ORDER BY query_id, rk""",
    "s26_knn_sq8" ->
      s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
          st AS (SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i),
          c0 AS (SELECT e.vec_id, e.i, e.v, s.mn, s.mx
                 FROM ex e JOIN st s USING (i)),
          cc AS (SELECT vec_id AS neighbor_id, i, $sqCodeSql AS code
                 FROM c0),
          qc AS (SELECT neighbor_id AS query_id, i, code AS qcode
                 FROM cc WHERE neighbor_id < 5),
          d AS (SELECT q.query_id, c.neighbor_id,
                  CAST(sum((q.qcode - c.code) * (q.qcode - c.code))
                    AS BIGINT) AS d
                FROM cc c JOIN qc q ON c.i = q.i
                WHERE c.neighbor_id <> q.query_id
                GROUP BY 1, 2),
          sl AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY d, neighbor_id) AS rk
                  FROM d) WHERE rk <= $pqShortlist),
          scored AS (SELECT s.query_id, s.neighbor_id, $cosSql AS cos
                     FROM sl s JOIN embeddings a ON a.vec_id = s.query_id
                               JOIN embeddings b ON b.vec_id = s.neighbor_id),
          r AS (SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rk FROM scored)
          SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
            round(cos, 4) AS cos_sim
          FROM r WHERE rk <= 5 ORDER BY query_id, rk""",
    "s13_triplet_mining" ->
      s"""WITH sc AS (SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
              (b.label = a.label) AS same, $cosSql AS cos
            FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
            WHERE a.vec_id < $tripletAnchors),
          p AS (SELECT anchor_id, cand_id AS pos_id, cos AS cp,
              row_number() OVER (PARTITION BY anchor_id
                ORDER BY cos ASC, cand_id) AS rn
            FROM sc WHERE same),
          n AS (SELECT anchor_id, cand_id AS neg_id, cos AS cn,
              row_number() OVER (PARTITION BY anchor_id
                ORDER BY cos DESC, cand_id) AS rn
            FROM sc WHERE NOT same)
          SELECT p.anchor_id, p.pos_id, round(p.cp, 4) AS cos_pos,
            n.neg_id, round(n.cn, 4) AS cos_neg,
            round(n.cn - p.cp, 4) AS margin
          FROM p JOIN n ON p.anchor_id = n.anchor_id
          WHERE p.rn = 1 AND n.rn = 1 ORDER BY p.anchor_id""",
    "s14_kcenter_sample" ->
      s"""WITH d1 AS MATERIALIZED (SELECT a.vec_id, a.embedding,
              1.0 - $cosSql AS dist
            FROM embeddings a CROSS JOIN (SELECT embedding FROM embeddings
              WHERE vec_id = (SELECT min(vec_id) FROM embeddings)) b),
          ${(2 to kcenterK)
            .map(r => kcenterRoundSql(r, withState = r < kcenterK))
            .mkString(",\n          ")}
          SELECT * FROM (
            SELECT 1 AS rk, (SELECT min(vec_id) FROM embeddings) AS vec_id,
              CAST(NULL AS DOUBLE) AS sel_dist
            ${(2 to kcenterK).map(r =>
              s"UNION ALL SELECT $r AS rk, vec_id, round(dist, 4) FROM n$r")
              .mkString("\n            ")}
          ) ORDER BY rk""",
    "s10_range_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding
            FROM embeddings WHERE vec_id < 5)
          SELECT b.query_id, b.neighbor_id, round(b.c, 4) AS cos_sim
          FROM (SELECT q.query_id, a.vec_id AS neighbor_id,
                  list_inner_product(a.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
                  (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                   sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) AS c
                FROM embeddings a CROSS JOIN q
                WHERE a.vec_id <> q.query_id) b
          WHERE b.c >= $rangeTau
          ORDER BY b.query_id, b.neighbor_id""",
    "s9_mmr_rerank" -> s9OracleSql,
    "s2_knn_lsh" -> s2OracleSql,
    "s6_knn_ivf" -> s6OracleSql,
    "s25_nsw_ivf" -> s25OracleSql,
    "s20_filtered_knn" -> s20OracleSql,
    "s7_knn_pq" -> s7OracleSql,
    "s15_knn_ivfpq" -> s15OracleSql,
    "s16_ivf_stats" ->
      s"""WITH $trainBaseCtes,
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = 4, dim = 64)},
          cc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
                 FROM cells GROUP BY 1),
          tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n,
              sum(CAST(n_vecs AS HUGEINT) * n_vecs) AS ss,
              CAST(count(*) AS BIGINT) AS k
            FROM cc)
          SELECT cc.cell AS cell_id, cc.n_vecs,
            round(CAST(cc.n_vecs AS DOUBLE) / CAST(tot.n AS DOUBLE), 4)
              AS frac,
            round(CAST(tot.k AS DOUBLE) * CAST(tot.ss AS DOUBLE)
              / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)), 4)
              AS imbalance
          FROM cc CROSS JOIN tot ORDER BY cell_id""",
    "s21_incremental_index" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
          smp AS (SELECT rn, e FROM (
              SELECT e, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM e WHERE vec_id % $ingestMod <> 0)
            WHERE rn <= $ivfTrainSize),
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = 4, dim = 64)},
          cen AS (SELECT cell AS cell_id,
              CAST(count(*) FILTER (vec_id % $ingestMod <> 0) AS BIGINT)
                AS n_old,
              CAST(count(*) FILTER (vec_id % $ingestMod = 0) AS BIGINT)
                AS n_new
            FROM cells GROUP BY 1),
          tot AS (SELECT CAST(sum(n_old) AS BIGINT) AS to_,
              CAST(sum(n_new) AS BIGINT) AS tn
            FROM cen)
          SELECT cell_id, n_old, n_new,
            round($s21Frac, 4) AS new_frac,
            round($s21Frac - $s21Share, 4) AS drift
          FROM cen CROSS JOIN tot ORDER BY cell_id""",
    "s22_index_ingest" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
          smp AS (SELECT rn, e FROM (
              SELECT e, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM e WHERE vec_id % $ingestMod <> 0)
            WHERE rn <= $ivfTrainSize),
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = 4, dim = 64)},
          oldc AS (SELECT cell AS cell_id, CAST(count(*) AS BIGINT) AS n_old
                   FROM cells WHERE vec_id % $ingestMod <> 0 GROUP BY 1),
          adds AS (SELECT (vec_id // $ingestMod) % $numIngestBatches
                AS batch_id, cell AS cell_id,
              CAST(count(*) AS BIGINT) AS n_added
            FROM cells WHERE vec_id % $ingestMod = 0 GROUP BY 1, 2),
          grid AS (SELECT b.batch_id, c.cell_id
            FROM (SELECT DISTINCT cell AS cell_id FROM cells) c
            CROSS JOIN (SELECT unnest(generate_series(0,
                ${numIngestBatches - 1})) AS batch_id) b),
          g AS (SELECT grid.batch_id, grid.cell_id,
              coalesce(adds.n_added, 0) AS n_added,
              coalesce(oldc.n_old, 0) AS n_old
            FROM grid
            LEFT JOIN adds ON adds.batch_id = grid.batch_id
                          AND adds.cell_id = grid.cell_id
            LEFT JOIN oldc ON oldc.cell_id = grid.cell_id),
          g2 AS (SELECT *, sum(n_added) OVER (PARTITION BY cell_id
                ORDER BY batch_id) AS cum_new
            FROM g),
          bt AS (SELECT batch_id, sum(sum(n_added)) OVER
                (ORDER BY batch_id) AS cum_tot
            FROM g GROUP BY batch_id),
          toto AS (SELECT CAST(sum(n_old) AS BIGINT) AS tot_old FROM oldc)
          SELECT g2.batch_id, g2.cell_id,
            CAST(g2.n_added AS BIGINT) AS n_added,
            CAST(g2.cum_new AS BIGINT) AS cum_new,
            round(CAST(g2.n_old + g2.cum_new AS DOUBLE)
              / CAST(toto.tot_old + bt.cum_tot AS DOUBLE), 4) AS occ_share
          FROM g2 JOIN bt USING (batch_id) CROSS JOIN toto
          ORDER BY g2.batch_id, g2.cell_id""",
    "s23_nprobe_sweep" ->
      s"""WITH $trainBaseCtes,
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = sweepProbes.max,
            dim = 64)},
          pr AS (SELECT vec_id AS query_id, cid AS cell, rk FROM (
              SELECT vec_id, cid, row_number() OVER (
                  PARTITION BY vec_id ORDER BY dist, cid) AS rk
              FROM (SELECT v.vec_id, c.cid,
                  ${sqDistCols("v.e", "c.c", 64)}
                FROM e v CROSS JOIN c2 c
                WHERE v.vec_id < 5)) WHERE rk <= ${sweepProbes.max}),
          cand AS (SELECT p.query_id, cl.vec_id AS neighbor_id, p.rk
            FROM pr p
            JOIN cells cl ON cl.cell = p.cell
                         AND cl.vec_id <> p.query_id),
          sc AS (SELECT s.query_id, s.neighbor_id, s.rk, $cosSql AS cos
            FROM cand s
            JOIN embeddings a ON a.vec_id = s.query_id
            JOIN embeddings b ON b.vec_id = s.neighbor_id),
          brute AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              $cosSql AS cos
            FROM embeddings a JOIN embeddings b
              ON a.vec_id < 5 AND b.vec_id != a.vec_id),
          truth AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
                AS rk FROM brute) WHERE rk <= 5),
          pp AS (SELECT unnest([${sweepProbes.mkString(", ")}]) AS np),
          top5 AS (SELECT np, query_id, neighbor_id FROM (
              SELECT pp.np, s.query_id, s.neighbor_id,
                row_number() OVER (PARTITION BY pp.np, s.query_id
                  ORDER BY s.cos DESC, s.neighbor_id) AS rk2
              FROM sc s JOIN pp ON s.rk <= pp.np) WHERE rk2 <= 5),
          cc AS (SELECT pp.np, CAST(count(*) AS BIGINT) AS n_cands
            FROM sc s JOIN pp ON s.rk <= pp.np GROUP BY pp.np),
          rec AS (SELECT t.np, CAST(count(tr.neighbor_id) AS BIGINT)
                AS hits
            FROM top5 t LEFT JOIN truth tr
              ON tr.query_id = t.query_id
             AND tr.neighbor_id = t.neighbor_id
            GROUP BY t.np)
          SELECT CAST(cc.np AS BIGINT) AS nprobe, cc.n_cands,
            round(CAST(coalesce(rec.hits, 0) AS DOUBLE) / 25.0, 4)
              AS recall_at_5
          FROM cc LEFT JOIN rec ON rec.np = cc.np ORDER BY nprobe""",
    "s24_codebook_stability" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
          smpo AS (SELECT rn, e FROM (
              SELECT e, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM e WHERE vec_id % $ingestMod <> 0)
            WHERE rn <= $ivfTrainSize),
          smpa AS (SELECT rn, e FROM (
              SELECT e, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM e) WHERE rn <= $ivfTrainSize),
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = 4, dim = 64,
            pfx = "o", smpCte = "smpo")},
          ${ivfOracleCtes(k = 16, iters = 2, nprobe = 4, dim = 64,
            pfx = "r", smpCte = "smpa")},
          x AS (SELECT r.cid AS new_cid, o.cid AS old_cid,
              ${sqDistCols("r.c", "o.c", 64)}
            FROM rc2 r CROSS JOIN oc2 o),
          near AS (SELECT new_cid, old_cid, dist FROM (
              SELECT new_cid, old_cid, dist, row_number() OVER (
                  PARTITION BY new_cid ORDER BY dist, old_cid) AS rk
              FROM x) WHERE rk = 1),
          best AS (SELECT old_cid, new_cid AS best_new FROM (
              SELECT old_cid, new_cid, row_number() OVER (
                  PARTITION BY old_cid ORDER BY dist, new_cid) AS rk
              FROM near) WHERE rk = 1)
          SELECT CAST(n.new_cid AS BIGINT) AS new_cid,
            CAST(n.old_cid AS BIGINT) AS old_cid,
            round(n.dist, 4) AS sq_dist,
            CAST(CASE WHEN b.best_new = n.new_cid THEN 0 ELSE 1 END
              AS BIGINT) AS displaced
          FROM near n JOIN best b ON b.old_cid = n.old_cid
          ORDER BY new_cid""",
    "s17_pq_distortion" -> {
      val sub = 64 / pqSubspaces
      s"""WITH $trainBaseCtes,
          $pqOracleCtes,
          errs AS (SELECT vec_id, m, dist FROM (
            SELECT vec_id, m, cid, dist, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY dist, cid) AS rk
            FROM (SELECT s.vec_id, s.m, c.cid,
                ${sqDistCols("s.v", "c.c", sub)}
              FROM ces s JOIN pc$pqIters c ON c.m = s.m)) WHERE rk = 1),
          g AS (SELECT m, CAST(count(*) AS BIGINT) AS n_vecs,
              sum(CAST(floor(dist * 1000000000.0 + 0.5) AS HUGEINT)) AS s9,
              max(dist) AS mx
            FROM errs GROUP BY m)
          SELECT CAST(m AS INT) AS subspace, n_vecs,
            round(CAST(s9 AS DOUBLE)
              / (CAST(n_vecs AS DOUBLE) * 1000000000.0), 6) AS mse,
            round(mx, 6) AS max_err
          FROM g ORDER BY subspace"""
    },
    "s18_index_leaderboard" ->
      s"""WITH brute AS (SELECT query_id, neighbor_id FROM ($s1OracleSql)),
          ann AS (
            SELECT 'ivf' AS method, query_id, neighbor_id
            FROM ($s6OracleSql)
            UNION ALL SELECT 'ivfpq', query_id, neighbor_id
            FROM ($s15OracleSql)
            UNION ALL SELECT 'lsh', query_id, neighbor_id
            FROM ($s2OracleSql)
            UNION ALL SELECT 'pq', query_id, neighbor_id
            FROM ($s7OracleSql)),
          t AS (SELECT m.method, b.query_id,
              CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM brute b
            CROSS JOIN (VALUES ('ivf'), ('ivfpq'), ('lsh'), ('pq'))
              m(method)
            LEFT JOIN ann a ON a.method = m.method
              AND a.query_id = b.query_id
              AND a.neighbor_id = b.neighbor_id)
          SELECT method, CAST(count(DISTINCT query_id) AS BIGINT)
              AS n_queries,
            round(CAST(sum(hit) AS DOUBLE)
              / (5.0 * CAST(count(DISTINCT query_id) AS DOUBLE)), 4)
              AS mean_recall_at_5
          FROM t GROUP BY method ORDER BY method""",
    "s19_rank_fusion" ->
      s"""WITH lists AS (
            SELECT query_id, neighbor_id, rk FROM ($s2OracleSql)
            UNION ALL
            SELECT query_id, neighbor_id, rk FROM ($s6OracleSql)),
          c AS (SELECT query_id, neighbor_id,
                  CAST($rrfScale // ($rrfK + rk) AS BIGINT) AS micros
                FROM lists),
          f AS (SELECT query_id, neighbor_id,
                  CAST(sum(micros) AS BIGINT) AS rrf_micros,
                  CAST(count(*) AS INT) AS n_lists
                FROM c GROUP BY query_id, neighbor_id),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_micros DESC, neighbor_id) AS fr
                FROM f)
          SELECT query_id, CAST(fr AS INT) AS fused_rank, neighbor_id,
            rrf_micros, n_lists
          FROM r WHERE fr <= 5 ORDER BY query_id, fused_rank""",
    "d9_embedding_neardup" -> d9OracleSql,
    "s1_knn_brute" -> s1OracleSql,
    "s11_recall_eval" ->
      s"""SELECT ex.query_id,
            CAST(count(ann.neighbor_id) AS BIGINT) AS n_hits,
            CAST(count(ann.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
          FROM ($s1OracleSql) ex
          LEFT JOIN ($s2OracleSql) ann
            ON ex.query_id = ann.query_id
            AND ex.neighbor_id = ann.neighbor_id
          GROUP BY ex.query_id ORDER BY ex.query_id""",
    "s3_neardup_pairs" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosSql, 4) AS cos_sim
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
          WHERE round($cosSql, 4) >= 0.35
          ORDER BY id_a, id_b""",
    "s5_quantize" ->
      """WITH s AS (SELECT label,
            list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale,
            embedding::DOUBLE[] AS emb
          FROM embeddings),
          m AS (SELECT label,
            list_sum(list_transform(emb,
              x -> abs(x - least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale)))
              / len(emb) AS mae
          FROM s)
          SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
            round(avg(mae), 6) AS avg_mae, round(max(mae), 6) AS max_mae
          FROM m GROUP BY label ORDER BY label""",
    "s12_centroid_drift" ->
      """WITH e AS (SELECT label, vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) /
              sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS unit
          FROM embeddings),
          c AS (SELECT label, pos, avg(v) AS c FROM (
            SELECT label, unnest(unit) AS v,
              generate_subscripts(unit, 1) - 1 AS pos FROM e) t
            GROUP BY label, pos),
          n AS (SELECT label, sqrt(sum(c * c)) AS nn FROM c GROUP BY label),
          dt AS (SELECT a.label AS label_a, b.label AS label_b,
              sum(a.c * b.c) AS dot
            FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
            GROUP BY 1, 2)
          SELECT d.label_a, d.label_b,
            round(d.dot / (na.nn * nb.nn), 4) AS centroid_cos
          FROM dt d JOIN n na ON d.label_a = na.label
                    JOIN n nb ON d.label_b = nb.label
          ORDER BY d.label_a, d.label_b""",
    "s4_centroids" ->
      """WITH e AS (SELECT label, vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE) /
              sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS unit
          FROM embeddings),
          c AS (SELECT label, pos, avg(v) AS c FROM (
            SELECT label, unnest(unit) AS v,
              generate_subscripts(unit, 1) - 1 AS pos FROM e) t
            GROUP BY label, pos)
          SELECT label, round(sqrt(sum(c * c)), 4) AS centroid_norm,
            CAST(count(*) AS BIGINT) AS dim
          FROM c GROUP BY label ORDER BY label""")
}
