package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist
import graft.sources.Tables

/** D294/D295: REGRESSION trees and GBT — squared-error (variance-
  * reduction) split search over automatically QUANTILE-BINNED features
  * (round-14 verdict ask #8, completing the XGBoost-`hist` story:
  * arXiv:1603.02754 §3.1 trains on quantile-sketch candidate splits,
  * §3.3 on binned histograms). [[fitForestSplits]] is the one level
  * loop of the tree family: the Gini queries in [[Stump]] classify
  * through it, these regress; p25 boosts through the one loop in
  * [[Gbt.fitGbtMulti]].
  *
  * Automatic binning: each feature's bin edges are its EXACT k/B
  * quantiles from [[AdvancedSql.exactPercentiles]] (q38's two-phase
  * histogram+refinement — never buffers the value set), folded into
  * the design as a literal when-chain. Interpolation is bit-identical
  * to DuckDB's `quantile_cont` (the q44 precedent, spec-guarded), so
  * bin membership is deterministic cross-engine.
  *
  * Exactness discipline (the p21/p23 integer-grid rules): the label
  * lives on an integer grid (quantity units for the tree, quantity
  * per-cent for the GBT), so every per-(node, feature, bin) census —
  * count, Σy, Σy² — and every cumulative/complement is an exact Long;
  * the per-candidate SSE criterion is ONE shared IEEE expression
  * interpolated into both engines; GBT leaf values use the shifted
  * nonnegative floor-division with a shift sized to the DECLARED grid
  * bound (so the oracle's constant and the engine's agree by
  * construction, not by data luck).
  *
  * Scale shape: per level/round, ONE routed pass over the data
  * partial-aggregates to a histogram bounded by 2^depth × #features ×
  * #bins (the bins now GUARANTEED small — that is what quantile
  * binning buys over raw value domains), one bounded window pass for
  * the cumulative scan, the node totals and the per-feature argmin,
  * and a ≤ 2^depth × #features-row collect.
  */
object RegTree {

  private def d(x: String) = s"CAST($x AS DOUBLE)"

  /** Split SSE over columns (syyl, syl, nl, syyr, syr2, nr). */
  private[operators] val regSseSql =
    s"""((${d("syyl")} - ${d("syl")} * ${d("syl")} / ${d("nl")})
        + (${d("syyr")} - ${d("syr2")} * ${d("syr2")} / ${d("nr")}))"""

  /** Parent (unsplit) SSE over columns (syyt, syt, n). */
  private[operators] val parentSseSql =
    s"""(${d("syyt")} - ${d("syt")} * ${d("syt")} / ${d("n")})"""

  /** Bin a value column by quantile edges: bin = #edges strictly below
    * the value (a literal when-chain — pure codegen; ties go LEFT,
    * `v <= edge`). */
  private[graft] def quantileBin(c: Column, edges: Seq[Double]): Column = {
    val first = when(c <= lit(edges.head), lit(0L))
    edges.tail.zipWithIndex.foldLeft(first) {
      case (w, (e, i)) => w.when(c <= lit(e), lit(i + 1L))
    }.otherwise(lit(edges.length.toLong))
  }

  /** Round-count-scaled shift for an arbitrary integer label grid:
    * worst-case |F| drift after T ½-rate rounds is
    * < gridBound·(1 + 2·1.5^T) (the [[Gbt.shiftFor]] bound with 1000
    * generalized to the declared grid bound); even, with margin. */
  private[graft] def regShiftFor(gridBound: Long, rounds: Int): Long = {
    val bound = gridBound.toDouble * (1.0 + 2.0 * math.pow(1.5, rounds))
    (math.ceil(bound / 2.0).toLong + 1L) * 2L
  }

  /** The p24/p25 quantile bin layout: price into 8 quantile bins,
    * discount into 4 — two genuinely different quantile geometries
    * (a wide continuous domain vs 11 discrete percentage points, where
    * edges land ON values and the tie-goes-left rule is load-bearing). */
  private[graft] val priceBins = 8
  private[graft] val discBins = 4
  private[graft] val regFeatures = Seq("f0", "f1")

  /** The GBT label grid: quantity in per-cent units, |yg| ≤ 5000
    * (quantity is 1..50 in every TPC-H-shaped fixture — and the fit
    * fails loudly if data ever exceeds the declared bound). */
  private[graft] val regGridBound = 5000L

  private[graft] def quantileEdges(vals: DataFrame, bins: Int,
      width: Double): Seq[Double] =
    AdvancedSql.exactPercentiles(vals,
      (1 until bins).map(_.toDouble / bins), width)

  /** One quantile-edge set per (dir, column, bins) per JVM — the
    * PcaQueries statsCache discipline: exactPercentiles is a
    * deterministic two-pass function of the immutable fixture, and
    * p24/p25/p26 re-derived identical edges (two bounded collects per
    * feature) on every run. Values are a handful of driver doubles. */
  private val edgeCache = graft.SessionCaches
    .scalarCache[(String, String, Int), Seq[Double]]()
  private def cachedEdges(spark: SparkSession, dir: String, colName: String,
      bins: Int, width: Double): Seq[Double] =
    edgeCache.getOrElseUpdate((dir, colName, bins),
      quantileEdges(Tables.lineitem(spark, dir).select(col(colName).as("v")),
        bins, width))

  /** The shared p24/p25 design: quantile-binned (price, discount)
    * features + the integer quantity label, one row per observation
    * (`w` = 1, the weighted-design contract). Edge computation is two
    * bounded exactPercentiles passes (histogram widths sized so bucket
    * occupancy, not the value set, bounds the refinement). */
  private[graft] def regDesign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val pe = cachedEdges(spark, dir, "l_extendedprice", priceBins, 64.0)
    val de = cachedEdges(spark, dir, "l_discount", discBins, 0.01)
    li.select(
      quantileBin($"l_extendedprice", pe).as("f0"),
      quantileBin($"l_discount", de).as("f1"),
      $"l_quantity".cast("long").as("y"), lit(1L).as("w"))
  }

  /** D294 query binding: depth-3 regression tree (variance-reduction
    * splits) predicting quantity from the quantile-binned design —
    * one row per split node with the chosen feature, threshold bin,
    * exact censuses (n, Σy per node and child) and the exact
    * per-mille floor-mean LEAF VALUES each child would predict. The
    * SSE criterion stays a shared-IEEE internal (it picks the argmin
    * row — p22's discipline); the OUTPUT is all exact integers, so
    * the hash never touches large-magnitude double rounding (4-dp
    * rounding of ~1e9-scale doubles is not stable cross-engine the
    * way unit-scale Gini values are). */
  def p24RegTree(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val design = regDesign(spark, dir).scopedPersist()
    val splits = fitForestSplits(design, Seq((lit(true), regFeatures)), 3,
      Variance).head
    splits.map(s => (if (s.node.isEmpty) "root" else s.node,
        s.depth.toLong, s.feature.toLong, s.thresholdBin, s.n, s.pos,
        s.nl, s.nr,
        Math.floorDiv(1000L * s.pl, s.nl),
        Math.floorDiv(1000L * s.pr, s.nr)))
      .toDF("node", "depth", "feature", "threshold_bin", "n_node",
        "sy_node", "n_left", "n_right", "v_left", "v_right")
      .orderBy($"depth", $"node")
  }

  /** D295 query binding: three regression-GBT rounds on the same
    * design (label = quantity per-cent), every output column an exact
    * integer including the chosen feature. */
  def p25RegGbt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val design = regDesign(spark, dir)
      .withColumn("yg", $"y" * 100L).scopedPersist()
    Gbt.fitGbtMulti(design, regFeatures, Gbt.gbtRounds,
        (-regGridBound, regGridBound),
        regShiftFor(regGridBound, Gbt.gbtRounds))._2
      .map(r => (r.round.toLong, r.feature.toLong, r.thresholdBin,
        r.nLeft, r.nRight, r.vLeft, r.vRight, r.sseAfter))
      .toDF("round", "feature", "threshold_bin", "n_left", "n_right",
        "v_left", "v_right", "sse_after")
      .orderBy($"round")
  }

  /** The quantile-edge + binned-design CTEs shared by both oracles:
    * `eq` computes every edge with `quantile_cont` (bit-identical to
    * exactPercentiles — the q44-guarded identity), `rq` bins by the
    * same tie-goes-left CASE chains. */
  private def designCtes: String = {
    val pEdges = (1 until priceBins)
      .map(k => s"quantile_cont(l_extendedprice, ${k.toDouble / priceBins})" +
        s" AS p$k").mkString(", ")
    val dEdges = (1 until discBins)
      .map(k => s"quantile_cont(l_discount, ${k.toDouble / discBins})" +
        s" AS d$k").mkString(", ")
    val pCase = (1 until priceBins)
      .map(k => s"WHEN l_extendedprice <= p$k THEN ${k - 1}")
      .mkString(" ") + s" ELSE ${priceBins - 1}"
    val dCase = (1 until discBins)
      .map(k => s"WHEN l_discount <= d$k THEN ${k - 1}")
      .mkString(" ") + s" ELSE ${discBins - 1}"
    s"""eq AS (SELECT $pEdges, $dEdges FROM lineitem),
        rq AS (SELECT
            CAST(CASE $pCase END AS BIGINT) AS f0,
            CAST(CASE $dCase END AS BIGINT) AS f1,
            CAST(l_quantity AS BIGINT) AS y
          FROM lineitem CROSS JOIN eq)"""
  }

  /** One regression oracle level block off row-level assignment CTE
    * ar<i>: per-(node, feature, bin) (cnt, Σy, Σy²) censuses via
    * UNION ALL, node totals, cumulative scan, shared-IEEE SSE
    * candidates, argmin (sse → feature → bin). */
  private def oracleLevelReg(i: Int, sfx: String = ""): String = {
    val perFeature = regFeatures.zipWithIndex.map { case (f, j) =>
      s"""SELECT node, $j AS feature, $f AS bin,
            CAST(count(*) AS BIGINT) AS cnt,
            CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(y * y) AS BIGINT) AS syy
          FROM ar$i$sfx GROUP BY node, $f"""
    }.mkString("\n          UNION ALL ")
    s"""hr$i$sfx AS ($perFeature),
        tr$i$sfx AS (SELECT node, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS syt,
            CAST(sum(y * y) AS BIGINT) AS syyt FROM ar$i$sfx GROUP BY node),
        cr$i$sfx AS (SELECT node, feature, bin,
            CAST(sum(cnt) OVER (PARTITION BY node, feature ORDER BY bin)
              AS BIGINT) AS nl,
            CAST(sum(sy) OVER (PARTITION BY node, feature ORDER BY bin)
              AS BIGINT) AS syl,
            CAST(sum(syy) OVER (PARTITION BY node, feature ORDER BY bin)
              AS BIGINT) AS syyl
          FROM hr$i$sfx),
        fr$i$sfx AS (SELECT c.node, c.feature, c.bin, c.nl, c.syl, c.syyl,
            t.n - c.nl AS nr, t.syt - c.syl AS syr2,
            t.syyt - c.syyl AS syyr,
            t.n AS n, t.syt AS syt, t.syyt AS syyt
          FROM cr$i$sfx c JOIN tr$i$sfx t USING (node) WHERE c.nl < t.n),
        br$i$sfx AS (SELECT node, feature, bin AS threshold_bin, n, syt,
            nl, nr, (1000 * syl) // nl AS vl, (1000 * syr2) // nr AS vr,
            row_number() OVER (PARTITION BY node
              ORDER BY $regSseSql, feature, bin) AS rk
          FROM fr$i$sfx),
        sr$i$sfx AS (SELECT node, feature, threshold_bin FROM br$i$sfx
          WHERE rk = 1)"""
  }

  private def oracleAssignReg(i: Int, sfx: String = ""): String =
    s"""ar$i$sfx AS (SELECT a.node ||
            CASE WHEN (CASE s.feature WHEN 0 THEN a.f0 ELSE a.f1 END)
                <= s.threshold_bin
              THEN 'L' ELSE 'R' END AS node,
            a.f0, a.f1, a.y
          FROM ar${i - 1}$sfx a JOIN sr${i - 1}$sfx s ON a.node = s.node)"""

  private def oracleBestReg(i: Int): String =
    s"""SELECT CASE WHEN node = '' THEN 'root' ELSE node END AS node,
          CAST($i AS BIGINT) AS depth, CAST(feature AS BIGINT) AS feature,
          threshold_bin, n AS n_node, syt AS sy_node,
          nl AS n_left, nr AS n_right, vl AS v_left, vr AS v_right
        FROM br$i WHERE rk = 1"""

  /** One regression-GBT oracle round block over row-level prediction
    * CTE hq{t-1}: per-row residual, per-(feature, bin) censuses,
    * cumulative scan, shared-IEEE argmin, shifted floor-division leaf
    * math with the DECLARED-grid shift, routed update, exact SSE. */
  private def oracleRoundReg(t: Int): String = {
    val s = regShiftFor(regGridBound, Gbt.gbtRounds)
    val h = s"hq${t - 1}"
    val perFeature = regFeatures.zipWithIndex.map { case (f, j) =>
      s"""SELECT $j AS feature, $f AS bin,
            CAST(count(*) AS BIGINT) AS cnt,
            CAST(sum(rr) AS BIGINT) AS sr,
            CAST(sum(rr * rr) AS BIGINT) AS srr
          FROM gq$t GROUP BY $f"""
    }.mkString("\n          UNION ALL ")
    s"""gq$t AS (SELECT f0, f1, yg, F, yg - F AS rr FROM $h),
        kq$t AS ($perFeature),
        tq$t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
            CAST(sum(sr) AS BIGINT) AS srt,
            CAST(sum(srr) AS BIGINT) AS srrt
          FROM (SELECT cnt, sr, srr FROM kq$t WHERE feature = 0)),
        cq$t AS (SELECT feature, bin,
            CAST(sum(cnt) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS nl,
            CAST(sum(sr) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS srl,
            CAST(sum(srr) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS srrl
          FROM kq$t),
        fq$t AS (SELECT c.feature, c.bin, c.nl, c.srl, c.srrl,
            t.n - c.nl AS nr, t.srt - c.srl AS srr2,
            t.srrt - c.srrl AS srrr
          FROM cq$t c CROSS JOIN tq$t t WHERE c.nl < t.n),
        bq$t AS (SELECT feature, bin AS thr, nl, nr,
            ((srl + nl * $s) // nl) - $s AS vl,
            ((srr2 + nr * $s) // nr) - $s AS vr,
            row_number() OVER (ORDER BY ${Gbt.sseSql}, feature, bin) AS rk
          FROM fq$t),
        wq$t AS (SELECT feature, thr, nl, nr, vl, vr,
            ((vl + $s) // 2) - ${s / 2} AS dl,
            ((vr + $s) // 2) - ${s / 2} AS dr
          FROM bq$t WHERE rk = 1),
        hq$t AS (SELECT h.f0, h.f1, h.yg,
            h.F + CASE WHEN (CASE w.feature WHEN 0 THEN h.f0
                ELSE h.f1 END) <= w.thr
              THEN w.dl ELSE w.dr END AS F
          FROM $h h CROSS JOIN wq$t w),
        eq$t AS (SELECT CAST(sum((yg - F) * (yg - F)) AS BIGINT) AS sse
          FROM hq$t)"""
  }

  /** The p26 bagged-forest layout: three depth-2 variance trees, each
    * trained on a DETERMINISTIC 2/3 hash-complement row bag (tree t
    * drops the rows whose md5 bucket ≡ t mod 3 — the replayable
    * analogue of bootstrap resampling: bags overlap pairwise in 1/3 of
    * the corpus, exactly like bootstrap bags do in expectation) and a
    * 2-of-3 feature SUBSPACE (the random-subspace half of Breiman
    * 2001's randomness, enumerated instead of sampled so the oracle
    * replays feature choices bit-for-bit). */
  private[graft] val forestSubsets = Seq((0, 1), (1, 2), (0, 2))
  private[graft] val taxBins = 4
  private[graft] val forestTreeDepth = 2

  /** D302 query binding: bagged random-forest regression — three
    * depth-2 variance-reduction trees over quantile-binned
    * (price, discount, tax), each on its own hash-complement row bag
    * and 2-of-3 feature subspace; one row per (tree, split node) with
    * the GLOBAL feature index, exact censuses and exact per-mille
    * floor-mean leaf values (serving averages the per-tree leaf
    * means — OlsSpec replays the ensemble prediction). Bin edges are
    * computed ONCE on the full corpus (XGBoost's global proposal —
    * arXiv:1603.02754 §3.1 — which is also what makes per-tree
    * replays share one binned design).
    *
    * Scale shape: three bounded exactPercentiles passes for edges,
    * then per level ONE routed partial-aggregated pass that censuses
    * all three bags ([[fitForestSplits]]) — 2 passes total, histogram
    * state bounded by 3 × 2^depth × 2 features × bins; no per-row
    * state, no value-set buffering, bags are row predicates (never
    * materialized copies). */
  def p26Forest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val pe = cachedEdges(spark, dir, "l_extendedprice", priceBins, 64.0)
    val de = cachedEdges(spark, dir, "l_discount", discBins, 0.01)
    val te = cachedEdges(spark, dir, "l_tax", taxBins, 0.01)
    val design = li.select(
        quantileBin($"l_extendedprice", pe).as("f0"),
        quantileBin($"l_discount", de).as("f1"),
        quantileBin($"l_tax", te).as("f2"),
        $"l_quantity".cast("long").as("y"), lit(1L).as("w"),
        pmod(conv(substring(md5(concat($"l_orderkey".cast("string"),
            lit("#"), $"l_linenumber".cast("string"))), 1, 8), 16, 10)
          .cast("long"), lit(3L)).as("h"))
      .scopedPersist()
    val bags = forestSubsets.zipWithIndex.map { case ((a, b), t) =>
      ($"h" =!= t.toLong, Seq(s"f$a", s"f$b"))
    }
    val rows = fitForestSplits(design, bags, forestTreeDepth, Variance)
      .zipWithIndex
      .flatMap { case (splits, t) =>
        val (a, b) = forestSubsets(t)
        splits.map(s => (t.toLong,
          if (s.node.isEmpty) "root" else s.node, s.depth.toLong,
          (if (s.feature == 0) a else b).toLong, s.thresholdBin,
          s.n, s.pos, s.nl, s.nr,
          Math.floorDiv(1000L * s.pl, s.nl),
          Math.floorDiv(1000L * s.pr, s.nr)))
      }
    rows.toDF("tree", "node", "depth", "feature", "threshold_bin",
      "n_node", "sy_node", "n_left", "n_right", "v_left", "v_right")
      .orderBy($"tree", $"depth", $"node")
  }

  /** The level loop's split criterion. [[Gini]] scores a binary label
    * y ∈ {0, 1} by the weighted Gini of [[Stump]] (the shared IEEE text
    * its oracles replay); [[Variance]] scores an integer-grid label by
    * the split SSE ([[regSseSql]]). The two argmins agree only in
    * exact arithmetic, so the Gini callers keep Gini. */
  sealed trait Loss
  case object Gini extends Loss
  case object Variance extends Loss

  /** Depth-k multi-feature trees by histogram split search, one per
    * bag — the one level loop of the tree family, for both losses.
    * Each bag is (row predicate, binned feature columns): p26 passes
    * its three hash-complement bags; p20, p22, p24 and
    * [[graft.ml.feature.GraftTree]] one all-rows bag (`lit(true)`).
    *
    * `design` is a WEIGHTED design: one row per observation group,
    * with its binned features, its label `y` and `w`, the exact Long
    * count of observations the row stands for. Row-level callers pass
    * `w = 1`; one-feature callers (p20, one-feature GraftTree) pass
    * their `groupBy(bin, y)` census, at most 2 × |bin domain| rows for
    * a binary label, so every level re-reads that small table instead
    * of the data. The census is Σw, Σw·y and Σw·y², so a row and its
    * census fit identical splits.
    *
    * Every census/argmin row is keyed by the bag id, so each LEVEL is
    * ONE routed pass over the design (each row fans out to its
    * features × the bags that hold it), partial-aggregated per (bag,
    * node, feature, bin), one window pass per (bag, node, feature)
    * for the cumulative scan, the node totals and that feature's best
    * bin, and ONE bounded collect for all bags. Each node's split is
    * the argmin of the loss's shared-IEEE criterion across its bag's
    * feature histograms (tie order criterion → LOCAL feature index →
    * bin, the last step on the driver), so a bag fits exactly as it
    * would alone.
    * The multi-feature recursion must re-census per level: a node's
    * conditional distribution of feature j given earlier splits on
    * feature i is not derivable from marginal histograms — the
    * per-level cost XGBoost's hist algorithm pays (arXiv:1603.02754
    * §3.3).
    *
    * Returns one split list per bag, in bag order, each level sorted
    * by node, as [[Stump.TreeSplit]] rows with SUM semantics:
    * `pos`/`pl`/`pr` carry Σy (the positives for Gini), so a leaf's
    * fitted value is the exact mean pl/nl under either loss. The
    * preflight aggregate fails by name on a null feature bin, a null
    * label and, for Gini, a label outside {0, 1}. An empty bag, or a
    * node with no valid split, stops splitting. */
  private[graft] def fitForestSplits(design: DataFrame,
      bags: Seq[(Column, Seq[String])], maxDepth: Int, loss: Loss)
      : Seq[Seq[Stump.TreeSplit]] = {
    import design.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    require(maxDepth >= 1, "maxDepth must be >= 1")
    require(bags.forall(_._2.nonEmpty), "need at least one feature column")
    val trees = bags.indices
    // per-bag weights + label bounds for the envelope, and the design's
    // null and label-range fences, in ONE aggregate. Σw over no rows is
    // null, so an EMPTY bag is coalesced to weight 0 (and fits no
    // splits).
    val featureCols = bags.flatMap(_._2).distinct
    val preAggs = bags.flatMap { case (inBag, _) =>
      Seq(coalesce(sum(when(inBag, $"w")), lit(0L)),
        max(when(inBag, abs($"y"))))
    } ++ Seq(
      count(when(featureCols.map(col(_).isNull).reduce(_ || _), 1)),
      count(when($"y".isNull, 1)), min($"y"), max($"y"))
    val pre = design.agg(preAggs.head, preAggs.tail: _*).head()
    val k = 2 * trees.size
    require(pre.getLong(k) == 0L,
      "null feature bins in the tree design: feature columns must be " +
        "non-null (filter or impute before fitting)")
    require(pre.getLong(k + 1) == 0L,
      "null labels in the tree design: the label must be non-null")
    if (loss == Gini && !pre.isNullAt(k + 2))
      require(pre.getLong(k + 2) >= 0L && pre.getLong(k + 3) <= 1L,
        s"Gini loss needs a binary label: y spans [${pre.getLong(k + 2)}, " +
          s"${pre.getLong(k + 3)}], outside {0, 1}")
    def bagN(t: Int): Long = pre.getLong(2 * t)
    trees.filter(bagN(_) > 0L).foreach { t =>
      Gbt.requireSseEnvelope(bagN(t),
        math.max(pre.getLong(2 * t + 1).toDouble, 1.0))
    }
    val splits = Array.fill(trees.size)(Vector.empty[Stump.TreeSplit])
    var openTrees = trees.filter(bagN(_) > 0L).toSet
    var dep = 0
    while (dep < maxDepth && openTrees.nonEmpty) {
      val entries = trees.filter(openTrees).flatMap { t =>
        val (inBag, cols) = bags(t)
        val dec = splits(t).map(s => s.node -> (s.feature, s.thresholdBin)).toMap
        def walk(path: String, lvl: Int): Column =
          if (lvl == dep) lit(path)
          else dec.get(path) match {
            case None => lit(path) // stopped early: keeps its short label
            case Some((f, thr)) =>
              when(col(cols(f)) <= lit(thr), walk(path + "L", lvl + 1))
                .otherwise(walk(path + "R", lvl + 1))
          }
        cols.zipWithIndex.map { case (c, fi) =>
          struct(lit(t).as("tree"), inBag.as("in"), walk("", 0).as("node"),
            lit(fi).as("feature"), col(c).as("bin"))
        }
      }
      // the level's whole data pass: route + explode + partial agg
      // (bounded: ≤ bags × 2^dep × features × |bin domain| rows); rows
      // of nodes that stopped early keep a short label and drop out
      val hist = design
        .select($"y", $"w", explode(array(entries: _*)).as("e"))
        .filter($"e.in" && length($"e.node") === dep)
        .select($"e.tree".as("tree"), $"e.node".as("node"),
          $"e.feature".as("feature"), $"e.bin".as("bin"), $"y", $"w")
        .groupBy($"tree", $"node", $"feature", $"bin")
        .agg(sum($"w").as("cnt"), sum($"w" * $"y").as("sy"),
          sum($"w" * $"y" * $"y").as("syy"))
      // one window partitioning serves the cumulative scan, the node
      // totals (every row contributes one bin per feature, so each
      // feature's slice carries the full node census) and the per-
      // feature argmin: one shuffle after the aggregate
      val byFeature = Window.partitionBy($"tree", $"node", $"feature")
      val cum = byFeature.orderBy($"bin")
      val all = cum.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val cand = hist
        .select($"tree", $"node", $"feature", $"bin",
          sum($"cnt").over(cum).as("nl"), sum($"sy").over(cum).as("syl"),
          sum($"syy").over(cum).as("syyl"), sum($"cnt").over(all).as("n"),
          sum($"sy").over(all).as("syt"), sum($"syy").over(all).as("syyt"))
        .filter($"nl" < $"n")
        .withColumn("nr", $"n" - $"nl")
        .withColumn("syr2", $"syt" - $"syl")
        .withColumn("syyr", $"syyt" - $"syyl")
      // Stump's Gini texts read the binary census under its own names
      val scored = loss match {
        case Variance => cand
          .withColumn("crit", expr(regSseSql))
          .withColumn("pg_raw", expr(parentSseSql))
        case Gini => cand
          .withColumn("pos", $"syt").withColumn("pl", $"syl")
          .withColumn("pr", $"syr2")
          .withColumn("ql", $"nl" - $"pl")
          .withColumn("qr", $"nr" - $"pr")
          .withColumn("neg", $"n" - $"pos")
          .withColumn("crit", expr(Stump.wgSql))
          .withColumn("pg_raw", expr(Stump.parentSql))
      }
      val perFeature = scored
        .withColumn("rk", row_number().over(byFeature.orderBy($"crit", $"bin")))
        .filter($"rk" === 1)
        .select($"tree", $"node", $"feature", $"bin", $"n", $"syt",
          $"nl", $"syl", $"nr", $"syr2", $"crit", $"pg_raw")
        .collect() // ≤ bags · 2^dep · features rows — bounded
        .map(r => r.getInt(0) -> Stump.TreeSplit(r.getString(1), dep,
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8), r.getLong(9), r.getDouble(10),
          r.getDouble(11), feature = r.getInt(2)))
      // each node's argmin across its features, in the tie order
      // criterion → feature → bin; SQL ordering equates −0.0 and 0.0,
      // and −0.0 + 0.0 is 0.0
      val tieOrder = Ordering.Tuple3(Ordering.Double.TotalOrdering,
        Ordering.Int, Ordering.Long)
      val best = perFeature.groupBy { case (t, sp) => (t, sp.node) }
        .toSeq.sortBy(_._1).map { case ((t, _), cands) =>
          t -> cands.map(_._2).minBy(sp =>
            (sp.wgRaw + 0.0, sp.feature, sp.thresholdBin))(tieOrder)
        }
      openTrees = best.map(_._1).toSet
      best.foreach { case (t, sp) => splits(t) :+= sp }
      dep += 1
    }
    splits.toSeq
  }

  /** The forest's shared design CTEs: global quantile edges for all
    * THREE features plus the md5 bag-bucket, so each tree's replay is
    * a WHERE clause over one frame (g0/g1/g2 = global feature bins). */
  private def forestCtes: String = {
    def edges(c: String, bins: Int, p: String) = (1 until bins)
      .map(k => s"quantile_cont($c, ${k.toDouble / bins}) AS $p$k")
      .mkString(", ")
    def caseOf(c: String, bins: Int, p: String) = (1 until bins)
      .map(k => s"WHEN $c <= $p$k THEN ${k - 1}")
      .mkString(" ") + s" ELSE ${bins - 1}"
    s"""feq AS (SELECT ${edges("l_extendedprice", priceBins, "p")},
            ${edges("l_discount", discBins, "d")},
            ${edges("l_tax", taxBins, "t")} FROM lineitem),
        frq AS (SELECT
            CAST(CASE ${caseOf("l_extendedprice", priceBins, "p")} END
              AS BIGINT) AS g0,
            CAST(CASE ${caseOf("l_discount", discBins, "d")} END
              AS BIGINT) AS g1,
            CAST(CASE ${caseOf("l_tax", taxBins, "t")} END
              AS BIGINT) AS g2,
            CAST(l_quantity AS BIGINT) AS y,
            CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '#'
              || CAST(l_linenumber AS VARCHAR)), 1, 8) AS BIGINT) % 3 AS h
          FROM lineitem CROSS JOIN feq)"""
  }

  private def oracleBestForest(i: Int, t: Int, a: Int, b: Int): String =
    s"""SELECT CAST($t AS BIGINT) AS tree,
          CASE WHEN node = '' THEN 'root' ELSE node END AS node,
          CAST($i AS BIGINT) AS depth,
          CAST(CASE feature WHEN 0 THEN $a ELSE $b END AS BIGINT)
            AS feature,
          threshold_bin, n AS n_node, syt AS sy_node,
          nl AS n_left, nr AS n_right, vl AS v_left, vr AS v_right
        FROM br${i}_t$t WHERE rk = 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p24_regtree" -> p24RegTree,
    "p25_reggbt" -> p25RegGbt,
    "p26_forest" -> p26Forest)

  val oracle: Map[String, String] = Map(
    "p24_regtree" ->
      s"""WITH $designCtes,
          ar0 AS (SELECT '' AS node, f0, f1, y FROM rq),
          ${oracleLevelReg(0)},
          ${oracleAssignReg(1)},
          ${oracleLevelReg(1)},
          ${oracleAssignReg(2)},
          ${oracleLevelReg(2)}
          SELECT node, depth, feature, threshold_bin, n_node, sy_node,
            n_left, n_right, v_left, v_right
          FROM (${oracleBestReg(0)} UNION ALL ${oracleBestReg(1)}
            UNION ALL ${oracleBestReg(2)})
          ORDER BY depth, node""",
    "p26_forest" ->
      s"""WITH $forestCtes,
          ${forestSubsets.zipWithIndex.map { case ((a, b), t) =>
            val sfx = s"_t$t"
            s"""ar0$sfx AS (SELECT '' AS node, g$a AS f0, g$b AS f1, y
                FROM frq WHERE h <> $t),
              ${oracleLevelReg(0, sfx)},
              ${oracleAssignReg(1, sfx)},
              ${oracleLevelReg(1, sfx)}"""
          }.mkString(",\n          ")}
          SELECT tree, node, depth, feature, threshold_bin, n_node,
            sy_node, n_left, n_right, v_left, v_right
          FROM (${forestSubsets.zipWithIndex.flatMap { case ((a, b), t) =>
            Seq(oracleBestForest(0, t, a, b), oracleBestForest(1, t, a, b))
          }.mkString("\n            UNION ALL ")})
          ORDER BY tree, depth, node""",
    "p25_reggbt" ->
      s"""WITH $designCtes,
          q AS (SELECT f0, f1, y * 100 AS yg FROM rq),
          gg AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(yg) AS BIGINT) AS s FROM q),
          hq0 AS (SELECT f0, f1, yg, (gg.s // gg.n) AS F
            FROM q CROSS JOIN gg),
          ${(1 to Gbt.gbtRounds).map(oracleRoundReg)
            .mkString(",\n          ")}
          ${(1 to Gbt.gbtRounds).map(t =>
            s"""SELECT CAST($t AS BIGINT) AS round,
                CAST(feature AS BIGINT) AS feature, thr AS threshold_bin,
                nl AS n_left, nr AS n_right, vl AS v_left, vr AS v_right,
                (SELECT sse FROM eq$t) AS sse_after FROM wq$t""")
            .mkString("\n          UNION ALL\n          ")}
          ORDER BY round""")
}
