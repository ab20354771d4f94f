package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist
import graft.sources.Tables

/** D260: decision stump by histogram split search — the depth-1 tree.
  *
  * Finds the single best threshold on a numeric feature (extended
  * price, quantized to $100 bins) predicting a binary label
  * (returnflag = 'R') by EXACT weighted-Gini minimization over every
  * candidate split. This is the primitive inside every
  * gradient-boosted-tree trainer — and the histogram formulation IS
  * the scale answer (XGBoost's `hist`/LightGBM: candidate thresholds
  * live on a bounded value grid, so split search costs one pass plus
  * a domain-bounded cumulative scan, never a per-row sort).
  *
  * Determinism: the per-bin census (count, positives) and every
  * cumulative/complement count are EXACT integers; the weighted Gini
  * for each candidate is ONE shared IEEE expression tree ([[wgSql]])
  * interpolated into both engines, so the argmin row — selected by
  * ordering on the RAW double then bin — is identical bit-for-bit;
  * only the reported gini/gain round 4-dp.
  *
  * Scale shape: one partial-aggregated groupBy to the ≤ |price
  * domain|/100 bin histogram (~1.1k rows — bounded by the value
  * domain, NOT the data), a 1-row total broadcast-crossed in, one
  * unpartitioned cumulative window over the bin-sized frame, and a
  * TakeOrdered-1 argmin. Nothing after the scan is data-sized.
  */
object Stump {

  private def d(x: String) = s"CAST($x AS DOUBLE)"

  /** Gini impurity of one side from its positive/negative/total counts. */
  private[operators] def giniSql(p: String, q: String, m: String) =
    s"""(1.0 - (${d(p)} / ${d(m)}) * (${d(p)} / ${d(m)})
        - (${d(q)} / ${d(m)}) * (${d(q)} / ${d(m)}))"""

  /** Split-weighted Gini over columns (nl,pl,ql, nr,pr,qr, n). */
  private[operators] val wgSql =
    s"""((${d("nl")} * ${giniSql("pl", "ql", "nl")}
        + ${d("nr")} * ${giniSql("pr", "qr", "nr")}) / ${d("n")})"""

  /** Parent (unsplit) Gini over columns (pos, neg, n). */
  private[operators] val parentSql = giniSql("pos", "neg", "n")

  /** The stump design's (bin, y) rows: price in $100 bins against the
    * returnflag = 'R' label. */
  private def designRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).select(
      floor($"l_extendedprice" / 100.0).cast("long").as("bin"),
      ($"l_returnflag" === "R").cast("long").as("y"))
  }

  /** (bin, cnt, p) histogram of the stump design — the census p17 and
    * p19's split search reads. */
  private def designHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    designRows(spark, dir).groupBy($"bin")
      .agg(count(lit(1)).as("cnt"), sum($"y").as("p"))
  }

  /** The stump design as a weighted design for the level and boosting
    * loops (p20, p21): its (bin, y) census with `w` = the number of
    * rows in each group — at most 2 × |bin domain| rows. */
  private[operators] def designCensus(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    designRows(spark, dir).groupBy($"bin", $"y").agg(count(lit(1)).as("w"))
  }

  /** Candidate frame shared by p17 and p19: per (node, threshold bin),
    * the exact split census (nl/pl/nr/pr/… vs the node totals joined
    * back as a broadcast) plus the raw shared-IEEE split and parent
    * Ginis. One definition, so the two oracle-gated trainers cannot
    * drift apart. */
  private def splitCandidates(h: DataFrame,
      node: org.apache.spark.sql.Column): DataFrame = {
    import h.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val tot = h.groupBy(node.as("node"))
      .agg(sum($"cnt").as("n"), sum($"p").as("pos"))
    val w = Window.partitionBy("node").orderBy($"bin")
    h.withColumn("node", node)
      .select($"node", $"bin",
        sum($"cnt").over(w).as("nl"), sum($"p").over(w).as("pl"))
      .join(broadcast(tot), "node")
      .filter($"nl" < $"n") // a split must leave something on the right
      .withColumn("ql", $"nl" - $"pl")
      .withColumn("nr", $"n" - $"nl")
      .withColumn("pr", $"pos" - $"pl")
      .withColumn("qr", $"nr" - $"pr")
      .withColumn("neg", $"n" - $"pos")
      .withColumn("wg_raw", expr(wgSql))
      .withColumn("pg_raw", expr(parentSql))
  }

  /** One fitted split: the node's path ("" = root, then 'L'/'R' per
    * level), its population and Σy (positives for the Gini loss), the
    * chosen feature (index into the bag's feature columns; 0 for a
    * one-feature design) and threshold bin, the exact child census,
    * and the raw (unrounded) parent/split criteria. Child leaf values
    * are derivable (left = pl/nl, right = pr/nr), so this is the
    * complete model artifact. Fitted by [[RegTree.fitForestSplits]]. */
  final case class TreeSplit(node: String, depth: Int, thresholdBin: Long,
      n: Long, pos: Long, nl: Long, pl: Long, nr: Long, pr: Long,
      wgRaw: Double, pgRaw: Double, feature: Int = 0)

  def p17Stump(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    splitCandidates(designHist(spark, dir), lit("root"))
      .orderBy($"wg_raw", $"bin").limit(1)
      .select($"bin".as("threshold_bin"),
        $"nl".as("n_left"), $"nr".as("n_right"),
        $"pl".as("pos_left"), $"pr".as("pos_right"),
        round($"wg_raw", 4).as("gini_split"),
        round($"pg_raw" - $"wg_raw", 4).as("gini_gain"))
  }

  /** D273: depth-2 tree by recursive histogram split search — p17's
    * root split, then the best split INSIDE each branch, each over the
    * same bounded bin histogram: one more level of the GBT primitive,
    * showing the histogram formulation recurses (a depth-k trainer is
    * k passes over the SAME domain-bounded census — per-level cost
    * never grows with data). Output: one row per node (root / left /
    * right) with its population, pre-split Gini, split threshold,
    * split Gini and gain; a pure branch (no valid split) simply emits
    * no row.
    *
    * Determinism: every census is exact integers off ONE shared bin
    * histogram; node/split Ginis are the p17 shared IEEE tree; each
    * argmin orders on the raw double then bin (identical across
    * engines); the root threshold joins back as a broadcast 1-row
    * frame (the q43 shape). */
  def p19Tree2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = designHist(spark, dir).scopedPersist()
    def bestSplit(h: DataFrame, node: org.apache.spark.sql.Column) = {
      val aw = Window.partitionBy("node").orderBy($"wg_raw", $"bin")
      splitCandidates(h, node)
        .withColumn("rk", row_number().over(aw))
        .filter($"rk" === 1)
        .select($"node", $"bin".as("threshold_bin"),
          $"n".as("n_node"), $"pos".as("pos_node"),
          round($"pg_raw", 4).as("gini_node"),
          round($"wg_raw", 4).as("gini_split"),
          round($"pg_raw" - $"wg_raw", 4).as("gini_gain"))
    }
    val root = bestSplit(hist, lit("root"))
    val rt = root.select($"threshold_bin".as("rt"))
    val children = bestSplit(
      hist.crossJoin(broadcast(rt)),
      when($"bin" <= $"rt", "left").otherwise("right"))
    root.unionAll(children).orderBy($"node")
  }

  /** D279: depth-3 tree by the one level loop
    * ([[RegTree.fitForestSplits]], Gini loss, over the (bin, y) census
    * [[designCensus]]) — p19's recursion at configurable depth,
    * emitting one row per SPLIT node (up to 7: root, L/R, LL…RR) with
    * its path label, depth, population, pre-split Gini, threshold and
    * gain. The oracle
    * replays all three levels as chained CTE blocks off the same
    * shared-IEEE Gini text, so every census integer and rounded double
    * is hash-exact. (The [[graft.ml.feature.GraftTree]] estimator fits
    * through this same loop — protocol surface #11.) */
  def p20Tree3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val design = designCensus(spark, dir).scopedPersist()
    val splits = RegTree.fitForestSplits(design, Seq((lit(true), Seq("bin"))),
      3, RegTree.Gini).head
    splits.map(s => (if (s.node.isEmpty) "root" else s.node,
        s.depth.toLong, s.thresholdBin, s.n, s.pos, s.wgRaw, s.pgRaw))
      .toDF("node", "depth", "threshold_bin", "n_node", "pos_node",
        "wg_raw", "pg_raw")
      .select($"node", $"depth", $"threshold_bin", $"n_node", $"pos_node",
        round($"pg_raw", 4).as("gini_node"),
        round($"wg_raw", 4).as("gini_split"),
        round($"pg_raw" - $"wg_raw", 4).as("gini_gain"))
      .orderBy($"depth", $"node")
  }

  /** The p22/p23 multi-feature design: three binned lineitem features
    * — price in $100 bins (f0), quantity units (f1), discount
    * percentage points (f2) — against the p17 label. Three genuinely
    * different value domains (~1.1k / 50 / 11 bins), so the argmin
    * really arbitrates across feature histograms. One row per
    * observation (`w` = 1, the weighted-design contract). */
  private[graft] def multiDesign(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).select(
      floor($"l_extendedprice" / 100.0).cast("long").as("f0"),
      $"l_quantity".cast("long").as("f1"),
      floor($"l_discount" * 100.0).cast("long").as("f2"),
      ($"l_returnflag" === "R").cast("long").as("y"), lit(1L).as("w"))
  }

  private[graft] val multiFeatures = Seq("f0", "f1", "f2")

  /** D289 query binding: depth-3 multi-feature tree on (price,
    * quantity, discount) — one row per split node with the CHOSEN
    * FEATURE alongside the threshold. The oracle replays all three
    * levels as chained row-level CTE blocks (per-feature censuses by
    * UNION ALL, the same shared-IEEE Gini text, argmin tie order
    * wg → feature → bin), so every census integer, the feature
    * choices, and the rounded Ginis are hash-exact. */
  def p22TreeMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val design = multiDesign(spark, dir).scopedPersist()
    val splits = RegTree.fitForestSplits(design,
      Seq((lit(true), multiFeatures)), 3, RegTree.Gini).head
    splits.map(s => (if (s.node.isEmpty) "root" else s.node,
        s.depth.toLong, s.feature.toLong, s.thresholdBin, s.n, s.pos,
        s.wgRaw, s.pgRaw))
      .toDF("node", "depth", "feature", "threshold_bin", "n_node",
        "pos_node", "wg_raw", "pg_raw")
      .select($"node", $"depth", $"feature", $"threshold_bin",
        $"n_node", $"pos_node",
        round($"pg_raw", 4).as("gini_node"),
        round($"wg_raw", 4).as("gini_split"),
        round($"pg_raw" - $"wg_raw", 4).as("gini_gain"))
      .orderBy($"depth", $"node")
  }

  /** One multi-feature oracle level block off row-level assignment CTE
    * am<i>: per-(node, feature, bin) censuses via UNION ALL, node
    * totals, cumulative scan, shared-IEEE candidates, argmin. */
  private def oracleLevelMulti(i: Int): String = {
    val perFeature = multiFeatures.zipWithIndex.map { case (f, j) =>
      s"""SELECT node, $j AS feature, $f AS bin,
            CAST(count(*) AS BIGINT) AS cnt,
            CAST(sum(y) AS BIGINT) AS p
          FROM am$i GROUP BY node, $f"""
    }.mkString("\n          UNION ALL ")
    s"""hm$i AS ($perFeature),
        tm$i AS (SELECT node, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS pos FROM am$i GROUP BY node),
        cm$i AS (SELECT node, feature, bin,
            CAST(sum(cnt) OVER (PARTITION BY node, feature ORDER BY bin)
              AS BIGINT) AS nl,
            CAST(sum(p) OVER (PARTITION BY node, feature ORDER BY bin)
              AS BIGINT) AS pl
          FROM hm$i),
        fm$i AS (SELECT c.node, c.feature, c.bin, c.nl, c.pl,
            c.nl - c.pl AS ql, t.n - c.nl AS nr, t.pos - c.pl AS pr,
            (t.n - c.nl) - (t.pos - c.pl) AS qr,
            t.n AS n, t.pos AS pos, t.n - t.pos AS neg
          FROM cm$i c JOIN tm$i t USING (node) WHERE c.nl < t.n),
        bm$i AS (SELECT node, feature, bin AS threshold_bin, n, pos,
            $parentSql AS pg, $wgSql AS wg,
            row_number() OVER (PARTITION BY node
              ORDER BY $wgSql, feature, bin) AS rk
          FROM fm$i),
        sm$i AS (SELECT node, feature, threshold_bin FROM bm$i
          WHERE rk = 1)"""
  }

  /** Route level-i survivors one step deeper by each node's chosen
    * (feature, threshold) — the CASE dereferences the row's value of
    * THAT feature (inner join: unsplit nodes stop). */
  private def oracleAssignMulti(i: Int): String =
    s"""am$i AS (SELECT a.node ||
            CASE WHEN (CASE s.feature WHEN 0 THEN a.f0
                WHEN 1 THEN a.f1 ELSE a.f2 END) <= s.threshold_bin
              THEN 'L' ELSE 'R' END AS node,
            a.f0, a.f1, a.f2, a.y
          FROM am${i - 1} a JOIN sm${i - 1} s ON a.node = s.node)"""

  private def oracleBestMulti(i: Int): String =
    s"""SELECT CASE WHEN node = '' THEN 'root' ELSE node END AS node,
          CAST($i AS BIGINT) AS depth, CAST(feature AS BIGINT) AS feature,
          threshold_bin, n AS n_node, pos AS pos_node,
          round(pg, 4) AS gini_node, round(wg, 4) AS gini_split,
          round(pg - wg, 4) AS gini_gain
        FROM bm$i WHERE rk = 1"""

  /** One oracle level block: census → cumulative → candidates → best
    * split per node, off assignment CTE a<i>. */
  private def oracleLevel(i: Int): String =
    s"""t$i AS (SELECT node, CAST(sum(cnt) AS BIGINT) AS n,
            CAST(sum(p) AS BIGINT) AS pos FROM a$i GROUP BY node),
        c$i AS (SELECT node, bin,
            CAST(sum(cnt) OVER (PARTITION BY node ORDER BY bin)
              AS BIGINT) AS nl,
            CAST(sum(p) OVER (PARTITION BY node ORDER BY bin)
              AS BIGINT) AS pl
          FROM a$i),
        f$i AS (SELECT c$i.node, c$i.bin, c$i.nl, c$i.pl,
            c$i.nl - c$i.pl AS ql, t$i.n - c$i.nl AS nr,
            t$i.pos - c$i.pl AS pr,
            (t$i.n - c$i.nl) - (t$i.pos - c$i.pl) AS qr,
            t$i.n AS n, t$i.pos AS pos, t$i.n - t$i.pos AS neg
          FROM c$i JOIN t$i USING (node) WHERE c$i.nl < t$i.n),
        b$i AS (SELECT node, bin AS threshold_bin, n, pos,
            $parentSql AS pg, $wgSql AS wg,
            row_number() OVER (PARTITION BY node
              ORDER BY $wgSql, bin) AS rk
          FROM f$i),
        s$i AS (SELECT node, threshold_bin FROM b$i WHERE rk = 1)"""

  /** Route level-i survivors one step deeper using level-(i-1)'s
    * winning thresholds (inner join: unsplit nodes stop). */
  private def oracleAssign(i: Int): String =
    s"""a$i AS (SELECT a${i - 1}.node ||
            CASE WHEN a${i - 1}.bin <= s${i - 1}.threshold_bin
              THEN 'L' ELSE 'R' END AS node,
            a${i - 1}.bin, a${i - 1}.cnt, a${i - 1}.p
          FROM a${i - 1} JOIN s${i - 1} ON a${i - 1}.node = s${i - 1}.node)"""

  private def oracleBest(i: Int): String =
    s"""SELECT CASE WHEN node = '' THEN 'root' ELSE node END AS node,
          CAST($i AS BIGINT) AS depth, threshold_bin,
          n AS n_node, pos AS pos_node, round(pg, 4) AS gini_node,
          round(wg, 4) AS gini_split, round(pg - wg, 4) AS gini_gain
        FROM b$i WHERE rk = 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p17_stump" -> p17Stump,
    "p19_tree2" -> p19Tree2,
    "p20_tree3" -> p20Tree3,
    "p22_tree_multi" -> p22TreeMulti)

  val oracle: Map[String, String] = Map(
    "p22_tree_multi" ->
      s"""WITH r AS (SELECT
              CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS f0,
              CAST(l_quantity AS BIGINT) AS f1,
              CAST(floor(l_discount * 100.0) AS BIGINT) AS f2,
              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem),
          am0 AS (SELECT '' AS node, f0, f1, f2, y FROM r),
          ${oracleLevelMulti(0)},
          ${oracleAssignMulti(1)},
          ${oracleLevelMulti(1)},
          ${oracleAssignMulti(2)},
          ${oracleLevelMulti(2)}
          SELECT node, depth, feature, threshold_bin, n_node, pos_node,
            gini_node, gini_split, gini_gain
          FROM (${oracleBestMulti(0)} UNION ALL ${oracleBestMulti(1)}
            UNION ALL ${oracleBestMulti(2)})
          ORDER BY depth, node""",
    "p20_tree3" ->
      s"""WITH r AS (SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT)
              AS bin,
              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem),
          h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(y) AS BIGINT) AS p
            FROM r GROUP BY bin),
          a0 AS (SELECT '' AS node, bin, cnt, p FROM h),
          ${oracleLevel(0)},
          ${oracleAssign(1)},
          ${oracleLevel(1)},
          ${oracleAssign(2)},
          ${oracleLevel(2)}
          SELECT node, depth, threshold_bin, n_node, pos_node, gini_node,
            gini_split, gini_gain
          FROM (${oracleBest(0)} UNION ALL ${oracleBest(1)}
            UNION ALL ${oracleBest(2)})
          ORDER BY depth, node""",
    "p19_tree2" ->
      s"""WITH r AS (SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT)
              AS bin,
              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem),
          h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(y) AS BIGINT) AS p
            FROM r GROUP BY bin),
          t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
              CAST(sum(p) AS BIGINT) AS pos FROM h),
          c0 AS (SELECT bin,
              CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS nl,
              CAST(sum(p) OVER (ORDER BY bin) AS BIGINT) AS pl
            FROM h),
          f0 AS (SELECT c0.bin, c0.nl, c0.pl, c0.nl - c0.pl AS ql,
              t0.n - c0.nl AS nr, t0.pos - c0.pl AS pr,
              (t0.n - c0.nl) - (t0.pos - c0.pl) AS qr,
              t0.n AS n, t0.pos AS pos, t0.n - t0.pos AS neg
            FROM c0 CROSS JOIN t0 WHERE c0.nl < t0.n),
          r0 AS (SELECT 'root' AS node, bin AS threshold_bin,
              n AS n_node, pos AS pos_node,
              round($parentSql, 4) AS gini_node,
              round($wgSql, 4) AS gini_split,
              round($parentSql - $wgSql, 4) AS gini_gain,
              row_number() OVER (ORDER BY $wgSql, bin) AS rk
            FROM f0),
          rt AS (SELECT threshold_bin AS rt FROM r0 WHERE rk = 1),
          hs AS (SELECT CASE WHEN h.bin <= rt.rt THEN 'left'
                ELSE 'right' END AS node, h.bin, h.cnt, h.p
            FROM h CROSS JOIN rt),
          ts AS (SELECT node, CAST(sum(cnt) AS BIGINT) AS n,
              CAST(sum(p) AS BIGINT) AS pos FROM hs GROUP BY node),
          cs AS (SELECT node, bin,
              CAST(sum(cnt) OVER (PARTITION BY node ORDER BY bin)
                AS BIGINT) AS nl,
              CAST(sum(p) OVER (PARTITION BY node ORDER BY bin)
                AS BIGINT) AS pl
            FROM hs),
          fs AS (SELECT cs.node, cs.bin, cs.nl, cs.pl,
              cs.nl - cs.pl AS ql, ts.n - cs.nl AS nr,
              ts.pos - cs.pl AS pr,
              (ts.n - cs.nl) - (ts.pos - cs.pl) AS qr,
              ts.n AS n, ts.pos AS pos, ts.n - ts.pos AS neg
            FROM cs JOIN ts USING (node) WHERE cs.nl < ts.n),
          rs AS (SELECT node, bin AS threshold_bin, n AS n_node,
              pos AS pos_node,
              round($parentSql, 4) AS gini_node,
              round($wgSql, 4) AS gini_split,
              round($parentSql - $wgSql, 4) AS gini_gain,
              row_number() OVER (PARTITION BY node
                ORDER BY $wgSql, bin) AS rk
            FROM fs)
          SELECT node, threshold_bin, n_node, pos_node, gini_node,
            gini_split, gini_gain
          FROM (SELECT node, threshold_bin, n_node, pos_node, gini_node,
              gini_split, gini_gain FROM r0 WHERE rk = 1
            UNION ALL
            SELECT node, threshold_bin, n_node, pos_node, gini_node,
              gini_split, gini_gain FROM rs WHERE rk = 1)
          ORDER BY node""",
    "p17_stump" ->
      s"""WITH r AS (SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT)
              AS bin,
              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem),
          h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(y) AS BIGINT) AS p
            FROM r GROUP BY bin),
          t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
              CAST(sum(p) AS BIGINT) AS pos FROM h),
          c AS (SELECT bin,
              CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS nl,
              CAST(sum(p) OVER (ORDER BY bin) AS BIGINT) AS pl
            FROM h),
          f AS (SELECT c.bin, c.nl, c.pl, c.nl - c.pl AS ql,
              t.n - c.nl AS nr, t.pos - c.pl AS pr,
              (t.n - c.nl) - (t.pos - c.pl) AS qr,
              t.n AS n, t.pos AS pos, t.n - t.pos AS neg
            FROM c CROSS JOIN t WHERE c.nl < t.n)
          SELECT bin AS threshold_bin, nl AS n_left, nr AS n_right,
            pl AS pos_left, pr AS pos_right,
            round($wgSql, 4) AS gini_split,
            round($parentSql - $wgSql, 4) AS gini_gain
          FROM f ORDER BY $wgSql, bin LIMIT 1""")
}
