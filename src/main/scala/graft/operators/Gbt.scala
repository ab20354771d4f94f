package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist

/** D281: gradient-boosted stumps by histogram split search — the GBT
  * composition the depth-k trainer (D279) opened: T rounds of
  * least-squares stumps fit to the RESIDUALS of the running
  * prediction, learning rate ½ (Friedman 2001, "Greedy Function
  * Approximation"; the histogram formulation is the XGBoost-`hist`
  * architecture again, arXiv:1603.02754 §3.3).
  *
  * Exactness discipline (what makes this hash-replayable in DuckDB
  * when textbook GBT is float soup): the label lives on a PER-MILLE
  * integer grid (y·1000) and the running prediction F is an INTEGER
  * on that grid, so per-bin residual sums Σw·r and squared sums Σw·r²
  * are exact longs every round. Leaf values are floor-means computed by
  * SHIFTED nonnegative integer division ((Σr + n·S) div n − S with
  * S = [[gbtShift]]), so truncating and flooring engines agree; the
  * learning-rate halving uses the same shift. Only the per-candidate
  * SSE criterion runs in doubles — ONE shared IEEE expression
  * ([[sseSql]]) interpolated into both engines, operands being
  * exactly-representable longs — and the reported per-round
  * `sse_after` is again an exact integer.
  *
  * Scale shape (p21): per round, one partial-aggregated pass over the
  * (bin, y) census — at most 2 × ~1.1k rows, value-domain bounded,
  * never data-sized — one cumulative window over the bin frame, a
  * TakeOrdered-1 argmin, and a 1-row collect — the p17/p19/p20
  * discipline, T times. The routing/prediction expression is a
  * literal when-chain (pure codegen, no join).
  */
object Gbt {

  /** Boosting rounds for p21. */
  val gbtRounds = 3

  /** Shift making every division numerator nonnegative: |residual| is
    * bounded by 1000 + |F|, and the worst-case |F| drift over three
    * ½-rate rounds stays far inside this margin (the engine checks at
    * division time and fails loudly rather than ever dividing a
    * negative — where floor and truncation would disagree). */
  val gbtShift = 8000L

  /** Most boosting rounds the SHIFT arithmetic supports (the ±S
    * nonnegative-division margin, [[shiftFor]]). NOTE this is not by
    * itself a Long-overflow guarantee for the squared-residual census:
    * at the 25-round worst-case drift (~5.0e7) each row's rr² can
    * reach ~2.5e15, so ~3.6k rows would already saturate Long.MaxValue.
    * The ROW-COUNT-AWARE envelope is enforced at fit time by
    * [[requireSseEnvelope]] over [[residualBound]]: at the default 3
    * rounds the worst-case |residual| is ≤ 9750 on the per-mille grid,
    * admitting ~9.5e10 rows — any realistic corpus — and the
    * admissible row count shrinks as 1.5^-2T. */
  val gbtMaxRounds = 25

  /** Worst-case |yg − F| after `rounds` ½-rate rounds on a label grid
    * bounded by `gridBound`: each round's adjustment is at most half
    * the residual bound, so |F_T| < gridBound·(1 + 2·1.5^T) and
    * |yg − F| < gridBound·(2 + 2·1.5^T); one more gridBound of margin
    * (3000 + 2000·1.5^T on the per-mille grid). */
  private[operators] def residualBound(gridBound: Long, rounds: Int): Double =
    gridBound.toDouble * (3.0 + 2.0 * math.pow(1.5, rounds))

  /** Fail-fast guard that an exact-integer Σ(value²) census over `n`
    * rows with |value| ≤ `bound` cannot wrap Long — a wrapped
    * (non-ANSI) sum would silently mis-select splits. */
  private[operators] def requireSseEnvelope(n: Long, bound: Double): Unit =
    require(n.toDouble * bound * bound < Long.MaxValue.toDouble * 0.98,
      s"exact-integer SSE census could overflow Long: $n rows with " +
        s"worst-case |value| ~ ${bound.toLong} — reduce the round count " +
        "or the label bound")

  /** Round-count-scaled shift for the per-mille grid. The leaf math is
    * shift-INVARIANT for any even shift large enough —
    * (sr + n·S)/n − S = floor(sr/n) and, for even S,
    * (v + S)/2 − S/2 = floor(v/2) — so growing S with the worst-case
    * drift bound changes no fitted value; ≤ 3 rounds keep the
    * historical 8000 (p21's and p23's oracle text). */
  def shiftFor(rounds: Int): Long = {
    require(rounds <= gbtMaxRounds,
      s"boosting rounds $rounds exceed the exact-integer envelope " +
        s"($gbtMaxRounds): the squared-residual census could overflow Long")
    if (rounds <= 3) gbtShift else RegTree.regShiftFor(1000L, rounds)
  }

  /** The binary label's range on the per-mille grid: yg = 1000·y for
    * y ∈ {0, 1}. */
  private[graft] val binaryGrid = (0L, 1000L)

  private def d(x: String) = s"CAST($x AS DOUBLE)"

  /** Split SSE over columns (srrl, srl, nl, srrr, srr2, nr) — the one
    * IEEE tree both engines evaluate (shared with the regression
    * trainers in [[RegTree]]). */
  private[operators] val sseSql =
    s"""((${d("srrl")} - ${d("srl")} * ${d("srl")} / ${d("nl")})
        + (${d("srrr")} - ${d("srr2")} * ${d("srr2")} / ${d("nr")}))"""

  /** One fitted boosting round: the chosen feature (index into the
    * loop's featureCols; 0 for a one-feature design), threshold, child
    * populations, leaf values (residual floor-means on the label
    * grid), and the exact integer SSE after applying the ½-rate
    * update. Fitted by [[fitGbtMulti]]. */
  final case class GbtRound(round: Int, thresholdBin: Long, nLeft: Long,
      nRight: Long, vLeft: Long, vRight: Long, sseAfter: Long,
      feature: Int = 0)

  /** ½-rate per-round prediction adjustments derived from a fitted
    * round's leaf values — floor(v/2) via the shifted division, the
    * exact arithmetic [[fitGbtMulti]] trains with. */
  def adjustments(r: GbtRound): (Long, Long) = {
    // any even shift ≥ |v| yields the same floor(v/2) — size it to the
    // round's own leaf values so rounds fitted with a larger
    // [[shiftFor]] (maxIter > 3) replay exactly
    val need = math.max(math.abs(r.vLeft), math.abs(r.vRight))
    val S = math.max(gbtShift, (need / 2L + 1L) * 2L)
    ((r.vLeft + S) / 2L - S / 2L, (r.vRight + S) / 2L - S / 2L)
  }

  /** D281/D290/D295: gradient-boosted stumps on an integer label grid,
    * argmin over d per-feature residual histograms per round (the
    * XGBoost-`hist` round, arXiv:1603.02754 §3.3). The one boosting
    * loop of both losses: binary callers pass yg = 1000·y with
    * [[binaryGrid]] and [[shiftFor]]; variance callers pass their
    * integer-grid label with (−bound, bound) and
    * [[RegTree.regShiftFor]]. The declared `ygRange` sizes the
    * Long-overflow envelope and is checked in the preflight aggregate,
    * so a label off its grid fails by name instead of fitting.
    *
    * `design` is a WEIGHTED design (the [[RegTree.fitForestSplits]]
    * contract): one row per observation group with its binned
    * features, its label `yg` and `w`, the exact Long count of
    * observations it stands for. Row-level callers (p23, p25,
    * several-feature [[graft.ml.feature.GraftGBT]]) pass `w` = 1;
    * one-feature callers (p21, one-feature GraftGBT) pass their
    * (bin, yg) census, which every round re-reads instead of the data.
    *
    * Per round the residual rr = yg − F is censused exactly per
    * (feature, bin) as Σw, Σw·rr and Σw·rr² in ONE routed pass
    * (posexplode over the binned features, partial-aggregated to a
    * domain-bounded histogram), the winner is chosen by the
    * shared-IEEE SSE criterion with tie order sse → feature → bin, and
    * leaf values are shifted floor-division means halved by the same
    * even-shift rule. The per-row F depends on earlier rounds'
    * features, so each round re-censuses the design — the cost model
    * every hist GBT pays. Returns (f0, rounds) with f0 the global
    * floor-mean base prediction; a design with no valid split (one
    * row, one bin per feature) fits no rounds, and one with no rows
    * fails as an "empty design". */
  private[graft] def fitGbtMulti(design: DataFrame, featureCols: Seq[String],
      rounds: Int, ygRange: (Long, Long), shift: Long): (Long, Seq[GbtRound]) = {
    import design.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    require(featureCols.nonEmpty, "need at least one feature column")
    val (lo, hi) = ygRange
    val S = shift
    // null fences, totals and the label range in ONE aggregate. Null
    // bins would census LEFT in the cumulative window but route RIGHT
    // at scoring. Σw over no rows is null: coalesced, so an empty
    // design fails by name below.
    val t0 = design.agg(coalesce(sum($"w"), lit(0L)), sum($"w" * $"yg"),
      min($"yg"), max($"yg"),
      count(when(featureCols.map(col(_).isNull).reduce(_ || _), 1)),
      count(when($"yg".isNull, 1))).head()
    require(t0.getLong(4) == 0L,
      "null feature bins in the GBT design: feature columns must be " +
        "non-null (filter or impute before fitting)")
    require(t0.getLong(5) == 0L,
      "null labels in the GBT design: the label must be non-null")
    val nAll = t0.getLong(0)
    require(nAll > 0, "empty design")
    require(t0.getLong(2) >= lo && t0.getLong(3) <= hi,
      s"label grid yg spans [${t0.getLong(2)}, ${t0.getLong(3)}], outside " +
        s"the declared range [$lo, $hi]")
    requireSseEnvelope(nAll,
      residualBound(math.max(math.abs(lo), math.abs(hi)), rounds))
    val f0 = Math.floorDiv(t0.getLong(1), nAll)
    def prediction(decisions: Seq[(Int, Long, Long, Long)]): Column =
      decisions.foldLeft(lit(f0)) { case (f, (ft, thr, dl, dr)) =>
        f + when(col(featureCols(ft)) <= lit(thr), lit(dl)).otherwise(lit(dr))
      }
    var decisions = Vector.empty[(Int, Long, Long, Long)] // (ft, thr, dl, dr)
    var out = Vector.empty[GbtRound]
    // round t's census already sums rr² under the CURRENT model —
    // exactly round t-1's post-update SSE — so each round's collect
    // closes the previous round and only the last pays an SSE pass
    var pending: Option[GbtRound] = None
    var t = 1
    var open = true
    while (t <= rounds && open) {
      // exact per-row residual, censused per (feature, bin); one
      // window partitioning serves the cumulative scan and the totals
      // (every row contributes one bin per feature, so each feature's
      // slice carries the full census)
      val cum = Window.partitionBy($"feature").orderBy($"bin")
      val all = cum.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val bestRows = design.withColumn("F", prediction(decisions))
        .withColumn("rr", $"yg" - $"F")
        .select($"w", $"rr", posexplode(array(featureCols.map(col): _*))
          .as(Seq("feature", "bin")))
        .groupBy($"feature", $"bin")
        .agg(sum($"w").as("cnt"), sum($"w" * $"rr").as("sr"),
          sum($"w" * $"rr" * $"rr").as("srr"))
        .select($"feature", $"bin", sum($"cnt").over(cum).as("nl"),
          sum($"sr").over(cum).as("srl"), sum($"srr").over(cum).as("srrl"),
          sum($"cnt").over(all).as("n"), sum($"sr").over(all).as("srt"),
          sum($"srr").over(all).as("srrt"))
        .filter($"nl" < $"n")
        .withColumn("nr", $"n" - $"nl")
        .withColumn("srr2", $"srt" - $"srl")
        .withColumn("srrr", $"srrt" - $"srrl")
        .withColumn("sse_raw", expr(sseSql))
        .orderBy($"sse_raw", $"feature", $"bin").limit(1)
        .select($"feature", $"bin", $"nl", $"srl", $"nr", $"srr2", $"srrt")
        .collect()
      if (bestRows.isEmpty) open = false
      else {
        val best = bestRows.head
        pending.foreach(pr => out :+= pr.copy(sseAfter = best.getLong(6)))
        val (ft, thr, nl, srl, nr, srR) = (best.getInt(0), best.getLong(1),
          best.getLong(2), best.getLong(3), best.getLong(4),
          best.getLong(5))
        // shifted nonnegative floor-division (truncation == floor here;
        // a negative numerator means the drift bound was violated — fail
        // loudly, never divide wrong)
        require(srl + nl * S >= 0 && srR + nr * S >= 0,
          s"residual drift exceeded the ±$S shift at round $t")
        val vl = (srl + nl * S) / nl - S
        val vr = (srR + nr * S) / nr - S
        val dl = (vl + S) / 2L - S / 2L // = floor(vl / 2), both engines
        val dr = (vr + S) / 2L - S / 2L
        decisions :+= ((ft, thr, dl, dr))
        pending = Some(GbtRound(t, thr, nl, nr, vl, vr, -1L, feature = ft))
        t += 1
      }
    }
    pending.foreach { pr =>
      val sseAfter = design.withColumn("F", prediction(decisions))
        .agg(sum($"w" * ($"yg" - $"F") * ($"yg" - $"F")))
        .head().getLong(0)
      out :+= pr.copy(sseAfter = sseAfter)
    }
    (f0, out)
  }

  /** D290 query binding: three multi-feature boosted rounds on the p22
    * design (price/quantity/discount bins → returnflag), every output
    * column an exact integer including the chosen feature. */
  def p23GbtMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val design = Stump.multiDesign(spark, dir)
      .withColumn("yg", $"y" * 1000L).scopedPersist()
    fitGbtMulti(design, Stump.multiFeatures, gbtRounds, binaryGrid,
      shiftFor(gbtRounds))._2
      .map(r => (r.round.toLong, r.feature.toLong, r.thresholdBin,
        r.nLeft, r.nRight, r.vLeft, r.vRight, r.sseAfter))
      .toDF("round", "feature", "threshold_bin", "n_left", "n_right",
        "v_left", "v_right", "sse_after")
      .orderBy($"round")
  }

  /** p21: three boosted stump rounds on the p17 design (price bins →
    * returnflag) through [[fitGbtMulti]] over its (bin, y) census,
    * every output column an exact integer. */
  def p21Gbt3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val design = Stump.designCensus(spark, dir)
      .withColumn("yg", $"y" * 1000L).scopedPersist()
    fitGbtMulti(design, Seq("bin"), gbtRounds, binaryGrid,
      shiftFor(gbtRounds))._2
      .map(r => (r.round.toLong, r.thresholdBin, r.nLeft, r.nRight,
        r.vLeft, r.vRight, r.sseAfter))
      .toDF("round", "threshold_bin", "n_left", "n_right",
        "v_left", "v_right", "sse_after")
      .orderBy($"round")
  }

  /** One oracle boosting-round block over prediction CTE h{t-1}:
    * residual census → cumulative → candidates → 1-row best (leaf
    * values by the same shifted floor-division) → updated h{t} →
    * exact SSE e{t}. */
  private def oracleRound(t: Int): String = {
    val S = gbtShift
    val h = s"h${t - 1}"
    s"""s$t AS (SELECT bin, cnt, p, F,
            p * 1000 - cnt * F AS sr,
            p * (1000 - F) * (1000 - F) + (cnt - p) * F * F AS srr
          FROM $h),
        c$t AS (SELECT bin,
            CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS nl,
            CAST(sum(sr) OVER (ORDER BY bin) AS BIGINT) AS srl,
            CAST(sum(srr) OVER (ORDER BY bin) AS BIGINT) AS srrl
          FROM s$t),
        t$t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
            CAST(sum(sr) AS BIGINT) AS srt,
            CAST(sum(srr) AS BIGINT) AS srrt FROM s$t),
        f$t AS (SELECT c$t.bin, c$t.nl, c$t.srl, c$t.srrl,
            t$t.n - c$t.nl AS nr, t$t.srt - c$t.srl AS srr2,
            t$t.srrt - c$t.srrl AS srrr
          FROM c$t CROSS JOIN t$t WHERE c$t.nl < t$t.n),
        b$t AS (SELECT bin AS thr, nl, nr,
            ((srl + nl * $S) // nl) - $S AS vl,
            ((srr2 + nr * $S) // nr) - $S AS vr,
            row_number() OVER (ORDER BY $sseSql, bin) AS rk
          FROM f$t),
        sb$t AS (SELECT thr, nl, nr, vl, vr,
            ((vl + $S) // 2) - ${S / 2} AS dl,
            ((vr + $S) // 2) - ${S / 2} AS dr
          FROM b$t WHERE rk = 1),
        h$t AS (SELECT bin, cnt, p,
            F + CASE WHEN bin <= sb$t.thr THEN sb$t.dl ELSE sb$t.dr END
              AS F
          FROM $h CROSS JOIN sb$t),
        e$t AS (SELECT CAST(sum(p * (1000 - F) * (1000 - F)
              + (cnt - p) * F * F) AS BIGINT) AS sse FROM h$t)"""
  }

  /** One multi-feature oracle boosting-round block over row-level
    * prediction CTE hg{t-1}: per-row residual, per-(feature, bin)
    * censuses via UNION ALL, cumulative scan, shared-IEEE argmin
    * (sse → feature → bin), shifted floor-division leaf math, routed
    * prediction update, exact SSE. */
  private def oracleRoundMulti(t: Int): String = {
    val S = shiftFor(gbtRounds)
    val h = s"hg${t - 1}"
    val perFeature = graft.operators.Stump.multiFeatures.zipWithIndex
      .map { case (f, j) =>
        s"""SELECT $j AS feature, $f AS bin,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(rr) AS BIGINT) AS sr,
              CAST(sum(rr * rr) AS BIGINT) AS srr
            FROM sg$t GROUP BY $f"""
      }.mkString("\n          UNION ALL ")
    s"""sg$t AS (SELECT f0, f1, f2, y, F, y * 1000 - F AS rr FROM $h),
        hr$t AS ($perFeature),
        tr$t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
            CAST(sum(sr) AS BIGINT) AS srt,
            CAST(sum(srr) AS BIGINT) AS srrt
          FROM (SELECT cnt, sr, srr FROM hr$t WHERE feature = 0)),
        cr$t AS (SELECT feature, bin,
            CAST(sum(cnt) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS nl,
            CAST(sum(sr) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS srl,
            CAST(sum(srr) OVER (PARTITION BY feature ORDER BY bin)
              AS BIGINT) AS srrl
          FROM hr$t),
        fr$t AS (SELECT c.feature, c.bin, c.nl, c.srl, c.srrl,
            t.n - c.nl AS nr, t.srt - c.srl AS srr2,
            t.srrt - c.srrl AS srrr
          FROM cr$t c CROSS JOIN tr$t t WHERE c.nl < t.n),
        br$t AS (SELECT feature, bin AS thr, nl, nr,
            ((srl + nl * $S) // nl) - $S AS vl,
            ((srr2 + nr * $S) // nr) - $S AS vr,
            row_number() OVER (ORDER BY $sseSql, feature, bin) AS rk
          FROM fr$t),
        sr$t AS (SELECT feature, thr, nl, nr, vl, vr,
            ((vl + $S) // 2) - ${S / 2} AS dl,
            ((vr + $S) // 2) - ${S / 2} AS dr
          FROM br$t WHERE rk = 1),
        hg$t AS (SELECT h.f0, h.f1, h.f2, h.y,
            h.F + CASE WHEN (CASE s.feature WHEN 0 THEN h.f0
                WHEN 1 THEN h.f1 ELSE h.f2 END) <= s.thr
              THEN s.dl ELSE s.dr END AS F
          FROM $h h CROSS JOIN sr$t s),
        er$t AS (SELECT CAST(sum((y * 1000 - F) * (y * 1000 - F))
            AS BIGINT) AS sse FROM hg$t)"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p21_gbt3" -> p21Gbt3,
    "p23_gbt_multi" -> p23GbtMulti)

  val oracle: Map[String, String] = Map(
    "p23_gbt_multi" ->
      s"""WITH r AS (SELECT
              CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS f0,
              CAST(l_quantity AS BIGINT) AS f1,
              CAST(floor(l_discount * 100.0) AS BIGINT) AS f2,
              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem),
          g AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y) AS BIGINT) AS pos FROM r),
          hg0 AS (SELECT f0, f1, f2, y, (g.pos * 1000) // g.n AS F
            FROM r CROSS JOIN g),
          ${(1 to gbtRounds).map(oracleRoundMulti).mkString(",\n          ")}
          ${(1 to gbtRounds).map(t =>
            s"""SELECT CAST($t AS BIGINT) AS round,
                CAST(feature AS BIGINT) AS feature, thr AS threshold_bin,
                nl AS n_left, nr AS n_right, vl AS v_left, vr AS v_right,
                (SELECT sse FROM er$t) AS sse_after FROM sr$t""")
            .mkString("\n          UNION ALL\n          ")}
          ORDER BY round""",
    "p21_gbt3" ->
      s"""WITH r AS (SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT)
              AS bin,
              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
            FROM lineitem),
          hh AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(y) AS BIGINT) AS p
            FROM r GROUP BY bin),
          g AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
              CAST(sum(p) AS BIGINT) AS pos FROM hh),
          h0 AS (SELECT bin, cnt, p, (g.pos * 1000) // g.n AS F
            FROM hh CROSS JOIN g),
          ${(1 to gbtRounds).map(oracleRound).mkString(",\n          ")}
          ${(1 to gbtRounds).map(t =>
            s"""SELECT CAST($t AS BIGINT) AS round, thr AS threshold_bin,
                nl AS n_left, nr AS n_right, vl AS v_left, vr AS v_right,
                (SELECT sse FROM e$t) AS sse_after FROM sb$t""")
            .mkString("\n          UNION ALL\n          ")}
          ORDER BY round""")
}
