package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational core (SURVEY.md §2.B B2, D8–D16).
  *
  * All queries are declarative DataFrame plans — Catalyst handles
  * predicate pushdown, column pruning, join selection (broadcast for the
  * dim tables), partial/final aggregation and whole-stage codegen. Every
  * query has a DuckDB-equivalent oracle in [[oracle]] with identical
  * column names and deterministic ordering.
  *
  * Floating-point policy: aggregates of large-magnitude doubles (money
  * sums) are rounded to 0 decimals, averages/ratios to 4, so that
  * engine-order-dependent summation error (~1e-5 relative at sf0.01)
  * cannot flip the hash compare. Sort keys use either exact values
  * (integral doubles, raw column values) or the rounded output columns
  * plus a unique tiebreaker, so row order is engine-independent.
  *
  * Scale notes (100 TB design): every aggregation here is a map-side
  * partial + shuffle-on-group-key + final (Spark HashAggregate pairs);
  * dim-table joins (region/nation/customer/part) are explicitly
  * `broadcast()` so the fact table never shuffles for them; the only
  * fact-fact join (lineitem ⋈ orders) shuffles on the join key, which is
  * the minimum possible data movement for that join.
  */
object Relational {

  /** D11: full-scan hash aggregation, TPC-H Q1 pricing summary shape.
    * Map-side combine reduces 600k rows → 6 groups before the shuffle. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 0).as("sum_qty"),
        round(sum($"l_extendedprice"), 0).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 0).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** D9: filter pushdown — comparison, IN, LIKE all reach the parquet
    * scan (visible as PushedFilters in the formatted plan). */
  def q2Filter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .filter($"p_type".isin("ECONOMY", "PROMO") &&
        $"p_name".like("%red%") && $"p_size" >= 10)
      .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size")
      .orderBy($"p_partkey")
  }

  /** D10+D11+D14: customer ⋈ orders ⋈ lineitem, top-10 revenue orders
    * (TPC-H Q3 shape). customer is broadcast; lineitem ⋈ orders shuffles
    * on the order key only. */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" < lit("1999-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 0).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** D10: five-way star join lineitem⋈orders⋈customer⋈nation⋈region
    * (TPC-H Q5 shape) — all dims broadcast, one fact-fact shuffle. */
  def q4Join5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.region(spark, dir).filter($"r_name" === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 0).as("revenue"))
      .orderBy($"n_name")
  }

  /** D10 flagship: TPC-H Q8-shape market share — of all PROMO-part
    * revenue sold to AMERICA-region customers, the fraction supplied by
    * NATION_0 suppliers, per order year. Exercises the full join-order
    * problem: an 8-relation query where lineitem⋈orders is the one
    * fact-fact shuffle and every dimension (part filtered ~5×,
    * supplier, customer, the two nation roles, region) broadcasts.
    * At 100 TB part/supplier/customer outgrow the broadcast threshold
    * and Catalyst (with AQE) degrades each to a shuffle join
    * independently — the declarative form is the scale hedge.
    * Rounding: both engines round the two volume sums to whole dollars
    * BEFORE the ratio, so the share is a ratio of identical integers —
    * cross-engine FP summation order cannot flip the 6-dp rounding. */
  def q32MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir).filter($"p_type" === "PROMO")
    val supp = Tables.supplier(spark, dir)
    val cust = Tables.customer(spark, dir)
    val region = Tables.region(spark, dir).filter($"r_name" === "AMERICA")
    val n1 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("c_nk"), $"n_regionkey")
    val n2 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"c_nationkey" === $"c_nk")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .join(broadcast(n2), $"s_nationkey" === $"s_nk")
      .withColumn("volume", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(when($"supp_nation" === "NATION_0", $"volume")
          .otherwise(0.0)), 0).as("nation_volume"),
        round(sum($"volume"), 0).as("total_volume"))
      .withColumn("mkt_share", round($"nation_volume" / $"total_volume", 6))
      .orderBy($"o_year")
  }

  /** D10: left-semi join (EXISTS) — orders having a high-quantity line. */
  def q5Semi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigLines = Tables.lineitem(spark, dir).filter($"l_quantity" > 45.0)
    Tables.orders(spark, dir)
      .join(bigLines, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_orderstatus", round($"o_totalprice", 2).as("o_totalprice"))
      .orderBy($"o_orderkey")
  }

  /** D10: left-anti join (NOT EXISTS) — customers with no order since
    * 2001, counted per market segment. */
  def q6Anti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
      .select($"o_custkey")
    Tables.customer(spark, dir)
      .join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  /** D11: exact COUNT(DISTINCT) per group (expands to two-phase agg). */
  def q7Distinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** D12: approximate distinct (HLL++). No SQL oracle — the driver
    * records a rows-only check; the exact counterpart is q7.
    * rsd=0.02: measured ≤ ~1% worst-group error on every fixture tier
    * (the contract asserted in RelationalSpec is 5%) at 4× fewer HLL
    * registers than rsd=0.01, which benched 4-10× slower per pass. */
  def q8ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
      .orderBy($"l_returnflag")
  }

  /** D13+D14: row_number window → top-3 orders per market segment.
    * Sort keys (o_totalprice, o_orderkey) are raw column values, so the
    * ranking is engine-exact. */
  def q9WindowTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    // two-phase top-k: c_mktsegment has ~5 values, so a single window
    // would sort the whole fact table in 5 partitions regardless of
    // cluster size. Phase 1 takes a local top-3 per (segment, salt)
    // — 32× the parallelism — and phase 2 ranks only the survivors.
    // The global top-3 of a segment always survives its salt bucket's
    // local top-3, so results are identical to the one-window form.
    val salted = Tables.orders(spark, dir)
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .withColumn("salt", pmod(crc32($"o_orderkey".cast("string")), lit(32)))
    val wLocal = Window.partitionBy($"c_mktsegment", $"salt")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    salted
      .withColumn("rk_local", row_number().over(wLocal))
      .filter($"rk_local" <= 3)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"c_mktsegment", $"rk", $"o_orderkey", round($"o_totalprice", 2).as("o_totalprice"))
      .orderBy($"c_mktsegment", $"rk")
  }

  /** D13: running sum + lag/lead with a rows frame. Quantities are
    * integral doubles, so running sums are FP-exact in any order. */
  def q10WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
    Tables.lineitem(spark, dir)
      .filter($"l_suppkey" < 5)
      .withColumn("running_qty", sum($"l_quantity").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_qty", lag($"l_quantity", 1).over(w))
      .withColumn("next_qty", lead($"l_quantity", 1).over(w))
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_quantity",
        $"running_qty", $"prev_qty", $"next_qty")
      .orderBy($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber")
  }

  /** D14: global sort + limit (top-k by price; Spark runs this as
    * TakeOrderedAndProject — no full sort materialization). */
  def q11SortLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", round($"l_extendedprice", 2).as("l_extendedprice"))
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .limit(20)
  }

  /** D15: set ops — customers ordering in both 1995 and 1996 (INTERSECT)
    * minus those ordering in 1997 (EXCEPT). */
  def q12SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def custIn(year: Int): DataFrame =
      Tables.orders(spark, dir)
        .filter(expr(s"year(o_orderdate) = $year"))
        .select($"o_custkey")
    custIn(1995).intersect(custIn(1996)).except(custIn(1997))
      .orderBy($"o_custkey")
  }

  /** D15-extension: MULTISET set ops — `INTERSECT ALL` / `EXCEPT ALL`
    * preserve duplicate multiplicity, a different Catalyst rewrite than
    * q12's distinct-set forms (ReplaceIntersectWithSemiJoin vs
    * RewriteIntersectAll's generate+aggregate on replicated counts).
    * The per-key multiplicity in the output pins the ALL semantics. */
  def q33SetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def custIn(year: Int): DataFrame =
      Tables.orders(spark, dir)
        .filter(expr(s"year(o_orderdate) = $year"))
        .select($"o_custkey")
    custIn(1995).intersectAll(custIn(1996)).exceptAll(custIn(1997))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"))
      .orderBy($"o_custkey")
  }

  /** D16: string scalar functions — lower/upper/length/substring/split/
    * regexp_extract/concat/replace (all codegen'd built-ins). */
  def q13String(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .filter($"p_partkey" < 500)
      .select(
        $"p_partkey",
        lower($"p_name").as("lname"),
        upper($"p_brand").as("ubrand"),
        length($"p_name").as("name_len"),
        substring($"p_name", 1, 3).as("prefix3"),
        split($"p_name", " ").getItem(0).as("first_word"),
        regexp_extract($"p_name", "([a-z]+)$", 1).as("last_word"),
        concat($"p_brand", lit(":"), $"p_type").as("brand_type"),
        regexp_replace($"p_name", " ", "_").as("snake_name"))
      .orderBy($"p_partkey")
  }

  /** D16: date/timestamp functions — year/month/quarter/date_trunc. */
  def q14Date(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(
        year($"o_orderdate").as("o_year"),
        quarter($"o_orderdate").as("o_quarter"),
        date_trunc("month", $"o_orderdate").as("month_start"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 0).as("sum_price"))
      .orderBy($"o_year", $"o_quarter", $"month_start")
  }

  /** D16: JSON extraction on events.props + aggregation. */
  def q15Json(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("double"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(avg($"value"), 4).as("avg_value"),
        round(avg($"k"), 4).as("avg_k"),
        round(sum($"k"), 0).as("sum_k"))
      .orderBy($"event_type")
  }

  /** D16+D21: array/math functions over the embedding column — L2 norm
    * via the codegen'd Σx² expression (bit-identical to the
    * transform+aggregate HOF form, which is interpreted: one lambda
    * dispatch per element). */
  def q16ArrayMath(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .withColumn("dim", size($"embedding"))
      .withColumn("norm", Similarity.normCol($"embedding"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        max($"dim").as("dim"),
        round(avg($"norm"), 4).as("avg_norm"),
        round(min($"norm"), 4).as("min_norm"),
        round(max($"norm"), 4).as("max_norm"))
      .orderBy($"label")
  }

  /** D11: ROLLUP grouping sets over returnflag × linestatus. */
  def q17Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"), round(sum($"l_quantity"), 0).as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** D11: PIVOT — linestatus columns per returnflag (wide aggregation,
    * compiles to one conditional-sum hash aggregate, no extra shuffle
    * vs the long form). */
  def q21Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum($"l_quantity"), 0))
      .na.fill(0.0)
      .select($"l_returnflag", $"F".as("qty_f"), $"O".as("qty_o"))
      .orderBy($"l_returnflag")
  }

  /** D11: exact interpolated percentiles per group (Spark `percentile`
    * ≡ DuckDB `quantile_cont`). */
  /** D11: CUBE over (priority, order-year) — all four grouping
    * combinations in one pass. Spark expands the cube to grouping sets
    * before the hash aggregate, so it is still one partial-aggregated
    * shuffle (rows × 4 expansion map-side, combined before the wire). */
  def q23Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderpriority", year($"o_orderdate").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 0).as("sum_price"))
      .orderBy($"o_orderpriority".asc_nulls_first, $"o_year".asc_nulls_first)
  }

  /** Shared two-phase EXACT-percentile core (histogram + targeted
    * refinement), generalized over several value columns — the 100 TB
    * plan both q22 and q38 execute. Spark's `percentile` buffers each
    * group's whole value multiset in the final aggregate; this never
    * materializes a group:
    *
    *  1. bucket histogram — one map-side-combined shuffle producing
    *     (#groups × #cols × #buckets) counts; the only pass that
    *     touches every row, and it parallelizes perfectly;
    *  2. locate each needed order statistic k = p·(N−1) in its bucket
    *     from the driver-local cumulated histogram (bounded rows —
    *     bounded by the value range, never by row count);
    *  3. refine: rank ONLY the target buckets' rows (broadcast
    *     semi-join + per-bucket sort of a few thousand rows, parallel
    *     across buckets — never a per-group global sort), then
    *     interpolate with exactly `percentile`'s formula, so the
    *     answer is bit-identical to the buffering form's (and DuckDB
    *     `quantile_cont`'s; guarded in RelationalSpec).
    *
    * `long` needs columns (g: string, cid: int, v: double); `widths`
    * is the per-cid histogram bucket width (production with unknown
    * value ranges derives bounds from a q31-style sketch pre-pass);
    * `wants` lists the (cid, p) order statistics. Returns
    * (g, cid, p) → exact 4-dp interpolated percentile. Both collects
    * are bounded: the histogram by the value range, the picks by
    * 4 rows per (group, column). */
  private def twoPhasePercentiles(long: DataFrame, widths: Map[Int, Double],
      wants: Seq[(Int, Double)]): Map[(String, Int, Double), Double] = {
    import long.sparkSession.implicits._
    val withB = long.withColumn("b",
      floor($"v" / element_at(typedLit(widths), $"cid")).cast("long"))
    val hist = withB.groupBy($"g", $"cid", $"b")
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2), r.getLong(3)))
    val counts = hist.groupBy(_._1).map { case (gc, rows) =>
      gc -> rows.sortBy(_._2).map { case (_, b, c) => (b, c) }
    }
    val nByGc = counts.map { case (gc, bs) => gc -> bs.map(_._2).sum }
    val targets: Seq[(String, Int, Long, Long, Long)] = counts.toSeq.flatMap {
      case ((g, cid), bs) =>
        val n = nByGc((g, cid))
        val positions = wants.collect { case (c, p) if c == cid => p }
          .flatMap { p =>
            val k = p * (n - 1).toDouble
            Seq(math.floor(k).toLong, math.ceil(k).toLong)
          }.distinct
        var cum = 0L
        val spans = bs.map { case (b, c) => val s = (b, cum, c); cum += c; s }
        positions.map { pos =>
          val (b, before, _) = spans
            .find { case (_, lo, c) => pos >= lo && pos < lo + c }.get
          (g, cid, pos, b, pos - before)
        }
    }
    val tDf = targets.toDF("g", "cid", "pos", "b", "in_b")
    val wB = Window.partitionBy($"g", $"cid", $"b").orderBy($"v")
    val picked = withB
      .join(broadcast(tDf.select($"g", $"cid", $"b").distinct()),
        Seq("g", "cid", "b"), "left_semi")
      .withColumn("rk", (row_number().over(wB) - 1).cast("long"))
      .join(broadcast(tDf), Seq("g", "cid", "b"), "inner")
      .filter($"rk" === $"in_b")
      .select($"g", $"cid", $"pos", $"v")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    def rnd4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    (for {
      ((g, cid), n) <- nByGc.toSeq
      (c, p) <- wants if c == cid
    } yield {
      val k = p * (n - 1).toDouble
      val lo = picked((g, cid, math.floor(k).toLong))
      val hi = picked((g, cid, math.ceil(k).toLong))
      (g, cid, p) -> rnd4(lo + (k - math.floor(k)) * (hi - lo))
    }).toMap
  }

  /** D11: EXACT per-group percentiles — median quantity + p90 price
    * per returnflag. Since round 8 the BENCHED plan is the two-phase
    * [[twoPhasePercentiles]] form (no value-buffering `percentile`
    * aggregate anywhere in the executed plan — plan-guarded in
    * RelationalSpec); the buffering expression survives only inside
    * the spec as the bit-identity cross-check. Widths: quantity spans
    * 1..50 → width 1; price spans ~1e5 → width 64 (~1.6k buckets). */
  def q22Percentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val long = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("g"),
        posexplode(array($"l_quantity", $"l_extendedprice"))
          .as(Seq("cid", "v")))
    val res = twoPhasePercentiles(long, Map(0 -> 1.0, 1 -> 64.0),
      Seq((0, 0.5), (1, 0.9)))
    res.keys.map(_._1).toSeq.distinct.sorted
      .map(g => (g, res((g, 0, 0.5)), res((g, 1, 0.9))))
      .toDF("l_returnflag", "p50_qty", "p90_price")
      .orderBy($"l_returnflag")
  }

  /** D41: the original distributed-percentile operator (p50/p90 of
    * extendedprice per returnflag), now a thin binding over the shared
    * [[twoPhasePercentiles]] core. */
  def q38PercentileDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val long = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("g"), lit(0).as("cid"),
        $"l_extendedprice".as("v"))
    val res = twoPhasePercentiles(long, Map(0 -> 64.0),
      Seq((0, 0.5), (0, 0.9)))
    res.keys.map(_._1).toSeq.distinct.sorted
      .map(g => (g, res((g, 0, 0.5)), res((g, 0, 0.9))))
      .toDF("l_returnflag", "p50", "p90")
      .orderBy($"l_returnflag")
  }

  /** D9+D11: conditional aggregation (TPC-H Q14 promo-revenue shape)
    * with a broadcast part-dim join. */
  def q18CaseWhen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
    Tables.lineitem(spark, dir)
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .agg(
        round(sum(when($"p_type" === "PROMO",
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0)), 0)
          .as("promo_revenue"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 0).as("total_revenue"),
        round(avg(when($"p_type" === "PROMO", 1.0).otherwise(0.0)), 4).as("promo_frac"))
  }

  /** D175: WINSORIZED robust moments — per returnflag, the mean and
    * sample std of extendedprice after clamping to the exact
    * [p5, p95] percentile band: the outlier-robust summary a pricing
    * audit reports when raw means are tail-dominated (q35's MAD flags
    * outliers; this prices the distribution with them neutralized).
    *
    * Composition: the band bounds come from the SAME two-phase
    * distributed-percentile core q22/q38 execute (no value buffering
    * anywhere), tightened to integer cents (ceil(lo), floor(hi) of
    * the 4-dp interpolated bounds — deterministic on both engines),
    * so every clamped value is an exact long and the moment sums are
    * exact DECIMAL(38,0): mean/std are single IEEE closed forms.
    *
    * Scale shape: the percentile pre-pass is the q38 bounded-histogram
    * plan; the winsorized pass is ONE map-side-combined aggregate over
    * a broadcast 3-row bounds frame. */
  def q91Winsorized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("g"),
        floor($"l_extendedprice" * 100).cast("long").as("c"))
    val long = li.select($"g", lit(0).as("cid"), $"c".cast("double").as("v"))
    // cents span ~1e7 → width 6400 keeps ~1.6k buckets per group
    val ps = twoPhasePercentiles(long, Map(0 -> 6400.0),
      Seq((0, 0.05), (0, 0.95)))
    val bounds = ps.keys.map(_._1).toSeq.distinct.sorted.map { g =>
      (g, math.ceil(ps((g, 0, 0.05))).toLong,
        math.floor(ps((g, 0, 0.95))).toLong)
    }.toDF("g", "lo", "hi")
    li.join(broadcast(bounds), "g")
      .withColumn("wc", least(greatest($"c", $"lo"), $"hi"))
      .withColumn("clip",
        when($"c" < $"lo" || $"c" > $"hi", 1L).otherwise(0L))
      .groupBy($"g")
      .agg(count(lit(1)).as("n_rows"),
        max($"lo").as("lo"), max($"hi").as("hi"),
        sum($"clip").as("n_clipped"),
        sum($"wc".cast("decimal(38,0)")).as("s"),
        sum(($"wc".cast("decimal(38,0)") * $"wc")).as("ss"))
      .select($"g".as("l_returnflag"), $"n_rows",
        $"lo".as("lo_cents"), $"hi".as("hi_cents"), $"n_clipped",
        round(expr("CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE) / 100.0"), 4)
          .as("w_mean"),
        round(expr(
          """sqrt((CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n_rows AS DOUBLE))
             / CAST(n_rows - 1 AS DOUBLE)) / 100.0"""), 4).as("w_std"))
      .orderBy($"l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q91_winsorized" -> q91Winsorized,
    "q1_agg" -> q1Agg,
    "q2_filter" -> q2Filter,
    "q3_join_agg" -> q3JoinAgg,
    "q4_join5" -> q4Join5,
    "q32_market_share" -> q32MarketShare,
    "q5_semi" -> q5Semi,
    "q6_anti" -> q6Anti,
    "q7_distinct" -> q7Distinct,
    "q8_approx_distinct" -> q8ApproxDistinct,
    "q9_window_topk" -> q9WindowTopk,
    "q10_window_running" -> q10WindowRunning,
    "q11_sort_limit" -> q11SortLimit,
    "q12_setops" -> q12SetOps,
    "q33_setops_all" -> q33SetOpsAll,
    "q13_string" -> q13String,
    "q14_date" -> q14Date,
    "q15_json" -> q15Json,
    "q16_array_math" -> q16ArrayMath,
    "q17_rollup" -> q17Rollup,
    "q18_casewhen" -> q18CaseWhen,
    "q21_pivot" -> q21Pivot,
    "q22_percentile" -> q22Percentile,
    "q38_percentile_dist" -> q38PercentileDist,
    "q23_cube" -> q23Cube)

  val oracle: Map[String, String] = Map(
    "q91_winsorized" ->
      """WITH b AS (SELECT l_returnflag AS g,
              CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
            FROM lineitem),
          q AS (SELECT g,
              CAST(ceil(round(quantile_cont(CAST(c AS DOUBLE), 0.05), 4))
                AS BIGINT) AS lo,
              CAST(floor(round(quantile_cont(CAST(c AS DOUBLE), 0.95), 4))
                AS BIGINT) AS hi
            FROM b GROUP BY g),
          w AS (SELECT b.g, q.lo, q.hi,
              least(greatest(b.c, q.lo), q.hi) AS wc,
              CASE WHEN b.c < q.lo OR b.c > q.hi THEN 1 ELSE 0 END AS clip
            FROM b JOIN q USING (g)),
          m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
              max(lo) AS lo_cents, max(hi) AS hi_cents,
              CAST(sum(clip) AS BIGINT) AS n_clipped,
              sum(CAST(wc AS HUGEINT)) AS s,
              sum(CAST(wc AS HUGEINT) * wc) AS ss
            FROM w GROUP BY g)
          SELECT g AS l_returnflag, n_rows, lo_cents, hi_cents, n_clipped,
            round(CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE) / 100.0, 4)
              AS w_mean,
            round(sqrt((CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n_rows AS DOUBLE))
              / CAST(n_rows - 1 AS DOUBLE)) / 100.0, 4) AS w_std
          FROM m ORDER BY l_returnflag""",
    "q21_pivot" ->
      """SELECT l_returnflag,
           coalesce(round(sum(l_quantity) FILTER (l_linestatus = 'F'), 0), 0) AS qty_f,
           coalesce(round(sum(l_quantity) FILTER (l_linestatus = 'O'), 0), 0) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q22_percentile" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q38_percentile_dist" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 0) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 0) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q2_filter" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
         WHERE p_type IN ('ECONOMY','PROMO') AND p_name LIKE '%red%' AND p_size >= 10
         ORDER BY p_partkey""",
    "q3_join_agg" ->
      """SELECT l_orderkey, o_orderdate,
         round(sum(l_extendedprice * (1.0 - l_discount)), 0) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q4_join5" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 0) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name ORDER BY n_name""",
    "q32_market_share" ->
      """WITH v AS (
           SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1.0 - l_discount) AS volume,
             n2.n_name AS supp_nation
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           WHERE p_type = 'PROMO' AND r_name = 'AMERICA'),
         a AS (
           SELECT o_year, CAST(count(*) AS BIGINT) AS n_lines,
             round(sum(CASE WHEN supp_nation = 'NATION_0'
                            THEN volume ELSE 0.0 END), 0) AS nation_volume,
             round(sum(volume), 0) AS total_volume
           FROM v GROUP BY o_year)
         SELECT o_year, n_lines, nation_volume, total_volume,
           round(nation_volume / total_volume, 6) AS mkt_share
         FROM a ORDER BY o_year""",
    "q5_semi" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
         ORDER BY o_orderkey""",
    "q6_anti" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q7_distinct" ->
      """SELECT l_returnflag,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
         CAST(count(*) AS BIGINT) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q9_window_topk" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk,
             o_orderkey, round(o_totalprice, 2) AS o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey) t
         WHERE rk <= 3 ORDER BY c_mktsegment, rk""",
    "q10_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
         sum(l_quantity) OVER w AS running_qty,
         lag(l_quantity, 1) OVER w AS prev_qty,
         lead(l_quantity, 1) OVER w AS next_qty
         FROM lineitem WHERE l_suppkey < 5
         WINDOW w AS (PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""",
    "q11_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
         FROM lineitem
         ORDER BY round(l_extendedprice, 2) DESC, l_orderkey, l_linenumber LIMIT 20""",
    "q12_setops" ->
      """(SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
          INTERSECT
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
         ORDER BY o_custkey""",
    "q33_setops_all" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM (
           (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
           EXCEPT ALL
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
         GROUP BY o_custkey ORDER BY o_custkey""",
    "q13_string" ->
      """SELECT p_partkey,
         lower(p_name) AS lname, upper(p_brand) AS ubrand,
         CAST(length(p_name) AS INT) AS name_len,
         substring(p_name, 1, 3) AS prefix3,
         string_split(p_name, ' ')[1] AS first_word,
         regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
         p_brand || ':' || p_type AS brand_type,
         replace(p_name, ' ', '_') AS snake_name
         FROM part WHERE p_partkey < 500 ORDER BY p_partkey""",
    "q14_date" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(quarter(o_orderdate) AS INT) AS o_quarter,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice), 0) AS sum_price
         FROM orders GROUP BY 1, 2, 3 ORDER BY o_year, o_quarter, month_start""",
    "q15_json" ->
      """SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         round(avg(value), 4) AS avg_value,
         round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
         round(sum(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 0) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q16_array_math" ->
      """SELECT label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(max(len(embedding)) AS INT) AS dim,
         round(avg(norm), 4) AS avg_norm,
         round(min(norm), 4) AS min_norm,
         round(max(norm), 4) AS max_norm
         FROM (SELECT label, embedding,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
               FROM embeddings) t
         GROUP BY label ORDER BY label""",
    "q17_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(count(*) AS BIGINT) AS n_rows,
         round(sum(l_quantity), 0) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q23_cube" ->
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(sum(o_totalprice), 0) AS sum_price
         FROM orders GROUP BY CUBE (o_orderpriority, year(o_orderdate))
         ORDER BY o_orderpriority ASC NULLS FIRST, o_year ASC NULLS FIRST""",
    "q18_casewhen" ->
      """SELECT
         round(sum(CASE WHEN p_type = 'PROMO'
           THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 0) AS promo_revenue,
         round(sum(l_extendedprice * (1.0 - l_discount)), 0) AS total_revenue,
         round(avg(CASE WHEN p_type = 'PROMO' THEN 1.0 ELSE 0.0 END), 4) AS promo_frac
         FROM lineitem JOIN part ON l_partkey = p_partkey""")
}
