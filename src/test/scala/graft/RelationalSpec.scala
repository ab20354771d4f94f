package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query runs and returns rows at sf0.001") {
    // q87 is an ALERT query: an empty result is the healthy no-anomaly
    // answer at the smoke SF (it returns 7 rows at the sf0.01 oracle
    // tier) — it must still RUN cleanly, just not produce rows
    val emptyOkAtSmoke = Set("q87_residual_anomaly")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (!emptyOkAtSmoke(name))
        assert(n > 0, s"query $name returned no rows")
    }
  }

  test("every query has either an oracle or is a documented rows-only check") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep the rows-only list explicit so additions are deliberate
    assert(noOracle.subsetOf(
      Set("q8_approx_distinct", "q31_approx_percentile")),
      s"missing oracle for $noOracle")
  }

  test("q1_agg aggregates to the six returnflag×linestatus groups") {
    val rows = operators.Relational.q1Agg(spark, sf).collect()
    assert(rows.length >= 4 && rows.length <= 9)
    val qty = rows.map(_.getAs[Double]("sum_qty")).sum
    val cnt = rows.map(_.getAs[Long]("count_order")).sum
    assert(qty > 0 && cnt > 0)
    assert(math.abs(qty / cnt - rows.map(r =>
      r.getAs[Double]("avg_qty") * r.getAs[Long]("count_order")).sum / cnt) < 0.01)
  }

  test("q9_window_topk emits exactly rank 1..3 per segment") {
    val rows = operators.Relational.q9WindowTopk(spark, sf).collect()
    val bySeg = rows.groupBy(_.getAs[String]("c_mktsegment"))
    bySeg.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == Seq(1, 2, 3))
      val prices = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("o_totalprice"))
      assert(prices.sameElements(prices.sortBy(-(_: Double))))
    }
  }

  test("q12_setops respects set semantics (no duplicates)") {
    val keys = operators.Relational.q12SetOps(spark, sf).collect().map(_.getLong(0))
    assert(keys.distinct.length == keys.length)
  }

  test("approx distinct is within 5% of exact") {
    val approx = operators.Relational.q8ApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = operators.Relational.q7Distinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e < 0.05, s"$k: ${approx(k)} vs $e")
    }
  }

  test("q38 distributed percentile: bit-equal to the buffering percentile, none in plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val dist = graft.operators.Relational.q38PercentileDist(spark, sf)
    dist.collect().foreach { r =>
      val (e50, e90) = direct(r.getAs[String]("l_returnflag"))
      assert(r.getAs[Double]("p50") == e50 && r.getAs[Double]("p90") == e90,
        s"distributed percentile diverged for ${r.getString(0)}")
    }
    // the point of q38: no value-buffering Percentile aggregate anywhere
    val plan = dist.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      "q38 plan contains a buffering percentile aggregate")
  }

  test("q91 winsorized moments equal a brute clamp replay; percentile-free plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cents = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_returnflag", floor($"l_extendedprice" * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the bounds as the engine derives them: Spark's own percentile
    // expression (≡ the two-phase core, proven bit-equal), 4-dp, then
    // integer tightening
    val pb = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_returnflag".as("g"),
        floor($"l_extendedprice" * 100).cast("long").cast("double").as("v"))
      .groupBy($"g")
      .agg(round(expr("percentile(v, 0.05)"), 4).as("p5"),
        round(expr("percentile(v, 0.95)"), 4).as("p95"))
      .collect().map(r => r.getString(0) ->
        (math.ceil(r.getDouble(1)).toLong, math.floor(r.getDouble(2)).toLong))
      .toMap
    val expected = cents.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
      val (lo, hi) = pb(g)
      val wc = rows.map(r => math.min(math.max(r._2, lo), hi))
      val clipped = rows.count(r => r._2 < lo || r._2 > hi).toLong
      val n = wc.length
      val s = wc.map(BigInt(_)).sum
      val ss = wc.map(x => BigInt(x) * x).sum
      val mean = s.toDouble / n.toDouble / 100.0
      val std = math.sqrt((ss.toDouble - s.toDouble * s.toDouble / n.toDouble)
        / (n - 1).toDouble) / 100.0
      (g, n.toLong, lo, hi, clipped, r4(mean), r4(std))
    }
    val dist = graft.operators.Relational.q91Winsorized(spark, sf)
    val got = dist.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
      r.getDouble(6))).toSeq
    assert(got == expected && got.nonEmpty)
    // something was actually clipped, and std shrank vs the raw std
    assert(got.exists(_._5 > 0))
    val plan = dist.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      "q91 plan contains a buffering percentile aggregate")
  }

  test("q22 benched plan is two-phase: bit-equal to buffering percentile, none in plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the buffering expression lives ONLY here, as the cross-check
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val dist = graft.operators.Relational.q22Percentile(spark, sf)
    val rows = dist.collect()
    assert(rows.nonEmpty && rows.length == direct.size)
    rows.foreach { r =>
      val (e50, e90) = direct(r.getAs[String]("l_returnflag"))
      assert(r.getAs[Double]("p50_qty") == e50 && r.getAs[Double]("p90_price") == e90,
        s"q22 two-phase diverged for ${r.getString(0)}")
    }
    val plan = dist.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      "q22 benched plan contains a buffering percentile aggregate")
  }
}
