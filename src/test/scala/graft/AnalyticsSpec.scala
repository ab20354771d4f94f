package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics
import graft.sources.Tables

/** Semantics guards for the D61–D64 behavioral-analytics surface. */
class AnalyticsSpec extends AnyFunSuite {
  import TestSpark._

  test("q46 SCD2 intervals tile each user's purchase timeline without overlap") {
    val rows = Analytics.q46Scd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getLong(1)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (user, ivs) =>
      // (valid_from, event_id): the exact order the lead window uses,
      // so same-ts purchase pairs sort deterministically
      val sorted = ivs.sortBy(iv => (iv._2.getTime, iv._4))
      // exactly one open (current) interval per user, and it is the last
      assert(sorted.init.forall(_._3.isDefined), s"user $user: open interval not last")
      assert(sorted.last._3.isEmpty, s"user $user: last interval not open")
      // each interval closes exactly where the next opens (no gaps/overlap)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3.contains(b._2), s"user $user: interval gap/overlap")
        case _ =>
      }
    }
  }

  test("q46 activity counts match a brute-force per-event replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    val byUser = ev.groupBy(_._1)
    val expected = byUser.toSeq.flatMap { case (user, es) =>
      val changes = es.filter(_._4 == "purchase").sortBy(e => (e._2, e._3))
      val acts = es.filter(_._4 != "purchase").map(_._2)
      changes.zipWithIndex.map { case (c, i) =>
        val to = if (i + 1 < changes.length) Some(changes(i + 1)._2) else None
        val n = acts.count(t => t >= c._2 && to.forall(t < _))
        (user, c._3) -> n.toLong
      }
    }.toMap
    val got = Analytics.q46Scd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    assert(got == expected)
  }

  test("q72 incremental SCD2 equals the from-scratch build on a non-degenerate split") {
    import spark.implicits._
    val cutoff = java.sql.Timestamp.valueOf(Analytics.q72Cutoff)
    val purchases = Tables.events(spark, sf)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    // the split is non-degenerate: both sides populated, and some user
    // has purchases on BOTH sides (so the rework path is exercised),
    // while some user is base-only (so the carry path is exercised)
    val (base, delta) = purchases.partition(_._2.before(cutoff))
    assert(base.nonEmpty && delta.nonEmpty)
    val baseUsers = base.map(_._1).toSet
    val deltaUsers = delta.map(_._1).toSet
    assert((baseUsers intersect deltaUsers).nonEmpty, "no user spans the cutoff")
    assert((baseUsers diff deltaUsers).nonEmpty, "no carried-over user")
    // incremental result ≡ full rebuild over all purchases
    val full = Analytics.dimIntervals(Tables.events(spark, sf))
      .select($"user_id", $"event_id", $"valid_from", $"valid_to", $"tier")
      .orderBy($"user_id", $"valid_from", $"event_id")
      .collect().map(_.toString).toSeq
    val inc = Analytics.q72Scd2Incremental(spark, sf)
      .collect().map(_.toString).toSeq
    assert(inc == full)
  }

  test("q73 proration conserves every order's cents exactly and matches a brute replay") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber",
        round($"l_quantity").cast("long")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ord = Tables.orders(spark, sf)
      .select($"o_orderkey", floor($"o_totalprice" * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = li.groupBy(_._1).toSeq.flatMap { case (ok, lines) =>
      val cents = ord(ok)
      val tot = lines.map(_._3).sum
      val withBase = lines.map { case (_, ln, q) =>
        (ln, q, cents * q / tot, cents * q % tot)
      }
      val leftover = cents - withBase.map(_._3).sum
      val ranked = withBase.sortBy { case (ln, q, _, f) => (-f, ln, q) }
        .zipWithIndex
      ranked.map { case ((ln, q, b, _), i) =>
        (ok, ln, q, b + (if (i < leftover) 1L else 0L))
      }
    }
    // conservation: exact per-order reconciliation
    expected.groupBy(_._1).foreach { case (ok, rs) =>
      assert(rs.map(_._4).sum == ord(ok), s"order $ok does not reconcile")
    }
    // engine output equals the replay AS A MULTISET per (order, line)
    // — duplicate (order, line) fixture rows are interchangeable
    val got = Analytics.q73Prorate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.groupBy(x => (x._1, x._2)).view
      .mapValues(_.map(_._3).sorted.toSeq).toMap ==
      expected.groupBy(x => (x._1, x._2)).view
        .mapValues(_.map(_._4).sorted.toSeq).toMap)
  }

  test("q47 pair counts match a driver replay and the output order is total") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairCounts = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expectedTop = pairCounts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
    val got = Analytics.q47Copurchase(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSeq
    assert(got == expectedTop)
  }

  test("q48 transition rows partition all consecutive event pairs; probs sum to 1") {
    import spark.implicits._
    val rows = Analytics.q48Transitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // total transition count = sum over users of (events - 1)
    val perUser = Tables.events(spark, sf).groupBy($"user_id")
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
    assert(rows.map(_._3).sum == perUser.map(_ - 1).sum)
    // per-prev probabilities sum to ~1 (4-dp rounding tolerance)
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      val s = rs.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-3 * rs.length, s"prev=$prev probs sum to $s")
    }
  }

  test("q51 incremental merge equals a from-scratch rollup, with both halves live") {
    import spark.implicits._
    val orders = Tables.orders(spark, sf)
    // the demo only demonstrates maintenance if base AND delta are non-empty
    val before = orders.filter($"o_orderdate" < lit(Analytics.q51Cutoff)).count()
    val after = orders.filter($"o_orderdate" >= lit(Analytics.q51Cutoff)).count()
    assert(before > 0 && after > 0, s"degenerate split: $before/$after")
    val scratch = orders
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor($"o_totalprice" * 100).cast("long")).as("total_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Analytics.q51IncrementalRollup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == scratch)
  }

  test("q50 sole-return counts match a brute replay; plan is semi+anti joined") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_suppkey", $"l_returnflag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byOrder = li.groupBy(_._1)
    val counts = li.filter(_._3 == "R").flatMap { case (o, s, _) =>
      val order = byOrder(o)
      val multi = order.exists(l => l._2 != s)
      val otherRet = order.exists(l => l._2 != s && l._3 == "R")
      if (multi && !otherRet) Some(s) else None
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val suppliers = Tables.supplier(spark, sf)
      .select($"s_suppkey", $"s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = counts.toSeq.map { case (s, n) => (s, suppliers(s), n) }
      .sortBy { case (s, _, n) => (-n, s) }.take(20)
    val got = Analytics.q50SoleReturns(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the dual EXISTS must decorrelate to one semi and one anti join
    val p = Analytics.q50SoleReturns(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LeftSemi"), "multi-supplier EXISTS not a semi join")
    assert(p.contains("LeftAnti"), "sole-return NOT EXISTS not an anti join")
  }

  test("q49 trailing DAU matches a brute 7-day re-dedup per observed day") {
    import spark.implicits._
    val du = Tables.events(spark, sf)
      .select(to_date($"ts").as("day"), $"user_id").distinct().collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = du.map(_._1).distinct
    val expected = days.map { d =>
      d -> du.filter { case (ad, _) =>
        !ad.isAfter(d) && !ad.isBefore(d.minusDays(6))
      }.map(_._2).distinct.size.toLong
    }.toMap
    val got = Analytics.q49TrailingDau(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("q52 AUC matches a brute pairwise Mann-Whitney count") {
    import spark.implicits._
    val scored = Tables.documents(spark, sf).select($"doc_id", $"n_chars")
      .join(Tables.embeddings(spark, sf)
        .select($"vec_id".as("doc_id"), $"label"), "doc_id")
      .collect()
      .map(r => (r.getLong(1), r.getInt(2) >= Analytics.aucPosCut))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    // brute AUC: P(score_pos > score_neg) + 0.5 P(tie) over all pairs
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    val brute = wins.toDouble / (2.0 * pos.length * neg.length)
    val row = Analytics.q52Auc(spark, sf).collect().head
    assert(row.getLong(0) == pos.length && row.getLong(1) == neg.length)
    assert(math.abs(row.getDouble(2) - brute) < 5e-5,
      s"rank-sum AUC ${row.getDouble(2)} != brute $brute")
  }

  test("q55 RFM census equals a brute quintile replay") {
    import spark.implicits._
    val maxDate = Tables.orders(spark, sf)
      .agg(max($"o_orderdate").cast("date").cast("string")).head.getString(0)
    val rfm = Tables.orders(spark, sf).groupBy($"o_custkey")
      .agg(count(lit(1)).as("f"),
        sum(floor($"o_totalprice" * 100).cast("long")).as("m"),
        datediff(lit(maxDate).cast("date"),
          max($"o_orderdate").cast("date")).as("r"))
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getInt(3)))
    def quintiles(vs: Seq[Double]): Seq[Double] = {
      val s = vs.sorted
      Seq(0.2, 0.4, 0.6, 0.8).map { p =>
        val k = p * (s.length - 1)
        val lo = s(math.floor(k).toInt); val hi = s(math.ceil(k).toInt)
        lo + (k - math.floor(k)) * (hi - lo)
      }
    }
    val (bf, bm, br) = (quintiles(rfm.map(_._1.toDouble)),
      quintiles(rfm.map(_._2.toDouble)), quintiles(rfm.map(_._3.toDouble)))
    def asc(v: Double, b: Seq[Double]) = b.count(v > _) + 1
    def desc(v: Double, b: Seq[Double]) = 5 - b.count(v > _)
    val expected = rfm
      .map { case (f, m, r) =>
        ((desc(r.toDouble, br), asc(f.toDouble, bf), asc(m.toDouble, bm)), m) }
      .groupBy(_._1).map { case ((rs, fs, ms), xs) =>
        val cents = xs.map(_._2)
        (rs, fs, ms, cents.length.toLong, cents.sum, cents.sum / cents.length)
      }.toSeq.sortBy(x => (x._1, x._2, x._3))
    val got = Analytics.q55Rfm(spark, sf).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getInt(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    assert(got == expected)
    assert(got.map(_._4).sum == rfm.length.toLong)
  }

  test("q56 decile lift equals a brute group-start replay and ends at lift 1") {
    import spark.implicits._
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = Tables.documents(spark, sf).select($"doc_id", $"n_chars")
      .join(Tables.embeddings(spark, sf)
        .select($"vec_id".as("doc_id"), $"label"), "doc_id")
      .collect()
      .map(r => (r.getLong(1), if (r.getInt(2) >= Analytics.aucPosCut) 1L else 0L))
    val total = scored.length.toLong
    val totalPos = scored.map(_._2).sum
    val groups = scored.groupBy(_._1).toSeq.sortBy(-_._1)
      .map { case (s, xs) => (s, xs.length.toLong, xs.map(_._2).sum) }
    val deciles = groups.scanLeft(0L)(_ + _._2).zip(groups)
      .map { case (cumBefore, (_, n, np)) =>
        ((1L + 10L * cumBefore / total).toInt, n, np) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, xs) => (d, xs.map(_._2).sum, xs.map(_._3).sum) }
    val expected = deciles.scanLeft((0L, 0L)) {
      case ((cn, cp), (_, n, np)) => (cn + n, cp + np)
    }.tail.zip(deciles).map { case ((cumN, cumPos), (d, n, np)) =>
      (d, n, np, cumPos, r4(np.toDouble / n),
        r4((cumPos * total).toDouble / (cumN * totalPos)))
    }
    val got = Analytics.q56DecileLift(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected)
    // the full population has lift exactly 1 by construction
    assert(got.last._6 == 1.0)
  }

  test("q59 weighted quartiles equal a brute cumulative-mass replay") {
    import spark.implicits._
    val rows = Tables.lineitem(spark, sf)
      .select($"l_returnflag",
        floor($"l_extendedprice" * 100).cast("long").as("cents"),
        round($"l_quantity").cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val byVal = xs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tot = byVal.map(_._2).sum
      def q(num: Long, den: Long): Long = {
        var cum = 0L
        byVal.find { case (_, w) => cum += w; den * cum >= num * tot }
          .get._1
      }
      (f, q(1, 4), q(1, 2), q(3, 4), tot)
    }
    val got = Analytics.q59WeightedQuartiles(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    got.foreach { case (_, p25, p50, p75, _) =>
      assert(p25 <= p50 && p50 <= p75)
    }
  }

  test("q60 Gini equals a brute sorted-rank replay and stays in [0,1)") {
    import spark.implicits._
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spend = Tables.orders(spark, sf).groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("cents"))
      .join(Tables.customer(spark, sf)
        .select($"c_custkey".as("o_custkey"), $"c_nationkey"), "o_custkey")
      .join(Tables.nation(spark, sf)
        .select($"n_nationkey".as("c_nationkey"), $"n_name"), "c_nationkey")
      .select($"n_name", $"cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = spend.groupBy(_._1).toSeq.sortBy(_._1).map { case (nat, xs) =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.length.toLong
      val sx = sorted.sum
      val rs = sorted.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
      (nat, n, sx,
        r4(2.0 * rs.toDouble / (n * sx).toDouble
          - (n + 1L).toDouble / n.toDouble))
    }
    val got = Analytics.q60GiniSpend(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    got.foreach { case (nat, _, _, g) =>
      assert(g >= 0.0 && g < 1.0, s"$nat gini $g out of range")
    }
  }

  test("q58 association rules equal a brute a-priori replay") {
    import spark.implicits._
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nOrders = li.map(_._1).distinct.length.toLong
    val sup = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairs = li.groupBy(_._1).values.toSeq.flatMap { xs =>
      val ps = xs.map(_._2)
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSeq.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= Analytics.ruleMinSupport)
    val expected = pairs.toSeq.flatMap { case ((a, b), sab) =>
      if (10L * sab >= sup(a))
        Some((a, b, sab, r4(sab.toDouble / sup(a)),
          r4((sab * nOrders).toDouble / (sup(a) * sup(b)))))
      else None
    }.sortBy(x => (-x._5, x._1, x._2)).take(20)
    val got = Analytics.q58AssocRules(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall(r => r._4 >= 0.1 - 1e-9))
  }

  test("q57 CUSUM flags equal a brute integer replay") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .groupBy(date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .sortBy(_._1.toEpochDay)
    val n = daily.length.toLong
    val total = daily.map(_._2).sum
    val expected = daily.zipWithIndex.flatMap { case ((day, x), i) =>
      val t = i + 1L
      val cum = daily.take(i + 1).map(_._2).sum
      val dev = n * cum - t * total
      if (10L * math.abs(dev) >= total)
        Some((day, x, BigDecimal(dev.toDouble / total.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.toSeq
    val got = Analytics.q57Cusum(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == expected)
    assert(got.nonEmpty, "fixture should flag at least one drift day")
  }

  test("q54 seasonal anomalies equal a brute slot-baseline replay") {
    import spark.implicits._
    val hours = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", $"ts").as("hr_ts"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val cal = java.util.Calendar.getInstance(
      java.util.TimeZone.getTimeZone("UTC"))
    def slot(ts: java.sql.Timestamp): (Int, Int) = {
      cal.setTime(ts)
      (cal.get(java.util.Calendar.DAY_OF_WEEK) - 1,
        cal.get(java.util.Calendar.HOUR_OF_DAY))
    }
    val bySlot = hours.groupBy(h => slot(h._1))
    val expected = hours.flatMap { case (ts, cnt) =>
      val sl = bySlot(slot(ts))
      val (total, n) = (sl.map(_._2).sum, sl.length.toLong)
      if (2L * cnt * n >= 3L * total)
        Some((ts, cnt, BigDecimal(cnt.toDouble * n / total)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.sortBy(_._1.getTime).toSeq
    val got = Analytics.q54SeasonalAnomaly(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "fixture should contain at least one anomaly")
  }

  test("q53 skyline equals brute dominance filter and is a staircase") {
    import spark.implicits._
    val parts = Tables.part(spark, sf)
      .select($"p_partkey", $"p_size",
        floor($"p_retailprice" * 100 + 0.5).cast("long").as("pc"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expected = parts.filter { case (_, s, c) =>
      !parts.exists { case (_, s2, c2) =>
        c2 <= c && s2 >= s && (c2 < c || s2 > s)
      }
    }.map(p => (p._1, p._3, p._2)).sortBy(p => (p._2, p._1)).toSeq
    val got = Analytics.q53Skyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expected)
    // staircase: along ascending price, surviving size strictly
    // increases (else the cheaper row would dominate), except for
    // equal-(price,size) duplicates which co-survive
    got.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b._3 > a._3 || (b._2 == a._2 && b._3 == a._3),
          s"not a staircase at $a -> $b")
      case _ =>
    }
  }

  test("q61 Benford digits equal a driver replay and probabilities close") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val prices = Tables.orders(spark, sf).select("o_totalprice").collect()
      .map(_.getDouble(0))
    val digits = prices.map(p => math.floor(p).toLong.toString.charAt(0) - '0')
    val total = digits.length.toLong
    val expected = digits.groupBy(identity).toSeq.sortBy(_._1).map {
      case (d, xs) =>
        val obs = r4(xs.length.toDouble / total.toDouble)
        val exp = r4(math.log10(1.0 + 1.0 / d))
        (d, xs.length.toLong, obs, exp, r4(obs - exp))
    }
    val got = Analytics.q61Benford(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    // the observed distribution is a probability distribution
    assert(math.abs(got.map(_._3).sum - 1.0) < 0.001)
    assert(math.abs(got.map(_._4).sum - 1.0) < 0.001)
  }

  test("q62 inter-purchase gaps equal a driver replay; gaps nonnegative") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val secs = xs.sortBy(x => (x._2.getTime, x._2.getNanos, x._3))
        .map(x => Math.floorDiv(x._2.getTime, 1000L)).toSeq
      val gaps = secs.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      if (gaps.isEmpty) None
      else Some((u, gaps.size.toLong, gaps.min, gaps.max,
        r4(gaps.sum.toDouble / gaps.size.toDouble)))
    }.sortBy(_._1)
    val got = Analytics.q62Interpurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.forall(_._3 >= 0L), "time went backwards within a user")
  }

  test("q63 ABC classes equal a brute cumulative replay; shares sum to 1") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rev = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0),
        math.floor(r.getDouble(1) * (1.0 - r.getDouble(2)) * 100).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val blocks = rev.values.groupBy(identity).toSeq
      .map { case (v, xs) => (v, xs.size.toLong) }.sortBy(-_._1)
    val total = blocks.map { case (v, c) => v * c }.sum
    var cum = 0L
    val classed = blocks.map { case (v, c) =>
      val cls = if (5 * cum < 4 * total) "A"
        else if (20 * cum < 19 * total) "B" else "C"
      cum += v * c
      (cls, c, v * c)
    }
    val expected = classed.groupBy(_._1).toSeq.map { case (cls, xs) =>
      val cents = xs.map(_._3).sum
      (cls, xs.map(_._2).sum, cents, r4(cents.toDouble / total.toDouble))
    }.sortBy(_._1)
    val got = Analytics.q63Abc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected)
    assert(got.map(_._1) == Seq("A", "B", "C"))
    assert(math.abs(got.map(_._4).sum - 1.0) < 0.001)
    // with B nonempty, A's cumulative end sits at or past the 80% line
    assert(5L * got.head._3 >= 4L * total, "class A must cover >= 80% of revenue")
  }

  test("q64 duplicate invoices equal a brute pair replay") {
    val orders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.floor(r.getDouble(2) * 100).toLong,
        // o_orderdate is TIMESTAMP_NTZ (LocalDateTime) in the current
        // fixture generation; epoch-seconds in UTC = the engine's
        // unix_timestamp under the suite's UTC session tz
        r.getAs[java.time.LocalDateTime](3)
          .toEpochSecond(java.time.ZoneOffset.UTC)))
    val expected = orders.groupBy(_._1).toSeq.flatMap { case (_, xsArr) =>
      val xs = xsArr.toSeq
      for {
        a <- xs; b <- xs
        if a._2 < b._2
        if math.abs(a._4 - b._4) <= Analytics.dupInvWindowS
        if 100L * math.abs(a._3 - b._3) <= Analytics.dupInvTolPct * a._3
      } yield (a._1, a._2, b._2, a._3, b._3, math.abs(a._4 - b._4))
    }.sortBy(t => (t._1, t._2, t._3))
    val got = Analytics.q64DupInvoices(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "fixture should contain at least one near-dup pair")
  }

  test("q66 skew census equals a driver key-count replay") {
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val keys = Tables.lineitem(spark, sf).select("l_partkey").collect()
      .map(_.getLong(0))
    val cnt = keys.groupBy(identity).map { case (k, xs) => (k, xs.length.toLong) }
    val nKeys = cnt.size.toLong; val nRows = keys.length.toLong
    val maxCnt = cnt.values.max
    val top10 = cnt.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
      .map(_._2).sum
    val expected = (nKeys, nRows, maxCnt,
      r4(nRows.toDouble / nKeys.toDouble),
      r4((maxCnt * nKeys).toDouble / nRows.toDouble),
      r4(top10.toDouble / nRows.toDouble))
    val got = Analytics.q66SkewCensus(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(expected))
    assert(got.head._5 >= 1.0, "skew ratio below 1 is impossible")
  }

  test("q65 Holt smoothing equals an exact driver fold replay") {
    import graft.operators.TimeSeries
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("nation", "day").agg(sum("cents").as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    val expected = daily.groupBy(_._1).toSeq.flatMap { case (nation, xs) =>
      var has = false; var l = 0.0; var b = 0.0
      xs.sortBy(_._2.toLocalDate.toEpochDay).map { case (_, day, y) =>
        val yd = y.toDouble
        val (err, nl, nb) =
          if (!has) (0.0, yd, 0.0)
          else {
            val e = yd - (l + b)
            val l1 = 0.5 * yd + 0.5 * (l + b)
            (e, l1, 0.5 * (l1 - l) + 0.5 * b)
          }
        has = true; l = nl; b = nb
        (nation, day.toLocalDate, y, r4(l), r4(b), r4(err))
      }
    }.sortBy(x => (x._1, x._2.toEpochDay))
    val got = TimeSeries.q65Holt(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected)
    // first observation of every series: level = y, trend = err = 0
    got.groupBy(_._1).values.foreach { xs =>
      val h = xs.minBy(_._2.toEpochDay)
      assert(h._4 == r4(h._3.toDouble) && h._5 == 0.0 && h._6 == 0.0)
    }
  }

  test("q79 HHI equals an exact BigInt driver replay and brackets correctly") {
    import spark.implicits._
    val spend = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf), $"l_suppkey" === $"s_suppkey")
      .select($"s_nationkey", $"s_suppkey",
        floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100).cast("long"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val byNation = spend.groupBy(_._1._1)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Analytics.q79Hhi(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(got.nonEmpty)
    byNation.foreach { case (nat, ss) =>
      val cs = ss.map(_._2)
      val tot = cs.sum
      val hhi = (cs.map(c => BigInt(c) * BigInt(c)).sum.toDouble
        / (tot.toDouble * tot.toDouble))
      val (gn, gt, gh, gts) = got(nat)
      assert(gn == cs.length && gt == tot)
      assert(gh == r4(hhi) && gts == r4(cs.max.toDouble / tot.toDouble))
      // HHI bounds: 1/n <= HHI <= 1
      assert(gh >= 1.0 / cs.length - 1e-4 && gh <= 1.0001)
    }
  }

  test("q80 decomposition reconstructs y = trend + seasonal + residual on full windows") {
    import spark.implicits._
    val monthly = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .select($"c_nationkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val rows = Analytics.q80SeasonalDecompose(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, cents, tr, se, re) =>
      // additive identity to rounding noise
      assert(math.abs(cents.toDouble - (tr + se + re)) < 2e-3)
    }
    // seasonal is a pure function of (nation, month-of-year)
    rows.groupBy(t => (t._1, ((t._2 % 12) + 12) % 12)).foreach { case (_, g) =>
      assert(g.map(_._5).distinct.size == 1)
    }
    // edge trim: emitted months have 6 neighbors on both sides observed
    val haveMonth = monthly.keySet.map { case (n, m) => (n, m) }
    rows.foreach { case (n, m, _, _, _, _) =>
      (-6 to 6).foreach(d => assert(haveMonth.contains((n, m + d)),
        s"nation $n month $m missing neighbor ${m + d}"))
    }
  }

  test("q81 migration matrix equals a driver banding replay and conserves customers") {
    import spark.implicits._
    val d = Tables.orders(spark, sf)
      .select($"o_custkey",
        datediff(to_date($"o_orderdate"), lit("1970-01-01")),
        floor($"o_totalprice" * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val mid = (d.map(_._2).min + d.map(_._2).max) / 2
    def bands(half: Array[(Long, Long)]): Map[Long, Int] = {
      val ranked = half.sortBy(t => (t._2, t._1)).zipWithIndex
      val cnt = half.length.toLong
      ranked.map { case ((cust, _), i) =>
        cust -> ((Analytics.migBands * i.toLong / cnt).toInt + 1)
      }.toMap
    }
    def halfSpend(p: ((Long, Int, Long)) => Boolean): Array[(Long, Long)] =
      d.filter(p).groupBy(_._1).view.mapValues(_.map(_._3).sum).toArray
    val b1 = bands(halfSpend(_._2 <= mid))
    val b2 = bands(halfSpend(_._2 > mid))
    val expected = (b1.keySet ++ b2.keySet).toSeq
      .map(c => (b1.getOrElse(c, 0), b2.getOrElse(c, 0)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Analytics.q81SegmentMigration(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == expected && got.nonEmpty)
    // every customer appears exactly once in the matrix
    assert(got.values.sum == (b1.keySet ++ b2.keySet).size.toLong)
  }

  test("q82 Lorenz deciles are convex, conserve totals, and end at share 1") {
    import spark.implicits._
    val per = Tables.orders(spark, sf)
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = Analytics.q82LorenzDeciles(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to 10))
    assert(rows.map(_._2).sum == per.length.toLong)
    assert(rows.map(_._3).sum == per.map(_._2).sum)
    assert(math.abs(rows.last._4 - 1.0) < 1e-9)
    // Lorenz convexity: ascending deciles have nondecreasing mass
    val mass = rows.map(r => r._3.toDouble / r._2.toDouble)
    assert(mass.zip(mass.tail).forall { case (a, b) => b >= a - 1e-9 })
    // replay decile banding exactly
    val ranked = per.sortBy(t => (t._2, t._1)).zipWithIndex
    val cnt = per.length.toLong
    val expDec = ranked.groupBy { case (_, i) => (10L * i / cnt).toInt + 1 }
      .view.mapValues(g => (g.length.toLong, g.map(_._1._2).sum)).toMap
    rows.foreach { case (dec, n, cents, _) =>
      assert(expDec(dec) == ((n, cents)), s"decile $dec")
    }
  }

  test("q84 Laspeyres index equals a matched-basket driver replay") {
    import spark.implicits._
    val mon = Tables.lineitem(spark, sf)
      .select($"l_partkey",
        (year($"l_shipdate") * 12 + month($"l_shipdate")),
        floor($"l_extendedprice" * 100).cast("long"),
        round($"l_quantity").cast("long"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view
      .mapValues(g => (g.map(_._2._1).sum, g.map(_._2._2).sum))
      .filter(_._2._2 > 0).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byM = mon.groupBy(_._1._2)
    val expected = byM.keys.toSeq.sorted.flatMap { m =>
      val terms = mon.collect {
        case ((pk, mm), (ep, qty)) if mm == m && mon.contains((pk, m - 1)) =>
          val (epB, qtyB) = mon((pk, m - 1))
          (BigDecimal(r4(ep.toDouble * qtyB.toDouble / qty.toDouble)), epB)
      }.toSeq
      if (terms.isEmpty) None
      else Some((m, terms.length.toLong,
        r4((terms.map(_._1).sum / BigDecimal(terms.map(_._2).sum)).toDouble)))
    }
    val got = Analytics.q84PriceIndex(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == expected.map(t => (t._1, t._2)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 2e-4, s"month ${g._1}: ${g._3} vs ${e._3}")
    }
    // fixture unit prices swing hard month to month; just pin positivity
    assert(got.nonEmpty && got.forall(_._3 > 0.0))
  }

  test("q87 flags exactly the months beyond K MADs of the median residual") {
    // replay from q80's own (oracle-gated) output: residuals per nation
    val dec = Analytics.q80SeasonalDecompose(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(5)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      val lo = s((n + 1) / 2 - 1); val hi = s(n / 2)
      lo + (hi - lo) * 0.5
    }
    val expected = dec.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (nat, rows) =>
        val med = median(rows.map(_._4).toSeq)
        val mad = median(rows.map(r => math.abs(r._4 - med)).toSeq)
        rows.filter(r =>
            math.abs(r._4 - med) > Analytics.residMadK * mad + 0.5)
          .sortBy(_._2).map(r => (nat, r._2, r._3))
    }
    val got = Analytics.q87ResidualAnomaly(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    // q80's residuals are 4-dp rounded while q87 flags on unrounded
    // values — identical sets except within half a grid step of the
    // threshold; require agreement and a nonempty alert set
    assert(got == expected, s"flags diverged: $got vs $expected")
    // (sf0.001 has no true anomalies — the sf0.01 oracle run shows 7;
    // the empty-set agreement here is exactly the float-dust guard)
    // deviations reported are all strictly above K*mad
    val full = Analytics.q87ResidualAnomaly(spark, sf).collect()
    full.foreach { r =>
      assert(r.getDouble(4) > Analytics.residMadK * r.getDouble(5) + 0.5 - 1e-3)
    }
  }

  test("q86 Holt-Winters equals an independent driver recurrence replay") {
    import spark.implicits._
    val daily = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(spark, sf), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", to_date($"o_orderdate"),
        floor($"o_totalprice" * 100).cast("long"))
      .collect().map(r => ((r.getString(0), r.getDate(1).toLocalDate), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .map { case ((n, d), c) => (n, d, c) }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (nation, rows) =>
        var l = 0.0; var b = 0.0; var first = true
        val s = Array.fill(7)(0.0)
        rows.sortBy(_._2).map { case (_, day, y0) =>
          val y = y0.toDouble
          val dw = java.lang.Math.floorMod(day.toEpochDay, 7L).toInt
          val (err, nl, nb, ns) =
            if (first) (0.0, y, 0.0, 0.0)
            else {
              val sd = s(dw)
              val e = y - (l + b + sd)
              val l1 = 0.5 * (y - sd) + 0.5 * (l + b)
              (e, l1, 0.5 * (l1 - l) + 0.5 * b, 0.5 * (y - l1) + 0.5 * sd)
            }
          first = false; l = nl; b = nb; s(dw) = ns
          (nation, day, y0, r4(l), r4(b), r4(ns), r4(err))
        }
    }
    val got = graft.operators.TimeSeries.q86HoltWinters(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == expected)
    // seasonal state actually differentiates days of week somewhere
    assert(got.map(_._6).distinct.size > 3)
  }

  test("q85 cohort LTV is monotone per cohort and conserves total revenue") {
    import spark.implicits._
    val om = Tables.orders(spark, sf)
      .select($"o_custkey", (year($"o_orderdate") * 12 + month($"o_orderdate")),
        floor($"o_totalprice" * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val cohortOf = om.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val rows = Analytics.q85CohortLtv(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // cohort sizes match a driver census
    val sizes = cohortOf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.groupBy(_._1).foreach { case (c, g) =>
      assert(g.head._3 == sizes(c), s"cohort $c size")
      val ltvs = g.sortBy(_._2).map(_._4).toSeq
      assert(ltvs == ltvs.sorted, s"cohort $c not monotone") // spend accumulates
    }
    // final LTV x size recomposes total revenue (within rounding)
    val finalTotal = rows.groupBy(_._1).map { case (_, g) =>
      val last = g.maxBy(_._2)
      last._4 * last._3
    }.sum
    val total = om.map(_._3).sum.toDouble
    assert(math.abs(finalTotal - total) < 1e-2 * rows.length)
    // age-0 cell exists for every cohort (the first order IS the cohort)
    rows.groupBy(_._1).foreach { case (c, g) =>
      assert(g.exists(_._2 == 0), s"cohort $c missing age 0")
    }
  }

  test("q102 ship-lag census equals a brute order-statistic replay") {
    import spark.implicits._
    val rows = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority",
        datediff($"l_shipdate", $"o_orderdate").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (pri, ls) =>
        val v = ls.map(_._2).sorted
        val n = v.length
        val med = (v((n - 1) / 2) + v(n / 2)).toDouble / 2.0
        val p90 = v(((9 * n + 9) / 10) - 1) // 1-based rank ceil(0.9n)
        (pri, n.toLong, r4(v.map(BigInt(_)).sum.toDouble / n.toDouble),
          med, p90,
          r4(v.count(_ > Analytics.slaLateDays).toDouble / n.toDouble))
    }
    val got = Analytics.q102ShipLag(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected && got.nonEmpty)
    // order statistics are ordered: median <= p90
    assert(got.forall(g => g._4 <= g._5.toDouble))
  }

  test("q101 strength summary equals a derivation from q80's components") {
    import spark.implicits._
    // q80 is oracle-gated; the strengths must be an exact rollup of it
    val rows = Analytics.q80SeasonalDecompose(spark, sf)
      .select($"nation", $"trend", $"seasonal", $"residual").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    def snap(v: Double): Long =
      BigDecimal(v * 1e4).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (nat, xs) =>
        val n = xs.length.toLong
        def mom(f: ((Int, Double, Double, Double)) => Long) = {
          val vs = xs.map(f)
          (vs.map(BigInt(_)).sum, vs.map(v => BigInt(v) * v).sum)
        }
        val (sr, qr) = mom(x => snap(x._4))
        val (ssr, qsr) = mom(x => snap(x._3) + snap(x._4))
        val (str, qtr) = mom(x => snap(x._2) + snap(x._4))
        def strength(s: BigInt, q: BigInt) = r4(math.max(0.0,
          1.0 - (n.toDouble * qr.toDouble - sr.toDouble * sr.toDouble) /
            (n.toDouble * q.toDouble - s.toDouble * s.toDouble)))
        (nat, n, strength(str, qtr), strength(ssr, qsr))
    }
    val got = Analytics.q101SeasonalStrength(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == expected && got.nonEmpty)
    // strengths are fractions
    assert(got.forall(g => g._3 >= 0.0 && g._3 <= 1.0 &&
      g._4 >= 0.0 && g._4 <= 1.0))
  }

  test("q98 Holt backtest equals a brute train/holdout replay") {
    import graft.operators.TimeSeries
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("nation", "day").agg(sum("cents").as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    val hold = TimeSeries.backtestHoldout
    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (nation, xs0) =>
        val xs = xs0.sortBy(_._2.toLocalDate.toEpochDay).map(_._3)
        if (xs.length <= hold) None
        else {
          val (train, test) = xs.splitAt(xs.length - hold)
          var has = false; var l = 0.0; var b = 0.0
          train.foreach { y =>
            val yd = y.toDouble
            if (!has) { l = yd; b = 0.0; has = true }
            else {
              val l1 = 0.5 * yd + 0.5 * (l + b)
              b = 0.5 * (l1 - l) + 0.5 * b; l = l1
            }
          }
          var se = BigInt(0); var sa = BigInt(0)
          test.zipWithIndex.foreach { case (y, i) =>
            val err = math.abs(y.toDouble - (l + (i + 1).toDouble * b))
            se += BigInt(math.floor(err + 0.5).toLong)
            sa += BigInt(math.floor(err / y.toDouble * 1e6 + 0.5).toLong)
          }
          Some((nation, train.length.toLong, hold.toLong,
            r4(se.toDouble / hold.toDouble),
            r4(sa.toDouble / (hold.toDouble * 1e6))))
        }
    }
    val got = TimeSeries.q98HoltBacktest(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // error metrics are non-negative
    assert(got.forall(g => g._4 >= 0.0 && g._5 >= 0.0))
  }

  test("q97 elasticity equals a brute grid-snapped log-log OLS replay") {
    import spark.implicits._
    val parts = Tables.part(spark, sf).select($"p_partkey", $"p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_extendedprice", $"l_quantity")
      .collect().map(r => (parts(r.getLong(0)), r.getDouble(1), r.getDouble(2)))
    def snap(v: Double): Long = math.floor(math.log(v) * 1e6 + 0.5).toLong
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (brand, ls) =>
        val xy = ls.map { case (_, ep, q) =>
          (snap(math.floor(ep * 100.0 / q)), snap(q)) }
        val n = xy.length.toLong
        val sx = xy.map(t => BigInt(t._1)).sum
        val sy = xy.map(t => BigInt(t._2)).sum
        val sxx = xy.map(t => BigInt(t._1) * t._1).sum
        val syy = xy.map(t => BigInt(t._2) * t._2).sum
        val sxy = xy.map(t => BigInt(t._1) * t._2).sum
        val cnum = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
        val dxx = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
        val dyy = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
        (brand, n, r4(cnum / dxx), r4(cnum * cnum / (dxx * dyy)))
    }
    val got = Analytics.q97Elasticity(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == expected && got.nonEmpty)
    // r-squared is a fraction
    assert(got.forall(g => g._4 >= 0.0 && g._4 <= 1.0))
  }

  test("q104 Theil decomposition matches a brute replay and reconstructs " +
    "the total index") {
    import spark.implicits._
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(spark, sf), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", floor($"o_totalprice" * 100).cast("long"))
      .collect().map(x => (x.getString(0), x.getLong(1)))
    val byNat = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = rows.length.toDouble
    val s = rows.map(x => BigInt(x._2)).sum.toDouble
    val expected = byNat.toSeq.sortBy(_._1).map { case (nat, cs) =>
      val ng = cs.length.toDouble
      val sg = cs.map(BigInt(_)).sum.toDouble
      val mu = sg / ng
      val tsum = cs.map { c =>
        val ratio = c.toDouble / mu
        BigInt(math.floor(ratio * math.log(ratio) * 1e9 + 0.5).toLong)
      }.sum
      val share = sg / s
      (nat, cs.length.toLong, r(share, 4),
        r(tsum.toDouble / (ng * 1e9), 6),
        r(share * math.log(share / (ng / n)), 6))
    }
    val got = Analytics.q104TheilDecomposition(spark, sf).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4))).toSeq
    assert(got == expected && got.nonEmpty)
    // decomposition identity: Σ between + Σ share·T_g equals the
    // directly-computed total Theil index (to grid+rounding slack)
    val muAll = s / n
    val totalT = rows.map { x =>
      val ratio = x._2.toDouble / muAll
      ratio * math.log(ratio)
    }.sum / n
    val reconstructed = got.map(_._5).sum +
      got.map(g => g._3 * g._4).sum
    assert(math.abs(reconstructed - totalT) <= 1e-3)
    // within-group terms are nonnegative (Jensen)
    assert(got.forall(_._4 >= -1e-9))
  }

  test("q106 OHLC candles match a brute per-bucket replay") {
    import spark.implicits._
    val rows = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .join(Tables.nation(spark, sf), $"c_nationkey" === $"n_nationkey")
      .select($"n_name",
        datediff(to_date($"o_orderdate"), lit("1970-01-01")),
        $"o_orderkey", floor($"o_totalprice" * 100).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1).toLong / 7,
        (r.getInt(1), r.getLong(2)), r.getLong(3)))
    val expected = rows.groupBy(t => (t._1, t._2)).toSeq
      .map { case ((nat, wk), os) =>
        val asc = os.sortBy(_._3)
        (nat, wk, os.length.toLong, asc.head._4,
          os.map(_._4).max, os.map(_._4).min, asc.last._4,
          os.map(_._4).sum)
      }.sortBy(t => (t._1, t._2))
    val got = graft.operators.TimeSeries.q106OhlcResample(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expected && got.nonEmpty)
    // candle sanity: low <= open/close <= high
    assert(got.forall(c => c._6 <= c._4 && c._4 <= c._5 &&
      c._6 <= c._7 && c._7 <= c._5))
  }

  test("q110 cross-correlation equals a brute per-lag Pearson replay") {
    import spark.implicits._
    val ts = graft.operators.TimeSeries
    // independent daily census in plain Scala, UTC date semantics
    val utc = java.time.ZoneOffset.UTC
    val byDay = graft.sources.Tables.events(spark, sf)
      .filter($"event_type".isin("view", "purchase"))
      .select($"ts", $"event_type").collect()
      .map(r => (r.getTimestamp(0).toInstant.atZone(utc).toLocalDate,
        r.getString(1)))
      .groupBy(_._1).view.mapValues { es =>
        (es.count(_._2 == "view").toLong,
          es.count(_._2 == "purchase").toLong)
      }.toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (-ts.ccfMaxLag to ts.ccfMaxLag).map { lag =>
      val pairs = byDay.keys.toSeq
        .flatMap(d => byDay.get(d.plusDays(lag.toLong))
          .map(o => (byDay(d)._1, o._2)))
      val n = BigDecimal(pairs.length)
      def bsum(f: ((Long, Long)) => BigDecimal) = pairs.map(f).sum
      val sx = bsum(p => BigDecimal(p._1)); val sy = bsum(p => BigDecimal(p._2))
      val sxy = bsum(p => BigDecimal(p._1) * BigDecimal(p._2))
      val sxx = bsum(p => BigDecimal(p._1) * BigDecimal(p._1))
      val syy = bsum(p => BigDecimal(p._2) * BigDecimal(p._2))
      val r = (n * sxy - sx * sy).toDouble /
        math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
      (lag, pairs.length.toLong, r4(r))
    }
    val got = ts.q110Ccf(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // correlations are proper (finite, in [-1, 1]) and overlap shrinks
    // by exactly |lag| days off the full span
    assert(got.forall(t => t._3.abs <= 1.0))
    val full = got.find(_._1 == 0).get._2
    assert(got.forall(t => t._2 == full - math.abs(t._1)))
  }

  test("q107 rolling trend equals a brute per-window OLS replay") {
    import spark.implicits._
    val ts = graft.operators.TimeSeries
    // independent daily census: exact integer cents per epoch-1995 day
    val daily = graft.sources.Tables.orders(spark, sf)
      .select(datediff(to_date($"o_orderdate"), lit("1995-01-01"))
          .cast("long").as("t"),
        floor($"o_totalprice" * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def r2(x: Double) =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = daily.keys.toSeq.sorted.flatMap { day =>
      val win = daily.toSeq
        .filter { case (t, _) => t >= day - (ts.rollWindowDays - 1) && t <= day }
      val n = win.length.toLong
      if (n < ts.rollMinDays) None
      else {
        val st = win.map(_._1).sum; val sy = win.map(_._2).sum
        val sty = win.map { case (t, y) => t * y }.sum
        val stt = win.map { case (t, _) => t * t }.sum
        val den = n.toDouble * stt - st.toDouble * st
        Some((day, n,
          r2((n.toDouble * sty - st.toDouble * sy) / den),
          r2((sy.toDouble * stt - st.toDouble * sty) / den)))
      }
    }
    val got = ts.q107RollingTrend(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == expected && got.nonEmpty)
    // every emitted window is inside [minDays, windowDays] (days can
    // be sparse at the smoke SF, so full windows aren't guaranteed)
    assert(got.forall(g =>
      g._2 >= ts.rollMinDays.toLong && g._2 <= ts.rollWindowDays.toLong))
  }

  test("q111 Yule-Walker AR(2) equals a brute BigDecimal-moment replay") {
    import spark.implicits._
    val ts = graft.operators.TimeSeries
    // independent daily census (observation order = observed days)
    val ys = graft.sources.Tables.orders(spark, sf)
      .select(to_date($"o_orderdate").as("day"),
        floor($"o_totalprice" * 100).cast("long").as("c"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy(_._1).map(p => BigDecimal(p._2)).toVector
    val n = ys.length
    val s = ys.sum
    def lagMoments(k: Int) = {
      val pairs = (k until n).map(t => (ys(t), ys(t - k)))
      (BigDecimal(pairs.length), pairs.map(p => p._1 * p._2).sum,
        pairs.map(_._1).sum, pairs.map(_._2).sum)
    }
    // the engines' shared IEEE tree, same operand order
    val ybar = s.toDouble / n.toDouble
    def c(k: Int) = {
      val (nk, pk, ak, bk) = lagMoments(k)
      (pk.toDouble - ybar * (ak.toDouble + bk.toDouble) +
        nk.toDouble * ybar * ybar) / n.toDouble
    }
    val r1e = c(1) / c(0); val r2e = c(2) / c(0)
    val den = 1.0 - r1e * r1e
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = ts.q111YuleWalker(spark, sf).collect().head
    assert(row.getLong(0) == n.toLong)
    assert(row.getDouble(1) == r4(r1e))
    assert(row.getDouble(2) == r4(r2e))
    assert(row.getDouble(3) == r4(r1e * (1.0 - r2e) / den))
    assert(row.getDouble(4) == r4((r2e - r1e * r1e) / den))
    // autocorrelations are proper
    assert(row.getDouble(1).abs <= 1.0 && row.getDouble(2).abs <= 1.0)
  }

  test("q108 growth accounting bridges exactly and bounds its residual") {
    import spark.implicits._
    val got = graft.operators.Analytics.q108GrowthAccounting(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.nonEmpty)
    // consecutive-year pairs covering the fixture's order span
    assert(got.map(_._1).toSeq == got.map(_._1).min.to(got.map(_._1).max))
    assert(got.forall(g => g._2 == g._1 + 1))
    // the bridge identity is EXACT in milli-cents by construction —
    // verify against an INDEPENDENT per-year revenue census
    val yearRev = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.orders(spark, sf)
        .select($"o_orderkey".as("l_orderkey"),
          year($"o_orderdate").cast("long").as("yr")), "l_orderkey")
      .groupBy($"yr")
      .agg(sum(floor($"l_extendedprice" * 100).cast("long")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (y1, y2, delta, vol, price, nw, disc, resid) =>
      assert(delta == yearRev(y2) - yearRev(y1),
        s"$y1->$y2 delta $delta vs census ${yearRev(y2) - yearRev(y1)}")
      assert(delta * 1000L == vol + price + nw - disc + resid)
    }
    // quantization residual is bounded by total traded quantity
    val totQ = graft.sources.Tables.lineitem(spark, sf)
      .agg(sum(round($"l_quantity").cast("long"))).head().getLong(0)
    assert(got.forall(g => math.abs(g._8) <= 2L * totQ))
  }

  test("q109 repeat-purchase curve equals a brute per-customer replay") {
    import spark.implicits._
    val a = graft.operators.Analytics
    val perCust = graft.sources.Tables.orders(spark, sf)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val counts = (1 to a.repeatMaxRank)
      .map(rk => rk.toLong -> perCust.count(_ >= rk).toLong)
      .filter(_._2 > 0)
    val c1 = counts.head._2
    val byRank = counts.toMap
    val expected = counts.map { case (rk, c) =>
      val nxt = byRank.get(rk + 1)
      (rk, c, r4(c.toDouble / c1.toDouble),
        nxt.map(x => r4(x.toDouble / c.toDouble)))
    }
    val got = a.q109RepeatPurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == expected && got.nonEmpty)
    // the curve is monotone non-increasing
    assert(got.map(_._2).sliding(2).forall { case Seq(x, y) => y <= x })
  }

  test("c20 snapshot diff census satisfies the set-arithmetic identities") {
    import spark.implicits._
    val p = graft.operators.Pipeline
    val got = p.c20SnapshotDiff(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.nonEmpty)
    // independent membership derivation straight from the id rules
    val ids = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"source", length($"text").as("len"),
        instr($"text", " ").as("sp")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val bySrc = ids.groupBy(_._2)
    got.foreach { case (src, added, removed, changed, unchanged, churn) =>
      val rows = bySrc(src)
      val a = rows.filter(_._1 % p.snapPrevMod != 0).map(_._1).toSet
      val b = rows.filter(_._1 % p.snapCurMod != 0).map(_._1).toSet
      assert(added == (b -- a).size.toLong)
      assert(removed == (a -- b).size.toLong)
      // changed = in both, mutated id, and the first-token drop
      // actually alters the text (it always does when a space exists)
      val chg = (a & b).count { id =>
        id % p.snapMutMod == 0 &&
          rows.find(_._1 == id).exists(_._4 > 0)
      }.toLong
      assert(changed == chg)
      assert(unchanged == (a & b).size.toLong - chg)
      val union = (a ++ b).size.toDouble
      val r4 = BigDecimal((added + removed + changed).toDouble / union)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(churn == r4)
    }
  }
}
