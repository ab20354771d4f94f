package graft.tools

import graft.{CacheScope, Harness, SparkEntry}

/** Builder-side growth-exponent scale audit (round-9 verdict task #2):
  * times each named query at SEVERAL scale points in ONE JVM — e.g.
  * sf0.01 → sf0.1 → sf1-synth (see [[SynthScale]]) — and fits the
  * per-query growth EXPONENT: the least-squares slope of
  * ln(runtime) vs ln(scale). A single ×10 ratio (the round-8 audit)
  * can hide curvature that two ratios expose: a query whose 0.01→0.1
  * ratio looks linear but whose 0.1→1 ratio balloons has a
  * superlinear term that only dominates past the small fixtures —
  * the d14-class failure this audit exists to catch a round early.
  *
  * Exponent ≈ 1 is linear scaling, ≲ 1.3 allows log factors;
  * > [[flagExponent]] is flagged SUPERLINEAR. With only two points
  * the exponent degenerates to log(ratio)/log(factor) — the round-8
  * audit as a special case.
  *
  * Each measured run is warm (one untimed run first) and guarded by a
  * cancellable per-query time budget so a runaway plan cannot hang
  * the audit — a timeout prints TIMEOUT and counts as flagged.
  * Per-query scoped caches are drained between queries (the Bench
  * discipline) so one query's leftovers never skew the next.
  *
  * Usage: SPARK_GRAFT_AUDIT_BUDGET=<sec> runMain graft.tools.ScaleAudit
  *          <dir1>=<scale1> <dir2>=<scale2> [<dir3>=<scale3> ...] -- <query...>
  * e.g.     /root/testdata/sf0.01=0.01 /root/testdata/sf0.1=0.1 \
  *          /tmp/sf1synth=1.0 -- g12_khop d17_minhash_fidelity
  */
object ScaleAudit {

  /** Growth exponents above this are flagged (linear + log headroom). */
  val flagExponent = 1.3

  /** Least-squares slope of ln(t) vs ln(s). */
  def exponent(points: Seq[(Double, Double)]): Double = {
    val n = points.length.toDouble
    val xs = points.map(p => math.log(p._1))
    val ys = points.map(p => math.log(p._2))
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    // den = 0 (single point, or duplicate scale values) has no slope:
    // return NaN explicitly; callers must treat a non-finite exponent
    // as flag-worthy, because NaN > threshold is silently false.
    if (den == 0.0) Double.NaN else num / den
  }

  def main(args: Array[String]): Unit = {
    val sep = args.indexOf("--")
    require(sep >= 2, "usage: <dir>=<scale> <dir>=<scale> [...] -- <query...>")
    val points = args.take(sep).map { a =>
      val Array(dir, s) = a.split("=", 2)
      (dir, s.toDouble)
    }.toSeq.sortBy(_._2)
    require(points.map(_._2).distinct.length == points.length,
      s"scale points must be distinct (a duplicate scale has no " +
        s"growth slope): ${points.map(_._2).mkString(", ")}")
    val names = args.drop(sep + 1)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_AUDIT_BUDGET", "150").toInt
    val spark = Harness.session(Harness.cpus)

    /** Warm + min-of-2 timed runs in a budget-guarded thread; None on
      * timeout or failure. */
    def timeAt(name: String, dir: String, budget: Int): Option[Double] = {
      @volatile var result: Option[Double] = None
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(s"audit-$name", name,
            interruptOnCancel = true)
          val fn = SparkEntry.queries(name)
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          once() // warm
          result = Some(math.min(once(), once()))
        } catch { case e: Throwable =>
          System.err.println(s"[audit] $name at $dir failed: ${e.getMessage}")
        }
      })
      t.start()
      t.join(budget * 1000L)
      if (t.isAlive) {
        spark.sparkContext.cancelJobGroup(s"audit-$name")
        t.join(60000L)
        None
      } else result
    }

    var flagged = List.empty[String]
    names.foreach { name =>
      // budget grows with scale assuming linear cost off the previous
      // point TIMES the inter-point data factor — without the factor a
      // perfectly linear query whose next-point cycle outgrows the
      // flat budget would be misflagged SUPERLINEAR via TIMEOUT
      var prev: Option[(Double, Double)] = None // (scale, time)
      val times = points.map { case (dir, scale) =>
        val budget = prev match {
          case Some((ps, pt)) =>
            val factor = math.max(1.0, scale / ps)
            math.max(budgetSec, (pt * factor * 3).toInt + 30)
          case None => budgetSec
        }
        val r = timeAt(name, dir, budget)
        r.foreach(t => prev = Some((scale, t)))
        CacheScope.drain() // this query's scoped caches, per scale point
        (scale, r)
      }
      val ok = times.collect { case (s, Some(t)) => (s, t) }
      val cols = times.map {
        case (s, Some(t)) => f"sf$s%s=$t%7.2fs"
        case (s, None) => f"sf$s%s=TIMEOUT"
      }.mkString(" ")
      if (ok.length == times.length && ok.length >= 2) {
        val e = exponent(ok)
        // non-finite exponent = degenerate audit (should be unreachable
        // behind the distinct-scales guard) — flag, never pass silently
        val flag = if (e > flagExponent || !java.lang.Double.isFinite(e)) {
          flagged ::= name; " <<< SUPERLINEAR"
        } else ""
        println(f"[audit] $name%-28s $cols exp=$e%5.2f$flag")
      } else {
        flagged ::= name
        println(s"[audit] $name $cols <<< TIMEOUT/FAIL")
      }
    }
    println(s"[audit] flagged: ${if (flagged.isEmpty) "none"
      else flagged.reverse.mkString(", ")}")
    spark.stop()
  }
}
