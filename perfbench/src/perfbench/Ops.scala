package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheScope, SessionCaches, SparkEntry}

/** The query workload: a fixed list of registered queries run as a
  * closed loop with one client, each result written to Parquet so the
  * checker can compare it with the query's DuckDB oracle.
  *
  * One pass runs every query once, in list order. The first pass of the
  * fresh process is `first_s` (memo-cache builds included); later passes
  * repeat until `--seconds` is used up and `warm_s` sums each query's
  * median over the second half of its warm executions. Every execution is followed by `CacheScope.drain()`,
  * as the library asks of callers between queries; the drain is timed
  * separately, not as part of the query.
  */
object Ops {
  /** Construction-heavy, driver-bound queries: each builds its result
    * through eager jobs; p6 also reads a session memo cache. */
  val driverQueries: Seq[String] = Seq("g13_hits", "q32_market_share",
    "p6_pca_whiten")

  /** Warm passes per run, whatever `--seconds` says. The JIT is still
    * speeding the driver code up over the first few passes, so `warm_s`
    * uses only the second half of them. */
  val MinPasses = 6

  /** Warm passes of a trace run, each an untraced and a traced sweep: more
    * than `MinPasses`, so that the per-query traced / untraced ratios
    * have enough pairs to hold the reconciliation tolerance on a loaded
    * machine. Passes beyond `MinPasses` start only while the process is
    * younger than `TracedCapS` seconds, so that a slow machine still
    * ends the run within its time limit. */
  val TracedPasses = 8
  val TracedCapS = 110.0

  /** The settled half of a query's warm samples. */
  def settled[T](xs: collection.Seq[T]): Seq[T] = xs.drop(xs.length / 2).toSeq

  /** One traced execution: the build / plan / exec spans of the query
    * plus what the harness observed around them. */
  final case class Traced(build: Span, plan: Span, exec: Span,
      phases: Map[String, Double], touched: Boolean, drained: Int,
      drainS: Double, peakMemMb: Double) {
    def wall: Double = build.seconds + plan.seconds + exec.seconds
    def counts: Counts = build.counts + plan.counts + exec.counts
  }

  def run(queries: Seq[String])(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.fixtures
    val fns = queries.map(q => q -> SparkEntry.queries(q))
    val oracle = SparkEntry.oracleSql
    Harness.writeText(ctx.out("oracle_sql.json"),
      Harness.toJson(queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))

    var storagePeakMb = 0.0
    def sink(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(path)

    def attempt[T](q: String, phase: String, iter: Int)(body: String => T): Option[T] = {
      val path = ctx.out(s"results/$q/$phase-$iter")
      try {
        val out = body(path)
        ctx.ops += Op(q, phase, iter, Some(path), None)
        Some(out)
      } catch { case t: Throwable =>
        ctx.ops += Op(q, phase, iter, None, Some(Harness.errorOf(t)))
        None
      }
    }

    def plain(q: String, fn: (SparkSession, String) => DataFrame,
        phase: String, iter: Int): Option[Double] = {
      val r = attempt(q, phase, iter) { path =>
        ctx.timed(sink(fn(spark, dir), path))._2
      }
      CacheScope.drain()
      r
    }

    def traced(q: String, fn: (SparkSession, String) => DataFrame,
        phase: String, iter: Int): Option[Traced] = {
      val r = attempt(q, phase, iter)(tracedOnce(q, fn, _))
      if (r.isEmpty) CacheScope.drain()
      r
    }

    def tracedOnce(q: String, fn: (SparkSession, String) => DataFrame,
        path: String): Traced = {
      val tr = ctx.tracer
      SessionCaches.consumeTouched()
      ctx.counters.takePeakMb(spark.sparkContext)
      val (df, build) = tr.span(s"$q.build")(fn(spark, dir))
      val (_, plan) = tr.span(s"$q.plan")(df.queryExecution.executedPlan)
      val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
        k -> v.durationMs / 1000.0 }
      tr.annotate(plan, phases.map { case (k, v) => s"${k}_s" -> v })
      val (_, exec) = tr.span(s"$q.exec")(sink(df, path))
      val touched = SessionCaches.consumeTouched()
      storagePeakMb = math.max(storagePeakMb, ctx.cachedMb)
      val peak = ctx.counters.takePeakMb(spark.sparkContext)
      val (drained, drainS) = ctx.timed(CacheScope.drain())
      Traced(build, plan, exec, phases, touched, drained, drainS, peak)
    }

    val trace = ctx.args.trace
    val first = LinkedHashMap.empty[String, Double]
    val firstTouched = LinkedHashMap.empty[String, Boolean]
    val warm = LinkedHashMap(queries.map(_ -> ArrayBuffer.empty[Double]): _*)
    val warmT = LinkedHashMap(queries.map(_ -> ArrayBuffer.empty[Traced]): _*)

    if (trace) {
      val (_, scan) = ctx.tracer.span("sources.scan")(Harness.scanInputs(ctx))
      Layout.sources(ctx, scan)
      SessionCaches.consumeTouched()
    }
    fns.foreach { case (q, fn) =>
      if (trace) traced(q, fn, "first", 0).foreach { t =>
        first(q) = t.wall; firstTouched(q) = t.touched }
      else plain(q, fn, "first", 0).foreach(first(q) = _)
    }

    val t0 = System.nanoTime()
    var passes = 0
    def more: Boolean = passes < MinPasses ||
      (System.nanoTime() - t0) / 1e9 < ctx.args.seconds ||
      (trace && passes < TracedPasses &&
        ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 < TracedCapS)
    while (more) {
      // a trace run pairs each untraced sweep over the queries with a
      // traced one, alternating which goes first, so that every execution
      // follows a different query, as in an untraced run (a query repeated
      // back to back runs up to 40% faster)
      val sweeps = if (!trace) Seq(false) else if (passes % 2 == 0) Seq(false, true)
                   else Seq(true, false)
      sweeps.foreach { tr => fns.foreach { case (q, fn) =>
        if (tr) traced(q, fn, "warm_traced", passes).foreach(warmT(q) += _)
        else plain(q, fn, "warm", passes).foreach(warm(q) += _)
      } }
      passes += 1
    }

    ctx.meta("query_first_s") = first
    ctx.meta("query_warm_s") = warm
    val med = Harness.median _
    val warmMed = warm.collect { case (q, ts) if ts.nonEmpty => q -> med(settled(ts)) }
    val m = ctx.metrics
    if (!trace) {
      m("first_s") = first.values.sum
      m("warm_s") = warmMed.values.sum
    } else {
      ctx.meta("warm_passes") = passes
      val ok = warmT.filter(_._2.nonEmpty)
      def sum(f: Traced => Double): Double =
        ok.values.map(ts => med(settled(ts).map(f))).sum
      val wall = sum(_.wall)
      val taskAll = sum(_.counts.taskS)
      m("operators.build_s") = sum(_.build.seconds)
      m("operators.build_jobs") = sum(_.build.counts.jobs.toDouble)
      m("driver.idle_s") = wall - taskAll / ctx.cpus
      Seq("analysis", "optimization", "planning").foreach { p =>
        m(s"catalyst.${p}_s") = sum(_.phases.getOrElse(p, 0.0)) }
      m("execution.exec_s") = sum(_.exec.seconds)
      Layout.execution(ctx, e => sum(t => e(t.exec.counts)))
      m("execution.core_util") = taskAll / (wall * ctx.cpus)
      m("execution.peak_exec_mem_mb") =
        ok.values.map(ts => settled(ts).map(_.peakMemMb).max).max
      m("jobs_per_s") = sum(_.counts.jobs.toDouble) / wall
      val memo = firstTouched.filter(_._2).keys.toSeq
      m("session_caches.memo_queries") = memo.size
      m("session_caches.entries") = SessionCaches.totalEntries
      m("session_caches.cached_mb") = ctx.cachedMb
      m("session_caches.first_minus_warm_s") =
        memo.flatMap(q => warmMed.get(q).map(first(q) - _)).sum
      m("cache_scope.drained") = sum(_.drained.toDouble)
      m("cache_scope.drain_s") = sum(_.drainS)
      m("storage.cached_mb_peak") = storagePeakMb
      queries.foreach { q =>
        first.get(q).foreach(m(s"$q.first_s") = _)
        warmMed.get(q).foreach(m(s"$q.warm_s") = _)
        if (warmT(q).nonEmpty)
          m(s"$q.jobs") = med(settled(warmT(q)).map(_.counts.jobs.toDouble))
      }
      // per query, the median over warm passes of traced / untraced wall
      // time within the same pass, so that drift across passes (the JIT,
      // a neighbour's load) cancels out of the comparison
      val gaps = ok.keys.filter(q => warm(q).length == warmT(q).length).map { q =>
        val ratios = warmT(q).map(_.wall).zip(warm(q)).map { case (t, u) => t / u }
        q -> math.abs(med(ratios.toSeq) - 1.0)
      }.toMap
      ctx.meta("reconcile_gap") = gaps
      Layout.overhead(ctx, warmMed.values.sum, wall, gaps.values.maxOption.getOrElse(0.0))
    }
  }
}

/** Metric layout shared by the workloads. */
object Layout {
  def sources(ctx: Ctx, scan: Span): Unit = {
    ctx.metrics("sources.scan_s") = scan.seconds
    ctx.metrics("sources.input_mb") = ctx.inputMb
    ctx.metrics("sources.input_rows") = scan.counts.inputRows.toDouble
  }

  /** Execution-layer counts, each reduced over the workload's operations
    * by `reduce`. */
  def execution(ctx: Ctx, reduce: (Counts => Double) => Double): Unit = {
    val m = ctx.metrics
    m("execution.jobs") = reduce(_.jobs.toDouble)
    m("execution.stages") = reduce(_.stages.toDouble)
    m("execution.tasks") = reduce(_.tasks.toDouble)
    m("execution.task_s") = reduce(_.taskS)
    m("execution.shuffle_read_mb") = reduce(_.shuffleReadMb)
    m("execution.shuffle_write_mb") = reduce(_.shuffleWriteMb)
    m("execution.spill_mb") = reduce(_.spillMb)
  }

  /** Tracing overhead: untraced vs traced warm time measured in the same
    * process, and the largest per-operation reconciliation error. */
  def overhead(ctx: Ctx, untraced: Double, traced: Double, worst: Double): Unit = {
    val m = ctx.metrics
    m("trace.untraced_warm_s") = untraced
    m("trace.traced_warm_s") = traced
    m("trace.overhead_frac") = traced / untraced - 1.0
    m("trace.reconcile_err") = worst
  }
}
