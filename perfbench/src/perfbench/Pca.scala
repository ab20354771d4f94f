package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.DenseMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ml.{Cov, Eigen}
import graft.ml.feature.{GraftPCA, GraftPCAModel}

/** The reference's own algorithm at embedding width: each operation is
  * one fit -> transform -> save -> load cycle over the generated matrix.
  * The first cycle of the fresh process is `first_s`; `warm_s` is the
  * median of the cycles that follow until `--seconds` is used up.
  *
  * Checks: every cycle's saved-and-loaded model equals the fitted one
  * exactly and matches the first cycle's model; after the timed loop the
  * model is compared with stock `org.apache.spark.ml.feature.PCA` at
  * PCASuite's absolute tolerance, and a sample of projected rows with
  * pc^T x computed locally. A failed check fails every cycle it covers.
  */
object Pca {
  val K = 16
  /** Warm cycles per run, whatever `--seconds` says. */
  val MinCycles = 4
  /** PCASuite's absTol for components and explained variance. */
  val AbsTol = 1e-5
  /** Run-to-run agreement of one build's models (float summation order). */
  val SelfTol = 1e-9

  final case class Cycle(fit: Double, transform: Double, save: Double,
      load: Double) {
    def total: Double = fit + transform + save + load
  }

  final case class TracedCycle(fit: Span, transform: Span, save: Span,
      load: Span, cov: Span, eigen: Span, peakMemMb: Double) {
    def cycleSpans: Seq[Span] = Seq(fit, transform, save, load)
    def wall: Double = cycleSpans.map(_.seconds).sum
  }

  def estimator: GraftPCA =
    new GraftPCA().setK(K).setInputCol("features").setOutputCol("projected")

  def maxAbsDiff(a: Array[Double], b: Array[Double]): Double =
    if (a.length != b.length) Double.PositiveInfinity
    else a.indices.map(i => math.abs(a(i) - b(i))).maxOption.getOrElse(0.0)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val modelPath = ctx.out("model")
    def input: DataFrame = spark.read.parquet(ctx.pcaInput)
    val rows = input.count().toDouble
    var reference: GraftPCAModel = null
    var storagePeakMb = 0.0
    val cycleOps = ArrayBuffer.empty[Int] // indices into ctx.ops

    /** Record one cycle as an operation; a bad output sets its error. */
    def attempt[T](phase: String, iter: Int)(body: => (T, GraftPCAModel,
        GraftPCAModel)): Option[T] = {
      val (res, err) =
        try {
          val (out, fitted, loaded) = body
          val err =
            if (!(loaded.pc.values sameElements fitted.pc.values) ||
                !(loaded.explainedVariance.values sameElements
                  fitted.explainedVariance.values))
              Some("save -> load round trip changed the model")
            else if (reference == null) { reference = fitted; None }
            else {
              val d = math.max(
                maxAbsDiff(fitted.pc.values, reference.pc.values),
                maxAbsDiff(fitted.explainedVariance.values,
                  reference.explainedVariance.values))
              if (d > SelfTol) Some(s"model differs from the first cycle's by $d")
              else None
            }
          (Some(out), err)
        } catch { case t: Throwable => (None, Some(Harness.errorOf(t))) }
      cycleOps += ctx.ops.length
      ctx.ops += Op("cycle", phase, iter, None, err)
      res
    }

    def plain(phase: String, iter: Int): Option[Cycle] = attempt(phase, iter) {
      val df = input
      val (model, fitS) = ctx.timed(estimator.fit(df))
      val (_, trS) = ctx.timed(model.transform(df).write.format("noop")
        .mode("overwrite").save())
      val (_, saveS) = ctx.timed(model.write.overwrite().save(modelPath))
      val (loaded, loadS) = ctx.timed(GraftPCAModel.load(modelPath))
      (Cycle(fitS, trS, saveS, loadS), model, loaded)
    }

    def traced(iter: Int): Option[TracedCycle] = attempt("warm_traced", iter) {
      val tr = ctx.tracer
      val sc = spark.sparkContext
      val df = input
      ctx.counters.takePeakMb(sc)
      val (model, fit) = tr.span("fit")(estimator.fit(df))
      val (_, transform) = tr.span("transform")(model.transform(df)
        .write.format("noop").mode("overwrite").save())
      val (_, save) = tr.span("save")(model.write.overwrite().save(modelPath))
      val (loaded, load) = tr.span("load")(GraftPCAModel.load(modelPath))
      val peak = ctx.counters.takePeakMb(sc)
      storagePeakMb = math.max(storagePeakMb, ctx.cachedMb)
      // the two layers fit composes, called directly on the same input
      val n = model.pc.numRows
      val (stats, cov) = tr.span("ml.cov")(
        Cov.stats(Cov.vectorRdd(df, "features"), n, useGemm = true))
      val matrix = stats.covariance
      val (_, eigen) = tr.span("ml.eigen")(Eigen.pca(matrix, K))
      (TracedCycle(fit, transform, save, load, cov, eigen, peak), model, loaded)
    }

    val trace = ctx.args.trace
    if (trace) {
      val (_, scan) = ctx.tracer.span("sources.scan")(Harness.scanInputs(ctx))
      Layout.sources(ctx, scan)
    }
    val first = plain("first", 0)
    val warm = ArrayBuffer.empty[Cycle]
    val warmT = ArrayBuffer.empty[TracedCycle]
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinCycles || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
      val tracedFirst = trace && i % 2 == 1
      if (tracedFirst) traced(i).foreach(warmT += _)
      plain("warm", i).foreach(warm += _)
      if (trace && !tracedFirst) traced(i).foreach(warmT += _)
      i += 1
    }

    verify(ctx, input, Option(reference), cycleOps.toSeq)
    ctx.meta("cycle_s") = (first.toSeq ++ warm).map(c =>
      Map("fit" -> c.fit, "transform" -> c.transform, "save" -> c.save, "load" -> c.load))

    val med = Harness.median _
    val m = ctx.metrics
    if (!trace) {
      first.foreach(c => m("first_s") = c.total)
      if (warm.nonEmpty) m("warm_s") = med(warm.map(_.total).toSeq)
    } else if (warmT.nonEmpty) {
      def medOf(f: TracedCycle => Double): Double = med(warmT.map(f).toSeq)
      val fitS = medOf(_.fit.seconds)
      val covS = medOf(_.cov.seconds)
      val eigS = medOf(_.eigen.seconds)
      val trS = medOf(_.transform.seconds)
      m("feature.fit_s") = fitS
      m("feature.fit_jobs") = medOf(_.fit.counts.jobs.toDouble)
      m("ml.cov_s") = covS
      m("ml.cov_task_s") = medOf(_.cov.counts.taskS)
      val n = reference.pc.numRows.toDouble
      m("ml.cov_gflops") = rows * n * n / covS / 1e9
      m("ml.cov_result_mb") = medOf(_.cov.counts.resultMb)
      m("ml.eigen_s") = eigS
      m("feature.fit_other_s") = fitS - covS - eigS
      m("feature.transform_s") = trS
      m("feature.transform_task_s") = medOf(_.transform.counts.taskS)
      m("feature.transform_rows_per_s") = rows / trS
      m("feature.save_s") = medOf(_.save.seconds)
      m("feature.save_jobs") = medOf(_.save.counts.jobs.toDouble)
      m("feature.load_s") = medOf(_.load.seconds)
      m("feature.load_jobs") = medOf(_.load.counts.jobs.toDouble)
      m("feature.persist_s") = medOf(c => c.save.seconds + c.load.seconds)
      def cycleCounts(c: TracedCycle): Counts = c.cycleSpans.map(_.counts).reduce(_ + _)
      val wall = medOf(_.wall)
      val taskAll = medOf(c => cycleCounts(c).taskS)
      m("execution.exec_s") = wall
      Layout.execution(ctx, e => medOf(c => e(cycleCounts(c))))
      m("execution.core_util") = taskAll / (wall * ctx.cpus)
      m("driver.idle_s") = wall - taskAll / ctx.cpus
      m("jobs_per_s") = medOf(c => cycleCounts(c).jobs.toDouble) / wall
      m("execution.peak_exec_mem_mb") = warmT.map(_.peakMemMb).max
      m("storage.cached_mb_peak") = storagePeakMb
      val untraced = med(warm.map(_.total).toSeq)
      Layout.overhead(ctx, untraced, wall, math.abs(wall - untraced) / untraced)
    }
  }

  /** Untimed output checks after the loop; a failure marks every cycle. */
  private def verify(ctx: Ctx, input: DataFrame,
      reference: Option[GraftPCAModel], cycleOps: Seq[Int]): Unit = {
    val errors = ArrayBuffer.empty[String]
    reference.foreach { model =>
      try {
        val stock = new org.apache.spark.ml.feature.PCA().setK(K)
          .setInputCol("v").setOutputCol("o")
          .fit(input.select(array_to_vector(col("features")).as("v")))
        val pcErr = signedColumnDiff(model.pc, stock.pc)
        val evErr = maxAbsDiff(model.explainedVariance.values,
          stock.explainedVariance.values)
        ctx.meta("stock_pca_pc_err") = pcErr
        ctx.meta("stock_pca_ev_err") = evErr
        if (pcErr > AbsTol || evErr > AbsTol)
          errors += s"differs from stock Spark PCA (pc $pcErr, ev $evErr)"
        val sample = model.transform(input.limit(32)).select("features", "projected")
          .collect()
        val pc = model.pc
        val projErr = sample.map { r =>
          val x = r.getSeq[Float](0).map(_.toDouble).toArray
          val y = r.getSeq[Double](1).toArray
          (0 until pc.numCols).map { j =>
            val expect = (0 until pc.numRows).map(i => pc(i, j) * x(i)).sum
            math.abs(expect - y(j)) / math.max(1.0, math.abs(expect))
          }.max
        }.max
        ctx.meta("transform_err") = projErr
        if (sample.length != 32 || projErr > SelfTol)
          errors += s"transform output differs from pc^T x by $projErr"
      } catch { case t: Throwable => errors += Harness.errorOf(t) }
    }
    if (errors.nonEmpty) cycleOps.foreach { i =>
      val o = ctx.ops(i)
      ctx.ops(i) = o.copy(error = Some((o.error.toSeq ++ errors).mkString("; ")))
    }
  }

  /** Largest entry difference after matching each column's sign. */
  def signedColumnDiff(a: DenseMatrix, b: DenseMatrix): Double = {
    if (a.numRows != b.numRows || a.numCols != b.numCols) Double.PositiveInfinity
    else (0 until a.numCols).map { j =>
      val dot = (0 until a.numRows).map(i => a(i, j) * b(i, j)).sum
      val s = if (dot < 0) -1.0 else 1.0
      (0 until a.numRows).map(i => math.abs(a(i, j) - s * b(i, j))).max
    }.max
  }
}
