package graft

import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector, Vector, Vectors}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PcaProject
import graft.ml.feature.{GraftPCA, GraftPCAModel}
import graft.ml.{Cov, Eigen}

/** PCA correctness vs the CPU MLlib oracle — the reference's own test
  * strategy (reference: PCASuite.scala:41-74 uses
  * RowMatrix.computePrincipalComponentsAndExplainedVariance as oracle,
  * absTol 1e-5). */
class PCASpec extends AnyFunSuite {
  import TestSpark._

  private val tol = 1e-5

  /** Compare matrices column-by-column with sign alignment: MLlib does
    * not canonicalize eigenvector signs, ours does, so each oracle
    * column may be globally negated. */
  private def assertPcEqual(got: DenseMatrix, exp: org.apache.spark.mllib.linalg.Matrix): Unit = {
    assert(got.numRows == exp.numRows && got.numCols == exp.numCols)
    for (j <- 0 until got.numCols) {
      val flip = {
        // align on the largest-|.| oracle entry
        var bi = 0; var bv = 0.0
        for (i <- 0 until got.numRows)
          if (math.abs(exp(i, j)) > math.abs(bv)) { bv = exp(i, j); bi = i }
        if (math.signum(got(bi, j)) == math.signum(bv) || bv == 0.0) 1.0 else -1.0
      }
      for (i <- 0 until got.numRows)
        assert(math.abs(got(i, j) - flip * exp(i, j)) < tol,
          s"pc($i,$j): ${got(i, j)} vs ${flip * exp(i, j)}")
    }
  }

  // the reference's hand-checkable 3×5 fixture (PCASuite.scala:42-46)
  private val handData: Seq[Vector] = Seq(
    Vectors.dense(2.0, 0.0, 3.0, 4.0, 5.0),
    Vectors.sparse(5, Seq((1, 1.0), (3, 7.0))),
    Vectors.dense(4.0, 0.0, 0.0, 6.0, 7.0))

  test("3x5 hand case matches the MLlib RowMatrix oracle (k=3)") {
    import spark.implicits._
    val df = handData.map(Tuple1(_)).toDF("features")
    val model = new GraftPCA().setK(3)
      .setInputCol("features").setOutputCol("pca_features").fit(df)

    val mat = new RowMatrix(spark.sparkContext.parallelize(handData, 2)
      .map(v => OldVectors.dense(v.toArray)))
    val (expPc, expVar) = mat.computePrincipalComponentsAndExplainedVariance(3)
    // 3 rows → covariance rank 2: the 3rd eigenvalue is 0 and its
    // eigenvector is an arbitrary nullspace direction (any orthonormal
    // basis is correct — cf. the reference weakening its own GPU-vs-CPU
    // comparison for the same reason, PCASuite.scala:136-152). Compare
    // the informative components strictly, the degenerate one by its
    // invariants (unit norm, orthogonal to the others, zero variance).
    val informative = new DenseMatrix(5, 2, model.pc.values.take(10))
    val expInformative = org.apache.spark.mllib.linalg.Matrices
      .dense(5, 2, expPc.toArray.take(10))
    assertPcEqual(informative, expInformative)
    for (i <- 0 until 2)
      assert(math.abs(model.explainedVariance(i) - expVar(i)) < tol)
    assert(model.explainedVariance(2) < tol && expVar(2) < tol)
    val third = (0 until 5).map(model.pc(_, 2))
    assert(math.abs(third.map(x => x * x).sum - 1.0) < tol, "unit norm")
    for (j <- 0 until 2)
      assert(math.abs((0 until 5).map(i => third(i) * model.pc(i, j)).sum) < tol,
        s"third component not orthogonal to pc $j")

    // transform: each projected row must match the oracle projection
    val got = model.transform(df).select("pca_features").collect()
      .map(_.getAs[Vector](0))
    got.zip(handData).foreach { case (p, v) =>
      for (j <- 0 until 3) {
        val exp = (0 until 5).map(i => model.pc(i, j) * v(i)).sum
        assert(math.abs(p(j) - exp) < tol)
      }
    }
  }

  test("random 100x100 matches the MLlib oracle (k=3), like PCASuite.scala:110-123") {
    import spark.implicits._
    val rng = new scala.util.Random(1)
    val data = Seq.fill(100)(Vectors.dense(Array.fill(100)(rng.nextDouble())))
    val df = data.map(Tuple1(_)).toDF("features")
    val model = new GraftPCA().setK(3)
      .setInputCol("features").setOutputCol("out").fit(df)
    val mat = new RowMatrix(spark.sparkContext.parallelize(data, 5)
      .map(v => OldVectors.dense(v.toArray)))
    val (expPc, expVar) = mat.computePrincipalComponentsAndExplainedVariance(3)
    assertPcEqual(model.pc, expPc)
    for (i <- 0 until 3)
      assert(math.abs(model.explainedVariance(i) - expVar(i)) < tol)
  }

  test("dense and sparse inputs give identical models (PCASuite.scala:155-190)") {
    import spark.implicits._
    val dense = handData.map(v => Tuple1(Vectors.dense(v.toArray): Vector))
    val sparse = handData.map(v => Tuple1(Vectors.dense(v.toArray).toSparse: Vector))
    val m1 = new GraftPCA().setK(2).setInputCol("f").setOutputCol("o")
      .fit(dense.toDF("f"))
    val m2 = new GraftPCA().setK(2).setInputCol("f").setOutputCol("o")
      .fit(sparse.toDF("f"))
    assert(m1.pc.values.sameElements(m2.pc.values))
    assert(m1.explainedVariance.values.sameElements(m2.explainedVariance.values))
  }

  test("array<float> input works end-to-end and matches vector input") {
    import spark.implicits._
    val arrDf = handData.map(v => Tuple1(v.toArray.map(_.toFloat))).toDF("f")
    val vecDf = handData.map(Tuple1(_)).toDF("f")
    val ma = new GraftPCA().setK(2).setInputCol("f").setOutputCol("o").fit(arrDf)
    val mv = new GraftPCA().setK(2).setInputCol("f").setOutputCol("o").fit(vecDf)
    for (i <- ma.pc.values.indices)
      assert(math.abs(ma.pc.values(i) - mv.pc.values(i)) < tol)
    // array input → array output
    val out = ma.transform(arrDf).select("o").collect().map(_.getSeq[Double](0))
    assert(out.forall(_.length == 2))
  }

  test("canonical sign: largest-|entry| of every component is positive") {
    import spark.implicits._
    val df = handData.map(Tuple1(_)).toDF("features")
    val model = new GraftPCA().setK(3).setInputCol("features")
      .setOutputCol("o").fit(df)
    for (j <- 0 until model.pc.numCols) {
      val colVals = (0 until model.pc.numRows).map(model.pc(_, j))
      assert(colVals.maxBy(math.abs) >= 0, s"component $j not canonical")
    }
  }

  test("meanCentering=false eigendecomposes the uncentered second moment") {
    import spark.implicits._
    val df = handData.map(Tuple1(_)).toDF("features")
    val model = new GraftPCA().setK(2).setInputCol("features")
      .setOutputCol("o").setMeanCentering(false).fit(df)
    // oracle: driver-local uncentered moment, Breeze eig
    val stats = Cov.stats(df, "features")
    val res = Eigen.pca(stats.gramNormalized, 2)
    for (i <- model.pc.values.indices)
      assert(math.abs(model.pc.values(i) - res.pc.values(i)) < tol)
  }

  test("useGemm is inert: both settings fit identical models") {
    import spark.implicits._
    // one partition each, so the pass merges its partials in one order
    val inputs = Seq(
      graft.sources.Tables.embeddings(spark, sf).coalesce(1) -> "embedding",
      handData.map(Tuple1(_)).toDF("f").coalesce(1) -> "f")
    for ((df, c) <- inputs) {
      val Seq(on, off) = Seq(true, false).map(g => new GraftPCA().setK(2)
        .setInputCol(c).setOutputCol("o").setUseGemm(g).fit(df))
      assert(on.pc.values.sameElements(off.pc.values), c)
      assert(on.explainedVariance.values.sameElements(off.explainedVariance.values), c)
    }
    // still a persisted param: the setting round-trips
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-gemm").toString
    new GraftPCA().setK(1).setUseGemm(false).write.overwrite().save(dir)
    val loaded = GraftPCA.load(dir)
    assert(loaded.isSet(loaded.useGemm) && !loaded.getOrDefault(loaded.useGemm))
  }

  test("GraftPCA.fit on the exact route runs one Spark job") {
    import spark.implicits._
    val sc = spark.sparkContext
    val fitJobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("pca-fit") => fitJobs.incrementAndGet()
          case Some("pca-marker") => markerSeen.countDown()
          case _ =>
        }
    }
    val inputs = Seq(
      graft.sources.Tables.embeddings(spark, sf) -> "embedding",
      handData.map(Tuple1(_)).toDF("f") -> "f")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pca-fit", "fit")
      for ((df, c) <- inputs)
        new GraftPCA().setK(2).setInputCol(c).setOutputCol("o").fit(df)
      // one listener sees events in posting order: once the marker job's
      // start arrives, every fit job's start has arrived before it
      sc.setJobGroup("pca-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(fitJobs.get == inputs.length, s"${fitJobs.get} jobs for ${inputs.length} fits")
  }

  /** pcᵀx computed locally, ascending-index accumulation. */
  private def localProjection(pc: DenseMatrix, x: Array[Double]): Array[Double] =
    Array.tabulate(pc.numCols)(j => (0 until pc.numRows).map(i => pc(i, j) * x(i)).sum)

  test("transform equals a locally computed pc^T x (1e-12) on every input type") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, transform => mapElems}
    // array<float> on the 64-dim fixture embeddings, plus the same rows
    // as array<double> and (scaled, truncated) as array<int>
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val model = new GraftPCA().setK(8)
      .setInputCol("embedding").setOutputCol("o").fit(emb)
    val inputs = Seq(
      "array<float>" -> emb,
      "array<double>" -> emb.withColumn("embedding", col("embedding").cast("array<double>")),
      "array<int>" -> emb.withColumn("embedding",
        mapElems(col("embedding"), x => (x * 100).cast("int"))))
    inputs.foreach { case (label, df) =>
      val rows = model.transform(df).select($"embedding".cast("array<double>"), $"o")
        .collect()
      assert(rows.nonEmpty, label)
      rows.foreach { r =>
        val got = r.getSeq[Double](1)
        val exp = localProjection(model.pc, r.getSeq[Double](0).toArray)
        assert(got.length == 8, label)
        got.indices.foreach(j =>
          assert(math.abs(got(j) - exp(j)) < 1e-12, s"$label dim $j: ${got(j)} vs ${exp(j)}"))
      }
    }
    // VectorUDT input: dense and sparse rows, VectorUDT output
    val vecDf = handData.map(Tuple1(_)).toDF("f")
    val m2 = new GraftPCA().setK(2).setInputCol("f").setOutputCol("o").fit(vecDf)
    val out = m2.transform(vecDf).select("f", "o").collect()
    assert(out.length == handData.length)
    out.foreach { r =>
      val exp = localProjection(m2.pc, r.getAs[Vector](0).toArray)
      val got = r.getAs[Vector](1)
      (0 until 2).foreach(j => assert(math.abs(got(j) - exp(j)) < 1e-12))
    }
  }

  test("transform plans graft_pca_project in a codegen stage, no UDF, no RDD scan") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val model = new GraftPCA().setK(4)
      .setInputCol("embedding").setOutputCol("o").fit(emb)
    val plan = model.transform(emb).queryExecution.executedPlan.toString
    assert(raw"\*\(\d+\) [^\n]*\bgraft_pca_project\(".r.findFirstIn(plan).isDefined,
      s"graft_pca_project not inside a codegen stage:\n$plan")
    assert(!plan.contains("UDF("), plan)
    assert(!plan.contains("Scan ExistingRDD"), plan)
  }

  /** The message of the IllegalArgumentException `body` throws,
    * directly or as the cause of a failed Spark job. */
  private def illegalArgument(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in $e"))
  }

  /** The messages `PcaProject` fails with on one input row, from its
    * interpreted `eval` and from its generated code. */
  private def projectFailures(row: ArrayData): Seq[String] = {
    val in = BoundReference(0, ArrayType(FloatType, containsNull = true), nullable = true)
    val pcT = Literal.create(Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false))
    val expr = PcaProject(in, pcT)
    val input = InternalRow(row)
    Seq(
      illegalArgument(expr.eval(input)),
      illegalArgument(GenerateUnsafeProjection.generate(Seq(expr)).apply(input)))
  }

  test("transform rejects a null row by name (eval and codegen)") {
    projectFailures(null).foreach(m =>
      assert(m.contains("graft_pca_project") && m.contains("null input row"), m))
  }

  test("transform rejects a row whose width is not n (eval, codegen and a job)") {
    for (width <- Seq(2, 4)) {
      val row = new GenericArrayData(Array.tabulate[Any](width)(_.toFloat))
      projectFailures(row).foreach(m =>
        assert(m.contains("graft_pca_project") && m.contains(s"has $width elements"), m))
    }
    // a wider row in a parquet scan: the job fails, nothing is truncated
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-width").toString
    Seq(Array(1.0f, 2.0f), Array(3.0f, 5.0f), Array(1.0f, 2.0f, 3.0f)).toDF("f")
      .write.mode("overwrite").parquet(dir)
    val model = new GraftPCAModel("w", new DenseMatrix(2, 1, Array(1.0, 0.0)),
      new DenseVector(Array(1.0))).setInputCol("f").setOutputCol("o")
    val m = illegalArgument(model.transform(spark.read.parquet(dir)).collect())
    assert(m.contains("graft_pca_project") && m.contains("has 3 elements"), m)
  }

  test("transform rejects a null element by name (eval and codegen)") {
    val row = new GenericArrayData(Array[Any](1.0f, null, 3.0f))
    projectFailures(row).foreach(m =>
      assert(m.contains("graft_pca_project") && m.contains("null element at index 1"), m))
  }

  test("a null element fails the covariance pass instead of reading as 0") {
    import spark.implicits._
    val df = Seq(Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), None), Seq(Some(5.0), Some(1.0)))
      .toDF("f")
    val m = illegalArgument(Cov.vectorRdd(df, "f").collect())
    assert(m.contains("null element at index 1") && m.contains("'f'"), m)
    assert(illegalArgument(new GraftPCA().setK(1).setInputCol("f").setOutputCol("o")
      .fit(df)).contains("null element"))
  }

  test("save writes exactly one part file per directory") {
    def partFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-parts").toString
    val model = new GraftPCAModel("pca_parts",
      new DenseMatrix(2, 1, Array(0.6, 0.8)), new DenseVector(Array(0.9)))
    model.write.overwrite().save(s"$dir/model")
    new GraftPCA().setK(1).write.overwrite().save(s"$dir/est")
    for (sub <- Seq("model/data", "model/metadata", "est/params", "est/metadata"))
      assert(partFiles(s"$dir/$sub") == 1, sub)
  }

  test("p7 grouped OLS matches a driver-side normal-equations replay") {
    import org.apache.spark.sql.functions._
    val joined = graft.sources.Tables.orders(spark, TestSpark.sf)
      .join(graft.sources.Tables.customer(spark, TestSpark.sf),
        col("o_custkey") === col("c_custkey"))
      .select("c_mktsegment", "c_acctbal", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val expect = joined.groupBy(_._1).map { case (seg, rows) =>
      val n = rows.length.toDouble
      val (xs, ys) = (rows.map(_._2), rows.map(_._3))
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val cxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / (n - 1)
      val vx = xs.map(x => (x - mx) * (x - mx)).sum / (n - 1)
      val vy = ys.map(y => (y - my) * (y - my)).sum / (n - 1)
      seg -> (rows.length.toLong, cxy / vx, my - cxy / vx * mx,
        cxy * cxy / (vx * vy))
    }
    val got = graft.operators.PcaQueries.p7OlsSegment(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (seg, (n, sl, ic, r2)) =>
      val (gn, gsl, gic, gr2) = got(seg)
      assert(gn == n, seg)
      // replay uses a different summation order than the distributed
      // pass — compare at 1e-3 absolute, well inside the 4-dp rounding
      assert(math.abs(gsl - sl) < 1e-3, s"$seg slope $gsl vs $sl")
      assert(math.abs(gic - ic) < 1e-3, s"$seg intercept $gic vs $ic")
      assert(math.abs(gr2 - r2) < 1e-3 && gr2 >= 0 && gr2 <= 1, seg)
    }
  }

  test("model persistence round-trip (PCASuite.scala:192-206)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca").toString
    val model = new GraftPCAModel("pca_test",
      new DenseMatrix(2, 2, Array(0.0, 1.0, 2.0, 3.0)),
      new DenseVector(Array(0.5, 0.5)))
    model.set(model.k, 2)
    model.setInputCol("myInputCol").setOutputCol("myOutputCol")
    model.write.overwrite().save(dir)
    val loaded = GraftPCAModel.load(dir)
    assert(loaded.uid == model.uid)
    assert(loaded.pc.values.sameElements(model.pc.values))
    assert(loaded.explainedVariance.values
      .sameElements(model.explainedVariance.values))
    assert(loaded.getInputCol == "myInputCol")
    assert(loaded.getOutputCol == "myOutputCol")
    assert(loaded.getK == 2)
  }

  test("estimator persistence round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca-est").toString
    val est = new GraftPCA().setK(3).setInputCol("in").setOutputCol("out")
      .setMeanCentering(false)
    est.write.overwrite().save(dir)
    val loaded = GraftPCA.load(dir)
    assert(loaded.uid == est.uid && loaded.getK == 3 &&
      loaded.getInputCol == "in" && loaded.getOutputCol == "out" &&
      !loaded.getMeanCentering)
  }

  test("Cov.stats mean/variance agree with ML Summarizer (colStats semantics)") {
    import spark.implicits._
    import org.apache.spark.ml.stat.Summarizer
    import org.apache.spark.ml.functions.array_to_vector
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val stats = Cov.stats(emb, "embedding")
    val row = emb
      .select(array_to_vector($"embedding".cast("array<double>")).as("v"))
      .select(Summarizer.metrics("mean", "variance", "count").summary($"v").as("s"))
      .select("s.mean", "s.variance", "s.count").head()
    val mean = row.getAs[org.apache.spark.ml.linalg.Vector](0)
    val variance = row.getAs[org.apache.spark.ml.linalg.Vector](1)
    assert(row.getLong(2) == stats.m)
    val cov = stats.covariance
    for (i <- 0 until mean.size) {
      assert(math.abs(mean(i) - stats.mean(i)) < 1e-12, s"mean($i)")
      assert(math.abs(variance(i) - cov(i, i)) < 1e-9, s"var($i)")
    }
  }

  test("null feature rows fail fast with a clear error (reference throws too)") {
    import spark.implicits._
    val df = Seq(Some(Array(1.0, 2.0)), None, Some(Array(3.0, 4.0))).toDF("f")
    val e = intercept[org.apache.spark.SparkException] {
      new GraftPCA().setK(1).setInputCol("f").setOutputCol("o").fit(df)
    }
    assert(e.getMessage.contains("null") ||
      Option(e.getCause).exists(_.getMessage.contains("null")))
  }

  test("k > numFeatures is rejected") {
    import spark.implicits._
    val df = handData.map(Tuple1(_)).toDF("f")
    val e = intercept[IllegalArgumentException] {
      new GraftPCA().setK(6).setInputCol("f").setOutputCol("o").fit(df)
    }
    assert(e.getMessage.contains("numFeatures"))
  }

  test("GraftPCA composes in an org.apache.spark.ml.Pipeline with persistence") {
    import spark.implicits._
    val df = handData.map(Tuple1(_)).toDF("features")
    val pipe = new org.apache.spark.ml.Pipeline()
      .setStages(Array(new GraftPCA().setK(2)
        .setInputCol("features").setOutputCol("pca")))
    val model = pipe.fit(df)
    val out = model.transform(df)
    assert(out.columns.contains("pca") && out.count() == 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    model.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.PipelineModel.load(dir)
    val m = loaded.stages.head.asInstanceOf[GraftPCAModel]
    assert(m.pc.values.sameElements(
      model.stages.head.asInstanceOf[GraftPCAModel].pc.values))
  }

  test("wide vectors (1000 dims) fit through the blocked-GEMM path") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = Seq.fill(300)(Vectors.dense(Array.fill(1000)(rng.nextGaussian())): Vector)
      .map(Tuple1(_)).toDF("f")
    val model = new GraftPCA().setK(5).setInputCol("f").setOutputCol("o").fit(df)
    assert(model.pc.numRows == 1000 && model.pc.numCols == 5)
    val ev = model.explainedVariance.values
    assert(ev.forall(v => v > 0 && v < 1) && ev.sameElements(ev.sorted.reverse))
    // projection output has width k
    val first = model.transform(df).select("o").head
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(first.size == 5)
  }

  test("width past Cov.MaxCols fails fast, before any n x n allocation") {
    import spark.implicits._
    // 46341 is the first width whose n x n accumulator overflows an Int
    // index (the reference's documented ceiling is 65535,
    // RapidsRowMatrix.scala:66-68). The guard must fire from the first
    // row's width: reaching allocation would BE the failure.
    assert(Cov.MaxCols == 46340)
    val wide = Seq(Tuple1(Array.fill(46341)(1.0))).toDF("f")
    val ex = intercept[IllegalArgumentException] {
      graft.ml.Cov.stats(wide, "f")
    }
    assert(ex.getMessage.contains("feature width 46341 outside (0, 46340]"), ex.getMessage)
    // 46340 passes the width check, but its accumulator needs 16 GiB:
    // on a smaller heap the task fails by name before allocating it
    assert(Runtime.getRuntime.maxMemory < 8L * 46340 * 46340, "heap of 16 GiB or more")
    val atCap = Seq.fill(3)(Tuple1(Array.fill(46340)(1.0))).toDF("f")
    val heapEx = intercept[org.apache.spark.SparkException] {
      graft.ml.Cov.stats(atCap, "f")
    }
    assert(heapEx.getMessage.contains("feature width 46340 needs 16383 MiB for its " +
      "n x n Gram, over the max heap of"), heapEx.getMessage)
  }

  test("GraftPCA fits 46,341-wide rows, one past Cov.MaxCols, through the sketch") {
    import spark.implicits._
    val n = 46341; val k = 2; val m = 6
    val rng = new scala.util.Random(41)
    val bases = Array.fill(k)(Array.fill(n)(rng.nextGaussian()))
    val rows = Seq.fill(m) {
      val (a, b) = (3.0 * rng.nextGaussian(), rng.nextGaussian())
      Tuple1(Array.tabulate(n)(i => a * bases(0)(i) + b * bases(1)(i)))
    }
    val df = rows.toDF("f").repartition(2)
    val model = new GraftPCA().setK(k).setInputCol("f").setOutputCol("o").fit(df)
    assert(model.pc.numRows == n && model.pc.numCols == k)
    // rank-2 data: the two components carry all variance
    val ev = model.explainedVariance.values
    assert(ev.sum > 0.999 && ev.sameElements(ev.sorted.reverse), ev.mkString(","))
  }

  test("randomized sketch matches the exact path within 1e-5 at 2048 dims") {
    import spark.implicits._
    // narrow-rank fixture: 5 directions with well-separated scales, so
    // the sketch (l = k + 10 >= rank) captures the whole column space
    // and HMT is exact up to fp
    val n = 2048; val rank = 5; val m = 300
    val rng = new scala.util.Random(23)
    val bases = Array.fill(rank)(Array.fill(n)(rng.nextGaussian()))
    val scales = Array(10.0, 8.0, 6.0, 4.0, 2.0)
    val rows = Seq.fill(m) {
      val v = new Array[Double](n)
      for (r <- 0 until rank) {
        val c = scales(r) * rng.nextGaussian()
        var i = 0
        while (i < n) { v(i) += c * bases(r)(i); i += 1 }
      }
      Vectors.dense(v): Vector
    }
    val df = rows.map(Tuple1(_)).toDF("f")
    val rdd = Cov.vectorRdd(df, "f")
    val exact = Eigen.pca(Cov.stats(rdd, n, useGemm = true).covariance, rank)
    val sk = graft.ml.Rsvd.pca(rdd, n, rank)
    for (j <- 0 until rank) {
      assert(math.abs(sk.explainedVariance(j) - exact.explainedVariance(j))
        < tol, s"ev($j): ${sk.explainedVariance(j)} vs " +
        s"${exact.explainedVariance(j)}")
      for (i <- 0 until n)
        assert(math.abs(sk.pc(i, j) - exact.pc(i, j)) < tol,
          s"pc($i,$j): ${sk.pc(i, j)} vs ${exact.pc(i, j)}")
    }
    // seeded sketch: a refit reproduces up to treeAggregate's
    // combine-order FP noise (the same envelope as the exact path's
    // distributed pass — the sketch matrix itself is bit-identical)
    val again = graft.ml.Rsvd.pca(rdd, n, rank)
    again.pc.values.zip(sk.pc.values).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-8, s"refit drifted: $x vs $y")
    }
  }

  test("GraftPCA auto-routes past Cov.MaxCols: 66,000 dims fit and transform") {
    import spark.implicits._
    // the one documented reference limitation this engine lifts
    // (RapidsRowMatrix.scala:66-68): above 65,535 columns the exact
    // n x n route is impossible (34+ GB gram); the randomized sketch
    // fits in O(n*(k+10)) — here ~13 MB of driver/executor state.
    val n = 66000
    val rank = 3; val m = 64
    val rng = new scala.util.Random(31)
    val bases = Array.fill(rank)(Array.fill(n)(rng.nextGaussian()))
    val scales = Array(9.0, 5.0, 2.0)
    val rows = Seq.fill(m) {
      val v = new Array[Double](n)
      for (r <- 0 until rank) {
        val c = scales(r) * rng.nextGaussian()
        var i = 0
        while (i < n) { v(i) += c * bases(r)(i); i += 1 }
      }
      Vectors.dense(v): Vector
    }
    val df = rows.map(Tuple1(_)).toDF("f").repartition(4)
    val model = new GraftPCA().setK(rank).setInputCol("f").setOutputCol("o")
      .fit(df)
    assert(model.pc.numRows == n && model.pc.numCols == rank)
    val ev = model.explainedVariance.values
    // rank-3 data: the top 3 components carry (essentially) all variance
    assert(ev.sum > 0.999, s"explained ${ev.sum}")
    assert(ev.sameElements(ev.sorted.reverse))
    val out = model.transform(df).select("o").head
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(out.size == rank)
  }

  test("2048-dim PCA fits through the blocked-GEMM path without OOM") {
    import spark.implicits._
    // pins the memory envelope of the widest realistic embedding width:
    // gram = 2048^2 doubles = 32 MB per task and driver-side, blockRows
    // x 2048 doubles = 1 MB per in-flight executor block — both flat in
    // the row count.
    val rng = new scala.util.Random(11)
    val df = Seq.fill(256)(
        Vectors.dense(Array.fill(2048)(rng.nextGaussian())): Vector)
      .map(Tuple1(_)).toDF("f")
    val model = new GraftPCA().setK(3).setInputCol("f").setOutputCol("o")
      .fit(df)
    assert(model.pc.numRows == 2048 && model.pc.numCols == 3)
    val ev = model.explainedVariance.values
    assert(ev.forall(v => v > 0 && v < 1) && ev.sameElements(ev.sorted.reverse))
    val first = model.transform(df).select("o").head
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(first.size == 3)
  }

  test("fitted components are orthonormal on fixture embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val model = new GraftPCA().setK(4).setInputCol("embedding")
      .setOutputCol("proj").fit(emb)
    val pc = model.pc
    for (a <- 0 until 4; b <- a until 4) {
      val dot = (0 until pc.numRows).map(i => pc(i, a) * pc(i, b)).sum
      val exp = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - exp) < 1e-9, s"pc($a)·pc($b) = $dot")
    }
    // explained variance descending, in (0,1], summing below 1
    val ev = model.explainedVariance.values
    assert(ev.forall(v => v > 0 && v <= 1) && ev.sum <= 1 + 1e-12)
    assert(ev.sameElements(ev.sorted.reverse))
  }
}
