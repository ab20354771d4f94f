package graft.ml.feature

import java.lang.Double.doubleToRawLongBits
import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{MLReadable, MLWritable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Gbt, Stump}

/** Persistence of every `graft.ml.feature` stage through [[StageIO]]:
  * params round trips, artifacts in the older layouts, and the
  * metadata document that `Pipeline.load` parses. */
class StageIOSpec extends AnyFunSuite {
  import TestSpark._

  private type Stage = Params with MLWritable

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-stageio-$name").toString

  private val estimators: Seq[(() => Stage, MLReadable[_])] = Seq(
    (() => new GraftBPE("bpe"), GraftBPE),
    (() => new GraftGBT("gbt"), GraftGBT),
    (() => new GraftIDF("idf"), GraftIDF),
    (() => new GraftIVF("ivf"), GraftIVF),
    (() => new GraftKMeans("kmeans"), GraftKMeans),
    (() => new GraftLinear("linear"), GraftLinear),
    (() => new GraftLogistic("logistic"), GraftLogistic),
    (() => new GraftMinHash("minhash"), GraftMinHash),
    (() => new GraftPCA("pca"), GraftPCA),
    (() => new GraftPQ("pq"), GraftPQ),
    (() => new GraftPoisson("poisson"), GraftPoisson),
    (() => new GraftTree("tree"), GraftTree))

  private def models: Seq[(() => Stage, MLReadable[_])] = {
    import spark.implicits._
    val idf = Seq(("alpha", 0.5)).toDF("term", "idf")
    Seq(
      (() => new GraftBPEModel("bpeM", Array(Array("a", "b"))), GraftBPEModel),
      (() => new GraftGBTModel("gbtM", 500L,
        Array(Gbt.GbtRound(1, 2L, 3L, 4L, 5L, 6L, 7L, 1))), GraftGBTModel),
      (() => new GraftIDFModel("idfM", 2L, 1L, idf), GraftIDFModel),
      (() => new GraftIVFModel("ivfM", Array(Array(1.0, 2.0))), GraftIVFModel),
      (() => new GraftKMeansModel("kmeansM", Array(Array(1.0, 2.0)), Array(3L)),
        GraftKMeansModel),
      (() => new GraftLinearModel("linearM", 0.5, Array(1.5, -2.0)), GraftLinearModel),
      (() => new GraftLogisticModel("logisticM", 0.5, -1.5, Array(Array(1.0, 2.0))),
        GraftLogisticModel),
      (() => new GraftMinHashModel("minhashM", 4, 2, Array(Array.fill(6)(0.25))),
        GraftMinHashModel),
      (() => new GraftPCAModel("pcaM", new DenseMatrix(2, 1, Array(0.6, 0.8)),
        new DenseVector(Array(0.9))), GraftPCAModel),
      (() => new GraftPQModel("pqM", Array(Array(Array(1.0, 2.0)))), GraftPQModel),
      (() => new GraftPoissonModel("poissonM", 0.5, -1.5, Array(Array(1.0, 2.0))),
        GraftPoissonModel),
      (() => new GraftTreeModel("treeM",
        Array(Stump.TreeSplit("", 0, 3L, 10L, 4L, 6L, 1L, 4L, 3L, 0.1, 0.2, 1)),
        10L, 4L, Array(Array(0.5, 1.5))), GraftTreeModel))
  }

  test("the round-trip table lists every graft.ml.feature stage") {
    val dir = new java.io.File(classOf[GraftPCA].getProtectionDomain.getCodeSource
      .getLocation.toURI).toPath.resolve("graft/ml/feature").toFile
    val stages = dir.list().filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName(s"graft.ml.feature.${n.stripSuffix(".class")}"))
      .filter(c => classOf[PipelineStage].isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .map(_.getSimpleName).toSet
    val listed = (estimators ++ models).map(_._1().getClass.getSimpleName)
    assert(listed.size == 24 && listed.toSet == stages)
  }

  /** A valid value for `p` that differs from its default: strings carry
    * a quote, a backslash, a newline and a tab; doubles need all 17
    * digits. */
  private def sample(stage: Params, p: Param[_]): Any = {
    val candidates: Seq[Any] = p match {
      case _: IntParam => Seq(3, 9)
      case _: LongParam => Seq(7L)
      case _: DoubleParam => Seq(0.1 + 0.2)
      case _: BooleanParam => Seq(!stage.getOrDefault(p).asInstanceOf[Boolean])
      case _: StringArrayParam => Seq(Array("a", "b\n\"c", "d"))
      case _: DoubleArrayParam => Seq(Array(0.1 + 0.2, 1e-300, 2.5))
      case _ => Seq("col \"x\" \\ y\n\tz", "variance")
    }
    candidates.find(p.asInstanceOf[Param[Any]].isValid).getOrElse(fail(s"no valid sample for ${p.name}"))
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => doubleToRawLongBits(x) == doubleToRawLongBits(y)
    case (x: Array[_], y: Array[_]) =>
      x.length == y.length && x.indices.forall(i => same(x(i), y(i)))
    case _ => a == b
  }

  private def assertSameParams(orig: Params, back: Params): Unit = {
    assert(back.getClass == orig.getClass && back.uid == orig.uid)
    orig.params.foreach { p =>
      val q = back.getParam(p.name)
      val what = s"${orig.getClass.getSimpleName}.${p.name}"
      assert(back.isSet(q) == orig.isSet(p), what)
      assert(back.isDefined(q) == orig.isDefined(p), what)
      if (orig.isDefined(p)) assert(same(back.getOrDefault(q), orig.getOrDefault(p)), what)
    }
  }

  test("every estimator and model round-trips its uid, set params and " +
    "unset params, one part file per directory") {
    val base = tmp("roundtrip")
    for (((make, reader), i) <- (estimators ++ models).zipWithIndex; phase <- 0 to 1) {
      val stage = make()
      stage.params.zipWithIndex.foreach { case (p, j) =>
        if (j % 2 == phase) stage.set(p.asInstanceOf[Param[Any]], sample(stage, p))
      }
      val dir = s"$base/$i-$phase"
      stage.write.save(dir)
      assertSameParams(stage, reader.load(dir).asInstanceOf[Params])
      // IDF's distributed idf/ table aside: metadata/ plus one params row
      val parts = new java.io.File(dir).listFiles().map(d =>
        d.getName -> d.list().count(_.startsWith("part-"))).toMap - "idf"
      assert(parts.size == 2 && parts.contains("metadata") &&
        parts.values.forall(_ == 1), s"$dir: $parts")
    }
  }

  test("non-finite doubles round-trip through params and metadata") {
    val dir = tmp("nonfinite")
    val est = new GraftTree("treeInf").setBinWidth(Double.PositiveInfinity)
      .setBinWidths(Array(Double.PositiveInfinity, Double.MinPositiveValue))
    new Pipeline().setStages(Array(est)).write.save(s"$dir/pipe")
    assertSameParams(est, Pipeline.load(s"$dir/pipe").getStages.head)
  }

  test("a Pipeline and a PipelineModel round-trip a GraftPCA outputCol " +
    "holding a newline and a tab") {
    import spark.implicits._
    val out = "pc\n\tout"
    val dir = tmp("pipeline")
    val pipe = new Pipeline().setStages(Array(
      new GraftPCA().setK(1).setInputCol("f").setOutputCol(out)))
    pipe.write.save(s"$dir/pipe")
    val back = Pipeline.load(s"$dir/pipe").getStages.head.asInstanceOf[GraftPCA]
    assert(back.getOutputCol == out)
    val model = pipe.fit(Seq(Array(1.0, 2.0), Array(2.0, 1.0), Array(4.0, 5.0))
      .map(Tuple1(_)).toDF("f"))
    model.write.save(s"$dir/model")
    val mBack = PipelineModel.load(s"$dir/model").stages.head.asInstanceOf[GraftPCAModel]
    assert(mBack.getOutputCol == out && mBack.getK == 1)
    assert(mBack.pc.values.sameElements(
      model.stages.head.asInstanceOf[GraftPCAModel].pc.values))
  }

  test("an artifact in the all-fields layout loads: null fields stay unset") {
    val dir = tmp("allfields")
    spark.sql("SELECT 'pcaOld' AS uid, 3 AS k, CAST(NULL AS STRING) AS inputCol, " +
        "'out' AS outputCol, false AS meanCentering, CAST(NULL AS BOOLEAN) AS useGemm, " +
        "CAST(NULL AS BOOLEAN) AS useCuSolverSVD, CAST(NULL AS INT) AS gpuId")
      .write.parquet(s"$dir/est/params")
    val est = GraftPCA.load(s"$dir/est")
    assert(est.uid == "pcaOld" && est.getK == 3 && est.getOutputCol == "out" &&
      est.isSet(est.meanCentering) && !est.getMeanCentering)
    assert(Seq(est.inputCol, est.useGemm, est.useCuSolverSVD, est.gpuId).forall(!est.isSet(_)))
    spark.sql("SELECT named_struct('uid', 'pcaOldM', 'k', 1, 'inputCol', 'in', " +
        "'outputCol', CAST(NULL AS STRING), 'meanCentering', CAST(NULL AS BOOLEAN), " +
        "'useGemm', false, 'useCuSolverSVD', CAST(NULL AS BOOLEAN), 'gpuId', 2) AS params, " +
        "2 AS pcRows, 1 AS pcCols, array(0.6D, 0.8D) AS pcValues, " +
        "array(0.9D) AS explainedVariance")
      .write.parquet(s"$dir/model/data")
    val m = GraftPCAModel.load(s"$dir/model")
    assert(m.uid == "pcaOldM" && m.getK == 1 && m.getInputCol == "in" &&
      !m.getOrDefault(m.useGemm) && m.getOrDefault(m.gpuId) == 2)
    assert(Seq(m.outputCol, m.meanCentering, m.useCuSolverSVD).forall(!m.isSet(_)))
    assert(m.pc.values.sameElements(Array(0.6, 0.8)) &&
      m.explainedVariance.values.sameElements(Array(0.9)))
  }

  test("GBT and Tree artifacts from before lossType load with the newer params unset") {
    val dir = tmp("prer15")
    val common = "'featuresCol', 'x', 'labelCol', 'y', 'predictionCol', " +
      "CAST(NULL AS STRING), 'probabilityCol', CAST(NULL AS STRING), " +
      "'featureCols', CAST(NULL AS ARRAY<STRING>), 'binWidths', CAST(NULL AS ARRAY<DOUBLE>)"
    spark.sql(s"SELECT named_struct('uid', 'gbtOld', 'maxIter', 4, 'binWidth', 50D, $common) " +
      "AS p").select("p.*").write.parquet(s"$dir/gbt/params")
    // rounds also predate the multi-feature `feature` field
    spark.sql(s"SELECT named_struct('uid', 'gbtOldM', 'maxIter', 4, 'binWidth', 50D, " +
        s"$common) AS params, 500L AS baseF, array(named_struct('round', 1, " +
        "'thresholdBin', 2L, 'nLeft', 3L, 'nRight', 4L, 'vLeft', 5L, 'vRight', 6L, " +
        "'sseAfter', 7L)) AS rounds")
      .write.parquet(s"$dir/gbtModel/data")
    spark.sql(s"SELECT named_struct('uid', 'treeOld', 'maxDepth', 2, 'binWidth', 50D, " +
      s"$common) AS p").select("p.*").write.parquet(s"$dir/tree/params")
    spark.sql(s"SELECT named_struct('uid', 'treeOldM', 'maxDepth', 2, 'binWidth', 50D, " +
        s"$common) AS params, array(named_struct('node', '', 'depth', 0, " +
        "'thresholdBin', 3L, 'n', 10L, 'pos', 4L, 'nl', 6L, 'pl', 1L, 'nr', 4L, " +
        "'pr', 3L, 'wgRaw', 0.1D, 'pgRaw', 0.2D, 'feature', 0)) AS splits, " +
        "10L AS rootN, 4L AS rootPos")
      .write.parquet(s"$dir/treeModel/data")

    val gbts: Seq[GraftGBTParams] =
      Seq(GraftGBT.load(s"$dir/gbt"), GraftGBTModel.load(s"$dir/gbtModel"))
    for (g <- gbts) {
      assert(g.getOrDefault(g.maxIter) == 4 && g.getOrDefault(g.binWidth) == 50.0 &&
        g.getOrDefault(g.featuresCol) == "x" && g.getOrDefault(g.labelCol) == "y")
      assert(Seq(g.lossType, g.labelGrid, g.labelBound, g.predictionCol,
        g.featureCols).forall(!g.isSet(_)), g.uid)
      assert(g.getOrDefault(g.lossType) == "binary" && g.getOrDefault(g.labelGrid) == 100L)
    }
    val gm = gbts(1).asInstanceOf[GraftGBTModel]
    assert(gm.baseF == 500L && gm.rounds.toSeq == Seq(Gbt.GbtRound(1, 2L, 3L, 4L, 5L, 6L, 7L, 0)))

    val trees: Seq[GraftTreeParams] =
      Seq(GraftTree.load(s"$dir/tree"), GraftTreeModel.load(s"$dir/treeModel"))
    for (t <- trees) {
      assert(t.getOrDefault(t.maxDepth) == 2 && t.getOrDefault(t.featuresCol) == "x")
      assert(Seq(t.lossType, t.numBins, t.binWidths).forall(!t.isSet(_)), t.uid)
      assert(t.getOrDefault(t.lossType) == "gini")
    }
    val tm = trees(1).asInstanceOf[GraftTreeModel]
    assert(tm.binEdges.isEmpty && tm.rootN == 10L && tm.splits.length == 1)
  }

  test("a params field that names no param fails the load by name") {
    val dir = tmp("unknown")
    spark.sql("SELECT 'pcaBad' AS uid, 2 AS k, 'x' AS bogusField").write.parquet(s"$dir/params")
    val e = intercept[IllegalArgumentException](GraftPCA.load(dir))
    assert(e.getMessage.contains("'bogusField'") &&
      e.getMessage.contains("graft.ml.feature.GraftPCA"), e.getMessage)
  }

  test("save and load run no Spark job, for an estimator and for a model") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case "io-marker" => markerSeen.countDown()
          case g if g.startsWith("io-") => jobs.add(g)
          case _ =>
        }
    }
    val dir = tmp("jobs")
    val est = new GraftPCA().setK(1).setInputCol("in")
    val model = new GraftPCAModel("pcaJobs", new DenseMatrix(2, 1, Array(0.6, 0.8)),
      new DenseVector(Array(0.9))).setOutputCol("out")
    def group(name: String)(body: => Unit): Unit = {
      sc.setJobGroup(s"io-$name", name); body
    }
    sc.addSparkListener(listener)
    try {
      group("est-save")(est.write.save(s"$dir/est"))
      group("est-load")(GraftPCA.load(s"$dir/est"))
      group("model-save")(model.write.save(s"$dir/model"))
      group("model-load")(GraftPCAModel.load(s"$dir/model"))
      sc.setJobGroup("io-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    assert(jobs.isEmpty, jobs.asScala.mkString(", "))
  }

  /** A model's `data/` the way Spark's parquet writer lays it out: a
    * uuid-named part file, its `.crc` and `_SUCCESS`. */
  private def writeWithSpark(model: GraftPCAModel, path: String): Unit = {
    import spark.implicits._
    spark.createDataset(Seq(ModelData(model.pc.numRows, model.pc.numCols,
        model.pc.values, model.explainedVariance.values)))
      .select(struct(StageIO.paramsFields(model): _*).as("params"), col("*"))
      .write.parquet(s"$path/data")
  }

  private def pcaModel(uid: String): GraftPCAModel =
    new GraftPCAModel(uid, new DenseMatrix(2, 1, Array(0.1 + 0.2, -1e-300)),
      new DenseVector(Array(Double.MinPositiveValue))).setOutputCol("out\n\t").setInputCol("in")

  test("an artifact written by Spark's parquet writer loads bit-identically") {
    val dir = tmp("sparkwritten")
    val model = pcaModel("pcaSpark")
    writeWithSpark(model, dir)
    val files = new java.io.File(s"$dir/data").list().toSet
    assert(files("_SUCCESS") && files.exists(n => n.startsWith(".part-") && n.endsWith(".crc")))
    val back = GraftPCAModel.load(dir)
    assertSameParams(model, back)
    assert(same(back.pc.values, model.pc.values) &&
      same(back.explainedVariance.values, model.explainedVariance.values))
    val est = new GraftPCA("pcaSparkEst").setK(3).setOutputCol("x\ty")
    spark.createDataFrame(java.util.List.of(Row.empty), new StructType())
      .select(StageIO.paramsFields(est): _*).write.parquet(s"$dir/est/params")
    assertSameParams(est, GraftPCA.load(s"$dir/est"))
  }

  test("a driver-written data/ and metadata/ read back through spark.read") {
    val dir = tmp("driverwritten")
    val model = pcaModel("pcaDriver")
    model.write.save(s"$dir/driver")
    writeWithSpark(model, s"$dir/spark")
    def rows(d: String) = spark.read.parquet(s"$d/data").collect().toSeq
    assert(rows(s"$dir/driver") == rows(s"$dir/spark") && rows(s"$dir/driver").size == 1)
    assert(spark.read.parquet(s"$dir/driver/data").schema ==
      spark.read.parquet(s"$dir/spark/data").schema)
    val lines = spark.read.text(s"$dir/driver/metadata").collect().map(_.getString(0))
    assert(lines.length == 1)
    import org.json4s.{JString, jvalue2monadic}
    val meta = org.json4s.jackson.JsonMethods.parse(lines.head)
    assert(meta \ "class" == JString(classOf[GraftPCAModel].getName) &&
      meta \ "uid" == JString("pcaDriver"))
    assert(meta \ "paramMap" \ "outputCol" == JString(model.getOutputCol))
    for (d <- Seq("data", "metadata")) {
      val names = new java.io.File(s"$dir/driver/$d").list().filterNot(_.startsWith("."))
      assert(names.contains("_SUCCESS") && names.count(n =>
        n.matches("part-00000-[0-9a-f-]{36}-c000\\..+")) == 1, names.mkString(", "))
    }
  }

  test("a params/ or data/ directory with no data file fails the load by name") {
    val dir = tmp("norows")
    for (d <- Seq("est/params", "model/data")) {
      Files.createDirectories(java.nio.file.Paths.get(s"$dir/$d"))
      Files.createFile(java.nio.file.Paths.get(s"$dir/$d/_SUCCESS"))
    }
    for ((what, load) <- Seq("est/params" -> (() => GraftPCA.load(s"$dir/est")),
        "model/data" -> (() => GraftPCAModel.load(s"$dir/model")))) {
      val e = intercept[IllegalArgumentException](load())
      assert(e.getMessage.contains(s"$dir/$what") &&
        e.getMessage.contains("holds 0 rows in 0 data files"), e.getMessage)
    }
  }

  test("a params/ or data/ directory holding two rows fails the load by name") {
    val dir = tmp("tworows")
    spark.sql("SELECT 'pcaTwo' AS uid, 2 AS k UNION ALL SELECT 'pcaTwo' AS uid, 3 AS k")
      .coalesce(1).write.parquet(s"$dir/est/params")
    val model = pcaModel("pcaTwoM")
    writeWithSpark(model, s"$dir/model")
    spark.read.parquet(s"$dir/model/data").repartition(1)
      .write.mode("append").parquet(s"$dir/model/data")
    for ((what, files, load) <- Seq(
        ("est/params", 1, () => GraftPCA.load(s"$dir/est")),
        ("model/data", 2, () => GraftPCAModel.load(s"$dir/model")))) {
      val e = intercept[IllegalArgumentException](load())
      assert(e.getMessage.contains(s"$dir/$what") &&
        e.getMessage.contains(s"holds 2 rows in $files data files"), e.getMessage)
    }
  }
}
