package graft

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.SQLTransformer
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.feature.{GraftIDF, GraftLinear, GraftLinearModel}
import graft.operators.Ols
import graft.sources.Tables

/** The estimators' protocol claim — reference parity with RapidsPCA's
  * `org.apache.spark.ml.Estimator` contract (reference:
  * RapidsPCA.scala:81-137, facade PCA.scala:27-37) — exercised where
  * users actually exercise it: composed inside a stock
  * `org.apache.spark.ml.Pipeline` (with a stock stage in the middle),
  * persisted THROUGH Pipeline's own save/load machinery, and tuned by
  * a stock `CrossValidator` over user-supplied folds. */
class MlPipelineSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** documents + a deterministic integer label/feature frame. */
  private def docs: DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sf).select($"doc_id", $"text")
  }

  private def idfStage = new GraftIDF()
    .setIdCol("doc_id").setInputCol("text").setOutputCol("tfidf_mass")
    .setMinDf(2)

  /** Stock SQLTransformer bridging the text stage into the linear
    * stage's integer-design contract (the p9 quantization discipline). */
  private def bridgeStage = new SQLTransformer().setStatement(
    """SELECT *, CAST(round(tfidf_mass * 100) AS BIGINT) AS xm,
      CAST(length(text) AS BIGINT) AS xl,
      CAST(doc_id % 7 AS BIGINT) AS xs,
      CAST(length(text) % 997 + doc_id % 5 AS BIGINT) AS y
      FROM __THIS__""")

  private def linStage = new GraftLinear()
    .setFeaturesCols(Array("xm", "xl", "xs")).setLabelCol("y")
    .setRegParam(0L).setPredictionCol("prediction")

  private def predictions(df: DataFrame): Map[Long, Double] = {
    import spark.implicits._
    df.select($"doc_id", $"prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("Pipeline(GraftIDF -> SQLTransformer -> GraftLinear) == manual chain") {
    val pipe = new Pipeline().setStages(Array(idfStage, bridgeStage, linStage))
    val model = pipe.fit(docs)
    val fromPipe = predictions(model.transform(docs))

    // the manual chain, stage by stage, identical params
    val m1 = idfStage.fit(docs)
    val d1 = m1.transform(docs)
    val d2 = bridgeStage.transform(d1)
    val m2 = linStage.fit(d2)
    val manual = predictions(m2.transform(d2))

    assert(fromPipe.size == manual.size && fromPipe.nonEmpty)
    // identical arithmetic path -> bit-for-bit equal doubles
    fromPipe.foreach { case (id, p) =>
      assert(p == manual(id), s"doc $id: pipeline $p != manual ${manual(id)}")
    }
    // the fitted linear stage is OUR model type with real coefficients
    val lin = model.stages.last.asInstanceOf[GraftLinearModel]
    assert(lin.coefficients.length == 3)
    assert(lin.coefficients.exists(_ != 0.0))
  }

  test("PipelineModel persists and reloads through Pipeline's own machinery") {
    val pipe = new Pipeline().setStages(Array(idfStage, bridgeStage, linStage))
    val model = pipe.fit(docs)
    val before = predictions(model.transform(docs))
    val path = tmp("graft_mlpipe") + "/pm"
    model.write.overwrite().save(path)
    val back = PipelineModel.load(path)
    // stage classes survive the reflective metadata round-trip
    assert(back.stages.map(_.getClass.getSimpleName).toSeq ==
      Seq("GraftIDFModel", "SQLTransformer", "GraftLinearModel"))
    val after = predictions(back.transform(docs))
    assert(after == before)
    // and the fitted coefficients came back exactly
    val a = model.stages.last.asInstanceOf[GraftLinearModel]
    val b = back.stages.last.asInstanceOf[GraftLinearModel]
    assert(a.intercept == b.intercept)
    assert(a.coefficients.toSeq == b.coefficients.toSeq)
  }

  test("ModelRegistry governs artifact versions with snapshot lineage") {
    import graft.ml.ModelRegistry
    val base = tmp("graft_registry")
    val reg = s"$base/registry"
    // two refits of the same surface, both persisted, both registered
    val d = bridgeStage.transform(idfStage.fit(docs).transform(docs))
    val m1 = linStage.fit(d)
    val m2 = new GraftLinear().setFeaturesCols(Array("xm", "xl", "xs"))
      .setLabelCol("y").setRegParam(Ols.ridgeLambda)
      .setPredictionCol("prediction").fit(d)
    m1.write.overwrite().save(s"$base/m1")
    m2.write.overwrite().save(s"$base/m2")
    assert(ModelRegistry.register(spark, reg, "scorer", "GraftLinearModel",
      s"$base/m1", "initial fit") == 1L)
    assert(ModelRegistry.register(spark, reg, "scorer", "GraftLinearModel",
      s"$base/m2", "ridge refit") == 2L)
    ModelRegistry.register(spark, reg, "other", "GraftLinearModel",
      s"$base/m1")
    // latest resolves the refit; an unrelated name is untouched
    assert(ModelRegistry.latestPath(spark, reg, "scorer")
      .contains(s"$base/m2"))
    assert(ModelRegistry.entries(spark, reg, Some("scorer")).count() == 2L)
    // lineage: at registry snapshot 1 the resolution WAS the first fit
    assert(ModelRegistry.pathAtVersion(spark, reg, "scorer", 1L)
      .contains(s"$base/m1"))
    // the resolved artifact loads and scores through the standard surface
    val loaded = GraftLinearModel.load(
      ModelRegistry.latestPath(spark, reg, "scorer").get)
    assert(loaded.intercept == m2.intercept)
    assert(loaded.transform(d).columns.contains("prediction"))
  }

  test("CrossValidator tunes GraftLinear's ridge lambda over p12's folds") {
    import spark.implicits._
    // p12's design AND p12's exact fold rule, materialized as a foldCol
    val li = Tables.lineitem(spark, sf).select(
      (conv(substring(md5(concat_ws(":", $"l_orderkey", $"l_linenumber")),
        1, 4), 16, 10).cast("long") % Ols.cvFolds).cast("int").as("fold"),
      round($"l_quantity").cast("long").as("q"),
      round($"l_discount" * 100).cast("long").as("d"),
      round($"l_tax" * 100).cast("long").as("t"),
      round($"l_extendedprice" * 100).cast("long").as("y"))
    val est = new GraftLinear()
      .setFeaturesCols(Array("q", "d", "t")).setLabelCol("y")
      .setPredictionCol("prediction")
    val grid = new ParamGridBuilder()
      .addGrid(est.regParam, Array(0L, Ols.ridgeLambda, Ols.ridgeLambda * 1000))
      .build()
    val cv = new CrossValidator()
      .setEstimator(est)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol("y").setPredictionCol("prediction").setMetricName("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(Ols.cvFolds)
      .setFoldCol("fold")
    val cvm = cv.fit(li)
    assert(cvm.avgMetrics.length == grid.length)
    assert(cvm.avgMetrics.forall(m => java.lang.Double.isFinite(m) && m > 0))
    // best model's lambda is the grid value with the minimum avg RMSE
    val bestIdx = cvm.avgMetrics.zipWithIndex.minBy(_._1)._2
    val bestLambda = grid(bestIdx).apply(est.regParam)
    val picked = cvm.bestModel.asInstanceOf[GraftLinearModel]
    assert(picked.getOrDefault(picked.regParam) == bestLambda)
    // the tuned model predicts through the standard surface
    val out = cvm.transform(li.limit(10))
    assert(out.columns.contains("prediction") && out.count() == 10)
  }

  test("Pipeline and CrossValidator compose GraftTree (protocol surface #11)") {
    import spark.implicits._
    import graft.ml.feature.{GraftTree, GraftTreeModel}
    val design = Tables.lineitem(spark, sf).select(
      (conv(substring(md5(concat_ws(":", $"l_orderkey", $"l_linenumber")),
        1, 4), 16, 10).cast("long") % 3).cast("int").as("fold"),
      $"l_extendedprice".as("price"),
      ($"l_returnflag" === "R").cast("long").as("label"))
    val treeStage = new GraftTree().setMaxDepth(2).setBinWidth(100.0)
      .setFeaturesCol("price").setLabelCol("label")
    // stock Pipeline: the fitted stage is ours, scoring matches a
    // direct fit exactly
    val pipe = new Pipeline().setStages(Array(treeStage))
    val pm = pipe.fit(design)
    val staged = pm.stages.last.asInstanceOf[GraftTreeModel]
    val direct = new GraftTree().setMaxDepth(2).setBinWidth(100.0)
      .setFeaturesCol("price").setLabelCol("label").fit(design)
    assert(staged.splits.toSeq == direct.splits.toSeq)
    val viaPipe = pm.transform(design).agg(sum($"probability")).head.getDouble(0)
    val viaDirect = direct.transform(design).agg(sum($"probability")).head.getDouble(0)
    assert(viaPipe == viaDirect)
    // persistence THROUGH Pipeline's own machinery
    val dir = tmp("graft_tree_pipe")
    pm.write.overwrite().save(dir)
    val back = org.apache.spark.ml.PipelineModel.load(dir)
    val backTree = back.stages.last.asInstanceOf[GraftTreeModel]
    assert(backTree.splits.toSeq == staged.splits.toSeq &&
      backTree.rootN == staged.rootN)
    // stock CrossValidator tunes maxDepth; deeper fits training data
    // at least as well, and the chosen depth is the grid's argmin
    val est = new GraftTree().setBinWidth(100.0)
      .setFeaturesCol("price").setLabelCol("label")
    val grid = new ParamGridBuilder()
      .addGrid(est.maxDepth, Array(1, 2, 3)).build()
    val cv = new CrossValidator()
      .setEstimator(est)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol("label").setPredictionCol("probability")
        .setMetricName("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(3).setFoldCol("fold")
    val cvm = cv.fit(design)
    assert(cvm.avgMetrics.length == 3 &&
      cvm.avgMetrics.forall(java.lang.Double.isFinite))
    val bestIdx = cvm.avgMetrics.zipWithIndex.minBy(_._1)._2
    val bestDepth = grid(bestIdx).apply(est.maxDepth)
    val picked = cvm.bestModel.asInstanceOf[GraftTreeModel]
    assert(picked.getOrDefault(picked.maxDepth) == bestDepth)
    assert(cvm.transform(design.limit(5)).columns.contains("probability"))
  }
}
