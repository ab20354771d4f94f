package graft

import org.apache.spark.sql.SparkSession

import graft.ml.feature.{GraftKMeans, GraftPCA}
import graft.operators.Similarity

/** Forked-JVM scenario behind FunctionsSpec's extension-less test: on a
  * session built WITHOUT `spark.sql.extensions`, every native-function
  * helper of [[graft.operators.Similarity]], and the PCA and k-means
  * models' transforms, must still plan its `graft_*` expression inside
  * a whole-stage codegen stage, with no UDF boundary and no interpreted
  * `aggregate(` higher-order function. Exit 0 + the marker line = pass. */
object NoExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-no-extensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    require(spark.conf.getOption("spark.sql.extensions").isEmpty,
      "session carries spark.sql.extensions")
    require(!spark.catalog.functionExists("graft_cosine"),
      "graft_cosine is registered on an extension-less session")

    val emb = graft.sources.Tables.embeddings(spark, sf)
    val cents = Similarity.ivfCentroids(emb, k = 16, iters = 2)
    val books = Similarity.pqCodebooks(emb)
    val tables = (0L until 5L).map(q => q -> Array.tabulate(
      Similarity.pqSubspaces, Similarity.pqCodebookSize)((m, c) => (q + m + c).toDouble)).toMap
    val dbl = $"embedding".cast("array<double>")
    // (case, the graft_* function its plan must run in codegen, column)
    val cases = Seq(
      ("cosineCol", "graft_cosine", Similarity.cosineCol($"embedding", $"embedding")),
      ("dot float", "graft_dot", Similarity.dot($"embedding", $"embedding")),
      ("dot double", "graft_dot", Similarity.dot(dbl, dbl)),
      ("normCol", "graft_dot", Similarity.normCol($"embedding")),
      ("lshBucketsCol", "graft_lsh_buckets", Similarity.lshBucketsCol($"embedding", 64)),
      ("nearestCentroidCol", "graft_nearest_centroid",
        Similarity.nearestCentroidCol($"embedding", cents)),
      ("pqEncodeCol", "graft_pq_encode", Similarity.pqEncodeCol($"embedding", books)),
      ("pqAdcCol", "graft_pq_adc", Similarity.pqAdcCol($"vec_id" % 5L,
        Similarity.pqEncodeCol($"embedding", books), tables)))
    val pca = new GraftPCA().setK(4).setInputCol("embedding").setOutputCol("v").fit(emb)
    val kmeans = new GraftKMeans().setK(4).setMaxIter(2).setInputCol("embedding")
      .setOrderCol("vec_id").setPredictionCol("v").fit(emb)
    val queries = cases.map { case (label, fn, c) => (label, fn, emb.select(c.as("v"))) } ++ Seq(
      ("GraftPCAModel.transform", "graft_pca_project", pca.transform(emb)),
      ("GraftKMeansModel.transform", "graft_dot", kmeans.transform(emb)))
    // every case is checked, so one run names every failing helper
    val failures = queries.flatMap { case (label, fn, q) =>
      val plan = q.queryExecution.executedPlan.toString
      Seq(
        q.collect().isEmpty -> "no rows",
        raw"\*\(\d+\) [^\n]*\b$fn\(".r.findFirstIn(plan).isEmpty ->
          s"$fn not planned inside a codegen stage",
        plan.contains("UDF(") -> "a UDF boundary",
        plan.contains("aggregate(") -> "an interpreted aggregate(")
        .collect { case (true, what) => s"$label: $what:\n$plan" }
    }
    require(failures.isEmpty, failures.mkString("\n"))
    spark.stop()
    println("NO_EXTENSIONS_OK")
  }
}
