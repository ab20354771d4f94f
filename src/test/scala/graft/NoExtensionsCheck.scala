package graft

import org.apache.spark.sql.SparkSession

import graft.ml.feature.GraftPCA
import graft.operators.Similarity

/** Forked-JVM scenario behind FunctionsSpec's extension-less test: on a
  * session built WITHOUT `spark.sql.extensions`, every native-function
  * helper of [[graft.operators.Similarity]], and the PCA model's
  * transform, must still plan its `graft_*` expression inside a
  * whole-stage codegen stage, with no UDF boundary. Exit 0 + the marker
  * line = pass. */
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
    val cases = Seq(
      "graft_cosine" -> Similarity.cosineCol($"embedding", $"embedding"),
      "graft_sumsq" -> Similarity.normCol($"embedding"),
      "graft_lsh_buckets" -> Similarity.lshBucketsCol($"embedding", 64),
      "graft_nearest_centroid" -> Similarity.nearestCentroidCol($"embedding", cents),
      "graft_pq_encode" -> Similarity.pqEncodeCol($"embedding", books),
      "graft_pq_adc" -> Similarity.pqAdcCol($"vec_id" % 5L,
        Similarity.pqEncodeCol($"embedding", books), tables))
    val pca = new GraftPCA().setK(4).setInputCol("embedding").setOutputCol("v").fit(emb)
    val queries = cases.map { case (name, c) => name -> emb.select(c.as("v")) } :+
      ("graft_pca_project" -> pca.transform(emb))
    queries.foreach { case (name, q) =>
      require(q.collect().nonEmpty, s"$name: no rows")
      val plan = q.queryExecution.executedPlan.toString
      require(raw"\*\(\d+\) [^\n]*\b$name\(".r.findFirstIn(plan).isDefined,
        s"$name not planned inside a codegen stage:\n$plan")
      require(!plan.contains("UDF("), s"$name plan has a UDF boundary:\n$plan")
    }
    spark.stop()
    println("NO_EXTENSIONS_OK")
  }
}
