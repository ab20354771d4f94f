package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness

/** Builder-side scale-audit fixture generator (round-8 verdict task
  * #1): unions `factor` id-remapped copies of each fixture table into
  * a synthetic larger scale (e.g. sf0.1 ×10 ≈ sf1), so superlinear
  * plans show up as >factor runtime growth under `graft.Probe`
  * BEFORE real data ever does.
  *
  * Key discipline: every key domain is offset per copy by a fixed
  * stride (max key + 1 of the source), so referential integrity holds
  * within each copy and copies never collide. The tiny dimension
  * tables (region, nation) are NOT duplicated — facts from all copies
  * share them, exactly how a bigger TPC-H keeps 25 nations. Timestamps
  * and value distributions are left untouched (same windows, ×factor
  * rows per window); document text and embeddings repeat verbatim, so
  * duplicate/near-dup cluster sizes grow ×factor — deliberately the
  * STRESS shape for the dedup family's skew caps.
  *
  * Usage: runMain graft.tools.SynthScale <srcDir> <outDir> <factor>
  */
object SynthScale {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = Harness.session(Harness.cpus)

    def src(t: String): DataFrame =
      spark.read.parquet(s"$srcDir/$t.parquet")

    def strideOf(t: String, key: String): Long =
      src(t).agg(max(col(key))).head().getLong(0) + 1L

    /** Union `factor` copies with the given long-key columns offset by
      * copy × that key's stride. */
    def scaled(t: String, keyStrides: Map[String, Long]): DataFrame = {
      val base = src(t)
      (0 until factor).map { i =>
        keyStrides.foldLeft(base) { case (df, (k, s)) =>
          df.withColumn(k, col(k) + lit(i.toLong * s))
        }
      }.reduce(_ unionByName _)
    }

    val cust = strideOf("customer", "c_custkey")
    val supp = strideOf("supplier", "s_suppkey")
    val part = strideOf("part", "p_partkey")
    val ord = strideOf("orders", "o_orderkey")
    val ev = strideOf("events", "event_id")
    val usr = src("events").agg(max(col("user_id"))).head().getLong(0) + 1L
    val doc = strideOf("documents", "doc_id")
    val vec = strideOf("embeddings", "vec_id")

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> scaled("customer", Map("c_custkey" -> cust)),
      "supplier" -> scaled("supplier", Map("s_suppkey" -> supp)),
      "part" -> scaled("part", Map("p_partkey" -> part)),
      "orders" -> scaled("orders",
        Map("o_orderkey" -> ord, "o_custkey" -> cust)),
      "lineitem" -> scaled("lineitem",
        Map("l_orderkey" -> ord, "l_partkey" -> part, "l_suppkey" -> supp)),
      "events" -> scaled("events",
        Map("event_id" -> ev, "user_id" -> usr)),
      "documents" -> scaled("documents", Map("doc_id" -> doc)),
      "embeddings" -> scaled("embeddings", Map("vec_id" -> vec)))

    plans.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[synth] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
