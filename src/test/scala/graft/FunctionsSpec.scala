package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The native `graft_*` Catalyst expressions must be registered by
  * GraftExtensions, produce BIT-identical results to the scalar
  * references in [[SimilarityReference]] (run here as test-local UDFs,
  * so a mismatch can never change an oracle hash unseen), and run
  * inside whole-stage codegen rather than at a UDF boundary — with or
  * without the extensions. */
class FunctionsSpec extends AnyFunSuite {
  import TestSpark._

  test("GraftExtensions registers graft_cosine (SQL-callable)") {
    assert(spark.catalog.functionExists("graft_cosine"))
    val v = spark.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c
        |""".stripMargin).head.getDouble(0)
    assert(math.abs(v - 1.0) < 1e-15)
  }

  test("expression is bit-identical to the cosineF UDF on fixture embeddings") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("ea")).filter($"id_a" < 40)
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("eb")).filter($"id_b" >= 40 && $"id_b" < 80)
    val pairs = a.crossJoin(b)
    val both = pairs.select($"id_a", $"id_b",
        call_function("graft_cosine", $"ea", $"eb").as("native"),
        udf(SimilarityReference.cosineF _).apply($"ea", $"eb").as("viaUdf"))
      .collect()
    assert(both.length == 40 * 40)
    both.foreach { r =>
      // BIT equality, not tolerance: same widening + summation order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}): ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  /** `Similarity.dot` over 40×40 pairs of `e` vectors plans the native
    * graft_dot, and equals, bit for bit, both the interpreted HOF dot
    * (which really runs interpreted: nothing rewrites it) and a driver
    * loop with the same widening and summation order. */
  private def assertDotParity(vecs: org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    val a = vecs.filter($"vec_id" < 40).select($"vec_id".as("id_a"), $"e".as("ea"))
    val b = vecs.filter($"vec_id" >= 40 && $"vec_id" < 80)
      .select($"vec_id".as("id_b"), $"e".as("eb"))
    val q = a.crossJoin(b).select($"ea", $"eb",
      Similarity.dot($"ea", $"eb").as("native"),
      SimilarityReference.hofDot($"ea", $"eb").as("hof"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot("), s"native dot not planned:\n$plan")
    assert(plan.contains("aggregate("), s"HOF reference was rewritten:\n$plan")
    val rows = q.collect()
    assert(rows.length == 40 * 40)
    // Float.doubleValue widens exactly, as the native dot does
    def doubles(r: org.apache.spark.sql.Row, i: Int): Seq[Double] =
      r.getSeq[java.lang.Number](i).map(_.doubleValue)
    rows.foreach { r =>
      val (x, y) = (doubles(r, 0), doubles(r, 1))
      var d = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); i += 1 }
      val bits = java.lang.Double.doubleToLongBits(r.getDouble(2))
      assert(bits == java.lang.Double.doubleToLongBits(d), s"loop: $d != ${r.getDouble(2)}")
      assert(bits == java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"HOF: ${r.getDouble(3)} != ${r.getDouble(2)}")
    }
  }

  test("native dot over array<float> is bit-identical to the HOF dot and a loop") {
    import spark.implicits._
    assertDotParity(graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".as("e")))
  }

  test("native dot over array<double> is bit-identical to the HOF dot and a loop") {
    import spark.implicits._
    assertDotParity(graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("e")))
  }

  test("graft_dot of a mixed (array<float>, array<double>) pair fails analysis") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val viaHelper = intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(Similarity.dot($"embedding", $"embedding".cast("array<double>")))
    }
    val viaSql = intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(call_function("graft_dot", $"embedding".cast("array<double>"), $"embedding"))
    }
    Seq(viaHelper, viaSql).foreach(e => assert(
      e.getMessage.contains("graft_dot expects (array<float>, array<float>) or " +
        "(array<double>, array<double>)"), e.getMessage))
  }

  test("normCol is bit-identical to the interpreted HOF norm") {
    import spark.implicits._
    val rows = graft.sources.Tables.embeddings(spark, sf).select(
        Similarity.normCol($"embedding").as("native"),
        sqrt(SimilarityReference.hofDot($"embedding", $"embedding")).as("viaHof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("graft_pq_encode produces exactly the UDF encoder's codes") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(emb)
    val rows = emb.select(
        Similarity.pqEncodeCol($"embedding", books).as("native"),
        udf(SimilarityReference.pqEncode(books)).apply($"embedding").as("viaUdf"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"${r.getSeq[Int](0)} vs ${r.getSeq[Int](1)}")
    }
    // and the helper really plans the native expression under codegen
    val plan = emb.select(
      Similarity.pqEncodeCol($"embedding", books))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_pq_encode"), s"native expression not planned:\n$plan")
    assert(!plan.contains("UDF("), s"UDF boundary in the encode plan:\n$plan")
  }

  test("graft_pq_adc produces exactly the UDF's ADC distances") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(emb)
    // bounded per-query ADC tables, the s7 construction
    val qRows = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val sub = qRows.head._2.length / Similarity.pqSubspaces
    val tables: Map[Long, Array[Array[Double]]] = qRows.map { case (id, q) =>
      id -> Array.tabulate(Similarity.pqSubspaces) { m =>
        books(m).map { ct =>
          var d = 0.0; var i = 0
          while (i < sub) { val t = q(m * sub + i) - ct(i); d += t * t; i += 1 }
          d
        }
      }
    }.toMap
    val coded = emb.select($"vec_id",
        Similarity.pqEncodeCol($"embedding", books).as("codes"))
      .crossJoin(broadcast(qRows.map(_._1).toSeq.toDF("query_id")))
    val rows = coded.select(
        Similarity.pqAdcCol($"query_id", $"codes", tables).as("native"),
        udf(SimilarityReference.pqAdc(tables)).apply($"query_id", $"codes").as("viaUdf"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    // the helper really planned the native expression under codegen
    val plan = coded.select(
        Similarity.pqAdcCol($"query_id", $"codes", tables))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_pq_adc"), s"native expression not planned:\n$plan")
    assert(!plan.contains("UDF("), s"UDF boundary in the ADC plan:\n$plan")
    // an unknown query id fails loudly (the reference's contract), never
    // a silent wrong distance
    val err = intercept[Exception] {
      coded.limit(1).select(Similarity.pqAdcCol(lit(99999L),
        $"codes", tables)).collect()
    }
    assert(err.getMessage != null)
  }

  test("graft_lsh_buckets produces exactly the UDF closure's bucket ids") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val rows = emb.select(
        Similarity.lshBucketsCol($"embedding", 64).as("native"),
        udf(SimilarityReference.lshBuckets(64)).apply($"embedding").as("viaUdf"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"${r.getSeq[Int](0)} vs ${r.getSeq[Int](1)}")
    }
    val plan = emb.select(Similarity.lshBucketsCol($"embedding", 64))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_lsh_buckets"), s"native expression not planned:\n$plan")
    assert(!plan.contains("UDF("), s"UDF boundary in the bucket plan:\n$plan")
  }

  test("graft_nearest_centroid produces exactly the UDF's cell ids") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val cents = Similarity.ivfCentroids(emb, k = 16, iters = 2)
    val rows = emb.select(
        Similarity.nearestCentroidCol($"embedding", cents).as("native"),
        udf(SimilarityReference.nearestCentroid(cents)).apply($"embedding").as("viaUdf"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"${r.getInt(0)} vs ${r.getInt(1)}"))
    val plan = emb.select(Similarity.nearestCentroidCol($"embedding", cents))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_nearest_centroid"), s"native expression not planned:\n$plan")
    assert(!plan.contains("UDF("), s"UDF boundary in the assignment plan:\n$plan")
  }

  test("graft_pq_encode null embedding yields null; zero vector encodes") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(emb)
    val df = Seq(
      (1L, Some(Array.fill(64)(0.0f))),
      (2L, Option.empty[Array[Float]])).toDF("id", "embedding")
    val rows = df.select(
      Similarity.pqEncodeCol($"embedding", books)).collect()
    assert(!rows(0).isNullAt(0) && rows(0).getSeq[Int](0).length == Similarity.pqSubspaces)
    assert(rows(1).isNullAt(0))
  }

  test("codebook arguments must be foldable literals (analysis-time error)") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(call_function("graft_pq_encode", $"embedding",
        array(array(array($"vec_id".cast("double")))))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable"), err.getMessage)
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(1.0f, 2.0f))),
      (None, Some(Array(1.0f, 2.0f))),
      (Some(Array(1.0f, 2.0f)), None)).toDF("a", "b")
    val rows = df.select(call_function("graft_cosine", $"a", $"b")).collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  test("s1 scoring runs as a native expression inside codegen, no UDF boundary") {
    val plan = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_cosine"), s"native expression not planned:\n$plan")
    // the scoring projection must not fall back to the Scala UDF
    assert(!plan.contains("UDF("), s"UDF boundary still in the s1 plan:\n$plan")
  }

  test("helpers plan graft_* nodes in codegen without the extensions (forked JVM)") {
    // must fork: the shared TestSpark session carries the extensions
    val (rc, out) = ForkedJvm.run("graft.NoExtensionsCheck", sf)
    assert(rc == 0 && out.contains("NO_EXTENSIONS_OK"),
      s"extension-less check failed (rc=$rc):\n${out.takeRight(3000)}")
  }

  test("BitsetReach folds neighbor one-hots and unions registers exactly") {
    import spark.implicits._
    import graft.functions.BitsetReach
    val nWords = 2 // key domain [0, 128)
    val nbr = udaf(new BitsetReach.NeighborBitset(nWords),
      org.apache.spark.sql.Encoders.scalaLong)
    val or = udaf(new BitsetReach.BitsetUnion(nWords),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    // vertex 1 sees {0, 63, 64}; vertex 2 sees {127}; duplicates no-op
    val edges = Seq((1L, 0L), (1L, 63L), (1L, 64L), (1L, 63L), (2L, 127L))
      .toDF("u", "v")
    val regs = edges.groupBy($"u").agg(nbr($"v").as("bits"))
    val got = regs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(got(1L).sameElements(Array(1L | (1L << 63), 1L)))
    assert(got(2L).sameElements(Array(0L, 1L << 63)))
    // re-fold both registers onto one key: element-wise OR
    val unioned = regs.select(lit(0L).as("k"), $"bits")
      .groupBy($"k").agg(or($"bits").as("bits"))
      .head().getSeq[Long](1).toArray
    assert(unioned.sameElements(
      Array(1L | (1L << 63), 1L | (1L << 63))))
  }

  test("BitsetReach rejects keys outside the register domain") {
    import spark.implicits._
    import graft.functions.BitsetReach
    val nbr = udaf(new BitsetReach.NeighborBitset(1),
      org.apache.spark.sql.Encoders.scalaLong)
    val bad = Seq((1L, 64L), (1L, -1L)).toDF("u", "v")
    val e = intercept[Exception] {
      bad.groupBy($"u").agg(nbr($"v")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("register domain")))
  }

  test("g12's register folds plan through ObjectHashAggregate, no pair distinct") {
    // the census result itself is a tiny localRelation; the fold plan
    // is what the supersteps ran — assert on a superstep's own plan
    import spark.implicits._
    import graft.functions.BitsetReach
    val nbr = udaf(new BitsetReach.NeighborBitset(4),
      org.apache.spark.sql.Encoders.scalaLong)
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("u", "v")
    val fold = edges.groupBy($"u").agg(nbr($"v").as("bits"))
    val foldPlan = fold.queryExecution.executedPlan.toString
    assert(foldPlan.contains("ObjectHashAggregate"),
      s"register fold not object-hash aggregated:\n$foldPlan")
  }
}
