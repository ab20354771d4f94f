package graft

import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Cov

/** The covariance pass against a locally computed Gram: every input
  * type, narrow widths and widths off the kernel's vector steps, and
  * partitions that end in rank-1 tail rows, sit on the 64-row block
  * edge, hold more than one block, or hold nothing (the leading ones
  * included, so the width comes from a later partition). */
class CovSpec extends AnyFunSuite {
  import TestSpark._

  /** The five input encodings of one row. */
  private val inputTypes = Seq("array<float>", "array<double>", "array<int>",
    "vector dense", "vector sparse")

  /** Seeded rows of width n, integral for array<int>, float-exact for
    * array<float>, about a third zeros otherwise (so sparse rows are
    * sparse). */
  private def rows(kind: String, n: Int, count: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count)(Array.fill(n) {
      kind match {
        case "array<int>" => (rnd.nextInt(101) - 50).toDouble
        case "array<float>" => rnd.nextGaussian().toFloat.toDouble
        case _ => if (rnd.nextInt(3) == 0) 0.0 else rnd.nextGaussian()
      }
    })
  }

  /** One-column DataFrame `f` with exactly the given partitions. */
  private def frame(kind: String, parts: Seq[Seq[Array[Double]]]): DataFrame = {
    val (dt, enc): (DataType, Array[Double] => Any) = kind match {
      case "array<float>" => (ArrayType(FloatType, containsNull = false),
        (x: Array[Double]) => x.map(_.toFloat).toSeq)
      case "array<double>" => (ArrayType(DoubleType, containsNull = false),
        (x: Array[Double]) => x.toSeq)
      case "array<int>" => (ArrayType(IntegerType, containsNull = false),
        (x: Array[Double]) => x.map(_.toInt).toSeq)
      case "vector dense" => (SQLDataTypes.VectorType,
        (x: Array[Double]) => Vectors.dense(x))
      case "vector sparse" => (SQLDataTypes.VectorType,
        (x: Array[Double]) => Vectors.dense(x).toSparse: Vector)
    }
    val rdd = spark.sparkContext.parallelize(parts, parts.length)
      .flatMap(_.map(x => Row(enc(x))))
    spark.createDataFrame(rdd, StructType(Seq(StructField("f", dt))))
  }

  /** Checks one pass against Σx and ΣxxT computed here: entries to 1e-12
    * of their Cauchy–Schwarz scale sqrt(G_ii·G_jj), the mean to 1e-12 of
    * Σ|x|/m, and the second moment exactly symmetric. */
  private def assertExact(stats: Cov.Stats, data: Seq[Array[Double]], what: String): Unit = {
    val n = data.head.length
    val m = data.length
    assert(stats.m == m, what)
    val g = Array.ofDim[Double](n, n)
    val sum = new Array[Double](n)
    val abs = new Array[Double](n)
    data.foreach { x =>
      var i = 0
      while (i < n) {
        sum(i) += x(i); abs(i) += math.abs(x(i))
        val xi = x(i)
        if (xi != 0.0) {
          val gi = g(i)
          var j = 0
          while (j < n) { gi(j) += xi * x(j); j += 1 }
        }
        i += 1
      }
    }
    val s = stats.secondMoment
    assert(s.rows == n && s.cols == n, what)
    for (i <- 0 until n) {
      assert(math.abs(stats.mean(i) - sum(i) / m) <= 1e-12 * abs(i) / m,
        s"$what: mean($i) ${stats.mean(i)} vs ${sum(i) / m}")
      for (j <- 0 until n) {
        val scale = math.sqrt(g(i)(i) * g(j)(j))
        assert(math.abs(s(i, j) - g(i)(j)) <= 1e-12 * scale,
          s"$what: gram($i,$j) ${s(i, j)} vs ${g(i)(j)}")
        assert(java.lang.Double.doubleToRawLongBits(s(i, j)) ==
          java.lang.Double.doubleToRawLongBits(s(j, i)), s"$what: gram($i,$j) not symmetric")
      }
    }
  }

  test("Gram and column sums equal a local B^T B on every input type, width and block edge") {
    for (n <- Seq(1, 2, 3, 4, 5, 8, 9, 63, 127, 128, 129, 300, 512); kind <- inputTypes) {
      val seed = n * 31L + kind.hashCode
      // 29 and 34 rows end mid-block; an empty partition sits between
      // them, or the two leading partitions are empty. Partitions of 1,
      // 2, 3 and 5 rows end in rank-1 tail rows; 63 to 67 rows sit on
      // the 64-row block edge.
      val (a, b) = (rows(kind, n, 29, seed), rows(kind, n, 34, seed + 1))
      val edges = Seq(1, 2, 3, 5, 63, 64, 65, 67).map(c => rows(kind, n, c, seed + 100 + c))
      for (parts <- Seq(Seq(a, Seq.empty, b), Seq(Seq.empty, Seq.empty, a, b), edges))
        assertExact(Cov.stats(frame(kind, parts), "f"), parts.flatten,
          s"n=$n $kind partitions=${parts.map(_.length).mkString(",")}")
    }
  }

  test("partitions longer than a block flush every full block and the tail") {
    val n = 129
    for (kind <- Seq("array<float>", "vector dense")) {
      val parts = Seq(rows(kind, n, Cov.blockRows + 7, 1L), Seq.empty,
        rows(kind, n, Cov.blockRows, 2L), rows(kind, n, 2 * Cov.blockRows + 1, 3L))
      assertExact(Cov.stats(frame(kind, parts), "f"), parts.flatten,
        s"n=$n $kind")
    }
  }

  /** The message of the IllegalArgumentException `body` throws,
    * directly or as the cause of a failed Spark job. */
  private def illegalArgument(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in $e"))
  }

  test("a row wider or narrower than the first fails the pass with both widths") {
    import spark.implicits._
    for (odd <- Seq(Array(1.0, 2.0, 3.0, 4.0), Array(1.0, 2.0))) {
      val df = Seq(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), odd, Array(7.0, 8.0, 9.0))
        .toDF("f").coalesce(1)
      val msg = illegalArgument(Cov.stats(df, "f"))
      assert(msg.contains(s"row width ${odd.length} != 3"), msg)
    }
    // each partition reads its own first row: the merge compares them
    val split = frame("array<double>",
      Seq(Seq(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)), Seq.empty, Seq(Array(1.0, 2.0))))
    val msg = illegalArgument(Cov.stats(split, "f"))
    assert(msg.contains("row width 2 != 3") || msg.contains("row width 3 != 2"), msg)
    // no rows at all: there is no width, and the pass says why
    for (kind <- Seq("array<float>", "vector dense")) {
      val empty = frame(kind, Seq(Seq.empty, Seq.empty))
      assert(illegalArgument(Cov.stats(empty, "f")).contains("empty input column 'f'"), kind)
    }
  }

  test("IncrementalCov: an empty batch is a no-op; folded batches stay exactly symmetric") {
    val n = 130
    val data = rows("array<double>", n, 40, 7L)
    val df = frame("array<double>", Seq(data.take(25), data.drop(25)))
    val inc = new graft.streaming.IncrementalCov("f")
    inc.update(df.limit(0))
    assert(inc.rowCount == 0)
    assert(illegalArgument(inc.stats).contains("no rows accumulated"))
    inc.update(frame("array<double>", Seq(data.take(25))))
    inc.update(df.filter("false"))
    inc.update(frame("array<double>", Seq(Seq.empty, data.drop(25))))
    assert(inc.rowCount == 40)
    assertExact(inc.stats, data, "incremental")
  }
}
