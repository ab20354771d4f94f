package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.feature.GraftGBT
import graft.operators.{Gbt, RegTree, Stump}

/** The integer-exact tree loops on degenerate designs — no rows, one
  * row, every row in one bin — and the boosting loop's label-range
  * precondition. Each degenerate case fits nothing or fails by name;
  * none may reach a NullPointerException. */
class TreeEdgeSpec extends AnyFunSuite {
  import TestSpark._

  /** (f0, f1, f2, y, h) rows plus yg = 100·y. */
  private def design(rows: Seq[(Long, Long, Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("f0", "f1", "f2", "y", "h").withColumn("yg", $"y" * 100L)
  }

  private val degenerate = Seq(
    "empty" -> Seq.empty[(Long, Long, Long, Long, Long)],
    "single row" -> Seq((3L, 1L, 2L, 7L, 1L)),
    "one bin" -> Seq.tabulate(12)(i => (3L, 1L, 2L, i.toLong % 5L, i.toLong % 3L)))

  private val oneBag: Seq[(Column, Seq[String])] =
    Seq((lit(true), Seq("f0", "f1", "f2")))

  private val threeBags: Seq[(Column, Seq[String])] =
    Seq((0L, Seq("f0", "f1")), (1L, Seq("f1", "f2")), (2L, Seq("f0", "f2")))
      .map { case (t, cols) => (col("h") =!= t, cols) }

  /** The binary loop's view of a design: yg = 1000·y for y ∈ {0, 1}. */
  private def binary(d: DataFrame): DataFrame =
    d.withColumn("yg", (col("y") % 2L) * 1000L)

  degenerate.foreach { case (name, rows) =>
    test(s"degenerate design ($name): the one-bag tree and the forest fit no splits") {
      val d = design(rows)
      assert(RegTree.fitForestSplits(d, oneBag, 3) == Seq(Seq.empty))
      assert(RegTree.fitForestSplits(d, threeBags, 2) == Seq.fill(3)(Seq.empty))
    }

    test(s"degenerate design ($name): binary and variance boosting") {
      val d = design(rows)
      val cols = Seq("f0", "f1", "f2")
      def binaryFit = Gbt.fitGbtMulti(binary(d), cols, 3, Gbt.binaryGrid,
        Gbt.shiftFor(3))
      def varianceFit = Gbt.fitGbtMulti(d, cols, 3, (-5000L, 5000L),
        RegTree.regShiftFor(5000L, 3))
      if (rows.isEmpty) {
        Seq(() => binaryFit, () => varianceFit).foreach { fit =>
          val e = intercept[IllegalArgumentException](fit())
          assert(e.getMessage.contains("empty design"))
        }
      } else {
        val n = rows.length.toLong
        val (bf0, bRounds) = binaryFit
        assert(bRounds.isEmpty)
        assert(bf0 == Math.floorDiv(rows.map(r => (r._4 % 2L) * 1000L).sum, n))
        val (vf0, vRounds) = varianceFit
        assert(vRounds.isEmpty)
        assert(vf0 == Math.floorDiv(rows.map(_._4 * 100L).sum, n))
      }
    }
  }

  test("a null feature bin fails by name in every merged loop") {
    import spark.implicits._
    val d = Seq[(Option[Long], Long, Long, Long, Long)]((None, 1L, 2L, 1L, 0L),
      (Some(4L), 1L, 2L, 0L, 1L)).toDF("f0", "f1", "f2", "y", "h")
      .withColumn("yg", $"y" * 1000L)
    val fits = Seq[() => Any](
      () => RegTree.fitForestSplits(d, oneBag, 2),
      () => RegTree.fitForestSplits(d, threeBags, 2),
      () => Gbt.fitGbtMulti(d, Seq("f0", "f1"), 3, Gbt.binaryGrid,
        Gbt.shiftFor(3)),
      () => Stump.fitTreeSplitsMulti(d, Seq("f0", "f1"), 2))
    fits.foreach { fit =>
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains("null feature bins"), e.getMessage)
    }
  }

  test("binary GraftGBT rejects a label off {0, 1} by name") {
    import spark.implicits._
    Seq(2L, -1L).foreach { bad =>
      val df = Seq((10.0, 1.0, 0L), (20.0, 2.0, 1L), (30.0, 3.0, bad),
        (40.0, 4.0, 1L)).toDF("a", "b", "label")
      val gbt = new GraftGBT().setFeatureCols(Array("a", "b"))
        .setBinWidths(Array(10.0, 1.0)).setLabelCol("label")
      val e = intercept[IllegalArgumentException](gbt.fit(df))
      assert(e.getMessage.contains("outside the declared range [0, 1000]"),
        e.getMessage)
    }
  }
}
