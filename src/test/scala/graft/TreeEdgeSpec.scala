package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.feature.{GraftGBT, GraftTree}
import graft.operators.{Gbt, RegTree}

/** The integer-exact tree loops on degenerate designs — no rows, one
  * row, every row in one bin — their label preconditions, and the
  * weighted-design contract. Each degenerate case fits nothing or
  * fails by name; none may reach a NullPointerException. */
class TreeEdgeSpec extends AnyFunSuite {
  import TestSpark._

  /** (f0, f1, f2, y, h) rows as a weighted design: w = 1, yg = 100·y. */
  private def design(rows: Seq[(Long, Long, Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("f0", "f1", "f2", "y", "h").withColumn("w", lit(1L))
      .withColumn("yg", $"y" * 100L)
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

  /** The binary loops' view of a design: y ∈ {0, 1}, yg = 1000·y. */
  private def binary(d: DataFrame): DataFrame =
    d.withColumn("y", col("y") % 2L).withColumn("yg", col("y") * 1000L)

  degenerate.foreach { case (name, rows) =>
    test(s"degenerate design ($name): the one-bag tree and the forest fit no splits") {
      val d = design(rows)
      Seq(RegTree.Variance -> d, RegTree.Gini -> binary(d)).foreach {
        case (loss, dl) =>
          assert(RegTree.fitForestSplits(dl, oneBag, 3, loss) == Seq(Seq.empty))
          assert(RegTree.fitForestSplits(dl, threeBags, 2, loss) ==
            Seq.fill(3)(Seq.empty))
      }
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
      .withColumn("w", lit(1L)).withColumn("yg", $"y" * 1000L)
    val fits = Seq[() => Any](
      () => RegTree.fitForestSplits(d, oneBag, 2, RegTree.Variance),
      () => RegTree.fitForestSplits(d, threeBags, 2, RegTree.Variance),
      () => Gbt.fitGbtMulti(d, Seq("f0", "f1"), 3, Gbt.binaryGrid,
        Gbt.shiftFor(3)),
      () => RegTree.fitForestSplits(d, Seq((lit(true), Seq("f0", "f1"))), 2,
        RegTree.Gini))
    fits.foreach { fit =>
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains("null feature bins"), e.getMessage)
    }
  }

  /** The four (a, b, label) rows with one label replaced by `bad`. */
  private def badLabel(bad: Long): DataFrame = {
    import spark.implicits._
    Seq((10.0, 1.0, 0L), (20.0, 2.0, 1L), (30.0, 3.0, bad), (40.0, 4.0, 1L))
      .toDF("a", "b", "label")
  }

  test("binary GraftGBT rejects a label off {0, 1} by name") {
    Seq(2L, -1L).foreach { bad =>
      val gbt = new GraftGBT().setFeatureCols(Array("a", "b"))
        .setBinWidths(Array(10.0, 1.0)).setLabelCol("label")
      val e = intercept[IllegalArgumentException](gbt.fit(badLabel(bad)))
      assert(e.getMessage.contains("outside the declared range [0, 1000]"),
        e.getMessage)
    }
  }

  test("a label off {0, 1} fails by name through one-feature GraftGBT " +
      "and one- and two-feature GraftTree Gini") {
    Seq(2L, -1L).foreach { bad =>
      val gbt = new GraftGBT().setFeaturesCol("a").setBinWidth(10.0)
        .setLabelCol("label")
      val eg = intercept[IllegalArgumentException](gbt.fit(badLabel(bad)))
      assert(eg.getMessage.contains("outside the declared range [0, 1000]"),
        eg.getMessage)
      val trees = Seq(
        new GraftTree().setFeaturesCol("a").setBinWidth(10.0),
        new GraftTree().setFeatureCols(Array("a", "b"))
          .setBinWidths(Array(10.0, 1.0)))
      trees.foreach { t =>
        val e = intercept[IllegalArgumentException](
          t.setLabelCol("label").fit(badLabel(bad)))
        assert(e.getMessage.contains(
          s"Gini loss needs a binary label: y spans [${math.min(bad, 0L)}, " +
            s"${math.max(bad, 1L)}], outside {0, 1}"), e.getMessage)
      }
    }
  }

  test("a design and its (features, label) census fit identical trees " +
      "and boosting rounds, for every loss") {
    val rows = design(Seq.tabulate(240) { i =>
      val (f0, f1, f2) = (i % 7L, (3L * i) % 5L, (i / 11L) % 4L)
      (f0, f1, f2, (f0 + 2L * f1 + i % 3L) % 9L, i % 3L)
    })
    /** Fit `fit` on the row design and on its census over `keys`. */
    def same[T](d: DataFrame, keys: Seq[String])(fit: DataFrame => T): T = {
      val census = d.groupBy(keys.map(col): _*).agg(count(lit(1)).as("w"))
      assert(census.count() < d.count())
      val (a, b) = (fit(d), fit(census))
      assert(a == b)
      a
    }
    Seq(Seq("f0"), Seq("f0", "f1", "f2")).foreach { feats =>
      val bag = Seq((lit(true), feats))
      Seq(RegTree.Variance -> rows, RegTree.Gini -> binary(rows)).foreach {
        case (loss, d) =>
          val splits = same(d, feats :+ "y")(
            RegTree.fitForestSplits(_, bag, 3, loss))
          assert(splits.head.nonEmpty, s"$loss on $feats fit no split")
      }
      val boosts = Seq(
        (binary(rows), Gbt.binaryGrid, Gbt.shiftFor(3)),
        (rows, (-5000L, 5000L), RegTree.regShiftFor(5000L, 3)))
      boosts.foreach { case (d, range, shift) =>
        val (_, rounds) = same(d, feats :+ "yg")(
          Gbt.fitGbtMulti(_, feats, 3, range, shift))
        assert(rounds.length == 3, s"$range on $feats: ${rounds.length} rounds")
      }
    }
    val forest = same(rows, Seq("f0", "f1", "f2", "y", "h"))(
      RegTree.fitForestSplits(_, threeBags, 2, RegTree.Variance))
    assert(forest.forall(_.nonEmpty))
  }
}
