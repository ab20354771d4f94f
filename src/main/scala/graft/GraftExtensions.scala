package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DotProduct, DotProductD, LshBuckets, NearestCentroid, PcaProject, PqAdc, PqEncode, SumOfSquares}
import graft.plans.RewriteHofDot

/** Session extensions for the graft engine — the public plug-in point
  * for custom Catalyst expressions (the brief's preference order:
  * native `Expression` with codegen over Scala UDFs, registered via
  * `SparkSessionExtensions`).
  *
  * Enable with:
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  * It does two things: it registers the `graft_*` SQL names (so
  * `graft_cosine(a, b)` is callable from SQL and via
  * `functions.call_function`), and it injects the [[RewriteHofDot]]
  * optimizer rule. The operators do not depend on it: they build the
  * same native expressions as Columns directly
  * ([[graft.operators.Similarity.cosineCol]]), so every session plans
  * them inside whole-stage codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: the interpreted HOF dot-product pattern becomes
    // the codegen'd native expression (see RewriteHofDot's Scaladoc)
    ext.injectOptimizerRule(_ => RewriteHofDot)
    GraftExtensions.functions.foreach { case (name, cls, arity, make) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity,
            s"$name expects $arity argument(s), got ${children.length}")
          make(children)
        }))
    }
  }
}

object GraftExtensions {

  /** (SQL name, expression class, arity, constructor) of every
    * registered native function. */
  private val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], 2, c => DotProduct(c(0), c(1))),
    ("graft_dot_d", classOf[DotProductD], 2, c => DotProductD(c(0), c(1))),
    ("graft_cosine", classOf[CosineSimilarity], 2, c => CosineSimilarity(c(0), c(1))),
    ("graft_sumsq", classOf[SumOfSquares], 1, c => SumOfSquares(c(0))),
    ("graft_pq_encode", classOf[PqEncode], 2, c => PqEncode(c(0), c(1))),
    ("graft_pq_adc", classOf[PqAdc], 3, c => PqAdc(c(0), c(1), c(2))),
    ("graft_lsh_buckets", classOf[LshBuckets], 2, c => LshBuckets(c(0), c(1))),
    ("graft_nearest_centroid", classOf[NearestCentroid], 2, c => NearestCentroid(c(0), c(1))),
    ("graft_pca_project", classOf[PcaProject], 2, c => PcaProject(c(0), c(1))))
}
