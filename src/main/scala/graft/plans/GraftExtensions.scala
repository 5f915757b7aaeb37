package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProductExpr

/** SparkSessionExtensions entry point (SURVEY.md §4.3): makes the library's
  * native expressions first-class SQL functions —
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions
  *   ... SELECT graft_dot(embedding, probe) FROM ...
  *
  * or `.withExtensions(new GraftExtensions)` on a session builder.
  *
  * One optimizer Rule ships: AnnRewriteRule, the opt-in (conf-gated,
  * default OFF) rewrite of a naive cross-join cosine-threshold search into
  * sign-LSH bucketed candidates. Nothing that Catalyst already does is
  * re-implemented (rank-filter top-k pruning is InferWindowGroupLimit,
  * limit-through-window is LimitPushDownThroughWindow); the rule exists
  * for a semantics Spark genuinely lacks — sanctioned-approximation
  * candidate pruning.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectOptimizerRule(_ => AnnRewriteRule)
    // SQL-text MERGE / UPDATE / DELETE / INSERT over temp views (M11,
    // M12): Spark's planner only accepts them against v2
    // row-level-operation tables; this parser wrapper routes temp-view
    // targets through the graft interpreters instead — see DmlViews'
    // scaladoc for scope, and GraftSqlParser's for why the hook is the
    // parser rather than a resolution rule.
    ext.injectParser((s, p) => new GraftSqlParser(s, p))
  }
}

object GraftExtensions {
  private[graft] val dotFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_dot expects 2 arguments, got ${children.length}")
      DotProductExpr(children.head, children(1))
    })

  /** Runtime registration for sessions built without the extension conf. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val (id, info, builder) = dotFunction
    spark.sessionState.functionRegistry
      .registerFunction(id, info, builder)
  }
}
