package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, SquaredL2}

/** Session extension point: installs graft's native Catalyst functions at
  * session build time, so SQL users get them without any per-session
  * registration call:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   ...
  * spark.sql("SELECT graft_dot(a, b) FROM vectors")
  * }}}
  *
  * (VectorFunctions.dot also lazily registers per session for DataFrame
  * callers that didn't install the extension.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_sql2"),
      new ExpressionInfo(classOf[SquaredL2].getName, "graft_sql2"),
      (exprs: Seq[Expression]) => SquaredL2(exprs(0), exprs(1))))
    // the native as-of join's planner strategy + its optimizer hygiene
    // rules (predicate pushdown / column pruning through the custom
    // node — preference (c) of the custom-operator ladder), and the
    // one-task plan of small global sorts; graft.plans.Plans.install is
    // the runtime route for sessions built without extensions
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.SmallSortStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinRules)
    e.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(
        classOf[graft.functions.ShingleGenerator].getName, "graft_shingles"),
      (exprs: Seq[Expression]) =>
        graft.functions.ShingleGenerator(exprs(0), exprs(1))))
  }
}
