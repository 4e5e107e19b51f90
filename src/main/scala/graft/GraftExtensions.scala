package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Production wiring for graft's native surface:
  * `--conf spark.sql.extensions=graft.GraftExtensions` registers the
  * optimizer rule, the as-of-join planner strategy, and EVERY native
  * function in every session. The function list is
  * `GraftFunctions.all` — the same single source `GraftSession.ensure`
  * and the operators' parse-time binding use — so the paths cannot drift
  * (ExtensionsSpec asserts the injected set equals the list). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDotProduct)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    graft.functions.GraftFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        // the expression's own class, not this wiring class — DESCRIBE
        // FUNCTION metadata regressed when the shared list dropped the
        // per-expression names (r4 review)
        new ExpressionInfo(cls.getName, name),
        builder))
    }
  }
}
