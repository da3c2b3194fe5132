package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: makes the engine's native expressions
  * AND the top-k-per-group planner strategy available to any session built
  * with `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) — the deployment path for a
  * cluster where users shouldn't have to call a register() method first.
  * (`TopK.perGroup` also self-registers through experimental
  * extraStrategies, so the library works without the conf; the injection
  * is for sessions that build `TopKPerGroupPlan` nodes directly.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopK.Planner)
    // retarget row_number-then-filter plans onto the native top-k operator
    ext.injectOptimizerRule(_ => graft.plans.RowNumberTopKRewrite)
    // the same table GraftFunctions.register installs
    GraftFunctions.all.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.exprClass.getName, f.name), f.builder))
    }
  }
}
