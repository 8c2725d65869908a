package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension wiring for the engine's custom Catalyst surface.
  * Usage: `withExtensions(new GraftExtensions)` on a session builder, or
  * spark.sql.extensions=graft.GraftExtensions. Queries that need the
  * functions also self-register via VectorFunctions.register, so the
  * driver's plain sessions work unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    functions.VectorFunctions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => plans.TopKPerGroupStrategy)
    e.injectOptimizerRule(_ => plans.AsOfJoinLimitPushdown)
    e.injectOptimizerRule(_ => plans.AsOfJoinTimeFilterPushdown)
    e.injectOptimizerRule(_ => plans.CosineTopKRewrite)
  }
}
