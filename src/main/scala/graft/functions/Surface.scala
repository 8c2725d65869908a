package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans

/** graft's Catalyst surface: the functions of [[VectorFunctions]], the two
  * planner strategies and the three optimizer rules. Callers hand the
  * queries plain sessions (the driver's, perfbench's), so each module's
  * `queries` map installs the surface before its query runs, and query
  * code never registers anything itself. */
object Surface {
  /** Installs the surface on `spark`. Idempotent: a function already in
    * the registry is left alone (so Spark logs no "replaced a previously
    * registered function" warning), and a strategy or rule already listed
    * is not added again. The strategies and rules go through
    * `spark.experimental`, so the rules run in the optimizer's "User
    * Provided Optimizers" batch, after Spark's own; `CosineTopKRewrite`
    * relies on that to subsume the `WindowGroupLimit` pre-filter that
    * Spark's `InferWindowGroupLimit` puts below a rank-limit window. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    VectorFunctions.functions.foreach { case (id, _, builder) =>
      if (!reg.functionExists(id))
        reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    val x = spark.experimental
    val strategies = Seq(plans.TopKPerGroupStrategy, plans.AsOfJoinStrategy)
    x.extraStrategies ++= strategies.filterNot(x.extraStrategies.contains)
    val rules = Seq(plans.CosineTopKRewrite, plans.AsOfJoinLimitPushdown,
      plans.AsOfJoinTimeFilterPushdown)
    x.extraOptimizations ++= rules.filterNot(x.extraOptimizations.contains)
  }

  /** `queries` with [[install]] run before each query function. */
  def queries(queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    queries.map { case (name, q) =>
      name -> ((s: SparkSession, d: String) => { install(s); q(s, d) })
    }
}
