package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cosine-top-k rewrite (plans.CosineTopKRewrite): plan guard that
  * the rule fires on q_sim_topk's rank-limit shape, and exactness —
  * identical results with the rewrite on and off (it is an EXACT
  * physical rewrite; approximate search stays the explicit q_sim_ann_*
  * surface). The rewrite is switched off through Spark's own
  * `spark.sql.optimizer.excludedRules`. */
class TopKRewriteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def withRewrite[T](on: Boolean)(body: => T): T =
    if (on) body
    else GraftSession.withConfs(spark,
      "spark.sql.optimizer.excludedRules" -> plans.CosineTopKRewrite.ruleName)(body)

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("the rewrite fires on q_sim_topk's shape: TopKPerGroup planned, no Window") {
    val p = withRewrite(on = true)(physical(LlmOps.qSimTopk(spark, sf)))
    assert(p.contains("TopKPerGroup"), s"rewrite did not fire:\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window("),
      s"window stack should be fully replaced:\n$p")
  }

  test("q_sim_topk results are identical with the rewrite on and off (exactness)") {
    val on = withRewrite(on = true)(
      LlmOps.qSimTopk(spark, sf).collect().map(_.toSeq))
    val off = withRewrite(on = false)(
      LlmOps.qSimTopk(spark, sf).collect().map(_.toSeq))
    assert(on.nonEmpty && on.length === off.length)
    assert(on.sameElements(off))
  }

  test("excludedRules=CosineTopKRewrite keeps the window plan") {
    val p = withRewrite(on = false)(physical(LlmOps.qSimTopk(spark, sf)))
    assert(!p.contains("TopKPerGroup"), s"rewrite fired while disabled:\n$p")
  }

  test("k above MaxK (1000) falls back to the window plan") {
    val df = spark.range(100)
      .select(col("id"), (col("id") % 7).as("g"), (col("id") * 37 % 101).as("s"))
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    def topk(k: Int) = physical(df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
    assert(plans.CosineTopKRewrite.MaxK === 1000)
    assert(topk(1000).contains("TopKPerGroup"), "k=1000 must rewrite")
    assert(!topk(1001).contains("TopKPerGroup"), "k=1001 must not rewrite")
  }

  test("generic rank-limit shapes rewrite exactly (dense keys, ties broken by id)") {
    val df = spark.range(1000)
      .select(col("id"), (col("id") % 13).as("g"),
        (col("id") * 2654435761L % 97).as("s"))
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    def topk(): Array[Seq[Any]] =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
        .orderBy(col("g"), col("rn")).collect().map(_.toSeq)
    val on = withRewrite(on = true)(topk())
    val off = withRewrite(on = false)(topk())
    assert(on.length === 13 * 4)
    assert(on.sameElements(off))
  }

  test("partial row budget: pass-through overflow keeps results exact (budget=1)") {
    // budget 1 → at most one tracked group per partial partition; every
    // other group's rows pass through unfiltered and the final phase
    // must still produce the exact window answer. The planned operators
    // get the budget swapped in; AQE is off so the plan is the tree that
    // runs.
    val df = spark.range(2000)
      .select(col("id"), (col("id") % 97).as("g"),
        (col("id") * 2654435761L % 89).as("s"))
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    def topk(): DataFrame =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .orderBy(col("g"), col("rn"))
    val on = GraftSession.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = topk().queryExecution.executedPlan.transform {
        case e: plans.TopKPerGroupExec => e.copy(partialRowBudget = 1)
      }
      val budgets = plan.collect { case e: plans.TopKPerGroupExec => e.partialRowBudget }
      assert(budgets === Seq(1L, 1L), s"expected the two phases, budget 1:\n$plan")
      plan.executeCollect().map(_.toSeq(plan.schema))
    }
    val off = withRewrite(on = false)(topk().collect().map(_.toSeq))
    assert(on.length === 97 * 3)
    assert(on.sameElements(off))
  }

  test("final phase requires a group sort: one live heap, O(k) state (plan guard)") {
    val wrapped = withRewrite(on = true)(
      LlmOps.qSimTopk(spark, sf).queryExecution.executedPlan)
    // AQE wraps the physical plan; collect() does not descend into it
    val plan = wrapped match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val finals = plan.collect {
      case e: plans.TopKPerGroupExec if e.rnAttr.isDefined => e }
    assert(finals.nonEmpty, s"no final TopKPerGroupExec in:\n$plan")
    finals.foreach { f =>
      assert(f.child.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
        s"final phase must sit above a spill-safe group sort:\n$plan")
    }
  }

  /** `body` on a session whose strategy and rule lists are wiped; the
    * surface is installed again afterwards, for the suites that follow. */
  private def onClearedSession[T](body: => T): T = {
    spark.experimental.extraStrategies = Nil
    spark.experimental.extraOptimizations = Nil
    try body finally functions.Surface.install(spark)
  }

  test("ANN re-rank shortlist self-registers the rewrite (no session-order dependence)") {
    // on a wiped session, the graded q_sim_ann_pq alone (through its
    // queries entry) must bring the bounded-heap plan back
    val p = onClearedSession {
      AnnOps.queries("q_sim_ann_pq")(spark, sf)
      withRewrite(on = true)(physical(AnnOps.pqSearchGraded(spark, sf)))
    }
    assert(p.contains("TopKPerGroup"),
      s"q_sim_ann_pq did not install the rewrite:\n$p")
  }

  test("row-number-limit queries plan TopKPerGroup whatever ran before them") {
    // none of the three calls refine: a dedup filter, a decorrelated
    // LATERAL ... LIMIT and the kNN join's direct topK
    for (q <- Seq("q_dedup_rewrite", "q_join_lateral", "q_sim_knn_join")) {
      val p = onClearedSession(physical(SparkEntry.queries(q)(spark, sf)))
      assert(p.contains("TopKPerGroup"), s"$q planned without the rewrite:\n$p")
    }
  }

  test("non-limit conjuncts survive as a residual filter above the rewrite") {
    val df = spark.range(200)
      .select(col("id"), (col("id") % 5).as("g"), (col("id") * 31 % 83).as("s"))
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    def q(): Array[Seq[Any]] =
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3 && col("s") > 10)
        .orderBy(col("g"), col("rn")).collect().map(_.toSeq)
    val on = withRewrite(on = true)(q())
    val off = withRewrite(on = false)(q())
    assert(on.sameElements(off))
  }
}
