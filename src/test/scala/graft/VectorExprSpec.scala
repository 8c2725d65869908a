package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Surface, VectorFunctions}

/** The codegen'd vector kernels must agree bit-for-bit with the
  * higher-order-function formulation they replaced (that equivalence is
  * what lets AnnOps swap them in without touching any oracle). */
class VectorExprSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("graft_dot and graft_norm_sq match the HOF forms bit-for-bit") {
    val e = Tables.embeddings(spark, TestSpark.sf).limit(200)
    val hofNorm = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))
    val hofDot = aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)
    val rows = e.select(
      expr("graft_norm_sq(embedding)").as("n_native"),
      hofNorm.as("n_hof"),
      expr("graft_dot(embedding, embedding)").as("d_native"),
      hofDot.as("d_hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "norm differs from HOF")
      assert(r.getDouble(2) == r.getDouble(3), "dot differs from HOF")
      assert(r.getDouble(0) == r.getDouble(2), "dot(v,v) != norm_sq(v)")
    }
  }

  test("graft_dot handles mixed float/double arrays (literal hyperplanes)") {
    val r = Tables.embeddings(spark, TestSpark.sf).limit(1)
      .select(expr(s"graft_dot(embedding, array(${Seq.fill(64)("1.0D").mkString(",")}))").as("s"),
        aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x.cast(DoubleType)).as("h"))
      .collect()(0)
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("graft_pq_subdists and graft_pq_encode match the HOF argmin fold bit-for-bit") {
    val m = 4
    val sub = 16
    def hofSubdist(v: String, c: String, mi: Int): String = {
      val start = mi * sub + 1
      s"aggregate(zip_with(slice($v, $start, $sub), slice($c, $start, $sub), " +
        "(aa, bb) -> (CAST(aa AS DOUBLE) - CAST(bb AS DOUBLE)) * " +
        "(CAST(aa AS DOUBLE) - CAST(bb AS DOUBLE))), 0.0D, (s0, e0) -> s0 + e0)"
    }
    def hofCode(mi: Int): String =
      s"aggregate(transform(cb, x -> named_struct(" +
        s"'d', ${hofSubdist("embedding", "x.cv", mi)}, 'c', x.c)), " +
        "named_struct('d', CAST('Infinity' AS DOUBLE), 'c', -1), " +
        "(acc, y) -> IF(y.d < acc.d, y, acc)).c"
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val cb = e.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("c_id"), col("embedding").as("cv"))
      .agg(sort_array(collect_list(struct(col("c_id").as("c"), col("cv")))).as("cb"))
    val rows = e.limit(64).crossJoin(broadcast(cb))
      .select(
        expr(s"graft_pq_encode(embedding, cb, $m)").as("native_codes"),
        array((0 until m).map(mi => expr(hofCode(mi)).cast("int")): _*).as("hof_codes"),
        expr(s"graft_pq_subdists(embedding, cb[0].cv, $m)").as("native_d"),
        array((0 until m).map(mi => expr(hofSubdist("embedding", "cb[0].cv", mi))): _*).as("hof_d"))
      .collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), "codes differ from HOF fold")
      assert(r.getSeq[Double](2) == r.getSeq[Double](3), "subdists differ from HOF fold")
    }
  }

  test("graft_lsh_sig matches the per-plane dot/when expression form bit-for-bit") {
    for (bits <- Seq(8, 24)) {
      val rows = Tables.embeddings(spark, TestSpark.sf).limit(200)
        .select(expr(s"graft_lsh_sig(embedding, $bits)").as("native"),
          AnnOps.signatureExprCol(bits).as("exprform"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"lsh_sig($bits) differs from expression form"))
    }
  }

  test("non-literal m/bits arguments fail at analysis with a clear error") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.embeddings(spark, TestSpark.sf)
        .select(expr("graft_lsh_sig(embedding, CAST(vec_id AS INT))"))
        .collect()
    }
    assert(e.getMessage.contains("graft_lsh_sig"))
  }

  test("graft_minhash_arr matches the K array_min(transform(...)) subtrees bit-for-bit") {
    import graft.functions.{MinHash => MH}
    // shingle-hash-shaped arrays, including empty and single-element
    val df = spark.sql(
      """SELECT id, CASE
        |  WHEN id % 7 = 0 THEN slice(array(CAST(0 AS BIGINT)), 1, 0)
        |  ELSE transform(sequence(0, CAST(id % 13 AS INT)),
        |                 i -> CAST((id * 2654435761 + i * 40503) % 2147483647 AS BIGINT))
        |END AS vs FROM range(500)""".stripMargin)
    val exprMins = (0 until MH.K).map(j =>
      expr(s"array_min(transform(vs, v -> ${MH.sparkExpr(j)}))").as(s"e$j"))
    val rows = df.select(
      (expr("graft_minhash_arr(vs)").as("mh") +: exprMins): _*).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val mh = if (r.isNullAt(0)) null else r.getSeq[Long](0)
      (0 until MH.K).foreach { j =>
        if (r.isNullAt(j + 1)) assert(mh == null, "kernel non-null where array_min null")
        else assert(mh(j) == r.getLong(j + 1), s"permutation $j differs")
      }
    }
  }

  test("register is idempotent: a second call replaces no function") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val s = spark // Spark configures log4j on first use; attach after that
    val reg = s.sessionState.functionRegistry
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val probe = new AbstractAppender("graft-install-probe", null, null,
        true, null) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(probe)
    val (before, after) =
      try {
        Surface.install(s); val b = reg.listFunction().size
        Surface.install(s); (b, reg.listFunction().size)
      } finally { root.removeAppender(probe); probe.stop() }
    assert(!warnings.toArray.exists(
      _.toString.contains("replaced a previously registered function")))
    assert(after == before)
    assert(VectorFunctions.functions.forall { case (id, _, _) => reg.functionExists(id) })
  }

  test("install wires each strategy and rule once, and a second call adds none") {
    val x = spark.experimental
    def sizes = (x.extraStrategies.size, x.extraOptimizations.size)
    Surface.install(spark)
    val before = sizes
    Surface.install(spark)
    assert(sizes == before)
    Seq(plans.TopKPerGroupStrategy, plans.AsOfJoinStrategy).foreach(st =>
      assert(x.extraStrategies.count(_ == st) == 1, st))
    Seq(plans.CosineTopKRewrite, plans.AsOfJoinLimitPushdown,
        plans.AsOfJoinTimeFilterPushdown).foreach(r =>
      assert(x.extraOptimizations.count(_ == r) == 1, r))
  }
}
