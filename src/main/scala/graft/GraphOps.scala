package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relationally-derived graphs — the
  * family that curation pipelines lean on for domain-authority scoring
  * (PageRank over a link/trade graph) on top of the connected-components
  * machinery LlmOps already grades.
  *
  * Scale stance: the expensive step is deriving the edge list from the
  * fact tables (one multi-table join + aggregate pass over 100 TB); the
  * iteration then runs on the AGGREGATED graph, whose size is bounded by
  * distinct (src, dst) pairs, never by fact rows. Iterations are the
  * standard Pregel-style join + groupBy-agg; for graphs too big to let
  * lineage nest, cut every k rounds exactly like
  * LlmOps.connectedComponents does.
  *
  * Determinism stance: floating-point PageRank is NOT reproducible under
  * distributed re-aggregation (float sums are order-dependent), so a
  * graded — and at 100 TB, a debuggable — implementation keeps every
  * iteration in scaled INTEGER arithmetic: ranks carry 1e12 fixed-point
  * mass, edge weights are pre-normalized to millionth shares
  * ((w * 1e6) div out_weight, making the per-edge product bound
  * rank * share <= 1e12 * 1e6 = 1e18 < 2^63 INDEPENDENT of raw edge
  * weights), and every division is integer floor — identical in Spark
  * (`div`) and DuckDB (`//`) on the non-negative domain. The one IEEE
  * division producing the display double happens once, at the end, on
  * bit-identical integers in both engines.
  */
object GraphOps {
  import Tables._

  private val Scale = 1000000000000L // 1e12 fixed-point rank mass
  private val Share = 1000000L       // 1e6 edge-share denominator
  private val Rounds = 5             // fixed iteration count (graded)

  /** PageRank over the nation trade graph: an edge src→dst with weight w
    * means customers of nation `src` bought w lineitems from suppliers of
    * nation `dst` — derived from the same 4-table chain as TPC-H Q5's
    * core. Damping 0.85 (as 85/100 integer), dangling mass redistributed
    * uniformly each round. Output: per-nation fixed-point rank (BIGINT,
    * graded exactly) plus its double rendering. */
  def qGraphPagerank(s: SparkSession, d: String): DataFrame = {
    val nodes = nation(s, d).select(col("n_nationkey").as("node"), col("n_name"))
    // driver-side count of the node universe — a 25-row dimension table,
    // metadata-scale (the same justification as IvfTraining's 1-row read)
    val n = nodes.count()

    val edgesRaw = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    // wout as a WINDOW over the aggregated edges (r20, guide §2.4
    // "window partitioned like the preceding aggregation"): the former
    // groupBy("src") + self-JOIN duplicated the whole 4-table fact
    // subtree in the plan (two 20-operator arms + an SMJ whose single
    // execution depended on ReuseExchange firing); the window computes
    // the same per-src sum over the 625-row aggregate in the SAME plan
    // arm — one fact pass by construction, plan 50 → 26 operators.
    // wshare is the identical integer: sum-per-src then floor-div.
    // eager checkpoint: the fact-table join must run ONCE — the iteration
    // below references `edges` 2x per round, and without the cut the
    // 4-table subtree would re-execute inside every referencing job
    // the aggregated graph is bounded by distinct (src, dst) pairs —
    // n^2 = 625 rows here — so collapse it to one partition before the
    // iteration: every per-round stage then schedules single-digit tasks
    // instead of shuffle-partition-many. SCALE CAVEAT: this coalesce is
    // tied to the tiny AGGREGATED nation graph; a general-graph variant
    // must keep the edge list partitioned (by dst for the rank rollup)
    // and drop this line — the iteration shape itself needs no change
    val edges = edgesRaw
      .withColumn("wout", sum(col("w")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), expr(s"(w * $Share) div wout").as("wshare"))
      .coalesce(1)
      .localCheckpoint()
    pagerankIterate(nodes.select("node"), edges, n)
      .join(nodes, "node")
      .select(col("n_name").as("nation"), col("r").as("rank_fp"),
        (col("r") / lit(1e12)).as("pagerank"))
      .orderBy(col("rank_fp").desc, col("nation"))
  }

  /** The fixed-point iteration itself, over any (node) universe and any
    * share-normalized edge list (src, dst, wshare out of `Share`) —
    * exposed so specs can drive it on synthetic graphs (dangling nodes,
    * disconnected components) the fixture's trade graph doesn't contain.
    * No nodes (`n` = 0), no ranks: the empty rank frame. */
  private[graft] def pagerankIterate(nodeIds: DataFrame, edges: DataFrame,
      n: Long, rounds: Int = Rounds): DataFrame = {
    if (n == 0) return nodeIds.select(col("node"), lit(0L).as("r"))
    val base = 15L * Scale / (100L * n)
    val outSrc = edges.select("src").distinct()
    var ranks = nodeIds.select(col("node"), lit(Scale / n).as("r"))
    for (_ <- 1 to rounds) {
      val contrib = ranks.join(edges, ranks("node") === edges("src"))
        .groupBy("dst").agg(sum(expr(s"(r * wshare) div $Share")).as("contrib"))
      val dang = ranks.join(outSrc, ranks("node") === outSrc("src"), "left_anti")
        .agg(coalesce(sum("r"), lit(0L)).as("dang"))
      // lineage cut per round (lazy, same pattern as connectedComponents):
      // without it the rounds nest into a single ~1000-node plan whose
      // Catalyst optimization time dwarfs the tiny-data execution
      ranks = Checkpoints.cut(nodeIds.select("node")
        .join(contrib, col("node") === col("dst"), "left")
        .crossJoin(dang) // 1-row dangling-mass scalar, stays in-plan
        .selectExpr("node",
          s"$base + (85 * (coalesce(contrib, 0) + dang div $n)) div 100 AS r"))
    }
    ranks
  }

  val qGraphPagerankSql: String = {
    val steps = (1 to Rounds).map { k =>
      val p = s"r${k - 1}"
      s"""s$k AS (
         |  SELECT e.dst AS node,
         |         CAST(SUM((p.r * e.wshare) // $Share) AS BIGINT) AS contrib
         |  FROM $p p JOIN edges e ON e.src = p.node GROUP BY e.dst),
         |d$k AS (
         |  SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT) AS dang
         |  FROM $p p LEFT JOIN wout w ON w.src = p.node WHERE w.src IS NULL),
         |r$k AS (
         |  SELECT n.node,
         |    (15 * $Scale) // (100 * (SELECT n FROM nn))
         |    + (85 * (COALESCE(s.contrib, 0)
         |             + (SELECT dang FROM d$k) // (SELECT n FROM nn))) // 100 AS r
         |  FROM nodes n LEFT JOIN s$k s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges_raw AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |wout AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout
       |         FROM edges_raw GROUP BY src),
       |edges AS (SELECT e.src, e.dst, (e.w * $Share) // w.wout AS wshare
       |          FROM edges_raw e JOIN wout w ON e.src = w.src),
       |nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, $Scale // (SELECT n FROM nn) AS r FROM nodes),
       |$steps
       |SELECT n.n_name AS nation, r.r AS rank_fp, r.r / 1e12 AS pagerank
       |FROM r$Rounds r JOIN nodes n ON n.node = r.node
       |ORDER BY rank_fp DESC, nation""".stripMargin
  }

  /** TRIANGLE COUNT + global clustering coefficient over the MinHash-band
    * near-dup candidate graph — the density diagnostic for dedup clusters
    * (a high closure ratio says candidates form tight duplicate cliques;
    * a low one says the bands chain unrelated docs — banding too loose).
    * The triangle join runs on ID-ORIENTED edges (a < b everywhere), the
    * standard orientation trick: each triangle a<b<c is found exactly
    * once as (a,b)+(b,c) closed by (a,c), and per-vertex join work is
    * bounded by out-degree squared in the orientation rather than raw
    * degree squared (the hub-skew killer in naive triangle counting).
    * Wedges come from degrees alone — Σ d(d−1)/2, one agg, exact.
    * Clustering = 3·triangles/wedges is the single final division. */
  def qGraphTriangles(s: SparkSession, d: String): DataFrame = {
    // the staged band-pair graph (LlmOps.bandPairs): the five edge-list
    // references below each re-scan the staged parquet instead of
    // re-running the band self-join (which the CC family also shares)
    val edges = LlmOps.bandPairs(s, d)
      .select(col("va").as("a"), col("vb").as("b"))
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val wedges = deg.agg(count(lit(1)).as("n_vertices"),
      sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .join(edges.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges).crossJoin(tri)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          (lit(3L) * col("n_triangles")).cast("double") /
            col("n_wedges").cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  val qGraphTrianglesSql: String =
    s"""WITH ${LlmOps.shinglesSqlCte},
       |${LlmOps.mhSqlCte},
       |${LlmOps.bandsSqlCte(tagged = false)},
       |edges AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM bands x JOIN bands y
       |            ON ${LlmOps.bandKeys.map(k => s"x.$k = y.$k").mkString(" AND ")}
       |           AND x.doc_id < y.doc_id),
       |deg AS (SELECT v, COUNT(*) AS dg
       |        FROM (SELECT a AS v FROM edges
       |              UNION ALL SELECT b AS v FROM edges)
       |        GROUP BY v),
       |w AS (SELECT COUNT(*) AS n_vertices,
       |        CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
       |      FROM deg),
       |t AS (SELECT COUNT(*) AS n_triangles
       |      FROM edges e1
       |      JOIN edges e2 ON e1.b = e2.a
       |      JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b),
       |ne AS (SELECT COUNT(*) AS n_edges FROM edges)
       |SELECT w.n_vertices, ne.n_edges, w.n_wedges, t.n_triangles,
       |  CASE WHEN w.n_wedges > 0
       |       THEN CAST(3 * t.n_triangles AS DOUBLE) / CAST(w.n_wedges AS DOUBLE)
       |       ELSE 0.0 END AS clustering
       |FROM w, t, ne""".stripMargin

  val queries = graft.functions.Surface.queries(Map(
    "q_graph_pagerank" -> (qGraphPagerank _),
    "q_graph_triangles" -> (qGraphTriangles _)
  ))

  val oracle: Map[String, String] = Map(
    "q_graph_pagerank" -> qGraphPagerankSql,
    "q_graph_triangles" -> qGraphTrianglesSql
  )
}
