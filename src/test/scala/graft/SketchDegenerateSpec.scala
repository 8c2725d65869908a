package graft

/** The sketch queries, and Spark's own `approx_count_distinct` gate, on
  * their tables cut to 0 and to 1 row. An empty group pins each sketch's
  * `result(zero())` against the oracle, and a one-row table its first
  * update. */
class SketchDegenerateSpec extends DegenerateTableSuite(
  DegenerateTable("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(0, 1),
    AggWinOps.queries.filter(_._1 == "q_agg_approx_distinct"), AggWinOps.oracle),
  DegenerateTable("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(0, 1),
    ScaleOps.queries.filter(_._1 == "q_agg_quantile_sketch"), ScaleOps.oracle),
  DegenerateTable("events", Seq("event_id"), Seq(0, 1),
    ScaleOps.queries.filter { case (q, _) => SketchDegenerateSpec.onEvents(q) },
    ScaleOps.oracle))

object SketchDegenerateSpec {
  val onEvents: Set[String] = Set("q_agg_distinct_bitmap", "q_agg_heavy_hitters",
    "q_agg_distinct_sketch", "q_agg_hll", "q_agg_hll_reagg", "q_agg_count_min")
}
