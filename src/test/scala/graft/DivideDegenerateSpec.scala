package graft

/** The moment, regression and drift queries on their tables cut to 1 row,
  * where each closed form divides by zero (n·(n−1), n·Σx² − (Σx)², or an
  * empty drift window). The query answers NULL there, as DuckDB's `/`
  * does; the oracle runs without ANSI so that Spark's `/` does too. */
class DivideDegenerateSpec extends DegenerateTableSuite(
  DegenerateTable("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(1),
    AggWinOps.queries.filter(_._1 == "q_agg_stats_moments"), AggWinOps.oracle,
    DivideDegenerateSpec.nonAnsi),
  DegenerateTable("events", Seq("event_id"), Seq(1),
    AggWinOps.queries.filter(_._1.startsWith("q_agg_regression")), AggWinOps.oracle,
    DivideDegenerateSpec.nonAnsi),
  DegenerateTable("events", Seq("event_id"), Seq(1),
    ScaleOps.queries.filter(_._1.startsWith("q_profile_drift")), ScaleOps.oracle,
    DivideDegenerateSpec.nonAnsi))

object DivideDegenerateSpec {
  val nonAnsi: Seq[(String, String)] = Seq("spark.sql.ansi.enabled" -> "false")
}
