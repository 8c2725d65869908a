package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Aggregation variants (distinct / approx / rollup / cube / grouping sets),
  * window functions, set operations, and scalar function coverage
  * (SURVEY.md §2.4). Determinism rules per FIXTURES.md §C: multi-dim group
  * keys are coalesced to an 'ALL' sentinel so NULL-ordering differences
  * between engines can't reorder rows; float aggregates go through exact
  * decimal sums.
  */
object AggWinOps {
  import Tables._

  // --------------------------------------------------------- aggregations

  /** Exact count-distinct per group (two-phase distinct aggregate). */
  def qAggDistinct(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  val qAggDistinctSql: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** HLL-sketch count-distinct (approx_count_distinct) sanity-gated against
    * the exact count; emits only the pass/fail boolean so the oracle is
    * engine-independent. At 100 TB the sketch is the only affordable form —
    * it's a partial-aggregable fixed-size buffer, no shuffle of distincts.
    * The gate multiplies instead of dividing by the exact count, so an
    * empty table (0 vs 0) passes instead of dividing by zero. */
  def qAggApproxDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .agg(
        // rsd 0.02: the default 0.05 stddev occasionally exceeds the 5%
        // gate at small cardinalities (observed at sf0.001)
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx"),
        countDistinct(col("l_orderkey")).as("exact"))
      .select(
        (abs(col("approx").cast(DoubleType) - col("exact").cast(DoubleType)) <=
          col("exact").cast(DoubleType) * 0.05).as("within_5pct"))

  val qAggApproxDistinctSql: String = "SELECT TRUE AS within_5pct"

  /** ROLLUP over the region→nation hierarchy. */
  def qAggRollup(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("n_customers"), col("sum_acctbal"))
      .orderBy(col("r_name"), col("n_name"))

  val qAggRollupSql: String =
    """SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY COALESCE(r_name, 'ALL'), COALESCE(n_name, 'ALL')""".stripMargin

  /** CUBE over two independent lineitem dimensions. */
  def qAggCube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val qAggCubeSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY COALESCE(l_returnflag, 'ALL'), COALESCE(l_linestatus, 'ALL')""".stripMargin

  /** Explicit GROUPING SETS over orders (status totals + priority totals in
    * one pass — one shuffle, expanded map-side). */
  def qAggGroupingSets(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("graft_orders_gs")
    s.sql(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
  }

  val qAggGroupingSetsSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY COALESCE(o_orderstatus, 'ALL'), COALESCE(o_orderpriority, 'ALL')""".stripMargin

  /** Pivot: per-day event counts fanned out to one column per event type.
    * Values are enumerated explicitly — at scale an implicit pivot would
    * run a distinct-collect job on the driver first. */
  def qAggPivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("day"))
  }

  val qAggPivotSql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`), rounded before comparison. */
  def qAggPercentile(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("round(percentile(o_totalprice, 0.5), 2)").as("p50"),
        expr("round(percentile(o_totalprice, 0.9), 2)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val qAggPercentileSql: String =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Sketch percentiles (approx_percentile, fixed-size t-digest-style
    * buffer) gated against the exact interpolated value — the 100 TB path
    * SCALE.md prescribes once per-group value buffering stops being
    * affordable. Emits only the pass/fail booleans (sketch internals are
    * engine-specific). */
  def qAggApproxPercentile(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)").as("ap90"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .select(
        (abs(col("ap50") - col("p50")) / col("p50") <= 0.01).as("p50_within_1pct"),
        (abs(col("ap90") - col("p90")) / col("p90") <= 0.01).as("p90_within_1pct"))

  val qAggApproxPercentileSql: String =
    "SELECT TRUE AS p50_within_1pct, TRUE AS p90_within_1pct"

  // -------------------------------------------------------------- windows

  /** Top-3 parts per brand by retail price (dense_rank keeps ties). */
  def qWindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc)
    part(s, d)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rk", dense_rank().over(w))
      .filter(col("rk") <= 3)
      .orderBy(col("p_brand"), col("rk"), col("p_partkey"))
  }

  val qWindowRankSql: String =
    """SELECT p_brand, p_partkey, p_retailprice, rk FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rk
      |  FROM part) t
      |WHERE rk <= 3
      |ORDER BY p_brand, rk, p_partkey""".stripMargin

  /** Running revenue per customer over order history — cumulative frame,
    * exact decimal so the running sum is engine-identical. */
  def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("running_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType))
      .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Day-over-day delta of daily event counts (lag). The single-partition
    * window is over the *aggregated* daily series (≤ a few hundred rows at
    * any sf), never the raw events. */
  def qWindowLagLead(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("prev_n", lag(col("n_events"), 1).over(w))
      .withColumn("delta", col("n_events") - coalesce(col("prev_n"), lit(0L)))
      .select(col("day"), col("n_events"), col("delta"))
      .orderBy(col("day"))
  }

  val qWindowLagLeadSql: String =
    """SELECT day, n_events,
      |  n_events - COALESCE(LAG(n_events, 1) OVER (ORDER BY day), 0) AS delta
      |FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      |      FROM events GROUP BY 1) t
      |ORDER BY day""".stripMargin

  /** Distribution window functions: ntile, percent_rank, cume_dist over
    * supplier account balances per nation (exact rank arithmetic —
    * deterministic doubles, rounded). */
  def qWindowDistribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal"), col("s_suppkey"))
    supplier(s, d)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy(col("s_nationkey"), col("s_suppkey"))
  }

  val qWindowDistributionSql: String =
    """SELECT s_nationkey, s_suppkey, s_acctbal,
      |  NTILE(4) OVER w AS quartile,
      |  round(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |  round(CUME_DIST() OVER w, 6) AS cume
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
      |ORDER BY s_nationkey, s_suppkey""".stripMargin

  // ------------------------------------------------------------- set ops

  /** UNION ALL / INTERSECT / EXCEPT in one labeled result. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val withOrders = orders(s, d).select(col("o_custkey").as("custkey")).distinct()
    val withP = orders(s, d).filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("custkey")).distinct()
    val exceptSet = withOrders.except(withP)
      .select(lit("except_p").as("op"), col("custkey"))
    val intersectSet = withOrders.intersect(withP)
      .select(lit("intersect_p").as("op"), col("custkey"))
    exceptSet.union(intersectSet)
      .orderBy(col("op"), col("custkey"))
  }

  val qSetOpsSql: String =
    """WITH with_orders AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
      |     with_p AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P')
      |SELECT 'except_p' AS op, custkey FROM (SELECT custkey FROM with_orders EXCEPT SELECT custkey FROM with_p) a
      |UNION ALL
      |SELECT 'intersect_p' AS op, custkey FROM (SELECT custkey FROM with_orders INTERSECT SELECT custkey FROM with_p) b
      |ORDER BY op, custkey""".stripMargin

  // ------------------------------------------------------- scalar functions

  /** String + date + math scalar functions over orders, grouped monthly. */
  def qScalarStringDate(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        concat(lit("P-"), upper(substring(col("o_orderpriority"), 1, 3))).as("prio_key"),
        col("o_totalprice"))
      .groupBy(col("month"), col("prio_key"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("month"), col("prio_key"))

  val qScalarStringDateSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  'P-' || UPPER(SUBSTRING(o_orderpriority, 1, 3)) AS prio_key,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** JSON extraction from events.props → bucketed aggregation. */
  def qScalarJson(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        col("value"))
      .select(expr("k div 10").as("k_bucket"), col("value"))
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .orderBy(col("k_bucket"))

  val qScalarJsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Semi-structured VARIANT path — Spark 4's parse_json/variant_get, the
    * shredded-JSON successor to string-path extraction (q_scalar_json):
    * props parses ONCE into a variant value, fields then extract with
    * typed paths (no per-field re-parse, and at 100 TB the parquet
    * variant shredding keeps extraction columnar). Grades the typed
    * extraction plus a schema_of_variant probe (distinct inferred
    * schemas per bucket — robust to the exact schema-string format).
    * Oracle: DuckDB json_extract on the same props strings. */
  def qScalarVariant(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(expr("parse_json(props)").as("v"), col("value"))
      .select(
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("schema_of_variant(v)").as("vschema"),
        col("value"))
      .select(expr("k div 10").as("k_bucket"), col("k"), col("vschema"), col("value"))
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("vschema")).as("n_schemas"),
        dsum(col("value"), 4).as("sum_value"))
      .orderBy(col("k_bucket"))

  val qScalarVariantSql: String =
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(1 AS BIGINT) AS n_schemas,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** MapType coverage: parse props JSON into a map, explode entries,
    * aggregate per key. */
  def qScalarMap(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(from_json(col("props"), MapType(StringType, LongType)).as("m"))
      .select(explode(col("m")).as(Seq("key", "v")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .orderBy(col("key"))

  val qScalarMapSql: String =
    """SELECT 'k' AS key, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_v,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_v,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_v
      |FROM events""".stripMargin

  /** Array higher-order functions over the embedding vectors: per label,
    * count + exact-decimal sum of L2 norms (element arithmetic forced to
    * double on both engines before summation). */
  def qScalarArray(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"),
        size(col("embedding")).as("dim"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
          .as("l2_norm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        max(col("dim")).as("max_dim"),
        dsum(col("l2_norm"), 6).as("sum_norm"))
      .orderBy(col("label"))

  val qScalarArraySql: String =
    """SELECT label, COUNT(*) AS n_vecs, MAX(dim) AS max_dim,
      |  CAST(SUM(CAST(l2_norm AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm
      |FROM (
      |  SELECT label, len(embedding) AS dim,
      |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS l2_norm
      |  FROM embeddings) t
      |GROUP BY label ORDER BY label""".stripMargin

  /** Explicit NULL-ordering semantics: Spark defaults ASC NULLS FIRST,
    * DuckDB ASC NULLS LAST — both sides must spell the ordering out.
    * Nulls are introduced via NULLIF; NVL/coalesce round-trips them. */
  def qSortNulls(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("P")).as("status_np"),
        col("o_orderpriority"))
      .filter(col("o_orderkey") <= 200)
      .select(col("o_orderkey"), col("status_np"),
        coalesce(col("status_np"), lit("<null>")).as("status_filled"))
      .orderBy(col("status_np").asc_nulls_last, col("o_orderkey"))

  val qSortNullsSql: String =
    """SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status_np,
      |  COALESCE(NULLIF(o_orderstatus, 'P'), '<null>') AS status_filled
      |FROM orders WHERE o_orderkey <= 200
      |ORDER BY status_np ASC NULLS LAST, o_orderkey""".stripMargin

  /** String-function breadth (portable subset: identical semantics in
    * DuckDB): upper/lower/trim/replace/reverse/substr/length/strpos/
    * left/concat_ws. */
  def qScalarStringFns(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .filter(col("p_partkey") <= 500)
      .select(col("p_partkey"),
        upper(col("p_name")).as("up"),
        reverse(col("p_type")).as("rev"),
        regexp_replace(col("p_name"), "part", "PRT").as("repl"),
        substring(col("p_name"), 1, 4).as("pre4"),
        length(col("p_name")).as("len"),
        instr(col("p_type"), "O").cast(LongType).as("pos_o"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"))
      .orderBy(col("p_partkey"))

  val qScalarStringFnsSql: String =
    """SELECT p_partkey, UPPER(p_name) AS up, REVERSE(p_type) AS rev,
      |  REPLACE(p_name, 'part', 'PRT') AS repl,
      |  SUBSTRING(p_name, 1, 4) AS pre4,
      |  LENGTH(p_name) AS len,
      |  CAST(STRPOS(p_type, 'O') AS BIGINT) AS pos_o,
      |  CONCAT_WS('|', p_brand, p_type) AS joined
      |FROM part WHERE p_partkey <= 500
      |ORDER BY p_partkey""".stripMargin

  /** Math-function breadth restricted to IEEE-exact operations (abs /
    * ceil / floor / sqrt / sign / %% / greatest-least) — transcendentals
    * (exp, ln, pow) are deliberately excluded: libm vs JVM results can
    * differ in the last ulp across engines. */
  def qScalarMathFns(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") - lit(50000.0)).as("dist"),
        ceil(col("l_quantity") / 7.0).cast(LongType).as("ceil7"),
        floor(col("l_extendedprice") / 1000.0).cast(LongType).as("kbucket"),
        sqrt(col("l_extendedprice")).as("root"),
        signum(col("l_discount") - 0.05).cast(IntegerType).as("sgn"),
        (col("l_partkey") % 7).as("m7"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("gmax"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val qScalarMathFnsSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  ABS(l_extendedprice - 50000.0) AS dist,
      |  CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS ceil7,
      |  CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS kbucket,
      |  SQRT(l_extendedprice) AS root,
      |  CAST(SIGN(l_discount - 0.05) AS INTEGER) AS sgn,
      |  l_partkey % 7 AS m7,
      |  GREATEST(l_quantity, l_discount * 100) AS gmax
      |FROM lineitem WHERE l_orderkey <= 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Date-function breadth: year/month/day/quarter extraction, day
    * difference, interval add — identical definitions in both engines. */
  def qScalarDateFns(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderkey") <= 300)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("q"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("days_since"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"))
      .orderBy(col("o_orderkey"))

  val qScalarDateFnsSql: String =
    """SELECT o_orderkey,
      |  CAST(YEAR(o_orderdate) AS INTEGER) AS y,
      |  CAST(MONTH(o_orderdate) AS INTEGER) AS m,
      |  CAST(DAY(o_orderdate) AS INTEGER) AS dom,
      |  CAST(QUARTER(o_orderdate) AS INTEGER) AS q,
      |  DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date
      |FROM orders WHERE o_orderkey <= 300
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------- registry

  // ------------------------------------------- correlated scalar subquery

  /** Correlated scalar subqueries (count + max per outer row), exercising
    * Catalyst's decorrelation: RewriteCorrelatedScalarSubquery turns each
    * subquery into an aggregate + left outer join on the correlation key —
    * no per-row re-execution anywhere. The COALESCE(0) arm covers outer
    * rows with an empty subquery result. */
  def qSubqueryScalar(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_sq_customer")
    orders(s, d).createOrReplaceTempView("graft_sq_orders")
    s.sql(
      """SELECT c_custkey, c_mktsegment,
        |  COALESCE((SELECT COUNT(*) FROM graft_sq_orders o
        |            WHERE o.o_custkey = c.c_custkey), 0) AS n_orders,
        |  (SELECT CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   FROM graft_sq_orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM graft_sq_customer c
        |ORDER BY c_custkey""".stripMargin)
  }

  val qSubqueryScalarSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  COALESCE((SELECT COUNT(*) FROM orders o
      |            WHERE o.o_custkey = c.c_custkey), 0) AS n_orders,
      |  (SELECT CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |   FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |ORDER BY c_custkey""".stripMargin

  /** NOT IN (subquery) — the three-valued-logic trap, graded: the clean
    * list (no NULLs) plans Spark's null-aware anti join and matches NOT
    * EXISTS; a single NULL injected into the IN-list flips NOT IN to
    * UNKNOWN for every row without a positive match, so the poisoned
    * variant must count zero survivors in BOTH engines. Both variants
    * union into one labeled result so one hash gate covers the whole
    * semantics table. */
  def qSubqueryNotIn(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_ni_customer")
    orders(s, d).createOrReplaceTempView("graft_ni_orders")
    s.sql(
      """SELECT 'clean' AS variant, COUNT(*) AS n_customers
        |FROM graft_ni_customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM graft_ni_orders WHERE o_orderstatus = 'P')
        |UNION ALL
        |SELECT 'null_poisoned' AS variant, COUNT(*) AS n_customers
        |FROM graft_ni_customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderkey = (SELECT MIN(o_orderkey)
        |                                  FROM graft_ni_orders
        |                                  WHERE o_orderstatus = 'P')
        |               THEN NULL ELSE o_custkey END
        |   FROM graft_ni_orders WHERE o_orderstatus = 'P')
        |ORDER BY variant""".stripMargin)
  }

  val qSubqueryNotInSql: String =
    """SELECT 'clean' AS variant, COUNT(*) AS n_customers
      |FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |UNION ALL
      |SELECT 'null_poisoned' AS variant, COUNT(*) AS n_customers
      |FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT CASE WHEN o_orderkey = (SELECT MIN(o_orderkey)
      |                                  FROM orders
      |                                  WHERE o_orderstatus = 'P')
      |               THEN NULL ELSE o_custkey END
      |   FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY variant""".stripMargin

  // ------------------------------------------------------------- unpivot

  /** UNPIVOT (melt): the pivoted wide per-day matrix back to long form —
    * round-tripping pivot⇄unpivot proves both directions preserve every
    * cell. The unpivot itself is a row-local projection (each wide row
    * becomes 5 narrow rows), no shuffle beyond the pivot's own. */
  def qAggUnpivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    wide.unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n")
      .orderBy(col("day"), col("event_type"))
  }

  val qAggUnpivotSql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |UNION ALL
      |SELECT day, event_type, 0 AS n
      |FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
      |CROSS JOIN (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')) t(event_type)
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM events e
      |  WHERE CAST(e.ts AS DATE) = day AND e.event_type = t.event_type)
      |ORDER BY day, event_type""".stripMargin

  // ----------------------------------------------------- RANGE-frame window

  /** Rolling 7-day totals via a RANGE window frame (value-based bounds —
    * the frame the ROWS-based queries can't express when days are
    * missing): per event type, sum of daily counts over the value range
    * [day−6, day]. Days are epoch-day integers on both sides so the
    * range arithmetic is exact. Runs over the daily AGGREGATE (types ×
    * days rows), never the raw events. */
  def qWindowRolling(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        unix_date(to_date(col("ts"))).cast(LongType).as("day_num"))
      .groupBy(col("event_type"), col("day_num"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("n_7d", sum(col("n")).over(w))
      .orderBy(col("event_type"), col("day_num"))
  }

  val qWindowRollingSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day_num, n,
      |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day_num
      |                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
      |FROM daily ORDER BY event_type, day_num""".stripMargin

  // ---------------------------------------------------------- gap filling

  /** Time-series gap-fill (resample-to-daily with zero fill): the dense
    * (event_type × day) grid is generated with `sequence` + explode from
    * the global min/max day — a few thousand rows built from a 1-row
    * aggregate, regardless of input size — then left-joined against the
    * sparse daily counts. The classic dashboard/feature-store resample
    * shape: grid generation never touches the fact table beyond one
    * min/max aggregate. */
  def qWindowGapfill(s: SparkSession, d: String): DataFrame = {
    // ONE scan of the fact table: bounds and the type list both derive
    // from the checkpointed daily aggregate (types × days rows), not from
    // re-scanning events
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val grid = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .crossJoin(daily.select(col("event_type")).distinct())
    grid.join(daily, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("event_type"), col("day"))
  }

  val qWindowGapfillSql: String =
    """WITH e AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |           FROM events),
      |daily AS (SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
      |grid AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |                                     CAST(d1 AS TIMESTAMP),
      |                                     INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM b),
      |types AS (SELECT DISTINCT event_type FROM e)
      |SELECT t.event_type, g.day, COALESCE(d.n, 0) AS n
      |FROM grid g CROSS JOIN types t
      |LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = g.day
      |ORDER BY t.event_type, g.day""".stripMargin

  // ------------------------------------------- null-safe + bitwise scalars

  /** Null-safe comparison and bitwise scalar surface: `<=>` (IS NOT
    * DISTINCT FROM), NULLIF/COALESCE chains, &, |, xor, shifts, and
    * popcount — all row-local, over a bounded key range. */
  def qScalarNullBitwise(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderkey") < 200)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderkey") <=> col("o_custkey")).as("nse"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or_open"),
        col("o_orderkey").bitwiseAND(col("o_custkey")).as("k_and"),
        col("o_orderkey").bitwiseOR(col("o_custkey")).as("k_or"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("k_xor"),
        shiftleft(col("o_orderkey"), 2).as("k_shl"),
        expr("CAST(bit_count(o_orderkey) AS BIGINT)").as("k_pop"))
      .orderBy(col("o_orderkey"))

  val qScalarNullBitwiseSql: String =
    """SELECT o_orderkey, o_custkey,
      |  (o_orderkey IS NOT DISTINCT FROM o_custkey) AS nse,
      |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
      |  o_orderkey & o_custkey AS k_and,
      |  o_orderkey | o_custkey AS k_or,
      |  xor(o_orderkey, o_custkey) AS k_xor,
      |  o_orderkey << 2 AS k_shl,
      |  CAST(bit_count(o_orderkey) AS BIGINT) AS k_pop
      |FROM orders WHERE o_orderkey < 200
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------- window navigation functions

  /** Window NAVIGATION surface: first_value / last_value / nth_value over
    * the full partition frame plus ntile quartiles — per customer, ordered
    * by (o_orderdate, o_orderkey) so every function is deterministic. The
    * frame is explicit ROWS UNBOUNDED PRECEDING..FOLLOWING: the default
    * RANGE..CURRENT ROW frame would make last_value degenerate (and differ
    * between engines on date ties). One shuffle on o_custkey — the same
    * cost class as every other per-key window at 100 TB. */
  def qWindowNavigation(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("first_key", first(col("o_orderkey")).over(full))
      .withColumn("last_key", last(col("o_orderkey")).over(full))
      .withColumn("third_key", nth_value(col("o_orderkey"), 3).over(full))
      .withColumn("quartile", ntile(4).over(w).cast(LongType))
      .select(col("o_custkey"), col("o_orderkey"), col("first_key"),
        col("last_key"), col("third_key"), col("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qWindowNavigationSql: String =
    """SELECT o_custkey, o_orderkey,
      |  FIRST_VALUE(o_orderkey) OVER w2 AS first_key,
      |  LAST_VALUE(o_orderkey) OVER w2 AS last_key,
      |  NTH_VALUE(o_orderkey, 3) OVER w2 AS third_key,
      |  CAST(NTILE(4) OVER w1 AS BIGINT) AS quartile
      |FROM orders WHERE o_custkey % 100 = 0
      |WINDOW
      |  w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // -------------------------------------- statistical moments (corr etc.)

  /** Statistical aggregates — corr / covar_samp / stddev_samp per group —
    * computed from EXACT decimal moment sums (n, Σx, Σy, Σx², Σy², Σxy)
    * with the closed-form combination done in double at the end. Built-in
    * corr/stddev stream doubles in partition order, so their low bits vary
    * run-to-run with task scheduling; the moment form is bit-stable under
    * any partitioning AND map-side partial-aggregable — strictly better at
    * 100 TB, where the built-ins pay the same shuffle but lose
    * determinism. A one-row group divides by zero: `try_divide` makes
    * that NULL, as DuckDB's `/` does. */
  def qAggStatsMoments(s: SparkSession, d: String): DataFrame = {
    def m(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast(DoubleType)
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        m(x).as("sx"), m(y).as("sy"),
        m(x * x).as("sxx"), m(y * y).as("syy"), m(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        round(try_divide(col("n") * col("sxy") - col("sx") * col("sy"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))), 6).as("corr_qty_price"),
        round(try_divide(col("n") * col("sxy") - col("sx") * col("sy"),
          col("n") * (col("n") - lit(1L))), 4).as("covar_samp"),
        round(sqrt(try_divide(col("n") * col("sxx") - col("sx") * col("sx"),
          col("n") * (col("n") - lit(1L)))), 6).as("stddev_qty"))
      .orderBy(col("l_returnflag"))
  }

  val qAggStatsMomentsSql: String =
    """WITH mo AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((n * sxy - sx * sy) /
      |        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
      |  round((n * sxy - sx * sy) / (n * (n - 1)), 4) AS covar_samp,
      |  round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS stddev_qty
      |FROM mo ORDER BY l_returnflag""".stripMargin

  /** ERROR-SAFE (try_*) arithmetic — the ANSI-mode escape hatches that
    * keep a 100 TB batch from dying on one bad row: try_divide yields
    * NULL on a zero divisor, try_cast NULL on a malformed string — both
    * graded against DuckDB's NULL-on-div-zero and TRY_CAST semantics.
    * Aggregates over the maybe-NULL column stick to order-free
    * reductions (COUNT/MIN/MAX — a SUM of doubles would re-introduce
    * accumulation-order drift). */
  def qScalarTry(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderstatus"),
        expr("try_divide(o_totalprice, CAST(o_custkey % 3 AS DOUBLE))").as("d1"),
        expr("try_cast(o_orderpriority AS INT)").as("bad_int"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        count(col("d1")).as("n_div_ok"),
        (count(lit(1)) - count(col("bad_int"))).as("n_bad_casts"),
        round(min(col("d1")), 4).as("min_d1"),
        round(max(col("d1")), 4).as("max_d1"),
        sum(col("prio")).as("sum_prio"))
      .orderBy(col("o_orderstatus"))

  val qScalarTrySql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  COUNT(o_totalprice / CAST(NULLIF(o_custkey % 3, 0) AS DOUBLE))
      |    AS n_div_ok,
      |  COUNT(*) - COUNT(TRY_CAST(o_orderpriority AS INTEGER)) AS n_bad_casts,
      |  round(MIN(o_totalprice / CAST(NULLIF(o_custkey % 3, 0) AS DOUBLE)), 4)
      |    AS min_d1,
      |  round(MAX(o_totalprice / CAST(NULLIF(o_custkey % 3, 0) AS DOUBLE)), 4)
      |    AS max_d1,
      |  CAST(SUM(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)) AS BIGINT)
      |    AS sum_prio
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** max_by / min_by — the argmax scalar-aggregate surface, made
    * DETERMINISTIC under ties by ordering on a struct key (total, then
    * negated user id): the winner is "highest spend, lowest user id on
    * ties" in both engines; the oracle picks the same winner with a
    * rank-1 window, proving the struct-ordered max_by agrees with the
    * explicit tie-break. */
  def qAggArgmax(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("total"))
      .groupBy(col("event_type"))
      .agg(
        expr("max_by(user_id, named_struct('t', total, 'u', -user_id))")
          .as("top_user"),
        expr("min_by(user_id, named_struct('t', total, 'u', user_id))")
          .as("bottom_user"),
        max(col("total")).cast(DoubleType).as("top_total"))
      .orderBy(col("event_type"))

  val qAggArgmaxSql: String =
    """WITH t AS (
      |  SELECT event_type, user_id,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS total
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, user_id, total,
      |        ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY total DESC, user_id) AS rmax,
      |        ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY total, user_id) AS rmin
      |      FROM t)
      |SELECT a.event_type, a.user_id AS top_user, b.user_id AS bottom_user,
      |  CAST(a.total AS DOUBLE) AS top_total
      |FROM r a JOIN r b ON a.event_type = b.event_type
      |WHERE a.rmax = 1 AND b.rmin = 1
      |ORDER BY a.event_type""".stripMargin

  /** Spark 4 COLLATION surface — case-insensitive semantics as a COLUMN
    * TYPE property instead of scattered lower() calls: lang codes are
    * deterministically case-mixed (even doc_ids upper-cased), then
    * grouped and equality-filtered under UTF8_LCASE collation — the
    * engine's comparators, grouping and the filter all honor it, and
    * unlike lower()-wrapping, collation survives into pushed filters
    * and join keys at plan time. The group key is re-projected through
    * lower() for display (a collated group's representative case is
    * engine-arbitrary; its lowercase is not). Oracle: the lower()
    * formulation, which UTF8_LCASE matches exactly on this ASCII
    * domain. */
  /** SQL PIPE SYNTAX (Spark 4) — the `|>` operator chain the 4.x SQL
    * surface headlines: a Q1-shaped pricing summary written entirely as
    * pipes (FROM → WHERE → AGGREGATE … GROUP BY → ORDER BY). Parsing is
    * the feature under test — the plan is identical to the classic
    * formulation, which is exactly what the oracle grades. */
  def qSqlPipe(s: SparkSession, d: String): DataFrame =
    GraftSql.sql(s, d,
      """FROM lineitem
        ||> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        ||> AGGREGATE COUNT(*) AS n_rows,
        |     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |     CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |       AS sum_disc_price
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val qSqlPipeSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
      |    AS sum_disc_price
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def qScalarCollation(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("mixed",
        when(col("doc_id") % 2 === 0, upper(col("lang"))).otherwise(col("lang")))
      .groupBy(expr("collate(mixed, 'UTF8_LCASE')").as("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr("collate(mixed, 'UTF8_LCASE')") === lit("EN"), 1L)
          .otherwise(0L)).as("n_en_ci"))
      .select(lower(col("k")).as("lang_ci"), col("n_docs"), col("n_en_ci"))
      .orderBy(col("lang_ci"))

  val qScalarCollationSql: String =
    """WITH m AS (
      |  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS mixed
      |  FROM documents)
      |SELECT lower(mixed) AS lang_ci, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN lower(mixed) = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_en_ci
      |FROM m GROUP BY lower(mixed) ORDER BY lang_ci""".stripMargin

  /** ORDERED EVENT FUNNEL (ClickHouse windowFunnel shape) — per (user,
    * day): how far does view → click → purchase progress in strict
    * timestamp order? Implemented as ONE shuffle: the day's events
    * collect into a sorted array per (user, day) and a row-local
    * `aggregate` HOF runs the 3-state machine over it — at 100 TB this
    * is a single keyed aggregation whose state is the user-day's own
    * events (bounded by session size), where the oracle's formulation
    * (three chained conditional-min aggregates, each joined back)
    * re-shuffles the events once per funnel step. Strict progression:
    * each step needs a LATER timestamp (fixture has no same-user ts
    * ties at any sf — checked; a production funnel would tiebreak on
    * event_id). Per-day counts of user-days reaching steps ≥1/≥2/≥3. */
  /** TIME-SERIES SPIKE DETECTION (the anomaly monitor a data-quality
    * pipeline runs on every metric): a day is a spike when its total
    * exceeds 1.15× the trailing-7-day average — evaluated WITHOUT
    * division as y·n·20 > 23·Σy over the frame, so the whole rule is exact
    * decimal/integer arithmetic (a z-score variant needs σ, whose
    * squared form pushes decimal products past precision-38 — where
    * Spark and DuckDB round differently; the ratio rule keeps every
    * comparison exact). Days with fewer than 3 trailing observations
    * are not evaluable. The 23/20 threshold sits inside the fixture's
    * observed ratio band (0.58–1.58), so BOTH classes are populated and
    * the flag logic is genuinely exercised (a threshold no day crosses
    * would grade nothing — the q_scalar_try lesson). One window per
    * event_type over the
    * daily-aggregated series (≤31 rows/group at any corpus size). */
  def qWindowAnomaly(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("y"))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("n_tr", count(lit(1)).over(trail))
      .withColumn("sx", sum(col("y")).over(trail))
      .filter(col("n_tr") >= 3)
      .withColumn("spike",
        when(col("y") * col("n_tr") * 20 > col("sx") * 23, 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(col("spike")).as("n_spikes"),
        sum(when(col("spike") === 1L, col("y")).otherwise(lit(0)))
          .cast(DoubleType).as("spike_sum"))
      .orderBy(col("event_type"))
  }

  val qWindowAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS y
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, day, y,
      |    COUNT(*) OVER w AS n_tr, SUM(y) OVER w AS sx
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, COUNT(*) AS n_eval,
      |  CAST(SUM(CASE WHEN y * n_tr * 20 > sx * 23 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_spikes,
      |  CAST(SUM(CASE WHEN y * n_tr * 20 > sx * 23 THEN y ELSE 0 END) AS DOUBLE)
      |    AS spike_sum
      |FROM t WHERE n_tr >= 3
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** EXACT LEAST-SQUARES TREND per group — the regr_slope/intercept
    * family done with cross-engine-exact arithmetic: the builtin
    * regr_* aggregates accumulate float covariances whose partial sums
    * are ORDER-DEPENDENT (a strict-mode hazard and, at 100 TB, a
    * re-aggregation reproducibility bug); here every moment (Σx, Σy,
    * Σxy, Σx²) is an exact DECIMAL/BIGINT sum over the daily series —
    * associative, map-side combinable, partition-order-free — and the
    * closed form slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) performs exactly
    * ONE double division (plus two IEEE ops for the intercept) on
    * bit-identical exact inputs. x = day of month over the fixture's
    * single month; the daily pre-aggregation bounds the regression
    * input at 31 rows per group no matter the corpus size. A group with
    * one day has no slope: its zero divisor gives NULL (`try_divide`, as
    * DuckDB's `/`). */
  def qAggRegression(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast(LongType).as("x"))
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("y"))
    regressionFinish(daily, wide38 = false)
  }

  /** The DECIMAL(38) regime of q_agg_regression for >1e9-row daily
    * cells: the DAILY accumulator widens to DECIMAL(28,4) (the narrow
    * regime's first overflow point — a day whose Σ|value| ≥ 1e14 cannot
    * even be represented in DECIMAL(18,4)) and the moment products ride
    * regressionFinish's wide path. Spec'd since r12 (WideDecimalSpec:
    * bit-identical to the narrow form on the fixture, exact vs
    * BigDecimal past the narrow bound) and GRADED since r18 (the r17
    * verdict's item-5 decision, taken with the bench gate green): the
    * oracle replays the SAME wide arithmetic in DuckDB, so the
    * cross-engine hash now covers the regime a >1e9-row-cell corpus
    * actually runs. */
  private[graft] def qAggRegressionWide(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast(LongType).as("x"))
      .agg(sum(col("value").cast(DecimalType(28, 4))).as("y"))
    regressionFinish(daily, wide38 = true)
  }

  /** Least-squares finish over the (event_type, x, y) daily table, in
    * either arithmetic regime. The graded DECIMAL(18,4) regime is exact
    * while each day's Σ|value| < 1e14 and each moment sum < 1e24
    * (Spark widens sum/product precision to 28/38 internally). The
    * DECIMAL(38) regime (`wide38=true`, r12-verdict open item (d))
    * re-casts y to DECIMAL(28,4) so x·y products carry ≤38 digits:
    * exact while per-day Σ|value| < 1e24 — the >1e9-row-cell regime the
    * graded form documents as out of bounds. Identical plan shape;
    * WideDecimalSpec pins cross-regime equality on the fixture and
    * exactness vs BigDecimal at magnitudes where DECIMAL(18,4) sums
    * overflow. */
  private[graft] def regressionFinish(daily: DataFrame, wide38: Boolean): DataFrame = {
    val y = if (wide38) col("y").cast(DecimalType(28, 4)) else col("y")
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"),
        sum(y).as("sy"),
        sum(col("x") * y).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        col("sx"), col("sy").cast(DoubleType).as("sum_y"),
        try_divide((col("n_days") * col("sxy") - col("sx") * col("sy")).cast(DoubleType),
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
          .as("slope"))
      .withColumn("intercept",
        (col("sum_y") - col("slope") * col("sx").cast(DoubleType)) /
          col("n_days").cast(DoubleType))
      .drop("sx")
      .orderBy(col("event_type"))
  }

  val qAggRegressionSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, CAST(sy AS DOUBLE) AS sum_y,
      |  CAST(n_days * sxy - sx * sy AS DOUBLE)
      |    / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
      |  (CAST(sy AS DOUBLE)
      |     - (CAST(n_days * sxy - sx * sy AS DOUBLE)
      |        / CAST(n_days * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
      |    / CAST(n_days AS DOUBLE) AS intercept
      |FROM m ORDER BY event_type""".stripMargin

  /** The wide regime's oracle: the same exact-moment least squares with
    * the daily accumulator at DECIMAL(28,4) — every sum stays exact
    * decimal/bigint until the one final double division, so both
    * regimes (and both engines) agree bit-for-bit wherever neither
    * overflows. */
  val qAggRegressionWideSql: String =
    qAggRegressionSql.replace("DECIMAL(18,4)", "DECIMAL(28,4)")

  /** SEQUENCE PATTERN MATCHING (the MATCH_RECOGNIZE / CEP family):
    * [[PatternMachine]] compiles each graded pattern (event-type
    * initials, a boundary set that closes a segment, optionally
    * quantifiers, contiguity and a time window) into one transition
    * table, and the batch form runs its [[PatternMachine.sqlFold]] — a
    * row-local `aggregate()` lambda over each user's event-time-ordered
    * (tsu, event_id, t) structs, whole-stage-codegen'd, no UDF, no regex
    * engine (Java-vs-RE2 match semantics are an engine-portability
    * trap; the oracle's regex and replay formulations are derived from
    * the SAME compile and property-pinned to the machine by
    * PatternMachineSpec). All graded patterns fold over ONE
    * collect_list — one shuffle on user_id total, then unpivot. At
    * 100 TB the collect_list holds one user's event structs; a
    * pathological user history would move this to the streaming form,
    * whose state is O(#patterns) per user (q_stream_pattern — same
    * machine, same oracle). */
  def qWindowPattern(s: SparkSession, d: String): DataFrame = {
    val evs = events(s, d)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("tsu"), col("event_id"),
          substring(col("event_type"), 1, 1).as("t")).as("ev"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
    val counted = PatternMachine.GradedAll.foldLeft(evs) {
      case (df, (name, c)) =>
        df.withColumn(s"n_$name", expr(PatternMachine.sqlFold(c, "evs")))
    }
    val stacked = PatternMachine.GradedAll
      .map { case (name, _) => s"'$name', n_$name" }.mkString(", ")
    counted.select(col("user_id"),
        expr(s"stack(${PatternMachine.GradedAll.size}, $stacked)")
          .as(Seq("pattern", "n_matches")))
      .filter(col("n_matches") > 0)
      .orderBy(col("user_id"), col("pattern"))
  }

  /** Shared by the batch AND streaming forms (one truth, two engines).
    * The time-free patterns keep their INDEPENDENT regex formulation
    * ([[PatternMachine.oracleRegex]]: lazy quantifiers make each
    * non-overlapping match the machine's earliest completion; the
    * banned class keeps a match inside one segment). The windowed
    * pattern has no regex form — its arm is the recursive-CTE REPLAY
    * of the same transition ([[PatternMachine.duckReplaySql]]), the
    * fold-as-oracle-of-record shape: a different ENGINE re-executes
    * the machine over the (ts, event_id) order and must converge to
    * the same counts. */
  val qWindowPatternSql: String = {
    val regexArms = PatternMachine.GradedAll
      .filter { case (_, c) => c.maxSpanUs.isEmpty }
      .map { case (name, c) =>
        val re = PatternMachine.oracleRegexOf(c)
        s"""SELECT user_id, '$name' AS pattern,
           |  CAST(len(regexp_extract_all(cs, '$re')) AS BIGINT) AS n_matches
           |FROM s""".stripMargin
      }
    val windowed = PatternMachine.GradedAll
      .filter { case (_, c) => c.maxSpanUs.isDefined }
    // both sections are assembled conditionally so emptying EITHER
    // subset of GradedAll degrades to valid SQL instead of a dangling
    // comma / empty UNION ALL branch (r16 self-review finding)
    val recCtes = windowed.map { case (name, c) =>
      s",\nrec_$name AS (\n  ${PatternMachine.duckReplaySql(c, "ev", s"rec_$name")})"
    }.mkString
    val winArms = windowed.map { case (name, _) =>
      // cnt is monotone in i, so MAX(cnt) is the converged fold state
      s"""SELECT user_id, '$name' AS pattern, MAX(cnt) AS n_matches
         |FROM rec_$name GROUP BY user_id""".stripMargin
    }
    val arms = (regexArms ++ winArms).mkString("\n  UNION ALL\n")
    require(arms.nonEmpty, "GradedAll is empty")
    s"""WITH RECURSIVE s AS (
       |  SELECT user_id,
       |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS cs
       |  FROM events GROUP BY user_id),
       |ev AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
       |    substr(event_type, 1, 1) AS t,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
       |  FROM events)$recCtes,
       |m AS (
       |  $arms)
       |SELECT user_id, pattern, n_matches FROM m
       |WHERE n_matches > 0 ORDER BY user_id, pattern""".stripMargin
  }

  def qWindowFunnel(s: SparkSession, d: String): DataFrame = {
    val steps = events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), to_date(col("ts")).as("day"),
        struct(col("ts"), col("event_type").as("et")).as("ev"))
    steps.groupBy(col("user_id"), col("day"))
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
      .withColumn("step", expr(
        """aggregate(evs, 0, (st, e) ->
          |  CASE WHEN st = 0 AND e.et = 'view' THEN 1
          |       WHEN st = 1 AND e.et = 'click' THEN 2
          |       WHEN st = 2 AND e.et = 'purchase' THEN 3
          |       ELSE st END)""".stripMargin))
      .groupBy(col("day"))
      .agg(sum(when(col("step") >= 1, 1L).otherwise(0L)).as("n_step1"),
        sum(when(col("step") >= 2, 1L).otherwise(0L)).as("n_step2"),
        sum(when(col("step") >= 3, 1L).otherwise(0L)).as("n_step3"))
      .orderBy(col("day"))
  }

  val qWindowFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |t1 AS (SELECT user_id, day, MIN(ts) AS ts1 FROM e
      |       WHERE event_type = 'view' GROUP BY 1, 2),
      |t2 AS (SELECT e.user_id, e.day, MIN(e.ts) AS ts2
      |       FROM e JOIN t1 ON e.user_id = t1.user_id AND e.day = t1.day
      |       WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY 1, 2),
      |t3 AS (SELECT e.user_id, e.day, MIN(e.ts) AS ts3
      |       FROM e JOIN t2 ON e.user_id = t2.user_id AND e.day = t2.day
      |       WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY 1, 2),
      |ud AS (SELECT DISTINCT user_id, day FROM e),
      |steps AS (
      |  SELECT ud.user_id, ud.day,
      |    CASE WHEN t3.ts3 IS NOT NULL THEN 3
      |         WHEN t2.ts2 IS NOT NULL THEN 2
      |         WHEN t1.ts1 IS NOT NULL THEN 1 ELSE 0 END AS step
      |  FROM ud
      |  LEFT JOIN t1 ON ud.user_id = t1.user_id AND ud.day = t1.day
      |  LEFT JOIN t2 ON ud.user_id = t2.user_id AND ud.day = t2.day
      |  LEFT JOIN t3 ON ud.user_id = t3.user_id AND ud.day = t3.day)
      |SELECT day,
      |  CAST(SUM(CASE WHEN step >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_step1,
      |  CAST(SUM(CASE WHEN step >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_step2,
      |  CAST(SUM(CASE WHEN step >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_step3
      |FROM steps GROUP BY day ORDER BY day""".stripMargin

  /** COHORT RETENTION — the activation dashboard every event pipeline
    * feeds: users grouped by first-SIGNUP day, retention measured as
    * "active exactly k days after signup" for k ∈ {0, 7, 14, 21}
    * (r0 doubles as a sanity row: signup itself is activity). Two
    * keyed aggregations (distinct user-days; min day per user) and one
    * user-keyed join — nothing wider than the user key shuffles, and
    * the (cohort × offset) output is calendar-bounded regardless of
    * corpus size. */
  def qAggCohort(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    // cohort on first SIGNUP day (first-any-activity collapses to one
    // cohort in this fixture — every user has some event on day 1)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("c_day"))
    ud.join(cohort, Seq("user_id"))
      .withColumn("k", datediff(col("day"), col("c_day")))
      .groupBy(col("c_day"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(when(col("k") === 0, 1L).otherwise(0L)).as("r0"),
        sum(when(col("k") === 7, 1L).otherwise(0L)).as("r7"),
        sum(when(col("k") === 14, 1L).otherwise(0L)).as("r14"),
        sum(when(col("k") === 21, 1L).otherwise(0L)).as("r21"))
      .orderBy(col("c_day"))
  }

  val qAggCohortSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS c_day
      |           FROM events WHERE event_type = 'signup' GROUP BY 1),
      |j AS (SELECT ud.user_id, cohort.c_day, ud.day - cohort.c_day AS k
      |      FROM ud JOIN cohort ON ud.user_id = cohort.user_id)
      |SELECT c_day, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r0,
      |  CAST(SUM(CASE WHEN k = 7 THEN 1 ELSE 0 END) AS BIGINT) AS r7,
      |  CAST(SUM(CASE WHEN k = 14 THEN 1 ELSE 0 END) AS BIGINT) AS r14,
      |  CAST(SUM(CASE WHEN k = 21 THEN 1 ELSE 0 END) AS BIGINT) AS r21
      |FROM j GROUP BY c_day ORDER BY c_day""".stripMargin

  val queries = graft.functions.Surface.queries(Map(
    "q_window_funnel" -> (qWindowFunnel _),
    "q_window_pattern" -> (qWindowPattern _),
    "q_agg_regression" -> (qAggRegression _),
    "q_agg_regression_wide" -> (qAggRegressionWide _),
    "q_window_anomaly" -> (qWindowAnomaly _),
    "q_agg_cohort" -> (qAggCohort _),
    "q_scalar_collation" -> (qScalarCollation _),
    "q_sql_pipe" -> (qSqlPipe _),
    "q_scalar_try" -> (qScalarTry _),
    "q_agg_argmax" -> (qAggArgmax _),
    "q_window_navigation" -> (qWindowNavigation _),
    "q_agg_stats_moments" -> (qAggStatsMoments _),
    "q_agg_unpivot" -> (qAggUnpivot _),
    "q_subquery_scalar" -> (qSubqueryScalar _),
    "q_subquery_not_in" -> (qSubqueryNotIn _),
    "q_window_gapfill" -> (qWindowGapfill _),
    "q_window_rolling" -> (qWindowRolling _),
    "q_scalar_null_bitwise" -> (qScalarNullBitwise _),
    "q_agg_distinct" -> (qAggDistinct _),
    "q_agg_approx_distinct" -> (qAggApproxDistinct _),
    "q_agg_rollup" -> (qAggRollup _),
    "q_agg_cube" -> (qAggCube _),
    "q_agg_grouping_sets" -> (qAggGroupingSets _),
    "q_agg_pivot" -> (qAggPivot _),
    "q_agg_percentile" -> (qAggPercentile _),
    "q_agg_approx_percentile" -> (qAggApproxPercentile _),
    "q_window_rank" -> (qWindowRank _),
    "q_window_running" -> (qWindowRunning _),
    "q_window_lag_lead" -> (qWindowLagLead _),
    "q_window_distribution" -> (qWindowDistribution _),
    "q_set_ops" -> (qSetOps _),
    "q_scalar_string_date" -> (qScalarStringDate _),
    "q_scalar_json" -> (qScalarJson _),
    "q_scalar_variant" -> (qScalarVariant _),
    "q_scalar_map" -> (qScalarMap _),
    "q_sort_nulls" -> (qSortNulls _),
    "q_scalar_string_fns" -> (qScalarStringFns _),
    "q_scalar_math_fns" -> (qScalarMathFns _),
    "q_scalar_date_fns" -> (qScalarDateFns _),
    "q_scalar_array" -> (qScalarArray _),
  ))

  val oracle: Map[String, String] = Map(
    "q_window_navigation" -> qWindowNavigationSql,
    "q_agg_stats_moments" -> qAggStatsMomentsSql,
    "q_agg_unpivot" -> qAggUnpivotSql,
    "q_subquery_scalar" -> qSubqueryScalarSql,
    "q_subquery_not_in" -> qSubqueryNotInSql,
    "q_window_gapfill" -> qWindowGapfillSql,
    "q_window_funnel" -> qWindowFunnelSql,
    "q_window_pattern" -> qWindowPatternSql,
    "q_agg_regression" -> qAggRegressionSql,
    "q_agg_regression_wide" -> qAggRegressionWideSql,
    "q_window_anomaly" -> qWindowAnomalySql,
    "q_agg_cohort" -> qAggCohortSql,
    "q_scalar_collation" -> qScalarCollationSql,
    "q_sql_pipe" -> qSqlPipeSql,
    "q_scalar_try" -> qScalarTrySql,
    "q_agg_argmax" -> qAggArgmaxSql,
    "q_window_rolling" -> qWindowRollingSql,
    "q_scalar_null_bitwise" -> qScalarNullBitwiseSql,
    "q_agg_distinct" -> qAggDistinctSql,
    "q_agg_approx_distinct" -> qAggApproxDistinctSql,
    "q_agg_rollup" -> qAggRollupSql,
    "q_agg_cube" -> qAggCubeSql,
    "q_agg_grouping_sets" -> qAggGroupingSetsSql,
    "q_agg_pivot" -> qAggPivotSql,
    "q_agg_percentile" -> qAggPercentileSql,
    "q_agg_approx_percentile" -> qAggApproxPercentileSql,
    "q_window_rank" -> qWindowRankSql,
    "q_window_running" -> qWindowRunningSql,
    "q_window_lag_lead" -> qWindowLagLeadSql,
    "q_window_distribution" -> qWindowDistributionSql,
    "q_set_ops" -> qSetOpsSql,
    "q_scalar_string_date" -> qScalarStringDateSql,
    "q_scalar_json" -> qScalarJsonSql,
    "q_scalar_variant" -> qScalarVariantSql,
    "q_scalar_map" -> qScalarMapSql,
    "q_sort_nulls" -> qSortNullsSql,
    "q_scalar_string_fns" -> qScalarStringFnsSql,
    "q_scalar_math_fns" -> qScalarMathFnsSql,
    "q_scalar_date_fns" -> qScalarDateFnsSql,
    "q_scalar_array" -> qScalarArraySql,
  )
}
