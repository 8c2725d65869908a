package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Scale-technique operators: skew-resistant salted aggregation and
  * IVF-cell ANN — the two remaining patterns a 100 TB deployment leans on
  * (salting for hot keys; inverted-file cells as the coarse-quantizer
  * alternative to hyperplane LSH). Both oracle-checked.
  */
object ScaleOps extends QueryModule {
  import Tables._

  // ------------------------------------------------- salted aggregation

  /** Skew-resistant aggregation: event_type has only 5 distinct values, so
    * a naive groupBy concentrates 100 TB onto 5 reducers. Salt the key
    * with a deterministic 16-way split (event_id mod 16), pre-aggregate
    * per (key, salt), then combine per key — two shuffles, both balanced.
    * Decimal sums are associative, so the two-phase result is identical
    * to the direct aggregate the oracle computes. */
  def qAggSalted(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"), col("value"), pmod(col("event_id"), lit(16)).as("salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n_part"),
        sum(col("value").cast(DecimalType(18, 4))).as("sum_part"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_part")).as("n"),
        sum(col("sum_part")).cast(DoubleType).as("sum_value"))
      .orderBy(col("event_type"))

  val qAggSaltedSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- salted join

  /** Skew-resistant JOIN — the join-side counterpart of q_agg_salted and
    * the static alternative to AQE's runtime skew split (SkewJoinSpec):
    * the build side replicates each row SALT ways (explode over the salt
    * range), the probe side tags each row with a row-local deterministic
    * salt (l_linenumber mod SALT), and the join key becomes (key, salt) —
    * so a hot orderkey's probe rows spread across SALT reducers instead
    * of melting one. Build-side cost is ×SALT rows (the standard trade);
    * the result is exactly the plain join, which is what the oracle
    * grades. Use when the skew is KNOWN ahead of run (AQE handles the
    * discovered-at-runtime case); at 100 TB salt only the known-hot keys
    * and join the rest unsalted. */
  def qJoinSalted(s: SparkSession, d: String): DataFrame = {
    val SALT = 4
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        pmod(col("l_linenumber"), lit(SALT)).as("salt"))
    val o = orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(lit((0 until SALT).toArray)))
    o.as("o").join(li.as("li"),
        col("o_orderkey") === col("l_orderkey") &&
          col("o.salt") === col("li.salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val qJoinSaltedSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ----------------------------------------- deterministic stratified sample

  /** Stratified sampling with per-stratum rates — the training-data
    * curation primitive (downsample the over-represented class). The
    * sample decision is a pure row-local portable hash of the row key
    * (LCG mod 2^31−1, key reduced mod P first so the arithmetic stays in
    * 63 bits at any orderkey range): no rand(), so the sample is
    * reproducible run-to-run, engine-to-engine, and under retries — the
    * property a 100 TB pipeline needs for resumable sampling. Rates:
    * returnflag A → 5%, N → 10%, R → 20%. Embarrassingly parallel scan;
    * the only shuffle is the final tiny per-stratum rollup. */
  def qSampleStratified(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"),
        // the multiplier must exceed the modulus so the product WRAPS even
        // for small sequential keys (a sub-modulus multiplier like 48271 is
        // monotone over small key ranges — no mixing, wrong rates);
        // (key % P) * 2654435761 ≤ 5.7e18 stays within Long
        expr("((l_orderkey % 2147483647) * 2654435761 + l_linenumber * 40503 + 11) % 2147483647")
          .as("h"))
      .withColumn("thresh",
        when(col("l_returnflag") === "A", lit(2147483647L / 20))
          .when(col("l_returnflag") === "N", lit(2147483647L / 10))
          .otherwise(lit(2147483647L / 5)))
      .filter(col("h") < col("thresh"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"))
      .orderBy(col("l_returnflag"))

  val qSampleStratifiedSql: String =
    """WITH h AS (
      |  SELECT l_returnflag, l_quantity,
      |    ((l_orderkey % 2147483647) * 2654435761 + l_linenumber * 40503 + 11) % 2147483647 AS h,
      |    CASE l_returnflag WHEN 'A' THEN 2147483647 // 20
      |                      WHEN 'N' THEN 2147483647 // 10
      |                      ELSE 2147483647 // 5 END AS thresh
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_sampled,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  MIN(h) AS min_h, MAX(h) AS max_h
      |FROM h WHERE h < thresh
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------- mixture (data-mix) sample

  /** MIXTURE SAMPLING — the data-mixing step that shapes a pretraining
    * corpus to target domain shares (here: lang shares en 40% / others
    * 15%): compute each language's token mass, derive the largest total
    * the corpus supports at the target mixture WITHOUT upsampling
    * (budget = min over langs of tokens·100/weight), and downsample each
    * language to its share of that budget with the same deterministic
    * row-local LCG as q_sample_stratified (resumable, retry-stable,
    * engine-identical). EVERYTHING is exact integer arithmetic — budget,
    * per-lang target tokens, and the P-scaled keep threshold are integer
    * divisions, so no float boundary can disagree between engines. Scale:
    * one tokens-per-lang rollup, a 5-row broadcast of thresholds, and a
    * row-local keep decision — the corpus is scanned once and never
    * shuffled. */
  def qSampleMixture(s: SparkSession, d: String): DataFrame = {
    val P = 2147483647L
    val docs = documents(s, d).select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    val perLang = docs.groupBy(col("lang"))
      .agg(sum(col("n_tok")).as("tokens_total"))
      .withColumn("weight",
        when(col("lang") === "en", lit(40L)).otherwise(lit(15L)))
    val budget = perLang
      .agg(min(expr("tokens_total * 100 div weight")).as("b"))
    val thresholds = perLang.crossJoin(broadcast(budget))
      .withColumn("target_tokens", expr("weight * b div 100"))
      .withColumn("thr", expr(s"target_tokens * $P div tokens_total"))
      .select(col("lang"), col("tokens_total"), col("target_tokens"), col("thr"))
    docs.join(broadcast(thresholds), Seq("lang"))
      .withColumn("h", expr(s"((doc_id % $P) * 2654435761 + 17) % $P"))
      .groupBy(col("lang"))
      .agg(max(col("tokens_total")).as("tokens_total"),
        max(col("target_tokens")).as("target_tokens"),
        max(col("thr")).as("thr"),
        sum(when(col("h") < col("thr"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("h") < col("thr"), col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
      .orderBy(col("lang"))
  }

  val qSampleMixtureSql: String =
    """WITH d AS (SELECT doc_id, lang,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |           FROM documents),
      |pl AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
      |         CASE lang WHEN 'en' THEN 40 ELSE 15 END AS weight
      |       FROM d GROUP BY lang),
      |b AS (SELECT MIN(tokens_total * 100 // weight) AS b FROM pl),
      |p AS (SELECT lang, tokens_total,
      |        weight * b.b // 100 AS target_tokens,
      |        (weight * b.b // 100) * 2147483647 // tokens_total AS thr
      |      FROM pl, b),
      |j AS (SELECT d.lang, d.n_tok, p.tokens_total, p.target_tokens, p.thr,
      |        ((d.doc_id % 2147483647) * 2654435761 + 17) % 2147483647 AS h
      |      FROM d JOIN p USING (lang))
      |SELECT lang, MAX(tokens_total) AS tokens_total,
      |  MAX(target_tokens) AS target_tokens, MAX(thr) AS thr,
      |  CAST(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN h < thr THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
      |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------ heavy hitters

  /** Heavy hitters per key through the Misra-Gries sketch
    * ([[graft.functions.MisraGriesAgg]] — K counters per group, mergeable
    * partials, O(K) state at any input size). event_type has 5 distinct
    * values ≤ K = 8, so the sketch is provably exact here and the plain
    * GROUP BY oracle hash-checks the whole sketch path: per-partition
    * update, partial serialization, merge, final eval. The >K
    * approximation regime is covered by MisraGriesSpec. */
  def qAggHeavyHitters(s: SparkSession, d: String): DataFrame =
    events(s, d)
      // sign-preserving % (not pmod) — matches the oracle's user_id % 8
      // semantics even if a fixture ever carries a negative user_id
      .select((col("user_id") % 8).as("bucket"), col("event_type"))
      .groupBy(col("bucket"))
      .agg(expr("graft_topk_freq(event_type)").as("hh"))
      .select(col("bucket"), explode(col("hh")).as("e"))
      .select(col("bucket"), col("e.value").as("event_type"), col("e.cnt").as("n"))
      .orderBy(col("bucket"), col("n").desc, col("event_type"))

  val qAggHeavyHittersSql: String =
    """SELECT user_id % 8 AS bucket, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2
      |ORDER BY bucket, n DESC, event_type""".stripMargin

  // ------------------------------------------------- KMV distinct sketch

  /** Distinct users per event type through the KMV cardinality sketch
    * ([[graft.functions.KmvDistinctAgg]] — K minima per group,
    * mergeable partials, O(K) state at any input size): the sketch answer
    * to COUNT(DISTINCT) once the value domain outgrows an exact
    * aggregate. user_id is folded to a ≤200-value domain so the sketch
    * runs in its provably-exact regime (< K = 256 distinct) and the plain
    * COUNT(DISTINCT) oracle hash-checks the entire native path: update,
    * partial serialization, set-union merge, final eval. The >K estimator
    * regime ((K−1)·P/θ_K, ~6% RSE) is covered by KmvSketchSpec. */
  def qAggDistinctSketch(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"), (col("user_id") % 200).as("u"))
      .groupBy(col("event_type"))
      .agg(expr("graft_approx_distinct(u)").as("n_distinct_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val qAggDistinctSketchSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id % 200) AS BIGINT) AS n_distinct_users,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------- data-quality check gate

  /** DATA-QUALITY EXPECTATIONS (the Deequ/Great-Expectations shape) —
    * the validation gate a pipeline runs before trusting a new batch:
    * declared constraints over orders evaluated in ONE scan (conditional
    * aggregates; uniqueness via count vs distinct — the only
    * full-shuffle check, and the one a 100 TB run approximates with the
    * HLL path q_agg_hll grades), emitted as a per-check violation table
    * with pass flags. A failed check gates the batch; the row-shaped
    * output is what lands in a quality-history table. */
  def qProfileChecks(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val agg = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_null_key"),
      countDistinct(col("o_orderkey")).as("n_distinct_key"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("v_price"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("v_status"),
      sum(when(col("o_orderdate") < lit("1990-01-01") ||
        col("o_orderdate") >= lit("2005-01-01"), 1L).otherwise(0L))
        .as("v_date"))
    agg.select(expr(
      """stack(5,
        |  'key_not_null',  v_null_key,
        |  'key_unique',    n - n_distinct_key,
        |  'price_positive', v_price,
        |  'status_domain', v_status,
        |  'date_in_range', v_date) AS (check_name, n_violations)""".stripMargin))
      .withColumn("passed", (col("n_violations") === 0L).cast("int").cast(LongType))
      .orderBy(col("check_name"))
  }

  val qProfileChecksSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_null_key,
      |    COUNT(DISTINCT o_orderkey) AS n_distinct_key,
      |    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_price,
      |    SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
      |      AS v_status,
      |    SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
      |             OR o_orderdate >= TIMESTAMP '2005-01-01'
      |             THEN 1 ELSE 0 END) AS v_date
      |  FROM orders),
      |checks AS (
      |  SELECT 'key_not_null' AS check_name, CAST(v_null_key AS BIGINT) AS n_violations FROM a
      |  UNION ALL SELECT 'key_unique', CAST(n - n_distinct_key AS BIGINT) FROM a
      |  UNION ALL SELECT 'price_positive', CAST(v_price AS BIGINT) FROM a
      |  UNION ALL SELECT 'status_domain', CAST(v_status AS BIGINT) FROM a
      |  UNION ALL SELECT 'date_in_range', CAST(v_date AS BIGINT) FROM a)
      |SELECT check_name, n_violations,
      |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
      |FROM checks ORDER BY check_name""".stripMargin

  // --------------------------------------------- HLL sketch rollup table

  /** SKETCH RE-AGGREGATION — the reason sketches get STORED, not just
    * computed: per-(event_type, day) HLL registers form a rollup table
    * (what a 100 TB deployment materializes nightly: 256 B per cell vs
    * the day's raw user ids), and any coarser question — here distinct
    * users per type across ALL days — is answered by element-wise-max
    * MERGING the stored sketches (`graft_hll_merge`), never re-reading
    * raw data. merged(daily) == direct(raw) is the max-merge algebraic
    * identity; the oracle rebuilds the registers DIRECTLY from the raw
    * hashes (same SQL as q_agg_hll), so the graded equality proves the
    * two-level aggregate path — fine-grain sketch, serialize, regroup,
    * merge — loses nothing. */
  def qAggHllReagg(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"), h48)
      .groupBy(col("event_type"), col("day"))
      .agg(expr("graft_hll(h48)").as("regs"))
    hllEstimate(daily.groupBy(col("event_type"))
      .agg(expr("graft_hll_merge(regs)").as("regs"), count(lit(1)).as("n_days")), "n_days")
  }

  val qAggHllReaggSql: String =
    s"""WITH h AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
      |      AS h48
      |  FROM events),
      |$hllRegsSql
      |nd AS (SELECT event_type, COUNT(DISTINCT day) AS n_days FROM h GROUP BY 1)
      |SELECT a.event_type, nd.n_days, a.v_empty, a.sum_ranks, a.s_scaled,
      |$hllEstSql
      |FROM agg a JOIN nd ON a.event_type = nd.event_type
      |ORDER BY a.event_type""".stripMargin

  // --------------------------------------- quantile sketch rollup table

  /** MERGEABLE QUANTILE SKETCH in its colliding/merging regime — the
    * percentile sibling of q_agg_hll_reagg, completing the native sketch
    * family (HLL / KMV / CMS / Misra-Gries / MinHash / bottom-k
    * quantile). Fine-grained sketches per (l_returnflag, 8-way shard) —
    * what a 100 TB deployment persists per (day, shard): ≤ 8 KB per cell
    * vs the shard's raw prices — are merged per flag with
    * `graft_quantile_merge`, and p25/50/75/95 are read off the merged
    * sample. merged(fine) == direct(raw) is the bottom-k truncation
    * identity (any global bottom-K pair survives its shard's cut); the
    * oracle rebuilds the ENTIRE sketch relationally — a
    * `row_number() OVER (ORDER BY hash, value) <= K` window straight on
    * the raw rows — so the graded equality proves the two-level path
    * (fine sketch, serialize, regroup, merge, quantile) loses nothing.
    * Quantile values are verbatim input doubles (the sketch does zero
    * float arithmetic); positions use floor(p·(m−1))+1 integer-exactly
    * in both engines. See [[graft.functions.QuantileSketchAgg]] for why
    * bottom-k-by-hash beats KLL/t-digest here (deterministic merge). */
  def qAggQuantileSketch(s: SparkSession, d: String): DataFrame = {
    def qpos(p: Double): Column =
      element_at(col("vs"),
        (floor(lit(p) * (col("m") - 1)) + 1).cast(IntegerType))
    lineitem(s, d)
      .select(col("l_returnflag"), (col("l_orderkey") % 8).as("shard"),
        expr("""CAST(conv(substring(md5(CAST(CAST(l_orderkey AS BIGINT) * 10
                |  + l_linenumber AS STRING)), 1, 12), 16, 10) AS BIGINT)"""
          .stripMargin).as("hk"),
        col("l_extendedprice").cast(DoubleType).as("v"))
      .groupBy(col("l_returnflag"), col("shard"))
      .agg(expr("graft_quantile(hk, v)").as("sk"), count(lit(1)).as("n"))
      .groupBy(col("l_returnflag"))
      .agg(expr("graft_quantile_merge(sk)").as("sk"),
        sum(col("n")).as("n_rows"))
      .select(col("l_returnflag"), col("n_rows"),
        expr("array_sort(transform(sk, p -> p.v))").as("vs"))
      .withColumn("m", size(col("vs")))
      .select(col("l_returnflag"), col("n_rows"), col("m"),
        qpos(0.25).as("p25"), qpos(0.50).as("p50"),
        qpos(0.75).as("p75"), qpos(0.95).as("p95"))
      .orderBy(col("l_returnflag"))
  }

  val qAggQuantileSketchSql: String =
    """WITH r AS (
      |  SELECT l_returnflag,
      |    CAST(('0x' || substr(md5(CAST(CAST(l_orderkey AS BIGINT) * 10
      |      + l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT) AS hk,
      |    CAST(l_extendedprice AS DOUBLE) AS v
      |  FROM lineitem),
      |bk AS (
      |  SELECT l_returnflag, v,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hk, v) AS rn
      |  FROM r),
      |srt AS (
      |  SELECT l_returnflag, v,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS vr,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS m
      |  FROM bk WHERE rn <= 512),
      |q AS (
      |  SELECT l_returnflag, CAST(MAX(m) AS INTEGER) AS m,
      |    MAX(CASE WHEN vr = CAST(floor(0.25 * (m - 1)) AS BIGINT) + 1
      |             THEN v END) AS p25,
      |    MAX(CASE WHEN vr = CAST(floor(0.50 * (m - 1)) AS BIGINT) + 1
      |             THEN v END) AS p50,
      |    MAX(CASE WHEN vr = CAST(floor(0.75 * (m - 1)) AS BIGINT) + 1
      |             THEN v END) AS p75,
      |    MAX(CASE WHEN vr = CAST(floor(0.95 * (m - 1)) AS BIGINT) + 1
      |             THEN v END) AS p95
      |  FROM srt GROUP BY l_returnflag),
      |n AS (SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem GROUP BY 1)
      |SELECT q.l_returnflag, n.n_rows, q.m, q.p25, q.p50, q.p75, q.p95
      |FROM q JOIN n ON q.l_returnflag = n.l_returnflag
      |ORDER BY q.l_returnflag""".stripMargin

  // ------------------------------------------------- filtered ANN search

  /** FILTERED vector search — the production shape most ANN papers skip:
    * "top-k neighbors WHERE attr = …". Strategy is PRE-filtering inside
    * cells: probes fan out over nprobe cells exactly as in q_sim_ann_ivf,
    * but cell candidates are filtered on the metadata predicate BEFORE
    * any distance is computed — correct top-k under the filter by
    * construction (post-filtering an unfiltered top-k would UNDERFILL
    * whenever fewer than k of the k nearest satisfy the predicate). The
    * filter is a row-local scan predicate, so at 100 TB it rides the
    * same column-stat pruning as any scan filter (with a
    * partition-funneling attribute, cell×attr co-partitioning turns it
    * into directory pruning, the q_sim_ann_index layout's lever); the
    * selectivity knob trades against nprobe — a 1/3-selective filter
    * keeps ~1/3 of each cell's candidates, so recall at fixed nprobe is
    * the unfiltered recall of a 3×-sparser corpus. Topology otherwise
    * identical to the graded IVF: broadcast probes, cell equi-join,
    * bounded-heap top-3 — the corpus never shuffles. */
  def qSimAnnFiltered(s: SparkSession, d: String): DataFrame =
    ivfCosine(s, d, col("arn") === 1 && col("vec_id") % 3 === 0)

  val qSimAnnFilteredSql: String = ivfCosineSql("arn = 1 AND vec_id % 3 = 0")

  // ------------------------------------------------- Z-order data layout

  /** Bit-interleave z-value over 16-bit (x, y) — the Morton curve key
    * behind multi-dimensional data clustering (Delta/Iceberg OPTIMIZE
    * ZORDER). Built from shiftleft/shiftright/& only, so both engines
    * compute it integer-exact. */
  private[graft] val zInterleaveSpark: String =
    """aggregate(sequence(0, 15), 0L, (acc, i) -> acc
      |  + shiftleft(shiftright(x, i) & 1, 2 * i)
      |  + shiftleft(shiftright(y, i) & 1, 2 * i + 1))""".stripMargin
  private val zInterleaveDuck: String =
    """CAST(list_sum(list_transform(range(0, 16), i ->
      |  (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
      |  AS BIGINT)""".stripMargin

  /** Orders projected to the 2-D layout space: x = custkey (16-bit
    * masked), y = days since 1995-01-01 — the two columns real order
    * queries box-filter on. */
  private def ordersXY(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"), col("o_orderdate"),
        (col("o_custkey").bitwiseAND(65535)).as("x"),
        (datediff(col("o_orderdate"), lit("1995-01-01")).cast(LongType)
          .bitwiseAND(65535)).as("y"))

  /** Z-ORDER clustered layout — the write-side operator that makes 2-D
    * box queries cheap at 100 TB: rows get a Morton z-value over
    * (custkey, order-day), are range-partitioned AND sorted by z, and
    * written as a table whose every file covers a small contiguous z
    * range — hence a SMALL x-range × y-range rectangle (measured in
    * LayoutSpec), so ordinary parquet min/max stats prune most files for
    * a predicate on EITHER or BOTH raw columns. A single-column sort
    * gets pruning only on that column; z-order buys it on all interleaved
    * dimensions at once, with nothing custom at read time — the scan
    * below filters on raw o_custkey/o_orderdate, never on z. The graded
    * result is the box query over the CLUSTERED table (layout must not
    * change answers) plus min/max z per group (pins the interleave
    * arithmetic cross-engine). At larger key domains the masks widen and
    * the file count scales with data, keeping per-file spans constant —
    * the layout is append-compactable per z range, like the ANN index's
    * cell partitions. */
  /** The clustered table's location — a PATH, not a catalog table: the
    * layout property lives in the parquet files' min/max stats, which
    * path reads prune exactly like table reads, and skipping the
    * managed-table round-trips (catalog create/drop + metastore-less
    * bookkeeping) keeps the write the only real cost. It is the
    * SharedStage dir (the layout is a pure function of sfDir), computable
    * without building — LayoutSpec reads the same path. */
  private[graft] def zorderPath(s: SparkSession, d: String): String =
    SharedStage.stagedPath(s, d, "orders_zorder")

  def qLayoutZorder(s: SparkSession, d: String): DataFrame = {
    // the z-ordered rewrite is a PURE function of sfDir → stage it once
    // per (application, sfDir), the established SharedStage discipline:
    // the first consumer pays the full clustered WRITE inside the timed
    // run; later calls grade the layout's SERVING half — the stats-
    // pruned box read the rewrite exists to accelerate (at 100 TB the
    // rewrite is an offline OPTIMIZE/cluster job whose output serves
    // many reads; rewriting per query was never the production shape).
    // Steady-pin evaluation (the Bench.steadyPinned rule): UNPINNED —
    // reps 2+ still execute the real pruned scan + aggregation over the
    // clustered files, not a staged answer.
    val dir = SharedStage.memoDir(s, d, "orders_zorder")(
      dd => new java.io.File(dd, "_SUCCESS").exists()) { dd =>
      ordersXY(s, d)
        // o_orderkey is dead downstream (the graded box read and
        // LayoutSpec touch only x/y/z + the 3 payload columns): drop it
        // from the rewrite, fewer bytes through the range exchange and
        // the files (guide §2.3)
        .drop("o_orderkey")
        .withColumn("z", expr(zInterleaveSpark))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(dd)
    }
    s.read.parquet(dir)
      .filter(col("o_custkey").between(25, 75) &&
        col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy(col("o_orderpriority"))
  }

  val qLayoutZorderSql: String =
    s"""WITH xy AS (
       |  SELECT o_orderpriority, o_totalprice,
       |    o_custkey & 65535 AS x,
       |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |      & 65535 AS y
       |  FROM orders
       |  WHERE o_custkey BETWEEN 25 AND 75
       |    AND o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate < TIMESTAMP '1997-01-01'),
       |z AS (SELECT o_orderpriority, o_totalprice,
       |        $zInterleaveDuck AS z
       |      FROM xy)
       |SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  MIN(z) AS min_z, MAX(z) AS max_z
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- HLL register sketch

  /** Distinct users per event type through the HyperLogLog register
    * sketch ([[graft.functions.HllSketchAgg]]): fixed 256-byte state per
    * group at ANY input size, partials merge by element-wise max, so a
    * 1e12-row distinct count shuffles 256 bytes per group — the sketch
    * that replaces q_profile_stats' exact multi-distinct at 100 TB.
    * Where the KMV query grades only the sketch's exact regime, this one
    * grades the ESTIMATOR end to end: the input is a 48-bit md5 hash
    * both engines compute byte-identically, eval exposes the register
    * array, and the oracle REBUILDS all 256 registers relationally
    * (MAX-rank per bucket against a generated bucket grid) plus the
    * harmonic-mean estimate itself — update, partial serialization,
    * merge, and final estimate are all hash-checked. The only floats are
    * IEEE +,*,/ and a branch-free floor(x+0.5) (bit-deterministic across
    * engines); ln appears only in the linear-counting branch, whose 256
    * possible inputs all sit ≥0.005 from a rounding boundary. */
  def qAggHll(s: SparkSession, d: String): DataFrame =
    hllEstimate(events(s, d).select(col("event_type"), h48)
      .groupBy(col("event_type"))
      .agg(expr("graft_hll(h48)").as("regs"), count(lit(1)).as("n_events")), "n_events")

  /** The 48-bit md5 prefix of user_id both engines compute byte-identically. */
  private def h48 =
    expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT)").as("h48")

  /** The estimate per event type from (event_type, `n`, regs): empty
    * registers, rank sum, the scaled harmonic sum and the estimate,
    * linear counting while any register is empty. */
  private def hllEstimate(regs: DataFrame, n: String): DataFrame =
    regs.select(col("event_type"), col(n),
        expr("size(filter(regs, r -> r = 0))").as("v_empty"),
        expr("aggregate(regs, 0, (a, x) -> a + x)").as("sum_ranks"),
        expr("aggregate(regs, 0L, (a, x) -> a + shiftleft(1L, 41 - x))")
          .as("s_scaled"))
      .withColumn("est", expr(
        """CAST(CASE WHEN v_empty > 0
          |  THEN floor(256.0D * ln(256.0D / v_empty) + 0.5D)
          |  ELSE floor(1846528.0D / 2570790.0D * 144115188075855872.0D
          |             / s_scaled + 0.5D) END AS BIGINT)""".stripMargin))
      .orderBy(col("event_type"))

  /** DuckDB's rebuild of the 256 registers per event type from a CTE
    * h(event_type, h48): MAX rank per bucket over the full bucket grid,
    * then the aggregates the estimate reads ([[hllEstSql]], over `a`). */
  private def hllRegsSql: String =
    """rk AS (
      |  SELECT event_type,
      |    CAST(h48 // 1099511627776 AS INTEGER) AS bucket,
      |    CASE WHEN h48 % 1099511627776 = 0 THEN 41
      |         ELSE 41 - length(bin(h48 % 1099511627776)) END AS rank
      |  FROM h),
      |regs AS (SELECT event_type, bucket, MAX(rank) AS mj
      |         FROM rk GROUP BY 1, 2),
      |grid AS (SELECT event_type, unnest(range(0, 256)) AS bucket
      |         FROM (SELECT DISTINCT event_type FROM events) t),
      |fullregs AS (
      |  SELECT g.event_type, COALESCE(r.mj, 0) AS mj
      |  FROM grid g LEFT JOIN regs r
      |    ON g.event_type = r.event_type AND g.bucket = r.bucket),
      |agg AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS INTEGER) AS v_empty,
      |    CAST(SUM(mj) AS INTEGER) AS sum_ranks,
      |    CAST(SUM(CAST(1 AS BIGINT) << CAST(41 - mj AS INTEGER)) AS BIGINT)
      |      AS s_scaled
      |  FROM fullregs GROUP BY 1),""".stripMargin

  private def hllEstSql: String =
    """  CAST(CASE WHEN a.v_empty > 0
      |    THEN floor(256.0 * ln(256.0 / a.v_empty) + 0.5)
      |    ELSE floor(1846528.0 / 2570790.0 * 144115188075855872.0
      |               / a.s_scaled + 0.5) END AS BIGINT) AS est""".stripMargin

  val qAggHllSql: String =
    s"""WITH h AS (
      |  SELECT event_type,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
      |      AS h48
      |  FROM events),
      |$hllRegsSql
      |ne AS (SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY 1)
      |SELECT a.event_type, ne.n_events, a.v_empty, a.sum_ranks, a.s_scaled,
      |$hllEstSql
      |FROM agg a JOIN ne ON a.event_type = ne.event_type
      |ORDER BY a.event_type""".stripMargin

  // ----------------------------------------------------------- IVF ANN

  /** IVF-style ANN: 8 coarse cells seeded by the first 8 vectors; every
    * vector is assigned to its nearest centroid by L2 (argmin over
    * na − 2·dot + nc, ties to the lower cell id); probes (vec_id 10–19)
    * search their nearest AnnOps.IvfNProbe cells — the standard recall
    * lever for points near a cell boundary, at proportional candidate
    * cost. One broadcast of the tiny centroid set, one windowed rank, one
    * cell equi-join — no all-pairs work. A neighbor sits in exactly one
    * cell (arn=1) while the probe fans out, so no per-pair dedup is
    * needed. Why SEED cells and nprobe=4: SCALE.md's "ANN grids" section
    * (ScaleOps IVF). This is the graded pipeline frame plan audits pin;
    * the query serves its published answer (AnnOps.publishedAnswer). */
  private[graft] def ivfSearch(s: SparkSession, d: String): DataFrame =
    ivfCosine(s, d, col("arn") === 1)

  def qSimAnnIvf(s: SparkSession, d: String): DataFrame =
    AnnOps.publishedAnswer(s, d, "ans_ivf")(ivfSearch(s, d))
      .orderBy(col("probe_id"), col("rn"))

  val qSimAnnIvfSql: String = ivfCosineSql("arn = 1")

  /** Seed-cell IVF cosine search: every vector ranked against the 8 seed
    * cells, the candidates passing `candPred` (own cell, plus any
    * metadata pre-filter) met by the probes [10, 20) fanned out to their
    * AnnOps.IvfNProbe cells, top-3 per probe by rounded cosine. */
  private def ivfCosine(s: SparkSession, d: String, candPred: Column): DataFrame = {
    val e = AnnOps.vectors(s, d)
    // checkpointed: the ranked assignment feeds both the candidate set
    // (nearest cell only) and the probes (nprobe-cell fan-out) — without
    // it the row-local assignment subtree runs twice
    val ranked = CellAssign.rank(e, AnnOps.seedCells(e), "embedding", "na",
        top = AnnOps.IvfNProbe)
      .select(col("vec_id"), col("embedding"), col("na"), col("cell_id"), col("arn"))
      .localCheckpoint(eager = false)
    val probes = ranked.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("na").as("pna"), col("cell_id").as("pcell"))
    val scored = AnnOps.cellJoin(ranked.filter(candPred), probes)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        AnnOps.cosine("embedding", "pvec", "na", "pna").as("score"))
    AnnOps.topK(scored, "probe_id", 3, col("score").desc, col("neighbor_id"))
      .orderBy(col("probe_id"), col("rn"))
  }

  private def ivfCosineSql(candPred: String): String =
    s"""WITH ${AnnOps.embSql("emb")},
       |${AnnOps.cellsSql(AnnOps.IvfNProbe, "emb")},
       |cand AS (SELECT vec_id, emb, na, cell_id FROM ranked WHERE $candPred),
       |probes AS (SELECT vec_id AS probe_id, emb AS pemb, na AS pna, cell_id AS pcell
       |           FROM ranked WHERE vec_id >= 10 AND vec_id < 20),
       |scored AS (
       |  SELECT probe_id, a.vec_id AS neighbor_id,
       |    ${AnnOps.cosineSql("a.emb", "p.pemb", "a.na", "p.pna")} AS score
       |  FROM cand a JOIN probes p
       |    ON a.cell_id = p.pcell AND a.vec_id <> p.probe_id)
       |${AnnOps.topKSql("scored", "probe_id, neighbor_id, score", 3, "score DESC, neighbor_id")}""".stripMargin

  // ------------------------------------------- IVF with TRAINED centroids

  /** Nearest-cell assignment by L2 argmin (ties to the lower cell id):
    * row-local over the broadcast centroid array (CellAssign) — vectors
    * never shuffle. Shared by both trained-IVF stages. */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    CellAssign.rank(e,
        cents.select(col("cell_id"), col("cvec"),
          expr("graft_norm_sq(cvec)").as("nc")),
        "emb", "graft_norm_sq(emb)", top = 1)
      .select(col("vec_id"), col("emb"), col("cell_id"))

  /** IVF coarse-quantizer TRAINING, oracle-gated: 2 Lloyd rounds over k=8
    * cells seeded from the first 8 vectors, then per-cell population and
    * centroid norm. The centroid update is mean-by-fixed-point: each
    * coordinate is quantized to floor(x·10⁶ + 0.5) (exact in both
    * engines — no double→int cast, no decimal conversion), summed as
    * BIGINT (exact, associative — the map-side-combinable form), and
    * divided back in double arithmetic. That makes every trained centroid
    * bit-identical between Spark and DuckDB regardless of summation
    * order, which is what lets k-means itself be hash-gated rather than
    * rows-only. Per round: one broadcast assignment + two keyed shuffles
    * of (k × dim) aggregates — raw vectors never shuffle (the
    * IvfTraining.scala production topology, here in its portable form). */
  def qSimAnnIvfTrained(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("emb"))
    val cents = IvfTraining.trainFixedPoint(s,
      embeddings(s, d).select(col("vec_id"), col("embedding")), 8, 2)
    assignCells(e, cents)
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n_vecs"))
      .join(cents, Seq("cell_id"))
      .select(col("cell_id"), col("n_vecs"),
        round(sqrt(expr("graft_norm_sq(cvec)")), 4).as("centroid_norm"))
      .orderBy(col("cell_id"))
  }

  /** One Lloyd round in DuckDB: assignment CTE + fixed-point mean CTE.
    * Parameterized on the vectors CTE name and its embedding column so
    * the same generator serves this file's `e(vec_id, emb)` and AnnOps'
    * `e(vec_id, v, na)` oracles. */
  private[graft] def lloydRoundSql(inCents: String, assignName: String,
      centsName: String, eCte: String = "e", embCol: String = "emb"): String =
    s"""$assignName AS (
       |  SELECT vec_id, $embCol, cell_id FROM (
       |    SELECT e.vec_id, e.$embCol, c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_sum(list_transform(e.$embCol, x -> x * x))
       |        - 2.0 * list_sum(list_transform(list_zip(e.$embCol, c.cvec), x -> x[1] * x[2]))
       |        + list_sum(list_transform(c.cvec, x -> x * x)),
       |        c.cell_id) AS arn
       |    FROM $eCte e, $inCents c) t WHERE arn = 1),
       |${centsName}_m AS (
       |  SELECT cell_id, dim,
       |    CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / (COUNT(*) * 1000000.0) AS m
       |  FROM (SELECT cell_id, unnest($embCol) AS x,
       |          generate_subscripts($embCol, 1) AS dim FROM $assignName) ax
       |  GROUP BY cell_id, dim),
       |$centsName AS (
       |  SELECT cell_id, list(m ORDER BY dim) AS cvec
       |  FROM ${centsName}_m GROUP BY cell_id)""".stripMargin

  val qSimAnnIvfTrainedSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cell_id, emb AS cvec FROM e WHERE vec_id < 8),
       |${lloydRoundSql("c0", "a1", "c1")},
       |${lloydRoundSql("c1", "a2", "c2")},
       |af AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT e.vec_id, c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_sum(list_transform(e.emb, x -> x * x))
       |        - 2.0 * list_sum(list_transform(list_zip(e.emb, c.cvec), x -> x[1] * x[2]))
       |        + list_sum(list_transform(c.cvec, x -> x * x)),
       |        c.cell_id) AS arn
       |    FROM e, c2 c) t WHERE arn = 1),
       |n AS (SELECT cell_id, COUNT(*) AS n_vecs FROM af GROUP BY cell_id)
       |SELECT n.cell_id, n.n_vecs,
       |  round(sqrt(list_sum(list_transform(c.cvec, x -> x * x))), 4) AS centroid_norm
       |FROM n JOIN c2 c ON n.cell_id = c.cell_id
       |ORDER BY n.cell_id""".stripMargin

  // ------------------------------------------------- Count-Min sketch

  /** Per-user frequency estimates through the Count-Min sketch
    * ([[graft.functions.CountMinAgg]] — 3×256 counter matrix, elementwise-add
    * merge, 6 KB of state at ANY input size): ONE global sketch over all
    * events, then every probe user's estimate is min over its 3 cells,
    * read by plain array indexing from the broadcast 1-row aggregate.
    * The 1,500-user fixture genuinely collides in a 256-wide row, so this
    * grades the ESTIMATOR regime, not a degenerate exact case — possible
    * because the LCG hash family is explicit arithmetic the oracle
    * reproduces: cell(r,i) = Σ counts of keys hashing there, a GROUP BY.
    * est ≥ exact always (upper-biased by construction); both columns are
    * emitted so the grade pins the overcount itself. */
  def qAggCountMin(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{CountMinAgg => CM}
    val sk = events(s, d).agg(expr("graft_count_min(user_id)").as("sk"))
    val probes = events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
      .filter(col("user_id") % 37 === 0)
    val est = (0 until CM.Depth).map { r =>
      element_at(col("sk"),
        (expr(CM.cellSql(r, "user_id")) + lit(r * CM.Width + 1)).cast(IntegerType))
    }.reduce(least(_, _))
    probes.crossJoin(broadcast(sk))
      .select(col("user_id"), col("exact_cnt"), est.as("est_cnt"))
      .orderBy(col("user_id"))
  }

  val qAggCountMinSql: String = {
    import graft.functions.{CountMinAgg => CM}
    val rowCtes = (0 until CM.Depth).map { r =>
      s"c$r AS (SELECT ${CM.cellSql(r, "user_id")} AS cell, " +
        "CAST(SUM(c) AS BIGINT) AS s FROM cnt GROUP BY 1)"
    }.mkString(",\n")
    val joins = (0 until CM.Depth).map { r =>
      s"JOIN c$r ON c$r.cell = ${CM.cellSql(r, "p.user_id")}"
    }.mkString("\n")
    s"""WITH cnt AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
       |$rowCtes,
       |p AS (SELECT user_id, c FROM cnt WHERE user_id % 37 = 0)
       |SELECT p.user_id, p.c AS exact_cnt,
       |  LEAST(${(0 until CM.Depth).map(r => s"c$r.s").mkString(", ")}) AS est_cnt
       |FROM p
       |$joins
       |ORDER BY p.user_id""".stripMargin
  }

  // ------------------------------------------------- per-domain cap sample

  /** Per-domain document cap — the crawl-curation primitive that stops one
    * giant domain from dominating the corpus mix: keep at most CAP docs
    * per source, chosen by a deterministic portable hash (same
    * super-modulus LCG as q_sample_stratified — reproducible across runs,
    * engines, and retries; no rand()).
    *
    * Shape: the kept set is a rank-limit window (rank ≤ CAP by hash
    * within source) — exactly the Filter(rn≤k, Window) shape the
    * cosine-top-k rewrite generalizes, so it plans as the two-phase
    * bounded-heap operator: per-partition heaps of CAP rows, then a
    * CAP-rows-per-source exchange — a hot domain costs O(CAP) reducer
    * state instead of domain-sized sort spill. Totals are a separate
    * tiny rollup joined back on source. */
  def qSampleDomainCap(s: SparkSession, d: String): DataFrame = {
    val CAP = 15
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("h",
        expr("((doc_id % 2147483647) * 2654435761 + 17) % 2147483647"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val kept = docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CAP)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("kept_chars"))
      .orderBy(col("source"))
  }

  val qSampleDomainCapSql: String =
    """WITH h AS (SELECT doc_id, source, n_chars,
      |    ((doc_id % 2147483647) * 2654435761 + 17) % 2147483647 AS h
      |  FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |                                   ORDER BY h, doc_id) AS rk FROM h)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rk <= 15 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- deterministic train/val split

  /** Hash-split into train/val/test (90/5/5) — the assignment every
    * training corpus needs, done as a pure row-local function of the
    * stable doc key so the split survives reruns, engine changes, and
    * incremental ingest (a new doc's split never depends on corpus
    * state). Embarrassingly parallel scan; the only shuffle is the
    * per-(lang, split) audit rollup. A different LCG increment (23) than
    * the sampling queries keeps the split independent of the sample
    * decisions — correlated hashes would leak val docs into every
    * downstream hash-sampled subset. */
  def qSampleSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h",
        expr("((doc_id % 2147483647) * 2654435761 + 23) % 2147483647"))
      .withColumn("split",
        when(col("h") % 100 < 90, lit("train"))
          .when(col("h") % 100 < 95, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("split"))

  val qSampleSplitSql: String =
    """WITH h AS (SELECT lang, n_chars,
      |    ((doc_id % 2147483647) * 2654435761 + 23) % 2147483647 AS h
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN h % 100 < 90 THEN 'train'
      |       WHEN h % 100 < 95 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM h GROUP BY lang, split ORDER BY lang, split""".stripMargin

  // --------------------------------------------- weighted (priority) sample

  /** WEIGHTED SAMPLING — priority sampling (Duffield–Lund–Thorup, JACM
    * 2007): each doc draws a deterministic uniform h ∈ [1, P] from the
    * row-local LCG family (increment 29 — decorrelated from the split's
    * 23 and the mixture's 17 by the independent-increment rationale
    * documented at q_sample_split) and gets priority w/u = n_chars·P/h;
    * the top-3 priorities per source are the weighted sample. Priority
    * sampling gives near-optimal variance for subset-sum estimation and,
    * unlike A-ES (u^(1/w)), needs NO transcendental functions — the
    * priority is two IEEE double ops (multiply, divide), which are
    * bit-identical across engines, where pow/log differ in the last ulp
    * between libm implementations (the q_text_tfidf discipline).
    * Exactly-representable: n_chars·P < 2^53, h < 2^31 — both products
    * exact before the single rounding division. Scale: the rank-limit
    * window is the bounded-heap rewrite's shape — O(k) per source, no
    * sort; the scan is the only corpus pass. */
  def qSampleWeighted(s: SparkSession, d: String): DataFrame = {
    val P = 2147483647L
    val docs = documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("h", expr(s"((doc_id % $P) * 2654435761 + 29) % $P + 1"))
      .withColumn("priority",
        col("n_chars").cast(DoubleType) * lit(P.toDouble) /
          col("h").cast(DoubleType))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc, col("doc_id"))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("source"), col("rn"), col("doc_id"), col("n_chars"),
        col("priority"))
      .orderBy(col("source"), col("rn"))
  }

  val qSampleWeightedSql: String =
    """WITH h AS (
      |  SELECT source, doc_id, n_chars,
      |    ((doc_id % 2147483647) * 2654435761 + 29) % 2147483647 + 1 AS h
      |  FROM documents),
      |p AS (
      |  SELECT source, doc_id, n_chars,
      |    (n_chars * 2147483647.0) / h AS priority
      |  FROM h),
      |r AS (
      |  SELECT source, doc_id, n_chars, priority,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY priority DESC, doc_id) AS rn
      |  FROM p)
      |SELECT source, rn, doc_id, n_chars, priority
      |FROM r WHERE rn <= 3 ORDER BY source, rn""".stripMargin

  // ------------------------------------------------------- dataset profiler

  /** DATASET PROFILER — the pre-training data-quality pass that runs
    * before any pipeline decision: per column of `documents`, null
    * count, exact distinct count, and min/max (value for numeric
    * columns, LENGTH for string columns — length is collation-free, so
    * the numbers are engine-portable where raw string min/max would
    * hang on collation order). ONE corpus scan: a single aggregate
    * computes all 5 columns' metrics (the multi-distinct is Catalyst's
    * Expand — 5× rows into one shuffle, the standard exact-mode cost),
    * then a row-local stack() unpivots the 1-row result. At 100 TB the
    * exact COUNT(DISTINCT) is the knob to swap for the HLL sketch
    * (q_agg_approx_distinct is the graded form of that path); everything
    * else is map-side-combinable O(1) state. */
  def qProfileStats(s: SparkSession, d: String): DataFrame = {
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    val a = documents(s, d).agg(
      countDistinct(col("doc_id")).as("d_doc"),
      nulls("doc_id").as("n_doc"),
      min(col("doc_id")).as("lo_doc"), max(col("doc_id")).as("hi_doc"),
      countDistinct(col("text")).as("d_text"),
      nulls("text").as("n_text"),
      min(length(col("text"))).cast(LongType).as("lo_text"),
      max(length(col("text"))).cast(LongType).as("hi_text"),
      countDistinct(col("lang")).as("d_lang"),
      nulls("lang").as("n_lang"),
      min(length(col("lang"))).cast(LongType).as("lo_lang"),
      max(length(col("lang"))).cast(LongType).as("hi_lang"),
      countDistinct(col("source")).as("d_src"),
      nulls("source").as("n_src"),
      min(length(col("source"))).cast(LongType).as("lo_src"),
      max(length(col("source"))).cast(LongType).as("hi_src"),
      countDistinct(col("n_chars")).as("d_nc"),
      nulls("n_chars").as("n_nc"),
      min(col("n_chars")).as("lo_nc"), max(col("n_chars")).as("hi_nc"))
    a.selectExpr(
      """stack(5,
        |  'doc_id',  d_doc,  n_doc,  lo_doc,  hi_doc,
        |  'lang',    d_lang, n_lang, lo_lang, hi_lang,
        |  'n_chars', d_nc,   n_nc,   lo_nc,   hi_nc,
        |  'source',  d_src,  n_src,  lo_src,  hi_src,
        |  'text',    d_text, n_text, lo_text, hi_text)
        |AS (col_name, n_distinct, n_nulls, min_v, max_v)""".stripMargin)
      .orderBy(col("col_name"))
  }

  val qProfileStatsSql: String =
    """SELECT 'doc_id' AS col_name, COUNT(DISTINCT doc_id) AS n_distinct,
      |  COUNT(*) FILTER (doc_id IS NULL) AS n_nulls,
      |  MIN(doc_id) AS min_v, MAX(doc_id) AS max_v FROM documents
      |UNION ALL
      |SELECT 'lang', COUNT(DISTINCT lang),
      |  COUNT(*) FILTER (lang IS NULL),
      |  MIN(length(lang)), MAX(length(lang)) FROM documents
      |UNION ALL
      |SELECT 'n_chars', COUNT(DISTINCT n_chars),
      |  COUNT(*) FILTER (n_chars IS NULL),
      |  MIN(n_chars), MAX(n_chars) FROM documents
      |UNION ALL
      |SELECT 'source', COUNT(DISTINCT source),
      |  COUNT(*) FILTER (source IS NULL),
      |  MIN(length(source)), MAX(length(source)) FROM documents
      |UNION ALL
      |SELECT 'text', COUNT(DISTINCT text),
      |  COUNT(*) FILTER (text IS NULL),
      |  MIN(length(text)), MAX(length(text)) FROM documents
      |ORDER BY col_name""".stripMargin

  /** DISTRIBUTION DRIFT between time windows (the data-quality monitor a
    * production pipeline runs on every feature): first half of the month
    * vs second half, events.value bucketed into 10 fixed-width bins per
    * event_type, drift scored as TOTAL-VARIATION distance. PSI and
    * chi-square need logs / order-dependent float sums; TV distance
    * reduces to EXACT integer arithmetic over a common denominator —
    * tv_num = Σ|o_i·N2 − e_i·N1| (all BIGINT, order-free), and
    * tv = tv_num / (2·N1·N2) is the single IEEE division at the end, so
    * the doubles are bit-identical cross-engine (NULL when a window is
    * empty, through `try_divide`, as DuckDB's `/`). One shuffle (the
    * (type, window, bin) agg), then a 100-row reshape. At counts beyond
    * ~1e9 per cell the cross products need DECIMAL(38) or per-million
    * pre-normalization — noted, not needed at any graded sf. */
  def qProfileDrift(s: SparkSession, d: String): DataFrame =
    driftFinish(driftCells(s, d), wide38 = false)

  /** The DECIMAL(38) regime of q_profile_drift for >3e9-row windows —
    * identical topology, widened numerator arithmetic. Graded, and
    * WideDecimalSpec pins it bit-identical to the narrow form on the
    * fixture and exact vs BigInt past the BIGINT bound. */
  private[graft] def qProfileDriftWide(s: SparkSession, d: String): DataFrame =
    driftFinish(driftCells(s, d), wide38 = true)

  /** The graded surface of the wide drift regime: the internal products
    * run at DECIMAL(19,0)·DECIMAL(19,0), and the RESULT — which fits
    * BIGINT at every gradable scale by construction (the wide path
    * exists for windows past ~3e9 rows) — narrows back for the hash
    * gate. ANSI: an overflowing narrow cast would fault loudly, never
    * corrupt. */
  private[graft] def qProfileDriftWideGraded(s: SparkSession, d: String): DataFrame =
    qProfileDriftWide(s, d)
      .withColumn("tv_num", col("tv_num").cast(LongType))

  private[graft] def driftCells(s: SparkSession, d: String): DataFrame = {
    val binned = events(s, d).select(col("event_type"),
      when(dayofmonth(col("ts")) <= 15, 1L).otherwise(2L).as("win"),
      least(lit(9L), expr("CAST(floor(value / 25.0) AS BIGINT)")).as("bin"))
    val cells = binned.groupBy(col("event_type"), col("win"), col("bin"))
      .agg(count(lit(1)).as("c"))
    cells.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("win") === 1L, col("c")).otherwise(0L)).as("o"),
        sum(when(col("win") === 2L, col("c")).otherwise(0L)).as("e"))
  }

  /** TV-numerator finish over the (event_type, bin, o, e) cell table, in
    * either arithmetic regime. BIGINT (graded, `wide38=false`) is exact while
    * max(o)·n2 and max(e)·n1 stay under 2⁶³ — i.e. while n1·n2 < 9.2e18,
    * comfortably ~3e9 rows PER WINDOW per event_type — beyond that ANSI long
    * multiplication faults rather than corrupts. The DECIMAL(38) regime
    * (`wide38=true`) casts each count to DECIMAL(19,0) so products carry ≤38
    * digits exactly: exact while every count < 1e19 and the numerator sum <
    * 1e38 — beyond any corpus (100 TB of 100-byte events is 1e12 rows). Same
    * plan shape, one extra decimal widening in the projection;
    * WideDecimalSpec pins cross-regime equality on the fixture and exactness
    * vs BigInt at magnitudes where the BIGINT regime overflows. */
  private[graft] def driftFinish(wide: DataFrame, wide38: Boolean): DataFrame = {
    val totals = wide.groupBy(col("event_type"))
      .agg(sum(col("o")).as("n1"), sum(col("e")).as("n2"))
    def w(c: org.apache.spark.sql.Column) =
      if (wide38) c.cast(DecimalType(19, 0)) else c
    wide.join(totals, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(abs(w(col("o")) * w(col("n2")) - w(col("e")) * w(col("n1"))))
          .as("tv_num"))
      .withColumn("tv", try_divide(col("tv_num").cast(DoubleType),
        lit(2.0) * col("n1").cast(DoubleType) * col("n2").cast(DoubleType)))
      .orderBy(col("event_type"))
  }

  /** The drift oracles' CTEs: per (event_type, bin) window counts o and
    * e, and per-type window totals n1 and n2. */
  private def driftCtesSql: String =
    """WITH binned AS (
      |  SELECT event_type,
      |    CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) <= 15
      |         THEN 1 ELSE 2 END AS win,
      |    LEAST(9, CAST(FLOOR(value / 25.0) AS BIGINT)) AS bin
      |  FROM events),
      |cells AS (SELECT event_type, win, bin, COUNT(*) AS c
      |          FROM binned GROUP BY 1, 2, 3),
      |wide AS (
      |  SELECT event_type, bin,
      |    CAST(SUM(CASE WHEN win = 1 THEN c ELSE 0 END) AS BIGINT) AS o,
      |    CAST(SUM(CASE WHEN win = 2 THEN c ELSE 0 END) AS BIGINT) AS e
      |  FROM cells GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS n1,
      |          CAST(SUM(e) AS BIGINT) AS n2
      |        FROM wide GROUP BY 1)""".stripMargin

  val qProfileDriftSql: String =
    s"""$driftCtesSql
      |SELECT w.event_type, t.n1, t.n2,
      |  CAST(SUM(ABS(w.o * t.n2 - w.e * t.n1)) AS BIGINT) AS tv_num,
      |  CAST(SUM(ABS(w.o * t.n2 - w.e * t.n1)) AS BIGINT)
      |    / (2.0 * t.n1 * t.n2) AS tv
      |FROM wide w JOIN tot t ON w.event_type = t.event_type
      |GROUP BY w.event_type, t.n1, t.n2
      |ORDER BY w.event_type""".stripMargin

  /** The wide regime's oracle: the SAME TV-distance computation with the
    * cross products widened to DECIMAL(19,0)·DECIMAL(19,0) (≤38-digit
    * exact), numerator narrowed back to BIGINT for the graded surface —
    * mirror of [[qProfileDriftWideGraded]]. */
  val qProfileDriftWideSql: String =
    s"""$driftCtesSql
      |SELECT w.event_type, t.n1, t.n2,
      |  CAST(SUM(ABS(CAST(w.o AS DECIMAL(19,0)) * CAST(t.n2 AS DECIMAL(19,0))
      |              - CAST(w.e AS DECIMAL(19,0)) * CAST(t.n1 AS DECIMAL(19,0))))
      |    AS BIGINT) AS tv_num,
      |  CAST(CAST(SUM(ABS(CAST(w.o AS DECIMAL(19,0)) * CAST(t.n2 AS DECIMAL(19,0))
      |                  - CAST(w.e AS DECIMAL(19,0)) * CAST(t.n1 AS DECIMAL(19,0))))
      |    AS BIGINT) AS DOUBLE)
      |    / (2.0 * t.n1 * t.n2) AS tv
      |FROM wide w JOIN tot t ON w.event_type = t.event_type
      |GROUP BY w.event_type, t.n1, t.n2
      |ORDER BY w.event_type""".stripMargin

  /** EXACT distinct at scale via CONTAINER BITMAPS (the roaring
    * architecture, [[graft.functions.BitmapDistinctAgg]]) — the exact
    * complement to the HLL/KMV sketch family: ids are sharded by their
    * high bits in the GROUP BY (`id div 65536`), `graft_bitmap_distinct`
    * owns one 8 KiB container per shard (bit = low 16 id bits, partials
    * OR-merge — order-free, map-side combinable), and the per-shard
    * popcounts SUM to the exact distinct because sharding makes
    * containers disjoint. The fixture's narrow user_id domain is widened
    * by an injective ×101 map so MULTIPLE containers genuinely carry the
    * count (3 at any sf, more as ids grow — the geometry under test).
    * Graded per event_type AND globally against COUNT(DISTINCT), which
    * the oracle computes directly — the equality proves the
    * shard → bitmap → popcount → sum path is exact, not approximate. */
  def qAggDistinctBitmap(s: SparkSession, d: String): DataFrame = {
    val mapped = events(s, d)
      .select(col("event_type"), expr("user_id * 101").as("mid"))
    val perType = mapped
      .groupBy(col("event_type"), expr("mid div 65536").as("cont"))
      .agg(expr("graft_bitmap_distinct(mid)").as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_distinct"), count(lit(1)).as("n_containers"))
    val directType = events(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_direct"))
    val typed = perType.join(directType, Seq("event_type"))
      .select(col("event_type").as("scope"), col("n_containers"),
        col("n_distinct"), col("n_direct"))
    val globalBm = mapped
      .groupBy(expr("mid div 65536").as("cont"))
      .agg(expr("graft_bitmap_distinct(mid)").as("c"))
      // coalesce: an empty table has no containers to sum, and
      // COUNT(DISTINCT) over it is 0, not NULL
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_distinct"),
        count(lit(1)).as("n_containers"))
    val globalDirect = events(s, d)
      .agg(countDistinct(col("user_id")).as("n_direct"))
    val global = globalBm.crossJoin(globalDirect)
      .select(lit("__all__").as("scope"), col("n_containers"),
        col("n_distinct"), col("n_direct"))
    typed.unionByName(global).orderBy(col("scope"))
  }

  val qAggDistinctBitmapSql: String =
    """WITH m AS (SELECT event_type, user_id * 101 AS mid, user_id
      |           FROM events),
      |pt AS (SELECT event_type,
      |         COUNT(DISTINCT mid // 65536) AS n_containers,
      |         COUNT(DISTINCT user_id) AS n_distinct,
      |         COUNT(DISTINCT user_id) AS n_direct
      |       FROM m GROUP BY event_type),
      |g AS (SELECT '__all__' AS scope,
      |        COUNT(DISTINCT mid // 65536) AS n_containers,
      |        COUNT(DISTINCT user_id) AS n_distinct,
      |        COUNT(DISTINCT user_id) AS n_direct
      |      FROM m)
      |SELECT event_type AS scope, n_containers, n_distinct, n_direct FROM pt
      |UNION ALL
      |SELECT scope, n_containers, n_distinct, n_direct FROM g
      |ORDER BY scope""".stripMargin

  /** TEMPERATURE-REBALANCED domain mixing (the multilingual-LM sampling
    * move, p_i ∝ c_i^(1/T)): unlike q_sample_mixture's FIXED per-lang
    * weights, the weights here DERIVE from the per-source token counts —
    * T = 2, so w_i = isqrt(tokens_i), which up-weights rare domains
    * relative to proportional sampling. Everything stays integer-exact:
    * isqrt = floor of the correctly-rounded IEEE sqrt (bit-identical in
    * both engines on exact integer inputs), a 20%-of-corpus token budget
    * is split across sources by LARGEST-REMAINDER apportionment
    * (base = budget·w div W, remainders ranked, ties by source name —
    * the allocation sums to the budget exactly), and each source fills
    * its quota by LCG-hash order with an inclusive running-token-sum
    * cutoff. Scale: per-source stats are one agg; the 20-row allocation
    * is broadcast; selection is one window per source partition (for a
    * corpus too big to rank, swap the exact window for mixture's
    * threshold form — documented trade, exactness vs one pass). */
  def qSampleTemperature(s: SparkSession, d: String): DataFrame = {
    val P = 2147483647L
    val docs = documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    val perSrc = docs.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tok_total"))
      .withColumn("w",
        expr("CAST(floor(sqrt(CAST(tok_total AS DOUBLE))) AS BIGINT)"))
    val totals = perSrc.agg(sum(col("w")).as("wsum"),
      expr("sum(tok_total) div 5").as("budget"))
    val withBase = perSrc.crossJoin(broadcast(totals))
      .withColumn("base", expr("(budget * w) div wsum"))
      .withColumn("rem", expr("(budget * w) % wsum"))
    val baseSum = withBase.agg(sum(col("base")).as("base_sum"))
    // 20-row global window: the allocation table, not the corpus
    val byRemainder = Window.orderBy(col("rem").desc, col("source"))
    val alloc = withBase.crossJoin(broadcast(baseSum))
      .withColumn("rk", row_number().over(byRemainder))
      .withColumn("target_tok",
        expr("base + CASE WHEN rk <= budget - base_sum THEN 1 ELSE 0 END"))
      .select(col("source"), col("tok_total"), col("w"), col("target_tok"))
    val bySrcHash = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val kept = docs
      .withColumn("h", expr(s"((doc_id % $P) * 2654435761 + 29) % $P"))
      .withColumn("cum", sum(col("n_tok"))
        .over(bySrcHash.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(alloc.select(col("source"), col("target_tok"))), Seq("source"))
      .filter(col("cum") <= col("target_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tokens_kept"),
        sum(col("doc_id")).as("doc_id_sum"))
    alloc.join(kept, Seq("source"), "left")
      .select(col("source"), col("tok_total"), col("w"), col("target_tok"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        coalesce(col("doc_id_sum"), lit(0L)).as("doc_id_sum"))
      .orderBy(col("source"))
  }

  val qSampleTemperatureSql: String =
    """WITH docs AS (SELECT doc_id, source,
      |                len(string_split(text, ' ')) AS n_tok FROM documents),
      |ps AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tok_total
      |       FROM docs GROUP BY source),
      |pw AS (SELECT source, tok_total,
      |         CAST(FLOOR(SQRT(CAST(tok_total AS DOUBLE))) AS BIGINT) AS w
      |       FROM ps),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum,
      |          CAST(SUM(tok_total) AS BIGINT) // 5 AS budget FROM pw),
      |wb AS (SELECT p.source, p.tok_total, p.w, t.wsum, t.budget,
      |         (t.budget * p.w) // t.wsum AS base,
      |         (t.budget * p.w) % t.wsum AS rem
      |       FROM pw p CROSS JOIN tot t),
      |bs AS (SELECT CAST(SUM(base) AS BIGINT) AS base_sum FROM wb),
      |alloc AS (SELECT wb.source, wb.tok_total, wb.w,
      |            wb.base + CASE WHEN ROW_NUMBER() OVER
      |                (ORDER BY wb.rem DESC, wb.source)
      |              <= wb.budget - bs.base_sum THEN 1 ELSE 0 END AS target_tok
      |          FROM wb CROSS JOIN bs),
      |h AS (SELECT doc_id, source, n_tok,
      |        ((doc_id % 2147483647) * 2654435761 + 29) % 2147483647 AS h
      |      FROM docs),
      |c AS (SELECT doc_id, source, n_tok,
      |        SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM h),
      |k AS (SELECT c.source, COUNT(*) AS n_kept,
      |        CAST(SUM(c.n_tok) AS BIGINT) AS tokens_kept,
      |        CAST(SUM(c.doc_id) AS BIGINT) AS doc_id_sum
      |      FROM c JOIN alloc a ON c.source = a.source
      |      WHERE c.cum <= a.target_tok GROUP BY c.source)
      |SELECT a.source, a.tok_total, a.w, a.target_tok,
      |  COALESCE(k.n_kept, 0) AS n_kept,
      |  COALESCE(k.tokens_kept, 0) AS tokens_kept,
      |  COALESCE(k.doc_id_sum, 0) AS doc_id_sum
      |FROM alloc a LEFT JOIN k ON a.source = k.source
      |ORDER BY a.source""".stripMargin

  // ------------------------------------------------------------- registry

  val queries = graft.functions.Surface.queries(Map(
    "q_sample_temperature" -> (qSampleTemperature _),
    "q_profile_drift" -> (qProfileDrift _),
    "q_profile_drift_wide" -> (qProfileDriftWideGraded _),
    "q_agg_distinct_bitmap" -> (qAggDistinctBitmap _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_profile_stats" -> (qProfileStats _),
    "q_agg_count_min" -> (qAggCountMin _),
    "q_sample_domain_cap" -> (qSampleDomainCap _),
    "q_sample_split" -> (qSampleSplit _),
    "q_join_salted" -> (qJoinSalted _),
    "q_agg_salted" -> (qAggSalted _),
    "q_agg_heavy_hitters" -> (qAggHeavyHitters _),
    "q_agg_distinct_sketch" -> (qAggDistinctSketch _),
    "q_agg_hll" -> (qAggHll _),
    "q_layout_zorder" -> (qLayoutZorder _),
    "q_sim_ann_filtered" -> (qSimAnnFiltered _),
    "q_agg_hll_reagg" -> (qAggHllReagg _),
    "q_agg_quantile_sketch" -> (qAggQuantileSketch _),
    "q_profile_checks" -> (qProfileChecks _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_sample_mixture" -> (qSampleMixture _),
    "q_sim_ann_ivf" -> (qSimAnnIvf _),
    "q_sim_ann_ivf_trained" -> (qSimAnnIvfTrained _),
  ))

  val oracle: Map[String, String] = Map(
    "q_sample_temperature" -> qSampleTemperatureSql,
    "q_profile_drift" -> qProfileDriftSql,
    "q_profile_drift_wide" -> qProfileDriftWideSql,
    "q_agg_distinct_bitmap" -> qAggDistinctBitmapSql,
    "q_sample_weighted" -> qSampleWeightedSql,
    "q_profile_stats" -> qProfileStatsSql,
    "q_agg_count_min" -> qAggCountMinSql,
    "q_sample_domain_cap" -> qSampleDomainCapSql,
    "q_sample_split" -> qSampleSplitSql,
    "q_join_salted" -> qJoinSaltedSql,
    "q_agg_salted" -> qAggSaltedSql,
    "q_agg_heavy_hitters" -> qAggHeavyHittersSql,
    "q_agg_distinct_sketch" -> qAggDistinctSketchSql,
    "q_agg_hll" -> qAggHllSql,
    "q_layout_zorder" -> qLayoutZorderSql,
    "q_sim_ann_filtered" -> qSimAnnFilteredSql,
    "q_agg_hll_reagg" -> qAggHllReaggSql,
    "q_agg_quantile_sketch" -> qAggQuantileSketchSql,
    "q_profile_checks" -> qProfileChecksSql,
    "q_sample_stratified" -> qSampleStratifiedSql,
    "q_sample_mixture" -> qSampleMixtureSql,
    "q_sim_ann_ivf" -> qSimAnnIvfSql,
    "q_sim_ann_ivf_trained" -> qSimAnnIvfTrainedSql,
  )
}
