package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The reference's own surface: TeraSort as a Spark-native pipeline
  * (SURVEY.md §2.3 R1–R8).
  *
  *  - teragen  → deterministic record synthesis from `spark.range` with an
  *    explicitly-written arithmetic hash (two LCGs mod a Mersenne prime) so
  *    DuckDB reproduces every key bit-for-bit — no engine `hash()`/`rand()`.
  *  - terasort → `orderBy(key)`: Catalyst plans Exchange(RangePartitioning)
  *    (reservoir-sampled cut points — the reference's
  *    TeraInputFormat.writePartitionFile idea, built into Spark) followed by
  *    per-partition SortExec (Tungsten prefix sort: an 8-byte key prefix,
  *    then a full comparison on prefix ties — the reference's
  *    normalized-key OptimizedText idea, built into Spark). Spark
  *    radix-sorts only when the prefix decides the order, which it does
  *    not for a BinaryType key.
  *  - teravalidate → global monotonicity-violation count + order-independent
  *    modular key checksum.
  *
  * The sort key is carried as BinaryType (unsigned byte-wise lexicographic —
  * identical semantics to the 10-byte TeraSort key) derived from a
  * zero-padded ASCII-digit string, so binary order == numeric order and the
  * oracle can compare plain strings.
  *
  * Scale notes: key synthesis applies the LCGs to `i mod P` with a
  * block-offset mix of `i div P`, so the arithmetic stays inside Long
  * (ANSI-overflow-free) for any i < P² ≈ 4.6·10¹⁸ rows — far past the
  * 2³¹ row count where the naive `a*i + b` form would overflow
  * (SortScaleSpec pins the arithmetic at a >2³¹ offset). The sort
  * itself is the scalable form: sampling + range exchange + external
  * per-partition sort, no single-node merge anywhere.
  */
object SortOps extends QueryModule {
  import Tables._

  /** Mersenne prime 2^31 - 1: modulus for the portable key LCGs. */
  private val P = 2147483647L

  /** Synthetic record count tracks the lineitem row count of the active
    * scale factor, so the sort load scales with sf. spark.range needs a
    * literal, so one count job per (session, sfDir) is unavoidable — but
    * only one: the result is memoized so building the four sort/source
    * queries costs a single metadata-only parquet count, not four. */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private def recordCount(s: SparkSession, d: String): Long =
    // keyed by applicationId like SharedStage (identity hashes of dead
    // and live sessions can collide); the mapping function
    // runs a count but never re-enters this map, so no recursion hazard
    countCache.computeIfAbsent((s.sparkContext.applicationId, d),
      _ => lineitem(s, d).count())

  /** teragen: rows (key_str: 19 ASCII digits, payload: 32 ASCII digits, key:
    * binary). Key = k1*P + k2 with two independent LCGs over (i mod P),
    * block-mixed with (i div P) so the derivation stays within Long for
    * any i < P² ≈ 4.6·10¹⁸ rows (the block term is 0 at local scales —
    * bit-identical to the plain LCG — but keeps ANSI-mode arithmetic
    * overflow-free at cluster row counts). Injective in i per block, so
    * keys are unique and the sorted order is total. */
  private def genRecords(s: SparkSession, d: String): DataFrame =
    genRecordsFrom(s.range(recordCount(s, d)).toDF())

  /** The synthesis arithmetic over an arbitrary `id` column — separated
    * so SortScaleSpec can drive it at >2³¹-row offsets (spark.range with
    * a start) without materializing 2³¹ rows. */
  private[graft] def genRecordsFrom(ids: DataFrame): DataFrame =
    ids
      .select(
        expr(s"(1103515245 * (id % $P) + 12345 + 1013904223 * (id div $P)) % $P").as("k1"),
        expr(s"(214013 * (id % $P) + 2531011 + 1664525 * (id div $P)) % $P").as("k2"),
        col("id"))
      .select(
        lpad(expr(s"k1 * $P + k2").cast(StringType), 19, "0").as("key_str"),
        lpad(col("id").cast(StringType), 32, "0").as("payload"))

  private val genRecordsSql: String =
    """SELECT lpad(CAST(k1 * 2147483647 + k2 AS VARCHAR), 19, '0') AS key_str,
      |       lpad(CAST(i AS VARCHAR), 32, '0') AS payload
      |FROM (SELECT (1103515245 * (i % 2147483647) + 12345 + 1013904223 * (i // 2147483647)) % 2147483647 AS k1,
      |             (214013 * (i % 2147483647) + 2531011 + 1664525 * (i // 2147483647)) % 2147483647 AS k2, i
      |      FROM (SELECT ROW_NUMBER() OVER () - 1 AS i
      |            FROM lineitem) g)""".stripMargin

  /** Global TeraSort: total order via range exchange + per-partition binary
    * sort. The sort runs on the BinaryType key (TeraSort semantics); the
    * projected output is the ASCII form of the same bytes. */
  def qSortGlobal(s: SparkSession, d: String): DataFrame =
    genRecords(s, d)
      .withColumn("key", col("key_str").cast(BinaryType))
      .orderBy(col("key"))
      .select(col("key_str").as("key"), col("payload"))

  val qSortGlobalSql: String =
    s"""SELECT key_str AS key, payload FROM ($genRecordsSql) r
       |ORDER BY key""".stripMargin

  /** TeraValidate: (a) zero adjacent inversions over the fully sorted
    * output, (b) order-independent modular checksum of all keys, (c) row
    * count — the permutation + sortedness property pair.
    *
    * Scale form (the reference's own TeraValidate shape): range-partition +
    * per-partition sort, then ONE imperative pass per partition emitting a
    * summary row (count, intra-partition inversions, checksum, first/last
    * key) — O(1) state per task, no global window anywhere — followed by a
    * boundary check across the ~32 summary rows (last key of partition i
    * vs first key of partition i+1). The tiny summary lag window runs over
    * aggregated data, not the record stream. key_str is fixed-width ASCII
    * digits, so string order == binary key order. */
  def qSortValidate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sorted = genRecords(s, d)
      .withColumn("key", col("key_str").cast(BinaryType))
      .repartitionByRange(32, col("key"))
      .sortWithinPartitions(col("key"))
      .select(col("key_str"))
    val summaries = sorted.as[String].rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var first: String = null
        var prev: String = null
        var n = 0L; var viol = 0L; var sum = 0L
        while (it.hasNext) {
          val k = it.next()
          if (first == null) first = k
          else if (prev > k) viol += 1
          sum += k.toLong % 1000003L
          prev = k; n += 1
        }
        Iterator((pid, first, prev, n, viol, sum))
      }
    }.toDF("pid", "first_key", "last_key", "n_part", "viol_part", "sum_part")
    val w = Window.orderBy(col("pid")) // ≤32 aggregated rows — not a scale risk
    summaries
      .withColumn("prev_last", lag(col("last_key"), 1).over(w))
      .agg(
        coalesce(sum(col("n_part")), lit(0L)).as("n_rows"),
        (sum(col("viol_part")) +
          sum(when(col("prev_last") > col("first_key"), 1L).otherwise(0L)))
          .as("violations"),
        sum(col("sum_part")).as("checksum"))
  }

  val qSortValidateSql: String =
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN prev_key > key_str THEN 1 ELSE 0 END) AS BIGINT) AS violations,
       |  CAST(SUM(CAST(key_str AS BIGINT) % 1000003) AS BIGINT) AS checksum
       |FROM (SELECT key_str, payload,
       |        LAG(key_str, 1) OVER (ORDER BY key_str) AS prev_key
       |      FROM ($genRecordsSql) r) t""".stripMargin

  /** Range-partition check, ORACLE-GRADED: repartitionByRange(8) on the
    * binary key, per-partition (count, min, max) summaries, then a lag
    * join over the ≤8 summary rows counting adjacent-range overlaps
    * (prev partition's max > next partition's min). The graded output is
    * engine-independent by construction — total rows, overlap count
    * (0 iff the range exchange produced disjoint ordered ranges), and
    * the global key range — so the raw (engine-specific) partition ids
    * never reach the compare (a per-pid output could only be
    * rows-checked). The non-empty-partition count is
    * deliberately NOT graded: Spark's sampled cut points can in rare
    * cases leave an edge partition empty, which would make the gate
    * flaky without indicating a correctness bug. */
  def qSortRangePartition(s: SparkSession, d: String): DataFrame = {
    val parts = genRecords(s, d)
      .withColumn("key", col("key_str").cast(BinaryType))
      .repartitionByRange(8, col("key"))
      .groupBy(spark_partition_id().as("pid"))
      .agg(
        count(lit(1)).as("n_part"),
        min(col("key_str")).as("pmin"),
        max(col("key_str")).as("pmax"))
    val w = Window.orderBy(col("pid")) // ≤8 aggregated rows — not a scale risk
    parts
      .withColumn("prev_max", lag(col("pmax"), 1).over(w))
      .agg(
        coalesce(sum(col("n_part")), lit(0L)).as("n_rows"),
        coalesce(sum(when(col("prev_max") > col("pmin"), 1L).otherwise(0L)), lit(0L))
          .as("boundary_overlaps"),
        min(col("pmin")).as("min_key"),
        max(col("pmax")).as("max_key"))
  }

  val qSortRangePartitionSql: String =
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(0 AS BIGINT) AS boundary_overlaps,
       |  MIN(key_str) AS min_key,
       |  MAX(key_str) AS max_key
       |FROM ($genRecordsSql) r""".stripMargin

  // -------------------------------------------- binary file I/O, graded

  /** The reference's whole FILE pipeline under the oracle: teragen →
    * raw fixed-width binary sink (`BinaryRecords.write`, whose tasks write
    * their own parts) → the `terarecord` scan that `BinaryRecords.read`
    * reads through and whose splits and split reader the TeraSort shares
    * (record-aligned splits, pruned here to the key, session Hadoop conf)
    * → count + order-independent modular checksum + key
    * range. The oracle reproduces the generator arithmetic in SQL, so a
    * single flipped byte anywhere in the write→read path breaks the
    * checksum. Record count tracks lineitem, scaling with sf. */
  def qSourceTerarecord(s: SparkSession, d: String): DataFrame = {
    val n = recordCount(s, d)
    // per-application namespace + shutdown-hook cleanup (RelOps.stagingDir)
    val dir = RelOps.stagingDir(s, "terarecord_src")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    graft.sources.BinaryRecords.write(
      graft.sources.BinaryRecords.teragen(s, n), dir)
    s.read.format("terarecord").load(dir)
      .select(col("key").cast(StringType).as("key_str"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(expr("CAST(key_str AS BIGINT) % 1000003")).as("checksum"),
        min(col("key_str")).as("min_key"),
        max(col("key_str")).as("max_key"))
  }

  val qSourceTerarecordSql: String =
    """WITH g AS (
      |  SELECT (1103515245 * i + 12345) % 2147483647 AS k
      |  FROM (SELECT ROW_NUMBER() OVER () - 1 AS i FROM lineitem) t)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(k % 1000003) AS BIGINT) AS checksum,
      |  lpad(CAST(MIN(k) AS VARCHAR), 10, '0') AS min_key,
      |  lpad(CAST(MAX(k) AS VARCHAR), 10, '0') AS max_key
      |FROM g""".stripMargin

  // ------------------------------------------------------------- registry

  val queries = graft.functions.Surface.queries(Map(
    "q_source_terarecord" -> (qSourceTerarecord _),
    "q_sort_global" -> (qSortGlobal _),
    "q_sort_validate" -> (qSortValidate _),
    "q_sort_range_partition" -> (qSortRangePartition _),
  ))

  val oracle: Map[String, String] = Map(
    "q_source_terarecord" -> qSourceTerarecordSql,
    "q_sort_global" -> qSortGlobalSql,
    "q_sort_validate" -> qSortValidateSql,
    "q_sort_range_partition" -> qSortRangePartitionSql,
  )
}
