package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Typed readers for the driver-generated parquet tables
  * (schemas: /root/repo/FIXTURES.md §A). Every graded query reads through
  * these so column pruning + predicate pushdown reach the parquet scan.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The driver has shipped events.ts under two parquet encodings:
    * TIMESTAMP(NANOS) (which Spark 4 refuses to read as a timestamp — read
    * as long via legacy nanosAsLong, ÷1000 → micros, same truncation DuckDB
    * applies casting TIMESTAMP_NS to TIMESTAMP) and TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (TIMESTAMP_NTZ in Spark). Normalize either to a
    * microsecond TimestampType so every downstream query sees one type;
    * under the UTC session timezone all entrypoints set, the NTZ→TS cast is
    * identity on the underlying micros, exactly matching DuckDB's naive
    * reading of the same file. */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // floor division, not `div`: DuckDB's TIMESTAMP_NS→TIMESTAMP cast
        // floors, while `div` truncates toward zero — pre-epoch (negative)
        // nanos would disagree by 1µs between engines otherwise.
        // n - pmod(n, 1000) is the largest multiple of 1000 ≤ n, so the
        // div is exact and the result is floor(n/1000) for all signs.
        df.withColumn(colName,
          timestamp_micros(expr(s"($colName - pmod($colName, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(colName,
          col(colName).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact, engine-portable sum of a double column: round each value to a
    * fixed decimal scale, sum exactly, emit as double. Decimal addition is
    * associative, so the result is independent of Spark's partial-agg order
    * and identical to DuckDB's. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)
}
