package graft.sources

import org.apache.hadoop.io.{BytesWritable, NullWritable}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.{RecordWriter, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixed-width 100-byte TeraSort record I/O — the Spark-native equivalent
  * of the reference's vendored Hadoop TeraInputFormat / TeraOutputFormat
  * (SURVEY.md §2.3 R1/R6; gensort record spec: 10-byte key ‖ 90-byte
  * payload, unsigned byte-lexicographic key order).
  *
  * Read: `sparkContext.binaryRecords` (Hadoop FixedLengthInputFormat
  * underneath — splits on exact record boundaries, no record parsing on
  * the driver) lifted to a DataFrame of (key BinaryType, payload
  * BinaryType).
  *
  * Write: raw record bytes through a minimal FileOutputFormat — one part
  * file per partition, named in partition order, so writing a
  * range-partitioned, partition-sorted DataFrame yields files whose
  * name-order concatenation is globally sorted — exactly TeraOutputFormat's
  * contract.
  */
object BinaryRecords {
  val RecordLen = 100
  val KeyLen = 10

  /** teragen: n deterministic 100-byte records (10-byte ASCII-digit key
    * from an explicit LCG — unsigned-lexicographic == numeric order — and
    * a 90-byte payload). Pure DataFrame generation, no RNG. */
  def teragen(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      expr("cast(lpad(cast((1103515245 * id + 12345) % 2147483647 as string), 10, '0') as binary)").as("key"),
      expr("cast(rpad(cast(id as string), 90, '.') as binary)").as("payload"))

  /** Scan a directory/file of fixed 100-byte records. */
  def read(spark: SparkSession, path: String): DataFrame =
    records(spark, path).select(
      expr(s"substring(rec, 1, $KeyLen)").as("key"),
      expr(s"substring(rec, ${KeyLen + 1}, ${RecordLen - KeyLen})").as("payload"))

  /** The records of a directory/file as one binary `rec` column. */
  private def records(spark: SparkSession, path: String): DataFrame = {
    val rdd = spark.sparkContext.binaryRecords(path, RecordLen).map(Row(_))
    spark.createDataFrame(rdd, StructType(Seq(StructField("rec", BinaryType, nullable = false))))
  }

  /** Sink a DataFrame with binary `key` and `payload` columns as raw
    * fixed-width records. Partition order (and order within partitions) is
    * preserved — callers wanting a globally sorted file set should pass a
    * `repartitionByRange(...).sortWithinPartitions(...)` DataFrame. */
  def write(df: DataFrame, path: String): Unit =
    sink(df.select(concat(col("key"), col("payload")).as("rec")), path)

  /** Write a one-column binary frame's values verbatim, one part file per
    * partition. The plan runs once: `toRdd` executes it (under adaptive
    * execution that includes any range sampling and shuffle-map stages)
    * and the sink consumes its `InternalRow`s directly. `getBinary` copies,
    * so reused rows are safe. */
  private def sink(recs: DataFrame, path: String): Unit =
    recs.queryExecution.toRdd
      .map(r => (NullWritable.get(), new BytesWritable(r.getBinary(0))))
      .saveAsNewAPIHadoopFile(path, classOf[NullWritable], classOf[BytesWritable],
        classOf[RawRecordOutputFormat])

  /** End-to-end TeraSort over binary record files: read, range-partition
    * and sort each partition, write — the plan executes once (one sampling
    * scan, one shuffle-map stage, one reduce stage with the sink). Each
    * record stays one 100-byte binary value from scan to sink and is
    * ordered as a whole: byte order of the record is key order first
    * (TeraSort/valsort semantics), with the payload breaking ties, so the
    * order is total and deterministic, and records sharing a key spread
    * over reducers by payload. Spark sorts binary values by an 8-byte prefix plus a full
    * comparison on prefix ties, not by radix sort (the prefix does not
    * decide a binary order). */
  def terasort(spark: SparkSession, in: String, out: String, partitions: Int): Unit =
    sink(records(spark, in)
      .repartitionByRange(partitions, col("rec"))
      .sortWithinPartitions(col("rec")), out)
}

/** Raw byte sink: writes each record's bytes verbatim, no markers/headers —
  * byte-compatible with gensort/teravalidate tooling. */
class RawRecordOutputFormat extends FileOutputFormat[NullWritable, BytesWritable] {
  override def getRecordWriter(ctx: TaskAttemptContext): RecordWriter[NullWritable, BytesWritable] = {
    val file = getDefaultWorkFile(ctx, "")
    val out = file.getFileSystem(ctx.getConfiguration).create(file, false)
    new RecordWriter[NullWritable, BytesWritable] {
      override def write(k: NullWritable, v: BytesWritable): Unit =
        out.write(v.getBytes, 0, v.getLength)
      override def close(ctx: TaskAttemptContext): Unit = out.close()
    }
  }
}
