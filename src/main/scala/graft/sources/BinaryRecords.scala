package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.{BytesWritable, NullWritable}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.{RecordWriter, TaskAttemptContext}
import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, RowOrdering, SortOrder, UnsafeRow}
import org.apache.spark.sql.execution.UnsafeExternalRowSorter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.ByteArray
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

import java.nio.ByteOrder

import scala.collection.mutable.ArrayBuffer

import graft.functions.RangePartitionId

/** Fixed-width 100-byte TeraSort record I/O and the TeraSort itself — the
  * Spark-native equivalent of the reference's vendored Hadoop
  * TeraInputFormat / TeraOutputFormat and its total-order partitioner
  * (SURVEY.md §2.3 R1–R6; gensort record spec: 10-byte key ‖ 90-byte
  * payload, unsigned byte-lexicographic key order).
  *
  * Read: the DSv2 `terarecord` source (TeraRecordSource) — record-aligned
  * splits, no record parsing on the driver, column pruning — gives
  * (key BinaryType, payload BinaryType) to `read` and whole 100-byte
  * `rec` values to the sort.
  *
  * Sort: like TeraInputFormat.writePartitionFile, the driver reads a small
  * fixed sample of the input files before the job and takes the cut
  * points from it; each record is then routed to its range by partition
  * id, so the job reads its input once and runs no sampling scan. The
  * sample decides how evenly the ranges fill and whether each partition
  * is radix-sorted on its 8-byte record prefix (`RecordSorter`), never
  * whether the output is sorted.
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

  /** Scan fixed 100-byte records: `path` is a comma-separated list of
    * directories and files, read in list order (TeraRecordSource.splits). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("terarecord").load(path).select("key", "payload")

  /** Sink a DataFrame with binary `key` and `payload` columns as raw
    * fixed-width records. Partition order (and order within partitions) is
    * preserved — callers wanting a globally sorted file set should pass a
    * `repartitionByRange(...).sortWithinPartitions(...)` DataFrame. */
  def write(df: DataFrame, path: String): Unit =
    sink(df.select(concat(col("key"), col("payload"))).queryExecution.toRdd.map(_.getBinary(0)), path)

  /** Write each record verbatim, one part file per partition. A caller
    * passing a plan's `toRdd` runs the plan once (under adaptive execution
    * that includes its shuffle-map stages) and hands over `getBinary`
    * copies, so reused rows are safe. */
  private def sink(recs: RDD[Array[Byte]], path: String): Unit =
    recs.map(r => (NullWritable.get(), new BytesWritable(r)))
      .saveAsNewAPIHadoopFile(path, classOf[NullWritable], classOf[BytesWritable],
        classOf[RawRecordOutputFormat])

  /** Records the driver reads to choose the cut points, and the most
    * splits it reads them from (Hadoop TeraSort reads 100,000 keys from at
    * most 10 splits). They are read in runs of `SampleRun` contiguous
    * records, so the sample costs a tenth of the seeks. */
  private val SampleSize = 10000
  private val SampleSplits = 10
  private val SampleRun = 10

  /** What the driver sample tells the sort about its input: how many
    * records it holds, the `partitions` − 1 cut records (ascending in
    * unsigned byte order; none when there are no records), and whether two
    * sampled records share their first 8 bytes. */
  private[sources] final case class CutPoints(records: Long, cuts: Array[Array[Byte]],
      prefixTies: Boolean)

  /** The cut points for the input at `in`: the quantiles of a driver-side
    * sample of `SampleSize` records from at most `SampleSplits` evenly
    * chosen record-aligned splits. An input of at most `SampleSize`
    * records is read whole. Sorted in whole-record order, records sharing
    * an 8-byte prefix are adjacent, so one pass over neighbours finds the
    * prefix ties. */
  private[sources] def cutPoints(spark: SparkSession, in: String, partitions: Int): CutPoints = {
    val conf = spark.sessionState.newHadoopConf()
    val all = TeraRecordSource.splits(in, conf)
    val bytes = all.map(_.length).sum
    val k = if (bytes <= SampleSize.toLong * RecordLen) all.length else math.min(SampleSplits, all.length)
    val sample = sampleRecords(Array.tabulate(k)(i => all((i.toLong * all.length / k).toInt)), conf)
    java.util.Arrays.sort(sample, (a: Array[Byte], b: Array[Byte]) => ByteArray.compareBinary(a, b))
    val cuts =
      if (sample.isEmpty) Array.empty[Array[Byte]]
      else Array.tabulate(partitions - 1)(i => sample(((i + 1).toLong * sample.length / partitions).toInt))
    CutPoints(bytes / RecordLen, cuts,
      (1 until sample.length).exists(i => ByteArray.getPrefix(sample(i - 1)) == ByteArray.getPrefix(sample(i))))
  }

  /** `SampleSize` records of `splits`, in `SampleSize / SampleRun` runs at
    * evenly spaced offsets over their concatenated records — spread out,
    * not each split's head, which is no independent sample of a presorted
    * input — or all of them when they hold no more. One stream per file,
    * positioned by `seek`, with a 4 KB buffer: a positioned
    * `readFully(pos, buf)` opens a fresh checksum reader on every call,
    * and the session's default 64 KB buffer would be refilled on every
    * run. */
  private def sampleRecords(splits: Array[TeraRecordPartition], conf: Configuration): Array[Array[Byte]] = {
    val total = splits.map(_.length / RecordLen).sum
    val n = math.min(total, SampleSize.toLong).toInt
    val runs = SampleSize / SampleRun
    def offset(j: Int): Long =
      if (n == total) j else j / SampleRun * total / runs + j % SampleRun
    val sample = Array.fill(n)(new Array[Byte](RecordLen))
    var j = 0
    var first = 0L // records in the splits before `s`
    var file: String = null
    var in: FSDataInputStream = null
    try for (s <- splits) {
      val last = first + s.length / RecordLen
      while (j < n && offset(j) < last) {
        if (s.file != file) {
          if (in != null) in.close()
          file = s.file
          in = new Path(file).getFileSystem(conf).open(new Path(file), 4096)
        }
        val pos = s.start + (offset(j) - first) * RecordLen
        if (in.getPos != pos) in.seek(pos)
        in.readFully(sample(j))
        j += 1
      }
      first = last
    } finally if (in != null) in.close()
    sample
  }

  /** End-to-end TeraSort over binary record files (`in` is a path list
    * as for `read`): choose the cut points from the driver sample
    * (`cutPoints`), scan whole records (`rec`), route each record to its
    * range by partition id (`repartitionById` over `RangePartitionId`: a
    * binary search of the cuts, no sampling job), sort each partition
    * (`RecordSorter` over the exchange's rows), write. The plan executes
    * once: one shuffle-map stage that reads the input once, one reduce
    * stage with the sort and the sink; the exchange keeps exactly
    * `partitions` partitions, so an empty one still writes its (empty)
    * part file, and an input with no records writes `partitions` empty
    * parts, as Hadoop's TeraSort does. Each record stays one 100-byte
    * binary value from scan to sink and is ordered as a whole: byte order
    * of the record is key order first (TeraSort/valsort semantics), with
    * the payload breaking ties, so the order is total and deterministic,
    * and records sharing a key spread over reducers by payload. The order
    * does not depend on the sample: routing is monotone in the record, so
    * any cuts give sorted output, and a poor sample only unbalances the
    * parts. The sample also picks the per-partition sort: when no two
    * sampled records share their first 8 bytes, each partition is
    * radix-sorted on that prefix and the runs of records sharing it are
    * then put in whole-record order; otherwise (hot or constant prefixes,
    * or `spark.sql.sort.enableRadixSort` off) it is a comparison sort on
    * the prefix with a whole-record comparison on prefix ties. */
  def terasort(spark: SparkSession, in: String, out: String, partitions: Int): Unit = {
    val c = cutPoints(spark, in, partitions)
    val recs =
      if (c.records == 0) spark.sparkContext.parallelize(Seq.empty[Array[Byte]], partitions)
      else {
        val radix = !c.prefixTies && spark.sessionState.conf.enableRadixSort
        spark.read.format("terarecord").load(in).select("rec")
          .repartitionById(partitions, GraftShim.column(RangePartitionId(UnresolvedAttribute("rec"), c.cuts)))
          .queryExecution.toRdd
          .mapPartitions(rows => new RecordSorter(radix).sort(rows))
      }
    sink(recs, out)
  }
}

/** The per-partition sort of TeraSort's reduce stage: Spark's own
  * external row sorter over one binary `rec` column, built as
  * `SortExec.createSorter` builds it, with the record's first 8 bytes as
  * the big-endian sort prefix (the value `ByteArray.getPrefix` gives) and
  * the unsigned `PrefixComparators.BINARY`. The prefix is read in place
  * from the row's memory, never copied out: TeraSort's records are 100
  * bytes, so the first 8 are always there. Spark never radix-sorts a
  * binary column itself, since the prefix does not decide a binary
  * order; here `radix = true` radix-sorts on the prefix alone and `sort`
  * then puts each run of records sharing a prefix in whole-record order
  * (`RecordSorter.repairTies`). That repair of the final iterator is
  * enough after spills too: the spill merge compares prefixes first and
  * the record comparator only on equal prefixes, so the merged stream is
  * prefix-ordered and every run is contiguous across spill files. With
  * `radix = false` the sorter compares whole records on prefix ties and
  * no repair runs. Create one per task: the sorter takes its memory from
  * the running task. */
private[sources] final class RecordSorter(radix: Boolean) {
  private val order = SortOrder(BoundReference(0, BinaryType, nullable = false), Ascending)
  val rows: UnsafeExternalRowSorter = UnsafeExternalRowSorter.create(
    StructType(Seq(StructField("rec", BinaryType, nullable = false))),
    RowOrdering.create(Seq(order), Nil),
    PrefixComparators.BINARY,
    new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        result.value = RecordSorter.prefix(row.asInstanceOf[UnsafeRow])
        result
      }
    },
    SparkEnv.get.memoryManager.pageSizeBytes,
    radix)

  /** The records of `recs` (one-column unsafe rows) in whole-record order. */
  def sort(recs: Iterator[InternalRow]): Iterator[Array[Byte]] = {
    val sorted = rows.sort(recs.asInstanceOf[Iterator[UnsafeRow]]).map(_.getBinary(0))
    if (radix) RecordSorter.repairTies(sorted) else sorted
  }
}

private[sources] object RecordSorter {
  private val LittleEndian = ByteOrder.nativeOrder == ByteOrder.LITTLE_ENDIAN

  /** The big-endian first 8 bytes of `row`'s binary column 0, read where
    * the row keeps them: the column's fixed-width word holds the bytes'
    * offset in its upper 32 bits. */
  private[sources] def prefix(row: UnsafeRow): Long = {
    val word = Platform.getLong(row.getBaseObject, row.getBaseOffset + (row.getLong(0) >>> 32))
    if (LittleEndian) java.lang.Long.reverseBytes(word) else word
  }

  /** `sorted`, which is in 8-byte prefix order, with each run of records
    * sharing a prefix sorted in whole-record order. A run is buffered on
    * the heap; a record whose prefix differs from both neighbours passes
    * straight through. The bound on a run: the radix path runs only when
    * no two of the driver's s = 10,000 sampled records share a prefix, and
    * a prefix held by a fraction p of the input is sampled at most once
    * with probability about e^(-ps)(1 + ps). So a run of more than 0.2 %
    * of the input (p = 20 / s; 200 KB of a 100 MB input) reaches the
    * repair with probability below 1e-7; a contiguous run that long, as
    * in a presorted input, is always sampled more than once. */
  private[sources] def repairTies(sorted: Iterator[Array[Byte]]): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private var run = Array.empty[Array[Byte]] // the current tie run, sorted; `i` is its next record
      private var i = 0
      private var ahead: Array[Byte] = _ // the record after the current run, or null at the end
      private var aheadPrefix = 0L
      advance()

      private def advance(): Unit =
        if (sorted.hasNext) { ahead = sorted.next(); aheadPrefix = ByteArray.getPrefix(ahead) }
        else ahead = null

      def hasNext: Boolean = i < run.length || ahead != null

      def next(): Array[Byte] = {
        if (i < run.length) { i += 1; return run(i - 1) }
        if (ahead == null) throw new NoSuchElementException
        val first = ahead
        val p = aheadPrefix
        advance()
        if (ahead == null || aheadPrefix != p) first
        else {
          val b = ArrayBuffer(first)
          while (ahead != null && aheadPrefix == p) { b += ahead; advance() }
          run = b.toArray
          java.util.Arrays.sort(run, (x: Array[Byte], y: Array[Byte]) => ByteArray.compareBinary(x, y))
          i = 1
          run(0)
        }
      }
    }
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
