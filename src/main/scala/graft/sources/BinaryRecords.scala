package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.{BytesWritable, NullWritable}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.{RecordWriter, TaskAttemptContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.ByteArray

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
  * sample decides how evenly the ranges fill, never whether the output is
  * sorted. Records cross the exchange in pages and each partition is
  * sorted as flat bytes (RecordPages).
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

  /** Write each array — one record, or a chunk of whole records —
    * verbatim, one part file per partition; the writer's
    * `recordsWritten` counts arrays. A caller passing a plan's `toRdd`
    * runs the plan once (under adaptive execution that includes its
    * shuffle-map stages) and hands over copies, so reused rows are safe. */
  private def sink(chunks: RDD[Array[Byte]], path: String): Unit =
    chunks.map(c => (NullWritable.get(), new BytesWritable(c)))
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
    * records it holds, and the `partitions` − 1 cut records (ascending in
    * unsigned byte order; none when there are no records). */
  private[sources] final case class CutPoints(records: Long, cuts: Array[Array[Byte]])

  /** The cut points for the input at `in`: the quantiles of a driver-side
    * sample of `SampleSize` records from at most `SampleSplits` evenly
    * chosen record-aligned splits. An input of at most `SampleSize`
    * records is read whole. */
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
    CutPoints(bytes / RecordLen, cuts)
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
    * (`cutPoints`), scan whole records (`rec`), pack each map task's
    * records into pages by range (`RecordPages.pack`: a binary search of
    * the cuts, no sampling job), route the pages by range id
    * (`repartitionById`), sort each partition's pages as flat bytes
    * (`PageSorter`), write its sorted chunks. The plan executes once: one
    * shuffle-map stage that reads the input once, one reduce stage with
    * the sort and the sink; the exchange keeps exactly `partitions`
    * partitions, so an empty one still writes its (empty) part file, and
    * an input with no records writes `partitions` empty parts, as
    * Hadoop's TeraSort does. Each record is ordered as a whole: byte order
    * of the record is key order first (TeraSort/valsort semantics), with
    * the payload breaking ties, so the order is total and deterministic,
    * and records sharing a key spread over reducers by payload. The order
    * does not depend on the sample: routing is monotone in the record, so
    * any cuts give sorted output, and a poor sample only unbalances the
    * parts. */
  def terasort(spark: SparkSession, in: String, out: String, partitions: Int): Unit = {
    val c = cutPoints(spark, in, partitions)
    val chunks =
      if (c.records == 0) spark.sparkContext.parallelize(Seq.empty[Array[Byte]], partitions)
      else {
        val cuts = c.cuts
        val pages = spark.read.format("terarecord").load(in).select("rec").queryExecution.toRdd
          .mapPartitions(recs => RecordPages.pack(recs, cuts))
        spark.createDataFrame(pages, RecordPages.Schema)
          .repartitionById(partitions, col("range"))
          .queryExecution.toRdd
          .mapPartitions(pages => new PageSorter().sort(pages.map(_.getBinary(1))))
      }
    sink(chunks, out)
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
