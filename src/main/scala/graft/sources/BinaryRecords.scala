package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.mapred.FileAlreadyExistsException
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.ByteArray
import org.apache.spark.util.SerializableConfiguration

import java.io.IOException

/** Fixed-width 100-byte TeraSort record I/O and the TeraSort itself — the
  * Spark-native equivalent of the reference's vendored Hadoop
  * TeraInputFormat / TeraOutputFormat and its total-order partitioner
  * (SURVEY.md §2.3 R1–R6; gensort record spec: 10-byte key ‖ 90-byte
  * payload, unsigned byte-lexicographic key order).
  *
  * Read: the DSv2 `terarecord` source (TeraRecordSource) — record-aligned
  * splits, no record parsing on the driver, column pruning — gives
  * (key BinaryType, payload BinaryType) to `read`.
  *
  * Sort: like TeraInputFormat.writePartitionFile, the driver reads a small
  * fixed sample of the input files before the job and takes the cut
  * points from it; the job's map tasks read their splits straight into
  * pages by range, the pages cross one RDD shuffle keyed by range id, and
  * each reduce task sorts its partition as flat bytes (RecordPages) and
  * writes its part. The sample decides how evenly the ranges fill, never
  * whether the output is sorted.
  *
  * Write: raw record bytes, one part file per partition, written by the
  * part's own task and named in partition order (`sink`), so writing a
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
  def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    withSharedConf(spark, spark.sessionState.newHadoopConf()) { conf =>
      sink(df.select(concat(col("key"), col("payload"))).queryExecution.toRdd.map(_.getBinary(0)), path, conf)
    }
  }

  /** Runs `body` with `conf` broadcast once for its tasks, as Spark's file
    * scans share theirs: each task then looks the conf up instead of
    * deserializing its own copy (over a thousand properties). */
  private def withSharedConf[T](spark: SparkSession, conf: Configuration)(
      body: Broadcast[SerializableConfiguration] => T): T = {
    val shared = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    try body(shared) finally shared.destroy()
  }

  /** Part file `i`'s name, as Hadoop's FileOutputFormat names a reduce
    * task's output. */
  private def partName(i: Int): String = f"part-r-$i%05d"

  /** Write each array — one record, or a chunk of whole records —
    * verbatim, one part file per partition, in one job; the part's output
    * metrics are the bytes its task wrote (Hadoop's file system statistics,
    * as Spark's Hadoop writer counts them) and its records. It keeps the
    * contract of Hadoop's FileOutputFormat and output committer: an
    * existing `path` fails before any task runs; each task attempt writes
    * its part through the path's own file system (so a local path keeps
    * its `.crc` sidecars) under a name of its own in `_temporary`; the
    * parts take their `part-r-NNNNN` names only after the job succeeds,
    * then `_SUCCESS` marks the directory complete, and `_temporary` goes
    * whether the job succeeds or fails. A caller passing a plan's `toRdd`
    * runs the plan once (under adaptive execution that includes its
    * shuffle-map stages) and hands over copies, so reused rows are safe. */
  private def sink(chunks: RDD[Array[Byte]], path: String,
      conf: Broadcast[SerializableConfiguration]): Unit = {
    val out = new Path(path)
    val fs = out.getFileSystem(conf.value.value)
    if (fs.exists(out))
      throw new FileAlreadyExistsException(s"Output directory ${fs.makeQualified(out)} already exists")
    val temp = new Path(out, "_temporary").toString
    fs.mkdirs(new Path(temp))
    try {
      val parts = chunks.sparkContext.runJob(chunks, (task: TaskContext, it: Iterator[Array[Byte]]) => {
        val file = new Path(temp, s"${partName(task.partitionId)}-${task.taskAttemptId}")
        val part = file.getFileSystem(conf.value.value).create(file, false)
        // after the file system is open, as Spark's Hadoop writer starts it
        val metrics = GraftShim.outputMetrics()
        var bytes = 0L
        try it.foreach { c => part.write(c); bytes += c.length } finally part.close()
        metrics(bytes / RecordLen)
        file.toString
      })
      for ((part, i) <- parts.zipWithIndex)
        if (!fs.rename(new Path(part), new Path(out, partName(i))))
          throw new IOException(s"could not rename $part to ${partName(i)} in $out")
      fs.create(new Path(out, "_SUCCESS"), false).close()
    } finally fs.delete(new Path(temp), true)
  }

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

  /** The cut points for the input split into `all`: the quantiles of a
    * driver-side sample of `SampleSize` records from at most `SampleSplits`
    * evenly chosen splits. An input of at most `SampleSize` records is
    * read whole. */
  private[sources] def cutPoints(all: Array[TeraRecordPartition], conf: Configuration,
      partitions: Int): CutPoints = {
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

  /** Routes a (range id, page) pair to the partition of its range. */
  private final class RangeIds(val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** End-to-end TeraSort over binary record files (`in` is a path list
    * as for `read`) in one job of two stages. The driver chooses the cut
    * points from its sample (`cutPoints`) of the splits it lists once
    * (`TeraRecordSource.splits`). Each map task reads its split in 1 MB
    * runs straight into pages by range (`RecordPages.pack`: a binary
    * search of the cuts, no sampling job); the pages cross one shuffle
    * keyed by range id (`RangeIds`), which reads the input once and keeps
    * exactly `partitions` partitions; each reduce task sorts its pages as
    * flat bytes (`PageSorter`) and writes its part (`sink`), so an empty
    * partition still writes its (empty) part file, and an input with no
    * records writes `partitions` empty parts, as Hadoop's TeraSort does.
    * Map and sink share one broadcast Hadoop conf. Each record is ordered
    * as a whole: byte order of the record is key order first
    * (TeraSort/valsort semantics), with the payload breaking ties, so the
    * order is total and deterministic, and records sharing a key spread
    * over reducers by payload. The order does not depend on the sample:
    * routing is monotone in the record, so any cuts give sorted output,
    * and a poor sample only unbalances the parts. */
  def terasort(spark: SparkSession, in: String, out: String, partitions: Int): Unit = {
    require(partitions >= 1, s"terasort needs at least one partition, got $partitions")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val splits = TeraRecordSource.splits(in, hadoopConf)
    val cuts = cutPoints(splits, hadoopConf, partitions).cuts
    withSharedConf(spark, hadoopConf) { conf =>
      val pages = spark.sparkContext.parallelize(splits.toSeq, splits.length max 1)
        .mapPartitions { assigned =>
          GraftShim.countInputBytes()
          assigned.flatMap { s =>
            val split = new TeraRecordSource.SplitReader(s, conf.value.value)
            TaskContext.get().addTaskCompletionListener[Unit](_ => split.close())
            RecordPages.pack(split.read, cuts)
          }
        }
      sink(pages.partitionBy(new RangeIds(partitions))
        .mapPartitions(pages => new PageSorter().sort(pages.map(_._2))), out, conf)
    }
  }
}
