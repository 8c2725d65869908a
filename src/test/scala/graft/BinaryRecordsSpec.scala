package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import graft.sources.BinaryRecords

/** Round-trip + TeraSort property for the fixed-width binary source/sink:
  * gen → write → terasort → files concatenated in name order are globally
  * sorted, the record multiset is preserved, the sort runs one
  * shuffle-map stage and no sampling scan, and the parts are balanced —
  * over a spread input, one hot key, presorted and reverse-sorted input,
  * one constant 8-byte prefix, a key held by 30 % of the records, 64
  * partitions with empty ranges, a shared 8-byte prefix in the files the
  * driver sample skips, no records (still one empty part per partition),
  * one record, and 256 partitions. */
class BinaryRecordsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def genTeraRecords(n: Int) = BinaryRecords.teragen(spark, n)

  test("binary record sink/scan round-trips 100-byte records") {
    val dir = Files.createTempDirectory("graft_bin").toString
    val in = s"$dir/in"
    BinaryRecords.write(genTeraRecords(5000), in)
    val back = BinaryRecords.read(spark, in)
    assert(back.count() === 5000)
    val r = back.select(length(col("key")).as("lk"), length(col("payload")).as("lp"))
      .distinct().collect()
    assert(r.length === 1 && r(0).getInt(0) === 10 && r(0).getInt(1) === 90)
  }

  /** Runs `body` and counts its shuffle-map stages (stages that wrote
    * shuffle records) and its sampling scans (stages that read input but
    * wrote no shuffle records). Listener events arrive in posting order, so
    * once a marker job started after `body` is seen, every stage of `body`
    * is. */
  private def mapStages(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val seen, scans = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m.shuffleWriteMetrics.recordsWritten > 0) seen.incrementAndGet()
        else if (m.inputMetrics.bytesRead > 0) scans.incrementAndGet()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null) markerSeen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      (seen.get, scans.get)
    } finally sc.removeSparkListener(listener)
  }

  test("terasort over binary files: name-ordered concatenation is globally sorted") {
    val oneKey = spark.range(1000).select(
      expr("cast('0000000000' as binary)").as("key"),
      expr("cast(rpad(cast(id as string), 90, '.') as binary)").as("payload"))
    // bytes 9-10 of the key and the payload vary, the first 8 bytes never
    val onePrefix = spark.range(20000).select(
      expr("concat(cast('ABCDEFGH' as binary), unhex(substring(md5(cast(id as string)), 1, 4)))").as("key"),
      expr("cast(rpad(cast(id as string), 90, '.') as binary)").as("payload"))
    // 30 % of the records share one whole key
    val hotKey = genTeraRecords(20000).withColumn("key",
      expr("if(pmod(hash(payload), 10) < 3, cast('5555555555' as binary), key)"))
    // three distinct records, repeated: most of the 63 cuts are equal
    val threeRecords = spark.range(3000).select(
      expr("cast(lpad(cast(id % 3 as string), 10, '7') as binary)").as("key"),
      expr("cast(rpad(cast(id % 3 as string), 90, '.') as binary)").as("payload"))
    // 12 files of 1000 records; the sample reads 10 of them (files 0-4 and
    // 6-10), and the two it skips hold records sharing one 8-byte prefix
    val unsampledPrefix = spark.range(0, 12000, 1, 12).select(
      expr("""if(id div 1000 in (5, 11),
        concat(cast('PPPPPPPP' as binary), unhex(substring(md5(cast(id as string)), 1, 4))),
        cast(lpad(cast((1103515245 * id + 12345) % 2147483647 as string), 10, '0') as binary))""").as("key"),
      expr("cast(rpad(cast(id as string), 90, '.') as binary)").as("payload"))
    val byRecord = Seq(col("key"), col("payload"))
    // the largest part holds at most 1.5x the mean part
    def balanced(sizes: Seq[Long]) = sizes.max <= 1.5 * sizes.sum / sizes.size
    // (input, requested partitions, check on the part files' sizes); the
    // sorted inputs hold more records than the driver samples
    val inputs: Seq[(String, DataFrame, Int, Seq[Long] => Boolean)] = Seq(
      ("5000 records", genTeraRecords(5000), 6, s => s.size == 6 && balanced(s)),
      ("1000 records of one key", oneKey, 4, _ == Seq.fill(4)(25000L)),
      ("20000 presorted records", genTeraRecords(20000).orderBy(byRecord: _*), 4,
        s => s.size == 4 && balanced(s)),
      ("20000 reverse-sorted records", genTeraRecords(20000).orderBy(byRecord.map(_.desc): _*), 4,
        s => s.size == 4 && balanced(s)),
      ("5000 records over 256 partitions", genTeraRecords(5000), 256, _.size == 256),
      ("20000 records with one constant 8-byte prefix", onePrefix, 4, s => s.size == 4 && balanced(s)),
      ("20000 records, 30 % of them of one key", hotKey, 4, s => s.size == 4 && balanced(s)),
      ("3000 records of 3 distinct records over 64 partitions", threeRecords, 64,
        s => s.size == 64 && s.count(_ > 0) == 3),
      ("12 files whose unsampled files share an 8-byte prefix", unsampledPrefix, 4, _.size == 4),
      ("no records", genTeraRecords(0), 3, _ == Seq.fill(3)(0L)),
      ("one record", genTeraRecords(1), 3, _.sum == 100L))

    for ((label, input, partitions, partsOk) <- inputs) withClue(s"$label: ") {
      val dir = Files.createTempDirectory("graft_tera").toString
      val in = s"$dir/in"
      val out = s"$dir/out"
      BinaryRecords.write(input, in)
      val inRecs = input.select(concat(col("key"), col("payload")))
        .collect().map(r => new String(r.getAs[Array[Byte]](0), ISO_8859_1))
      // the plan runs once: one shuffle-map stage (none writes on no input),
      // and no stage scans the input only to sample it
      val (maps, scans) = mapStages(BinaryRecords.terasort(spark, in, out, partitions))
      assert(maps === inRecs.length.min(1))
      assert(scans === 0)

      // read output files in name order, byte-concatenate, check sortedness
      val parts = Files.list(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
      val sizes = parts.map(Files.size(_))
      assert(partsOk(sizes), s"part file sizes $sizes")
      val recs = parts.flatMap { p =>
        val bytes = Files.readAllBytes(p)
        assert(bytes.length % 100 === 0, s"partial record in $p")
        bytes.grouped(100).map(new String(_, ISO_8859_1)).toSeq
      }
      // whole records in unsigned byte order: key order, payload breaks ties
      assert(recs.sliding(2).forall { case Seq(a, b) => a <= b; case _ => true },
        "concatenated output not globally sorted")
      // permutation: same multiset of whole records (key ‖ payload) as input
      assert(recs.sorted.sameElements(inRecs.sorted))
    }
  }
}
