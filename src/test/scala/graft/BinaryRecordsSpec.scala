package graft

import org.apache.hadoop.mapred.FileAlreadyExistsException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import graft.sources.BinaryRecords

/** Round-trip + TeraSort property for the fixed-width binary source/sink:
  * gen → write → terasort → files concatenated in name order are globally
  * sorted, the record multiset is preserved, the sort runs one job with
  * one shuffle-map stage (which reads the input) and no sampling scan, the
  * output directory holds only the parts and `_SUCCESS`, and the parts
  * are balanced —
  * over a spread input, one hot key, presorted and reverse-sorted input,
  * one constant 8-byte prefix, a key held by 30 % of the records, 64
  * partitions with empty ranges, a shared 8-byte prefix in the files the
  * driver sample skips, no records (still one empty part per partition),
  * one record, and 256 partitions. An existing output directory fails
  * both sinks and stays as it was; fewer than one partition fails before
  * the sample. */
class BinaryRecordsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def genTeraRecords(n: Int) = BinaryRecords.teragen(spark, n)

  /** The names in `dir`: exactly `parts` part files, `_SUCCESS` and the
    * local file system's `.crc` sidecars, and nothing else. */
  private def assertOnlyParts(dir: String, parts: Int): Unit = {
    val names = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet
    val files = (0 until parts).map(i => f"part-r-$i%05d") :+ "_SUCCESS"
    assert(names === (files ++ files.map(f => s".$f.crc")).toSet)
  }

  test("binary record sink/scan round-trips 100-byte records") {
    val dir = Files.createTempDirectory("graft_bin").toString
    val in = s"$dir/in"
    BinaryRecords.write(genTeraRecords(5000).repartition(3), in)
    assertOnlyParts(in, 3)
    val back = BinaryRecords.read(spark, in)
    assert(back.count() === 5000)
    val r = back.select(length(col("key")).as("lk"), length(col("payload")).as("lp"))
      .distinct().collect()
    assert(r.length === 1 && r(0).getInt(0) === 10 && r(0).getInt(1) === 90)
  }

  /** Every file under `dir` with its bytes (directories with none). */
  private def tree(dir: Path): Seq[(String, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.toSeq.map { f =>
      (dir.relativize(f).toString, if (Files.isRegularFile(f)) Files.readAllBytes(f).toSeq else Nil)
    }.sortBy(_._1)

  test("write and terasort into an existing directory fail and leave it untouched") {
    val dir = Files.createTempDirectory("graft_exists")
    val in = s"$dir/in"
    BinaryRecords.write(genTeraRecords(200), in)
    val out = Files.createDirectories(dir.resolve("out"))
    Files.write(out.resolve("kept"), Array[Byte](1, 2, 3))
    val before = tree(dir)
    intercept[FileAlreadyExistsException](BinaryRecords.write(genTeraRecords(10), out.toString))
    intercept[FileAlreadyExistsException](BinaryRecords.terasort(spark, in, out.toString, 2))
    // the input directory as the output, too
    intercept[FileAlreadyExistsException](BinaryRecords.terasort(spark, in, in, 2))
    assert(tree(dir) == before)
  }

  test("terasort rejects fewer than one partition before it samples") {
    val dir = Files.createTempDirectory("graft_parts")
    // no input at all: a sample would fail on the missing path instead
    for (p <- Seq(0, -1)) withClue(s"$p partitions: ") {
      val e = intercept[IllegalArgumentException](
        BinaryRecords.terasort(spark, s"$dir/missing", s"$dir/out", p))
      assert(e.getMessage.contains("at least one partition"), e.getMessage)
      assert(!Files.exists(dir.resolve("out")))
    }
  }

  /** What `body` ran: its jobs; the input bytes of each of its
    * shuffle-map stages (stages that wrote shuffle records); its sampling
    * scans (other stages that read input); and the bytes its other stages
    * wrote. */
  private case class Ran(jobs: Int, mapInputBytes: Seq[Long], scans: Int, reduceOutputBytes: Long)

  /** Runs `body` and collects what it ran (`Ran`). Listener events arrive
    * in posting order, so once a marker job started after `body` is seen,
    * every job and stage of `body` is. */
  private def ran(body: => Unit): Ran = {
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val jobs, scans = new AtomicInteger
    val maps = new ConcurrentLinkedQueue[Long]
    val written = new AtomicLong
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m.shuffleWriteMetrics.recordsWritten > 0) maps.add(m.inputMetrics.bytesRead)
        else {
          if (m.inputMetrics.bytesRead > 0) scans.incrementAndGet()
          written.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null) markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      Ran(jobs.get, maps.asScala.toSeq, scans.get, written.get)
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
      // one job: one shuffle-map stage that reads the input (none writes on
      // no input), no stage that scans the input only to sample it, and a
      // reduce stage that writes the parts
      val sorted = ran(BinaryRecords.terasort(spark, in, out, partitions))
      assert(sorted.jobs === 1)
      assert(sorted.mapInputBytes.size === inRecs.length.min(1))
      assert(sorted.mapInputBytes.forall(_ > 0), s"map input bytes ${sorted.mapInputBytes}")
      assert(sorted.scans === 0)
      assert(inRecs.isEmpty || sorted.reduceOutputBytes > 0)
      assertOnlyParts(out, partitions)

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
