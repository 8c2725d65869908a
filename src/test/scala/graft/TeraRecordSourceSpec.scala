package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.{BinaryRecords, TeraReaderFactory, TeraRecordPartition}

/** DSv2 source, the one reader of record files: `BinaryRecords.read` keeps
  * a path list's order, `rec` is the whole record, projections prune in the
  * scan, a torn file fails by name, the reader's runs of records give each
  * split's records whatever the split's start and length, and the source
  * sorts end-to-end. */
class TeraRecordSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def writeRecords(n: Int): String = {
    val dir = Files.createTempDirectory("graft_dsv2").toString + "/in"
    BinaryRecords.write(BinaryRecords.teragen(spark, n), dir)
    dir
  }

  /** Each partition's keys, in partition index order. */
  private def keysByPartition(df: DataFrame): Seq[Seq[String]] =
    df.select(col("key")).queryExecution.toRdd
      .mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.map(r => new String(r.getBinary(0), ISO_8859_1)).toList))
      }.collect().sortBy(_._1).map(_._2).toSeq

  /** The keys of a record file, straight from its bytes. */
  private def fileKeys(f: Path): Seq[String] =
    Files.readAllBytes(f).grouped(BinaryRecords.RecordLen)
      .map(r => new String(r, 0, BinaryRecords.KeyLen, ISO_8859_1)).toSeq

  test("read over a path list keeps the list's order, not name order") {
    val dir = Files.createTempDirectory("graft_dsv2").toString + "/in"
    BinaryRecords.write(BinaryRecords.teragen(spark, 3000).repartition(2), dir)
    val parts = Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    assert(parts.length === 2 && parts.forall(Files.size(_) > 0))
    val got = keysByPartition(BinaryRecords.read(spark, parts.reverse.mkString(",")))
    assert(got.length === 2)
    assert(got(0) === fileKeys(parts(1)))
    assert(got(1) === fileKeys(parts(0)))
  }

  test("rec is key ++ payload, and a rec-only projection reads only rec") {
    val dir = writeRecords(2000)
    val df = spark.read.format("terarecord").load(dir)
    assert(df.columns.toSeq === Seq("key", "payload", "rec"))
    assert(df.filter(col("rec") =!= concat(col("key"), col("payload"))).count() === 0)
    val rec = df.select(col("rec"))
    val scan = rec.queryExecution.executedPlan.toString
    assert(scan.contains("columns=rec)"), s"not pruned to rec:\n$scan")
    assert(rec.filter(length(col("rec")) === BinaryRecords.RecordLen).count() === 2000)
  }

  test("a file whose length is not a multiple of 100 fails with its path") {
    val torn = Files.createTempDirectory("graft_dsv2").resolve("torn.bin")
    Files.write(torn, new Array[Byte](150))
    val e = intercept[IllegalArgumentException](BinaryRecords.read(spark, torn.toString).count())
    assert(e.getMessage.contains(torn.toString), e.getMessage)
    assert(e.getMessage.contains("not a multiple of 100"), e.getMessage)
  }

  test("key-only projection prunes the payload column in the scan") {
    val dir = writeRecords(1000)
    val df = spark.read.format("terarecord").load(dir).select(col("key"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("columns=key"), s"payload not pruned:\n$scan")
    assert(df.distinct().count() === 1000)
  }

  test("session Hadoop conf reaches the DSv2 scan (no fresh Configuration)") {
    val dir = writeRecords(200)
    spark.conf.set("graft.test.hadoop.marker", "teraconf42")
    try {
      val df = spark.read.format("terarecord").load(dir)
      val scan = df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[graft.sources.TeraScan]
      // newHadoopConf() copies session conf entries into the Hadoop conf,
      // so a session-level setting asserts the capture end-to-end
      assert(scan.conf.value.get("graft.test.hadoop.marker") === "teraconf42")
      assert(df.count() === 200)
    } finally spark.conf.unset("graft.test.hadoop.marker")
  }

  test("the reader reads in runs: short, uneven and mid-file splits give the file's records") {
    val dir = Files.createTempDirectory("graft_dsv2").toString + "/in"
    BinaryRecords.write(BinaryRecords.teragen(spark, 2000).coalesce(1), dir)
    val file = Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    val bytes = Files.readAllBytes(file)
    assert(bytes.length === 2000 * BinaryRecords.RecordLen)
    val run = TeraReaderFactory.RunBytes
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val columns = Array((0, BinaryRecords.KeyLen), (BinaryRecords.KeyLen, BinaryRecords.RecordLen),
      (0, BinaryRecords.RecordLen)) // key, payload, rec
    for ((label, start, records) <- Seq(
        ("shorter than one run", 0L, 300),
        ("not a multiple of the run", 0L, 2000),
        ("starting inside the file", 700L * BinaryRecords.RecordLen, 1000))) withClue(s"$label: ") {
      val length = records.toLong * BinaryRecords.RecordLen
      assert(label != "shorter than one run" || length < run)
      assert(label != "not a multiple of the run" || (length > run && length % run != 0))
      val reader = new TeraReaderFactory(columns, conf)
        .createReader(TeraRecordPartition(file.toString, start, length))
      val got = try Iterator.continually(reader.next()).takeWhile(identity)
          .map(_ => columns.indices.map(c => reader.get().getBinary(c).toSeq)).toVector
        finally reader.close()
      val want = (0 until records).map { i =>
        val at = (start + i.toLong * BinaryRecords.RecordLen).toInt
        columns.toSeq.map { case (from, until) => bytes.slice(at + from, at + until).toSeq }
      }
      assert(got == want)
    }
  }

  test("orderBy over the DSv2 source produces a globally sorted result") {
    val dir = writeRecords(3000)
    val keys = spark.read.format("terarecord").load(dir)
      .orderBy(col("key")).select(col("key").cast("string"))
      .collect().map(_.getString(0))
    assert(keys.length === 3000)
    assert(keys.sameElements(keys.sorted))
  }
}
