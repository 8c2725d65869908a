package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SorterSpillShim
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.ByteArray
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import scala.util.Random

import graft.TestSpark

/** TeraSort's pages and per-partition sort: `pack`, reading a split's
  * chunks, puts each record in a page of its range; the page sort (a
  * radix sort on the 8-byte prefix, then each run of records sharing it
  * in whole-record order) gives whole
  * records in unsigned byte order over tie runs of one, two, many and the
  * whole partition and exact duplicates; with its memory denied it hands
  * the records to the spilling `RecordSorter`; the prefix read from a
  * row's memory is `ByteArray.getPrefix` of the record; the driver sample
  * counts the records and picks ascending cuts. */
class RecordSorterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val Len = BinaryRecords.RecordLen

  private def str(r: Array[Byte]) = new String(r, ISO_8859_1)

  /** `n` records of random bytes, each starting with `prefix` when given. */
  private def records(rnd: Random, n: Int, prefix: Option[Array[Byte]] = None): Seq[Array[Byte]] =
    Seq.fill(n) {
      val r = new Array[Byte](Len)
      rnd.nextBytes(r)
      prefix.foreach(System.arraycopy(_, 0, r, 0, 8))
      r
    }

  /** `recs` in pages of 1 to 300 records. */
  private def pages(rnd: Random, recs: Seq[Array[Byte]]): Seq[Array[Byte]] =
    Iterator.unfold(recs)(rest =>
      if (rest.isEmpty) None
      else { val (page, more) = rest.splitAt(1 + rnd.nextInt(300)); Some((page.flatten.toArray, more)) }).toSeq

  /** Sorts `pages` in one task with a `PageSorter` of `budget` bytes whose
    * fallback spills every `spillEvery` rows; returns the chunks it gave,
    * whether the fallback ran and the bytes the task spilled. */
  private def sortInTask(pages: Seq[Array[Byte]], budget: Long = Long.MaxValue,
      spillEvery: Int = 64): (Seq[Array[Byte]], Boolean, Long) =
    spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      var fellBack = false
      val sorter = new PageSorter(budget, () => {
        fellBack = true
        val s = new RecordSorter
        SorterSpillShim.spillEvery(s.rows, spillEvery)
        s
      })
      val out = sorter.sort(pages.iterator).toVector
      Iterator((out, fellBack, TaskContext.get().taskMetrics().diskBytesSpilled))
    }.collect().head

  private def recordsOf(chunks: Seq[Array[Byte]]): Seq[String] = {
    assert(chunks.forall(_.length % Len == 0), "a chunk holds a partial record")
    chunks.flatMap(_.grouped(Len).map(str))
  }

  private val rnd = new Random(13)
  private def prefix() = { val p = new Array[Byte](8); rnd.nextBytes(p); p }
  private val singles = records(rnd, 1000)
  private val mixed = {
    val pairs = Seq.fill(200)(prefix()).flatMap(p => records(rnd, 2, Some(p)))
    val many = records(rnd, 500, Some(prefix()))
    rnd.shuffle(singles ++ pairs ++ many ++ singles.take(100) ++ many.take(50))
  }
  // one 8-byte prefix for the whole partition: only bytes 9-100 differ
  private val onePrefix = {
    val recs = records(rnd, 3000, Some("AAAAAAAA".getBytes(ISO_8859_1)))
    rnd.shuffle(recs ++ recs.take(200))
  }
  private val inputs = Seq(
    "tie runs of 1, 2 and many, and duplicates" -> mixed,
    "one prefix for the whole partition, and duplicates" -> onePrefix,
    "more records than one output chunk" -> records(rnd, RecordPages.ChunkRecords + 1234),
    "no records" -> Nil)

  test("the page sort gives whole-record order over tie runs, one prefix and duplicates") {
    for ((label, in) <- inputs) withClue(s"$label: ") {
      val (out, fellBack, spilled) = sortInTask(pages(rnd, in))
      assert(recordsOf(out) == in.map(str).sorted)
      assert(out.forall(_.length <= RecordPages.ChunkRecords * Len))
      assert(!fellBack && spilled === 0L)
    }
  }

  test("with its memory denied the page sort falls back to the record sorter, which spills") {
    for ((label, in) <- inputs.take(2)) withClue(s"$label: ") {
      // some tie run of each length > 1 has records inserted before and after a spill
      val runs = in.indices.groupBy(i => ByteArray.getPrefix(in(i))).values.filter(_.size > 1)
      val straddling = runs.filter(_.map(_ / 64).distinct.size > 1).map(_.size).toSet
      assert(runs.map(_.size).toSet.forall(straddling.contains))
      // the budget holds a few pages, so some records were taken before the denial
      val (out, fellBack, spilled) = sortInTask(pages(rnd, in), budget = 500L * PageSorter.BookedPerRecord)
      assert(fellBack, "the fallback never ran")
      assert(spilled > 0, "the fallback never spilled")
      assert(recordsOf(out) == in.map(str).sorted)
    }
  }

  test("pack puts every record in one page of its range, a chunk at a time") {
    val recs = records(rnd, 2 * RecordPages.ChunkRecords + 77) ++ singles.take(10)
    val cuts = Seq(recs(5), recs(17), recs(17), recs(99)).sortBy(str).toArray
    // the packer reads its chunks straight from a split of a record file
    val file = Files.createTempDirectory("graft_pack").resolve("part-00000")
    Files.write(file, recs.flatten.toArray)
    val split = new TeraRecordSource.SplitReader(
      TeraRecordPartition(file.toString, 0, Files.size(file)), spark.sessionState.newHadoopConf())
    val byRange = try RecordPages.pack(split.read, cuts).toVector finally split.close()
    // at most one page per range and chunk
    assert(byRange.size <= 3 * (cuts.length + 1))
    for ((range, page) <- byRange; rec <- page.grouped(Len))
      assert(range === cuts.count(c => ByteArray.compareBinary(c, rec) <= 0))
    assert(byRange.flatMap(_._2.grouped(Len).map(str)).sorted == recs.map(str).sorted)
    // two equal cuts leave the range between them empty
    val equal = cuts.indexWhere(_ eq recs(17))
    assert(cuts(equal + 1) eq recs(17))
    assert(!byRange.exists(_._1 == equal + 1))
  }

  test("the prefix read in place equals ByteArray.getPrefix, bytes >= 0x80 included") {
    val rnd = new Random(29)
    val high = Seq(0x80, 0xff, 0x7f, 0x00).map { b =>
      val r = new Array[Byte](Len)
      rnd.nextBytes(r)
      java.util.Arrays.fill(r, 0, 8, b.toByte)
      r
    }
    val row = UnsafeProjection.create(Array[DataType](BinaryType))
    for (rec <- records(rnd, 1000) ++ high) {
      val r = row(InternalRow(rec))
      assert(RecordSorter.prefix(r) === ByteArray.getPrefix(rec))
      // the same row at an offset inside a larger buffer
      val buf = new Array[Byte](r.getSizeInBytes + 24)
      r.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + 24)
      val moved = new UnsafeRow(1)
      moved.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + 24, r.getSizeInBytes)
      assert(RecordSorter.prefix(moved) === ByteArray.getPrefix(rec))
    }
  }

  test("the driver sample counts the records and picks ascending cuts") {
    val rnd = new Random(7)
    def cutPoints(in: String, partitions: Int) = {
      val conf = spark.sessionState.newHadoopConf()
      BinaryRecords.cutPoints(TeraRecordSource.splits(in, conf), conf, partitions)
    }
    def sampleOf(recs: Seq[Array[Byte]], partitions: Int) = {
      val dir = Files.createTempDirectory("graft_gate")
      Files.write(dir.resolve("part-00000"), recs.flatten.toArray)
      cutPoints(dir.toString, partitions)
    }
    def ascending(cuts: Array[Array[Byte]]) =
      cuts.sliding(2).forall { case Array(a, b) => ByteArray.compareBinary(a, b) <= 0; case _ => true }
    val random = sampleOf(records(rnd, 20000), 4)
    assert(random.records === 20000L && random.cuts.length === 3 && ascending(random.cuts))
    val constant = sampleOf(records(rnd, 20000, Some("ABCDEFGH".getBytes(ISO_8859_1))), 4)
    assert(constant.records === 20000L && constant.cuts.length === 3 && ascending(constant.cuts))
    // BinaryRecordsSpec's one-key input
    val dir = Files.createTempDirectory("graft_gate").toString
    BinaryRecords.write(spark.range(1000).select(
      expr("cast('0000000000' as binary)").as("key"),
      expr("cast(rpad(cast(id as string), 90, '.') as binary)").as("payload")), s"$dir/in")
    val oneKey = cutPoints(s"$dir/in", 4)
    assert(oneKey.records === 1000L && oneKey.cuts.length === 3 && ascending(oneKey.cuts))
    // no records: no cuts
    val empty = Files.createTempDirectory("graft_gate")
    val none = cutPoints(empty.toString, 3)
    assert(none.records === 0L && none.cuts.isEmpty)
  }
}
