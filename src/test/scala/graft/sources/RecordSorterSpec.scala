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

/** TeraSort's per-partition sort and the driver sample that picks it: the
  * radix path (a radix sort on the 8-byte prefix, then a repair of each
  * run of records sharing it) and the compare path give whole records in
  * unsigned byte order, with and without spills, over tie runs of one,
  * two, many and the whole partition and exact duplicates; the prefix
  * read from the row's memory is `ByteArray.getPrefix` of the record; the
  * sample reports prefix ties exactly where records share their first 8
  * bytes. */
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

  /** Sorts `recs`, inserted in this order, in one task with a fresh
    * `RecordSorter`; returns the sorted records and the bytes it spilled. */
  private def sortInTask(recs: Seq[Array[Byte]], radix: Boolean, spillEvery: Int): (Seq[Array[Byte]], Long) =
    spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val row = UnsafeProjection.create(Array[DataType](BinaryType))
      val sorter = new RecordSorter(radix)
      if (spillEvery > 0) SorterSpillShim.spillEvery(sorter.rows, spillEvery)
      val out = sorter.sort(recs.iterator.map(r => row(InternalRow(r)))).toVector
      Iterator((out, TaskContext.get().taskMetrics().diskBytesSpilled))
    }.collect().head

  test("radix sort with tie repair and the compare sort give whole-record order, with and without spills") {
    val rnd = new Random(13)
    def prefix() = { val p = new Array[Byte](8); rnd.nextBytes(p); p }
    val singles = records(rnd, 1000)
    val pairs = Seq.fill(200)(prefix()).flatMap(p => records(rnd, 2, Some(p)))
    val many = records(rnd, 500, Some(prefix()))
    val mixed = rnd.shuffle(singles ++ pairs ++ many ++ singles.take(100) ++ many.take(50))
    // one 8-byte prefix for the whole partition: only bytes 9-100 differ
    val onePrefix = {
      val recs = records(rnd, 3000, Some("AAAAAAAA".getBytes(ISO_8859_1)))
      rnd.shuffle(recs ++ recs.take(200))
    }
    val spillEvery = 64

    for ((label, in) <- Seq("tie runs of 1, 2 and many, and duplicates" -> mixed,
        "one prefix for the whole partition, and duplicates" -> onePrefix)) {
      // the tie runs straddle the spill files: some run of each length > 1
      // has records inserted before and after a spill
      val runs = in.indices.groupBy(i => ByteArray.getPrefix(in(i))).values.filter(_.size > 1)
      val straddling = runs.filter(_.map(_ / spillEvery).distinct.size > 1).map(_.size).toSet
      val lengths = runs.map(_.size).toSet
      assert(lengths.forall(straddling.contains), s"$label: run lengths $lengths, straddling $straddling")

      val want = in.map(str).sorted
      for (radix <- Seq(true, false); every <- Seq(0, spillEvery)) withClue(s"$label, radix $radix, spill every $every: ") {
        val (out, spilled) = sortInTask(in, radix, every)
        assert(out.map(str) == want)
        if (every > 0) assert(spilled > 0, "the sorter never spilled")
        else assert(spilled === 0L)
      }
    }
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

  test("repairTies sorts each run of equal prefixes and passes other records through") {
    def rec(first: Int, rest: Int) = {
      val r = Array.fill[Byte](Len)(rest.toByte)
      java.util.Arrays.fill(r, 0, 8, first.toByte)
      r
    }
    // prefix order, ties in reverse order: runs of 1, 3, 1, 2 (a run at the end)
    val in = Seq(rec(1, 0), rec(7, 9), rec(7, 5), rec(7, 1), rec(8, 0), rec(9, 4), rec(9, 2))
    val out = RecordSorter.repairTies(in.iterator).toVector
    assert(out.map(str) == in.map(str).sorted)
    assert(RecordSorter.repairTies(Iterator.empty).isEmpty)
  }

  test("the driver sample reports prefix ties: random keys none, a constant prefix and one key some") {
    val rnd = new Random(7)
    def sampleOf(recs: Seq[Array[Byte]], partitions: Int) = {
      val dir = Files.createTempDirectory("graft_gate")
      Files.write(dir.resolve("part-00000"), recs.flatten.toArray)
      BinaryRecords.cutPoints(spark, dir.toString, partitions)
    }
    // uniform random 10-byte keys: the radix path
    val random = sampleOf(records(rnd, 20000), 4)
    assert(random.records === 20000L && random.cuts.length === 3)
    assert(!random.prefixTies)
    // a constant 8-byte prefix with random bytes 9-10 and payload: the compare path
    val constant = sampleOf(records(rnd, 20000, Some("ABCDEFGH".getBytes(ISO_8859_1))), 4)
    assert(constant.records === 20000L && constant.prefixTies)
    // BinaryRecordsSpec's one-key input: the compare path
    val dir = Files.createTempDirectory("graft_gate").toString
    BinaryRecords.write(spark.range(1000).select(
      expr("cast('0000000000' as binary)").as("key"),
      expr("cast(rpad(cast(id as string), 90, '.') as binary)").as("payload")), s"$dir/in")
    val oneKey = BinaryRecords.cutPoints(spark, s"$dir/in", 4)
    assert(oneKey.records === 1000L && oneKey.prefixTies)
    // no records: no cuts, no ties
    val empty = Files.createTempDirectory("graft_gate")
    val none = BinaryRecords.cutPoints(spark, empty.toString, 3)
    assert(none.records === 0L && none.cuts.isEmpty && !none.prefixTies)
  }
}
