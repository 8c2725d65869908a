package graft.sources

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.UnsafeExternalRowSorter
import org.apache.spark.sql.types.{BinaryType, DataType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.LongArray
import org.apache.spark.unsafe.memory.MemoryBlock
import org.apache.spark.util.collection.unsafe.sort.{PrefixComparators, RadixSort, RecordPointerAndKeyPrefix}

import java.nio.ByteOrder
import java.util.Arrays

import scala.collection.mutable

import BinaryRecords.RecordLen

/** TeraSort's records in pages: the map side packs a task's records into
  * one (range id, page) pair per range and chunk (`pack`), so the shuffle
  * carries about one pair per page, not one per record; the reduce side
  * sorts the pages of its partition as flat bytes (`PageSorter`). */
private[sources] object RecordPages {
  /** Records in one map-side chunk, and in one chunk handed to the sink
    * (1 MB). */
  val ChunkRecords = 10000

  private val LittleEndian = ByteOrder.nativeOrder == ByteOrder.LITTLE_ENDIAN

  /** The range of the record at `off` in `buf`, given ascending cut
    * records and their prefixes: the number of cuts ≤ the record, found
    * by binary search in unsigned byte order, comparing the 8-byte
    * prefixes first. A record equal to a cut goes to the range above it.
    * The id is monotone in the record for any ascending cuts, so routing
    * by it and sorting each range yields a total order; the cuts decide
    * only how evenly the records spread. */
  def search(cuts: Array[Array[Byte]], prefixes: Array[Long], buf: Array[Byte], off: Int): Int = {
    val p = prefix(buf, Platform.BYTE_ARRAY_OFFSET + off)
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Long.compareUnsigned(prefixes(mid), p)
      if (c < 0 || c == 0 && Arrays.compareUnsigned(cuts(mid), 8, RecordLen, buf, off + 8, off + RecordLen) <= 0)
        lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** The first 8 bytes at `address` of `base`, as a big-endian long. */
  def prefix(base: AnyRef, address: Long): Long = {
    val word = Platform.getLong(base, address)
    if (LittleEndian) java.lang.Long.reverseBytes(word) else word
  }

  /** The records `read` gives as (range id, page) pairs. `read` fills its
    * buffer from the start with whole records and returns their bytes, 0
    * at the end (`TeraRecordSource.SplitReader.read`). A chunk of up to
    * `ChunkRecords` records at a time is read straight into the packer's
    * buffer, each record's range is searched in place, and a counting sort
    * by range moves the chunk into one page per non-empty range. Memory is
    * the chunk and its pages, whatever the number of ranges or the split
    * size. */
  def pack(read: Array[Byte] => Int, cuts: Array[Array[Byte]]): Iterator[(Int, Array[Byte])] =
    new Iterator[(Int, Array[Byte])] {
      private val chunk = new Array[Byte](ChunkRecords * RecordLen)
      private val range = new Array[Int](ChunkRecords)
      private val count = new Array[Int](cuts.length + 1)
      private val prefixes = cuts.map(prefix(_, Platform.BYTE_ARRAY_OFFSET))
      private var pages: Iterator[(Int, Array[Byte])] = Iterator.empty

      def hasNext: Boolean = pages.hasNext || { fill(); pages.hasNext }

      def next(): (Int, Array[Byte]) = if (hasNext) pages.next() else throw new NoSuchElementException

      private def fill(): Unit = {
        val n = read(chunk) / RecordLen
        Arrays.fill(count, 0)
        for (i <- 0 until n) {
          val r = search(cuts, prefixes, chunk, i * RecordLen)
          range(i) = r
          count(r) += 1
        }
        val page = count.map(c => if (c == 0) null else new Array[Byte](c * RecordLen))
        val at = new Array[Int](count.length)
        for (i <- 0 until n) {
          val r = range(i)
          System.arraycopy(chunk, i * RecordLen, page(r), at(r), RecordLen)
          at(r) += RecordLen
        }
        pages = page.indices.iterator.filter(page(_) != null).map(r => (r, page(r)))
      }
    }
}

/** The per-partition sort of TeraSort's reduce stage, over the pages of
  * one partition. The pages stay as they arrive, booked with the task's
  * memory manager; each record is one (pointer, 8-byte big-endian prefix)
  * pair in a `LongArray`, radix-sorted on the prefix as Spark's
  * `UnsafeInMemorySorter` does, and each run of records sharing a prefix
  * is then put in whole-record order in place by Spark's TimSort. The
  * sorted records are copied into chunks of `ChunkRecords` for the sink.
  *
  * Memory is asked page by page, for the page and its pairs' share of the
  * array (`BookedPerRecord`), and never past `budget`. When a grant falls
  * short, the records already taken and the rest go, as one-column rows,
  * to the sorter `fallback` builds (a `RecordSorter`, which spills), and
  * the chunks are single records. Create one per task. */
private[sources] final class PageSorter(budget: Long = Long.MaxValue,
    fallback: () => RecordSorter = () => new RecordSorter) {
  import PageSorter._
  import RecordPages.{ChunkRecords, prefix}

  private val memory = new MemoryConsumer(GraftShim.taskMemoryManager(), MemoryMode.ON_HEAP) {
    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }
  TaskContext.get().addTaskCompletionListener[Unit](_ => release())

  private def release(): Unit = if (memory.getUsed > 0) memory.freeMemory(memory.getUsed)

  private def book(bytes: Long): Boolean =
    memory.getUsed + bytes <= budget && {
      val granted = memory.acquireMemory(bytes)
      granted == bytes || { memory.freeMemory(granted); false }
    }

  /** The records of `pages` in whole-record order, as chunks of whole
    * records. */
  def sort(pages: Iterator[Array[Byte]]): Iterator[Array[Byte]] = {
    val held = mutable.ArrayDeque[Array[Byte]]()
    var n = 0L
    while (pages.hasNext) {
      val page = pages.next()
      val records = page.length / RecordLen
      if (n + records > MaxRecords || !book(records * BookedPerRecord))
        return spillSort(Iterator.fill(held.size)(held.removeHead()) ++ Iterator(page) ++ pages)
      held += page
      n += records
    }
    sorted(held, n.toInt)
  }

  private def sorted(pages: mutable.ArrayDeque[Array[Byte]], n: Int): Iterator[Array[Byte]] = {
    // two longs per record, and as many again for the radix sort's output
    val pairs = new LongArray(MemoryBlock.fromLongArray(new Array[Long](4 * n)))
    var i = 0
    for (p <- pages.indices) {
      val page = pages(p)
      var off = 0
      while (off < page.length) {
        pairs.set(2 * i, p.toLong << 32 | off)
        pairs.set(2 * i + 1, prefix(page, Platform.BYTE_ARRAY_OFFSET + off))
        off += RecordLen
        i += 1
      }
    }
    val at = RadixSort.sortKeyPrefixArray(pairs, 0, n, 0, 7, false, false) / 2
    def page(ptr: Long) = pages((ptr >>> 32).toInt)
    // the half of the array the sorted pairs do not use is the TimSort's buffer
    val free = if (at == 0) 2L * n else 0L
    val ties = GraftShim.pointerSorter(
      new LongArray(new MemoryBlock(pairs.getBaseObject, pairs.getBaseOffset + free * 8, 2L * n * 8)),
      (a: RecordPointerAndKeyPrefix, b: RecordPointerAndKeyPrefix) => {
        val (x, y) = (a.recordPointer.toInt, b.recordPointer.toInt)
        Arrays.compareUnsigned(page(a.recordPointer), x + 8, x + RecordLen,
          page(b.recordPointer), y + 8, y + RecordLen)
      })
    var run = 0
    for (j <- 1 to n) if (j == n || pairs.get(2 * (at + j) + 1) != pairs.get(2 * (at + run) + 1)) {
      if (j - run > 1) ties(pairs, at + run, at + j)
      run = j
    }

    var done = 0
    Iterator.continually {
      val k = math.min(ChunkRecords, n - done)
      val chunk = new Array[Byte](k * RecordLen)
      var j = 0
      while (j < k) {
        val ptr = pairs.get(2 * (at + done + j))
        System.arraycopy(page(ptr), ptr.toInt, chunk, j * RecordLen, RecordLen)
        j += 1
      }
      done += k
      if (done == n) release()
      chunk
    }.take((n + ChunkRecords - 1) / ChunkRecords)
  }

  private def spillSort(pages: Iterator[Array[Byte]]): Iterator[Array[Byte]] = {
    release()
    val row = UnsafeProjection.create(Array[DataType](BinaryType))
    fallback().sort(pages.flatMap { p =>
      Iterator.range(0, p.length, RecordLen).map(off => row(InternalRow(Arrays.copyOfRange(p, off, off + RecordLen))))
    })
  }
}

private[sources] object PageSorter {
  /** Bytes booked per record: the record, and its four longs of the
    * array. */
  val BookedPerRecord: Long = RecordLen + 4 * 8

  /** The most records one array can hold. */
  private val MaxRecords = Int.MaxValue / 4 - 8
}

/** The spilling sort behind `PageSorter`: Spark's own external row sorter
  * over one binary `rec` column, built as `SortExec.createSorter` builds
  * it, with the record's first 8 bytes as the big-endian sort prefix (the
  * value `ByteArray.getPrefix` gives), the unsigned
  * `PrefixComparators.BINARY`, and a whole-record comparison on prefix
  * ties. The prefix is read in place from the row's memory: TeraSort's
  * records are 100 bytes, so the first 8 are always there. Create one per
  * task: the sorter takes its memory from the running task. */
private[sources] final class RecordSorter {
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
    false)

  /** The records of `recs` (one-column unsafe rows) in whole-record order. */
  def sort(recs: Iterator[InternalRow]): Iterator[Array[Byte]] =
    rows.sort(recs.asInstanceOf[Iterator[UnsafeRow]]).map(_.getBinary(0))
}

private[sources] object RecordSorter {
  /** The big-endian first 8 bytes of `row`'s binary column 0, read where
    * the row keeps them: the column's fixed-width word holds the bytes'
    * offset in its upper 32 bits. */
  private[sources] def prefix(row: UnsafeRow): Long =
    RecordPages.prefix(row.getBaseObject, row.getBaseOffset + (row.getLong(0) >>> 32))
}
