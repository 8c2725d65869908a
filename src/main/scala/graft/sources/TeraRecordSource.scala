package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import java.util
import scala.collection.immutable.ListMap

import BinaryRecords.{KeyLen, RecordLen}

/** DataSource V2 provider for fixed-width 100-byte TeraSort record files:
  * `spark.read.format("terarecord").load(path)` → (key, payload, rec), all
  * binary: the 10-byte key, the 90-byte payload and the whole record. It
  * owns the one split listing and the one reader of record files:
  * `BinaryRecords.read`, TeraSort's map tasks and its driver sampler all
  * list their splits through `splits`, as Hadoop's TeraInputFormat serves
  * both the job and its partition sampler, and the scan and the map tasks
  * read a split through `SplitReader`.
  *
  * Scale behaviors built in:
  *  - splits are record-aligned byte ranges (~32 MB) — no record ever
  *    spans readers, no parsing on the driver;
  *  - a reader reads its split in runs of whole records (64 KB in the
  *    scan, 1 MB in TeraSort's map tasks), not one record per call into
  *    Hadoop's checksummed stream;
  *  - column pruning pushes into the reader: each required column is one
  *    byte range copied out of the record, so a key-only projection never
  *    materializes the 90-byte payload (9/10 of the bytes never reach
  *    the row).
  */
class TeraRecordSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "terarecord"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TeraRecordSource.fullSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TeraRecordTable(properties.get("path"))
}

object TeraRecordSource {
  val TargetSplitBytes: Long = 32L * 1024 * 1024

  /** Each column's byte range `[from, until)` in a record, in schema order. */
  private[sources] val ranges: ListMap[String, (Int, Int)] = ListMap(
    "key" -> (0, KeyLen), "payload" -> (KeyLen, RecordLen), "rec" -> (0, RecordLen))
  val fullSchema: StructType =
    StructType(ranges.keys.map(StructField(_, BinaryType, nullable = false)).toSeq)

  /** The record-aligned splits of the record files at `path` — a
    * comma-separated list of directories and files, kept in list order;
    * inside a directory, files go in name order. As in Hadoop's
    * FileInputFormat, names starting with `_` or `.` are skipped in a
    * directory; so are empty files. */
  def splits(path: String, conf: Configuration): Array[TeraRecordPartition] = {
    val files = path.split(",").flatMap { one =>
      val p = new Path(one)
      val fs = p.getFileSystem(conf)
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter { f =>
          val name = f.getPath.getName
          f.isFile && f.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")
        }.sortBy(_.getPath.getName)
      else Array(fs.getFileStatus(p))
    }
    val step = math.max(RecordLen, TargetSplitBytes / RecordLen * RecordLen) // record-aligned
    files.flatMap { f =>
      require(f.getLen % RecordLen == 0,
        s"${f.getPath}: length ${f.getLen} is not a multiple of $RecordLen")
      (0L until f.getLen by step).map { start =>
        TeraRecordPartition(f.getPath.toString, start, math.min(step, f.getLen - start))
      }
    }
  }

  /** An open split, read from its start in runs of whole records. */
  private[sources] final class SplitReader(split: TeraRecordPartition, conf: Configuration)
      extends java.io.Closeable {
    private val in = {
      val path = new Path(split.file)
      val s = path.getFileSystem(conf).open(path)
      s.seek(split.start)
      s
    }
    private var unread = split.length // bytes of the split not yet read

    /** Reads the split's next run into `buf` from its start: as many whole
      * records as `buf` holds, never past the split's end. Returns the
      * run's bytes, 0 at the split's end. */
    def read(buf: Array[Byte]): Int = {
      val n = math.min(buf.length / RecordLen * RecordLen, unread).toInt
      in.readFully(buf, 0, n)
      unread -= n
      n
    }

    override def close(): Unit = in.close()
  }
}

class TeraRecordTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"terarecord($path)"
  override def schema(): StructType = TeraRecordSource.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // capture the live session's Hadoop conf (fs settings, spark.hadoop.*)
    // at scan-build time — this runs on the driver where the session exists
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new TeraScanBuilder(path, conf)
  }
}

class TeraScanBuilder(path: String, conf: SerializableConfiguration)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = TeraRecordSource.fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new TeraScan(path, required, conf)
}

case class TeraRecordPartition(file: String, start: Long, length: Long)
  extends InputPartition

class TeraScan(path: String, required: StructType,
    private[graft] val conf: SerializableConfiguration)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"TeraRecordScan($path, columns=${required.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] =
    TeraRecordSource.splits(path, conf.value).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new TeraReaderFactory(required.fieldNames.map(TeraRecordSource.ranges), conf)
}

/** Reads a split in runs of `RunBytes` and copies each required column's
  * byte range out of the run. */
class TeraReaderFactory(slices: Array[(Int, Int)], conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TeraRecordPartition]
    new PartitionReader[InternalRow] {
      private val split = new TeraRecordSource.SplitReader(p, conf.value)
      private val run = new Array[Byte](math.min(TeraReaderFactory.RunBytes, p.length).toInt)
      private var end = 0 // bytes of the current run
      private var at = -RecordLen // offset of the current record in `run`

      override def next(): Boolean = {
        at += RecordLen
        at < end || { end = split.read(run); at = 0; end > 0 }
      }

      override def get(): InternalRow = {
        val values = new Array[Any](slices.length)
        var i = 0
        while (i < slices.length) {
          values(i) = java.util.Arrays.copyOfRange(run, at + slices(i)._1, at + slices(i)._2)
          i += 1
        }
        new GenericInternalRow(values)
      }

      override def close(): Unit = split.close()
    }
  }
}

object TeraReaderFactory {
  /** Bytes a reader reads at a time: the whole records in 64 KB. */
  val RunBytes: Long = 64L * 1024 / RecordLen * RecordLen
}
