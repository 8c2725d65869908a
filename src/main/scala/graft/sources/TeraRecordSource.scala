package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.util
import scala.jdk.CollectionConverters._

import BinaryRecords.{KeyLen, RecordLen}

/** Java-serializable Hadoop Configuration carrier (Configuration itself is
  * Writable but not Serializable) — the standard wrapper pattern, so the
  * session's `spark.hadoop.*` settings captured on the driver reach the
  * executor-side readers instead of being silently dropped by a fresh
  * `new Configuration()`. */
class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** DataSource V2 provider for fixed-width 100-byte TeraSort record files:
  * `spark.read.format("terarecord").load(path)` → (key binary, payload
  * binary). The modern-API twin of BinaryRecords.read (which wraps the
  * legacy binaryRecords RDD).
  *
  * Scale behaviors built in:
  *  - splits are record-aligned byte ranges (~32 MB) — no record ever
  *    spans readers, no parsing on the driver;
  *  - column pruning pushes into the reader: a key-only projection skips
  *    materializing the 90-byte payload (9/10 of the bytes never reach
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
  val fullSchema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** The record-aligned splits of the record files at `path` (a directory
    * or one file), in file-name order. As in Hadoop's FileInputFormat,
    * names starting with `_` or `.` are skipped; so are empty files. */
  def splits(path: String, conf: Configuration): Array[TeraRecordPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter { f =>
          val name = f.getPath.getName
          f.isFile && f.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")
        }.sortBy(_.getPath.getName)
      else Array(fs.getFileStatus(p))
    val step = math.max(RecordLen, TargetSplitBytes / RecordLen * RecordLen) // record-aligned
    files.flatMap { f =>
      require(f.getLen % RecordLen == 0,
        s"${f.getPath}: length ${f.getLen} is not a multiple of $RecordLen")
      (0L until f.getLen by step).map { start =>
        TeraRecordPartition(f.getPath.toString, start, math.min(step, f.getLen - start))
      }
    }
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
    val conf = new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new TeraScanBuilder(path, conf)
  }
}

class TeraScanBuilder(path: String, conf: SerializableHadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = TeraRecordSource.fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new TeraScan(path, required, conf)
}

case class TeraRecordPartition(file: String, start: Long, length: Long)
  extends InputPartition

class TeraScan(path: String, required: StructType,
    private[graft] val conf: SerializableHadoopConf)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"TeraRecordScan($path, columns=${required.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] =
    TeraRecordSource.splits(path, conf.value).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new TeraReaderFactory(required.fieldNames, conf)
}

class TeraReaderFactory(columns: Array[String], conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TeraRecordPartition]
    new PartitionReader[InternalRow] {
      private val fs = new Path(p.file).getFileSystem(conf.value)
      private val in = fs.open(new Path(p.file))
      in.seek(p.start)
      private val buf = new Array[Byte](RecordLen)
      private var remaining = p.length / RecordLen
      private val wantKey = columns.contains("key")
      private val wantPayload = columns.contains("payload")

      override def next(): Boolean = {
        if (remaining <= 0) return false
        in.readFully(buf)
        remaining -= 1
        true
      }

      override def get(): InternalRow = {
        val vals = columns.map {
          case "key" if wantKey => java.util.Arrays.copyOfRange(buf, 0, KeyLen)
          case "payload" if wantPayload => java.util.Arrays.copyOfRange(buf, KeyLen, RecordLen)
          case other => throw new IllegalArgumentException(s"unknown column $other")
        }
        new GenericInternalRow(vals.asInstanceOf[Array[Any]])
      }

      override def close(): Unit = in.close()
    }
  }
}
