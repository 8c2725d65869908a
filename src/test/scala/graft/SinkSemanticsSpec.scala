package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The two round-8 sink contracts:
  *
  *  - q_merge_overwrite's dynamic partition overwrite must leave every
  *    partition OUTSIDE the change set byte-identical on disk — that is
  *    the whole point of the operator (rewrite cost scales with the
  *    change set, not the table).
  *  - q_stream_sink's parquet file sink must be exactly-once across a
  *    checkpoint restart: a second stream start on the same checkpoint
  *    (StreamOps.streamSinkRestart, driven by this spec since r16)
  *    commits nothing, so the bytes on disk equal what the metadata log
  *    resolves — no orphaned duplicate output.
  */
class SinkSemanticsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** (relative name → content hash) for every data file under dir. */
  private def fileHashes(dir: Path): Map[String, Int] = {
    if (!Files.isDirectory(dir)) return Map.empty
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => dir.relativize(p).toString ->
        java.util.Arrays.hashCode(Files.readAllBytes(p)))
      .toMap
  }

  test("dynamic partition overwrite leaves untouched partitions byte-identical") {
    val base = RelOps.writeMergeBase(spark, sf)
    val tableDir = Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "graft_merge_docs")
    val langs = base.select("lang").distinct().collect().map(_.getString(0)).sorted
    assert(langs.contains("en"), "change set targets lang=en; fixture must have it")
    val untouched = langs.filterNot(_ == "en")
    assert(untouched.nonEmpty)
    val before = untouched.map(l => l -> fileHashes(tableDir.resolve(s"lang=$l"))).toMap
    val enBefore = fileHashes(tableDir.resolve("lang=en"))
    assert(enBefore.nonEmpty)

    RelOps.mergeOverwriteEn(spark, base)

    untouched.foreach { l =>
      val after = fileHashes(tableDir.resolve(s"lang=$l"))
      assert(after === before(l),
        s"lang=$l was not in the change set but its files changed")
    }
    val enAfter = fileHashes(tableDir.resolve("lang=en"))
    assert(enAfter.keySet.intersect(enBefore.keySet).isEmpty,
      "lang=en must have been rewritten (fresh files)")
    // and the merged state is visible through the table
    val n = spark.table("default.graft_merge_docs")
      .filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    val nBase = base.filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    assert(n > nBase, "inserts must have landed in the en partition")
  }

  test("index rebalance touches ONLY the split cell's directory") {
    import org.apache.spark.sql.functions.col
    val bigCell = AnnOps.rebalanceBuild(spark, sf).get
    val tableDir = Paths.get(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "graft_ann_index_r")
    val cells = spark.table("default.graft_ann_index_r")
      .select(col("cell_id")).distinct().collect().map(_.getLong(0)).sorted
    val untouched = cells.filterNot(_ == bigCell)
    assert(untouched.nonEmpty && cells.contains(bigCell))
    val before = untouched.map(c =>
      c -> fileHashes(tableDir.resolve(s"cell_id=$c"))).toMap
    val bigBefore = spark.table("default.graft_ann_index_r")
      .filter(col("cell_id") === bigCell)
      .select(col("vec_id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val total = spark.table("default.graft_ann_index_r").count()

    AnnOps.rebalanceCompact(spark, sf, bigCell)

    untouched.foreach { c =>
      assert(fileHashes(tableDir.resolve(s"cell_id=$c")) === before(c),
        s"cell_id=$c was not split but its files changed")
    }
    assert(!Files.isDirectory(tableDir.resolve(s"cell_id=$bigCell")),
      "the split cell's directory must be dropped")
    val after = spark.table("default.graft_ann_index_r")
    assert(after.count() === total, "rebalance must not lose or add rows")
    // the moved rows keep their FROZEN codes and land only in cells 8/9
    val moved = after.filter(col("cell_id") >= 8)
      .select(col("vec_id"), col("codes"), col("cell_id")).collect()
    assert(moved.map(_.getLong(0)).toSet === bigBefore.keySet)
    moved.foreach { r =>
      assert(r.getSeq[Int](1) === bigBefore(r.getLong(0)),
        s"vec ${r.getLong(0)} was re-encoded during rebalance")
    }
  }

  test("merge-overwrite query is rerun-idempotent in one session") {
    val a = RelOps.qMergeOverwrite(spark, sf).collect().map(_.toSeq)
    val b = RelOps.qMergeOverwrite(spark, sf).collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("streaming file sink is exactly-once: bytes on disk == metadata-resolved rows") {
    val res = StreamOps.qStreamSink(spark, sf).collect()
    assert(res.nonEmpty)
    // exactly-once RESTART: start the same stream on the same checkpoint
    // with no new source files — the sink's commit log must re-emit
    // nothing (since r16 the restart lives here, not in the timed query)
    StreamOps.streamSinkRestart(spark, sf)
    val out = RelOps.stagingDir(spark, "stream_sink_out")
    // rows resolved through the sink's _spark_metadata commit log
    val resolved = spark.read.parquet(out).count()
    // rows in the raw part files, bypassing the log — if the second
    // stream start (the restart inside the query) had re-committed any
    // batch, orphaned duplicates would show up here
    val partFiles = Files.list(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq
    assert(partFiles.nonEmpty)
    val raw = spark.read.parquet(partFiles: _*).count()
    assert(raw === resolved,
      "raw part-file rows differ from metadata-resolved rows: duplicate commit")
  }

  test("stream-sink query is rerun-idempotent and equals the batch aggregation") {
    val a = StreamOps.qStreamSink(spark, sf).collect().map(_.toSeq)
    val b = StreamOps.qStreamSink(spark, sf).collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
    val batch = StreamOps.qStreamTumbling(spark, sf).collect().map(_.toSeq)
    assert(a.sameElements(batch))
  }
}
