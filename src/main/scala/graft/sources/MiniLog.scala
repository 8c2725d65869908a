package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Native MINI-LOG table format — the snapshot / time-travel commit log
  * that Delta/Iceberg provide, reduced to its load-bearing core and
  * buildable offline (no lake-format jars exist in this environment):
  *
  *  - A table is a directory of immutable parquet DATA FILES plus a
  *    `_graft_log/` directory of versioned JSON MANIFESTS. Manifest N
  *    lists the exact (bucket, file) set composing snapshot N.
  *  - A COMMIT writes only the NEW files plus one tiny manifest; files
  *    carried over from the parent snapshot are referenced by path —
  *    structural sharing, never copied. Copy-on-write merges rewrite
  *    only the buckets their keys touch (the q_merge_* machinery's
  *    partition-confined discipline, now with versioned metadata).
  *  - A READ resolves a manifest (latest or as-of-version) and scans
  *    exactly its file list — historical snapshots stay readable after
  *    later commits because no commit ever mutates or deletes a data
  *    file (vacuuming old versions is a separate, explicit act).
  *
  * At 100 TB the manifests are metadata-scale (file count, not data
  * size) and live next to the data on the object store; the JSON-file
  * log is the same mechanism as Delta's `_delta_log/N.json`. Writing a
  * manifest is a driver-side metadata write, like a partition commit.
  * Multi-writer safety is the put-if-absent claim on the manifest NAME
  * ([[tryCommit]] — the object-store primitive Delta relies on too):
  * data files are written under writer-unique tags first, so the only
  * contended resource is the version slot, and the loser's retry
  * ([[commitNext]]) rebases on the new latest manifest and claims the
  * next slot. Nothing a loser wrote is visible until a manifest names
  * it, so a failed claim leaves no torn state — only orphan files a
  * vacuum sweeps.
  */
object MiniLog {

  private def logDir(table: String): Path = Paths.get(table, "_graft_log")

  /** Write `df` (which must carry a `bucket` column) as one file per
    * bucket under `table/<tag>/bucket=<b>/`, returning bucket → file.
    * One Spark job: repartition on the bucket key so each partition
    * directory gets exactly one file. A bucket with NO surviving rows
    * produces no file and no map entry — a rewrite that empties a
    * bucket must REMOVE that bucket's key from the parent manifest map
    * (`parent - bucket ++ writeBucketFiles(...)`), or the old file stays
    * referenced; `parent ++` alone only covers non-emptying rewrites. */
  def writeBucketFiles(df: DataFrame, table: String, tag: String)
      : Map[Long, String] = {
    df.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$table/$tag")
    val base = Paths.get(table, tag)
    val dirs = Files.list(base)
    try dirs.iterator().asScala
      .filter(_.getFileName.toString.startsWith("bucket="))
      .map { bd =>
        val b = bd.getFileName.toString.stripPrefix("bucket=").toLong
        val fs = Files.list(bd)
        val pq = try fs.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally fs.close()
        require(pq.size == 1, s"expected 1 file in $bd, found ${pq.size}")
        b -> pq.head.toString
      }.toMap
    finally dirs.close()
  }

  /** Commit manifest `version` naming the snapshot's (bucket, file) set.
    * Fails loudly if a concurrent writer already claimed the version —
    * callers that expect contention use [[commitNext]] instead. */
  def commit(table: String, version: Int, files: Map[Long, String]): Unit =
    require(tryCommit(table, version, files),
      s"manifest version $version of $table was claimed by another writer " +
        "(commitNext is the contended-path API)")

  /** PUT-IF-ABSENT commit: atomically claim manifest slot `version`.
    * The manifest body is written to a hidden temp file first (opened
    * with SYNC so the bytes are on stable storage BEFORE the name
    * exists — without the fsync a crash between write and link could
    * expose a torn or empty manifest under the versioned name), then
    * PUBLISHED by hard-linking it to the versioned name — link(2) fails
    * atomically if the name exists, so no reader can observe a torn
    * manifest and no two writers can both own one version. Returns true
    * iff THIS writer won the slot. `meta` lands as a string map in the
    * manifest (e.g. the streaming sink's batchId, the key that makes a
    * Spark foreachBatch retry idempotent). */
  def tryCommit(table: String, version: Int, files: Map[Long, String],
      meta: Map[String, String] = Map.empty): Boolean = {
    Files.createDirectories(logDir(table))
    val entries = files.toSeq.sortBy(_._1).map { case (b, p) =>
      s"""{"bucket":$b,"path":"${p.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
    }
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    val metaJson =
      if (meta.isEmpty) ""
      else meta.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString(""","meta":{""", ",", "}")
    val json =
      s"""{"version":$version,"files":[${entries.mkString(",")}]$metaJson}"""
    val target = logDir(table).resolve(f"$version%08d.json")
    if (Files.exists(target)) return false // cheap pre-check; link is the gate
    // pid + thread id: two writer PROCESSES both on their main thread
    // must not share a tmp name, or one's truncating rewrite races the
    // other's link and the atomicity story collapses
    val tmp = logDir(table).resolve(
      f".$version%08d.${ProcessHandle.current().pid()}%d" +
        f".${Thread.currentThread().getId}%d.tmp")
    // a stale tmp under OUR pid+tid name is debris from a prior attempt
    // that died between write and cleanup (e.g. ENOSPC mid-write) — the
    // same pid+thread cannot be concurrently active, so deleting it is
    // safe, and NOT deleting it would wedge this slot forever for this
    // writer (CREATE_NEW would throw on every retry)
    Files.deleteIfExists(tmp)
    try {
      Files.write(tmp, json.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.SYNC)
      Files.createLink(target, tmp); true
    }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp) // also cleans up a failed write
  }

  /** The string metadata a writer attached to manifest `version` via
    * [[tryCommit]]'s `meta` (empty for manifests committed without). */
  def manifestMeta(table: String, version: Int): Map[String, String] = {
    val raw = new String(
      Files.readAllBytes(logDir(table).resolve(f"$version%08d.json")), "UTF-8")
    val metaBlock = """"meta":\{((?:[^{}"]|"(?:[^"\\]|\\.)*")*)\}""".r
    metaBlock.findFirstMatchIn(raw).map { m =>
      val kv = """"((?:[^"\\]|\\.)*)":"((?:[^"\\]|\\.)*)"""".r
      kv.findAllMatchIn(m.group(1)).map { p =>
        def un(x: String) = x.replace("\\\"", "\"").replace("\\\\", "\\")
        un(p.group(1)) -> un(p.group(2))
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Contended-path commit: claim the NEXT free version slot, rebasing
    * on each loss. `files` receives the version it is about to claim
    * and the PARENT manifest's map (empty for version 1) so a writer
    * can re-derive its structural-sharing intent against whatever the
    * winning writer just committed — the optimistic-concurrency loop
    * lake formats run. Returns the committed version. */
  @annotation.tailrec
  def commitNext(table: String,
      files: (Int, Map[Long, String]) => Map[Long, String]): Int = {
    // ONLY the two empty-log shapes mean "no parent yet"; a persistent
    // listing/parse error must propagate, not become an infinite
    // retry-at-version-1 livelock
    val parent =
      try latestVersion(table) catch {
        case _: java.nio.file.NoSuchFileException => 0 // no _graft_log yet
        case _: UnsupportedOperationException => 0 // empty.max: no manifests
      }
    // a concurrent vacuum deletes the manifests below the version it
    // keeps, so a parent manifest that vanished has a successor: re-read
    val parentFiles =
      if (parent == 0) Some(Map.empty[Long, String])
      else try Some(manifest(table, parent)) catch {
        case _: java.nio.file.NoSuchFileException => None
      }
    val v = parent + 1
    if (parentFiles.exists(p => tryCommit(table, v, files(v, p)))) v
    else commitNext(table, files)
  }

  /** Resolve manifest `version` back to its bucket → file map. A
    * corrupt or torn manifest FAILS here — the entry regex alone would
    * silently read damaged content as an empty file set, and a caller
    * (e.g. the streaming merge sink) would then "rebase" on nothing and
    * drop every committed file from the next snapshot. */
  def manifest(table: String, version: Int): Map[Long, String] = {
    val raw = new String(
      Files.readAllBytes(logDir(table).resolve(f"$version%08d.json")), "UTF-8")
    require(raw.contains(s""""version":$version"""),
      s"corrupt manifest $version of $table: version field missing or mismatched")
    // minimal parse of the writer's own format (paths JSON-escaped)
    val entry = """\{"bucket":(\d+),"path":"((?:[^"\\]|\\.)*)"\}""".r
    val parsed = entry.findAllMatchIn(raw).map { m =>
      m.group(1).toLong ->
        m.group(2).replace("\\\"", "\"").replace("\\\\", "\\")
    }.toMap
    val declared = "\"bucket\":".r.findAllMatchIn(raw).size
    require(parsed.size == declared,
      s"corrupt manifest $version of $table: $declared entries declared, " +
        s"${parsed.size} parseable")
    parsed
  }

  /** Latest committed version (manifest file names sort by version). */
  def latestVersion(table: String): Int = {
    val fs = Files.list(logDir(table))
    try fs.iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toInt).max
    finally fs.close()
  }

  /** Snapshot read AS OF `version`: scan exactly that manifest's files.
    * A snapshot with no file (an empty load, or deletes that emptied
    * every bucket) has no footer to infer a schema from, so it reads as
    * an empty frame of `schema`, the schema of the frame the table was
    * written from; only that case evaluates it. */
  def readAsOf(s: SparkSession, table: String, version: Int,
      schema: => StructType = throw new IllegalArgumentException(
        "an empty snapshot needs the table's schema")): DataFrame = {
    val files = manifest(table, version).values.toSeq.sorted
    if (files.isEmpty) s.createDataFrame(java.util.List.of[Row](), schema)
    else s.read.parquet(files: _*)
  }

  /** VACUUM — the explicit retention act every commit above relies on
    * never happening implicitly: delete the data files referenced ONLY
    * by manifests older than `keepFrom`, then the old manifests
    * themselves. Time travel below `keepFrom` ends here, by declared
    * intent; every version ≥ `keepFrom` keeps reading byte-identically
    * because its files are untouched (structural sharing means an old
    * file referenced by ANY kept manifest survives). Returns
    * (#files deleted, #files kept). Metadata-scale work: file LISTS,
    * never data.
    *
    * RETENTION GUARD (`minAgeMillis`): a file is only eligible for
    * deletion once it is older than the retention window. An IN-FLIGHT
    * concurrent writer stages data files under its unique tag BEFORE
    * any manifest names them — to a manifest-only liveness scan those
    * look dead, and deleting them would let the writer's subsequent
    * `tryCommit` publish a manifest referencing vanished files. Age is
    * the only signal that distinguishes "orphaned by a long-dead
    * writer" from "about to be committed" — the same reason Delta's
    * VACUUM enforces a retention window. Default 15 min; pass 0 only
    * when no concurrent writer can exist (e.g. single-threaded tests). */
  def vacuum(table: String, keepFrom: Int,
      minAgeMillis: Long = 15L * 60 * 1000): (Int, Int) = {
    val latest = latestVersion(table)
    require(keepFrom <= latest, s"keepFrom=$keepFrom > latest=$latest")
    val keep = (keepFrom to latest)
      .flatMap(v => manifest(table, v).values).toSet
    val cutoff = System.currentTimeMillis() - minAgeMillis
    // walkFileTree with a tolerant visitor, NOT Files.walk: a CONCURRENT
    // writer's tmp files vanish between directory listing and attribute
    // read, and Files.walk's iterator throws on that instead of skipping
    val all = scala.collection.mutable.Set.empty[String]
    Files.walkFileTree(Paths.get(table), new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(p: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        if (p.getFileName.toString.endsWith(".parquet") &&
            !p.startsWith(logDir(table)) &&
            attrs.lastModifiedTime().toMillis <= cutoff)
          all += p.toString
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException)
          : java.nio.file.FileVisitResult =
        java.nio.file.FileVisitResult.CONTINUE // vanished mid-walk → skip
    })
    val dead = all.toSet -- keep
    dead.foreach(p => Files.deleteIfExists(Paths.get(p)))
    val lfs = Files.list(logDir(table))
    try lfs.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        p.getFileName.toString.stripSuffix(".json").toInt < keepFrom)
      .toList.foreach(Files.delete)
    finally lfs.close()
    (dead.size, keep.size)
  }
}
