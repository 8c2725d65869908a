package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Budget-proofing (r19 verdict item 1 — the r19 driver verify never
  * completed on a degraded box and left an EMPTY record): oracle_sql.json
  * is written FIRST, every successful dump prints `[verify] ok <name>
  * <secs>`, and the dump order is cheapest-first by the newest Bench
  * record, so a driver-side timeout leaves the LARGEST diagnosable
  * partial record instead of `{}` — the expensive staged-build families
  * (ANN, streaming) can no longer starve the other ~150 queries. */
object Verify {
  /** Per-query seconds of the newest `bench_c<cpus>.json` Bench wrote
    * into `dir`, or none without a readable record. */
  private[graft] def benchSeconds(dir: String): Map[String, Double] = {
    val records = Option(new java.io.File(dir).listFiles(
      (_, n) => n.matches("bench_c\\d+\\.json"))).toSeq.flatten
    records.sortBy(_.lastModified).lastOption.fold(Map.empty[String, Double]) { f =>
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        .get("queries").properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap
      catch { case e: Exception =>
        System.err.println(s"[verify] ignoring unreadable $f: $e")
        Map.empty
      }
    }
  }

  /** Cheapest first by `seconds`, then the queries with no time, by name. */
  private[graft] def dumpOrder(names: Seq[String],
      seconds: Map[String, Double]): Seq[String] =
    names.sortBy(n => seconds.get(n).fold((1, 0.0, n))(t => (0, t, n)))

  def main(args: Array[String]): Unit = {
    Scratch.init() // match Bench's scratch placement (SCALE.md)
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated name prefixes); the driver
    // never sets it, so the graded run always dumps the full fleet
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // loud when active (mirrors Bench's WARMUP REFUSED guard): a leaked
    // SPARK_GRAFT_ONLY in a graded environment must not silently subset
    // the correctness dump
    only.foreach { prefixes =>
      val n = SparkEntry.queries.keys.count(selected)
      System.err.println(
        s"[verify] *** SPARK_GRAFT_ONLY ACTIVE — dumping $n of " +
        s"${SparkEntry.queries.size} queries (prefixes: " +
        s"${prefixes.mkString(",")}); NOT a full graded run ***")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json FIRST: if a driver-side budget kills the run
    // mid-dump, the completed queries are still checkable (r19's empty
    // CORRECTNESS artifact is exactly what this ordering prevents)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // cheapest-first: the ~150 sub-second queries all land before the
    // first staged-build family
    val order = dumpOrder(SparkEntry.queries.keys.toSeq, benchSeconds("target"))
    val t0 = System.nanoTime()
    var done = 0
    order.filter(selected).foreach { name =>
      val fn = SparkEntry.queries(name)
      val q0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        done += 1
        // per-query completion line: a timeout leaves a partial,
        // per-query-diagnosable record instead of silence
        System.err.println(
          f"[verify] ok $name ${(System.nanoTime() - q0) / 1e9}%.2f " +
            f"(${done} done, ${(System.nanoTime() - t0) / 1e9}%.0f s total)")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free this query's localCheckpoint blocks (see Bench)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
