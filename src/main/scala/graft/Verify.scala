package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Budget-proofing, so that a run killed on a slow box still leaves a
  * record: oracle_sql.json is written FIRST, every successful dump prints
  * `[verify] ok <name> <secs>`, and the dump order is cheapest-first by
  * the newest Bench record, so a driver-side timeout leaves the LARGEST
  * diagnosable partial record instead of `{}` — the expensive
  * staged-build families (ANN, streaming) cannot starve the other ~150
  * queries. */
object Verify {
  /** Per-query seconds of the newest `bench_c<cpus>.json` Bench wrote
    * into `dir`, or none without a readable record. */
  private[graft] def benchSeconds(dir: String): Map[String, Double] = {
    val records = Option(new java.io.File(dir).listFiles(
      (_, n) => n.matches("bench_c\\d+\\.json"))).toSeq.flatten
    records.sortBy(_.lastModified).lastOption.fold(Map.empty[String, Double]) { f =>
      try new ObjectMapper().readTree(f)
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

  def main(args: Array[String]): Unit = Runner.run { (spark, env) =>
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()
    // loud when active: a leaked SPARK_GRAFT_ONLY in a graded environment
    // must not silently subset the correctness dump
    def selected(name: String): Boolean = env.only.forall(_.exists(name.startsWith))
    env.only.foreach { prefixes =>
      System.err.println(s"[verify] *** SPARK_GRAFT_ONLY ACTIVE — dumping " +
        s"${SparkEntry.queries.keys.count(selected)} of ${SparkEntry.queries.size} " +
        s"queries (prefixes: ${prefixes.mkString(",")}); NOT a full graded run ***")
    }
    // oracle_sql.json FIRST: if a budget kills the run mid-dump, the
    // completed queries are still checkable
    val oracle = new java.util.LinkedHashMap[String, String]
    SparkEntry.oracleSql.foreach { case (k, v) => oracle.put(k, v) }
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"), oracle)
    val t0 = System.nanoTime()
    var done = 0
    // each success prints a line, so a timeout leaves a per-query record
    Runner.loop(spark, sfDir, Runner.named(dumpOrder(SparkEntry.queries.keys.toSeq,
        benchSeconds("target")).filter(selected)), n => s"[verify] $n failed",
      ok = { (name, secs) =>
        done += 1
        System.err.println(f"[verify] ok $name $secs%.2f " +
          f"($done done, ${(System.nanoTime() - t0) / 1e9}%.0f s total)")
      }) { (name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name") }
  }
}
