package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Budget-proofing (r19 verdict item 1 — the r19 driver verify never
  * completed on a degraded box and left an EMPTY record): oracle_sql.json
  * is written FIRST, every successful dump prints `[verify] ok <name>
  * <secs>`, and the dump order is cheapest-first (static measured-cost
  * hints below), so a driver-side timeout leaves the LARGEST diagnosable
  * partial record instead of `{}` — the expensive staged-build families
  * (ANN, streaming) can no longer starve the other ~150 queries. */
object Verify {
  /** Static dump-order hints: measured full-fleet bench seconds
    * (target/bench.json, sf0.1, 8 cpus, r19 driver run) for every query
    * that cost ≥1 s; unlisted queries default to 0 and run first in name
    * order. The ABSOLUTE numbers are stale the moment code changes — only
    * the ORDERING is consumed, and a coarse, slightly-stale order still
    * achieves the goal (cheap majority first, staged-build families last).
    * Untimed-fleet members (no bench row) carry family-informed guesses. */
  private val costHint: Map[String, Double] = Map(
    "q_join_cross" -> 1.0, "q_dedup_simhash_pairs" -> 1.1,
    "q_tpch_q18" -> 1.1, "q_merge_overwrite" -> 1.1,
    "q_dedup_embed" -> 1.1, "q_dedup_incremental" -> 1.2,
    "q_source_csv_robust" -> 1.2, "q_maintenance_compact" -> 1.2,
    "q_source_corrupt_resilience" -> 1.3, "q_timetravel" -> 1.3,
    "q_sim_knn_join" -> 1.4, "q_sim_ann_ivf" -> 1.5,
    "q_sim_ann_ivf_trained" -> 1.5, "q_sim_ann_ivf_pq" -> 1.5,
    "q_text_lm_score" -> 1.5, "q_join_broadcast" -> 1.5,
    "q_join_anti" -> 1.5, "q_sink_partitioned" -> 1.5,
    "q_dedup_substring" -> 1.5, "q_sort_range_partition" -> 1.6,
    "q_sim_ann_index_delete" -> 1.6, "q_pairs_contrastive" -> 1.6,
    "q_join_asof_native" -> 1.6, "q_join_full_outer" -> 1.6,
    "q_agg_approx_percentile" -> 1.6, "q_sim_ann_index_incr" -> 1.7,
    "q_sim_ann_pq" -> 1.7, "q_join_salted" -> 1.7,
    "q_dedup_components" -> 1.7, "q_agg_approx_distinct" -> 1.8,
    "q_source_schema_evolution" -> 2.0, "q_sim_ann_index_rebalance" -> 2.2,
    "q_text_bpe_apply" -> 2.2, "q_join_interval" -> 2.2,
    "q_merge_scd2" -> 2.2, "q_graph_pagerank" -> 2.3,
    "q_join_sortmerge" -> 2.3, "q_graph_triangles" -> 2.5,
    "q_sql_pipe" -> 2.6, "q_pipeline_curation" -> 2.8,
    "q_sort_validate" -> 2.8, "q_source_terarecord" -> 2.9,
    "q_source_json_csv" -> 2.9, "q_stream_transform_state" -> 2.9,
    "q_layout_zorder" -> 3.1, "q_sim_ann_lsh" -> 3.2,
    "q_stream_sink" -> 3.5, "q_stream_live" -> 3.6,
    "q_stream_live_sliding" -> 4.0, "q_source_orc" -> 4.2,
    "q_stream_live_dedup" -> 4.3, "q_stream_minilog" -> 5.2,
    "q_stream_pattern" -> 5.6, "q_stream_enrich" -> 5.6,
    "q_stream_live_session" -> 6.2, "q_join_bucketed" -> 6.8,
    "q_sim_ann_index" -> 6.9, "q_sim_ann_recall" -> 8.0,
    "q_stream_join" -> 10.5, "q_stream_join_outer" -> 12.8,
    // untimed fleet (no bench row): batch twins are cheap; the live
    // custom-state twin starts a real streaming engine; the sequential
    // BPE trainer runs BpeRounds driver-sequential jobs
    "q_stream_custom_state" -> 3.0, "q_text_bpe" -> 4.0,
    "q_sim_topk" -> 1.5, "q_dedup_minhash_agg" -> 1.0,
    "q_join_asof" -> 1.0, "q_window_pattern" -> 1.0,
    "q_sim_ann_prefix" -> 1.0)
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
    // cheapest-first (then name: deterministic): the ~150 sub-second
    // queries all land before the first staged-build family
    val order = SparkEntry.queries.toSeq
      .sortBy { case (name, _) => (costHint.getOrElse(name, 0.0), name) }
    val t0 = System.nanoTime()
    var done = 0
    order.filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
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
