package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: these properties are what make the
  * queries scale (SCALE.md); losing one silently would keep results
  * correct but wreck the 100 TB story. */
class PlanQualitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** For the ANN published-answer queries the REGISTERED frame is a
    * staged-result read (AnnOps.publishedAnswer) — the shape worth
    * pinning is the inner pipeline that the stage build executes, so
    * those tests pass the inner frame here. */
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("FLEET-WIDE: no batch query plans a CartesianProduct") {
    // the one guarantee every scale argument rests on: candidate
    // generation is equi-join/broadcast everywhere. Streaming queries
    // are excluded (building their frame EXECUTES the stream; their
    // shapes are pinned by their own specs), as are the two queries
    // whose cartesian is the documented point: q_join_cross grades the
    // cross join itself, q_sim_topk is the declared brute-force
    // baseline. Broadcast nested-loop joins (small side broadcast) are
    // NOT cartesians and stay allowed.
    val skip = Set("q_join_cross", "q_sim_topk")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream"))
      .filterNot(skip)
      .filter { name =>
        plan(name).contains("CartesianProduct")
      }
    assert(offenders.isEmpty,
      s"unexpected CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("Q6-shape filters push into the parquet scan") {
    val p = plan("q_scan_filter_project")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "shipdate predicate not pushed to scan")
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      "unused columns not pruned from the scan")
  }

  test("dim joins broadcast (fact side never shuffles for the join)") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast hash join for dims")
  }

  test("global sort plans a range-partitioning exchange (TeraSort shape)") {
    val p = plan("q_sort_global")
    assert(p.contains("rangepartitioning"), "expected RangePartitioning exchange")
    assert(p.contains("Sort"), "expected per-partition SortExec")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_topk")
    assert(p.contains("TakeOrderedAndProject"), "expected top-k operator")
  }

  test("windowed top-k is two-phased (the TopKPerGroup rewrite)") {
    // the bounded-heap rewrite: ≤ k rows per group cross the wire
    val p = planOf(AnnOps.lshSearchGraded(spark, sf))
    assert(p.contains("TopKPerGroup"), s"rank-limit two-phase missing:\n$p")
    // the fleet-wide no-cartesian test sees the published-answer parquet
    // scan for this query, so the LSH pipeline's own plan must carry the
    // audit — band-keyed candidate equi-join, probe side broadcast, never
    // all-pairs
    assert(!p.contains("CartesianProduct"),
      s"LSH candidate generation must stay a band equi-join:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the probe-signature side should broadcast into the band join:\n$p")
  }

  test("IVF candidates come from the cell equi-join with broadcast probes; no cartesian") {
    // r15 ADVICE: q_sim_ann_ivf's registered frame is a staged-answer
    // read, so the fleet-wide audit no longer sees the pipeline — pin
    // the inner frame directly (same treatment as the PQ/prefix tests)
    val p = planOf(ScaleOps.ivfSearch(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"IVF scoring must never cross vectors with vectors:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the nprobe-cell probe fan-out should broadcast into the cell join:\n$p")
    assert(p.contains("TopKPerGroup"),
      s"the per-probe top-3 should stay a two-phase rank limit:\n$p")
  }

  test("native as-of join plans AsOfJoinExec with co-partitioned sorted children") {
    val p = plan("q_join_asof_native")
    assert(p.contains("AsOfJoin"), "native operator not planned")
    assert(p.contains("hashpartitioning"), "children not hash co-partitioned")
  }

  test("vector kernels appear as expressions, not interpreted lambdas, in ANN plans") {
    val p = plan("q_dedup_embed")
    assert(p.contains("graft_dot"), "codegen'd dot kernel missing from plan")
  }

  test("stratified sample scan prunes to the four referenced columns") {
    val p = plan("q_sample_stratified")
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      s"unused lineitem columns not pruned:\n$p")
  }

  test("redaction is row-local: exactly one exchange (the lang rollup)") {
    val p = plan("q_text_redact")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size === 1,
      s"redaction should shuffle only the final rollup:\n$p")
  }

  test("contamination plans a broadcast of the benchmark set, never all-pairs") {
    val p = plan("q_text_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs operator allowed:\n$p")
  }

  test("simhash pairs come from a band equi-join, never all-pairs") {
    val p = plan("q_dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be an equi-join:\n$p")
  }

  test("fingerprint is a zero-shuffle plan (row-local shingling)") {
    val p = plan("q_text_fingerprint")
    assert(!p.contains("Exchange hashpartitioning"),
      s"fingerprint must not shuffle — shingling is row-local:\n$p")
    assert(!p.contains("Window"),
      s"fingerprint must not use a per-doc window:\n$p")
  }

  test("repetition and quality shuffle only the (lang, bucket) rollup") {
    Seq("q_text_repetition", "q_text_quality").foreach { n =>
      val p = plan(n)
      assert("Exchange hashpartitioning".r.findAllMatchIn(p).size === 1,
        s"$n should shuffle only the final rollup:\n$p")
      assert(!p.contains("Window"), s"$n must not use a per-doc window:\n$p")
    }
  }

  test("ORC round-trip pushes the quantity filter into the ORC scan") {
    val p = plan("q_source_orc")
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      s"quantity predicate not pushed to the ORC scan:\n$p")
  }

  test("null-safe join plans as a hash join on coalesced keys, not a theta join") {
    val p = plan("q_join_null_safe")
    assert(p.contains("BroadcastHashJoin"),
      s"<=> join key should plan as a broadcast hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe equality degenerated to a nested-loop join:\n$p")
  }

  test("edit-distance dedup candidates come from an equi-join, never all-pairs") {
    val p = plan("q_text_editdist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix blocking must be an equi-join:\n$p")
  }

  test("PQ encoding is row-local: codebook and ADC table reach it as broadcasts") {
    val p = planOf(AnnOps.pqSearchGraded(spark, sf))
    assert(p.contains("BroadcastExchange"),
      s"codebook/ADC table should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"PQ scoring must join on (m, code), never cross vectors with vectors:\n$p")
  }

  test("IVF-PQ candidates come from the cell equi-join; all small sides broadcast") {
    val p = planOf(AnnOps.ivfPqSearch(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"IVF-PQ scoring must never cross vectors with vectors:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"centroids/codebook/ADC tables should broadcast:\n$p")
  }

  test("prefix-inside-IVF joins staged cells to broadcast probes; no cartesian") {
    val p = planOf(AnnOps.ivfPrefixSearchGraded(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"cell-confined prefix scoring must never go all-pairs:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 40-row probe fan-out should broadcast into the cell join:\n$p")
    // both rank limits (prefix shortlist + final top-3) stay two-phased
    assert(p.contains("TopKPerGroup"),
      s"shortlist/top-k windows should plan the bounded-heap shape:\n$p")
  }

  test("count-min probes read the one-row sketch via broadcast") {
    val p = plan("q_agg_count_min")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row sketch aggregate should broadcast to the probes:\n$p")
  }

  test("moment statistics partial-aggregate before the group shuffle") {
    val p = plan("q_agg_stats_moments")
    // two HashAggregate layers around one exchange = map-side combine
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final hash aggregation:\n$p")
  }

  test("mixture sampling broadcasts the threshold table; the corpus never sort-merge joins") {
    val p = plan("q_sample_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"5-row threshold table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the threshold join:\n$p")
  }

  test("sequence packing windows over (lang, shard), never a single global partition") {
    val p = plan("q_pack_sequences")
    assert(p.contains("Window"), s"expected a running-sum window:\n$p")
    assert(p.contains("shard"),
      s"window must partition by the shard key (global-order packing would bottleneck):\n$p")
  }

  test("partitioned sink read-back prunes lang directories at plan time") {
    val p = plan("q_sink_partitioned")
    assert(p.contains("graft_part_docs"),
      s"read-back must scan the partitioned table:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"lang IN (...) should prune partitions at the scan:\n$p")
  }

  test("semantic dedup clusters cell-locally: MapGroups after a cell equi-join, no cartesian, no round loop") {
    val p = plan("q_dedup_semantic")
    assert(p.contains("MapGroups"),
      s"expected the per-cell flatMapGroups union-find pass:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"within-cell pairing must stay a cell equi-join:\n$p")
    assert(p.contains("cell_id"),
      s"pair join must key on cell_id:\n$p")
  }

  test("curation funnel is one spine: no union of per-stage aggregates") {
    val p = plan("q_pipeline_curation")
    assert(!p.contains("Union"),
      s"funnel counts must come from one conditional-count rollup, not a union re-running stage chains:\n$p")
  }

  test("persisted ANN index probe reads the saved table with runtime cell pruning") {
    val p = plan("q_sim_ann_index")
    assert(p.contains("graft_ann_index"),
      s"probe must read the persisted index table, not recompute codes:\n$p")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"probe scan should prune cell partitions via dynamic partition pruning:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"index probe must never cross vectors with vectors:\n$p")
  }

  test("BPE apply joins the corpus to a BROADCAST vocabulary dictionary") {
    val p = plan("q_text_bpe_apply")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab dictionary must broadcast — the corpus never shuffles to tokenize:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side sort-merge join means the dictionary stopped broadcasting:\n$p")
  }

  test("ANN recall truths broadcast their probes; no vector-by-vector cartesian") {
    // the truths are computed in ONE pass (tagged probe union, single
    // cross-join, per-(method,probe) window) and consumed via a lazy
    // checkpoint, so the assertion targets the un-checkpointed truth
    // frame — built EXACTLY as recallFrames builds the one that executes
    // (the two-view corpus against every scorecard method)
    val truth = AnnOps.recallTruth(AnnOps.recallViews(spark, sf),
      AnnOps.recallMethods)
    val p = truth.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"brute-force truths must be broadcast-nested-loop over ≤60 probes:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast probe cross-join in the truth plan:\n$p")
    // and no frame regresses to a cartesian anywhere
    AnnOps.recallFrames(spark, sf).foreach { df =>
      val fp = df.queryExecution.executedPlan.toString
      assert(!fp.contains("CartesianProduct"), s"cartesian in a recall frame:\n$fp")
    }
  }

  test("kNN join partitions by cell — never broadcasts the corpus-sized probe side") {
    val p = plan("q_sim_knn_join")
    assert(p.contains("ShuffledHashJoin"),
      s"the pair join must be the cell-keyed shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the kNN join:\n$p")
  }

  test("merge-overwrite's write input scans only the change set's partition") {
    // the ACTUAL frame mergeOverwriteEn writes: every documents scan in
    // it must carry the lang pushdown — the merge reads the affected
    // partition + its delta, never the table
    val base = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_chars"),
        org.apache.spark.sql.functions.col("lang"))
    val p = RelOps.mergedEn(base).queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty)
    scans.foreach(l => assert(l.contains("EqualTo(lang,en)"),
      s"a documents scan in the merge write plan lost the lang pushdown:\n$l"))
  }

  test("bloom dedup probes a BROADCAST bitmap; the corpus is never self-joined") {
    val p = plan("q_dedup_bloom")
    assert(p.contains("BroadcastHashJoin"),
      s"probe side must join the broadcast (block, word) bitmap:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"history×probe must never be a corpus-sized join:\n$p")
  }

  test("weighted sample plans the two-phase rank limit, not a full sort") {
    val p = plan("q_sample_weighted")
    assert(p.contains("TopKPerGroup"),
      s"priority top-k per source must be two-phase:\n$p")
  }

  test("prefix ANN broadcasts probes and bounds both rank windows") {
    val p = planOf(AnnOps.prefixSearchGraded(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe fan-out must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus must never cartesian:\n$p")
    assert(p.contains("TopKPerGroup"),
      s"shortlist/top-3 windows must be two-phase rank limits:\n$p")
  }

  test("bit quantization broadcasts probes; Hamming sweep never shuffles the corpus") {
    val p = planOf(AnnOps.bitSearch(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe fan-out must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus must never cartesian:\n$p")
    assert(p.contains("TopKPerGroup"),
      s"shortlist/top-5 windows must be two-phase rank limits:\n$p")
  }

  test("z-order box query pushes both raw-column predicates into the clustered scan") {
    // the layout's whole point: the read path is stock — min/max file
    // skipping needs the predicates AT the scan, nothing custom
    val p = plan("q_layout_zorder")
    assert(p.contains("PushedFilters") && p.contains("o_custkey"),
      s"custkey bound not pushed to the clustered-table scan:\n$p")
    assert(p.contains("o_orderdate"),
      s"date bound not pushed to the clustered-table scan:\n$p")
  }

  test("HLL sketch partial-aggregates before the group shuffle") {
    // map-side combine of 256-byte registers is what makes the sketch a
    // shuffle-volume win; losing the partial phase would ship raw hashes
    val p = plan("q_agg_hll")
    assert(p.contains("partial_graft_hll"),
      s"expected a partial (map-side) graft_hll phase:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate should plan ObjectHashAggregate:\n$p")
  }

  test("incremental dedup joins the signature store by band keys, never all-pairs") {
    val p = plan("q_dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"store/batch joins must be band-keyed equi-joins:\n$p")
  }

  test("correlated LATERAL decorrelates to a rank-limit join, not a per-row loop") {
    val p = plan("q_join_lateral")
    assert(p.contains("TopKPerGroup"),
      s"expected the LIMITed lateral subquery to decorrelate into a two-phase rank limit:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral must not execute per driving row:\n$p")
  }

  test("SCD2 merge plans keyed joins only (no nested loop over the dimension)") {
    val p = plan("q_merge_scd2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dimension/batch joins must be keyed:\n$p")
  }

  test("quantile sketch aggregates map-side (partial before the shuffle)") {
    val p = plan("q_agg_quantile_sketch")
    assert(p.contains("partial_graft_quantile"),
      s"expected a partial (map-side) graft_quantile aggregate:\n$p")
    assert(p.contains("graft_quantile_merge"),
      s"expected the merge aggregate in the rollup:\n$p")
  }

  test("interval join is a bucket EQUI-join — no nested-loop, no cartesian") {
    val p = plan("q_join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join must not plan as a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the time bucket:\n$p")
  }

  test("pattern match plans ONE user shuffle + row-local folds, no regex calls") {
    // r15 parameterized form: all graded patterns fold (aggregate()
    // lambdas) over one collect_list — exactly one data exchange on
    // user_id, no window, no join, and still no regex engine
    val p = plan("q_window_pattern")
    assert(p.contains("collect_list") && p.contains("aggregate("),
      s"expected the per-user fold over one collect_list:\n$p")
    assert(!p.contains("Join"), s"the fold form needs no join:\n$p")
    assert(p.sliding("hashpartitioning".length).count(_ == "hashpartitioning") == 1,
      s"expected exactly one user_id hash exchange:\n$p")
    assert(!p.toLowerCase.contains("rlike") && !p.toLowerCase.contains("regexp_count"),
      "pattern matching must not lean on a regex engine")
  }

  test("bitmap distinct partial-aggregates before the container shuffle") {
    val p = plan("q_agg_distinct_bitmap")
    assert(p.contains("graft_bitmap_distinct"), s"expected the native aggregate:\n$p")
    assert(p.contains("partial_graft_bitmap_distinct") ||
      p.contains("Partial") || p.contains("ObjectHashAggregate"),
      s"expected a map-side partial for the bitmap agg:\n$p")
  }

  test("pagerank's per-round plans stay shallow (lineage cut each round)") {
    // without the per-round Checkpoints.cut the 5 rounds nest into a
    // ~1000-node plan; with it the final plan sees only LogicalRDDs
    val p = plan("q_graph_pagerank")
    assert(p.contains("Scan ExistingRDD") || p.contains("ExistingRDD"),
      s"expected checkpointed round inputs in the final plan:\n$p")
    assert(p.length < 20000,
      s"pagerank plan blew up to ${p.length} chars — lineage cut lost?")
  }

  test("time-travel snapshot read scans EXACTLY the manifest's file set") {
    import graft.sources.MiniLog
    // drive the graded build, then compare the as-of reader's input
    // files against the committed manifest — a reader that lists the
    // directory instead of resolving the log would also see v1's
    // superseded file and v3's rewrite
    SparkEntry.queries("q_timetravel")(spark, sf).collect()
    val table = RelOps.timetravelLog(spark, sf)
    val manifest2 = MiniLog.manifest(table, 2).values.toSet
    val scanned = MiniLog.readAsOf(spark, table, 2).inputFiles.toSet
      .map((u: String) => new java.net.URI(u).getPath)
    assert(scanned === manifest2,
      s"snapshot scan diverges from manifest:\nscanned=$scanned\nmanifest=$manifest2")
  }
}
