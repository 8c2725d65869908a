package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** LLM-training-data pipeline operators (BASELINE.json north star): exact
  * dedup, MinHash+LSH near-dup, brute-force cosine top-k similarity, text
  * statistics, multimodal struct assembly. All expression-based (HOFs, no
  * black-box UDFs) so Catalyst keeps optimizing and the DuckDB oracle can
  * reproduce every bit.
  *
  * Portability + scale: shingles are hashed DIRECTLY from their text with
  * md5 (identical bytes-in/hex-out in every engine), taking the first 48
  * bits mod 2^31-1. This is the scale path — a pure per-row content hash
  * with no vocabulary dimension, no global window, no driver state — and
  * it is simultaneously the oracle path, since DuckDB computes the same
  * md5 prefix bit-for-bit. The MinHash permutations on top are explicit
  * LCGs mod the same Mersenne prime.
  */
object LlmOps extends QueryModule {
  import Tables._

  private val P = 2147483647L

  /** Portable 31-bit content hash of a string column: first 12 hex chars
    * (48 bits) of md5, mod 2^31-1. Spark: conv(hex,16,10); DuckDB:
    * ('0x'||hex)::BIGINT — verified bit-identical. */
  private[graft] def textHash(sqlExpr: String): String =
    s"CAST(conv(substring(md5($sqlExpr), 1, 12), 16, 10) AS BIGINT) % $P"

  private[graft] def textHashSql(sqlExpr: String): String =
    s"CAST(('0x' || substr(md5($sqlExpr), 1, 12)) AS BIGINT) % $P"

  /** Cosine building block: sequential left-fold sum of squares, forced to
    * double per element — bit-identical to DuckDB's list arithmetic. */
  private def sumSq(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup after canonicalization: key = sorted distinct token set
    * (raw texts are all unique at every sf, so raw-text dedup would be a
    * vacuous check; token-set canonicalization is the realistic "same
    * content, different order/repetition" collapse). Survivor per group =
    * min(doc_id) — never dropDuplicates, which keeps an arbitrary row.
    * One shuffle on the canonical key, one broadcast-back for lang. */
  def qDedupExact(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val groups = docs
      .withColumn("canon",
        array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
      .groupBy(col("canon"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
    groups
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_survivors"),
        sum(col("group_size")).as("n_docs"))
      .orderBy(col("lang"))
  }

  val qDedupExactSql: String =
    """WITH canon AS (
      |  SELECT doc_id,
      |    array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS canon
      |  FROM documents),
      |g AS (SELECT canon, MIN(doc_id) AS doc_id, COUNT(*) AS group_size
      |      FROM canon GROUP BY canon)
      |SELECT d.lang, COUNT(*) AS n_survivors,
      |  CAST(SUM(g.group_size) AS BIGINT) AS n_docs
      |FROM g JOIN documents d ON g.doc_id = d.doc_id
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ------------------------------------------------------- MinHash near-dup

  /** Near-dup candidate clusters via MinHash + LSH banding.
    * Pipeline: tokenize → 3-token shingles → v = 31-bit md5 content hash
    * of the shingle TEXT (no vocabulary dimension) → 16 MinHash
    * signatures (LCGs mod 2^31-1, graft.functions.MinHash) → 4 LSH bands
    * of 4 rows each → band-buckets with ≥2 docs are candidate near-dup
    * clusters.
    * Every stage is a keyed shuffle or row-local — no driver-side state. */
  /** (doc_id, v) 3-token shingle values — shared by the near-dup,
    * fingerprint-style, and UDAF-sketch queries. Shingling is ROW-LOCAL: an
    * array `transform` over token indices inside each document row — no
    * per-doc window, no shuffle, embarrassingly parallel at any corpus size.
    * Docs under 3 tokens yield no shingles, exactly as the oracle's LEAD(t3)
    * IS NOT NULL filter. */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 2), i -> " +
          textHash("concat_ws(' ', tk[i-1], tk[i], tk[i+1])") + ")")).as("v"))

  /** The matching DuckDB shingle CTE (doc_id, v). */
  private[graft] val shinglesSqlCte: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |led AS (SELECT doc_id, tok,
       |          LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
       |          LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
       |        FROM toks),
       |sh AS (SELECT doc_id,
       |         ${textHashSql("tok || ' ' || t2 || ' ' || t3")} AS v
       |       FROM led WHERE t3 IS NOT NULL)""".stripMargin

  import graft.functions.{MinHash => MH}

  /** Per-doc K-permutation MinHash sketch over (doc_id, v) shingles —
    * constants from graft.functions.MinHash, the shared source of truth
    * for all three sketch implementations and every oracle. */
  private[graft] def minhashOf(sh: DataFrame): DataFrame = {
    val mins = (0 until MH.K).map(j => min(expr(MH.sparkExpr(j))).as(s"m$j"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** The matching DuckDB sketch CTE `mh(doc_id, m0..m{K-1})`. */
  private[graft] val mhSqlCte: String =
    s"""mh AS (SELECT doc_id,
       |         ${(0 until MH.K).map(j => s"MIN(${MH.duckExpr(j)}) AS m$j").mkString(",\n         ")}
       |       FROM sh GROUP BY doc_id)""".stripMargin

  /** LSH band rows (band, k0..k{R-1}, doc_id) from the sketch — ONE
    * posexplode pass over the aggregate instead of a self-union, which
    * would execute the whole upstream aggregation once per branch. */
  private[graft] def bandsOf(mh: DataFrame): DataFrame = {
    val bandStructs = (0 until MH.Bands).map(b =>
      struct((0 until MH.R).map(r => col(s"m${MH.R * b + r}").as(s"k$r")): _*))
    mh.select(col("doc_id"), posexplode(array(bandStructs: _*)).as(Seq("band", "bk")))
      .select(col("band") +:
        (0 until MH.R).map(r => col(s"bk.k$r").as(s"k$r")) :+ col("doc_id"): _*)
  }

  /** Band-key column list (k0..k{R-1}) and the matching self-join
    * predicate over aliases x/y. */
  private[graft] val bandKeys: Seq[String] = (0 until MH.R).map(r => s"k$r")
  private[graft] def bandJoinCond: Column =
    bandKeys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
      col("x.doc_id") < col("y.doc_id")

  /** DuckDB bands CTE: one UNION ALL branch per band (tagged). */
  private[graft] def bandsSqlCte(tagged: Boolean): String =
    (0 until MH.Bands).map { b =>
      val cols = (0 until MH.R).map(r => s"m${MH.R * b + r} AS k$r").mkString(", ")
      if (tagged) s"SELECT $b AS band, $cols, doc_id FROM mh"
      else s"SELECT $cols, doc_id FROM mh"
    }.mkString("bands AS (\n  ", "\n  UNION ALL\n  ", ")")

  def qDedupNear(s: SparkSession, d: String): DataFrame = {
    val bands = bandsOf(minhashOf(shingles(s, d)))
    bands.groupBy(col("band") +: bandKeys.map(col): _*)
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("band"), col("rep_doc_id"), col("n_docs"))
      .orderBy(col("band"), col("rep_doc_id"))
  }

  val qDedupNearSql: String =
    s"""WITH $shinglesSqlCte,
      |$mhSqlCte,
      |${bandsSqlCte(tagged = true)}
      |SELECT band, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_docs
      |FROM bands GROUP BY band, ${bandKeys.mkString(", ")}
      |HAVING COUNT(*) >= 2
      |ORDER BY band, rep_doc_id""".stripMargin

  /** INCREMENTAL near-dup against a PERSISTED signature store — the
    * daily-crawl shape of MinHash dedup: the historical corpus (even
    * doc_ids) is reduced once to its LSH band rows and saved as a
    * band-partitioned table (`default.graft_sig_store`); a new batch
    * (odd doc_ids) then shingles/sketches ONLY itself and answers "does
    * this doc near-dup the history?" by an equi-join of its band rows
    * against the store — the history TEXT is never re-read, never
    * re-shingled, and the join is band-keyed (Σ|bucket|² candidate work,
    * partition-pruned to the probe's band). in_batch is the same gate
    * within the delta (a self-join of delta-sized band rows). At 100 TB
    * the store is the only history artifact the pipeline keeps: K·8
    * bytes per doc vs the corpus' raw text, appended per crawl exactly
    * like the ANN index's incremental ingest. Per-doc flags (not a
    * rollup) so the oracle pins every decision. */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    RelOps.dropManaged(s, "graft_sig_store")
    val bands = bandsOf(minhashOf(shingles(s, d)))
    bands.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").partitionBy("band")
      .saveAsTable("default.graft_sig_store")
    val store = s.table("default.graft_sig_store")
    // three consumers (doc list, store join, self-join) — checkpoint the
    // delta's band rows once instead of re-sketching per consumer
    val newB = bands.filter(col("doc_id") % 2 === 1)
      .localCheckpoint(eager = false)
    val kEq = bandKeys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
    val histHit = newB.as("x")
      .join(store.as("y"), col("x.band") === col("y.band") && kEq)
      .select(col("x.doc_id")).distinct()
      .withColumn("in_hist", lit(1L))
    val batchHit = newB.as("x")
      .join(newB.as("y"),
        col("x.band") === col("y.band") && kEq &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id")).distinct()
      .withColumn("in_batch", lit(1L))
    newB.select(col("doc_id")).distinct()
      .join(histHit, Seq("doc_id"), "left_outer")
      .join(batchHit, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("in_hist"), lit(0L)).as("in_hist"),
        coalesce(col("in_batch"), lit(0L)).as("in_batch"))
      .orderBy(col("doc_id"))
  }

  val qDedupIncrementalSql: String =
    s"""WITH $shinglesSqlCte,
       |$mhSqlCte,
       |${bandsSqlCte(tagged = true)},
       |hist AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
       |newb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
       |hh AS (SELECT DISTINCT x.doc_id FROM newb x JOIN hist y
       |        ON x.band = y.band AND ${bandKeys.map(k => s"x.$k = y.$k").mkString(" AND ")}),
       |bh AS (SELECT DISTINCT x.doc_id FROM newb x JOIN newb y
       |        ON x.band = y.band AND ${bandKeys.map(k => s"x.$k = y.$k").mkString(" AND ")}
       |           AND x.doc_id <> y.doc_id)
       |SELECT n.doc_id,
       |  CAST(CASE WHEN hh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_hist,
       |  CAST(CASE WHEN bh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_batch
       |FROM (SELECT DISTINCT doc_id FROM newb) n
       |LEFT JOIN hh ON n.doc_id = hh.doc_id
       |LEFT JOIN bh ON n.doc_id = bh.doc_id
       |ORDER BY n.doc_id""".stripMargin

  /** The same MinHash minima computed through the typed UDAF surface
    * (graft.functions.MinHashAggregator) instead of expression minima —
    * per-doc sketch slots, checked against the identical SQL oracle. */
  def qDedupMinhashAgg(s: SparkSession, d: String): DataFrame = {
    val mh = udaf(new graft.functions.MinHashAggregator)
    shingles(s, d)
      .groupBy(col("doc_id"))
      .agg(mh(col("v")).as("sketch"))
      .select(col("doc_id") +:
        (0 until MH.K).map(j => element_at(col("sketch"), j + 1).as(s"m$j")): _*)
      .orderBy(col("doc_id"))
  }

  val qDedupMinhashAggSql: String =
    s"""WITH $shinglesSqlCte
      |SELECT doc_id,
      |  ${(0 until MH.K).map(j => s"MIN(${MH.duckExpr(j)}) AS m$j").mkString(",\n  ")}
      |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The same minima through the MinHash sketch aggregate
    * ([[graft.functions.MinHashSketchAgg]], called via SQL function
    * graft_minhash) — serialized-partial merge path, same oracle. */
  def qDedupMinhashNative(s: SparkSession, d: String): DataFrame =
    shingles(s, d)
      .groupBy(col("doc_id"))
      .agg(expr("graft_minhash(v)").as("sketch"))
      .select(col("doc_id") +:
        (0 until MH.K).map(j => element_at(col("sketch"), j + 1).as(s"m$j")): _*)
      .orderBy(col("doc_id"))

  /** Exact n-gram Jaccard verification over the MinHash-band candidate
    * pairs: |A∩B| / |A∪B| on the distinct 3-shingle sets. The candidate
    * restriction keeps this far from all-pairs — the standard
    * LSH-then-verify topology. */
  /** (va, vb, n_inter, sza, szb) for every MinHash-band candidate pair —
    * the LSH-then-verify midpoint shared by the Jaccard and containment
    * queries. ONLY the shingle scan is materialized (it feeds both the
    * sketch via bands and the exact sets via sa/sb/sizes — without this
    * one checkpoint the posexplode→window→md5 subtree re-executes per
    * reference). The band self-join and the sa/sb/sizes re-reads are
    * deliberately NOT checkpointed: each branch reads the same child, so
    * Spark's ReusedExchange dedupes the physical work, where a checkpoint
    * per branch would run an extra eager job each.
    * Band tag intentionally dropped: a cross-band (ka, kb) collision is a
    * candidate too — matches the oracle's untagged UNION ALL. */
  /** Staged once per (application, sfDir): q_dedup_jaccard and
    * q_dedup_containment are two MEASURES (symmetric ratio vs asymmetric
    * min-containment) over the SAME verified-intersection table, so the
    * expensive half — band candidates + exact shingle intersection —
    * builds once and both scorings read the staged (va, vb, n_inter,
    * sza, szb) longs back bit-exactly. Verify-once/score-many is the
    * production shape too: at 100 TB the intersection table is the
    * artifact a dedup pipeline persists, and each policy (drop at
    * jaccard ≥ x, flag at containment ≥ y) is a cheap scan over it. */
  private def candidateIntersections(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "dedup_cand_inter")(candidateIntersectionsBuild(s, d))

  private def candidateIntersectionsBuild(s: SparkSession, d: String): DataFrame = {
    // candidates come from the STAGED band-pair graph (bandPairs — MinHash
    // minima are duplicate-insensitive, so bands over the raw and the
    // distinct shingle multiset are identical and the CC/ triangle family's
    // staged pairs are exactly this query's candidates); the distinct shingle
    // set feeds the exact intersection and both size branches off one
    // exchange. Reduce the big side before shuffling it (guide §3.2): every
    // downstream use of ds is keyed by a CANDIDATE doc (sa on va, sb on vb,
    // sizes joined back to va/vb), so non-candidate docs' shingles are dead
    // weight through the distinct exchange — a broadcast semi-join against
    // the pairs' tiny doc set drops them BEFORE the shuffle. n_inter/sza/szb
    // for candidate docs are unchanged.
    val pairs = bandPairs(s, d)
    val candDocs = pairs.select(col("va").as("doc_id"))
      .union(pairs.select(col("vb").as("doc_id"))).distinct()
    val ds = shingles(s, d)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .distinct().localCheckpoint(eager = false)
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    pairs
      .join(ds.as("sa"), col("va") === col("sa.doc_id"))
      .join(ds.as("sb"), col("vb") === col("sb.doc_id") && col("sa.v") === col("sb.v"))
      .groupBy(col("va"), col("vb")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("va"), col("sz").as("sza")), Seq("va"))
      .join(sizes.select(col("doc_id").as("vb"), col("sz").as("szb")), Seq("vb"))
  }

  /** The matching DuckDB CTE block ending in
    * `withsizes(va, vb, n_inter, sza, szb)`. */
  private val candidateIntersectionsSqlCte: String =
    s"""$shinglesSqlCte,
      |$mhSqlCte,
      |${bandsSqlCte(tagged = false)},
      |pairs AS (
      |  SELECT DISTINCT x.doc_id AS va, y.doc_id AS vb
      |  FROM bands x JOIN bands y
      |    ON ${bandKeys.map(k => s"x.$k = y.$k").mkString(" AND ")} AND x.doc_id < y.doc_id),
      |ds AS (SELECT DISTINCT doc_id, v FROM sh),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ds GROUP BY doc_id),
      |inter AS (
      |  SELECT va, vb, COUNT(*) AS n_inter
      |  FROM pairs
      |  JOIN ds sa ON sa.doc_id = va
      |  JOIN ds sb ON sb.doc_id = vb AND sa.v = sb.v
      |  GROUP BY va, vb),
      |withsizes AS (
      |  SELECT va, vb, n_inter, a.sz AS sza, b.sz AS szb
      |  FROM inter
      |  JOIN sizes a ON a.doc_id = va
      |  JOIN sizes b ON b.doc_id = vb)""".stripMargin

  def qDedupJaccard(s: SparkSession, d: String): DataFrame =
    candidateIntersections(s, d)
      // filter on the UNROUNDED ratio (exactly what the oracle's WHERE
      // does), then round for output — a true jaccard in [0.09995, 0.1)
      // must be dropped by both engines, not kept by one
      .withColumn("jaccard_raw",
        col("n_inter").cast(DoubleType) /
          (col("sza") + col("szb") - col("n_inter")).cast(DoubleType))
      .filter(col("jaccard_raw") >= 0.1)
      .select(col("va"), col("vb"), round(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy(col("va"), col("vb"))

  /** Asymmetric CONTAINMENT |A∩B| / min(|A|,|B|) over the same candidate
    * pairs — catches sub-document duplication (a small doc wholly inside
    * a larger one) that symmetric Jaccard under-scores: a 100-shingle doc
    * inside a 10000-shingle doc has jaccard ≈ 0.01 but containment 1.0. */
  def qDedupContainment(s: SparkSession, d: String): DataFrame =
    candidateIntersections(s, d)
      .withColumn("containment_raw",
        col("n_inter").cast(DoubleType) /
          least(col("sza"), col("szb")).cast(DoubleType))
      .filter(col("containment_raw") >= 0.2)
      .select(col("va"), col("vb"),
        round(col("containment_raw"), 4).as("containment"))
      .orderBy(col("va"), col("vb"))

  val qDedupContainmentSql: String =
    s"""WITH $candidateIntersectionsSqlCte
      |SELECT va, vb,
      |  round(CAST(n_inter AS DOUBLE) / CAST(LEAST(sza, szb) AS DOUBLE), 4) AS containment
      |FROM withsizes
      |WHERE CAST(n_inter AS DOUBLE) / CAST(LEAST(sza, szb) AS DOUBLE) >= 0.2
      |ORDER BY va, vb""".stripMargin

  val qDedupJaccardSql: String =
    s"""WITH $candidateIntersectionsSqlCte
      |SELECT va, vb,
      |  round(CAST(n_inter AS DOUBLE) / CAST(sza + szb - n_inter AS DOUBLE), 4) AS jaccard
      |FROM withsizes
      |WHERE CAST(n_inter AS DOUBLE) / CAST(sza + szb - n_inter AS DOUBLE) >= 0.1
      |ORDER BY va, vb""".stripMargin

  /** Connected components over an undirected edge list (va, vb):
    * Pregel-style min-label propagation with a single pointer jump per
    * round. The jump DOES halve on chains — measured (ChainGraphSpec):
    * a 2048-node path converges in 12 rounds, the label travel distance
    * doubling each round; shallow near-dup graphs converge in one round
    * via the folded init. Round count still depends on the
    * label-POINTER structure lining up, which no adversarial graph is
    * obliged to do.
    *
    * Lineage is cut per round through Checkpoints.cut (a reliable
    * checkpoint when the SparkContext has a checkpoint dir, a local one
    * otherwise), the prior round's blocks are freed once the new round is
    * live, and the loop THROWS at the iteration cap — a silent partial
    * labeling is a wrong answer. */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Shuffle parallelism inside the loop follows STATE volume, not the
    // session's scan parallelism (the same sizing decision as the
    // streaming runs' conf scope, GraftSession.withConfs): each round
    // shuffles only (node, label) pairs — latency-bound at 8 partitions
    // for label sets this size, and at 100 TB the knob moves with the
    // graph. Conf restored on exit; the per-round eager checkpoints
    // materialize under the pinned value, so the returned labels frame
    // is independent of the session conf.
    GraftSession.withConfs(pairs.sparkSession, "spark.sql.shuffle.partitions" -> "8") {
      val edges = Checkpoints.cut(pairs
        .union(pairs.select(col("vb").as("va"), col("va").as("vb"))))
      // init with the first neighbor-min round already folded in: the same
      // single shuffle a distinct-nodes init costs, but the loop starts one
      // Pregel round ahead — on shallow near-dup graphs (components of 2-3)
      // that is usually the only effective round, leaving just the
      // convergence-confirming pass
      var labels = Checkpoints.cut(edges.groupBy(col("va"))
        .agg(least(col("va"), min(col("vb"))).as("label"))
        .select(col("va").as("node"), col("label")))
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val neighborMin = edges.join(labels, col("vb") === col("node"))
          .groupBy(col("va")).agg(min(col("label")).as("nmin"))
        // single jump (label-chain compression, halving as the scaladoc
        // says); a second composed jump costs an extra join per round
        val jump = labels.select(col("node").as("jnode"), col("label").as("jlabel"))
        val updated = Checkpoints.cut(labels
          .join(neighborMin, col("node") === col("va"), "left_outer")
          .join(jump, col("label") === col("jnode"), "left_outer")
          .select(col("node"), col("label"),
            least(col("label"),
              coalesce(col("nmin"), col("label")),
              coalesce(col("jlabel"), col("label"))).as("new_label")))
        changed = updated.filter(col("new_label") < col("label")).count()
        // the count above is LOAD-BEARING: Checkpoints.cut is lazy, so that
        // count is the only action materializing `updated`'s blocks — they
        // MUST be live before the prior round's blocks are freed below
        // (removing or moving the count would break this invariant)
        org.apache.spark.sql.GraftShim.freeCheckpointBlocks(labels)
        labels = updated.select(col("node"), col("new_label").as("label"))
        iter += 1
      }
      if (changed > 0) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
      labels
    }
  }

  /** Near-dup CLUSTERS via connected components over the MinHash-band
    * candidate graph — the step that turns pairwise candidates into dedup
    * groups. Oracle side: transitive closure by recursive CTE. Both reach
    * the same fixpoint: every node labeled with the smallest doc_id in its
    * component. */
  /** The band-graph PAIR list (va, vb), staged once per (application,
    * sfDir): three graded queries walk this same graph — the CC labeling
    * below, and GraphOps' triangle census — and the band self-join is
    * its expensive derivation. Untagged bands (cross-band collisions
    * count), matching the oracle. */
  private[graft] def bandPairs(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "dedup_band_pairs") {
      // checkpointed because the self-join references the band subtree
      // twice — ReusedExchange alone leaves it running twice
      val bands = bandsOf(minhashOf(shingles(s, d)))
        .select(bandKeys.map(col) :+ col("doc_id"): _*)
        .localCheckpoint(eager = false)
      bands.as("x").join(bands.as("y"), bandJoinCond)
        .select(col("x.doc_id").as("va"), col("y.doc_id").as("vb"))
        .distinct()
    }

  /** Band-graph component labels, staged once per (application,
    * sfDir): q_dedup_components and q_sample_split_leakfree run the
    * SAME multi-round CC loop over the SAME band-pair graph — the
    * labeling is the persisted artifact (at 100 TB a dedup pipeline
    * writes the component table once and every consumer — dedup stats,
    * leak-free splits, cluster sampling — scans it). */
  private def bandComponentLabels(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "dedup_cc_labels") {
      connectedComponents(bandPairs(s, d))
    }

  def qDedupComponents(s: SparkSession, d: String): DataFrame =
    bandComponentLabels(s, d)
      .groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
      .select(col("label").as("rep_doc_id"), col("n_docs"))
      .orderBy(col("rep_doc_id"))

  val qDedupComponentsSql: String =
    s"""WITH RECURSIVE $shinglesSqlCte,
      |$mhSqlCte,
      |${bandsSqlCte(tagged = false)},
      |pairs AS (
      |  SELECT DISTINCT x.doc_id AS va, y.doc_id AS vb
      |  FROM bands x JOIN bands y
      |    ON ${bandKeys.map(k => s"x.$k = y.$k").mkString(" AND ")} AND x.doc_id < y.doc_id),
      |edges AS (SELECT va, vb FROM pairs UNION SELECT vb, va FROM pairs),
      |reach(a, b) AS (
      |  SELECT va, vb FROM edges
      |  UNION
      |  SELECT r.a, e.vb FROM reach r JOIN edges e ON r.b = e.va),
      |comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS label
      |         FROM reach GROUP BY a)
      |SELECT label AS rep_doc_id, COUNT(*) AS n_docs
      |FROM comp GROUP BY label
      |ORDER BY rep_doc_id""".stripMargin

  /** LEAKAGE-FREE train/val/test split — the composition that makes
    * q_sample_split safe to train on: a near-dup pair split across train
    * and test leaks evaluation data, so the split key must be the
    * near-dup COMPONENT, not the document. Docs get their MinHash-band
    * connected-component label (singletons label themselves), and the
    * deterministic LCG split (same constants as q_sample_split) hashes
    * the label — every member of a component lands in the same split BY
    * CONSTRUCTION, so the graded per-(lang, split) counts pin the Spark
    * and oracle component labelings against each other: one disagreeing
    * label moves whole docs across split buckets. Scale shape is the
    * components loop's (bounded rounds over (node, label) state) plus one
    * row-local hash — nothing new shuffles at corpus scale. */
  def qSampleSplitLeakfree(s: SparkSession, d: String): DataFrame = {
    val labels = bandComponentLabels(s, d).withColumnRenamed("node", "doc_id")
    documents(s, d).select(col("doc_id"), col("lang"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("lang"), coalesce(col("label"), col("doc_id")).as("comp"))
      .withColumn("h",
        expr("((comp % 2147483647) * 2654435761 + 23) % 2147483647"))
      .withColumn("split",
        when(col("h") % 100 < 90, lit("train"))
          .when(col("h") % 100 < 95, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("comp")).as("n_components"))
      .orderBy(col("lang"), col("split"))
  }

  val qSampleSplitLeakfreeSql: String =
    s"""WITH RECURSIVE $shinglesSqlCte,
       |$mhSqlCte,
       |${bandsSqlCte(tagged = false)},
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS va, y.doc_id AS vb
       |  FROM bands x JOIN bands y
       |    ON ${bandKeys.map(k => s"x.$k = y.$k").mkString(" AND ")} AND x.doc_id < y.doc_id),
       |edges AS (SELECT va, vb FROM pairs UNION SELECT vb, va FROM pairs),
       |reach(a, b) AS (
       |  SELECT va, vb FROM edges
       |  UNION
       |  SELECT r.a, e.vb FROM reach r JOIN edges e ON r.b = e.va),
       |comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS label
       |         FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT d.lang, COALESCE(c.label, d.doc_id) AS comp
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
       |h AS (SELECT lang, comp,
       |        ((comp % 2147483647) * 2654435761 + 23) % 2147483647 AS h
       |      FROM labeled)
       |SELECT lang,
       |  CASE WHEN h % 100 < 90 THEN 'train'
       |       WHEN h % 100 < 95 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, COUNT(DISTINCT comp) AS n_components
       |FROM h GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** END-TO-END RAG INGESTION + RETRIEVAL — the composed pipeline a retrieval
    * corpus runs nightly: documents → 32-token chunks → per-chunk embedding →
    * top-5 retrieval for a query. The "embedding model" is a deterministic
    * integer projection (dim j of a chunk = Σ_tokens (token_hash·(2j+1)) mod
    * 2003 — a stand-in with the same dataflow as a real encoder batch), which
    * keeps every score's numerator EXACT in int64: cosine = int dot /
    * sqrt(int norms), one IEEE division — bit-portable. Chunk+embed is one
    * keyed aggregation over exploded tokens (at scale the same sums fold
    * row-locally over the token array in the scan projection, as TextOps
    * does); the query embeds in-plan from a literal and broadcasts, so
    * retrieval never shuffles the corpus. The graded top-5 pins the whole
    * composition; the ANN index queries grade the sublinear retrieval tier
    * this brute-force scorer would swap to. */
  def qPipelineRag(s: SparkSession, d: String): DataFrame = {
    val ragQuery = "model training data quality and dedup"
    def embed(tokens: DataFrame, keys: Seq[String]): DataFrame = {
      val dims = (0 until 8).map(j =>
        sum(expr(s"(${textHash("tok")} * ${2 * j + 1}) % 2003")).as(s"e$j"))
      tokens.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_tokens"), dims: _*)
    }
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("chunk", expr("pos div 32"))
    val chunks = embed(toks, Seq("doc_id", "chunk"))
      .filter(col("n_tokens") >= 8)
    val qemb = embed(
      s.range(1).select(posexplode(split(lit(ragQuery), " ")).as(Seq("qpos", "tok"))),
      Seq.empty) // global aggregate: the one-row query embedding
      .select((0 until 8).map(j => col(s"e$j").as(s"q$j")): _*)
    val dot = (0 until 8).map(j => col(s"e$j") * col(s"q$j")).reduce(_ + _)
    val nc = (0 until 8).map(j => col(s"e$j") * col(s"e$j")).reduce(_ + _)
    val nq = (0 until 8).map(j => col(s"q$j") * col(s"q$j")).reduce(_ + _)
    val scored = chunks.crossJoin(broadcast(qemb))
      .select(col("doc_id"), col("chunk"),
        round(dot.cast(DoubleType) / sqrt((nc * nq).cast(DoubleType)), 4)
          .as("score"))
    val w = Window.orderBy(col("score").desc, col("doc_id"), col("chunk"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy(col("rn"))
  }

  val qPipelineRagSql: String = {
    val qh = textHashSql("tok")
    val dims = (0 until 8).map(j => s"SUM(($qh * ${2 * j + 1}) % 2003) AS e$j")
      .mkString(",\n    ")
    val qdims = (0 until 8).map(j => s"SUM(($qh * ${2 * j + 1}) % 2003) AS q$j")
      .mkString(",\n    ")
    val dot = (0 until 8).map(j => s"c.e$j * q.q$j").mkString(" + ")
    val nc = (0 until 8).map(j => s"c.e$j * c.e$j").mkString(" + ")
    val nq = (0 until 8).map(j => s"q.q$j * q.q$j").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |chunks AS (
       |  SELECT doc_id, (pos - 1) // 32 AS chunk, COUNT(*) AS n_tokens,
       |    $dims
       |  FROM toks GROUP BY 1, 2),
       |kept AS (SELECT * FROM chunks WHERE n_tokens >= 8),
       |qtoks AS (
       |  SELECT unnest(string_split('model training data quality and dedup', ' ')) AS tok),
       |q AS (SELECT $qdims FROM qtoks),
       |scored AS (
       |  SELECT c.doc_id, c.chunk,
       |    round(CAST($dot AS DOUBLE) / sqrt(CAST(($nc) * ($nq) AS DOUBLE)), 4)
       |      AS score
       |  FROM kept c, q),
       |r AS (SELECT doc_id, chunk, score,
       |        ROW_NUMBER() OVER (ORDER BY score DESC, doc_id, chunk) AS rn
       |      FROM scored)
       |SELECT doc_id, chunk, score, rn FROM r WHERE rn <= 5 ORDER BY rn""".stripMargin
  }

  /** CONTRASTIVE TRAINING-PAIR GENERATION — the dataset an embedding
    * model trains on: every doc appearing in a MinHash-band candidate
    * pair becomes an ANCHOR with its near-dup partners as positives
    * (n_pos), plus ONE deterministic hard-ish negative drawn WITHOUT a
    * global rank: docs hash into 64 buckets (doc_id mod 64), the
    * 64-row (bucket → min doc_id) table broadcasts, and the anchor's
    * LCG hash picks a bucket — so negative selection is a row-local
    * lookup at any corpus size (a row_number over the corpus, the
    * obvious alternative, is a single-partition sort at 100 TB). A
    * negative that collides with the anchor itself or one of its
    * positives is nulled, not silently replaced — the dropped count is
    * part of the graded output, and per-anchor rows pin every
    * decision. */
  def qPairsContrastive(s: SparkSession, d: String): DataFrame = {
    val bands = bandsOf(minhashOf(shingles(s, d)))
      .select(bandKeys.map(col) :+ col("doc_id"): _*)
      .localCheckpoint(eager = false)
    val pairs = bands.as("x").join(bands.as("y"), bandJoinCond)
      .select(col("x.doc_id").as("va"), col("y.doc_id").as("vb"))
      .distinct()
    // both directions: every member of a pair anchors
    val adj = pairs.unionByName(
        pairs.select(col("vb").as("va"), col("va").as("vb")))
      .localCheckpoint(eager = false)
    val buckets = documents(s, d)
      .groupBy((col("doc_id") % 64).as("bucket"))
      .agg(min(col("doc_id")).as("neg_cand"))
    val anchors = adj.groupBy(col("va").as("anchor"))
      .agg(count(lit(1)).as("n_pos"))
      .withColumn("nb",
        expr("((anchor % 2147483647) * 2654435761 + 37) % 2147483647 % 64"))
      .join(broadcast(buckets), col("nb") === col("bucket"))
    anchors.join(adj.select(col("va").as("anchor"), col("vb").as("neg_cand"))
        .withColumn("is_pos", lit(1)), Seq("anchor", "neg_cand"), "left_outer")
      .select(col("anchor"), col("n_pos"),
        when(col("neg_cand") === col("anchor") || col("is_pos").isNotNull,
          lit(null).cast(LongType))
          .otherwise(col("neg_cand")).as("neg_id"))
      .orderBy(col("anchor"))
  }

  val qPairsContrastiveSql: String =
    s"""WITH $shinglesSqlCte,
       |$mhSqlCte,
       |${bandsSqlCte(tagged = false)},
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS va, y.doc_id AS vb
       |  FROM bands x JOIN bands y
       |    ON ${bandKeys.map(k => s"x.$k = y.$k").mkString(" AND ")} AND x.doc_id < y.doc_id),
       |adj AS (SELECT va, vb FROM pairs UNION ALL SELECT vb, va FROM pairs),
       |buckets AS (SELECT doc_id % 64 AS bucket, MIN(doc_id) AS neg_cand
       |            FROM documents GROUP BY 1),
       |anchors AS (
       |  SELECT va AS anchor, COUNT(*) AS n_pos,
       |    ((va % 2147483647) * 2654435761 + 37) % 2147483647 % 64 AS nb
       |  FROM adj GROUP BY va),
       |cand AS (
       |  SELECT a.anchor, a.n_pos, b.neg_cand
       |  FROM anchors a JOIN buckets b ON a.nb = b.bucket)
       |SELECT c.anchor, c.n_pos,
       |  CASE WHEN c.neg_cand = c.anchor OR p.vb IS NOT NULL THEN NULL
       |       ELSE c.neg_cand END AS neg_id
       |FROM cand c
       |LEFT JOIN adj p ON p.va = c.anchor AND p.vb = c.neg_cand
       |ORDER BY c.anchor""".stripMargin

  // --------------------------------------------------- curation funnel

  /** The composed curation funnel of a data release — raw → quality
    * filter → exact-dedup survivors — reported as per-stage counts. The
    * quality score is the TextOps formula re-expressed with array
    * functions (no explode, one pass per row); the dedup stage counts
    * distinct canonical token-set keys among the quality survivors. Each
    * stage is one aggregate over the stage before; the funnel unions
    * three 1-row aggregates. */
  def qPipelineFunnel(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    // ONE scan, one aggregate: all three stage counts are conditional
    // aggregates of the same per-row score/canon projection (a naive
    // per-stage formulation would rescan the corpus three times)
    val scored = documents(s, d).select(
        size(toks).cast(DoubleType).as("n_tok"),
        size(array_distinct(toks)).cast(DoubleType).as("n_uniq"),
        size(filter(toks, t => t === "the" || t === "a")).cast(DoubleType).as("n_stop"),
        array_join(array_sort(array_distinct(toks)), " ").as("canon"))
      .withColumn("score",
        lit(0.4) * (col("n_uniq") / col("n_tok")) +
          lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tok")) +
          lit(0.3) * least(lit(1.0), col("n_tok") / lit(100.0)))
    scored.agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_quality"),
        countDistinct(when(col("score") >= 0.5, col("canon"))).as("n_dedup"))
      .select(explode(array(
        struct(lit(1).as("stage"), lit("raw").as("label"), col("n_raw").as("n_docs")),
        struct(lit(2).as("stage"), lit("quality").as("label"), col("n_quality").as("n_docs")),
        struct(lit(3).as("stage"), lit("dedup").as("label"), col("n_dedup").as("n_docs"))))
        .as("r"))
      .select(col("r.stage").as("stage"), col("r.label").as("label"),
        col("r.n_docs").as("n_docs"))
      .orderBy(col("stage"))
  }

  val qPipelineFunnelSql: String =
    """WITH scored AS (
      |  SELECT doc_id, text,
      |    0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |           / CAST(len(string_split(text, ' ')) AS DOUBLE))
      |    + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |                                        t -> t IN ('the', 'a'))) AS DOUBLE)
      |             / CAST(len(string_split(text, ' ')) AS DOUBLE))
      |    + 0.3 * LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
      |      AS score
      |  FROM documents),
      |kept AS (SELECT * FROM scored WHERE score >= 0.5)
      |SELECT 1 AS stage, 'raw' AS label, COUNT(*) AS n_docs FROM scored
      |UNION ALL
      |SELECT 2 AS stage, 'quality' AS label, COUNT(*) AS n_docs FROM kept
      |UNION ALL
      |SELECT 3 AS stage, 'dedup' AS label,
      |  COUNT(DISTINCT array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS n_docs
      |FROM kept
      |ORDER BY stage""".stripMargin

  // ----------------------------------------------- full curation pipeline

  /** The FULL curation DAG of a data release — the composed gate sequence
    * every stage query covers in isolation, run as one plan with
    * per-stage survivor counts:
    *   0 raw → 1 normalized (TextOps.normalizeCol gate 0: HTML strip +
    *   entity decode + zero-width removal + NFC + whitespace collapse,
    *   survivor = non-empty normalized text; every later gate tokenizes
    *   the NORMALIZED text, which is where a real pipeline's gates read
    *   from) → 2 quality ≥ 0.5 → 3 exact-dedup survivor (min doc_id per
    *   canonical token set) → 4 near-dup survivor (MinHash band: dropped
    *   iff any of the 4 band buckets holds a smaller surviving doc) →
    *   5 decontaminated (shingle overlap with the doc_id<10 benchmark
    *   < 50%, exact integer compare 2·|∩| < |doc|) → 6 LM band (corpus
    *   bigram-model mean probability ≥ 0.034).
    * ONE documents scan: every per-doc signal — quality score, canonical
    * key, distinct shingle set, all 16 MinHash minima (array_min over the
    * row-local shingle array: the sketch never shuffles), bigram pairs —
    * is computed row-locally in a single projection and checkpointed;
    * every stage derives from that midpoint. The only shuffles are the
    * tiny keyed aggregates each gate needs (canon groups, band buckets,
    * model counts) — the topology that holds at 100 TB because nothing
    * ever rescans the corpus. */
  def qPipelineCuration(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{MinHash => MH}
    val tk = "split(norm, ' ')"
    val shingleArr =
      s"""CASE WHEN size(tk) >= 3 THEN array_distinct(transform(
         |  sequence(1, size(tk) - 2),
         |  i -> ${textHash("concat_ws(' ', tk[i-1], tk[i], tk[i+1])")}))
         |ELSE slice(array(CAST(0 AS BIGINT)), 1, 0) END""".stripMargin
    val bigramArr =
      """CASE WHEN size(tk) >= 2 THEN transform(
        |  sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))
        |ELSE slice(array(struct(tk[0] AS w1, tk[0] AS w2)), 1, 0) END""".stripMargin
    val base = documents(s, d)
      .select(col("doc_id"), TextOps.normalizeCol(col("text")).as("norm"))
      .select(col("doc_id"), (length(col("norm")) > 0).as("s1"),
        expr(tk).as("tk"))
      .select(col("doc_id"), col("s1"),
        (lit(0.4) * (size(array_distinct(col("tk"))).cast(DoubleType) /
          size(col("tk")).cast(DoubleType)) +
          lit(0.3) * (lit(1.0) - size(filter(col("tk"), t => t === "the" || t === "a"))
            .cast(DoubleType) / size(col("tk")).cast(DoubleType)) +
          lit(0.3) * least(lit(1.0), size(col("tk")).cast(DoubleType) / lit(100.0)))
          .as("score"),
        array_join(array_sort(array_distinct(col("tk"))), " ").as("canon"),
        expr(shingleArr).as("vs"),
        expr(bigramArr).as("bigrams"))
      // all 16 permutation minima in ONE fused kernel pass (see
      // MinHashArrayExpr) instead of 16 array_min(transform(...)) subtrees
      .withColumn("mh", expr("graft_minhash_arr(vs)"))
      // EAGER on purpose: the drop-set branches consume this in ONE
      // action — a lazy cut lets the concurrent branches race-compute
      // the minhash columns before the cache fills (measured 2.4 s → 8 s)
      .localCheckpoint()
    // Single-pass spine: each stage's drop-set is computed ONCE from the
    // previous stage's survivors and joined back as a flag, and the 6
    // funnel counts come out of ONE conditional-count aggregation — the
    // earlier 6-branch union re-executed the cumulative stage-k join
    // chain once per later branch (≈15 subtree executions vs ~7 here).
    // stage 2: quality gate (composed with gate 1 — normalized non-empty)
    val q2 = col("s1") && col("score") >= 0.5
    // stage 3: exact-dedup survivor among quality survivors
    val canonMin = base.filter(q2)
      .groupBy(col("canon")).agg(min(col("doc_id")).as("cmin"))
    val sp = base.join(canonMin, Seq("canon"), "left_outer")
      .withColumn("s3", q2 && col("doc_id") === col("cmin"))
      .drop("cmin")
    // stage 4: near-dup survivor — dropped iff ANY band bucket (among
    // stage-3 survivors) holds a smaller doc; docs with no shingles have
    // null sketches and never enter a bucket (auto-survive)
    val bandCol = array((0 until MH.Bands).map(b =>
      struct((0 until MH.R).map(r =>
        col("mh").getItem(MH.R * b + r).as(s"k$r")): _*)): _*)
    val bandRows = sp.filter(col("s3") && size(col("vs")) > 0)
      .select(col("doc_id"), posexplode(bandCol).as(Seq("band", "bk")))
    val bMins = bandRows.groupBy(col("band"), col("bk"))
      .agg(min(col("doc_id")).as("bmin"))
    val drop4 = bandRows.join(bMins, Seq("band", "bk"))
      .filter(col("bmin") < col("doc_id"))
      .select(col("doc_id")).distinct()
      .withColumn("dropped4", lit(true))
    // stage 5: decontamination vs the doc_id<10 benchmark shingle set
    // (built from the RAW corpus — the benchmark is external to curation)
    val benchArr = base.filter(col("doc_id") < 10)
      .select(explode(col("vs")).as("v")).distinct()
      .agg(collect_list(col("v")).as("bench"))
    val sp5 = sp.join(drop4, Seq("doc_id"), "left_outer")
      .withColumn("s4", col("s3") && col("dropped4").isNull)
      .crossJoin(broadcast(benchArr))
      .withColumn("s5", col("s4") && !(size(col("vs")) > 0 &&
        lit(2) * size(array_intersect(col("vs"), col("bench"))) >= size(col("vs"))))
    // stage 6: LM band — bigram model trained on the RAW corpus, mean
    // conditional probability through an exact decimal sum (docs with no
    // scoreable bigram never reach the model join, matching the oracle)
    val bgAll = base.select(explode(col("bigrams")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pc = bgAll.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val model = pc.join(
      pc.groupBy(col("w1")).agg(sum(col("n")).as("n_head")), Seq("w1"))
    val c6row = sp5.filter(col("s5"))
      .select(col("doc_id"), explode(col("bigrams")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg((sum((col("n").cast(DoubleType) / col("n_head").cast(DoubleType))
        .cast(DecimalType(38, 12))).cast(DoubleType) / count(lit(1))).as("avg_p"))
      .filter(col("avg_p") >= 0.034)
      .agg(count(lit(1)).as("c6"))
    val crow = sp5.agg(
      count(lit(1)).as("c0"),
      count(when(col("s1"), lit(1))).as("c1"),
      count(when(q2, lit(1))).as("c2"),
      count(when(col("s3"), lit(1))).as("c3"),
      count(when(col("s4"), lit(1))).as("c4"),
      count(when(col("s5"), lit(1))).as("c5"))
    def stageRow(stage: Int, label: String, c: Column) =
      struct(lit(stage).as("stage"), lit(label).as("label"), c.as("n_docs"))
    crow.crossJoin(c6row)
      .select(explode(array(
        stageRow(0, "raw", col("c0")),
        stageRow(1, "normalized", col("c1")),
        stageRow(2, "quality", col("c2")),
        stageRow(3, "dedup_exact", col("c3")),
        stageRow(4, "dedup_near", col("c4")),
        stageRow(5, "decontaminated", col("c5")),
        stageRow(6, "lm_band", col("c6")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.label").as("label"),
        col("r.n_docs").as("n_docs"))
      .orderBy(col("stage"))
  }

  val qPipelineCurationSql: String = {
    import graft.functions.{MinHash => MH}
    val mins = (0 until MH.K).map(j => s"MIN(${MH.duckExpr(j)}) AS m$j").mkString(",\n  ")
    val bandSelects = (0 until MH.Bands).map { b =>
      val ks = (0 until MH.R).map(r => s"m${MH.R * b + r} AS k$r").mkString(", ")
      s"SELECT $b AS band, $ks, doc_id FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH normed AS (
       |  SELECT doc_id, ${TextOps.normalizeSqlOf("text")} AS norm
       |  FROM documents),
       |tkd AS (SELECT doc_id, len(norm) > 0 AS s1,
       |               string_split(norm, ' ') AS tk FROM normed),
       |scored AS (
       |  SELECT doc_id, tk, s1,
       |    0.4 * (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))
       |    + 0.3 * (1.0 - CAST(len(list_filter(tk, t -> t IN ('the', 'a'))) AS DOUBLE)
       |             / CAST(len(tk) AS DOUBLE))
       |    + 0.3 * LEAST(1.0, CAST(len(tk) AS DOUBLE) / 100.0) AS score,
       |    array_to_string(list_sort(list_distinct(tk)), ' ') AS canon
       |  FROM tkd),
       |toks AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos
       |         FROM tkd),
       |led AS (SELECT doc_id, tok,
       |          LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
       |          LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
       |        FROM toks),
       |sh AS (SELECT DISTINCT doc_id,
       |         ${textHashSql("tok || ' ' || t2 || ' ' || t3")} AS v
       |       FROM led WHERE t3 IS NOT NULL),
       |d2 AS (SELECT doc_id, canon FROM scored WHERE s1 AND score >= 0.5),
       |cm AS (SELECT canon, MIN(doc_id) AS cmin FROM d2 GROUP BY canon),
       |d3 AS (SELECT d2.doc_id FROM d2
       |       JOIN cm ON d2.canon = cm.canon AND d2.doc_id = cm.cmin),
       |mh AS (SELECT doc_id,
       |  $mins
       |  FROM sh WHERE doc_id IN (SELECT doc_id FROM d3) GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |bm AS (SELECT band, k0, k1, k2, k3, MIN(doc_id) AS bmin
       |       FROM bands GROUP BY 1, 2, 3, 4, 5),
       |drop4 AS (
       |  SELECT DISTINCT bands.doc_id
       |  FROM bands JOIN bm USING (band, k0, k1, k2, k3)
       |  WHERE bm.bmin < bands.doc_id),
       |d4 AS (SELECT doc_id FROM d3
       |       WHERE doc_id NOT IN (SELECT doc_id FROM drop4)),
       |bench AS (SELECT DISTINCT v FROM sh WHERE doc_id < 10),
       |ov AS (SELECT sh.doc_id, COUNT(*) AS n_sh,
       |         SUM(CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
       |       FROM sh LEFT JOIN bench b ON sh.v = b.v
       |       WHERE sh.doc_id IN (SELECT doc_id FROM d4)
       |       GROUP BY sh.doc_id),
       |drop5 AS (SELECT doc_id FROM ov WHERE 2 * n_ov >= n_sh),
       |d5 AS (SELECT doc_id FROM d4
       |       WHERE doc_id NOT IN (SELECT doc_id FROM drop5)),
       |bg AS (SELECT doc_id, tok AS w1, t2 AS w2 FROM led WHERE t2 IS NOT NULL),
       |pc AS (SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2),
       |th AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n_head FROM pc GROUP BY 1),
       |ds AS (SELECT bg.doc_id,
       |         CAST(SUM(CAST(CAST(pc.n AS DOUBLE) / CAST(th.n_head AS DOUBLE)
       |                       AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS avg_p
       |       FROM bg JOIN pc ON bg.w1 = pc.w1 AND bg.w2 = pc.w2
       |                JOIN th ON bg.w1 = th.w1
       |       WHERE bg.doc_id IN (SELECT doc_id FROM d5)
       |       GROUP BY bg.doc_id),
       |d6 AS (SELECT doc_id FROM ds WHERE avg_p >= 0.034)
       |SELECT 0 AS stage, 'raw' AS label, (SELECT COUNT(*) FROM scored) AS n_docs
       |UNION ALL SELECT 1, 'normalized', (SELECT COUNT(*) FROM scored WHERE s1)
       |UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM d2)
       |UNION ALL SELECT 3, 'dedup_exact', (SELECT COUNT(*) FROM d3)
       |UNION ALL SELECT 4, 'dedup_near', (SELECT COUNT(*) FROM d4)
       |UNION ALL SELECT 5, 'decontaminated', (SELECT COUNT(*) FROM d5)
       |UNION ALL SELECT 6, 'lm_band', (SELECT COUNT(*) FROM d6)
       |ORDER BY stage""".stripMargin
  }

  // --------------------------------------------------- decontamination

  /** Benchmark decontamination — the train/test-overlap check every
    * training pipeline runs before a data release: the distinct 3-shingle
    * sets of a (small) benchmark corpus (here: doc_id < 10) are broadcast
    * against the candidate corpus; each candidate doc's overlap fraction
    * |doc ∩ bench| / |doc| flags it contaminated at ≥ 0.5. The flag
    * compares the UNROUNDED ratio (both engines), and all reported
    * aggregates are integer sums — exact at any scale. Topology: one
    * shingle scan (checkpointed — it feeds both sides), benchmark set
    * broadcast, one keyed shuffle per rollup. */
  def qTextContamination(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d).localCheckpoint(eager = false)
    val bench = sh.filter(col("doc_id") < 10).select(col("v")).distinct()
      .withColumn("hit", lit(1L))
    val ds = sh.filter(col("doc_id") >= 10).distinct()
    val perDoc = ds.join(broadcast(bench), Seq("v"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_ov"))
    perDoc
      .join(documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_ov").cast(DoubleType) / col("n_sh").cast(DoubleType) >= 0.5,
          1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_ov")).as("sum_overlap"),
        sum(col("n_sh")).as("sum_shingles"))
      .orderBy(col("lang"))
  }

  val qTextContaminationSql: String =
    s"""WITH $shinglesSqlCte,
      |bench AS (SELECT DISTINCT v FROM sh WHERE doc_id < 10),
      |ds AS (SELECT DISTINCT doc_id, v FROM sh WHERE doc_id >= 10),
      |per_doc AS (
      |  SELECT ds.doc_id, COUNT(*) AS n_sh,
      |    CAST(SUM(CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ov
      |  FROM ds LEFT JOIN bench b ON ds.v = b.v
      |  GROUP BY ds.doc_id)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN CAST(n_ov AS DOUBLE) / CAST(n_sh AS DOUBLE) >= 0.5
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(SUM(n_ov) AS BIGINT) AS sum_overlap,
      |  CAST(SUM(n_sh) AS BIGINT) AS sum_shingles
      |FROM per_doc JOIN documents d USING (doc_id)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // --------------------------------------------------- cosine top-k search

  /** Brute-force cosine top-k: 10 probe vectors (vec_id < 10) against all
    * embeddings. cos = dot / sqrt(na*nb) — the exact operation order DuckDB's
    * list_cosine_similarity uses, so doubles match bit-for-bit before the
    * 4dp round. Probes broadcast; candidates never shuffle. Deliberately the
    * O(n·k) baseline — the LSH-bucketed variant is the scale path. */
  def qSimTopk(s: SparkSession, d: String): DataFrame = {
    // the graded query runs the cosine-top-k rewrite (plans.CosineTopKRewrite):
    // the rank-limit window below plans as the exact two-phase bounded-heap
    // operator, and this oracle hash-gates its exactness
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .withColumn("na", sumSq(col("embedding")))
    val probes = e
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("na").as("pna"))
    val scored = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("embedding"), col("pvec")) /
          sqrt(col("na") * col("pna")), 4).as("score"))
    AnnOps.topK(scored, "probe_id", 5, col("score").desc, col("neighbor_id"))
      .orderBy(col("probe_id"), col("rn"))
  }

  val qSimTopkSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (SELECT vec_id AS probe_id, emb AS pemb FROM e WHERE vec_id < 10),
      |s AS (SELECT probe_id, vec_id AS neighbor_id,
      |        round(list_cosine_similarity(emb, pemb), 4) AS score
      |      FROM e, p WHERE vec_id <> probe_id)
      |${AnnOps.topKSql("s", "probe_id, neighbor_id, score", 5, "score DESC, neighbor_id")}""".stripMargin

  // ------------------------------------------------------- text statistics

  /** Generator/UDTF-shaped: tokenize, explode, top-20 tokens per language
    * (count desc, token asc). Partial-aggregated counts, then a per-lang
    * top-k window over the small aggregate. */
  def qTextStats(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .orderBy(col("lang"), col("rn"))
  }

  val qTextStatsSql: String =
    """WITH counts AS (
      |  SELECT lang, tok AS token, COUNT(*) AS n
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  WHERE tok <> ''
      |  GROUP BY lang, tok),
      |r AS (SELECT lang, token, n,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rn
      |      FROM counts)
      |SELECT lang, token, n, rn FROM r WHERE rn <= 20
      |ORDER BY lang, rn""".stripMargin

  // ------------------------------------------------- multimodal assembly

  /** Join text and vector modalities, assemble typed nested structs, project
    * back to flat columns (the oracle-comparable form). Demonstrates the
    * nested-type surface (struct build + dotted field access). */
  def qMultimodalStruct(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"))
    val vecs = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("vec_dim"),
        round(sqrt(sumSq(col("embedding"))), 4).as("l2_norm"))
    docs.join(vecs, col("doc_id") === col("vec_id"))
      .select(
        struct(col("doc_id"), col("lang"), col("n_tokens"), col("n_chars")).as("doc_meta"),
        struct(col("label"), col("vec_dim"), col("l2_norm")).as("vec_meta"))
      .select(
        col("doc_meta.doc_id").as("doc_id"),
        col("doc_meta.lang").as("lang"),
        col("doc_meta.n_tokens").as("n_tokens"),
        col("doc_meta.n_chars").as("n_chars"),
        col("vec_meta.label").as("label"),
        col("vec_meta.vec_dim").as("vec_dim"),
        col("vec_meta.l2_norm").as("l2_norm"))
      .orderBy(col("doc_id"))
  }

  val qMultimodalStructSql: String =
    """SELECT d.doc_id, d.lang,
      |  len(string_split(d.text, ' ')) AS n_tokens, d.n_chars,
      |  e.label, len(e.embedding) AS vec_dim,
      |  round(sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x))), 4) AS l2_norm
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------- exact substring dedup

  /** Exact duplicated-span detection (the "dedup long common substrings"
    * pass of LLM corpus curation, approximated suffix-array-free): every
    * K=8-token span is a gram; a gram present in ≥2 distinct documents
    * marks every position it covers as duplicated text. Output per
    * affected doc: span count, duplicated-span count, coverage fraction.
    *
    * Shape: row-local gram explosion (array transform over token indices,
    * no window), then ONE aggregation keyed on (gram, doc) — map-side
    * combine collapses within-doc repeats before the shuffle — a
    * vocab-sized rollup to the ≥2-doc gram set over the SAME gram
    * partitioning (exchange reuse), and a join back that only carries
    * duplicated grams. Never all-pairs: cost is Σ|gram bucket|², i.e.
    * linear in corpus + duplicated volume.
    *
    * Gram KEY (guide §2.3 "narrower types"): the 8-token gram STRING
    * (unbounded bytes — avg ~50 B here, arbitrarily wide at 100 TB) is hashed
    * row-locally to the repo's cross-engine 48-bit md5 key (the `textHash`
    * pattern, byte-identical in Spark and DuckDB), so BOTH shuffles and the
    * dup-join carry one fixed 8-byte BIGINT instead of the string. The oracle
    * hashes identically, so parity is exact by construction; a 48-bit
    * intra-corpus collision would merge two gram classes IDENTICALLY in both
    * engines (expected collisions ≈ n²/2⁴⁹ ≈ 9e-5 at this corpus's ~225k
    * distinct grams — verified zero at sf0.001/0.01/0.1: the hashed outputs
    * are byte-identical to the string-keyed ones). */
  def qDedupSubstring(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val grams = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= K)
      .select(col("doc_id"),
        (size(col("tk")) - (K - 1)).cast(LongType).as("total"),
        explode(expr(s"transform(sequence(1, size(tk) - ${K - 1}), " +
          s"i -> CAST(conv(substring(md5(concat_ws(' ', slice(tk, i, $K)))," +
          s" 1, 12), 16, 10) AS BIGINT))")).as("g"))
    val byDocGram = grams.groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).as("npos"), max(col("total")).as("total"))
    val dup = byDocGram.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("g"))
    byDocGram.join(dup, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(max(col("total")).as("n_grams"), sum(col("npos")).as("dup_positions"))
      .withColumn("dup_frac",
        col("dup_positions").cast(DoubleType) / col("n_grams").cast(DoubleType))
      .orderBy(col("doc_id"))
  }

  val qDedupSubstringSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |grams AS (
      |  SELECT doc_id, len(tk) - 7 AS total,
      |         CAST(('0x' || substr(md5(
      |           array_to_string(list_slice(tk, i, i + 7), ' ')), 1, 12))
      |           AS BIGINT) AS g
      |  FROM toks, LATERAL unnest(range(1, len(tk) - 6)) AS t(i)
      |  WHERE len(tk) >= 8),
      |bdg AS (SELECT g, doc_id, COUNT(*) AS npos, MAX(total) AS total
      |        FROM grams GROUP BY g, doc_id),
      |dup AS (SELECT g FROM bdg GROUP BY g HAVING COUNT(*) >= 2)
      |SELECT doc_id, MAX(total) AS n_grams,
      |  CAST(SUM(npos) AS BIGINT) AS dup_positions,
      |  CAST(SUM(npos) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS dup_frac
      |FROM bdg JOIN dup USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- bloom-filter dedup

  /** BLOOM-FILTER CROSS-CORPUS DEDUP — the incremental-crawl membership
    * gate: "is this document already in the previous crawl?" answered
    * WITHOUT joining the new batch against the historical corpus. The
    * history (here: even doc_ids) is folded into a Bloom filter of
    * m = 16·n bits with k = 3 positions per key via Kirsch–Mitzenmacher
    * double hashing (pos_i = (h1 + i·h2) mod m from two independent
    * 48-bit md5 halves — two hash evaluations give all k positions);
    * every probe doc checks its 3 bits. The filter is materialized as
    * (block, word) BIGINT pairs — pos/63 → BIT_OR of 1<<(pos%63), 63
    * payload bits per word so no engine has to shift into the BIGINT
    * sign bit — i.e. the actual m-bit bitmap in relational form, ~2
    * bytes per history key: a 1e9-document history is a ~2 GB bitmap
    * where the raw key set would be tens of GB, and the FP rate stays
    * ~0.5% independent of scale because m tracks n. Past broadcast
    * range the same (block, word) table shuffles as a bucketed join
    * side — the representation degrades gracefully instead of hitting
    * a driver memory wall.
    * Output is the honest confusion rollup per lang: members (even ids)
    * MUST all flag (Bloom filters have no false negatives — the query
    * self-checks this invariant: n_flagged ≥ n_members), and flagged
    * odd ids are counted as n_false_pos, the measured FP rate of the
    * 16-bits/key sizing. Both engines compute identical bits: md5 is
    * byte-identical, and shifts/BIT_OR on BIGINT are two's-complement
    * in both. Scale: one history pass (group by block = one small
    * shuffle of m/63 words), one probe pass against the broadcast
    * bitmap, one per-doc rollup — the corpus is never self-joined. */
  def qDedupBloom(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // m = 16 bits per history key, carried as a broadcast scalar so the
    // filter sizing tracks the corpus (FP rate is scale-invariant)
    val nb = docs.filter(col("doc_id") % 2 === 0)
      .agg((count(lit(1)) * 16L).as("m"))
    val hh = docs
      .select(col("doc_id"), col("lang"),
        expr("CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT)")
          .as("ha"),
        expr("CAST(conv(substring(md5(text), 13, 12), 16, 10) AS BIGINT)")
          .as("hb"))
      .crossJoin(broadcast(nb))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(0, 2), i -> (ha % m + i * (hb % (m - 1) + 1)) % m)"))
          .as("pos"))
    val bits = hh.filter(col("doc_id") % 2 === 0)
      .groupBy(expr("pos div 63").as("block"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))")
        .as("word"))
    val perDoc = hh
      .join(broadcast(bits), expr("pos div 63") === col("block"), "left_outer")
      .withColumn("hit",
        when(col("word").isNotNull &&
          expr("word & shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))") =!= 0L,
          1L).otherwise(0L))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(col("hit")).as("all_hit"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_members"),
        sum(col("all_hit")).as("n_flagged"),
        sum(when(col("all_hit") === 1L && col("doc_id") % 2 === 1, 1L)
          .otherwise(0L)).as("n_false_pos"))
      .orderBy(col("lang"))
  }

  val qDedupBloomSql: String =
    """WITH nb AS (
      |  SELECT 16 * COUNT(*) AS m FROM documents WHERE doc_id % 2 = 0),
      |hh AS (
      |  SELECT doc_id, lang,
      |    (ha % m + i * (hb % (m - 1) + 1)) % m AS pos
      |  FROM (SELECT doc_id, lang,
      |          CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS ha,
      |          CAST(('0x' || substr(md5(text), 13, 12)) AS BIGINT) AS hb
      |        FROM documents), nb, (VALUES (0), (1), (2)) t(i)),
      |bits AS (
      |  SELECT pos // 63 AS block,
      |    BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS word
      |  FROM hh WHERE doc_id % 2 = 0 GROUP BY 1),
      |perdoc AS (
      |  SELECT h.doc_id, h.lang,
      |    MIN(CASE WHEN b.word IS NOT NULL AND
      |          (b.word & (CAST(1 AS BIGINT) << CAST(h.pos % 63 AS INTEGER)))
      |            <> 0
      |        THEN 1 ELSE 0 END) AS all_hit
      |  FROM hh h LEFT JOIN bits b ON h.pos // 63 = b.block
      |  GROUP BY 1, 2)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_members,
      |  CAST(SUM(all_hit) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN all_hit = 1 AND doc_id % 2 = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_false_pos
      |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  /** CORPUS REWRITE dedup (the C4/`deduplicate-text-datasets` move):
    * q_dedup_substring only MEASURES duplicated spans — this operator
    * REMOVES them and re-emits the text. Docs split into non-overlapping
    * 8-word tiles; each distinct tile survives only at its corpus-FIRST
    * occurrence (global (doc_id, tile_no) order — deterministic, no
    * arrival-order dependence); every doc is reassembled from its
    * surviving tiles in position order. Two balanced shuffles — by tile
    * content for the first-occurrence pick, back by doc_id for
    * reassembly — exactly the shape this runs at corpus scale (the tile
    * hash IS the partitioner; no broadcast, no global state). Graded
    * per-lang: doc/tile/kept counts plus an md5-prefix checksum of every
    * rewritten text, so ONE tile kept or ordered wrongly anywhere in the
    * corpus flips the hash. Docs shorter than one tile drop out on both
    * sides; docs whose every tile is removed stay, with empty text. */
  def qDedupRewrite(s: SparkSession, d: String): DataFrame = {
    val tiles = documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(tk) div 8), " +
          "i -> struct(CAST(i AS BIGINT) AS tile_no, " +
          "concat_ws(' ', slice(tk, (i - 1) * 8 + 1, 8)) AS tile))")).as("t"))
      .select(col("doc_id"), col("lang"),
        col("t.tile_no").as("tile_no"), col("t.tile").as("tile"))
    val firstSeen = Window.partitionBy(col("tile"))
      .orderBy(col("doc_id"), col("tile_no"))
    val kept = tiles
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
    val rewritten = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(sort_array(collect_list(" +
          "struct(tile_no, tile))), x -> x.tile), ' ')").as("txt"))
    tiles.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tiles"))
      .join(rewritten, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tiles")).as("sum_tiles"),
        sum(coalesce(col("n_kept"), lit(0L))).as("sum_kept"),
        sum(expr("CAST(conv(substring(md5(coalesce(txt, '')), 1, 12), 16, 10) AS BIGINT)"))
          .as("text_checksum"))
      .orderBy(col("lang"))
  }

  val qDedupRewriteSql: String =
    """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
      |              FROM documents),
      |tiles AS (
      |  SELECT doc_id, lang, i AS tile_no,
      |         array_to_string(list_slice(tk, (i - 1) * 8 + 1, i * 8), ' ') AS tile
      |  FROM toks, LATERAL unnest(range(1, len(tk) // 8 + 1)) AS t(i)
      |  WHERE len(tk) >= 8),
      |keep AS (
      |  SELECT doc_id, lang, tile_no, tile,
      |         ROW_NUMBER() OVER (PARTITION BY tile
      |           ORDER BY doc_id, tile_no) AS rn
      |  FROM tiles),
      |rewritten AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |         string_agg(tile, ' ' ORDER BY tile_no) AS txt
      |  FROM keep WHERE rn = 1 GROUP BY doc_id),
      |base AS (SELECT doc_id, lang, COUNT(*) AS n_tiles
      |         FROM tiles GROUP BY doc_id, lang)
      |SELECT b.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(b.n_tiles) AS BIGINT) AS sum_tiles,
      |  CAST(SUM(COALESCE(r.n_kept, 0)) AS BIGINT) AS sum_kept,
      |  CAST(SUM(('0x' || substr(md5(COALESCE(r.txt, '')), 1, 12))::BIGINT)
      |       AS BIGINT) AS text_checksum
      |FROM base b LEFT JOIN rewritten r ON b.doc_id = r.doc_id
      |GROUP BY b.lang ORDER BY b.lang""".stripMargin

  // ------------------------------------------------------------- registry

  val queries = graft.functions.Surface.queries(Map(
    "q_dedup_rewrite" -> (qDedupRewrite _),
    "q_dedup_bloom" -> (qDedupBloom _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_substring" -> (qDedupSubstring _),
    "q_dedup_near" -> (qDedupNear _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_dedup_minhash_agg" -> (qDedupMinhashAgg _),
    "q_dedup_jaccard" -> (qDedupJaccard _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_dedup_minhash_native" -> (qDedupMinhashNative _),
    "q_dedup_components" -> (qDedupComponents _),
    "q_sample_split_leakfree" -> (qSampleSplitLeakfree _),
    "q_pairs_contrastive" -> (qPairsContrastive _),
    "q_pipeline_rag" -> (qPipelineRag _),
    "q_text_contamination" -> (qTextContamination _),
    "q_pipeline_funnel" -> (qPipelineFunnel _),
    "q_pipeline_curation" -> (qPipelineCuration _),
    "q_sim_topk" -> (qSimTopk _),
    "q_text_stats" -> (qTextStats _),
    "q_multimodal_struct" -> (qMultimodalStruct _),
  ))

  val oracle: Map[String, String] = Map(
    "q_dedup_bloom" -> qDedupBloomSql,
    "q_dedup_rewrite" -> qDedupRewriteSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_substring" -> qDedupSubstringSql,
    "q_dedup_near" -> qDedupNearSql,
    "q_dedup_incremental" -> qDedupIncrementalSql,
    "q_dedup_minhash_agg" -> qDedupMinhashAggSql,
    "q_dedup_jaccard" -> qDedupJaccardSql,
    "q_dedup_containment" -> qDedupContainmentSql,
    "q_dedup_minhash_native" -> qDedupMinhashAggSql,
    "q_dedup_components" -> qDedupComponentsSql,
    "q_sample_split_leakfree" -> qSampleSplitLeakfreeSql,
    "q_pairs_contrastive" -> qPairsContrastiveSql,
    "q_pipeline_rag" -> qPipelineRagSql,
    "q_text_contamination" -> qTextContaminationSql,
    "q_pipeline_funnel" -> qPipelineFunnelSql,
    "q_pipeline_curation" -> qPipelineCurationSql,
    "q_sim_topk" -> qSimTopkSql,
    "q_text_stats" -> qTextStatsSql,
    "q_multimodal_struct" -> qMultimodalStructSql,
  )
}
