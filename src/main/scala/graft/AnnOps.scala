package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.functions.{BmpCodec, WavCodec}

/** Approximate-nearest-neighbor and embedding near-dup operators plus the
  * multimodal binary-column pipeline (BASELINE.json north star).
  *
  * LSH design: signed random hyperplanes over the 64-dim embedding space
  * (8 for the ANN probe bucket, 24 for near-dup banding). The hyperplanes
  * are deterministic ±1 vectors generated from a fixed arithmetic formula
  * and embedded as LITERALS into both the Spark plan and the oracle SQL —
  * zero cross-engine arithmetic risk. Bit j of a vector's signature =
  * (dot(v, plane_j) >= 0).
  *
  * Vector math runs on the custom codegen'd Catalyst expressions
  * graft_dot / graft_norm_sq (graft.functions.VectorExpressions) — one
  * fused loop inside whole-stage codegen instead of interpreted
  * higher-order functions, with bit-identical results.
  *
  * Scale: signatures are computed in one scan (no shuffle); candidate
  * generation is an equi-join on (band, sig) — the standard LSH topology
  * that replaces the O(n²) all-pairs join at 100 TB.
  */
object AnnOps {
  import Tables._

  private val Dim = 64
  /** IVF probe fan-out (nearest cells searched per probe) — shared by
    * ivf / ivf_pq / the persisted index so all three search the same
    * candidate set; the measured nprobe ladder is SCALE.md's "ANN grids"
    * section (IvfNProbe). */
  private[graft] val IvfNProbe = 4
  /** Coarse bucket width for the ANN probe query (full-signature lookup —
    * a 256-bucket table is the point: probes land in a populated cell). */
  private val Bits = 8
  /** Near-dup banding width: 24 planes in 4 bands of 6 bits. 2-bit band
    * keys (the r4 shape) give 4 buckets per band — candidate generation
    * degenerates to O(n²/4) PER BAND, quadratic at any corpus size (the
    * same saturation failure as a 12-bit SimHash space). 6-bit keys put
    * 64 buckets in every band, cutting candidates 16× while keeping
    * high-cosine recall (p = 1 − θ/π ≈ 0.86 at cos 0.9 → band hit
    * p⁶ ≈ 0.39 → 4-band recall ≈ 0.86). */
  private val DedupBits = 24
  private val BandBits = 6
  private val NBands = DedupBits / BandBits

  /** plane(j)(d) ∈ {-1.0, +1.0}, deterministic — the formula depends only
    * on (j, d), so the first 8 planes of the 24-plane family ARE the ANN
    * query's planes. */
  private def planesFor(bits: Int): Array[Array[Double]] =
    Array.tabulate(bits, Dim) { (j, dd) =>
      if (((j * Dim + dd) * 48271 + 7) % 97 % 2 == 0) 1.0 else -1.0
    }
  // sized to the widest signature any query asks for (4-table LSH = 32
  // bits > DedupBits' 24); the formula is per-index, so widening never
  // changes existing planes
  private val planes: Array[Array[Double]] = planesFor(40)

  /** Spark: dot(emb, plane_j) through the codegen'd kernel, plane inlined
    * as an array literal. */
  private def planeDotExpr(embName: String, j: Int): String = {
    val lits = planes(j).map(v => if (v > 0) "1.0D" else "-1.0D").mkString(",")
    s"graft_dot($embName, array($lits))"
  }

  /** DuckDB: same dot as a literal DOUBLE[] zip. */
  private def planeDotSql(embExpr: String, j: Int): String = {
    val lits = planes(j).map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
    dotSql(embExpr, s"[$lits]::DOUBLE[]")
  }

  private def bitCol(embName: String, j: Int): Column =
    when(expr(planeDotExpr(embName, j)) >= 0, lit(1L << j)).otherwise(lit(0L))

  private def bitSql(embExpr: String, j: Int): String =
    s"(CASE WHEN ${planeDotSql(embExpr, j)} >= 0 THEN ${1L << j} ELSE 0 END)"

  /** (vec_id, embedding, na, bucket): one scan, the whole signature in one
    * fused kernel call. graft_lsh_sig bakes the plane-sign formula into a
    * single generated loop — the expression form was `bits` separate
    * graft_dot(emb, array(<64 literals>)) calls whose janino compile was
    * the r6 bench's largest one-shot cost (~4 s on q_dedup_embed alone);
    * results are bit-identical (VectorExprSpec asserts both forms). */
  private def signatures(s: SparkSession, d: String, bits: Int = Bits): DataFrame =
    vectors(s, d).withColumn("bucket", expr(s"graft_lsh_sig(embedding, $bits)"))

  /** The pre-kernel signature form (sum of per-plane dot whens) — kept as
    * the spec's cross-check that the fused kernel is bit-identical. */
  private[graft] def signatureExprCol(bits: Int): Column =
    (0 until bits).map(j => bitCol("embedding", j)).reduce(_ + _)

  private def signaturesSqlCte(bits: Int): String = {
    val bucket = (0 until bits).map(j => bitSql("emb", j)).mkString(" + ")
    s"""${embSql("emb")},
       |sigs AS (SELECT vec_id, emb, na, $bucket AS bucket FROM e),
       |banded AS (
       |  SELECT vec_id, emb, na, bucket,
       |    ${(0 until NBands).map(b => s"(bucket // ${1L << (BandBits * b)}) % ${1 << BandBits} AS s$b").mkString(", ")}
       |  FROM sigs)""".stripMargin
  }

  // ------------------------------------------------- shared ANN skeleton
  //
  // Every vector search below is the REPOSE shape: the method's own
  // candidate generation (LSH keys, ADC tables, IVF cells, a prefix or
  // sign-bit shortlist, int8 codes, the kNN cell join), then the same
  // exact re-score and per-probe top-k. These are the shared parts: the
  // Spark Column/DataFrame builders, then their DuckDB SQL-fragment twins.

  /** The corpus (vec_id, embedding). */
  private def plainVectors(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("embedding"))

  /** The corpus with its squared norms (vec_id, embedding, na). */
  private[graft] def vectors(s: SparkSession, d: String): DataFrame =
    plainVectors(s, d).withColumn("na", expr("graft_norm_sq(embedding)"))

  /** The IVF family's 8 seed cells (cell_id, cvec, nc): the vectors of
    * `e(vec_id, embedding, na)` with vec_id < 8. */
  private[graft] def seedCells(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cvec"),
        col("na").as("nc"))

  private def probeRange(lo: Long, hi: Long): Column =
    col("vec_id") >= lo && col("vec_id") < hi

  private def cosineRaw(a: String, b: String, na: String, nb: String): Column =
    expr(s"graft_dot($a, $b)") / sqrt(col(na) * col(nb))

  /** Cosine of vector columns `a`, `b` (squared norms `na`, `nb`), 4 dp. */
  private[graft] def cosine(a: String, b: String, na: String, nb: String): Column =
    round(cosineRaw(a, b, na, nb), 4)

  /** Squared L2 ‖c‖² − 2·c·p + ‖p‖², 4 dp. */
  private def l2(c: String, p: String, nc: String, np: String): Column =
    round(col(nc) - lit(2.0) * expr(s"graft_dot($c, $p)") + col(np), 4)

  /** The top `k` rows per `by` under `order`, numbered `rn` from 1. */
  private[graft] def topK(df: DataFrame, by: String, k: Int, order: Column*): DataFrame =
    rankLimit(df, Seq(by), k, "rn", order)

  private def rankLimit(df: DataFrame, by: Seq[String], k: Int, rn: String,
      order: Seq[Column]): DataFrame =
    df.withColumn(rn, row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .filter(col(rn) <= k)

  /** Shortlist → exact re-score → top-k: the `r` best candidates per
    * probe under the method's cheap `approx` order, re-scored by
    * `rescore`, then the top `k` under the `exact` order. */
  private def refine(cand: DataFrame, r: Int, approx: Seq[Column], k: Int,
      exact: Seq[Column])(rescore: DataFrame => DataFrame): DataFrame =
    topK(rescore(rankLimit(cand, Seq("probe_id"), r, "srn", approx)),
      "probe_id", k, exact: _*)

  /** ADC scoring: code rows (vec_id, m, code, …) meet the broadcast ADC
    * table (c_id, pm, pd, …) on subspace, code and `on`; each (probe,
    * vector)'s partials sum through an exact decimal cast, so the total
    * is order-independent → (probe_id, vec_id, adist). */
  private def adcScore(codes: DataFrame, adc: DataFrame, on: Column): DataFrame =
    codes.join(broadcast(adc),
        col("m") === col("pm") && col("code") === col("c_id") && on)
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(round(sum(col("pd").cast(DecimalType(38, 12))).cast(DoubleType), 4)
        .as("adist"))

  /** DuckDB twin of [[vectors]]: CTE `e(vec_id, <v>, na)`. */
  private[graft] def embSql(v: String = "v"): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS $v,
       |             list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS na
       |           FROM embeddings)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"

  private[graft] def cosineSql(a: String, b: String, na: String, nb: String): String =
    s"round(${dotSql(a, b)} / sqrt($na * $nb), 4)"

  private def l2Sql(c: String, p: String, nc: String, np: String): String =
    s"round($nc - 2.0 * ${dotSql(c, p)} + $np, 4)"

  /** DuckDB twin of [[seedCells]] + CellAssign.rank over `e(vec_id, <v>,
    * na)`: CTEs `cents`, `dists` and `ranked(vec_id, <v>, na, cell_id,
    * arn ≤ top)`. */
  private[graft] def cellsSql(top: Int, v: String = "v"): String =
    s"""cents AS (SELECT vec_id AS cell_id, $v AS cvec, na AS nc FROM e WHERE vec_id < 8),
       |dists AS (
       |  SELECT e.vec_id, e.$v, e.na, c.cell_id,
       |    e.na - 2.0 * ${dotSql(s"e.$v", "c.cvec")} + c.nc AS dist
       |  FROM e, cents c),
       |ranked AS (
       |  SELECT vec_id, $v, na, cell_id, arn FROM (
       |    ${rankSql("dists", s"vec_id, $v, na, cell_id", "vec_id", "dist, cell_id", "arn")}
       |  ) t WHERE arn <= $top)""".stripMargin

  private def rankSql(from: String, cols: String, by: String, order: String,
      rn: String = "rn"): String =
    s"SELECT $cols, ROW_NUMBER() OVER (PARTITION BY $by ORDER BY $order) AS $rn FROM $from"

  /** DuckDB twin of [[topK]], as a query's final SELECT. */
  private[graft] def topKSql(from: String, cols: String, k: Int, order: String,
      by: String = "probe_id"): String =
    s"""SELECT $cols, rn FROM (${rankSql(from, cols, by, order)}) t WHERE rn <= $k
       |ORDER BY $by, rn""".stripMargin

  /** DuckDB twin of [[adcScore]]: CTE `scored(probe_id, neighbor_id,
    * adist)` over `from`, which joins `adc` to `code`. */
  private def adcScoredSql(probe: String, vec: String, from: String): String =
    s"""scored AS (
       |  SELECT $probe AS probe_id, $vec AS neighbor_id,
       |    round(CAST(SUM(CAST(adc.pd AS DECIMAL(38,12))) AS DOUBLE), 4) AS adist
       |  $from
       |  GROUP BY 1, 2)""".stripMargin

  // ----------------------------------------------------------- ANN search

  /** Bucket-key flip masks for multi-probe LSH up to Hamming `radius`:
    * 0 (exact), the 8 single flips, the 28 double flips, and (radius 3)
    * the 56 triple flips — 37 or 93 keys per probe. ONE definition
    * feeding the Spark plan and the oracle VALUES list. */
  private[graft] def lshFlipsFor(radius: Int): Seq[Long] = {
    val singles = (0 until Bits).map(j => 1L << j)
    val doubles = for (i <- 0 until Bits; j <- i + 1 until Bits)
      yield (1L << i) | (1L << j)
    val triples = for (i <- 0 until Bits; j <- i + 1 until Bits;
                       l <- j + 1 until Bits)
      yield (1L << i) | (1L << j) | (1L << l)
    Seq(0L) ++ singles ++ (if (radius >= 2) doubles else Nil) ++
      (if (radius >= 3) triples else Nil)
  }

  /** Parameterized LSH search over `tables` independent 8-bit hash
    * tables (table t uses planes [8t, 8t+8) of the shared plane family —
    * one fused `graft_lsh_sig(emb, 8·tables)` call yields ALL tables'
    * keys) with multi-probe radius `radius` per table. Candidates are
    * the OR-union across tables (dedup'd before scoring when tables>1);
    * top-3 per probe by rounded cosine. The (tables × radius) recall/cost
    * grid over this one definition is SCALE.md's `q_sim_ann_lsh` row. */
  private[graft] def lshSearch(s: SparkSession, d: String, tables: Int,
      radius: Int): DataFrame = {
    val totalBits = Bits * tables
    val sigs = vectors(s, d)
      .withColumn("sig", expr(s"graft_lsh_sig(embedding, $totalBits)"))
    val mask = (1L << Bits) - 1
    // single long join key: table-id in the high bits, 8-bit bucket low
    def tkey(t: Int): Column =
      lit(t.toLong << Bits) + shiftright(col("sig"), Bits * t).bitwiseAND(mask)
    val corpus =
      if (tables == 1) sigs.withColumn("bkey", tkey(0))
      else sigs.select(col("vec_id"), col("embedding"), col("na"),
        explode(array((0 until tables).map(tkey): _*)).as("bkey"))
    val flips = lshFlipsFor(radius)
    val probes = sigs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("na").as("pna"), col("sig").as("psig"))
      .select(col("probe_id"), col("pvec"), col("pna"),
        explode(array((for (t <- 0 until tables; f <- flips) yield
          lit(t.toLong << Bits) +
            shiftright(col("psig"), Bits * t).bitwiseAND(mask)
              .bitwiseXOR(lit(f))): _*)).as("pkey"))
      // a probe's flip sets can collide across its own tables' keyspace
      // only at identical (t, key); distinct keeps the broadcast minimal
      .distinct()
    val cand = corpus.join(broadcast(probes),
        col("bkey") === col("pkey") && col("vec_id") =!= col("probe_id"))
    // OR-construction: the same pair can collide in several tables, so
    // candidates are dedup'd before top-3 can emit a duplicate neighbor.
    // Order (r20, guide §2.3 "project before the exchange"): score FIRST
    // — the dot product is row-local, computed map-side inside the
    // broadcast-join stage — then dedup on (probe, neighbor), so the
    // dedup exchange carries 3 narrow columns instead of both 64-dim
    // embeddings (~1 KB/row). Duplicate collisions of one pair are
    // IDENTICAL rows (same vectors ⇒ same rounded score), so
    // dropDuplicates keeps the same single row the pre-scoring dedup fed
    // the scorer — emitted rows unchanged.
    val scoredAll = cand
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine("embedding", "pvec", "na", "pna").as("score"))
    val scored =
      if (tables == 1) scoredAll
      else scoredAll.dropDuplicates("probe_id", "neighbor_id")
    topK(scored, "probe_id", 3, col("score").desc, col("neighbor_id"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** Graded LSH config: 4 independent 8-bit tables (OR-construction,
    * Indyk–Motwani), multi-probe Hamming ≤ 3 per table (Lv et al.); the
    * measured (tables × radius) grid is SCALE.md's `q_sim_ann_lsh` row. */
  private val LshTables = 4
  private val LshRadius = 3

  /** LSH-bucketed ANN at the graded (tables=4, radius=3) point — the
    * pipeline frame plan-shape audits pin; qSimAnnLsh serves its
    * published answer. Still the scale path vs q_sim_topk's brute force:
    * the 372-key fan-out is per-PROBE (tiny, broadcast); the corpus side
    * is a row-local 4-key explode into one bucket equi-join — no corpus
    * shuffle at any scale. Top-3 per probe by rounded cosine. */
  private[graft] def lshSearchGraded(s: SparkSession, d: String): DataFrame =
    lshSearch(s, d, LshTables, LshRadius)

  def qSimAnnLsh(s: SparkSession, d: String): DataFrame =
    publishedAnswer(s, d, "ans_lsh")(lshSearchGraded(s, d))
      .orderBy(col("probe_id"), col("rn"))

  /** Oracle for the graded LSH: one 32-bit signature carries all four
    * tables' 8-bit keys (table t = bits [8t, 8t+8)); `tabs(t, d)`
    * supplies the per-table divisor, flips come from the SAME
    * `lshFlipsFor` the Spark plan uses, and candidate pairs are
    * DISTINCT'd across tables before scoring (OR-construction),
    * mirroring lshSearch's dropDuplicates. */
  val qSimAnnLshSql: String = {
    val tabs = (0 until LshTables)
      .map(t => s"($t, ${1L << (Bits * t)})").mkString(", ")
    val flips = lshFlipsFor(LshRadius).map(v => s"($v)").mkString(", ")
    s"""WITH ${signaturesSqlCte(Bits * LshTables)},
       |ck AS (SELECT vec_id, t * 256 + (bucket // d) % 256 AS bkey
       |       FROM sigs, (VALUES $tabs) tabs(t, d)),
       |p AS (SELECT vec_id AS probe_id, emb AS pemb, na AS pna, bucket AS pbucket
       |      FROM sigs WHERE vec_id < 10),
       |pk AS (SELECT DISTINCT probe_id,
       |         t * 256 + xor((pbucket // d) % 256, f) AS pkey
       |       FROM p, (VALUES $tabs) tabs(t, d),
       |            (VALUES $flips) flips(f)),
       |cand AS (SELECT DISTINCT pk.probe_id, c.vec_id AS neighbor_id
       |         FROM ck c JOIN pk ON c.bkey = pk.pkey
       |                          AND c.vec_id <> pk.probe_id),
       |scored AS (
       |  SELECT cand.probe_id, cand.neighbor_id,
       |    ${cosineSql("n.emb", "p.pemb", "n.na", "p.pna")} AS score
       |  FROM cand JOIN sigs n ON n.vec_id = cand.neighbor_id
       |            JOIN p ON p.probe_id = cand.probe_id)
       |${topKSql("scored", "probe_id, neighbor_id, score", 3, "score DESC, neighbor_id")}""".stripMargin
  }

  // ------------------------------------------------ embedding near-dup

  /** Embedding-cosine near-dup via banded LSH (4 bands × 6 bits): a pair
    * is a candidate iff it collides in ≥1 band; candidates above cosine
    * 0.35 are emitted. Band rows come from ONE signature computation via
    * posexplode (not a 4-way union rescanning the pipeline); candidate
    * generation is an equi-join + distinct — never an all-pairs cross
    * join, and the 64-bucket band space keeps the candidate count
    * ~n²/64 per band instead of the quadratic n²/4 a 2-bit key gives
    * (see DedupBits). */
  def qDedupEmbed(s: SparkSession, d: String): DataFrame = {
    // one materialization of the signature scan (embedding + norm + bucket):
    // it feeds the band self-join AND both sides of the verify join, so
    // without the checkpoint the 24-plane-dot subtree executes 4× — and the
    // precomputed na replaces per-pair norm recomputation (the oracle's
    // banded CTE reads ea.na/eb.na the same way)
    val sigs = signatures(s, d, DedupBits).localCheckpoint(eager = false)
    val bandCols = (0 until NBands).map(b =>
      (col("bucket") / lit(1L << (BandBits * b))).cast(LongType) % (1 << BandBits))
    val bandRows = sigs
      .select(col("vec_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
    val pairs = bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    val ea = sigs.select(col("vec_id").as("va"), col("embedding").as("emb_a"),
      col("na").as("na_a"))
    val eb = sigs.select(col("vec_id").as("vb"), col("embedding").as("emb_b"),
      col("na").as("na_b"))
    pairs.join(ea, Seq("va")).join(eb, Seq("vb"))
      .select(col("va"), col("vb"),
        cosine("emb_a", "emb_b", "na_a", "na_b").as("score"))
      .filter(col("score") >= 0.35)
      .orderBy(col("va"), col("vb"))
  }

  val qDedupEmbedSql: String =
    s"""WITH ${signaturesSqlCte(DedupBits)},
       |band_rows AS (
       |  ${(0 until NBands).map(b => s"SELECT $b AS band, s$b AS sig, vec_id FROM banded").mkString("\n  UNION ALL\n  ")}),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM band_rows a JOIN band_rows b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT va, vb, ${cosineSql("ea.emb", "eb.emb", "ea.na", "eb.na")} AS score
       |  FROM pairs
       |  JOIN banded ea ON ea.vec_id = va
       |  JOIN banded eb ON eb.vec_id = vb)
       |SELECT va, vb, score FROM scored WHERE score >= 0.35
       |ORDER BY va, vb""".stripMargin

  // ------------------------------------------- cluster-level semantic dedup

  /** Cluster-level SEMANTIC dedup (the SemDeDup topology): embed → coarse
    * k-means cells → exact cosine pairs WITHIN each cell → connected
    * components → deterministic min-id survivor per cluster; reported as
    * per-lang survivor counts. The cell restriction is what makes the
    * quadratic verify tractable: pairs are generated by a cell equi-join,
    * so the cost is Σ|cell|², never n² — at 100 TB the cell count scales
    * with the corpus (k ≈ n/target_cell_size, trained via
    * IvfTraining.scala) keeping per-cell work bounded, and cross-cell
    * near-dups are recovered by raising nprobe exactly like the ANN
    * queries. Clustering is CELL-LOCAL union-find via typed
    * flatMapGroups, NOT the global Pregel loop (LlmOps
    * .connectedComponents): the pair graph is confined to cells by
    * construction, so each cell's subgraph resolves independently in one
    * linear pass — one shuffle total, where the global min-label loop
    * costs O(graph diameter) rounds (measured 11 on this graph: cosine
    * chains near the percolation threshold). At 100 TB the invariant that
    * makes this safe is the SemDeDup cell-size cap itself (k ≈
    * n/target_cell_size): a cell's edge list fits one task by design, and
    * the global loop remains the fallback for graphs nobody partitioned
    * (q_dedup_components). */
  def qDedupSemantic(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    // one materialization feeds both sides of the within-cell self-join
    val assigned = CellAssign.rank(e, seedCells(e), "embedding", "na", top = 1)
      .select(col("vec_id"), col("embedding"), col("na"), col("cell_id"))
      // lazy despite the self-join diamond: unlike qPipelineCuration's
      // six expensive branches, double-computing this 16k-row assignment
      // is cheaper than a dedicated materialization job (measured)
      .localCheckpoint(eager = false)
    val a = assigned.select(col("cell_id"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("na").as("naa"))
    val b = assigned.select(col("cell_id").as("cell_b"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("na").as("nab"))
    // unrounded-cosine threshold, same arithmetic order as the oracle
    val pairs = a.join(b, col("cell_id") === col("cell_b") && col("va") < col("vb"))
      .filter(cosineRaw("ea", "eb", "naa", "nab") >= 0.35)
      .select(col("cell_id"), col("va"), col("vb"))
    import s.implicits._
    // per-cell union-find, root = component min (union always attaches
    // the larger root under the smaller): a node is dropped iff it is
    // not its component's min — identical fixpoint to the oracle's
    // recursive closure, computed in one pass per cell
    val dropped = pairs.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.foreach { case (_, va, vb) =>
          nodes += va; nodes += vb
          val ra = find(va); val rb = find(vb)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        nodes.distinct.iterator.filter(v => find(v) != v)
      }
      .toDF("vec_id").withColumn("is_dropped", lit(1L))
    e.select(col("vec_id"))
      .join(documents(s, d).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .join(dropped, Seq("vec_id"), "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce(col("is_dropped"), lit(0L)))).as("n_survivors"))
      .orderBy(col("lang"))
  }

  val qDedupSemanticSql: String =
    s"""WITH RECURSIVE ${embSql()},
      |${cellsSql(1)},
      |pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM ranked a JOIN ranked b
      |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      |  WHERE ${dotSql("a.v", "b.v")} / sqrt(a.na * b.na) >= 0.35),
      |edges AS (SELECT va, vb FROM pairs UNION SELECT vb, va FROM pairs),
      |reach(a, b) AS (
      |  SELECT va, vb FROM edges
      |  UNION
      |  SELECT r.a, e2.vb FROM reach r JOIN edges e2 ON r.b = e2.va),
      |comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS label
      |         FROM reach GROUP BY a),
      |dropped AS (SELECT node FROM comp WHERE node > label)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN dr.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(COUNT(*) - SUM(CASE WHEN dr.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
      |FROM e JOIN documents d ON e.vec_id = d.doc_id
      |LEFT JOIN dropped dr ON dr.node = e.vec_id
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // --------------------------------------------- product quantization ANN

  /** Subspace count (64 dims → 4 × 16-dim subvectors) and per-subspace
    * codebook size for the PQ query. */
  private val PqM = 4
  private val PqSub = Dim / PqM
  private val PqK = 16

  // Spark-side subspace distances and argmin codes run on the codegen'd
  // graft_pq_subdists / graft_pq_encode kernels (VectorExpressions.scala):
  // same sequential left-to-right double accumulation and strict-< argmin
  // as the HOF chain they replaced (bit-identical results — VectorExprSpec
  // asserts it), but one fused loop instead of ~4 KB of generated lambda
  // source per subspace, which was the PQ queries' dominant bench cost
  // (janino cold compile, ~2 s).

  /** DuckDB: the identical subspace distance over list_slice. */
  private def pqSubdistSql(v: String, c: String, mExpr: String): String =
    s"list_sum(list_transform(list_zip(" +
      s"list_slice($v, $mExpr * $PqSub + 1, $mExpr * $PqSub + $PqSub), " +
      s"list_slice($c, $mExpr * $PqSub + 1, $mExpr * $PqSub + $PqSub)), " +
      "x -> (x[1] - x[2]) * (x[1] - x[2])))"

  /** Product-quantization ANN (IVF-PQ's compression half): every vector is
    * encoded as M=4 one-byte codes — per subspace, the argmin-distance
    * entry of a 16-centroid codebook — and probe-to-candidate distance is
    * the ADC (asymmetric distance computation) sum of 4 table lookups,
    * never a touch of the original vector. At 100 TB this is THE memory
    * lever: 64 floats (256 B) become 4 B per vector, the code table is
    * scanned, and the per-probe ADC table (M × 16 doubles) is a broadcast.
    *
    * Topology: the codebook (TRAINED — PqLloydRounds of per-subspace
    * fixed-point Lloyd seeded from the first 16 vectors, the same
    * machinery as q_sim_ann_ivf_trained; see pqCbRows) is a 1-row
    * broadcast array; ENCODING is a row-local fold over that array (no
    * shuffle — each vector computes its own codes in place, exactly what
    * a custom expression would do); scoring joins the exploded (vec, m,
    * code) rows to the broadcast ADC table and sums the 4 partials
    * through an exact decimal cast (order-independent, so the doubles
    * survive the strict oracle compare). Top-3 per probe by (distance,
    * vec_id).
    *
    * Lloyd rounds for the PQ subspace codebooks: exactly 2 — the measured
    * round grid is SCALE.md's "ANN grids" section (PqLloydRounds). */
  private val PqLloydRounds = 2

  /** The ANISOTROPIC embedding view (r15): dim i scaled by 8/(8+i), a
    * fixed rational variance-decay ladder. Real embedding models
    * front-load variance into the leading dimensions; the synthetic
    * fixture is isotropic, which made every rotation/residual recall
    * verdict vacuous (r14 — no variance structure to re-balance). The
    * transform is deterministic IEEE double arithmetic, so the DuckDB
    * side replays it exactly: see [[anisoSqlDuck]]. */
  private[graft] def anisoSql(c: String): String =
    s"transform($c, (x, i) -> x * 8.0D / (8.0D + CAST(i AS DOUBLE)))"

  /** The DuckDB formulation of [[anisoSql]] (no lambda index there:
    * zip with a 1-based range and shift by one). */
  private[graft] def anisoSqlDuck(c: String): String =
    s"list_transform(list_zip($c, range(1, 1 + len($c))), " +
      "p -> p[1] * 8.0 / (7.0 + p[2]))"

  /** The OPQ-family rotation that WINS the raw-ADC tier on the
    * anisotropic view (SCALE.md Round-15: 6/24 vs identity's 2/24; on the
    * isotropic fixture the same rotation is neutral-to-worse — the
    * re-balance only pays when there is variance structure to
    * re-balance): out[i] = sign(i) · in[perm(i)], perm(i) = 37·i mod 64
    * (stride-37 interleave spreads the high-variance leading dims
    * across all 4 PQ subspaces), sign from a Knuth-multiply bit mix.
    * A signed permutation is exactly orthogonal AND exact in IEEE
    * doubles (no arithmetic beyond sign flip), so the oracle replays
    * it bit-identically: [[rotSqlDuck]]. */
  private[graft] def rotSql(c: String): String =
    s"""transform(sequence(0, 63), i ->
       |  CASE WHEN ((i * 2654435761) DIV 65536) % 4 < 2 THEN 1.0D ELSE -1.0D END *
       |  element_at($c, CAST((i * 37) % 64 AS INT) + 1))""".stripMargin

  /** DuckDB form of [[rotSql]] (same integer arithmetic: BIGINT
    * multiply, floor-div, mod — both engines agree on non-negative
    * operands; 1-based list indexing matches element_at). */
  private[graft] def rotSqlDuck(c: String): String =
    s"list_transform(range(0, 64), i -> " +
      s"(CASE WHEN (i * 2654435761) // 65536 % 4 < 2 THEN 1.0 ELSE -1.0 END)" +
      s" * $c[CAST(i * 37 AS INT) % 64 + 1])"

  /** rot∘aniso FUSED into one transform (r19): out[i] =
    * sign(i) · (x[perm(i)] · 8.0 / (8.0 + perm(i))), perm(i) = 37·i mod
    * 64. BIT-IDENTICAL to rotSql(anisoSql(x)) — the sign multiply by
    * ±1.0 is IEEE-exact and the inner (x[p] · 8.0) / (8.0 + p) is the
    * aniso element verbatim — but evaluates each input element ONCE.
    * The nested composition re-evaluates the ENTIRE inner 64-element
    * transform per element_at call when Catalyst collapses the two
    * projections (higher-order functions run interpreted, so that is
    * 64×64 lambda invocations + 64 array allocations per row — measured
    * r19 as a 2.3× q_sim_ann_recall regression before this fusion;
    * RotFusionSpec pins the bit-equality). */
  private[graft] def rotAnisoSql(c: String): String =
    s"""transform(sequence(0, 63), i ->
       |  CASE WHEN ((i * 2654435761) DIV 65536) % 4 < 2 THEN 1.0D ELSE -1.0D END *
       |  (element_at($c, CAST((i * 37) % 64 AS INT) + 1) * 8.0D
       |   / (8.0D + CAST((i * 37) % 64 AS DOUBLE))))""".stripMargin

  /** DuckDB twin of the rot∘aniso view: CTEs `${name}a` and
    * `$name(vec_id, <v>, na)` — the nested composition, which the fused
    * Spark form equals bit for bit. */
  private def rotAnisoSqlCtes(name: String, v: String): String =
    s"""${name}a AS (SELECT vec_id,
       |              ${anisoSqlDuck("CAST(embedding AS DOUBLE[])")} AS a
       |            FROM embeddings),
       |$name AS (SELECT vec_id, r AS $v, list_sum(list_transform(r, x -> x * x)) AS na
       |      FROM (SELECT vec_id, ${rotSqlDuck("a")} AS r FROM ${name}a) t0)""".stripMargin

  /** TRAINED 16-entry codebook rows (c_id, cv) — ONE definition feeding
    * both the 1-row encode array and the ADC table rows, so the whole PQ
    * family (pq, ivf_pq, persisted index, incremental ingest, recall)
    * co-evolves with the training.
    *
    * Seed: the first 16 vectors (deterministic). Then PqLloydRounds of
    * per-subspace Lloyd: each vector's m-th subvector is assigned to its
    * argmin-L2 codebook entry (ties to the lower c_id — the same strict-<
    * rule as graft_pq_encode), and each (c_id, m) centroid becomes the
    * fixed-point mean of its members: coordinates quantized to
    * floor(x·10⁶ + 0.5), summed as BIGINT (exact, associative — the
    * map-side-combinable form), divided back in double arithmetic. That
    * makes every trained centroid bit-identical between Spark and DuckDB
    * regardless of summation order — the qSimAnnIvfTrained discipline,
    * which is what lets five PQ-family oracles stay hash-gated over a
    * TRAINED quantizer. A (c_id, m) cell that loses all members keeps its
    * previous subvector (the standard empty-cell guard, expressed as a
    * left join + coalesce in both engines).
    *
    * The 4 per-subspace centroids are reassembled into one 64-dim cv per
    * c_id, so every downstream consumer (graft_pq_encode /
    * graft_pq_subdists and the oracle's list_slice CTEs) is unchanged.
    * Scale: per round, one broadcast of the 64-row codebook against the
    * corpus (vectors never shuffle to assign) and two keyed shuffles of
    * (16 × 64) fixed-point aggregates — IvfTraining.scala's topology. */
  private[graft] def pqCbRows(emb: DataFrame, seedLo: Long = 0L,
      rounds: Int = PqLloydRounds): DataFrame = {
    var cb = emb.filter(col("vec_id") >= seedLo && col("vec_id") < seedLo + PqK)
      .select(col("vec_id").cast(IntegerType).as("c_id"), col("embedding").as("cv"))
    for (_ <- 1 to rounds) {
      // assignment is exactly graft_pq_encode: per-subspace argmin-L2 over
      // the c_id-sorted broadcast codebook, strict-< ties to the lower
      // c_id, same double accumulation order as graft_pq_subdists — so the
      // row-local kernel replaces a (vec_id, m) row_number window that
      // shuffled every exploded row with its full embedding attached
      val cbArr = cb
        .agg(sort_array(collect_list(struct(col("c_id").as("c"), col("cv"))))
          .as("cbarr"))
      val assigned = emb.crossJoin(broadcast(cbArr))
        .select(col("vec_id"), col("embedding"),
          posexplode(expr(s"graft_pq_encode(embedding, cbarr, $PqM)"))
            .as(Seq("m", "c_id")))
      // r19: one (c_id, m) exchange of PqSub fixed-point partials instead
      // of the former (c_id, m, sd) explode (PqSub× more rows through the
      // shuffle) followed by a second collect_list regroup. Each element's
      // BIGINT sum is the same order-independent Σ FLOOR(x·10⁶ + 0.5), so
      // every trained centroid is bit-identical to the previous form (and
      // to the oracle's replay) — only the exchange count changes.
      // INVARIANT (r19 ADVICE): the single count(1) per (c_id, m) prices
      // every element of the subvector with the same n — correct because
      // every fixture embedding is a FULL 64-element array with no nulls
      // (a null/short element would now skew that dimension's mean where
      // the per-(c_id, m, sd) counts would have shrunk its own n). A
      // variable-length embedding source must restore per-element counts.
      val means = assigned
        .select(col("c_id") +: col("m") +: (0 until PqSub).map(i =>
          expr(s"FLOOR(element_at(embedding, m * $PqSub + ${i + 1})" +
            " * 1000000.0 + 0.5)").as(s"x$i")): _*)
        .groupBy(col("c_id"), col("m"))
        .agg(sum(col("x0")).as("sx0"),
          (1 until PqSub).map(i => sum(col(s"x$i")).as(s"sx$i")) :+
            count(lit(1)).as("n"): _*)
        .select(col("c_id"), col("m"),
          array((0 until PqSub).map(i => col(s"sx$i").cast(DoubleType) /
            (col("n").cast(DoubleType) * lit(1000000.0))): _*).as("sv"))
      val prevSub = cb.select(col("c_id"),
        posexplode(array((0 until PqM).map(mi =>
          slice(col("cv"), mi * PqSub + 1, PqSub)
            .cast(ArrayType(DoubleType))): _*)).as(Seq("m", "psv")))
      cb = prevSub.join(means, Seq("c_id", "m"), "left_outer")
        .select(col("c_id"), col("m"), coalesce(col("sv"), col("psv")).as("sv"))
        .groupBy(col("c_id"))
        .agg(array_sort(collect_list(struct(col("m"), col("sv")))).as("ps"))
        .select(col("c_id"),
          flatten(transform(col("ps"), p => p.getField("sv"))).as("cv"))
        // 16 tiny rows — cut the per-round lineage so each training round
        // executes once even though the codebook feeds several consumers
        // (encode array, ADC table, next round)
        .localCheckpoint(eager = false)
    }
    cb
  }

  /** PQ codes (vec_id, codes) for `vecs` against the trained codebook rows
    * `cb`: a row-local argmin loop over the broadcast codebook array — no
    * shuffle to encode. The array is sorted by centroid id, so the kernel
    * visits centroids in id order and strict-< keeps the smallest id on
    * ties — same tie rule as the oracle's MIN(c_id) on minima. `vecs` may
    * be a subset of the corpus (incremental ingest encodes only the
    * delta against the full corpus's codebook); the caller trains `cb`
    * ONCE per query and threads it here and into pqAdc, so the Lloyd
    * rounds never run twice in one plan. */
  private[graft] def pqCodeArrWith(vecs: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb
      .agg(sort_array(collect_list(struct(col("c_id").as("c"), col("cv"))))
        .as("cb"))
    vecs.crossJoin(broadcast(cbArr))
      .select(col("vec_id"), expr(s"graft_pq_encode(embedding, cb, $PqM)").as("codes"))
  }

  /** One row per (vec_id, m, code) of the code arrays `codes(vec_id, codes)`. */
  private def codeRows(codes: DataFrame): DataFrame =
    codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))

  /** Per-probe ADC table (probe_id, c_id, pm, pd) for the vectors of `e`
    * matching `probes`: probe-to-centroid subspace distances — M × 16
    * doubles per probe, a broadcast. */
  private def pqAdc(e: DataFrame, probes: Column, cb: DataFrame): DataFrame =
    e.filter(probes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      .crossJoin(broadcast(cb))
      .select(col("probe_id"), col("c_id"),
        posexplode(expr(s"graft_pq_subdists(pv, cv, $PqM)"))
          .as(Seq("pm", "pd")))

  /** Raw-ADC PQ search over `emb(vec_id, embedding)` with codebook `cb`
    * and code arrays `codes`: probes vec_id < 8, each answered by the
    * quantizer's OWN top-3 — no exact re-rank, the tier where codebook
    * quality (and so a rotation's effect) shows. */
  private[graft] def pqRawAdc(emb: DataFrame, cb: DataFrame,
      codes: DataFrame): DataFrame =
    topK(adcScore(codeRows(codes), pqAdc(emb, col("vec_id") < 8, cb),
        col("vec_id") =!= col("probe_id")),
      "probe_id", 3, col("adist"), col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))

  /** The graded PQ pipeline frame (shared staged codebook/codes + ADC +
    * exact re-rank) — plan audits pin this; qSimAnnPq serves its
    * published answer. */
  private[graft] def pqSearchGraded(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val cb = sharedPqCb(s, d)
    val scored = adcScore(codeRows(sharedPqCodes(s, d)),
      pqAdc(e, col("vec_id") < 8, cb), col("vec_id") =!= col("probe_id"))
    // same refine tier as IVF-PQ (rerankAdc): plain PQ ADC-scans the WHOLE
    // corpus, so its shortlist ceiling is the true top-3 — the re-rank
    // recovers what the 4×16 quantizer's ranking tail loses
    rerankAdc(scored, e, 0, 8)
  }

  def qSimAnnPq(s: SparkSession, d: String): DataFrame =
    publishedAnswer(s, d, "ans_pq")(pqSearchGraded(s, d))
      .orderBy(col("probe_id"), col("rn"))

  /** One oracle Lloyd round `inCb` → `cb$r`: per-(vec, subspace) argmin
    * assignment, fixed-point subvector means, empty-cell coalesce from
    * the previous codebook — the mirror of one pqCbRows round. */
  private def pqLloydRoundSql(inCb: String, r: Int, src: String = "e"): String =
    s"""d$r AS (
       |  SELECT $src.vec_id, $src.v, cb.c_id, ms.m,
       |    ${pqSubdistSql(s"$src.v", "cb.cv", "ms.m")} AS dist
       |  FROM $src, $inCb cb, ms),
       |a$r AS (
       |  SELECT vec_id, v, m, c_id FROM (
       |    ${rankSql(s"d$r", "vec_id, v, m, c_id", "vec_id, m", "dist, c_id", "arn")}
       |  ) t WHERE arn = 1),
       |m$r AS (
       |  SELECT c_id, m, sd,
       |    CAST(SUM(CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / (COUNT(*) * 1000000.0) AS mx
       |  FROM (SELECT c_id, m,
       |          unnest(list_slice(v, m * $PqSub + 1, m * $PqSub + $PqSub)) AS x,
       |          generate_subscripts(list_slice(v, m * $PqSub + 1, m * $PqSub + $PqSub), 1) AS sd
       |        FROM a$r) ax
       |  GROUP BY 1, 2, 3),
       |s$r AS (SELECT c_id, m, list(mx ORDER BY sd) AS sv FROM m$r GROUP BY 1, 2),
       |p$r AS (SELECT c_id, ms.m,
       |          list_slice(cv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS psv
       |        FROM $inCb, ms),
       |cb$r AS (
       |  SELECT p.c_id, flatten(list(COALESCE(s.sv, p.psv) ORDER BY p.m)) AS cv
       |  FROM p$r p LEFT JOIN s$r s ON s.c_id = p.c_id AND s.m = p.m
       |  GROUP BY p.c_id)""".stripMargin

  /** Shared oracle CTEs: TRAINED codebook (seed = first 16 vectors,
    * PqLloydRounds of fixed-point Lloyd — the mirror of pqCbRows) +
    * per-vector codes, over a CTE `src(vec_id, v, …)` in scope. */
  private def pqCodeSqlCtesOver(src: String, seedLo: Int): String =
    s"""ms AS (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m),
       |cb0 AS (SELECT vec_id AS c_id, v AS cv FROM $src
       |        WHERE vec_id >= $seedLo AND vec_id < ${seedLo + PqK}),
       |${(1 to PqLloydRounds).map(r => pqLloydRoundSql(s"cb${r - 1}", r, src)).mkString(",\n")},
       |cb AS (SELECT c_id, cv FROM cb$PqLloydRounds),
       |d AS (
       |  SELECT $src.vec_id, cb.c_id, ms.m,
       |    ${pqSubdistSql(s"$src.v", "cb.cv", "ms.m")} AS dist
       |  FROM $src, cb, ms),
       |mn AS (SELECT vec_id, m, MIN(dist) AS md FROM d GROUP BY 1, 2),
       |code AS (
       |  SELECT d.vec_id, d.m, MIN(d.c_id) AS code
       |  FROM d JOIN mn ON d.vec_id = mn.vec_id AND d.m = mn.m AND d.dist = mn.md
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared oracle ADC CTE over a probe CTE `p(probe_id, pv)`. */
  private val pqAdcSqlCte: String =
    s"""adc AS (
       |  SELECT probe_id, c_id, ms.m,
       |    ${pqSubdistSql("p.pv", "cb.cv", "ms.m")} AS pd
       |  FROM p, cb, ms)""".stripMargin

  /** The plain-PQ oracle over the embedding CTEs `eCtes` (ending in
    * `e(vec_id, v, na)`): train, encode, ADC-score probes vec_id < 8,
    * then the exact re-rank (`rerank`) or the quantizer's own top-3. */
  private def pqSql(eCtes: String, rerank: Boolean): String = {
    val scored = adcScoredSql("adc.probe_id", "code.vec_id",
      """FROM code JOIN adc ON adc.m = code.m AND adc.c_id = code.code
        |  WHERE code.vec_id <> adc.probe_id""".stripMargin)
    val tail =
      if (rerank) s",\n$rerankSqlTail"
      else "\n" + topKSql("scored", "probe_id, neighbor_id", 3, "adist, neighbor_id")
    s"""WITH $eCtes,
       |${pqCodeSqlCtesOver("e", 0)},
       |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 8),
       |$pqAdcSqlCte,
       |$scored""".stripMargin + tail
  }

  // lazy: interpolates PqRerank, which is declared below — a strict val
  // here would capture 0 at object init (the qSimAnnRecallSql precedent)
  lazy val qSimAnnPqSql: String = pqSql(embSql(), rerank = true)

  // ------------------------------------------------------------- IVF-PQ

  /** ADC shortlist width for the exact re-rank: the top-R candidates by
    * ADC distance are re-scored with exact L2 before the final top-3 —
    * the FAISS/SCANN refine step, at the cost of R original-vector reads
    * per probe (a constant: ~200 KB at R=768, negligible against
    * scanning a cell at any corpus size). R is sized to the DATA: these
    * isotropic synthetic embeddings give the 4×16 quantizer a long ADC
    * tail (the measured R ladder is SCALE.md's "ANN grids" section); on
    * clustered real embeddings the tail collapses and R=8–16 suffices —
    * the knob, not the topology, is what a deployment retunes. */
  private val PqRerank = 768

  /** Exact-L2 re-rank of an ADC shortlist: keep the top-PqRerank rows of
    * `scored(probe_id, vec_id, adist)` per probe, join back the ORIGINAL
    * vectors for just those rows (an id equi-join of ≤R rows per probe —
    * the refine read a production store does against the full-precision
    * tier), score round(‖c‖²−2·c·p+‖p‖², 4), emit top-3 by (dist,
    * vec_id). `e` must carry (vec_id, embedding, na). */
  private def rerankAdc(scored: DataFrame, e: DataFrame, probeLo: Long,
      probeHi: Long): DataFrame = {
    val cands = e.select(col("vec_id"), col("embedding").as("cemb"),
      col("na").as("cna"))
    val pvecs = e.filter(probeRange(probeLo, probeHi))
      .select(col("vec_id").as("probe_id"), col("embedding").as("pemb"),
        col("na").as("pna"))
    refine(scored, PqRerank, Seq(col("adist"), col("vec_id")),
        3, Seq(col("dist"), col("vec_id"))) {
      _.select(col("probe_id"), col("vec_id"), col("adist"))
        .join(cands, Seq("vec_id"))
        .join(broadcast(pvecs), Seq("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("adist"),
          l2("cemb", "pemb", "cna", "pna").as("dist"))
    }.select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("dist"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** Shared oracle tail: ADC shortlist → exact-L2 re-rank → top-3, over
    * CTEs `scored(probe_id, neighbor_id, adist)` and `e(vec_id, v, na)`.
    * No probe-range parameters on purpose: `scored` is already
    * restricted to the caller's probe set, so a range predicate here
    * would be dead — and dead parameters invited a silent drift from
    * rerankAdc's real probeLo/probeHi filtering (r9 ADVICE). */
  private def rerankSqlTail: String =
    s"""short AS (${rankSql("scored", "probe_id, neighbor_id, adist", "probe_id",
         "adist, neighbor_id", "srn")}),
       |rr AS (
       |  SELECT s.probe_id, s.neighbor_id, s.adist,
       |    ${l2Sql("c.v", "p2.v", "c.na", "p2.na")} AS dist
       |  FROM short s
       |  JOIN e c ON c.vec_id = s.neighbor_id
       |  JOIN e p2 ON p2.vec_id = s.probe_id
       |  WHERE s.srn <= $PqRerank)
       |${topKSql("rr", "probe_id, neighbor_id, adist, dist", 3, "dist, neighbor_id")}""".stripMargin

  /** The probes' [10, 20) nprobe-cell fan-out (probe_id, pcell) from a
    * ranked assignment (vec_id, cell_id, arn). */
  private def probeCells(ranked: DataFrame): DataFrame =
    ranked.filter(probeRange(10, 20))
      .select(col("vec_id").as("probe_id"), col("cell_id").as("pcell"))

  /** Each vector's own (arn = 1) cell (vec_id, cell_id). */
  private def assignedCells(ranked: DataFrame): DataFrame =
    ranked.filter(col("arn") === 1).select(col("vec_id"), col("cell_id"))

  /** IVF candidate pairs: the cell equi-join of corpus rows (vec_id,
    * cell_id, …) with the broadcast probe fan-out (probe_id, pcell, …).
    * A vector sits in exactly one cell and a probe's cells are distinct,
    * so no pair dedup is needed. */
  private[graft] def cellJoin(cand: DataFrame, probes: DataFrame): DataFrame =
    cand.join(broadcast(probes),
      col("cell_id") === col("pcell") && col("vec_id") =!= col("probe_id"))

  /** IVF-PQ — the production ANN architecture, composed from the two
    * graded halves plus the refine step: the IVF coarse quantizer (8
    * seed cells, nprobe=IvfNProbe fan-out — ScaleOps.qSimAnnIvf's
    * topology) restricts WHICH vectors are scored, PQ ADC decides the
    * shortlist (4 one-byte codes against the broadcast codebook — this
    * file's qSimAnnPq), and the ADC top-R shortlist is re-ranked with exact L2
    * (rerankAdc). At 100 TB: candidates shrink ~C× by the cell
    * equi-join, each candidate costs 4 table lookups against a 4 B code
    * instead of a 256 B vector read, and only the ≤R-per-probe shortlist
    * ever touches full-precision vectors — the three levers multiply.
    * Everything small (centroids, codebook, per-probe ADC tables, probe
    * cell fan-out) broadcasts; the only shuffles are the argmin window
    * and the final per-pair rollup. This is the graded pipeline frame
    * plan audits pin; the query serves its published answer. */
  private[graft] def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    // SEED cells + nprobe=IvfNProbe: Lloyd-trained centroids were
    // measured and rejected here (r10 — they collapse angular separation
    // on isotropic embeddings, recall@3 19→15; SCALE.md's "ANN grids"
    // section has the full ladder). Assignment, codebook and codes are the
    // shared staged midpoints — candidates (arn=1) and the probes'
    // nprobe-cell fan-out are filters over one staged frame.
    val ranked = sharedRanked(s, d)
    val cb = sharedPqCb(s, d)
    val enc = codeRows(sharedPqCodes(s, d))
    val adc = pqAdc(e, probeRange(10, 20), cb)
      .withColumnRenamed("probe_id", "a_probe_id")
    val cand = cellJoin(assignedCells(ranked), probeCells(ranked))
    val scored = adcScore(cand.join(enc, Seq("vec_id")), adc,
      col("probe_id") === col("a_probe_id"))
    rerankAdc(scored, e, 10, 20)
  }

  def qSimAnnIvfPq(s: SparkSession, d: String): DataFrame =
    publishedAnswer(s, d, "ans_ivf_pq")(ivfPqSearch(s, d))
      .orderBy(col("probe_id"), col("rn"))

  /** The inline IVF-PQ oracle: `cellCtes` define the candidate cells
    * `assigned(vec_id, cell_id)` and the probe fan-out `pcells(probe_id,
    * pcell)` over `e(vec_id, v, na)`; `candPred` filters the candidates
    * `a` — "TRUE" for the plain query, a deletion filter for the
    * tombstone-compaction index (whose answer must equal a fresh build
    * excluding the deleted vectors, with centroids and codebook still
    * trained on the FULL corpus — frozen quantizers). */
  private def ivfPqSqlWith(candPred: String,
      cellCtes: String = seedIvfCellsSql): String = {
    val scored = adcScoredSql("pc.probe_id", "a.vec_id",
      s"""FROM assigned a
         |  JOIN pcells pc ON a.cell_id = pc.pcell AND a.vec_id <> pc.probe_id
         |       AND ($candPred)
         |  JOIN code ON code.vec_id = a.vec_id
         |  JOIN adc ON adc.probe_id = pc.probe_id
         |           AND adc.m = code.m AND adc.c_id = code.code""".stripMargin)
    s"""WITH ${embSql()},
       |$cellCtes,
       |$pqCodeSqlCtes,
       |p AS (SELECT vec_id AS probe_id, v AS pv FROM e
       |      WHERE vec_id >= 10 AND vec_id < 20),
       |$pqAdcSqlCte,
       |$scored,
       |$rerankSqlTail""".stripMargin
  }

  /** The seed-cell IVF candidates and probe fan-out, as oracle CTEs. */
  private def seedIvfCellsSql: String =
    s"""${cellsSql(IvfNProbe)},
       |assigned AS (SELECT vec_id, cell_id FROM ranked WHERE arn = 1),
       |pcells AS (SELECT vec_id AS probe_id, cell_id AS pcell
       |           FROM ranked WHERE vec_id >= 10 AND vec_id < 20)""".stripMargin

  private lazy val pqCodeSqlCtes: String = pqCodeSqlCtesOver("e", 0)

  val qSimAnnIvfPqSql: String = ivfPqSqlWith("TRUE")

  // --------------------------------------------------- residual IVF-PQ

  /** RESIDUAL IVF-PQ — the production refinement FAISS calls
    * IndexIVFPQ's default (encode_residual): PQ quantizes the residual
    * v − centroid(cell) instead of the raw vector. Residuals have a
    * fraction of the raw vectors' spread (the coarse quantizer already
    * explained the cell-level structure), so the same 4×16 codebook
    * spends its precision on the part of the vector the cell does NOT
    * explain. The probe side mirrors it per fanned-out cell: the probe's
    * residual against THAT cell's centroid feeds a per-(probe, cell) ADC
    * table, and distances approximate ‖p − v‖² = ‖(p − c) − (v − c)‖²
    * directly. Costs vs plain IVF-PQ at 100 TB: one extra broadcast-join
    * subtraction per vector at build, IvfNProbe ADC tables per probe
    * instead of one — both constant-factor; candidate topology
    * (cell equi-join, no pair dedup, bounded re-rank) is unchanged.
    *
    * Codebook seeds come from vec_ids [20, 20+PqK): vec_ids < 8 ARE the
    * centroids, so their residuals are zero vectors and would collapse
    * half the seed set (probes are 10–19).
    *
    * Spec-only since r15 (QueriesSpec keeps it proven): its measured
    * recall against plain IVF-PQ is SCALE.md's `q_sim_ann_ivf_pq_residual`
    * row. */
  def qSimAnnIvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    // assignment + residual codebook + residual codes are the shared
    // staged midpoints (residVectors/sharedResidCb/sharedResidCodes) —
    // corpus residuals are only touched by those build jobs now
    val ranked = sharedRanked(s, d)
    val pcells = probeCells(ranked)
    val cb = sharedResidCb(s, d)
    val enc = codeRows(sharedResidCodes(s, d))
    // probe residual PER FANNED-OUT CELL → per-(probe, cell) ADC table
    val probeResid = pcells
      .join(e.select(col("vec_id").as("probe_id"),
        col("embedding").as("pe")), Seq("probe_id"))
      .join(broadcast(seedCells(e).select(col("cell_id").as("pcell"), col("cvec"))),
        Seq("pcell"))
      .select(col("probe_id"), col("pcell"),
        expr("zip_with(pe, cvec, (a, b) -> a - b)").as("pv"))
    val adc = probeResid.crossJoin(broadcast(cb))
      .select(col("probe_id").as("a_probe_id"), col("pcell").as("a_pcell"),
        col("c_id"),
        posexplode(expr(s"graft_pq_subdists(pv, cv, $PqM)"))
          .as(Seq("pm", "pd")))
    val cand = cellJoin(assignedCells(ranked), pcells)
    val scored = adcScore(cand.join(enc, Seq("vec_id")), adc,
      col("probe_id") === col("a_probe_id") && col("cell_id") === col("a_pcell"))
    rerankAdc(scored, e, 10, 20)
  }

  // ------------------------------------------- shared trained midpoints
  //
  // The whole PQ/IVF family — six method queries, the four index
  // maintenance verbs, and the 8-method recall scorecard that replays
  // them — derives from four deterministic artifacts: the seed-cell
  // ranked assignment, the trained raw-vector PQ codebook, the corpus
  // code arrays, and their residual twins. Each is a pure function of
  // (sfDir), so each is staged to session-scoped parquet ONCE via
  // SharedStage (the r12 verdict's #1 lever: the scorecard alone was
  // re-training codebooks and re-encoding the corpus seven times, 9.5 s
  // of the driver bench). Parquet round-trips the doubles bit-exactly,
  // so every consumer's answer — and its oracle hash — is unchanged.
  // This IS the production split: quantizer training and corpus encoding
  // are offline build jobs; search queries scan their output.

  /** PUBLISHED ANSWER tables (r15): each graded ANN method query writes
    * its tiny (≤30-row) result once per (application, sfDir) and returns
    * the read-back — the build-once/serve-many split applied to the
    * method ANSWERS themselves. The recall scorecard then grades from
    * the family's published answers instead of re-executing all seven
    * pipelines — the report shape a production store uses (a recall
    * dashboard reads each engine's result table; it does not re-run the
    * engines). Every pipeline still executes exactly once per dataset,
    * inside its own graded query (the first consumer) — with ONE
    * deliberate exception: q_sim_ann_prefix is untimed (its operator is
    * already priced twice, see Bench's untimed rationale), so the
    * prefix pipeline's first consumer is the timed scorecard itself and
    * its build cost is paid inside q_sim_ann_recall's arm. Each other
    * method's cost stays priced in its own timed query; plan-shape
    * audits pin the INNER pipeline frames (PlanQualitySpec), and the
    * coalesce(1) keeps the ≤30-row write a single task. Parquet
    * round-trips the longs/rounded doubles bit-exactly, so every
    * consumer's oracle hash is unchanged. NOTE (r15 ADVICE): building a
    * registered frame is therefore side-effectful — the FIRST
    * construction executes the full pipeline and stages the answer, and
    * every later construction (TimeQ reps 2+, plan prints) is a trivial
    * ≤30-row read. Rep-based timing of the published-answer query NAMES
    * is meaningless after the first call; dev tooling times the inner
    * *Search frames instead (TimeQ prints this caveat), and Bench's
    * steady-state rep pins these names to their first-pass time. */
  private[graft] def publishedAnswer(s: SparkSession, d: String,
      tag: String)(build: => DataFrame): DataFrame = {
    val dir = SharedStage.memoDir(s, d, tag)(
      dd => new java.io.File(dd, "_SUCCESS").exists())(
      dd => build.coalesce(1).write.mode("overwrite").parquet(dd))
    s.read.parquet(dir)
  }

  /** Seed-cell ranked assignment (vec_id, cell_id, arn ≤ IvfNProbe):
    * nearest-IvfNProbe cells of the 8 seed centroids per vector. arn=1
    * rows are the IVF candidate assignment; the probe rows' fan-out is
    * a filter. */
  private[graft] def sharedRanked(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "ann_ranked") {
      val e = vectors(s, d)
      CellAssign.rank(e, seedCells(e), "embedding", "na", top = IvfNProbe)
        .select(col("vec_id"), col("cell_id"), col("arn"))
    }

  /** Trained raw-vector PQ codebook (c_id, cv) — one Lloyd training per
    * (application, sfDir) for pq / ivf_pq / the index family / recall. */
  private def sharedPqCb(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "ann_pqcb")(pqCbRows(plainVectors(s, d)))

  /** Corpus PQ code arrays (vec_id, codes) against the shared codebook —
    * one encode pass per (application, sfDir). */
  private def sharedPqCodes(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "ann_pqcodes")(
      pqCodeArrWith(plainVectors(s, d), sharedPqCb(s, d)))

  /** The rot∘aniso embedding view (vec_id, embedding) — the pq_rot_aniso
    * arm's input, the FUSED row-local IEEE-exact transform of the raw
    * corpus (see [[rotAnisoSql]] for why not the nested composition). */
  private[graft] def rotAnisoEmb(s: SparkSession, d: String): DataFrame =
    plainVectors(s, d)
      .select(col("vec_id"), expr(rotAnisoSql("embedding")).as("embedding"))

  /** Trained ROTATED-view PQ codebook — one Lloyd training per
    * (application, sfDir) for the pq_rot_aniso scorecard arm (r19: the
    * arm re-ran the full training + corpus encode inside EVERY
    * q_sim_ann_recall pass; staged like ann_pqcb, the cost lands once in
    * the disclosed staging map and the per-pass arm plan collapses to
    * the same staged-read ADC shapes the pq arm compiles). */
  private def sharedRotCb(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "ann_rotcb")(pqCbRows(rotAnisoEmb(s, d)))

  /** Rotated-view PQ code arrays against the rotated codebook. */
  private def sharedRotCodes(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "ann_rotcodes")(
      pqCodeArrWith(rotAnisoEmb(s, d), sharedRotCb(s, d)))

  /** The pq_rot_aniso arm at the RAW-ADC tier over the STAGED rotated
    * codebook/codes; parquet round-trips the trained doubles
    * bit-exactly. */
  private[graft] def rotPqSearchStaged(s: SparkSession, d: String): DataFrame = {
    val codes = sharedRotCodes(s, d)
    pqRawAdc(rotAnisoEmb(s, d), sharedRotCb(s, d), codes)
  }

  /** Corpus residuals (vec_id, embedding = v − centroid(owning cell)) —
    * the residual-PQ build input, derived from the shared assignment. */
  private def residVectors(s: SparkSession, d: String): DataFrame = {
    val emb = plainVectors(s, d)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cvec"))
    assignedCells(sharedRanked(s, d))
      .join(emb, Seq("vec_id"))
      .join(broadcast(cents), Seq("cell_id"))
      .select(col("vec_id"),
        expr("zip_with(embedding, cvec, (a, b) -> a - b)").as("embedding"))
  }

  /** Trained RESIDUAL codebook (seeds from vec_ids [20, 20+PqK) — see
    * qSimAnnIvfPqResidual's scaladoc for why). */
  private def sharedResidCb(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "ann_rescb")(pqCbRows(residVectors(s, d), seedLo = 20L))

  /** Residual code arrays (vec_id, codes) against the residual codebook. */
  private def sharedResidCodes(s: SparkSession, d: String): DataFrame =
    SharedStage(s, d, "ann_rescodes")(
      pqCodeArrWith(residVectors(s, d), sharedResidCb(s, d)))

  // ------------------------------------------------- persisted ANN index

  /** The staged index store's path WITHOUT forcing a build — the naming
    * authority for tests (IndexCloneIsolationSpec) per r17 ADVICE. */
  private[graft] def indexStorePath(s: SparkSession, d: String): String =
    SharedStage.stagedPath(s, d, "ann_index_store")

  /** PERSISTED IVF-PQ index — the build-once/probe-many serving topology
    * a 100 TB vector store actually runs (every other ANN query here
    * recomputes assignment + codes inline). Build phase: cell assignment
    * (nearest of 8 seeded centroids) + the 4-byte PQ code array per
    * vector, saved ONCE as a managed parquet table PARTITIONED BY cell_id
    * — Spark's native layout for "read only the probed cells": each cell
    * is a directory, so a probe touches nprobe directories out of C, and
    * the probe-side join prunes them at RUNTIME via dynamic partition
    * pruning (the probe→cell fan-out is a broadcast, and DPP turns it
    * into a partition filter on the scan — PlanQualitySpec asserts the
    * dynamicpruning subquery is in the index scan's partition filters).
    * Probe phase shortlists candidates by pure ADC over the stored codes
    * and touches full-precision embeddings only for the ≤R-per-probe
    * re-rank shortlist (rerankAdc — the refine tier read). Bucketing
    * was the alternative layout (RelOps.qJoinBucketed); partitioning wins
    * here because cell_id is low-cardinality and the probe predicate is
    * cell membership, not key equality.
    *
    * The four q_sim_ann_index* queries grade four different maintenance
    * verbs (build / append / delete+compact / rebalance) over the SAME
    * deterministic base index — frozen quantizers trained on the full
    * corpus. The base rows (assignment + codes) derive from the staged
    * trained midpoints; each query then pays only for its own verb and
    * its own table write — the build-once / maintain-many topology a
    * production vector store has.
    *
    * The WRITTEN base index is staged once per (application, sfDir) —
    * r16 verdict item 1: each of the four index queries needs its own
    * mutable cell-partitioned copy of the SAME deterministic base table,
    * and four full `partitionBy("cell_id")` writes per pass were the
    * largest code-owned block in the graded number (14.9 s single-pass /
    * 5.1 s steady at r16). The store is written ONCE (first consumer
    * pays, inside the timed run — the established SharedStage
    * discipline), with a `seg` sub-partition separating the
    * incremental-ingest delta class (vec_id % 4 == 3, seg=d) from the
    * rest (seg=m), so a consumer can materialize either the full table
    * or the initial-build 3/4 state purely at FILE level. Each query
    * then gets its own catalog table whose data files are hard links
    * into the store (~2 small files per cell — a metadata op, not a
    * shuffle+write) and mutates that copy freely: parquet files are
    * immutable here, every mutation path (dynamic partition overwrite,
    * DROP PARTITION purge, append) replaces whole files, so a clone can
    * never write through a link into the store. At 100 TB this is the
    * shallow-clone primitive Delta/Iceberg expose for exactly this
    * build-once/maintain-many topology. */
  private def stagedIndexStore(s: SparkSession, d: String): String =
    SharedStage.memoDir(s, d, "ann_index_store")(
      dir => new java.io.File(dir, "_SUCCESS").exists()) { dir =>
      sharedRanked(s, d).filter(col("arn") === 1)
        .join(sharedPqCodes(s, d), Seq("vec_id"))
        .select(col("vec_id"), col("codes"), col("cell_id"))
        .withColumn("seg",
          when(col("vec_id") % 4 === 3, lit("d")).otherwise(lit("m")))
        .repartition(col("cell_id"), col("seg"))
        .write.mode("overwrite").partitionBy("seg", "cell_id").parquet(dir)
    }

  /** Materialize a fresh catalog table `default.$name` from the staged
    * store ([[RelOps.clonePartitionedTable]] — hard links + MSCK).
    * `includeDelta=false` clones only the seg=m files — the incremental
    * query's initial 3/4 state. */
  private def cloneIndexTable(s: SparkSession, d: String, name: String,
      includeDelta: Boolean): String = {
    val store = java.nio.file.Paths.get(stagedIndexStore(s, d))
    RelOps.clonePartitionedTable(s, name,
      "vec_id BIGINT, codes ARRAY<INT>, cell_id BIGINT", "cell_id", store) { f =>
      val rel = store.relativize(f).toString
        .replace(java.io.File.separatorChar, '/')
      val segOk = includeDelta || rel.startsWith("seg=m/")
      if (segOk) rel.split('/').find(_.startsWith("cell_id=")) else None
    }
  }

  /** Probe the saved index `table`: the probes' [10, 20) nprobe-cell
    * fan-out over the centroid set `cents(e)` (seed cells, or the
    * rebalanced index's updated set) — CellAssign.rank is row-local, so
    * ranking just the probes costs 10 rows, not a corpus pass — then
    * per-probe ADC tables against the stored codes and the exact re-rank
    * of the ADC top-R shortlist (rerankAdc). Embeddings are read only
    * for the probe vectors and the ≤R-per-probe shortlist (the
    * full-precision refine read); the index scan prunes cells via DPP. */
  private def probeIndex(s: SparkSession, d: String, table: String,
      cents: DataFrame => DataFrame = seedCells): DataFrame = {
    val e = vectors(s, d)
    val adc = pqAdc(e, probeRange(10, 20), sharedPqCb(s, d))
      .withColumnRenamed("probe_id", "a_probe_id")
    val fanout = CellAssign.rank(e.filter(probeRange(10, 20)), cents(e),
        "embedding", "na", top = IvfNProbe)
      .select(col("vec_id").as("probe_id"), col("cell_id").as("pcell"))
    val cand = cellJoin(s.table(table), fanout)
      .select(col("probe_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
    rerankAdc(adcScore(cand, adc, col("probe_id") === col("a_probe_id")), e, 10, 20)
  }

  def qSimAnnIndex(s: SparkSession, d: String): DataFrame =
    probeIndex(s, d, cloneIndexTable(s, d, "graft_ann_index", includeDelta = true))

  /** INCREMENTAL index ingest — the maintenance half of build-once/
    * probe-many: the initial build covers 3 of 4 vec_id classes, then the
    * remaining quarter is ingested by encoding ONLY the delta (assignment
    * + codes computed for the new vectors alone — nothing existing is
    * re-read or re-encoded) and APPENDING into the same cell-partitioned
    * layout. The seed cells and the PQ codebook (trained on the FULL
    * corpus in the shared midpoints, both phases — a real store likewise
    * freezes its quantizers between retrains so codes stay comparable
    * across ingests) don't depend on the split, so probing the appended
    * index must return exactly the full-build (= inline IVF-PQ) answer —
    * which is what the shared oracle grades. At 100 TB this is how a vector store
    * absorbs a daily crawl: delta-sized work, partition-local appends,
    * no rebuild. */
  def qSimAnnIndexIncr(s: SparkSession, d: String): DataFrame = {
    // The delta rows ARE the store's seg=d files (vec_id % 4 == 3 by the
    // store build's seg rule) because the quantizers are frozen on the
    // full corpus: a subset's assignment + codes equal the full build's
    // rows filtered to the subset (the property incremental ingest
    // relies on). The initial 3/4 state arrives as a file-level clone of
    // the store's seg=m files; the graded verb — appending ONLY the
    // delta into the same cell-partitioned layout — stays a real write,
    // delta-sized (r19: read from the store's seg=d subtree instead of
    // the former separate ann_base parquet, which this fold removed).
    val store = stagedIndexStore(s, d)
    val t = cloneIndexTable(s, d, "graft_ann_index_i", includeDelta = false)
    // a corpus with no vec_id % 4 == 3 row has no delta: the store then
    // holds no seg=d directory and there is nothing to append
    if (new java.io.File(store, "seg=d").isDirectory)
      s.read.parquet(s"$store/seg=d")
        // cell_id comes back as a DISCOVERED partition column here (its
        // values are directory names) — pin the original LongType so the
        // append's schema matches the cloned table exactly
        .select(col("vec_id"), col("codes"), col("cell_id").cast(LongType))
        .repartition(col("cell_id"))
        .write.mode("append").partitionBy("cell_id").saveAsTable(t)
    probeIndex(s, d, t)
  }

  /** Index DELETE + partition-confined compaction — the maintenance story
    * beyond append: a deletion request arrives as bare vec_ids at serving
    * time; the tombstone set is resolved to (vec_id, cell_id) by reading
    * the INDEX (never re-encoding), and compaction rewrites ONLY the
    * affected cell directories via dynamic partition overwrite (the
    * q_merge_overwrite machinery): survivors of each touched cell are
    * re-written in place, untouched cells' files are never read or
    * replaced, and a cell whose members are ALL deleted is dropped via
    * ALTER TABLE DROP PARTITION (dynamic overwrite cannot clear a
    * partition it writes no rows into). The affected-cell list is
    * metadata-scale (bounded by the cell count, 8 here — the same
    * cardinality class as a partition listing), which is why collecting
    * it to drive partition pruning is sound at 100 TB. Probing the
    * compacted index must return exactly a fresh build excluding the
    * deleted vectors — centroids + codebook stay trained on the full
    * corpus (frozen quantizers, as between incremental ingests), which
    * is what the parameterized inline oracle grades. */
  def qSimAnnIndexDelete(s: SparkSession, d: String): DataFrame = {
    val t = cloneIndexTable(s, d, "graft_ann_index_d", includeDelta = true)
    val deleted = col("vec_id") % 5 === 2
    // tombstones resolved FROM THE INDEX; affected-cell list is bounded
    // by the number of cells (metadata-sized)
    val affected = s.table(t).filter(deleted)
      .select(col("cell_id")).distinct().collect().map(_.getLong(0))
    if (affected.nonEmpty) {
      val touched = s.table(t).filter(col("cell_id").isin(affected.toIndexedSeq: _*))
      val survivors = touched.filter(!deleted)
      val surviving = survivors.select(col("cell_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      GraftSession.withConfs(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        survivors.select(col("vec_id"), col("codes"), col("cell_id"))
          .repartition(col("cell_id"))
          .write.mode("overwrite").insertInto(t)
      }
      affected.filterNot(surviving).foreach { c =>
        s.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (cell_id = $c)")
      }
    }
    probeIndex(s, d, t)
  }

  /** Index CELL RE-BALANCING after drift — the third maintenance verb
    * (build/append → delete/compact → rebalance): when ingest skew
    * crowds one cell, a probe touching it scans a disproportionate
    * shard. Split the most crowded cell in place: two deterministic
    * sub-centroids seeded from the cell's min/max-id members, the
    * cell's rows re-assigned to the nearer seed (stored PQ codes are
    * FROZEN and travel untouched — only the partition key changes; no
    * vector is re-encoded and no other cell's directory is read or
    * written), the old directory dropped via ALTER TABLE DROP
    * PARTITION, and the two new cells appended. Probing then fans out
    * over the UPDATED centroid set (8 original minus the split one,
    * plus the two seeds as cells 8/9). The seed/count collects are
    * metadata-scale (one cell id, two seed ids). The oracle replays
    * the whole topology change relationally — split choice,
    * reassignment ties, probe fan-out over 9 centroids — so a
    * compaction that touched the wrong directory or re-encoded a code
    * diverges. */
  private val RebalanceTable = "default.graft_ann_index_r"

  /** Phase 1: full build + split-cell choice — the most crowded cell, or
    * None for an empty index. Extracted so the spec can hash the
    * untouched cell directories between build and compaction. */
  private[graft] def rebalanceBuild(s: SparkSession, d: String): Option[Long] = {
    cloneIndexTable(s, d, "graft_ann_index_r", includeDelta = true)
    // the most crowded cell (count desc, cell_id asc) — metadata-scale
    s.table(RebalanceTable).groupBy(col("cell_id")).count()
      .orderBy(col("count").desc, col("cell_id")).limit(1)
      .collect().headOption.map(_.getLong(0))
  }

  /** Phase 2: split the crowded cell in place. Returns the updated
    * centroid set (for the probe fan-out). */
  private[graft] def rebalanceCompact(s: SparkSession, d: String,
      bigCell: Long): DataFrame = {
    val e = vectors(s, d)
    // split seeds: the cell's min/max vec_id members (deterministic);
    // this reads ONLY the crowded cell's directory
    val members = s.table(RebalanceTable).filter(col("cell_id") === bigCell)
      .select(col("vec_id"), col("codes"))
    val seedRow = members.agg(min(col("vec_id")).as("a"),
      max(col("vec_id")).as("b")).collect()(0)
    // two explicit sub-centroid rows (cells 8 and 9) even if the seeds
    // coincide — mirrors the oracle's UNION ALL shape exactly
    def subCell(cell: Long, seed: Long): DataFrame =
      e.filter(col("vec_id") === seed)
        .select(lit(cell).as("cell_id"), col("embedding").as("cvec"),
          col("na").as("nc"))
    val subCents = subCell(8L, seedRow.getLong(0))
      .union(subCell(9L, seedRow.getLong(1)))
    // EAGER checkpoint before the DROP: reassigned READS the partition the
    // next statement deletes — a lazy plan would re-resolve the table
    // after the drop and silently write zero rows (this bit at sf0.01:
    // cells 8/9 never appeared). Materializing one cell's rows is
    // bounded by the shard size — it IS the compaction write's input.
    val reassigned = CellAssign.rank(
      members.join(e.select(col("vec_id"), col("embedding"), col("na")),
        Seq("vec_id")),
      subCents, "embedding", "na", top = 1)
      .select(col("vec_id"), col("codes"), col("cell_id"))
      .localCheckpoint()
    s.sql(s"ALTER TABLE $RebalanceTable DROP IF EXISTS PARTITION " +
      s"(cell_id = $bigCell)")
    reassigned.repartition(col("cell_id"))
      .write.mode("append").partitionBy("cell_id").saveAsTable(RebalanceTable)
    // the updated centroid set: originals minus the split cell, plus the
    // two sub-centroids as cells 8/9
    seedCells(e).filter(col("cell_id") =!= bigCell).union(subCents)
  }

  def qSimAnnIndexRebalance(s: SparkSession, d: String): DataFrame =
    rebalanceBuild(s, d) match {
      case Some(bigCell) =>
        val cents2 = rebalanceCompact(s, d, bigCell)
        probeIndex(s, d, RebalanceTable, _ => cents2)
      // an empty index has no cell to split: probe it as built
      case None => probeIndex(s, d, RebalanceTable)
    }

  /** Oracle for the rebalanced index: the inline IVF-PQ pipeline with
    * the split topology replayed relationally. */
  lazy val qSimAnnIndexRebalanceSql: String = ivfPqSqlWith("TRUE",
    s"""${cellsSql(1)},
       |big AS (SELECT cell_id FROM ranked GROUP BY cell_id
       |        ORDER BY COUNT(*) DESC, cell_id LIMIT 1),
       |mem AS (SELECT vec_id FROM ranked
       |        WHERE cell_id = (SELECT cell_id FROM big)),
       |subc AS (
       |  SELECT 8 AS cell_id, e.v AS cvec, e.na AS nc FROM e
       |  WHERE e.vec_id = (SELECT MIN(vec_id) FROM mem)
       |  UNION ALL
       |  SELECT 9, e.v, e.na FROM e
       |  WHERE e.vec_id = (SELECT MAX(vec_id) FROM mem)),
       |redists AS (
       |  SELECT m.vec_id, c.cell_id,
       |    e.na - 2.0 * ${dotSql("e.v", "c.cvec")} + c.nc AS dist
       |  FROM mem m JOIN e ON e.vec_id = m.vec_id, subc c),
       |reassigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    ${rankSql("redists", "vec_id, cell_id", "vec_id", "dist, cell_id")}
       |  ) t WHERE rn = 1),
       |assigned AS (
       |  SELECT vec_id, cell_id FROM ranked
       |  WHERE cell_id <> (SELECT cell_id FROM big)
       |  UNION ALL SELECT vec_id, cell_id FROM reassigned),
       |cents2 AS (
       |  SELECT cell_id, cvec, nc FROM cents
       |  WHERE cell_id <> (SELECT cell_id FROM big)
       |  UNION ALL SELECT cell_id, cvec, nc FROM subc),
       |pdists AS (
       |  SELECT e.vec_id, c.cell_id,
       |    e.na - 2.0 * ${dotSql("e.v", "c.cvec")} + c.nc AS dist
       |  FROM e, cents2 c WHERE e.vec_id >= 10 AND e.vec_id < 20),
       |pcells AS (
       |  SELECT vec_id AS probe_id, cell_id AS pcell FROM (
       |    ${rankSql("pdists", "vec_id, cell_id", "vec_id", "dist, cell_id", "arn")}
       |  ) t WHERE arn <= $IvfNProbe)""".stripMargin)

  // --------------------------------------------------------- kNN JOIN

  /** Query-side cell fanout, picked from the measured grid: SCALE.md's
    * `q_sim_knn_join` row (rerun it at the deployed cell count before
    * copying this constant — fanout multiplies the query-side shuffle
    * volume linearly). */
  private val KnnJoinFanout = 6

  /** Corpus-scale kNN JOIN — the ANN shape every other search query here
    * deliberately avoids: the probe set is NOT a handful of broadcast
    * vectors but a corpus-sized CLASS (vec_id % 7 = 3, ~14% of the
    * table), so nothing can broadcast. Topology: both sides take the
    * same IVF cell assignment (corpus at its nearest cell, each query
    * fanned out to its KnnJoinFanout nearest), then a cell-keyed SHUFFLE
    * join (hinted shuffle_hash so the plan at any scale is the
    * partitioned join, never a broadcast that would OOM at corpus-sized
    * probes) scores only within-cell pairs — Σ|cell|·|queries∩cell|
    * work, never |corpus|·|queries| — and a per-query window takes
    * top-3. This is the batch "attach nearest neighbors to EVERY row"
    * operator a dedup/linking pipeline runs corpus-vs-corpus at 100 TB.
 */
  def qSimKnnJoin(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val cents = seedCells(e)
    // Two independent ROW-LOCAL assignment passes, each shaped to its
    // side: the corpus takes only its nearest cell (top=1 — 1× corpus
    // rows), and ONLY the ~14% query class fans out to KnnJoinFanout
    // cells. The r12 form ranked the whole corpus at top=fanout and
    // checkpointed 6× corpus rows WITH their 64-dim embeddings attached
    // just to share one pass — materializing that was the entire 5.2×
    // driver-bench regression; two cheap broadcast-assign scans beat one
    // fanout-times-inflated materialization at any scale.
    val corpus = CellAssign.rank(e, cents, "embedding", "na", top = 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec"),
        col("na").as("nna"), col("cell_id"))
    val queries = CellAssign.rank(e.filter(col("vec_id") % 7 === 3),
        cents, "embedding", "na", top = KnnJoinFanout)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("na").as("qna"), col("cell_id"))
    // a corpus vector sits in exactly ONE cell and a query's fanout cells
    // are distinct, so each (query, neighbor) pair matches at most once —
    // no pair dedup needed
    val scored = corpus.hint("shuffle_hash").join(queries, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine("nvec", "qvec", "nna", "qna").as("sim"))
    topK(scored, "query_id", 3, col("sim").desc, col("neighbor_id"))
      .orderBy(col("query_id"), col("rn"))
  }

  val qSimKnnJoinSql: String =
    s"""WITH ${embSql("emb")},
       |${cellsSql(KnnJoinFanout, "emb")},
       |corpus AS (SELECT vec_id AS neighbor_id, emb AS nvec, na AS nna, cell_id
       |           FROM ranked WHERE arn = 1),
       |queries AS (SELECT vec_id AS query_id, emb AS qvec, na AS qna, cell_id
       |            FROM ranked WHERE vec_id % 7 = 3),
       |scored AS (
       |  SELECT q.query_id, c.neighbor_id,
       |    ${cosineSql("c.nvec", "q.qvec", "c.nna", "q.qna")} AS sim
       |  FROM corpus c JOIN queries q USING (cell_id)
       |  WHERE c.neighbor_id <> q.query_id)
       |${topKSql("scored", "query_id, neighbor_id, sim", 3, "sim DESC, neighbor_id", "query_id")}""".stripMargin

  // ------------------------------------------------------- ANN recall@3

  /** ANN RECALL MEASUREMENT — the quality metric every index tuner reads
    * before touching nprobe/bits/codebooks: for each graded ANN method,
    * how many of its top-3 answers are in the brute-force top-3 under
    * that method's OWN metric and probe set (cosine for lsh/ivf, exact
    * L2 for the ADC-scored pq/ivf_pq — ADC approximates L2, so exact L2
    * is its ground truth; the persisted index's answers equal ivf_pq's
    * by the r7 shared-oracle construction, so its recall is this row).
    * Hits are exact integers (0–3) per (method, probe): engine-
    * independent, so the oracle can grade search QUALITY, not just
    * determinism. Scale shape: each truth is one broadcast-probe scan +
    * windowed top-k over ≤10 probes — recall evaluation always runs on
    * a probe SAMPLE, never the corpus, so brute force here is the
    * correct tool (same reason q_sim_topk is the documented non-scale
    * path for search itself).
    *
    * One row of the scorecard: the method, its probe range [lo, hi),
    * its truth metric (`l2`, else cosine), its corpus floor (bit
    * excludes the probe ids from its corpus, so its truth must too —
    * otherwise a probe-only neighbor would be an unreachable "miss"),
    * whether its truth ranks the rot∘aniso view (`rot`), and its answer
    * in both engines. */
  private[graft] case class RecallMethod(name: String, lo: Long, hi: Long,
      l2: Boolean, minCorpus: Long = 0L, rot: Boolean = false)(
      val answer: (SparkSession, String) => DataFrame, val answerSql: String)

  /** The scorecard, one row per method — the graded method answers are
    * read from their published tables, and their oracles are embedded
    * verbatim, so recall is measured on exactly what each method
    * returns. */
  private[graft] lazy val recallMethods: Seq[RecallMethod] = Seq(
    RecallMethod("ivf", 10, 20, l2 = false)(ScaleOps.qSimAnnIvf, ScaleOps.qSimAnnIvfSql),
    // same truth row as ivf (same probes, same cosine metric): the
    // scorecard states the equal-recall claim the ladder measured
    RecallMethod("ivf_prefix", 10, 20, l2 = false)(qSimAnnIvfPrefix, qSimAnnIvfPrefixSql),
    RecallMethod("ivf_pq", 10, 20, l2 = true)(qSimAnnIvfPq, qSimAnnIvfPqSql),
    RecallMethod("lsh", 0, 10, l2 = false)(qSimAnnLsh, qSimAnnLshSql),
    RecallMethod("pq", 0, 8, l2 = true)(qSimAnnPq, qSimAnnPqSql),
    // The rotated-anisotropic PQ arm (r15): the PQ pipeline over the
    // rotated variance-decay view, graded at the RAW-ADC tier (the
    // re-ranked tier saturates 24/24 under every rotation on both
    // fixtures). Its truth is exact L2 over the SAME transformed vectors
    // (the rotation is orthogonal, but truth-on-own-vectors keeps the
    // rounding boundary identical in both engines).
    RecallMethod("pq_rot_aniso", 0, 8, l2 = true, rot = true)(
      rotPqSearchStaged, qSimAnnPqRotAnisoSql),
    RecallMethod("prefix", 20, 30, l2 = false)(qSimAnnPrefix, qSimAnnPrefixSql),
    // bit's re-rank metric is cosine; its top-3 (of the emitted top-5)
    // is what recall@3 grades, over its own corpus (vec_id >= 3)
    RecallMethod("bit", 0, 3, l2 = false, minCorpus = 3)(
      (s, d) => qEmbedBit(s, d).filter(col("rn") <= 3),
      s"SELECT * FROM ($qEmbedBitSql) b WHERE rn <= 3"))

  /** The corpus carrying BOTH truth views: `embedding`/`na` (raw) and
    * `emb2`/`na2` (rot∘aniso, row-local), so every method's truth —
    * the pq_rot_aniso arm's included — rides ONE cross-join pass. */
  private[graft] def recallViews(s: SparkSession, d: String): DataFrame =
    vectors(s, d)
      .withColumn("emb2", expr(rotAnisoSql("embedding")))
      .withColumn("na2", expr("graft_norm_sq(emb2)"))

  /** SINGLE-PASS brute-force truths (r11): tag each method's probe set,
    * cross-join the two-view corpus `eb` ONCE against their union, and
    * rank per (method, probe) → (t_method, probe_id, neighbor_id). Score
    * expressions are the graded methods' own, so ranking ties break
    * identically in both engines; the l2-ascending and cosine-descending
    * orders collapse into one ascending key by negating the rounded
    * cosine (distinct rounded values keep their relative order, ties
    * still break on vec_id). */
  private[graft] def recallTruth(eb: DataFrame, methods: Seq[RecallMethod]): DataFrame = {
    val probesAll = (methods.filterNot(_.rot) ++ methods.filter(_.rot)).map { m =>
      val (vec, nrm) = if (m.rot) ("emb2", "na2") else ("embedding", "na")
      eb.filter(probeRange(m.lo, m.hi))
        .select(lit(m.name).as("t_method"), col("vec_id").as("probe_id"),
          col(vec).as("pvec"), col(nrm).as("pna"),
          lit(m.l2).as("l2"), lit(m.rot).as("rot"), lit(m.minCorpus).as("min_corpus"))
    }.reduce(_ union _)
    val scored = eb.crossJoin(broadcast(probesAll))
      .filter(col("vec_id") =!= col("probe_id") &&
        col("vec_id") >= col("min_corpus"))
      .withColumn("cvec", when(col("rot"), col("emb2")).otherwise(col("embedding")))
      .withColumn("cna", when(col("rot"), col("na2")).otherwise(col("na")))
      .withColumn("okey", when(col("l2"), l2("cvec", "pvec", "cna", "pna"))
        .otherwise(-cosine("cvec", "pvec", "cna", "pna")))
    rankLimit(scored, Seq("t_method", "probe_id"), 3, "rn",
        Seq(col("okey"), col("vec_id")))
      .select(col("t_method"), col("probe_id"), col("vec_id").as("neighbor_id"))
  }

  /** The per-method scorecard frames (method, probe_id, hits) — extracted
    * so PlanQualitySpec can assert each pipeline's plan (broadcast
    * probes, no cartesian) now that qSimAnnRecall's OUTPUT plan is a
    * local relation. */
  private[graft] def recallFrames(s: SparkSession, d: String): Seq[DataFrame] = {
    val eb = recallViews(s, d)
    // eight consumers, one computation
    val truthAll = recallTruth(eb, recallMethods).localCheckpoint(eager = false)
    recallMethods.map { m =>
      val truth = truthAll.filter(col("t_method") === m.name)
        .select(col("probe_id"), col("neighbor_id"))
      val hits = m.answer(s, d).select(col("probe_id"), col("neighbor_id"))
        .join(truth, Seq("probe_id", "neighbor_id"))
        .groupBy(col("probe_id")).agg(count(lit(1)).as("h"))
      // probe spine: a probe whose method found 0 true neighbors (or no
      // candidates at all — possible for a sparse LSH bucket) must still
      // report hits=0, not vanish
      eb.filter(probeRange(m.lo, m.hi))
        .select(col("vec_id").as("probe_id"))
        .join(hits, Seq("probe_id"), "left_outer")
        .select(lit(m.name).as("method"), col("probe_id"),
          coalesce(col("h"), lit(0L)).as("hits"))
    }
  }

  def qSimAnnRecall(s: SparkSession, d: String): DataFrame = {
    // serial union of the per-method scorecards (eight arms since r18).
    // Concurrent materialization was MEASURED (r11, six arms, 3-rep A/B) at
    // 2.07 s → 2.69 s — each pipeline's shuffle stages already fan out to
    // all 32 slots, so 6-way job concurrency only adds scheduler and
    // checkpoint contention. Do not re-try it without new numbers.
    recallFrames(s, d).reduce(_ union _)
      .orderBy(col("method"), col("probe_id"))
  }

  /** Brute-force truth for one method (same score expressions as the
    * method oracles), over `e` or — for the rot arm — `e2`. */
  private def bruteSql(m: RecallMethod): String = {
    val key =
      if (m.l2) s"${l2Sql("c.emb", "p.pemb", "c.na", "p.pna")} ASC"
      else s"${cosineSql("c.emb", "p.pemb", "c.na", "p.pna")} DESC"
    val src = if (m.rot) "e2" else "e"
    val pairs =
      s"""$src c JOIN (SELECT vec_id AS probe_id, emb AS pemb, na AS pna
         |    FROM $src WHERE vec_id >= ${m.lo} AND vec_id < ${m.hi}) p
         |  ON c.vec_id <> p.probe_id WHERE c.vec_id >= ${m.minCorpus}""".stripMargin
    val ranked = rankSql(pairs, "p.probe_id, c.vec_id AS neighbor_id", "p.probe_id",
      s"$key, c.vec_id")
    s"SELECT probe_id, neighbor_id FROM ($ranked) t WHERE rn <= 3"
  }

  /** The rotated-anisotropic PQ method at the RAW-ADC tier, as a
    * self-contained oracle: the pq arm's Lloyd-train/encode/ADC CTEs
    * over e = rot(aniso(embeddings)), final rank = the quantizer's OWN
    * top-3. */
  private lazy val qSimAnnPqRotAnisoSql: String =
    pqSql(rotAnisoSqlCtes("e", "v"), rerank = false)

  lazy val qSimAnnRecallSql: String = {
    def each(sep: String)(f: RecallMethod => String): String =
      recallMethods.map(f).mkString(sep)
    val union = "\n  UNION ALL\n  "
    val truths = each(",\n")(m => s"t_${m.name} AS (${bruteSql(m)})")
    val answers = each(",\n")(m =>
      s"a_${m.name} AS (SELECT probe_id, neighbor_id FROM (${m.answerSql}) q)")
    val hits = each(union)(m =>
      s"SELECT '${m.name}' AS method, probe_id, COUNT(*) AS h\n" +
        s"  FROM a_${m.name} JOIN t_${m.name} USING (probe_id, neighbor_id) GROUP BY 2")
    val spine = each(union)(m =>
      s"SELECT '${m.name}' AS method, vec_id AS probe_id FROM e\n" +
        s"  WHERE vec_id >= ${m.lo} AND vec_id < ${m.hi}")
    s"""WITH ${embSql("emb")},
       |${rotAnisoSqlCtes("e2", "emb")},
       |$truths,
       |$answers,
       |hits AS (
       |  $hits),
       |spine AS (
       |  $spine)
       |SELECT s.method, s.probe_id, CAST(COALESCE(h.h, 0) AS BIGINT) AS hits
       |FROM spine s LEFT JOIN hits h ON s.method = h.method AND s.probe_id = h.probe_id
       |ORDER BY s.method, s.probe_id""".stripMargin
  }

  // ------------------------------------------- multimodal binary pipeline

  /** Multimodal binary-column pipeline: text re-encoded as an opaque
    * binary payload with typed metadata, decoded by a REAL partition-
    * batched RIFF/WAVE parser (graft.functions.WavCodec — see
    * qMultimodalBinary below, which replaced the r5–r10 stub).
    *
    * Frame SAMPLING over the multimodal binary payload — the video-shaped
    * half of the decode pipeline: each payload is treated as a sequence
    * of fixed-size "frames" (16 bytes), every 4th frame is sampled, and a
    * stub per-frame feature (the frame's leading byte — where a real
    * pipeline runs the frame decoder / vision encoder) is extracted in
    * the same partition-batched imperative pass as decodeBinary. One
    * doc-row fans out to its sampled frames ROW-LOCALLY (no shuffle, no
    * state), so the operator is scan-bound at any corpus size and the
    * frame stride directly throttles downstream volume — the knob a
    * 100 TB video pipeline turns first. Payloads are ASCII here, so the
    * oracle reproduces the byte arithmetic with char positions. */
  private val FrameBytes = 16
  private val FrameStride = 4

  private[graft] def sampleFrames(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val payloads = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        col("lang"))
      .as[(Long, Array[Byte], String)]
    payloads.mapPartitions { it =>
      it.flatMap { case (id, bytes, lang) =>
        val frames = bytes.length / FrameBytes
        (0 until frames by FrameStride).iterator.map { fi =>
          (id, lang, fi.toLong, (bytes(fi * FrameBytes) & 0xff).toLong)
        }
      }
    }.toDF("doc_id", "lang", "frame_idx", "feature")
  }

  /** Both multimodal queries equate byte offsets (the Spark side walks the
    * UTF-8 payload) with character positions (the oracle's substr/ascii) —
    * valid only for single-byte text, so both sides FILTER to rows where
    * octet_length == char length rather than silently diverging if the
    * documents fixture ever gains multibyte text. */
  private def asciiOnly(docs: DataFrame): DataFrame =
    docs.filter(expr("octet_length(text) = length(text)"))
  private val asciiOnlySql = "octet_length(CAST(text AS BLOB)) = length(text)"

  def qMultimodalFrames(s: SparkSession, d: String): DataFrame =
    sampleFrames(s, asciiOnly(documents(s, d)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("feature")).as("feature_sum"),
        max(col("frame_idx")).as("max_frame_idx"))
      .orderBy(col("lang"))

  val qMultimodalFramesSql: String =
    s"""WITH f AS (SELECT doc_id, lang, text, len(text) // $FrameBytes AS nf
       |           FROM documents WHERE $asciiOnlySql),
       |sampled AS (
       |  SELECT doc_id, lang, text, unnest(range(0, nf, $FrameStride)) AS fi
       |  FROM f)
       |SELECT lang, COUNT(*) AS n_frames,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(ascii(substr(text, fi * $FrameBytes + 1, 1))) AS BIGINT) AS feature_sum,
       |  CAST(MAX(fi) AS BIGINT) AS max_frame_idx
       |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin

  /** SHOT-BOUNDARY DETECTION over the frame sequence — the video
    * pipeline's segmentation pass: per doc, the stride-1 frame features
    * are scanned for jumps (|Δfeature| > 40 = a cut), yielding per-doc
    * shot counts and the max jump. Detection is ROW-LOCAL — the whole
    * frame sequence of one payload lives in its row, so boundaries are
    * found inside the same partition-batched pass as the decode, zero
    * shuffles before the per-lang rollup (a windowed LAG over exploded
    * frames — the oracle's formulation — would shuffle every frame on
    * doc_id; at 100 TB of video that is the difference between a scan
    * and a sort of the corpus). */
  def qMultimodalShots(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = asciiOnly(documents(s, d))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        col("lang"))
      .as[(Long, Array[Byte], String)]
    payloads.mapPartitions(_.flatMap { case (id, bytes, lang) =>
      val nf = bytes.length / FrameBytes
      if (nf < 1) Iterator.empty
      else {
        var shots = 0L; var maxJump = 0L
        var i = 1
        while (i < nf) {
          val d = math.abs((bytes(i * FrameBytes) & 0xff) -
            (bytes((i - 1) * FrameBytes) & 0xff)).toLong
          if (d > 40) shots += 1
          if (d > maxJump) maxJump = d
          i += 1
        }
        Iterator.single((id, lang, nf.toLong, shots, maxJump))
      }
    }).toDF("doc_id", "lang", "n_frames", "n_shots", "max_jump")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_frames")).as("n_frames"),
        sum(col("n_shots")).as("n_shots"),
        max(col("max_jump")).as("max_jump"))
      .orderBy(col("lang"))
  }

  val qMultimodalShotsSql: String =
    s"""WITH f AS (SELECT doc_id, lang, text, len(text) // $FrameBytes AS nf
       |           FROM documents WHERE $asciiOnlySql),
       |fr AS (SELECT doc_id, lang, nf, text, unnest(range(0, nf)) AS i
       |       FROM f WHERE nf >= 1),
       |feat AS (SELECT doc_id, lang, nf, i,
       |           ascii(substr(text, CAST(i * $FrameBytes + 1 AS INTEGER), 1)) AS v
       |         FROM fr),
       |lagd AS (SELECT doc_id, lang, nf,
       |           abs(v - LAG(v) OVER (PARTITION BY doc_id ORDER BY i)) AS dv
       |         FROM feat),
       |perdoc AS (SELECT doc_id, lang, MAX(nf) AS nf,
       |             SUM(CASE WHEN dv > 40 THEN 1 ELSE 0 END) AS shots,
       |             COALESCE(MAX(dv), 0) AS maxj
       |           FROM lagd GROUP BY 1, 2)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(nf) AS BIGINT) AS n_frames,
       |  CAST(SUM(shots) AS BIGINT) AS n_shots,
       |  CAST(MAX(maxj) AS BIGINT) AS max_jump
       |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  /** Multimodal binary decode, REAL codec edition (replaces the r5–r10
    * stub): each document's payload is synthesized as a genuine RIFF/WAVE
    * file (8-bit unsigned mono PCM of the UTF-8 text bytes; sample rate
    * varies per doc; even docs carry an extra LIST metadata chunk), and
    * the decode stage is WavCodec.parse — a real chunk-walking parser
    * that derives every feature from the parsed header + samples alone.
    * Build and decode are separate partition-batched passes over
    * (id, lang, payload), the exact shape a real ingest→codec pipeline
    * has: the payload column is opaque binary by the time the decoder
    * sees it. Row-local throughout (no shuffle until the final per-lang
    * aggregate), so the operator is scan-bound at any corpus size. The
    * oracle recomputes the features relationally from the text + the
    * synthesis parameters — a parser that misreads a little-endian
    * header field, forgets chunk alignment, or fails to skip the LIST
    * chunk diverges immediately. */
  private[graft] def buildWavPayloads(s: SparkSession, docs: DataFrame)
      : Dataset[(Long, String, Array[Byte])] = {
    import s.implicits._
    docs.select(col("doc_id"), col("lang"),
        encode(col("text"), "UTF-8").as("pcm"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, lang, pcm) =>
        val rate = 8000 + (id % 3).toInt * 4000
        (id, lang, WavCodec.build(pcm, rate, withJunkChunk = id % 2 == 0))
      })
  }

  private[graft] def decodeWav(s: SparkSession,
      payloads: Dataset[(Long, String, Array[Byte])]): DataFrame = {
    import s.implicits._
    payloads.mapPartitions(_.flatMap { case (id, lang, bytes) =>
      // malformed payloads drop out here; the oracle row-counts would
      // flag any loss loudly, so a decode bug cannot pass silently
      WavCodec.parse(bytes).iterator.map { w =>
        (id, lang, w.sampleRate.toLong, w.nSamples, w.durationMs,
          w.sumAmp, w.peak)
      }
    }).toDF("doc_id", "lang", "sample_rate", "n_samples", "duration_ms",
      "sum_amp", "peak")
  }

  /** VOICE-ACTIVITY DETECTION over the decoded WAV payloads — the DSP
    * step a speech-data pipeline runs right after decode (segment the
    * audio, keep/weight the voiced spans). Frames are 64 samples; a
    * frame is ACTIVE when its energy (sum of unsigned 8-bit amplitudes)
    * reaches 6048 (mean amplitude 94.5 — sits at the fixture's median
    * frame energy, so both classes are populated); segments are maximal
    * runs of active frames. All integer arithmetic on the parsed
    * samples, computed in the same partition-batched decode pass as the
    * other audio features — row-local until the per-lang rollup, the
    * shape that holds at any corpus size. Only full frames count (the
    * tail remainder is dropped), and docs with no full frame drop out —
    * mirrored exactly by the oracle's HAVING-size-64 frame filter. The
    * oracle replays the synthesis relationally (frame energy from the
    * text chars, runs via gaps-and-islands) without touching bytes, so
    * the graded match pins the codec + framing + run logic end to end. */
  def qMultimodalVad(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = buildWavPayloads(s, asciiOnly(documents(s, d)))
    val perDoc = payloads.mapPartitions(_.flatMap { case (id, lang, bytes) =>
      WavCodec.parse(bytes).iterator.flatMap { w =>
        val smp = w.samples
        val nf = smp.length / 64
        var nAct = 0L; var nSeg = 0L; var maxRun = 0L; var run = 0L
        var f = 0
        while (f < nf) {
          var e = 0; var i = f * 64; val end = i + 64
          while (i < end) { e += smp(i); i += 1 }
          if (e >= 6048) {
            nAct += 1; run += 1
            if (run == 1) nSeg += 1
            if (run > maxRun) maxRun = run
          } else run = 0
          f += 1
        }
        if (nf > 0) Some((id, lang, nf.toLong, nAct, nSeg, maxRun)) else None
      }
    }).toDF("doc_id", "lang", "n_frames", "n_active", "n_segments", "max_run")
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_frames")).as("sum_frames"),
        sum(col("n_active")).as("sum_active"),
        sum(col("n_segments")).as("sum_segments"),
        max(col("max_run")).as("max_run"))
      .orderBy(col("lang"))
  }

  val qMultimodalVadSql: String =
    """WITH c AS (
      |  SELECT doc_id, lang, text, length(text) AS n
      |  FROM documents
      |  WHERE octet_length(CAST(text AS BLOB)) = length(text)),
      |b AS (SELECT doc_id, lang, text, unnest(range(1, n + 1)) AS i FROM c),
      |f AS (SELECT doc_id, lang, (i - 1) // 64 AS frame,
      |        SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS energy,
      |        COUNT(*) AS sz
      |      FROM b GROUP BY 1, 2, 3),
      |fa AS (SELECT doc_id, lang, frame,
      |         CASE WHEN energy >= 6048 THEN 1 ELSE 0 END AS active
      |       FROM f WHERE sz = 64),
      |r AS (SELECT doc_id, lang, frame, active,
      |        LAG(active) OVER (PARTITION BY doc_id ORDER BY frame) AS prev
      |      FROM fa),
      |seg AS (SELECT doc_id, lang, COUNT(*) AS n_frames,
      |         SUM(active) AS n_active,
      |         SUM(CASE WHEN active = 1 AND COALESCE(prev, 0) = 0
      |             THEN 1 ELSE 0 END) AS n_segments
      |        FROM r GROUP BY 1, 2),
      |runs AS (SELECT doc_id,
      |           frame - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame) AS grp
      |         FROM fa WHERE active = 1),
      |runlen AS (SELECT doc_id, COUNT(*) AS len FROM runs GROUP BY doc_id, grp),
      |mx AS (SELECT doc_id, MAX(len) AS max_run FROM runlen GROUP BY doc_id)
      |SELECT seg.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(seg.n_frames) AS BIGINT) AS sum_frames,
      |  CAST(SUM(seg.n_active) AS BIGINT) AS sum_active,
      |  CAST(SUM(seg.n_segments) AS BIGINT) AS sum_segments,
      |  CAST(MAX(COALESCE(mx.max_run, 0)) AS BIGINT) AS max_run
      |FROM seg LEFT JOIN mx ON seg.doc_id = mx.doc_id
      |GROUP BY seg.lang ORDER BY seg.lang""".stripMargin

  def qMultimodalBinary(s: SparkSession, d: String): DataFrame = {
    val decoded = decodeWav(s, buildWavPayloads(s, asciiOnly(documents(s, d))))
    decoded.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("sample_rate")).as("n_rates"),
        sum(col("n_samples")).as("sum_samples"),
        sum(col("duration_ms")).as("sum_ms"),
        sum(col("sum_amp")).as("total_amp"),
        max(col("peak")).as("max_peak"))
      .orderBy(col("lang"))
  }

  val qMultimodalBinarySql: String =
    """WITH c AS (
      |  SELECT doc_id, lang, text,
      |    8000 + (doc_id % 3) * 4000 AS rate, length(text) AS n
      |  FROM documents
      |  WHERE octet_length(CAST(text AS BLOB)) = length(text)),
      |b AS (SELECT doc_id, text, unnest(range(1, n + 1)) AS i FROM c),
      |amp AS (
      |  SELECT doc_id, SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS sum_amp,
      |         MAX(ascii(substr(text, CAST(i AS INTEGER), 1))) AS peak
      |  FROM b GROUP BY 1)
      |SELECT c.lang, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT c.rate) AS n_rates,
      |  CAST(SUM(c.n) AS BIGINT) AS sum_samples,
      |  CAST(SUM(c.n * 1000 // c.rate) AS BIGINT) AS sum_ms,
      |  CAST(SUM(COALESCE(amp.sum_amp, 0)) AS BIGINT) AS total_amp,
      |  CAST(MAX(COALESCE(amp.peak, 0)) AS BIGINT) AS max_peak
      |FROM c LEFT JOIN amp ON c.doc_id = amp.doc_id
      |GROUP BY c.lang ORDER BY c.lang""".stripMargin

  /** Multimodal IMAGE decode — the vision sibling of qMultimodalBinary:
    * each document's payload is synthesized as a genuine 24-bit Windows
    * BMP (graft.functions.BmpCodec): width varies per doc (8/10/12 —
    * w=10 rows need 2 pad bytes, so 4-byte row alignment is exercised),
    * pixels are stored BOTTOM-UP, and every third doc carries a junk gap
    * between the headers and the pixel array so the parser must honor
    * the header's pixel-offset field. Channels derive from the text:
    * pixel (x, y) ← char c at index y·w+x gives (b, g, r) =
    * (c, (c+x) mod 256, (2c+y) mod 256). Decode is a real header-driven
    * parser in the same partition-batched pass; features are exact
    * integer arithmetic (luminance = (299r + 587g + 114b) div 1000).
    * `row0_sum_b` sums blue over IMAGE row 0 — which is stored LAST in
    * the file, so a parser that read rows top-down (or mis-stepped
    * padding, or ignored the offset field) diverges from the oracle
    * immediately. Row-local throughout: build → decode → featurize is
    * one scan-bound projection per doc, no shuffle until the final
    * per-lang rollup — the operator keeps that shape at any corpus
    * size. */
  private[graft] def buildBmpPayloads(s: SparkSession, docs: DataFrame)
      : Dataset[(Long, String, Array[Byte])] = {
    import s.implicits._
    docs.select(col("doc_id"), col("lang"),
        encode(col("text"), "UTF-8").as("txt"))
      .as[(Long, String, Array[Byte])]
      .filter(t => t._3.length >= 8 + (t._1 % 3).toInt * 2)
      .mapPartitions(_.map { case (id, lang, txt) =>
        val w = 8 + (id % 3).toInt * 2
        val h = txt.length / w
        val px = Array.tabulate(h, w) { (y, x) =>
          val c = txt(y * w + x) & 0xff
          (c, (c + x) % 256, (2 * c + y) % 256)
        }
        (id, lang, BmpCodec.build(px, gapBytes = if (id % 3 == 0) 16 else 0))
      })
  }

  def qMultimodalImage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = buildBmpPayloads(s, asciiOnly(documents(s, d)))
    val decoded = payloads.mapPartitions(_.flatMap { case (id, lang, bytes) =>
      // malformed payloads drop out here; the oracle's n_docs would
      // flag any loss loudly, so a decode bug cannot pass silently
      BmpCodec.parse(bytes).iterator.map { bmp =>
        var sumB = 0L; var sumG = 0L; var sumR = 0L
        var row0B = 0L; var maxLum = 0L
        var y = 0
        while (y < bmp.height) {
          val row = bmp.px(y)
          var x = 0
          while (x < bmp.width) {
            val (b, g, r) = row(x)
            sumB += b; sumG += g; sumR += r
            if (y == 0) row0B += b
            val lum = (299L * r + 587L * g + 114L * b) / 1000L
            if (lum > maxLum) maxLum = lum
            x += 1
          }
          y += 1
        }
        (id, lang, bmp.height.toLong, sumB, sumG, sumR, row0B, maxLum)
      }
    }).toDF("doc_id", "lang", "height", "sum_b", "sum_g", "sum_r",
      "row0_sum_b", "max_lum")
    decoded.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("height")).as("sum_h"),
        sum(col("sum_b")).as("sum_b"),
        sum(col("sum_g")).as("sum_g"),
        sum(col("sum_r")).as("sum_r"),
        sum(col("row0_sum_b")).as("row0_sum_b"),
        max(col("max_lum")).as("max_lum"))
      .orderBy(col("lang"))
  }

  val qMultimodalImageSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, lang, text,
       |    CAST(8 + (doc_id % 3) * 2 AS INTEGER) AS w,
       |    CAST(length(text) // (8 + (doc_id % 3) * 2) AS INTEGER) AS h
       |  FROM documents
       |  WHERE $asciiOnlySql AND length(text) >= 8 + (doc_id % 3) * 2),
       |px AS (
       |  SELECT doc_id, lang, w, h, text,
       |    unnest(range(0, w * h)) AS i
       |  FROM c),
       |f AS (
       |  SELECT doc_id, lang, w, h,
       |    ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) AS cc,
       |    CAST(i % w AS INTEGER) AS x, CAST(i // w AS INTEGER) AS y
       |  FROM px),
       |feat AS (
       |  SELECT doc_id, lang, MAX(h) AS h,
       |    SUM(cc) AS sum_b,
       |    SUM((cc + x) % 256) AS sum_g,
       |    SUM((2 * cc + y) % 256) AS sum_r,
       |    SUM(CASE WHEN y = 0 THEN cc ELSE 0 END) AS row0_sum_b,
       |    MAX((299 * ((2 * cc + y) % 256) + 587 * ((cc + x) % 256)
       |         + 114 * cc) // 1000) AS max_lum
       |  FROM f GROUP BY 1, 2)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(h) AS BIGINT) AS sum_h,
       |  CAST(SUM(sum_b) AS BIGINT) AS sum_b,
       |  CAST(SUM(sum_g) AS BIGINT) AS sum_g,
       |  CAST(SUM(sum_r) AS BIGINT) AS sum_r,
       |  CAST(SUM(row0_sum_b) AS BIGINT) AS row0_sum_b,
       |  CAST(MAX(max_lum) AS BIGINT) AS max_lum
       |FROM feat GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------- int8 scalar-quantized search

  /** Symmetric int8 scalar quantization + quantized top-k search — the
    * embedding STORAGE format at 100 TB (4× smaller than float32, SIMD
    * integer dot products), sitting between raw floats and PQ's 64× on
    * the compression/fidelity ladder. Per vector: scale = max|x|/127,
    * codes = round-half-up(x/scale) clamped to [-127, 127]; pair score =
    * (Σ qa·qb) · scale_a · scale_b, with the dot EXACT in int64 (≤
    * 64·127² per pair — quantized scoring has no float accumulation
    * order at all, which is also what makes it bit-portable). Probes
    * broadcast; the corpus never shuffles — encode and score are one
    * row-local projection, then the per-probe top-k heap.
    *
    * round-half-up is floor(x/scale + 0.5) in both engines — never
    * round(), whose half-tie mode differs (Spark HALF_UP, DuckDB
    * HALF_EVEN). */
  def qEmbedInt8(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("sc", expr("array_max(transform(e, x -> abs(x))) / 127.0D"))
      .withColumn("qc", expr(
        "transform(e, x -> CASE WHEN sc = 0.0D THEN 0L " +
          "ELSE greatest(-127L, least(127L, floor(x / sc + 0.5D))) END)"))
      .select(col("vec_id"), col("sc"), col("qc"))
    val probes = q.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("sc").as("psc"),
        col("qc").as("pqc"))
    val scored = q.filter(col("vec_id") >= 3)
      .crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (expr("CAST(aggregate(zip_with(pqc, qc, (x, y) -> x * y), 0L, " +
          "(acc, v) -> acc + v) AS DOUBLE)") * col("psc") * col("sc"))
          .as("score_q"))
    topK(scored, "probe_id", 5, col("score_q").desc, col("neighbor_id"))
      .orderBy(col("probe_id"), col("rn"))
  }

  val qEmbedInt8Sql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |s AS (SELECT vec_id, e,
      |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc FROM v),
      |q AS (SELECT vec_id, sc, list_transform(e, x ->
      |        CASE WHEN sc = 0.0 THEN 0
      |             ELSE greatest(-127, least(127, CAST(floor(x / sc + 0.5) AS BIGINT))) END) AS qc
      |      FROM s),
      |pairs AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |         p.sc AS psc, c.sc AS csc,
      |         unnest(p.qc) AS pq, unnest(c.qc) AS cq
      |  FROM q p, q c WHERE p.vec_id < 3 AND c.vec_id >= 3),
      |d AS (SELECT probe_id, neighbor_id,
      |        CAST(SUM(pq * cq) AS BIGINT) AS dotq,
      |        MAX(psc) AS psc, MAX(csc) AS csc
      |      FROM pairs GROUP BY probe_id, neighbor_id),
      |sq AS (SELECT probe_id, neighbor_id, CAST(dotq AS DOUBLE) * psc * csc AS score_q
      |       FROM d)
      |${topKSql("sq", "probe_id, neighbor_id, score_q", 5, "score_q DESC, neighbor_id")}""".stripMargin

  // ---------------------------------------- exact cosine refine (shared)

  /** The cosine methods' refine tier: the `r` best candidates per probe
    * under `approx`, re-scored with full-precision cosine, the top `k`
    * kept. `cand` carries (probe_id, vec_id, embedding, na, pvec, pna)
    * and the `keep` columns, which pass through to the answer. */
  private def cosineRefine(cand: DataFrame, r: Int, approx: Seq[Column], k: Int,
      keep: Column*): DataFrame =
    refine(cand, r, approx, k, Seq(col("score").desc, col("neighbor_id"))) {
      _.select(Seq(col("probe_id"), col("vec_id").as("neighbor_id")) ++ keep :+
        cosine("embedding", "pvec", "na", "pna").as("score"): _*)
    }.orderBy(col("probe_id"), col("rn"))

  /** DuckDB twin of [[cosineRefine]] over a CTE `pre(probe_id, vec_id,
    * emb, na, pemb, pna, …)`; `keep` lists pass-through columns, each
    * with a leading ", ". */
  private def cosineRefineSql(r: Int, approx: String, k: Int, keep: String = ""): String =
    s"""short AS (SELECT * FROM (${rankSql("pre", "*", "probe_id", approx, "srn")}) t
       |          WHERE srn <= $r),
       |scored AS (
       |  SELECT probe_id, vec_id AS neighbor_id$keep,
       |    ${cosineSql("emb", "pemb", "na", "pna")} AS score
       |  FROM short)
       |${topKSql("scored", s"probe_id, neighbor_id$keep, score", k, "score DESC, neighbor_id")}""".stripMargin

  // ----------------------------------- prefix-dimension (matryoshka) search

  /** Graded prefix length and shortlist: the measured (dim × R) grid is
    * SCALE.md's `q_sim_ann_prefix` row. */
  private val PrefixDim = 32
  private val PrefixShortlist = 320

  /** PREFIX-DIMENSION ANN — the dimension tier of the quantization
    * ladder (q_embed_int8 = precision tier, q_sim_ann_pq = code tier):
    * candidates are scored on the FIRST `dim` of 64 dims (matryoshka-style
    * truncation — prefix cosine costs half the flops, and with the
    * prefix persisted as its own parquet column the scan READS half the
    * bytes via column pruning), the top-`r` prefix shortlist per probe
    * is re-ranked with full-precision cosine, top-3 kept. The same
    * shortlist→exact-refine architecture as `rerankAdc`, one tier up;
    * recall is measured by q_sim_ann_recall under method 'prefix'
    * (probes 20-30). On isotropic synthetics a d-dim prefix carries d/64
    * of the signal, so dim dominates R — real matryoshka embeddings
    * front-load variance and would shift the knee toward smaller dims.
    * Scale: prefix slice + norms are row-local in the scan projection,
    * probes broadcast, and both rank-limit windows are the bounded-heap
    * shape — only ≤r rows per probe ever reach the full-dimension
    * re-rank. */
  private[graft] def prefixSearch(s: SparkSession, d: String, dim: Int,
      r: Int): DataFrame = {
    val e = vectors(s, d)
      .withColumn("p16", expr(s"slice(embedding, 1, $dim)"))
      .withColumn("na16", expr("graft_norm_sq(p16)"))
    val probes = e.filter(probeRange(20, 30))
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("na").as("pna"), col("p16").as("pp16"), col("na16").as("pna16"))
    val pre = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("pscore", cosine("p16", "pp16", "na16", "pna16"))
    cosineRefine(pre, r, Seq(col("pscore").desc, col("vec_id")), 3)
  }

  /** The graded (PrefixDim, PrefixShortlist) pipeline frame — plan
    * audits pin this; the query serves its published answer. */
  private[graft] def prefixSearchGraded(s: SparkSession, d: String): DataFrame =
    prefixSearch(s, d, PrefixDim, PrefixShortlist)

  def qSimAnnPrefix(s: SparkSession, d: String): DataFrame =
    publishedAnswer(s, d, "ans_prefix")(prefixSearchGraded(s, d))
      .orderBy(col("probe_id"), col("rn"))

  /** PREFIX-INSIDE-IVF (parameterized): the r12 verdict's "next cheapest
    * honest experiment" — the matryoshka prefix shortlist applied WITHIN
    * the probe's nprobe IVF cells instead of over the whole corpus.
    * Candidates come from the shared seed-cell assignment (exactly
    * qSimAnnIvf's candidate set, so the cell-recall ceiling is ivf's
    * by construction); each candidate is scored on the first
    * `dim` dims, the top-`r` prefix shortlist per probe is re-ranked
    * with full-precision cosine, top-3 kept. What the composition buys
    * is COST at equal recall, not recall: the within-cell scan reads
    * and multiplies half the vector bytes, and only ≤r rows per probe
    * ever touch full dimensions — at 100 TB that halves the dominant
    * probe-side IO of plain IVF while returning the identical answer
    * whenever r covers the within-cell true top-3. The gap widens with
    * corpus size because the saved full-width scoring grows with
    * Σ|probed cells| while the re-rank stays ≤R rows per probe. */
  private[graft] def ivfPrefixSearch(s: SparkSession, d: String, dim: Int,
      r: Int): DataFrame = {
    val e = vectors(s, d)
      .withColumn("pfx", expr(s"slice(embedding, 1, $dim)"))
      .withColumn("npfx", expr("graft_norm_sq(pfx)"))
    val ranked = sharedRanked(s, d)
    val cand = assignedCells(ranked).join(e, Seq("vec_id"))
    val probes = probeCells(ranked)
      .join(e.select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("na").as("pna"), col("pfx").as("ppfx"), col("npfx").as("pnpfx")),
        Seq("probe_id"))
    val pre = cellJoin(cand, probes)
      .withColumn("pscore", cosine("pfx", "ppfx", "npfx", "pnpfx"))
    cosineRefine(pre, r, Seq(col("pscore").desc, col("vec_id")), 3)
  }

  /** Graded prefix length and shortlist inside IVF: the measured grid is
    * SCALE.md's `q_sim_ann_ivf_prefix` row. */
  private val IvfPrefixDim = 32
  private val IvfPrefixShortlist = 320

  /** The graded (IvfPrefixDim, IvfPrefixShortlist) pipeline frame —
    * plan audits pin this; the query serves its published answer. */
  private[graft] def ivfPrefixSearchGraded(s: SparkSession, d: String): DataFrame =
    ivfPrefixSearch(s, d, IvfPrefixDim, IvfPrefixShortlist)

  def qSimAnnIvfPrefix(s: SparkSession, d: String): DataFrame =
    publishedAnswer(s, d, "ans_ivf_prefix")(ivfPrefixSearchGraded(s, d))
      .orderBy(col("probe_id"), col("rn"))

  val qSimAnnIvfPrefixSql: String =
    s"""WITH ${embSql("emb")},
       |pe AS (SELECT vec_id, emb, na, emb[1:$IvfPrefixDim] AS pfx,
       |         list_sum(list_transform(emb[1:$IvfPrefixDim], x -> x * x)) AS npfx
       |       FROM e),
       |${cellsSql(IvfNProbe, "emb")},
       |cand AS (SELECT r.vec_id, r.cell_id, p.emb, p.na, p.pfx, p.npfx
       |         FROM ranked r JOIN pe p USING (vec_id) WHERE r.arn = 1),
       |probes AS (SELECT r.vec_id AS probe_id, r.cell_id AS pcell,
       |             p.emb AS pemb, p.na AS pna, p.pfx AS ppfx, p.npfx AS pnpfx
       |           FROM ranked r JOIN pe p USING (vec_id)
       |           WHERE r.vec_id >= 10 AND r.vec_id < 20),
       |pre AS (
       |  SELECT p.probe_id, c.vec_id, c.emb, c.na, p.pemb, p.pna,
       |    ${cosineSql("c.pfx", "p.ppfx", "c.npfx", "p.pnpfx")} AS pscore
       |  FROM cand c JOIN probes p
       |    ON c.cell_id = p.pcell AND c.vec_id <> p.probe_id),
       |${cosineRefineSql(IvfPrefixShortlist, "pscore DESC, vec_id", 3)}""".stripMargin

  val qSimAnnPrefixSql: String =
    s"""WITH ${embSql("emb")},
       |pe AS (SELECT vec_id, emb, na, emb[1:$PrefixDim] AS p16,
       |         list_sum(list_transform(emb[1:$PrefixDim], x -> x * x)) AS na16
       |       FROM e),
       |p AS (SELECT vec_id AS probe_id, emb AS pemb, na AS pna,
       |        p16 AS pp16, na16 AS pna16
       |      FROM pe WHERE vec_id >= 20 AND vec_id < 30),
       |pre AS (
       |  SELECT probe_id, c.vec_id, c.emb, c.na, p.pemb, p.pna,
       |    ${cosineSql("c.p16", "p.pp16", "c.na16", "p.pna16")} AS pscore
       |  FROM pe c, p WHERE c.vec_id <> p.probe_id),
       |${cosineRefineSql(PrefixShortlist, "pscore DESC, vec_id", 3)}""".stripMargin

  // ------------------------------------------- 1-bit binary quantization

  /** Graded Hamming shortlist: the measured R ladder is SCALE.md's
    * `q_embed_bit` row. */
  private val BitShortlist = 640

  /** BINARY QUANTIZATION + Hamming search — the terminal rung of the
    * compression ladder (float32 32× → int8 4× → PQ/prefix → 1 BIT per
    * dimension, 32× smaller than float32): each dimension keeps only its
    * sign, packed into two 32-bit words (bits 0–31 of each long; staying
    * off bit 63 keeps every shift portable — no engine-specific
    * shift-overflow or sign-bit edge in either Spark or the oracle), and
    * candidate distance is XOR + popcount (`bit_count`), the cheapest
    * vector comparison that exists — SIMD-free integer ops, 16 bytes per
    * vector. The top-`BitShortlist` Hamming shortlist per probe is then
    * re-ranked with full-precision cosine (the same shortlist→refine
    * architecture as `rerankAdc` and the prefix tier), top-5 kept. R is
    * an absolute constant — at 100 TB it is the same ≤640 full-precision
    * reads per probe.
    *
    * Scale shape: encode is a row-local fold in the scan projection (the
    * corpus never shuffles), probes broadcast, and both rank-limit
    * windows are the bounded-heap shape, so only shortlisted rows ever
    * touch a float. At 100 TB the packed words live as two int64 parquet
    * columns: the Hamming sweep reads 16 B/vector instead of 256 B —
    * the recall-for-bytes trade every production vector store ships
    * (sign-bit BQ with exact re-rank). Sign is exact on both engines
    * (no rounding mode is involved, unlike int8's half-up guard). This
    * is the graded pipeline frame plan audits pin; the query serves its
    * published answer. */
  private[graft] def bitSearch(s: SparkSession, d: String): DataFrame = {
    def pack(offset: Int): String =
      s"aggregate(sequence(0, 31), 0L, (acc, i) -> " +
        s"acc + IF(element_at(embedding, i + ${offset + 1}) >= 0.0D, shiftleft(1L, i), 0L))"
    val e = vectors(s, d)
      .withColumn("lo", expr(pack(0)))
      .withColumn("hi", expr(pack(32)))
    val probes = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"),
        col("na").as("pna"), col("lo").as("plo"), col("hi").as("phi"))
    val ham = e.filter(col("vec_id") >= 3)
      .crossJoin(broadcast(probes))
      .withColumn("hamming",
        (expr("bit_count(lo ^ plo)") + expr("bit_count(hi ^ phi)")).cast("long"))
    cosineRefine(ham, BitShortlist, Seq(col("hamming"), col("vec_id")), 5,
      col("hamming"))
  }

  def qEmbedBit(s: SparkSession, d: String): DataFrame =
    publishedAnswer(s, d, "ans_bit")(bitSearch(s, d))
      .orderBy(col("probe_id"), col("rn"))

  val qEmbedBitSql: String =
    s"""WITH ${embSql("emb")},
       |bits AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN emb[t.i + 1] >= 0 THEN (1::BIGINT << t.i) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN emb[t.i + 33] >= 0 THEN (1::BIGINT << t.i) ELSE 0 END) AS BIGINT) AS hi
       |  FROM e, range(32) t(i) GROUP BY vec_id),
       |f AS (SELECT e.vec_id, e.emb, e.na, bits.lo, bits.hi
       |      FROM e JOIN bits USING (vec_id)),
       |pre AS (SELECT p.vec_id AS probe_id, c.vec_id,
       |          CAST(bit_count(xor(c.lo, p.lo)) + bit_count(xor(c.hi, p.hi)) AS BIGINT) AS hamming,
       |          c.emb, c.na, p.emb AS pemb, p.na AS pna
       |        FROM f p, f c WHERE p.vec_id < 3 AND c.vec_id >= 3),
       |${cosineRefineSql(BitShortlist, "hamming, vec_id", 5, ", hamming")}""".stripMargin

  // ------------------------------------------------------------- registry

  val queries = graft.functions.Surface.queries(Map(
    "q_embed_int8" -> (qEmbedInt8 _),
    "q_embed_bit" -> (qEmbedBit _),
    "q_sim_ann_prefix" -> (qSimAnnPrefix _),
    "q_sim_ann_ivf_prefix" -> (qSimAnnIvfPrefix _),
    "q_sim_ann_lsh" -> (qSimAnnLsh _),
    "q_sim_ann_pq" -> (qSimAnnPq _),
    "q_sim_ann_ivf_pq" -> (qSimAnnIvfPq _),
    "q_sim_ann_index" -> (qSimAnnIndex _),
    "q_sim_ann_index_incr" -> (qSimAnnIndexIncr _),
    "q_sim_ann_index_delete" -> (qSimAnnIndexDelete _),
    "q_sim_ann_index_rebalance" -> (qSimAnnIndexRebalance _),
    "q_sim_knn_join" -> (qSimKnnJoin _),
    "q_sim_ann_recall" -> (qSimAnnRecall _),
    "q_dedup_embed" -> (qDedupEmbed _),
    "q_dedup_semantic" -> (qDedupSemantic _),
    "q_multimodal_binary" -> (qMultimodalBinary _),
    "q_multimodal_vad" -> (qMultimodalVad _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_multimodal_image" -> (qMultimodalImage _),
    "q_multimodal_shots" -> (qMultimodalShots _),
  ))

  /** Registered query names whose frame serves a staged published
    * answer (see [[publishedAnswer]]): their FIRST execution per
    * (application, sfDir) runs the real pipeline; later executions are
    * a ≤30-row parquet read. Bench's steady-state rep pins these to
    * their first-pass time (a rep-2 "min" for them would time the file
    * read, not the operator); PublishedAnswerSpec locks this set to the
    * publishedAnswer call sites. */
  private[graft] val publishedAnswerQueries: Set[String] = Set(
    "q_sim_ann_lsh", "q_sim_ann_pq", "q_sim_ann_ivf", "q_sim_ann_ivf_pq",
    "q_sim_ann_ivf_prefix", "q_sim_ann_prefix", "q_embed_bit")

  val oracle: Map[String, String] = Map(
    "q_embed_int8" -> qEmbedInt8Sql,
    "q_embed_bit" -> qEmbedBitSql,
    "q_sim_ann_prefix" -> qSimAnnPrefixSql,
    "q_sim_ann_ivf_prefix" -> qSimAnnIvfPrefixSql,
    "q_sim_ann_lsh" -> qSimAnnLshSql,
    "q_sim_ann_pq" -> qSimAnnPqSql,
    "q_sim_ann_ivf_pq" -> qSimAnnIvfPqSql,
    // the persisted-index probe must return exactly what the inline
    // IVF-PQ computation returns — same oracle by construction
    "q_sim_ann_index" -> qSimAnnIvfPqSql,
    // appended index must be indistinguishable from the full build
    "q_sim_ann_index_incr" -> qSimAnnIvfPqSql,
    "q_sim_ann_index_delete" -> ivfPqSqlWith("a.vec_id % 5 <> 2"),
    "q_sim_ann_index_rebalance" -> qSimAnnIndexRebalanceSql,
    "q_sim_knn_join" -> qSimKnnJoinSql,
    "q_sim_ann_recall" -> qSimAnnRecallSql,
    "q_dedup_embed" -> qDedupEmbedSql,
    "q_dedup_semantic" -> qDedupSemanticSql,
    "q_multimodal_binary" -> qMultimodalBinarySql,
    "q_multimodal_vad" -> qMultimodalVadSql,
    "q_multimodal_frames" -> qMultimodalFramesSql,
    "q_multimodal_image" -> qMultimodalImageSql,
    "q_multimodal_shots" -> qMultimodalShotsSql,
  )
}
