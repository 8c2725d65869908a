package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** IVF coarse-quantizer training: Lloyd's k-means iterations as pure
  * DataFrame operations (q_sim_ann_ivf uses seeded centroids for oracle
  * determinism; this is the production path that refines them).
  *
  * Per iteration: broadcast the k centroids, assign every vector to its
  * nearest (row-local L2 argmin over the broadcast centroid array — no
  * shuffle of the vectors at all), then recompute means by exploding to
  * (cell, dim, value) and averaging — two keyed shuffles of (k × dim)
  * aggregates, never of raw vectors. Scales linearly in rows; k and dim
  * are the small constants.
  */
object IvfTraining {

  /** Nearest centroid by ||v||² − 2·v·c + ||c||², row-local over the
    * broadcast centroid array (CellAssign). */
  private def assign(vectors: DataFrame, cents: DataFrame): DataFrame =
    CellAssign.rank(vectors,
        cents.select(col("cell_id"), col("centroid").as("cvec"),
          expr("graft_norm_sq(centroid)").as("nc")),
        "embedding", "graft_norm_sq(embedding)", top = 1)
      .select(col("vec_id"), col("embedding"), col("cell_id"))

  /** (cell_id, centroid: array<double>, n) after `iters` Lloyd rounds,
    * seeded from the first k vectors. */
  def train(spark: SparkSession, vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val vecs = vectors.select(col("vec_id"), col("embedding"))
    var cents = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("centroid"))
    for (_ <- 1 to iters) {
      val assigned = assign(vecs, cents)
      cents = assigned
        .select(col("cell_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cell_id"), col("dim"))
        .agg(avg(col("x").cast(DoubleType)).as("m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
        .select(col("cell_id"),
          transform(col("pairs"), p => p.getField("m")).as("centroid"))
    }
    assign(vecs, cents)
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
      .join(cents, Seq("cell_id"))
      .select(col("cell_id"), col("centroid"), col("n"))
  }

  /** ORACLE-PORTABLE fixed-point Lloyd (the q_sim_ann_ivf_trained
    * discipline): k cells seeded from the first k vectors, `iters`
    * assignment/mean rounds where every centroid coordinate is quantized
    * to floor(x·10⁶ + 0.5), summed as BIGINT (exact, associative — the
    * map-side-combinable form) and divided back in double arithmetic, so
    * the trained centroids are bit-identical between Spark and DuckDB
    * regardless of summation order. This is the coarse quantizer the
    * serving-path ANN queries (ivf, ivf_pq, persisted index, semantic
    * dedup) share — `train` above is the float-mean production variant,
    * gradable only rows-wise. Returns (cell_id, cvec: array<double>).
    *
    * Scale shape per round: one broadcast of the k-row codebook against
    * the corpus for assignment (vectors never shuffle) + two keyed
    * shuffles of (k × dim) fixed-point aggregates. */
  def trainFixedPoint(spark: SparkSession, vectors: DataFrame, k: Int,
      iters: Int): DataFrame = {
    val e = vectors.select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("emb"))
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell_id"), col("emb").as("cvec"))
    for (_ <- 1 to iters) {
      cents = CellAssign.rank(e,
          cents.select(col("cell_id"), col("cvec"),
            expr("graft_norm_sq(cvec)").as("nc")),
          "emb", "graft_norm_sq(emb)", top = 1)
        .select(col("cell_id"), posexplode(col("emb")).as(Seq("dim", "x")))
        .groupBy(col("cell_id"), col("dim"))
        .agg(sum(expr("FLOOR(x * 1000000.0 + 0.5)")).as("sx"),
          count(lit(1)).as("n"))
        .select(col("cell_id"), col("dim"),
          (col("sx").cast(DoubleType) /
            (col("n").cast(DoubleType) * lit(1000000.0))).as("m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
        .select(col("cell_id"),
          transform(col("pairs"), p => p.getField("m")).as("cvec"))
        // k tiny rows — cut the per-round lineage so each Lloyd round
        // executes once however many consumers read the result
        .localCheckpoint(eager = false)
    }
    cents
  }

  /** Mean within-cluster squared distance — the k-means objective. */
  def objective(spark: SparkSession, vectors: DataFrame, cents: DataFrame): Double =
    assign(vectors.select(col("vec_id"), col("embedding")),
        cents.select(col("cell_id"), col("centroid")))
      .join(cents, Seq("cell_id"))
      .select((expr("graft_norm_sq(embedding)") -
        lit(2.0) * expr("graft_dot(embedding, centroid)") +
        expr("graft_norm_sq(centroid)")).as("d2"))
      .agg(avg(col("d2"))).collect()(0).getDouble(0)
}
