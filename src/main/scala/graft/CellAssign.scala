package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-local nearest-cell ranking for the IVF-family coarse quantizers.
  *
  * Replaces the `row_number() OVER (PARTITION BY vec_id ORDER BY dist,
  * cell_id)` window that every cell-assignment site used: that window
  * exchanges k exploded copies of each input row — with the embedding
  * attached wherever the consumer needs it downstream — just to pick the
  * per-vector minimum. Here the k centroids are collected into ONE
  * broadcast array row and each vector folds over it in place, so the
  * corpus never enters an exchange for assignment at all (at 100 TB the
  * windowed form shuffles k× the corpus; this shuffles nothing).
  *
  * Bit-compatibility with the equivalent window (and with the DuckDB oracles
  * that mirror it): dist = na − 2.0·graft_dot(vec, cvec) + nc in the same
  * left-associated double arithmetic, and the array_sort over struct(dist,
  * cell_id) is the same lexicographic (dist ASC, cell_id ASC) order as the
  * window's ORDER BY — strict comparison, ties to the lower cell_id, NaN
  * greatest.
  */
object CellAssign {

  /** Appends (cell_id, arn ∈ 1..top) to every row of `e`: the `top`
    * nearest centroids in rank order. `cents` must expose (cell_id,
    * cvec, nc = ||cvec||²); `vecSql`/`naSql` are SQL fragments naming
    * the caller's vector column and its precomputed (or inline) squared
    * norm. All of `e`'s columns pass through untouched.
    */
  def rank(e: DataFrame, cents: DataFrame, vecSql: String, naSql: String,
      top: Int): DataFrame = {
    val centArr = cents
      .agg(sort_array(collect_list(struct(col("cell_id"), col("cvec"),
        col("nc")))).as("graft_cells"))
    val keep = e.columns.toIndexedSeq.map(col)
    e.crossJoin(broadcast(centArr))
      .withColumn("graft_rc", slice(array_sort(expr(
        s"""transform(graft_cells, c ->
           |  struct($naSql - 2.0 * graft_dot($vecSql, c.cvec) + c.nc AS dist,
           |         c.cell_id AS cell_id))""".stripMargin)), 1, top))
      .select(keep :+ posexplode(col("graft_rc")).as(Seq("graft_p", "graft_cell")): _*)
      .withColumn("arn", col("graft_p") + lit(1))
      .withColumn("cell_id", col("graft_cell").getField("cell_id"))
      .drop("graft_p", "graft_cell")
  }
}
