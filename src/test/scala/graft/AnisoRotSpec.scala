package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 anisotropic-fixture rotation flip (SCALE.md "the
  * anisotropic fixture flips the rotation verdict") as an always-run
  * gate: on the variance-decay view (AnnOps.anisoSql — dim i scaled
  * 8/(8+i), the front-loaded spectrum real embedding models produce),
  * the stride-37 signed permutation (AnnOps.rotSql) must STRICTLY beat
  * the identity at the raw-ADC tier — the tier where PQ codebook
  * quality shows (the exact-re-rank tier saturates under every
  * rotation on every fixture, so it can't distinguish them).
  *
  * Measured numbers (deterministic): sf0.001 identity 3/24 vs rot 9/24;
  * sf0.01 4 vs 9; sf0.1 2 vs 6. This spec asserts the sf0.001 flip.
  * The graded form (qSimAnnPqRotAnisoSql) was un-armed r15–r17 against
  * the red bench gate (+1.88 s fresh Lloyd train, 3-rep interleaved
  * A/B) and PROMOTED r18 as the eighth q_sim_ann_recall arm, per the
  * standing first-green-round order; this spec stays as the
  * fixture-flip pin (the scorecard grades only the aniso side). */
class AnisoRotSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("signed-permutation rotation beats identity at raw-ADC on the aniso view") {
    val aniso = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr(AnnOps.anisoSql("embedding")).as("embedding"))
      .localCheckpoint()
    val rotated = aniso
      .select(col("vec_id"), expr(AnnOps.rotSql("embedding")).as("embedding"))
      .localCheckpoint()
    def adcHits(emb: org.apache.spark.sql.DataFrame): Long = {
      // truth on the variant's OWN vectors (orthogonality preserves L2,
      // but own-vector truth keeps the rounding boundary identical): the
      // scorecard's pq row, with the variant as both truth views
      val e = emb.withColumn("na", expr("graft_norm_sq(embedding)"))
        .withColumn("emb2", col("embedding")).withColumn("na2", col("na"))
      val truth = AnnOps.recallTruth(e, AnnOps.recallMethods.filter(_.name == "pq"))
        .select(col("probe_id"), col("neighbor_id"))
      // the PQ arm: fresh Lloyd training + encode, graded at raw ADC
      val cb = AnnOps.pqCbRows(emb)
      AnnOps.pqRawAdc(emb, cb, AnnOps.pqCodeArrWith(emb, cb))
        .join(truth, Seq("probe_id", "neighbor_id")).count()
    }
    val idHits = adcHits(aniso)
    val rotHits = adcHits(rotated)
    assert(rotHits > idHits,
      s"rotation must beat identity on the aniso view at raw-ADC: " +
        s"rot=$rotHits vs id=$idHits (ladder: 9 vs 3 at sf0.001)")
  }
}
