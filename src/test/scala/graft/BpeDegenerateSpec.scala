package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The BPE queries on the sf0.001 documents cut to 0 rows. An empty
  * corpus has no word, so it has zero tokens and trains zero merges: every
  * oracle (the sequential replay and its apply join) answers no rows, and
  * so must the sequential trainer, the batched trainer and the apply. */
class BpeDegenerateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val empty: String = {
    val dir = Files.createTempDirectory("graft_documents_0").toString
    Tables.table(spark, TestSpark.sf, "documents").limit(0)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  for (q <- Seq("q_text_bpe", "q_text_bpe_batched", "q_text_bpe_apply")) {
    test(s"$q returns the oracle's empty answer on a 0-row documents table") {
      assert(Tables.table(spark, empty, "documents").count() === 0)
      assert(TextOps.queries(q)(spark, empty).collect().isEmpty)
    }
  }
}
