package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The index maintenance verbs on legal degenerate corpora: the sf0.001
  * embeddings cut to 0 rows and to 1 row. With no vector in the probe
  * range [10, 20) the oracle's answer is empty, so the queries must run
  * and return no rows. The one-row corpus has no vec_id % 4 == 3 vector,
  * so the incremental ingest has no delta to append; the empty one has no
  * crowded cell for the rebalance to split. */
class AnnIndexDegenerateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** A fresh sfDir holding only the embeddings table, cut to `n` rows. */
  private def cutTo(n: Int): String = {
    val dir = Files.createTempDirectory(s"graft_emb_$n").toString
    Tables.embeddings(spark, TestSpark.sf).orderBy(col("vec_id")).limit(n)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val sfDirs = Seq(0, 1).map(n => n -> cutTo(n)).toMap

  for (n <- Seq(0, 1);
       q <- Seq("q_sim_ann_index_incr", "q_sim_ann_index_rebalance")) {
    test(s"$q returns the oracle's empty answer on a $n-row corpus") {
      assert(Tables.embeddings(spark, sfDirs(n)).count() === n)
      assert(AnnOps.queries(q)(spark, sfDirs(n)).collect().isEmpty)
    }
  }
}
