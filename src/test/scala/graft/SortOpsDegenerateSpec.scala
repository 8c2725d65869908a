package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The four SortOps queries on legal degenerate tables: the sf0.001
  * lineitem cut to 0 and to 1 row in a temp sfDir (the record count of
  * every sort tracks lineitem's row count). Each answer must equal the
  * rows of the query's oracle SQL run over the same cut table. */
class SortOpsDegenerateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private lazy val sfDirs: Map[Int, String] = Seq(0, 1).map { n =>
    val dir = Files.createTempDirectory(s"graft_lineitem_$n").toString
    Tables.lineitem(spark, TestSpark.sf).orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(n).coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    n -> dir
  }.toMap

  /** The DuckDB oracle in Spark's dialect: `//` is `div`, VARCHAR is
    * STRING, and ROW_NUMBER is a BIGINT that needs an order (any order
    * numbers 0 or 1 rows the same). */
  private def inSpark(sql: String): String = sql
    .replace(" // ", " div ")
    .replace("AS VARCHAR)", "AS STRING)")
    .replace("ROW_NUMBER() OVER ()", "CAST(ROW_NUMBER() OVER (ORDER BY 1) AS BIGINT)")

  /** The oracle SQL's rows over the cut table, run in this session. */
  private def oracle(q: String, dir: String): Seq[Seq[Any]] = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    try rows(spark.sql(inSpark(SortOps.oracle(q)))) finally spark.catalog.dropTempView("lineitem")
  }

  for (n <- Seq(0, 1); q <- SortOps.queries.keys.toSeq.sorted) {
    test(s"$q returns the oracle's answer on a $n-row lineitem") {
      assert(Tables.lineitem(spark, sfDirs(n)).count() === n)
      assert(rows(SortOps.queries(q)(spark, sfDirs(n))) === oracle(q, sfDirs(n)))
    }
  }
}
