package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The mini-log queries on legal degenerate tables, each cut from the
  * sf0.001 fixture into a temp sfDir: events cut to 0 and to 1 row for
  * q_stream_minilog; orders cut to 0 rows, to its first row, and to one
  * row that v3's delete removes (emptying bucket 5) for the time-travel
  * pair. Each answer must equal the rows of the query's oracle SQL run
  * over the same cut table. */
class MiniLogDegenerateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** A fresh sfDir holding only table `name`, cut to `rows`. */
  private def cutTo(name: String, rows: DataFrame): String = {
    val dir = Files.createTempDirectory(s"graft_$name").toString
    rows.coalesce(1).write.parquet(s"$dir/$name.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** The oracle SQL's rows over the cut table, run in this session. */
  private def oracle(sql: String, name: String, dir: String): Seq[Seq[Any]] = {
    Tables.table(spark, dir, name).createOrReplaceTempView(name)
    try rows(spark.sql(sql)) finally spark.catalog.dropTempView(name)
  }

  for (n <- Seq(0, 1)) {
    test(s"q_stream_minilog returns the oracle's answer on a $n-row events table") {
      val dir = cutTo("events",
        Tables.events(spark, TestSpark.sf).orderBy(col("event_id")).limit(n))
      val got = rows(StreamOps.qStreamMinilog(spark, dir))
      assert(got.length === n)
      assert(got === oracle(StreamOps.qStreamMinilogSql, "events", dir))
    }
  }

  private lazy val orderCuts: Map[String, String] = {
    val o = Tables.orders(spark, TestSpark.sf).orderBy(col("o_orderkey"))
    Map(
      "0 rows" -> o.limit(0),
      "its first row" -> o.limit(1),
      "one row the delete removes" -> o.filter(
        col("o_orderkey") % 8 === 5 && col("o_orderstatus") === "F").limit(1))
      .map { case (label, cut) => label -> cutTo("orders", cut) }
  }

  for (label <- Seq("0 rows", "its first row", "one row the delete removes");
       q <- Seq("q_timetravel", "q_timetravel_diff")) {
    test(s"$q returns the oracle's answer on orders cut to $label") {
      val dir = orderCuts(label)
      assert(Tables.orders(spark, dir).count() === (if (label == "0 rows") 0 else 1))
      assert(rows(RelOps.queries(q)(spark, dir)) === oracle(RelOps.oracle(q), "orders", dir))
    }
  }
}
