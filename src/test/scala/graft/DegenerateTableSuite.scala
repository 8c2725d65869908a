package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** One row of a degenerate-table spec: `table` from the sf0.001 fixture,
  * ordered by `order` and cut to each of `cuts` rows in a temp sfDir (next
  * to links to the fixture's other tables, whole), and the module queries
  * (with the module's oracle SQL, run under `oracleConfs`) that read it. */
case class DegenerateTable(
    table: String,
    order: Seq[String],
    cuts: Seq[Int],
    queries: Map[String, (SparkSession, String) => DataFrame],
    oracle: Map[String, String],
    oracleConfs: Seq[(String, String)] = Nil)

/** Runs every query of every row on every cut of its table. Each answer
  * must equal the rows of the query's oracle SQL, run in the test session
  * over the same cut table after a dialect rewrite. */
abstract class DegenerateTableSuite(tables: DegenerateTable*) extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** events goes through its reader, which normalises `ts`. */
  private def read(table: String, dir: String): DataFrame =
    if (table == "events") Tables.events(spark, dir) else Tables.table(spark, dir, table)

  private val sfDirs = scala.collection.mutable.Map.empty[(String, Int), String]

  private def sfDir(t: DegenerateTable, n: Int): String =
    sfDirs.getOrElseUpdate((t.table, n), {
      val dir = Files.createTempDirectory(s"graft_${t.table}_$n").toString
      read(t.table, TestSpark.sf).orderBy(t.order.map(col): _*)
        .limit(n).coalesce(1).write.parquet(s"$dir/${t.table}.parquet")
      for (other <- tableNames(TestSpark.sf) if other != t.table)
        Files.createSymbolicLink(Paths.get(dir, s"$other.parquet"),
          Paths.get(TestSpark.sf, s"$other.parquet").toAbsolutePath)
      dir
    })

  private def tableNames(dir: String): Seq[String] =
    new File(dir).list().toSeq.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))

  /** The DuckDB oracle in Spark's dialect: `//` is `div`, VARCHAR is
    * STRING, ROW_NUMBER is a BIGINT that needs an order (any order numbers
    * 0 or 1 rows the same), a `'0x' || hex` cast reads the hex through
    * `conv`, and `unnest(range(0, n))` is `explode(sequence(0, n - 1))`. */
  private def inSpark(sql: String): String = sql
    .replace(" // ", " div ")
    .replace("AS VARCHAR)", "AS STRING)")
    .replace("ROW_NUMBER() OVER ()", "CAST(ROW_NUMBER() OVER (ORDER BY 1) AS BIGINT)")
    .replaceAll("""(?s)'0x' \|\| (substr\(.*?, 1, 12\))""", "conv($1, 16, 10)")
    .replaceAll("""unnest\(range\(0, (\d+)\)\)""", "explode(sequence(0, $1 - 1))")

  /** The oracle SQL's rows over the cut table and the fixture's others,
    * run in this session. */
  private def oracle(t: DegenerateTable, q: String, dir: String): Seq[Seq[Any]] = {
    val views = tableNames(dir)
    views.foreach(v => read(v, dir).createOrReplaceTempView(v))
    try GraftSession.withConfs(spark, t.oracleConfs: _*)(rows(spark.sql(inSpark(t.oracle(q)))))
    finally views.foreach(spark.catalog.dropTempView)
  }

  for (t <- tables; n <- t.cuts; q <- t.queries.keys.toSeq.sorted) {
    test(s"$q returns the oracle's answer on a $n-row ${t.table}") {
      val dir = sfDir(t, n)
      assert(read(t.table, dir).count() === n)
      assert(rows(t.queries(q)(spark, dir)) === oracle(t, q, dir))
    }
  }
}
