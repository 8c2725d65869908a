package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** One query module: its queries and their DuckDB oracles. */
trait QueryModule {
  val queries: Map[String, (SparkSession, String) => DataFrame]
  val oracle: Map[String, String]
  def name: String = getClass.getSimpleName.stripSuffix("$")
}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Every query module, the one list the registries below are built from. */
  val modules: Seq[QueryModule] = Seq(RelOps, AggWinOps, SortOps, LlmOps,
    StreamOps, TextOps, AnnOps, ScaleOps, GraphOps)
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelOps.qAggHash(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_.oracle).reduce(_ ++ _)
}
