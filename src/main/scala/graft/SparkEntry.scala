package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see SURVEY.md §7.0 + the builder prompt.
  *
  * `queries`, `oracleSql`, `noOracle`, `buildJobs` and `untimed` are
  * derived from `modules`; each name is one operator from SURVEY.md
  * §2's inventory. `oracleSql` carries the DuckDB-equivalent ANSI SQL
  * for every query whose semantics are SQL-expressible; the DuckDB
  * compare hash-checks both result sets at sf0.01.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.1): the reference's price-style metric
    * (round(avg(price),2), NB cells 18/19) transplanted onto the TPC-H Q1
    * aggregation shape — filter → partial+final hash agg → ordered.
    * Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(col("l_quantity") > 0)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(avg("l_extendedprice"), 2).as("avg_price"),
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Every query module. The catalog is derived from this list alone and
    * built on first use; QueryModule.catalog throws on a broken one. */
  lazy val modules: Seq[QueryModule] = Seq(
    RelationalQueries, FunctionQueries, JoinQueries, WindowQueries,
    StreamQueries, TextQueries, SimilarityQueries, SqlQueries, TpchQueries,
    GraphQueries, TemporalQueries, CorpusStatsQueries, CurationQueries,
    SketchQueries, InsightQueries, StatQueries)
  private lazy val catalog = QueryModule.catalog(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = catalog.queries

  /** Queries Bench leaves out of its timed set (each module's
    * `untimed` facts); they still run in Verify. */
  def untimed: Set[String] = catalog.untimed.keySet

  /** Query name → the driver step that makes its build start a Spark
    * job (each module's `buildJobs` facts); every other builder starts
    * none. */
  def buildJobs: Map[String, String] = catalog.buildJobs

  /** DuckDB-runnable ANSI SQL per query (same parquet tables, registered
    * under their bare table names). */
  def oracleSql: Map[String, String] = catalog.oracleSql

  /** Query name → why it has no oracle; these get a rows-only check. */
  def noOracle: Map[String, String] = catalog.noOracle
}
