package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of queries and every fact the engine keeps about them:
  * the builders, the DuckDB oracle SQL (over the bare table names) of
  * each query that has one, and for each query without one the reason,
  * naming the twin query or spec that checks it instead.
  */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
  def noOracle: Map[String, String] = Map.empty
}

object QueryModule {

  final case class Catalog(queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String], noOracle: Map[String, String])

  /** Merges `modules`. Throws IllegalArgumentException on a name declared
    * by two modules, an oracle or no-oracle entry naming no query of its
    * module, and a query with both an oracle and a reason, or neither. */
  def catalog(modules: Seq[QueryModule]): Catalog = {
    def check(bad: Iterable[String], what: String): Unit =
      require(bad.isEmpty, s"$what: ${bad.toSeq.distinct.sorted.mkString(", ")}")
    val names = modules.flatMap(_.queries.keys)
    check(names.diff(names.distinct), "query declared by two modules")
    modules.foreach { m =>
      val (sql, why) = (m.oracles.keySet, m.noOracle.keySet)
      check(sql ++ why -- m.queries.keySet, "oracle or no-oracle entry names no query")
      check(sql intersect why, "query has both an oracle and a no-oracle reason")
      check(m.queries.keySet -- sql -- why, "query has neither an oracle nor a no-oracle reason")
    }
    Catalog(modules.flatMap(_.queries).toMap, modules.flatMap(_.oracles).toMap,
      modules.flatMap(_.noOracle).toMap)
  }
}
