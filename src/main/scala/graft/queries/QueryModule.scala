package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of queries and every fact the engine keeps about them:
  * the builders, the DuckDB oracle SQL (over the bare table names) of
  * each query that has one, and for each query without one the reason,
  * naming the twin query or spec that checks it instead.
  *
  * A builder returns a lazy plan and starts no Spark job: a scalar the
  * plan needs is an aggregate inside the plan (`Dataset.scalar()`), not
  * a value collected to the driver. `buildJobs` names each builder that
  * must start one, with the driver step that needs it; PlanHygieneSpec
  * checks both directions. `untimed` names each query Bench leaves out
  * of its timed set, with the reason.
  */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
  def noOracle: Map[String, String] = Map.empty
  def buildJobs: Map[String, String] = Map.empty
  def untimed: Map[String, String] = Map.empty
}

object QueryModule {

  final case class Catalog(queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String], noOracle: Map[String, String],
      buildJobs: Map[String, String], untimed: Map[String, String])

  /** Merges `modules`. Throws IllegalArgumentException on a name declared
    * by two modules, an oracle, no-oracle, build-job or untimed entry
    * naming no query of its module, and a query with both an oracle and
    * a reason, or neither. */
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
      check(m.buildJobs.keySet -- m.queries.keySet, "build-job entry names no query")
      check(m.untimed.keySet -- m.queries.keySet, "untimed entry names no query")
    }
    Catalog(modules.flatMap(_.queries).toMap, modules.flatMap(_.oracles).toMap,
      modules.flatMap(_.noOracle).toMap, modules.flatMap(_.buildJobs).toMap,
      modules.flatMap(_.untimed).toMap)
  }
}
