package graft

import graft.queries.QueryModule
import org.scalatest.funsuite.AnyFunSuite

/** Top-level driver-contract consistency: every oracle key must name a
  * query, and every untimed exclusion must name a query — an orphaned
  * key in ANY module would otherwise surface only as a late
  * "no spark result parquet" failure in the driver's oracle compare.
  * The catalog build itself rejects those and the other broken
  * declarations, checked here on small in-test modules.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle keys with no query: $orphans")
  }

  test("every untimed exclusion names a real query") {
    val orphans = SparkEntry.untimed -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"untimed keys with no query: $orphans")
  }

  test("query names are unique across modules (no silent map overwrite)") {
    val all = SparkEntry.modules.flatMap(_.queries.keys)
    val dupes = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"query name collides across modules: $dupes")
    assert(all.size == SparkEntry.queries.size)
  }

  /** A module declaring `names`, with oracles and no-oracle reasons. */
  private def module(names: Seq[String], withOracle: Seq[String],
      withReason: Seq[String]): QueryModule = new QueryModule {
    private val build: Q = (_, _) => null
    val queries: Map[String, Q] = names.map(_ -> build).toMap
    val oracles: Map[String, String] = withOracle.map(_ -> "SELECT 1").toMap
    override val noOracle: Map[String, String] = withReason.map(_ -> "pinned elsewhere").toMap
  }

  test("building the catalog rejects a duplicate, an orphan, and a query with neither or both") {
    val a = module(Seq("q_a", "q_b"), Seq("q_a"), Seq("q_b"))
    val ok = QueryModule.catalog(Seq(a, module(Seq("q_c"), Seq("q_c"), Nil)))
    assert(ok.queries.keySet == Set("q_a", "q_b", "q_c"))
    assert(ok.oracleSql.keySet == Set("q_a", "q_c"))
    assert(ok.noOracle.keySet == Set("q_b"))
    def rejects(modules: QueryModule*)(why: String): Unit = {
      val e = intercept[IllegalArgumentException](QueryModule.catalog(modules))
      assert(e.getMessage.contains(why), e.getMessage)
    }
    rejects(a, module(Seq("q_a"), Seq("q_a"), Nil))("declared by two modules: q_a")
    rejects(module(Seq("q_a"), Seq("q_a", "q_x"), Nil))("names no query: q_x")
    rejects(module(Seq("q_a"), Nil, Seq("q_a", "q_x")))("names no query: q_x")
    rejects(module(Seq("q_a", "q_b"), Seq("q_a"), Nil))("neither an oracle nor a no-oracle reason: q_b")
    rejects(module(Seq("q_a"), Seq("q_a"), Seq("q_a")))("both an oracle and a no-oracle reason: q_a")
  }

  test("building the catalog keeps build-job and untimed facts and rejects an orphan one") {
    def withFacts(jobs: Seq[String], skip: Seq[String]): QueryModule = new QueryModule {
      private val build: Q = (_, _) => null
      val queries: Map[String, Q] = Map("q_a" -> build)
      val oracles: Map[String, String] = Map("q_a" -> "SELECT 1")
      override val buildJobs: Map[String, String] = jobs.map(_ -> "driver loop").toMap
      override val untimed: Map[String, String] = skip.map(_ -> "demo").toMap
    }
    val ok = QueryModule.catalog(Seq(withFacts(Seq("q_a"), Seq("q_a"))))
    assert(ok.buildJobs == Map("q_a" -> "driver loop") && ok.untimed == Map("q_a" -> "demo"))
    val job = intercept[IllegalArgumentException](
      QueryModule.catalog(Seq(withFacts(Seq("q_x"), Nil))))
    assert(job.getMessage.contains("build-job entry names no query: q_x"), job.getMessage)
    val skip = intercept[IllegalArgumentException](
      QueryModule.catalog(Seq(withFacts(Nil, Seq("q_x")))))
    assert(skip.getMessage.contains("untimed entry names no query: q_x"), skip.getMessage)
  }
}
