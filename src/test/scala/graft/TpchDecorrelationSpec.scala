package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Exists, ListQuery, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.queries.TpchQueries

/** The TPC-H subquery shapes must DECORRELATE: after optimization no
  * subquery expression may still reference outer attributes (which
  * would mean a per-outer-row subplan execution — the O(n²) shape that
  * kills a 100 TB scan), and no predicate subquery (EXISTS / IN) may
  * survive as an expression at all — Catalyst rewrites those to
  * semi/anti joins. Residual uncorrelated ScalarSubquery nodes are
  * fine: they execute exactly once.
  *
  * q4, q16 and q22 are built from SQL text, so their query plans carry
  * the subqueries. q2, q11, q15, q17, q18, q20 and q21 are built with
  * the DataFrame API and their plans hold no subquery at all; each of
  * them is therefore also checked on its retained SQL text (the text
  * DuckDB replays as its oracle) planned through Spark.
  */
class TpchDecorrelationSpec extends SparkSpec {

  private val correlatedFive =
    Seq("q_tpch_q2", "q_tpch_q17", "q_tpch_q18", "q_tpch_q20", "q_tpch_q21",
      // round 6: EXISTS (q4), HAVING-scalar over a twice-used CTE (q11),
      // scalar MAX over a CTE (q15), null-aware NOT IN (q16),
      // scalar AVG + NOT EXISTS anti join (q22)
      "q_tpch_q4", "q_tpch_q11", "q_tpch_q15", "q_tpch_q16", "q_tpch_q22")

  /** Retained SQL texts of the DataFrame-built members, in Spark's
    * dialect (q18's epoch days via datediff). */
  private val sqlTexts: Map[String, String] = Map(
    "q_tpch_q2" -> TpchQueries.q2Sql,
    "q_tpch_q11" -> TpchQueries.q11Sql,
    "q_tpch_q15" -> TpchQueries.q15Sql,
    "q_tpch_q17" -> TpchQueries.q17Sql,
    "q_tpch_q18" -> TpchQueries.q18Sql(
      "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"),
    "q_tpch_q20" -> TpchQueries.q20Sql,
    "q_tpch_q21" -> TpchQueries.q21Sql)

  private def subqueries(plan: LogicalPlan): Seq[SubqueryExpression] =
    plan.collectWithSubqueries {
      case p => p.expressions.flatMap(_.collect { case s: SubqueryExpression => s })
    }.flatten

  private def assertDecorrelated(df: DataFrame): Unit = {
    val residual = subqueries(df.queryExecution.optimizedPlan)

    // Predicate subqueries must be gone entirely (rewritten to joins).
    // (InSubquery wraps a ListQuery, so matching ListQuery covers both.)
    val predicateForms = residual.filter {
      case _: Exists | _: ListQuery => true
      case _                        => false
    }
    assert(predicateForms.isEmpty,
      s"EXISTS/IN subquery survived optimization: $predicateForms")

    // Any surviving scalar subquery must be uncorrelated (run-once).
    val correlated = residual.collect {
      case s: ScalarSubquery if s.outerAttrs.nonEmpty => s
    }
    assert(correlated.isEmpty,
      s"correlated scalar subquery survived optimization: $correlated")
  }

  for (name <- correlatedFive) {
    test(s"$name decorrelates: no residual correlated subquery in the optimized plan") {
      assertDecorrelated(TpchQueries.queries(name)(spark, sf))
      sqlTexts.get(name).foreach { text =>
        Tables.registerAll(spark, sf)
        val df = spark.sql(text)
        assert(subqueries(df.queryExecution.analyzed).nonEmpty,
          s"$name's SQL text plans no subquery")
        assertDecorrelated(df)
      }
    }
  }

  test("correlated five return rows at sf0.001 or are deterministically empty") {
    // Row counts are oracle-checked at sf0.01 by the driver; here we just
    // prove each plan executes end-to-end on the tiny fixture.
    for (name <- correlatedFive) {
      val n = TpchQueries.queries(name)(spark, sf).count()
      assert(n >= 0, s"$name failed to execute")
    }
  }
}
