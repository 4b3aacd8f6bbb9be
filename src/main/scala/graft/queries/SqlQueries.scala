package graft.queries

import graft.Tables

/** SQL-text entry point (SURVEY.md §3.3): the reference drives SQLite /
  * PostgreSQL with SQL strings (db_queries.py); here the same text
  * front-end goes through Spark's parser → analyzer (resolving against
  * temp views over the parquet tables) → Catalyst → the identical
  * physical plans the DataFrame API produces. One query per major shape
  * proves the SQL surface end-to-end; the oracle is literally the same
  * ANSI text.
  */
object SqlQueries extends QueryModule {

  private def sql(text: String): Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(text)
  }

  /** WITH RECURSIVE through the text front-end (new surface in
    * Spark 4): a recursively-generated month spine over the orders
    * date range, left-joined to monthly revenue — gap-filled
    * period reporting with no generator table. Both engines restrict
    * recursion to UNION ALL, and the bound rides IN the rows (the
    * anchor carries `hi`, each step re-emits it) rather than in a
    * scalar subquery — Spark 4.1's recursion also cannot decode
    * DateType anchor rows, so the spine recurses on integer
    * epoch-months and converts with make_date at the end. ~80
    * iterations, one row each — driver-bounded recursion depth, the
    * spine is never data-sized. */
  private val recursiveSpine =
    """WITH RECURSIVE b AS (
         SELECT (year(CAST(min(o_orderdate) AS DATE)) * 12
                 + month(CAST(min(o_orderdate) AS DATE)) - 1) AS lo,
                (year(CAST(max(o_orderdate) AS DATE)) * 12
                 + month(CAST(max(o_orderdate) AS DATE)) - 1) AS hi
         FROM orders),
       spine(mi, hi) AS (
         SELECT lo, hi FROM b
         UNION ALL
         SELECT mi + 1, hi FROM spine WHERE mi < hi),
       rev AS (
         SELECT (year(CAST(o_orderdate AS DATE)) * 12
                 + month(CAST(o_orderdate AS DATE)) - 1) AS mi,
                round(sum(o_totalprice), 2) AS revenue
         FROM orders GROUP BY 1)
       SELECT make_date(CAST(floor(s.mi / 12) AS INT),
                        CAST(s.mi % 12 + 1 AS INT), 1) AS month,
              coalesce(r.revenue, 0.0) AS revenue
       FROM spine s LEFT JOIN rev r ON r.mi = s.mi
       ORDER BY month"""

  /** Correlated LATERAL subquery with LIMIT — "top-2 orders per
    * customer" in its most direct SQL form. Catalyst decorrelates the
    * lateral limit (DomainJoin → per-key rank) rather than executing
    * a subquery per outer row; plan-audited like every query by
    * PlanHygieneSpec. Ties pinned by o_orderkey, so the row set is
    * deterministic; identical text runs on DuckDB. */
  private val lateralTop2 =
    """SELECT c_custkey, c_mktsegment, t.o_orderkey, t.o_totalprice
       FROM customer, LATERAL (
         SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
       ORDER BY c_custkey, o_orderkey"""

  private val revenueByNation =
    """SELECT n_name,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
              count(*) AS n_lines
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation   ON c_nationkey = n_nationkey
       GROUP BY n_name
       ORDER BY n_name"""

  /** The scalar threshold is floor()'d: both engines compute avg() over
    * the same doubles but may differ by ulps (summation order), and
    * o_totalprice values sit on exact cents — thresholding the raw avg
    * would let a 1-ulp difference at a boundary flip row membership
    * between Spark and the oracle. floor() is exact on doubles in both
    * engines and only disagrees if avg lands within an ulp of an
    * integer AND a data point sits exactly there (measure-zero). */
  private val scalarSubquery =
    """SELECT o_orderkey, o_totalprice
       FROM orders
       WHERE o_totalprice > (SELECT floor(avg(o_totalprice)) FROM orders)
       ORDER BY o_orderkey"""

  /** A9's third form: explicit GROUPING SETS with GROUPING() ids to
    * disambiguate the null-as-total rows. */
  private val groupingSets =
    """SELECT l_returnflag, l_linestatus,
              CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
              CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
              sum(l_quantity) AS sum_qty, count(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  private val correlatedExists =
    """SELECT c_custkey, c_name
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 150000)
       ORDER BY c_custkey"""

  private val cte =
    """WITH active AS (
         SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= 12
       )
       SELECT c_mktsegment, count(*) AS n_active
       FROM active JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** OVER-clause surface through the TEXT front-end (the DataFrame
    * window family is WindowQueries; this proves the same semantics
    * parse/plan from SQL): ranking + frame aggregate in one statement,
    * identical text on both engines. */
  private val windowSql =
    """SELECT c_custkey, o_orderkey,
              CAST(row_number() OVER w AS INTEGER) AS rn,
              round(sum(o_totalprice) OVER (
                PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS running_spend
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE c_custkey % 97 = 0
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
       ORDER BY c_custkey, o_orderkey"""

  val queries: Map[String, Q] = Map(
    "q_sql_window" -> sql(windowSql),
    "q_sql_recursive" -> sql(recursiveSpine),
    "q_sql_lateral" -> sql(lateralTop2),
    "q_sql_cte" -> sql(cte),
    "q_sql_join_agg" -> sql(revenueByNation),
    "q_sql_subquery" -> sql(scalarSubquery),
    "q_sql_exists" -> sql(correlatedExists),
    "q_grouping_sets" -> sql(groupingSets),
  )

  /** Identical text runs on DuckDB. */
  val oracles: Map[String, String] = Map(
    "q_sql_window" -> windowSql,
    "q_sql_recursive" -> recursiveSpine,
    "q_sql_lateral" -> lateralTop2,
    "q_sql_cte" -> cte,
    "q_sql_join_agg" -> revenueByNation,
    "q_sql_subquery" -> scalarSubquery,
    "q_sql_exists" -> correlatedExists,
    "q_grouping_sets" -> groupingSets,
  )
}
