package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** TPC-H-shaped analytical workloads (Q3/Q5/Q10 adapted to the driver
  * schema) — the multi-join benchmark weight class. Expressed with the
  * DataFrame API; Catalyst/AQE pick broadcast vs sort-merge per side
  * and reorder the star joins. Dates are emitted as epoch days
  * (integers) for cross-engine hash parity.
  */
object TpchQueries extends QueryModule {

  /** Q1 pricing summary — the canonical scan-and-aggregate benchmark,
    * in its full 8-aggregate form (q_groupby carries the shape with
    * fewer aggregates): one lineitem pass, partial+final hash agg, no
    * join. All sums round at the boundary for cross-engine parity. */
  private val q1: Q = (s, d) =>
    Tables.lineitem(s, d)
      // ISO-formatted date strings order lexicographically as dates, so
      // the raw string comparison is pushable to the parquet scan where
      // to_date(col) <= ... would not be
      .filter(col("l_shipdate") <= "1998-09-02")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q6 forecasting revenue change — THE predicate-pushdown benchmark:
    * every filter (date range, discount band, quantity cap) must reach
    * the parquet scan; the remainder is one global aggregate. The plan
    * is asserted pushdown-clean in PlanHygieneSpec. */
  private val q6: Q = (s, d) =>
    Tables.lineitem(s, d)
      // all three predicates in pushable form (the date range as an ISO
      // string comparison) so the scan itself does the filtering
      .filter(
        col("l_shipdate").between("1997-01-01", "1997-12-31") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 25)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  /** Q3 shipping priority: top unshipped-revenue orders for a segment. */
  private val q3: Q = (s, d) => {
    val cutoff = "1998-06-15"
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d).filter(to_date(col("o_orderdate")) < lit(cutoff))
    val li = Tables.lineitem(s, d).filter(to_date(col("l_shipdate")) > lit(cutoff))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("o_date_days"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(20)
  }

  /** Q5 local supplier volume: revenue by nation within one region,
    * customer and supplier in the same nation. */
  private val q5: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
      .filter(to_date(col("o_orderdate")).between("1996-01-01", "1996-12-31"))
    val cust = Tables.customer(s, d)
    val supp = Tables.supplier(s, d)
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** Q10 returned-item reporting: revenue lost to returns per customer. */
  private val q10: Q = (s, d) => {
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val ord = Tables.orders(s, d)
      .filter(to_date(col("o_orderdate")).between("1997-01-01", "1997-06-30"))
    val cust = Tables.customer(s, d)
    val nat = Tables.nation(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }

  /** Q7 volume shipping between two trading nations: the classic
    * self-joined-dimension shape (nation appears twice, once per side of
    * the trade). Both nation dims are broadcast with their `IN (n1,n2)`
    * membership pushed below the join; only the cross-side pair
    * disjunction evaluates post-join. */
  private val q7: Q = (s, d) => {
    val inPair = Seq("NATION_1", "NATION_2")
    val n1 = Tables.nation(s, d).filter(col("n_name").isin(inPair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).filter(col("n_name").isin(inPair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(to_date(col("l_shipdate")).between("1996-01-01", "1997-12-31"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(to_date(col("l_shipdate"))).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8 national market share: one nation's share of a region's volume
    * in a part type, per order year — conditional aggregation (the
    * share numerator is a CASE inside sum) over a 6-join star. */
  private val q8: Q = (s, d) => {
    val custNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val suppNations = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val volume = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
          .filter(to_date(col("o_orderdate")).between("1996-01-01", "1997-12-31")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNations), col("c_nationkey") === col("c_nk"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNations), col("s_nationkey") === col("s_nk"))
      .groupBy(year(to_date(col("o_orderdate"))).as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_5", volume).otherwise(0.0))
          / sum(volume), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q9 product type profit: per supplier-nation per year. The driver
    * schema has no partsupp, so supply cost := 0.1 × p_retailprice (a
    * deterministic per-part stand-in with the same join shape — the
    * cost side still arrives via the part dimension). */
  private val q9: Q = (s, d) => {
    val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
      lit(0.1) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_name").like("%bolt%"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(to_date(col("o_orderdate"))).as("o_year"))
      .agg(round(sum(amount), 2).as("sum_profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }

  /** Q12 shipping-priority split: conditional counts of high- vs
    * low-priority orders per line status (l_linestatus stands in for
    * the absent l_shipmode — same two-valued split semantics). */
  private val q12: Q = (s, d) => {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(to_date(col("l_shipdate")).between("1997-01-01", "1997-12-31"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** Q13 customer order-count distribution: LEFT OUTER join (customers
    * with no qualifying orders must keep count 0) followed by a second
    * aggregation over the first's result — the double-aggregation
    * histogram shape. The priority exclusion stands in for Q13's
    * comment LIKE filter: the point is a predicate on the JOIN side,
    * not on the preserved side. */
  private val q13: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "5-LOW"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))

  /** Q14 promo revenue share: single-month scan, percentage via
    * conditional sum over the part-type dimension. */
  private val q14: Q = (s, d) => {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(to_date(col("l_shipdate")) >= "1997-09-01" &&
        to_date(col("l_shipdate")) < "1997-10-01")
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) / sum(rev), 4)
        .as("promo_revenue"))
  }

  /** Q19 discounted revenue: three OR'd conjunction blocks mixing part
    * attributes and lineitem quantities (p_size ranges stand in for the
    * absent p_container). The disjunction prevents a single pushable
    * conjunct — the optimizer must still extract the common join key
    * and the per-block ranges; the blocks' l_quantity bounds keep the
    * filter partially pushable via CNF extraction. */
  private val q19: Q = (s, d) => {
    val block = (brand: String, sizeMax: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === brand &&
        col("p_size").between(1, sizeMax) &&
        col("l_quantity").between(qLo, qHi)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(block("Brand#12", 5, 1, 11) ||
        block("Brand#13", 10, 10, 20) ||
        block("Brand#14", 15, 20, 30))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** The correlated-subquery weight class enters through the SQL text
    * front-end: correlated scalar/EXISTS subqueries are a parser-level
    * construct, and routing them through `spark.sql` exercises the
    * decorrelation rewrites (RewriteCorrelatedScalarSubquery,
    * RewritePredicateSubquery, PullupCorrelatedPredicates) that the
    * DataFrame-built plans never touch. TpchDecorrelationSpec asserts the
    * optimized plans carry no residual correlated subquery expression —
    * i.e. nothing executes a per-row subplan.
    *
    * Round 18 moved the expensive members (Q2/Q15/Q17/Q18/Q20/Q21) to
    * single-computation DataFrame plans — the q11 round-17 precedent:
    * the decorrelated SQL forms re-aggregated the fact table once per
    * subquery (see each qNDf scaladoc for the measured duplicate
    * subtree). The decorrelation rung itself stays exercised through
    * q4 (correlated EXISTS), q16 (null-aware NOT IN), q22 (scalar AVG
    * + NOT EXISTS) and the q_sql_subquery/q_sql_exists/q_sql_lateral
    * family; every oracle below still replays the ORIGINAL subquery
    * SQL verbatim in DuckDB, so the rewrites are hash-gated
    * row-for-row.
    *
    * The driver schema has no partsupp table and lineitem carries no
    * receipt/commit dates, so Q2/Q20/Q21 keep their exact correlation
    * structure over the columns that exist (supply relation := lineitem;
    * "late" := returned): the same adaptation q3/q5/q10 made above.
    */
  private def sqlQ(text: String): Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(text)
  }

  /** Q2 minimum-cost supplier: correlated scalar MIN subquery whose inner
    * query repeats the outer's join chain (supplier→nation→region). The
    * decorrelated form is an aggregate-on-partkey joined back — Catalyst
    * must pull the correlated predicate up, not execute one subplan per
    * candidate row. */
  private[graft] val q2Sql =
    """SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
              l_extendedprice AS supply_price
       FROM part, supplier, lineitem, nation, region
       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         AND p_size = 15
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'EUROPE'
         AND l_extendedprice = (
           SELECT min(l2.l_extendedprice)
           FROM lineitem l2, supplier s2, nation n2, region r2
           WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
             AND s2.s_nationkey = n2.n_nationkey
             AND n2.n_regionkey = r2.r_regionkey
             AND r2.r_name = 'EUROPE')
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, supply_price
       LIMIT 100"""

  /** The Spark-side Q2 plan (round 18; the q11Df precedent): the
    * decorrelated scalar MIN re-ran the whole
    * lineitem⋈supplier⋈nation⋈region chain over EVERY part (the inner
    * query has no p_size filter, and Catalyst does not push the outer
    * correlation key's filter below the subquery aggregate). Both the
    * outer rows and the per-part minimum are functions of ONE
    * relation — size-15 parts' EUROPE-supplier line rows — computed
    * once, persisted, and re-read for the min aggregate (one row per
    * qualifying partkey — a count that grows with the scale factor —
    * broadcast back). MIN is an element of the set, so the equality
    * compares exact doubles. DuckDB replays [[q2Sql]] verbatim. */
  private val q2Df: Q = (s, d) => {
    val pf = Tables.part(s, d).filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_type"))
    val sn = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val li = graft.queries.CacheRegistry.register(
      Tables.lineitem(s, d)
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_type"), col("l_extendedprice"),
          col("s_acctbal"), col("s_name"), col("n_name"))
        .persist())
    val mn = li.groupBy(col("p_partkey")).agg(min("l_extendedprice").as("minp"))
      .withColumnRenamed("p_partkey", "mpk")
    li.join(broadcast(mn), col("p_partkey") === col("mpk") &&
        col("l_extendedprice") === col("minp"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"),
        col("l_extendedprice").as("supply_price"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
        asc("p_partkey"), asc("supply_price"))
      .limit(100)
  }

  /** Q17 small-quantity revenue: nested aggregate in the predicate —
    * l_quantity compared against 0.2×avg(quantity) of the SAME part.
    * l_quantity is integer-valued in the testdata, so the per-part sums
    * are exact doubles and the threshold comparison is deterministic
    * across engines regardless of summation order. */
  private[graft] val q17Sql =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
       FROM lineitem, part
       WHERE p_partkey = l_partkey AND p_brand = 'Brand#13' AND p_type = 'PROMO'
         AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                           FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""

  /** Q18 large-volume customers: IN over a grouped HAVING subquery
    * (rewritten to a left-semi join on the aggregated orderkeys). */
  private[graft] def q18Sql(dateDays: String) =
    s"""SELECT c_name, c_custkey, o_orderkey,
              CAST($dateDays AS INTEGER) AS o_date_days,
              o_totalprice, sum(l_quantity) AS sum_qty
       FROM customer, orders, lineitem
       WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                            GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
         AND c_custkey = o_custkey AND o_orderkey = l_orderkey
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 100"""

  /** Q20 concentrated suppliers (partsupp emulated by a grouped lineitem
    * derived table): TWO correlated scalar aggregates against the same
    * inner relation — suppliers who shipped more than half a (part,
    * supplier) pair's lifetime volume inside 1997, for red parts, where
    * the pair also shipped outside 1997. Exercises scalar-subquery
    * merging on top of decorrelation. Integer-valued quantities make
    * both threshold comparisons exact (0.5×exact-sum is exact). */
  private[graft] val q20Sql =
    """SELECT s_name, s_acctbal
       FROM supplier
       WHERE s_suppkey IN (
         SELECT ps.l_suppkey
         FROM (SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty_97
               FROM lineitem
               WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
                 AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
                 AND l_partkey IN (SELECT p_partkey FROM part
                                   WHERE p_name LIKE 'red%')
               GROUP BY l_suppkey, l_partkey) ps
         WHERE ps.qty_97 > (
             SELECT 0.5 * sum(l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = ps.l_partkey AND l2.l_suppkey = ps.l_suppkey)
           AND ps.qty_97 < (
             SELECT sum(l3.l_quantity) FROM lineitem l3
             WHERE l3.l_partkey = ps.l_partkey AND l3.l_suppkey = ps.l_suppkey))
       ORDER BY s_name"""

  /** Q21 waiting suppliers: the double-correlated EXISTS / NOT EXISTS
    * pair over the same fact table ("another supplier in the order" /
    * "no other supplier also failed") — left-semi plus left-anti join
    * after RewritePredicateSubquery. l_returnflag='R' stands in for the
    * reference Q21's receipt>commit lateness (columns absent here). */
  private[graft] val q21Sql =
    """SELECT s_name, count(*) AS numwait
       FROM supplier, lineitem l1, orders, nation
       WHERE s_suppkey = l1.l_suppkey
         AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND l1.l_returnflag = 'R'
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_returnflag = 'R')
         AND s_nationkey = n_nationkey AND n_name = 'NATION_9'
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 100"""

  /** Q4 order-priority checking: correlated EXISTS against the fact
    * table ("order has at least one late line"; returned := late, the
    * q21 convention) → left-semi join after RewritePredicateSubquery. */
  private val q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
         AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  /** Q11 important stock (partsupp emulated by the grouped lineitem
    * derived table, the q20 convention): per-part value filtered by a
    * HAVING against an uncorrelated scalar subquery over the SAME CTE —
    * the fraction-of-global-total shape. The CTE is referenced twice;
    * Spark evaluates the scalar branch once (run-once subquery), not
    * per group. */
  private[graft] val q11Sql =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
                          sum(l_extendedprice * l_quantity) AS val
                   FROM lineitem GROUP BY l_partkey, l_suppkey)
       SELECT ps.l_partkey AS p_key, round(sum(ps.val), 2) AS part_value
       FROM ps, supplier, nation
       WHERE ps.l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         AND n_name = 'NATION_3'
       GROUP BY ps.l_partkey
       HAVING sum(ps.val) > (
         SELECT 0.001 * sum(ps2.val)
         FROM ps ps2, supplier s2, nation n2
         WHERE ps2.l_suppkey = s2.s_suppkey AND s2.s_nationkey = n2.n_nationkey
           AND n2.n_name = 'NATION_3')
       ORDER BY part_value DESC, p_key"""

  /** The Spark-side Q11 plan (round 17): the SQL form's scalar
    * subquery re-ran the WHOLE lineitem aggregation + dimension joins
    * a second time (two parquet scans, two corpus exchanges — the
    * before plan shows the full chain duplicated under the subquery
    * with no reuse). The filtered per-(part, supp) value relation is
    * computed ONCE and persisted; the threshold is the same
    * `0.001 × sum(val)` over the SAME ps-grain rows (not a regrouped
    * per-part re-sum — double addition is order-sensitive, so the
    * total keeps the subquery's grain exactly), attached as a 1-row
    * broadcast (the q_hits device). Oracle SQL unchanged — DuckDB
    * still replays [[q11Sql]] verbatim. */
  private val q11Df: Q = (s, d) => {
    val ps = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice") * col("l_quantity")).as("val"))
    val psn = graft.queries.CacheRegistry.register(ps
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(s, d).filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey"), col("val"))
      .persist())
    val tot = psn.agg(sum("val").as("tv"))
    psn.groupBy(col("l_partkey"))
      .agg(sum("val").as("pv"))
      .crossJoin(broadcast(tot))
      .filter(col("pv") > lit(0.001) * col("tv"))
      .select(col("l_partkey").as("p_key"),
        round(col("pv"), 2).as("part_value"))
      .orderBy(desc("part_value"), col("p_key"))
  }

  /** The Spark-side Q15 plan (round 18; the q11Df precedent): Spark
    * has no CTE materialization, so the SQL form computed the filtered
    * revenue aggregate TWICE — once as the join input and once under
    * the scalar MAX subquery (two lineitem scans, two exchanges; the
    * before plan shows the whole aggregate duplicated). The rounded
    * per-supplier revenue relation is computed ONCE and persisted; the
    * maximum rides back as a 1-row broadcast and the surviving
    * supplier rows (usually one) broadcast into the dimension join.
    * Same 2-decimal rounding at the CTE boundary, so the equality
    * against the max compares the identical engine-stable values; the
    * DuckDB oracle still replays [[q15Sql]] verbatim. */
  private val q15Df: Q = (s, d) => {
    val rev = graft.queries.CacheRegistry.register(
      Tables.lineitem(s, d)
        .filter(to_date(col("l_shipdate")) >= "1997-01-01" &&
          to_date(col("l_shipdate")) < "1997-04-01")
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
        .persist())
    val mx = rev.agg(max("total_revenue").as("mx"))
    val top = rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
    Tables.supplier(s, d)
      .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q15 top supplier: revenue CTE consumed twice — once as the join
    * input, once inside the scalar MAX subquery. Revenue is rounded at
    * the CTE boundary so the equality join on the maximum compares
    * engine-stable 2-decimal values. */
  private[graft] val q15Sql =
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue
       FROM supplier, revenue
       WHERE s_suppkey = supplier_no
         AND total_revenue = (SELECT max(total_revenue) FROM revenue)
       ORDER BY s_suppkey"""

  /** Q16 parts/supplier relationship: NOT IN over a subquery — the
    * null-aware anti join, the one predicate-subquery rewrite the other
    * TPC-H shapes don't reach (s_acctbal < 0 stands in for the comment
    * LIKE '%Complaints%' exclusion). The part-supplier relation is the
    * distinct lineitem pairing, the no-partsupp convention. `pairs` is
    * the derived table's select list: the oracle and Spark texts differ
    * only there, so the filter constants are written once. */
  private def q16Text(pairs: String) =
    s"""SELECT p_brand, p_type, p_size,
              count(DISTINCT ps.l_suppkey) AS supplier_cnt
       FROM (SELECT $pairs FROM lineitem) ps, part
       WHERE p_partkey = ps.l_partkey
         AND p_brand <> 'Brand#3' AND p_type <> 'PROMO'
         AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                  WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  private val q16Sql = q16Text("DISTINCT l_partkey, l_suppkey")

  /** The Spark-side Q16 text (round 18): the derived table's DISTINCT
    * deduplicated (l_partkey, l_suppkey) over the FULL fact table — a
    * whole-lineitem exchange — before the part filter could drop ~87%
    * of the rows, and `count(DISTINCT l_suppkey)` re-deduplicates
    * within each (brand, type, size) group anyway, so the pre-DISTINCT
    * changes no count (duplicate pairs collapse in the grouped
    * distinct-aggregate's first phase). Dropping it lets the broadcast
    * part join + the null-aware NOT IN anti join run per-row on the
    * scan, and the first exchange carries only part-filtered
    * (group, suppkey) partials (guide §2.3: shuffle fewer bytes; the
    * before/after plans show the full-lineitem Exchange
    * hashpartitioning(l_partkey, l_suppkey) disappearing). The
    * null-aware anti-join rung stays exercised; DuckDB still replays
    * [[q16Sql]] verbatim. */
  private val q16SparkSql = q16Text("l_partkey, l_suppkey")

  /** The Spark-side Q17 plan (round 18; the q11Df precedent): the
    * decorrelated SQL form aggregated the per-part quantity average
    * over the ENTIRE fact table (one full-lineitem exchange) although
    * only Brand#13/PROMO parts can survive the outer join — Catalyst
    * does not push a join's key filter below the subquery's aggregate.
    * Here the brand-filtered line rows land in ONE persisted
    * projection; the per-part 0.2·avg threshold (a few hundred rows)
    * is computed from it and broadcast back onto it. The average is
    * over the identical row multiset per part — integer-valued
    * quantities make the sums exact, so the threshold doubles are
    * bit-identical to the subquery's. DuckDB replays [[q17Sql]]
    * verbatim. */
  private val q17Df: Q = (s, d) => {
    val pf = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#13" && col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val li = graft.queries.CacheRegistry.register(
      Tables.lineitem(s, d)
        .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .persist())
    val th = li.groupBy(col("l_partkey"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("thresh"))
      .withColumnRenamed("l_partkey", "pk")
    li.join(broadcast(th), col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("thresh"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  /** The Spark-side Q18 plan (round 18): the IN-subquery's HAVING
    * aggregate and the outer query's sum(l_quantity) are the SAME
    * per-orderkey sum — the SQL form computed it twice (two lineitem
    * scans, two full exchanges) and then re-aggregated the joined rows.
    * One aggregate + HAVING filter produces both the qualifying
    * orderkeys and their sum_qty; orders and customer attach by key
    * (orderkey is unique in orders, custkey in customer, so each
    * qualifying order contributes exactly one row — the outer GROUP BY
    * collapses). DuckDB replays [[q18Sql]] verbatim. */
  private val q18Df: Q = (s, d) => {
    val qual = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum("l_quantity").as("sum_qty"))
      .filter(col("sum_qty") > 300)
    qual.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("int").as("o_date_days"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  /** The Spark-side Q20 plan (round 18): the two correlated scalar
    * subqueries each re-aggregated the FULL fact table per
    * (part, supplier) — and the decorrelated form kept both aggregates
    * over unfiltered lineitem although only red parts can reach the
    * comparison. Here the red-part broadcast filter lands ONCE on the
    * scan and a single aggregate carries both sides of the threshold:
    * qty_97 as a conditional sum (NULL when the pair has no 1997
    * shipment — exactly the groups the SQL derived table never forms,
    * and NULL comparisons drop them identically) and the pair's
    * lifetime total. Integer-valued quantities keep both sums exact,
    * so `qty_97 > 0.5·total` and `qty_97 < total` compare the
    * identical doubles. The surviving suppkeys semi-join the supplier
    * dimension. DuckDB replays [[q20Sql]] verbatim. */
  private val q20Df: Q = (s, d) => {
    val red = Tables.part(s, d).filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val in97 = to_date(col("l_shipdate")) >= "1997-01-01" &&
      to_date(col("l_shipdate")) < "1998-01-01"
    val ps = Tables.lineitem(s, d)
      .join(broadcast(red), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(when(in97, col("l_quantity"))).as("qty_97"),
        sum("l_quantity").as("qty_all"))
      .filter(col("qty_97") > lit(0.5) * col("qty_all") &&
        col("qty_97") < col("qty_all"))
    Tables.supplier(s, d)
      .join(ps.select(col("l_suppkey")),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy("s_name")
  }

  /** The Spark-side Q21 plan (round 18): the EXISTS / NOT EXISTS pair
    * decorrelated into a left-semi plus a left-anti join — each a
    * separate shuffle of the fact table against l1. Both predicates
    * are functions of ONE per-order statistic pair: EXISTS another
    * supplier ⇔ the order has ≥ 2 distinct suppliers, and NOT EXISTS
    * another FAILING supplier ⇔ the order's 'R' lines all belong to
    * l1's supplier ⇔ exactly one distinct supplier has an 'R' line
    * (l1 itself is one). A two-level aggregate (distinct
    * (order, supplier, has_r) grain, then per-order counts — both
    * map-side combined) replaces both subquery joins; l1 keeps its
    * own filters and attaches by orderkey. Counts are exact; DuckDB
    * replays [[q21Sql]] verbatim. */
  private val q21Df: Q = (s, d) => {
    val perSupp = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
    val perOrder = perSupp.groupBy("ok")
      .agg(count(lit(1)).as("n_supp"), sum("has_r").as("n_rsupp"))
      .filter(col("n_supp") > 1 && col("n_rsupp") === 1)
      .select("ok")
    val nat = Tables.nation(s, d).filter(col("n_name") === "NATION_9")
    val supp = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      .join(perOrder, col("l_orderkey") === col("ok"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(100)
  }

  /** Q22 global sales opportunity: an uncorrelated scalar AVG subquery
    * plus a correlated NOT EXISTS anti join in the same predicate.
    * Country code := c_nationkey % 5 (no phone column); "no orders" is
    * vacuous in the dense synthetic data, so the anti join excludes
    * customers with any URGENT order — same plan shape, non-empty
    * result. */
  private val q22Sql =
    """SELECT cntrycode, count(*) AS numcust,
              round(sum(c_acctbal), 2) AS totacctbal
       FROM (SELECT c_nationkey % 5 AS cntrycode, c_acctbal, c_custkey
             FROM customer
             WHERE c_nationkey % 5 IN (0, 2, 3)
               AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                WHERE c_acctbal > 0.0
                                  AND c_nationkey % 5 IN (0, 2, 3))
               AND NOT EXISTS (SELECT 1 FROM orders
                               WHERE o_custkey = c_custkey
                                 AND o_orderpriority = '1-URGENT')) custsale
       GROUP BY cntrycode
       ORDER BY cntrycode"""

  val queries: Map[String, Q] = Map(
    "q_tpch_q1" -> q1,
    "q_tpch_q6" -> q6,
    "q_tpch_q3" -> q3,
    "q_tpch_q5" -> q5,
    "q_tpch_q7" -> q7,
    "q_tpch_q8" -> q8,
    "q_tpch_q9" -> q9,
    "q_tpch_q10" -> q10,
    "q_tpch_q12" -> q12,
    "q_tpch_q13" -> q13,
    "q_tpch_q14" -> q14,
    "q_tpch_q19" -> q19,
    "q_tpch_q2" -> q2Df,
    "q_tpch_q4" -> sqlQ(q4Sql),
    "q_tpch_q11" -> q11Df,
    "q_tpch_q15" -> q15Df,
    "q_tpch_q16" -> sqlQ(q16SparkSql),
    "q_tpch_q17" -> q17Df,
    "q_tpch_q18" -> q18Df,
    "q_tpch_q20" -> q20Df,
    "q_tpch_q21" -> q21Df,
    "q_tpch_q22" -> sqlQ(q22Sql),
  )

  val oracles: Map[String, String] = Map(
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_extendedprice), 4) AS avg_price,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-12-31'
           AND l_discount BETWEEN 0.03 AND 0.07
           AND l_quantity < 25""",
    "q_tpch_q3" ->
      """SELECT l_orderkey,
                CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS o_date_days,
                o_orderpriority,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND CAST(o_orderdate AS DATE) < DATE '1998-06-15'
           AND CAST(l_shipdate AS DATE) > DATE '1998-06-15'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 20""",
    "q_tpch_q5" ->
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name ASC""",
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-06-30'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",
    // DuckDB year() returns BIGINT where Spark's year() is INTEGER —
    // the oracles CAST to INTEGER for schema parity; conditional counts
    // CAST to BIGINT (DuckDB sum(int) widens to HUGEINT).
    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      CAST(year(CAST(l_shipdate AS DATE)) AS INTEGER) AS l_year,
                      l_extendedprice * (1 - l_discount) AS volume
               FROM supplier, lineitem, orders, customer, nation n1, nation n2
               WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                 AND c_custkey = o_custkey
                 AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
                 AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                 AND CAST(l_shipdate AS DATE)
                     BETWEEN DATE '1996-01-01' AND DATE '1997-12-31') shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "q_tpch_q8" ->
      """SELECT o_year,
                round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                      / sum(volume), 6) AS mkt_share
         FROM (SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year,
                      l_extendedprice * (1 - l_discount) AS volume,
                      n2.n_name AS nation
               FROM part, supplier, lineitem, orders, customer,
                    nation n1, nation n2, region
               WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                 AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                 AND c_nationkey = n1.n_nationkey
                 AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
                 AND s_nationkey = n2.n_nationkey AND p_type = 'ECONOMY'
                 AND CAST(o_orderdate AS DATE)
                     BETWEEN DATE '1996-01-01' AND DATE '1997-12-31') all_nations
         GROUP BY o_year ORDER BY o_year""",
    "q_tpch_q9" ->
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
         FROM (SELECT n_name AS nation,
                      CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year,
                      l_extendedprice * (1 - l_discount)
                        - 0.1 * p_retailprice * l_quantity AS amount
               FROM part, supplier, lineitem, orders, nation
               WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
                 AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
                 AND p_name LIKE '%bolt%') profit
         GROUP BY nation, o_year ORDER BY nation ASC, o_year DESC""",
    "q_tpch_q12" ->
      """SELECT l_linestatus,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM orders, lineitem
         WHERE o_orderkey = l_orderkey
           AND CAST(l_shipdate AS DATE)
               BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
         GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q_tpch_q14" ->
      """SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'""",
    "q_tpch_q19" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 20 AND 30))""",
    // The subquery shapes run near-identical text on DuckDB; only q18's
    // epoch-days function differs (DuckDB date_diff vs Spark datediff).
    "q_tpch_q2" -> q2Sql,
    "q_tpch_q4" -> q4Sql,
    "q_tpch_q11" -> q11Sql,
    "q_tpch_q15" -> q15Sql,
    "q_tpch_q16" -> q16Sql,
    "q_tpch_q17" -> q17Sql,
    "q_tpch_q18" -> q18Sql("date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"),
    "q_tpch_q20" -> q20Sql,
    "q_tpch_q21" -> q21Sql,
    "q_tpch_q22" -> q22Sql,
  )
}
