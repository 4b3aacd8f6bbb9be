package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Join surface (SURVEY.md §2.3). Absent in the reference (its universe
  * is one table — the only multi-input op is pd.concat, NB cell 6); the
  * engine provides the full surface on the TPC-H-ish test schema.
  *
  * Scale notes:
  *  - J1 equi joins shuffle both sides on the key and let Catalyst pick
  *    sort-merge vs shuffled-hash; with AQE on, skewed partitions are
  *    split at runtime.
  *  - J2 explicitly broadcasts the dimension side — at 100 TB the fact
  *    table never moves; only the dim is replicated.
  *  - J5/J6 (theta/cross) are kept to dimension×dimension cardinality;
  *    a fact-side theta join would be a broadcast-nested-loop blowup.
  *  - J7 as-of is implemented as union + partitioned window scan
  *    (single shuffle on the join key, no point-in-time self-join) —
  *    the pattern that survives 1000 executors.
  */
object JoinQueries extends QueryModule {

  /** J1 equi inner join + aggregate (planner picks the join strategy). */
  private val joinInner: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("c_mktsegment")

  /** J2 broadcast join: fact lineitem stays put, dim part is replicated. */
  private val joinBroadcast: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")

  /** J3 left outer join: customers keep rows with zero orders. */
  private val joinOuter: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("sum_price"))
      .orderBy("c_custkey")

  /** J4 left semi: orders that have at least one lineitem (EXISTS). */
  private val joinSemi: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** J4 left anti: orders with no lineitem (NOT EXISTS). */
  private val joinAnti: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** J5 theta (non-equi) join — dimension-sized, broadcast-nested-loop. */
  private val joinRange: Q = (s, d) =>
    Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") < col("r_regionkey"))
      .select("n_nationkey", "n_regionkey", "r_regionkey", "r_name")
      .orderBy("n_nationkey", "r_regionkey")

  /** J5-at-scale: binned interval join — the fact-scale range join the
    * dim-sized theta form (q_join_range) cannot reach. Every lineitem
    * shipped inside a 4-day window starting at a Q1-1996 order date is
    * matched to that order with NO equi key available: the naive plan is
    * a broadcast-nested-loop over points × intervals (O(n·m) compares —
    * the blowup the J5 scaladoc warns about). The scale plan bins both
    * sides onto a 7-day grid: intervals explode to the 1-2 week bins
    * they overlap, points land in exactly one bin, and the match becomes
    * a plain shuffled EQUI-join on bin id + a residual range filter.
    * Pair multiplicity is safe by construction — a point has ONE bin, so
    * a (point, interval) pair can meet in at most one bin and no
    * post-join dedup is needed. Shuffle is O(n + m·bins_per_interval),
    * never O(n·m); skewed bins (a hot week) split under AQE like any
    * equi-join. This is the standard binned range-join rewrite that
    * interval/range-join optimizers apply; here it is expressed directly
    * in the DataFrame algebra so Catalyst plans SMJ/SHJ, not BNLJ
    * (plan-asserted in JoinQueriesSpec). Oracle: DuckDB runs the
    * declarative BETWEEN join (its IEJoin handles it at oracle scale). */
  private val joinRangeBinned: Q = (s, d) => {
    val epoch = lit("1970-01-01")
    val iv = Tables.orders(s, d)
      .withColumn("od", to_date(col("o_orderdate")))
      .filter(year(col("od")) === 1996 && month(col("od")) <= 3)
      .select(col("o_orderkey"), datediff(col("od"), epoch).as("sd"))
      .withColumn("ed", col("sd") + 3)
      .withColumn("bin", explode(sequence(floor(col("sd") / 7), floor(col("ed") / 7))))
    val pt = Tables.lineitem(s, d)
      .select(col("l_quantity"),
        datediff(to_date(col("l_shipdate")), epoch).as("pd"))
      .withColumn("bin", floor(col("pd") / 7))
    iv.join(pt, Seq("bin"))
      .filter(col("pd") >= col("sd") && col("pd") <= col("ed"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 1).as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** J6 cross join — dimension×dimension only. */
  private val joinCross: Q = (s, d) =>
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select("r_regionkey", "n_nationkey")
      .orderBy("r_regionkey", "n_nationkey")

  /** J7 as-of join: for every click event, the most recent purchase by
    * the same user at or before the click.
    *
    * Implementation: tag both sides, union, then one window scan
    * partitioned by user ordered by (ts, side) with purchases sorting
    * before clicks at equal ts; `last(..., ignoreNulls)` carries the
    * latest purchase forward. One shuffle on user_id — no range
    * self-join, no per-key collect. Oracle: DuckDB ASOF LEFT JOIN. */
  private val joinAsof: Q = (s, d) => {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), lit(0).as("side"),
      lit(null).cast("long").as("event_id"),
      col("value").as("p_value"), col("ts").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"), lit(1).as("side"),
      col("event_id"),
      lit(null).cast("double").as("p_value"),
      lit(null).cast("timestamp").as("p_ts"))
    val w = Window.partitionBy("user_id").orderBy("ts", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("asof_value", last("p_value", ignoreNulls = true).over(w))
      .withColumn("asof_ts", last("p_ts", ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        unix_micros(col("asof_ts")).as("purchase_us"),
        round(col("asof_value"), 2).as("purchase_value"))
      .orderBy("event_id")
  }

  /** J1-at-skew: the same fact⋈fact equi join expressed with EXPLICIT
    * key salting — the manual defense for a hot join key when AQE's
    * runtime skew split can't fire (e.g. the skew is downstream of an
    * aggregation boundary, or the engine runs without AQE). The probe
    * side (lineitem) appends a deterministic salt ∈ [0, 4) hashed from
    * its row identity; the build side (orders) replicates each row
    * once per salt via `explode(sequence(...))`, so the join key
    * becomes (orderkey, salt) and a key carrying k rows spreads over
    * nSalt partitions at the cost of an nSalt× build-side blowup — the
    * textbook trade. nSalt is a tuning knob sized to the observed
    * skew ratio (hottest key ÷ median key), not a semantic: 4 here
    * demonstrates the mechanics at half the replication cost of the
    * round-9 original 8 (the oracle gate is nSalt-invariant). Semantics are hash-gated: the oracle is the PLAIN
    * unsalted join, so the salted plan must be row-for-row identical.
    * SkewSpec covers the AQE path; this is the algebraic one. */
  private val joinSalted: Q = (s, d) => {
    val nSalt = 4L
    val li = Tables.lineitem(s, d)
      .withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(nSalt)))
    val o = Tables.orders(s, d)
      .withColumn("salt", explode(sequence(lit(0L), lit(nSalt - 1))))
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("salt") === o("salt"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, Q] = Map(
    "q_join_inner" -> joinInner,
    "q_join_salted" -> joinSalted,
    "q_join_broadcast" -> joinBroadcast,
    "q_join_outer" -> joinOuter,
    "q_join_semi" -> joinSemi,
    "q_join_anti" -> joinAnti,
    "q_join_range" -> joinRange,
    "q_join_range_binned" -> joinRangeBinned,
    "q_join_cross" -> joinCross,
    "q_join_asof" -> joinAsof,
  )

  val oracles: Map[String, String] = Map(
    "q_join_inner" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // the PLAIN unsalted join: the salted plan must reproduce it
    "q_join_salted" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_join_broadcast" ->
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q_join_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
                round(coalesce(sum(o_totalprice), 0.0), 2) AS sum_price
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey""",
    "q_join_anti" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey""",
    "q_join_range" ->
      """SELECT n_nationkey, n_regionkey, r_regionkey, r_name
         FROM nation JOIN region ON n_regionkey < r_regionkey
         ORDER BY n_nationkey, r_regionkey""",
    // the oracle states the DECLARATIVE interval predicate; the engine's
    // binned rewrite must be pair-for-pair equivalent to it
    "q_join_range_binned" ->
      """WITH iv AS (SELECT o_orderkey,
                datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS sd
              FROM orders
              WHERE year(CAST(o_orderdate AS DATE)) = 1996
                AND month(CAST(o_orderdate AS DATE)) <= 3),
         pt AS (SELECT l_quantity,
                datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS pd
              FROM lineitem)
         SELECT o_orderkey, count(*) AS n_lines,
                round(sum(l_quantity), 1) AS sum_qty
         FROM iv JOIN pt ON pt.pd BETWEEN iv.sd AND iv.sd + 3
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q_join_cross" ->
      """SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
         ORDER BY r_regionkey, n_nationkey""",
    "q_join_asof" ->
      """SELECT c.event_id, c.user_id,
                epoch_us(c.ts) AS click_us,
                epoch_us(p.ts) AS purchase_us,
                round(p.value, 2) AS purchase_value
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.event_id""",
  )
}
