package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Window-function surface (SURVEY.md §2.5) + the label-encode operator
  * (§2.9 E1) whose semantics are exactly a dense_rank over sorted
  * distinct values.
  *
  * Scale notes: every window here partitions by a real key
  * (segment/customer/user) so state is distributed; there is no
  * global ORDER BY window (a single-partition window is the classic
  * 100 TB deadlock — everything funnels through one task).
  */
object WindowQueries extends QueryModule {

  /** W1 ranking family over acctbal within market segment. */
  private val winRank: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(s, d).select(
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
      row_number().over(w).as("rn"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      ntile(4).over(w).as("quartile"))
      .orderBy("c_mktsegment", "rn")
  }

  /** W2 lag/lead over each customer's order history. */
  private val winLag: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      round(lag("o_totalprice", 1).over(w), 2).as("prev_price"),
      round(lead("o_totalprice", 1).over(w), 2).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** W3 frame aggregates: 3-row moving average + running sum per user.
    * (ts, event_id) ordering is unique → deterministic frames. */
  private val winFrame: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("value"),
      round(avg("value").over(w.rowsBetween(-2, 0)), 4).as("mov_avg3"),
      round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
        .as("running_sum"))
      .orderBy("user_id", "event_id")
  }

  /** E1 label encode (reference NB cell 75 LabelEncoder loop): integer
    * codes in lexicographic value order == dense_rank - 1. The MLlib
    * StringIndexer(alphabetAsc) form lives in the clean pipeline; this
    * query expresses the same semantics relationally so DuckDB can
    * oracle-check it.
    *
    * Scale shape: the unpartitioned ranking window runs over the
    * *distinct* values only (cardinality ~6, after a distributed
    * distinct), and the codes are broadcast-joined back — never a
    * global window over the fact table. */
  private val labelEncode: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val codes = cust.select("c_mktsegment").distinct()
      .withColumn("segment_code",
        (dense_rank().over(Window.orderBy("c_mktsegment")) - 1))
    cust.join(broadcast(codes), "c_mktsegment")
      .select("c_custkey", "c_mktsegment", "segment_code")
      .orderBy("c_custkey")
  }

  /** W3 value-range frame: RANGE BETWEEN over numeric order (peers by
    * value distance, not row offset). */
  private val winRange: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"))
      .rangeBetween(-500, 0)
    Tables.customer(s, d).select(
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
      count(lit(1)).over(w).as("n_within_500"),
      round(sum("c_acctbal").over(w), 2).as("sum_within_500"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Sort key of [[winRankSalted]]'s one global rank. */
  private[graft] val saltedOrder: Seq[Column] =
    Seq(col("c_mktsegment").asc, col("c_acctbal").desc, col("c_custkey").asc)

  /** W1 at scale (SURVEY §9 windows caveat, VERDICT round-1 item 5):
    * q_win_rank partitions by ~5 market segments, so at 1000× one task
    * sorts a fifth of the table. This variant produces the SAME output
    * through a skew-proof plan:
    *
    *   1. one [[ScaledWindow.rankCum]] over (segment asc, acctbal
    *      desc, custkey asc): its buckets split every segment across
    *      many globally ordered key ranges — no task ever sorts a
    *      whole segment.
    *   2. per segment, the row count and the rows of all earlier
    *      segments (one tiny row per segment, broadcast back):
    *      rn = rk − before.
    *   3. ntile(4) is recomputed arithmetically from rn and the
    *      per-segment total (SQL ntile: the first n%k tiles take
    *      ceil(n/k) rows) — integer math, no second sort.
    *
    * rank/dense_rank: the ordering key (acctbal desc, custkey asc) is
    * UNIQUE (custkey is a key), so rank = dense_rank = row_number by
    * definition — same values the unsalted window and the oracle
    * produce. A non-unique ordering would additionally min/densify over
    * peer groups in step 2. */
  private val winRankSalted: Q = (s, d) => {
    val cust = Tables.customer(s, d)
      .select("c_mktsegment", "c_custkey", "c_acctbal")
    // one row per segment: its count and the rows of all earlier ones
    val segs = cust.groupBy("c_mktsegment").agg(count(lit(1)).as("n_seg"))
      .agg(sort_array(array_agg(struct("c_mktsegment", "n_seg"))).as("a"))
      .select(inline(transform(col("a"), (x, i) => struct(
        x("c_mktsegment").as("c_mktsegment"), x("n_seg").as("n_seg"),
        aggregate(slice(col("a"), lit(1), i), lit(0L), (acc, y) => acc + y("n_seg"))
          .as("before")))))
    val k = 4
    val merged = ScaledWindow.rankCum(cust, saltedOrder).df
      .join(broadcast(segs), "c_mktsegment")
      .withColumn("rn", (col("rk") - col("before")).cast("int"))
      // SQL ntile(k): big = n%k tiles of size ceil(n/k), then size n/k
      .withColumn("q_small", (col("n_seg") / k).cast("long"))
      .withColumn("q_big", col("n_seg") % k)
      .withColumn("cutoff", col("q_big") * (col("q_small") + 1))
      .withColumn("quartile",
        when(col("rn") <= col("cutoff"),
          ((col("rn") - 1) / (col("q_small") + 1)).cast("int") + 1)
          .otherwise(
            (col("q_big") + (col("rn") - col("cutoff") - 1) / col("q_small"))
              .cast("int") + 1))
    merged.select(
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
      col("rn"), col("rn").as("rnk"), col("rn").as("drnk"), col("quartile"))
      .orderBy("c_mktsegment", "rn")
  }

  /** W1 distribution family: percent_rank / cume_dist over the ranking
    * window, plus first/last/nth_value over the full-partition frame
    * (explicit ROWS UNBOUNDED..UNBOUNDED — the default RANGE..CURRENT
    * frame would make last/nth_value order-dependent and the engines
    * disagree). Ordering key (acctbal desc, custkey) is unique →
    * deterministic. Same scale shape as q_win_rank: partitioned by
    * segment, no global window. */
  private val winDistribution: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.customer(s, d).select(
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cum_dist"),
      first_value(col("c_acctbal")).over(wf).as("seg_top"),
      last_value(col("c_acctbal")).over(wf).as("seg_bottom"),
      nth_value(col("c_acctbal"), 3).over(wf).as("seg_third"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** W3 rolling exact median: a 7-row moving percentile(0.5) per user —
    * the robust-smoothing twin of q_win_frame's moving average (exact
    * interpolated median matches DuckDB's `median` over the same ROWS
    * frame). Frame is row-bounded so per-row cost is O(frame log frame)
    * regardless of partition size. */
  private val winMedian: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(-6, 0)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("value"),
      round(expr("percentile(value, 0.5)").over(w), 4).as("med7"))
      .orderBy("user_id", "event_id")
  }

  /** Exponentially weighted moving average per user — the recursive
    * smoother (ewma' = α·x + (1−α)·ewma, α=0.3) expressed as a LEFT
    * FOLD over the frame's collect_list, so the recurrence stays a
    * per-row codegen expression (no UDAF, no driver state) and both
    * engines replay the identical fold order. Bounded to the last 10
    * events: the dropped (1−α)¹⁰ tail carries ~2.8% of the weight —
    * the truncation every streaming smoother accepts for O(frame)
    * per-row cost. Casts pin the arithmetic to DOUBLE in both engines
    * (a bare 0.3 literal is DECIMAL in both SQL dialects). */
  private val winEwma: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(-9, 0)
    Tables.events(s, d)
      .withColumn("vals", collect_list("value").over(w))
      .select(
        col("user_id"), col("event_id"), col("value"),
        round(expr(
          """aggregate(slice(vals, 2, size(vals) - 1), vals[0],
             (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc)"""),
          4).as("ewma10"))
      .orderBy("user_id", "event_id")
  }

  /** A-family: argmax/argmin aggregates (max_by/min_by). Ordering key
    * is a composite scalar (price * 1e6 + orderkey — exact in double
    * at these magnitudes) because DuckDB's max_by takes scalars only;
    * the orderkey term makes ties deterministic in both engines. */
  private val aggMaxBy: Q = (s, d) => {
    val ord = col("o_totalprice") * 1000000d + col("o_orderkey")
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_orderkey"), ord).as("top_order"),
        min_by(col("o_orderkey"), ord).as("bottom_order"),
        round(max("o_totalprice"), 2).as("top_price"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, Q] = Map(
    "q_win_range" -> winRange,
    "q_agg_maxby" -> aggMaxBy,
    "q_win_rank" -> winRank,
    "q_win_rank_salted" -> winRankSalted,
    "q_win_lag" -> winLag,
    "q_win_frame" -> winFrame,
    "q_win_distribution" -> winDistribution,
    "q_win_median" -> winMedian,
    "q_win_ewma" -> winEwma,
    "q_label_encode" -> labelEncode,
  )

  val oracles: Map[String, String] = Map(
    "q_win_range" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                count(*) OVER w AS n_within_500,
                round(sum(c_acctbal) OVER w, 2) AS sum_within_500
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal
                      RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)
         ORDER BY c_mktsegment, c_custkey""",
    "q_agg_maxby" ->
      """SELECT o_orderpriority,
                max_by(o_orderkey, o_totalprice * 1000000 + o_orderkey) AS top_order,
                min_by(o_orderkey, o_totalprice * 1000000 + o_orderkey) AS bottom_order,
                round(max(o_totalprice), 2) AS top_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_win_rank" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                CAST(row_number() OVER w AS INTEGER) AS rn,
                CAST(rank() OVER w AS INTEGER) AS rnk,
                CAST(dense_rank() OVER w AS INTEGER) AS drnk,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
         ORDER BY c_mktsegment, rn""",
    // identical oracle to q_win_rank: the salted plan must reproduce the
    // plain window's output exactly
    "q_win_rank_salted" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                CAST(row_number() OVER w AS INTEGER) AS rn,
                CAST(rank() OVER w AS INTEGER) AS rnk,
                CAST(dense_rank() OVER w AS INTEGER) AS drnk,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
         ORDER BY c_mktsegment, rn""",
    "q_win_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
                round(lead(o_totalprice, 1) OVER w, 2) AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey""",
    "q_win_frame" ->
      """SELECT user_id, event_id, value,
                round(avg(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3,
                round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum
         FROM events ORDER BY user_id, event_id""",
    "q_win_distribution" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cum_dist,
                first_value(c_acctbal) OVER wf AS seg_top,
                last_value(c_acctbal) OVER wf AS seg_bottom,
                nth_value(c_acctbal, 3) OVER wf AS seg_third
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey ASC),
                wf AS (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY c_mktsegment, c_custkey""",
    "q_win_median" ->
      """SELECT user_id, event_id, value,
                round(median(value) OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
         FROM events ORDER BY user_id, event_id""",
    "q_win_ewma" ->
      """SELECT user_id, event_id, value,
                round(list_reduce(l, (acc, x) ->
                      CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc), 4)
                  AS ewma10
         FROM (SELECT user_id, event_id, value,
                      list(value) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
               FROM events)
         ORDER BY user_id, event_id""",
    "q_label_encode" ->
      """SELECT c_custkey, c_mktsegment,
                CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS INTEGER) AS segment_code
         FROM customer ORDER BY c_custkey""",
  )
}
