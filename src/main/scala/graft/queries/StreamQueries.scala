package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Time-window operators over the events table (SURVEY.md §2.10).
  *
  * These are the batch-equivalent forms of the Structured Streaming
  * queries in graft.streaming.EventStreams — same window()/
  * session_window() expressions, so the streaming plans are verified
  * against DuckDB through their batch twins. Window starts are emitted
  * as epoch seconds (BIGINT) to sidestep parquet timestamp-unit
  * ambiguity between engines.
  */
object StreamQueries extends QueryModule {

  /** Tumbling 1-hour window per event_type. */
  private val windowTumbling: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** Sliding 1-hour window every 30 minutes: each event lands in 2
    * windows (window start grid = 30 min). */
  private val windowSliding: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** Session windows: per-user sessions closed by a 30-minute gap.
    * Uses the native session_window operator; the oracle reconstructs
    * sessions with the classic lag-gap / running-flag-sum islands SQL. */
  private val sessionWindow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("s_start_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "s_start_us")

  /** Sessionization expressed with lag-gap detection (W2 composition) —
    * the same islands the session_window operator finds, computed with
    * plain windows; demonstrates both forms agree with one oracle
    * shape. */
  private val sessionize: Q = (s, d) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      // session_window semantics: an event joins the open session iff
      // its gap is strictly under 30 min, so >= 30 min opens a new one;
      // compare in microseconds to avoid truncation drift.
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(cum))
      .groupBy("user_id", "session_id")
      .agg(
        unix_micros(min("ts")).as("s_start_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("s_start_us"), col("n_events"))
      .orderBy("user_id", "s_start_us")
  }

  /** Session KPI rollup — the dashboard numbers on top of
    * [[sessionize]]'s island detection: session count, average events
    * per session, average session duration (first→last event), and
    * bounce rate (share of single-event sessions). Same one-shuffle
    * gaps-and-islands pass; the rollup collapses the session-grain
    * table to a single KPI row, duration in exact integer micros until
    * the final rounded division. */
  private val sessionStats: Q = (s, d) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(cum))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max("ts")) - unix_micros(min("ts"))).as("dur_us"))
      .agg(
        count(lit(1)).as("n_sessions"),
        round(avg("n_events"), 4).as("avg_events"),
        round(avg("dur_us") / 1e6, 2).as("avg_duration_s"),
        round(avg(when(col("n_events") === 1, 1.0).otherwise(0.0)), 4)
          .as("bounce_rate"))
  }

  /** Behavioral funnel: view → click (≤24 h later) → purchase (≤24 h
    * after the click) per user, reported as per-step user counts — the
    * standard conversion query of event analytics. Each step is one
    * groupBy + one equi-join on user_id, co-partitioned with the
    * previous step's aggregate, so the whole funnel is a chain of
    * shuffles on the same key (AQE coalesces them); timestamps are
    * compared as integer epoch-micros so engine timestamp-unit
    * differences can't shift a boundary. The three 1-row step counts
    * meet in broadcast cross joins (intentional BNL, whitelisted). */
  private val funnel: Q = (s, d) => {
    val dayUs = 86400000000L
    val ev = Tables.events(s, d).select(
      col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tus").as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tus") > col("t1") && col("tus") <= col("t1") + dayUs)
      .groupBy("user_id").agg(min("tus").as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tus") > col("t2") && col("tus") <= col("t2") + dayUs)
      .groupBy("user_id").agg(min("tus").as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_view_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_full_funnel"))))
  }

  /** Day-over-day retention — the cohort query of product analytics:
    * for each activity day, how many users return the NEXT day. The
    * distinct (user, day) set is one aggregate; retention is a self
    * equi-join on (user_id, day+1) — hash/sort-merge joinable, no
    * range scan — and days compare as integer epoch-days so engine
    * timestamp units can't shift a cohort boundary. */
  private val retention: Q = (s, d) => {
    val days = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
    val act = days.groupBy("day").agg(count(lit(1)).as("active"))
    val ret = days.withColumn("next_day", col("day") + 1).as("a")
      .join(days.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.next_day") === col("b.day"))
      .groupBy(col("a.day").as("rday"))
      .agg(count(lit(1)).as("retained"))
    act.join(ret, act("day") === ret("rday"), "left")
      .select(act("day"), col("active"),
        coalesce(col("retained"), lit(0L)).as("retained"))
      .orderBy("day")
  }

  /** Batch twin of [[graft.streaming.EventStreams.clickPurchaseJoin]]
    * — the stream-stream watermarked interval join's oracle-gated
    * form: each click joins same-user purchases within the PRECEDING
    * hour. Timestamps are compared as integer epoch-micros (the house
    * q_funnel convention — the events parquet has shipped as
    * TIMESTAMP(NANOS), and a ns-grain engine comparing raw timestamps
    * could flip an interval boundary a µs-grain engine keeps).
    * Scale shape: an equi-join on user_id with a residual interval
    * predicate — shuffles both sides once on the key; the streaming
    * twin bounds the SAME join's state with 10-minute watermarks
    * (StreamingSpec pins stream ≡ this batch form, and asserts the
    * join state is watermark-bounded, the reason the operator is
    * usable on an unbounded stream at all). */
  private val joinStreamInterval: Q = (s, d) => {
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
        col("event_id").as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        unix_micros(col("ts")).as("purchase_us"),
        col("value").as("p_value"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_us") >= col("click_us") - lit(3600000000L) &&
        col("purchase_us") <= col("click_us"))
      .select(col("click_id"), col("user_id"), col("click_us"),
        col("purchase_us"), round(col("p_value"), 2).as("purchase_value"))
      // purchase_value joins the sort so the output is a TOTAL order:
      // two same-user purchases in the same microsecond would otherwise
      // tie on (click_id, purchase_us) and hash engine-dependently
      .orderBy("click_id", "purchase_us", "purchase_value")
  }

  val queries: Map[String, Q] = Map(
    "q_retention" -> retention,
    "q_funnel" -> funnel,
    "q_join_stream_interval" -> joinStreamInterval,
    "q_window_tumbling" -> windowTumbling,
    "q_window_sliding" -> windowSliding,
    "q_session_window" -> sessionWindow,
    "q_sessionize" -> sessionize,
    "q_session_stats" -> sessionStats,
  )

  private val islandsSql =
    """WITH flagged AS (
         SELECT user_id, event_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                     THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), sessions AS (
         SELECT user_id, ts, value,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM flagged
       )
       SELECT user_id, epoch_us(min(ts)) AS s_start_us, %s
       FROM sessions GROUP BY user_id, session_id
       ORDER BY user_id, s_start_us"""

  val oracles: Map[String, String] = Map(
    // integer epoch-micros on both sides of the interval predicate
    // (the q_funnel convention) — raw TIMESTAMP(NANOS) comparisons
    // could flip a boundary between a ns- and a µs-grain engine
    "q_join_stream_interval" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS click_us,
                           event_id AS click_id
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id AS p_user, epoch_us(ts) AS purchase_us,
                      value FROM events WHERE event_type = 'purchase')
         SELECT c.click_id, c.user_id, c.click_us, p.purchase_us,
                round(p.value, 2) AS purchase_value
         FROM c JOIN p ON c.user_id = p.p_user
           AND p.purchase_us >= c.click_us - 3600000000
           AND p.purchase_us <= c.click_us
         ORDER BY click_id, purchase_us, purchase_value""",
    "q_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
                CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
         ret AS (SELECT a.day, count(*) AS retained
                 FROM days a JOIN days b
                   ON a.user_id = b.user_id AND b.day = a.day + 1
                 GROUP BY 1),
         act AS (SELECT day, count(*) AS active FROM days GROUP BY 1)
         SELECT act.day, act.active,
                coalesce(ret.retained, 0) AS retained
         FROM act LEFT JOIN ret ON act.day = ret.day
         ORDER BY act.day""",
    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         v AS (SELECT user_id, min(tus) AS t1 FROM ev
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT ev.user_id, min(tus) AS t2 FROM ev JOIN v USING (user_id)
               WHERE event_type = 'click'
                 AND tus > t1 AND tus <= t1 + 86400000000 GROUP BY 1),
         p AS (SELECT ev.user_id, min(tus) AS t3 FROM ev JOIN c USING (user_id)
               WHERE event_type = 'purchase'
                 AND tus > t2 AND tus <= t2 + 86400000000 GROUP BY 1)
         SELECT (SELECT count(*) FROM v) AS n_view,
                (SELECT count(*) FROM c) AS n_view_click,
                (SELECT count(*) FROM p) AS n_full_funnel""",
    "q_window_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_start,
                event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",
    "q_window_sliding" ->
      """SELECT w_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM (
           SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT) AS w_start,
                  event_type, value FROM events
           UNION ALL
           SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT) - 1800,
                  event_type, value FROM events)
         GROUP BY 1, 2 ORDER BY w_start, event_type""",
    "q_session_window" ->
      islandsSql.format("count(*) AS n_events, round(sum(value), 2) AS sum_value"),
    "q_sessionize" ->
      islandsSql.format("count(*) AS n_events"),
    "q_session_stats" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                       THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sessions AS (
           SELECT user_id, ts,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged
         ), g AS (
           SELECT user_id, session_id, count(*) AS n_events,
                  epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
           FROM sessions GROUP BY user_id, session_id
         )
         SELECT count(*) AS n_sessions,
                round(avg(n_events), 4) AS avg_events,
                round(avg(dur_us) / 1e6, 2) AS avg_duration_s,
                round(avg(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 4)
                  AS bounce_rate
         FROM g""",
  )
}
