package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Temporal warehouse operators: time-series regularization (resample
  * to a fixed grid + gap-fill) and slowly-changing-dimension (SCD
  * type-2) merge — the two shapes every event-history pipeline runs
  * that none of the other modules cover. No reference analogue (the
  * reference is a single-snapshot table); engine extensions, SURVEY
  * §8.4.
  */
object TemporalQueries extends QueryModule {

  /** Resample events to an hourly grid per event_type and forward-fill
    * gaps (last observation carried forward), flagging filled rows.
    *
    * Scale shape: the grid is generated DISTRIBUTED — `sequence()` +
    * `explode` over the (types × 1 bounds row) cross join, never a
    * driver-side loop; the hourly aggregate is a map-side-combined
    * groupBy; the fill is a per-type running `last(ignoreNulls)`
    * window partitioned by a real key. Output is grid-sized
    * (types × hours), independent of event count. Values are rounded
    * BEFORE the fill so both engines carry identical doubles forward. */
  private val resampleFill: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(sum("value"), 4).as("v"))
    val bounds = ev.agg(
      date_trunc("hour", min("ts")).as("lo"),
      date_trunc("hour", max("ts")).as("hi"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
          .as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("filled", when(col("v").isNull, 1).otherwise(0))
      .select(col("event_type"), col("h"),
        round(last(col("v"), ignoreNulls = true).over(w), 4).as("v_ff"),
        col("filled"))
      .orderBy("event_type", "h")
  }

  /** SCD type-2 merge: apply an update batch (each updated customer's
    * latest-order balance, effective that order's date) to the customer
    * dimension, producing the versioned history — closed-out old rows,
    * current new rows, untouched rows passing through.
    *
    * Scale shape: ONE pass — the update batch aggregates to
    * per-key rows (broadcast-able: update batches are small relative
    * to the dimension), one left join against the dimension, and the
    * 1-or-2 output versions per key come from `explode` of a
    * conditional struct array, so the join result is scanned once (no
    * 3-branch union re-reading it). (custkey, is_current) is a unique
    * deterministic sort key. */
  private val scd2Merge: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey", "c_acctbal")
    val ord = col("o_totalprice") * 1000000d + col("o_orderkey")
    val upd = Tables.orders(s, d)
      .filter(col("o_custkey") % 3 === 0)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(max("o_orderdate").as("eff"),
        round(max_by(col("o_totalprice"), ord), 2).as("new_bal"))
    val epoch = to_date(lit("1900-01-01"))
    val nullDate = lit(null).cast("date")
    cust.join(broadcast(upd), Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        explode(when(col("eff").isNotNull,
          array(
            struct(col("c_acctbal").as("acctbal"), epoch.as("valid_from"),
              col("eff").as("valid_to"), lit(0).as("is_current")),
            struct(col("new_bal").as("acctbal"), col("eff").as("valid_from"),
              nullDate.as("valid_to"), lit(1).as("is_current"))))
          .otherwise(array(
            struct(col("c_acctbal").as("acctbal"), epoch.as("valid_from"),
              nullDate.as("valid_to"), lit(1).as("is_current")))))
          .as("r"))
      .select(col("c_custkey"), col("r.acctbal"), col("r.valid_from"),
        col("r.valid_to"), col("r.is_current"))
      .orderBy("c_custkey", "is_current")
  }

  /** Union-of-intervals coverage (sweep-line): each event opens a
    * 5-minute activity interval [ts, ts+300s); the query reports, per
    * user, the total seconds covered by the UNION of those intervals —
    * overlaps counted once. The classic formulation is a sweep-line
    * merge; here it is one window pass: with intervals sorted by start
    * within each user, a row's uncovered contribution is
    * `max(0, end − max(start, max_prev_end))` where `max_prev_end` is a
    * running max over the PRECEDING rows — exactly the sweep-line
    * accumulator, expressed as a frame aggregate.
    *
    * Scale shape: one shuffle on user_id, then a partition-local sort —
    * no self-join of intervals (the naive overlap formulation is
    * O(k²) per key), no driver-side merge. Tie safety: tied starts
    * carry identical ends (end = start + const), so the running max —
    * and therefore the per-user SUM — is invariant to tie order in both
    * engines. All arithmetic in integer epoch micros. */
  private val intervalCoverage: Q = (s, d) => {
    val ivlUs = 300L * 1000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("s_us"))
      .withColumn("e_us", col("s_us") + lit(ivlUs))
    val w = Window.partitionBy("user_id").orderBy("s_us")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("pme", max("e_us").over(w))
      .withColumn("add_us",
        when(col("pme").isNull, col("e_us") - col("s_us"))
          .otherwise(greatest(lit(0L), col("e_us") - greatest(col("s_us"), col("pme")))))
      .groupBy("user_id")
      .agg(
        sum("add_us").as("covered_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id")
  }

  /** Last-touch marketing attribution with a bounded lookback — the
    * standard event-pipeline revenue report: each purchase credits the
    * user's most recent click no older than 1 hour; purchases with no
    * qualifying click land in the NULL "unattributed" bucket. Revenue
    * then aggregates per click campaign (the `k` field of the click's
    * JSON props).
    *
    * Implementation is the as-of pattern (q_join_asof): tag both sides,
    * union, ONE window scan per user carrying the latest click's
    * (campaign, ts) forward, then the lookback bound decides
    * attribution — one shuffle on user_id, no per-purchase range
    * self-join. Same-ts click/purchase ties resolve click-first
    * (side ordering), matching DuckDB's ASOF `c.ts <= p.ts`. Output is
    * campaign-sized. */
  private val attribution: Q = (s, d) => {
    val e = Tables.events(s, d)
    val lookbackUs = 3600L * 1000000L
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"), lit(0).as("side"),
      get_json_object(col("props"), "$.k").cast("int").as("c_k"),
      col("ts").as("c_ts"),
      lit(null).cast("double").as("rev"))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), lit(1).as("side"),
      lit(null).cast("int").as("c_k"),
      lit(null).cast("timestamp").as("c_ts"),
      col("value").as("rev"))
    val w = Window.partitionBy("user_id").orderBy("ts", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("lk", last("c_k", ignoreNulls = true).over(w))
      .withColumn("lts", last("c_ts", ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .withColumn("attr_k",
        when(col("lts").isNotNull &&
          (unix_micros(col("ts")) - unix_micros(col("lts")) <= lookbackUs),
          col("lk")))
      .groupBy("attr_k")
      .agg(count(lit(1)).as("n_purchases"), round(sum("rev"), 2).as("revenue"))
      .orderBy(asc_nulls_first("attr_k"))
  }

  /** CDC apply (latest-wins upsert merge): replay a change-data-capture
    * log onto a base snapshot and emit the final table state — the
    * warehouse MERGE every lakehouse ingestion runs. The log here is
    * derived deterministically from orders (seq = o_orderkey, every
    * 11th op a DELETE, the rest UPSERTs of that order's totalprice);
    * the base is the customer dimension.
    *
    * Semantics: per key, the op with the HIGHEST sequence number wins —
    * a delete followed by a later upsert re-inserts, any number of
    * upserts collapse to the last. One `max_by(struct, seq)` aggregate
    * expresses the whole replay: no per-op iteration, no window sort —
    * a single map-side-combinable groupBy whose state is one (op, val)
    * pair per key. At 100 TB the log shuffles once on key and the
    * snapshot-sized output partitions by the same key, ready to swap in
    * (pipeline/Compaction's atomic-directory pattern). */
  private val cdcApply: Q = (s, d) => {
    val base = Tables.customer(s, d).select(
      col("c_custkey"), lit(-1L).as("seq"), lit("U").as("op"),
      col("c_acctbal").as("v"))
    val log = Tables.orders(s, d).select(
      col("o_custkey").as("c_custkey"), col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 11 === 0, "D").otherwise("U").as("op"),
      round(col("o_totalprice"), 2).as("v"))
    base.unionByName(log)
      .groupBy("c_custkey")
      .agg(
        max_by(col("op"), col("seq")).as("fop"),
        max_by(col("v"), col("seq")).as("fv"),
        sum(when(col("seq") >= 0, 1L).otherwise(0L)).as("n_ops"))
      .filter(col("fop") =!= "D")
      .select(col("c_custkey"), round(col("fv"), 2).as("bal"), col("n_ops"))
      .orderBy("c_custkey")
  }

  /** Event-type transition matrix (first-order Markov estimate): for
    * each user's time-ordered event sequence, count consecutive
    * (prev → next) type pairs and normalize to transition
    * probabilities — the sequence-mining primitive behind journey
    * analysis and next-event prediction.
    *
    * Scale shape: ONE shuffle on user_id for the lag() scan (ties
    * broken by the unique event_id, so the sequence — and therefore
    * the pair counts — is deterministic in both engines), then the
    * aggregate collapses to |types|² rows; the probability normalizer
    * is a window over the cardinality-|types| prev partition — all
    * post-shuffle state is matrix-sized, independent of event count. */
  private val eventTransitions: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wp = Window.partitionBy("prev")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum("n").over(wp), 4))
      .orderBy("prev", "next")
  }

  /** Trailing-window distinct count (7-day rolling DAU): per active
    * day, how many DISTINCT users appeared in the trailing 7 days —
    * the engagement metric a windowed count-distinct cannot express
    * as a frame aggregate (distinct is not decomposable over frames).
    *
    * Scale shape: events first collapse to the (day, user) grain — the
    * only pass over raw data, map-side combinable; the rolling window
    * is then a range join of that grain against the broadcast
    * day-spine (≤ 7 candidate days per grain row, so the join output
    * is ≤ 7× the day-user grain, never |days|×|events|), finished by
    * one distinct-count per day. State after the first pass is
    * day×user-sized, independent of event count. */
  private val rollingDistinct: Q = (s, d) => {
    val du = Tables.events(s, d)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
    val spine = du.select("d").distinct()
    spine.select(col("d").as("day"))
      .join(du, datediff(col("day"), col("d")).between(0, 6))
      .groupBy("day")
      .agg(countDistinct("user_id").as("dau7"))
      .orderBy("day")
  }

  /** Period-over-period report (month-over-month revenue growth): the
    * standard finance rollup — monthly revenue plus its % change vs
    * the prior month. The raw scan collapses to a month-grain
    * aggregate (map-side combinable) and the lag() runs over the
    * cardinality-|months| result — the one global window is dozens of
    * rows, not data-sized. */
  private val momGrowth: Q = (s, d) => {
    val w = Window.orderBy("month")
    Tables.orders(s, d)
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("month"))
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
      .withColumn("growth_pct",
        round((col("revenue") - lag("revenue", 1).over(w))
          / lag("revenue", 1).over(w) * 100, 4))
      .orderBy("month")
  }

  /** Seasonal anomaly scores (day-of-week baseline): each day's event
    * count z-scored against the mean/stddev of ITS OWN day-of-week —
    * the first-order seasonality correction every ops dashboard
    * applies before alerting (a quiet Sunday is not an anomaly; a
    * quiet Tuesday is). Emits the SCORE for every day rather than a
    * thresholded subset — thresholding is a trivial downstream filter,
    * and at small day counts the sample z-score is bounded by
    * (k−1)/√k anyway, so a fixed cut would be scale-dependent.
    *
    * Scale shape: the raw scan collapses to the day grain immediately
    * (map-side combinable); the baseline is a window over the
    * cardinality-7 day-of-week partitions of that tiny table. A
    * single-day group has no sample stddev → NULL z, identical in
    * both engines. */
  private val anomalyScore: Q = (s, d) => {
    val w = Window.partitionBy(dayofweek(col("day")))
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("expected", round(avg("n").over(w), 4))
      .withColumn("z",
        round((col("n") - avg("n").over(w)) / stddev_samp("n").over(w), 4))
      .orderBy("day")
  }

  /** Time-weighted average (TWAP): per user, the mean of `value`
    * weighted by how long each reading was HELD (until the next
    * event) — the correct average for irregularly-sampled state
    * (sensor readings, prices, balances), where the plain avg
    * over-weights bursts. One lead() pass per user (ties pinned by
    * event_id), the last reading carries no holding period; weights
    * are integer epoch-micro deltas, so the only floating math is the
    * final ratio. One shuffle on user_id, output user-sized. */
  private val twap: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"), col("value"))
      .withColumn("t_next", lead("t", 1).over(w))
      .filter(col("t_next").isNotNull)
      .groupBy("user_id")
      .agg(
        round(sum(col("value") * (col("t_next") - col("t")))
          / sum(col("t_next") - col("t")), 4).as("twap"),
        round(avg("value"), 4).as("plain_avg"),
        count(lit(1)).as("n_held"))
      .orderBy("user_id")
  }

  /** Conversion-lag report: among users whose first purchase follows
    * their first view, the count and the mean/median first-view →
    * first-purchase delay — the time-to-convert number next to
    * q_funnel's stage counts. One conditional-min aggregate per user
    * (no self-join of the two event streams), lags as exact integer
    * micros, floating math only in the final user-grain statistics. */
  private val conversionLag: Q = (s, d) => {
    Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("fv"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("fp"))
      .filter(col("fv").isNotNull && col("fp").isNotNull &&
        col("fp") >= col("fv"))
      .select((col("fp") - col("fv")).as("lag_us"))
      .agg(
        count(lit(1)).as("n_converted"),
        round(avg("lag_us") / 1e6, 2).as("avg_lag_s"),
        round(percentile(col("lag_us"), lit(0.5)) / 1e6, 2).as("med_lag_s"))
  }

  /** MULTI-touch attribution (equal-credit split) — q_attribution's
    * sibling: each purchase's revenue splits equally across ALL of the
    * user's clicks in the 1-hour lookback, not just the latest. The
    * pair generation is the fact-scale BINNED range join
    * (q_join_range_binned's rewrite, reused): clicks explode onto the
    * ≤2 hour-grid bins their 1-hour window overlaps, purchases land in
    * exactly one bin, and the match is a plain EQUI-join on
    * (user, bin) + residual time filter — never a per-user
    * clicks×purchases blowup; a (click, purchase) pair can only meet
    * in the purchase's single bin, so no dedup is needed. The credit
    * divisor is one window count per purchase. */
  private val attributionMulti: Q = (s, d) => {
    val e = Tables.events(s, d)
    val lookUs = 3600L * 1000000L
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"),
      unix_micros(col("ts")).as("ct"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
      .withColumn("bin",
        explode(sequence(floor(col("ct") / lookUs),
          floor((col("ct") + lookUs) / lookUs))))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("event_id").as("pid"),
      unix_micros(col("ts")).as("pt"), col("value").as("rev"))
      .withColumn("bin", floor(col("pt") / lookUs))
    val wp = Window.partitionBy("pid")
    clicks.join(purchases, Seq("user_id", "bin"))
      .filter(col("pt") >= col("ct") && col("pt") - col("ct") <= lookUs)
      .withColumn("credit", col("rev") / count(lit(1)).over(wp))
      .groupBy("k")
      .agg(count(lit(1)).as("n_touches"),
        round(sum("credit"), 2).as("revenue"))
      .orderBy("k")
  }

  /** Weekly cohort-retention matrix — the product-analytics grid
    * q_retention's day-over-day scalar generalizes to: users cohorted
    * by FIRST-seen epoch week, each later week's activity counted as
    * (cohort, week-offset) cell with retention as a share of the
    * cohort's size. Events collapse to the distinct (user, week) grain
    * once; the cohort key is a per-user min; cells are a
    * map-side-combined count-distinct; the denominator is a window max
    * over each cohort's offset-0 cell (cohort-count-sized state). */
  private val cohortMatrix: Q = (s, d) => {
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 604800000000").as("wk"))
      .distinct()
    val cohort = uw.groupBy("user_id").agg(min("wk").as("c0"))
    val wc = Window.partitionBy("cohort_wk")
    uw.join(cohort, "user_id")
      .groupBy(col("c0").as("cohort_wk"), (col("wk") - col("c0")).as("off_wk"))
      .agg(countDistinct("user_id").as("active"))
      .withColumn("cohort_size",
        max(when(col("off_wk") === 0, col("active"))).over(wc))
      .withColumn("retention_pct",
        round(col("active") / col("cohort_size") * 100, 4))
      .orderBy("cohort_wk", "off_wk")
  }

  /** Revenue-bridge decomposition (price/volume/mix): explains each
    * year's revenue change as ΔAOV·vol₀ (price effect) + Δvol·AOV₀
    * (volume effect) + ΔAOV·Δvol (cross term) — the classic finance
    * walk from one period's revenue to the next, exact by identity
    * (the three effects sum to ΔRev). One year-grain aggregate, lag
    * windows over the handful of year rows. */
  private val revenueBridge: Q = (s, d) => {
    val w = Window.orderBy("yr")
    Tables.orders(s, d)
      .groupBy(year(to_date(col("o_orderdate"))).as("yr"))
      .agg(count(lit(1)).as("vol"), sum("o_totalprice").as("rev"))
      .withColumn("aov", col("rev") / col("vol"))
      .withColumn("pvol", lag("vol", 1).over(w))
      .withColumn("paov", lag("aov", 1).over(w))
      .filter(col("pvol").isNotNull)
      .select(col("yr"),
        round(col("rev") - col("pvol") * col("paov"), 2).as("d_rev"),
        round((col("aov") - col("paov")) * col("pvol"), 2)
          .as("price_effect"),
        round((col("vol") - col("pvol")) * col("paov"), 2)
          .as("volume_effect"),
        round((col("aov") - col("paov")) * (col("vol") - col("pvol")), 2)
          .as("cross_effect"))
      .orderBy("yr")
  }

  /** Top user journeys (path analysis, the sankey-diagram feed): each
    * user's first three events in time order become a `a>b>c` path
    * string, counted across users. Ordering inside the aggregate is
    * pinned by sorting (ts, event_id, type) STRUCTS — collect_list
    * alone has no order guarantee, sort_array restores determinism —
    * and only the first 3 events survive, so per-user state is
    * constant-bounded after the slice. One shuffle on user_id. At
    * 100 TB the unsliced form would need a bounded-top-k aggregate
    * instead; the 3-slice keeps this one linear. */
  private val eventPaths: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(slice(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))), 1, 3)
        .as("first3"))
      .select(concat_ws(">",
        expr("transform(first3, x -> x.event_type)")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), asc("path"))
  }

  /** Benford first-digit screen: the leading-digit distribution of
    * order totals vs Benford's log₁₀(1+1/d) expectation — the
    * classic fabricated-data / unit-mixup tripwire a data-quality
    * pass runs on monetary columns. Digit extraction goes through the
    * EXACT integer-cents form (round(v·100) → BIGINT → first char):
    * integer-to-string is unambiguous in both engines, ×100 preserves
    * the leading digit, and no float log/pow/format sits on the data
    * path (log10 of an exact power of 10 is ulp-fragile; float
    * formatting switches to scientific notation at different
    * magnitudes per engine). */
  private val benford: Q = (s, d) => {
    val wall = Window.partitionBy()
    Tables.orders(s, d)
      .select(substring(
        round(col("o_totalprice") * 100, 0).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_raw", col("n") / sum("n").over(wall))
      .withColumn("benford_raw",
        log(10.0, lit(1.0) + lit(1.0) / col("digit")))
      .select(col("digit"), col("n"),
        round(col("share_raw"), 6).as("share"),
        round(col("benford_raw"), 6).as("benford"),
        round(col("share_raw") - col("benford_raw"), 6).as("deviation"))
      .orderBy("digit")
  }

  /** Cart-abandonment rate: carts with NO purchase by the same user
    * within 24 hours — the negative-space funnel metric. The
    * time-bounded anti-semantics ride the binned range join (carts
    * explode to ≤2 day-bins, purchases land in one; a matching pair
    * meets in exactly the cart's window), then a left join + null
    * check marks converted carts — never a per-user carts×purchases
    * blowup, and the NOT-EXISTS oracle states the declarative
    * contract the binned plan must reproduce. */
  private val cartAbandonment: Q = (s, d) => {
    val e = Tables.events(s, d)
    val lookUs = 24L * 3600 * 1000000L
    val carts = e.filter(col("event_type") === "cart").select(
      col("user_id"), col("event_id").as("cart_id"),
      unix_micros(col("ts")).as("ct"))
      .withColumn("bin",
        explode(sequence(floor(col("ct") / lookUs),
          floor((col("ct") + lookUs) / lookUs))))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), unix_micros(col("ts")).as("pt"))
      .withColumn("bin", floor(col("pt") / lookUs))
    val converted = carts.join(purchases, Seq("user_id", "bin"))
      .filter(col("pt") >= col("ct") && col("pt") - col("ct") <= lookUs)
      .select("cart_id").distinct()
      .withColumn("conv", lit(1))
    carts.select("cart_id").distinct()
      .join(converted, Seq("cart_id"), "left")
      .agg(
        count(lit(1)).as("n_carts"),
        sum(when(col("conv").isNull, 1L).otherwise(0L)).as("n_abandoned"),
        round(avg(when(col("conv").isNull, 1.0).otherwise(0.0)), 4)
          .as("abandonment_rate"))
  }

  /** New-vs-returning daily split — the first KPI on any growth
    * dashboard: per active day, users seen for the FIRST time that day
    * vs users seen before. Distinct (user, day) grain once, per-user
    * min as the first-seen key, one conditional-sum aggregate. */
  private val newVsReturning: Q = (s, d) => {
    val du = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = du.groupBy("user_id").agg(min("day").as("d0"))
    du.join(first, "user_id")
      .groupBy("day")
      .agg(
        sum(when(col("day") === col("d0"), 1L).otherwise(0L))
          .as("new_users"),
        sum(when(col("day") > col("d0"), 1L).otherwise(0L))
          .as("returning_users"))
      .orderBy("day")
  }

  /** Autocorrelation function of daily revenue at lags 1–7 — the
    * seasonality/persistence diagnostic behind every forecasting
    * choice (a strong lag-7 says weekly cycle; near-zero everywhere
    * says don't bother with an AR model). Collapses the fact table to
    * the calendar-day grid once; each lag is one `lag()` over that
    * grid (date-grain global window, the q_forecast_snaive class) and
    * the sums are grid-sized. r_k = Σ(vₜ−m)(vₜ₊ₖ−m)/Σ(vₜ−m)²,
    * identical expression shapes in both engines. */
  private val acf: Q = (s, d) => {
    val daily = OrdersDaily.dollars(s, d)
    val w = Window.orderBy("day")
    val centered = daily
      .crossJoin(broadcast(daily.agg(avg("v").as("m"))))
      .withColumn("c", col("v") - col("m"))
    val withLags = (1 to 7).foldLeft(centered) { case (df, k) =>
      df.withColumn(s"c$k", lag("c", k).over(w))
    }
    val outCols = count(lit(1)).as("n_days") +:
      (1 to 7).map(k =>
        round(sum(col("c") * col(s"c$k")) / sum(col("c") * col("c")), 6)
          .as(s"r$k"))
    withLags.agg(outCols.head, outCols.tail: _*)
  }

  /** CUSUM changepoint scan over the same daily series — the
    * monitoring primitive that localizes WHEN a level shift happened
    * (the anomaly/drift queries say THAT something is off). All
    * arithmetic exact: daily cents are longs, and the scaled statistic
    * n·Sₜ = n·Σᵢ≤ₜvᵢ − t·T needs no division — accumulated in
    * DECIMAL(38,0)/int128 so the argmax compare can never flip on a
    * float bit. The cumulative scan runs on the calendar-day grid.
    * Emits the detected changepoint day, the normalized max |S| in
    * dollars, and the day count. */
  private val cusum: Q = (s, d) => {
    val daily = OrdersDaily.cents(s, d)
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = OrdersDaily.indexed(s, d)
      .withColumn("cum", sum("v").over(w))
      .crossJoin(broadcast(daily.agg(
        count(lit(1)).as("n"), sum("v").as("tot"))))
      .withColumn("ns", col("cum").cast(DecimalType(38, 0)) * col("n")
        - col("rk").cast(DecimalType(38, 0)) * col("tot"))
      .withColumn("absns", abs(col("ns")))
    scored
      .orderBy(desc("absns"), asc("day"))
      .limit(1)
      .select(col("n").as("n_days"), col("day").as("cp_day"),
        round(col("absns").cast("double")
          / (col("n").cast("double") * 100.0), 2).as("max_cusum_usd"))
  }

  /** Binary-segmentation changepoint scan — [[cusum]] localizes ONE
    * level shift; binary segmentation recurses: split at the global
    * CUSUM argmax, re-run the identical exact-integer statistic inside
    * each half (depth 1 here ⇒ up to 3 changepoints ranked by level).
    * The level-0 argmax rides a 1-row broadcast back onto the grid (no
    * driver value), segment-local cumsums are windows PARTITIONED BY
    * the two segment ids over the calendar-day grid, and every compare
    * stays in DECIMAL(38,0)/int128 — the split day and both
    * sub-changepoints can never flip on a float bit. */
  private val binseg: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = OrdersDaily.cents(s, d)
    val cumW = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sc = OrdersDaily.indexed(s, d).withColumnRenamed("rk", "t")
      .withColumn("cum", sum("v").over(cumW))
      .crossJoin(broadcast(daily.agg(
        count(lit(1)).as("n"), sum("v").as("tot"))))
      .withColumn("absns", abs(col("cum").cast(dec) * col("n")
        - col("t").cast(dec) * col("tot")))
    val cp1 = sc.orderBy(desc("absns"), asc("day")).limit(1)
    val level0 = cp1.select(lit(0L).as("level"), lit(0L).as("segment"),
      col("n").as("n_days"), col("day").as("cp_day"),
      round(col("absns").cast("double") / (col("n").cast("double") * 100.0),
        2).as("max_cusum_usd"))
    val seg = sc.select(col("day"), col("v"), col("t"))
      .crossJoin(broadcast(cp1.select(col("t").as("t1"))))
      .withColumn("sg", when(col("t") <= col("t1"), 0L).otherwise(1L))
    val st = seg.groupBy("sg")
      .agg(count(lit(1)).as("n_s"), sum("v").as("tot_s"))
    val sgW = Window.partitionBy("sg").orderBy("day")
    val sgCumW = sgW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored2 = seg
      .withColumn("t2", row_number().over(sgW))
      .withColumn("cum2", sum("v").over(sgCumW))
      .join(broadcast(st), "sg")
      .withColumn("absns2", abs(col("cum2").cast(dec) * col("n_s")
        - col("t2").cast(dec) * col("tot_s")))
    val level1 = scored2
      .withColumn("rk", row_number().over(
        Window.partitionBy("sg").orderBy(desc("absns2"), asc("day"))))
      .filter(col("rk") === 1)
      .select(lit(1L).as("level"), col("sg").as("segment"),
        col("n_s").as("n_days"), col("day").as("cp_day"),
        round(col("absns2").cast("double")
          / (col("n_s").cast("double") * 100.0), 2).as("max_cusum_usd"))
    level0.unionAll(level1).orderBy("level", "segment")
  }

  /** Multiplicative seasonal decomposition (classical STL shape) of
    * monthly revenue: trend = centered 2×12 moving average, seasonal =
    * month-of-year mean of the detrended ratio, residual = the rest.
    * Exact protocol: the MA numerator 2·Σ₋₅..₊₅ + x₋₆ + x₊₆ is an
    * exact long in cents, the detrended ratio r = 24·v/num is ONE
    * double division rounded at 6 before the (grid-sized) seasonal
    * averaging, and the residual divides the already-rounded pair —
    * no float accumulation anywhere. Edge months without a full
    * 13-month window drop out (the classical convention). All windows
    * run on the month grid. */
  private val stlDecompose: Q = (s, d) => {
    val m = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
    val w = Window.orderBy("month")
    val inner = Window.orderBy("month").rowsBetween(-5, 5)
    val detr = m
      .withColumn("num", lit(2) * sum("v").over(inner)
        + lag("v", 6).over(w) + lead("v", 6).over(w))
      .filter(col("num").isNotNull)
      .withColumn("trend_usd",
        round(col("num") / lit(2400.0), 4))
      .withColumn("rr",
        round(col("v") * 24 / col("num").cast("double"), 6))
      .withColumn("moy", month(col("month")))
    val seasonal = detr.groupBy("moy")
      .agg(round(avg("rr"), 6).as("seasonal"))
    detr.join(broadcast(seasonal), "moy")
      .select(col("month"),
        round(col("v") / lit(100.0), 2).as("rev_usd"),
        col("trend_usd"), col("seasonal"),
        round(col("rr") / col("seasonal"), 6).as("resid"))
      .orderBy("month")
  }

  /** Time-decay multi-touch attribution — the recency-weighted member
    * of the attribution family (last-touch credits one event,
    * position/Shapley split statically; time-decay says a touch
    * yesterday matters more than one last month): every pre-purchase
    * touch earns weight 2^(−Δdays/7) toward the user's first purchase.
    * Each weight is ONE pow() rounded to integer MICRO-units, so the
    * per-channel credit sums are exact long addition; shares divide by
    * the 1-row broadcast total. */
  private val attributionDecay: Q = (s, d) => {
    val e = Tables.events(s, d)
    val firstBuy = e.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("pt"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("channel"),
        unix_micros(col("ts")).as("tt"))
      .join(firstBuy, "user_id")
      .filter(col("tt") < col("pt"))
      .withColumn("w_micro",
        round(pow(lit(2.0), -(col("pt") - col("tt"))
          / lit(7.0 * 86400000000L)) * 1000000).cast("long"))
    val byChannel = touches.groupBy("channel")
      .agg(count(lit(1)).as("n_touches"), sum("w_micro").as("wm"))
    byChannel
      .crossJoin(broadcast(byChannel.agg(sum("wm").as("wtot"))))
      .select(col("channel"), col("n_touches"),
        round(col("wm") / lit(1000000.0), 4).as("credit"),
        round(col("wm") / col("wtot").cast("double"), 6).as("share"))
      .orderBy("channel")
  }

  /** Cohort LTV triangle — the revenue twin of [[cohortMatrix]]'s
    * retention counts: users grouped by first-activity WEEK (integer
    * epoch-week, the q_rolling_distinct grain — the corpus spans one
    * month, so weekly cohorts give a real triangle where monthly would
    * collapse to one cell), purchase revenue accumulated by week-age,
    * cumulative LTV per cohort member. Revenue stays in exact long
    * cents through the cumulative window (partitioned by cohort over
    * the bounded week-age axis); the single division to USD-per-user
    * happens at emission. (On the synthetic corpus every user is
    * active from week 1, so the triangle has one cohort row per age —
    * the estimator is arrival-agnostic.) */
  private val cohortLtv: Q = (s, d) => {
    val e = Tables.events(s, d)
      .withColumn("wk", expr("unix_micros(ts) DIV 604800000000"))
    val cohort = e.groupBy("user_id").agg(min("wk").as("cwk"))
    val cohortSize = cohort.groupBy("cwk").agg(count(lit(1)).as("n_users"))
    val rev = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("wk"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(cohort, "user_id")
      .withColumn("age", col("wk") - col("cwk"))
      .groupBy("cwk", "age").agg(sum("cents").as("rev_cents"))
    val w = Window.partitionBy("cwk").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(cohortSize), "cwk")
      .withColumn("cum_cents", sum("rev_cents").over(w))
      .select(col("cwk").as("cohort_week"), col("age"), col("n_users"),
        round(col("rev_cents") / lit(100.0), 2).as("rev_usd"),
        round(col("cum_cents") / (col("n_users") * lit(100.0)), 4)
          .as("ltv_per_user"))
      .orderBy("cohort_week", "age")
  }

  /** Ljung–Box portmanteau test on daily revenue — the diagnostic that
    * turns q_acf's lag correlations into ONE decision number: is the
    * series white noise? Q = n(n+2)·Σ_{k≤7} r²ₖ/(n−k), χ²₇ under H₀.
    * Each rₖ is the SAME expression as q_acf rounded at 6 first, so
    * the 7-term sum (a fixed left-to-right expression chain over the
    * 1-row aggregate, not a float aggregate) is bit-identical
    * cross-engine. Day-grid windows throughout. */
  private val ljungBox: Q = (s, d) => {
    val daily = OrdersDaily.dollars(s, d)
    val w = Window.orderBy("day")
    val centered = daily
      .crossJoin(broadcast(daily.agg(avg("v").as("m"))))
      .withColumn("c", col("v") - col("m"))
    val withLags = (1 to 7).foldLeft(centered) { case (df, k) =>
      df.withColumn(s"c$k", lag("c", k).over(w))
    }
    val rks = (1 to 7).map(k =>
      round(sum(col("c") * col(s"c$k")) / sum(col("c") * col("c")), 6)
        .as(s"r$k"))
    val aggCols = count(lit(1)).as("n") +: rks
    val agged = withLags.agg(aggCols.head, aggCols.tail: _*)
    val q = (1 to 7).map(k =>
      col(s"r$k") * col(s"r$k") / (col("n") - k).cast("double"))
      .reduceLeft(_ + _) * col("n") * (col("n") + 2)
    agged.select(col("n").as("n_days"),
      round(q, 4).as("lb_stat"),
      lit(7L).as("df"),
      (q > 14.067).as("reject_white_noise"))
  }

  /** 30-day rolling OLS trend slope of daily revenue — the windowed
    * twin of the global trend estimators (Theil–Sen/Mann–Kendall say
    * whether the WHOLE series trends; the rolling slope localizes
    * WHEN momentum turns): slope = (nΣtv − ΣtΣv)/(nΣt² − (Σt)²) from
    * four exact-integer rolling sums over the day grid, the numerator
    * in DECIMAL(38,0)/int128, ONE double division per emitted day.
    * Only full 30-day windows emit. */
  private val rollingSlope: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val w = Window.orderBy("day").rowsBetween(-29, 0)
    val g = OrdersDaily.indexed(s, d).withColumnRenamed("rk", "t")
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("st", sum("t").over(w))
      .withColumn("sv", sum("v").over(w))
      .withColumn("stv", sum(col("t") * col("v")).over(w))
      .withColumn("stt", sum(col("t") * col("t")).over(w))
      .filter(col("nw") === 30)
    g.select(col("day"),
      round(col("v") / lit(100.0), 2).as("rev_usd"),
      round((lit(30).cast(dec) * col("stv") - col("st").cast(dec) * col("sv"))
        .cast("double")
        / ((lit(30) * col("stt") - col("st") * col("st")) * lit(100L))
          .cast("double"), 6).as("slope_usd_day"))
      .orderBy("day")
  }

  /** First-order Markov entropy rate of the per-user event stream —
    * the predictability read on top of [[eventTransitions]] (the
    * transition matrix says WHERE users go; the entropy rate says how
    * PREDICTABLE the next step is, the bits a sequence model can hope
    * to save): per from-state the conditional entropy
    * H(next|s) = −Σ p(j|s)·ln p(j|s) and the rate contribution
    * π_s·H(next|s) with empirical π_s = n_s/N. Every entropy term
    * −(n_ij/·)·ln(n_ij/n_i) is ONE mirrored expression rounded to
    * integer MICRO-nats before its exact long sum over the ≤k²
    * transition-cell grid; Σ rate_nats over states is the entropy
    * rate. Windows ride the tiny state grid. */
  private val markovEntropy: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val t = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("nij"))
    val wp = Window.partitionBy("prev")
    val all = Window.partitionBy()
    t.withColumn("ni", sum("nij").over(wp))
      .withColumn("nt", sum("nij").over(all))
      .withColumn("hm",
        round(lit(-1000000.0) * (col("nij") / col("ni"))
          * log(col("nij") / col("ni"))).cast("long"))
      .withColumn("rm",
        round(lit(-1000000.0) * (col("nij") / col("nt"))
          * log(col("nij") / col("ni"))).cast("long"))
      .groupBy(col("prev").as("state"), col("ni"), col("nt"))
      .agg(sum("hm").as("hms"), sum("rm").as("rms"))
      .select(col("state"), col("ni").as("n_from"),
        round(col("ni") / col("nt"), 6).as("pi"),
        round(col("hms") / lit(1000000.0), 6).as("h_cond_nats"),
        round(col("rms") / lit(1000000.0), 6).as("rate_nats"))
      .orderBy("state")
  }

  /** Purchase-streak distribution — the classic GAPS-AND-ISLANDS
    * idiom (consecutive-day runs found by grouping on
    * date − row_number, which is constant exactly along a run): per
    * customer the longest consecutive-order-day streak, then the
    * distribution of those maxima — the engagement read behind streak
    * badges and churn-risk tiers. Every step is exact integer/date
    * arithmetic; windows partition per customer over that customer's
    * distinct order days (activity-bounded, not corpus-bounded). */
  private val streaks: Q = (s, d) => {
    val days = Tables.orders(s, d)
      .select(col("o_custkey").as("c"),
        to_date(col("o_orderdate")).as("day"))
      .distinct()
    val w = Window.partitionBy("c").orderBy("day")
    val maxs = days
      .withColumn("rn", row_number().over(w))
      .withColumn("grp", expr("date_sub(day, rn)"))
      .groupBy("c", "grp").agg(count(lit(1)).as("len"))
      .groupBy("c").agg(max("len").as("max_streak"))
    maxs.groupBy("max_streak")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("max_streak")
  }

  /** Day-of-week revenue index — the weekly twin of the monthly
    * [[InsightQueries]] seasonal index (staffing and cache-warming
    * run on THIS profile, not the monthly one): per weekday the mean
    * daily revenue over the whole grid vs the all-days mean, from
    * exact long cents; index and shares are mirrored doubles at
    * emission. Weekday keys follow DuckDB's dayofweek convention
    * (0 = Sunday), i.e. Spark's dayofweek − 1. Seven rows out. */
  private val weekdayIndex: Q = (s, d) => {
    val daily = OrdersDaily.cents(s, d)
    val g = daily.groupBy((dayofweek(col("day")) - 1).cast("long")
      .as("dow"))
      .agg(count(lit(1)).as("n_days"), sum("v").as("rev"))
    val tot = g.agg(sum(col("n_days")).as("nt"),
      sum(col("rev").cast(DecimalType(38, 0))).as("rt"))
    g.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"),
        round(col("rev") / lit(100.0), 2).as("rev_usd"),
        round((col("rev").cast("double") / col("n_days")) /
          (col("rt").cast("double") / col("nt")), 6).as("idx"))
      .orderBy("dow")
  }

  /** Month-over-month top-10 brand-leaderboard turnover — the rank
    * STABILITY read behind "is this ranking signal or churn?" (a
    * leaderboard that reshuffles monthly is noise; one frozen for two
    * years is stale): per month the top-10 brands by revenue
    * (bounded ≤25-brand partitions), consecutive months compared as
    * SETS — common members, new entrants, Jaccard — all exact integer
    * counts, one division per emitted month. */
  private val rankTurnover: Q = (s, d) => {
    val mb = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("mth"),
        col("p_brand").as("brand"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("v"))
    val w = Window.partitionBy("mth").orderBy(col("v").desc, col("brand"))
    val top = mb.withColumn("r", row_number().over(w))
      .filter(col("r") <= 10)
      .select(col("mth"), col("brand"))
    val sa = top.groupBy("mth").agg(count(lit(1)).as("n_top"))
    val prev = top.select(add_months(col("mth"), 1).as("mth"),
      col("brand"))
    val sb = prev.groupBy("mth").agg(count(lit(1)).as("n_prev"))
    val common = top.join(prev, Seq("mth", "brand"))
      .groupBy("mth").agg(count(lit(1)).as("nc"))
    sa.join(sb, "mth").join(common, Seq("mth"), "left")
      .na.fill(0L, Seq("nc"))
      .select(col("mth"), col("nc").as("n_common"),
        (col("n_top") - col("nc")).as("n_new"),
        round(col("nc") / (col("n_top") + col("n_prev") - col("nc")), 4)
          .as("jaccard"))
      .orderBy("mth")
  }

  /** Haar wavelet energy spectrum of daily revenue — multi-resolution
    * variance analysis (which TIME SCALE carries the variation: 2-day
    * noise, weekly cycle, quarterly drift?) over the first 2048 days
    * of the grid. Key identity: every Haar approximation coefficient
    * is the plain SUM of its subtree (even the lone trailing element
    * of a ragged level), so the level-k detail d is a SIGNED BLOCK SUM
    * of the ORIGINAL series — +v over the first half of its 2^k-day
    * block, −v over the second. That turns 11 iterative lifting
    * rounds into ONE 11-way explode + one (level, block) aggregate
    * (one shuffle of ~2·n tiny rows, no per-level materialization);
    * coefficients stay EXACT LONGS (|d| ≤ 2048·maxv ≈ 10¹³), each
    * level's energy Σd² is an exact int128 sum, and the only float op
    * is the final USD² scaling. */
  private val haar: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    OrdersDaily.indexed(s, d).filter(col("rk") <= 2048)
      .select(col("rk").as("i"), col("v"))
      .withColumn("level", explode(sequence(lit(1), lit(11))))
      .select(col("level"),
        expr("(i - 1) DIV shiftleft(1, level) + 1").as("block"),
        expr("CASE WHEN ((i - 1) DIV shiftleft(1, level - 1)) % 2 = 0" +
          " THEN v ELSE -v END").as("sv"))
      .groupBy("level", "block")
      .agg(sum("sv").as("d"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_coeffs"),
        sum(col("d").cast(dec) * col("d")).as("en"))
      // round(en/1e8, 4) as a float op diverged cross-engine in the
      // last bit (round 11, level 7); half-up-round the exact int128
      // energy to 1e-4 USD^2 units by integral division, then the one
      // float op is a deterministic double/double divide
      .select(col("level"), col("n_coeffs"),
        (expr("(en + 5000) div 10000").cast("double") / lit(10000.0))
          .as("energy_usd2"))
      .orderBy("level")
  }

  /** Wald–Wolfowitz runs test on daily revenue around its median — the
    * nonparametric randomness check beside [[ljungBox]] (Ljung–Box
    * reads LINEAR autocorrelation; the runs test catches any
    * above/below-median clustering, level shifts included, with no
    * distributional assumption): R = 1 + #sign changes along the day
    * grid, E[R] and Var[R] closed-form from the exact above/below
    * counts, one mirrored z at emission. The median is the (k1,k2)
    * midpoint of the day-grid order statistics (the q_theil_sen
    * contract), carried in-plan as a 1-row broadcast; median-equal
    * days are dropped (the textbook rule). All windows ride the
    * bounded day grid. */
  private val runsTest: Q = (s, d) => {
    val daily = OrdersDaily.cents(s, d)
    // the two middle ranks k1 = (n + 1) DIV 2 and k2 = n DIV 2 + 1
    val ks = daily.agg(count(lit(1)).as("n"))
      .select(struct(expr("(n + 1) DIV 2").as("k1"), expr("n DIV 2 + 1").as("k2")))
      .scalar()
    val med = daily
      .withColumn("rk", row_number().over(Window.orderBy("v", "day")))
      .withColumn("ks", ks)
      .filter(col("rk") === col("ks.k1") || col("rk") === col("ks.k2"))
      .agg(((min("v") + max("v")) / lit(2.0)).as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("v") =!= col("med"))
      .select(col("day"), (col("v") > col("med")).cast("long").as("up"))
    val w = Window.orderBy("day")
    val runs = signs
      .withColumn("chg",
        when(lag("up", 1).over(w).isNull, 1L)
          .when(col("up") =!= lag("up", 1).over(w), 1L).otherwise(0L))
      .agg(sum(when(col("up") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("up") === 0, 1L).otherwise(0L)).as("n2"),
        sum("chg").as("r"))
    val mean = lit(2.0) * col("n1") * col("n2") /
      (col("n1") + col("n2")) + lit(1.0)
    val vr = lit(2.0) * col("n1") * col("n2") *
      (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2")) /
      ((col("n1") + col("n2")).cast("double") * (col("n1") + col("n2")) *
        (col("n1") + col("n2") - 1))
    runs.select(col("n1"), col("n2"), col("r").as("runs"),
      round((col("r") - mean) / sqrt(vr), 4).as("z"),
      (abs((col("r") - mean) / sqrt(vr)) > 1.96).as("reject_random"))
  }

  /** SAX symbolization of daily revenue — the Lin et al. symbolic
    * aggregate approximation behind motif/novelty mining on time
    * series at scale (reduce each ~24-day window to one letter, then
    * string algorithms do the rest): global z-normalization from exact
    * int128 moment sums, 100 equal-population segments via the
    * explicit `((rk−1)·100) DIV n` cut (the q_lift_deciles contract),
    * per-segment PAA mean z-scored and mapped to a 4-symbol alphabet
    * at the standard Gaussian breakpoints ±0.6745 (quartiles). Every
    * input to the breakpoint compare is the same mirrored double from
    * exact integers. Windows ride the bounded day grid. */
  private val sax: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = OrdersDaily.cents(s, d)
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("v").cast(dec)).as("sv"),
      sum(col("v").cast(dec) * col("v")).as("svv"))
    val mu = col("sv").cast("double") / col("n")
    val sg = sqrt((col("n").cast(dec) * col("svv") -
      col("sv") * col("sv")).cast("double") /
      (col("n").cast("double") * (col("n") - 1)))
    val z = (col("segv").cast("double") / col("n_days") - mu) / sg
    OrdersDaily.indexed(s, d)
      .withColumn("n", tot.select("n").scalar())
      .withColumn("seg", expr("((rk - 1) * 100) DIV n") + 1)
      .groupBy("seg")
      .agg(count(lit(1)).as("n_days"), sum("v").as("segv"))
      .crossJoin(broadcast(tot))
      .select(col("seg"), col("n_days"),
        round(z, 4).as("paa_z"),
        when(z < -0.6745, "a").when(z < 0.0, "b")
          .when(z < 0.6745, "c").otherwise("d").as("symbol"))
      .orderBy("seg")
  }

  /** Gumbel extreme-value fit on monthly block maxima of daily revenue
    * — the tail-risk read behind capacity planning ("what daily peak
    * should we provision for?"): method-of-moments fit β = σ√6/π,
    * μ = mean − γβ, and the T-month return levels
    * x_T = μ − β·ln(−ln(1−1/T)) for T = 12 and 120. Block maxima are
    * exact long cents; the two moment sums ride DECIMAL(38,0)/int128
    * (Σv² overflows int64 at ~$50M-days); γ, √6/π and the two Gumbel
    * quantiles y_T are Scala-computed literals interpolated into BOTH
    * engines (the q_adstock λᵏ protocol), so μ/β/levels are the same
    * few mirrored double ops. Single row out; the month grain is
    * time-range-bounded. */
  private val gumbel: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val kBeta = math.sqrt(6.0) / math.Pi
    val gamma = 0.5772156649
    val y12 = -math.log(-math.log(1.0 - 1.0 / 12.0))
    val y120 = -math.log(-math.log(1.0 - 1.0 / 120.0))
    val monthly = OrdersDaily.cents(s, d)
      .groupBy(trunc(col("day"), "month").as("mth"))
      .agg(max("v").as("mx"))
    val a = monthly.agg(count(lit(1)).as("n"),
      sum(col("mx").cast(dec)).as("sv"),
      sum(col("mx").cast(dec) * col("mx")).as("svv"),
      max("mx").as("peak"))
    val mean = col("sv").cast("double") / col("n")
    val sd = sqrt((col("n").cast(dec) * col("svv") -
      col("sv") * col("sv")).cast("double") /
      (col("n").cast("double") * (col("n") - 1)))
    val beta = sd * lit(kBeta)
    val mu = mean - lit(gamma) * (sd * lit(kBeta))
    a.select(col("n").as("n_months"),
      round(col("peak") / lit(100.0), 2).as("peak_usd"),
      round(beta / lit(100.0), 2).as("beta_usd"),
      round(mu / lit(100.0), 2).as("mu_usd"),
      round((mu + (sd * lit(kBeta)) * lit(y12)) / lit(100.0), 2)
        .as("rl12_usd"),
      round((mu + (sd * lit(kBeta)) * lit(y120)) / lit(100.0), 2)
        .as("rl120_usd"))
  }

  /** Inter-arrival profile per event type — the burstiness read behind
    * rate limiting, anomaly baselines, and session design: consecutive
    * same-user gaps in EXACT microseconds (lag over the per-user event
    * sequence, classified by the later event's type), then per type
    * the mean gap, dispersion, coefficient of variation, and the
    * Goh–Barabási burstiness B = (σ−μ)/(σ+μ) (−1 metronome, 0 Poisson,
    * →1 bursty). Moment sums accumulate in DECIMAL(38,0)/int128 (Σg
    * alone can pass 2⁶³ at corpus scale); μ and σ are mirrored double
    * expressions at emission. The per-user window partitions on
    * user_id — bounded by a user's activity span, not corpus size. */
  private val interarrival: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, d)
      .withColumn("pts", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("pts").isNotNull)
      .select(col("event_type"),
        (unix_micros(col("ts")) - col("pts")).as("g"))
    val agged = gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g").cast(dec)).as("sg"),
        sum(col("g").cast(dec) * col("g")).as("sgg"))
    val meanUs = col("sg").cast("double") / col("n_gaps")
    val sdUs = sqrt((col("n_gaps").cast(dec) * col("sgg") -
      col("sg") * col("sg")).cast("double") /
      (col("n_gaps").cast("double") * (col("n_gaps") - 1)))
    agged.select(col("event_type"), col("n_gaps"),
      round(meanUs / lit(1000000.0), 3).as("mean_s"),
      round(sdUs / lit(1000000.0), 3).as("sd_s"),
      round(sdUs / meanUs, 4).as("cv"),
      round((sdUs - meanUs) / (sdUs + meanUs), 4).as("burstiness"))
      .orderBy("event_type")
  }

  /** Truncated geometric adstock (λ=0.7, 14-day carryover) of daily
    * revenue — the marketing-mix transform that models lingering
    * campaign effect: adstockₜ = Σ_{k<14} λᵏ·vₜ₋ₖ. The recursion is
    * unrolled into a FIXED 14-term expression chain evaluated strictly
    * left-to-right (a fold, not an aggregate — float association order
    * is pinned by the expression tree, and the λᵏ literals are
    * computed once in Scala and interpolated into the oracle so both
    * engines multiply identical doubles). Only days with a full
    * 14-day history emit (no partial-window bias). Day-grid windows
    * throughout. */
  private val adstockLambdas: IndexedSeq[Double] =
    (0 until 14).map(k => math.pow(0.7, k))

  private val adstock: Q = (s, d) => {
    val daily = OrdersDaily.cents(s, d)
    val w = Window.orderBy("day")
    val terms = adstockLambdas.zipWithIndex.map { case (l, k) =>
      lit(l) * lag(col("v"), k).over(w)
    }
    daily
      .withColumn("ad", terms.reduceLeft(_ + _))
      .withColumn("l13", lag(col("v"), 13).over(w))
      .filter(col("l13").isNotNull)
      .select(col("day"),
        round(col("v") / lit(100.0), 2).as("rev_usd"),
        round(col("ad") / lit(100.0), 4).as("adstock_usd"))
      .orderBy("day")
  }

  /** Simple-exponential-smoothing level (α = 0.3) of daily revenue —
    * the one-parameter forecast baseline every horizon comparison
    * starts from (the h-step SES forecast is flat at this level).
    * The recursion l_t = α·y_t + (1−α)·l_{t−1} with l_1 = y_1 unrolls
    * to the closed weighted sum l_n = Σ_{t≥2} α(1−α)^{n−t}·y_t +
    * (1−α)^{n−1}·y_1, so the level is ONE map-side aggregate over the
    * calendar-bounded day grid instead of a 2 399-step sequential
    * fold — the same unrolling that makes SES distributable at 100 TB
    * (per-key levels become one weighted groupBy, no per-key
    * iteration). Weights decay below the output's rounding grain
    * after ~120 days (0.7^120 ≈ 2.6e-19, far under the 1e-4 grain;
    * true underflow to 0.0 only past ~2000 days), so the sum is
    * effectively recency-bounded and cross-engine safe;
    * each term is a mirrored double expression and the cross-engine
    * addition-order drift (~1e-9 absolute) sits far under the 1e-4
    * rounding grain. */
  private val sesForecast: Q = (s, d) => {
    val alpha = 0.3
    val term = (col("v") / lit(100.0)) *
      when(col("rk") === 1, pow(lit(1 - alpha), col("n") - 1))
        .otherwise(lit(alpha) * pow(lit(1 - alpha), col("n") - col("rk")))
    OrdersDaily.indexed(s, d)
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .select(col("n"), term.as("term"))
      .agg(max("n").as("n_days"),
        round(sum("term"), 4).as("ses_level_usd"))
      .select(col("n_days"), lit(alpha).as("alpha"),
        col("ses_level_usd"))
  }

  /** Holt–Winters additive triple smoothing (α=0.3, β=0.1, γ=0.2,
    * period m=7) of daily revenue — the level+trend+seasonality step
    * up from [[sesForecast]] every demand-planning pipeline reaches
    * for next. Recursions over the observed-day grid index
    * (t = row_number over day; "weekly" seasonality reads literally
    * only where the grid is calendar-dense, which it is at sf0.01+):
    *   l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(y_t − l_t) + (1−γ)s_{t−m}
    * with the classic init l_m = mean(y_{1..m}), b_m =
    * (mean(y_{m+1..2m}) − mean(y_{1..m}))/m, s_i = y_i − l_m.
    *
    * Cross-engine exactness — the q_quantile_reg iterative protocol
    * applied to a SEQUENTIAL fold: every state component (l, b, each
    * seasonal index) is quantized to the 1e-6 grain at every step
    * boundary via the mirrored floor construction [[hwRnd]] (NOT the
    * engine round() — see hwRnd's midpoint note), so no unquantized
    * float ever crosses a step and the 2 399-step trajectory is
    * replayed exactly by the oracle's recursive CTE (which computes
    * the SAME quantized l_t once per row and derives b_t/s_t from it).
    * The seed sums are explicit left-associated 7-term additions in
    * both engines — never an engine sum() whose order is free.
    *
    * Scale shape: the fold is Spark's `aggregate` HOF over ONE
    * array-collected row — the grid is the calendar-bounded ≤2 399-day
    * relation (SF-invariant, the OrdersDaily contract), so the single
    * task is O(grid), never O(orders). At 100 TB the same shape holds
    * PER KEY: groupBy(sku).agg(sort_array(collect_list(...)))
    * distributes the per-key folds across the cluster — sequential
    * smoothing parallelizes over series, not within one, which is why
    * the state is bounded by the calendar and not the corpus. */
  // Holt–Winters fold machinery, shared by the global [[holtWinters]]
  // and the per-key [[holtWintersGrouped]] forms — the SAME rounded
  // step expressions, so the two can never drift apart.
  //
  // Step rounding is the mirrored IEEE construction
  // floor(x·1e6 + 0.5)/1e6, NOT the engine round(x, 6) (round 16):
  // library rounding differs AT DOUBLE-REPRESENTATION MIDPOINTS —
  // Spark rounds the double's shortest decimal repr HALF_UP, DuckDB
  // rounds the scaled double half-away-from-zero — and over
  // 25 keys × ~550 rounded steps the grouped form hit those midpoints
  // (11 of 25 nations drifted in the 1e-6 digit; the single global
  // series had been passing on luck). floor of bit-identical doubles
  // is bit-identical in every IEEE engine, so the trajectory replay is
  // exact by construction, not by rounding-mode coincidence.
  private[queries] def hwRnd(x: String): String =
    s"(floor(($x) * 1000000.0D + 0.5D) / 1000000.0D)"
  private[queries] def hwRnd4(x: String): String =
    s"(floor(($x) * 10000.0D + 0.5D) / 10000.0D)"
  // the identical construction in DuckDB spelling (float literals have
  // no D suffix there); floor of bit-identical doubles is engine-free
  private[queries] def duckRnd(x: String): String =
    s"(floor(($x) * 1000000.0 + 0.5) / 1000000.0)"
  private[queries] def duckRnd4(x: String): String =
    s"(floor(($x) * 10000.0 + 0.5) / 10000.0)"
  // lnew appears once as 'l' and twice more inside b/s updates — the
  // repeats are the IDENTICAL expression, so every occurrence yields
  // the same double (the oracle computes it once per row; same math)
  private val hwLnew = hwRnd(
    "0.3D * (y - element_at(acc.s, 1)) + 0.7D * (acc.l + acc.b)")
  private val hwFold =
    s"""aggregate(
         slice(ys, 8, size(ys) - 7),
         named_struct(
           'l', l0, 'b', b0,
           's', transform(slice(ys, 1, 7), x -> ${hwRnd("x - l0")})),
         (acc, y) -> named_struct(
           'l', $hwLnew,
           'b', ${hwRnd(s"0.1D * ($hwLnew - acc.l) + 0.9D * acc.b")},
           's', concat(slice(acc.s, 2, 6),
                  array(${hwRnd(s"0.2D * (y - $hwLnew)" +
                    " + 0.8D * element_at(acc.s, 1)")}))))"""
  private val hwSum7a =
    (1 to 7).map(i => s"element_at(ys, $i)").mkString(" + ")
  private val hwSum7b =
    (8 to 14).map(i => s"element_at(ys, $i)").mkString(" + ")

  private val holtWinters: Q = (s, d) => {
    val fold = hwFold
    val sum7a = hwSum7a
    val sum7b = hwSum7b
    OrdersDaily.indexed(s, d)
      .select(col("rk"), (col("v") / lit(100.0)).as("y"))
      .agg(sort_array(collect_list(struct(col("rk"), col("y")))).as("a"),
        count(lit(1)).as("n"))
      .select(col("n"), expr("transform(a, x -> x.y)").as("ys"))
      // loud precondition (advisor, round 15): the init needs two full
      // seasonal periods — on a <14-day grid the slice/element_at
      // below would fail opaquely (or emit NULLs under non-ANSI). The
      // guard rides INSIDE l0 (a consumed column) so column pruning
      // cannot drop it; raise_error's NullType coerces into the CASE.
      .select(col("n"), col("ys"),
        expr(s"""CASE WHEN n < 14
                 THEN raise_error('holtWinters needs >= 2*m = 14 grid days')
                 ELSE ${hwRnd(s"($sum7a) / 7.0D")} END""").as("l0"),
        expr(hwRnd(s"(($sum7b) - ($sum7a)) / 49.0D")).as("b0"))
      .select(col("n"), expr(fold).as("hw"))
      // emission uses the same mirrored floor construction at the 1e-4
      // grain (an engine round(state_6dec, 4) re-creates the midpoint
      // class the fold just eliminated)
      .select(col("n").as("n_days"),
        lit(0.3).as("alpha"), lit(0.1).as("beta"), lit(0.2).as("gamma"),
        expr(hwRnd4("hw.l")).as("level_usd"),
        expr(hwRnd4("hw.b")).as("trend_usd"),
        expr(hwRnd4("hw.l + hw.b + element_at(hw.s, 1)")).as("fc_1d_usd"),
        expr(hwRnd4("hw.l + 7.0D * hw.b + element_at(hw.s, 7)"))
          .as("fc_7d_usd"))
  }

  /** PER-KEY Holt–Winters — [[holtWinters]]'s smoothing distributed
    * over nations (round-15 verdict #3: the scale claim "the same
    * shape holds PER KEY" turned into a query). Per-nation daily
    * revenue (orders ⋈ broadcast customer dim), then ONE
    * groupBy(nation) collects each key's calendar-bounded day grid
    * and the SAME rounded fold ([[hwFold]] — shared strings, the two
    * forms cannot drift) runs once per key. This is exactly how
    * sequential smoothing scales on a cluster: parallel over SERIES
    * (one task per key group, state O(days-per-key), never O(orders)),
    * not within one series — at 100 TB the nation key becomes
    * SKU/store and the shape is unchanged. Keys with fewer than two
    * seasonal periods (n < 14) are SKIPPED, not errors — the grouped
    * contract (a sparse key is normal data here, unlike the global
    * form's single mandatory series, which keeps its loud guard). */
  private val holtWintersGrouped: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
    daily
      .select(col("nation"), col("day"), (col("v") / lit(100.0)).as("y"))
      .groupBy("nation")
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("a"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 14)
      .select(col("nation"), col("n"),
        expr("transform(a, x -> x.y)").as("ys"))
      .select(col("nation"), col("n"), col("ys"),
        expr(hwRnd(s"($hwSum7a) / 7.0D")).as("l0"),
        expr(hwRnd(s"(($hwSum7b) - ($hwSum7a)) / 49.0D")).as("b0"))
      .select(col("nation"), col("n"), expr(hwFold).as("hw"))
      // l/b emit as raw floor-6 state; the forecast sums re-round with
      // the same mirrored floor construction (see hwRnd's midpoint
      // note — engine round() must never touch a state value)
      .select(col("nation"), col("n").as("n_days"),
        expr("hw.l").as("level_usd"),
        expr("hw.b").as("trend_usd"),
        expr(hwRnd("hw.l + hw.b + element_at(hw.s, 1)")).as("fc_1d_usd"),
        expr(hwRnd("hw.l + 7.0D * hw.b + element_at(hw.s, 7)"))
          .as("fc_7d_usd"))
      .orderBy("nation")
  }

  /** Rescaled-range (R/S) spectrum of daily revenue — the Hurst/
    * long-memory diagnostic beside [[haar]] (the wavelet spectrum asks
    * which scale carries VARIANCE; R/S asks whether deviations at a
    * scale are trend-reinforcing or mean-reverting). For each dyadic
    * block size m ∈ {64,128,256,512} over the first 2048 grid days:
    * the block's cumulative deviation, scaled by m, is the EXACT
    * integer m·cumₖ − k·Σv (no division inside the scan), its range
    * and the int128 moment term m·Σv² − (Σv)² feed ONE mirrored
    * division + sqrt per block, micro-rounded to 1e-6 before the
    * per-size average. Scale shape: the 4-way explode keeps every
    * window PARTITIONED BY (m, block) — partitions of ≤512 rows, fully
    * parallel, nothing data-sized in one task. */
  private val hurstRs: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val grid = OrdersDaily.indexed(s, d).filter(col("rk") <= 2048)
      .select(col("rk").as("i"), col("v"))
      .withColumn("m", explode(array(lit(64), lit(128), lit(256), lit(512))))
      .withColumn("block", expr("(i - 1) DIV m"))
      .withColumn("k", expr("(i - 1) % m + 1"))
    val wCum = Window.partitionBy("m", "block").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("m", "block")
    val scored = grid
      .withColumn("cum", sum("v").over(wCum))
      .withColumn("sm", sum("v").over(wAll))
      .withColumn("dd", col("cum").cast(dec) * col("m")
        - col("sm").cast(dec) * col("k"))
    val blocks = scored.groupBy("m", "block")
      .agg(count(lit(1)).as("bn"), max("dd").as("maxd"),
        min("dd").as("mind"),
        sum("v").as("bs"), sum(col("v").cast(dec) * col("v")).as("ssq"))
      // complete blocks only: a ragged tail block's m-scaled cumdev
      // would mix the nominal m with a shorter actual length (no-op
      // at sf0.01+, where the 2048-day grid divides every m exactly)
      .filter(col("bn") === col("m"))
      .withColumn("den", col("ssq").cast(dec) * col("m")
        - col("bs").cast(dec) * col("bs"))
      .filter(col("den") > 0)
      .withColumn("rs_q6", round(lit(1000000.0)
        * (greatest(col("maxd"), lit(0).cast(dec))
          - least(col("mind"), lit(0).cast(dec))).cast("double")
        / sqrt(col("den").cast("double"))).cast("long"))
    blocks.groupBy("m")
      .agg(count(lit(1)).as("n_blocks"),
        round(sum("rs_q6").cast("double")
          / (count(lit(1)) * lit(1000000.0)), 6).as("mean_rs"))
      .orderBy("m")
  }

  /** Cross-correlation function between daily ORDER COUNT and daily
    * REVENUE at lags −7…+7 — the lead/lag diagnostic beside the
    * univariate [[acf]] (does volume lead value, or do they move
    * together?). Each lag pairs the day grid with itself via one
    * equi-join on the [[OrdersDaily.indexed]] day index (shifted by
    * the exploded lag — a shuffle join, never a window shift), and
    * each Pearson r comes from six exact int128 moment sums with the
    * two mirrored sqrts + division at emission. Output is 15 rows
    * regardless of SF. */
  private val ccf: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val ix = OrdersDaily.indexed(s, d)
    val a = ix.select(col("rk"), col("cnt"))
      .withColumn("lag", explode(sequence(lit(-7), lit(7))))
      .withColumn("rk2", col("rk") + col("lag"))
    val b = ix.select(col("rk").as("rk2"), col("v"))
    val g = a.join(b, "rk2").groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cnt").cast(dec)).as("sx"),
        sum(col("v").cast(dec)).as("sy"),
        sum(col("cnt").cast(dec) * col("cnt")).as("sxx"),
        sum(col("v").cast(dec) * col("v")).as("syy"),
        sum(col("cnt").cast(dec) * col("v")).as("sxy"))
    g.select(col("lag"), col("n_pairs"),
      round((col("n_pairs").cast(dec) * col("sxy") - col("sx") * col("sy"))
        .cast("double") /
        (sqrt((col("n_pairs").cast(dec) * col("sxx") - col("sx") * col("sx"))
          .cast("double")) *
          sqrt((col("n_pairs").cast(dec) * col("syy") - col("sy") * col("sy"))
            .cast("double"))), 6).as("r"))
      .orderBy("lag")
  }

  /** Lag-1 Granger causality: does yesterday's ORDER COUNT explain
    * today's REVENUE beyond yesterday's revenue itself? ([[ccf]] reads
    * the raw lead/lag correlation; Granger asks whether the lead
    * SURVIVES conditioning on the series' own history.) Both OLS fits
    * (unrestricted y ~ 1 + y₋₁ + x₋₁, restricted y ~ 1 + y₋₁) are
    * solved in closed form by Cramer's rule over ten exact int128
    * moment sums from ONE pass over the index-joined day grid; every
    * determinant/RSS/F expression is written with the identical
    * lexical shape in both engines (double products of exact-integer
    * casts — deterministic IEEE ops, nothing associativity-
    * dependent). F crit 3.842 = F(1,∞) at α=0.05. */
  private val granger: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val ix = OrdersDaily.indexed(s, d)
    val cur = ix.select(col("rk"), col("v").as("y"))
    val prev = ix.select((col("rk") + 1).as("rk"),
      col("v").as("yl"), col("cnt").as("xl"))
    val a = cur.join(prev, "rk").agg(count(lit(1)).as("n"),
      sum(col("y").cast(dec)).as("sy"),
      sum(col("yl").cast(dec)).as("syl"),
      sum(col("xl").cast(dec)).as("sxl"),
      sum(col("y").cast(dec) * col("y")).as("syy"),
      sum(col("yl").cast(dec) * col("yl")).as("syl2"),
      sum(col("xl").cast(dec) * col("xl")).as("sxl2"),
      sum(col("yl").cast(dec) * col("xl")).as("sylxl"),
      sum(col("y").cast(dec) * col("yl")).as("syyl"),
      sum(col("y").cast(dec) * col("xl")).as("syxl"))
    def D(c: String) = col(c).cast("double")
    val (n, sy, syl, sxl) = (D("n"), D("sy"), D("syl"), D("sxl"))
    val (syy, syl2, sxl2) = (D("syy"), D("syl2"), D("sxl2"))
    val (sylxl, syyl, syxl) = (D("sylxl"), D("syyl"), D("syxl"))
    val det = n * (syl2 * sxl2 - sylxl * sylxl) -
      syl * (syl * sxl2 - sylxl * sxl) +
      sxl * (syl * sylxl - syl2 * sxl)
    val b0 = (sy * (syl2 * sxl2 - sylxl * sylxl) -
      syl * (syyl * sxl2 - sylxl * syxl) +
      sxl * (syyl * sylxl - syl2 * syxl)) / det
    val b1 = (n * (syyl * sxl2 - sylxl * syxl) -
      sy * (syl * sxl2 - sylxl * sxl) +
      sxl * (syl * syxl - syyl * sxl)) / det
    val b2 = (n * (syl2 * syxl - syyl * sylxl) -
      syl * (syl * syxl - syyl * sxl) +
      sy * (syl * sylxl - syl2 * sxl)) / det
    val rssU = syy - (b0 * sy + b1 * syyl + b2 * syxl)
    val detr = n * syl2 - syl * syl
    val b0r = (sy * syl2 - syl * syyl) / detr
    val b1r = (n * syyl - syl * sy) / detr
    val rssR = syy - (b0r * sy + b1r * syyl)
    val f = (rssR - rssU) / (rssU / (col("n") - 3))
    a.select(col("n").as("n_pairs"),
      round(b1, 6).as("b_y_lag"),
      round(b2, 6).as("b_x_lag"),
      round(f, 4).as("f_stat"),
      (f > lit(3.842)).as("x_causes_y"))
  }

  /** Engle–Granger two-step cointegration between daily revenue and
    * daily order count — the "do these series share a long-run
    * equilibrium" test that completes the bivariate family ([[ccf]]
    * reads co-movement, [[granger]] short-run lead/lag; EG asks
    * whether a LEVEL relationship y = β₀ + β₁x has stationary
    * residuals, i.e. deviations mean-revert). Step 1: the cointegrating
    * OLS y ~ 1 + x in closed form over five exact int128 moment sums;
    * residuals micro-rounded to integer cents. Step 2: Dickey–Fuller
    * on the residual series — Δe_t = γ·e_{t−1} + u (no drift: OLS
    * residuals are mean-zero by construction) — where γ̂, its t, and
    * the RSS all collapse to THREE exact int128 sums (Σe²ₗ, Σeₗ·Δe,
    * ΣΔe²) with the divisions/sqrt at emission. t is compared to the
    * Engle–Granger 5% critical value −3.37 (2 variables, no trend;
    * MacKinnon 1991) — NOT the plain DF table, because step 1's fit
    * biases t downward. Day-grid bounded; the 1-row fit rides a
    * reviewed broadcast. */
  private val engleGranger: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val base = OrdersDaily.indexed(s, d)
      .select(col("rk"), col("cnt"), col("v"))
    val fit = base.agg(count(lit(1)).as("n"),
      sum(col("cnt").cast(dec)).as("sx"),
      sum(col("v").cast(dec)).as("sy"),
      sum(col("cnt").cast(dec) * col("cnt")).as("sxx"),
      sum(col("cnt").cast(dec) * col("v")).as("sxy"))
    val resid = base.crossJoin(broadcast(fit))
      .withColumn("b1",
        (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast("double"))
      .withColumn("b0",
        (col("sy").cast("double") - col("b1") * col("sx").cast("double"))
          / col("n"))
      .select(col("rk"), col("n"), col("b1"),
        round(col("v") - (col("b0") + col("b1") * col("cnt")))
          .cast("long").as("e"))
    val cur = resid.select(col("rk"), col("n"), col("b1"), col("e"))
    val prev = resid.select((col("rk") + 1).as("rk"), col("e").as("el"))
    val p = cur.join(prev, "rk")
      .select(col("n"), col("b1"), col("el"),
        (col("e") - col("el")).as("de"))
      .groupBy("n", "b1")
      .agg(count(lit(1)).as("m"),
        sum(col("el").cast(dec) * col("el")).as("sll"),
        sum(col("el").cast(dec) * col("de")).as("sld"),
        sum(col("de").cast(dec) * col("de")).as("sdd"))
    val gam = col("sld").cast("double") / col("sll").cast("double")
    val rss = col("sdd").cast("double") -
      col("sld").cast("double") * col("sld").cast("double") /
        col("sll").cast("double")
    val tStat = gam /
      sqrt(rss / (col("m") - 1) / col("sll").cast("double"))
    p.select(col("n").as("n_days"), col("m").as("n_pairs"),
      round(col("b1"), 6).as("hedge_ratio"),
      round(gam, 6).as("gamma"),
      round(tStat, 4).as("adf_t"),
      (tStat < lit(-3.37)).as("cointegrated"))
  }

  /** Dickey–Fuller unit-root test WITH DRIFT on daily revenue levels —
    * the stationarity read that precedes any ARMA/trend modeling
    * ([[engleGranger]] runs the no-drift form on RESIDUALS; this asks
    * whether the level series itself mean-reverts or random-walks):
    * Δy_t = a + γ·y_{t−1} + u, H₀ γ = 0 (unit root). γ̂, its SE, and
    * the t all collapse to the centered closed forms of six exact
    * int128 moment sums over the lag-paired day grid (one pass);
    * every emission expression is a mirrored double. 5% critical with
    * drift −2.86 (MacKinnon); t below it ⇒ stationary. */
  private val adfDrift: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val ix = OrdersDaily.indexed(s, d)
    val cur = ix.select(col("rk"), col("v"))
    val prev = ix.select((col("rk") + 1).as("rk"), col("v").as("yl"))
    val st = cur.join(prev, "rk")
      .select(col("yl"), (col("v") - col("yl")).as("dy"))
      .agg(count(lit(1)).as("n"),
        sum(col("yl").cast(dec)).as("sl"),
        sum(col("dy").cast(dec)).as("sd"),
        sum(col("yl").cast(dec) * col("yl")).as("sll"),
        sum(col("yl").cast(dec) * col("dy")).as("sld"),
        sum(col("dy").cast(dec) * col("dy")).as("sdd"))
    val sxxC = (col("n").cast(dec) * col("sll") - col("sl") * col("sl"))
      .cast("double")
    val sxyC = (col("n").cast(dec) * col("sld") - col("sl") * col("sd"))
      .cast("double")
    val syyC = (col("n").cast(dec) * col("sdd") - col("sd") * col("sd"))
      .cast("double")
    val gam = sxyC / sxxC
    val rss = (syyC - gam * sxyC) / col("n")
    val tStat = gam / sqrt(rss / (col("n") - 2) / (sxxC / col("n")))
    st.select(col("n").as("n_pairs"),
      round(gam, 6).as("gamma"),
      round(tStat, 4).as("adf_t"),
      (tStat < lit(-2.86)).as("stationary"))
  }

  /** Durbin–Watson autocorrelation test on AR(1) revenue residuals —
    * the regression-diagnostic twin of [[acf]] (ACF reads the raw
    * series; DW asks whether serial correlation SURVIVES the lag-1
    * fit, the read that decides if OLS standard errors can be
    * trusted). The AR(1) fit is the same 2×2 Cramer closed form as
    * [[granger]]'s restricted model; residuals are micro-rounded to
    * integer cents BEFORE squaring (one mirrored double each, then
    * exact int128 sums — float association can never move DW);
    * DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² is one mirrored division at emission. The
    * 1-row fit rides a reviewed broadcast onto the day grid. */
  private val durbinWatson: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val ix = OrdersDaily.indexed(s, d)
    val cur = ix.select(col("rk"), col("v").as("y"))
    val prev = ix.select((col("rk") + 1).as("rk"), col("v").as("yl"))
    // persisted: the lag self-join grid feeds BOTH the AR(1) fit and
    // the residual projection, and the residual frame below feeds
    // three consumers — unpersisted, each replays the self-join's
    // shuffle (without both persists the query took 2x as long at
    // sf0.1 on 4 cores: 0.30-0.33 s -> 0.61-0.64 s, min of 5)
    val pairs = CacheRegistry.register(cur.join(prev, "rk").persist())
    val fit = pairs.agg(count(lit(1)).as("n"),
      sum(col("y").cast(dec)).as("sy"),
      sum(col("yl").cast(dec)).as("syl"),
      sum(col("yl").cast(dec) * col("yl")).as("syl2"),
      sum(col("y").cast(dec) * col("yl")).as("syyl"))
      .select(col("n"),
        ((col("sy").cast("double") * col("syl2").cast("double") -
          col("syl").cast("double") * col("syyl").cast("double")) /
          (col("n").cast("double") * col("syl2").cast("double") -
            col("syl").cast("double") * col("syl").cast("double")))
          .as("b0"),
        ((col("n").cast("double") * col("syyl").cast("double") -
          col("syl").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("syl2").cast("double") -
            col("syl").cast("double") * col("syl").cast("double")))
          .as("b1"))
    val e = CacheRegistry.register(pairs.crossJoin(broadcast(fit))
      .select(col("rk"),
        round(col("y") - (col("b0") + col("b1") * col("yl")))
          .cast("long").as("e")).persist())
    val se2 = e.agg(count(lit(1)).as("n_resid"),
      sum(col("e").cast(dec) * col("e")).as("se2"))
    val el = e.select((col("rk") + 1).as("rk"), col("e").as("ep"))
    val sd2 = e.join(el, "rk")
      .agg(sum((col("e").cast(dec) - col("ep"))
        * (col("e").cast(dec) - col("ep"))).as("sd2"))
    se2.crossJoin(broadcast(sd2))
      .select(col("n_resid"),
        round(col("sd2").cast("double") / col("se2").cast("double"), 4)
          .as("dw"),
        round(lit(1.0) - col("sd2").cast("double")
          / col("se2").cast("double") / lit(2.0), 4).as("rho_hat"))
  }

  /** 30-day rolling correlation between daily order count and daily
    * revenue — the time-varying twin of [[ccf]]'s single global
    * number (a regime change shows up as the rolling r decoupling
    * long before the global statistic moves). All six frame sums are
    * exact integer/int128 window aggregates over the bounded
    * calendar-day grid (the q_rolling_slope class); each day's r is
    * the same mirrored Pearson emission as [[ccf]]. Emitted from the
    * 30th day on (full frames only). */
  private val rollingCorr: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = OrdersDaily.withCnt(s, d)
    val w30 = Window.orderBy("day").rowsBetween(-29, 0)
    val rolled = daily
      .withColumn("n", count(lit(1)).over(w30))
      .withColumn("sx", sum("cnt").over(w30))
      .withColumn("sy", sum("v").over(w30))
      .withColumn("sxx", sum(col("cnt").cast(dec) * col("cnt")).over(w30))
      .withColumn("syy", sum(col("v").cast(dec) * col("v")).over(w30))
      .withColumn("sxy", sum(col("cnt").cast(dec) * col("v")).over(w30))
      .filter(col("n") === 30)
    rolled.select(col("day"),
      round((col("n").cast(dec) * col("sxy")
        - col("sx").cast(dec) * col("sy")).cast("double") /
        (sqrt((col("n").cast(dec) * col("sxx")
          - col("sx").cast(dec) * col("sx")).cast("double")) *
          sqrt((col("n").cast(dec) * col("syy")
            - col("sy").cast(dec) * col("sy")).cast("double"))), 6)
        .as("r30"))
      .orderBy("day")
  }

  /** Maximum drawdown of the mean-detrended cumulative revenue path —
    * [[cusum]]'s path read the way a trader reads an equity curve:
    * the deepest peak-to-trough fall and the longest underwater spell
    * quantify HOW BAD and HOW LONG a demand slump ran, where CUSUM's
    * argmax only says where the single worst day was. The path is the
    * scaled exact form n·cum_k − k·Σv (the q_grubbs no-division
    * trick), so path, running peak, drawdown, the argmax trough (min
    * day among ties) and the island-merged underwater runs are ALL
    * exact integer arithmetic; the only float op is the final USD
    * emission. Every window runs on the bounded ~2.4k-row calendar
    * grid (the q_rolling_corr class, allow-listed). */
  private val drawdown: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = OrdersDaily.cents(s, d)
    val tot = daily.agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val path = CacheRegistry.register(daily.crossJoin(broadcast(tot))
      .withColumn("k", count(lit(1)).over(wCum))
      .withColumn("cum", sum("v").over(wCum))
      .withColumn("path", col("n").cast(dec) * col("cum")
        - col("k").cast(dec) * col("sv"))
      .withColumn("peak", max("path").over(wCum))
      .withColumn("dd", col("peak") - col("path"))
      .persist())
    val summary = path.agg(count(lit(1)).as("n_days"),
      max("dd").as("mdd"), max("n").as("nn"))
    val trough = path.crossJoin(broadcast(summary.select(col("mdd").as("m2"))))
      .filter(col("dd") === col("m2"))
      .agg(min("day").as("trough_day"))
    val uw = path.filter(col("dd") > 0)
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .groupBy((col("k") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .agg(coalesce(max("len"), lit(0L)).as("underwater_max"))
    summary.crossJoin(broadcast(trough)).crossJoin(broadcast(uw))
      .select(col("n_days"), col("trough_day"),
        round(col("mdd").cast("double") /
          (col("nn").cast("double") * lit(100.0)), 4).as("max_dd_usd"),
        col("underwater_max"))
  }

  /** Bollinger-band breakout screen on daily revenue: 20-day rolling
    * mean ± 2σ, counting the days that close outside the band — the
    * volatility-adjusted spike detector beside the fixed-threshold
    * z-score scan. The breakout test is ALGEBRAICALLY CLEARED OF
    * DIVISIONS AND SQRTS: |v − S/20| > 2σ with σ² = (20·Syy − S²)/400
    * is equivalent to (20·v − S)² > 4·(20·Syy − S²) — an exact
    * int128 comparison, so breakout counts carry no float at all;
    * the single division is the emitted fraction. Full 20-day frames
    * only; bounded calendar grid. */
  private val bollinger: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = OrdersDaily.cents(s, d)
    val w20 = Window.orderBy("day").rowsBetween(-19, 0)
    val r = daily
      .withColumn("n", count(lit(1)).over(w20))
      .withColumn("sv", sum("v").over(w20))
      .withColumn("svv", sum(col("v").cast(dec) * col("v")).over(w20))
      .filter(col("n") === 20)
      .withColumn("dev", lit(20).cast(dec) * col("v") - col("sv"))
      .withColumn("var400",
        lit(20).cast(dec) * col("svv") - col("sv").cast(dec) * col("sv"))
    r.agg(count(lit(1)).as("n_days"),
        sum(when(col("dev") > 0
          && col("dev") * col("dev") > lit(4).cast(dec) * col("var400"),
          1L).otherwise(0L)).as("n_above"),
        sum(when(col("dev") < 0
          && col("dev") * col("dev") > lit(4).cast(dec) * col("var400"),
          1L).otherwise(0L)).as("n_below"))
      .select(col("n_days"), col("n_above"), col("n_below"),
        round((col("n_above") + col("n_below")).cast("double") /
          col("n_days").cast("double"), 6).as("breakout_frac"))
  }

  /** 14-day Cutler RSI regime screen on daily revenue — the
    * momentum-oscillator complement of [[bollinger]]'s band test:
    * gains/losses are exact long cents, and because Cutler's RSI is
    * the pure ratio 100·G/(G+L), the overbought (RSI ≥ 70 ⟺ 3G ≥ 7L)
    * and oversold (RSI ≤ 30 ⟺ 7G ≤ 3L) day counts are EXACT INTEGER
    * comparisons; the one division emits the final day's RSI. Full
    * 14-diff frames only; bounded calendar grid. */
  private val rsi: Q = (s, d) => {
    val daily = OrdersDaily.cents(s, d)
    val diffs = daily
      .withColumn("prev", lag("v", 1).over(Window.orderBy("day")))
      .filter(col("prev").isNotNull)
      .withColumn("g", greatest(col("v") - col("prev"), lit(0L)))
      .withColumn("l", greatest(col("prev") - col("v"), lit(0L)))
    val w14 = Window.orderBy("day").rowsBetween(-13, 0)
    val r = CacheRegistry.register(diffs
      .withColumn("n", count(lit(1)).over(w14))
      .withColumn("sg", sum("g").over(w14))
      .withColumn("sl", sum("l").over(w14))
      .filter(col("n") === 14)
      .persist())
    val counts = r.agg(count(lit(1)).as("n_days"),
      sum(when(col("sg") * 3 >= col("sl") * 7, 1L).otherwise(0L))
        .as("n_overbought"),
      sum(when(col("sg") * 7 <= col("sl") * 3, 1L).otherwise(0L))
        .as("n_oversold"),
      max("day").as("last_day"))
    val last = r.crossJoin(broadcast(counts.select(col("last_day"))))
      .filter(col("day") === col("last_day"))
      .select(round(when(col("sg") + col("sl") === 0, lit(50.0))
        .otherwise(lit(100.0) * col("sg").cast("double") /
          (col("sg") + col("sl")).cast("double")), 4).as("rsi_last"))
    counts.select("n_days", "n_overbought", "n_oversold")
      .crossJoin(broadcast(last))
  }

  /** Engle's ARCH LM test for volatility clustering in daily revenue
    * — [[ljungBox]] asks whether LEVELS autocorrelate, ARCH asks
    * whether VARIANCE does (turbulent days following turbulent days),
    * the diagnostic that decides between homoscedastic and
    * GARCH-class models. Stage 1 is [[durbinWatson]]'s AR(1) fit
    * verbatim (exact int128 moment sums); stage 2 residuals are
    * micro-rounded to integer DOLLARS — not cents — before squaring:
    * Σ(e²)² in cents⁴ approaches the 38-digit DECIMAL ceiling around
    * sf1 (Spark non-ANSI would NULL the overflow silently while the
    * DuckDB HUGEINT oracle errors — a silent gate divergence); the
    * dollar grain buys 8 digits of headroom (Σ(e²)² ≲ 1e31 at sf1,
    * in range beyond sf100) and costs under 1e-5 of R² — the
    * rounding-unit-vs-headroom trade every int128 sum here makes,
    * just one notch coarser. Stage 2 regresses e²_t on e²_{t−1} with
    * exact DECIMAL(38,0) cross-products and emits LM = n·R², R² a
    * mirrored double. χ²(1) 5% critical 3.841. */
  private val archLm: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val ix = OrdersDaily.indexed(s, d)
    val a = ix.select(col("rk"), col("v"))
    val b = ix.select((col("rk") + 1).as("rk"), col("v").as("yl"))
    // persisted for the same reason as durbinWatson's pair and
    // residual frames (0.25-0.30 s -> 0.47-0.53 s without them)
    val pairs = CacheRegistry.register(
      a.join(b, "rk").select(col("rk"), col("v").as("y"), col("yl"))
        .persist())
    val st = pairs.agg(count(lit(1)).as("n"),
      sum(col("y").cast(dec)).as("sy"),
      sum(col("yl").cast(dec)).as("syl"),
      sum(col("yl").cast(dec) * col("yl")).as("syl2"),
      sum(col("y").cast(dec) * col("yl")).as("syyl"))
    val fit = st.select(
      ((col("sy").cast("double") * col("syl2").cast("double") -
        col("syl").cast("double") * col("syyl").cast("double")) /
        (col("n").cast("double") * col("syl2").cast("double") -
          col("syl").cast("double") * col("syl").cast("double")))
        .as("b0"),
      ((col("n").cast("double") * col("syyl").cast("double") -
        col("syl").cast("double") * col("sy").cast("double")) /
        (col("n").cast("double") * col("syl2").cast("double") -
          col("syl").cast("double") * col("syl").cast("double")))
        .as("b1"))
    val e = CacheRegistry.register(pairs.crossJoin(broadcast(fit))
      .select(col("rk"),
        round((col("y") - (col("b0") + col("b1") * col("yl"))) / 100)
          .cast("long").as("e"))
      .persist())
    val e2a = e.select(col("rk"), (col("e").cast(dec) * col("e")).as("x2"))
    val e2b = e2a.select((col("rk") + 1).as("rk"), col("x2").as("xl2"))
    val lm = e2a.join(e2b, "rk")
      .agg(count(lit(1)).as("n2"),
        sum(col("xl2")).as("sx"), sum(col("x2")).as("sy2"),
        sum(col("xl2") * col("xl2")).as("sxx"),
        sum(col("x2") * col("x2")).as("syy"),
        sum(col("xl2") * col("x2")).as("sxy"))
    val num = col("n2").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy2").cast("double")
    val r2 = num * num /
      ((col("n2").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) *
        (col("n2").cast("double") * col("syy").cast("double") -
          col("sy2").cast("double") * col("sy2").cast("double")))
    lm.select(col("n2").as("n_resid"),
      round(col("n2").cast("double") * r2, 4).as("lm"),
      round(r2, 6).as("r2"),
      (col("n2").cast("double") * r2 > lit(3.841)).as("reject_homosked"))
  }

  /** Partial autocorrelation at lags 1–3 via Durbin–Levinson closed
    * forms over [[acf]]'s ρ estimates — the AR-order selector (ACF
    * tails off for AR processes; PACF CUTS OFF at the true order,
    * which is what you read to pick p). The three ρ's reuse the exact
    * acf construction; every Durbin–Levinson expression is a mirrored
    * double, rounded at emission. */
  private val pacf: Q = (s, d) => {
    val daily = OrdersDaily.dollars(s, d)
    val w = Window.orderBy("day")
    val centered = daily
      .crossJoin(broadcast(daily.agg(avg("v").as("m"))))
      .withColumn("c", col("v") - col("m"))
    val withLags = (1 to 3).foldLeft(centered) { case (df, k) =>
      df.withColumn(s"c$k", lag("c", k).over(w))
    }
    val r = withLags.agg(count(lit(1)).as("n_days"),
      (sum(col("c") * col("c1")) / sum(col("c") * col("c"))).as("r1"),
      (sum(col("c") * col("c2")) / sum(col("c") * col("c"))).as("r2"),
      (sum(col("c") * col("c3")) / sum(col("c") * col("c"))).as("r3"))
    val p2 = (col("r2") - col("r1") * col("r1")) /
      (lit(1.0) - col("r1") * col("r1"))
    val p21 = col("r1") - p2 * col("r1")
    val p3 = (col("r3") - p21 * col("r2") - p2 * col("r1")) /
      (lit(1.0) - p21 * col("r1") - p2 * col("r2"))
    r.select(col("n_days"),
      round(col("r1"), 6).as("pacf1"),
      round(p2, 6).as("pacf2"),
      round(p3, 6).as("pacf3"))
  }

  /** Shewhart c-chart on daily order counts — the SPC primitive
    * behind ops dashboards: flag days outside c̄ ± 3√c̄. The control
    * test is cleared of the sqrt exactly as [[bollinger]]'s bands:
    * |c − S/n| > 3√(S/n) ⟺ (n·c − S)² > 9·n·S — an exact int128
    * comparison, so in/out-of-control day counts carry no float; the
    * worst day is the exact-integer argmax (earliest day breaks
    * ties), and the only divisions emit c̄ and the worst day's
    * sigma-distance. */
  private val controlChart: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = OrdersDaily.withCnt(s, d)
      .select(col("day"), col("cnt").as("c"))
    val tot = daily.agg(count(lit(1)).as("n"), sum("c").as("sc"))
    val g = CacheRegistry.register(daily.crossJoin(broadcast(tot))
      .withColumn("dev", col("n").cast(dec) * col("c") - col("sc"))
      .withColumn("dev2", col("dev") * col("dev"))
      .withColumn("lim", lit(9).cast(dec) * col("n") * col("sc"))
      .persist())
    val counts = g.agg(max("n").as("n_days"), max("sc").as("n_orders"),
      sum(when(col("dev") > 0 && col("dev2") > col("lim"), 1L)
        .otherwise(0L)).as("n_ooc_high"),
      sum(when(col("dev") < 0 && col("dev2") > col("lim"), 1L)
        .otherwise(0L)).as("n_ooc_low"),
      max("dev2").as("mx"))
    val worst = g.crossJoin(broadcast(counts.select(col("mx").as("m2"))))
      .filter(col("dev2") === col("m2"))
      .orderBy("day").limit(1)
      .select(col("day").as("worst_day"), col("c").as("worst_count"))
    counts.crossJoin(broadcast(worst))
      .select(col("n_days"), col("n_ooc_high"), col("n_ooc_low"),
        round(col("n_orders").cast("double") /
          col("n_days").cast("double"), 6).as("c_bar"),
        col("worst_day"), col("worst_count"))
  }

  /** Hyndman-style seasonal-strength diagnostic over the
    * [[stlDecompose]] machinery: F_s = max(0, 1 − var(resid)/var(rr))
    * where rr is the detrended ratio and resid the ratio after the
    * month-of-year seasonal is divided out — ONE calibrated number
    * answering "is the seasonal component worth modeling?" where the
    * STL emission shows the full decomposition. Same centered-MA
    * construction, same rounded components, variances over the
    * ~72-month grid via var_pop (the q_zipf_slope emission class). */
  private val seasonalStrength: Q = (s, d) => {
    val m = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
    val w = Window.orderBy("month")
    val inner = Window.orderBy("month").rowsBetween(-5, 5)
    val detr = m
      .withColumn("num", lit(2) * sum("v").over(inner)
        + lag("v", 6).over(w) + lead("v", 6).over(w))
      .filter(col("num").isNotNull)
      .withColumn("rr",
        round(col("v") * 24 / col("num").cast("double"), 6))
      .withColumn("moy", month(col("month")))
    val seasonal = detr.groupBy("moy")
      .agg(round(avg("rr"), 6).as("seasonal"))
    detr.join(broadcast(seasonal), "moy")
      .select(col("rr"), round(col("rr") / col("seasonal"), 6).as("resid"))
      .agg(count(lit(1)).as("n_months"),
        round(var_pop(col("rr")), 6).as("var_detrended"),
        round(var_pop(col("resid")), 6).as("var_resid"),
        round(greatest(lit(0.0),
          lit(1.0) - var_pop(col("resid")) / var_pop(col("rr"))), 4)
          .as("seasonal_strength"))
  }

  val queries: Map[String, Q] = Map(
    "q_seasonal_strength" -> seasonalStrength,
    "q_arch_lm" -> archLm,
    "q_pacf" -> pacf,
    "q_control_chart" -> controlChart,
    "q_drawdown" -> drawdown,
    "q_bollinger" -> bollinger,
    "q_rsi" -> rsi,
    "q_rolling_corr" -> rollingCorr,
    "q_durbin_watson" -> durbinWatson,
    "q_granger" -> granger,
    "q_engle_granger" -> engleGranger,
    "q_adf_drift" -> adfDrift,
    "q_hurst_rs" -> hurstRs,
    "q_ccf" -> ccf,
    "q_acf" -> acf,
    "q_cusum" -> cusum,
    "q_binseg" -> binseg,
    "q_stl_decompose" -> stlDecompose,
    "q_attribution_decay" -> attributionDecay,
    "q_cohort_ltv" -> cohortLtv,
    "q_adstock" -> adstock,
    "q_ses_forecast" -> sesForecast,
    "q_holt_winters" -> holtWinters,
    "q_holt_winters_grouped" -> holtWintersGrouped,
    "q_ljung_box" -> ljungBox,
    "q_rolling_slope" -> rollingSlope,
    "q_interarrival" -> interarrival,
    "q_gumbel" -> gumbel,
    "q_markov_entropy" -> markovEntropy,
    "q_runs_test" -> runsTest,
    "q_sax" -> sax,
    "q_haar" -> haar,
    "q_rank_turnover" -> rankTurnover,
    "q_weekday_index" -> weekdayIndex,
    "q_streaks" -> streaks,
    "q_resample_fill" -> resampleFill,
    "q_anomaly_score" -> anomalyScore,
    "q_cart_abandonment" -> cartAbandonment,
    "q_new_vs_returning" -> newVsReturning,
    "q_cohort_matrix" -> cohortMatrix,
    "q_revenue_bridge" -> revenueBridge,
    "q_event_paths" -> eventPaths,
    "q_benford" -> benford,
    "q_twap" -> twap,
    "q_conversion_lag" -> conversionLag,
    "q_attribution_multi" -> attributionMulti,
    "q_scd2_merge" -> scd2Merge,
    "q_interval_coverage" -> intervalCoverage,
    "q_attribution" -> attribution,
    "q_cdc_apply" -> cdcApply,
    "q_event_transitions" -> eventTransitions,
    "q_rolling_distinct" -> rollingDistinct,
    "q_mom_growth" -> momGrowth,
  )

  val oracles: Map[String, String] = Map(
    // six exact int128 frame sums over the day grid; each day's r is
    // one mirrored Pearson emission (full 30-day frames only)
    // the q_stl_decompose construction verbatim, then two var_pop
    // terms and the mirrored strength emission
    "q_seasonal_strength" ->
      """WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE))
                            AS month,
                           sum(CAST(round(o_totalprice * 100) AS BIGINT))
                             AS v
                    FROM orders GROUP BY 1),
         d AS (SELECT month, v,
                      2 * sum(v) OVER (ORDER BY month ROWS BETWEEN
                        5 PRECEDING AND 5 FOLLOWING)
                        + lag(v, 6) OVER (ORDER BY month)
                        + lead(v, 6) OVER (ORDER BY month) AS num
               FROM m QUALIFY num IS NOT NULL),
         r AS (SELECT round((v * 24) / CAST(num AS DOUBLE), 6) AS rr,
                      month(month) AS moy
               FROM d),
         se AS (SELECT moy, round(avg(rr), 6) AS seasonal
                FROM r GROUP BY 1),
         j AS (SELECT rr, round(rr / seasonal, 6) AS resid
               FROM r JOIN se USING (moy))
         SELECT CAST(count(*) AS BIGINT) AS n_months,
                round(var_pop(rr), 6) AS var_detrended,
                round(var_pop(resid), 6) AS var_resid,
                round(greatest(0.0,
                  1.0 - var_pop(resid) / var_pop(rr)), 4)
                  AS seasonal_strength
         FROM j""",
    // stage 1 is the q_durbin_watson AR(1) replay; stage 2 squares
    // DOLLAR-rounded residuals (cents^4 nears 38 digits at sf1) and its
    // squared-residual sums are exact HUGEINTs, R²/LM mirrored doubles
    "q_arch_lm" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, v
                FROM dly),
         p AS (SELECT a.rk, a.v AS y, b.v AS yl
               FROM ix a JOIN ix b ON a.rk = b.rk + 1),
         s AS (SELECT count(*) AS n,
                      sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(yl AS HUGEINT)) AS syl,
                      sum(CAST(yl AS HUGEINT) * yl) AS syl2,
                      sum(CAST(y AS HUGEINT) * yl) AS syyl
               FROM p),
         fit AS (SELECT (CAST(sy AS DOUBLE) * CAST(syl2 AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(syyl AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(syl2 AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)) AS b0,
                        (CAST(n AS DOUBLE) * CAST(syyl AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(syl2 AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)) AS b1
                 FROM s),
         e AS (SELECT rk, CAST(round((y - (b0 + b1 * yl)) / 100)
                   AS BIGINT)
                 AS e
               FROM p, fit),
         e2 AS (SELECT rk, CAST(e AS HUGEINT) * e AS x2 FROM e),
         lp AS (SELECT a.x2, b.x2 AS xl2
                FROM e2 a JOIN e2 b ON a.rk = b.rk + 1),
         g AS (SELECT count(*) AS n2,
                      sum(xl2) AS sx, sum(x2) AS sy2,
                      sum(xl2 * xl2) AS sxx,
                      sum(x2 * x2) AS syy,
                      sum(xl2 * x2) AS sxy
               FROM lp),
         rr AS (SELECT CAST(n2 AS BIGINT) AS n2,
                  (CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy2 AS DOUBLE))
                  * (CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy2 AS DOUBLE))
                  / ((CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n2 AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE)))
                    AS r2
                FROM g)
         SELECT n2 AS n_resid,
                round(CAST(n2 AS DOUBLE) * r2, 4) AS lm,
                round(r2, 6) AS r2,
                CAST(n2 AS DOUBLE) * r2 > 3.841 AS reject_homosked
         FROM rr""",
    // the acf ρ construction verbatim for lags 1–3, then mirrored
    // Durbin–Levinson closed forms
    "q_pacf" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             round(sum(o_totalprice), 2) AS v
                      FROM orders GROUP BY 1),
         m AS (SELECT avg(v) AS m FROM dly),
         c AS (SELECT day, v - m.m AS c FROM dly, m),
         l AS (SELECT c,
                      lag(c, 1) OVER (ORDER BY day) AS c1,
                      lag(c, 2) OVER (ORDER BY day) AS c2,
                      lag(c, 3) OVER (ORDER BY day) AS c3
               FROM c),
         r AS (SELECT count(*) AS n_days,
                      sum(c * c1) / sum(c * c) AS r1,
                      sum(c * c2) / sum(c * c) AS r2,
                      sum(c * c3) / sum(c * c) AS r3
               FROM l),
         dl AS (SELECT n_days, r1, r2, r3,
                  (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
                FROM r),
         dl2 AS (SELECT n_days, r1, r2, r3, p2,
                   r1 - p2 * r1 AS p21
                 FROM dl)
         SELECT n_days,
                round(r1, 6) AS pacf1,
                round(p2, 6) AS pacf2,
                round((r3 - p21 * r2 - p2 * r1)
                  / (1.0 - p21 * r1 - p2 * r2), 6) AS pacf3
         FROM dl2""",
    // control test cleared of sqrt: (n·c − S)² > 9·n·S exact; the
    // worst day is the exact argmax with the earliest-day tie-break
    "q_control_chart" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             CAST(count(*) AS BIGINT) AS c
                      FROM orders GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(c) AS BIGINT) AS sc FROM dly),
         g AS (SELECT day, c, n, sc,
                 CAST(n AS HUGEINT) * c - sc AS dev,
                 (CAST(n AS HUGEINT) * c - sc)
                   * (CAST(n AS HUGEINT) * c - sc) AS dev2,
                 9 * CAST(n AS HUGEINT) * sc AS lim
               FROM dly, t),
         cnt AS (SELECT max(n) AS n_days, max(sc) AS n_orders,
                   CAST(sum(CASE WHEN dev > 0 AND dev2 > lim
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc_high,
                   CAST(sum(CASE WHEN dev < 0 AND dev2 > lim
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc_low,
                   max(dev2) AS mx
                 FROM g),
         w AS (SELECT day AS worst_day, c AS worst_count
               FROM g, cnt WHERE dev2 = mx
               ORDER BY day LIMIT 1)
         SELECT n_days, n_ooc_high, n_ooc_low,
                round(CAST(n_orders AS DOUBLE)
                  / CAST(n_days AS DOUBLE), 6) AS c_bar,
                worst_day, worst_count
         FROM cnt, w""",
    // the scaled n·cum − k·Σv path keeps peak/drawdown/argmax exact;
    // one mirrored division at the USD emission
    "q_drawdown" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(v) AS BIGINT) AS sv FROM dly),
         p0 AS (SELECT day,
                  CAST(count(*) OVER w AS BIGINT) AS k,
                  CAST(sum(v) OVER w AS BIGINT) AS cum, n, sv
                FROM dly, t
                WINDOW w AS (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         p1 AS (SELECT day, k, n,
                  CAST(n AS HUGEINT) * cum - CAST(k AS HUGEINT) * sv
                    AS path
                FROM p0),
         p2 AS (SELECT day, k, n, path,
                  max(path) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS peak
                FROM p1),
         p3 AS (SELECT day, k, n, peak - path AS dd FROM p2),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                      max(dd) AS mdd, max(n) AS nn FROM p3),
         tr AS (SELECT min(day) AS trough_day FROM p3, s
                WHERE dd = mdd),
         uw AS (SELECT CAST(coalesce(max(len), 0) AS BIGINT)
                  AS underwater_max
                FROM (SELECT count(*) AS len
                      FROM (SELECT k - row_number() OVER (ORDER BY day)
                              AS grp
                            FROM p3 WHERE dd > 0)
                      GROUP BY grp))
         SELECT n_days, trough_day,
                round(CAST(mdd AS DOUBLE)
                  / (CAST(nn AS DOUBLE) * 100.0), 4) AS max_dd_usd,
                underwater_max
         FROM s, tr, uw""",
    // breakout test cleared of sqrt: (20v − S)² > 4(20·Syy − S²) is
    // an exact HUGEINT comparison; one mirrored division for the frac
    "q_bollinger" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         r0 AS (SELECT day, v,
                  count(*) OVER w AS n,
                  CAST(sum(v) OVER w AS BIGINT) AS sv,
                  sum(CAST(v AS HUGEINT) * v) OVER w AS svv
                FROM dly
                WINDOW w AS (ORDER BY day
                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         r AS (SELECT 20 * CAST(v AS HUGEINT) - sv AS dev,
                      20 * svv - CAST(sv AS HUGEINT) * sv AS var400
               FROM r0 WHERE n = 20),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(CASE WHEN dev > 0 AND dev * dev > 4 * var400
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
                 CAST(sum(CASE WHEN dev < 0 AND dev * dev > 4 * var400
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_below
               FROM r)
         SELECT n_days, n_above, n_below,
                round(CAST(n_above + n_below AS DOUBLE)
                  / CAST(n_days AS DOUBLE), 6) AS breakout_frac
         FROM c""",
    // RSI thresholds cleared of division: 3G ≥ 7L / 7G ≤ 3L exact;
    // the one mirrored division emits the last day's value
    "q_rsi" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         df AS (SELECT day, v,
                  lag(v) OVER (ORDER BY day) AS prev
                FROM dly),
         gl AS (SELECT day,
                  greatest(v - prev, 0) AS g,
                  greatest(prev - v, 0) AS l
                FROM df WHERE prev IS NOT NULL),
         r AS (SELECT day,
                 count(*) OVER w AS n,
                 CAST(sum(g) OVER w AS BIGINT) AS sg,
                 CAST(sum(l) OVER w AS BIGINT) AS sl
               FROM gl
               WINDOW w AS (ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         rf AS (SELECT day, sg, sl FROM r WHERE n = 14),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(CASE WHEN sg * 3 >= sl * 7 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_overbought,
                 CAST(sum(CASE WHEN sg * 7 <= sl * 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_oversold,
                 max(day) AS last_day
               FROM rf),
         l AS (SELECT round(CASE WHEN sg + sl = 0 THEN 50.0
                        ELSE 100.0 * CAST(sg AS DOUBLE)
                          / CAST(sg + sl AS DOUBLE) END, 4) AS rsi_last
               FROM rf, c WHERE day = last_day)
         SELECT n_days, n_overbought, n_oversold, rsi_last
         FROM c, l""",
    "q_rolling_corr" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             count(*) AS cnt,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         r AS (SELECT day,
                      count(*) OVER w AS n,
                      sum(cnt) OVER w AS sx,
                      sum(v) OVER w AS sy,
                      sum(CAST(cnt AS HUGEINT) * cnt) OVER w AS sxx,
                      sum(CAST(v AS HUGEINT) * v) OVER w AS syy,
                      sum(CAST(cnt AS HUGEINT) * v) OVER w AS sxy
               FROM dly
               WINDOW w AS (ORDER BY day
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
         SELECT day,
                round(CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                    * sqrt(CAST(CAST(n AS HUGEINT) * syy
                      - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
                  AS r30
         FROM r WHERE n = 30 ORDER BY day""",
    // residuals micro-rounded to integer cents before squaring, so
    // both quadratic sums are exact int128; one mirrored division
    // centered closed forms of six exact sums; drift crit -2.86
    "q_adf_drift" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, v
                FROM dly),
         p AS (SELECT b.v AS yl, a.v - b.v AS dy
               FROM ix a JOIN ix b ON a.rk = b.rk + 1),
         st AS (SELECT count(*) AS n,
                       sum(CAST(yl AS HUGEINT)) AS sl,
                       sum(CAST(dy AS HUGEINT)) AS sd,
                       sum(CAST(yl AS HUGEINT) * yl) AS sll,
                       sum(CAST(yl AS HUGEINT) * dy) AS sld,
                       sum(CAST(dy AS HUGEINT) * dy) AS sdd
                FROM p),
         cf AS (SELECT CAST(n AS BIGINT) AS n,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(n * sll - sl * sl AS DOUBLE) AS sxxc,
                       CAST(n * sld - sl * sd AS DOUBLE) AS sxyc,
                       CAST(n * sdd - sd * sd AS DOUBLE) AS syyc
                FROM st),
         fin AS (SELECT n, nd, sxxc,
                        sxyc / sxxc AS gam,
                        (syyc - (sxyc / sxxc) * sxyc) / nd AS rss
                 FROM cf)
         SELECT n AS n_pairs,
                round(gam, 6) AS gamma,
                round(gam / sqrt(rss / (n - 2) / (sxxc / nd)), 4)
                  AS adf_t,
                (gam / sqrt(rss / (n - 2) / (sxxc / nd))) < -2.86
                  AS stationary
         FROM fin""",
    // step-1 OLS Cramer over int128 sums; residuals micro-rounded to
    // cents; step-2 DF stat from THREE exact sums; EG 5% crit -3.37
    "q_engle_granger" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             count(*) AS cnt,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, cnt, v
                FROM dly),
         fit AS (SELECT count(*) AS n,
                        sum(CAST(cnt AS HUGEINT)) AS sx,
                        sum(CAST(v AS HUGEINT)) AS sy,
                        sum(CAST(cnt AS HUGEINT) * cnt) AS sxx,
                        sum(CAST(cnt AS HUGEINT) * v) AS sxy
                 FROM ix),
         cf AS (SELECT n, sx, sy,
                       CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) AS b1
                FROM fit),
         cf2 AS (SELECT n, b1,
                        (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
                          / n AS b0
                 FROM cf),
         res AS (SELECT rk, n, b1,
                        CAST(round(v - (b0 + b1 * cnt)) AS BIGINT) AS e
                 FROM ix, cf2),
         p AS (SELECT a.n, a.b1, count(*) AS m,
                      sum(CAST(b.e AS HUGEINT) * b.e) AS sll,
                      sum(CAST(b.e AS HUGEINT) * (a.e - b.e)) AS sld,
                      sum(CAST(a.e - b.e AS HUGEINT) * (a.e - b.e))
                        AS sdd
               FROM res a JOIN res b ON a.rk = b.rk + 1
               GROUP BY 1, 2),
         fin AS (SELECT n, m, b1,
                        CAST(sld AS DOUBLE) / CAST(sll AS DOUBLE)
                          AS gam,
                        CAST(sdd AS DOUBLE)
                          - CAST(sld AS DOUBLE) * CAST(sld AS DOUBLE)
                            / CAST(sll AS DOUBLE) AS rss,
                        CAST(sll AS DOUBLE) AS slld
                 FROM p)
         SELECT n AS n_days, m AS n_pairs,
                round(b1, 6) AS hedge_ratio,
                round(gam, 6) AS gamma,
                round(gam / sqrt(rss / (m - 1) / slld), 4) AS adf_t,
                (gam / sqrt(rss / (m - 1) / slld)) < -3.37
                  AS cointegrated
         FROM fin""",
    "q_durbin_watson" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, v
                FROM dly),
         p AS (SELECT a.rk, a.v AS y, b.v AS yl
               FROM ix a JOIN ix b ON a.rk = b.rk + 1),
         s AS (SELECT count(*) AS n,
                      sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(yl AS HUGEINT)) AS syl,
                      sum(CAST(yl AS HUGEINT) * yl) AS syl2,
                      sum(CAST(y AS HUGEINT) * yl) AS syyl
               FROM p),
         fit AS (SELECT (CAST(sy AS DOUBLE) * CAST(syl2 AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(syyl AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(syl2 AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)) AS b0,
                        (CAST(n AS DOUBLE) * CAST(syyl AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(syl2 AS DOUBLE)
                    - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)) AS b1
                 FROM s),
         e AS (SELECT rk, CAST(round(y - (b0 + b1 * yl)) AS BIGINT)
                 AS e
               FROM p, fit),
         a1 AS (SELECT count(*) AS n_resid,
                       sum(CAST(e AS HUGEINT) * e) AS se2
                FROM e),
         a2 AS (SELECT sum((CAST(a.e AS HUGEINT) - b.e)
                  * (CAST(a.e AS HUGEINT) - b.e)) AS sd2
                FROM e a JOIN e b ON a.rk = b.rk + 1)
         SELECT n_resid,
                round(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE), 4)
                  AS dw,
                round(1.0 - CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE)
                  / 2.0, 4) AS rho_hat
         FROM a1, a2""",
    // both OLS fits solved by Cramer's rule over ten exact int128
    // moment sums; every determinant/RSS/F expression has the same
    // lexical shape as the Spark side (deterministic IEEE double ops)
    "q_granger" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             count(*) AS cnt,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, cnt, v
                FROM dly),
         p AS (SELECT a.v AS y, b.v AS yl, b.cnt AS xl
               FROM ix a JOIN ix b ON a.rk = b.rk + 1),
         s AS (SELECT count(*) AS n,
                      sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(yl AS HUGEINT)) AS syl,
                      sum(CAST(xl AS HUGEINT)) AS sxl,
                      sum(CAST(y AS HUGEINT) * y) AS syy,
                      sum(CAST(yl AS HUGEINT) * yl) AS syl2,
                      sum(CAST(xl AS HUGEINT) * xl) AS sxl2,
                      sum(CAST(yl AS HUGEINT) * xl) AS sylxl,
                      sum(CAST(y AS HUGEINT) * yl) AS syyl,
                      sum(CAST(y AS HUGEINT) * xl) AS syxl
               FROM p),
         dd AS (SELECT n,
                       CAST(n AS DOUBLE) AS dn,
                       CAST(sy AS DOUBLE) AS sy,
                       CAST(syl AS DOUBLE) AS syl,
                       CAST(sxl AS DOUBLE) AS sxl,
                       CAST(syy AS DOUBLE) AS syy,
                       CAST(syl2 AS DOUBLE) AS syl2,
                       CAST(sxl2 AS DOUBLE) AS sxl2,
                       CAST(sylxl AS DOUBLE) AS sylxl,
                       CAST(syyl AS DOUBLE) AS syyl,
                       CAST(syxl AS DOUBLE) AS syxl
                FROM s),
         cf AS (SELECT n, sy, syyl, syxl, syy,
                       (sy * (syl2 * sxl2 - sylxl * sylxl)
                         - syl * (syyl * sxl2 - sylxl * syxl)
                         + sxl * (syyl * sylxl - syl2 * syxl))
                       / (dn * (syl2 * sxl2 - sylxl * sylxl)
                         - syl * (syl * sxl2 - sylxl * sxl)
                         + sxl * (syl * sylxl - syl2 * sxl)) AS b0,
                       (dn * (syyl * sxl2 - sylxl * syxl)
                         - sy * (syl * sxl2 - sylxl * sxl)
                         + sxl * (syl * syxl - syyl * sxl))
                       / (dn * (syl2 * sxl2 - sylxl * sylxl)
                         - syl * (syl * sxl2 - sylxl * sxl)
                         + sxl * (syl * sylxl - syl2 * sxl)) AS b1,
                       (dn * (syl2 * syxl - syyl * sylxl)
                         - syl * (syl * syxl - syyl * sxl)
                         + sy * (syl * sylxl - syl2 * sxl))
                       / (dn * (syl2 * sxl2 - sylxl * sylxl)
                         - syl * (syl * sxl2 - sylxl * sxl)
                         + sxl * (syl * sylxl - syl2 * sxl)) AS b2,
                       (sy * syl2 - syl * syyl)
                         / (dn * syl2 - syl * syl) AS b0r,
                       (dn * syyl - syl * sy)
                         / (dn * syl2 - syl * syl) AS b1r
                FROM dd),
         rs AS (SELECT n, b1, b2,
                       syy - (b0 * sy + b1 * syyl + b2 * syxl) AS rss_u,
                       syy - (b0r * sy + b1r * syyl) AS rss_r
                FROM cf)
         SELECT n AS n_pairs,
                round(b1, 6) AS b_y_lag,
                round(b2, 6) AS b_x_lag,
                round((rss_r - rss_u) / (rss_u / (n - 3)), 4) AS f_stat,
                (rss_r - rss_u) / (rss_u / (n - 3)) > 3.842
                  AS x_causes_y
         FROM rs""",
    // scaled cumdev m*cum - k*sum stays an exact integer inside each
    // block; one mirrored division + sqrt per block, micro-rounded
    // to 1e-6 before the per-size average
    "q_hurst_rs" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS i, v
                FROM dly),
         g AS (SELECT m, (i - 1) // m AS block, (i - 1) % m + 1 AS k, v
               FROM ix CROSS JOIN
                 (SELECT unnest([64, 128, 256, 512]) AS m) ms
               WHERE i <= 2048),
         sc AS (SELECT m, block, v,
                       sum(v) OVER (PARTITION BY m, block ORDER BY k
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                         ROW) AS cum,
                       sum(v) OVER (PARTITION BY m, block) AS sm, k
                FROM g),
         b AS (SELECT m, block, count(*) AS bn,
                      max(CAST(cum AS HUGEINT) * m
                        - CAST(sm AS HUGEINT) * k) AS maxd,
                      min(CAST(cum AS HUGEINT) * m
                        - CAST(sm AS HUGEINT) * k) AS mind,
                      sum(v) AS bs,
                      sum(CAST(v AS HUGEINT) * v) AS ssq
               FROM sc GROUP BY 1, 2),
         r AS (SELECT m,
                      CAST(round(1000000.0
                        * CAST(greatest(maxd, 0) - least(mind, 0)
                          AS DOUBLE)
                        / sqrt(CAST(CAST(ssq AS HUGEINT) * m
                          - CAST(bs AS HUGEINT) * bs AS DOUBLE)))
                        AS BIGINT) AS rs_q6
               FROM b
               WHERE bn = m AND CAST(ssq AS HUGEINT) * m
                 - CAST(bs AS HUGEINT) * bs > 0)
         SELECT m, count(*) AS n_blocks,
                round(CAST(sum(rs_q6) AS DOUBLE)
                  / (count(*) * 1000000.0), 6) AS mean_rs
         FROM r GROUP BY m ORDER BY m""",
    // six exact int128 moment sums per lag from one index-shifted
    // equi-join of the day grid; two mirrored sqrts at emission
    "q_ccf" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             count(*) AS cnt,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, cnt, v
                FROM dly),
         a AS (SELECT lag, rk + lag AS rk2, cnt
               FROM ix CROSS JOIN
                 (SELECT CAST(unnest(range(-7, 8)) AS INTEGER) AS lag)
                   ls),
         p AS (SELECT a.lag, a.cnt, b.v
               FROM a JOIN ix b ON a.rk2 = b.rk),
         g AS (SELECT lag, count(*) AS n_pairs,
                      sum(CAST(cnt AS HUGEINT)) AS sx,
                      sum(CAST(v AS HUGEINT)) AS sy,
                      sum(CAST(cnt AS HUGEINT) * cnt) AS sxx,
                      sum(CAST(v AS HUGEINT) * v) AS syy,
                      sum(CAST(cnt AS HUGEINT) * v) AS sxy
               FROM p GROUP BY lag)
         SELECT lag, n_pairs,
                round(CAST(CAST(n_pairs AS HUGEINT) * sxy - sx * sy
                    AS DOUBLE)
                  / (sqrt(CAST(CAST(n_pairs AS HUGEINT) * sxx - sx * sx
                      AS DOUBLE))
                    * sqrt(CAST(CAST(n_pairs AS HUGEINT) * syy - sy * sy
                      AS DOUBLE))), 6) AS r
         FROM g ORDER BY lag""",
    "q_acf" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             round(sum(o_totalprice), 2) AS v
                      FROM orders GROUP BY 1),
         m AS (SELECT avg(v) AS m FROM dly),
         c AS (SELECT day, v - m.m AS c FROM dly, m),
         l AS (SELECT c,
                      lag(c, 1) OVER (ORDER BY day) AS c1,
                      lag(c, 2) OVER (ORDER BY day) AS c2,
                      lag(c, 3) OVER (ORDER BY day) AS c3,
                      lag(c, 4) OVER (ORDER BY day) AS c4,
                      lag(c, 5) OVER (ORDER BY day) AS c5,
                      lag(c, 6) OVER (ORDER BY day) AS c6,
                      lag(c, 7) OVER (ORDER BY day) AS c7
               FROM c)
         SELECT count(*) AS n_days,
                round(sum(c * c1) / sum(c * c), 6) AS r1,
                round(sum(c * c2) / sum(c * c), 6) AS r2,
                round(sum(c * c3) / sum(c * c), 6) AS r3,
                round(sum(c * c4) / sum(c * c), 6) AS r4,
                round(sum(c * c5) / sum(c * c), 6) AS r5,
                round(sum(c * c6) / sum(c * c), 6) AS r6,
                round(sum(c * c7) / sum(c * c), 6) AS r7
         FROM l""",
    // gaps-and-islands: date - row_number is constant along a
    // consecutive run; all exact integer/date arithmetic
    "q_streaks" ->
      """WITH days AS (SELECT DISTINCT o_custkey AS c,
                              CAST(o_orderdate AS DATE) AS day
                       FROM orders),
         isl AS (SELECT c, day,
                        row_number() OVER (PARTITION BY c
                          ORDER BY day) AS rn
                 FROM days),
         runs AS (SELECT c, day - CAST(rn AS INTEGER) AS grp,
                         count(*) AS len
                  FROM isl GROUP BY 1, 2),
         mx AS (SELECT c, CAST(max(len) AS BIGINT) AS max_streak
                FROM runs GROUP BY 1)
         SELECT max_streak, count(*) AS n_customers
         FROM mx GROUP BY 1 ORDER BY max_streak""",
    // exact-cent sums per weekday; the index is one mirrored double
    // ratio of means at emission
    "q_weekday_index" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         g AS (SELECT dayofweek(day) AS dow, count(*) AS n_days,
                      CAST(sum(v) AS BIGINT) AS rev
               FROM dly GROUP BY 1),
         tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS nt,
                        CAST(sum(rev) AS BIGINT) AS rt
                 FROM g)
         SELECT dow, n_days,
                round(rev / 100.0, 2) AS rev_usd,
                round((CAST(rev AS DOUBLE) / n_days)
                  / (CAST(rt AS DOUBLE) / nt), 6) AS idx
         FROM g, tot ORDER BY dow""",
    // per-month top-10 sets compared as exact integer set algebra;
    // one Jaccard division per emitted month
    "q_rank_turnover" ->
      """WITH mb AS (SELECT date_trunc('month', CAST(o_orderdate
                        AS DATE)) AS mth,
                            p_brand AS brand,
                            CAST(sum(CAST(round(l_extendedprice * 100)
                              AS BIGINT)) AS BIGINT) AS v
                     FROM lineitem
                     JOIN part ON l_partkey = p_partkey
                     JOIN orders ON l_orderkey = o_orderkey
                     GROUP BY 1, 2),
         tp AS (SELECT mth, brand
                FROM (SELECT mth, brand,
                             row_number() OVER (PARTITION BY mth
                               ORDER BY v DESC, brand) AS r
                      FROM mb)
                WHERE r <= 10),
         sa AS (SELECT mth, count(*) AS n_top FROM tp GROUP BY 1),
         pv AS (SELECT CAST(mth + INTERVAL 1 MONTH AS DATE) AS mth,
                       brand
                FROM tp),
         sb AS (SELECT mth, count(*) AS n_prev FROM pv GROUP BY 1),
         cm AS (SELECT tp.mth, count(*) AS nc
                FROM tp JOIN pv ON tp.mth = pv.mth
                  AND tp.brand = pv.brand
                GROUP BY 1)
         SELECT sa.mth, coalesce(nc, 0) AS n_common,
                n_top - coalesce(nc, 0) AS n_new,
                round(coalesce(nc, 0)
                  / (n_top + n_prev - coalesce(nc, 0)), 4) AS jaccard
         FROM sa JOIN sb ON sa.mth = sb.mth
         LEFT JOIN cm ON sa.mth = cm.mth
         ORDER BY sa.mth""",
    // every detail coefficient is a signed block sum of the original
    // series: 11-way unnest + one (level, block) aggregate, exact-long
    // coefficients, int128 energies; one USD^2 scaling at emission
    "q_haar" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         l0 AS (SELECT row_number() OVER (ORDER BY day) AS i, v
                FROM dly),
         b0 AS (SELECT i, v FROM l0 WHERE i <= 2048),
         x AS (SELECT CAST(level AS INTEGER) AS level,
                      (i - 1) // (1 << level) + 1 AS block,
                      CASE WHEN ((i - 1) // (1 << (level - 1))) % 2 = 0
                           THEN v ELSE -v END AS sv
               FROM b0 CROSS JOIN
                 (SELECT unnest(range(1, 12)) AS level) lv),
         g AS (SELECT level, block, CAST(sum(sv) AS BIGINT) AS d
               FROM x GROUP BY 1, 2)
         SELECT level, count(*) AS n_coeffs,
                CAST(CAST((sum(CAST(d AS HUGEINT) * d) + 5000) // 10000
                  AS BIGINT) AS DOUBLE) / 10000.0 AS energy_usd2
         FROM g GROUP BY level ORDER BY level""",
    // day-grid order statistics give the median; runs/E/Var closed
    // form from exact counts, one mirrored z
    "q_runs_test" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         rk AS (SELECT day, v, row_number() OVER (ORDER BY v, day) AS i
                FROM dly),
         nn AS (SELECT count(*) AS n FROM dly),
         med AS (SELECT (min(v) + max(v)) / 2.0 AS med
                 FROM rk, nn WHERE i = (n + 1) // 2 OR i = n // 2 + 1),
         s AS (SELECT day, CASE WHEN v > med THEN 1 ELSE 0 END AS up
               FROM dly, med WHERE v <> med),
         c AS (SELECT up,
                      CASE WHEN lag(up) OVER (ORDER BY day) IS NULL
                             THEN 1
                           WHEN up <> lag(up) OVER (ORDER BY day)
                             THEN 1
                           ELSE 0 END AS chg
               FROM s),
         a AS (SELECT CAST(sum(CASE WHEN up = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                      CAST(sum(CASE WHEN up = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n2,
                      CAST(sum(chg) AS BIGINT) AS r
               FROM c)
         SELECT n1, n2, r AS runs,
                round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                  / sqrt(2.0 * n1 * n2
                      * (2.0 * n1 * n2 - n1 - n2)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                      * (n1 + n2 - 1))), 4) AS z,
                abs((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                  / sqrt(2.0 * n1 * n2
                      * (2.0 * n1 * n2 - n1 - n2)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                      * (n1 + n2 - 1)))) > 1.96 AS reject_random
         FROM a""",
    // global z-normalization from int128 moments; explicit
    // ((i-1)*100) // n segment cut; Gaussian quartile breakpoints
    "q_sax" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         tot AS (SELECT count(*) AS n, sum(v) AS sv,
                        sum(CAST(v AS HUGEINT) * v) AS svv
                 FROM dly),
         rk AS (SELECT v, row_number() OVER (ORDER BY day) AS i
                FROM dly),
         sg AS (SELECT ((i - 1) * 100) // n + 1 AS seg, v
                FROM rk, tot),
         g AS (SELECT seg, count(*) AS n_days,
                      CAST(sum(v) AS BIGINT) AS segv
               FROM sg GROUP BY 1),
         z AS (SELECT seg, n_days,
                      (CAST(segv AS DOUBLE) / n_days
                          - CAST(sv AS DOUBLE) / n)
                        / sqrt(CAST(n * svv - sv * sv AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (n - 1))) AS zz
               FROM g, tot)
         SELECT seg, n_days, round(zz, 4) AS paa_z,
                CASE WHEN zz < -0.6745 THEN 'a'
                     WHEN zz < 0.0 THEN 'b'
                     WHEN zz < 0.6745 THEN 'c'
                     ELSE 'd' END AS symbol
         FROM z ORDER BY seg""",
    // each entropy term micro-rounded before its exact long sum over
    // the transition-cell grid; one division per emitted state
    "q_markov_entropy" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
                           lag(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
                    FROM events),
         t AS (SELECT prev, event_type AS next, count(*) AS nij
               FROM e WHERE prev IS NOT NULL GROUP BY 1, 2),
         m AS (SELECT prev, nij,
                      CAST(sum(nij) OVER (PARTITION BY prev) AS BIGINT)
                        AS ni,
                      CAST(sum(nij) OVER () AS BIGINT) AS nt
               FROM t),
         c AS (SELECT prev, ni, nt,
                      CAST(round(-1000000.0 * (nij / ni)
                        * ln(nij / ni)) AS BIGINT) AS hm,
                      CAST(round(-1000000.0 * (nij / nt)
                        * ln(nij / ni)) AS BIGINT) AS rm
               FROM m),
         g AS (SELECT prev AS state, ni, nt,
                      CAST(sum(hm) AS BIGINT) AS hms,
                      CAST(sum(rm) AS BIGINT) AS rms
               FROM c GROUP BY 1, 2, 3)
         SELECT state, ni AS n_from,
                round(ni / nt, 6) AS pi,
                round(hms / 1000000.0, 6) AS h_cond_nats,
                round(rms / 1000000.0, 6) AS rate_nats
         FROM g ORDER BY state""",
    // block maxima exact cents, moment sums int128; gamma / sqrt(6)/pi
    // / Gumbel quantiles are Scala literals shared with the engine
    "q_gumbel" -> {
      val kBeta = math.sqrt(6.0) / math.Pi
      val gamma = 0.5772156649
      val y12 = -math.log(-math.log(1.0 - 1.0 / 12.0))
      val y120 = -math.log(-math.log(1.0 - 1.0 / 120.0))
      val sd = "sqrt(CAST(n * svv - sv * sv AS DOUBLE)" +
        " / (CAST(n AS DOUBLE) * (n - 1)))"
      val mean = "CAST(sv AS DOUBLE) / n"
      s"""WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         m AS (SELECT date_trunc('month', day) AS mth, max(v) AS mx
               FROM dly GROUP BY 1),
         a AS (SELECT count(*) AS n, sum(mx) AS sv,
                      sum(CAST(mx AS HUGEINT) * mx) AS svv,
                      CAST(max(mx) AS BIGINT) AS peak
               FROM m)
         SELECT n AS n_months,
                round(peak / 100.0, 2) AS peak_usd,
                round($sd * $kBeta / 100.0, 2) AS beta_usd,
                round(($mean - $gamma * ($sd * $kBeta)) / 100.0, 2)
                  AS mu_usd,
                round(($mean - $gamma * ($sd * $kBeta)
                  + ($sd * $kBeta) * $y12) / 100.0, 2) AS rl12_usd,
                round(($mean - $gamma * ($sd * $kBeta)
                  + ($sd * $kBeta) * $y120) / 100.0, 2) AS rl120_usd
         FROM a"""
    },
    // exact-microsecond gaps; moment sums in int128; mirrored mu/sigma
    // doubles only at emission
    "q_interarrival" ->
      """WITH g0 AS (SELECT event_type,
                            epoch_us(ts) - lag(epoch_us(ts)) OVER
                              (PARTITION BY user_id
                               ORDER BY ts, event_id) AS g
                     FROM events),
         g AS (SELECT event_type, g FROM g0 WHERE g IS NOT NULL),
         a AS (SELECT event_type, count(*) AS n_gaps,
                      sum(g) AS sg,
                      sum(CAST(g AS HUGEINT) * g) AS sgg
               FROM g GROUP BY event_type)
         SELECT event_type, n_gaps,
                round(CAST(sg AS DOUBLE) / n_gaps / 1000000.0, 3)
                  AS mean_s,
                round(sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                    / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
                  / 1000000.0, 3) AS sd_s,
                round(sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                    / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
                  / (CAST(sg AS DOUBLE) / n_gaps), 4) AS cv,
                round((sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                    / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
                  - CAST(sg AS DOUBLE) / n_gaps)
                  / (sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                    / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
                  + CAST(sg AS DOUBLE) / n_gaps), 4) AS burstiness
         FROM a ORDER BY event_type""",
    // four exact-integer rolling sums, int128 numerator, one double
    // division per full 30-day window
    "q_rolling_slope" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         g AS (SELECT day, v,
                      row_number() OVER (ORDER BY day) AS t
               FROM dly),
         r AS (SELECT day, v,
                      count(*) OVER w AS nw,
                      sum(t) OVER w AS st,
                      sum(v) OVER w AS sv,
                      sum(t * v) OVER w AS stv,
                      sum(t * t) OVER w AS stt
               FROM g
               WINDOW w AS (ORDER BY day
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
         SELECT day, round(v / 100.0, 2) AS rev_usd,
                round(CAST(30 * stv - st * sv AS DOUBLE)
                  / CAST((30 * stt - st * st) * 100 AS DOUBLE), 6)
                  AS slope_usd_day
         FROM r WHERE nw = 30 ORDER BY day""",
    // round-6 autocorrelations first (the q_acf contract), then a
    // fixed 7-term expression chain — no float aggregate in Q
    "q_ljung_box" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             round(sum(o_totalprice), 2) AS v
                      FROM orders GROUP BY 1),
         m AS (SELECT avg(v) AS m FROM dly),
         c AS (SELECT day, v - m.m AS c FROM dly, m),
         l AS (SELECT c,
                      lag(c, 1) OVER (ORDER BY day) AS c1,
                      lag(c, 2) OVER (ORDER BY day) AS c2,
                      lag(c, 3) OVER (ORDER BY day) AS c3,
                      lag(c, 4) OVER (ORDER BY day) AS c4,
                      lag(c, 5) OVER (ORDER BY day) AS c5,
                      lag(c, 6) OVER (ORDER BY day) AS c6,
                      lag(c, 7) OVER (ORDER BY day) AS c7
               FROM c),
         a AS (SELECT count(*) AS n,
                      round(sum(c * c1) / sum(c * c), 6) AS r1,
                      round(sum(c * c2) / sum(c * c), 6) AS r2,
                      round(sum(c * c3) / sum(c * c), 6) AS r3,
                      round(sum(c * c4) / sum(c * c), 6) AS r4,
                      round(sum(c * c5) / sum(c * c), 6) AS r5,
                      round(sum(c * c6) / sum(c * c), 6) AS r6,
                      round(sum(c * c7) / sum(c * c), 6) AS r7
               FROM l),
         q AS (SELECT n,
                      (r1 * r1 / CAST(n - 1 AS DOUBLE)
                        + r2 * r2 / CAST(n - 2 AS DOUBLE)
                        + r3 * r3 / CAST(n - 3 AS DOUBLE)
                        + r4 * r4 / CAST(n - 4 AS DOUBLE)
                        + r5 * r5 / CAST(n - 5 AS DOUBLE)
                        + r6 * r6 / CAST(n - 6 AS DOUBLE)
                        + r7 * r7 / CAST(n - 7 AS DOUBLE))
                        * n * (n + 2) AS q
               FROM a)
         SELECT n AS n_days, round(q, 4) AS lb_stat,
                CAST(7 AS BIGINT) AS df,
                q > 14.067 AS reject_white_noise
         FROM q""",
    // 14-term left-to-right expression chain with Scala-interpolated
    // lambda^k literals — identical double trees in both engines
    "q_adstock" -> {
      val terms = adstockLambdas.zipWithIndex.map { case (l, k) =>
        s"$l * lag(v, $k) OVER (ORDER BY day)"
      }.mkString("\n                  + ")
      s"""WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         a AS (SELECT day, v,
                      $terms AS ad,
                      lag(v, 13) OVER (ORDER BY day) AS l13
               FROM dly)
         SELECT day, round(v / 100.0, 2) AS rev_usd,
                round(ad / 100.0, 4) AS adstock_usd
         FROM a WHERE l13 IS NOT NULL ORDER BY day"""
    },
    // closed-form SES unroll: mirrored per-term doubles over the day
    // grid, explicit DOUBLE alpha literal, round 4 over ~1e-9 drift
    // the recursive CTE replays the SAME per-step round(.,6)-ed
    // trajectory; lnew is computed once per row in the inner subquery
    "q_holt_winters" ->
      s"""WITH RECURSIVE dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         grid AS (SELECT row_number() OVER (ORDER BY day) AS t,
                         CAST(v AS DOUBLE) / 100.0 AS y
                  FROM dly),
         nn AS (SELECT max(t) AS n FROM grid),
         p AS (SELECT max(CASE WHEN t = 1 THEN y END) AS y1, max(CASE WHEN t = 2 THEN y END) AS y2, max(CASE WHEN t = 3 THEN y END) AS y3, max(CASE WHEN t = 4 THEN y END) AS y4, max(CASE WHEN t = 5 THEN y END) AS y5, max(CASE WHEN t = 6 THEN y END) AS y6, max(CASE WHEN t = 7 THEN y END) AS y7, max(CASE WHEN t = 8 THEN y END) AS y8, max(CASE WHEN t = 9 THEN y END) AS y9, max(CASE WHEN t = 10 THEN y END) AS y10, max(CASE WHEN t = 11 THEN y END) AS y11, max(CASE WHEN t = 12 THEN y END) AS y12, max(CASE WHEN t = 13 THEN y END) AS y13, max(CASE WHEN t = 14 THEN y END) AS y14
               FROM grid WHERE t <= 14),
         c AS (SELECT ${duckRnd("(y1+y2+y3+y4+y5+y6+y7) / 7.0")} AS l0,
                      ${duckRnd("((y8+y9+y10+y11+y12+y13+y14) - (y1+y2+y3+y4+y5+y6+y7)) / 49.0")} AS b0,
                      y1, y2, y3, y4, y5, y6, y7
               FROM p),
         c2 AS (SELECT l0, b0,
                       [${(1 to 7).map(i => duckRnd(s"y$i - l0")).mkString(", ")}] AS s
                FROM c),
         holt AS (
           SELECT 7 AS t, l0 AS l, b0 AS b, s FROM c2
           UNION ALL
           SELECT x.t, x.lnew,
                  ${duckRnd("0.1 * (x.lnew - x.l) + 0.9 * x.b")},
                  x.s[2:7] || [${duckRnd("0.2 * (x.y - x.lnew) + 0.8 * x.s[1]")}]
           FROM (SELECT h.t + 1 AS t, h.l, h.b, h.s, g.y,
                        ${duckRnd("0.3 * (g.y - h.s[1]) + 0.7 * (h.l + h.b)")} AS lnew
                 FROM holt h JOIN grid g ON g.t = h.t + 1
                 WHERE h.t < (SELECT n FROM nn)) x
         )
         SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_days,
                CAST(0.3 AS DOUBLE) AS alpha,
                CAST(0.1 AS DOUBLE) AS beta,
                CAST(0.2 AS DOUBLE) AS gamma,
                ${duckRnd4("l")} AS level_usd,
                ${duckRnd4("b")} AS trend_usd,
                ${duckRnd4("l + b + s[1]")} AS fc_1d_usd,
                ${duckRnd4("l + 7.0 * b + s[7]")} AS fc_7d_usd
         FROM holt WHERE t = (SELECT n FROM nn)""",
    // the global recursive CTE parameterized per key: the recursion
    // carries nation and advances every key's series in lockstep
    // (one UNION ALL level per grid step, joined back on (nation, t));
    // keys with under two seasonal periods are filtered out in both
    // engines. Same per-step round(.,6) trajectory, same lnew-once
    // discipline as q_holt_winters.
    "q_holt_winters_grouped" ->
      s"""WITH RECURSIVE dly AS (
             SELECT c.c_nationkey AS nation,
                    CAST(o.o_orderdate AS DATE) AS day,
                    sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS v
             FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             GROUP BY 1, 2),
         grid AS (SELECT nation,
                         row_number() OVER (PARTITION BY nation
                                            ORDER BY day) AS t,
                         CAST(v AS DOUBLE) / 100.0 AS y
                  FROM dly),
         nn AS (SELECT nation, max(t) AS n FROM grid
                GROUP BY 1 HAVING max(t) >= 14),
         p AS (SELECT g.nation, ${(1 to 14).map(i =>
               s"max(CASE WHEN t = $i THEN y END) AS y$i").mkString(", ")}
               FROM grid g JOIN nn ON g.nation = nn.nation
               WHERE t <= 14 GROUP BY g.nation),
         c AS (SELECT nation,
                      ${duckRnd("(y1+y2+y3+y4+y5+y6+y7) / 7.0")} AS l0,
                      ${duckRnd("((y8+y9+y10+y11+y12+y13+y14) - (y1+y2+y3+y4+y5+y6+y7)) / 49.0")} AS b0,
                      y1, y2, y3, y4, y5, y6, y7
               FROM p),
         c2 AS (SELECT nation, l0, b0,
                       [${(1 to 7).map(i =>
                         duckRnd(s"y$i - l0")).mkString(", ")}] AS s
                FROM c),
         holt AS (
           SELECT nation, 7 AS t, l0 AS l, b0 AS b, s FROM c2
           UNION ALL
           SELECT x.nation, x.t, x.lnew,
                  ${duckRnd("0.1 * (x.lnew - x.l) + 0.9 * x.b")},
                  x.s[2:7] || [${duckRnd("0.2 * (x.y - x.lnew) + 0.8 * x.s[1]")}]
           FROM (SELECT h.nation, h.t + 1 AS t, h.l, h.b, h.s, g.y,
                        ${duckRnd("0.3 * (g.y - h.s[1]) + 0.7 * (h.l + h.b)")} AS lnew
                 FROM holt h
                 JOIN grid g ON g.nation = h.nation AND g.t = h.t + 1
                 JOIN nn ON nn.nation = h.nation
                 WHERE h.t < nn.n) x
         )
         SELECT h.nation, CAST(nn.n AS BIGINT) AS n_days,
                h.l AS level_usd,
                h.b AS trend_usd,
                ${duckRnd("h.l + h.b + h.s[1]")} AS fc_1d_usd,
                ${duckRnd("h.l + 7.0 * h.b + h.s[7]")} AS fc_7d_usd
         FROM holt h JOIN nn ON h.nation = nn.nation AND h.t = nn.n
         ORDER BY h.nation""",
    "q_ses_forecast" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         a AS (SELECT v, row_number() OVER (ORDER BY day) AS rk,
                      count(*) OVER () AS n
               FROM dly),
         t AS (SELECT n, (v / 100.0)
                      * CASE WHEN rk = 1 THEN power(0.7, n - 1)
                             ELSE 0.3 * power(0.7, n - rk) END AS term
               FROM a)
         SELECT CAST(max(n) AS BIGINT) AS n_days,
                CAST(0.3 AS DOUBLE) AS alpha,
                round(sum(term), 4) AS ses_level_usd
         FROM t""",
    // exact long cents through the cohort-partitioned cumulative
    // window; integer epoch-week age arithmetic
    "q_cohort_ltv" ->
      """WITH ew AS (SELECT user_id, event_type, value,
                            epoch_us(ts) // 604800000000 AS wk
                     FROM events),
         cohort AS (SELECT user_id, min(wk) AS cwk FROM ew GROUP BY 1),
         cs AS (SELECT cwk, count(*) AS n_users FROM cohort GROUP BY 1),
         rev AS (SELECT c.cwk, e.wk - c.cwk AS age,
                        CAST(sum(CAST(round(e.value * 100) AS BIGINT))
                          AS BIGINT) AS rev_cents
                 FROM ew e JOIN cohort c USING (user_id)
                 WHERE e.event_type = 'purchase'
                 GROUP BY 1, 2),
         cum AS (SELECT rev.cwk, rev.age, cs.n_users, rev.rev_cents,
                        CAST(sum(rev.rev_cents) OVER (PARTITION BY rev.cwk
                          ORDER BY rev.age ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS BIGINT)
                          AS cum_cents
                 FROM rev JOIN cs USING (cwk))
         SELECT cwk AS cohort_week, age, n_users,
                round(rev_cents / 100.0, 2) AS rev_usd,
                round(cum_cents / (n_users * 100.0), 4) AS ltv_per_user
         FROM cum ORDER BY cohort_week, age""",
    // exact-long MA numerator, one rounded division for the detrended
    // ratio, seasonal mean over the rounded ratios, residual divides
    // the rounded pair
    "q_stl_decompose" ->
      """WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE))
                            AS month,
                           sum(CAST(round(o_totalprice * 100) AS BIGINT))
                             AS v
                    FROM orders GROUP BY 1),
         d AS (SELECT month, v,
                      2 * sum(v) OVER (ORDER BY month ROWS BETWEEN
                        5 PRECEDING AND 5 FOLLOWING)
                        + lag(v, 6) OVER (ORDER BY month)
                        + lead(v, 6) OVER (ORDER BY month) AS num
               FROM m QUALIFY num IS NOT NULL),
         r AS (SELECT month, v, num,
                      round(num / 2400.0, 4) AS trend_usd,
                      round((v * 24) / CAST(num AS DOUBLE), 6) AS rr,
                      month(month) AS moy
               FROM d),
         se AS (SELECT moy, round(avg(rr), 6) AS seasonal
                FROM r GROUP BY 1)
         SELECT month, round(v / 100.0, 2) AS rev_usd, trend_usd,
                seasonal, round(rr / seasonal, 6) AS resid
         FROM r JOIN se USING (moy) ORDER BY month""",
    // one pow() per touch rounded to integer micro-units; channel
    // credits are exact long sums
    "q_attribution_decay" ->
      """WITH fb AS (SELECT user_id, min(epoch_us(ts)) AS pt
                     FROM events WHERE event_type = 'purchase'
                     GROUP BY 1),
         t AS (SELECT e.user_id, e.event_type AS channel,
                      CAST(round(pow(2.0, -(fb.pt - epoch_us(e.ts))
                        / (7.0 * 86400000000)) * 1000000) AS BIGINT)
                        AS w_micro
               FROM events e JOIN fb USING (user_id)
               WHERE e.event_type IN ('view', 'click')
                 AND epoch_us(e.ts) < fb.pt),
         c AS (SELECT channel, count(*) AS n_touches,
                      CAST(sum(w_micro) AS BIGINT) AS wm
               FROM t GROUP BY 1),
         tot AS (SELECT CAST(sum(wm) AS BIGINT) AS wtot FROM c)
         SELECT channel, n_touches,
                round(wm / 1000000.0, 4) AS credit,
                round(wm / CAST(wtot AS DOUBLE), 6) AS share
         FROM c, tot ORDER BY channel""",
    // depth-1 binary segmentation: global argmax splits the grid, the
    // identical exact-int128 statistic re-runs inside each half
    "q_binseg" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         tot AS (SELECT count(*) AS n, sum(v) AS tot FROM dly),
         sc AS (SELECT day, v,
                       row_number() OVER (ORDER BY day) AS t,
                       sum(v) OVER (ORDER BY day ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM dly),
         x AS (SELECT day, v, t, abs(cum * n - t * tot.tot) AS absns, n
               FROM sc, tot),
         cp1 AS (SELECT day, t, absns, n FROM x
                 ORDER BY absns DESC, day LIMIT 1),
         lvl0 AS (SELECT CAST(0 AS BIGINT) AS level,
                         CAST(0 AS BIGINT) AS segment,
                         CAST(n AS BIGINT) AS n_days, day AS cp_day,
                         round(CAST(absns AS DOUBLE)
                           / (CAST(n AS DOUBLE) * 100.0), 2)
                           AS max_cusum_usd
                  FROM cp1),
         seg AS (SELECT x.day, x.v,
                        CASE WHEN x.t <= cp1.t THEN 0 ELSE 1 END AS sg
                 FROM x, cp1),
         st AS (SELECT sg, count(*) AS n_s, sum(v) AS tot_s
                FROM seg GROUP BY 1),
         sc2 AS (SELECT sg, day,
                        row_number() OVER (PARTITION BY sg ORDER BY day)
                          AS t2,
                        sum(v) OVER (PARTITION BY sg ORDER BY day ROWS
                          BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS cum2
                 FROM seg),
         x2 AS (SELECT sc2.sg, sc2.day,
                       abs(cum2 * st.n_s - t2 * st.tot_s) AS absns2,
                       st.n_s
                FROM sc2 JOIN st USING (sg)),
         lvl1 AS (SELECT CAST(1 AS BIGINT) AS level,
                         CAST(sg AS BIGINT) AS segment,
                         CAST(n_s AS BIGINT) AS n_days, day AS cp_day,
                         round(CAST(absns2 AS DOUBLE)
                           / (CAST(n_s AS DOUBLE) * 100.0), 2)
                           AS max_cusum_usd
                  FROM (SELECT sg, day, absns2, n_s,
                               row_number() OVER (PARTITION BY sg
                                 ORDER BY absns2 DESC, day) AS rk
                        FROM x2)
                  WHERE rk = 1)
         SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1
         ORDER BY level, segment""",
    // n*S_t = n*cum_t - t*total in exact int128/decimal: the argmax
    // compare can never flip on a float bit
    "q_cusum" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         tot AS (SELECT count(*) AS n, sum(v) AS tot FROM dly),
         sc AS (SELECT day,
                       row_number() OVER (ORDER BY day) AS t,
                       sum(v) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum
                FROM dly),
         x AS (SELECT day, abs(cum * n - t * tot.tot) AS absns, n
               FROM sc, tot)
         SELECT CAST(n AS BIGINT) AS n_days, day AS cp_day,
                round(CAST(absns AS DOUBLE) / (n * 100.0), 2)
                  AS max_cusum_usd
         FROM x ORDER BY absns DESC, day LIMIT 1""",
    "q_resample_fill" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h,
                           round(sum(value), 4) AS v
                    FROM events GROUP BY 1, 2),
         bounds AS (SELECT min(date_trunc('hour', ts)) AS lo,
                           max(date_trunc('hour', ts)) AS hi FROM events),
         spine AS (SELECT t.event_type,
                          unnest(generate_series(bo.lo, bo.hi,
                                 INTERVAL 1 HOUR)) AS h
                   FROM (SELECT DISTINCT event_type FROM events) t, bounds bo),
         j AS (SELECT s.event_type, s.h, b.v,
                      CASE WHEN b.v IS NULL THEN 1 ELSE 0 END AS filled
               FROM spine s
               LEFT JOIN b ON b.event_type = s.event_type AND b.h = s.h)
         SELECT event_type, h,
                round(last_value(v IGNORE NULLS) OVER
                  (PARTITION BY event_type ORDER BY h), 4) AS v_ff,
                filled
         FROM j ORDER BY event_type, h""",
    "q_scd2_merge" ->
      """WITH upd AS (
           SELECT o_custkey AS c_custkey, max(o_orderdate) AS eff,
                  round(max_by(o_totalprice,
                        o_totalprice * 1000000 + o_orderkey), 2) AS new_bal
           FROM orders WHERE o_custkey % 3 = 0 GROUP BY 1),
         j AS (SELECT c.c_custkey, c.c_acctbal, u.eff, u.new_bal
               FROM customer c LEFT JOIN upd u USING (c_custkey))
         SELECT c_custkey, c_acctbal AS acctbal,
                DATE '1900-01-01' AS valid_from, eff AS valid_to,
                0 AS is_current
         FROM j WHERE eff IS NOT NULL
         UNION ALL
         SELECT c_custkey, new_bal, eff, NULL, 1 FROM j WHERE eff IS NOT NULL
         UNION ALL
         SELECT c_custkey, c_acctbal, DATE '1900-01-01', NULL, 1
         FROM j WHERE eff IS NULL
         ORDER BY c_custkey, is_current""",
    "q_interval_coverage" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS s_us,
                           epoch_us(ts) + 300000000 AS e_us
                    FROM events),
         m AS (SELECT user_id, s_us, e_us,
                      max(e_us) OVER (PARTITION BY user_id ORDER BY s_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS pme
               FROM e)
         SELECT user_id,
                CAST(sum(CASE WHEN pme IS NULL THEN e_us - s_us
                              ELSE greatest(0, e_us - greatest(s_us, pme))
                         END) AS BIGINT) AS covered_us,
                count(*) AS n_intervals
         FROM m GROUP BY user_id ORDER BY user_id""",
    "q_attribution" ->
      """WITH c AS (SELECT user_id, ts,
                           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         a AS (SELECT p.value,
                      CASE WHEN c.ts IS NOT NULL
                             AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                           THEN c.k END AS attr_k
               FROM p ASOF LEFT JOIN c
                 ON p.user_id = c.user_id AND p.ts >= c.ts)
         SELECT attr_k, count(*) AS n_purchases,
                round(sum(value), 2) AS revenue
         FROM a GROUP BY attr_k
         ORDER BY attr_k NULLS FIRST""",
    "q_cdc_apply" ->
      """WITH ops AS (
           SELECT c_custkey, -1 AS seq, 'U' AS op, c_acctbal AS v
           FROM customer
           UNION ALL
           SELECT o_custkey, o_orderkey,
                  CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END,
                  round(o_totalprice, 2)
           FROM orders),
         fin AS (
           SELECT c_custkey,
                  max_by(op, seq) AS fop, max_by(v, seq) AS fv,
                  CAST(sum(CASE WHEN seq >= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ops
           FROM ops GROUP BY 1)
         SELECT c_custkey, round(fv, 2) AS bal, n_ops
         FROM fin WHERE fop <> 'D' ORDER BY c_custkey""",
    "q_event_transitions" ->
      """WITH seqd AS (
           SELECT event_type,
                  lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         pairs AS (
           SELECT prev, event_type AS next, count(*) AS n
           FROM seqd WHERE prev IS NOT NULL GROUP BY 1, 2)
         SELECT prev, next, n,
                round(n / sum(n) OVER (PARTITION BY prev), 4) AS p
         FROM pairs ORDER BY prev, next""",
    // declarative NOT-EXISTS contract for the binned anti plan
    "q_cart_abandonment" ->
      """WITH c AS (SELECT event_id AS cart_id, user_id, epoch_us(ts) AS ct
                    FROM events WHERE event_type = 'cart'),
         p AS (SELECT user_id, epoch_us(ts) AS pt FROM events
               WHERE event_type = 'purchase'),
         f AS (SELECT cart_id,
                      CASE WHEN EXISTS (
                             SELECT 1 FROM p
                             WHERE p.user_id = c.user_id
                               AND p.pt >= c.ct
                               AND p.pt - c.ct <= 86400000000)
                           THEN 0 ELSE 1 END AS abandoned
               FROM c)
         SELECT count(*) AS n_carts,
                CAST(sum(abandoned) AS BIGINT) AS n_abandoned,
                round(avg(CAST(abandoned AS DOUBLE)), 4)
                  AS abandonment_rate
         FROM f""",
    "q_new_vs_returning" ->
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                     FROM events),
         f AS (SELECT user_id, min(day) AS d0 FROM du GROUP BY 1)
         SELECT du.day,
                CAST(sum(CASE WHEN du.day = f.d0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users,
                CAST(sum(CASE WHEN du.day > f.d0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS returning_users
         FROM du JOIN f ON du.user_id = f.user_id
         GROUP BY du.day ORDER BY du.day""",
    "q_event_paths" ->
      """WITH p AS (
           SELECT array_to_string(
                    (list(event_type ORDER BY ts, event_id))[1:3], '>')
                  AS path
           FROM events GROUP BY user_id)
         SELECT path, count(*) AS n_users
         FROM p GROUP BY path ORDER BY n_users DESC, path""",
    "q_benford" ->
      """WITH d AS (
           SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders),
         c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1)
         SELECT digit, n,
                round(n / sum(n) OVER (), 6) AS share,
                round(log10(1.0 + 1.0 / digit), 6) AS benford,
                round(n / sum(n) OVER () - log10(1.0 + 1.0 / digit), 6)
                  AS deviation
         FROM c ORDER BY digit""",
    "q_cohort_matrix" ->
      """WITH uw AS (SELECT DISTINCT user_id,
                            epoch_us(ts) // 604800000000 AS wk
                     FROM events),
         c AS (SELECT user_id, min(wk) AS c0 FROM uw GROUP BY 1),
         cells AS (SELECT c.c0 AS cohort_wk, uw.wk - c.c0 AS off_wk,
                          count(DISTINCT uw.user_id) AS active
                   FROM uw JOIN c ON uw.user_id = c.user_id
                   GROUP BY 1, 2),
         m AS (SELECT cohort_wk, off_wk, active,
                      max(CASE WHEN off_wk = 0 THEN active END)
                        OVER (PARTITION BY cohort_wk) AS cohort_size
               FROM cells)
         SELECT cohort_wk, off_wk, active, cohort_size,
                round(active / cohort_size * 100, 4) AS retention_pct
         FROM m ORDER BY cohort_wk, off_wk""",
    "q_revenue_bridge" ->
      """WITH y AS (SELECT CAST(year(CAST(o_orderdate AS DATE))
                             AS INTEGER) AS yr,
                           count(*) AS vol, sum(o_totalprice) AS rev
                    FROM orders GROUP BY 1),
         a AS (SELECT yr, vol, rev, rev / vol AS aov,
                      lag(vol) OVER (ORDER BY yr) AS pvol,
                      lag(rev / vol) OVER (ORDER BY yr) AS paov
               FROM y)
         SELECT yr,
                round(rev - pvol * paov, 2) AS d_rev,
                round((aov - paov) * pvol, 2) AS price_effect,
                round((vol - pvol) * paov, 2) AS volume_effect,
                round((aov - paov) * (vol - pvol), 2) AS cross_effect
         FROM a WHERE pvol IS NOT NULL ORDER BY yr""",
    // the oracle states the DECLARATIVE pair predicate (no bins); the
    // binned rewrite must be pair-for-pair equivalent
    "q_attribution_multi" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ct,
                           CAST(json_extract_string(props, '$.k') AS INTEGER)
                             AS k
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id AS pid, epoch_us(ts) AS pt,
                      value AS rev
               FROM events WHERE event_type = 'purchase'),
         pairs AS (
           SELECT c.k, p.pid, p.rev,
                  count(*) OVER (PARTITION BY p.pid) AS n_clicks
           FROM c JOIN p ON c.user_id = p.user_id
             AND p.pt >= c.ct AND p.pt - c.ct <= 3600000000)
         SELECT k, count(*) AS n_touches,
                round(sum(rev / n_clicks), 2) AS revenue
         FROM pairs GROUP BY k ORDER BY k""",
    "q_conversion_lag" ->
      """WITH f AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view'
                           THEN epoch_us(ts) END) AS fv,
                  min(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts) END) AS fp
           FROM events WHERE event_type IN ('view', 'purchase')
           GROUP BY user_id),
         l AS (SELECT fp - fv AS lag_us FROM f
               WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv)
         SELECT count(*) AS n_converted,
                round(avg(lag_us) / 1e6, 2) AS avg_lag_s,
                round(quantile_cont(lag_us, 0.5) / 1e6, 2) AS med_lag_s
         FROM l""",
    "q_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
                    FROM events),
         h AS (SELECT user_id, value, t,
                      lead(t) OVER (PARTITION BY user_id
                                    ORDER BY t, event_id) AS t_next
               FROM e)
         SELECT user_id,
                round(sum(value * (t_next - t)) / sum(t_next - t), 4)
                  AS twap,
                round(avg(value), 4) AS plain_avg,
                count(*) AS n_held
         FROM h WHERE t_next IS NOT NULL
         GROUP BY user_id ORDER BY user_id""",
    // dow labels differ across engines (Spark 1-7 vs DuckDB 0-6) but
    // only the GROUPING matters and that is identical
    "q_anomaly_score" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
                        FROM events GROUP BY 1)
         SELECT day, n,
                round(avg(n) OVER (PARTITION BY dayofweek(day)), 4)
                  AS expected,
                round((n - avg(n) OVER (PARTITION BY dayofweek(day)))
                  / stddev_samp(n) OVER (PARTITION BY dayofweek(day)), 4)
                  AS z
         FROM daily ORDER BY day""",
    "q_rolling_distinct" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
                     FROM events),
         spine AS (SELECT DISTINCT d FROM du)
         SELECT s.d AS day, count(DISTINCT u.user_id) AS dau7
         FROM spine s JOIN du u ON u.d BETWEEN s.d - 6 AND s.d
         GROUP BY 1 ORDER BY 1""",
    "q_mom_growth" ->
      """WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                           round(sum(o_totalprice), 2) AS revenue
                    FROM orders GROUP BY 1)
         SELECT month, revenue,
                round((revenue - lag(revenue) OVER (ORDER BY month))
                  / lag(revenue) OVER (ORDER BY month) * 100, 4)
                  AS growth_pct
         FROM m ORDER BY month""",
  )
}
