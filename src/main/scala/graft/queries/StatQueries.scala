package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Rank statistics, robust trend estimation, and dataset-quality
  * profiling — the analyst's nonparametric toolbox (Spearman's rho,
  * Mann–Kendall, Theil–Sen), the ML-prep encoders/read-outs the
  * relational surface lacked (leave-one-out target encoding,
  * calibration/ECE bins, Cramér's V effect size), and a
  * functional-dependency profiler for ingest validation.
  *
  * Cross-engine float protocol (the repo standard): every statistic
  * accumulates in exact integer/decimal arithmetic — average ranks are
  * carried DOUBLED so they stay integral, chi-square cell
  * contributions are rounded to integer micro-units before the sum so
  * float association order can never flip a digit — with one
  * deterministic double division / sqrt at the very end, then an
  * explicit `round`.
  *
  * Scale notes:
  *  - data-sized global ranks go through [[ScaledWindow.rankCum]]
  *    (per-bucket windows; no partition-less WindowExec);
  *  - the calendar-day grid is numbered once, by
  *    [[OrdersDaily.indexed]]: a plain window, safe because the grid
  *    is bounded by the calendar, not the data;
  *  - the trend estimators pair ONLY the calendar-day grid (bounded by
  *    the time range, not the data volume: 2 399 days at every SF), a
  *    reviewed broadcast nested-loop;
  *  - everything else is map-side-combined groupBy plus broadcast of
  *    dimension- or 1-row aggregates.
  */
object StatQueries extends QueryModule {

  private val dec = DecimalType(38, 0)

  /** Daily revenue in exact integer cents — the shared series grain of
    * the trend estimators (same construction as q_cusum/q_acf), served
    * from the memoized [[OrdersDaily]] grid. */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    OrdersDaily.cents(s, d)


  /** RANSAC robust line fit of daily revenue on the day index — the
    * consensus-based robust regressor beside [[theilSen]] (Theil–Sen
    * medians ALL pairwise slopes; RANSAC fits the largest CONSENSUS
    * SET, the right tool when a minority of days are corrupt rather
    * than merely heavy-tailed). 24 md5-seeded candidate day pairs,
    * inlier band = mean daily revenue / 10; winner by (inlier count
    * desc, candidate id asc); final coefficients are the exact-OLS
    * Cramer closed form on the winning consensus set.
    *
    * Fully oracle-replayable — no randomness and no floats until the
    * last division: candidate indices come from the repo's md5-draw
    * protocol (conv(substring(md5(seed),1,8)) ≡ DuckDB
    * ('0x'||…)::BIGINT), and the inlier test for the line through
    * integer points (t₁,v₁),(t₂,v₂) is cross-multiplied to
    * |（v−v₁)·dt − (v₂−v₁)·(t−t₁)| ≤ thr·|dt| — all int128, so both
    * engines count IDENTICAL consensus sets. Both seed points are
    * inliers of their own candidate by construction, so the winning
    * set has ≥2 distinct t and the refit denominator cannot
    * degenerate. Scale shape: the candidate table is 24 rows crossed
    * onto the calendar-bounded grid (broadcast, grid-sized work), the
    * refit one exact aggregate. */
  private val ransacLine: Q = (s, d) => {
    // the day index (OrdersDaily.indexed) rides the bounded ~2.4k-row
    // calendar grid (the q_ses_forecast/q_holt_winters window class,
    // allow-listed); n and the inlier band thr = Σv DIV (10·n) are one
    // scalar subquery over the same grid
    val grid = OrdersDaily.indexed(s, d).select(col("rk").as("t"), col("v"))
    val nThr = grid.agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .select(struct(col("n"), expr("sv DIV (10 * n)").as("thr"))).scalar()
    def h(salt: String) = conv(substring(md5(
      concat(lit("ransac:"), col("k").cast("string"), lit(salt))), 1, 8),
      16, 10).cast("long")
    val cands = s.range(1).toDF("z")
      .select(explode(expr("sequence(1L, 24L)")).as("k"), nThr.as("nt"))
      .select(col("k"), col("nt.n").as("n"), col("nt.thr").as("thr"),
        (lit(1L) + pmod(h(":a"), col("nt.n"))).as("i1"),
        (lit(1L) + pmod(h(":b"), col("nt.n"))).as("i2raw"))
      .select(col("k"), col("n"), col("thr"), col("i1"),
        when(col("i2raw") === col("i1"),
          pmod(col("i2raw"), col("n")) + 1).otherwise(col("i2raw")).as("i2"))
    val withPts = cands
      .join(grid.select(col("t").as("i1"), col("v").as("v1")), Seq("i1"))
      .join(grid.select(col("t").as("i2"), col("v").as("v2")), Seq("i2"))
    val inlier = abs((col("v") - col("v1")).cast(dec) * (col("i2") - col("i1"))
        - (col("v2") - col("v1")).cast(dec) * (col("t") - col("i1"))) <=
      abs(col("thr").cast(dec) * (col("i2") - col("i1")))
    val best = grid.crossJoin(broadcast(withPts))
      .groupBy("k", "i1", "i2", "v1", "v2", "n", "thr")
      .agg(sum(when(inlier, 1L).otherwise(0L)).as("n_in"))
      .orderBy(desc("n_in"), asc("k"))
      .limit(1)
    grid.crossJoin(broadcast(best))
      .filter(inlier)
      .agg(count(lit(1)).as("ni"),
        sum(col("t").cast(dec)).as("st"), sum(col("v").cast(dec)).as("sy"),
        sum(col("t").cast(dec) * col("t")).as("stt"),
        sum(col("t").cast(dec) * col("v")).as("sty"),
        max("k").as("best_k"), max("n").as("n"))
      // b rounded FIRST, a derived from the ROUNDED b (the
      // q_quantile_reg boundary-rounding discipline, so the oracle
      // replays the identical two-step derivation)
      // floor-quantized (the hwRnd house protocol, round-16 advice):
      // engine round(x, 6) differs across engines at double-
      // representation midpoints, and the NUMERATORS here are exact
      // integer differences both sides (decimal(38,0) here, HUGEINT in
      // the oracle) cast to double AFTER differencing — never double
      // products of ~1e17 that cancel catastrophically
      .withColumn("b6",
        floor((col("ni").cast(dec) * col("sty") - col("st") * col("sy"))
            .cast("double")
          / (col("ni").cast(dec) * col("stt") - col("st") * col("st"))
            .cast("double") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
      .withColumn("a6",
        floor((col("sy").cast("double") - col("b6") * col("st").cast("double"))
          / col("ni").cast("double") * lit(1000000.0) + lit(0.5))
          / lit(1000000.0))
      .select(col("n").as("n_days"), col("best_k"), col("ni").as("n_inliers"),
        (floor(col("a6") / 100.0 * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("a_usd"),
        (floor(col("b6") / 100.0 * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("b_usd_per_day"))
  }

  /** PER-KEY RANSAC — [[ransacLine]]'s consensus fit distributed over
    * nations (round-15 verdict #7: the grouped generalization, same
    * argument as the grouped Holt–Winters). Everything the global form
    * holds as driver scalars (n, Σv, the inlier threshold) becomes a
    * per-key COLUMN: per-nation day grids (t = row_number within the
    * key), per-key thr = Σv DIV (10·n) (exact integer division in both
    * engines), 24 md5-seeded candidate pairs PER KEY (the seed string
    * carries the nation so draws differ per series and the oracle
    * replays them), per-key winner by (inlier count desc, k asc) via a
    * key-partitioned rank, per-key exact-OLS refit on the winning
    * consensus set. All inlier tests stay int128 cross-multiplied —
    * both engines count identical sets per key.
    *
    * Scale shape: the candidate table is keys×24 rows (broadcast);
    * scoring joins each key's calendar-bounded grid to its own 24
    * candidates (≤24× the keyed grid, partitioned by key — nothing
    * data-sized in one task); the winner rank runs over keys×24 rows.
    * At 100 TB the nation key becomes store/SKU and the shape holds:
    * RANSAC parallelizes over SERIES. Keys need n ≥ 2 grid days (the
    * i2 cyclic fix-up then guarantees two distinct seed days, so the
    * refit denominator cannot degenerate); sparser keys are skipped
    * in both engines. */
  private val ransacGrouped: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
    // persisted: the keyed grid feeds the stats, the candidate-point
    // lookups, the scoring join, and the refit (5 consumers)
    val grid = CacheRegistry.register(daily
      .select(col("nation"),
        row_number().over(Window.partitionBy("nation").orderBy("day"))
          .cast("long").as("t"),
        col("v")).persist())
    val stats = grid.groupBy("nation")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .filter(col("n") >= 2)
      .select(col("nation"), col("n"), expr("sv DIV (10 * n)").as("thr"))
    def h(salt: String) = conv(substring(md5(
      concat(lit("ransac:"), col("nation").cast("string"), lit(":"),
        col("k").cast("string"), lit(salt))), 1, 8), 16, 10).cast("long")
    val cands = stats
      .select(col("nation"), col("n"), col("thr"),
        explode(expr("sequence(1L, 24L)")).as("k"))
      .select(col("nation"), col("n"), col("thr"), col("k"),
        (lit(1L) + pmod(h(":a"), col("n"))).as("i1"),
        (lit(1L) + pmod(h(":b"), col("n"))).as("i2raw"))
      .select(col("nation"), col("n"), col("thr"), col("k"), col("i1"),
        when(col("i2raw") === col("i1"),
          pmod(col("i2raw"), col("n")) + 1).otherwise(col("i2raw")).as("i2"))
    val withPts = cands
      .join(grid.select(col("nation"), col("t").as("i1"),
        col("v").as("v1")), Seq("nation", "i1"))
      .join(grid.select(col("nation"), col("t").as("i2"),
        col("v").as("v2")), Seq("nation", "i2"))
    val inlier = abs((col("v") - col("v1")).cast(dec) * (col("i2") - col("i1"))
        - (col("v2") - col("v1")).cast(dec) * (col("t") - col("i1"))) <=
      abs(col("thr").cast(dec) * (col("i2") - col("i1")))
    val scored = grid.join(broadcast(withPts), Seq("nation"))
      .groupBy("nation", "n", "thr", "k", "i1", "i2", "v1", "v2")
      .agg(sum(when(inlier, 1L).otherwise(0L)).as("n_in"))
    val best = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("nation").orderBy(desc("n_in"), asc("k"))))
      .filter(col("rk") === 1).drop("rk")
    grid.join(broadcast(best), Seq("nation"))
      .filter(inlier)
      .groupBy("nation")
      .agg(max("n").as("n_days"), max("k").as("best_k"),
        count(lit(1)).as("ni"),
        sum(col("t").cast(dec)).as("st"), sum(col("v").cast(dec)).as("sy"),
        sum(col("t").cast(dec) * col("t")).as("stt"),
        sum(col("t").cast(dec) * col("v")).as("sty"))
      // floor-quantized (the hwRnd house protocol, round-16 advice):
      // engine round(x, 6) differs across engines at double-
      // representation midpoints, and the NUMERATORS here are exact
      // integer differences both sides (decimal(38,0) here, HUGEINT in
      // the oracle) cast to double AFTER differencing — never double
      // products of ~1e17 that cancel catastrophically
      .withColumn("b6",
        floor((col("ni").cast(dec) * col("sty") - col("st") * col("sy"))
            .cast("double")
          / (col("ni").cast(dec) * col("stt") - col("st") * col("st"))
            .cast("double") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
      .withColumn("a6",
        floor((col("sy").cast("double") - col("b6") * col("st").cast("double"))
          / col("ni").cast("double") * lit(1000000.0) + lit(0.5))
          / lit(1000000.0))
      .select(col("nation"), col("n_days"), col("best_k"),
        col("ni").as("n_inliers"),
        (floor(col("a6") / 100.0 * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("a_usd"),
        (floor(col("b6") / 100.0 * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("b_usd_per_day"))
      .orderBy("nation")
  }

  /** Spearman rank correlation between quantity and price on the fact
    * table — the monotone-association twin of Pearson [[q_agg_corr]]:
    * immune to outliers and nonlinearity because it correlates RANKS.
    * Tie handling is the textbook average rank, carried DOUBLED
    * (2·avgrank = 2·cum_before + count + 1 is always an integer, so
    * the five moment sums are exact in DECIMAL(38,0)/int128 — exact up
    * to ~2e9 rows; one double division + sqrt at the end).
    *
    * Shape: collapse each variable to its DISTINCT-VALUE grain, global
    * cumulative counts via [[ScaledWindow.rankCum]] (no
    * partition-less window), broadcast/shuffle the tiny rank maps back
    * onto the rows, one map-side-combined moment aggregate. */
  private val spearman: Q = (s, d) => {
    val t = Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    def rankMap(cn: String, out: String): (DataFrame, Column) = {
      val g = t.groupBy(col(cn)).agg(count(lit(1)).as("c"))
      val r = ScaledWindow.rankCum(g, Seq(col(cn).asc), Seq("cum" -> col("c")))
      (r.df.select(col(cn), (lit(2) * col("cum") - col("c") + 1).as(out)),
        r.totals("cum"))
    }
    val (rx, n) = rankMap("x", "dx")
    val (ry, _) = rankMap("y", "dy")
    // the x rank map is DOMAIN-bounded (distinct l_quantity values,
    // ~50 at every SF) — broadcast it explicitly so attaching x-ranks
    // never exchanges the fact table (round 17, guide §3.1); the
    // y map (price grain, DATA-sized) is pinned to the sort-merge
    // join: a rankCum output's size estimate can fall below the
    // auto-broadcast threshold, and broadcasting the whole window
    // output measured 1.5× slower at sf0.1 (collect+broadcast of the
    // data-sized map every rep) and is scale-unsafe at 100 TB, where
    // the distinct-price grain grows with the data (guide §3.1: pick
    // the strategy deliberately when estimates mislead)
    val sums = t.join(broadcast(rx), "x").join(ry.hint("merge"), "y").agg(
      sum(col("dx").cast(dec)).as("sx"),
      sum(col("dy").cast(dec)).as("sy"),
      sum(col("dx").cast(dec) * col("dx")).as("sxx"),
      sum(col("dy").cast(dec) * col("dy")).as("syy"),
      sum(col("dx").cast(dec) * col("dy")).as("sxy"))
    sums.select(
      n.as("n_rows"),
      round((n * col("sxy") - col("sx") * col("sy")).cast("double")
        / (sqrt((n * col("sxx") - col("sx") * col("sx")).cast("double"))
          * sqrt((n * col("syy") - col("sy") * col("sy")).cast("double"))),
        6).as("rho"))
  }

  /** Mann–Kendall trend test on daily revenue — the standard
    * nonparametric "is this series trending?" monitor (no distribution
    * assumption, ties handled exactly). S = Σ_{i<j} sign(vⱼ−vᵢ) over
    * the DAY GRID, whose size is bounded by the calendar (2 399 days
    * at every SF — the pairwise join is a reviewed broadcast
    * nested-loop over ~2.9M grid pairs, constant in data volume). All
    * of S, the tie counts, and the variance polynomial are exact
    * longs; z (continuity-corrected) and Kendall's tau-b take one
    * double sqrt each. */
  private val mannKendall: Q = (s, d) => {
    val daily = dailyCents(s, d)
    val b = daily.select(col("day").as("d2"), col("v").as("v2"))
    val p = daily.join(broadcast(b), col("day") < col("d2"))
      .agg(
        sum(when(col("v2") > col("v"), 1L)
          .when(col("v2") < col("v"), -1L).otherwise(0L)).as("s"),
        count(lit(1)).as("m"))
    val nr = daily.agg(count(lit(1)).as("n"))
    val ties = daily.groupBy("v").agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .agg(
        coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
          lit(0L)).as("t3"),
        coalesce(sum(expr("t * (t - 1) DIV 2")), lit(0L)).as("t2"))
    p.crossJoin(broadcast(nr)).crossJoin(broadcast(ties))
      .withColumn("n0", expr("n * (n - 1) DIV 2"))
      .select(
        col("n").as("n_days"),
        col("m").as("n_pairs"),
        col("s"),
        round(
          when(col("s") > 0, col("s") - 1)
            .when(col("s") < 0, col("s") + 1).otherwise(0L).cast("double")
            / sqrt((col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
              - col("t3")) / lit(18.0)), 4).as("z"),
        round(col("s").cast("double")
          / sqrt((col("n0") - col("t2")).cast("double")
            * col("n0").cast("double")), 6).as("tau_b"))
  }

  /** Theil–Sen robust trend slope on the same daily series — the
    * median of all pairwise slopes (up to 29% gross outliers cannot
    * move it, unlike the OLS slope in q_regr_group). Pair generation
    * is the same bounded day-grid broadcast as [[mannKendall]]; the
    * median is the exact order statistic of the ~2.9M slopes selected
    * through [[ScaledWindow.rankCum]] (no partition-less window, no
    * driver-side sort), with the even-count midpoint as
    * (min+max)/2 of the two middle elements. Each slope is ONE double
    * division of exact integers — deterministic in both engines. */
  private val theilSen: Q = (s, d) => {
    val daily = dailyCents(s, d)
    val b = daily.select(col("day").as("d2"), col("v").as("v2"))
    val pairs = daily.join(broadcast(b), col("day") < col("d2"))
      .select(col("day").as("d1"), col("d2"),
        ((col("v2") - col("v")).cast("double")
          / (datediff(col("d2"), col("day")) * lit(100.0))).as("slope"))
    val rnk = ScaledWindow.rankCum(pairs,
      Seq(col("slope").asc, col("d1").asc, col("d2").asc))
    val m = rnk.n
    val k1 = call_function("div", m + 1, lit(2))
    val k2 = call_function("div", m, lit(2)) + 1
    rnk.df.filter(col("rk") === k1 || col("rk") === k2)
      .agg(round((min("slope") + max("slope")) / 2, 6).as("slope_usd_day"))
      .select(m.as("n_pairs"), col("slope_usd_day"))
  }

  /** Quantile regression (τ = 0.9) of daily revenue on the day index
    * via IRLS — the conditional-quantile line beside [[theilSen]]'s
    * robust median slope (Theil–Sen answers "the typical trend";
    * τ = 0.9 answers "how the BUSY days trend", the capacity-planning
    * read OLS can't give). NOTE — construction is EAGER, a documented
    * exception to the build-returns-a-lazy-plan Q contract: the OLS
    * seed, the scale pre-pass, and each IRLS round collect one bounded
    * 1-row sum (10 driver scalars total) and register a persisted
    * cache, because the in-plan 1-row-broadcast alternative measured
    * 1.7 s vs 0.77 s. Plan-only consumers (sweep tooling, plan audits)
    * should skip instantiating this entry. Eight IRLS rounds from an
    * OLS seed,
    * entirely engine-side: each round's coefficients are a 1-row
    * frame crossed onto the ≤2 399-row day grid (the durbin_watson
    * broadcast shape), so the whole fit is ONE lazy plan — no driver
    * loop, no collect.
    *
    * Cross-engine exactness (the q_anova int128 protocol applied to
    * an ITERATIVE fit): the OLS seed's normal-equation sums are exact
    * integers; every derived coefficient is round(·, 6) at the
    * iteration boundary; each IRLS weight w = τ/max(|r|, ε) (or
    * (1−τ) below the line) is computed on the SCALE-NORMALIZED
    * residual ratio |r|/scale (scale = mean |OLS residual|, one exact
    * pre-pass) and micro-rounded to an exact long (round(1e9·w))
    * BEFORE the weighted sums, so all five sums of w·t·v products are
    * exact int128 in BOTH engines and the iteration trajectory is
    * replayable in DuckDB — float drift cannot compound across rounds
    * because no unrounded float ever crosses an iteration boundary.
    * The normalization makes the quantization grain SF-invariant:
    * ratios sit near 1 at every scale, where the raw-residual form
    * rounded sf1's ~1e10-cent below-line weights to 0 and silently
    * dropped the (1−τ) loss side. Weighted sums peak ~5e32 at sf1
    * (w ≤ 9e14 micro-units · t ≤ 2.4e3 · v ≤ 1e10 cents · 2.4e3
    * rows) — 5 digits of DECIMAL(38,0) headroom. Accepted-risk
    * caveat: sums above 2^53 convert int128→double with one rounding
    * in the JVM (correctly-rounded BigDecimal) and two in DuckDB
    * (upper·2⁶⁴ + lower), so a 1-ulp divergence is possible there;
    * round(·, 6) at the iteration boundary absorbs it except on an
    * exact half-ulp knife edge, which the 359-oracle suite has never
    * produced. Pinball loss is micro-rounded per row and summed
    * exactly. */
  private val quantileReg: Q = (s, d) => {
    val tau = 0.9
    val grid = OrdersDaily.indexed(s, d).select(col("rk").as("t"), col("v"))
    // ONE partition: the grid is ≤2 399 rows and feeds nine global
    // aggregates — at 32 partitions each round pays a 32-task stage +
    // exchange; single-partition, each round is one ~ms task
    val g = CacheRegistry.register(grid.coalesce(1).persist())
    // coefficient updates run on the DRIVER from each round's 1-row
    // exact sums (bounded collects — 9 scalars total): the in-plan
    // 1-row-broadcast chain costs a broadcast exchange per round
    // (measured 1.7 s); collecting the sums costs one ~ms task per
    // round. The Scala rounding mirrors Spark's Round expression
    // exactly (decimal expansion of the double's shortest repr,
    // HALF_UP) — the same derivation the oracle replays in SQL.
    def rnd6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sr = g.agg(count(lit(1)).as("n"),
      sum(col("t").cast(dec)).as("st"), sum(col("v").cast(dec)).as("sy"),
      sum(col("t").cast(dec) * col("t")).as("stt"),
      sum(col("t").cast(dec) * col("v")).as("sty")).collect()(0)
    val n = sr.getLong(0)
    val (st, sy, stt, sty) = (sr.getDecimal(1).doubleValue(),
      sr.getDecimal(2).doubleValue(), sr.getDecimal(3).doubleValue(),
      sr.getDecimal(4).doubleValue())
    var b = rnd6((n.toDouble * sty - st * sy)
      / (n.toDouble * stt - st * st))
    var a = rnd6((sy - b * st) / n)
    // Residual-scale pre-pass (round 15): IRLS weights quantize the
    // RATIO |r|/scale, not the absolute residual — at sf1+ typical
    // below-line residuals are ~1e10 cents and round(1e9·0.1/|r|)
    // would collapse to 0, silently deleting the (1−τ) side of the
    // loss. scale = mean |r₀| of the OLS seed (unit-grain rounded per
    // row so the sum is an exact integer ≤ ~2e12·n — well under 2^53,
    // so both engines convert it to double EXACTLY), floored at one
    // cent for a perfectly-linear corpus.
    val r0 = col("v").cast("double") - lit(a) - lit(b) * col("t")
    val scRow = g.select(round(abs(r0)).cast(dec).as("ar"))
      .agg(sum("ar").as("sar")).collect()(0)
    val scale = math.max(rnd6(scRow.getDecimal(0).doubleValue() / n), 1.0)
    for (_ <- 1 to 8) {
      val r = col("v").cast("double") - lit(a) - lit(b) * col("t")
      val w = round(lit(1e9)
        * when(r > 0, lit(tau)).otherwise(lit(1 - tau))
        / greatest(abs(r) / lit(scale), lit(1e-6))).cast(dec)
      val it = g.select(w.as("w"), col("t"), col("v"))
        .agg(sum(col("w")).as("sw"),
          sum(col("w") * col("t")).as("swt"),
          sum(col("w") * col("v")).as("swy"),
          sum(col("w") * col("t") * col("t")).as("swtt"),
          sum(col("w") * col("t") * col("v")).as("swty")).collect()(0)
      val (sw, swt, swy, swtt, swty) = (it.getDecimal(0).doubleValue(),
        it.getDecimal(1).doubleValue(), it.getDecimal(2).doubleValue(),
        it.getDecimal(3).doubleValue(), it.getDecimal(4).doubleValue())
      // Unreachable after normalization (|r|/scale ≤ max/mean ≤ n, so
      // every row's weight ≥ round(1e8/n) ≥ 1 and weight mass spreads
      // over all t) — but a degenerate system must fail LOUD here, not
      // as rnd6(NaN)'s NumberFormatException three lines later.
      val den = sw * swtt - swt * swt
      require(sw != 0.0 && den != 0.0,
        "quantile_reg: degenerate IRLS system (zero weight mass or " +
          "weight concentrated on one day)")
      b = rnd6((sw * swty - swt * swy) / den)
      a = rnd6((swy - b * swt) / sw)
    }
    val rFin = col("v").cast("double") - lit(a) - lit(b) * col("t")
    g.select(round(lit(1e6) * when(rFin > 0, lit(tau) * rFin)
        .otherwise(lit(tau - 1) * rFin)).cast(dec).as("rho"))
      .agg(sum("rho").as("rho_sum"))
      .select(lit(n).as("n_days"), lit(tau).as("tau"),
        round(lit(a) / 100.0, 4).as("a_usd"),
        round(lit(b) / 100.0, 4).as("b_usd_per_day"),
        round(col("rho_sum").cast("double") / 1e8, 2)
          .as("pinball_usd"))
  }

  /** Leave-one-out smoothed target encoding of market segment — the
    * standard high-cardinality categorical encoder for gradient
    * models, in its LEAKAGE-FREE form: each row's own label is removed
    * from its category mean, shrunk toward the global prior with
    * weight m=20. For a BINARY target the encoding takes only two
    * values per category, so the emitted relation is the (category ×
    * label) grid — category-vocabulary-sized, not row-sized.
    * enc = (N·(s_cat − y) + m·S) / (N·(n_cat − 1 + m)) with both sides
    * of the division exact integers (cleared of the global-mean
    * denominator), one double division, round 6. */
  private val targetEncode: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        pmod(col("o_orderkey"), lit(2)).as("conv"))
    val g = oc.groupBy("segment")
      .agg(count(lit(1)).as("n_cat"), sum("conv").as("s_cat"))
    val tot = oc.agg(count(lit(1)).as("tot_n"), sum("conv").as("tot_conv"))
    g.crossJoin(broadcast(tot))
      .withColumn("y", explode(array(lit(0L), lit(1L))))
      .select(
        col("segment"), col("y"),
        when(col("y") === 1, col("s_cat"))
          .otherwise(col("n_cat") - col("s_cat")).as("n"),
        round((col("tot_n").cast(dec) * (col("s_cat") - col("y"))
          + lit(20) * col("tot_conv")).cast("double")
          / (col("tot_n").cast(dec) * (col("n_cat") - 1 + 20)).cast("double"),
          6).as("enc"))
      .orderBy("segment", "y")
  }

  /** Calibration / reliability table with per-bin ECE contributions —
    * the read-out that says whether a model's scores are PROBABILITIES
    * (AUC says ranking is right; calibration says the values are).
    * Score is a deterministic md5-derived uniform in [0,1] (16 bits),
    * label an independent parity — so the expected gap is acc−conf
    * and the table exposes it per decile bin. The bin cut is integer
    * (h·10 DIV 2¹⁶); conf/acc/gap are single divisions of exact
    * integer sums (gap's numerator np·65535−Σh is exact, NOT
    * acc−conf as two rounded doubles); wgap = n·|gap|/N is the bin's
    * ECE term, N via a window over the 10-row bin grid. */
  private val calibration: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      conv(substring(md5(col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("long").as("h"),
      pmod(col("o_custkey"), lit(2)).as("lab"))
    val bins = o.groupBy(expr("(h * 10) DIV 65536").as("bin"))
      .agg(count(lit(1)).as("n"), sum("h").as("sh"), sum("lab").as("np"))
    val gapNum = col("np").cast(dec) * 65535 - col("sh").cast(dec)
    bins
      .withColumn("ntot", sum("n").over(Window.partitionBy()))
      .select(
        col("bin"), col("n"),
        round(col("sh").cast("double") / (col("n") * lit(65535.0)), 6)
          .as("conf"),
        round(col("np").cast("double") / col("n"), 6).as("acc"),
        round(gapNum.cast("double") / (col("n") * lit(65535.0)), 6).as("gap"),
        round(abs(gapNum.cast("double")) / (col("ntot") * lit(65535.0)), 6)
          .as("wgap"))
      .orderBy("bin")
  }

  /** Cramér's V — the EFFECT-SIZE companion to the q_chi_square
    * significance test (chi² grows with n; V∈[0,1] does not), on the
    * segment × priority contingency. The full r×c grid (including
    * empty cells) comes from crossing the two marginal vectors —
    * dimension-sized broadcasts. Each cell contribution
    * (o·n − rt·ct)²/(n·rt·ct) is computed as ONE deterministic double
    * expression and rounded to integer MICRO-units before the sum, so
    * the Σ over cells is exact long addition (float association order
    * can never flip a reported digit). */
  private val cramersV: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
    val cells = oc.groupBy("seg", "pri").agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("seg").agg(sum("o").as("rt"))
    val ct = cells.groupBy("pri").agg(sum("o").as("ct"))
    val tot = cells.agg(sum("o").as("nn"),
      countDistinct("seg").as("r"), countDistinct("pri").as("c"))
    val numd = (col("obs").cast(dec) * col("nn")
      - col("rt").cast(dec) * col("ct")).cast("double")
    val cm = rt.crossJoin(broadcast(ct))
      .join(cells, Seq("seg", "pri"), "left")
      .withColumn("obs", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("nn"), col("r"), col("c"),
        round(numd * numd
          / (col("nn").cast("double") * col("rt").cast("double")
            * col("ct").cast("double")) * 1000000).cast("long").as("c_micro"))
    cm.groupBy("nn", "r", "c").agg(sum("c_micro").as("sm"))
      .select(
        col("nn").as("n"), col("r"), col("c"),
        round(col("sm") / lit(1000000.0), 4).as("chi2"),
        round(sqrt((col("sm") / lit(1000000.0))
          / ((least(col("r"), col("c")) - 1) * col("nn")).cast("double")), 6)
          .as("v"))
  }

  /** Functional-dependency / determinancy profiler — the ingest-time
    * data-quality check behind key discovery and denormalization
    * decisions: for each candidate FD lhs→rhs, how many lhs values map
    * to MORE than one rhs value. One map-side-combined groupBy +
    * count-distinct per FD, a 1-row aggregate each — scales to any
    * fact size. A key FD (nationkey→regionkey) is included as the
    * positive control. */
  private val fdCheck: Q = (s, d) => {
    def fd(df: DataFrame, name: String, l: String, r: String): DataFrame =
      df.groupBy(col(l)).agg(countDistinct(col(r)).as("k"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"))
    fd(Tables.nation(s, d), "nation.nationkey->regionkey",
      "n_nationkey", "n_regionkey")
      .unionAll(fd(Tables.part(s, d), "part.brand->type", "p_brand", "p_type"))
      .unionAll(fd(Tables.customer(s, d), "customer.nationkey->mktsegment",
        "c_nationkey", "c_mktsegment"))
      .unionAll(fd(Tables.orders(s, d), "orders.custkey->orderpriority",
        "o_custkey", "o_orderpriority"))
      .select(col("fd"), col("n_lhs"), col("n_violating"),
        round(col("n_violating").cast("double") / col("n_lhs"), 6)
          .as("violation_rate"),
        (col("n_violating") === 0).as("holds"))
      .orderBy("fd")
  }

  /** Two-group log-rank test — the significance companion to
    * [[InsightQueries]]'s Kaplan–Meier curve (KM says WHAT the
    * survival looks like; log-rank says whether two arms DIFFER):
    * customer lifetimes split by key parity, observed-minus-expected
    * deaths accumulated over the distinct-duration axis (calendar-
    * bounded grain, the q_kaplan_meier class). At-risk counts are
    * reverse cumulative sums over that axis; each time point's
    * hypergeometric expectation/variance is ONE double expression
    * rounded to integer MICRO-units before the sum, so the Σ over
    * times is exact long addition. χ² = (O−E)²/V takes the last
    * division. */
  private val logrank: Q = (s, d) => {
    val life = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(datediff(max("o_orderdate"), min("o_orderdate")).as("dur"),
        max("o_orderdate").as("last"))
      .select(col("dur"),
        when(col("last") < lit("2001-01-01").cast("date"), 1L)
          .otherwise(0L).as("event"),
        pmod(col("o_custkey"), lit(2)).as("grp"))
    val g = life.groupBy("dur").agg(
      sum(when(col("grp") === 1, col("event")).otherwise(0L)).as("d1"),
      sum("event").as("dt"),
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"),
      count(lit(1)).as("ct"))
    val atRisk = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val n1d = col("n1").cast("double")
    val terms = g
      .withColumn("n1", sum("c1").over(atRisk))
      .withColumn("nt", sum("ct").over(atRisk))
      .filter(col("dt") > 0 && col("nt") > 1)
      .select(col("d1"),
        round(col("dt").cast("double") * col("n1") / col("nt")
          * lit(1000000)).cast("long").as("e_micro"),
        round(col("dt").cast("double") * (n1d / col("nt"))
          * (lit(1.0) - n1d / col("nt"))
          * ((col("nt") - col("dt")).cast("double") / (col("nt") - 1))
          * lit(1000000)).cast("long").as("v_micro"))
    terms
      .agg(count(lit(1)).as("n_times"), sum("d1").as("o1"),
        sum("e_micro").as("e1m"), sum("v_micro").as("vm"))
      .select(col("n_times"), col("o1"),
        round(col("e1m") / lit(1000000.0), 4).as("e1"),
        round(pow(col("o1") - col("e1m") / lit(1000000.0), 2)
          / (col("vm") / lit(1000000.0)), 4).as("chi2"))
  }

  /** G-test (likelihood-ratio) of independence on the 2×2
    * urgent-priority × finished-status grid — the test an analyst
    * reaches for when chi-square's normal approximation is suspect
    * (G is additive across partitions of the table, chi-square is
    * not). Cell counts and margins are exact longs from ONE 4-row
    * aggregate; each cell's 2·O·ln(O/E) term is one mirrored double
    * expression rounded to integer MICRO-units before the 4-term sum
    * (the [[logrank]]/q_modularity convention), so the statistic is
    * exact long addition with a single division at emission. The
    * df=1 critical value 3.841 is the stated-constant contract
    * (q_tukey_hsd precedent). */
  private val gTest: Q = (s, d) => {
    val cts = Tables.orders(s, d)
      .select(
        when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L).as("a"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val tot = cts.agg(sum("n").as("nn"),
      sum(when(col("a") === 1, col("n")).otherwise(0L)).as("ra"),
      sum(when(col("b") === 1, col("n")).otherwise(0L)).as("cb"))
    val e = (when(col("a") === 1, col("ra"))
      .otherwise(col("nn") - col("ra")).cast("double")
      * when(col("b") === 1, col("cb"))
        .otherwise(col("nn") - col("cb")).cast("double")
      / col("nn"))
    cts.crossJoin(broadcast(tot))
      .select(round(lit(2000000.0) * col("n").cast("double")
        * log(col("n").cast("double") / e)).cast("long").as("t_micro"))
      .agg(count(lit(1)).as("n_cells"),
        sum("t_micro").as("gm"))
      .select(col("n_cells"),
        round(col("gm") / lit(1000000.0), 4).as("g_stat"),
        lit(1L).as("df"),
        (col("gm") > lit(3841000L)).as("reject_independence"))
  }

  /** Propensity-stratified ATT — the matching estimator beside the
    * DiD/CUPED family: units stratified into 10 propensity bins
    * (md5-derived 16-bit score, the deterministic stand-in — the
    * estimator is score-agnostic), treatment = BUILDING segment,
    * outcome = customer spend in exact cents. Within-bin treated-vs-
    * control mean gaps weighted by the treated count (the ATT weights)
    * with each bin's term rounded to integer MILLI-cents before the
    * exact sum over the 10-row grid; bins missing either arm drop out
    * (no off-support extrapolation — the standard common-support
    * rule). One groupBy + one grid aggregate, no windows, no joins
    * beyond the unit build. */
  private val psmAtt: Q = (s, d) => {
    val spend = Tables.orders(s, d).groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
    val units = Tables.customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"))
      .select(
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("t"),
        col("y"),
        conv(substring(md5(col("c_custkey").cast("string")), 1, 4), 16, 10)
          .cast("long").as("h"))
      .withColumn("bin", expr("(h * 10) DIV 65536"))
    val bins = units.groupBy("bin").agg(
      sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
      sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("t") === 1, col("y")).otherwise(0L)).as("st"),
      sum(when(col("t") === 0, col("y")).otherwise(0L)).as("sc"))
      .filter(col("nt") > 0 && col("nc") > 0)
      .withColumn("m", round((col("st").cast("double")
        - col("nt").cast("double") * col("sc") / col("nc"))
        * lit(1000)).cast("long"))
    bins.agg(count(lit(1)).as("n_bins"), sum("nt").as("n_treat"),
      sum("nc").as("n_ctrl"), sum("m").as("sm"))
      .select(col("n_bins"), col("n_treat"), col("n_ctrl"),
        round(col("sm") / (col("n_treat") * lit(100000.0)), 4).as("att_usd"))
  }

  /** Two-proportion A/B sample-size calculator — the planning read-out
    * beside the q_ab_test/q_cuped analysis ops: per-arm n to detect a
    * 1-point absolute lift on the observed baseline per-event purchase
    * rate (~20% at every SF — the user-grain "ever purchased" rate
    * saturates at 1.0 on this corpus, where the formula is undefined)
    * at α=0.05 (two-sided) / 80% power,
    * n = (z_{0.975}+z_{0.8})²·(p₁(1−p₁)+p₂(1−p₂))/δ². One 1-row
    * aggregate, then pure closed-form expression work. */
  private val powerZsum = 1.959963985 + 0.8416212336
  private val powerZsumSq = powerZsum * powerZsum
  private val powerDeltaSq = 0.01 * 0.01

  private val powerAnalysis: Q = (s, d) => {
    val p1 = col("n_conv").cast("double") / col("n_events")
    val p2 = p1 + lit(0.01)
    Tables.events(s, d)
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_conv"))
      .select(col("n_events"), round(p1, 6).as("p_base"),
        lit(0.01).as("mde"),
        // p2 > 1 makes p2(1-p2) negative and the ceil meaningless
        // (impossible lift: the baseline already exceeds 1 - mde);
        // emit null instead, mirrored in the oracle CASE
        when(p2 <= lit(1.0),
          ceil(lit(powerZsumSq)
            * (p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
            / lit(powerDeltaSq))).as("n_per_arm"))
  }

  /** Qini / uplift-by-decile curve — the targeting read-out for
    * INCREMENTAL response (q_lift_deciles ranks raw responders; Qini
    * ranks where the TREATMENT changed behavior): treatment from key
    * parity, conversion from an integer hash-threshold draw with a
    * built-in +10-point treated lift (13107/65536 control,
    * 19661/65536 treated — exact integer compares, so both engines
    * draw identical outcomes), score an independent 16-bit hash. Rank
    * through [[ScaledWindow.rankCum]], explicit `((rk−1)·10) DIV n`
    * decile cut (the q_lift_deciles contract), per-decile arm
    * counts/conversions exact longs, cumulative sums over the 10-row
    * grid; Qini_k = cumConvT − cumConvC·cumNT/cumNC takes one double
    * multiply-divide per output row. */
  private val qini: Q = (s, d) => {
    val h = conv(substring(md5(col("o_orderkey").cast("string")), 1, 4),
      16, 10).cast("long")
    val h2 = conv(substring(md5(concat(lit("c:"), col("o_orderkey"))), 1, 4),
      16, 10).cast("long")
    val units = Tables.orders(s, d).select(
      col("o_orderkey"),
      pmod(col("o_custkey"), lit(2)).as("t"),
      h.as("score"), h2.as("h2"))
      .withColumn("conv",
        when(col("h2") < lit(13107L) + lit(6554L) * col("t"), 1L)
          .otherwise(0L))
    val rnk = ScaledWindow.rankCum(units,
      Seq(col("score").desc, col("o_orderkey").asc))
    val g = rnk.df
      .withColumn("decile",
        call_function("div", (col("rk") - 1) * 10, rnk.n) + 1)
      .groupBy("decile")
      .agg(
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("t") === 1, col("conv")).otherwise(0L)).as("convt"),
        sum(when(col("t") === 0, col("conv")).otherwise(0L)).as("convc"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cnt", sum("nt").over(w))
      .withColumn("cnc", sum("nc").over(w))
      .withColumn("cct", sum("convt").over(w))
      .withColumn("ccc", sum("convc").over(w))
      .select(col("decile"), col("nt").as("n_treat"), col("nc").as("n_ctrl"),
        round(col("convt").cast("double") / col("nt"), 6).as("rate_t"),
        round(col("convc").cast("double") / col("nc"), 6).as("rate_c"),
        round(col("convt").cast("double") / col("nt")
          - col("convc").cast("double") / col("nc"), 6).as("uplift"),
        round(col("cct") - col("ccc").cast("double") * col("cnt") / col("cnc"),
          4).as("qini"))
      .orderBy("decile")
  }

  /** Grouped WEIGHTED median — the robust aggregate ordinary medians
    * can't give (every unit of quantity votes, not every row):
    * smallest price p per return-flag with 2·Σ_{≤p}w ≥ Σw, all in
    * exact integers (cents × integral quantity). Scale shape: collapse
    * to the distinct (flag, price) grain, ONE global
    * [[ScaledWindow.rankCum]] pass over (flag, price) carrying the
    * weight metric, then per-flag cum = global cum − flag offset where
    * the offsets ride a window over the 3-row flag grid — grouped
    * weighted quantiles without a single data-sized partition (a plain
    * `Window.partitionBy(flag)` would put a third of the fact table in
    * one task). */
  private val weightedMedian: Q = (s, d) => {
    val g = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("w"))
    val rnk = ScaledWindow.rankCum(g,
      Seq(col("flag").asc, col("cents").asc), Seq("cumw" -> col("w")))
    val offW = Window.orderBy("flag").rowsBetween(
      Window.unboundedPreceding, -1)
    val offsets = rnk.df.groupBy("flag").agg(sum("w").as("ft"))
      .withColumn("off", coalesce(sum("ft").over(offW), lit(0L)))
    rnk.df.join(broadcast(offsets), "flag")
      .withColumn("lc", col("cumw") - col("off"))
      .filter(col("lc") * 2 >= col("ft"))
      .groupBy("flag")
      .agg(min("cents").as("mc"), max("ft").as("ftw"))
      .select(col("flag"), col("ftw").as("total_weight"),
        round(col("mc") / lit(100.0), 2).as("w_median_usd"))
      .orderBy("flag")
  }

  /** Simpson's-paradox screen — the aggregation trap detector every
    * dashboard comparison needs: does the treated-vs-control rate gap
    * REVERSE inside every stratum of a confounder? Reports the overall
    * gap, how many priority strata flip its sign, and the full-reversal
    * flag (the paradox proper). All rates are single divisions of
    * exact integer counts; sign compares happen on those raw ratios —
    * identical expression shapes cross-engine. */
  private val simpson: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderpriority").as("pri"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("t"),
        pmod(col("o_orderkey"), lit(2)).as("y"))
    def arms(df: org.apache.spark.sql.RelationalGroupedDataset) =
      df.agg(
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("t") === 1, col("y")).otherwise(0L)).as("ct"),
        sum(when(col("t") === 0, col("y")).otherwise(0L)).as("cc"))
    val diff = (col("ct").cast("double") / col("nt")) -
      (col("cc").cast("double") / col("nc"))
    val tot = arms(oc.groupBy())
      .select(diff.as("d_all"))
    arms(oc.groupBy("pri"))
      .crossJoin(broadcast(tot))
      .withColumn("rev", (diff > 0) =!= (col("d_all") > 0))
      .agg(count(lit(1)).as("n_strata"),
        round(max("d_all"), 6).as("overall_diff"),
        sum(when(col("rev"), 1L).otherwise(0L)).as("n_reversed"))
      .withColumn("simpson_flag", col("n_reversed") === col("n_strata"))
  }

  /** Laspeyres / Paasche / Fisher price indices between the 1995 and
    * 1996 part baskets — the index-number family behind every
    * inflation/pricing dashboard. Per part-year, value and quantity
    * collapse to exact longs; each cross-valued term (v₁·q₀/q₁ — the
    * base basket at current unit prices) is ONE double expression
    * rounded to integer cents before the exact sum, and Σp₀q₀ / Σp₁q₁
    * are just the exact value sums. Fisher is the geometric mean, one
    * sqrt at emission. Parts present in both years only (the matched
    * basket). */
  private val priceIndex: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .withColumn("yr", year(col("l_shipdate")))
      .filter(col("yr").isin(1995, 1996))
      .groupBy(col("l_partkey"), col("yr"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("v"),
        sum(round(col("l_quantity")).cast("long")).as("q"))
    val base = li.filter(col("yr") === 1995)
      .select(col("l_partkey"), col("v").as("v0"), col("q").as("q0"))
    val cur = li.filter(col("yr") === 1996)
      .select(col("l_partkey"), col("v").as("v1"), col("q").as("q1"))
    base.join(cur, "l_partkey")
      .agg(
        count(lit(1)).as("n_parts"),
        sum("v0").as("sv0"), sum("v1").as("sv1"),
        sum(round(col("v1").cast("double") * col("q0") / col("q1"))
          .cast("long")).as("l_num"),
        sum(round(col("v0").cast("double") * col("q1") / col("q0"))
          .cast("long")).as("p_den"))
      .select(col("n_parts"),
        round(col("l_num") / col("sv0").cast("double"), 6).as("laspeyres"),
        round(col("sv1") / col("p_den").cast("double"), 6).as("paasche"),
        round(sqrt((col("l_num") / col("sv0").cast("double"))
          * (col("sv1") / col("p_den").cast("double"))), 6).as("fisher"))
  }

  /** Train/test GROUP-leakage check — the classic split bug every ML
    * pipeline must guard against: a row-level hash split (the
    * q_sample_hash convention, md5 of the ORDER key) puts different
    * orders of the same CUSTOMER on both sides, so any
    * customer-derived feature leaks test information into training.
    * Reports how many customers span both sides and the row mass they
    * cover — plus the same check for a GROUP-level split (md5 of the
    * customer key), whose leak count must be zero by construction (the
    * built-in control). All exact integers. */
  private val splitLeakage: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      col("o_custkey"),
      (conv(substring(md5(col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("long") < 52429L).as("train_row"),
      (conv(substring(md5(col("o_custkey").cast("string")), 1, 4), 16, 10)
        .cast("long") < 52429L).as("train_grp"))
    val perUser = o.groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"),
      countDistinct("train_row").as("sides_row"),
      countDistinct("train_grp").as("sides_grp"))
    perUser.agg(
      count(lit(1)).as("n_customers"),
      sum("n_orders").as("n_orders"),
      sum(when(col("sides_row") > 1, 1L).otherwise(0L))
        .as("n_leaking_row_split"),
      sum(when(col("sides_row") > 1, col("n_orders")).otherwise(0L))
        .as("rows_in_leaking_groups"),
      sum(when(col("sides_grp") > 1, 1L).otherwise(0L))
        .as("n_leaking_group_split"))
      .withColumn("leak_rate",
        round(col("n_leaking_row_split").cast("double")
          / col("n_customers"), 6))
      .withColumn("group_split_clean", col("n_leaking_group_split") === 0)
  }

  /** k-anonymity / l-diversity profile — the privacy pre-flight a
    * dataset release runs before export: how many quasi-identifier
    * equivalence classes (nationkey × mktsegment) have fewer than k
    * members (re-identifiable), and how many lack l distinct values of
    * the sensitive attribute (attribute-disclosable even at size ≥ k).
    * One groupBy to the class grain, one 1-row aggregate — everything
    * exact integers. */
  private val kAnonymity: Q = (s, d) => {
    val k = 10
    val classes = Tables.customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("c_acctbal") > 0).as("ldiv"))
    classes.agg(
      lit(k.toLong).as("k"),
      sum("sz").as("n_rows"),
      count(lit(1)).as("n_classes"),
      min("sz").as("min_class"),
      sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_small_classes"),
      sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("n_rows_at_risk"),
      sum(when(col("ldiv") < 2, 1L).otherwise(0L)).as("n_low_ldiv"))
  }

  /** Information gain per candidate feature — the split criterion
    * behind every tree learner, as a feature-selection read-out:
    * IG(f) = H(y) − Σ_g (n_g/n)·H(y|f=g) for the binary target. Each
    * group's weighted entropy term n_g·H_g is ONE expression over
    * exact integer counts, rounded to MICRO-bits before the
    * (contingency-sized) sum — exact long addition, no float
    * association. Pure-group p∈{0,1} terms are zero by the CASE guard
    * (the 0·log 0 = 0 convention, never NaN). */
  private val infoGain: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority"),
        col("c_nationkey").cast("string").as("nation"),
        pmod(col("o_orderkey"), lit(2)).as("y"))
    def h(pos: Column, n: Column): Column = {
      val p = pos.cast("double") / n
      when(pos === 0 || pos === n, lit(0.0))
        .otherwise(-(p * log2(p) + (lit(1.0) - p) * log2(lit(1.0) - p)))
    }
    val tot = oc.agg(count(lit(1)).as("n"), sum("y").as("pos"))
      .select(col("n"), round(h(col("pos"), col("n")), 6).as("h_y"))
    def ig(feature: String, name: String): DataFrame =
      oc.groupBy(col(feature).as("g"))
        .agg(count(lit(1)).as("ng"), sum("y").as("posg"))
        .select(col("ng"),
          round(h(col("posg"), col("ng")) * col("ng") * 1000000)
            .cast("long").as("hm"))
        .agg(count(lit(1)).as("n_groups"), sum("hm").as("shm"))
        .crossJoin(broadcast(tot))
        .select(lit(name).as("feature"), col("n_groups"), col("h_y"),
          round(col("h_y") - col("shm") / (col("n") * lit(1000000.0)), 6)
            .as("info_gain"))
    ig("c_mktsegment", "mktsegment")
      .unionAll(ig("o_orderpriority", "orderpriority"))
      .unionAll(ig("nation", "nationkey"))
      .orderBy("feature")
  }

  /** Sample-ratio-mismatch guardrail — the first check on any A/B
    * readout (a biased assignment invalidates every downstream
    * statistic before the analysis even starts): chi-square
    * goodness-of-fit of the two arm counts against the designed 50/50
    * split, which collapses to χ² = (n_a−n_b)²/(n_a+n_b) — exact
    * integers, one double division, flag at the α=0.05 critical value
    * 3.841. One user-grain distinct + one 1-row aggregate. */
  /** Kendall's tau-b between two VALUE series on the calendar-day grid
    * (daily revenue vs daily order volume) — the bivariate concordance
    * twin of [[mannKendall]] (which correlates one series against
    * TIME): do high-revenue days and busy days move together, robust
    * to outliers and any monotone rescaling? All pair classifications
    * (concordant / discordant / x-tied / y-tied) are exact long counts
    * from ONE pass over the day-pair grid; tau-b's tie-corrected
    * denominator is two mirrored sqrt calls at emission. The pair join
    * rides the 2 399-day calendar grid (time-range-bounded, the
    * q_theil_sen broadcast class — NOT data-sized). */
  private val kendallTau: Q = (s, d) => {
    val daily = OrdersDaily.withCnt(s, d)
      .select(col("day"), col("v"), col("cnt").as("c"))
    val b = daily.select(col("day").as("d2"), col("v").as("v2"),
      col("c").as("c2"))
    daily.join(broadcast(b), col("day") < col("d2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when((col("v2") > col("v") && col("c2") > col("c"))
          || (col("v2") < col("v") && col("c2") < col("c")), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("v2") > col("v") && col("c2") < col("c"))
          || (col("v2") < col("v") && col("c2") > col("c")), 1L)
          .otherwise(0L)).as("nd"),
        sum(when(col("v2") === col("v"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("c2") === col("c"), 1L).otherwise(0L)).as("ty"))
      .select(col("n_pairs"), col("nc"), col("nd"),
        round((col("nc") - col("nd")).cast("double")
          / (sqrt((col("n_pairs") - col("tx")).cast("double"))
            * sqrt((col("n_pairs") - col("ty")).cast("double"))), 6)
          .as("tau_b"))
  }

  /** Theil T inequality index of customer revenue, decomposed into
    * within-nation + between-nation shares — the property [[gini]]
    * lacks (Gini does not decompose additively; Theil answers "how
    * much inequality is BETWEEN segments vs INSIDE them", the
    * population-drilldown question). Float protocol: each entropy term
    * (x/μ)·ln(x/μ) is ONE mirrored expression rounded to integer
    * MICRO-nats before its exact long sum (customer-grain for T_total,
    * 25-nation grain for T_between); T_within is the difference of the
    * two micro totals. Shape: one customer-grain aggregate + two
    * 1-row-broadcast cross joins — no window. */
  private val theilIndex: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
    val tot = rev.agg(sum("r").as("st"), count(lit(1)).as("n"))
    val ratio = col("r") / (col("st") / col("n"))
    val tt = rev.crossJoin(broadcast(tot))
      .select(round(lit(1000000.0) * ratio * log(ratio)).cast("long")
        .as("term"))
      .agg(sum("term").as("tm"))
    val ng = rev.groupBy("c_nationkey")
      .agg(sum("r").as("rg"), count(lit(1)).as("cg"))
    val sg = col("rg") / col("st")
    val tb = ng.crossJoin(broadcast(tot))
      .select(round(lit(1000000.0) * sg
        * log(sg / (col("cg") / col("n")))).cast("long").as("term"))
      .agg(sum("term").as("tbm"))
    tot.crossJoin(broadcast(tt)).crossJoin(broadcast(tb))
      .select(col("n").as("n_customers"),
        round(col("tm") / (lit(1000000.0) * col("n")), 6).as("t_total"),
        round(col("tbm") / lit(1000000.0), 6).as("t_between"),
        round(col("tm") / (lit(1000000.0) * col("n"))
          - col("tbm") / lit(1000000.0), 6).as("t_within"))
  }

  /** One-way ANOVA of order value across customer nations — the
    * parametric group-difference omnibus the surface lacked (the
    * pairwise tests exist: Welch-z, logrank; ANOVA asks "do the 25
    * nation means differ AT ALL" in one shot), plus the two effect
    * sizes analysts read off the same decomposition: η² = SSB/SST and
    * the intraclass correlation ICC(1). Sum decomposition protocol:
    * per-nation Σx and Σx² are exact int128; each between-group term
    * Sg²/n_g is ONE mirrored double rounded to integer cents² before
    * the 25-term exact sum; F/η²/ICC are a few mirrored double ops at
    * emission. Two map-side aggregates + a 1-row cross join — no
    * window. */
  private val anova: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
    val grp = oc.groupBy("g").agg(count(lit(1)).as("ng"),
      sum(col("x").cast(dec)).as("sg"))
    val cg = grp.select(col("ng"),
      round((col("sg") * col("sg")).cast("double") / col("ng"))
        .cast("long").as("cg"),
      (col("ng").cast(dec) * col("ng")).as("ng2"))
    // scg and the correction term reach ~9.4e18 at sf0.01 — past
    // Long.MaxValue — so both ride DECIMAL(38,0)/int128
    val parts = cg.agg(count(lit(1)).as("k"), sum("ng").as("n"),
      sum(col("cg").cast(dec)).as("scg"), sum("ng2").as("sng2"))
    val tot = oc.agg(sum(col("x").cast(dec)).as("sx"),
      sum(col("x").cast(dec) * col("x")).as("sxx"))
    val all = parts.crossJoin(broadcast(tot))
      .withColumn("corr",
        round((col("sx") * col("sx")).cast("double") / col("n"))
          .cast(dec))
      .withColumn("ssb", (col("scg") - col("corr")).cast("double"))
      .withColumn("ssw", (col("sxx") - col("scg")).cast("double"))
      .withColumn("sst", (col("sxx") - col("corr")).cast("double"))
    val msb = col("ssb") / (col("k") - 1)
    val msw = col("ssw") / (col("n") - col("k"))
    val n0 = (col("n") - col("sng2").cast("double") / col("n")) /
      (col("k") - 1)
    all.select(col("k").as("n_groups"), col("n").as("n_orders"),
      round(msb / msw, 4).as("f_stat"),
      round(col("ssb") / col("sst"), 6).as("eta2"),
      round((msb - msw) / (msb + (n0 - 1) * msw), 6).as("icc1"))
  }

  /** Welch's heteroscedastic one-way ANOVA across customer nations —
    * the unequal-variances form an analyst reaches for FIRST when the
    * group spreads differ (classic [[anova]] assumes one pooled σ²;
    * with unequal n_g AND unequal s²_g its F is anti-conservative).
    * F_W = [Σw_g(m̄_g − m̄_w)²/(k−1)] / [1 + (2(k−2)/(k²−1))·Λ],
    * w_g = n_g/s²_g, Λ = Σ(1−w_g/W)²/(n_g−1); Welch–Satterthwaite
    * df2 = (k²−1)/(3Λ).
    *
    * Exactness protocol (the [[anova]] int128 craft, two-stage with a
    * broadcast stage-1 total): per-group Σx/Σx² exact int128; m̄_g and
    * s²_g one mirrored double expression each; w_g MICRO-ROUNDED to
    * 1e-18 integer units so ΣW and Σw_g·m̄_g are exact, order-free
    * sums; the weighted grand mean broadcasts back (1-row) and each
    * w_g(m̄_g−m̄_w)² / Λ-term is one mirrored double rounded to
    * integer units BEFORE its k-term exact sum. The a-terms pass
    * Long.MaxValue at sf≥0.1 so they ride DECIMAL(38,0) — at that
    * magnitude round()'s double is already an exact integer and the
    * decimal/HUGEINT casts agree (the [[levene]] precedent). One
    * division per statistic at emission. Two map-side aggregates plus
    * two 1-row broadcasts — no window, no data-sized shuffle. */
  private val welchAnova: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
    val grp = oc.groupBy("g").agg(count(lit(1)).as("ng"),
      sum(col("x").cast(dec)).as("sg"),
      sum(col("x").cast(dec) * col("x")).as("sgg"))
    val gm = grp.select(col("ng"),
      (col("sg").cast("double") / col("ng")).as("m"),
      ((col("sgg").cast("double")
        - round((col("sg") * col("sg")).cast("double") / col("ng")))
        / (col("ng") - 1)).as("s2"))
      .withColumn("wi",
        round(lit(1e18) * col("ng") / col("s2")).cast("long"))
      .withColumn("twm", round(col("wi") * col("m")).cast(dec))
    val stage1 = gm.agg(count(lit(1)).as("k"), sum("ng").as("n"),
      sum("wi").as("w"), sum("twm").as("swm"))
      .withColumn("grand", col("swm").cast("double") / col("w"))
    val terms = gm.crossJoin(broadcast(stage1))
      .select(
        round(col("wi") * (col("m") - col("grand"))
          * (col("m") - col("grand"))).cast(dec).as("a_term"),
        round(lit(1e15)
          * (lit(1.0) - col("wi").cast("double") / col("w"))
          * (lit(1.0) - col("wi").cast("double") / col("w"))
          / (col("ng") - 1)).cast("long").as("c_term"))
      .agg(sum("a_term").as("sa"), sum("c_term").as("sc"))
    val out = stage1.crossJoin(broadcast(terms))
    val lam = col("sc").cast("double") / lit(1e15)
    val fw = (col("sa").cast("double") / lit(1e18) / (col("k") - 1)) /
      (lit(1.0) + lit(2.0) * (col("k") - 2)
        / (col("k") * col("k") - 1) * lam)
    // F(24, df2 ≳ 500) at α = .05 ≈ 1.55 — df2 is emitted so the
    // reader can check the asymptote applies at their SF
    out.select(col("k").as("n_groups"), col("n").as("n_orders"),
      round(fw, 4).as("f_stat"),
      round((col("k") * col("k") - 1).cast("double") / (lit(3.0) * lam),
        2).as("df2"),
      (fw > lit(1.55)).as("reject_equal_means"))
  }

  /** Two-way ANOVA (order priority × customer credit standing) on
    * order value — via REGRESSION sums of squares, because the data is
    * unbalanced: cell-means "SS_A = Σ n·(row mean − grand)²" formulas
    * are only valid under equal cell counts, and real warehouse data
    * never has them. Sequential (Type-I) decomposition, A then B then
    * A×B:
    *   SS_A       = Σ_g S_g²/n_g − S²/n          (group means fit A)
    *   SS_B|A     = β̂_B²·D   by Frisch–Waugh: absorb factor A by
    *                within-group centering; for a BINARY B the partial
    *                slope is closed-form β̂_B = Σ_g(S_g1 − n_g1·S_g/n_g)
    *                / D with D = Σ_g(n_g1 − n_g1²/n_g)
    *   SS_AB|A,B  = [Σ_cells S_c²/n_c − S²/n] − SS_A − SS_B|A
    *                (with binary B the full interaction model IS the
    *                cell-means model, 2a cells)
    *   SS_err     = Σx² − Σ_cells S_c²/n_c,  df_err = n − 2a.
    * Exactness: every S, Σx² is int128; every Σ²/n quadratic is the
    * [[anova]] round-to-integer idiom; the FWL numerator terms are
    * micro-rounded to integer cents and D-terms to 1e-6 units BEFORE
    * their a-term exact sums; F ratios are mirrored double ops at
    * emission. One cells aggregate (2a rows) feeds everything — a
    * single map-side-combined groupBy over the joined fact. */
  private val anovaTwoWay: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderpriority").as("a"),
        (col("c_acctbal") > 0).cast("int").as("b"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
    val cells = oc.groupBy("a", "b").agg(count(lit(1)).as("nc"),
      sum(col("x").cast(dec)).as("sc"),
      sum(col("x").cast(dec) * col("x")).as("sxxc"))
      .withColumn("cc",
        round((col("sc") * col("sc")).cast("double") / col("nc"))
          .cast(dec))
    val byA = cells.groupBy("a").agg(
      sum("nc").as("ng"), sum("sc").as("sg"),
      sum(when(col("b") === 1, col("nc")).otherwise(0L)).as("n1"),
      sum(when(col("b") === 1, col("sc")).otherwise(lit(0).cast(dec)))
        .as("s1"))
      .select(
        round((col("sg") * col("sg")).cast("double") / col("ng"))
          .cast(dec).as("cg"),
        round(col("s1").cast("double")
          - col("n1") * col("sg").cast("double") / col("ng"))
          .cast("long").as("numt"),
        round(lit(1e6) * (col("n1").cast("double")
          - col("n1").cast("double") * col("n1") / col("ng")))
          .cast("long").as("dent"))
      .agg(count(lit(1)).as("ka"), sum("cg").as("ma"),
        sum("numt").as("snum"), sum("dent").as("sden"))
    val tot = cells.agg(sum("nc").as("n"), sum("sc").as("sx"),
      sum("sxxc").as("sxx"), sum("cc").as("mc"),
      count(lit(1)).as("kc"))
      .withColumn("corr",
        round((col("sx") * col("sx")).cast("double") / col("n"))
          .cast(dec))
    val all = tot.crossJoin(broadcast(byA))
    val bB = col("snum").cast("double") * lit(1e6) / col("sden")
    val ssA = (col("ma") - col("corr")).cast("double")
    val ssB = bB * bB * (col("sden").cast("double") / lit(1e6))
    val ssCells = (col("mc") - col("corr")).cast("double")
    val ssAB = ssCells - ssA - ssB
    val ssErr = (col("sxx") - col("mc")).cast("double")
    val mse = ssErr / (col("n") - col("kc"))
    all.select(col("n").as("n_orders"), col("kc").as("n_cells"),
      round(bB / lit(100.0), 4).as("b_posbal_dollars"),
      round((ssA / (col("ka") - 1)) / mse, 4).as("f_priority"),
      round(ssB / mse, 4).as("f_posbal"),
      round((ssAB / (col("ka") - 1)) / mse, 4).as("f_interaction"))
  }

  /** The stage-1 daily-revenue trend fit of [[cooksDistance]],
    * [[breuschPagan]] and [[resetTest]]: `base` (`rk`, `v` in cents)
    * crossed with its 1-row Cramer fit over five exact int128 moment
    * sums (`n`, `sx`, `sy`, `sxx`, `sxy`; the granger protocol), plus
    * the `b1`/`b0` coefficient columns. */
  private def trendFit(base: DataFrame): DataFrame = {
    val fit = base.agg(count(lit(1)).as("n"),
      sum(col("rk").cast(dec)).as("sx"),
      sum(col("v").cast(dec)).as("sy"),
      sum(col("rk").cast(dec) * col("rk")).as("sxx"),
      sum(col("rk").cast(dec) * col("v")).as("sxy"))
    base.crossJoin(broadcast(fit))
      .withColumn("b1",
        (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast("double"))
      .withColumn("b0",
        (col("sy").cast("double") - col("b1") * col("sx").cast("double"))
          / col("n"))
  }

  /** Cook's distance / leverage screen on the daily-revenue trend fit
    * — the influence diagnostic that completes the regression family
    * next to [[vif]]/durbin_watson: which single days, if dropped,
    * would move the fitted trend the most? Simple regression of daily
    * revenue (cents) on the [[OrdersDaily.indexed]] day index gives
    * the closed forms h_i = 1/n + (x_i−x̄)²/Sxx and
    * D_i = e_i²h_i / (p·s²·(1−h_i)²), p = 2, s² = RSS/(n−2).
    * Exactness: the OLS fit is Cramer over five int128 moment sums
    * (the granger protocol); residuals are micro-rounded to integer
    * cents BEFORE squaring so RSS is an exact int128 sum; h_i/D_i are
    * mirrored double expressions; ORDER BY the ROUNDED D (then day) so
    * a sub-round float wiggle can never flip the emitted top-k. The
    * day grid is calendar-bounded (2 399 rows at every SF) — the
    * 1-row fit broadcast is the only join. */
  private val cooksDistance: Q = (s, d) => {
    val withFit = trendFit(OrdersDaily.indexed(s, d)
        .select(col("day"), col("rk"), col("v")))
      .withColumn("e",
        round(col("v") - (col("b0") + col("b1") * col("rk")))
          .cast("long"))
    val rss = withFit
      .agg(sum(col("e").cast(dec) * col("e")).as("rss"))
    val scored = withFit.crossJoin(broadcast(rss))
      .withColumn("s2", col("rss").cast("double") / (col("n") - 2))
      .withColumn("h", lit(1.0) / col("n")
        + (col("rk") - col("sx").cast("double") / col("n"))
        * (col("rk") - col("sx").cast("double") / col("n"))
        / (col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")
            / col("n")))
      .withColumn("cook_d",
        round(col("e").cast("double") * col("e") * col("h")
          / (lit(2.0) * col("s2")
            * (lit(1.0) - col("h")) * (lit(1.0) - col("h"))), 6))
    scored.select(col("day"), round(col("h"), 6).as("leverage"),
        col("cook_d"))
      .orderBy(col("cook_d").desc, col("day").asc)
      .limit(10)
  }

  /** Breusch–Pagan heteroscedasticity test on the daily-revenue trend
    * fit — the diagnostic that decides whether [[cooksDistance]]'s s²
    * (and every OLS standard error) can be trusted as ONE number:
    * regress the squared residuals on the regressor; LM = n·R² ~ χ²(1)
    * under homoscedasticity (the Koenker studentized form, robust to
    * non-normal errors). Stage 1 is the shared [[trendFit]];
    * residuals micro-round to integer DOLLARS before squaring (the
    * q_arch_lm headroom rule: cents⁴ sums approach the
    * 38-digit DECIMAL ceiling at sf1); stage 2's moment sums over
    * (rk, e²) are exact int128 with R² a mirrored double at emission.
    * Day-grid bounded, two aggregates + a 1-row broadcast. */
  private val breuschPagan: Q = (s, d) => {
    val e2 = trendFit(OrdersDaily.indexed(s, d).select(col("rk"), col("v")))
      .select(col("rk"),
        round((col("v") - (col("b0") + col("b1") * col("rk"))) / 100)
          .cast("long").as("e"))
      .select(col("rk"), (col("e").cast(dec) * col("e")).as("z"))
    val st2 = e2.agg(count(lit(1)).as("n2"),
      sum(col("rk").cast(dec)).as("sx2"),
      sum(col("z")).as("sz"),
      sum(col("rk").cast(dec) * col("rk")).as("sxx2"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("rk").cast(dec) * col("z")).as("sxz"))
    val num = (col("n2").cast(dec) * col("sxz") - col("sx2") * col("sz"))
      .cast("double")
    val r2 = num * num /
      ((col("n2").cast(dec) * col("sxx2") - col("sx2") * col("sx2"))
        .cast("double") *
        (col("n2").cast(dec) * col("szz") - col("sz") * col("sz"))
          .cast("double"))
    st2.select(col("n2").as("n_days"),
      round(col("n2").cast("double") * r2, 4).as("lm"),
      round(r2, 6).as("r2"),
      (col("n2").cast("double") * r2 > lit(3.841)).as("reject_homosked"))
  }

  /** Ramsey RESET specification test on the same trend fit — is the
    * linear form MISSPECIFIED (curvature the line can't express)? Add
    * the squared fitted value as a regressor and F-test its slope:
    * y ~ 1 + x + ŷ²; F = (RSS_r − RSS_u)/(RSS_u/(n−3)) ~ F(1, n−3).
    * The unrestricted fit is [[granger]]'s 3×3 Cramer closed form
    * over exact moment sums. ŷ is micro-rounded to integer DOLLARS
    * before squaring (the headroom rule — ŷ² in cents² would put
    * Σ(ŷ²)² past DECIMAL(38,0) at sf1), so every stage-2 sum is an
    * exact int128 and the F emission is mirrored doubles. */
  private val resetTest: Q = (s, d) => {
    // z = round(ŷ/100)² — dollars², an exact long per row
    val zed = trendFit(OrdersDaily.indexed(s, d).select(col("rk"), col("v")))
      .withColumn("yhd",
        round((col("b0") + col("b1") * col("rk")) / 100).cast("long"))
      .select(col("rk"), col("v"),
        (col("yhd").cast(dec) * col("yhd")).as("z"))
    val st = zed.agg(count(lit(1)).as("n"),
      sum(col("rk").cast(dec)).as("sx"),
      sum(col("v").cast(dec)).as("sy"),
      sum(col("z")).as("sz"),
      sum(col("rk").cast(dec) * col("rk")).as("sxx"),
      sum(col("rk").cast(dec) * col("v")).as("sxy"),
      sum(col("rk").cast(dec) * col("z")).as("sxz"),
      sum(col("v").cast(dec) * col("v")).as("syy"),
      sum(col("v").cast(dec) * col("z")).as("syz"),
      sum(col("z") * col("z")).as("szz"))
    def D(c: String) = col(c).cast("double")
    val (n, sx, sy, sz) = (D("n"), D("sx"), D("sy"), D("sz"))
    val (sxx, sxy, sxz) = (D("sxx"), D("sxy"), D("sxz"))
    val (syy, syz, szz) = (D("syy"), D("syz"), D("szz"))
    val det = n * (sxx * szz - sxz * sxz) -
      sx * (sx * szz - sxz * sz) +
      sz * (sx * sxz - sxx * sz)
    val b0 = (sy * (sxx * szz - sxz * sxz) -
      sx * (sxy * szz - sxz * syz) +
      sz * (sxy * sxz - sxx * syz)) / det
    val b1 = (n * (sxy * szz - sxz * syz) -
      sy * (sx * szz - sxz * sz) +
      sz * (sx * syz - sxy * sz)) / det
    val b2 = (n * (sxx * syz - sxy * sxz) -
      sx * (sx * syz - sxy * sz) +
      sy * (sx * sxz - sxx * sz)) / det
    val rssU = syy - (b0 * sy + b1 * sxy + b2 * syz)
    val b1r = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val rssR = (syy - sy * sy / n) - b1r * b1r * (sxx - sx * sx / n)
    val f = (rssR - rssU) / (rssU / (n - 3))
    st.select(col("n").as("n_days"),
      round(b2 * lit(1e12), 6).as("b_yhat2_e12"),
      round(f, 4).as("f_stat"),
      (f > lit(3.842)).as("reject_linear"))
  }

  /** Kruskal–Wallis rank ANOVA across customer nations — the
    * nonparametric twin of [[anova]] (rank-based, so outliers and
    * skew cannot fake or mask a group difference). Global average
    * ranks carried DOUBLED (the [[spearman]] contract — integral, so
    * per-nation rank sums are exact int128 via [[ScaledWindow]]'s
    * distinct-value grain); each Dg²/n_g term is one mirrored double
    * rounded to integer quarter-units before the 25-term sum; the
    * tie-corrected H is a few mirrored double ops at emission. */
  private val kruskal: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("g"), col("o_totalprice").as("x"))
    val vals = oc.groupBy("x").agg(count(lit(1)).as("c"))
    val rnk = ScaledWindow.rankCum(vals, Seq(col("x").asc),
      Seq("cum" -> col("c")))
    val dmap = rnk.df
      .select(col("x"), (lit(2) * col("cum") - col("c") + 1).as("dr"))
    val n = rnk.totals("cum")
    val grp = oc.join(dmap, "x").groupBy("g")
      .agg(count(lit(1)).as("ng"), sum(col("dr").cast(dec)).as("dg"))
    val terms = grp.select(col("ng"),
      round((col("dg") * col("dg")).cast("double") / (lit(4) * col("ng")))
        .cast("long").as("t"))
      .agg(count(lit(1)).as("k"), sum("t").as("st"))
    val ties = vals.filter(col("c") > 1)
      .agg(coalesce(sum(col("c").cast(dec) * col("c") * col("c") -
        col("c")), lit(0).cast(dec)).as("t3"))
    val h = lit(12.0) / (n * (n + 1)) * col("st") - lit(3.0) * (n + 1)
    val corr = lit(1.0) - col("t3").cast("double") /
      (n.cast(dec) * n * n - n).cast("double")
    terms.crossJoin(broadcast(ties))
      .select(col("k").as("n_groups"), n.as("n_orders"),
        round(h / corr, 4).as("h_stat"),
        ((h / corr) > lit(36.415)).as("reject_equal"))
  }

  /** Partial correlation r(quantity, price | discount) — the
    * confound-adjusted association read beside plain Pearson
    * (q_agg_corr): how much of the quantity↔price relationship
    * survives once the discount channel is held fixed? All three
    * pairwise Pearsons come from NINE exact int128 moment sums over
    * one integer-scaled pass (quantity ×100, price cents, discount
    * ×100 — all integral in this data), then
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) as mirrored
    * doubles reusing the same three correlation expression trees.
    * One map-side aggregate, no window, no join. */
  private val partialCorr: Q = (s, d) => {
    val t = Tables.lineitem(s, d).select(
      round(col("l_quantity") * 100).cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"),
      round(col("l_discount") * 100).cast("long").as("z"))
    val a = t.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum(col("z").cast(dec)).as("sz"),
      sum(col("x").cast(dec) * col("x")).as("sxx"),
      sum(col("y").cast(dec) * col("y")).as("syy"),
      sum(col("z").cast(dec) * col("z")).as("szz"),
      sum(col("x").cast(dec) * col("y")).as("sxy"),
      sum(col("x").cast(dec) * col("z")).as("sxz"),
      sum(col("y").cast(dec) * col("z")).as("syz"))
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      (col("n").cast(dec) * col(sab) - col(sa) * col(sb)).cast("double") /
        (sqrt((col("n").cast(dec) * col(saa) - col(sa) * col(sa))
          .cast("double")) *
          sqrt((col("n").cast(dec) * col(sbb) - col(sb) * col(sb))
            .cast("double")))
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    a.select(col("n").as("n_rows"),
      round(rxy, 6).as("r_xy"),
      round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"),
      round((rxy - rxz * ryz) /
        sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
        .as("partial_r"))
  }

  /** Friedman test — the nonparametric TWO-WAY omnibus ([[kruskal]]
    * pools all orders; Friedman blocks by MONTH and asks whether the
    * nation effect is consistent ACROSS months, immune to the common
    * month-level shocks that inflate a pooled test): nations ranked
    * within each month's complete 25-cell block (missing cells are
    * explicit zero-revenue rows via the month×nation grid, so every
    * block is complete), doubled average ranks dr = 2(rank−1)+t+1
    * exact integers from two bounded windows, per-nation rank sums
    * exact int128, χ²_F mirrored doubles at emission. */
  private val friedman: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("mth"),
        col("c_nationkey").as("g"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
    val months = oc.select("mth").distinct()
    val nations = Tables.nation(s, d).select(col("n_nationkey").as("g"))
    val grid = months.crossJoin(broadcast(nations))
      .join(oc, Seq("mth", "g"), "left")
      .na.fill(0L, Seq("v"))
    val wLess = Window.partitionBy("mth").orderBy(col("v"))
    val wTie = Window.partitionBy("mth", "v")
    val rj = grid
      .withColumn("r", rank().over(wLess))
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("dr", lit(2) * (col("r") - 1) + col("t") + 1)
      .groupBy("g").agg(sum("dr").as("drj"))
    val nb = months.agg(count(lit(1)).as("nb"))
    val chi2 = lit(12.0) / (col("nb") * col("k") * (col("k") + 1)) *
      (col("s2").cast("double") / 4) -
      lit(3.0) * col("nb") * (col("k") + 1)
    rj.agg(count(lit(1)).as("k"),
        sum(col("drj").cast(dec) * col("drj")).as("s2"))
      .crossJoin(broadcast(nb))
      .select(col("nb").as("n_blocks"), col("k").as("n_groups"),
        round(chi2, 4).as("chi2_f"),
        (chi2 > lit(36.415)).as("reject_equal"))
  }

  /** Jarque–Bera normality test on order values — the distributional
    * pre-flight before any test that assumes Gaussian errors (the
    * t/z/ANOVA family above): JB = n/6·(S² + K²/4) from sample
    * skewness S and excess kurtosis K. The four raw moment sums Σx^p
    * are EXACT int128/decimal (x in cents; x⁴ ≈ 1e28 per row stays
    * far under the 38-digit cap at bench scale); central moments and
    * JB are mirrored double expressions at emission, χ²₂ flag at
    * α=0.05. One map-side aggregate, no window, no join. */
  private val jarqueBera: Q = (s, d) => {
    val x = round(col("o_totalprice") * 100).cast("long")
    val a = Tables.orders(s, d)
      .select(x.as("x"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("s1"),
        sum(col("x").cast(dec) * col("x")).as("s2"),
        sum(col("x").cast(dec) * col("x") * col("x")).as("s3"),
        sum(col("x").cast(dec) * col("x") * col("x") * col("x"))
          .as("s4"))
    val m = col("s1").cast("double") / col("n")
    val m2 = col("s2").cast("double") / col("n") - m * m
    val m3 = col("s3").cast("double") / col("n") -
      lit(3.0) * m * (col("s2").cast("double") / col("n")) +
      lit(2.0) * m * m * m
    val m4 = col("s4").cast("double") / col("n") -
      lit(4.0) * m * (col("s3").cast("double") / col("n")) +
      lit(6.0) * m * m * (col("s2").cast("double") / col("n")) -
      lit(3.0) * m * m * m * m
    val sk = m3 / sqrt(m2 * m2 * m2)
    val ku = m4 / (m2 * m2) - lit(3.0)
    val jb = col("n") / lit(6.0) * (sk * sk + ku * ku / 4)
    a.select(col("n").as("n_orders"),
      round(sk, 6).as("skewness"),
      round(ku, 6).as("excess_kurtosis"),
      round(jb, 4).as("jb_stat"),
      (jb > lit(5.991)).as("reject_normal"))
  }

  /** Tukey-HSD-style post-hoc screen after [[anova]] — which nation
    * PAIRS actually differ once the omnibus fires: pairwise mean gaps
    * on the 25-nation grid (≤300 pairs) against the studentized-range
    * margin q*·√(MSW/2·(1/nᵢ+1/nⱼ)), q* = 5.0 (a stated illustrative
    * constant — critical-value tables are environment data, the
    * operator contract is the pairwise mechanics). Means are mirrored
    * doubles from exact int128 sums; MSW is recomputed via the
    * [[anova]] protocol. Output: every pair with its gap, margin
    * (USD) and significance flag. */
  private val tukeyHsd: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
    val grp = oc.groupBy("g").agg(count(lit(1)).as("ng"),
      sum(col("x").cast(dec)).as("sg"))
    val cg = grp.select(col("ng"),
      round((col("sg") * col("sg")).cast("double") / col("ng"))
        .cast("long").as("cg"))
    val parts = cg.agg(count(lit(1)).as("k"), sum("ng").as("n"),
      sum(col("cg").cast(dec)).as("scg"))
    val tot = oc.agg(sum(col("x").cast(dec) * col("x")).as("sxx"))
    val msw = parts.crossJoin(broadcast(tot))
      .select(((col("sxx") - col("scg")).cast("double") /
        (col("n") - col("k"))).as("msw"))
    val b = grp.select(col("g").as("g2"), col("ng").as("ng2"),
      col("sg").as("sg2"))
    val gap = abs(col("sg").cast("double") / col("ng") -
      col("sg2").cast("double") / col("ng2"))
    val margin = lit(5.0) * sqrt(col("msw") / 2 *
      (lit(1.0) / col("ng") + lit(1.0) / col("ng2")))
    grp.join(broadcast(b), col("g") < col("g2"))
      .crossJoin(broadcast(msw))
      .select(col("g").as("nation_a"), col("g2").as("nation_b"),
        round(gap / lit(100.0), 2).as("gap_usd"),
        round(margin / lit(100.0), 2).as("margin_usd"),
        (gap > margin).as("significant"))
      .orderBy("nation_a", "nation_b")
  }

  /** Games–Howell post-hoc screen — [[tukeyHsd]]'s heteroscedastic
    * twin, completing the [[welchAnova]] family: when the group
    * variances differ, Tukey's pooled-MSW margin is wrong for exactly
    * the pairs that matter, so GH gives each PAIR its own standard
    * error √(s²ᵢ/nᵢ + s²ⱼ/nⱼ) and Welch–Satterthwaite df. Same stated
    * illustrative critical constant contract as tukeyHsd (√2·|t| vs
    * q* = 5.0 — critical tables are environment data; the operator
    * contract is the pairwise mechanics, and the per-pair df is
    * EMITTED so any table can be applied downstream). Group moments
    * are mirrored doubles from exact int128 sums; the ≤300-pair
    * nation grid rides one reviewed broadcast join. */
  private val gamesHowell: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
    val grp = oc.groupBy("g").agg(count(lit(1)).as("ng"),
      sum(col("x").cast(dec)).as("sg"),
      sum(col("x").cast(dec) * col("x")).as("sgg"))
    val gm = grp.select(col("g"), col("ng"),
      (col("sg").cast("double") / col("ng")).as("m"),
      (((col("sgg").cast("double")
        - round((col("sg") * col("sg")).cast("double") / col("ng")))
        / (col("ng") - 1)) / col("ng")).as("s2n"))
    val b = gm.select(col("g").as("g2"), col("ng").as("ng2"),
      col("m").as("m2"), col("s2n").as("s2n2"))
    val se = sqrt(col("s2n") + col("s2n2"))
    val t = abs(col("m") - col("m2")) / se
    val dfW = (col("s2n") + col("s2n2")) * (col("s2n") + col("s2n2")) /
      (col("s2n") * col("s2n") / (col("ng") - 1) +
        col("s2n2") * col("s2n2") / (col("ng2") - 1))
    gm.join(broadcast(b), col("g") < col("g2"))
      .select(col("g").as("nation_a"), col("g2").as("nation_b"),
        round(abs(col("m") - col("m2")) / lit(100.0), 2).as("gap_usd"),
        round(t, 4).as("t_stat"),
        round(dfW, 2).as("df_w"),
        (t * lit(math.sqrt(2.0)) > lit(5.0)).as("significant"))
      .orderBy("nation_a", "nation_b")
  }

  /** Benjamini–Hochberg FDR correction — the multiple-testing
    * guardrail every per-segment experiment read-out needs (screen 25
    * nations at α=0.05 and ~1 sham "winner" appears by chance; BH
    * caps the expected FALSE-DISCOVERY share instead of the
    * family-wise error, so it keeps power at many tests). One
    * two-proportion z-test per nation (urgent-order share vs the rest,
    * exact counts, one mirrored expression), a logistic approximation
    * of the two-sided normal p (2/(1+e^{1.702|z|}), identical shape
    * both engines, round-8 BEFORE the ordering so the rank can never
    * flip cross-engine), then the step-up on the 25-row grid:
    * reject iff rank ≤ max{i : pᵢ ≤ i·α/m}; adjusted
    * p = min_{j≥i}(pⱼ·m/j) ∧ 1 via a trailing-min window. Every
    * window rides the nation grid (≤ 25 rows). */
  private val fdrBh: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("x"),
        count(lit(1)).as("n"))
    val all = Window.partitionBy()
    val t = oc
      .withColumn("xt", sum("x").over(all))
      .withColumn("nt", sum("n").over(all))
      .withColumn("m", count(lit(1)).over(all))
    val zv = (col("x") / col("n") - (col("xt") - col("x"))
        / (col("nt") - col("n"))) /
      sqrt(col("xt") / col("nt") * (lit(1.0) - col("xt") / col("nt"))
        * (lit(1.0) / col("n") + lit(1.0) / (col("nt") - col("n"))))
    val p = t.withColumn("zv", zv)
      .withColumn("pv", round(lit(2.0)
        / (lit(1.0) + exp(lit(1.702) * abs(col("zv")))), 8))
    val r = p.withColumn("i",
      row_number().over(Window.orderBy("pv", "c_nationkey")).cast("long"))
    val tail = Window.orderBy("i")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    r
      .withColumn("kmax",
        max(when(col("pv") <= col("i") * lit(0.05) / col("m"), col("i"))
          .otherwise(0L)).over(all))
      .withColumn("tadj",
        min(col("pv") * col("m") / col("i")).over(tail))
      .select(col("c_nationkey"), col("x"), col("n"),
        round(col("zv"), 4).as("z"),
        col("pv").as("p_value"),
        round(least(col("tadj"), lit(1.0)), 6).as("p_adj"),
        (col("i") <= col("kmax")).as("reject"))
      .orderBy("c_nationkey")
  }

  private val srm: Q = (s, d) => {
    val u = Tables.events(s, d).select(col("user_id")).distinct()
      .select(pmod(col("user_id"), lit(2)).as("arm"))
    u.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))
          / (col("n_a") + col("n_b")).cast("double"), 4).as("chi2"),
        (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double")
          / (col("n_a") + col("n_b")).cast("double") > 3.841)
          .as("srm_flag"))
  }

  /** Jensen–Shannon divergence of each source's word distribution from
    * the corpus marginal — the SYMMETRIC, bounded (≤ ln 2) drift
    * measure beside q_source_divergence's KL (KL explodes on
    * vocabulary a source lacks; JS never does). Decomposed over the
    * SPARSE (source, word) support: for words the source lacks the
    * integrand collapses to q·ln2, so
    * JS = ½(Σp·ln(2p/(p+q)) + Σ_{p>0}q·ln(2q/(p+q)) + (1−Σ_{p>0}q)·ln2)
    * — one sparse join, vocab-sized shuffle, never vocab × sources. */
  private val jsDivergence: Q = (s, d) => {
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("n_sw"))
    val perSource = sw.groupBy("source").agg(sum("n_sw").as("n_s"))
    val marginal = sw.groupBy("word").agg(sum("n_sw").as("n_w"))
    val total = sw.agg(sum("n_sw").as("n_total"))
    val p = col("n_sw").cast("double") / col("n_s")
    val q = col("n_w").cast("double") / col("n_total")
    sw.join(broadcast(perSource), Seq("source"))
      .join(marginal, Seq("word"))
      .crossJoin(broadcast(total))
      .groupBy("source")
      .agg(count(lit(1)).cast("int").as("vocab_size"),
        round(
          (sum(p * log(lit(2.0) * p / (p + q))
            + q * log(lit(2.0) * q / (p + q)))
            + (lit(1.0) - sum(q)) * lit(math.log(2.0))) / 2, 4)
          .as("js_nats"))
      .orderBy("source")
  }

  /** Mann–Whitney U rank-sum test between URGENT and LOW order
    * priorities on order value — the two-sample location test that
    * needs no normality (the t-test's nonparametric twin; [[kruskal]]
    * is its k-group generalization). Average ranks carried DOUBLED on
    * the distinct-value grain (the [[spearman]] contract) so 2·R₁ is
    * an exact int128 sum; U, its null mean, and the tie-corrected
    * variance are all closed forms of exact integers with the one
    * mirrored sqrt + division at emission. Global ranks ride
    * [[ScaledWindow.rankCum]] — no partition-less window at any SF. */
  private val mannWhitney: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("g"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
    val vals = oc.groupBy("x").agg(count(lit(1)).as("c"),
      sum("g").as("c1"))
    val rnk = ScaledWindow.rankCum(vals, Seq(col("x").asc),
      Seq("cum" -> col("c")))
    val n = rnk.totals("cum")
    val a = rnk.df
      .select(col("c"), col("c1"),
        (lit(2) * col("cum") - col("c") + 1).as("dr"))
      .agg(sum("c1").as("n1"),
        sum(col("c1").cast(dec) * col("dr")).as("d2r1"),
        coalesce(sum(when(col("c") > 1,
          col("c").cast(dec) * col("c") * col("c") - col("c"))),
          lit(0).cast(dec)).as("t3"))
    // 2U₁ = 2R₁ − n₁(n₁+1) and 2·E[U₁] = n₁n₂ are exact integers;
    // 4σ² = n₁n₂/3·((n+1) − t3/(n(n−1))) so z = (2U₁−n₁n₂)/√(4σ²)
    val n2 = n - col("n1")
    val u2 = (col("d2r1") - col("n1").cast(dec) * (col("n1") + 1))
    val z = (u2.cast("double") - (col("n1").cast(dec) * n2).cast("double")) /
      sqrt((col("n1").cast(dec) * n2).cast("double") / lit(3.0) *
        ((n + 1).cast("double") - col("t3").cast("double")
          / (n * (n - 1)).cast("double")))
    a.select(col("n1"), n2.as("n2"),
      (u2.cast("double") / lit(2.0)).as("u1"),
      round(z, 4).as("z"),
      (abs(z) > lit(1.96)).as("reject_equal"))
  }

  /** Wilcoxon signed-rank test on week-over-week daily revenue — the
    * PAIRED nonparametric location test beside [[mannWhitney]]
    * (independent samples) on the calendar-day grid: pair day t with
    * day t−7, drop zero diffs (textbook), rank |diff| with average
    * ranks carried DOUBLED, 2W⁺ = Σ 2r̄ over positive diffs exact.
    * z = (4W⁺ − n(n+1))/√((2n(n+1)(2n+1) − Σ(t³−t))/3) keeps every
    * term integral until one mirrored division + sqrt. The pair join
    * is a CALENDAR equi-join on date_add(day, 7), so gaps in the
    * order-day grid drop their pairs instead of silently pairing
    * non-adjacent weeks (the grid has ~7 missing days at sf0.01);
    * diffs are exact long cents. */
  private val wilcoxon: Q = (s, d) => {
    val dly = dailyCents(s, d)
    val a = dly.select(col("day"), col("v"))
    val b = dly.select(date_add(col("day"), 7).as("day"),
      col("v").as("v0"))
    val diffs = a.join(b, "day")
      .select((col("v") - col("v0")).as("dd"))
      .filter(col("dd") =!= 0)
    val vals = diffs.groupBy(abs(col("dd")).as("ad"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("dd") > 0, 1L).otherwise(0L)).as("cp"))
    val rnk = ScaledWindow.rankCum(vals, Seq(col("ad").asc),
      Seq("cum" -> col("c")))
    val g = rnk.df
      .select(col("c"), col("cp"),
        (lit(2) * col("cum") - col("c") + 1).as("dr"))
      .agg(sum("c").as("n"),
        sum(col("cp").cast(dec) * col("dr")).as("d2w"),
        coalesce(sum(when(col("c") > 1,
          col("c").cast(dec) * col("c") * col("c") - col("c"))),
          lit(0).cast(dec)).as("t3"))
    val nn = col("n").cast(dec)
    val z = ((lit(2).cast(dec) * col("d2w") - nn * (col("n") + 1))
      .cast("double")) /
      sqrt(((lit(2).cast(dec) * col("n") * (col("n") + 1)
        * (lit(2) * col("n") + 1) - col("t3")).cast("double")) / lit(3.0))
    g.select(col("n").as("n_pairs"),
      (col("d2w").cast("double") / lit(2.0)).as("w_plus"),
      round(z, 4).as("z"),
      (abs(z) > lit(1.96)).as("reject_no_shift"))
  }

  /** Brown–Forsythe (median-based Levene) test for equal variances
    * across the five order priorities — the homoscedasticity check
    * that guards [[anova]]'s pooled-variance assumption, robust to
    * non-normality because deviations are taken from group MEDIANS.
    * Group medians come DOUBLED (x(k₁)+x(k₂) order-statistic midpoint,
    * the q_theil_sen contract) via one global [[ScaledWindow.rankCum]]
    * pass over (priority, value) plus per-group offsets on the 5-row
    * priority grid — grouped order statistics with no data-sized
    * window partition. Deviations |2x − med2| stay exact longs (the
    * ×2 scaling cancels in the F ratio); the F statistic then follows
    * [[anova]]'s exact-sum craft (each Σ²/n term rounded to an
    * integer before the k-term sum). */
  private val levene: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
    val grain = oc.groupBy("pri", "x").agg(count(lit(1)).as("c"))
    val rnk = ScaledWindow.rankCum(grain,
      Seq(col("pri").asc, col("x").asc), Seq("cum" -> col("c")))
    val offW = Window.orderBy("pri").rowsBetween(
      Window.unboundedPreceding, -1)
    val offsets = rnk.df.groupBy("pri").agg(sum("c").as("ng"))
      .withColumn("off", coalesce(sum("ng").over(offW), lit(0L)))
    val local = rnk.df.join(broadcast(offsets), "pri")
      .withColumn("lc", col("cum") - col("off"))
    // doubled median = x(k1) + x(k2), k1 = (ng+1)/2, k2 = ng/2+1:
    // smallest grain value whose local cum reaches each order stat
    def sel(k: Column, alias: String) = local
      .filter(col("lc") >= k)
      .groupBy("pri").agg(min("x").as(alias))
    val med = sel(expr("(ng + 1) DIV 2"), "m1")
      .join(sel(expr("ng DIV 2 + 1"), "m2"), "pri")
      .select(col("pri"), (col("m1") + col("m2")).as("med2"))
    val z = oc.join(broadcast(med), "pri")
      .select(col("pri"), abs(lit(2) * col("x") - col("med2")).as("z"))
    val grp = z.groupBy("pri")
      .agg(count(lit(1)).as("ng"), sum(col("z").cast(dec)).as("sg"),
        sum(col("z").cast(dec) * col("z")).as("sgg"))
    // cg rides DECIMAL(38,0): with only 5 groups the sum^2/n term
    // passes 1.9e19 at sf0.1 — beyond Long.MaxValue (the 25-group
    // anova stays under it); at that magnitude round()'s double is
    // already an exact integer, so the decimal/HUGEINT casts agree
    val cg = grp.select(col("ng"), col("sgg"),
      round((col("sg") * col("sg")).cast("double") / col("ng"))
        .cast(dec).as("cg"), col("sg"))
    val parts = cg.agg(count(lit(1)).as("k"), sum("ng").as("n"),
      sum(col("cg").cast(dec)).as("scg"), sum("sgg").as("sxx"),
      sum("sg").as("sx"))
    val all = parts
      .withColumn("corr",
        round((col("sx") * col("sx")).cast("double") / col("n"))
          .cast(dec))
      .withColumn("ssb", (col("scg") - col("corr")).cast("double"))
      .withColumn("ssw", (col("sxx") - col("scg")).cast("double"))
    val w = (col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k")))
    all.select(col("k").as("n_groups"), col("n").as("n_orders"),
      round(w, 4).as("w_stat"),
      (w > lit(2.372)).as("reject_equal_var"))
  }

  /** Grubbs outlier statistic on daily revenue — the formal
    * max-deviation test beside the z-score/MAD screens (those flag
    * many points; Grubbs scores THE single most extreme one). The
    * argmax day comes from the exact int128 compare |n·v − Σv| (no
    * float can flip it, ties break to the earliest day); G is one
    * mirrored division + sqrt over exact moment sums at emission. */
  private val grubbs: Q = (s, d) => {
    val daily = dailyCents(s, d)
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("v").cast(dec)).as("sm"),
      sum(col("v").cast(dec) * col("v")).as("ssq"))
    val top = daily.crossJoin(broadcast(tot))
      .withColumn("dev", abs(col("v").cast(dec) * col("n") - col("sm")))
      .orderBy(desc("dev"), asc("day"))
      .limit(1)
    val g = (col("dev").cast("double") / col("n")) /
      sqrt((col("n").cast(dec) * col("ssq") - col("sm") * col("sm"))
        .cast("double") /
        (col("n").cast(dec) * (col("n") - 1)).cast("double"))
    top.select(col("n").as("n_days"), col("day").as("out_day"),
      round(g, 4).as("g_stat"))
  }

  /** TOST equivalence test between the even/odd-customer order-value
    * arms — the read-out A/B dashboards actually need when the goal is
    * "show the change did NOT move revenue": two one-sided z tests
    * against a ±5%-of-grand-mean margin; equivalence is declared only
    * if BOTH reject (min(t_lower, t_upper) > z₀.₉₅). Group moments are
    * exact int128 cent sums; the margin, standard error, and both t
    * statistics are mirrored double expressions at emission. */
  private val tost: Q = (s, d) => {
    val arms = Tables.orders(s, d)
      .select(pmod(col("o_custkey"), lit(2)).as("arm"),
        round(col("o_totalprice") * 100).cast("long").as("x"))
      .groupBy()
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L).cast(dec))
          .as("sa"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L).cast(dec))
          .as("sb"),
        sum(when(col("arm") === 0, col("x").cast(dec) * col("x"))
          .otherwise(lit(0).cast(dec))).as("ssa"),
        sum(when(col("arm") === 1, col("x").cast(dec) * col("x"))
          .otherwise(lit(0).cast(dec))).as("ssb"))
    def mean(sc: String, nc: String) =
      col(sc).cast("double") / col(nc)
    def vr(nc: String, sc: String, ssc: String) =
      (col(nc).cast(dec) * col(ssc) - col(sc) * col(sc)).cast("double") /
        (col(nc).cast(dec) * (col(nc) - 1)).cast("double")
    val diff = mean("sa", "na") - mean("sb", "nb")
    val delta = lit(0.05) * ((col("sa") + col("sb")).cast("double") /
      (col("na") + col("nb")))
    val se = sqrt(vr("na", "sa", "ssa") / col("na") +
      vr("nb", "sb", "ssb") / col("nb"))
    val tl = (diff + delta) / se
    val tu = (delta - diff) / se
    arms.select(col("na"), col("nb"),
      round(mean("sa", "na") / lit(100.0), 2).as("mean_a_usd"),
      round(mean("sb", "nb") / lit(100.0), 2).as("mean_b_usd"),
      round(tl, 4).as("t_lower"), round(tu, 4).as("t_upper"),
      (least(tl, tu) > lit(1.645)).as("equivalent"))
  }

  // SPRT constants — Wald boundaries and per-event log-likelihood
  // increments in integer micro-nats (Scala-computed literals
  // interpolated into the oracle, the q_adstock contract):
  // H0: p = 0.10 vs H1: p = 0.20 at alpha = beta = 0.05
  private val sprtA = math.round(1e6 * math.log(0.20 / 0.10)) // y = 1
  private val sprtB = math.round(1e6 * math.log(0.80 / 0.90)) // y = 0
  private val sprtUp = math.round(1e6 * math.log(0.95 / 0.05))
  private val sprtLo = -sprtUp

  /** Wald SPRT over the event stream — the SEQUENTIAL hypothesis test
    * that ends an experiment the moment the evidence suffices instead
    * of at a fixed n ([[powerAnalysis]] plans the fixed-n twin): walk
    * events in (ts, event_id) order accumulating the purchase/
    * no-purchase log-likelihood-ratio increments, stop at the first
    * crossing of the ±ln((1−β)/α) Wald boundaries. Increments are
    * integer micro-nats (exact long cumsum through
    * [[ScaledWindow.rankCum]] — associative, so the per-bucket offset
    * decomposition is bit-identical to the sequential walk); the first
    * crossing is min(rk) with min_by retrieving its LLR — integer
    * compares end to end, nothing to mirror. */
  private val sprt: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("ts"), col("event_id"),
        (when(col("event_type") === "purchase", lit(sprtA))
          .otherwise(lit(sprtB))).as("term"))
    val rnk = ScaledWindow.rankCum(ev,
      Seq(col("ts").asc, col("event_id").asc), Seq("cum" -> col("term")))
    val cross = rnk.df
      .filter(col("cum") >= sprtUp || col("cum") <= sprtLo)
      .agg(min("rk").as("nd"), min_by(col("cum"), col("rk")).as("llr"))
    cross.select(
      when(col("nd").isNull, "continue")
        .when(col("llr") >= sprtUp, "accept_h1")
        .otherwise("accept_h0").as("decision"),
      col("nd").as("n_at_decision"),
      col("llr").as("llr_micro_nats"),
      rnk.n.as("n_total"),
      rnk.totals("cum").as("llr_final_micro"))
  }

  /** Cochran's Q test — did the customer base's yearly purchase
    * incidence change across 1995/1996/1997? The k-treatment
    * generalization of [[mcnemar]] for binary repeated measures
    * (blocks = customers, treatments = years, x = ordered-that-year).
    * Q = (k−1)(k·ΣG² − T²)/(k·T − ΣL²) is INTEGER arithmetic end to
    * end (column totals G, row totals L, grand total T) with one
    * mirrored division at emission — nothing float-dependent anywhere.
    * Shape: one distinct + two map-side-combined aggregates, no
    * window, no driver value. */
  private val cochranQ: Q = (s, d) => {
    val cy = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996, 1997))
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .distinct()
    val rows = cy.groupBy("o_custkey").agg(count(lit(1)).as("l"))
      .agg(count(lit(1)).as("n_blocks"), sum("l").as("t"),
        sum(col("l") * col("l")).as("sl2"))
    val cols = cy.groupBy("yr").agg(count(lit(1)).as("g"))
      .agg(sum(col("g").cast(dec) * col("g")).as("sg2"))
    val q = (lit(2).cast(dec) *
      (lit(3).cast(dec) * col("sg2") - col("t").cast(dec) * col("t")))
      .cast("double") /
      (lit(3) * col("t") - col("sl2")).cast("double")
    rows.crossJoin(broadcast(cols))
      .select(lit(3).as("k"), col("n_blocks"), col("t").as("grand_total"),
        round(q, 4).as("q_stat"),
        (q > lit(5.991)).as("reject_no_change"))
  }

  /** Randomization (permutation) test on the per-customer revenue
    * difference between the even/odd arms — the assumption-free
    * companion to [[tost]]/q_ab_test: re-randomize each customer 200
    * times by a hash bit keyed on (replica, customer) and count how
    * often the permuted |mean difference| reaches the observed one.
    * Per-replica arm sums are exact long cents accumulated in ONE
    * map-side-combined pass over the customer×replica explode (the
    * q_bootstrap_poisson shape — no global index, no B×n join); each
    * replica's mean difference is the same mirrored double expression
    * as the observed one, so the ≥ compare can never flip.
    *
    * The 200 randomization bits come from FOUR md5 digests per
    * customer, each packed into a 52-bit long (13 hex chars) BEFORE
    * the replica explode — replica b reads bit b%50 of chunk b/50.
    * Versus one md5 per (replica, customer) the digest work drops
    * 50×, and versus carrying a hex strip through the explode the
    * duplicated payload is 4 longs, not a 200+-char string; the
    * per-replica work is pure codegen shift/mask arithmetic. The
    * derivation stays byte-replayable in DuckDB (lowercase hex,
    * '0x'-cast prefix, same >> and & semantics on BIGINT). */
  private val permutationTest: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
    val obs = rev
      .select(pmod(col("o_custkey"), lit(2)).as("a"), col("r"))
      .agg(sum(when(col("a") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("a") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("a") === 0, col("r")).otherwise(0L)).as("s0"),
        sum(when(col("a") === 1, col("r")).otherwise(0L)).as("s1"))
      .select((col("s0").cast("double") / col("n0")
        - col("s1").cast("double") / col("n1")).as("d_obs"))
    val perms = rev
      .withColumn("ch", array((1 to 4).map(i =>
        conv(substring(md5(concat(lit(i.toString), lit(":"),
          col("o_custkey"))), 1, 13), 16, 10).cast("long")): _*))
      .withColumn("b", explode(sequence(lit(0), lit(199))))
      .withColumn("a", expr(
        "shiftright(element_at(ch, cast(b / 50 as int) + 1), " +
          "cast(b % 50 as int)) & 1"))
      .groupBy("b")
      .agg(sum(when(col("a") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("a") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("a") === 0, col("r")).otherwise(0L)).as("s0"),
        sum(when(col("a") === 1, col("r")).otherwise(0L)).as("s1"))
      .select(col("b"), (col("s0").cast("double") / col("n0")
        - col("s1").cast("double") / col("n1")).as("d"))
    perms.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perm"),
        sum(when(abs(col("d")) >= abs(col("d_obs")), 1L).otherwise(0L))
          .as("n_extreme"),
        round(max(col("d_obs")) / lit(100.0), 2).as("d_obs_usd"))
      .select(col("n_perm"), col("n_extreme"), col("d_obs_usd"),
        round((col("n_extreme") + 1).cast("double")
          / (col("n_perm") + 1), 4).as("p_value"))
  }

  /** Variance inflation factors for the (quantity, price, discount)
    * regressor set — the multicollinearity screen run before any OLS
    * on these columns ([[partialCorr]] reads one conditional
    * association; VIF asks how redundant each regressor is given ALL
    * the others): VIF_x = 1/(1−R²_x|yz) with R² in closed form from
    * the three pairwise Pearsons. Reuses the exact nine-moment int128
    * pass of [[partialCorr]] — identical r expression trees, then a
    * few mirrored double ops per VIF at emission. One map-side
    * aggregate, no window, no join. */
  private val vif: Q = (s, d) => {
    val t = Tables.lineitem(s, d).select(
      round(col("l_quantity") * 100).cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"),
      round(col("l_discount") * 100).cast("long").as("z"))
    val a = t.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum(col("z").cast(dec)).as("sz"),
      sum(col("x").cast(dec) * col("x")).as("sxx"),
      sum(col("y").cast(dec) * col("y")).as("syy"),
      sum(col("z").cast(dec) * col("z")).as("szz"),
      sum(col("x").cast(dec) * col("y")).as("sxy"),
      sum(col("x").cast(dec) * col("z")).as("sxz"),
      sum(col("y").cast(dec) * col("z")).as("syz"))
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      (col("n").cast(dec) * col(sab) - col(sa) * col(sb)).cast("double") /
        (sqrt((col("n").cast(dec) * col(saa) - col(sa) * col(sa))
          .cast("double")) *
          sqrt((col("n").cast(dec) * col(sbb) - col(sb) * col(sb))
            .cast("double")))
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    // R^2 of each regressor on the other two, closed form
    def r2(rab: Column, rac: Column, rbc: Column) =
      (rab * rab + rac * rac - lit(2.0) * rab * rac * rbc) /
        (lit(1.0) - rbc * rbc)
    a.select(col("n").as("n_rows"),
      round(lit(1.0) / (lit(1.0) - r2(rxy, rxz, ryz)), 4).as("vif_x"),
      round(lit(1.0) / (lit(1.0) - r2(rxy, ryz, rxz)), 4).as("vif_y"),
      round(lit(1.0) / (lit(1.0) - r2(rxz, ryz, rxy)), 4).as("vif_z"))
  }

  /** Split-conformal prediction intervals for order value per
    * priority — the distribution-free uncertainty wrapper modern ML
    * serving puts around ANY point model (here the per-priority
    * calibration mean): residual quantile q̂ at the ⌈0.9(n+1)⌉-th
    * calibration order statistic, then guaranteed-≥90% marginal
    * coverage measured on the held-out half. EVERYTHING is exact
    * integer arithmetic: the split is the q_sample_hash md5 parity,
    * residuals are scaled |n_c·x − s_c| (never divided, the
    * [[grubbs]] trick), the per-group order statistic comes from ONE
    * global [[ScaledWindow.rankCum]] pass + offsets on the 5-row
    * priority grid, and coverage is an integer-compare count. The
    * only doubles are the two emission divisions. */
  private val conformal: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("x"),
        pmod(conv(substring(md5(col("o_orderkey").cast("string")), 1, 4),
          16, 10).cast("long"), lit(2)).as("h"))
    val calStats = base.filter(col("h") === 0).groupBy("pri")
      .agg(count(lit(1)).as("nc"), sum(col("x").cast(dec)).as("sc"))
    val scored = base.join(broadcast(calStats), "pri")
      .withColumn("r", abs(col("x").cast(dec) * col("nc") - col("sc")))
    val grain = scored.filter(col("h") === 0)
      .groupBy("pri", "r").agg(count(lit(1)).as("c"))
    val rnk = ScaledWindow.rankCum(grain,
      Seq(col("pri").asc, col("r").asc), Seq("cum" -> col("c")))
    val offW = Window.orderBy("pri").rowsBetween(
      Window.unboundedPreceding, -1)
    val offsets = rnk.df.groupBy("pri").agg(sum("c").as("ng"))
      .withColumn("off", coalesce(sum("ng").over(offW), lit(0L)))
    val qhat = rnk.df.join(broadcast(offsets), "pri")
      .withColumn("lc", col("cum") - col("off"))
      .filter(col("lc") >= expr("(9 * (ng + 1) + 9) DIV 10"))
      .groupBy("pri").agg(min("r").as("qhat"))
    val cov = scored.filter(col("h") === 1)
      .join(broadcast(qhat), "pri")
      .groupBy("pri")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("qhat"), 1L).otherwise(0L))
          .as("covered"))
    calStats.join(cov, "pri").join(qhat, "pri")
      .select(col("pri"), col("nc").as("n_cal"), col("n_test"),
        round(col("qhat").cast("double") / (col("nc") * lit(100.0)), 2)
          .as("q_hat_usd"),
        round(col("covered").cast("double") / col("n_test"), 4)
          .as("coverage"))
      .orderBy("pri")
  }

  /** Baron–Kenny / Sobel mediation analysis: does the discount's
    * effect on line revenue flow THROUGH quantity? ([[partialCorr]]
    * reads one conditional association; mediation decomposes the
    * X→Y effect into the X→M→Y indirect path and the direct
    * remainder.) Three OLS fits — X→M, X→Y, and Y ~ 1+X+M by the
    * [[q_granger]] mirrored-Cramer closed form — all from ONE pass of
    * ten exact int128 moment sums; a/b standard errors and the Sobel
    * z are mirrored double expressions at emission. */
  private val mediation: Q = (s, d) => {
    val t = Tables.lineitem(s, d).select(
      round(col("l_discount") * 100).cast("long").as("x"),
      round(col("l_quantity") * 100).cast("long").as("m"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val a = t.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("m").cast(dec)).as("sm"),
      sum(col("y").cast(dec)).as("sy"),
      sum(col("x").cast(dec) * col("x")).as("sxx"),
      sum(col("m").cast(dec) * col("m")).as("smm"),
      sum(col("x").cast(dec) * col("m")).as("sxm"),
      sum(col("x").cast(dec) * col("y")).as("sxy"),
      sum(col("m").cast(dec) * col("y")).as("smy"),
      sum(col("y").cast(dec) * col("y")).as("syy"))
    def D(c: String) = col(c).cast("double")
    val (n, sx, sm, sy) = (D("n"), D("sx"), D("sm"), D("sy"))
    val (sxx, smm, sxm) = (D("sxx"), D("smm"), D("sxm"))
    val (sxy, smy, syy) = (D("sxy"), D("smy"), D("syy"))
    val sxxN = n * sxx - sx * sx
    val sxmN = n * sxm - sx * sm
    val smmN = n * smm - sm * sm
    val sxyN = n * sxy - sx * sy
    val aCoef = sxmN / sxxN
    val seA2 = (smmN - sxmN * sxmN / sxxN) / ((n - 2) * sxxN)
    val det = n * (sxx * smm - sxm * sxm) -
      sx * (sx * smm - sxm * sm) + sm * (sx * sxm - sxx * sm)
    val b0 = (sy * (sxx * smm - sxm * sxm) -
      sx * (sxy * smm - sxm * smy) + sm * (sxy * sxm - sxx * smy)) / det
    val b1 = (n * (sxy * smm - sxm * smy) -
      sy * (sx * smm - sxm * sm) + sm * (sx * smy - sxy * sm)) / det
    val b2 = (n * (sxx * smy - sxy * sxm) -
      sx * (sx * smy - sxy * sm) + sy * (sx * sxm - sxx * sm)) / det
    val rssU = syy - (b0 * sy + b1 * sxy + b2 * smy)
    val seB2 = (rssU / (n - 3)) * sxxN / det
    val cTot = sxyN / sxxN
    val sobel = aCoef * b2 / sqrt(b2 * b2 * seA2 + aCoef * aCoef * seB2)
    a.select(col("n").as("n_rows"),
      round(aCoef, 6).as("a_x_to_m"),
      round(b2, 6).as("b_m_to_y"),
      round(b1, 6).as("direct_effect"),
      round(cTot, 6).as("total_effect"),
      round(sobel, 4).as("sobel_z"),
      round(aCoef * b2 / cTot, 6).as("prop_mediated"),
      (abs(sobel) > lit(1.96)).as("mediated"))
  }

  /** Kendall's coefficient of concordance W — do the monthly blocks
    * AGREE on how the 25 nations rank? (The effect-size companion of
    * [[friedman]]: Friedman says whether nations differ; W says how
    * consistently the months order them, 0 = no agreement, 1 =
    * identical rankings every month.) Same zero-filled month×nation
    * grid and doubled within-block average ranks; S stays exact as
    * Σ(2Rⱼ − m(k+1))² in int128 (the doubled block mean m(k+1) is an
    * integer), the per-block tie polynomial ΣT exact, and
    * W = 3·S₄/(m²(k³−k) − m·ΣT) is one mirrored division. */
  private val kendallW: Q = (s, d) => {
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("mth"),
        col("c_nationkey").as("g"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
    val months = oc.select("mth").distinct()
    val nations = Tables.nation(s, d).select(col("n_nationkey").as("g"))
    val grid = months.crossJoin(broadcast(nations))
      .join(oc, Seq("mth", "g"), "left")
      .na.fill(0L, Seq("v"))
    val wLess = Window.partitionBy("mth").orderBy(col("v"))
    val wTie = Window.partitionBy("mth", "v")
    val rj = grid
      .withColumn("r", rank().over(wLess))
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("dr", lit(2) * (col("r") - 1) + col("t") + 1)
      .groupBy("g").agg(sum("dr").as("drj"))
    val ties = grid.groupBy("mth", "v").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(coalesce(sum(col("c").cast(dec) * col("c") * col("c")
        - col("c")), lit(0).cast(dec)).as("tt"))
    val dims = rj.agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(months.agg(count(lit(1)).as("m"))))
    val s4 = rj.crossJoin(broadcast(dims))
      .select(((col("drj").cast(dec) - col("m").cast(dec)
        * (col("k") + 1)) * (col("drj").cast(dec) - col("m").cast(dec)
        * (col("k") + 1))).as("d2"), col("k"), col("m"))
      .groupBy("k", "m").agg(sum("d2").as("s4"))
    val kk = col("k").cast(dec)
    val w = (lit(3).cast(dec) * col("s4")).cast("double") /
      ((col("m").cast(dec) * col("m") * (kk * kk * kk - col("k"))
        - col("m").cast(dec) * col("tt")).cast("double"))
    s4.crossJoin(broadcast(ties))
      .select(col("m").as("n_blocks"), col("k").as("n_groups"),
        round(w, 6).as("kendall_w"),
        round(col("m") * (col("k") - 1) * w, 4).as("chi2"))
  }

  /** Two-sample Cramér–von Mises test between the even/odd customer
    * arms on order value — the INTEGRAL-distance companion of
    * q_ks_test (KS reads the single worst ECDF gap; CvM accumulates
    * every gap, so diffuse distributional drift that never spikes
    * still registers). On the pooled distinct-value grain the scaled
    * gap n_b·cumA − n_a·cumB is an exact integer, each value's term
    * w·gap² an exact int128 product, and
    * T = Σterms / (n_a·n_b·(n_a+n_b)²) one mirrored division.
    * Cumulative counts ride [[ScaledWindow.rankCum]] — no
    * partition-less window at any SF. Crit 0.461 at α=0.05. */
  private val cvm: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100).cast("long").as("v"),
      (col("o_custkey") % 2 === 0).as("isa"))
    val g = o.groupBy("v")
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val rnk = ScaledWindow.rankCum(g, Seq(col("v").asc),
      Seq("cuma" -> col("ca"), "cumb" -> col("cb")))
    val (na, nb) = (rnk.totals("cuma"), rnk.totals("cumb"))
    val gap = col("cuma").cast(dec) * nb - col("cumb").cast(dec) * na
    val t = rnk.df
      .agg(sum((col("ca") + col("cb")).cast(dec) * (gap * gap)).as("s"))
      .select((col("s").cast("double") /
        (na.cast("double") * nb * ((na + nb).cast("double") * (na + nb))))
        .as("t"))
    t.select(na.as("n_a"), nb.as("n_b"),
      round(col("t"), 6).as("t_stat"),
      (col("t") > lit(0.461)).as("reject_same_dist"))
  }

  /** Two-sample energy distance between the same arms — the
    * characteristic-function metric behind modern two-sample testing
    * (Székely & Rizzo): D² = 2μ_XY − μ_XX − μ_YY over MEAN PAIRWISE
    * DISTANCES, computed here WITHOUT any O(n²) pair join: on the
    * sorted distinct-value grain, Σ_b\|v−b\| collapses to four
    * cumulative count/value sums (below-count·v − below-sum +
    * above-sum − above-count·v), so all three ordered-pair distance
    * totals are exact int128 sums off ONE [[ScaledWindow.rankCum]]
    * pass carrying four metrics. Three mirrored divisions + one sqrt
    * at emission. */
  private val energyDistance: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100).cast("long").as("v"),
      (col("o_custkey") % 2 === 0).as("isa"))
    val g = o.groupBy("v")
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val rnk = ScaledWindow.rankCum(g, Seq(col("v").asc),
      Seq("cuma" -> col("ca"), "cumb" -> col("cb"),
        "cumav" -> col("ca") * col("v"), "cumbv" -> col("cb") * col("v")))
    val (na, nb) = (rnk.totals("cuma"), rnk.totals("cumb"))
    val (tav, tbv) = (rnk.totals("cumav"), rnk.totals("cumbv"))
    // ordered-pair distance total of source counts `c` against target
    // cumulative (cnt, val) columns with grand totals (nT, tT)
    def pairSum(c: Column, cum: Column, cumv: Column, cOwn: Column,
        nT: Column, tT: Column) =
      sum(c.cast(dec) * (col("v").cast(dec) * (cum - cOwn)
        - (cumv.cast(dec) - cOwn.cast(dec) * col("v"))
        + (tT.cast(dec) - cumv)
        - col("v").cast(dec) * (nT - cum)))
    val sums = rnk.df.agg(
      pairSum(col("ca"), col("cumb"), col("cumbv"), col("cb"), nb, tbv)
        .as("eab"),
      pairSum(col("ca"), col("cuma"), col("cumav"), col("ca"), na, tav)
        .as("eaa"),
      pairSum(col("cb"), col("cumb"), col("cumbv"), col("cb"), nb, tbv)
        .as("ebb"))
    val d2 = lit(2.0) * sums("eab").cast("double") /
      (na.cast("double") * nb) -
      sums("eaa").cast("double") / (na.cast("double") * na) -
      sums("ebb").cast("double") / (nb.cast("double") * nb)
    sums.select(na.as("n_a"), nb.as("n_b"),
      round(d2 / lit(100.0), 6).as("d2_usd"),
      round(sqrt(greatest(d2, lit(0.0))) / lit(10.0), 6).as("e_dist"))
  }

  /** Chow structural-break test on the daily-revenue trend: split the
    * day grid at its midpoint, fit y ~ a + b·t to each half and to the
    * pooled series, and test whether one line explains both regimes —
    * F = ((RSS_p − RSS₁ − RSS₂)/2) / ((RSS₁ + RSS₂)/(n − 4)). The
    * changepoint-SCAN twin is [[TemporalQueries]]' q_binseg (which
    * searches the break location); Chow TESTS a hypothesized break
    * with a calibrated F. All ten per-segment moment sums are exact
    * int128 from one pass (pooled sums are their exact additions);
    * every RSS/F expression is a mirrored double. Asymptotic
    * F(2, ∞) 5% critical 3.0. */
  private val chow: Q = (s, d) => {
    val half = dailyCents(s, d).agg(count(lit(1)).as("n"))
      .select(expr("n DIV 2")).scalar()
    val t = OrdersDaily.indexed(s, d).withColumn("half", half)
      .select(col("rk").as("x"), col("v").as("y"), (col("rk") <= col("half")).as("s1"))
    def seg(flag: Column, c: Column) = sum(when(flag, c).otherwise(lit(0L).cast(dec)))
    val a = t.agg(
      count(lit(1)).as("n"),
      sum(when(col("s1"), 1L).otherwise(0L)).as("n1"),
      seg(col("s1"), col("x").cast(dec)).as("sx1"),
      seg(col("s1"), col("y").cast(dec)).as("sy1"),
      seg(col("s1"), col("x").cast(dec) * col("x")).as("sxx1"),
      seg(col("s1"), col("x").cast(dec) * col("y")).as("sxy1"),
      seg(col("s1"), col("y").cast(dec) * col("y")).as("syy1"),
      seg(!col("s1"), col("x").cast(dec)).as("sx2"),
      seg(!col("s1"), col("y").cast(dec)).as("sy2"),
      seg(!col("s1"), col("x").cast(dec) * col("x")).as("sxx2"),
      seg(!col("s1"), col("x").cast(dec) * col("y")).as("sxy2"),
      seg(!col("s1"), col("y").cast(dec) * col("y")).as("syy2"))
    def D(c: Column) = c.cast("double")
    def rss(n: Column, sx: Column, sy: Column, sxx: Column,
        sxy: Column, syy: Column) =
      (D(syy) - D(sy) * D(sy) / D(n)) -
        (D(sxy) - D(sx) * D(sy) / D(n)) * (D(sxy) - D(sx) * D(sy) / D(n)) /
        (D(sxx) - D(sx) * D(sx) / D(n))
    val n = col("n"); val n1 = col("n1"); val n2 = col("n") - col("n1")
    val rss1 = rss(n1, col("sx1"), col("sy1"), col("sxx1"),
      col("sxy1"), col("syy1"))
    val rss2 = rss(n2, col("sx2"), col("sy2"), col("sxx2"),
      col("sxy2"), col("syy2"))
    val rssP = rss(n, col("sx1") + col("sx2"), col("sy1") + col("sy2"),
      col("sxx1") + col("sxx2"), col("sxy1") + col("sxy2"),
      col("syy1") + col("syy2"))
    val f = ((rssP - rss1 - rss2) / lit(2.0)) /
      ((rss1 + rss2) / D(n - lit(4)))
    a.select(col("n").as("n_days"), col("n1").as("n_pre"),
      round(f, 4).as("f_stat"),
      (f > lit(3.0)).as("reject_stability"))
  }

  /** Two-sample Anderson–Darling test between the even/odd customer
    * arms — the TAIL-WEIGHTED member of the two-sample trio
    * (q_ks_test reads the max ECDF gap, [[cvm]] the unweighted
    * integral; AD divides each gap by j(N−j), so distribution-tail
    * drift that KS/CvM under-weight registers). Tie-adjusted
    * right-continuous Scholz–Stephens form on the distinct-value
    * grain: A² = (1/n_a + 1/n_b)·Σ_runs c·G²/(B(N−B))/N with
    * G = N·cumA − B·n_a and B the pooled cumulative count, last run
    * excluded (B = N zeroes the denominator). G² and B(N−B) are
    * exact int128; each run's term is ONE mirrored double division
    * micro-rounded to integer units before the sum, so the aggregate
    * is order-free exact. Pettitt (1976) asymptotic 5% point 2.492. */
  private val andersonDarling: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100).cast("long").as("v"),
      (col("o_custkey") % 2 === 0).as("isa"))
    val g = o.groupBy("v")
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val rnk = ScaledWindow.rankCum(g, Seq(col("v").asc),
      Seq("cuma" -> col("ca"), "cumn" -> (col("ca") + col("cb"))))
    val (na, nt) = (rnk.totals("cuma"), rnk.totals("cumn"))
    val nb = nt - na
    val gap = col("cuma").cast(dec) * nt - col("cumn").cast(dec) * na
    val term = round((col("ca") + col("cb")).cast("double") *
      (gap * gap).cast("double") /
      (col("cumn").cast(dec) * (nt - col("cumn"))).cast("double"))
      .cast("long")
    val a2 = col("s").cast("double") * (lit(1.0) / na + lit(1.0) / nb) /
      nt.cast("double")
    rnk.df.filter(col("cumn") < nt)
      .agg(sum(term.cast(dec)).as("s"))
      .select(na.as("n_a"), nb.as("n_b"),
        round(a2, 4).as("a2"),
        (a2 > lit(2.492)).as("reject_same_dist"))
  }

  /** Per-nation overdispersion screen on customer order counts — the
    * model-choice diagnostic between Poisson and negative-binomial
    * demand (marketing mix, capacity models): dispersion index
    * D = var/mean; D ≈ 1 is Poisson, D ≫ 1 says a heavy-tailed
    * buyer mix. ZERO-order customers count (the customer dimension
    * left-joins the order aggregate — dropping them biases D down).
    * D = (n·Σc² − S²)/(n·S) from exact integer sums, one mirrored
    * division per nation; flag at D > 1.5. */
  private val overdispersion: Q = (s, d) => {
    val oc = Tables.customer(s, d)
      .join(Tables.orders(s, d).groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("c")), Seq("c_custkey"), "left")
      .select(col("c_nationkey").as("nation"),
        coalesce(col("c"), lit(0L)).as("c"))
    val g = oc.groupBy("nation").agg(
      count(lit(1)).as("n_cust"),
      sum("c").as("n_orders"),
      sum(col("c") * col("c")).as("q"))
    val disp = (g("n_cust").cast("double") * col("q").cast("double") -
      col("n_orders").cast("double") * col("n_orders").cast("double")) /
      (col("n_cust").cast("double") * col("n_orders").cast("double"))
    g.select(col("nation"), col("n_cust"), col("n_orders"),
        round(col("n_orders").cast("double") /
          col("n_cust").cast("double"), 6).as("mean_orders"),
        round(disp, 6).as("dispersion"),
        (disp > lit(1.5)).as("overdispersed"))
      .orderBy("nation")
  }

  /** Two-sample Poisson rate test on 1995-vs-1996 order arrivals —
    * the A/B primitive for COUNT outcomes beside [[srm]]'s ratio
    * check and q_ab_test's mean comparison: conditional on the total,
    * n₁ ~ Bin(n, p₀ = 365/731), so z = (n₁ − n·p₀)/√(n·p₀(1−p₀)) —
    * counts exact, p₀ one IEEE division both engines compute
    * identically, z the single mirrored emission chain. */
  private val poissonRate: Q = (s, d) => {
    val y = Tables.orders(s, d)
      .select(year(to_date(col("o_orderdate"))).as("yr"))
      .filter(col("yr").isin(1995, 1996))
    val g = y.agg(
      sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("n1"),
      sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n2"))
    val n = col("n1") + col("n2")
    val p0 = lit(365.0) / lit(731.0)
    val z = (col("n1").cast("double") - n.cast("double") * p0) /
      sqrt(n.cast("double") * p0 * (lit(1.0) - p0))
    g.select(col("n1").as("n_1995"), col("n2").as("n_1996"),
      round(col("n1").cast("double") / lit(365.0), 4).as("rate_1995"),
      round(col("n2").cast("double") / lit(366.0), 4).as("rate_1996"),
      round((col("n1").cast("double") / lit(365.0)) /
        (col("n2").cast("double") / lit(366.0)), 4).as("rate_ratio"),
      round(z, 4).as("z"),
      (abs(z) > lit(1.96)).as("reject_equal_rates"))
  }

  /** Seasonal Mann–Kendall trend test (Hirsch–Slack): the q_mann_kendall
    * monotone-trend statistic computed WITHIN each month-of-year season
    * and summed — a trend test immune to seasonal cycling (a pure
    * seasonal pattern contributes same-month pairs only, which see no
    * trend). S = Σ_g S_g is an exact integer from the same-month pair
    * join (12 × C(n_g, 2) pairs — an order of magnitude fewer than the
    * global MK's C(n, 2)); Var(S) = Σ_g [n_g(n_g−1)(2n_g+5) − ties]/18
    * with per-season tie corrections, one mirrored division + sqrt. */
  private val seasonalMk: Q = (s, d) => {
    val daily = dailyCents(s, d).withColumn("moy", month(col("day")))
    val b = daily.select(col("moy").as("m2"), col("day").as("d2"),
      col("v").as("v2"))
    val p = daily.join(broadcast(b),
      col("moy") === col("m2") && col("day") < col("d2"))
      .agg(sum(when(col("v2") > col("v"), 1L)
        .when(col("v2") < col("v"), -1L).otherwise(0L)).as("s"),
        count(lit(1)).as("m"))
    val vr = daily.groupBy("moy").agg(count(lit(1)).as("ng"))
      .agg(sum(col("ng") * (col("ng") - 1) * (lit(2) * col("ng") + 5))
        .as("v0"),
        count(lit(1)).as("n_seasons"))
    val ties = daily.groupBy("moy", "v").agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .agg(coalesce(
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
        lit(0L)).as("t3"))
    val z = when(col("s") > 0, col("s") - 1)
      .when(col("s") < 0, col("s") + 1).otherwise(0L).cast("double") /
      sqrt((col("v0") - col("t3")) / lit(18.0))
    p.crossJoin(broadcast(vr)).crossJoin(broadcast(ties))
      .select(col("n_seasons"), col("m").as("n_pairs"), col("s"),
        round(z, 4).as("z"),
        (abs(z) > lit(1.96)).as("trend"))
  }

  val queries: Map[String, Q] = Map(
    "q_seasonal_mk" -> seasonalMk,
    "q_overdispersion" -> overdispersion,
    "q_poisson_rate" -> poissonRate,
    "q_chow" -> chow,
    "q_anderson_darling" -> andersonDarling,
    "q_cvm" -> cvm,
    "q_energy_distance" -> energyDistance,
    "q_mediation" -> mediation,
    "q_kendall_w" -> kendallW,
    "q_conformal" -> conformal,
    "q_vif" -> vif,
    "q_cochran_q" -> cochranQ,
    "q_permutation_test" -> permutationTest,
    "q_mann_whitney" -> mannWhitney,
    "q_wilcoxon" -> wilcoxon,
    "q_levene" -> levene,
    "q_grubbs" -> grubbs,
    "q_tost" -> tost,
    "q_sprt" -> sprt,
    "q_logrank" -> logrank,
    "q_g_test" -> gTest,
    "q_qini" -> qini,
    "q_psm_att" -> psmAtt,
    "q_power_analysis" -> powerAnalysis,
    "q_srm" -> srm,
    "q_fdr_bh" -> fdrBh,
    "q_kendall_tau" -> kendallTau,
    "q_theil_index" -> theilIndex,
    "q_anova" -> anova,
    "q_welch_anova" -> welchAnova,
    "q_anova_two_way" -> anovaTwoWay,
    "q_cooks_distance" -> cooksDistance,
    "q_breusch_pagan" -> breuschPagan,
    "q_reset" -> resetTest,
    "q_kruskal" -> kruskal,
    "q_jarque_bera" -> jarqueBera,
    "q_tukey_hsd" -> tukeyHsd,
    "q_games_howell" -> gamesHowell,
    "q_friedman" -> friedman,
    "q_partial_corr" -> partialCorr,
    "q_weighted_median" -> weightedMedian,
    "q_split_leakage" -> splitLeakage,
    "q_price_index" -> priceIndex,
    "q_simpson" -> simpson,
    "q_k_anonymity" -> kAnonymity,
    "q_info_gain" -> infoGain,
    "q_js_divergence" -> jsDivergence,
    "q_spearman" -> spearman,
    "q_mann_kendall" -> mannKendall,
    "q_theil_sen" -> theilSen,
    "q_ransac_line" -> ransacLine,
    "q_ransac_grouped" -> ransacGrouped,
    "q_quantile_reg" -> quantileReg,
    "q_target_encode" -> targetEncode,
    "q_calibration" -> calibration,
    "q_cramers_v" -> cramersV,
    "q_fd_check" -> fdCheck,
  )

  override val buildJobs: Map[String, String] = Map(
    "q_quantile_reg" -> "iteratively reweighted least squares refits its line on the driver each round")

  val oracles: Map[String, String] = Map(
    // same-month pair join, exact integer S, per-season tie-corrected
    // variance, one mirrored division + sqrt (the q_mann_kendall shape)
    "q_seasonal_mk" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         dm AS (SELECT day, v, month(day) AS moy FROM dly),
         p AS (SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                                    WHEN b.v < a.v THEN -1
                                    ELSE 0 END) AS BIGINT) AS s,
                      CAST(count(*) AS BIGINT) AS m
               FROM dm a JOIN dm b
                 ON a.moy = b.moy AND a.day < b.day),
         vr AS (SELECT CAST(sum(ng * (ng - 1) * (2 * ng + 5))
                  AS BIGINT) AS v0,
                       CAST(count(*) AS BIGINT) AS n_seasons
                FROM (SELECT count(*) AS ng FROM dm GROUP BY moy)),
         t AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                 AS BIGINT) AS t3
               FROM (SELECT count(*) AS t FROM dm GROUP BY moy, v)
               WHERE t > 1),
         z AS (SELECT n_seasons, m, s,
                 CAST(CASE WHEN s > 0 THEN s - 1
                           WHEN s < 0 THEN s + 1 ELSE 0 END AS DOUBLE)
                 / sqrt((v0 - t3) / 18.0) AS z
               FROM p, vr, t)
         SELECT n_seasons, m AS n_pairs, s, round(z, 4) AS z,
                abs(z) > 1.96 AS trend
         FROM z""",
    // exact integer count sums; D and the mean are mirrored divisions
    "q_overdispersion" ->
      """WITH oc AS (SELECT c.c_nationkey AS nation,
                            coalesce(o.c, 0) AS c
                     FROM customer c LEFT JOIN
                       (SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
                        FROM orders GROUP BY 1) o
                       ON o.o_custkey = c.c_custkey),
         g AS (SELECT nation,
                 CAST(count(*) AS BIGINT) AS n_cust,
                 CAST(sum(c) AS BIGINT) AS n_orders,
                 CAST(sum(c * c) AS BIGINT) AS q
               FROM oc GROUP BY nation)
         SELECT nation, n_cust, n_orders,
                round(CAST(n_orders AS DOUBLE)
                  / CAST(n_cust AS DOUBLE), 6) AS mean_orders,
                round((CAST(n_cust AS DOUBLE) * CAST(q AS DOUBLE)
                    - CAST(n_orders AS DOUBLE)
                      * CAST(n_orders AS DOUBLE))
                  / (CAST(n_cust AS DOUBLE)
                    * CAST(n_orders AS DOUBLE)), 6) AS dispersion,
                (CAST(n_cust AS DOUBLE) * CAST(q AS DOUBLE)
                    - CAST(n_orders AS DOUBLE)
                      * CAST(n_orders AS DOUBLE))
                  / (CAST(n_cust AS DOUBLE)
                    * CAST(n_orders AS DOUBLE)) > 1.5 AS overdispersed
         FROM g ORDER BY nation""",
    // counts exact; p0 = 365/731 one IEEE division in both engines
    "q_poisson_rate" ->
      """WITH y AS (SELECT year(CAST(o_orderdate AS DATE)) AS yr
                    FROM orders
                    WHERE year(CAST(o_orderdate AS DATE))
                      IN (1995, 1996)),
         g AS (SELECT
                 CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n2
               FROM y),
         z AS (SELECT n1, n2,
                 (CAST(n1 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)
                   * (365.0 / 731.0))
                 / sqrt(CAST(n1 + n2 AS DOUBLE) * (365.0 / 731.0)
                   * (1.0 - (365.0 / 731.0))) AS z
               FROM g)
         SELECT n1 AS n_1995, n2 AS n_1996,
                round(CAST(n1 AS DOUBLE) / 365.0, 4) AS rate_1995,
                round(CAST(n2 AS DOUBLE) / 366.0, 4) AS rate_1996,
                round((CAST(n1 AS DOUBLE) / 365.0)
                  / (CAST(n2 AS DOUBLE) / 366.0), 4) AS rate_ratio,
                round(z, 4) AS z,
                abs(z) > 1.96 AS reject_equal_rates
         FROM z""",
    // per-segment int128 moment sums; every RSS/F expression mirrors
    // the Spark side lexically (the q_granger two-model contract)
    "q_chow" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS x, v AS y
                FROM dly),
         n0 AS (SELECT count(*) AS n FROM ix),
         t AS (SELECT CAST(x AS BIGINT) AS x, y,
                      x <= n // 2 AS s1
               FROM ix, n0),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
                 sum(CASE WHEN s1 THEN CAST(x AS HUGEINT) ELSE 0 END)
                   AS sx1,
                 sum(CASE WHEN s1 THEN CAST(y AS HUGEINT) ELSE 0 END)
                   AS sy1,
                 sum(CASE WHEN s1 THEN CAST(x AS HUGEINT) * x
                     ELSE 0 END) AS sxx1,
                 sum(CASE WHEN s1 THEN CAST(x AS HUGEINT) * y
                     ELSE 0 END) AS sxy1,
                 sum(CASE WHEN s1 THEN CAST(y AS HUGEINT) * y
                     ELSE 0 END) AS syy1,
                 sum(CASE WHEN NOT s1 THEN CAST(x AS HUGEINT)
                     ELSE 0 END) AS sx2,
                 sum(CASE WHEN NOT s1 THEN CAST(y AS HUGEINT)
                     ELSE 0 END) AS sy2,
                 sum(CASE WHEN NOT s1 THEN CAST(x AS HUGEINT) * x
                     ELSE 0 END) AS sxx2,
                 sum(CASE WHEN NOT s1 THEN CAST(x AS HUGEINT) * y
                     ELSE 0 END) AS sxy2,
                 sum(CASE WHEN NOT s1 THEN CAST(y AS HUGEINT) * y
                     ELSE 0 END) AS syy2
               FROM t),
         r AS (SELECT n, n1,
                 (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
                    * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                    * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                    * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                    * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS rss1,
                 (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE)
                    * CAST(sy2 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
                 - (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)
                    * CAST(sy2 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
                   * (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)
                    * CAST(sy2 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
                   / (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE)
                    * CAST(sx2 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
                   AS rss2,
                 (CAST(syy1 + syy2 AS DOUBLE) - CAST(sy1 + sy2 AS DOUBLE)
                    * CAST(sy1 + sy2 AS DOUBLE) / CAST(n AS DOUBLE))
                 - (CAST(sxy1 + sxy2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE)
                    * CAST(sy1 + sy2 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sxy1 + sxy2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE)
                    * CAST(sy1 + sy2 AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(sxx1 + sxx2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE)
                    * CAST(sx1 + sx2 AS DOUBLE) / CAST(n AS DOUBLE)) AS rssp
               FROM a),
         f AS (SELECT n, n1,
                 ((rssp - rss1 - rss2) / 2.0)
                   / ((rss1 + rss2) / CAST(n - 4 AS DOUBLE)) AS f
               FROM r)
         SELECT n AS n_days, n1 AS n_pre, round(f, 4) AS f_stat,
                f > 3.0 AS reject_stability
         FROM f""",
    // per-run AD terms micro-rounded to integer units before the sum
    // (the chi²-cell precedent); G² and B(N−B) exact HUGEINTs
    "q_anderson_darling" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                             AS v,
                           (o_custkey % 2 = 0) AS isa
                    FROM orders),
         g AS (SELECT v,
                 CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)
                   AS BIGINT) AS cb
               FROM o GROUP BY 1),
         c AS (SELECT ca, cb,
                 CAST(sum(ca) OVER w AS BIGINT) AS cuma,
                 CAST(sum(ca + cb) OVER w AS BIGINT) AS cumn
               FROM g WINDOW w AS (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                      CAST(sum(cb) AS BIGINT) AS nb,
                      CAST(sum(ca + cb) AS BIGINT) AS nt FROM g),
         s AS (SELECT sum(CAST(round(CAST(ca + cb AS DOUBLE)
                   * CAST((CAST(cuma AS HUGEINT) * nt
                       - CAST(cumn AS HUGEINT) * na)
                     * (CAST(cuma AS HUGEINT) * nt
                       - CAST(cumn AS HUGEINT) * na) AS DOUBLE)
                   / CAST(CAST(cumn AS HUGEINT) * (nt - cumn)
                     AS DOUBLE)) AS BIGINT)) AS s,
                 max(na) AS na, max(nb) AS nb, max(nt) AS nt
               FROM c, n WHERE cumn < nt),
         a AS (SELECT na, nb,
                 CAST(s AS DOUBLE)
                   * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
                   / CAST(nt AS DOUBLE) AS a2
               FROM s)
         SELECT na AS n_a, nb AS n_b, round(a2, 4) AS a2,
                a2 > 2.492 AS reject_same_dist
         FROM a""",
    // ECDF-gap replay of ScaledWindow.rankCum: the scaled gap
    // nb*cuma - na*cumb is an exact HUGEINT per distinct value, the
    // weighted gap^2 sum exact, and T one mirrored double division
    "q_cvm" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                             AS v,
                           (o_custkey % 2 = 0) AS isa
                    FROM orders),
         g AS (SELECT v,
                 CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)
                   AS BIGINT) AS cb
               FROM o GROUP BY 1),
         c AS (SELECT ca, cb,
                 CAST(sum(ca) OVER w AS BIGINT) AS cuma,
                 CAST(sum(cb) OVER w AS BIGINT) AS cumb
               FROM g WINDOW w AS (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                      CAST(sum(cb) AS BIGINT) AS nb FROM g),
         s AS (SELECT sum(CAST(ca + cb AS HUGEINT) *
                 ((CAST(cuma AS HUGEINT) * nb
                   - CAST(cumb AS HUGEINT) * na)
                  * (CAST(cuma AS HUGEINT) * nb
                     - CAST(cumb AS HUGEINT) * na))) AS s,
                 max(na) AS na, max(nb) AS nb
               FROM c, n),
         t AS (SELECT na, nb, CAST(s AS DOUBLE) /
                 ((CAST(na AS DOUBLE) * nb)
                  * (CAST(na + nb AS DOUBLE) * (na + nb))) AS t
               FROM s)
         SELECT na AS n_a, nb AS n_b, round(t, 6) AS t_stat,
                t > 0.461 AS reject_same_dist
         FROM t""",
    // the four-cumulative collapse of the pairwise |v-b| totals,
    // replayed with one window pass; eab/eaa/ebb exact HUGEINTs,
    // then the three mirrored double divisions
    "q_energy_distance" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                             AS v,
                           (o_custkey % 2 = 0) AS isa
                    FROM orders),
         g AS (SELECT v,
                 CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)
                   AS BIGINT) AS cb
               FROM o GROUP BY 1),
         c AS (SELECT v, ca, cb,
                 CAST(sum(ca) OVER w AS BIGINT) AS cuma,
                 CAST(sum(cb) OVER w AS BIGINT) AS cumb,
                 CAST(sum(ca * v) OVER w AS BIGINT) AS cumav,
                 CAST(sum(cb * v) OVER w AS BIGINT) AS cumbv
               FROM g WINDOW w AS (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                      CAST(sum(cb) AS BIGINT) AS nb,
                      CAST(sum(ca * v) AS BIGINT) AS tav,
                      CAST(sum(cb * v) AS BIGINT) AS tbv FROM g),
         e AS (SELECT max(na) AS na, max(nb) AS nb,
                 sum(CAST(ca AS HUGEINT)
                   * (CAST(v AS HUGEINT) * (cumb - cb)
                      - (CAST(cumbv AS HUGEINT)
                         - CAST(cb AS HUGEINT) * v)
                      + (CAST(tbv AS HUGEINT) - cumbv)
                      - CAST(v AS HUGEINT) * (nb - cumb))) AS eab,
                 sum(CAST(ca AS HUGEINT)
                   * (CAST(v AS HUGEINT) * (cuma - ca)
                      - (CAST(cumav AS HUGEINT)
                         - CAST(ca AS HUGEINT) * v)
                      + (CAST(tav AS HUGEINT) - cumav)
                      - CAST(v AS HUGEINT) * (na - cuma))) AS eaa,
                 sum(CAST(cb AS HUGEINT)
                   * (CAST(v AS HUGEINT) * (cumb - cb)
                      - (CAST(cumbv AS HUGEINT)
                         - CAST(cb AS HUGEINT) * v)
                      + (CAST(tbv AS HUGEINT) - cumbv)
                      - CAST(v AS HUGEINT) * (nb - cumb))) AS ebb
               FROM c, n),
         d AS (SELECT na, nb,
                 2.0 * CAST(eab AS DOUBLE)
                   / (CAST(na AS DOUBLE) * nb)
                 - CAST(eaa AS DOUBLE) / (CAST(na AS DOUBLE) * na)
                 - CAST(ebb AS DOUBLE) / (CAST(nb AS DOUBLE) * nb)
                   AS d2
               FROM e)
         SELECT na AS n_a, nb AS n_b,
                round(d2 / 100.0, 6) AS d2_usd,
                round(sqrt(greatest(d2, 0.0)) / 10.0, 6) AS e_dist
         FROM d""",
    // three OLS fits from ten exact int128 moment sums; every
    // slope/SE/Sobel expression lexically mirrors the Spark side
    "q_mediation" ->
      """WITH t AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
                           CAST(round(l_quantity * 100) AS BIGINT) AS m,
                           CAST(round(l_extendedprice * 100) AS BIGINT)
                             AS y
                    FROM lineitem),
         s AS (SELECT count(*) AS n,
                      sum(CAST(x AS HUGEINT)) AS sx,
                      sum(CAST(m AS HUGEINT)) AS sm,
                      sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(x AS HUGEINT) * x) AS sxx,
                      sum(CAST(m AS HUGEINT) * m) AS smm,
                      sum(CAST(x AS HUGEINT) * m) AS sxm,
                      sum(CAST(x AS HUGEINT) * y) AS sxy,
                      sum(CAST(m AS HUGEINT) * y) AS smy,
                      sum(CAST(y AS HUGEINT) * y) AS syy
               FROM t),
         dd AS (SELECT n, CAST(n AS DOUBLE) AS dn,
                       CAST(sx AS DOUBLE) AS sx,
                       CAST(sm AS DOUBLE) AS sm,
                       CAST(sy AS DOUBLE) AS sy,
                       CAST(sxx AS DOUBLE) AS sxx,
                       CAST(smm AS DOUBLE) AS smm,
                       CAST(sxm AS DOUBLE) AS sxm,
                       CAST(sxy AS DOUBLE) AS sxy,
                       CAST(smy AS DOUBLE) AS smy,
                       CAST(syy AS DOUBLE) AS syy
                FROM s),
         c1 AS (SELECT n, dn, sx, sm, sy, sxx, smm, sxm, sxy, smy, syy,
                       dn * sxx - sx * sx AS sxxn,
                       dn * sxm - sx * sm AS sxmn,
                       dn * smm - sm * sm AS smmn,
                       dn * sxy - sx * sy AS sxyn,
                       dn * (sxx * smm - sxm * sxm)
                         - sx * (sx * smm - sxm * sm)
                         + sm * (sx * sxm - sxx * sm) AS det
                FROM dd),
         c2 AS (SELECT n, dn, sy, sxy, smy, syy, sxxn, sxyn,
                       sxmn / sxxn AS a,
                       (smmn - sxmn * sxmn / sxxn)
                         / ((dn - 2) * sxxn) AS sea2,
                       (sy * (sxx * smm - sxm * sxm)
                         - sx * (sxy * smm - sxm * smy)
                         + sm * (sxy * sxm - sxx * smy)) / det AS b0,
                       (dn * (sxy * smm - sxm * smy)
                         - sy * (sx * smm - sxm * sm)
                         + sm * (sx * smy - sxy * sm)) / det AS b1,
                       (dn * (sxx * smy - sxy * sxm)
                         - sx * (sx * smy - sxy * sm)
                         + sy * (sx * sxm - sxx * sm)) / det AS b2,
                       det
                FROM c1),
         c3 AS (SELECT n, a, b1, b2, sea2, sxyn, sxxn,
                       ((syy - (b0 * sy + b1 * sxy + b2 * smy))
                         / (dn - 3)) * sxxn / det AS seb2
                FROM c2)
         SELECT n AS n_rows,
                round(a, 6) AS a_x_to_m,
                round(b2, 6) AS b_m_to_y,
                round(b1, 6) AS direct_effect,
                round(sxyn / sxxn, 6) AS total_effect,
                round(a * b2 / sqrt(b2 * b2 * sea2 + a * a * seb2), 4)
                  AS sobel_z,
                round(a * b2 / (sxyn / sxxn), 6) AS prop_mediated,
                abs(a * b2 / sqrt(b2 * b2 * sea2 + a * a * seb2)) > 1.96
                  AS mediated
         FROM c3""",
    // same zero-filled grid + doubled ranks as q_friedman; S stays
    // exact int128, W/chi2 mirrored divisions at emission
    "q_kendall_w" ->
      """WITH oc AS (SELECT date_trunc('month', CAST(o_orderdate
                        AS DATE)) AS mth,
                            c_nationkey AS g,
                            CAST(sum(CAST(round(o_totalprice * 100)
                              AS BIGINT)) AS BIGINT) AS v
                     FROM orders JOIN customer ON o_custkey = c_custkey
                     GROUP BY 1, 2),
         months AS (SELECT DISTINCT mth FROM oc),
         grid AS (SELECT m.mth, n.n_nationkey AS g,
                         coalesce(oc.v, 0) AS v
                  FROM months m CROSS JOIN nation n
                  LEFT JOIN oc ON oc.mth = m.mth
                    AND oc.g = n.n_nationkey),
         rk AS (SELECT g,
                       2 * (rank() OVER (PARTITION BY mth
                         ORDER BY v) - 1)
                       + count(*) OVER (PARTITION BY mth, v) + 1 AS dr
                FROM grid),
         rj AS (SELECT g, CAST(sum(dr) AS BIGINT) AS drj
                FROM rk GROUP BY g),
         ties AS (SELECT coalesce(sum(CAST(c AS HUGEINT) * c * c - c),
                    0) AS tt
                  FROM (SELECT mth, v, count(*) AS c FROM grid
                        GROUP BY 1, 2)
                  WHERE c > 1),
         dims AS (SELECT (SELECT count(*) FROM rj) AS k,
                         (SELECT count(*) FROM months) AS m),
         s4 AS (SELECT k, m,
                       sum((CAST(drj AS HUGEINT) - CAST(m AS HUGEINT)
                           * (k + 1))
                         * (CAST(drj AS HUGEINT) - CAST(m AS HUGEINT)
                           * (k + 1))) AS s4
                FROM rj, dims GROUP BY k, m)
         SELECT m AS n_blocks, k AS n_groups,
                round(CAST(3 * s4 AS DOUBLE)
                  / CAST(CAST(m AS HUGEINT) * m
                      * (CAST(k AS HUGEINT) * k * k - k)
                    - CAST(m AS HUGEINT) * tt AS DOUBLE), 6)
                  AS kendall_w,
                round(m * (k - 1) * (CAST(3 * s4 AS DOUBLE)
                  / CAST(CAST(m AS HUGEINT) * m
                      * (CAST(k AS HUGEINT) * k * k - k)
                    - CAST(m AS HUGEINT) * tt AS DOUBLE)), 4) AS chi2
         FROM s4, ties""",
    // scaled residuals |nc*x - sc| and the order-statistic selection
    // are exact integers end to end; two mirrored emission divisions
    "q_conformal" ->
      """WITH base AS (SELECT o_orderpriority AS pri,
                              CAST(round(o_totalprice * 100) AS BIGINT)
                                AS x,
                              ('0x' || substring(md5(CAST(o_orderkey
                                AS VARCHAR)), 1, 4))::BIGINT % 2 AS h
                       FROM orders),
         cal AS (SELECT pri, count(*) AS nc,
                        sum(CAST(x AS HUGEINT)) AS sc
                 FROM base WHERE h = 0 GROUP BY 1),
         scored AS (SELECT base.pri, x, h, nc,
                           abs(CAST(x AS HUGEINT) * nc - sc) AS r
                    FROM base JOIN cal ON base.pri = cal.pri),
         grain AS (SELECT pri, r, count(*) AS c
                   FROM scored WHERE h = 0 GROUP BY 1, 2),
         loc AS (SELECT pri, r,
                        sum(c) OVER (PARTITION BY pri ORDER BY r
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                          ROW) AS lc,
                        sum(c) OVER (PARTITION BY pri) AS ng
                 FROM grain),
         qh AS (SELECT pri,
                       min(CASE WHEN lc >= (9 * (ng + 1) + 9) // 10
                         THEN r END) AS qhat
                FROM loc GROUP BY pri),
         cov AS (SELECT scored.pri, count(*) AS n_test,
                        CAST(sum(CASE WHEN r <= qhat THEN 1 ELSE 0 END)
                          AS BIGINT) AS covered
                 FROM scored JOIN qh ON scored.pri = qh.pri
                 WHERE h = 1 GROUP BY 1)
         SELECT cal.pri, nc AS n_cal, n_test,
                round(CAST(qhat AS DOUBLE) / (nc * 100.0), 2)
                  AS q_hat_usd,
                round(CAST(covered AS DOUBLE) / n_test, 4) AS coverage
         FROM cal JOIN cov ON cal.pri = cov.pri
              JOIN qh ON cal.pri = qh.pri
         ORDER BY cal.pri""",
    // same nine-moment int128 pass and r expression trees as
    // q_partial_corr; each VIF is a few mirrored double ops
    "q_vif" -> {
      def r(sab: String, sa: String, sb: String, saa: String,
          sbb: String) =
        s"""CAST(n * $sab - $sa * $sb AS DOUBLE)
                  / (sqrt(CAST(n * $saa - $sa * $sa AS DOUBLE))
                    * sqrt(CAST(n * $sbb - $sb * $sb AS DOUBLE)))"""
      val (rxy, rxz, ryz) = (r("sxy", "sx", "sy", "sxx", "syy"),
        r("sxz", "sx", "sz", "sxx", "szz"),
        r("syz", "sy", "sz", "syy", "szz"))
      def r2(rab: String, rac: String, rbc: String) =
        s"""($rab * $rab + $rac * $rac
                  - 2.0 * $rab * $rac * $rbc)
                  / (1.0 - $rbc * $rbc)"""
      s"""WITH t AS (SELECT CAST(round(l_quantity * 100) AS BIGINT)
                       AS x,
                            CAST(round(l_extendedprice * 100) AS BIGINT)
                              AS y,
                            CAST(round(l_discount * 100) AS BIGINT)
                              AS z
                     FROM lineitem),
         a AS (SELECT count(*) AS n,
                      sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
                      sum(CAST(x AS HUGEINT) * x) AS sxx,
                      sum(CAST(y AS HUGEINT) * y) AS syy,
                      sum(CAST(z AS HUGEINT) * z) AS szz,
                      sum(CAST(x AS HUGEINT) * y) AS sxy,
                      sum(CAST(x AS HUGEINT) * z) AS sxz,
                      sum(CAST(y AS HUGEINT) * z) AS syz
               FROM t),
         c AS (SELECT n, $rxy AS rxy, $rxz AS rxz, $ryz AS ryz
               FROM a)
         SELECT n AS n_rows,
                round(1.0 / (1.0 - ${r2("rxy", "rxz", "ryz")}), 4)
                  AS vif_x,
                round(1.0 / (1.0 - ${r2("rxy", "ryz", "rxz")}), 4)
                  AS vif_y,
                round(1.0 / (1.0 - ${r2("rxz", "ryz", "rxy")}), 4)
                  AS vif_z
         FROM c"""
    },
    // Q is integer arithmetic end to end (row/column/grand totals);
    // one mirrored division at emission
    "q_cochran_q" ->
      """WITH cy AS (SELECT DISTINCT o_custkey,
                            CAST(year(o_orderdate) AS INTEGER) AS yr
                     FROM orders
                     WHERE year(o_orderdate) IN (1995, 1996, 1997)),
         rows_ AS (SELECT count(*) AS n_blocks,
                          CAST(sum(l) AS BIGINT) AS t,
                          CAST(sum(l * l) AS BIGINT) AS sl2
                   FROM (SELECT o_custkey, count(*) AS l
                         FROM cy GROUP BY 1)),
         cols_ AS (SELECT sum(CAST(g AS HUGEINT) * g) AS sg2
                   FROM (SELECT yr, count(*) AS g FROM cy GROUP BY 1))
         SELECT 3 AS k, n_blocks, t AS grand_total,
                round(CAST(2 * (3 * sg2 - CAST(t AS HUGEINT) * t)
                    AS DOUBLE)
                  / CAST(3 * t - sl2 AS DOUBLE), 4) AS q_stat,
                CAST(2 * (3 * sg2 - CAST(t AS HUGEINT) * t) AS DOUBLE)
                  / CAST(3 * t - sl2 AS DOUBLE) > 5.991
                  AS reject_no_change
         FROM rows_, cols_""",
    // per-replica arm sums are exact long cents; each replica's mean
    // difference is the same mirrored double expression as the
    // observed one, so the >= compare can never flip
    "q_permutation_test" ->
      """WITH rev AS (SELECT o_custkey,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS r
                      FROM orders GROUP BY 1),
         obs AS (SELECT CAST(sum(CASE WHEN o_custkey % 2 = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                        CAST(sum(CASE WHEN o_custkey % 2 = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                        CAST(sum(CASE WHEN o_custkey % 2 = 0
                          THEN r ELSE 0 END) AS BIGINT) AS s0,
                        CAST(sum(CASE WHEN o_custkey % 2 = 1
                          THEN r ELSE 0 END) AS BIGINT) AS s1
                 FROM rev),
         ob AS (SELECT CAST(s0 AS DOUBLE) / n0
                  - CAST(s1 AS DOUBLE) / n1 AS d_obs
                FROM obs),
         rh AS (SELECT o_custkey, r,
                       [('0x' || substring(md5('1:' || o_custkey),
                          1, 13))::BIGINT,
                        ('0x' || substring(md5('2:' || o_custkey),
                          1, 13))::BIGINT,
                        ('0x' || substring(md5('3:' || o_custkey),
                          1, 13))::BIGINT,
                        ('0x' || substring(md5('4:' || o_custkey),
                          1, 13))::BIGINT] AS ch
                FROM rev),
         pa AS (SELECT b,
                       (ch[b // 50 + 1] >> (b % 50)) & 1 AS a, r
                FROM (SELECT unnest(generate_series(0, 199)) AS b) bs,
                  rh),
         pg AS (SELECT b,
                       CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n0,
                       CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n1,
                       CAST(sum(CASE WHEN a = 0 THEN r ELSE 0 END)
                         AS BIGINT) AS s0,
                       CAST(sum(CASE WHEN a = 1 THEN r ELSE 0 END)
                         AS BIGINT) AS s1
                FROM pa GROUP BY b),
         pd AS (SELECT b, CAST(s0 AS DOUBLE) / n0
                  - CAST(s1 AS DOUBLE) / n1 AS d
                FROM pg),
         agg AS (SELECT count(*) AS n_perm,
                        CAST(sum(CASE WHEN abs(d) >= abs(d_obs)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
                        round(max(d_obs) / 100.0, 2) AS d_obs_usd
                 FROM pd, ob)
         SELECT n_perm, n_extreme, d_obs_usd,
                round(CAST(n_extreme + 1 AS DOUBLE) / (n_perm + 1), 4)
                  AS p_value
         FROM agg""",
    // doubled average ranks on the distinct-value grain keep 2R1
    // exact; one mirrored sqrt + division for the tie-corrected z
    "q_mann_whitney" ->
      """WITH oc AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
                              THEN 1 ELSE 0 END AS g,
                            CAST(round(o_totalprice * 100) AS BIGINT) AS x
                     FROM orders
                     WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         vals AS (SELECT x, count(*) AS c,
                         CAST(sum(g) AS BIGINT) AS c1
                  FROM oc GROUP BY 1),
         rx AS (SELECT c, c1, 2 * sum(c) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - c + 1 AS dr
                FROM vals),
         a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                      CAST(sum(c) AS BIGINT) AS n,
                      sum(CAST(c1 AS HUGEINT) * dr) AS d2r1,
                      coalesce(sum(CASE WHEN c > 1 THEN
                        CAST(c AS HUGEINT) * c * c - c END), 0) AS t3
               FROM rx)
         SELECT n1, n - n1 AS n2,
                CAST(d2r1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
                round((CAST(d2r1 - n1 * (n1 + 1) AS DOUBLE)
                    - CAST(n1 * (n - n1) AS DOUBLE))
                  / sqrt(CAST(n1 * (n - n1) AS DOUBLE) / 3.0
                    * (CAST(n + 1 AS DOUBLE) - CAST(t3 AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE))), 4) AS z,
                abs((CAST(d2r1 - n1 * (n1 + 1) AS DOUBLE)
                    - CAST(n1 * (n - n1) AS DOUBLE))
                  / sqrt(CAST(n1 * (n - n1) AS DOUBLE) / 3.0
                    * (CAST(n + 1 AS DOUBLE) - CAST(t3 AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE)))) > 1.96
                  AS reject_equal
         FROM a""",
    // paired CALENDAR week-over-week diffs (day = day + 7 join, so
    // grid gaps drop their pairs); doubled |diff| ranks keep 2W+
    // exact; one mirrored division + sqrt for z
    "q_wilcoxon" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         df AS (SELECT a.v - b.v AS dd
                FROM dly a JOIN dly b ON a.day = b.day + 7
                WHERE a.v - b.v <> 0),
         vals AS (SELECT abs(dd) AS ad, count(*) AS c,
                         CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS cp
                  FROM df GROUP BY 1),
         rx AS (SELECT c, cp, 2 * sum(c) OVER (ORDER BY ad
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - c + 1 AS dr
                FROM vals),
         g AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                      sum(CAST(cp AS HUGEINT) * dr) AS d2w,
                      coalesce(sum(CASE WHEN c > 1 THEN
                        CAST(c AS HUGEINT) * c * c - c END), 0) AS t3
               FROM rx)
         SELECT n AS n_pairs,
                CAST(d2w AS DOUBLE) / 2.0 AS w_plus,
                round(CAST(2 * d2w - CAST(n AS HUGEINT) * (n + 1)
                    AS DOUBLE)
                  / sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1)
                      * (2 * n + 1) - t3 AS DOUBLE) / 3.0), 4) AS z,
                abs(CAST(2 * d2w - CAST(n AS HUGEINT) * (n + 1)
                    AS DOUBLE)
                  / sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1)
                      * (2 * n + 1) - t3 AS DOUBLE) / 3.0)) > 1.96
                  AS reject_no_shift
         FROM g""",
    // grouped order-statistic medians (doubled midpoint), exact long
    // deviations, then the anova craft: each sum^2/n term rounded to
    // an integer before the k-term sum
    "q_levene" ->
      """WITH oc AS (SELECT o_orderpriority AS pri,
                            CAST(round(o_totalprice * 100) AS BIGINT) AS x
                     FROM orders),
         grain AS (SELECT pri, x, count(*) AS c FROM oc GROUP BY 1, 2),
         loc AS (SELECT pri, x, sum(c) OVER (PARTITION BY pri
                   ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS lc,
                        sum(c) OVER (PARTITION BY pri) AS ng
                 FROM grain),
         med AS (SELECT pri,
                        min(CASE WHEN lc >= (ng + 1) // 2 THEN x END)
                        + min(CASE WHEN lc >= ng // 2 + 1 THEN x END)
                          AS med2
                 FROM loc GROUP BY pri),
         z AS (SELECT oc.pri, abs(2 * x - med2) AS z
               FROM oc JOIN med ON oc.pri = med.pri),
         grp AS (SELECT pri, count(*) AS ng,
                        sum(CAST(z AS HUGEINT)) AS sg,
                        sum(CAST(z AS HUGEINT) * z) AS sgg
                 FROM z GROUP BY pri),
         cg AS (SELECT ng, sgg, sg,
                       CAST(round(CAST(sg * sg AS DOUBLE) / ng)
                         AS HUGEINT) AS cg
                FROM grp),
         parts AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                          sum(CAST(cg AS HUGEINT)) AS scg,
                          sum(sgg) AS sxx, sum(sg) AS sx
                   FROM cg),
         a AS (SELECT k, n,
                      CAST(scg - CAST(round(CAST(sx * sx AS DOUBLE) / n)
                        AS HUGEINT) AS DOUBLE) AS ssb,
                      CAST(sxx - scg AS DOUBLE) AS ssw
               FROM parts)
         SELECT k AS n_groups, n AS n_orders,
                round((ssb / (k - 1)) / (ssw / (n - k)), 4) AS w_stat,
                (ssb / (k - 1)) / (ssw / (n - k)) > 2.372
                  AS reject_equal_var
         FROM a""",
    // argmax on the exact int128 deviation |n*v - sum|; one mirrored
    // division + sqrt for G at emission
    "q_grubbs" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         tot AS (SELECT count(*) AS n, sum(CAST(v AS HUGEINT)) AS sm,
                        sum(CAST(v AS HUGEINT) * v) AS ssq
                 FROM dly),
         top AS (SELECT n, day, sm, ssq,
                        abs(CAST(v AS HUGEINT) * n - sm) AS dev
                 FROM dly, tot
                 ORDER BY dev DESC, day ASC LIMIT 1)
         SELECT n AS n_days, day AS out_day,
                round((CAST(dev AS DOUBLE) / n)
                  / sqrt(CAST(CAST(n AS HUGEINT) * ssq - sm * sm
                      AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)), 4)
                  AS g_stat
         FROM top""",
    // exact int128 arm moments; margin, se, and both one-sided t
    // statistics are mirrored double expressions at emission
    "q_tost" ->
      """WITH arms AS (SELECT
                CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
                CAST(sum(CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb,
                sum(CASE WHEN o_custkey % 2 = 0 THEN
                  CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                    AS HUGEINT) ELSE 0 END) AS sa,
                sum(CASE WHEN o_custkey % 2 = 1 THEN
                  CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                    AS HUGEINT) ELSE 0 END) AS sb,
                sum(CASE WHEN o_custkey % 2 = 0 THEN
                  CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                    AS HUGEINT) * CAST(round(o_totalprice * 100)
                    AS BIGINT) ELSE 0 END) AS ssa,
                sum(CASE WHEN o_custkey % 2 = 1 THEN
                  CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                    AS HUGEINT) * CAST(round(o_totalprice * 100)
                    AS BIGINT) ELSE 0 END) AS ssb
              FROM orders),
         e AS (SELECT na, nb,
                      CAST(sa AS DOUBLE) / na AS ma,
                      CAST(sb AS DOUBLE) / nb AS mb,
                      0.05 * (CAST(sa + sb AS DOUBLE) / (na + nb))
                        AS delta,
                      sqrt(CAST(na * ssa - sa * sa AS DOUBLE)
                          / CAST(CAST(na AS HUGEINT) * (na - 1)
                            AS DOUBLE) / na
                        + CAST(nb * ssb - sb * sb AS DOUBLE)
                          / CAST(CAST(nb AS HUGEINT) * (nb - 1)
                            AS DOUBLE) / nb) AS se
               FROM arms)
         SELECT na, nb,
                round(ma / 100.0, 2) AS mean_a_usd,
                round(mb / 100.0, 2) AS mean_b_usd,
                round((ma - mb + delta) / se, 4) AS t_lower,
                round((delta - (ma - mb)) / se, 4) AS t_upper,
                least((ma - mb + delta) / se,
                  (delta - (ma - mb)) / se) > 1.645 AS equivalent
         FROM e""",
    // integer micro-nat increments and Wald bounds are interpolated
    // Scala literals; the walk is an exact long cumsum, the stopping
    // point an integer argmin — nothing float-dependent to mirror
    "q_sprt" ->
      s"""WITH ev AS (SELECT ts, event_id,
                             CASE WHEN event_type = 'purchase'
                               THEN ${sprtA} ELSE ${sprtB} END AS term
                      FROM events),
         c AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rk,
                      sum(term) OVER (ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                        ROW) AS cum
               FROM ev),
         tot AS (SELECT count(*) AS n_total,
                        CAST(sum(term) AS BIGINT) AS llr_final
                 FROM ev),
         x AS (SELECT min(rk) AS nd, arg_min(cum, rk) AS llr
               FROM c WHERE cum >= ${sprtUp} OR cum <= ${sprtLo})
         SELECT CASE WHEN nd IS NULL THEN 'continue'
                     WHEN llr >= ${sprtUp} THEN 'accept_h1'
                     ELSE 'accept_h0' END AS decision,
                nd AS n_at_decision,
                CAST(llr AS BIGINT) AS llr_micro_nats,
                n_total,
                llr_final AS llr_final_micro
         FROM x, tot""",
    // hypergeometric E/V per time point rounded to integer micro-units
    // BEFORE the sum (exact long addition over the duration axis)
    "q_logrank" ->
      """WITH life AS (SELECT CAST(date_diff('day', min(o_orderdate),
                                        max(o_orderdate)) AS INTEGER) AS dur,
                              CASE WHEN max(o_orderdate) < DATE '2001-01-01'
                                   THEN 1 ELSE 0 END AS event,
                              o_custkey % 2 AS grp
                       FROM orders GROUP BY o_custkey),
         g AS (SELECT dur,
                      CAST(sum(CASE WHEN grp = 1 THEN event ELSE 0 END)
                        AS BIGINT) AS d1,
                      CAST(sum(event) AS BIGINT) AS dt,
                      CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c1,
                      count(*) AS ct
               FROM life GROUP BY dur),
         r AS (SELECT d1, dt,
                      CAST(sum(c1) OVER (ORDER BY dur ROWS BETWEEN
                        CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
                        AS n1,
                      CAST(sum(ct) OVER (ORDER BY dur ROWS BETWEEN
                        CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
                        AS nt
               FROM g),
         t AS (SELECT d1,
                      CAST(round(CAST(dt AS DOUBLE) * n1 / nt * 1000000)
                        AS BIGINT) AS e_micro,
                      CAST(round(CAST(dt AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / nt)
                        * (1.0 - CAST(n1 AS DOUBLE) / nt)
                        * (CAST(nt - dt AS DOUBLE) / (nt - 1))
                        * 1000000) AS BIGINT) AS v_micro
               FROM r WHERE dt > 0 AND nt > 1),
         f AS (SELECT count(*) AS n_times, CAST(sum(d1) AS BIGINT) AS o1,
                      CAST(sum(e_micro) AS BIGINT) AS e1m,
                      CAST(sum(v_micro) AS BIGINT) AS vm
               FROM t)
         SELECT n_times, o1, round(e1m / 1000000.0, 4) AS e1,
                round(pow(o1 - e1m / 1000000.0, 2) / (vm / 1000000.0), 4)
                  AS chi2
         FROM f""",
    // exact long cell counts/margins from one 4-row aggregate; each
    // 2*O*ln(O/E) term micro-rounded before the exact 4-term sum
    "q_g_test" ->
      """WITH o AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END AS a,
                           CASE WHEN o_orderstatus = 'F'
                             THEN 1 ELSE 0 END AS b
                    FROM orders),
         cts AS (SELECT a, b, count(*) AS n FROM o GROUP BY a, b),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                        CAST(sum(CASE WHEN a = 1 THEN n ELSE 0 END)
                          AS BIGINT) AS ra,
                        CAST(sum(CASE WHEN b = 1 THEN n ELSE 0 END)
                          AS BIGINT) AS cb
                 FROM cts),
         t AS (SELECT CAST(round(2000000.0 * n
                      * ln(CAST(n AS DOUBLE)
                        / (CAST(CASE WHEN a = 1 THEN ra ELSE nn - ra END
                             AS DOUBLE)
                          * CAST(CASE WHEN b = 1 THEN cb ELSE nn - cb END
                              AS DOUBLE)
                          / nn))) AS BIGINT) AS t_micro
               FROM cts, tot),
         f AS (SELECT count(*) AS n_cells,
                      CAST(sum(t_micro) AS BIGINT) AS gm
               FROM t)
         SELECT n_cells, round(gm / 1000000.0, 4) AS g_stat,
                CAST(1 AS BIGINT) AS df,
                gm > 3841000 AS reject_independence
         FROM f""",
    // integer hash-threshold outcome draw (+10-point treated lift),
    // explicit DIV decile cut, exact cumulative arm counts
    "q_qini" ->
      """WITH u AS (SELECT o_orderkey, o_custkey % 2 AS t,
                           ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                              1, 4))::BIGINT AS score,
                           ('0x' || substring(md5('c:' || o_orderkey),
                              1, 4))::BIGINT AS h2
                    FROM orders),
         c AS (SELECT o_orderkey, t, score,
                      CASE WHEN h2 < 13107 + 6554 * t THEN 1 ELSE 0 END
                        AS conv
               FROM u),
         rk AS (SELECT t, conv,
                       row_number() OVER (ORDER BY score DESC, o_orderkey)
                         AS rk,
                       count(*) OVER () AS n
                FROM c),
         g AS (SELECT ((rk - 1) * 10) // n + 1 AS decile,
                      CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS nt,
                      CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
                        AS nc,
                      CAST(sum(CASE WHEN t = 1 THEN conv ELSE 0 END)
                        AS BIGINT) AS convt,
                      CAST(sum(CASE WHEN t = 0 THEN conv ELSE 0 END)
                        AS BIGINT) AS convc
               FROM rk GROUP BY 1),
         cc AS (SELECT g.*,
                       CAST(sum(nt) OVER (ORDER BY decile ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS cnt,
                       CAST(sum(nc) OVER (ORDER BY decile ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS cnc,
                       CAST(sum(convt) OVER (ORDER BY decile ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS cct,
                       CAST(sum(convc) OVER (ORDER BY decile ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS ccc
                FROM g)
         SELECT CAST(decile AS BIGINT) AS decile, nt AS n_treat,
                nc AS n_ctrl,
                round(CAST(convt AS DOUBLE) / nt, 6) AS rate_t,
                round(CAST(convc AS DOUBLE) / nc, 6) AS rate_c,
                round(CAST(convt AS DOUBLE) / nt
                  - CAST(convc AS DOUBLE) / nc, 6) AS uplift,
                round(cct - CAST(ccc AS DOUBLE) * cnt / cnc, 4) AS qini
         FROM cc ORDER BY decile""",
    // within-bin ATT terms rounded to integer milli-cents before the
    // exact grid sum; off-support bins (missing an arm) drop out
    "q_psm_att" ->
      """WITH spend AS (SELECT o_custkey,
                               sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                 AS y
                        FROM orders GROUP BY 1),
         u AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                        AS t,
                      y,
                      ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)),
                         1, 4))::BIGINT AS h
               FROM customer JOIN spend ON c_custkey = o_custkey),
         b AS (SELECT (h * 10) // 65536 AS bin,
                      CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS nt,
                      CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
                        AS nc,
                      CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
                        AS st,
                      CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
                        AS sc
               FROM u GROUP BY 1),
         m AS (SELECT nt, nc,
                      CAST(round((CAST(st AS DOUBLE)
                        - CAST(nt AS DOUBLE) * sc / nc) * 1000) AS BIGINT)
                        AS m
               FROM b WHERE nt > 0 AND nc > 0),
         f AS (SELECT count(*) AS n_bins, CAST(sum(nt) AS BIGINT) AS n_treat,
                      CAST(sum(nc) AS BIGINT) AS n_ctrl,
                      CAST(sum(m) AS BIGINT) AS sm
               FROM m)
         SELECT n_bins, n_treat, n_ctrl,
                round(sm / (n_treat * 100000.0), 4) AS att_usd
         FROM f""",
    // z-constants and delta squared in Scala double arithmetic,
    // interpolated so both engines evaluate the identical literals
    "q_power_analysis" ->
      s"""WITH a AS (SELECT count(*) AS n_events,
                            CAST(sum(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
                     FROM events),
         p AS (SELECT n_events,
                      CAST(n_conv AS DOUBLE) / n_events AS p1,
                      CAST(n_conv AS DOUBLE) / n_events
                        + CAST(0.01 AS DOUBLE) AS p2
               FROM a)
         SELECT n_events, round(p1, 6) AS p_base,
                CAST(0.01 AS DOUBLE) AS mde,
                CASE WHEN p2 <= 1.0 THEN
                  CAST(ceil(${powerZsumSq}
                    * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                    / ${powerDeltaSq}) AS BIGINT)
                ELSE NULL END AS n_per_arm
         FROM p""",
    // per-stratum sign compares on raw exact-count ratios; the flag
    // fires only on a FULL reversal (the paradox proper)
    "q_simpson" ->
      """WITH oc AS (SELECT o_orderpriority AS pri,
                            CASE WHEN c_mktsegment = 'BUILDING'
                                 THEN 1 ELSE 0 END AS t,
                            o_orderkey % 2 AS y
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         tot AS (SELECT CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END)
                          AS DOUBLE)
                        / sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                        - CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END)
                            AS DOUBLE)
                        / sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS d_all
                 FROM oc),
         st AS (SELECT pri,
                       CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END)
                         AS DOUBLE)
                       / sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                       - CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END)
                           AS DOUBLE)
                       / sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS d_s
                FROM oc GROUP BY 1),
         f AS (SELECT count(*) AS n_strata,
                      round(max(tot.d_all), 6) AS overall_diff,
                      CAST(sum(CASE WHEN (d_s > 0) <> (tot.d_all > 0)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed
               FROM st, tot)
         SELECT n_strata, overall_diff, n_reversed,
                n_reversed = n_strata AS simpson_flag
         FROM f""",
    // cross-valued basket terms rounded to integer cents before the
    // exact sums; Fisher = sqrt(L * P) at emission
    "q_price_index" ->
      """WITH li AS (SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr,
                            CAST(sum(CAST(round(l_extendedprice * 100)
                              AS BIGINT)) AS BIGINT) AS v,
                            CAST(sum(CAST(round(l_quantity) AS BIGINT))
                              AS BIGINT) AS q
                     FROM lineitem
                     WHERE year(CAST(l_shipdate AS DATE)) IN (1995, 1996)
                     GROUP BY 1, 2),
         b AS (SELECT l_partkey, v AS v0, q AS q0 FROM li WHERE yr = 1995),
         c AS (SELECT l_partkey, v AS v1, q AS q1 FROM li WHERE yr = 1996),
         j AS (SELECT count(*) AS n_parts,
                      CAST(sum(v0) AS BIGINT) AS sv0,
                      CAST(sum(v1) AS BIGINT) AS sv1,
                      CAST(sum(CAST(round(CAST(v1 AS DOUBLE) * q0 / q1)
                        AS BIGINT)) AS BIGINT) AS l_num,
                      CAST(sum(CAST(round(CAST(v0 AS DOUBLE) * q1 / q0)
                        AS BIGINT)) AS BIGINT) AS p_den
               FROM b JOIN c USING (l_partkey))
         SELECT n_parts,
                round(l_num / CAST(sv0 AS DOUBLE), 6) AS laspeyres,
                round(sv1 / CAST(p_den AS DOUBLE), 6) AS paasche,
                round(sqrt((l_num / CAST(sv0 AS DOUBLE))
                  * (sv1 / CAST(p_den AS DOUBLE))), 6) AS fisher
         FROM j""",
    // row-level hash split leaks customers across sides; the
    // group-level split is clean by construction (the control)
    "q_split_leakage" ->
      """WITH o AS (SELECT o_custkey,
                           ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                              1, 4))::BIGINT < 52429 AS train_row,
                           ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                              1, 4))::BIGINT < 52429 AS train_grp
                    FROM orders),
         pu AS (SELECT o_custkey, count(*) AS n_orders,
                       count(DISTINCT train_row) AS sides_row,
                       count(DISTINCT train_grp) AS sides_grp
                FROM o GROUP BY 1)
         SELECT count(*) AS n_customers,
                CAST(sum(n_orders) AS BIGINT) AS n_orders,
                CAST(sum(CASE WHEN sides_row > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_leaking_row_split,
                CAST(sum(CASE WHEN sides_row > 1 THEN n_orders ELSE 0 END)
                  AS BIGINT) AS rows_in_leaking_groups,
                CAST(sum(CASE WHEN sides_grp > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_leaking_group_split,
                round(CAST(sum(CASE WHEN sides_row > 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*), 6) AS leak_rate,
                sum(CASE WHEN sides_grp > 1 THEN 1 ELSE 0 END) = 0
                  AS group_split_clean
         FROM pu""",
    // lower weighted median: smallest price with 2*cum_weight >=
    // total_weight per flag, exact integer compares throughout
    "q_weighted_median" ->
      """WITH g AS (SELECT l_returnflag AS flag,
                           CAST(round(l_extendedprice * 100) AS BIGINT)
                             AS cents,
                           CAST(sum(CAST(round(l_quantity) AS BIGINT))
                             AS BIGINT) AS w
                    FROM lineitem GROUP BY 1, 2),
         c AS (SELECT flag, cents, w,
                      CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS lc,
                      CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS ft
               FROM g)
         SELECT flag, CAST(max(ft) AS BIGINT) AS total_weight,
                round(min(cents) / 100.0, 2) AS w_median_usd
         FROM c WHERE lc * 2 >= ft
         GROUP BY flag ORDER BY flag""",
    // equivalence classes of the quasi-identifier pair; all counts
    // exact integers; l-diversity on the sensitive sign bucket
    "q_k_anonymity" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz,
                           count(DISTINCT c_acctbal > 0) AS ldiv
                    FROM customer GROUP BY 1, 2)
         SELECT CAST(10 AS BIGINT) AS k,
                CAST(sum(sz) AS BIGINT) AS n_rows,
                count(*) AS n_classes,
                CAST(min(sz) AS BIGINT) AS min_class,
                CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_small_classes,
                CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
                  AS n_rows_at_risk,
                CAST(sum(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_low_ldiv
         FROM c""",
    // per-group weighted entropy terms in integer micro-bits before
    // the contingency-sized sum; 0*log0 = 0 by the CASE guard
    "q_info_gain" ->
      """WITH oc AS (SELECT c_mktsegment, o_orderpriority,
                            CAST(c_nationkey AS VARCHAR) AS nation,
                            o_orderkey % 2 AS y
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         tot AS (SELECT count(*) AS n,
                        round(CASE WHEN sum(y) = 0 OR sum(y) = count(*)
                              THEN 0.0
                              ELSE -((CAST(sum(y) AS DOUBLE) / count(*))
                                  * log2(CAST(sum(y) AS DOUBLE) / count(*))
                                + (1.0 - CAST(sum(y) AS DOUBLE) / count(*))
                                  * log2(1.0 - CAST(sum(y) AS DOUBLE)
                                         / count(*)))
                              END, 6) AS h_y
                 FROM oc),
         u AS (
           SELECT 'mktsegment' AS feature, c_mktsegment AS g, count(*) AS ng,
                  CAST(sum(y) AS BIGINT) AS posg
           FROM oc GROUP BY 1, 2
           UNION ALL
           SELECT 'orderpriority', o_orderpriority, count(*),
                  CAST(sum(y) AS BIGINT)
           FROM oc GROUP BY 1, 2
           UNION ALL
           SELECT 'nationkey', nation, count(*), CAST(sum(y) AS BIGINT)
           FROM oc GROUP BY 1, 2),
         hm AS (SELECT feature,
                       CAST(round(CASE WHEN posg = 0 OR posg = ng THEN 0.0
                            ELSE -((CAST(posg AS DOUBLE) / ng)
                                * log2(CAST(posg AS DOUBLE) / ng)
                              + (1.0 - CAST(posg AS DOUBLE) / ng)
                                * log2(1.0 - CAST(posg AS DOUBLE) / ng))
                            END * ng * 1000000) AS BIGINT) AS hm
                FROM u),
         f AS (SELECT feature, count(*) AS n_groups,
                      CAST(sum(hm) AS BIGINT) AS shm
               FROM hm GROUP BY 1)
         SELECT feature, n_groups, h_y,
                round(h_y - shm / (n * 1000000.0), 6) AS info_gain
         FROM f, tot ORDER BY feature""",
    // chi-square GoF against the designed 50/50 split; exact integer
    // counts, one double division, alpha=0.05 critical value
    "q_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         a AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                      CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
               FROM u)
         SELECT n_a, n_b,
                round((n_a - n_b) * (n_a - n_b)
                  / CAST(n_a + n_b AS DOUBLE), 4) AS chi2,
                (n_a - n_b) * (n_a - n_b)
                  / CAST(n_a + n_b AS DOUBLE) > 3.841 AS srm_flag
         FROM a""",
    // nine int128 moment sums in one pass; the three Pearsons and the
    // partial are mirrored doubles at emission
    "q_partial_corr" -> {
      def r(sab: String, sa: String, sb: String, saa: String,
          sbb: String) =
        s"""CAST(n * $sab - $sa * $sb AS DOUBLE)
                  / (sqrt(CAST(n * $saa - $sa * $sa AS DOUBLE))
                    * sqrt(CAST(n * $sbb - $sb * $sb AS DOUBLE)))"""
      val (rxy, rxz, ryz) = (r("sxy", "sx", "sy", "sxx", "syy"),
        r("sxz", "sx", "sz", "sxx", "szz"),
        r("syz", "sy", "sz", "syy", "szz"))
      s"""WITH t AS (SELECT CAST(round(l_quantity * 100) AS BIGINT)
                       AS x,
                            CAST(round(l_extendedprice * 100) AS BIGINT)
                              AS y,
                            CAST(round(l_discount * 100) AS BIGINT)
                              AS z
                     FROM lineitem),
         a AS (SELECT count(*) AS n,
                      sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
                      sum(CAST(x AS HUGEINT) * x) AS sxx,
                      sum(CAST(y AS HUGEINT) * y) AS syy,
                      sum(CAST(z AS HUGEINT) * z) AS szz,
                      sum(CAST(x AS HUGEINT) * y) AS sxy,
                      sum(CAST(x AS HUGEINT) * z) AS sxz,
                      sum(CAST(y AS HUGEINT) * z) AS syz
               FROM t),
         c AS (SELECT n, $rxy AS rxy, $rxz AS rxz, $ryz AS ryz
               FROM a)
         SELECT n AS n_rows,
                round(rxy, 6) AS r_xy,
                round(rxz, 6) AS r_xz,
                round(ryz, 6) AS r_yz,
                round((rxy - rxz * ryz)
                  / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
                  AS partial_r
         FROM c"""
    },
    // complete month-blocks via the month x nation zero-filled grid;
    // doubled within-block ranks exact; chi2_F mirrored at emission
    "q_friedman" ->
      """WITH oc AS (SELECT date_trunc('month', CAST(o_orderdate
                        AS DATE)) AS mth,
                            c_nationkey AS g,
                            CAST(sum(CAST(round(o_totalprice * 100)
                              AS BIGINT)) AS BIGINT) AS v
                     FROM orders JOIN customer ON o_custkey = c_custkey
                     GROUP BY 1, 2),
         months AS (SELECT DISTINCT mth FROM oc),
         grid AS (SELECT m.mth, n.n_nationkey AS g,
                         coalesce(oc.v, 0) AS v
                  FROM months m CROSS JOIN nation n
                  LEFT JOIN oc ON oc.mth = m.mth
                    AND oc.g = n.n_nationkey),
         rk AS (SELECT g,
                       rank() OVER (PARTITION BY mth ORDER BY v) AS r,
                       count(*) OVER (PARTITION BY mth, v) AS t
                FROM grid),
         rj AS (SELECT g, CAST(sum(2 * (r - 1) + t + 1) AS BIGINT)
                  AS drj
                FROM rk GROUP BY 1),
         st AS (SELECT count(*) AS k,
                       sum(CAST(drj AS HUGEINT) * drj) AS s2
                FROM rj),
         nb AS (SELECT count(*) AS nb FROM months)
         SELECT nb AS n_blocks, k AS n_groups,
                round(12.0 / (nb * k * (k + 1))
                  * (CAST(s2 AS DOUBLE) / 4)
                  - 3.0 * nb * (k + 1), 4) AS chi2_f,
                12.0 / (nb * k * (k + 1)) * (CAST(s2 AS DOUBLE) / 4)
                  - 3.0 * nb * (k + 1) > 36.415 AS reject_equal
         FROM st, nb""",
    // four raw moment sums exact int128; central moments / JB are
    // mirrored doubles at emission
    "q_jarque_bera" ->
      """WITH t AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                      AS x
                    FROM orders),
         a AS (SELECT count(*) AS n, sum(x) AS s1,
                      sum(CAST(x AS HUGEINT) * x) AS s2,
                      sum(CAST(x AS HUGEINT) * x * x) AS s3,
                      sum(CAST(x AS HUGEINT) * x * x * x) AS s4
               FROM t),
         b AS (SELECT n, CAST(s1 AS DOUBLE) / n AS m,
                      CAST(s2 AS DOUBLE) / n AS r2,
                      CAST(s3 AS DOUBLE) / n AS r3,
                      CAST(s4 AS DOUBLE) / n AS r4
               FROM a),
         c AS (SELECT n, r2 - m * m AS m2,
                      r3 - 3.0 * m * r2 + 2.0 * m * m * m AS m3,
                      r4 - 4.0 * m * r3 + 6.0 * m * m * r2
                        - 3.0 * m * m * m * m AS m4
               FROM b),
         e AS (SELECT n, m3 / sqrt(m2 * m2 * m2) AS sk,
                      m4 / (m2 * m2) - 3.0 AS ku
               FROM c)
         SELECT n AS n_orders,
                round(sk, 6) AS skewness,
                round(ku, 6) AS excess_kurtosis,
                round(n / 6.0 * (sk * sk + ku * ku / 4), 4) AS jb_stat,
                n / 6.0 * (sk * sk + ku * ku / 4) > 5.991
                  AS reject_normal
         FROM e""",
    // pairwise mean gaps on the 25-nation grid vs the q*-margin; MSW
    // recomputed via the q_anova protocol
    "q_tukey_hsd" ->
      """WITH oc AS (SELECT c_nationkey AS g,
                            CAST(round(o_totalprice * 100) AS BIGINT)
                              AS x
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         grp AS (SELECT g, count(*) AS ng, sum(x) AS sg
                 FROM oc GROUP BY 1),
         cg AS (SELECT ng,
                       CAST(round(CAST(sg * sg AS DOUBLE) / ng)
                         AS BIGINT) AS cg
                FROM grp),
         parts AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                          sum(cg) AS scg
                   FROM cg),
         tot AS (SELECT sum(CAST(x AS HUGEINT) * x) AS sxx FROM oc),
         m AS (SELECT CAST(sxx - scg AS DOUBLE) / (n - k) AS msw
               FROM parts, tot),
         p AS (SELECT a.g AS nation_a, b.g AS nation_b,
                      abs(CAST(a.sg AS DOUBLE) / a.ng
                        - CAST(b.sg AS DOUBLE) / b.ng) AS gap,
                      5.0 * sqrt(msw / 2 * (1.0 / a.ng + 1.0 / b.ng))
                        AS margin
               FROM grp a JOIN grp b ON a.g < b.g, m)
         SELECT nation_a, nation_b,
                round(gap / 100.0, 2) AS gap_usd,
                round(margin / 100.0, 2) AS margin_usd,
                gap > margin AS significant
         FROM p ORDER BY nation_a, nation_b""",
    // per-nation sums exact int128; each Sg^2/n_g term one mirrored
    // double rounded to cents^2 before the 25-term sum
    // Welch: exact int128 group sums; w_g micro-rounded to 1e-18
    // units; each a-/Λ-term one mirrored double rounded before its
    // k-term exact sum (a-terms pass BIGINT at sf>=0.1 -> HUGEINT)
    "q_welch_anova" ->
      """WITH oc AS (SELECT c_nationkey AS g,
                            CAST(round(o_totalprice * 100) AS BIGINT)
                              AS x
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         grp AS (SELECT g, count(*) AS ng, sum(x) AS sg,
                        sum(CAST(x AS HUGEINT) * x) AS sgg
                 FROM oc GROUP BY 1),
         gm AS (SELECT ng,
                       CAST(sg AS DOUBLE) / ng AS m,
                       (CAST(sgg AS DOUBLE)
                         - round(CAST(sg * sg AS DOUBLE) / ng))
                         / (ng - 1) AS s2
                FROM grp),
         gw AS (SELECT ng, m, s2,
                       CAST(round(1e18 * ng / s2) AS BIGINT) AS wi
                FROM gm),
         gt AS (SELECT ng, m, wi,
                       CAST(round(wi * m) AS HUGEINT) AS twm
                FROM gw),
         s1 AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                       CAST(sum(wi) AS BIGINT) AS w,
                       sum(twm) AS swm
                FROM gt),
         s1g AS (SELECT k, n, w, CAST(swm AS DOUBLE) / w AS grand
                 FROM s1),
         terms AS (SELECT
                     sum(CAST(round(wi * (m - grand) * (m - grand))
                       AS HUGEINT)) AS sa,
                     sum(CAST(round(1e15
                       * (1.0 - CAST(wi AS DOUBLE) / w)
                       * (1.0 - CAST(wi AS DOUBLE) / w)
                       / (ng - 1)) AS BIGINT)) AS sc
                   FROM gt, s1g),
         fin AS (SELECT k, n,
                        CAST(sa AS DOUBLE) / 1e18 AS a_sum,
                        CAST(sc AS DOUBLE) / 1e15 AS lam
                 FROM s1g, terms)
         SELECT k AS n_groups, n AS n_orders,
                round((a_sum / (k - 1))
                  / (1.0 + 2.0 * (k - 2) / (k * k - 1) * lam), 4)
                  AS f_stat,
                round(CAST(k * k - 1 AS DOUBLE) / (3.0 * lam), 2)
                  AS df2,
                ((a_sum / (k - 1))
                  / (1.0 + 2.0 * (k - 2) / (k * k - 1) * lam)) > 1.55
                  AS reject_equal_means
         FROM fin""",
    // Type-I regression SS; FWL closed-form partial slope for the
    // binary factor; every quadratic the q_anova round-to-int idiom
    "q_anova_two_way" ->
      """WITH oc AS (SELECT o_orderpriority AS a,
                            CAST(c_acctbal > 0 AS INTEGER) AS b,
                            CAST(round(o_totalprice * 100) AS BIGINT)
                              AS x
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         cells AS (SELECT a, b, count(*) AS nc, sum(x) AS sc,
                          sum(CAST(x AS HUGEINT) * x) AS sxxc
                   FROM oc GROUP BY 1, 2),
         cc AS (SELECT a, b, nc, sc, sxxc,
                       CAST(round(CAST(sc * sc AS DOUBLE) / nc)
                         AS HUGEINT) AS cc
                FROM cells),
         bya0 AS (SELECT a, CAST(sum(nc) AS BIGINT) AS ng,
                         sum(sc) AS sg,
                         CAST(sum(CASE WHEN b = 1 THEN nc ELSE 0 END)
                           AS BIGINT) AS n1,
                         sum(CASE WHEN b = 1 THEN sc
                             ELSE CAST(0 AS HUGEINT) END) AS s1
                  FROM cc GROUP BY 1),
         bya1 AS (SELECT
                    CAST(round(CAST(sg * sg AS DOUBLE) / ng)
                      AS HUGEINT) AS cg,
                    CAST(round(CAST(s1 AS DOUBLE)
                      - n1 * CAST(sg AS DOUBLE) / ng) AS BIGINT)
                      AS numt,
                    CAST(round(1e6 * (CAST(n1 AS DOUBLE)
                      - CAST(n1 AS DOUBLE) * n1 / ng)) AS BIGINT)
                      AS dent
                  FROM bya0),
         bya AS (SELECT count(*) AS ka, sum(cg) AS ma,
                        CAST(sum(numt) AS BIGINT) AS snum,
                        CAST(sum(dent) AS BIGINT) AS sden
                 FROM bya1),
         tot AS (SELECT CAST(sum(nc) AS BIGINT) AS n, sum(sc) AS sx,
                        sum(sxxc) AS sxx, sum(cc) AS mc,
                        count(*) AS kc
                 FROM cc),
         tc AS (SELECT n, sx, sxx, mc, kc,
                       CAST(round(CAST(sx * sx AS DOUBLE) / n)
                         AS HUGEINT) AS corr
                FROM tot),
         fin AS (SELECT n, kc, ka,
                        CAST(snum AS DOUBLE) * 1e6 / sden AS bb,
                        CAST(ma - corr AS DOUBLE) AS ssa,
                        (CAST(snum AS DOUBLE) * 1e6 / sden)
                          * (CAST(snum AS DOUBLE) * 1e6 / sden)
                          * (CAST(sden AS DOUBLE) / 1e6) AS ssb,
                        CAST(mc - corr AS DOUBLE) AS sscells,
                        CAST(sxx - mc AS DOUBLE) AS sserr
                 FROM tc, bya)
         SELECT n AS n_orders, kc AS n_cells,
                round(bb / 100.0, 4) AS b_posbal_dollars,
                round((ssa / (ka - 1)) / (sserr / (n - kc)), 4)
                  AS f_priority,
                round(ssb / (sserr / (n - kc)), 4) AS f_posbal,
                round(((sscells - ssa - ssb) / (ka - 1))
                  / (sserr / (n - kc)), 4) AS f_interaction
         FROM fin""",
    // GH: per-pair SE and Welch df from mirrored group moments;
    // q* = 5.0 stated constant (the q_tukey_hsd contract)
    "q_games_howell" ->
      """WITH oc AS (SELECT c_nationkey AS g,
                            CAST(round(o_totalprice * 100) AS BIGINT)
                              AS x
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         grp AS (SELECT g, count(*) AS ng, sum(x) AS sg,
                        sum(CAST(x AS HUGEINT) * x) AS sgg
                 FROM oc GROUP BY 1),
         gm AS (SELECT g, ng,
                       CAST(sg AS DOUBLE) / ng AS m,
                       ((CAST(sgg AS DOUBLE)
                         - round(CAST(sg * sg AS DOUBLE) / ng))
                         / (ng - 1)) / ng AS s2n
                FROM grp)
         SELECT a.g AS nation_a, b.g AS nation_b,
                round(abs(a.m - b.m) / 100.0, 2) AS gap_usd,
                round(abs(a.m - b.m) / sqrt(a.s2n + b.s2n), 4) AS t_stat,
                round((a.s2n + b.s2n) * (a.s2n + b.s2n)
                  / (a.s2n * a.s2n / (a.ng - 1)
                    + b.s2n * b.s2n / (b.ng - 1)), 2) AS df_w,
                (abs(a.m - b.m) / sqrt(a.s2n + b.s2n)) * sqrt(2) > 5.0
                  AS significant
         FROM gm a JOIN gm b ON a.g < b.g
         ORDER BY nation_a, nation_b""",
    // Koenker BP: stage-1 Cramer fit; residuals dollar-rounded before
    // squaring (the q_arch_lm headroom rule); stage-2 sums exact
    "q_breusch_pagan" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, v
                FROM dly),
         fit AS (SELECT count(*) AS n,
                        sum(CAST(rk AS HUGEINT)) AS sx,
                        sum(CAST(v AS HUGEINT)) AS sy,
                        sum(CAST(rk AS HUGEINT) * rk) AS sxx,
                        sum(CAST(rk AS HUGEINT) * v) AS sxy
                 FROM ix),
         cf AS (SELECT n,
                       CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) AS b1,
                       sx, sy
                FROM fit),
         cf2 AS (SELECT n, b1,
                        (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
                          / n AS b0
                 FROM cf),
         e2 AS (SELECT rk,
                       CAST(round((v - (b0 + b1 * rk)) / 100)
                         AS HUGEINT)
                       * CAST(round((v - (b0 + b1 * rk)) / 100)
                         AS BIGINT) AS z
                FROM ix, cf2),
         st AS (SELECT count(*) AS n2,
                       sum(CAST(rk AS HUGEINT)) AS sx2,
                       sum(z) AS sz,
                       sum(CAST(rk AS HUGEINT) * rk) AS sxx2,
                       sum(z * z) AS szz,
                       sum(CAST(rk AS HUGEINT) * z) AS sxz
                FROM e2),
         rr AS (SELECT CAST(n2 AS BIGINT) AS n2,
                       CAST(n2 * sxz - sx2 * sz AS DOUBLE)
                         * CAST(n2 * sxz - sx2 * sz AS DOUBLE)
                         / (CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE)
                           * CAST(n2 * szz - sz * sz AS DOUBLE)) AS r2
                FROM st)
         SELECT n2 AS n_days,
                round(CAST(n2 AS DOUBLE) * r2, 4) AS lm,
                round(r2, 6) AS r2,
                CAST(n2 AS DOUBLE) * r2 > 3.841 AS reject_homosked
         FROM rr""",
    // RESET: fitted values dollar-rounded before squaring; 3x3 Cramer
    // unrestricted fit, F of the yhat^2 slope, mirrored doubles
    "q_reset" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT row_number() OVER (ORDER BY day) AS rk, v
                FROM dly),
         fit AS (SELECT count(*) AS n,
                        sum(CAST(rk AS HUGEINT)) AS sx,
                        sum(CAST(v AS HUGEINT)) AS sy,
                        sum(CAST(rk AS HUGEINT) * rk) AS sxx,
                        sum(CAST(rk AS HUGEINT) * v) AS sxy
                 FROM ix),
         cf AS (SELECT CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) AS b1,
                       sx, sy, n
                FROM fit),
         cf2 AS (SELECT b1,
                        (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
                          / n AS b0
                 FROM cf),
         zt AS (SELECT rk, v,
                       CAST(round((b0 + b1 * rk) / 100) AS HUGEINT)
                       * CAST(round((b0 + b1 * rk) / 100) AS BIGINT)
                         AS z
                FROM ix, cf2),
         st AS (SELECT count(*) AS n,
                       sum(CAST(rk AS HUGEINT)) AS sx,
                       sum(CAST(v AS HUGEINT)) AS sy,
                       sum(z) AS sz,
                       sum(CAST(rk AS HUGEINT) * rk) AS sxx,
                       sum(CAST(rk AS HUGEINT) * v) AS sxy,
                       sum(CAST(rk AS HUGEINT) * z) AS sxz,
                       sum(CAST(v AS HUGEINT) * v) AS syy,
                       sum(CAST(v AS HUGEINT) * z) AS syz,
                       sum(z * z) AS szz
                FROM zt),
         dd AS (SELECT CAST(n AS BIGINT) AS n,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
                       CAST(sz AS DOUBLE) AS sz, CAST(sxx AS DOUBLE) AS sxx,
                       CAST(sxy AS DOUBLE) AS sxy, CAST(sxz AS DOUBLE) AS sxz,
                       CAST(syy AS DOUBLE) AS syy, CAST(syz AS DOUBLE) AS syz,
                       CAST(szz AS DOUBLE) AS szz
                FROM st),
         sol AS (SELECT n, nd, sx, sy, sz, sxx, sxy, sxz, syy, syz, szz,
                        nd * (sxx * szz - sxz * sxz)
                          - sx * (sx * szz - sxz * sz)
                          + sz * (sx * sxz - sxx * sz) AS det
                 FROM dd),
         bs AS (SELECT n, nd, sy, sxy, syy, syz, sxx, sx, sz,
                       (sy * (sxx * szz - sxz * sxz)
                         - sx * (sxy * szz - sxz * syz)
                         + sz * (sxy * sxz - sxx * syz)) / det AS b0,
                       (nd * (sxy * szz - sxz * syz)
                         - sy * (sx * szz - sxz * sz)
                         + sz * (sx * syz - sxy * sz)) / det AS b1,
                       (nd * (sxx * syz - sxy * sxz)
                         - sx * (sx * syz - sxy * sz)
                         + sy * (sx * sxz - sxx * sz)) / det AS b2
                FROM sol),
         fin AS (SELECT n, b2,
                        syy - (b0 * sy + b1 * sxy + b2 * syz) AS rssu,
                        (syy - sy * sy / nd)
                          - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx))
                          * ((nd * sxy - sx * sy) / (nd * sxx - sx * sx))
                          * (sxx - sx * sx / nd) AS rssr,
                        nd
                 FROM bs)
         SELECT n AS n_days,
                round(b2 * 1e12, 6) AS b_yhat2_e12,
                round((rssr - rssu) / (rssu / (nd - 3)), 4) AS f_stat,
                ((rssr - rssu) / (rssu / (nd - 3))) > 3.842
                  AS reject_linear
         FROM fin""",
    // Cramer fit over exact moment sums; residuals micro-rounded to
    // cents before squaring; ORDER BY the rounded D so float wiggle
    // can never flip the top-k
    "q_cooks_distance" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS v
                      FROM orders GROUP BY 1),
         ix AS (SELECT day, row_number() OVER (ORDER BY day) AS rk, v
                FROM dly),
         fit AS (SELECT count(*) AS n,
                        sum(CAST(rk AS HUGEINT)) AS sx,
                        sum(CAST(v AS HUGEINT)) AS sy,
                        sum(CAST(rk AS HUGEINT) * rk) AS sxx,
                        sum(CAST(rk AS HUGEINT) * v) AS sxy
                 FROM ix),
         cf AS (SELECT n, sx, sy, sxx, sxy,
                       CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) AS b1
                FROM fit),
         cf2 AS (SELECT n, sx, sxx, b1,
                        (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
                          / n AS b0
                 FROM cf),
         res AS (SELECT day, rk, n, sx, sxx, b0, b1,
                        CAST(round(v - (b0 + b1 * rk)) AS BIGINT) AS e
                 FROM ix, cf2),
         rs AS (SELECT sum(CAST(e AS HUGEINT) * e) AS rss FROM res),
         sc AS (SELECT day, e,
                       CAST(rss AS DOUBLE) / (n - 2) AS s2,
                       1.0 / n + (rk - CAST(sx AS DOUBLE) / n)
                         * (rk - CAST(sx AS DOUBLE) / n)
                         / (CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                             / n) AS h
                FROM res, rs)
         SELECT day, round(h, 6) AS leverage,
                round(CAST(e AS DOUBLE) * e * h
                  / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6) AS cook_d
         FROM sc
         ORDER BY cook_d DESC, day ASC
         LIMIT 10""",
    "q_anova" ->
      """WITH oc AS (SELECT c_nationkey AS g,
                            CAST(round(o_totalprice * 100) AS BIGINT)
                              AS x
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         grp AS (SELECT g, count(*) AS ng, sum(x) AS sg
                 FROM oc GROUP BY 1),
         cg AS (SELECT ng,
                       CAST(round(CAST(sg * sg AS DOUBLE) / ng)
                         AS BIGINT) AS cg,
                       CAST(ng AS HUGEINT) * ng AS ng2
                FROM grp),
         parts AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                          sum(cg) AS scg,
                          sum(ng2) AS sng2
                   FROM cg),
         tot AS (SELECT sum(x) AS sx,
                        sum(CAST(x AS HUGEINT) * x) AS sxx
                 FROM oc),
         a AS (SELECT k, n, scg, sng2, sx, sxx,
                      CAST(round(CAST(sx * sx AS DOUBLE) / n)
                        AS HUGEINT) AS corr
               FROM parts, tot),
         b AS (SELECT k, n,
                      CAST(scg - corr AS DOUBLE) AS ssb,
                      CAST(sxx - scg AS DOUBLE) AS ssw,
                      CAST(sxx - corr AS DOUBLE) AS sst,
                      CAST(sng2 AS DOUBLE) AS sng2d
               FROM a)
         SELECT k AS n_groups, n AS n_orders,
                round((ssb / (k - 1)) / (ssw / (n - k)), 4) AS f_stat,
                round(ssb / sst, 6) AS eta2,
                round((ssb / (k - 1) - ssw / (n - k))
                  / (ssb / (k - 1) + ((n - sng2d / n) / (k - 1) - 1)
                    * (ssw / (n - k))), 6) AS icc1
         FROM b""",
    // doubled average ranks (the q_spearman contract); each Dg^2/4n_g
    // term one mirrored double rounded before the 25-term sum
    "q_kruskal" ->
      """WITH oc AS (SELECT c_nationkey AS g, o_totalprice AS x
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         vals AS (SELECT x, count(*) AS c FROM oc GROUP BY 1),
         rx AS (SELECT x, c, 2 * sum(c) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - c + 1 AS dr
                FROM vals),
         grp AS (SELECT g, count(*) AS ng, sum(dr) AS dg
                 FROM oc JOIN rx USING (x) GROUP BY g),
         terms AS (SELECT count(*) AS k,
                          CAST(sum(CAST(round(CAST(dg * dg AS DOUBLE)
                            / (4 * ng)) AS BIGINT)) AS BIGINT) AS st
                   FROM grp),
         nn AS (SELECT count(*) AS n FROM oc),
         ties AS (SELECT coalesce(sum(CAST(c AS HUGEINT) * c * c - c),
                    0) AS t3
                  FROM vals WHERE c > 1),
         h AS (SELECT k, n,
                      12.0 / (n * (n + 1)) * st - 3.0 * (n + 1) AS h0,
                      1.0 - CAST(t3 AS DOUBLE)
                        / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)
                        AS corr
               FROM terms, nn, ties)
         SELECT k AS n_groups, n AS n_orders,
                round(h0 / corr, 4) AS h_stat,
                h0 / corr > 36.415 AS reject_equal
         FROM h""",
    // all four pair classes as exact long counts from one pass over
    // the day-pair grid; two mirrored sqrts at emission
    "q_kendall_tau" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             CAST(sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS BIGINT) AS v,
                             count(*) AS c
                      FROM orders GROUP BY 1),
         p AS (SELECT a.v AS v, a.c AS c, b.v AS v2, b.c AS c2
               FROM dly a JOIN dly b ON a.day < b.day),
         g AS (SELECT count(*) AS n_pairs,
                      CAST(sum(CASE WHEN (v2 > v AND c2 > c)
                        OR (v2 < v AND c2 < c) THEN 1 ELSE 0 END)
                        AS BIGINT) AS nc,
                      CAST(sum(CASE WHEN (v2 > v AND c2 < c)
                        OR (v2 < v AND c2 > c) THEN 1 ELSE 0 END)
                        AS BIGINT) AS nd,
                      CAST(sum(CASE WHEN v2 = v THEN 1 ELSE 0 END)
                        AS BIGINT) AS tx,
                      CAST(sum(CASE WHEN c2 = c THEN 1 ELSE 0 END)
                        AS BIGINT) AS ty
               FROM p)
         SELECT n_pairs, nc, nd,
                round(CAST(nc - nd AS DOUBLE)
                  / (sqrt(CAST(n_pairs - tx AS DOUBLE))
                    * sqrt(CAST(n_pairs - ty AS DOUBLE))), 6) AS tau_b
         FROM g""",
    // each (x/mu)ln(x/mu) term rounded to integer micro-nats BEFORE
    // its exact long sum; T_within is the difference of micro totals
    "q_theil_index" ->
      """WITH rev AS (SELECT c_nationkey, o_custkey,
                             CAST(sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS BIGINT) AS r
                      FROM orders JOIN customer ON o_custkey = c_custkey
                      GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(r) AS BIGINT) AS st, count(*) AS n
                 FROM rev),
         tt AS (SELECT CAST(sum(CAST(round(1000000.0 * (r / (st / n))
                         * ln(r / (st / n))) AS BIGINT)) AS BIGINT) AS tm
                FROM rev, tot),
         ng AS (SELECT c_nationkey, CAST(sum(r) AS BIGINT) AS rg,
                       count(*) AS cg
                FROM rev GROUP BY 1),
         tb AS (SELECT CAST(sum(CAST(round(1000000.0 * (rg / st)
                         * ln((rg / st) / (cg / n))) AS BIGINT))
                  AS BIGINT) AS tbm
                FROM ng, tot)
         SELECT n AS n_customers,
                round(tm / (1000000.0 * n), 6) AS t_total,
                round(tbm / 1000000.0, 6) AS t_between,
                round(tm / (1000000.0 * n) - tbm / 1000000.0, 6)
                  AS t_within
         FROM tot, tt, tb""",
    // per-nation two-proportion z from exact counts; logistic-approx p
    // rounded to 8 BEFORE ordering; BH step-up + trailing-min adjusted
    // p on the 25-row nation grid
    "q_fdr_bh" ->
      """WITH oc AS (SELECT c_nationkey,
                            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN 1 ELSE 0 END) AS BIGINT) AS x,
                            count(*) AS n
                     FROM orders JOIN customer ON o_custkey = c_custkey
                     GROUP BY 1),
         t AS (SELECT c_nationkey, x, n,
                      CAST(sum(x) OVER () AS BIGINT) AS xt,
                      CAST(sum(n) OVER () AS BIGINT) AS nt,
                      count(*) OVER () AS m
               FROM oc),
         z AS (SELECT c_nationkey, x, n, m,
                      (x / n - (xt - x) / (nt - n))
                        / sqrt(xt / nt * (1.0 - xt / nt)
                          * (1.0 / n + 1.0 / (nt - n))) AS zv
               FROM t),
         p AS (SELECT c_nationkey, x, n, m, zv,
                      round(2.0 / (1.0 + exp(1.702 * abs(zv))), 8) AS pv
               FROM z),
         r AS (SELECT c_nationkey, x, n, m, zv, pv,
                      CAST(row_number() OVER (ORDER BY pv, c_nationkey)
                        AS BIGINT) AS i
               FROM p),
         k AS (SELECT c_nationkey, x, n, zv, pv, i,
                      max(CASE WHEN pv <= i * 0.05 / m THEN i ELSE 0 END)
                        OVER () AS kmax,
                      min(pv * m / i) OVER (ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS tadj
               FROM r)
         SELECT c_nationkey, x, n, round(zv, 4) AS z, pv AS p_value,
                round(least(tadj, 1.0), 6) AS p_adj,
                i <= kmax AS reject
         FROM k ORDER BY c_nationkey""",
    // JS over the sparse (source, word) support: absent-word mass
    // collapses to (1 - sum(q)) * ln 2
    "q_js_divergence" ->
      """WITH sw AS (SELECT source, unnest(string_split(text, ' ')) AS word
                     FROM documents),
         c AS (SELECT source, word, count(*) AS n_sw FROM sw GROUP BY 1, 2),
         ps AS (SELECT source, CAST(sum(n_sw) AS BIGINT) AS n_s
                FROM c GROUP BY 1),
         mg AS (SELECT word, CAST(sum(n_sw) AS BIGINT) AS n_w
                FROM c GROUP BY 1),
         tt AS (SELECT CAST(sum(n_sw) AS BIGINT) AS n_total FROM c),
         j AS (SELECT c.source,
                      CAST(c.n_sw AS DOUBLE) / ps.n_s AS p,
                      CAST(mg.n_w AS DOUBLE) / tt.n_total AS q
               FROM c JOIN ps USING (source) JOIN mg USING (word)
               CROSS JOIN tt)
         SELECT source, CAST(count(*) AS INTEGER) AS vocab_size,
                round((sum(p * ln(2.0 * p / (p + q))
                  + q * ln(2.0 * q / (p + q)))
                  + (1.0 - sum(q)) * ln(2.0)) / 2, 4) AS js_nats
         FROM j GROUP BY 1 ORDER BY 1""",
    // average ranks carried doubled (2r = 2*cum_before + c + 1 is an
    // integer), five exact hugeint moment sums, one double div + sqrt
    "q_spearman" ->
      """WITH t AS (SELECT l_quantity AS x, l_extendedprice AS y
                    FROM lineitem),
         gx AS (SELECT x, count(*) AS c FROM t GROUP BY 1),
         rx AS (SELECT x, 2 * sum(c) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - c + 1 AS dx
                FROM gx),
         gy AS (SELECT y, count(*) AS c FROM t GROUP BY 1),
         ry AS (SELECT y, 2 * sum(c) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - c + 1 AS dy
                FROM gy),
         j AS (SELECT dx, dy FROM t JOIN rx USING (x) JOIN ry USING (y)),
         m AS (SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                      sum(dx * dx) AS sxx, sum(dy * dy) AS syy,
                      sum(dx * dy) AS sxy
               FROM j)
         SELECT CAST(n AS BIGINT) AS n_rows,
                round(CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
         FROM m""",
    // S, tie polynomial, and n0 exact integers; continuity-corrected z
    // and tau_b take one double sqrt each
    "q_mann_kendall" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         p AS (SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                                    WHEN b.v < a.v THEN -1
                                    ELSE 0 END) AS BIGINT) AS s,
                      count(*) AS m
               FROM dly a JOIN dly b ON a.day < b.day),
         nr AS (SELECT count(*) AS n FROM dly),
         ties AS (SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS t3,
                         CAST(COALESCE(sum(t * (t - 1) // 2), 0)
                    AS BIGINT) AS t2
                  FROM (SELECT count(*) AS t FROM dly GROUP BY v
                        HAVING count(*) > 1))
         SELECT CAST(nr.n AS BIGINT) AS n_days, p.m AS n_pairs, p.s AS s,
                round((CASE WHEN p.s > 0 THEN p.s - 1
                            WHEN p.s < 0 THEN p.s + 1
                            ELSE 0 END)
                  / sqrt((nr.n * (nr.n - 1) * (2 * nr.n + 5) - ties.t3)
                    / 18.0), 4) AS z,
                round(p.s / sqrt(
                  CAST(nr.n * (nr.n - 1) // 2 - ties.t2 AS DOUBLE)
                  * CAST(nr.n * (nr.n - 1) // 2 AS DOUBLE)), 6) AS tau_b
         FROM p, nr, ties""",
    // median pairwise slope by exact order statistic; each slope is one
    // double division of exact integers
    // md5-seeded candidates replay verbatim (('0x'||hex)::BIGINT ==
    // conv(hex,16,10)); the inlier test is cross-multiplied int128,
    // so both engines count identical consensus sets; b rounds before
    // a is derived from it (the q_quantile_reg discipline)
    // the global RANSAC oracle parameterized per key: every scalar
    // subquery becomes a joined per-nation column; the md5 seed
    // carries the nation; winner + refit per key
    "q_ransac_grouped" ->
      """WITH dly AS (SELECT c.c_nationkey AS nation,
                             CAST(o.o_orderdate AS DATE) AS day,
                             sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders o
                      JOIN customer c ON o.o_custkey = c.c_custkey
                      GROUP BY 1, 2),
         grid AS (SELECT nation,
                         row_number() OVER (PARTITION BY nation
                                            ORDER BY day) AS t, v
                  FROM dly),
         nn AS (SELECT nation, count(*) AS n, sum(v) AS sv,
                       sum(v) // (10 * count(*)) AS thr
                FROM grid GROUP BY 1 HAVING count(*) >= 2),
         ks AS (SELECT unnest(generate_series(1, 24)) AS k),
         c0 AS (SELECT s.nation, s.n, s.thr, ks.k,
                       1 + ('0x' || substring(md5('ransac:' || s.nation
                         || ':' || ks.k || ':a'), 1, 8))::BIGINT % s.n AS i1,
                       1 + ('0x' || substring(md5('ransac:' || s.nation
                         || ':' || ks.k || ':b'), 1, 8))::BIGINT % s.n
                         AS i2raw
                FROM nn s CROSS JOIN ks),
         c1 AS (SELECT nation, n, thr, k, i1,
                       CASE WHEN i2raw = i1 THEN i2raw % n + 1
                            ELSE i2raw END AS i2
                FROM c0),
         cp AS (SELECT c.nation, c.n, c.thr, c.k, c.i1, c.i2,
                       g1.v AS v1, g2.v AS v2
                FROM c1 c
                JOIN grid g1 ON g1.nation = c.nation AND g1.t = c.i1
                JOIN grid g2 ON g2.nation = c.nation AND g2.t = c.i2),
         scored AS (SELECT cp.nation, cp.n, cp.thr, cp.k, cp.i1, cp.i2,
                           cp.v1, cp.v2,
                           sum(CASE WHEN abs(
                                 CAST(g.v - cp.v1 AS HUGEINT)
                                   * (cp.i2 - cp.i1)
                                 - CAST(cp.v2 - cp.v1 AS HUGEINT)
                                   * (g.t - cp.i1))
                               <= abs(CAST(cp.thr AS HUGEINT)
                                 * (cp.i2 - cp.i1))
                               THEN 1 ELSE 0 END) AS n_in
                    FROM grid g JOIN cp ON g.nation = cp.nation
                    GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
         best AS (SELECT * FROM (
                    SELECT scored.*,
                           row_number() OVER (PARTITION BY nation
                             ORDER BY n_in DESC, k) AS rk
                    FROM scored) WHERE rk = 1),
         fit AS (SELECT g.nation, max(b.n) AS n_days, max(b.k) AS best_k,
                        count(*) AS ni,
                        sum(CAST(g.t AS HUGEINT)) AS st,
                        sum(CAST(g.v AS HUGEINT)) AS sy,
                        sum(CAST(g.t AS HUGEINT) * g.t) AS stt,
                        sum(CAST(g.t AS HUGEINT) * g.v) AS sty
                 FROM grid g JOIN best b ON g.nation = b.nation
                 WHERE abs(CAST(g.v - b.v1 AS HUGEINT) * (b.i2 - b.i1)
                     - CAST(b.v2 - b.v1 AS HUGEINT) * (g.t - b.i1))
                   <= abs(CAST(b.thr AS HUGEINT) * (b.i2 - b.i1))
                 GROUP BY 1),
         bb AS (SELECT nation, n_days, best_k, ni, st, sy,
                       (floor(CAST(ni * sty - st * sy AS DOUBLE)
                            / CAST(ni * stt - st * st AS DOUBLE)
                          * 1000000.0 + 0.5) / 1000000.0) AS b6
                FROM fit),
         aa AS (SELECT nation, n_days, best_k, ni, b6,
                       (floor((CAST(sy AS DOUBLE) - b6 * CAST(st AS DOUBLE))
                          / ni * 1000000.0 + 0.5) / 1000000.0) AS a6
                FROM bb)
         SELECT nation, CAST(n_days AS BIGINT) AS n_days, best_k,
                CAST(ni AS BIGINT) AS n_inliers,
                (floor(a6 / 100.0 * 10000.0 + 0.5) / 10000.0) AS a_usd,
                (floor(b6 / 100.0 * 10000.0 + 0.5) / 10000.0)
                  AS b_usd_per_day
         FROM aa ORDER BY nation""",
    "q_ransac_line" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         grid AS (SELECT row_number() OVER (ORDER BY day) AS t, v FROM dly),
         nn AS (SELECT count(*) AS n, sum(v) AS sv,
                       sum(v) // (10 * count(*)) AS thr
                FROM grid),
         ks AS (SELECT unnest(generate_series(1, 24)) AS k),
         c0 AS (SELECT k,
                       1 + ('0x' || substring(md5('ransac:' || k || ':a'),
                         1, 8))::BIGINT % (SELECT n FROM nn) AS i1,
                       1 + ('0x' || substring(md5('ransac:' || k || ':b'),
                         1, 8))::BIGINT % (SELECT n FROM nn) AS i2raw
                FROM ks),
         c1 AS (SELECT k, i1,
                       CASE WHEN i2raw = i1
                            THEN i2raw % (SELECT n FROM nn) + 1
                            ELSE i2raw END AS i2
                FROM c0),
         cp AS (SELECT c.k, c.i1, c.i2, g1.v AS v1, g2.v AS v2
                FROM c1 c JOIN grid g1 ON g1.t = c.i1
                          JOIN grid g2 ON g2.t = c.i2),
         scored AS (SELECT cp.k, cp.i1, cp.i2, cp.v1, cp.v2,
                           sum(CASE WHEN abs(
                                 CAST(g.v - cp.v1 AS HUGEINT)
                                   * (cp.i2 - cp.i1)
                                 - CAST(cp.v2 - cp.v1 AS HUGEINT)
                                   * (g.t - cp.i1))
                               <= abs(CAST((SELECT thr FROM nn) AS HUGEINT)
                                 * (cp.i2 - cp.i1))
                               THEN 1 ELSE 0 END) AS n_in
                    FROM grid g, cp
                    GROUP BY 1, 2, 3, 4, 5),
         best AS (SELECT * FROM scored
                  ORDER BY n_in DESC, k LIMIT 1),
         fit AS (SELECT count(*) AS ni, max(b.k) AS best_k,
                        sum(CAST(g.t AS HUGEINT)) AS st,
                        sum(CAST(g.v AS HUGEINT)) AS sy,
                        sum(CAST(g.t AS HUGEINT) * g.t) AS stt,
                        sum(CAST(g.t AS HUGEINT) * g.v) AS sty
                 FROM grid g, best b
                 WHERE abs(CAST(g.v - b.v1 AS HUGEINT) * (b.i2 - b.i1)
                     - CAST(b.v2 - b.v1 AS HUGEINT) * (g.t - b.i1))
                   <= abs(CAST((SELECT thr FROM nn) AS HUGEINT)
                     * (b.i2 - b.i1))),
         bb AS (SELECT ni, best_k, st, sy,
                       (floor(CAST(ni * sty - st * sy AS DOUBLE)
                            / CAST(ni * stt - st * st AS DOUBLE)
                          * 1000000.0 + 0.5) / 1000000.0) AS b6
                FROM fit),
         aa AS (SELECT ni, best_k, b6,
                       (floor((CAST(sy AS DOUBLE) - b6 * CAST(st AS DOUBLE))
                          / ni * 1000000.0 + 0.5) / 1000000.0) AS a6
                FROM bb)
         SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_days, best_k,
                CAST(ni AS BIGINT) AS n_inliers,
                (floor(a6 / 100.0 * 10000.0 + 0.5) / 10000.0) AS a_usd,
                (floor(b6 / 100.0 * 10000.0 + 0.5) / 10000.0)
                  AS b_usd_per_day
         FROM aa""",
    "q_theil_sen" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         p AS (SELECT a.day AS d1, b.day AS d2,
                      CAST(b.v - a.v AS DOUBLE)
                        / ((b.day - a.day) * 100.0) AS slope
               FROM dly a JOIN dly b ON a.day < b.day),
         r AS (SELECT slope,
                      row_number() OVER (ORDER BY slope, d1, d2) AS rk,
                      count(*) OVER () AS m
               FROM p)
         SELECT CAST(max(m) AS BIGINT) AS n_pairs,
                round((min(slope) + max(slope)) / 2, 6) AS slope_usd_day
         FROM r WHERE rk = (m + 1) // 2 OR rk = m // 2 + 1""",
    // the IRLS trajectory replayed exactly: every coefficient is
    // round(·,6) at its iteration boundary and every weight is an
    // exact micro-rounded HUGEINT before the weighted sums, so no
    // unrounded float crosses an iteration. Literals are written as
    // the same IEEE expressions Spark evaluates ((1 - 0.9), (0.9 - 1))
    // — NOT 0.1/-0.1, which differ in the last ulp.
    "q_quantile_reg" -> {
      def irls(i: Int, prev: String): String =
        s"""w$i AS (SELECT n, scale, t, v,
                      CAST(round(1e9 * (CASE WHEN CAST(v AS DOUBLE)
                                          - a - b * t > 0
                                        THEN 0.9 ELSE (1 - 0.9) END)
                        / greatest(abs(CAST(v AS DOUBLE) - a - b * t)
                            / scale, 1e-6)) AS HUGEINT) AS w
               FROM grid, $prev),
         s$i AS (SELECT max(n) AS n, max(scale) AS scale,
                      sum(w) AS sw, sum(w * t) AS swt,
                      sum(w * v) AS swy, sum(w * t * t) AS swtt,
                      sum(w * t * v) AS swty
               FROM w$i),
         b$i AS (SELECT n, scale, sw, swt, swy,
                      round((CAST(sw AS DOUBLE) * CAST(swty AS DOUBLE)
                        - CAST(swt AS DOUBLE) * CAST(swy AS DOUBLE))
                        / (CAST(sw AS DOUBLE) * CAST(swtt AS DOUBLE)
                          - CAST(swt AS DOUBLE) * CAST(swt AS DOUBLE)),
                        6) AS b
               FROM s$i),
         c$i AS (SELECT n, scale,
                      round((CAST(swy AS DOUBLE) - b * CAST(swt AS DOUBLE))
                        / CAST(sw AS DOUBLE), 6) AS a, b
               FROM b$i)"""
      s"""WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS v
                      FROM orders GROUP BY 1),
         grid AS (SELECT row_number() OVER (ORDER BY day) AS t, v
                  FROM dly),
         s0 AS (SELECT count(*) AS n, sum(t) AS st, sum(v) AS sy,
                       sum(t * t) AS stt, sum(t * v) AS sty
                FROM grid),
         b0 AS (SELECT n, st, sy,
                       round((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                         - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)),
                         6) AS b
                FROM s0),
         c0 AS (SELECT n,
                       round((CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))
                         / n, 6) AS a, b
                FROM b0),
         sc AS (SELECT max(n) AS n, max(a) AS a, max(b) AS b,
                       greatest(round(CAST(sum(CAST(round(abs(
                           CAST(v AS DOUBLE) - a - b * t)) AS HUGEINT))
                         AS DOUBLE) / max(n), 6), 1.0) AS scale
                FROM grid, c0),
         ${irls(1, "sc")},
         ${irls(2, "c1")},
         ${irls(3, "c2")},
         ${irls(4, "c3")},
         ${irls(5, "c4")},
         ${irls(6, "c5")},
         ${irls(7, "c6")},
         ${irls(8, "c7")},
         rho AS (SELECT n, a, b,
                        CAST(round(1e6 * (CASE WHEN CAST(v AS DOUBLE)
                                             - a - b * t > 0
                                          THEN 0.9 * (CAST(v AS DOUBLE)
                                            - a - b * t)
                                          ELSE (0.9 - 1)
                                            * (CAST(v AS DOUBLE)
                                              - a - b * t) END))
                          AS HUGEINT) AS rho
                 FROM grid, c8)
         SELECT CAST(max(n) AS BIGINT) AS n_days,
                CAST(0.9 AS DOUBLE) AS tau,
                round(max(a) / 100.0, 4) AS a_usd,
                round(max(b) / 100.0, 4) AS b_usd_per_day,
                round(CAST(sum(rho) AS DOUBLE) / 1e8, 2) AS pinball_usd
         FROM rho"""
    },
    // LOO encoding cleared of the global-mean denominator: both sides
    // of the one division are exact integers
    "q_target_encode" ->
      """WITH oc AS (SELECT c_mktsegment AS segment, o_orderkey % 2 AS conv
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         g AS (SELECT segment, count(*) AS n_cat,
                      CAST(sum(conv) AS BIGINT) AS s_cat
               FROM oc GROUP BY 1),
         tot AS (SELECT count(*) AS tot_n,
                        CAST(sum(conv) AS BIGINT) AS tot_conv
                 FROM oc)
         SELECT segment, CAST(y AS BIGINT) AS y,
                CAST(CASE WHEN y = 1 THEN s_cat
                          ELSE n_cat - s_cat END AS BIGINT) AS n,
                round(CAST(tot_n * (s_cat - y) + 20 * tot_conv AS DOUBLE)
                  / CAST(tot_n * (n_cat - 1 + 20) AS DOUBLE), 6) AS enc
         FROM g CROSS JOIN tot
         CROSS JOIN (SELECT unnest([0, 1]) AS y)
         ORDER BY segment, y""",
    // integer bin cut (h*10 // 2^16); gap numerator np*65535 - sum(h)
    // exact; wgap is the per-bin ECE term over the 10-row grid
    "q_calibration" ->
      """WITH o AS (SELECT ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                             1, 4))::BIGINT AS h,
                           o_custkey % 2 AS lab
                    FROM orders),
         b AS (SELECT (h * 10) // 65536 AS bin, count(*) AS n,
                      CAST(sum(h) AS BIGINT) AS sh,
                      CAST(sum(lab) AS BIGINT) AS np
               FROM o GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM b)
         SELECT CAST(bin AS BIGINT) AS bin, n,
                round(CAST(sh AS DOUBLE) / (n * 65535.0), 6) AS conf,
                round(CAST(np AS DOUBLE) / n, 6) AS acc,
                round(CAST(np * 65535 - sh AS DOUBLE) / (n * 65535.0), 6)
                  AS gap,
                round(abs(CAST(np * 65535 - sh AS DOUBLE))
                  / (ntot * 65535.0), 6) AS wgap
         FROM b, t ORDER BY bin""",
    // full r x c grid from crossing the marginals; each cell rounded to
    // integer micro-units BEFORE the sum (exact long addition)
    "q_cramers_v" ->
      """WITH oc AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         cells AS (SELECT seg, pri, count(*) AS o FROM oc GROUP BY 1, 2),
         rt AS (SELECT seg, CAST(sum(o) AS BIGINT) AS rt
                FROM cells GROUP BY 1),
         ct AS (SELECT pri, CAST(sum(o) AS BIGINT) AS ct
                FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
                        count(DISTINCT seg) AS r, count(DISTINCT pri) AS c
                 FROM cells),
         grid AS (SELECT rt.seg, ct.pri, rt.rt, ct.ct,
                         COALESCE(cells.o, 0) AS obs
                  FROM rt CROSS JOIN ct
                  LEFT JOIN cells ON cells.seg = rt.seg
                                 AND cells.pri = ct.pri),
         cm AS (SELECT CAST(round(
                  CAST(obs * nn - rt * ct AS DOUBLE)
                  * CAST(obs * nn - rt * ct AS DOUBLE)
                  / (CAST(nn AS DOUBLE) * CAST(rt AS DOUBLE)
                    * CAST(ct AS DOUBLE)) * 1000000) AS BIGINT) AS c_micro,
                       nn, r, c
                FROM grid, tot),
         f AS (SELECT nn, r, c, CAST(sum(c_micro) AS BIGINT) AS sm
               FROM cm GROUP BY 1, 2, 3)
         SELECT nn AS n, CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
                round(sm / 1000000.0, 4) AS chi2,
                round(sqrt((sm / 1000000.0)
                  / CAST((least(r, c) - 1) * nn AS DOUBLE)), 6) AS v
         FROM f""",
    "q_fd_check" ->
      """WITH u AS (
           SELECT 'nation.nationkey->regionkey' AS fd, count(*) AS n_lhs,
                  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_violating
           FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS k
                 FROM nation GROUP BY 1)
           UNION ALL
           SELECT 'part.brand->type', count(*),
                  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           FROM (SELECT p_brand, count(DISTINCT p_type) AS k
                 FROM part GROUP BY 1)
           UNION ALL
           SELECT 'customer.nationkey->mktsegment', count(*),
                  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS k
                 FROM customer GROUP BY 1)
           UNION ALL
           SELECT 'orders.custkey->orderpriority', count(*),
                  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
           FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS k
                 FROM orders GROUP BY 1))
         SELECT fd, n_lhs, n_violating,
                round(CAST(n_violating AS DOUBLE) / n_lhs, 6)
                  AS violation_rate,
                n_violating = 0 AS holds
         FROM u ORDER BY fd""",
  )
}
