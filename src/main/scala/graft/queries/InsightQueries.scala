package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Round-10 analytics operators: market-basket association rules,
  * geospatial distance / radius join, survival analysis (Kaplan–Meier),
  * inequality (Gini), categorical independence (chi-square), seasonal
  * backtesting, inverted-index construction, and ABC inventory
  * classification — the classic BI/statistics shapes none of the other
  * modules cover. No reference analogue (the reference is a
  * price-regression ETL, SURVEY §8.4); engine extensions in the same
  * spirit as TemporalQueries.
  *
  * Cross-engine float protocol (BASELINE.md): every emitted double is
  * `round(x, k)`; ordered-frame running sums keep identical
  * accumulation order in both engines; classification boundaries use
  * integer cents so no boundary can flip on a last-bit double
  * difference.
  */
object InsightQueries extends QueryModule {

  // ---------------------------------------------------------------- geo

  /** Deterministic synthetic coordinates derived from an integer key —
    * the same arithmetic runs in DuckDB, so geo queries stay
    * oracle-checkable without a coordinates column in the testdata.
    * Latitude is clamped to [-60, 59.9] so one 1° grid cell is never
    * shorter than ~55.6 km of longitude (cos 60° = 0.5) — the radius
    * join's 9-cell stencil is then provably complete for R ≤ 50 km. */
  private def latOf(key: Column, mult: Int): Column =
    (key * mult % 1200) / 10.0 - 60.0
  private def lonOf(key: Column, mult: Int): Column =
    (key * mult % 3600) / 10.0 - 180.0

  /** Great-circle distance in km (haversine, R = 6371). Composed from
    * codegen'd builtins (sin/cos/asin/sqrt/radians) — no UDF. */
  private def haversineKm(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    asin(sqrt(a)) * lit(2 * 6371.0)
  }

  /** K nearest customers to a fixed point (Paris), by haversine
    * distance over key-derived coordinates. Scale shape: per-row
    * codegen arithmetic + a top-k TakeOrderedAndProject — no shuffle
    * of the dimension beyond the k-row result. Ordering and the k
    * boundary both use the ROUNDED distance (3 dp ≈ 1 m) so engine
    * and oracle select the identical row set. */
  private val geoKnn: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"),
        latOf(col("c_custkey"), 37).as("lat"),
        lonOf(col("c_custkey"), 73).as("lon"))
    c.withColumn("dist_km",
        round(haversineKm(col("lat"), col("lon"), lit(48.85), lit(2.35)), 3))
      .orderBy(col("dist_km"), col("c_custkey"))
      .limit(100)
  }

  /** Grid-bucketed radius join: customers within 50 km of each
    * supplier. The scale path is NOT the cross join — each supplier
    * explodes to its 9 neighboring 1° grid cells (a bounded stencil,
    * complete for R ≤ 50 km given the latitude clamp above), the
    * supplier side broadcasts (dimension-sized), and customers join on
    * the cell key before the exact haversine verify runs on candidates
    * only. The DuckDB oracle is the naive cross-join filter — fine at
    * sf0.01, which is exactly why the engine doesn't run it.
    * InsightSpec cross-checks grid-vs-cross equality on a random
    * slice. */
  private val geoRadiusJoin: Q = (s, d) => {
    // supplier stencil cells wrap at the ±180° antimeridian — without
    // the mod-360 a customer in cell −180 and a supplier at +179.9°
    // (stencil 178..180) never share a cell even though haversine (and
    // the cross-join oracle) put them ~0.1° apart
    def wrapLon(c: Column): Column = pmod(c + 180, lit(360)) - 180
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey"),
        latOf(col("s_suppkey"), 53).as("s_lat"),
        lonOf(col("s_suppkey"), 97).as("s_lon"))
      .withColumn("dx", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("dy", explode(array(lit(-1), lit(0), lit(1))))
      .select(col("s_suppkey"), col("s_lat"), col("s_lon"),
        wrapLon(floor(col("s_lon")) + col("dx")).as("cx"),
        (floor(col("s_lat")) + col("dy")).as("cy"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"),
        latOf(col("c_custkey"), 37).as("c_lat"),
        lonOf(col("c_custkey"), 73).as("c_lon"))
      .withColumn("cx", floor(col("c_lon")))
      .withColumn("cy", floor(col("c_lat")))
    // the R-boundary cut runs on the ROUNDED distance in both engines
    // (the file-header protocol: a libm last-ulp difference must not
    // be able to flip a membership decision)
    cust.join(broadcast(sup), Seq("cx", "cy"))
      .withColumn("dist_km", round(
        haversineKm(col("c_lat"), col("c_lon"), col("s_lat"), col("s_lon")),
        6))
      .filter(col("dist_km") <= 50.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_within"),
        round(min("dist_km"), 3).as("nearest_km"))
      .orderBy("s_suppkey")
  }

  /** Spatial density by geohash-3 cell (the [[graft.functions.Geohash]]
    * codegen expression): customers per ~1.4° grid cell. The DuckDB
    * oracle replays the encoding in PURE INTEGER arithmetic — the
    * synthetic 0.1° coordinate grid puts every point either exactly ON
    * a cell boundary (an exactly-representable double, which both the
    * bisection and the integer floor assign to the upper cell) or
    * ≥ 1/160° away (10¹¹ ulps past any double error), so the two
    * constructions provably agree on every row. */
  private val geoDensity: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(latOf(col("c_custkey"), 37).as("lat"),
        lonOf(col("c_custkey"), 73).as("lon"))
    c.groupBy(graft.functions.Geohash
        .geohashOf(col("lat"), col("lon"), lit(3)).as("cell"))
      .agg(count(lit(1)).as("n"))
      .orderBy("cell")
  }

  // ------------------------------------------------- association rules

  /** Market-basket association rules over order baskets (items =
    * distinct part brands per order): support, confidence, and lift
    * for every ordered brand pair above a minimum pair count.
    *
    * Scale shape: baskets are small (≤7 lineitems), so the per-order
    * pair expansion is k²-bounded per basket, never corpus²; the item
    * dimension (brands) broadcasts into both support joins; all three
    * aggregates are map-side-combined groupBys. The order count rides
    * in as a broadcast 1-row cross join (the documented pattern). */
  /** Memoized distinct (orderkey, brand) basket relation — THREE
    * operators (assoc rules, item-CF, brand recommender) derive from
    * it, each hitting it several times. Memoized + persisted for the
    * session (the [[graft.queries.TextQueries.ngramPairsShared]]
    * precedent — per-query drains would re-run the lineitem⋈part
    * distinct once per operator; at 100 TB the basket relation is a
    * landed table). One bounded entry per (session, dir), not
    * CacheRegistry-registered by design. */
  /** Memoized per-order sorted distinct brand arrays — the basket
    * relation at ORDER grain, ONE shuffle from lineitem⋈part (the
    * per-pair distinct fuses into the basket build as array_distinct;
    * round 17). Pair generation explodes C(b,2) structs IN-PARTITION
    * from these arrays instead of self-joining the exploded relation —
    * the q_item_cf rewrite applied to the memo that was the warm
    * phase's dominant line (insight.baskets 25.3 s → the pair counts
    * now map-side-combine onto a ≤C(25,2)-key space). */
  private def basketArrays(s: SparkSession, d: String): DataFrame =
    SessionMemo("insight.basketArrays", s, d) {
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
        .groupBy("ok")
        .agg(sort_array(array_distinct(collect_list("item"))).as("items"))
    }

  private def basketItems(s: SparkSession, d: String): DataFrame =
    SessionMemo("insight.basketItems", s, d) {
      basketArrays(s, d)
        .select(col("ok"), explode(col("items")).as("item"))
    }

  /** Memoized per-item supports and the a<b co-occurrence pair counts
    * at the LOOSEST threshold any consumer uses (minPair = 5) — the
    * basket self-join is the dominant stage of assoc rules, item-CF,
    * and the brand recommender, and all three re-derived it per query
    * (the round-15 verdict's q_recommend_brands/q_item_cf anchor
    * note). One memoized pair frame, item-dimension-sized (co-
    * occurring brand pairs, never corpus²); tighter thresholds filter
    * it. At 100 TB this is the "land the co-occurrence matrix once"
    * step every recommender pipeline has offline. */
  private def basketSupp(s: SparkSession, d: String): DataFrame =
    SessionMemo("insight.basketSupp", s, d) {
      basketItems(s, d).groupBy("item").agg(count(lit(1)).as("n_item"))
    }

  private def basketPairsMin5(s: SparkSession, d: String): DataFrame =
    SessionMemo("insight.basketPairs5", s, d) {
      // size ≥ 2 first: sequence(0, -1) is DESCENDING in Spark, so a
      // 1-item basket would otherwise fabricate a null pair
      basketArrays(s, d).filter(size(col("items")) >= 2)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(items) - 2), i ->
               transform(sequence(i + 1, size(items) - 1), j ->
                 struct(items[i] AS a, items[j] AS b))))""")).as("p"))
        .groupBy(col("p.a").as("i1"), col("p.b").as("i2"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 5)
    }

  /** Shared basket machinery for the association/recommendation pair:
    * the memoized basket relation, per-item supports, and the a<b
    * co-occurrence pair counts above `minPair` (a filter over the
    * memoized minPair = 5 frame — callers may only TIGHTEN). */
  private def basketPairs(s: SparkSession, d: String, minPair: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(minPair >= 5, s"basketPairs memo is cut at minPair=5; got $minPair")
    val items = basketItems(s, d)
    val supp = basketSupp(s, d)
    val pairs = basketPairsMin5(s, d).filter(col("n_pair") >= minPair)
    (items, supp, pairs)
  }

  /** Materialize this module's session memos (Bench warm phase — see
    * [[SharedMemos]]). The pair frame derives from basketItems and
    * basketSupp, so counting it materializes the chain. */
  private[graft] def warmMemos(s: SparkSession, d: String): Unit = {
    basketPairsMin5(s, d).count()
    basketSupp(s, d).count()
    ()
  }

  private val assocRules: Q = (s, d) => {
    val (items, supp, rawPairs) = basketPairs(s, d, minPair = 10)
    val tot = items.select(countDistinct("ok").as("n_orders"))
    val pairs = rawPairs
      .select(col("i1").as("ante"), col("i2").as("cons"), col("n_pair"))
    pairs
      .join(broadcast(supp.select(col("item").as("ante"),
        col("n_item").as("n_ante"))), Seq("ante"))
      .join(broadcast(supp.select(col("item").as("cons"),
        col("n_item").as("n_cons"))), Seq("cons"))
      .crossJoin(broadcast(tot))
      .select(col("ante"), col("cons"), col("n_pair"),
        round(col("n_pair") / col("n_orders"), 6).as("support"),
        round(col("n_pair") / col("n_ante"), 6).as("confidence"),
        // lift as a product of two ratios: n_pair*n_orders as long*long
        // wraps silently past ~3e9 orders; this form never overflows
        round((col("n_pair") / col("n_ante").cast("double"))
          * (col("n_orders") / col("n_cons").cast("double")), 6).as("lift"))
      .orderBy(desc("lift"), col("ante"), col("cons"))
  }

  // ------------------------------------------------- survival analysis

  /** Kaplan–Meier survival estimator over customer lifetimes (days
    * between first and last order; a lifetime is an observed EVENT if
    * the last order predates 2001-01-01, else right-censored). Emits
    * the survival curve at each event time: deaths, number at risk,
    * and Ŝ(t) = Π (1 − dᵢ/nᵢ).
    *
    * Scale shape: one customer-keyed aggregate (corpus-sized shuffle),
    * then everything runs on the GROUPED duration axis (≤ a few
    * thousand rows regardless of corpus size). n-at-risk is the
    * reverse running sum over durations — no driver scalar; the
    * product is exp∘sum∘ln as an ordered frame, so both engines
    * accumulate in the same order. */
  private val kaplanMeier: Q = (s, d) => {
    val life = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(datediff(max("o_orderdate"), min("o_orderdate")).as("dur"),
        max("o_orderdate").as("last"))
      .select(col("dur"),
        when(col("last") < lit("2001-01-01").cast("date"), 1L)
          .otherwise(0L).as("event"))
    val grouped = life.groupBy("dur")
      .agg(sum("event").as("deaths"), count(lit(1)).as("n_at"))
    val atRisk = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cum = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .withColumn("n_risk", sum("n_at").over(atRisk))
      .filter(col("deaths") > 0)
      .withColumn("surv", round(exp(sum(
        log(lit(1.0) - col("deaths") / col("n_risk"))).over(cum)), 6))
      .select("dur", "deaths", "n_risk", "surv")
      .orderBy("dur")
  }

  /** Nelson–Aalen cumulative hazard — the estimator-twin of
    * [[kaplanMeier]] on the SAME life table: H(t) = Σ_{s≤t} d_s/n_s
    * (KM multiplies survival factors; NA sums hazard increments, the
    * preferred small-risk-set estimator, and exp(−H) is the Breslow
    * survival curve). Cross-engine float protocol: each per-time
    * increment d/n is ONE double division rounded to integer
    * MICRO-hazard units before the cumulative sum, so the running
    * total is an exact long in both engines; the exp at emission is a
    * single mirrored call. Windows ride the grouped duration axis
    * (time-range-bounded, the q_kaplan_meier class). */
  private val nelsonAalen: Q = (s, d) => {
    val life = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(datediff(max("o_orderdate"), min("o_orderdate")).as("dur"),
        max("o_orderdate").as("last"))
      .select(col("dur"),
        when(col("last") < lit("2001-01-01").cast("date"), 1L)
          .otherwise(0L).as("event"))
    val grouped = life.groupBy("dur")
      .agg(sum("event").as("deaths"), count(lit(1)).as("n_at"))
    val atRisk = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cum = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .withColumn("n_risk", sum("n_at").over(atRisk))
      .filter(col("deaths") > 0)
      .withColumn("hm",
        round(lit(1000000.0) * col("deaths") / col("n_risk")).cast("long"))
      .withColumn("cumh", sum("hm").over(cum))
      .select(col("dur"), col("deaths"), col("n_risk"),
        round(col("cumh") / lit(1000000.0), 6).as("cum_hazard"),
        round(exp(-(col("cumh") / lit(1000000.0))), 6).as("surv_breslow"))
      .orderBy("dur")
  }

  // -------------------------------------------------------- inequality

  /** Gini coefficient of customer revenue (the inequality summary
    * behind the Pareto query): G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n with
    * x ascending. Rank ties (equal revenue) are broken by custkey;
    * Σ i·xᵢ over a tie block is invariant to that order, so the
    * statistic is tie-safe by construction. Single row out.
    *
    * Scale note: the global rank runs through
    * [[ScaledWindow.rankCum]] — no single-partition WindowExec even
    * when the customer dimension is itself huge; ranks come from
    * parallel per-bucket windows plus in-plan bucket offsets. */
  private val gini: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("r"))
    ScaledWindow.rankCum(rev, Seq(col("r").asc, col("o_custkey").asc))
      .df
      .agg(count(lit(1)).as("n"),
        round(sum("r"), 2).as("total_rev"),
        round(lit(2.0) * sum(col("rk") * col("r"))
          / (count(lit(1)) * sum("r"))
          - (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
  }

  /** Herfindahl–Hirschman concentration index of customer revenue
    * within each nation — the antitrust/market-structure summary
    * beside [[gini]] (Gini reads inequality of the whole distribution;
    * HHI reads how close a market is to monopoly, in the 0–10 000
    * points regulators quote). Per-customer share terms are rounded to
    * integer 1e-8 units BEFORE the per-nation sum (exact long
    * addition, float association can never flip a digit); HHI and the
    * equivalent-competitor count 1/Σs² are one mirrored division each
    * at emission. Shape: two map-side-combined aggregates + one
    * 25-row broadcast join back — no window at all. */
  private val hhi: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
    val nat = rev.groupBy("c_nationkey")
      .agg(sum("r").as("tot"), count(lit(1)).as("n_customers"))
    rev.join(broadcast(nat), "c_nationkey")
      .withColumn("term",
        round(lit(100000000.0) * (col("r") / col("tot"))
          * (col("r") / col("tot"))).cast("long"))
      .groupBy(col("c_nationkey"), col("n_customers"), col("tot"))
      .agg(sum("term").as("sm"))
      .select(col("c_nationkey"), col("n_customers"),
        round(col("tot") / lit(100.0), 2).as("rev_usd"),
        round(col("sm") / lit(10000.0), 4).as("hhi_points"),
        round(lit(100000000.0) / col("sm"), 4).as("n_effective"))
      .orderBy("c_nationkey")
  }

  /** Lorenz curve by population deciles — the PLOTTABLE inequality
    * companion to [[gini]] (Gini is the scalar; the Lorenz points say
    * WHERE the concentration lives: "the top decile holds X% of
    * revenue"): customers ranked by revenue ascending, cut into 10
    * equal-population deciles by the EXPLICIT `((rk−1)·10) DIV n`
    * integer cut (the q_lift_deciles contract — ntile()'s remainder
    * placement would have to be replicated bit-for-bit), cumulative
    * revenue share from exact long cents. Rank rides
    * [[graft.queries.ScaledWindow.rankCum]]; the cumulative window
    * runs on the 10-row decile grid. */
  private val lorenz: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
    val rnk = ScaledWindow.rankCum(rev,
      Seq(col("r").asc, col("o_custkey").asc), Seq("cumr" -> col("r")))
    val n = rnk.n
    val total = rnk.totals("cumr")
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rnk.df
      .withColumn("decile", call_function("div", (col("rk") - 1) * 10, n) + 1)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("r").as("rc"))
      .withColumn("rev_usd", round(col("rc") / lit(100.0), 2))
      .withColumn("pop_share_cum",
        round(sum(col("n_customers")).over(w) / n.cast("double"), 6))
      .withColumn("rev_share_cum",
        round(sum(col("rc")).over(w) / total.cast("double"), 6))
      .select("decile", "n_customers", "rev_usd", "pop_share_cum",
        "rev_share_cum")
      .orderBy("decile")
  }

  /** Hill-number diversity profile of each nation's brand portfolio —
    * ecology's unified frame for the whole diversity family this
    * engine ships piecewise (richness, Shannon entropy, Simpson/HHI):
    * D0 = #brands, D1 = exp(H) (effective brands weighting all
    * equally), D2 = 1/Σp² (effective brands weighting the common
    * ones) — with D0 ≥ D1 ≥ D2 by construction, the gaps read HOW
    * concentration happens. Each −p·ln p term is micro-rounded before
    * its exact per-nation long sum (the q_info_gain protocol); each
    * p² term in 1e-8 units (the q_hhi protocol); exp/divisions
    * mirrored at emission. Brand grain ≤25 per nation — map-side
    * aggregates + one broadcast join, no window. */
  private val hillDiversity: Q = (s, d) => {
    val rows = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("p_brand"))
      .agg(count(lit(1)).as("nb"))
    val nat = rows.groupBy("c_nationkey").agg(sum("nb").as("nt"))
    rows.join(broadcast(nat), "c_nationkey")
      .withColumn("hm",
        round(lit(-1000000.0) * (col("nb") / col("nt"))
          * log(col("nb") / col("nt"))).cast("long"))
      .withColumn("sm",
        round(lit(100000000.0) * (col("nb") / col("nt"))
          * (col("nb") / col("nt"))).cast("long"))
      .groupBy(col("c_nationkey"), col("nt"))
      .agg(count(lit(1)).as("d0"), sum("hm").as("hms"),
        sum("sm").as("sms"))
      .select(col("c_nationkey"), col("nt").as("n_purchases"),
        col("d0").as("richness"),
        round(exp(col("hms") / lit(1000000.0)), 4).as("d1_shannon"),
        round(lit(100000000.0) / col("sms"), 4).as("d2_simpson"))
      .orderBy("c_nationkey")
  }

  // ------------------------------------------------------ independence

  /** Pearson chi-square test of independence between order priority
    * and order status, plus Cramér's V. The contingency table is a
    * map-side-combined groupBy (≤ |priorities|×|statuses| rows);
    * marginals are windows over that tiny grouped set; expected counts
    * are exact integer ratios evaluated in doubles identically in both
    * engines. Single row out. */
  private val chiSquare: Q = (s, d) => {
    val cont = Tables.orders(s, d)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("obs"))
    val rt = sum("obs").over(Window.partitionBy("o_orderpriority"))
    val ct = sum("obs").over(Window.partitionBy("o_orderstatus"))
    val n = sum("obs").over()
    cont
      // cast BEFORE the marginal product: rt*ct as long*long wraps past
      // 2^63 (~1e10 orders); double-first matches the oracle's arithmetic
      .withColumn("exp", rt.cast("double") * ct / n)
      .withColumn("cell", pow(col("obs") - col("exp"), 2) / col("exp"))
      .agg(
        round(sum("cell"), 6).as("chi2"),
        ((countDistinct("o_orderpriority") - 1)
          * (countDistinct("o_orderstatus") - 1)).as("dof"),
        sum("obs").as("n"),
        round(sqrt(sum("cell") / (sum("obs")
          * least(countDistinct("o_orderpriority") - 1,
            countDistinct("o_orderstatus") - 1))), 6).as("cramers_v"))
  }

  // ------------------------------------------------------- forecasting

  /** Seasonal-naive backtest: forecast each month's revenue as the
    * value 12 months prior and report the absolute percentage error —
    * the baseline every forecasting pipeline must beat, and the
    * data-drift smoke alarm when APE jumps. Month series is
    * grid-sized; the lag is one ordered window over it. */
  private val forecastSnaive: Q = (s, d) => {
    val m = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(round(sum("o_totalprice"), 2).as("actual"))
    val w = Window.orderBy("month")
    m.withColumn("yhat", lag("actual", 12).over(w))
      .filter(col("yhat").isNotNull)
      .withColumn("ape",
        round(abs(col("actual") - col("yhat")) / col("actual") * 100, 4))
      .orderBy("month")
  }

  // ---------------------------------------------------- inverted index

  /** Inverted-index construction over the documents corpus: for the 50
    * highest-document-frequency terms (letters-only, length ≥ 4), the
    * document frequency and the posting list — CAPPED at the first 100
    * doc ids, rank computed per-term BEFORE collection, so per-term
    * aggregation state is bounded no matter how common the term is
    * (the stopword posting list that would otherwise OOM a 100 TB
    * build). df still counts the full distinct set. */
  private val invertedIndex: Q = (s, d) => {
    val td = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(length(col("term")) >= 4)
      .distinct()
      .persist()
    CacheRegistry.register(td)
    val df = td.groupBy("term").agg(count(lit(1)).as("df"))
    val rk = Window.partitionBy("term").orderBy("doc_id")
    val postings = td
      .withColumn("rn", row_number().over(rk))
      .filter(col("rn") <= 100)
      .groupBy("term")
      .agg(concat_ws(",", sort_array(collect_list("doc_id"))).as("postings"))
    df.join(postings, Seq("term"))
      .orderBy(desc("df"), col("term"))
      .limit(50)
  }

  // ------------------------------------------------ ABC classification

  /** ABC inventory classification: parts ranked by revenue, class A =
    * the head covering 80 % of cumulative revenue, B to 95 %, C the
    * tail. All arithmetic in INTEGER CENTS (per-row round before the
    * sum), so the running total and both class boundaries are exact —
    * no double last-bit can flip a part's class between engines.
    *
    * Scale note: the fact table collapses to per-part revenue (one
    * map-side-combined shuffle), then the global running total comes
    * from [[ScaledWindow.rankCum]] — exact long arithmetic, no
    * single-partition WindowExec, and the grand total is its in-plan
    * scalar (not a partition-less `sum().over()`). */
  private val abcClass: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .groupBy("l_partkey")
      .agg(sum("cents").as("rev"))
    val rnk = ScaledWindow.rankCum(rev,
      Seq(col("rev").desc, col("l_partkey").asc), Seq("cum" -> col("rev")))
    val total = rnk.total.cast(DecimalType(38, 0))
    rnk.df
      // boundary test on DECIMAL(38,0): cum*100 as long*long wraps once
      // total revenue passes ~9.2e16 cents (~25 TB lineitem); decimal is
      // exact to 1e36, matching the oracle's int128 arithmetic
      .withColumn("cls",
        when(col("cum").cast(DecimalType(38, 0)) * 100 <= total * 80, "A")
          .when(col("cum").cast(DecimalType(38, 0)) * 100 <= total * 95, "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"),
        sum("rev").as("class_cents"),
        round(sum("rev") / rnk.total.cast("double"), 6).as("share"))
      .orderBy("cls")
  }

  /** Top-10 orders per priority through the NATIVE
    * [[graft.plans.TopKPerKey]] physical operator (partial bounded
    * heaps → key-clustered exchange of ≤ partitions×keys×k survivors →
    * ranked merge) — the whole-operator Catalyst-extension rung, under
    * the same row_number oracle as the window form it replaces. The
    * fact table never sorts and never fully shuffles. */
  private val topkNative: Q = (s, d) =>
    graft.plans.TopKPerKey.topK(
      Tables.orders(s, d)
        .select("o_orderpriority", "o_orderkey", "o_totalprice"),
      Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 10)
      .orderBy("o_orderpriority", "rank")

  // ----------------------------------------------------- recommendation

  /** Item-based collaborative filtering — the recommender SERVING
    * shape: item-item cosine similarity from order-basket
    * co-occurrence (cos = n_ab/√(n_a·n_b), support ≥ 5), then each
    * customer's top-3 unowned brands by summed similarity to what they
    * already buy.
    *
    * Scale shape: the similarity matrix is ITEM-DIMENSION-sized
    * (bounded by co-occurring pairs, never corpus²) and broadcasts
    * into the scoring join; the customer profile shuffles once to
    * (cust, item) grain; scoring is a map-side-combined groupBy on
    * (cust, candidate); ownership exclusion is a left-anti join on the
    * same key; the final top-3 is a per-customer window over ≤
    * |items| rows. Scores are ROUNDED before ranking (≤ |items|
    * doubles per sum, far under the 1e-6 grain) so both engines cut
    * identical top-3 sets. */
  private val recommendBrands: Q = (s, d) => {
    val (items, supp, rawPairs) = basketPairs(s, d, minPair = 5)
    val half = rawPairs
      .join(broadcast(supp.select(col("item").as("i1"),
        col("n_item").as("n1"))), Seq("i1"))
      .join(broadcast(supp.select(col("item").as("i2"),
        col("n_item").as("n2"))), Seq("i2"))
      .select(col("i1"), col("i2"),
        (col("n_pair") / sqrt(col("n1").cast("double") * col("n2"))).as("cos"))
      // persisted: the mirror union below consumes half TWICE, and
      // without a cache each consumption replays the basket self-join
      .persist()
    CacheRegistry.register(half)
    val sim = half.select(col("i1").as("a"), col("i2").as("b"), col("cos"))
      .unionByName(half.select(col("i2").as("a"), col("i1").as("b"),
        col("cos")))
    // the customer profile REUSES the persisted basket relation — the
    // orderkey→custkey hop is one join against the orders dimension,
    // not a second lineitem⋈part pass. Round 17: the (cust, item)
    // dedup rides ONE collect_set groupBy instead of distinct() —
    // same row set, but the persisted profile is hash(cust)-
    // partitioned, which the scoring groupBy (cust, rec), the
    // ownership anti-join on (cust, rec), and the per-cust top-k all
    // satisfy by the subset rule — three downstream exchanges gone
    // (guide §2.4).
    val ub = CacheRegistry.register(items
      .join(Tables.orders(s, d).select(col("o_orderkey").as("ok"),
        col("o_custkey").as("cust")), Seq("ok"))
      .select(col("cust"), col("item"))
      .groupBy("cust").agg(collect_set("item").as("its"))
      .select(col("cust"), explode(col("its")).as("item"))
      .persist())
    val scores = ub.join(broadcast(sim), col("item") === col("a"))
      .groupBy(col("cust"), col("b").as("rec"))
      .agg(round(sum("cos"), 6).as("score"))
    val unowned = scores.join(
      ub.select(col("cust"), col("item").as("rec")),
      Seq("cust", "rec"), "left_anti")
    // the final top-3 rides the NATIVE per-key top-k operator
    // (partial bounded heaps + survivor-only exchange) instead of a
    // row_number window — same (score desc, rec asc) order contract,
    // measurably cheaper on the customer-grain partition count
    graft.plans.TopKPerKey.topK(unowned, Seq("cust"), "score", "rec", 3)
      .withColumnRenamed("rank", "rn")
      .orderBy("cust", "rn")
  }

  // ------------------------------------------------------- seasonality

  /** Classic multiplicative seasonal index: per month-of-year, the
    * mean monthly revenue and its ratio to the grand mean of the 12
    * monthly means — the decomposition behind the seasonal-naive
    * forecast. Everything past the one month-grain aggregate runs on
    * a ≤12-row set. total_rev, not mean_rev: a SUM of 2-decimal
    * values never sits at a .005 rounding midpoint, while an AVG
    * (division by the group size) can — the engine/oracle round-half
    * conventions differ exactly there (the q_fn_math scaladoc's
    * documented hazard, observed live on this query's month 10). */
  private val seasonalIndex: Q = (s, d) => {
    val m = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "month").as("mon"))
      .agg(round(sum("o_totalprice"), 2).as("v"))
    m.groupBy(month(col("mon")).as("mo"))
      .agg(count(lit(1)).as("n_months"),
        round(sum("v"), 2).as("total_rev"),
        avg("v").as("raw_mean"))
      .withColumn("idx",
        round(col("raw_mean") / avg("raw_mean").over(Window.partitionBy()), 6))
      .select("mo", "n_months", "total_rev", "idx")
      .orderBy("mo")
  }

  // --------------------------------------------------- experimentation

  /** Two-sample A/B read-out (Welch z on per-user purchase value,
    * variant = user_id parity — the deterministic hash-split every
    * experiment platform runs): per-variant n/mean/variance and the
    * Welch statistic, one row. The corpus collapses to per-user
    * metrics in one shuffle; variant stats are conditional aggregates
    * over that user-grain set (no second pass, no pivot join).
    * Per-user sums are rounded before the stats so both engines feed
    * identical doubles into the variance chain. */
  private val abTest: Q = (s, d) => {
    val perUser = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(round(sum("value"), 4).as("m"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    val m0 = avg(when(col("variant") === 0, col("m")))
    val m1 = avg(when(col("variant") === 1, col("m")))
    val v0 = var_samp(when(col("variant") === 0, col("m")))
    val v1 = var_samp(when(col("variant") === 1, col("m")))
    val n0 = count(when(col("variant") === 0, col("m")))
    val n1 = count(when(col("variant") === 1, col("m")))
    // the significance cut runs on the ROUNDED statistic (file-header
    // protocol: an accumulation-order last-ulp difference must not be
    // able to flip a membership decision)
    perUser.agg(
      n0.as("n0"), n1.as("n1"),
      round(m0, 4).as("mean0"), round(m1, 4).as("mean1"),
      round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 4).as("welch_z"),
      (abs(round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 4)) > 1.96)
        .as("significant"))
  }

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * Sensitivity of Online Controlled Experiments"): the post-period
    * metric adjusted by the pre-period covariate — θ = cov(post, pre)
    * / var(pre), var_adj = var(post) − θ²·var(pre). Reports θ and the
    * variance-reduction fraction the covariate buys, one row. Same
    * scale shape as the A/B read-out: one user-grain collapse, then
    * covar_pop/var_pop (codegen'd, the q_agg_corr precedent) over it. */
  private val cuped: Q = (s, d) => {
    val split = lit("2024-01-16").cast("timestamp")
    val perUser = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        round(sum(when(col("ts") < split, col("value")).otherwise(0.0)), 4)
          .as("pre"),
        round(sum(when(col("ts") >= split, col("value")).otherwise(0.0)), 4)
          .as("post"))
    val theta = covar_pop(col("post"), col("pre")) / var_pop(col("pre"))
    val varAdj = var_pop(col("post")) - theta * theta * var_pop(col("pre"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      round(theta, 6).as("theta"),
      round(var_pop(col("post")), 4).as("var_post"),
      round(varAdj, 4).as("var_adj"),
      round(lit(1.0) - varAdj / var_pop(col("post")), 6).as("var_reduction"))
  }

  /** Shapley-value channel attribution (Shapley 1953 applied to
    * conversion credit, the data-driven scheme of Zhao et al. 2018):
    * channels = {view, click, signup} touches before the user's first
    * purchase; v(S) = conversion rate of users exposed to EXACTLY set
    * S (unobserved sets count 0, documented); φ_c over n=3 unrolls to
    * the closed 4-term weighted-marginal sum per channel. Reports the
    * baseline v(∅), v(full), and the three φ — one row; the
    * efficiency identity Σφ = v(full) − v(∅) is pinned in InsightSpec.
    *
    * Determinism: every v is a ratio of two integer counts picked out
    * of disjoint mask rows by conditional aggregates — no double is
    * ever the sum of more than one term, so both engines compute
    * bit-identical φ before the final round. Scale shape: one
    * user-grain collapse (corpus-sized shuffle), an 8-row mask
    * aggregate, then literal arithmetic. */
  private val shapley: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("fp"))
    // ALL users stay in the frame (a user whose only events are
    // purchases carries mask 0 and populates the v(∅) baseline); the
    // pre-first-purchase exposure window is the condition INSIDE each
    // touch flag, not a row filter
    val pre = col("fp").isNull || col("ts") < col("fp")
    val sig = ev
      .join(broadcast(fp), Seq("user_id"), "left")
      .groupBy("user_id")
      .agg(
        (max(when(col("event_type") === "view" && pre, 1).otherwise(0))
          + max(when(col("event_type") === "click" && pre, 2).otherwise(0))
          + max(when(col("event_type") === "signup" && pre, 4).otherwise(0)))
          .as("mask"),
        max(when(col("fp").isNotNull, 1L).otherwise(0L)).as("conv"))
      .groupBy("mask")
      .agg(count(lit(1)).as("n"), sum("conv").as("nc"))
    def v(m: Int): Column = coalesce(
      max(when(col("mask") === m, col("nc") / col("n").cast("double"))),
      lit(0.0))
    // w(|S|) for n=3: 1/3, 1/6, 1/6, 1/3 over the four S not
    // containing the channel; bits: view=1, click=2, signup=4
    def phi(pairs: Seq[(Int, Int, Double)]): Column =
      pairs.map { case (withC, without, w) =>
        (v(withC) - v(without)) * lit(w)
      }.reduce(_ + _)
    val t = 1.0 / 3; val x = 1.0 / 6
    sig.agg(
      sum("n").as("n_users"),
      round(v(0), 6).as("v_none"),
      round(v(7), 6).as("v_all"),
      round(phi(Seq((1, 0, t), (3, 2, x), (5, 4, x), (7, 6, t))), 6)
        .as("phi_view"),
      round(phi(Seq((2, 0, t), (3, 1, x), (6, 4, x), (7, 5, t))), 6)
        .as("phi_click"),
      round(phi(Seq((4, 0, t), (5, 1, x), (6, 2, x), (7, 3, t))), 6)
        .as("phi_signup"))
  }

  /** Difference-in-differences: the 2×2 causal workhorse — treatment
    * (user parity) × period (pre/post 2024-01-16) cell means of
    * per-user purchase value, DiD = (T_post − T_pre) − (C_post −
    * C_pre). One user-grain collapse with conditional sums (every user
    * carries both periods, 0 when absent), then four conditional
    * averages — no pivot join. Per-user sums rounded before the means
    * (the cross-engine protocol); DiD computed from the raw means and
    * rounded once at 6. */
  private val did: Q = (s, d) => {
    val split = lit("2024-01-16").cast("timestamp")
    val perUser = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        round(sum(when(col("ts") < split, col("value")).otherwise(0.0)), 4)
          .as("pre"),
        round(sum(when(col("ts") >= split, col("value")).otherwise(0.0)), 4)
          .as("post"))
      .withColumn("treat", (col("user_id") % 2).cast("int"))
    val mtPre = avg(when(col("treat") === 1, col("pre")))
    val mtPost = avg(when(col("treat") === 1, col("post")))
    val mcPre = avg(when(col("treat") === 0, col("pre")))
    val mcPost = avg(when(col("treat") === 0, col("post")))
    perUser.agg(
      count(when(col("treat") === 1, lit(1))).as("n_treat"),
      count(when(col("treat") === 0, lit(1))).as("n_ctrl"),
      round(mtPre, 4).as("treat_pre"), round(mtPost, 4).as("treat_post"),
      round(mcPre, 4).as("ctrl_pre"), round(mcPost, 4).as("ctrl_post"),
      round((mtPost - mtPre) - (mcPost - mcPre), 6).as("did"))
  }

  /** Deterministic bootstrap CI for the mean per-user purchase value:
    * B = 200 replicas, each drawing n indices j = md5(b:i) mod n — a
    * HASH-seeded resample, so both engines (and any rerun) draw the
    * identical bootstrap sample with no RNG state. The 95% CI is the
    * [5th, 196th] order statistic of the replica means, selected on
    * ROUNDED means with the replica id as tie-break (no float cut).
    *
    * Scale shape: the resample is a B×n equi-join against the n-row
    * user-grain aggregate (embarrassingly parallel, linear in B·n);
    * replica means are a map-side-combined groupBy on b; the user
    * index comes from [[ScaledWindow.rankCum]] (no partition-less
    * row_number). At extreme n the B×n join itself is the cost —
    * [[bootstrapPoisson]] is the shipped scale path (per-user
    * hash-derived weights, no index join), same statistical target;
    * this form stays as the index-resample oracle anchor. */
  private val bootstrapCi: Q = (s, d) => {
    val nB = 200
    // per-user metric carried as INTEGER ten-thousandths: replica sums
    // are then exact longs, so the rank-5/196 order-statistic cut can
    // never flip on an accumulation-order last bit (ranking on a
    // rounded AVG would reintroduce the .xx5 midpoint hazard the
    // seasonalIndex scaladoc documents); the one double division per
    // OUTPUT value is a single deterministic op in both engines
    // user index via rankCum (no partition-less row_number over the
    // user dimension); n is its in-plan scalar, not count().over()
    val ranked = ScaledWindow.rankCum(
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(round(sum("value") * 10000).cast("long").as("mi")),
      Seq(col("user_id").asc))
    val u = CacheRegistry.register(
      ranked.df.withColumnRenamed("rk", "rn").persist())
    val draws = u.select(col("rn").as("i"))
      .withColumn("b", explode(sequence(lit(1), lit(nB))))
      .withColumn("j",
        conv(substring(md5(concat(col("b"), lit(":"), col("i"))), 1, 8),
          16, 10).cast("long") % ranked.n + 1)
    val boot = draws
      .join(u.select(col("rn").as("j"), col("mi")), Seq("j"))
      .groupBy("b").agg(sum("mi").as("bs"))
    val rk = Window.orderBy(col("bs"), col("b"))
    val stats = boot.withColumn("r", row_number().over(rk))
      .filter(col("r") === 5 || col("r") === 196)
      .agg(min("bs").as("lo_sum"), max("bs").as("hi_sum"))
    u.agg(count(lit(1)).as("n_users"), sum("mi").as("tot"))
      .crossJoin(broadcast(stats))
      .select(col("n_users"),
        round(col("tot") / (col("n_users") * 10000.0), 4).as("point"),
        round(col("lo_sum") / (col("n_users") * 10000.0), 4).as("ci_lo"),
        round(col("hi_sum") / (col("n_users") * 10000.0), 4).as("ci_hi"))
  }

  /** Poisson-bootstrap CI — the SCALE PATH beside [[bootstrapCi]]: each
    * replica resamples by giving every user an independent
    * Poisson(1)-distributed WEIGHT instead of drawing n indices, the
    * standard streaming/distributed bootstrap (per-user work only — no
    * global row_number over users, no B×n index join; the 200-replica
    * explode collapses map-side to B partial aggregates per partition,
    * so the shuffle is B rows per task regardless of corpus size).
    * Weights are hash-derived: h = first-8-hex of md5("b:user") as a
    * 32-bit integer, mapped through the Poisson(1) inverse CDF with
    * PRECOMPUTED INTEGER thresholds floor(cdf·2³²) — no float compare,
    * so both engines draw bit-identical weights (truncated at k=10,
    * tail mass ~1e-8). Replica means are exact-long ratios; the CI is
    * the [5th, 196th] order statistic of those means over the B=200
    * replica grid (grid-sized sort, like the month windows). */
  private val bootstrapPoisson: Q = (s, d) => {
    val nB = 200
    // floor(cdf_Poisson(1)(k) * 2^32) for k = 0..9; k = 10 is the tail
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L,
      4294962463L, 4294966817L)
    val u = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(round(sum("value") * 10000).cast("long").as("mi"))
    val h = conv(substring(md5(concat(col("b"), lit(":"), col("user_id"))),
      1, 8), 16, 10).cast("long")
    val w = thresholds.zipWithIndex.foldRight(lit(10L): Column) {
      case ((t, k), tail) => when(h < t, k.toLong).otherwise(tail)
    }
    val boot = u
      .withColumn("b", explode(sequence(lit(1), lit(nB))))
      .withColumn("w", w)
      .groupBy("b")
      .agg(sum(col("w") * col("mi")).as("bs"), sum("w").as("nb"))
      .filter(col("nb") > 0)
      .withColumn("mean", col("bs") / (col("nb") * 10000.0))
    val rk = Window.orderBy(col("mean"), col("b"))
    val stats = boot.withColumn("r", row_number().over(rk))
      .filter(col("r") === 5 || col("r") === 196)
      .agg(min("mean").as("lo_mean"), max("mean").as("hi_mean"))
    u.agg(count(lit(1)).as("n_users"), sum("mi").as("tot"))
      .crossJoin(broadcast(stats))
      .select(col("n_users"),
        round(col("tot") / (col("n_users") * 10000.0), 4).as("point"),
        round(col("lo_mean"), 4).as("ci_lo"),
        round(col("hi_mean"), 4).as("ci_hi"))
  }

  /** Distributed ROC-AUC — the rank statistic every model-quality gate
    * computes, at corpus scale: AUC = P(score⁺ > score⁻) + ½P(=), the
    * tie-corrected Mann–Whitney U. Label = order-key parity, score =
    * order price (a deterministic stand-in; the estimator is
    * label/score-agnostic). Shape: one map-side-combined collapse to
    * the DISTINCT-SCORE grain (per score: positive and negative
    * counts), then the negative-count running total through
    * [[ScaledWindow.rankCum]] — the same multi-metric ECDF
    * machinery as q_ks_test, so no partition-less window over the
    * data-sized score grain. U accumulates in DECIMAL(38,0):
    * 2U = Σᵢ nPᵢ·(2·cumN_{<i} + nNᵢ) is exact integer arithmetic in
    * both engines (DuckDB int128, Spark decimal), one double division
    * at the end. */
  private val auc: Q = (s, d) => {
    val g = Tables.orders(s, d)
      .groupBy(col("o_totalprice").as("score"))
      .agg(
        sum(when(pmod(col("o_orderkey"), lit(2)) === 1, 1L).otherwise(0L)).as("np"),
        sum(when(pmod(col("o_orderkey"), lit(2)) === 0, 1L).otherwise(0L)).as("nn"))
    val rnk = ScaledWindow.rankCum(g, Seq(col("score").asc),
      Seq("cump" -> col("np"), "cumn" -> col("nn")))
    val (nPos, nNeg) = (rnk.totals("cump"), rnk.totals("cumn"))
    rnk.df
      .agg(sum(col("np").cast(DecimalType(38, 0))
        * (lit(2) * (col("cumn") - col("nn")) + col("nn"))).as("u2"))
      .select(
        nPos.as("n_pos"), nNeg.as("n_neg"),
        round(col("u2").cast("double") / (lit(2.0) * nPos * nNeg), 6)
          .as("auc"))
  }

  /** Decile lift / gains table — the targeting read-out beside AUC:
    * rank by score desc, cut into 10 equal-population deciles, report
    * per-decile response rate, lift over the base rate, and cumulative
    * gain. Rank comes from [[ScaledWindow.rankCum]] (the score grain
    * is data-sized); the decile cut is EXPLICIT integer arithmetic
    * `((rk−1)·10) DIV n` — not ntile(), whose remainder placement
    * would have to be replicated bit-for-bit — with n and the
    * conversion total as rankCum's in-plan scalars. The final
    * cumulative window runs over the 10-row decile grid. */
  private val liftDeciles: Q = (s, d) => {
    val scored = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_totalprice").as("score"),
      when(pmod(col("o_orderkey"), lit(2)) === 1, 1L).otherwise(0L)
        .as("conv"))
    val rnk = ScaledWindow.rankCum(scored,
      Seq(col("score").desc, col("o_orderkey").asc),
      Seq("cumconv" -> col("conv")))
    val n = rnk.n
    val nConv = rnk.totals("cumconv").cast("double")
    val baseRate = nConv / n
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rnk.df
      .withColumn("decile", call_function("div", (col("rk") - 1) * 10, n) + 1)
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("conv").as("n_conv"))
      .withColumn("conv_rate", round(col("n_conv") / col("n"), 6))
      .withColumn("lift",
        round((col("n_conv") / col("n")) / baseRate, 6))
      .withColumn("cum_gain", round(sum("n_conv").over(w) / nConv, 6))
      .orderBy("decile")
  }

  /** Thresholded confusion matrices — the operating-point companion to
    * [[auc]] (AUC ranks the scorer; deployment needs ONE cut, and this
    * reports the cost of each candidate cut): tp/fp/fn/tn at three
    * fixed score thresholds from a single map-side-combined pass of
    * conditional sums (no per-threshold rescan), unpivoted to one row
    * per threshold with precision/recall/F1/accuracy/MCC as mirrored
    * expressions over the exact counts. MCC casts to double BEFORE the
    * marginal products (long×long wraps past ~3e9 rows — the
    * q_chi_square overflow lesson). */
  private val confusion: Q = (s, d) => {
    val thresholds = Seq(100000.0, 150000.0, 200000.0)
    val t = Tables.orders(s, d).select(
      col("o_totalprice").as("score"),
      when(pmod(col("o_orderkey"), lit(2)) === 1, 1L).otherwise(0L).as("y"))
    val aggs = thresholds.zipWithIndex.flatMap { case (th, i) => Seq(
      sum(when(col("score") >= th && col("y") === 1, 1L).otherwise(0L))
        .as(s"tp$i"),
      sum(when(col("score") >= th && col("y") === 0, 1L).otherwise(0L))
        .as(s"fp$i"),
      sum(when(col("score") < th && col("y") === 1, 1L).otherwise(0L))
        .as(s"fn$i"),
      sum(when(col("score") < th && col("y") === 0, 1L).otherwise(0L))
        .as(s"tn$i")) }
    val one = t.agg(aggs.head, aggs.tail: _*)
    val stacked = one.select(expr(
      "stack(3, " + thresholds.zipWithIndex.map { case (th, i) =>
        s"CAST($th AS DOUBLE), tp$i, fp$i, fn$i, tn$i" }.mkString(", ")
        + ") AS (threshold, tp, fp, fn, tn)"))
    stacked.select(col("threshold"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      round(col("tp") / (col("tp") + col("fp")), 6).as("prec"),
      round(col("tp") / (col("tp") + col("fn")), 6).as("recall"),
      round(lit(2.0) * col("tp")
        / (lit(2.0) * col("tp") + col("fp") + col("fn")), 6).as("f1"),
      round((col("tp") + col("tn"))
        / (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"),
      round((col("tp").cast("double") * col("tn")
        - col("fp").cast("double") * col("fn"))
        / sqrt((col("tp") + col("fp")).cast("double") * (col("tp") + col("fn"))
          * (col("tn") + col("fp")) * (col("tn") + col("fn"))), 6).as("mcc"))
      .orderBy("threshold")
  }

  /** Item–item cosine collaborative filtering over the customer×part
    * purchase matrix — the classic "customers who bought X also
    * bought Y" scorer beside q_assoc_rules (lift reads direction-free
    * dependence; cosine normalizes by BOTH items' popularity, the
    * recommender convention). Binary baskets: cos(i,j) =
    * co_ij / (√n_i·√n_j). The pair self-join runs on the capped
    * customer key (2 ≤ basket ≤ 100 distinct parts — shuffle bounded
    * by Σ C(basket,2), purchasing behavior, not corpus size; the
    * standard CF hub cap). Scores are micro-rounded (two IEEE-exact
    * sqrts, one mirrored division, one round) so the global top-20
    * order (score desc, pair asc) is an integer compare that can
    * never flip on a float bit. */
  private val itemCf: Q = (s, d) => {
    // Round 17 A/B note (kept from the build round): the interpreted-
    // HOF `transform(sequence(...))` struct-array pair generation
    // measured BETTER solo but WORSE inside the full sweep (2.88 vs
    // 2.35, re-sweep-confirmed) — per-basket struct allocation
    // degrades under sweep heap pressure, the codegen sort-merge
    // self-join does not. The timed query keeps the JOIN form; what
    // round 17 changes is the EXCHANGE count feeding it: the distinct
    // + separate cap-count + cap-join chain (three exchanges, output
    // partitioned by hash(cust, part) — useless to the cust-keyed
    // self-join, which then re-exchanged BOTH sides) collapses into
    // ONE collect_set groupBy — dedup and the basket-width cap ride
    // the same aggregate, and the exploded relation persists
    // PARTITIONED BY hash(cust), so the self-join and the support
    // count below need no exchange at all (guide §2.4: two operations
    // keyed the same way share one exchange). Row set is identical:
    // distinct (cust, part) with basket size in [2, 100].
    val baskets = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .groupBy("cust").agg(collect_set("part").as("parts"))
      .filter(size(col("parts")).between(2, 100))
    // persisted: THREE consumers (the per-part supports, and both
    // sides of the co-occurrence self-join) — without the cache the
    // orders⋈lineitem aggregate replays once per consumer.
    // (Round 17 A/B: pinning the cached partition count to
    // spark.sql.shuffle.partitions to defeat AQE coalescing measured
    // WORSE — the extra repartition exchange costs more than the
    // added parallelism buys at this scale; not kept.)
    // round 18: the exploded basket relation lands at an EXPLICIT
    // hash(cust) partition count (the session's shuffle-partitions
    // knob). With cached partitioning visible to consumers
    // (canChangeCachedPlanOutputPartitioning=true), the pair self-join
    // runs AT the cache's partitioning with no exchange — which is the
    // point — but AQE had coalesced the groupBy output to ~1 partition
    // at test volume, so the C(b,2) pair explosion (output >> input,
    // invisible to AQE's input-byte sizing) ran single-threaded
    // (measured 1.7 → 5.8 s). Explicit count keeps the join
    // exchange-free AND parallel; at cluster scale the same conf knob
    // carries the real partition count.
    val capped = CacheRegistry.register(
      baskets.select(col("cust"), explode(col("parts")).as("part"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
          col("cust"))
        .persist())
    val ni = capped.groupBy("part").agg(count(lit(1)).as("n"))
    // (round 18 re-confirmed round 17's A/B: the interpreted-HOF
    // array pair generation read 10.9 s vs 2.4 in the same window —
    // the codegen self-join stays.)
    val b = capped.select(col("cust"), col("part").as("p2"))
    val co = capped.join(b, "cust").filter(col("part") < col("p2"))
      .groupBy(col("part").as("p1"), col("p2"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    // the per-part support map is part-dimension-sized — broadcast it
    // into both attach joins instead of exchanging the pair frame
    // twice (round 18, guide §3.1)
    co.join(broadcast(ni.withColumnRenamed("part", "p1")
        .withColumnRenamed("n", "n1")), "p1")
      .join(broadcast(ni.withColumnRenamed("part", "p2")
        .withColumnRenamed("n", "n2")), "p2")
      .withColumn("score_q6", round(lit(1000000.0) * col("co") /
        (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double"))))
        .cast("long"))
      .orderBy(desc("score_q6"), asc("p1"), asc("p2"))
      .limit(20)
      .select(col("p1"), col("p2"), col("co").as("n_common"),
        col("n1"), col("n2"),
        (col("score_q6") / lit(1000000.0)).as("cosine"))
  }

  /** Chapman capture–recapture estimate of the reachable customer
    * population from the 1995/1996 activity "captures" — the
    * ecology-borrowed coverage estimator the warehouse uses to ask
    * "how many customers exist that we only ever see part of?"
    * (q_overlap_sketch reads two lists' overlap; this turns the
    * overlap into a population size). N̂ = (n₁+1)(n₂+1)/(m+1) − 1 and
    * its variance are closed forms of three exact distinct-counts;
    * two mirrored divisions + one sqrt at emission. One distinct +
    * one aggregate, no window, no join. */
  private val captureRecapture: Q = (s, d) => {
    val cy = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .distinct()
    val g = cy.groupBy("o_custkey")
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("in1"),
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("in2"))
      .agg(sum("in1").as("n1"), sum("in2").as("n2"),
        sum(when(col("in1") === 1 && col("in2") === 1, 1L)
          .otherwise(0L)).as("m"))
    val nhat = (col("n1") + 1).cast("double") * (col("n2") + 1) /
      (col("m") + 1) - lit(1.0)
    val se = sqrt((col("n1") + 1).cast("double") * (col("n2") + 1) *
      (col("n1") - col("m")) * (col("n2") - col("m")) /
      ((col("m") + 1).cast("double") * (col("m") + 1) *
        (col("m") + 2)))
    g.select(col("n1"), col("n2"), col("m").as("n_both"),
      round(nhat, 2).as("n_hat"), round(se, 2).as("se"))
  }

  /** Empirical-Bayes beta–binomial shrinkage of per-brand return
    * rates — the small-sample stabilizer every per-entity dashboard
    * rate needs (a brand with 8 returns in 20 lines should NOT outrank
    * one with 400 in 1000): method-of-moments α, β from the 25 brand
    * rates, then each brand's posterior mean (x+α)/(n+α+β). Brand
    * rates are micro-rounded to 1e-9 (one mirrored division each)
    * BEFORE the moment sums, so the MoM inputs are exact integers;
    * α/β and the posterior means are mirrored double expressions at
    * emission. The 1-row prior rides a reviewed broadcast onto the
    * 25-row brand grid. */
  private val betaBinomial: Q = (s, d) => {
    val br = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
      .withColumn("p_q9",
        round(lit(1000000000.0) * col("x") / col("n")).cast("long"))
    val mom = br.agg(count(lit(1)).as("k"), sum("p_q9").as("sm"),
      sum(col("p_q9").cast(DecimalType(38, 0)) * col("p_q9")).as("sq"))
      .select(col("k"),
        (col("sm").cast("double") / (col("k") * lit(1000000000.0)))
          .as("m"),
        ((col("k").cast(DecimalType(38, 0)) * col("sq")
          - col("sm").cast(DecimalType(38, 0)) * col("sm"))
          .cast("double") /
          (col("k").cast(DecimalType(38, 0)) * (col("k") - 1))
            .cast("double") / lit(1e18)).as("v"))
      .select(col("k"),
        (col("m") * (col("m") * (lit(1.0) - col("m")) / col("v")
          - lit(1.0))).as("alpha"),
        ((lit(1.0) - col("m")) * (col("m") * (lit(1.0) - col("m"))
          / col("v") - lit(1.0))).as("beta"))
    br.crossJoin(broadcast(mom))
      .select(col("p_brand").as("brand"), col("n"), col("x"),
        round(col("x").cast("double") / col("n"), 6).as("rate"),
        round((col("x") + col("alpha")) /
          (col("n") + col("alpha") + col("beta")), 6).as("shrunk_rate"))
      .orderBy("brand")
  }

  val queries: Map[String, Q] = Map(
    "q_beta_binomial" -> betaBinomial,
    "q_capture_recapture" -> captureRecapture,
    "q_item_cf" -> itemCf,
    "q_ab_test" -> abTest,
    "q_auc" -> auc,
    "q_confusion" -> confusion,
    "q_lift_deciles" -> liftDeciles,
    "q_cuped" -> cuped,
    "q_attribution_shapley" -> shapley,
    "q_did" -> did,
    "q_bootstrap_ci" -> bootstrapCi,
    "q_bootstrap_poisson" -> bootstrapPoisson,
    "q_recommend_brands" -> recommendBrands,
    "q_seasonal_index" -> seasonalIndex,
    "q_topk_native" -> topkNative,
    "q_geo_knn" -> geoKnn,
    "q_geo_radius_join" -> geoRadiusJoin,
    "q_geo_density" -> geoDensity,
    "q_assoc_rules" -> assocRules,
    "q_kaplan_meier" -> kaplanMeier,
    "q_nelson_aalen" -> nelsonAalen,
    "q_gini" -> gini,
    "q_lorenz" -> lorenz,
    "q_hhi" -> hhi,
    "q_hill_diversity" -> hillDiversity,
    "q_chi_square" -> chiSquare,
    "q_forecast_snaive" -> forecastSnaive,
    "q_inverted_index" -> invertedIndex,
    "q_abc_class" -> abcClass,
  )

  val oracles: Map[String, String] = Map(
    // brand rates micro-rounded to 1e-9 before the exact moment sums;
    // MoM alpha/beta and posterior means mirrored doubles at emission
    "q_beta_binomial" ->
      """WITH br AS (SELECT p_brand AS brand, count(*) AS n,
                            CAST(sum(CASE WHEN l_returnflag = 'R'
                              THEN 1 ELSE 0 END) AS BIGINT) AS x
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     GROUP BY 1),
         bq AS (SELECT brand, n, x,
                       CAST(round(1000000000.0 * x / n) AS BIGINT)
                         AS p_q9
                FROM br),
         mm AS (SELECT count(*) AS k,
                       CAST(sum(p_q9) AS BIGINT) AS sm,
                       sum(CAST(p_q9 AS HUGEINT) * p_q9) AS sq
                FROM bq),
         mv AS (SELECT k,
                       CAST(sm AS DOUBLE) / (k * 1000000000.0) AS m,
                       CAST(CAST(k AS HUGEINT) * sq
                           - CAST(sm AS HUGEINT) * sm AS DOUBLE)
                         / CAST(CAST(k AS HUGEINT) * (k - 1) AS DOUBLE)
                         / 1e18 AS v
                FROM mm),
         ab AS (SELECT m * (m * (1.0 - m) / v - 1.0) AS alpha,
                       (1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta
                FROM mv)
         SELECT brand, n, x,
                round(CAST(x AS DOUBLE) / n, 6) AS rate,
                round((x + alpha) / (n + alpha + beta), 6)
                  AS shrunk_rate
         FROM bq, ab ORDER BY brand""",
    // three exact distinct-counts; Chapman N-hat and its SE are two
    // mirrored divisions + one sqrt at emission
    "q_capture_recapture" ->
      """WITH cy AS (SELECT DISTINCT o_custkey,
                            CAST(year(o_orderdate) AS INTEGER) AS yr
                     FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
         g AS (SELECT o_custkey,
                      CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END)
                        AS BIGINT) AS in1,
                      CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END)
                        AS BIGINT) AS in2
               FROM cy GROUP BY 1),
         a AS (SELECT CAST(sum(in1) AS BIGINT) AS n1,
                      CAST(sum(in2) AS BIGINT) AS n2,
                      CAST(sum(CASE WHEN in1 = 1 AND in2 = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS m
               FROM g)
         SELECT n1, n2, m AS n_both,
                round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1)
                  - 1.0, 2) AS n_hat,
                round(sqrt(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)
                    * (n1 - m) * (n2 - m)
                  / (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2))), 2)
                  AS se
         FROM a""",
    // micro-rounded cosine (two IEEE-exact sqrts + one mirrored
    // division) makes the top-20 order an integer compare
    "q_item_cf" ->
      """WITH adj AS (SELECT DISTINCT o_custkey AS cust,
                             l_partkey AS part
                      FROM orders JOIN lineitem
                        ON o_orderkey = l_orderkey),
         caps AS (SELECT cust FROM adj GROUP BY cust
                  HAVING count(*) BETWEEN 2 AND 100),
         cp AS (SELECT adj.cust, part FROM adj JOIN caps
                  ON adj.cust = caps.cust),
         ni AS (SELECT part, count(*) AS n FROM cp GROUP BY part),
         co AS (SELECT a.part AS p1, b.part AS p2, count(*) AS co
                FROM cp a JOIN cp b ON a.cust = b.cust
                  AND a.part < b.part
                GROUP BY 1, 2 HAVING count(*) >= 2),
         sc AS (SELECT p1, p2, co, x.n AS n1, y.n AS n2,
                       CAST(round(1000000.0 * co
                         / (sqrt(CAST(x.n AS DOUBLE))
                           * sqrt(CAST(y.n AS DOUBLE)))) AS BIGINT)
                         AS score_q6
                FROM co JOIN ni x ON co.p1 = x.part
                        JOIN ni y ON co.p2 = y.part)
         SELECT p1, p2, co AS n_common, n1, n2,
                score_q6 / 1000000.0 AS cosine
         FROM sc ORDER BY score_q6 DESC, p1, p2 LIMIT 20""",
    "q_ab_test" ->
      """WITH u AS (SELECT user_id, round(sum(value), 4) AS m,
                           CAST(user_id % 2 AS INTEGER) AS variant
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id)
         SELECT count(m) FILTER (WHERE variant = 0) AS n0,
                count(m) FILTER (WHERE variant = 1) AS n1,
                round(avg(m) FILTER (WHERE variant = 0), 4) AS mean0,
                round(avg(m) FILTER (WHERE variant = 1), 4) AS mean1,
                round((avg(m) FILTER (WHERE variant = 1)
                       - avg(m) FILTER (WHERE variant = 0))
                  / sqrt(var_samp(m) FILTER (WHERE variant = 0)
                           / count(m) FILTER (WHERE variant = 0)
                         + var_samp(m) FILTER (WHERE variant = 1)
                           / count(m) FILTER (WHERE variant = 1)), 4)
                  AS welch_z,
                abs(round((avg(m) FILTER (WHERE variant = 1)
                     - avg(m) FILTER (WHERE variant = 0))
                  / sqrt(var_samp(m) FILTER (WHERE variant = 0)
                           / count(m) FILTER (WHERE variant = 0)
                         + var_samp(m) FILTER (WHERE variant = 1)
                           / count(m) FILTER (WHERE variant = 1)), 4)) > 1.96
                  AS significant
         FROM u""",
    "q_cuped" ->
      """WITH u AS (SELECT user_id,
                           round(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                          THEN value ELSE 0.0 END), 4) AS pre,
                           round(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                          THEN value ELSE 0.0 END), 4) AS post
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id)
         SELECT count(*) AS n_users,
                round(covar_pop(post, pre) / var_pop(pre), 6) AS theta,
                round(var_pop(post), 4) AS var_post,
                round(var_pop(post) - pow(covar_pop(post, pre)
                  / var_pop(pre), 2) * var_pop(pre), 4) AS var_adj,
                round(1.0 - (var_pop(post) - pow(covar_pop(post, pre)
                  / var_pop(pre), 2) * var_pop(pre)) / var_pop(post), 6)
                  AS var_reduction
         FROM u""",
    "q_did" ->
      """WITH u AS (SELECT user_id,
                           round(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                          THEN value ELSE 0.0 END), 4) AS pre,
                           round(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                          THEN value ELSE 0.0 END), 4) AS post,
                           CAST(user_id % 2 AS INTEGER) AS treat
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id)
         SELECT count(*) FILTER (WHERE treat = 1) AS n_treat,
                count(*) FILTER (WHERE treat = 0) AS n_ctrl,
                round(avg(pre) FILTER (WHERE treat = 1), 4) AS treat_pre,
                round(avg(post) FILTER (WHERE treat = 1), 4) AS treat_post,
                round(avg(pre) FILTER (WHERE treat = 0), 4) AS ctrl_pre,
                round(avg(post) FILTER (WHERE treat = 0), 4) AS ctrl_post,
                round((avg(post) FILTER (WHERE treat = 1)
                       - avg(pre) FILTER (WHERE treat = 1))
                    - (avg(post) FILTER (WHERE treat = 0)
                       - avg(pre) FILTER (WHERE treat = 0)), 6) AS did
         FROM u""",
    // the hash-seeded resample replays verbatim: DuckDB's
    // ('0x'||hex)::BIGINT equals Spark's conv(hex,16,10)
    "q_bootstrap_ci" ->
      """WITH u AS (SELECT user_id,
                           CAST(round(sum(value) * 10000) AS BIGINT) AS mi
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id),
         idx AS (SELECT mi, row_number() OVER (ORDER BY user_id) AS rn,
                        count(*) OVER () AS n
                 FROM u),
         draws AS (SELECT r.b, i.rn AS i, i.n,
                          ('0x' || substring(md5(r.b || ':' || i.rn), 1, 8))::BIGINT
                            % i.n + 1 AS j
                   FROM (SELECT unnest(generate_series(1, 200)) AS b) r, idx i),
         boot AS (SELECT d.b, CAST(sum(x.mi) AS BIGINT) AS bs
                  FROM draws d JOIN idx x ON x.rn = d.j GROUP BY d.b),
         rk AS (SELECT bs, row_number() OVER (ORDER BY bs, b) AS r FROM boot),
         ci AS (SELECT min(bs) AS lo_sum, max(bs) AS hi_sum
                FROM rk WHERE r = 5 OR r = 196)
         SELECT (SELECT count(*) FROM u) AS n_users,
                (SELECT round(sum(mi) / (count(*) * 10000.0), 4) FROM u)
                  AS point,
                round(lo_sum / ((SELECT count(*) FROM u) * 10000.0), 4)
                  AS ci_lo,
                round(hi_sum / ((SELECT count(*) FROM u) * 10000.0), 4)
                  AS ci_hi
         FROM ci""",
    // tie-corrected Mann-Whitney AUC on the grouped score grain;
    // 2U exact in int128/decimal, one double division at the end
    "q_auc" ->
      """WITH g AS (SELECT o_totalprice AS score,
                           sum(CASE WHEN o_orderkey % 2 = 1
                               THEN 1 ELSE 0 END) AS np,
                           sum(CASE WHEN o_orderkey % 2 = 0
                               THEN 1 ELSE 0 END) AS nn
                    FROM orders GROUP BY 1),
         c AS (SELECT np, nn,
                      sum(nn) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cumn
               FROM g),
         t AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                      CAST(sum(nn) AS BIGINT) AS n_neg,
                      sum(np * (2 * (cumn - nn) + nn)) AS u2
               FROM c)
         SELECT n_pos, n_neg,
                round(u2 / (2.0 * n_pos * n_neg), 6) AS auc
         FROM t""",
    // explicit ((rk-1)*10)//n decile cut (not ntile) so both engines
    // place remainders identically; base rate as one double division
    "q_lift_deciles" ->
      """WITH sc AS (SELECT o_orderkey, o_totalprice AS score,
                            CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END
                              AS conv
                     FROM orders),
         rk AS (SELECT conv,
                       row_number() OVER (ORDER BY score DESC, o_orderkey)
                         AS rk,
                       count(*) OVER () AS n_tot,
                       sum(conv) OVER () AS tc
                FROM sc),
         dec AS (SELECT ((rk - 1) * 10) // n_tot + 1 AS decile, conv,
                        n_tot, tc
                 FROM rk),
         g AS (SELECT decile, count(*) AS n,
                      CAST(sum(conv) AS BIGINT) AS n_conv,
                      max(n_tot) AS n_tot, CAST(max(tc) AS BIGINT) AS tc
               FROM dec GROUP BY 1)
         SELECT CAST(decile AS BIGINT) AS decile, n, n_conv,
                round(n_conv / CAST(n AS DOUBLE), 6) AS conv_rate,
                round((n_conv / CAST(n AS DOUBLE))
                  / (tc / CAST(n_tot AS DOUBLE)), 6) AS lift,
                round(CAST(sum(n_conv) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / tc, 6) AS cum_gain
         FROM g ORDER BY decile""",
    // Poisson(1) weights from INTEGER threshold compares on the same
    // 32-bit md5 prefix — the CDF constants are floor(cdf * 2^32), so
    // the inverse-CDF draw is bit-identical in both engines
    "q_bootstrap_poisson" ->
      """WITH u AS (SELECT user_id,
                           CAST(round(sum(value) * 10000) AS BIGINT) AS mi
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id),
         draws AS (SELECT r.b, u.mi,
                          ('0x' || substring(md5(r.b || ':' || u.user_id),
                             1, 8))::BIGINT AS h
                   FROM (SELECT unnest(generate_series(1, 200)) AS b) r, u),
         wt AS (SELECT b, mi,
                       CASE WHEN h < 1580030168 THEN 0
                            WHEN h < 3160060337 THEN 1
                            WHEN h < 3950075421 THEN 2
                            WHEN h < 4213413783 THEN 3
                            WHEN h < 4279248373 THEN 4
                            WHEN h < 4292415291 THEN 5
                            WHEN h < 4294609777 THEN 6
                            WHEN h < 4294923276 THEN 7
                            WHEN h < 4294962463 THEN 8
                            WHEN h < 4294966817 THEN 9
                            ELSE 10 END AS w
                FROM draws),
         boot AS (SELECT b, sum(w * mi) AS bs, sum(w) AS nb
                  FROM wt GROUP BY b HAVING sum(w) > 0),
         m AS (SELECT b, bs / (nb * 10000.0) AS mean FROM boot),
         rk AS (SELECT mean, row_number() OVER (ORDER BY mean, b) AS r
                FROM m),
         ci AS (SELECT min(mean) AS lo_mean, max(mean) AS hi_mean
                FROM rk WHERE r = 5 OR r = 196)
         SELECT (SELECT count(*) FROM u) AS n_users,
                (SELECT round(sum(mi) / (count(*) * 10000.0), 4) FROM u)
                  AS point,
                round(lo_mean, 4) AS ci_lo,
                round(hi_mean, 4) AS ci_hi
         FROM ci""",
    // n=3 Shapley weights: k!(n-1-k)!/n! -> 1/3, 1/6, 1/6, 1/3; every
    // v(S) is one integer ratio, so the phi arithmetic is bit-identical
    "q_attribution_shapley" ->
      """WITH fp AS (SELECT user_id, min(ts) AS fp FROM events
                     WHERE event_type = 'purchase' GROUP BY user_id),
         u AS (SELECT e.user_id,
                      max(CASE WHEN e.event_type = 'view'
                                AND (f.fp IS NULL OR e.ts < f.fp)
                               THEN 1 ELSE 0 END)
                    + max(CASE WHEN e.event_type = 'click'
                                AND (f.fp IS NULL OR e.ts < f.fp)
                               THEN 2 ELSE 0 END)
                    + max(CASE WHEN e.event_type = 'signup'
                                AND (f.fp IS NULL OR e.ts < f.fp)
                               THEN 4 ELSE 0 END) AS mask,
                      max(CASE WHEN f.fp IS NOT NULL THEN 1 ELSE 0 END)
                        AS conv
               FROM events e LEFT JOIN fp f ON f.user_id = e.user_id
               GROUP BY e.user_id),
         g AS (SELECT mask, count(*) AS n, sum(conv) AS nc
               FROM u GROUP BY mask),
         p AS (SELECT
                 CAST(sum(n) AS BIGINT) AS n_users,
                 coalesce(max(CASE WHEN mask = 0 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v0,
                 coalesce(max(CASE WHEN mask = 1 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v1,
                 coalesce(max(CASE WHEN mask = 2 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v2,
                 coalesce(max(CASE WHEN mask = 3 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v3,
                 coalesce(max(CASE WHEN mask = 4 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v4,
                 coalesce(max(CASE WHEN mask = 5 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v5,
                 coalesce(max(CASE WHEN mask = 6 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v6,
                 coalesce(max(CASE WHEN mask = 7 THEN nc / CAST(n AS DOUBLE) END), 0.0) AS v7
               FROM g)
         SELECT n_users, round(v0, 6) AS v_none, round(v7, 6) AS v_all,
                round((v1 - v0) * (1.0/3) + (v3 - v2) * (1.0/6)
                    + (v5 - v4) * (1.0/6) + (v7 - v6) * (1.0/3), 6)
                  AS phi_view,
                round((v2 - v0) * (1.0/3) + (v3 - v1) * (1.0/6)
                    + (v6 - v4) * (1.0/6) + (v7 - v5) * (1.0/3), 6)
                  AS phi_click,
                round((v4 - v0) * (1.0/3) + (v5 - v1) * (1.0/6)
                    + (v6 - v2) * (1.0/6) + (v7 - v3) * (1.0/3), 6)
                  AS phi_signup
         FROM p""",
    "q_topk_native" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rank
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                      CAST(row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey)
                        AS INTEGER) AS rank
               FROM orders)
         WHERE rank <= 10 ORDER BY o_orderpriority, rank""",
    "q_recommend_brands" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS item
                        FROM lineitem JOIN part ON l_partkey = p_partkey),
         supp AS (SELECT item, count(*) AS n FROM items GROUP BY item),
         pr AS (SELECT a.item AS i1, b.item AS i2, count(*) AS nab
                FROM items a JOIN items b
                  ON a.ok = b.ok AND a.item < b.item
                GROUP BY 1, 2 HAVING count(*) >= 5),
         half AS (SELECT i1, i2,
                         nab / sqrt(CAST(s1.n AS DOUBLE) * s2.n) AS cos
                  FROM pr JOIN supp s1 ON s1.item = i1
                          JOIN supp s2 ON s2.item = i2),
         sim AS (SELECT i1 AS a, i2 AS b, cos FROM half
                 UNION ALL
                 SELECT i2 AS a, i1 AS b, cos FROM half),
         ub AS (SELECT DISTINCT o_custkey AS cust, p_brand AS item
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                            JOIN part ON l_partkey = p_partkey),
         sc AS (SELECT u.cust, s.b AS rec, round(sum(s.cos), 6) AS score
                FROM ub u JOIN sim s ON s.a = u.item
                GROUP BY 1, 2),
         unowned AS (SELECT sc.cust, sc.rec, sc.score
                     FROM sc LEFT JOIN ub o
                       ON o.cust = sc.cust AND o.item = sc.rec
                     WHERE o.item IS NULL)
         SELECT cust, rec, score, rn
         FROM (SELECT cust, rec, score,
                      CAST(row_number() OVER (PARTITION BY cust
                        ORDER BY score DESC, rec) AS INTEGER) AS rn
               FROM unowned)
         WHERE rn <= 3 ORDER BY cust, rn""",
    "q_seasonal_index" ->
      """WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE))
                            AS mon,
                           round(sum(o_totalprice), 2) AS v
                    FROM orders GROUP BY 1),
         g AS (SELECT CAST(month(mon) AS INTEGER) AS mo,
                      count(*) AS n_months,
                      round(sum(v), 2) AS total_rev, avg(v) AS raw_mean
               FROM m GROUP BY 1)
         SELECT mo, n_months, total_rev,
                round(raw_mean / avg(raw_mean) OVER (), 6) AS idx
         FROM g ORDER BY mo""",
    "q_geo_knn" ->
      """WITH c AS (SELECT c_custkey,
                           (c_custkey * 37 % 1200) / 10.0 - 60.0 AS lat,
                           (c_custkey * 73 % 3600) / 10.0 - 180.0 AS lon
                    FROM customer)
         SELECT c_custkey, lat, lon,
                round(2 * 6371.0 * asin(sqrt(
                  pow(sin(radians(48.85 - lat) / 2), 2)
                  + cos(radians(lat)) * cos(radians(48.85))
                    * pow(sin(radians(2.35 - lon) / 2), 2))), 3) AS dist_km
         FROM c ORDER BY dist_km, c_custkey LIMIT 100""",
    "q_geo_radius_join" ->
      """WITH c AS (SELECT c_custkey,
                           (c_custkey * 37 % 1200) / 10.0 - 60.0 AS lat,
                           (c_custkey * 73 % 3600) / 10.0 - 180.0 AS lon
                    FROM customer),
         s AS (SELECT s_suppkey,
                      (s_suppkey * 53 % 1200) / 10.0 - 60.0 AS lat,
                      (s_suppkey * 97 % 3600) / 10.0 - 180.0 AS lon
               FROM supplier),
         p AS (SELECT s.s_suppkey,
                      round(2 * 6371.0 * asin(sqrt(
                        pow(sin(radians(s.lat - c.lat) / 2), 2)
                        + cos(radians(c.lat)) * cos(radians(s.lat))
                          * pow(sin(radians(s.lon - c.lon) / 2), 2))), 6)
                        AS dist
               FROM c, s)
         SELECT s_suppkey, count(*) AS n_within,
                round(min(dist), 3) AS nearest_km
         FROM p WHERE dist <= 50.0
         GROUP BY s_suppkey ORDER BY s_suppkey""",
    // geohash-3 = 15 interleaved bisection bits (lon first): lon bins
    // are 360/256-wide, lat bins 180/128-wide, so bin indices come
    // straight off the key-derived 0.1-degree integer grid — the whole
    // encode replays as integer div/mod + base-32 substr
    "q_geo_density" ->
      """WITH c AS (SELECT (c_custkey * 73 % 3600) AS jx,
                           (c_custkey * 37 % 1200) + 300 AS jy
                    FROM customer),
         b AS (SELECT (jx * 16) // 225 AS bx, (jy * 16) // 225 AS by
               FROM c),
         v AS (SELECT ((bx // 128) % 2) * 16384 + ((by // 64) % 2) * 8192
                    + ((bx // 64) % 2) * 4096 + ((by // 32) % 2) * 2048
                    + ((bx // 32) % 2) * 1024 + ((by // 16) % 2) * 512
                    + ((bx // 16) % 2) * 256 + ((by // 8) % 2) * 128
                    + ((bx // 8) % 2) * 64 + ((by // 4) % 2) * 32
                    + ((bx // 4) % 2) * 16 + ((by // 2) % 2) * 8
                    + ((bx // 2) % 2) * 4 + (by % 2) * 2 + (bx % 2) AS v
               FROM b)
         SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz', (v // 1024) % 32 + 1, 1)
             || substr('0123456789bcdefghjkmnpqrstuvwxyz', (v // 32) % 32 + 1, 1)
             || substr('0123456789bcdefghjkmnpqrstuvwxyz', v % 32 + 1, 1) AS cell,
                count(*) AS n
         FROM v GROUP BY 1 ORDER BY 1""",
    "q_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS item
                        FROM lineitem JOIN part ON l_partkey = p_partkey),
         tot AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
         supp AS (SELECT item, count(*) AS n_item FROM items GROUP BY item),
         pairs AS (SELECT a.item AS ante, b.item AS cons, count(*) AS n_pair
                   FROM items a JOIN items b
                     ON a.ok = b.ok AND a.item < b.item
                   GROUP BY 1, 2 HAVING count(*) >= 10)
         SELECT p.ante, p.cons, p.n_pair,
                round(p.n_pair / CAST(t.n_orders AS DOUBLE), 6) AS support,
                round(p.n_pair / CAST(sa.n_item AS DOUBLE), 6) AS confidence,
                round((p.n_pair / CAST(sa.n_item AS DOUBLE))
                  * (t.n_orders / CAST(sc.n_item AS DOUBLE)), 6) AS lift
         FROM pairs p
         JOIN supp sa ON sa.item = p.ante
         JOIN supp sc ON sc.item = p.cons
         CROSS JOIN tot t
         ORDER BY lift DESC, p.ante, p.cons""",
    "q_kaplan_meier" ->
      """WITH life AS (SELECT CAST(date_diff('day', min(o_orderdate),
                                        max(o_orderdate)) AS INTEGER) AS dur,
                              CASE WHEN max(o_orderdate) < DATE '2001-01-01'
                                   THEN 1 ELSE 0 END AS event
                       FROM orders GROUP BY o_custkey),
         g AS (SELECT dur, CAST(sum(event) AS BIGINT) AS deaths,
                      count(*) AS n_at
               FROM life GROUP BY dur),
         r AS (SELECT dur, deaths,
                      CAST(sum(n_at) OVER (ORDER BY dur
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n_risk
               FROM g)
         SELECT dur, deaths, n_risk,
                round(exp(sum(ln(1.0 - deaths / CAST(n_risk AS DOUBLE)))
                  OVER (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                  AS surv
         FROM r WHERE deaths > 0 ORDER BY dur""",
    // one pass of conditional sums, unpivoted to a row per threshold;
    // MCC casts to double before the marginal products
    "q_confusion" ->
      """WITH t AS (SELECT o_totalprice AS score,
                           CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END
                             AS y
                    FROM orders),
         a AS (SELECT
                 CAST(sum(CASE WHEN score >= 100000.0 AND y = 1 THEN 1
                   ELSE 0 END) AS BIGINT) AS tp0,
                 CAST(sum(CASE WHEN score >= 100000.0 AND y = 0 THEN 1
                   ELSE 0 END) AS BIGINT) AS fp0,
                 CAST(sum(CASE WHEN score < 100000.0 AND y = 1 THEN 1
                   ELSE 0 END) AS BIGINT) AS fn0,
                 CAST(sum(CASE WHEN score < 100000.0 AND y = 0 THEN 1
                   ELSE 0 END) AS BIGINT) AS tn0,
                 CAST(sum(CASE WHEN score >= 150000.0 AND y = 1 THEN 1
                   ELSE 0 END) AS BIGINT) AS tp1,
                 CAST(sum(CASE WHEN score >= 150000.0 AND y = 0 THEN 1
                   ELSE 0 END) AS BIGINT) AS fp1,
                 CAST(sum(CASE WHEN score < 150000.0 AND y = 1 THEN 1
                   ELSE 0 END) AS BIGINT) AS fn1,
                 CAST(sum(CASE WHEN score < 150000.0 AND y = 0 THEN 1
                   ELSE 0 END) AS BIGINT) AS tn1,
                 CAST(sum(CASE WHEN score >= 200000.0 AND y = 1 THEN 1
                   ELSE 0 END) AS BIGINT) AS tp2,
                 CAST(sum(CASE WHEN score >= 200000.0 AND y = 0 THEN 1
                   ELSE 0 END) AS BIGINT) AS fp2,
                 CAST(sum(CASE WHEN score < 200000.0 AND y = 1 THEN 1
                   ELSE 0 END) AS BIGINT) AS fn2,
                 CAST(sum(CASE WHEN score < 200000.0 AND y = 0 THEN 1
                   ELSE 0 END) AS BIGINT) AS tn2
               FROM t),
         s AS (SELECT CAST(100000.0 AS DOUBLE) AS threshold, tp0 AS tp,
                      fp0 AS fp, fn0 AS fn, tn0 AS tn FROM a
               UNION ALL
               SELECT CAST(150000.0 AS DOUBLE), tp1, fp1, fn1, tn1 FROM a
               UNION ALL
               SELECT CAST(200000.0 AS DOUBLE), tp2, fp2, fn2, tn2 FROM a)
         SELECT threshold, tp, fp, fn, tn,
                round(tp / (tp + fp), 6) AS prec,
                round(tp / (tp + fn), 6) AS recall,
                round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
                round((tp + tn) / (tp + fp + fn + tn), 6) AS accuracy,
                round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                  / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                    * (tn + fp) * (tn + fn)), 6) AS mcc
         FROM s ORDER BY threshold""",
    // each hazard increment d/n rounded to integer micro-units BEFORE
    // the cumulative sum — exact long running total in both engines
    "q_nelson_aalen" ->
      """WITH life AS (SELECT CAST(date_diff('day', min(o_orderdate),
                                        max(o_orderdate)) AS INTEGER) AS dur,
                              CASE WHEN max(o_orderdate) < DATE '2001-01-01'
                                   THEN 1 ELSE 0 END AS event
                       FROM orders GROUP BY o_custkey),
         g AS (SELECT dur, CAST(sum(event) AS BIGINT) AS deaths,
                      count(*) AS n_at
               FROM life GROUP BY dur),
         r AS (SELECT dur, deaths,
                      CAST(sum(n_at) OVER (ORDER BY dur
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n_risk
               FROM g),
         e AS (SELECT dur, deaths, n_risk,
                      CAST(round(1000000.0 * deaths / n_risk) AS BIGINT)
                        AS hm
               FROM r WHERE deaths > 0),
         c AS (SELECT dur, deaths, n_risk,
                      CAST(sum(hm) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumh
               FROM e)
         SELECT dur, deaths, n_risk,
                round(cumh / 1000000.0, 6) AS cum_hazard,
                round(exp(-(cumh / 1000000.0)), 6) AS surv_breslow
         FROM c ORDER BY dur""",
    // explicit ((i-1)*10) // n decile cut (the q_lift_deciles
    // contract); cumulative shares from exact long cents
    "q_lorenz" ->
      """WITH rev AS (SELECT o_custkey,
                             CAST(sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS BIGINT) AS r
                      FROM orders GROUP BY 1),
         rk AS (SELECT r, o_custkey,
                       row_number() OVER (ORDER BY r, o_custkey) AS i
                FROM rev),
         nn AS (SELECT count(*) AS n, CAST(sum(r) AS BIGINT) AS total
                FROM rev),
         dd AS (SELECT ((i - 1) * 10) // n + 1 AS decile, r
                FROM rk, nn),
         g AS (SELECT decile, count(*) AS n_customers,
                      CAST(sum(r) AS BIGINT) AS rc
               FROM dd GROUP BY 1),
         c AS (SELECT decile, n_customers, rc,
                      CAST(sum(n_customers) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cp,
                      CAST(sum(rc) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cr
               FROM g)
         SELECT decile, n_customers,
                round(rc / 100.0, 2) AS rev_usd,
                round(cp / CAST(n AS DOUBLE), 6) AS pop_share_cum,
                round(cr / CAST(total AS DOUBLE), 6) AS rev_share_cum
         FROM c, nn ORDER BY decile""",
    // -p ln p in micro-nats, p^2 in 1e-8 units, both exact sums over
    // the <=25-brand grain; exp / divisions mirrored at emission
    "q_hill_diversity" ->
      """WITH rows_ AS (SELECT c_nationkey, p_brand, count(*) AS nb
                        FROM lineitem
                        JOIN part ON l_partkey = p_partkey
                        JOIN orders ON l_orderkey = o_orderkey
                        JOIN customer ON o_custkey = c_custkey
                        GROUP BY 1, 2),
         nat AS (SELECT c_nationkey, CAST(sum(nb) AS BIGINT) AS nt
                 FROM rows_ GROUP BY 1),
         t AS (SELECT r.c_nationkey, nt,
                      CAST(round(-1000000.0 * (nb / nt)
                        * ln(nb / nt)) AS BIGINT) AS hm,
                      CAST(round(100000000.0 * (nb / nt)
                        * (nb / nt)) AS BIGINT) AS sm
               FROM rows_ r JOIN nat ON r.c_nationkey = nat.c_nationkey),
         g AS (SELECT c_nationkey, nt, count(*) AS d0,
                      CAST(sum(hm) AS BIGINT) AS hms,
                      CAST(sum(sm) AS BIGINT) AS sms
               FROM t GROUP BY 1, 2)
         SELECT c_nationkey, nt AS n_purchases, d0 AS richness,
                round(exp(hms / 1000000.0), 4) AS d1_shannon,
                round(100000000.0 / sms, 4) AS d2_simpson
         FROM g ORDER BY c_nationkey""",
    // per-customer share-squared terms in integer 1e-8 units BEFORE
    // the per-nation sum; HHI on the regulators' 0-10000 points scale
    "q_hhi" ->
      """WITH rev AS (SELECT c_nationkey, o_custkey,
                             CAST(sum(CAST(round(o_totalprice * 100)
                               AS BIGINT)) AS BIGINT) AS r
                      FROM orders JOIN customer ON o_custkey = c_custkey
                      GROUP BY 1, 2),
         nat AS (SELECT c_nationkey, CAST(sum(r) AS BIGINT) AS tot,
                        count(*) AS n_customers
                 FROM rev GROUP BY 1),
         t AS (SELECT rev.c_nationkey, n_customers, tot,
                      CAST(round(100000000.0 * (r / CAST(tot AS DOUBLE))
                        * (r / CAST(tot AS DOUBLE))) AS BIGINT) AS term
               FROM rev JOIN nat ON rev.c_nationkey = nat.c_nationkey),
         g AS (SELECT c_nationkey, n_customers, tot,
                      CAST(sum(term) AS BIGINT) AS sm
               FROM t GROUP BY 1, 2, 3)
         SELECT c_nationkey, n_customers,
                round(tot / 100.0, 2) AS rev_usd,
                round(sm / 10000.0, 4) AS hhi_points,
                round(100000000.0 / sm, 4) AS n_effective
         FROM g ORDER BY c_nationkey""",
    "q_gini" ->
      """WITH rev AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS r
                      FROM orders GROUP BY o_custkey),
         rk AS (SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i
                FROM rev)
         SELECT count(*) AS n, round(sum(r), 2) AS total_rev,
                round(2.0 * sum(i * r) / (count(*) * sum(r))
                  - (count(*) + 1.0) / count(*), 6) AS gini
         FROM rk""",
    "q_chi_square" ->
      """WITH cont AS (SELECT o_orderpriority, o_orderstatus,
                              count(*) AS obs
                       FROM orders GROUP BY 1, 2),
         m AS (SELECT o_orderpriority, o_orderstatus, obs,
                      sum(obs) OVER (PARTITION BY o_orderpriority) AS rt,
                      sum(obs) OVER (PARTITION BY o_orderstatus) AS ct,
                      sum(obs) OVER () AS n
               FROM cont),
         cell AS (SELECT o_orderpriority, o_orderstatus, obs,
                         pow(obs - CAST(rt AS DOUBLE) * ct / n, 2)
                           / (CAST(rt AS DOUBLE) * ct / n) AS cell
                  FROM m)
         SELECT round(sum(cell), 6) AS chi2,
                (count(DISTINCT o_orderpriority) - 1)
                  * (count(DISTINCT o_orderstatus) - 1) AS dof,
                CAST(sum(obs) AS BIGINT) AS n,
                round(sqrt(sum(cell) / (sum(obs)
                  * least(count(DISTINCT o_orderpriority) - 1,
                          count(DISTINCT o_orderstatus) - 1))), 6)
                  AS cramers_v
         FROM cell""",
    "q_forecast_snaive" ->
      """WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE))
                            AS month,
                           round(sum(o_totalprice), 2) AS actual
                    FROM orders GROUP BY 1)
         SELECT month, actual,
                lag(actual, 12) OVER (ORDER BY month) AS yhat,
                round(abs(actual - lag(actual, 12) OVER (ORDER BY month))
                  / actual * 100, 4) AS ape
         FROM m QUALIFY yhat IS NOT NULL ORDER BY month""",
    "q_inverted_index" ->
      """WITH td AS (SELECT DISTINCT doc_id, t.term
                     FROM documents,
                          unnest(string_split_regex(lower(text), '[^a-z]+'))
                            AS t(term)
                     WHERE length(t.term) >= 4),
         df AS (SELECT term, count(*) AS df FROM td GROUP BY term),
         rk AS (SELECT term, doc_id,
                       row_number() OVER (PARTITION BY term
                         ORDER BY doc_id) AS rn
                FROM td),
         pl AS (SELECT term,
                       string_agg(CAST(doc_id AS VARCHAR), ','
                         ORDER BY doc_id) AS postings
                FROM rk WHERE rn <= 100 GROUP BY term)
         SELECT f.term, f.df, p.postings
         FROM df f JOIN pl p USING (term)
         ORDER BY f.df DESC, f.term LIMIT 50""",
    "q_abc_class" ->
      """WITH rev AS (SELECT l_partkey,
                             sum(CAST(round(l_extendedprice
                               * (1.0 - l_discount) * 100) AS BIGINT))
                               AS rev
                      FROM lineitem GROUP BY l_partkey),
         c AS (SELECT rev,
                      sum(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum,
                      sum(rev) OVER () AS total
               FROM rev)
         SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                     WHEN cum * 100 <= total * 95 THEN 'B'
                     ELSE 'C' END AS cls,
                count(*) AS n_parts,
                CAST(sum(rev) AS BIGINT) AS class_cents,
                round(sum(rev) / CAST(any_value(total) AS DOUBLE), 6)
                  AS share
         FROM c GROUP BY 1 ORDER BY 1""",
  )
}
