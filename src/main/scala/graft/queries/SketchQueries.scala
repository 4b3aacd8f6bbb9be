package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Sketch accuracy as ORACLE rows, and sketch MERGEABILITY as a query
  * shape (SURVEY §2.4's approximate variants, VERDICT r8 §4's ask to
  * make the approximate family oracle-checkable).
  *
  * An approximate sketch can never hash-match an exact oracle, so the
  * pinned quantity is its ERROR: each query emits the exact statistics
  * (which DuckDB recomputes from scratch — real oracle work) plus
  * boolean columns asserting the sketch landed inside its published
  * error bound. A regression in the sketch path (wrong rsd wiring, a
  * broken merge, accuracy misconfigured) flips a boolean and
  * hash-mismatches the row. Bounds are chosen with margin: HLL at
  * rsd=0.05 is pinned at 5% (observed ≪1% at these cardinalities);
  * approx_percentile at accuracy=10000 has rank error ≤ N/10000, pinned
  * at 0.5% relative value error.
  *
  * The rollup query is the 100 TB story: partial aggregates that MERGE.
  * A count(distinct) re-reads raw keys at every rollup level (its
  * shuffle carries every distinct key twice here); an HLL sketch is a
  * few KB per group and re-aggregates by union — month sketches roll up
  * to years without touching the fact table again. That is how a
  * 1000-executor cluster serves distinct-count rollup dashboards: one
  * sketch-build pass, then unions over KB-sized state.
  */
object SketchQueries extends QueryModule {

  /** One row: exact distinct + exact quantiles beside their sketch
    * twins' error pins. Plan-shape notes (both measured at sf0.1):
    * count(DISTINCT) in the same aggregate as the percentile family
    * forces an Expand that drags every scan row through the percentile
    * buffers (13.4 s fused vs ~3 s split); and the exact quantiles are
    * one scalar subquery over the shared histogram narrowing
    * ([[RelationalQueries.exactQuantiles]], the q_quantiles path)
    * instead of the buffer-every-value `percentile` aggregate, so the
    * only declarative aggregates left are the mergeable sketches plus
    * one distinct. */
  private val sketchError: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val (p50x, p90x) = (col("exact")(0), col("exact")(1))
    val distincts = li.agg(
      count_distinct(col("l_partkey")).as("n_parts"),
      approx_count_distinct(col("l_partkey"), 0.05).as("adc"))
    val approxQ = li.agg(
      expr("approx_percentile(l_extendedprice, 0.5D, 10000)").as("ap50"),
      expr("approx_percentile(l_extendedprice, 0.9D, 10000)").as("ap90"))
    distincts.crossJoin(broadcast(approxQ))
      .withColumn("exact", RelationalQueries
        .exactQuantiles(li, "l_extendedprice", Seq(0.5, 0.9)).select("q").scalar())
      .select(
        col("n_parts"),
        round(p50x, 4).as("p50"),
        round(p90x, 4).as("p90"),
        (abs(col("adc") - col("n_parts")) <= col("n_parts") * 0.05).as("hll_ok"),
        (abs(col("ap50") - p50x) <= p50x * 0.005).as("p50_ok"),
        (abs(col("ap90") - p90x) <= p90x * 0.005).as("p90_ok"))
  }

  /** Distinct buyers per year via MERGED month-level HLL sketches
    * (hll_sketch_agg → hll_union_agg, Apache DataSketches HLL): the
    * re-aggregation path a count(distinct) cannot take. The exact
    * year-level distinct runs beside it as the oracle quantity; the
    * boolean pins the merged estimate inside 5%. */
  private val hllRollup: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(year(to_date(col("o_orderdate"))).as("yr"),
        month(to_date(col("o_orderdate"))).as("mo"),
        col("o_custkey"))
    val monthly = o.groupBy("yr", "mo")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val merged = monthly.groupBy("yr")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
        count(lit(1)).as("n_months"))
    val exact = o.groupBy("yr")
      .agg(count_distinct(col("o_custkey")).as("exact_buyers"))
    exact.join(merged, Seq("yr"))
      .select(col("yr"), col("exact_buyers"), col("n_months"),
        (abs(col("est") - col("exact_buyers")) <=
          col("exact_buyers") * 0.05).as("sketch_ok"))
      .orderBy("yr")
  }

  /** Set-overlap estimation via HLL inclusion–exclusion:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), the sketch-only answer to
    * "how many customers ordered in BOTH years" when the two sides are
    * sketched independently (different pipelines, different days) and
    * the raw keys are gone — the union comes from `hll_union` of the
    * two sketches, never a re-scan. Exact overlap runs beside it (one
    * per-key conditional-max aggregate, no self-join) as the oracle
    * quantity. The boolean pins the estimate within 15% + 30 absolute:
    * inclusion–exclusion AMPLIFIES per-sketch error by the
    * union/intersection ratio (three ~1–2% estimates, differenced), so
    * its honest bound is looser than the single-sketch 5% pins above —
    * that amplification is exactly what this query documents. */
  private val overlapSketch: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(year(to_date(col("o_orderdate"))).as("yr"), col("o_custkey"))
      .filter(col("yr").isin(1995, 1996))
    val exact = o.groupBy("o_custkey")
      .agg(
        max(when(col("yr") === 1995, 1).otherwise(0)).as("a"),
        max(when(col("yr") === 1996, 1).otherwise(0)).as("b"))
      .agg(sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
        .as("exact_overlap"))
    val sketches = o.agg(
      hll_sketch_agg(when(col("yr") === 1995, col("o_custkey"))).as("ska"),
      hll_sketch_agg(when(col("yr") === 1996, col("o_custkey"))).as("skb"))
    val est = sketches.select(
      (hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb"))
        - hll_sketch_estimate(expr("hll_union(ska, skb)"))).as("est_overlap"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_overlap"),
        (abs(col("est_overlap") - col("exact_overlap")) <=
          col("exact_overlap") * 0.15 + 30).as("sketch_ok"))
  }

  /** HDR-histogram-style log-bucketed quantile sketch — the mergeable,
    * DETERMINISTIC quantile structure (KLL/t-digest are merge-ORDER-
    * dependent, so their state can't hash-match an oracle; power-of-two
    * bucket counts are order-free and merge by addition, the HLL-rollup
    * property for quantiles). Bucket id is the value's BINARY LENGTH in
    * cents (`length(bin(cents))` — pure integer, no float log2 at the
    * 2^k boundaries), ~35 buckets cover every revenue scale, and the
    * quantile estimate is the bucket midpoint — relative error ≤ 2× by
    * construction, pinned per quantile against the exact percentile the
    * oracle recomputes from scratch. The bucket pick is the pure
    * integer compare cum·100 ≥ q100·n (no float rank); the cumulative
    * scan runs on the ~35-row bucket grid. The exact anchors come from
    * the shared histogram narrowing
    * ([[RelationalQueries.exactQuantiles]], the q_quantiles path, read
    * as one scalar subquery) — a `percentile` aggregate here buffered
    * every value and read 8.5× between SFs; the narrowing keeps the
    * query sub-linear. */
  private val hdrQuantiles: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val v = Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
    val b = v.groupBy(length(bin(col("c"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = b.withColumn("cum", sum("n").over(w))
      .withColumn("ntot", sum("n").over(Window.partitionBy()))
      .withColumn("q100", explode(array(lit(50), lit(90), lit(99))))
      .filter(col("cum") * 100 >= col("q100") * col("ntot"))
      .groupBy("q100").agg(min("bucket").as("bucket"))
    val lo = expr("shiftleft(1L, cast(bucket - 1 as int))")
    val hi = expr("shiftleft(1L, cast(bucket as int))") - 1
    val est = (lo + hi).cast("double") / 200.0
    val ex = when(col("q100") === 50, col("qs")(0))
      .when(col("q100") === 90, col("qs")(1))
      .otherwise(col("qs")(2)) / 100.0
    picked
      .withColumn("qs", RelationalQueries.exactQuantiles(v, "c", Seq(0.5, 0.9, 0.99))
        .select("q").scalar())
      .select(col("q100"), col("bucket"),
      round(est, 4).as("est_usd"),
      round(ex, 4).as("exact_usd"),
      (est <= ex * 2 && ex <= est * 2).as("within_2x"))
      .orderBy("q100")
  }

  val queries: Map[String, Q] = Map(
    "q_hdr_quantiles" -> hdrQuantiles,
    "q_sketch_error" -> sketchError,
    "q_hll_rollup" -> hllRollup,
    "q_overlap_sketch" -> overlapSketch,
  )

  val oracles: Map[String, String] = Map(
    // the sketch itself is deterministic (binary-length buckets), so
    // bucket ids and estimates hash-compare exactly; the within-2x
    // boolean is the error pin, exact percentiles recomputed from
    // scratch
    "q_hdr_quantiles" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                    FROM lineitem),
         b AS (SELECT CAST(length(bin(c)) AS BIGINT) AS bucket,
                      count(*) AS n
               FROM v GROUP BY 1),
         e AS (SELECT count(*) AS ntot,
                      quantile_cont(c, 0.5) AS x50,
                      quantile_cont(c, 0.9) AS x90,
                      quantile_cont(c, 0.99) AS x99
               FROM v),
         cumb AS (SELECT bucket,
                         CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN
                           UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                           AS cum
                  FROM b),
         p AS (SELECT q.q100, min(bucket) AS bucket
               FROM cumb, e, (SELECT unnest([50, 90, 99]) AS q100) q
               WHERE cum * 100 >= q.q100 * e.ntot
               GROUP BY 1)
         SELECT p.q100, p.bucket,
                round(CAST((1::BIGINT << ((bucket - 1)::INTEGER))
                  + (1::BIGINT << (bucket::INTEGER)) - 1 AS DOUBLE)
                  / 200.0, 4) AS est_usd,
                round(CASE WHEN q100 = 50 THEN x50
                           WHEN q100 = 90 THEN x90
                           ELSE x99 END / 100.0, 4) AS exact_usd,
                true AS within_2x
         FROM p, e ORDER BY q100""",
    // exact columns recomputed from scratch; the TRUE constants are the
    // error pins — a sketch outside its bound hash-mismatches
    "q_sketch_error" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                true AS hll_ok, true AS p50_ok, true AS p90_ok
         FROM lineitem""",
    "q_overlap_sketch" ->
      """WITH y AS (
           SELECT o_custkey,
                  max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
                           THEN 1 ELSE 0 END) AS a,
                  max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
                           THEN 1 ELSE 0 END) AS b
           FROM orders
           WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
           GROUP BY 1)
         SELECT CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS exact_overlap,
                true AS sketch_ok
         FROM y""",
    "q_hll_rollup" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS yr,
                count(DISTINCT o_custkey) AS exact_buyers,
                CAST(count(DISTINCT month(CAST(o_orderdate AS DATE))) AS BIGINT)
                  AS n_months,
                true AS sketch_ok
         FROM orders GROUP BY 1 ORDER BY yr""",
  )
}
