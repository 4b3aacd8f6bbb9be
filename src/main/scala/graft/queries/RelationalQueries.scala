package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator surface: scans, projections, filters, sorts,
  * limits, set ops, aggregates (SURVEY.md §2.1, §2.2, §2.4, §2.6, §2.7).
  *
  * Every query is a declarative DataFrame plan — Catalyst pushes the
  * filters/projections into the Parquet scan (PushedFilters/ReadSchema),
  * runs two-phase hash aggregation (partial map-side combine before the
  * shuffle), and plans top-k as TakeOrderedAndProject. Results are
  * deterministically ordered (every oracle-compared query sorts on its
  * output columns) and float aggregates are rounded for DuckDB parity.
  *
  * Scale notes (100 TB design rules):
  *  - no collect(); everything stays distributed until the sink.
  *  - global sorts only where the query semantics demand order; they are
  *    range-partitioned (sampled boundaries), not single-reducer.
  *  - distinct-counting offers both exact (shuffle) and HLL sketch
  *    (approx_count_distinct, no shuffle of raw values) variants.
  */
object RelationalQueries extends QueryModule {

  /** S2 full-table scan (reference db_queries.py:26-29 `SELECT * FROM
    * air_b`). Ordered by key for a deterministic dump. */
  private val scanFull: Q = (s, d) =>
    Tables.customer(s, d).orderBy("c_custkey")

  /** Z-order layout keys ([[graft.functions.ZOrder]]): the Morton
    * interleave of two quantized dimensions, the sort key a writer
    * uses to give every output file a compact bounding box in BOTH
    * dimensions (so parquet min/max pruning serves 2-D range
    * predicates; see ZOrderSpec's measured bounding-box comparison).
    * The oracle replays the binary-magic-numbers spread bit-for-bit
    * in SQL, so the codegen expression is itself oracle-checked. */
  private val zorder: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        (col("c_custkey") % 65536).as("x"),
        floor(col("c_acctbal")).cast("long").bitwiseAND(65535).as("y"))
      .select(col("c_custkey"), col("x"), col("y"),
        graft.functions.ZOrder.zValue(col("x"), col("y")).as("zval"))
      .orderBy("zval", "c_custkey")

  /** P1 column-subset projection (reference NB cell 31). Column pruning
    * reaches the scan: ReadSchema carries only the three columns. */
  private val project: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_quantity", "l_extendedprice")

  /** P3 equality-predicate filter (reference NB cell 41's row deletion,
    * re-expressed as a kept-rows filter). Pushed to Parquet row groups. */
  private val filterEq: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** P4 predicated update (reference NB cell 16 bool→0/1): CASE WHEN as a
    * codegen'd expression, not a per-row driver loop. */
  private val filterWhen: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_returnflag") === "R", 1).otherwise(0).as("is_return"),
        when(col("l_quantity") >= 25, lit("high")).otherwise(lit("low")).as("qty_band"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P5 dropna (reference NB cell 15): na.drop("any") over all columns. */
  private val dropna: Q = (s, d) =>
    Tables.orders(s, d).na.drop("any")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  /** P6/A7 null accounting (reference NB cell 14 `df.isnull().sum()`):
    * per-column null counts + grand total in one aggregation pass. */
  private val nullCount: Q = (s, d) => {
    val df = Tables.orders(s, d)
    val perCol = df.columns.map(c => sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
    val total = df.columns.map(c => sum(col(c).isNull.cast("long"))).reduce(_ + _).as("nulls_total")
    df.agg(perCol.head, (perCol.tail :+ total): _*)
  }

  /** P7 high-cardinality-column detection (reference NB cell 29: string
    * cols with nunique > 100). One distributed pass computes every
    * distinct count; the schema walk is metadata-only driver work. */
  private val hccDetect: Q = (s, d) => {
    val df = Tables.part(s, d)
    val strCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).sorted
    val agg = df.agg(
      countDistinct(col(strCols.head)).as(strCols.head),
      strCols.tail.map(c => countDistinct(col(c)).as(c)): _*)
    val stackExpr = strCols.map(c => s"'$c', $c").mkString(", ")
    agg.selectExpr(s"stack(${strCols.length}, $stackExpr) as (col_name, n_distinct)")
      .withColumn("is_hcc", when(col("n_distinct") > 100, 1).otherwise(0))
      .orderBy("col_name")
  }

  /** O1 full sort (reference NB cell 12 sort_values): range-partitioned
    * distributed sort, not a single-reducer order-by. */
  private val sort: Q = (s, d) =>
    Tables.customer(s, d)
      .select("c_mktsegment", "c_acctbal", "c_custkey")
      .orderBy(asc("c_mktsegment"), desc("c_acctbal"), asc("c_custkey"))

  /** O3 limit (reference head()); keyed ORDER BY for determinism. */
  private val limitQ: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey").limit(10)

  /** O5 top-k (reference NB cell 21 sorted corr head): planner emits
    * TakeOrderedAndProject — per-partition heaps, no global sort. */
  private val topk: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(25)

  /** U1 union-all (reference NB cell 6 pd.concat train+test): unionByName
    * keeps duplicates, exactly concat semantics. */
  private val unionAll: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_totalprice") >= 100000.0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val b = o.filter(col("o_totalprice") < 50000.0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    a.unionByName(b).orderBy("o_orderkey")
  }

  /** U2 intersect (set semantics, like SQL INTERSECT). */
  private val intersect: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** U2 except (set difference): orders with no returned lineitem. */
  private val exceptQ: Q = (s, d) =>
    Tables.orders(s, d).select(col("o_orderkey").as("orderkey"))
      .except(Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("orderkey")))
      .orderBy("orderkey")

  /** A4 distinct values (reference NB cell 37 unique()). */
  private val distinctQ: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** A1 global average (reference NB cell 19 df.price.mean()). */
  private val aggAvg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .agg(round(avg("l_extendedprice"), 2).as("avg_price"))

  /** A2 row count (reference NB cell 7 sanity count). */
  private val aggCount: Q = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))

  /** A3 exact distinct counts (reference NB cell 10 df.nunique()). */
  private val aggDistinct: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      countDistinct(col("l_orderkey")).as("n_orderkeys"),
      countDistinct(col("l_partkey")).as("n_partkeys"),
      countDistinct(col("l_returnflag")).as("n_flags"))

  /** A3 sketch variant: HyperLogLog++ distinct estimate — the 100 TB path
    * where exact countDistinct's shuffle is unaffordable. No oracle
    * (estimate); driver records rows>0.
    * rsd = 0.025: at 0.01 the sketch sits near HLL's max register count
    * and its per-row update cost EXCEEDED the exact variant's at sf0.1
    * (3.2 s vs 0.95 s, round-2 verdict) — inverting the point of an
    * approximate operator. 2.5% relative error keeps the estimate tight
    * while the merge-able partials stay cheaper than an exact shuffle. */
  private val aggApproxDistinct: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_orderkey"), 0.025).as("approx_orderkeys"),
      approx_count_distinct(col("l_partkey"), 0.025).as("approx_partkeys"))

  /** A5 summary statistics (reference NB cell 20 df.describe). */
  private val aggStats: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"),
      round(min("l_extendedprice"), 2).as("min_price"),
      round(max("l_extendedprice"), 2).as("max_price"),
      round(avg("l_extendedprice"), 2).as("avg_price"),
      round(stddev("l_extendedprice"), 4).as("std_price"))

  /** A6 Pearson correlation (reference NB cell 21 df.corr()['price']). */
  private val aggCorr: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
      round(corr("l_discount", "l_extendedprice"), 6).as("corr_disc_price"))

  /** A6 at matrix width: the full pairwise covariance/correlation set
    * for a 3-column feature block in ONE aggregate pass (the input to
    * PCA / feature selection). Each pair is a Welford-style streaming
    * moment — map-side partials, one scan, O(1) result regardless of
    * row count; at k columns this is k(k-1)/2 expressions in the same
    * single pass, never k² scans. */
  private val covMatrix: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      round(covar_samp("l_quantity", "l_extendedprice"), 4).as("cov_qty_price"),
      round(covar_samp("l_quantity", "l_discount"), 6).as("cov_qty_disc"),
      round(covar_samp("l_extendedprice", "l_discount"), 4).as("cov_price_disc"),
      round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
      round(corr("l_quantity", "l_discount"), 6).as("corr_qty_disc"),
      round(corr("l_extendedprice", "l_discount"), 6).as("corr_price_disc"))

  /** Group-wise OLS — closed-form per-group linear fit of price on
    * quantity via the SQL-standard regr_* aggregates: one partial+final
    * hash-agg pass (Welford-style moment state per group), no second
    * scan, no driver math. The per-group model a feature store would
    * materialize. */
  private val regrGroup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
          .as("r2"))
      .orderBy("l_returnflag")

  /** Ordered string aggregation (LISTAGG/string_agg shape): the
    * collected set is SORTED before joining so the result is
    * deterministic regardless of partition arrival order — the only
    * safe way to emit an aggregated list from a distributed engine.
    * Set-sized state per group (25 nations max), map-side combined. */
  private val stringAgg: Q = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000)
      .groupBy("c_mktsegment")
      .agg(
        concat_ws(",",
          transform(array_sort(collect_set(col("c_nationkey"))),
            _.cast("string"))).as("nations"),
        count(lit(1)).as("n_rich"))
      .orderBy("c_mktsegment")

  /** A8 grouped aggregation, TPC-H Q1 shape (SURVEY.md §7.1): partial
    * (map-side) + final hash agg; only the 4-group keyspace shuffles. */
  private val groupBy: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A9 rollup: hierarchical subtotals (engine extension, absent in the
    * reference). Nulls-first ordering matches the oracle's NULLS FIRST. */
  private val rollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** A9 cube: all grouping-set combinations. */
  private val cube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** E6 exact quantiles (reference NB cell 22 probplot): same
    * quantile_cont semantics as SQL `percentile`, computed by
    * HISTOGRAM NARROWING ([[exactQuantiles]]) instead of the
    * percentile aggregate. `percentile` keeps a value→count map of the
    * WHOLE column in every partial buffer and sorts the merged map on
    * one thread — the habitual plan that dies first at scale and was
    * the perennial bench top-15 here. The extracted order statistics
    * are exactly the full sort's, so the interpolation — and the
    * DuckDB quantile_cont oracle hash — are unchanged. The at-scale
    * *approximate* variant is still approx_percentile
    * (q_quantiles_approx, t-digest sketch). */
  private val quantiles: Q = (s, d) =>
    exactQuantiles(Tables.lineitem(s, d), "l_extendedprice",
      Seq(0.25, 0.50, 0.75, 0.95))
      .select(rounded(Seq("p25", "p50", "p75", "p95")): _*)

  /** E6 grouped form: exact per-group quantiles — the profiling query a
    * feature store runs per segment, by the same narrowing with the
    * group key carried through ([[exactQuantiles]]). The per-group
    * `percentile` aggregate this replaces buffers every group value in
    * one aggregation buffer (the row that dies first when a segment
    * holds billions of values); the narrowing plan's heaviest state is
    * a spillable per-(group, cell, sub-cell) window. Order statistics
    * and the interpolation are exactly the sort's, so the DuckDB
    * quantile_cont oracle hash is unchanged. */
  private val quantilesByGroup: Q = (s, d) =>
    exactQuantiles(Tables.lineitem(s, d), "l_extendedprice",
      Seq(0.25, 0.50, 0.75), "l_returnflag")
      .select(col("l_returnflag") +: rounded(Seq("p25", "p50", "p75")): _*)
      .orderBy("l_returnflag")

  /** The quantiles `q` of [[exactQuantiles]] as columns `names`,
    * rounded to 4 places. */
  private def rounded(names: Seq[String]): Seq[Column] =
    names.zipWithIndex.map { case (nm, i) => round(col("q")(i), 4).as(nm) }

  /** E6 grouped exact quantiles, SELECTION form — the scale twin of
    * [[quantilesByGroup]]: `percentile` buffers every group value in one
    * aggregation buffer (the row that dies first when a single group
    * holds billions of values); this form instead sorts within the
    * group ONCE (spillable UnsafeExternalSorter, parallel across
    * groups), ranks with row_number, and keeps only the TWO order
    * statistics each percentile needs, interpolating exactly as DuckDB
    * `quantile_cont` / Spark `percentile` do (pos = p·(n−1), result =
    * v_lo + (v_hi − v_lo)·frac — identical IEEE ops, so this query
    * shares q_quantiles_grouped's oracle text and the hash gate PROVES
    * the selection form exact). Ties in x need no tiebreak: equal
    * ranks land on equal values. At extreme per-group cardinality the
    * documented swap is still approx_percentile (same plan shape). */
  private val quantilesGroupedSel: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag").orderBy("x")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
    def parts(p: Double, nm: String): Seq[Column] = {
      val pos = lit(p) * (col("n") - 1) // 0-based fractional index
      val lo = floor(pos) + 1           // 1-based bracketing ranks
      val hi = ceil(pos) + 1
      Seq(
        max(when(col("rn") === lo, col("x"))).as(s"${nm}_lo"),
        max(when(col("rn") === hi, col("x"))).as(s"${nm}_hi"),
        max(when(col("rn") === lo, pos - floor(pos))).as(s"${nm}_f"))
    }
    def lerp(nm: String): Column =
      round(col(s"${nm}_lo") +
        (col(s"${nm}_hi") - col(s"${nm}_lo")) * col(s"${nm}_f"), 4).as(nm)
    val aggs = parts(0.25, "p25") ++ parts(0.50, "p50") ++ parts(0.75, "p75")
    ranked.groupBy("l_returnflag")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("l_returnflag"), lerp("p25"), lerp("p50"), lerp("p75"))
      .orderBy("l_returnflag")
  }

  /** E6 GLOBAL exact quantiles, SELECTION form — the scale twin of
    * [[quantiles]]. The grouped selection form parallelizes over
    * groups, but a single global `percentile` still buffers EVERY
    * value in one aggregation buffer, and a global row_number window
    * collapses to one partition. This is the textbook distributed
    * selection instead: range-repartition-sort the column (the
    * q_sort exchange — ordered partitions, each locally sorted and
    * spillable), one streaming pass records per-partition counts
    * (driver receives O(partitions) longs), the driver turns each
    * percentile position p·(n−1) into (partition, local offset) pairs,
    * and a second streaming pass extracts ONLY the eight bracketing
    * order statistics. No partition ever holds more than its range
    * slice; driver traffic is constant-size. Interpolation is the
    * exact quantile_cont/percentile formula (v_lo + (v_hi − v_lo)·frac,
    * identical IEEE ops), so this query SHARES q_quantiles' oracle text
    * and the hash gate proves the selection form exact. The RDD
    * mapPartitions pair is the genuine per-partition imperative case:
    * no DataFrame operator exposes "k-th element of a sorted partition"
    * without a global window. */
  /** The selection machinery itself, reusable (q_quantiles_sel,
    * q_sketch_error): exact interpolated quantiles of `column` by
    * distributed order-statistic extraction. None for an empty input. */
  private[graft] def selectQuantiles(df: DataFrame, column: String,
      ps: Seq[Double]): Option[Seq[Double]] = {
    import org.apache.spark.storage.StorageLevel
    val s = df.sparkSession
    val sorted = df
      .select(col(column).cast("double")).rdd
      .map(_.getDouble(0))
      .sortBy(identity)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val partCounts = sorted
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
        .collect().sortBy(_._1).map(_._2)
      val n = partCounts.sum
      if (n == 0) None
      else {
        val offsets = partCounts.scanLeft(0L)(_ + _) // start rank of each partition
        // global 0-based ranks needed: floor and ceil of every position
        val positions = ps.map(p => p * (n - 1))
        val wantedRanks = positions.flatMap(pos =>
          Seq(math.floor(pos).toLong, math.ceil(pos).toLong)).distinct.sorted
        val byPartition: Map[Int, Seq[Long]] = wantedRanks
          .map { r =>
            // the partition whose [offset, offset+count) covers rank r
            val pi = offsets.lastIndexWhere(_ <= r, offsets.length - 2)
            (pi, r - offsets(pi))
          }
          .groupBy(_._1).map { case (pi, rs) => pi -> rs.map(_._2).sorted }
        // ship each partition its (globalOffset, sorted local ranks); the
        // pass emits (global rank, value) pairs — 2·|ps| rows total
        val byPartWithOffset: Map[Int, (Long, Seq[Long])] =
          byPartition.map { case (pi, locals) => pi -> (offsets(pi), locals) }
        val bc = s.sparkContext.broadcast(byPartWithOffset)
        val found: Map[Long, Double] = sorted
          .mapPartitionsWithIndex { (i, it) =>
            bc.value.get(i) match {
              case None => Iterator.empty
              case Some((offset, locals)) =>
                // single forward scan — locals sorted, partition sorted
                val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
                var idx = 0L
                val want = locals.iterator.buffered
                while (want.hasNext && it.hasNext) {
                  val v = it.next()
                  while (want.hasNext && want.head == idx) {
                    out += ((offset + want.next(), v))
                  }
                  idx += 1
                }
                out.iterator
            }
          }
          .collect().toMap
        Some(positions.map { pos =>
          val lo = found(math.floor(pos).toLong)
          val hi = found(math.ceil(pos).toLong)
          val frac = pos - math.floor(pos)
          lo + (hi - lo) * frac
        })
      }
    } finally { sorted.unpersist(); () }
  }

  /** Equal-width cells each narrowing level splits a range into. */
  private val cells = 2048

  /** Exact interpolated quantiles by two-level HISTOGRAM NARROWING, as
    * one lazy plan (building it starts no Spark job) — the DataFrame
    * sibling of [[selectQuantiles]], which range-sorts the whole column
    * through an RDD. One row per group of `groupBy`, exactly one when
    * there is none: the group columns and `q`, the quantiles of `value`
    * at `ps` in order. Nulls in `value`, and rows whose group key is
    * null, are skipped; the quantiles of an empty input are null.
    *
    * A quantile is SQL `percentile`'s and DuckDB `quantile_cont`'s: with
    * pos = p·(n−1), the 0-based order statistics lo at ⌊pos⌋ and hi at
    * ⌈pos⌉, and lo + (hi − lo)·(pos − ⌊pos⌋) — the same IEEE operations
    * in the same order, so the values are bit-identical. `percentile`
    * keeps a value→count map of the whole column in every partial buffer
    * and sorts it on one thread; here no window partition holds more
    * than a sub-cell:
    *
    *  1. per group, the bounds [min, max];
    *  2. each row's cell among [[cells]] equal-width cells of its
    *     group's [min, max] — monotone in the value, so a cell holds a
    *     contiguous rank range — and per (group, cell) the count, min
    *     and max; a scan of the counts in cell order ([[locate]]) finds
    *     the cell of each wanted rank and the rank inside it. A cell
    *     whose min equals its max answers its ranks from its bounds;
    *  3. the rows of the other wanted cells split once more inside
    *     their cell's own [min, max], so a cell that holds most of the
    *     rows still shrinks to its sub-cells, and per (group, cell,
    *     sub-cell) counts place each wanted rank in a sub-cell;
    *  4. a row_number window PARTITIONED BY (group, cell, sub-cell)
    *     over the rows of the wanted sub-cells picks each order
    *     statistic.
    *
    * Counts and rank lookups run on the ≤ groups × 2048-row grids
    * inside the plan, never on the driver. */
  private[graft] def exactQuantiles(df: DataFrame, value: String,
      ps: Seq[Double], groupBy: String*): DataFrame = {
    val cell = groupBy :+ "_b1"
    val sub = cell :+ "_b2"
    val keys = groupBy.map(col)
    val rows = df.select(keys :+ col(value).cast("double").as("_x"): _*)
      .filter(col("_x").isNotNull)
    val bounds = rows.groupBy(keys: _*).agg(min("_x").as("_lo"), max("_x").as("_hi"))
    // each row beside its group's bounds; with no group they are one
    // scalar subquery, because a keyless join plans a nested-loop join
    val cut1 = withCell(
      if (groupBy.nonEmpty) rows.join(broadcast(bounds), groupBy)
      else {
        val b = bounds.select(struct("_lo", "_hi")).scalar()
        rows.withColumns(Map("_lo" -> b("_lo"), "_hi" -> b("_hi")))
      }, "_b1")
    def pos(p: Double) = lit(p) * (col("_n") - 1)
    val ranks = array_distinct(array(ps.flatMap(p => Seq(floor(pos(p)), ceil(pos(p)))): _*))
    // per group: the row count `_n`, and `_w`, each wanted rank's cell
    val want1 = cut1.groupBy(cell.map(col): _*)
      .agg(count(lit(1)).as("_c"), min("_x").as("_lo"), max("_x").as("_hi"))
      .groupBy(keys: _*)
      .agg(array_sort(array_agg(struct(col("_b1").as("_k"), col("_c"), col("_lo"),
        col("_hi")))).as("_cells"))
      .withColumn("_n", aggregate(col("_cells"), lit(0L), (a, x) => a + x("_c")))
      .select(keys :+ col("_n") :+ transform(ranks, r => locate(col("_cells"), r)).as("_w"): _*)
    // one row per cell whose min is below its max: its bounds and the
    // (`_r`, `_l`) of the ranks in it
    val open = filter(col("_w"), x => x("_lo") < x("_hi"))
    val open1 = want1.select(keys :+ explode(transform(
        array_distinct(transform(open, _("_k"))), k => {
          val in = filter(open, _("_k") === k)
          struct(k.as("_b1"), in(0)("_lo").as("_lo"), in(0)("_hi").as("_hi"),
            transform(in, x => struct(x("_r").as("_r"), x("_l").as("_l"))).as("_w"))
        })).as("_o"): _*)
      .select(keys :+ col("_o.*"): _*)
    // the open cells' rows, split again and hashed on their sub-cell
    // once: the sub-cell counts and the window both read that shuffle
    val cut2 = withCell(cut1.join(broadcast(open1), cell), "_b2")
      .repartition(sub.map(col): _*)
    // the sub-cells that hold a wanted rank, with the rows of their cell
    // below them (counting `_x` keeps every column of cut2 in both reads,
    // so they share one shuffle)
    val want2 = cut2.groupBy((sub :+ "_w").map(col): _*).agg(count("_x").as("_c"))
      .withColumn("_before", coalesce(sum("_c").over(Window.partitionBy(cell.map(col): _*)
        .orderBy("_b2").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(exists(col("_w"), x =>
        x("_l") >= col("_before") && x("_l") < col("_before") + col("_c")))
      .select((sub :+ "_before").map(col): _*)
    val picked = cut2.join(broadcast(want2), sub)
      .withColumn("_rn", row_number().over(Window.partitionBy(sub.map(col): _*).orderBy("_x")))
      .select(keys :+ col("_x") :+ explode(filter(col("_w"), x =>
        x("_l") === col("_before") + col("_rn") - 1)).as("_at"): _*)
      .select(keys :+ lit(null).cast("long").as("_n") :+ col("_at._r") :+ col("_x").as("_v"): _*)
    // per group its count, and a rank in a one-value cell is that value
    val found = want1.select(keys :+ explode(concat(
        array(struct(col("_n"), lit(null).cast("long").as("_r"),
          lit(null).cast("double").as("_v"))),
        transform(filter(col("_w"), x => x("_lo") === x("_hi")), x =>
          struct(lit(null).cast("long").as("_n"), x("_r").as("_r"), x("_lo").as("_v")))))
        .as("_f"): _*)
      .select(keys :+ col("_f.*"): _*)
      .union(picked)
      .groupBy(keys: _*)
      .agg(max("_n").as("_n"),
        map_from_entries(array_agg(when(col("_r").isNotNull, struct("_r", "_v")))).as("_m"))
    val q = ps.map { p =>
      val (lo, hi) = (col("_m")(floor(pos(p))), col("_m")(ceil(pos(p))))
      lo + (hi - lo) * (pos(p) - floor(pos(p)))
    }
    found.select(keys :+ array(q: _*).as("q"): _*)
  }

  /** `df` (with its range's bounds `_lo`, `_hi`) with `cell`, each
    * row's equal-width cell of that range, in place of the bounds. */
  private def withCell(df: DataFrame, cell: String): DataFrame =
    df.withColumn(cell, when(col("_hi") > col("_lo"),
        least(greatest(floor((col("_x") - col("_lo")) /
          ((col("_hi") - col("_lo")) / cells)).cast("int"), lit(0)), lit(cells - 1)))
        .otherwise(lit(0)))
      .drop("_lo", "_hi")

  /** The cell of `grid` — (`_k`, count `_c`, `_lo`, `_hi`) structs in
    * cell order `_k` — that holds the 0-based rank `r`: (`_r`, its `_k`,
    * `_l`, the rank inside it, and its `_lo`, `_hi`). */
  private def locate(grid: Column, r: Column): Column =
    aggregate(grid,
      struct(lit(0L).as("seen"),
        lit(null).cast("struct<_r:bigint,_k:int,_l:bigint,_lo:double,_hi:double>").as("at")),
      (acc, x) => {
        val seen = acc("seen") + x("_c")
        struct(seen.as("seen"), when(acc("at").isNull && r < seen,
          struct(r.as("_r"), x("_k").as("_k"), (r - acc("seen")).as("_l"),
            x("_lo").as("_lo"), x("_hi").as("_hi"))).otherwise(acc("at")).as("at"))
      },
      acc => acc("at"))

  /** Emit a quantile cell row with the repo's round-4 presentation —
    * the RDD-selection form's. */
  private def emitQuantiles(s: SparkSession, cells: Option[Seq[Double]],
      names: Seq[String], emptySrc: DataFrame): DataFrame = {
    import s.implicits._
    cells match {
      case None =>
        // quantile of nothing is NULL in both engines
        emptySrc.agg(lit(null).cast("double").as(names.head),
          names.tail.map(nm => lit(null).cast("double").as(nm)): _*)
      case Some(vs) =>
        Seq(1).toDF("one")
          .select(names.zipWithIndex.map { case (nm, ix) =>
            round(lit(vs(ix)), 4).as(nm)
          }: _*)
    }
  }

  private val quantilesSel: Q = (s, d) =>
    emitQuantiles(s,
      selectQuantiles(Tables.lineitem(s, d), "l_extendedprice",
        Seq(0.25, 0.50, 0.75, 0.95)),
      Seq("p25", "p50", "p75", "p95"),
      Tables.lineitem(s, d))

  /** Per-group z-score outlier filter — the standard feature-pipeline
    * guard: group stats (one partial+final aggregate over ~3 groups)
    * broadcast back onto the fact table, rows kept where the ROUNDED
    * |z| exceeds the threshold. Rounding before comparing means a
    * 1-ulp mean/stddev difference between engines cannot flip row
    * membership at the cut. */
  private val zscoreOutliers: Q = (s, d) => {
    val stats = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(avg("l_extendedprice").as("m"),
        stddev_samp(col("l_extendedprice")).as("sd"))
    Tables.lineitem(s, d)
      .join(broadcast(stats), "l_returnflag")
      .withColumn("z",
        round((col("l_extendedprice") - col("m")) / col("sd"), 4))
      .filter(abs(col("z")) > 1.5)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "z")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** §2.12.3 custom-UDAF surface: per-group variance/stddev through the
    * MomentsDecl DeclarativeAggregate (one-pass Welford, mergeable
    * partials, stays inside whole-stage codegen), checked against
    * DuckDB's var_samp/stddev_samp. The typed-Aggregator twin
    * (MomentsAgg) demonstrates the user-facing API and is
    * property-tested + parity-tested against this form. */
  private val aggMoments: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(graft.functions.MomentsDecl.moments(col("l_extendedprice")).as("m"))
      .select(
        col("l_returnflag"),
        col("m.n").as("n"),
        round(col("m.mean"), 4).as("mean_price"),
        // raw variance (~1e9) would flip rounding boundaries on the
        // ~1e-3 accumulation difference vs the oracle; stddev's
        // relative error survives 4 decimals. Singleton groups yield
        // null (matching stddev_samp), not 0/0 = NaN.
        when(col("m.n") > 1,
          round(sqrt(col("m.m2") / (col("m.n") - 1)), 4)).as("std_price"))
      .orderBy("l_returnflag")

  /** O5 grouped: top-3 orders per customer via the bounded-heap TopKDecl
    * Catalyst aggregate (no per-key full sort; k-bounded partials cross
    * the shuffle as compact bytes, no typed ser/de). Oracle: ROW_NUMBER
    * window. The typed-Aggregator twin (TopKAgg) demonstrates the
    * user-facing API and is property-tested + parity-tested. */
  private val topkPerKey: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(graft.functions.TopKDecl.topk(
        struct(col("o_totalprice"), col("o_orderkey")), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("o_custkey"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("t.id").as("o_orderkey"),
        col("t.v").as("o_totalprice"))
      .orderBy("o_custkey", "rnk")

  /** E6 at-scale variant: t-digest-style sketch percentiles
    * (approx_percentile) — the 100 TB path where exact percentile's
    * full sort is unaffordable. No oracle (approximation); driver
    * records rows>0, unit test bounds the error vs exact. */
  private val quantilesApprox: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      expr("approx_percentile(l_extendedprice, 0.25, 10000)").as("p25"),
      expr("approx_percentile(l_extendedprice, 0.50, 10000)").as("p50"),
      expr("approx_percentile(l_extendedprice, 0.75, 10000)").as("p75"),
      expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("p95"))

  /** Pivot: long→wide conditional aggregation (engine extension; the
    * portable relational form is SUM(CASE WHEN ...), which is exactly
    * what the oracle uses). Pivot values are declared, not discovered,
    * so no extra distinct-scan job runs. */
  private val pivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum("l_quantity"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")

  /** Generator surface (§2.12.4): explode word tokens to rows and
    * re-aggregate — the UDTF-shaped operator. */
  private val explodeQ: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"), countDistinct(col("p_partkey")).as("n_parts"))
      .orderBy("token")

  /** String-function family (F-surface extension): case, substring,
    * concatenation, length, edit distance. */
  private val fnString: Q = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("upper_name"),
      lower(col("p_brand")).as("lower_brand"),
      substring(col("p_name"), 1, 4).as("name4"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      length(col("p_name")).as("name_len"),
      levenshtein(col("p_name"), lit("blue bolt")).as("edit_dist"))
      .orderBy("p_partkey")

  /** Unpivot (melt): wide→long, the inverse of q_pivot. */
  private val unpivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(sum("l_quantity"), 2).as("qty"),
        round(sum("l_extendedprice"), 2).as("price"),
        round(sum("l_discount"), 2).as("disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")

  /** U2 bag semantics: EXCEPT ALL keeps duplicate multiplicity. */
  private val exceptAll: Q = (s, d) =>
    Tables.lineitem(s, d).select(col("l_suppkey").as("suppkey"))
      .exceptAll(Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R").select(col("l_suppkey").as("suppkey")))
      .groupBy("suppkey").agg(count(lit(1)).as("n"))
      .orderBy("suppkey")

  /** Null-handling scalar family: nullif / coalesce / greatest / least.
    * nullif manufactures nulls from real data so coalesce has work. */
  private val fnNull: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag_or_none"),
      greatest(col("l_quantity"), col("l_discount") * 100).as("biggest"),
      least(col("l_tax"), col("l_discount")).as("smallest"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Histogram / binning: fixed-width buckets two ways — integer
    * arithmetic (floor of an exact-power division) and the SQL-standard
    * width_bucket — plus per-bin counts. Bin width 50000 divides the
    * [0, 600000) domain into 12 buckets; (max-min)/numBucket = 50000
    * exactly, so width_bucket's internal division is the same IEEE
    * operation as the explicit floor form and the two columns can never
    * disagree (asserted by construction: same grouping). One scan, one
    * partial+final hash aggregate — the profiling shape that feeds
    * feature binning at any scale. */
  private val histogram: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(
        floor(col("o_totalprice") / 50000).cast("int").as("bin"),
        expr("width_bucket(o_totalprice, 0D, 600000D, 12)").as("wb"))
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("bin")

  /** Per-group mode (most frequent value) with a PINNED tie-break —
    * the categorical summary statistic. Spark 4 and DuckDB both ship a
    * `mode()` aggregate, but neither defines tie order, so the engine
    * states the deterministic form explicitly: count per (group,
    * value), then rank by (count desc, value asc) — one map-side-
    * combined aggregate plus a window over the \|groups\|×\|values\|
    * cell table, never a second data scan. */
  private val aggMode: Q = (s, d) => {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(desc("n"), asc("o_orderpriority"))
    Tables.orders(s, d)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_val"),
        col("n"))
      .orderBy("o_orderstatus")
  }

  /** Equi-DEPTH histogram (the equi-width q_histogram's sibling and
    * the optimizer-statistics shape): 10 buckets holding ~equal row
    * counts, bounded by exact decile cutoffs — no global sort, no
    * single-partition ntile; the bucket id is the count of cutoffs the
    * value exceeds (values exactly on a cutoff go down, matching the
    * oracle's strict comparison). Bucket counts differ from n/10 only
    * by cutoff-tie mass — exactly the skew an optimizer histogram
    * exists to show.
    *
    * The cutoffs are one scalar subquery over the exact histogram
    * narrowing ([[exactQuantiles]]), not the value-buffering
    * percentile aggregate; engine/oracle cutoff agreement is safe
    * because an interpolated cutoff lies strictly between two ADJACENT
    * order statistics, an open interval that by construction contains
    * no data value — a last-ulp cutoff difference cannot flip any
    * row's bucket. */
  private val histogramEqdepth: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val deciles = (1 to 9).map(_ / 10.0)
    val bucket = deciles.indices.map(i =>
      (col("o_totalprice") > col("cuts")(i)).cast("int")).reduce(_ + _)
    o.withColumn("cuts", exactQuantiles(o, "o_totalprice", deciles).select("q").scalar())
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("bucket")
  }

  /** Mutual information between two categorical columns (market
    * segment × order priority) — the dependence screen a feature-
    * selection pass runs. All probabilities come from EXACT joint
    * counts (one groupBy over the join), so the only floating math is
    * the final Σ p(x,y)·log₂(p/(px·py)) over |X|·|Y| cells — the sums
    * are cell-count-sized, never data-sized, and the result rounds at
    * 6 dp. One fact-dim broadcast join + one map-side-combined
    * aggregate; marginals derive from the joint by two window sums
    * over the tiny cell table (no second scan of the data). */
  private val mutualInfo: Q = (s, d) => {
    val joint = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("nxy"))
    val wx = Window.partitionBy("c_mktsegment")
    val wy = Window.partitionBy("o_orderpriority")
    val wall = Window.partitionBy()
    joint
      .withColumn("nx", sum("nxy").over(wx))
      .withColumn("ny", sum("nxy").over(wy))
      .withColumn("n", sum("nxy").over(wall))
      .agg(round(sum(
        (col("nxy") / col("n")) *
          log2((col("nxy") * col("n")) / (col("nx") * col("ny")))), 6)
        .as("mi_bits"),
        max("n").cast("long").as("n_rows"))
  }

  /** Population-stability-index drift report (the ML-ops distribution
    * monitor): bin the CURRENT period by the REFERENCE period's exact
    * decile cutoffs and report each bin's contribution to
    * PSI = Σ (q−p)·ln(q/p) — the number a model-serving pipeline
    * watches to decide when to retrain. Periods are the deterministic
    * even/odd orderkey split. Cutoffs from the exact histogram
    * narrowing ([[exactQuantiles]]) over the reference slice, read as
    * one scalar subquery (see q_histogram_eqdepth's scaladoc for the
    * cutoff safety argument; the 10×-growth outlier this query showed
    * with the buffering percentile is gone), then one map-side-combined
    * bin count carrying both periods in a single scan (conditional
    * sums, not two passes), proportions via window sums over the
    * 10-row bin table. */
  private val psiDrift: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("v"),
      (col("o_orderkey") % 2 === 0).as("is_ref"))
    val deciles = (1 to 9).map(_ / 10.0)
    val bucket = deciles.indices.map(i =>
      (col("v") > col("cuts")(i)).cast("int")).reduce(_ + _)
    val wall = Window.partitionBy()
    o.withColumn("cuts", exactQuantiles(o.filter(col("is_ref")), "v", deciles)
        .select("q").scalar())
      .groupBy(bucket.as("bin"))
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      .withColumn("p", col("n_ref") / sum("n_ref").over(wall))
      .withColumn("q", col("n_cur") / sum("n_cur").over(wall))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round((col("q") - col("p")) * log(col("q") / col("p")), 6)
          .as("psi_contrib"))
      .orderBy("bin")
  }

  /** Two-sample Kolmogorov–Smirnov statistic (exact): the max ECDF
    * gap between the even- and odd-custkey price samples — the
    * classic distribution-equality test behind drift detection and
    * A/B sanity checks. The data collapses to the distinct-VALUE
    * grain first (both samples' counts in one conditional aggregate),
    * then one cumulative window over that grain yields both ECDFs.
    *
    * Scale note: exact KS needs a total order over the value grain —
    * and the value grain (distinct prices) is DATA-SIZED, so both
    * ECDF cumsums run through [[ScaledWindow.rankCum]] (its first
    * multi-metric user): parallel per-bucket windows + in-plan bucket
    * offsets, exact long counts, no single-partition stage. Sample
    * totals are its in-plan scalars (not a 1-row cross join). */
  private val ksTest: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("v"),
      (col("o_custkey") % 2 === 0).as("isa"))
    val g = o.groupBy("v")
      .agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
    val rnk = ScaledWindow.rankCum(g, Seq(col("v").asc),
      Seq("cuma" -> col("ca"), "cumb" -> col("cb")))
    val (na, nb) = (rnk.totals("cuma"), rnk.totals("cumb"))
    rnk.df
      .agg(
        max(round(abs(col("cuma") / na - col("cumb") / nb), 6))
          .as("ks_d"))
      .select(col("ks_d"), na.as("n_a"), nb.as("n_b"))
  }

  /** Revenue concentration (Pareto 80/20 report): how many customers
    * produce 80% of revenue, plus the top-1% revenue share — the
    * concentration diagnostic behind account tiering and risk
    * reviews. The data collapses to the customer grain first (in
    * INTEGER CENTS, so every running total is exact long arithmetic);
    * the cumulative share and rank come from
    * [[ScaledWindow.rankCum]] — no single-partition WindowExec even
    * when the customer grain overwhelms one sort, and the grand totals
    * are its in-plan scalars (not partition-less `count/sum().over()`).
    * Threshold comparisons use ROUNDED shares of exact integers, so a
    * last-ulp difference cannot flip a membership count. */
  private val paretoRevenue: Q = (s, d) => {
    val g = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend"))
    val rnk = ScaledWindow.rankCum(g,
      Seq(col("spend").desc, col("o_custkey").asc), Seq("cum" -> col("spend")))
    rnk.df
      .withColumn("cum_share", round(col("cum") / rnk.total, 6))
      .agg(
        sum(when(col("cum_share") < 0.8, 1L).otherwise(0L)).as("n_top80"),
        round(sum(when(col("rk") * 100 <= rnk.n, col("spend")))
          / rnk.total, 6).as("top1pct_share"))
      .select(rnk.n.as("n_customers"), col("n_top80"),
        col("top1pct_share"))
  }

  /** Incremental aggregate maintenance (materialized-view delta): the
    * warehouse pattern where a per-key summary table absorbs a new
    * batch by MERGING partial aggregates — count/sum state combines
    * with a full-outer join + coalesce — instead of rescanning all of
    * history. Here the "state" is the aggregate of the historical
    * slice (o_orderkey%5 ≠ 4, the q_dedup_incremental split) and the
    * "batch" the remainder; the oracle is the plain one-shot aggregate
    * over everything, so the hash gate proves merge ≡ recompute. At
    * 100 TB the state side is summary-sized and the scan cost is
    * batch-proportional — the same contract as the streaming partial
    * aggregates, expressed on the batch surface. */
  private val aggIncremental: Q = (s, d) => {
    val o = Tables.orders(s, d)
    def part(pred: org.apache.spark.sql.Column) =
      o.filter(pred).groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("sp"))
    val state = part(pmod(col("o_orderkey"), lit(5)) =!= 4).as("s")
    val batch = part(pmod(col("o_orderkey"), lit(5)) === 4).as("b")
    state.join(batch, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("s.n"), lit(0L)) + coalesce(col("b.n"), lit(0L)))
          .as("n_orders"),
        round(coalesce(col("s.sp"), lit(0.0)) + coalesce(col("b.sp"), lit(0.0)), 2)
          .as("total_spend"))
      .orderBy("o_custkey")
  }

  /** Snapshot reconciliation (table diff): compare two versions of a
    * table and emit ONLY the delta — rows added, removed, or changed —
    * the anti-entropy / migration-audit primitive behind every
    * "did the backfill change anything it shouldn't" check. Versions
    * are deterministic slices of orders: A drops keys ≡4 (mod 5); B
    * drops keys ≡0 (mod 7) and shifts totalprice by +10 where the key
    * ≡0 (mod 3).
    *
    * Scale shape: one co-partitioned full-outer SMJ on the key (with
    * pipeline/BucketedLayout both sides pre-bucket on the key and the
    * join is shuffle-free); change detection is null-safe column
    * compares (`<=>`), no row serialization or hashing; output size is
    * proportional to the CHURN, not the table — unchanged rows never
    * leave the join. */
  private val tableDiff: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderkey") % 5 =!= 4).select(
      col("o_orderkey").as("ak"), col("o_orderstatus").as("ast"),
      round(col("o_totalprice"), 2).as("old_price"))
    val b = o.filter(col("o_orderkey") % 7 =!= 0).select(
      col("o_orderkey").as("bk"), col("o_orderstatus").as("bst"),
      when(col("o_orderkey") % 3 === 0,
        round(col("o_totalprice") + 10.0, 2))
        .otherwise(round(col("o_totalprice"), 2)).as("new_price"))
    a.join(b, col("ak") === col("bk"), "full_outer")
      .filter(col("ak").isNull || col("bk").isNull ||
        !(col("old_price") <=> col("new_price")) ||
        !(col("ast") <=> col("bst")))
      .select(
        coalesce(col("ak"), col("bk")).as("o_orderkey"),
        when(col("ak").isNull, "added")
          .when(col("bk").isNull, "removed")
          .otherwise("changed").as("status"),
        col("old_price"), col("new_price"))
      .orderBy("o_orderkey")
  }

  /** RFM customer scoring (recency / frequency / monetary): the
    * classic segmentation report — per customer, days since last
    * order (vs a fixed anchor date), order count, and total spend,
    * each bucketed into its statistical quartile (1 + the number of
    * exact quartile cutoffs the value exceeds; for recency, bucket 1
    * = most recent).
    *
    * Scale shape: the metrics are one map-side-combinable groupBy on
    * custkey; the three quartile cutoffs come from ONE exact
    * percentile aggregate over the (already customer-grained) metric
    * table, broadcast back as a 1-row cross join — no global window
    * sort, no single-partition ntile. At a scale where even the
    * customer grain is huge, the cutoff pass swaps for the
    * selection-form exact quantile plan (q_quantiles_sel) without
    * touching the scoring join. */
  private val rfm: Q = (s, d) => {
    val anchor = to_date(lit("1998-12-31"))
    val m = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(
        datediff(anchor, to_date(max("o_orderdate"))).as("rec_days"),
        count(lit(1)).as("freq"),
        round(sum("o_totalprice"), 2).as("mon"))
    val cuts = m.agg(
      percentile(col("rec_days"), lit(0.25)).as("r25"),
      percentile(col("rec_days"), lit(0.50)).as("r50"),
      percentile(col("rec_days"), lit(0.75)).as("r75"),
      percentile(col("freq"), lit(0.25)).as("f25"),
      percentile(col("freq"), lit(0.50)).as("f50"),
      percentile(col("freq"), lit(0.75)).as("f75"),
      percentile(col("mon"), lit(0.25)).as("m25"),
      percentile(col("mon"), lit(0.50)).as("m50"),
      percentile(col("mon"), lit(0.75)).as("m75"))
    def q(v: Column, p25: String, p50: String, p75: String) =
      lit(1) + (v > col(p25)).cast("int") + (v > col(p50)).cast("int") +
        (v > col(p75)).cast("int")
    m.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("rec_days"), col("freq"), col("mon"),
        q(col("rec_days"), "r25", "r50", "r75").as("r_q"),
        q(col("freq"), "f25", "f50", "f75").as("f_q"),
        q(col("mon"), "m25", "m50", "m75").as("m_q"))
      .withColumn("segment",
        concat(col("r_q"), col("f_q"), col("m_q")))
      .orderBy("o_custkey")
  }

  /** 2-D skyline (Pareto frontier): parts not dominated on (cheaper
    * price, larger size) — the multi-criteria shortlist query (BNL/SFS
    * in the skyline literature). The naive formulation is an O(n²)
    * NOT-EXISTS self-join; the sort-based identity used here is: with
    * prices ascending, a part is on the skyline iff its size strictly
    * exceeds every size at a strictly lower price AND equals the max
    * size at its own price.
    *
    * Scale shape: the prefix-max over prices is computed WITHOUT a
    * single global window over the data — a two-level decomposition
    * (the `q_quantiles_sel` discipline): per-price maxima shuffle once
    * (map-side combined), the within-dollar-bucket running max is a
    * window PARTITIONED by bucket, and the only global window runs
    * over the bounded per-dollar-bucket aggregate (≤ price-range rows,
    * data-size-independent). Verdict join back to parts is an equi-join
    * on price. Duplicate (price, size) points: neither dominates the
    * other (dominance needs one strict inequality) — both kept, both
    * engines agree. */
  private val skyline: Q = (s, d) => {
    val NEG = Long.MinValue
    val p = Tables.part(s, d)
    val perPrice = p.groupBy("p_retailprice")
      .agg(max("p_size").as("mx"))
      .withColumn("b", floor(col("p_retailprice")))
    val perBucket = perPrice.groupBy("b").agg(max("mx").as("bmx"))
    val wBuckets = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevBucket = perBucket
      .withColumn("prev_bmx", max("bmx").over(wBuckets))
      .select("b", "prev_bmx")
    val wInBucket = Window.partitionBy("b").orderBy("p_retailprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = perPrice
      .withColumn("in_prev", max("mx").over(wInBucket))
      .join(prevBucket, Seq("b"))
      .withColumn("strict_prev",
        greatest(coalesce(col("in_prev"), lit(NEG)),
          coalesce(col("prev_bmx"), lit(NEG))))
      .select("p_retailprice", "mx", "strict_prev")
    p.join(pref, Seq("p_retailprice"))
      .filter(col("p_size") > col("strict_prev") && col("p_size") === col("mx"))
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_partkey")
  }

  val queries: Map[String, Q] = Map(
    "q_histogram" -> histogram,
    "q_unpivot" -> unpivot,
    "q_except_all" -> exceptAll,
    "q_fn_null" -> fnNull,
    "q_agg_moments" -> aggMoments,
    "q_topk_per_key" -> topkPerKey,
    "q_quantiles_approx" -> quantilesApprox,
    "q_pivot" -> pivot,
    "q_explode" -> explodeQ,
    "q_fn_string" -> fnString,
    "q_scan_full" -> scanFull,
    "q_zorder" -> zorder,
    "q_project" -> project,
    "q_filter_eq" -> filterEq,
    "q_filter_when" -> filterWhen,
    "q_dropna" -> dropna,
    "q_null_count" -> nullCount,
    "q_hcc_detect" -> hccDetect,
    "q_sort" -> sort,
    "q_limit" -> limitQ,
    "q_topk" -> topk,
    "q_union_all" -> unionAll,
    "q_intersect" -> intersect,
    "q_except" -> exceptQ,
    "q_distinct" -> distinctQ,
    "q_agg_avg" -> aggAvg,
    "q_agg_count" -> aggCount,
    "q_agg_distinct" -> aggDistinct,
    "q_agg_approx_distinct" -> aggApproxDistinct,
    "q_agg_stats" -> aggStats,
    "q_agg_corr" -> aggCorr,
    "q_cov_matrix" -> covMatrix,
    "q_regr_group" -> regrGroup,
    "q_string_agg" -> stringAgg,
    "q_groupby" -> groupBy,
    "q_rollup" -> rollup,
    "q_cube" -> cube,
    "q_quantiles" -> quantiles,
    "q_quantiles_sel" -> quantilesSel,
    "q_quantiles_grouped" -> quantilesByGroup,
    "q_quantiles_grouped_sel" -> quantilesGroupedSel,
    "q_zscore_outliers" -> zscoreOutliers,
    "q_skyline" -> skyline,
    "q_agg_incremental" -> aggIncremental,
    "q_table_diff" -> tableDiff,
    "q_rfm" -> rfm,
    "q_histogram_eqdepth" -> histogramEqdepth,
    "q_mutual_info" -> mutualInfo,
    "q_agg_mode" -> aggMode,
    "q_psi_drift" -> psiDrift,
    "q_ks_test" -> ksTest,
    "q_pareto_revenue" -> paretoRevenue,
  )

  override val noOracle: Map[String, String] = Map(
    "q_agg_approx_distinct" -> "HLL estimate; q_sketch_error and RelationalQueriesSpec bound it",
    "q_quantiles_approx" -> "t-digest estimate; RelationalQueriesSpec holds it near q_quantiles")

  override val buildJobs: Map[String, String] = Map(
    "q_quantiles_sel" -> "order statistics are selected from a sorted RDD on the driver")

  val oracles: Map[String, String] = Map(
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS INTEGER) AS bin,
                CAST(LEAST(CAST(floor(o_totalprice / 50000) AS BIGINT) + 1, 13) AS BIGINT) AS wb,
                count(*) AS n,
                round(min(o_totalprice), 2) AS lo,
                round(max(o_totalprice), 2) AS hi
         FROM orders GROUP BY 1, 2 ORDER BY bin""",
    "q_agg_moments" ->
      """SELECT l_returnflag, count(*) AS n,
                round(avg(l_extendedprice), 4) AS mean_price,
                round(stddev_samp(l_extendedprice), 4) AS std_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_topk_per_key" ->
      """SELECT o_custkey, CAST(rnk AS INTEGER) AS rnk, o_orderkey, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
               FROM orders)
         WHERE rnk <= 3
         ORDER BY o_custkey, rnk""",
    "q_unpivot" ->
      """WITH wide AS (
           SELECT l_returnflag,
                  round(sum(l_quantity), 2) AS qty,
                  round(sum(l_extendedprice), 2) AS price,
                  round(sum(l_discount), 2) AS disc
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, measure, value
         FROM (
           SELECT l_returnflag, 'qty' AS measure, qty AS value FROM wide
           UNION ALL
           SELECT l_returnflag, 'price', price FROM wide
           UNION ALL
           SELECT l_returnflag, 'disc', disc FROM wide)
         ORDER BY l_returnflag, measure""",
    "q_except_all" ->
      """SELECT suppkey, count(*) AS n FROM (
           SELECT l_suppkey AS suppkey FROM lineitem
           EXCEPT ALL
           SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
         GROUP BY suppkey ORDER BY suppkey""",
    "q_fn_null" ->
      """SELECT l_orderkey, l_linenumber,
                coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none,
                greatest(l_quantity, l_discount * 100) AS biggest,
                least(l_tax, l_discount) AS smallest
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_pivot" ->
      """SELECT l_returnflag,
                sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
                sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_explode" ->
      """SELECT token, count(*) AS n, count(DISTINCT p_partkey) AS n_parts
         FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS token FROM part)
         GROUP BY token ORDER BY token""",
    "q_fn_string" ->
      """SELECT p_partkey,
                upper(p_name) AS upper_name,
                lower(p_brand) AS lower_brand,
                substring(p_name, 1, 4) AS name4,
                concat_ws('|', p_brand, p_type) AS brand_type,
                CAST(length(p_name) AS INTEGER) AS name_len,
                CAST(levenshtein(p_name, 'blue bolt') AS INTEGER) AS edit_dist
         FROM part ORDER BY p_partkey""",
    "q_scan_full" ->
      "SELECT * FROM customer ORDER BY c_custkey",
    "q_zorder" ->
      """WITH q AS (SELECT c_custkey, c_custkey % 65536 AS x,
                           CAST(floor(c_acctbal) AS BIGINT) & 65535 AS y
                    FROM customer),
         a AS (SELECT *, (x | (x << 8)) & 16711935 AS xs,
                         (y | (y << 8)) & 16711935 AS ys FROM q),
         b AS (SELECT *, (xs | (xs << 4)) & 252645135 AS xs2,
                         (ys | (ys << 4)) & 252645135 AS ys2 FROM a),
         c AS (SELECT *, (xs2 | (xs2 << 2)) & 858993459 AS xs3,
                         (ys2 | (ys2 << 2)) & 858993459 AS ys3 FROM b),
         e AS (SELECT *, (xs3 | (xs3 << 1)) & 1431655765 AS xs4,
                         (ys3 | (ys3 << 1)) & 1431655765 AS ys4 FROM c)
         SELECT c_custkey, x, y, xs4 | (ys4 << 1) AS zval
         FROM e ORDER BY zval, c_custkey""",
    "q_project" ->
      """SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem
         ORDER BY l_orderkey, l_quantity, l_extendedprice""",
    "q_filter_eq" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "q_filter_when" ->
      """SELECT l_orderkey, l_linenumber,
                CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_return,
                CASE WHEN l_quantity >= 25 THEN 'high' ELSE 'low' END AS qty_band
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_dropna" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
           AND o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
           AND o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
         ORDER BY o_orderkey""",
    "q_null_count" ->
      """SELECT CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderkey,
                CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_custkey,
                CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderstatus,
                CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_totalprice,
                CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderdate,
                CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderpriority,
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                   + sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   + sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                   + sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                   + sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                   + sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_total
         FROM orders""",
    "q_hcc_detect" ->
      """SELECT col_name, n_distinct,
                CASE WHEN n_distinct > 100 THEN 1 ELSE 0 END AS is_hcc
         FROM (
           SELECT 'p_brand' AS col_name, count(DISTINCT p_brand) AS n_distinct FROM part
           UNION ALL
           SELECT 'p_name', count(DISTINCT p_name) FROM part
           UNION ALL
           SELECT 'p_type', count(DISTINCT p_type) FROM part)
         ORDER BY col_name""",
    "q_sort" ->
      """SELECT c_mktsegment, c_acctbal, c_custkey FROM customer
         ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC""",
    "q_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 10""",
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""",
    "q_union_all" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_totalprice >= 100000.0
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_totalprice < 50000.0)
         ORDER BY o_orderkey""",
    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey FROM supplier
         ORDER BY nationkey""",
    "q_except" ->
      """SELECT o_orderkey AS orderkey FROM orders
         EXCEPT
         SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY orderkey""",
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q_agg_avg" ->
      "SELECT round(avg(l_extendedprice), 2) AS avg_price FROM lineitem",
    "q_agg_count" ->
      "SELECT count(*) AS n_rows FROM lineitem",
    "q_agg_distinct" ->
      """SELECT count(DISTINCT l_orderkey) AS n_orderkeys,
                count(DISTINCT l_partkey) AS n_partkeys,
                count(DISTINCT l_returnflag) AS n_flags
         FROM lineitem""",
    "q_agg_stats" ->
      """SELECT count(*) AS n,
                round(min(l_extendedprice), 2) AS min_price,
                round(max(l_extendedprice), 2) AS max_price,
                round(avg(l_extendedprice), 2) AS avg_price,
                round(stddev_samp(l_extendedprice), 4) AS std_price
         FROM lineitem""",
    "q_agg_corr" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                round(corr(l_discount, l_extendedprice), 6) AS corr_disc_price
         FROM lineitem""",
    "q_regr_group" ->
      """SELECT l_returnflag, count(*) AS n,
                round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
                round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
                round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_string_agg" ->
      """SELECT c_mktsegment,
                string_agg(DISTINCT c_nationkey, ',' ORDER BY c_nationkey)
                  AS nations,
                count(*) AS n_rich
         FROM customer WHERE c_acctbal > 9000
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_cov_matrix" ->
      """SELECT round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
                round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
                round(covar_samp(l_extendedprice, l_discount), 4) AS cov_price_disc,
                round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
                round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc
         FROM lineitem""",
    "q_groupby" ->
      """SELECT l_returnflag, l_linestatus,
                sum(l_quantity) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
                sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q_zscore_outliers" ->
      """WITH stats AS (SELECT l_returnflag, avg(l_extendedprice) AS m,
                               stddev_samp(l_extendedprice) AS sd
                        FROM lineitem GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l_returnflag,
                round((l_extendedprice - m) / sd, 4) AS z
         FROM lineitem JOIN stats USING (l_returnflag)
         WHERE abs(round((l_extendedprice - m) / sd, 4)) > 1.5
         ORDER BY l_orderkey, l_linenumber""",
    "q_quantiles_grouped" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the selection form must reproduce quantile_cont EXACTLY — same
    // oracle text, so a hash match proves the rank-pick + lerp exact
    "q_quantiles_grouped_sel" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the one-shot aggregate: hash equality proves merge ≡ recompute
    "q_agg_incremental" ->
      """SELECT o_custkey, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS total_spend
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_psi_drift" ->
      """WITH ref AS (SELECT o_totalprice AS v FROM orders
                      WHERE o_orderkey % 2 = 0),
         c AS (SELECT quantile_cont(v, 0.1) AS c1,
                      quantile_cont(v, 0.2) AS c2,
                      quantile_cont(v, 0.3) AS c3,
                      quantile_cont(v, 0.4) AS c4,
                      quantile_cont(v, 0.5) AS c5,
                      quantile_cont(v, 0.6) AS c6,
                      quantile_cont(v, 0.7) AS c7,
                      quantile_cont(v, 0.8) AS c8,
                      quantile_cont(v, 0.9) AS c9
               FROM ref),
         b AS (SELECT CAST(o_totalprice > c1 AS INTEGER)
                    + CAST(o_totalprice > c2 AS INTEGER)
                    + CAST(o_totalprice > c3 AS INTEGER)
                    + CAST(o_totalprice > c4 AS INTEGER)
                    + CAST(o_totalprice > c5 AS INTEGER)
                    + CAST(o_totalprice > c6 AS INTEGER)
                    + CAST(o_totalprice > c7 AS INTEGER)
                    + CAST(o_totalprice > c8 AS INTEGER)
                    + CAST(o_totalprice > c9 AS INTEGER) AS bin,
                      sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                        AS n_ref,
                      sum(CASE WHEN o_orderkey % 2 <> 0 THEN 1 ELSE 0 END)
                        AS n_cur
               FROM orders, c GROUP BY bin),
         m AS (SELECT bin, n_ref, n_cur,
                      n_ref / sum(n_ref) OVER () AS p,
                      n_cur / sum(n_cur) OVER () AS q
               FROM b)
         SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
                CAST(n_cur AS BIGINT) AS n_cur,
                round(p, 6) AS p, round(q, 6) AS q,
                round((q - p) * ln(q / p), 6) AS psi_contrib
         FROM m ORDER BY bin""",
    // n_top80 = customers strictly below the 0.8 cumulative-share
    // mark; per-customer spend in integer cents so the running total
    // is exact and the rounded share cut cannot flip on a last ulp
    "q_pareto_revenue" ->
      """WITH g AS (SELECT o_custkey,
                           sum(CAST(round(o_totalprice * 100) AS BIGINT))
                             AS spend
                    FROM orders GROUP BY 1),
         wdw AS (SELECT spend,
                        round(sum(spend) OVER (ORDER BY spend DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          / sum(spend) OVER (), 6) AS cum_share,
                        row_number() OVER (ORDER BY spend DESC, o_custkey)
                          AS rk,
                        count(*) OVER () AS n_cust
                 FROM g)
         SELECT CAST(max(n_cust) AS BIGINT) AS n_customers,
                CAST(sum(CASE WHEN cum_share < 0.8 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_top80,
                round(sum(CASE WHEN rk * 100 <= n_cust THEN spend END)
                  / sum(spend), 6) AS top1pct_share
         FROM wdw""",
    "q_ks_test" ->
      """WITH g AS (SELECT o_totalprice AS v,
                      sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
                        AS ca,
                      sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END)
                        AS cb
               FROM orders GROUP BY 1),
         cum AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
                        sum(cb) OVER (ORDER BY v) AS cumb
                 FROM g),
         t AS (SELECT sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
                        AS na,
                      sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END)
                        AS nb
               FROM orders)
         SELECT max(round(abs(cuma / na - cumb / nb), 6)) AS ks_d,
                CAST(max(na) AS BIGINT) AS n_a,
                CAST(max(nb) AS BIGINT) AS n_b
         FROM cum, t""",
    // tie order pinned by the explicit (count desc, value asc) rank —
    // neither engine's native mode() defines it
    "q_agg_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
                    FROM orders GROUP BY 1, 2),
         r AS (SELECT o_orderstatus, o_orderpriority, n,
                      row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY n DESC, o_orderpriority) AS rk
               FROM c)
         SELECT o_orderstatus, o_orderpriority AS mode_val, n
         FROM r WHERE rk = 1 ORDER BY o_orderstatus""",
    "q_histogram_eqdepth" ->
      """WITH c AS (SELECT quantile_cont(o_totalprice, 0.1) AS c1,
                           quantile_cont(o_totalprice, 0.2) AS c2,
                           quantile_cont(o_totalprice, 0.3) AS c3,
                           quantile_cont(o_totalprice, 0.4) AS c4,
                           quantile_cont(o_totalprice, 0.5) AS c5,
                           quantile_cont(o_totalprice, 0.6) AS c6,
                           quantile_cont(o_totalprice, 0.7) AS c7,
                           quantile_cont(o_totalprice, 0.8) AS c8,
                           quantile_cont(o_totalprice, 0.9) AS c9
                    FROM orders)
         SELECT CAST(o_totalprice > c1 AS INTEGER)
              + CAST(o_totalprice > c2 AS INTEGER)
              + CAST(o_totalprice > c3 AS INTEGER)
              + CAST(o_totalprice > c4 AS INTEGER)
              + CAST(o_totalprice > c5 AS INTEGER)
              + CAST(o_totalprice > c6 AS INTEGER)
              + CAST(o_totalprice > c7 AS INTEGER)
              + CAST(o_totalprice > c8 AS INTEGER)
              + CAST(o_totalprice > c9 AS INTEGER) AS bucket,
                count(*) AS n,
                round(min(o_totalprice), 2) AS lo,
                round(max(o_totalprice), 2) AS hi
         FROM orders, c GROUP BY bucket ORDER BY bucket""",
    "q_mutual_info" ->
      """WITH joint AS (
           SELECT c_mktsegment, o_orderpriority, count(*) AS nxy
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         m AS (SELECT nxy,
                      sum(nxy) OVER (PARTITION BY c_mktsegment) AS nx,
                      sum(nxy) OVER (PARTITION BY o_orderpriority) AS ny,
                      sum(nxy) OVER () AS n
               FROM joint)
         SELECT round(sum((nxy / n) * log2((nxy * n) / (nx * ny))), 6)
                  AS mi_bits,
                CAST(max(n) AS BIGINT) AS n_rows
         FROM m""",
    "q_table_diff" ->
      """WITH a AS (SELECT o_orderkey AS ak, o_orderstatus AS ast,
                           round(o_totalprice, 2) AS old_price
                    FROM orders WHERE o_orderkey % 5 <> 4),
         b AS (SELECT o_orderkey AS bk, o_orderstatus AS bst,
                      CASE WHEN o_orderkey % 3 = 0
                           THEN round(o_totalprice + 10.0, 2)
                           ELSE round(o_totalprice, 2) END AS new_price
               FROM orders WHERE o_orderkey % 7 <> 0)
         SELECT coalesce(ak, bk) AS o_orderkey,
                CASE WHEN ak IS NULL THEN 'added'
                     WHEN bk IS NULL THEN 'removed'
                     ELSE 'changed' END AS status,
                old_price, new_price
         FROM a FULL JOIN b ON ak = bk
         WHERE ak IS NULL OR bk IS NULL
            OR old_price IS DISTINCT FROM new_price
            OR ast IS DISTINCT FROM bst
         ORDER BY o_orderkey""",
    "q_rfm" ->
      """WITH m AS (SELECT o_custkey,
                           CAST(date_diff('day',
                                  CAST(max(o_orderdate) AS DATE),
                                  DATE '1998-12-31') AS INTEGER) AS rec_days,
                           count(*) AS freq,
                           round(sum(o_totalprice), 2) AS mon
                    FROM orders GROUP BY 1),
         c AS (SELECT quantile_cont(rec_days, 0.25) AS r25,
                      quantile_cont(rec_days, 0.50) AS r50,
                      quantile_cont(rec_days, 0.75) AS r75,
                      quantile_cont(freq, 0.25) AS f25,
                      quantile_cont(freq, 0.50) AS f50,
                      quantile_cont(freq, 0.75) AS f75,
                      quantile_cont(mon, 0.25) AS m25,
                      quantile_cont(mon, 0.50) AS m50,
                      quantile_cont(mon, 0.75) AS m75
               FROM m)
         SELECT o_custkey, rec_days, freq, mon,
                1 + CAST(rec_days > r25 AS INTEGER)
                  + CAST(rec_days > r50 AS INTEGER)
                  + CAST(rec_days > r75 AS INTEGER) AS r_q,
                1 + CAST(freq > f25 AS INTEGER)
                  + CAST(freq > f50 AS INTEGER)
                  + CAST(freq > f75 AS INTEGER) AS f_q,
                1 + CAST(mon > m25 AS INTEGER)
                  + CAST(mon > m50 AS INTEGER)
                  + CAST(mon > m75 AS INTEGER) AS m_q,
                CAST(1 + CAST(rec_days > r25 AS INTEGER)
                       + CAST(rec_days > r50 AS INTEGER)
                       + CAST(rec_days > r75 AS INTEGER) AS VARCHAR) ||
                CAST(1 + CAST(freq > f25 AS INTEGER)
                       + CAST(freq > f50 AS INTEGER)
                       + CAST(freq > f75 AS INTEGER) AS VARCHAR) ||
                CAST(1 + CAST(mon > m25 AS INTEGER)
                       + CAST(mon > m50 AS INTEGER)
                       + CAST(mon > m75 AS INTEGER) AS VARCHAR) AS segment
         FROM m, c ORDER BY o_custkey""",
    // the oracle states the DECLARATIVE dominance predicate; the
    // engine's sort-based prefix-max plan must keep the same frontier
    "q_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice
             AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
         ORDER BY p.p_partkey""",
    "q_quantiles" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
         FROM lineitem""",
    // the selection form shares the buffered form's oracle text — the
    // hash gate is what PROVES the two plans compute the same statistic
    "q_quantiles_sel" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
         FROM lineitem""",
  )
}
