package graft

import org.apache.spark.sql.functions._
import graft.queries.RelationalQueries

class RelationalQueriesSpec extends SparkSpec {

  private def run(name: String) =
    RelationalQueries.queries(name)(spark, sf)

  test("every relational query executes and returns rows") {
    RelationalQueries.queries.keys.foreach { name =>
      val df = run(name)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("every oracle key has a query") {
    val missing = RelationalQueries.oracles.keySet -- RelationalQueries.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q_agg_count equals table count") {
    val n = run("q_agg_count").collect()(0).getLong(0)
    assert(n == Tables.lineitem(spark, sf).count())
  }

  test("q_union_all count is sum of branch counts") {
    val o = Tables.orders(spark, sf)
    val expect = o.filter(col("o_totalprice") >= 100000.0).count() +
      o.filter(col("o_totalprice") < 50000.0).count()
    assert(run("q_union_all").count() == expect)
  }

  test("q_groupby group keys cover the table") {
    val got = run("q_groupby").select("l_returnflag", "l_linestatus").collect().toSet
    val all = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_linestatus").distinct().collect().toSet
    assert(got == all)
  }

  test("q_rollup includes the grand-total row") {
    val rows = run("q_rollup").collect()
    val total = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(total.length == 1)
    assert(total(0).getAs[Long]("n") == Tables.lineitem(spark, sf).count())
  }

  test("q_filter_eq keeps only R rows") {
    val flags = run("q_filter_eq").select("l_returnflag").distinct().collect()
    assert(flags.map(_.getString(0)).toSeq == Seq("R"))
  }

  test("q_topk is ordered descending") {
    val vals = run("q_topk").select("o_totalprice").collect().map(_.getDouble(0))
    assert(vals.sameElements(vals.sorted(Ordering[Double].reverse)))
  }

  test("projection prunes columns at the parquet scan") {
    val plan = run("q_project").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_comment") && !plan.contains("l_shipdate"),
      "scan must not read unprojected columns")
  }

  test("top-k per key aggregator matches the window-rank result") {
    val got = run("q_topk_per_key").collect().map(_.toSeq)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val want = Tables.orders(spark, sf)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rnk")
      .collect().map(_.toSeq)
    assert(got.sameElements(want))
  }

  test("z-score outliers all exceed the threshold and match a recompute") {
    val rows = RelationalQueries.queries("q_zscore_outliers")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getDouble(3)) > 1.5))
    // per-group recompute of mean/stddev and the filtered key set
    val data = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val want = data.groupBy(_._3).toSeq.flatMap { case (_, g) =>
      val xs = g.map(_._4)
      val m = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
      g.filter { case (_, _, _, x) =>
        math.abs(BigDecimal((x - m) / sd)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) > 1.5
      }.map(t => (t._1, t._2))
    }.toSet
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSet == want)
  }

  test("HLL distinct estimates stay within the declared error bound") {
    val approx = RelationalQueries.queries("q_agg_approx_distinct")(spark, sf)
      .collect().head
    val exactOrders = Tables.lineitem(spark, sf)
      .select("l_orderkey").distinct().count()
    val exactParts = Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    // rsd = 0.025 declared; allow ~5 sigma for the small-cardinality regime
    def within(est: Long, exact: Long): Boolean =
      math.abs(est - exact) <= math.max(1L, (exact * 0.125).toLong)
    assert(within(approx.getLong(0), exactOrders),
      s"orderkeys: est ${approx.getLong(0)} vs exact $exactOrders")
    assert(within(approx.getLong(1), exactParts),
      s"partkeys: est ${approx.getLong(1)} vs exact $exactParts")
  }

  test("approx quantiles track the exact ones") {
    val approx = run("q_quantiles_approx").head()
    val exact = run("q_quantiles").head()
    (0 until 4).foreach { i =>
      val a = approx.getDouble(i); val e = exact.getDouble(i)
      assert(math.abs(a - e) / e < 0.05, s"p$i approx $a vs exact $e")
    }
  }

  test("selection-form global quantiles equal the buffered percentile form") {
    // same statistic through a completely different physical plan:
    // range-sorted distributed selection (8 order statistics to the
    // driver) vs the in-plan histogram narrowing of q_quantiles (the
    // name predates it: q_quantiles buffered a percentile aggregate)
    val sel = run("q_quantiles_sel").head()
    val hist = run("q_quantiles").head()
    (0 until 4).foreach { i =>
      assert(sel.getDouble(i) == hist.getDouble(i),
        s"col $i: selection ${sel.getDouble(i)} vs narrowing ${hist.getDouble(i)}")
    }
  }

  test("fingerprint64 is callable from SQL after registration") {
    graft.functions.Fingerprint64.register(spark)
    val got = spark.sql("SELECT fingerprint64('hello graft')").head().getLong(0)
    assert(got == graft.functions.Fingerprint64.hash("hello graft".getBytes("UTF-8")))
  }

  test("filter is pushed down to the parquet scan") {
    val plan = run("q_filter_eq").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_returnflag"))
  }
}
