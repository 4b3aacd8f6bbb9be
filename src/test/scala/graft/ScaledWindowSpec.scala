package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.ScaledWindow
import graft.scale.PlanAudit

/** The bucketed rank/cumsum must be value-identical to the
  * single-partition window it replaces at any shuffle-partition count,
  * build without starting a Spark job, and plan none of the
  * partition-less WindowExec shape PlanAudit flags.
  */
class ScaledWindowSpec extends SparkSpec {

  private def perCustomerCents = Tables.orders(spark, sf)
    .groupBy("o_custkey")
    .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))

  private def withParts[T](p: Int)(body: => T): T =
    withConf("spark.sql.shuffle.partitions" -> p.toString)(body)

  /** The value of a scalar column such as `Ranked.n`. */
  private def scalar(c: Column): Long = spark.range(1).select(c).head().getLong(0)

  test("rankCum equals the global-window form, at several partition counts") {
    val df = perCustomerCents
    val w = Window.orderBy(col("v").desc, col("o_custkey").asc)
    val expect = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("o_custkey", "rk", "cum")
      .collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long])
    Seq(1, 3, 32).foreach { p =>
      val got = withParts(p) {
        ScaledWindow
          .rankCum(df, Seq(col("v").desc, col("o_custkey").asc),
            Seq("cum" -> col("v")))
          .df.select("o_custkey", "rk", "cum")
          .collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long])
      }
      assert(got.toSeq == expect.toSeq, s"mismatch at $p shuffle partitions")
    }
  }

  test("driver-known totals match the aggregate truth") {
    val df = perCustomerCents
    val rnk = withParts(5)(ScaledWindow.rankCum(df,
      Seq(col("v").asc, col("o_custkey").asc), Seq("cum" -> col("v"))))
    val truth = df.agg(count(lit(1)), sum("v")).head()
    assert(scalar(rnk.n) == truth.getLong(0))
    assert(scalar(rnk.total) == truth.getLong(1))
  }

  test("rank-only mode needs no value column") {
    val df = perCustomerCents
    val rnk = withParts(4)(ScaledWindow.rankCum(df,
      Seq(col("v").asc, col("o_custkey").asc)))
    assert(!rnk.df.columns.contains("cum"))
    val rks = rnk.df.select("rk").collect().map(_.getLong(0)).sorted
    assert(rks.toSeq == (1L to scalar(rnk.n)).toSeq)
  }

  test("PlanAudit flags the partition-less window, passes the two-pass form") {
    val df = perCustomerCents
    val global = df.withColumn("rk",
      row_number().over(Window.orderBy(col("v").asc, col("o_custkey").asc)))
    assert(PlanAudit.findings(global).exists(_.kind == "globalwindow"))
    // the reviewed-exception path clears it (month grids, duration axes)
    assert(!PlanAudit.findings(global, allow = Set("globalwindow"))
      .exists(_.kind == "globalwindow"))
    val bucketed = ScaledWindow.rankCum(df,
      Seq(col("v").asc, col("o_custkey").asc), Seq("cum" -> col("v"))).df
    assert(!PlanAudit.findings(bucketed).exists(_.kind == "globalwindow"))
  }

  test("building a rankCum plan starts no Spark job") {
    val df = perCustomerCents
    df.schema // the table footer read is not rankCum's
    assert(jobsDuring(ScaledWindow.rankCum(df,
      Seq(col("v").desc, col("o_custkey").asc),
      Seq("cum" -> col("v"), "c2" -> col("o_custkey")))) == 0)
  }

  test("property: rankCum equals the window form on random tied data") {
    // randomized cross-check: heavy ties in the primary and descending
    // sort keys (the tie-break column must resolve them), negative
    // values, several metrics at once, assorted partition counts — and
    // neither exchange nor subquery reuse to lean on
    val rnd = new scala.util.Random(20260814L)
    (1 to 5).foreach { trial =>
      val n = 200 + rnd.nextInt(800)
      val rows = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong - 500,
          rnd.nextInt(100).toLong)
      }
      val s = spark
      import s.implicits._
      val df = rows.toDF("id", "v", "m1", "m2")
      val parts = 1 + rnd.nextInt(40)
      val (got, gotRows, gotN, gotC1, gotC2) = withConf(
        "spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.exchange.reuse" -> "false",
        "spark.sql.execution.reuseSubquery" -> "false") {
        val got = ScaledWindow.rankCum(df,
          Seq(col("v").asc, col("m2").desc, col("id").asc),
          Seq("c1" -> col("m1"), "c2" -> col("m2")))
        (got, got.df.select("id", "rk", "c1", "c2").collect(),
          scalar(got.n), scalar(got.totals("c1")), scalar(got.totals("c2")))
      }
      // sequential truth
      val sorted = rows.sortBy(r => (r._2, -r._4, r._1))
      var (a, b) = (0L, 0L)
      val want = sorted.zipWithIndex.map { case ((id, _, m1, m2), i) =>
        a += m1; b += m2
        id -> ((i + 1).toLong, a, b)
      }.toMap
      assert(gotRows.length == n)
      gotRows.foreach { r =>
        val (id, rk, c1, c2) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        assert(want(id) == ((rk, c1, c2)),
          s"trial $trial parts $parts id $id: got ($rk,$c1,$c2) want ${want(id)}")
      }
      assert(got.df.columns.toSeq == Seq("id", "v", "m1", "m2", "rk", "c1", "c2"))
      assert(gotN == n.toLong)
      assert(gotC1 == rows.map(_._3).sum)
      assert(gotC2 == rows.map(_._4).sum)
    }
  }

  test("rankCum on empty input yields an empty frame and zero totals") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    val rnk = withParts(8)(ScaledWindow.rankCum(empty,
      Seq(col("v").asc, col("id").asc), Seq("c" -> col("v"))))
    assert(rnk.df.count() == 0)
    assert(scalar(rnk.n) == 0L)
    assert(scalar(rnk.totals("c")) == 0L)
  }

  test("the de-globalized queries plan no partition-less WindowExec") {
    Seq("q_gini", "q_abc_class", "q_pareto_revenue").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val fs = PlanAudit.findings(df).filter(_.kind == "globalwindow")
      assert(fs.isEmpty, s"$name still plans a global window: $fs")
    }
  }
}
