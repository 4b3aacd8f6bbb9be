package graft

import org.apache.spark.sql.functions._
import graft.queries.RelationalQueries

/** Exactness of the histogram narrowing, global and grouped
  * ([[RelationalQueries.exactQuantiles]]). The test scale factors are
  * too uniform to stress it, so this spec synthesizes the hostile shapes —
  * a column that is 99% one VALUE (the hot cell answers from its
  * bounds) and a column 99% concentrated in one cell's WIDTH but
  * distinct inside it (the cell splits again; the SkewSpec key-grain
  * argument shows the window partitions shrink to O(n_hot/2048)) — and
  * the edge cases, and checks every result EXACTLY against the
  * sorted-array order statistics, i.e. the oracle hash could not
  * change. */
class HistogramQuantilesSpec extends SparkSpec {

  // 0.001 lands in the 1%-outlier tail; the rest land in the hot cell
  // (answered from its bounds, or split again)
  private val ps = Seq(0.001, 0.5, 0.9, 0.99)

  /** The quantiles of the one row of a global
    * [[RelationalQueries.exactQuantiles]]. */
  private def global(df: org.apache.spark.sql.DataFrame, ps: Seq[Double]): Seq[Double] =
    RelationalQueries.exactQuantiles(df, "x", ps).head().getSeq[Double](0)

  private def model(values: Array[Double], p: Double): Double = {
    val sorted = values.sorted
    val pos = p * (sorted.length - 1)
    val lo = sorted(math.floor(pos).toInt)
    val hi = sorted(math.ceil(pos).toInt)
    lo + (hi - lo) * (pos - math.floor(pos))
  }

  test("99%-one-value column: hot bucket short-circuits, result exact") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(15)
    // outliers live in [0, 20) — strictly OUTSIDE the hot bucket's
    // width, so the hot bucket's actual min == max == 42.0 and every
    // rank in it resolves from the bounds pass alone
    val vals = Array.fill(200000)(
      if (rnd.nextInt(100) == 0) rnd.nextDouble() * 20.0 else 42.0)
    val got = global(vals.toSeq.toDF("x"), ps)
    ps.zip(got).foreach { case (p, g) =>
      assert(g == model(vals, p), s"p=$p: $g vs ${model(vals, p)}")
    }
    // the fixture must actually exceed the recursion cutoff
    val n = vals.length
    val hot = vals.count(_ == 42.0)
    assert(hot > math.max(4096L, 16L * (n / 2048 + 1)),
      s"fixture not hot enough: $hot of $n")
  }

  test("dense-narrow bucket re-histograms: pass-2 grain is O(n/nBuckets)") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(16)
    // outliers avoid the hot bucket's width entirely ([0,40) and
    // (60,100]) so the re-histogram's [min,max] is the dense span
    // itself — the pure form of the recursion's grain claim (an
    // in-bucket outlier would stretch the sub-range and dilute the
    // shrink to the spread ratio, still a ~60x win, just noisier)
    val vals = Array.fill(200000)(
      if (rnd.nextInt(100) == 0) {
        val u = rnd.nextDouble()
        if (u < 0.5) u * 80.0 else 60.0 + (u - 0.5) * 80.0
      } else 50.0 + rnd.nextDouble() * 0.001)
    val got = global(vals.toSeq.toDF("x"), ps)
    ps.zip(got).foreach { case (p, g) =>
      assert(g == model(vals, p), s"p=$p: $g vs ${model(vals, p)}")
    }
    // key-grain evidence (the SkewSpec technique: a window partition
    // receives ALL rows of its key): the plain bucket key concentrates
    // ~99% of rows in one partition; the (bucket, sub-bucket) key the
    // recursion ranks on bounds every cell far below that
    val nB = 2048
    val mn = vals.min; val mx = vals.max; val w = (mx - mn) / nB
    def bucket(x: Double) =
      math.min(math.max(math.floor((x - mn) / w).toInt, 0), nB - 1)
    val hotB = vals.groupBy(bucket).maxBy(_._2.length)._1
    val hotRows = vals.filter(v => bucket(v) == hotB)
    assert(hotRows.length > vals.length * 9 / 10,
      s"fixture: one bucket must be hot, got ${hotRows.length}")
    val bmn = hotRows.min; val bmx = hotRows.max; val ws = (bmx - bmn) / nB
    val subMax = hotRows.groupBy(v =>
        math.min(math.max(math.floor((v - bmn) / ws).toInt, 0), nB - 1))
      .values.map(_.length).max
    assert(subMax <= hotRows.length / 512,
      s"sub-bucket grain $subMax of ${hotRows.length} — re-histogram " +
        "did not shrink the hot bucket's rank-window input")
  }

  test("grouped narrowing: a skewed group beside a uniform one, both exact") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(17)
    val rows =
      Array.fill(120000)(("hot",
        if (rnd.nextInt(100) == 0) rnd.nextDouble() * 20.0 else 42.0)) ++
        Array.fill(20000)(("uni", rnd.nextDouble() * 100.0))
    val out = RelationalQueries.exactQuantiles(
        rows.toSeq.toDF("g", "x"), "x", Seq(0.25, 0.5, 0.9), "g")
      .select(col("g") +: (0 to 2).map(i => round(col("q")(i), 4)): _*)
      .collect()
      .map(r => r.getString(0)
        -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    def m(g: String, p: Double): Double = {
      val vs = rows.filter(_._1 == g).map(_._2)
      BigDecimal(model(vs, p))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    Seq("hot", "uni").foreach { g =>
      assert(out(g)._1 == m(g, 0.25), s"$g p25: ${out(g)._1} vs ${m(g, 0.25)}")
      assert(out(g)._2 == m(g, 0.5), s"$g p50: ${out(g)._2} vs ${m(g, 0.5)}")
      assert(out(g)._3 == m(g, 0.9), s"$g p90: ${out(g)._3} vs ${m(g, 0.9)}")
    }
  }

  test("empty input: one row of null quantiles globally, no row per group") {
    val ss = spark
    import ss.implicits._
    val empty = Seq.empty[(String, Double)].toDF("g", "x")
    val row = RelationalQueries.exactQuantiles(empty, "x", ps).collect().toSeq
    assert(row.length == 1 && row.head.getSeq[Any](0) == Seq.fill(ps.length)(null))
    // nulls are skipped: an all-null column is empty too
    val nulls = Seq(("a", None: Option[Double])).toDF("g", "x")
    assert(RelationalQueries.exactQuantiles(nulls, "x", ps).head().getSeq[Any](0) ==
      Seq.fill(ps.length)(null))
    assert(RelationalQueries.exactQuantiles(empty, "x", ps, "g").count() == 0)
  }

  test("single-value column and group: every quantile is that value") {
    val ss = spark
    import ss.implicits._
    assert(global(Seq.fill(5000)(42.5).toDF("x"), ps) == ps.map(_ => 42.5))
    assert(global(Seq(7.0).toDF("x"), ps) == ps.map(_ => 7.0))
    val rnd = new scala.util.Random(18)
    val mixed = Array.fill(3000)(rnd.nextDouble() * 10.0)
    val rows = mixed.map(("mix", _)) ++ Array.fill(3000)(("one", -3.25))
    val out = RelationalQueries.exactQuantiles(rows.toSeq.toDF("g", "x"), "x", ps, "g")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(out("one") == ps.map(_ => -3.25))
    assert(out("mix") == ps.map(model(mixed, _)))
  }

  test("grouped narrowing takes any number of percentiles") {
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(19)
    val rows = Array.fill(20000)((s"g${rnd.nextInt(3)}", rnd.nextGaussian() * 100.0))
    val df = rows.toSeq.toDF("g", "x")
    Seq(Seq(0.5), ps).foreach { qs =>
      val out = RelationalQueries.exactQuantiles(df, "x", qs, "g")
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(out.keySet == Set("g0", "g1", "g2"))
      out.foreach { case (g, got) =>
        val vs = rows.filter(_._1 == g).map(_._2)
        assert(got == qs.map(model(vs, _)), s"$g at $qs")
      }
    }
  }

  test("building each exact-quantile query starts no Spark job") {
    Tables.names.foreach(n => Tables.read(spark, sf, n).schema) // footers are not the narrowing's
    Seq("q_quantiles", "q_quantiles_grouped", "q_histogram_eqdepth",
      "q_hdr_quantiles", "q_psi_drift", "q_sketch_error").foreach { name =>
      assert(jobsDuring(SparkEntry.queries(name)(spark, sf)) == 0, name)
    }
  }
}
