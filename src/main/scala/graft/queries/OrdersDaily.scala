package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Memoized calendar-day order grid — the shared series grain of every
  * trend/temporal estimator (CUSUM, ACF/PACF, rolling fits, changepoint,
  * ADF/KPSS, adstock, …) and the StatQueries daily builders.
  *
  * The grid is calendar-bounded (2 399 days at every SF — bounded by the
  * TPC-H date range, not data volume), so persisting it is a few KB of
  * state while each consumer skips its own orders scan + group. At
  * 100 TB this is the decision of landing the daily rollup as a TABLE
  * once and pointing every downstream analysis at it, instead of 20+
  * jobs each re-aggregating the fact table to the identical grain.
  *
  * `v` is exact integer cents (the repo's int128/exact-cents float
  * protocol); [[dollars]] derives the 2-decimal double view from it —
  * equal to round(sum(o_totalprice), 2) because the per-day double-sum
  * error in either engine is orders of magnitude below the half-cent
  * rounding grain.
  *
  * [[indexed]] is the one day index of the grid: `rk`, the 1-based day
  * order. It is a plain partition-less `row_number` window, which is
  * safe here because the grid is bounded by the calendar, not by the
  * data — one task numbers ≤2 399 rows at any SF. Data-sized inputs
  * are numbered by [[ScaledWindow.rankCum]] instead. The index is a
  * pure function of the grid, so a plan recomputed after its caches
  * are dropped numbers every day the same way.
  */
private[queries] object OrdersDaily {
  private def grid(s: SparkSession, d: String): DataFrame =
    SessionMemo("temporal.ordersDaily", s, d) {
      Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
    }

  /** day, v (exact long cents). */
  def cents(s: SparkSession, d: String): DataFrame =
    grid(s, d).select("day", "v")

  /** day, cnt, v (exact long cents). */
  def withCnt(s: SparkSession, d: String): DataFrame =
    grid(s, d).select("day", "cnt", "v")

  /** day, cnt, v (exact long cents), rk (1-based day order, long). */
  def indexed(s: SparkSession, d: String): DataFrame =
    withCnt(s, d)
      .withColumn("rk", row_number().over(Window.orderBy("day")).cast("long"))

  /** day, v (revenue dollars rounded to 2 decimals, double). */
  def dollars(s: SparkSession, d: String): DataFrame =
    grid(s, d).select(col("day"), round(col("v") / 100.0, 2).as("v"))
}
