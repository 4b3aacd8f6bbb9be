package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Descending, NullsLast}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types._

/** Distributed global rank / running sum — the values of
  * `row_number().over(Window.orderBy(...))` and of an inclusive running
  * `sum`, as one lazy plan: building it starts no Spark job.
  *
  * A partition-less window moves EVERY row to one task (Spark's own
  * `WindowExec: No Partition Defined` warning); fine on a month grid,
  * fatal on a 100 TB dimension. This helper keeps the same semantics
  * with no single-partition stage:
  *
  *  1. bounds: the `parts × perBound` rows with the smallest
  *     `xxhash64` of their sort key (an exact sample, not a random
  *     one), sorted, every `perBound`-th key kept; `parts` is the
  *     session's `spark.sql.shuffle.partitions`;
  *  2. each row's bucket is the number of bounds ≤ its key (a binary
  *     search) — a pure function of the row and the data, so buckets
  *     hold disjoint, ordered key ranges;
  *  3. one aggregate over the ≤parts bucket rows gives every bucket's
  *     starting rank and starting sums, and the grand totals;
  *  4. a window PARTITIONED BY bucket (parallel, range-sized) plus the
  *     bucket's offset = the global rank / running total.
  *
  * Bounds, offsets and totals are scalar subqueries of the returned
  * plan, and two evaluations of any of them agree. A result therefore
  * depends on no cache, partition id, exchange reuse or subquery
  * reuse.
  *
  * The running sum is restricted to INTEGRAL metrics (the repo's
  * integer-cents protocol): long addition is associative, so the
  * offset decomposition is bit-identical to a sequential left-to-right
  * scan — a double cumsum would change association and could flip a
  * rounded boundary against the oracle.
  *
  * `sortCols` must totally order the rows (tie-break included), or the
  * rank is nondeterministic — same contract as any ORDER BY rank. A
  * descending sort column must be numeric.
  */
object ScaledWindow {

  /** `df` + `rk` (1-based global rank, long) and one inclusive running
    * sum column (long) per `values` entry, named by its alias; `n` and
    * `totals` are the grand row count and sums as scalar columns (use
    * them instead of a partition-less `count().over()` / `sum().over()`). */
  final case class Ranked(df: DataFrame, n: Column, totals: Map[String, Column]) {
    /** The single-metric total (convenience for one-value callers). */
    def total: Column = totals.values.headOption.getOrElse(lit(0L))
  }

  /** Sampled keys per bucket bound. */
  private val perBound = 20

  def rankCum(df: DataFrame, sortCols: Seq[Column],
      values: Seq[(String, Column)] = Nil): Ranked = {
    val parts = shufflePartitions(df)
    val keyed = bucketed(df, sortCols)
    val metrics = "_c" +: values.indices.map(i => s"_s$i")
    val perBucket = keyed.groupBy("_b").agg(count(lit(1)).as("_c"),
      values.zipWithIndex.map { case ((_, v), i) =>
        sum(v.cast("long")).as(s"_s$i") }: _*)
    // metric m summed over the buckets below b
    def below(m: String, b: Column) = aggregate(
      filter(col("a"), x => x("_b") < b), lit(0L),
      (acc, x) => acc + coalesce(x(m), lit(0L)))
    val summary = perBucket
      .agg(array_agg(struct(("_b" +: metrics).map(col): _*)).as("a"))
      .select(struct(metrics.map(m => struct(
        below(m, lit(parts)).as("total"),
        transform(sequence(lit(0), lit(parts - 1)), b => below(m, b))
          .as("offsets")).as(m)): _*))
      .scalar()
    def offset(m: String) =
      element_at(summary.getField(m).getField("offsets"), col("_b") + 1)
    val w = Window.partitionBy("_b").orderBy(sortCols: _*)
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // an explicit partition count, so AQE never coalesces the buckets
    // back into one task; which task a bucket lands in does not change
    // any value
    val ranked = keyed.repartitionByRange(parts, col("_b"))
      .withColumn("rk", row_number().over(w).cast("long") + offset("_c"))
    val withCums = values.zipWithIndex.foldLeft(ranked) {
      case (acc, ((alias, v), i)) =>
        acc.withColumn(alias,
          sum(v.cast("long")).over(frame) + offset(s"_s$i"))
    }
    Ranked(withCums.drop("_b"),
      n = summary.getField("_c").getField("total"),
      totals = values.zipWithIndex.map { case ((a, _), i) =>
        a -> summary.getField(s"_s$i").getField("total") }.toMap)
  }

  /** `df` + `_b`, the row's bucket: how many of the sampled bounds are
    * ≤ its sort key. */
  private[graft] def bucketed(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val parts = shufflePartitions(df)
    val key = struct(ascendingKey(df, sortCols): _*)
    val bounds = df.select(key.as("k"))
      .orderBy(xxhash64(col("k")), col("k"))
      .limit(parts * perBound)
      .agg(sort_array(array_agg(col("k"))).as("s"))
      .select(filter(col("s"), (_, i) => i > 0 && i % perBound === 0))
    // a binary search over the ≤ parts−1 sorted bounds: log2(parts)
    // compiled comparisons a row (a missing bound reads as null, i.e.
    // above every key), where a `filter` lambda would run one
    // interpreted comparison per bound
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(get(col("_bounds"), lit(mid)) <= key, search(mid + 1, hi))
          .otherwise(search(lo, mid))
      }
    df.withColumn("_bounds", bounds.scalar())
      .withColumn("_b", search(0, parts - 1))
      .drop("_bounds")
  }

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Columns whose ascending, nulls-first struct order never contradicts
    * the order of `sortCols` (ties are allowed: a tie only keeps two
    * rows in one bucket). */
  private def ascendingKey(df: DataFrame, sortCols: Seq[Column]): Seq[Column] =
    (graftshim.analyzedPlan(df.orderBy(sortCols: _*)) match { case s: Sort => s.order })
      .flatMap { o =>
        val e = graftshim.toColumn(o.child)
        val v = if (o.direction != Descending) e else o.child.dataType match {
          // NaN sorts above +Inf, so descending it comes first
          case DoubleType | FloatType =>
            when(isnan(e), lit(Double.NegativeInfinity)).otherwise(-e)
          case ByteType | ShortType | IntegerType | LongType => bitwise_not(e)
          case _: DecimalType => -e
          case t => throw new IllegalArgumentException(
            s"rankCum: descending sort key ${o.child.sql} must be numeric, not $t")
        }
        if (o.child.nullable && o.nullOrdering == NullsLast) Seq(e.isNull, v)
        else Seq(v)
      }
}
