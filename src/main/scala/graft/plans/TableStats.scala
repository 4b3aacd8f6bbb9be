package graft.plans

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tiny per-JVM stats store for input tables.
  *
  * The skew defenses (salted-prune activation in rankedHeadByKey) need
  * one scalar per (table, key): the hottest key's row count. Computing
  * it inline costs a full aggregate scan — a separate job BEFORE the
  * query's real work, every execution. On a production engine that
  * number comes from the catalog's table statistics (ANALYZE TABLE /
  * write-time stats), not from a scan; this object is that stats store
  * in miniature: the first execution pays the one map-side-combined
  * scan, every later execution (and every other query probing the same
  * key) reads the memo. Every entry is keyed by [[key]], which holds
  * the table's [[graft.Tables.version]], so a rewritten table gets a
  * fresh entry instead of the old one's statistics.
  */
object TableStats {
  private val memo = new ConcurrentHashMap[String, (Long, Long)]()

  /** The memo key of statistic `stat` over table `name` of `dir`, at
    * the table's current data version. */
  def key(s: SparkSession, dir: String, name: String, stat: String): String =
    s"$dir/$name@${graft.Tables.version(s, dir, name)}#$stat"

  /** (min, max) group count over `key` for the dataframe produced by
    * `df`. `statsKey` comes from [[key]]. */
  def keyCountStats(statsKey: String, df: => DataFrame, key: String): (Long, Long) =
    memo.computeIfAbsent(statsKey, _ => {
      val r = df.groupBy(key).agg(count(lit(1)).as("n"))
        .agg(coalesce(min("n"), lit(0L)), coalesce(max("n"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    })

  private val scalars = new ConcurrentHashMap[String, Long]()

  /** Memoized scalar statistic of an input table (round 17) — the
    * q_decontaminate_bloom filter-SIZING count: on a production
    * engine the eval set's distinct-shingle count is a catalog
    * statistic, not a per-execution job. Sizing-only by contract: a
    * Bloom filter's capacity changes its fpp, never the exact-join
    * output, so a memoized value can affect speed but not results.
    * `statsKey` comes from [[key]]. */
  def scalarLong(statsKey: String)(compute: => Long): Long =
    scalars.computeIfAbsent(statsKey, _ => compute)
}
