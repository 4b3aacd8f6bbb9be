package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Session-lifetime memo for SHARED derived relations.
  *
  * Several operator families derive the same intermediate — the
  * customer–supplier purchase graph (pagerank, k-core, BFS, HITS, …),
  * the distinct basket relation (association rules, item-CF,
  * recommendations), the shingle near-dup pair list, the ranked
  * shingle table, the documents word/lang-score frame. Re-deriving it
  * per query is wasted work in a session and an anti-pattern at
  * 100 TB, where the same decision is landing the derived relation as
  * a TABLE once and pointing every job at it. Entries here are
  * persisted MEMORY_AND_DISK once per (builder, session, dir, data
  * version) and deliberately NOT registered with [[CacheRegistry]]
  * (whose per-query drains would defeat the sharing).
  *
  * Lifecycle (the eviction contract the bare ConcurrentHashMaps this
  * replaces did not have):
  *  - entries of a STOPPED SparkSession are dropped eagerly by a
  *    context listener and defensively on every lookup, so a stopped
  *    session's map entries cannot pin the session object;
  *  - [[drain]] unpersists and forgets everything — the harness and
  *    test `afterAll` hooks can call it like `CacheRegistry.drain()`;
  *  - the data version is the [[Tables.version]] of every table in
  *    `dir`, so a table rewritten mid-session gets a fresh entry, and
  *    the entry built on the old files is released then.
  */
object SessionMemo {
  private val live = new java.util.concurrent.ConcurrentHashMap[
    (String, SparkSession, String, String), DataFrame]()
  private val hooked = java.util.concurrent.ConcurrentHashMap
    .newKeySet[SparkSession]()

  /** Memoize `build` under (key, session, dir, the data version of
    * `dir`'s tables); persists on first use.
    * get-then-putIfAbsent rather than computeIfAbsent: builders NEST
    * (insight.basketItems derives from the memoized basketArrays), and
    * ConcurrentHashMap forbids a mapping function touching other keys
    * of the same map ("recursive update"). The benign race — two
    * threads building the same key — loses at putIfAbsent and
    * unpersists its copy. */
  def apply(key: String, s: SparkSession, d: String)
      (build: => DataFrame): DataFrame = {
    evictStopped()
    hook(s)
    val k = (key, s, d, Tables.digest(Tables.names.map(Tables.version(s, d, _)).mkString(" ")))
    val existing = live.get(k)
    if (existing != null) existing
    else {
      // released first: Spark's cache manager matches a plan over the
      // same paths, so a persist over the old files would serve the new
      // build its rows
      dropWhere(e => e._1 == key && (e._2 eq s) && e._3 == d && e._4 != k._4)
      val built = build.persist(StorageLevel.MEMORY_AND_DISK)
      val prev = live.putIfAbsent(k, built)
      if (prev != null) { release(built); prev } else built
    }
  }

  /** Drop (and unpersist) every entry for a data directory. */
  def invalidate(d: String): Unit = dropWhere(_._3 == d)

  /** Unpersist every memoized relation and clear the map. */
  def drain(): Unit = dropWhere(_ => true)

  private def dropWhere(p: ((String, SparkSession, String, String)) => Boolean): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { release(e.getValue); it.remove() }
    }
  }

  private def release(df: DataFrame): Unit =
    try df.unpersist(false) catch { case _: Throwable => () }

  private def evictStopped(): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey._2.sparkContext.isStopped) it.remove()
    }
  }

  private def hook(s: SparkSession): Unit =
    if (!s.sparkContext.isStopped && hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            e: SparkListenerApplicationEnd): Unit = {
          // blocks die with the context; just unpin the references
          val it = live.keySet().iterator()
          while (it.hasNext) { if (it.next()._2 eq s) it.remove() }
          hooked.remove(s)
          ()
        }
      })
    }
}
