package graft.queries

import org.apache.spark.sql.DataFrame

/** Session-lifetime guard for query-internal persists.
  *
  * Several builders persist an intermediate that several branches of
  * the returned plan read — link-prediction's shared adjacency, the
  * per-round frontiers of the iterative graph queries — or that a
  * declared build-job builder (`QueryModule.buildJobs`, e.g. q_kcore's
  * peel rounds) reads before the caller materializes the returned
  * DataFrame. The builder cannot unpersist in a finally block
  * without discarding the cache before the caller ever runs the plan,
  * so instead each such persist is REGISTERED here and the harness
  * (Verify / Bench / specs) drains the registry once the query's
  * result is materialized. Without this, a long session pins one
  * MEMORY_AND_DISK entry per distinct query (evicted blocks spill to
  * local disk) for its whole lifetime — harmless at sf0.01, a real
  * storage-memory tax on a shared 1000-executor cluster.
  */
object CacheRegistry {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Track a persisted intermediate for later release; returns it. */
  def register(df: DataFrame): DataFrame = { live.add(df); df }

  /** Unpersist every tracked intermediate (non-blocking) and clear.
    * Safe to call repeatedly; unpersisting an already-released or
    * never-materialized cache is a no-op in Spark. */
  def drain(): Unit = {
    var df = live.poll()
    while (df != null) {
      try df.unpersist(false) catch { case _: Throwable => () }
      df = live.poll()
    }
  }
}
