package graft

import org.apache.spark.sql.SparkSession

/** The engine's one Spark session configuration. Bench, Verify,
  * PlanDump, PlanSweep, ScaleGrowthBench and the test suite all start
  * from `builder`, so the plans they see are planned alike.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `local[cpus]` with one shuffle partition per core, AQE with
    * partition coalescing, UTC, parquet nanosecond timestamps read as
    * longs, and no UI. */
  def builder(cpus: String = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // round 18: the session memos land REPARTITIONED BY their
      // consumer key (round 17's layout work) — this makes that
      // partitioning VISIBLE to consumers, so memo-keyed joins and
      // aggregates skip their exchange instead of re-shuffling a
      // relation that is already laid out for them (full-sweep A/B
      // rec1787068370753 + bisect rec in bench_runs: the graph/dedup
      // memo families read 0.2-0.8× with untouched controls flat; the
      // two explosion-heavy consumers were re-landed at explicit
      // partition counts — see q_item_cf / shingleStringRows notes).
      // At 100 TB the same flag is what makes a landed table's bucket
      // layout usable without a re-shuffle.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Tables.events reads a TIMESTAMP(NANOS) events.ts as a long and
      // sets this itself; set from the start, the first events read no
      // longer changes a setting the Tables schema memo keys on
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
