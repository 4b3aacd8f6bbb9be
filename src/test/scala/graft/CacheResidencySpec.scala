package graft

import org.apache.spark.sql.DataFrame

import graft.queries.CacheRegistry

/** A result depends only on the data and the query, not on which
  * caches are still resident when the query runs: building a query,
  * dropping every registered query-internal persist, then collecting
  * must give the same rows as building and collecting directly.
  *
  * The first queries below number the calendar-day grid through
  * `OrdersDaily.indexed`, a plain window over the bounded grid. The
  * rest rank data-sized input through `ScaledWindow.rankCum`. Both
  * used to collect per-partition offsets at build time from a cached
  * range repartition; once that cache was dropped, the re-sampled
  * range bounds moved rows between partitions and the offsets landed
  * on the wrong rows. The last group reads its scalars (a count, a
  * threshold, a Bloom filter, the query's IVF cells) inside the plan,
  * some from a registered persist: q_pagerank's node count reads its
  * cached degree table. q_chow, q_runs_test and q_sax read theirs the
  * same way and are in the first group. */
class CacheResidencySpec extends SparkSpec {

  private val dayGridQueries = Seq(
    "q_haar", "q_sax", "q_hurst_rs", "q_ccf", "q_granger",
    "q_engle_granger", "q_adf_drift", "q_durbin_watson", "q_arch_lm",
    "q_cooks_distance", "q_breusch_pagan", "q_reset", "q_chow",
    "q_runs_test")

  private val rankQueries = Seq(
    "q_abc_class", "q_anderson_darling", "q_auc", "q_conformal", "q_cvm",
    "q_energy_distance", "q_gini", "q_kruskal", "q_levene",
    "q_lift_deciles", "q_lorenz", "q_mann_whitney", "q_pareto_revenue",
    "q_qini", "q_spearman", "q_theil_sen", "q_weighted_median",
    "q_wilcoxon", "q_ks_test", "q_sprt", "q_bootstrap_ci", "q_zipf_slope",
    "q_heaps_law", "q_vocab_build", "q_win_rank_salted")

  private val inPlanScalarQueries = Seq(
    "q_ransac_line", "q_pagerank", "q_pagerank_personalized",
    "q_decontaminate_bloom", "q_corpus_scan_pruned", "q_knn_ivf",
    "q_knn_ivf_recall")

  // Spark's range sampler seeds from the RDD id, which a recompute
  // changes; at sf0.001 every partition is smaller than its sample and
  // is taken whole, so the bounds could not move there. sf0.01 is the
  // smallest test size at which they did.
  private val dir = new java.io.File(sf).toPath.resolveSibling("sf0.01").toString

  // string form: a NaN cell compares equal to itself
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  (dayGridQueries ++ rankQueries ++ inPlanScalarQueries).foreach { name =>
    test(s"$name gives the same rows when its caches are dropped before the run") {
      val q = SparkEntry.queries(name)
      val direct = rows(q(spark, dir))
      CacheRegistry.drain()
      val built = q(spark, dir)
      CacheRegistry.drain()
      assert(rows(built) == direct)
    }
  }
}
