package graft

/** Scale-hygiene audit over the whole query surface: physical plans
  * must not contain the operators that stop scaling — an unpartitioned
  * CartesianProduct anywhere, or a BroadcastNestedLoopJoin outside the
  * queries that intentionally use one against a tiny (dimension- or
  * single-row-) side.
  */
class PlanHygieneSpec extends SparkSpec {

  // intentional non-equi / cross / broadcast-probe shapes, all with a
  // provably small build side (region/nation dims, a 1-row query vec,
  // or q_tfidf's 1-row corpus-size aggregate)
  // each allowed BNLJ is a reviewed broadcast of a tiny side: the 1-row
  // query vector (knn family), the 1-row corpus size (tfidf/funnel),
  // the 1-row grid bounds
  // (resample_fill), the 1-row token/lang-count totals (lm_score,
  // source_divergence, temperature_sample), or a genuine range/cross join
  private val bnlAllowed = Set(
    "q_join_range", "q_join_cross", "q_knn_exact", "q_knn_lsh",
    "q_knn_lsh_multi", "q_knn_ivf", "q_knn_ivf_pq",
    "q_tfidf", "q_funnel", "q_resample_fill",
    "q_lm_score", "q_source_divergence", "q_temperature_sample",
    // round 8: 1-row broadcast corpus stats (N+avgdl / n_docs)
    "q_bm25", "q_cooccur_pmi",
    // round 9: the md5-family ANN twin re-ranks its bucket candidates
    // against the 1-row broadcast query vector (same documented
    // exception as q_knn_exact/q_knn_lsh)
    "q_knn_lsh_oracle",
    // round 9: the recall-pin queries wrap knn_exact + the ANN path, so
    // they inherit the same 1-row query-vector broadcast
    "q_knn_ivf_recall", "q_knn_ivf_pq_recall", "q_knn_batch_ivf_recall",
    // round 15: the OPQ pair inherits the identical 1-row query-vector
    // broadcast for the exact re-rank stage
    "q_knn_ivf_opq", "q_knn_ivf_opq_recall",
    // round 15: RANSAC crosses the bounded day grid with its 24-row
    // candidate table and the 1-row winner (reviewed broadcasts)
    "q_ransac_line",
    // round 9: 1-row aggregate broadcasts (sketch pins, graph scalars)
    "q_sketch_error", "q_triangles",
    // round 9 late: the 1-row exact-quantile-cutoff broadcast (the rfm
    // scoring join) and the 7-day rolling-DAU range join against the
    // broadcast day spine (dimension-sized by construction)
    "q_rfm", "q_rolling_distinct",
    // round 9 late: 1-row broadcast — the overlap sketch's estimate row
    "q_overlap_sketch",
    // round 10: the order-count total rides into the rule metrics as
    // the same documented 1-row broadcast cross join; the bootstrap CI
    // broadcasts its 1-row order-statistics frame the same way
    "q_assoc_rules", "q_bootstrap_ci",
    // round 17: Q11's HAVING threshold is the same documented 1-row
    // total broadcast (the DataFrame form that stops re-running the
    // whole ps aggregate inside the scalar subquery)
    "q_tpch_q11",
    // round 11: the Poisson twin broadcasts the same 1-row
    // order-statistics frame; the pin queries cross the exact 1-row
    // aggregate with their 1-row invariant frames
    "q_bootstrap_poisson", "q_cluster_cap_pin", "q_compression_ratio_pin",
    "q_bpe_encode_pin",
    // round 11 late: the trend estimators pair the CALENDAR-DAY grid
    // (2 399 days at every SF — bounded by the time range, not data
    // volume) via an inequality broadcast join; target_encode /
    // cramers_v broadcast their 1-row totals (and cramers_v crosses
    // the two dimension-sized marginal vectors to build the r x c
    // contingency grid)
    "q_mann_kendall", "q_theil_sen", "q_target_encode", "q_cramers_v",
    // kendall-tau pairs the same calendar-day grid; theil crosses its
    // 1-row total frames
    "q_kendall_tau", "q_theil_index",
    // naive bayes fans the doc-term grain out by the |languages|-row
    // broadcast candidate frame (a small constant, not data-sized);
    // mcnemar composes it
    "q_naive_bayes", "q_mcnemar",
    // runs test / sax broadcast their 1-row median / moment frames
    "q_runs_test", "q_sax",
    // anova / kruskal cross their 1-row total / tie frames; tukey
    // additionally pairs the 25-row nation grid
    "q_anova", "q_kruskal", "q_tukey_hsd",
    // friedman crosses the month grid with the 25-row nation dim;
    // kappa crosses its 1-row chance frame; weekday index its 1-row
    // grand totals
    "q_friedman", "q_cohen_kappa", "q_weekday_index",
    // round 11 late: the series diagnostics broadcast their 1-row
    // day-grid aggregates (ACF's grand mean; CUSUM's count + total;
    // binseg additionally broadcasts the 1-row level-0 argmax and the
    // 2-row segment stats)
    "q_acf", "q_cusum", "q_binseg",
    // round 11 late: time-decay attribution broadcasts its 1-row
    // credit total; Ljung-Box the 1-row grand mean (the q_acf shape);
    // the Simpson screen the 1-row overall-gap frame
    "q_attribution_decay", "q_ljung_box", "q_simpson",
    // round 11 late: hybrid search inherits the 1-row corpus-stats and
    // query-vector broadcasts of its two retrievers (q_bm25/q_knn_exact);
    // JS divergence broadcasts the same 1-row token total as its KL
    // twin; the bigram LM broadcasts its 1-row vocabulary size; info
    // gain broadcasts its 1-row global-entropy frame
    "q_hybrid_search", "q_js_divergence", "q_bigram_lm", "q_info_gain",
    // rbo/ndcg inherit hybrid's retriever broadcasts; rbo additionally
    // crosses the 50-row depth grid with the <=50-row common set
    "q_rbo", "q_ndcg",
    // round 12: grubbs crosses the 1-row moment frame onto the day
    // grid (the q_cusum shape); modularity crosses its 1-row W/edge
    // totals onto the 25-row community grid
    "q_grubbs", "q_modularity",
    // round 12: 1-row broadcasts — cochran's column-total frame,
    // the permutation test's observed-diff frame, durbin-watson's
    // AR(1) fit + quadratic-sum frames, beta-binomial's MoM prior
    // onto the 25-row brand grid
    "q_cochran_q", "q_permutation_test", "q_durbin_watson",
    "q_beta_binomial",
    // round 12 late: kendall W crosses its 1-row k/m dims and tie
    // frames onto the 25-row nation rank sums (the q_friedman shape)
    "q_kendall_w",
    // round 13: hits crosses each role's 1-row max-score frame onto
    // the node-grain scores; drawdown its 1-row totals/argmax frames
    // onto the day grid; rsi its 1-row last-day frame; arch_lm its
    // 1-row AR(1)-fit frame onto the day pairs (the durbin_watson
    // shape); control_chart its 1-row totals/argmax frames
    "q_hits", "q_drawdown", "q_rsi", "q_arch_lm", "q_control_chart",
    // pacf crosses the 1-row series-mean frame (the q_acf shape);
    // seasonal MK crosses its 1-row variance/tie frames and
    // broadcasts the day grid under the same-month pair join
    "q_pacf", "q_seasonal_mk",
    // round 14: welch crosses its 1-row stage-1 weighted-total frame
    // onto the 25-row group grid then its 1-row term sums; the
    // two-way anova crosses the 1-row totals with the 1-row by-A
    // frame; cook's distance / engle-granger cross their 1-row OLS
    // fit (and RSS) frames onto the day grid (the durbin_watson shape)
    "q_welch_anova", "q_anova_two_way", "q_cooks_distance",
    "q_engle_granger",
    // round 14 late: the diagnostics trio crosses its 1-row OLS-fit /
    // moment frames onto the day grid (the durbin_watson shape);
    // games-howell pairs the 25-row nation grid (the q_tukey_hsd shape)
    "q_breusch_pagan", "q_reset", "q_adf_drift", "q_games_howell",
    // round 14 fourth widening: the g-test crosses its 1-row margins
    // frame onto the 4-row contingency-cell grid
    "q_g_test")

  // reviewed partition-less windows: every entry runs its global
  // window over a provably BOUNDED grain, not a data-sized dimension —
  // month/year grids (forecast_snaive, seasonal_index, mom_growth,
  // revenue_bridge), the 9-digit Benford grid, 10 PSI bins, B=200
  // bootstrap replicas, contingency cells (chi_square, mutual_info),
  // the grouped duration axis (kaplan_meier), bucket minima after the
  // two-level decomposition (skyline), the lang-grain rebalance cap
  // (corpus_pipeline), and bounded category vocab (label_encode).
  // Data-sized ranks/cumsums go through ScaledWindow.rankCum instead
  // (q_gini, q_abc_class, q_pareto_revenue, q_ks_test, q_vocab_build,
  // q_tokenize, q_zipf_slope, and q_bootstrap_ci's user index — all
  // rewritten round 11).
  private val globalWindowAllowed = Set(
    "q_acf", "q_cusum",
    // round 11 late: calibration's N rides a window over the 10-row
    // bin grid (the q_psi_drift class); hybrid search ranks its two
    // top-50 frames (bounded by the preceding TakeOrdered limit);
    // logrank's at-risk reverse cumsums run on the grouped duration
    // axis (the q_kaplan_meier class); qini's cumulative arms run on
    // the 10-row decile grid (the q_lift_deciles class); the HDR
    // sketch's cumulative scan runs on the ~35-row bucket grid
    "q_calibration", "q_hybrid_search", "q_rbo", "q_ndcg", "q_logrank",
    "q_qini",
    "q_hdr_quantiles", "q_binseg", "q_stl_decompose", "q_adstock",
    "q_ljung_box", "q_rolling_slope",
    // weighted median's flag offsets ride a window over the 3-row
    // flag grid (the data-sized cum goes through ScaledWindow)
    "q_weighted_median",
    "q_benford", "q_bootstrap_ci", "q_bootstrap_poisson", "q_chi_square",
    "q_corpus_pipeline", "q_forecast_snaive", "q_kaplan_meier",
    // nelson-aalen rides the same grouped duration axis as KM
    "q_nelson_aalen",
    // BH step-up windows all ride the 25-row nation grid
    "q_fdr_bh",
    // markov entropy's marginals ride the <=k^2 transition-cell grid;
    // lorenz's cumulative shares ride the 10-row decile grid
    "q_markov_entropy", "q_lorenz",
    // the runs test's lag rides the bounded day grid
    "q_runs_test",
    "q_label_encode", "q_lift_deciles", "q_mom_growth", "q_mutual_info",
    "q_psi_drift", "q_revenue_bridge", "q_seasonal_index", "q_skyline",
    // round 12: levene's and conformal's per-priority offsets ride a
    // window over the 5-row priority grid (the q_weighted_median
    // flag-offset shape); rolling corr's frame sums ride the bounded
    // calendar-day grid (the q_rolling_slope class)
    "q_levene", "q_conformal", "q_rolling_corr",
    // round 13: equity-curve trio — every window (cumsum, running
    // peak, 20/14-day frames, lag) rides the bounded ~2.4k-row
    // calendar-day grid, the q_rolling_corr class; pacf's three lag
    // columns ride the same grid (the q_acf shape); seasonal
    // strength's centered MA rides the ~84-row month grid (the
    // q_stl_decompose class)
    "q_drawdown", "q_bollinger", "q_rsi", "q_pacf",
    "q_seasonal_strength",
    // round 14: the SES closed-form rank/count windows and the
    // quantile-regression day index ride the bounded ~2.4k-row
    // calendar-day grid (the q_rolling_corr class)
    "q_ses_forecast", "q_quantile_reg",
    // round 15: the Holt-Winters and RANSAC day-index ranks ride the
    // same bounded ~2.4k-row calendar-day grid; so does every other
    // consumer of the one day index, OrdersDaily.indexed
    "q_holt_winters", "q_ransac_line",
    "q_haar", "q_sax", "q_hurst_rs", "q_ccf", "q_granger",
    "q_engle_granger", "q_adf_drift", "q_durbin_watson", "q_arch_lm",
    "q_cooks_distance", "q_breusch_pagan", "q_reset", "q_chow")

  /** Every query's initial plan, built once and shared by the three
    * whole-surface checks below: (name, plan text, the plan's
    * partition-less window findings). */
  private lazy val surface: Seq[(String, String, Seq[graft.scale.PlanAudit.Finding])] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val df = fn(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      val windows = graft.scale.PlanAudit.scan(plan, df.schema.length,
        allow = Set("cartesian", "bnl", "widescan"))
      (name, plan, windows.filter(_.kind == "globalwindow"))
    }

  test("partition-less WindowExec appears only on bounded-grain inputs") {
    surface.foreach { case (name, _, fs) =>
      if (!globalWindowAllowed(name))
        assert(fs.isEmpty, s"$name plans a partition-less window: $fs")
    }
  }

  test("no query plans a CartesianProduct") {
    surface.foreach { case (name, plan, _) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
    }
  }

  test("BroadcastNestedLoopJoin appears only where intended") {
    surface.foreach { case (name, plan, _) =>
      if (!bnlAllowed(name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name unexpectedly plans BroadcastNestedLoopJoin:\n$plan")
      }
    }
  }

  test("a builder starts a Spark job only where its module declares why") {
    // the surface build above warmed the table footers, memos, indexes
    // and layouts; what a rebuild starts is the builder's own work
    surface
    graft.queries.CacheRegistry.drain()
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("build:"))
          .foreach(g => jobs.merge(g.stripPrefix("build:"), 1, _ + _))
    }
    val sc = spark.sparkContext
    val names = SparkEntry.queries.keys.toSeq.sorted
    val counts = try {
      sc.addSparkListener(listener)
      names.foreach { name =>
        sc.setJobGroup(s"build:$name", name)
        try SparkEntry.queries(name)(spark, sf) finally sc.clearJobGroup()
        graft.queries.CacheRegistry.drain()
      }
      // one job after the builds, so every earlier job start has
      // reached the listener
      jobsDuring(())
      names.map(n => n -> jobs.getOrDefault(n, 0)).toMap
    } finally sc.removeSparkListener(listener)
    val declared = SparkEntry.buildJobs.keySet
    val undeclared = counts.filter { case (n, j) => j > 0 && !declared(n) }
    assert(undeclared.isEmpty, s"builders that start Spark jobs without a buildJobs reason: $undeclared")
    val stale = declared.filter(counts(_) == 0)
    assert(stale.isEmpty, s"buildJobs entries whose builder starts no Spark job: $stale")
  }

  test("new operators prune their parquet scans to referenced columns") {
    val hist = SparkEntry.queries("q_histogram")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(hist.contains("o_totalprice") && !hist.contains("o_custkey"),
      s"q_histogram must scan only o_totalprice:\n$hist")
    val sample = SparkEntry.queries("q_sample_hash")(spark, sf)
      .queryExecution.executedPlan.toString
    // the md5 split is a pure function of doc_id — text must not be read
    assert(sample.contains("doc_id") && !sample.contains("text"),
      s"q_sample_hash must scan only doc_id:\n$sample")
    // TPC-H q6: all three predicates must reach the parquet scan (the
    // date range is expressed as an ISO string comparison precisely so
    // it is pushable; a to_date() wrapper would evaluate post-scan)
    val q6 = SparkEntry.queries("q_tpch_q6")(spark, sf)
      .queryExecution.executedPlan.toString
    val pushed = q6.linesIterator.find(_.contains("PushedFilters:")).getOrElse("")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(pushed.contains(c),
        s"q_tpch_q6 must push the $c predicate to the scan, got: $pushed")
    }
    // the round-5 per-row text ops need only (doc_id, text)
    Seq("q_doc_chunk", "q_text_normalize").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("doc_id") && !plan.contains("source") &&
        !plan.contains("n_chars"),
        s"$name must scan only doc_id+text:\n$plan")
    }
    val quant = SparkEntry.queries("q_embed_quantize")(spark, sf)
      .queryExecution.executedPlan.toString
    // per-row work: the ONLY exchange allowed is the final output sort
    val exchanges = "(?<!AQEShuffleRead)Exchange".r.findAllIn(quant).size
    assert(exchanges <= 1,
      s"q_embed_quantize is per-row work and must not shuffle beyond the output sort:\n$quant")
  }

  test("PlanAudit flags the scale-hostile shapes and passes clean plans") {
    import graft.scale.PlanAudit
    // a healthy equi-join query audits clean
    assert(PlanAudit.findings(SparkEntry.queries("q_join_inner")(spark, sf)).isEmpty)
    // a deliberate cross join is flagged...
    val cross = Tables.region(spark, sf).crossJoin(Tables.nation(spark, sf))
    val fs = PlanAudit.findings(cross)
    assert(fs.exists(f => f.kind == "bnl" || f.kind == "cartesian"), fs.toString)
    // ...and the allow-list accepts a reviewed exception
    assert(PlanAudit.findings(cross, allow = Set("bnl", "cartesian")).isEmpty)
    // the gate form throws with the findings in the message
    val ex = intercept[IllegalStateException](PlanAudit.require(cross))
    assert(ex.getMessage.contains("plan audit failed"))
  }

  test("heavy queries' RUNTIME plans stay clean (post-execution audit)") {
    import graft.scale.PlanAudit
    // the initial-plan tests above can't see what AQE decides at runtime
    // (skew splits, join re-plans, broadcast demotions); materialize the
    // heavy shuffle pipelines and audit the finalized plans too
    val checks: Seq[(String, Set[String])] = Seq(
      // reviewed: at test scale Catalyst estimates the exploded shingle
      // side broadcastable and AQE demotes the shingle self-join to SMJ
      // at runtime — the decision a static plan makes from real stats at
      // corpus scale anyway; the audit surfacing it is the feature
      "q_dedup_ngram" -> Set("demotion"),
      "q_dedup_minhash" -> Set.empty,
      "q_dedup_simhash" -> Set.empty,
      // same reviewed case as q_dedup_ngram since the hashed-shingle
      // change: 8-byte shingle keys shrink the estimated row size, so
      // at test scale Catalyst estimates the probe side broadcastable
      // and AQE demotes it to a shuffle join once true sizes are known
      "q_dedup_incremental" -> Set("demotion"),
      "q_decontaminate" -> Set("demotion"), // same hashed-shingle estimate case
      "q_lang_balance" -> Set.empty,
      "q_source_cap" -> Set.empty,
      "q_win_rank_salted" -> Set.empty,
      "q_tfidf" -> Set("bnl"), // reviewed 1-row corpus-size broadcast
      "q_tpch_q5" -> Set.empty,
      // round-5 heavy additions: md5 MinHash twin shares the banded
      // self-join shape; the pipeline flagship composes dedup +
      // shingle join + two windows behind the canonical checkpoint
      "q_dedup_minhash_oracle" -> Set.empty,
      // reviewed globalwindow: the rebalance cap is min().over() on the
      // LANG-GRAIN count table — rows bounded by the number of
      // languages, a genuine grid, not a data-sized dimension
      "q_corpus_pipeline" -> Set("globalwindow"),
      "q_knn_batch" -> Set.empty,
      "q_knn_batch_ivf" -> Set.empty,
      "q_dedup_embedding_lsh_multi" -> Set.empty)
    checks.foreach { case (name, allow) =>
      val fs = PlanAudit.finalFindings(SparkEntry.queries(name)(spark, sf), allow)
      assert(fs.isEmpty, s"$name runtime-plan findings: $fs")
    }
  }

  test("every oracle query is deterministic: repeated runs hash identically") {
    // cheap determinism canary on a sample of order-sensitive queries
    Seq("q_topk", "q_limit", "q_knn_exact", "q_topk_per_key", "q_win_rank").foreach { name =>
      val a = SparkEntry.queries(name)(spark, sf).collect().map(_.toSeq).toSeq
      val b = SparkEntry.queries(name)(spark, sf).collect().map(_.toSeq).toSeq
      assert(a == b, s"$name is not deterministic across runs")
    }
  }
}
