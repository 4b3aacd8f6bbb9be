package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DotF.dotF

/** Corpus- and distribution-profiling operators — the diagnostics a
  * training-data pipeline runs BEFORE committing to a curation recipe:
  * duplication coverage, ingest novelty, cross-source contamination,
  * per-doc character entropy, multilingual resampling, outlier capping,
  * key-skew pre-flight, and embedding-cluster geometry.
  *
  * Scale notes:
  *  - the shingle-keyed ops ([[dupCoverage]], [[ngramNovelty]],
  *    [[sourceOverlap]]) reuse [[TextQueries.shingleArraySql]] /
  *    [[TextQueries.shingleRows]], so the shuffle key is the 8-byte
  *    xxhash64 shingle identity, never the shingle string;
  *  - per-doc scoring ([[charEntropy]]) is pure expression work inside
  *    whole-stage codegen — zero shuffle;
  *  - every distribution statistic aggregates BEFORE joining back, and
  *    the model/threshold side of each join is broadcast (lang counts,
  *    percentile bounds, centroid components are all tiny).
  */
object CorpusStatsQueries extends QueryModule {

  /** Character-level Shannon entropy (bits/char) + distinct-char count
    * per document — the encoding-breakage / binary-junk / keyboard-mash
    * detector (low entropy = repeated filler, implausibly high = random
    * bytes; the Gopher-style "symbol soup" signal at character level).
    *
    * Per-row O(len) via the [[graft.functions.CharEntropyStats]]
    * codegen expression (round 10 — replaces the r8 sort+run-length
    * HOF chain and its three per-row array materializations): one
    * histogram pass, fold over distinct codepoints ASCENDING — the
    * same order as the oracle's sorted-distinct-chars formulation, so
    * the double result (and its hash) is unchanged. No shuffle. */
  private val charEntropy: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.CharEntropyStats.charEntropyStats(col("text"))
          .as("st"))
      .select(
        col("doc_id"),
        // NULL text: the oracle's convention is (NULL, 0.0) — struct
        // field access propagates the null for n_unique, the coalesce
        // mirrors the oracle's coalesce(list_sum(...), 0)
        col("st.n_unique").as("n_unique_chars"),
        coalesce(round(lit(0.0) - col("st.entropy_sum"), 4), lit(0.0))
          .as("entropy_bits"))
      .orderBy("doc_id")

  /** Duplicated-n-gram coverage (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", §4 — the span-level
    * signal reduced to shingle coverage): per document, the fraction of
    * its word-3-gram shingles that also occur verbatim in at least one
    * OTHER document. Docs with coverage ≈ 1 are near-copies even when
    * no single pair crosses a Jaccard threshold (mosaic duplication).
    *
    * Two map-side-combined aggregates over [[TextQueries.shingleRows]]
    * (df per shingle, total per doc) + one 8-byte-keyed join — the same
    * shuffle shape as q_dedup_ngram's candidate stage, without the
    * pair blow-up (no self-join). */
  private val dupCoverage: Q = (s, d) => {
    val sh = TextQueries.shingleRows(s, d)
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val dup = sh.join(df.filter(col("df") >= 2), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_shingles"), 4)
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Ingest novelty: per document (in doc_id ingest order), how many of
    * its shingles appear here for the FIRST time in the corpus — the
    * marginal-contribution curve that tells a crawler when a source has
    * gone stale (novelty ratio trending to 0 = re-crawling known text).
    *
    * First appearance is min(doc_id) per shingle — a map-side-combined
    * aggregate — joined back on the 8-byte shingle key. */
  private val ngramNovelty: Q = (s, d) => {
    val sh = TextQueries.shingleRows(s, d)
    val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    sh.join(first, "shingle")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 4)
          .as("novelty_ratio"))
      .orderBy("doc_id")
  }

  /** Cross-source containment matrix: for each ordered source pair
    * (a, b), |shingles(a) ∩ shingles(b)| / |shingles(a)| — asymmetric
    * on purpose (a small source fully contained in a big one reads 1.0
    * in one direction only). The pre-ingest check that a "new" feed is
    * not just a re-host of one already in the corpus.
    *
    * Shingle sets are per-source DISTINCT before the join, so the
    * shuffle is source-level set size, not corpus size; pair counts and
    * the containment division happen on the source-pair-sized result
    * with the per-source sizes broadcast. */
  private val sourceOverlap: Q = (s, d) => {
    // Round 17: the (source, shingle) distinct + shingle-keyed
    // SELF-JOIN (three corpus-sized exchanges) collapses into ONE
    // groupBy(shingle) collect_set — the source dimension is tiny
    // (single digits), so per-shingle source sets are bounded and the
    // ordered pairs explode IN-PARTITION from each set; the pair
    // counts and per-source sizes both derive from the same persisted
    // set frame (guide §2.3/§2.4: aggregate before you shuffle, then
    // don't shuffle again). Same multiset of (a, b, shingle) rows,
    // same sizes — output identical, oracle unchanged.
    val ssh = CacheRegistry.register(Tables.documents(s, d)
      .withColumn("w", split(col("text"), " "))
      .select(col("source"), explode(expr(TextQueries.shingleArraySql)).as("sh_str"))
      .select(xxhash64(col("sh_str")).as("shingle"), col("source"))
      .groupBy("shingle").agg(collect_set("source").as("srcs"))
      .persist())
    val sizes = ssh.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_total"))
    ssh.filter(size(col("srcs")) >= 2)
      .select(explode(col("srcs")).as("source_a"), col("srcs"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_total"))), "source_a")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_total"), 4)
          .as("containment"))
      .orderBy("source_a", "source_b")
  }

  /** Multilingual temperature resampling (the XLM/mBERT α=0.5 scheme):
    * per-language keep rate (n_min/n_lang)^(1−α) = sqrt(n_min/n_lang),
    * so the rarest language keeps everything and the resampled corpus
    * follows p^α. α is pinned to 0.5 because sqrt is IEEE-exact —
    * both engines compute bit-identical rates, where a libm pow could
    * disagree in the last ulp and flip a hash-threshold row.
    *
    * Selection is the deterministic md5-prefix rule ([[TextQueries]]'
    * sampleHash convention): a doc survives iff its 6-hex-digit prefix
    * is below the rate scaled to 16^6 — partition-order-invariant,
    * replayable in any engine, no RNG state. One tiny aggregate
    * broadcast back onto the scan; the corpus never shuffles. */
  private val temperatureSample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min("n_lang").as("n_min"))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(minN))
      .withColumn("rate", sqrt(col("n_min").cast("double") / col("n_lang")))
      .withColumn("thr",
        lower(lpad(hex(floor(col("rate") * lit(16777216))), 6, "0")))
      .filter(col("rate") >= 1.0 ||
        substring(md5(col("doc_id").cast("string")), 1, 6) < col("thr"))
      .select(col("doc_id"), col("lang"), round(col("rate"), 4).as("rate"))
      .orderBy("doc_id")
  }

  /** Winsorization: cap n_chars at its language's exact [p05, p95] —
    * the outlier treatment that keeps a row (unlike a filter) while
    * bounding its leverage on downstream means/regressions. Exact
    * interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`), computed once per language and broadcast back;
    * the capping itself is per-row codegen. */
  private val winsorize: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pct = docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.05)").as("lo"),
      expr("percentile(n_chars, 0.95)").as("hi"))
    docs.join(broadcast(pct), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(least(greatest(col("n_chars").cast("double"), col("lo")),
          col("hi")), 2).as("n_chars_capped"))
      .orderBy("doc_id")
  }

  /** Key-skew pre-flight over orders.o_custkey: the distribution shape
    * (key count, max/p50/p99 frequency, hottest key, max/mean ratio) a
    * pipeline reads BEFORE choosing join/window strategy — the number
    * that says whether the salted twins (q_win_rank_salted, the capped
    * prunes) need to be armed. Two aggregates: one corpus-sized with
    * map-side combine, one key-sized; O(1) rows to the driver. The
    * hottest key is a composite struct max, deterministic under ties. */
  private val skewProfile: Q = (s, d) => {
    val c = Tables.orders(s, d)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    c.agg(
      count(lit(1)).as("n_keys"),
      max("n").as("max_n"),
      round(avg("n"), 4).as("avg_n"),
      round(expr("percentile(n, 0.5)"), 4).as("p50_n"),
      round(expr("percentile(n, 0.99)"), 4).as("p99_n"),
      max(struct(col("n"), col("o_custkey"))).getField("o_custkey")
        .as("hot_key"),
      round(max(col("n")).cast("double") / avg(col("n")), 4)
        .as("skew_ratio"))
  }

  /** Per-label centroid geometry: pairwise cosine between the label
    * centroids of the embeddings table — the cluster-separation
    * diagnostic (labels whose centroids read ≈ 1 are candidates for
    * merging; a near-zero pair confirms the classes are separable).
    *
    * Centroid components come from one posexplode + map-side-combined
    * (label, dim) average — the corpus contributes one pass and never
    * joins anything; everything after (norms, pair dots) is
    * labels²×dim-sized, broadcast where keyed. */
  private val labelCentroids: Q = (s, d) => {
    val comp = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg(col("x").cast("double")).as("c"))
    val nrm = comp.groupBy("label").agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
    val a = comp.select(col("label").as("label_a"), col("pos"), col("c").as("ca"))
    val b = comp.select(col("label").as("label_b"), col("pos"), col("c").as("cb"))
    a.join(b, "pos")
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("ca") * col("cb")).as("dot"))
      .join(broadcast(nrm.select(col("label").as("label_a"), col("nrm").as("na"))),
        "label_a")
      .join(broadcast(nrm.select(col("label").as("label_b"), col("nrm").as("nb"))),
        "label_b")
      .select(col("label_a"), col("label_b"),
        round(col("dot") / (col("na") * col("nb")), 4).as("cosine"))
      .orderBy("label_a", "label_b")
  }

  /** Robust (median/MAD) outlier detection — the twin of
    * q_zscore_outliers for the case that breaks it: a heavy tail
    * inflates mean and stddev until real outliers hide inside the
    * threshold, while the median and MAD barely move. Flags rows where
    * the Iglewicz–Hoaglin modified z-score 0.6745·(x−med)/MAD exceeds
    * 3.5 in absolute value (rounded before the cut so a 1-ulp
    * difference cannot flip membership).
    *
    * Two aggregate passes by construction (MAD needs the median first);
    * each is a per-group exact interpolated percentile with the tiny
    * group-stats side broadcast back. At 100 TB the exact grouped
    * median becomes a sort-per-group — the documented swap is
    * approx_percentile at fixed accuracy, same plan shape. */
  private val madOutliers: Q = (s, d) => {
    val ev = Tables.events(s, d).select("event_id", "event_type", "value")
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("rz",
        round(lit(0.6745) * (col("value") - col("med")) / col("mad"), 4))
      .filter(abs(col("rz")) > 3.5)
      .select("event_id", "event_type", "rz")
      .orderBy("event_id")
  }

  /** Count-min sketch heavy hitters — the mergeable-sketch answer to
    * "which keys are hot" when the key space is too large to count
    * exactly: 4 hash rows × 256 buckets of additive counters, built by
    * ONE map-side-combined aggregate over the raw fact rows (the
    * sketch, 1024 cells, is the only shuffle payload regardless of
    * corpus size), then probed by the distinct keys against the
    * broadcast sketch. est(k) = min over rows of the k-bucket cell —
    * never an underestimate, over by at most the bucket's collision
    * mass (the CountMin guarantee, Cormode & Muthukrishnan 2005).
    *
    * The row hash is an md5-prefix bucket (the 2-hex-char string IS the
    * bucket id), so the whole sketch — collisions included — replays
    * bit-identically in any engine with md5: the sketch itself is
    * oracle-checked, not just its output shape. */
  private val heavyHitters: Q = (s, d) => {
    val rows4 = array((0 until 4).map(lit): _*)
    val bucketed = Tables.orders(s, d)
      .select(col("o_custkey"), explode(rows4).as("h_row"))
      .withColumn("bucket", substring(
        md5(concat_ws("|", col("h_row"), col("o_custkey"))), 1, 2))
    val sketch = bucketed.groupBy("h_row", "bucket")
      .agg(count(lit(1)).as("cell"))
    bucketed.distinct()
      .join(broadcast(sketch), Seq("h_row", "bucket"))
      .groupBy("o_custkey")
      .agg(min("cell").as("est_n"))
      .orderBy(desc("est_n"), asc("o_custkey"))
      .limit(20)
  }

  /** PCA projection of the embeddings table onto its top-4 principal
    * axes ([[graft.ml.Pca]]): one treeAggregate pass accumulates the
    * d+d² sufficient statistics (33 KB at d = 64, row-count-independent),
    * the d×d eigenproblem solves driver-side, and the projection is a
    * codegen dot_f per component — the fit/transform split a 100 TB
    * dimensionality reduction actually uses. No DuckDB oracle (SQL has
    * no eigendecomposition); semantics are pinned by PcaSpec's
    * closed-form fixtures and the explained-variance/orthonormality
    * properties. */
  private val pcaProject: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val model = graft.ml.Pca.fit(emb, "embedding", 4)
    model.transform(emb, "embedding")
      .select(col("vec_id"), round(col("pc1"), 4).as("pc1"),
        round(col("pc2"), 4).as("pc2"), round(col("pc3"), 4).as("pc3"),
        round(col("pc4"), 4).as("pc4"))
      .orderBy("vec_id")
  }

  /** PCA correctness as an ORACLE row (the q_knn_ivf_recall pattern for
    * the one remaining learned-model no-oracle family): the fitted
    * basis itself is not SQL-replayable, but two exact mathematical
    * identities about it are checkable — (1) the eigenvalue TRACE must
    * equal the total sample variance (Σ var_samp over all 64 dims,
    * which DuckDB recomputes from scratch — real oracle work), and
    * (2) the component vectors must be orthonormal. The exact total
    * variance is computed IN-PLAN (posexplode → per-dim var_samp →
    * sum); the model-side trace and the k×k Gram residual are
    * model-sized driver constants. A broken Gram accumulation, a
    * mis-converged Jacobi sweep, or a normalization bug flips a boolean
    * and hash-mismatches the row. */
  private val pcaVariance: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val model = graft.ml.Pca.fit(emb, "embedding", 4)
    val trace = model.variances.sum
    val orthoResidual = {
      val cs = model.components
      val k = cs.length
      (for (i <- 0 until k; j <- i until k) yield {
        val dot = cs(i).zip(cs(j)).map { case (a, b) => a * b }.sum
        math.abs(dot - (if (i == j) 1.0 else 0.0))
      }).max
    }
    emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(var_samp(col("x").cast("double")).as("v"))
      .agg(count(lit(1)).as("n_dims"), sum("v").as("tv"))
      .select(
        col("n_dims"),
        round(col("tv"), 4).as("total_var"),
        (abs(col("tv") - lit(trace)) <= col("tv") * 1e-6).as("trace_ok"),
        lit(orthoResidual <= 1e-9).as("ortho_ok"))
  }

  /** Per-component PCA pin — [[pcaVariance]] proves trace +
    * orthonormality; this closes the remaining gap (round-16 verdict
    * #6): each kept eigenvalue must equal the DATA variance along its
    * fitted axis, projections must be centered, and the cumulative
    * reconstruction error after j components must equal
    * (n−1)/n · (trace − Σ_{j'≤j} λ_{j'}) — identities that fail loudly
    * for a mis-converged Jacobi, a wrong eigenvalue/vector pairing, or
    * a broken transform, none of which the trace can see. All checks
    * ride the REAL projection path (codegen dot_f per component); the
    * residual uses ‖x−μ−Σ pcⱼcⱼ‖² = ‖x−μ‖² − Σ pcⱼ² (orthonormal
    * basis), so the whole audit is one aggregate over one pass.
    * Tolerances are 1e-4 relative (float-literal noise is ~1e-7;
    * violations are O(1)). The oracle recomputes n_rows and pins the
    * booleans TRUE (the q_cluster_cap_pin pattern — SQL has no
    * eigendecomposition). */
  private val pcaVarExplained: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val model = graft.ml.Pca.fit(emb, "embedding", 4)
    val lam = model.variances.take(4)
    val trace = model.variances.sum
    val muF = model.mean.map(_.toFloat)
    val muNorm2 = muF.map(m => m.toDouble * m).sum
    val xf = col("embedding").cast("array<float>")
    val base = model.transform(emb, "embedding")
      .select((1 to 4).map(j => col(s"pc$j")) :+
        (dotF(xf, xf) - lit(2.0) * dotF(xf, lit(muF)) + lit(muNorm2))
          .as("csq"): _*)
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      (1 to 4).flatMap(j => Seq(
        var_samp(col(s"pc$j")).as(s"v$j"),
        avg(col(s"pc$j")).as(s"m$j"),
        avg(col(s"pc$j") * col(s"pc$j")).as(s"e$j"))) :+
      avg(col("csq")).as("mcsq")
    val agg = base.agg(aggs.head, aggs.tail: _*)
    val nd = col("n_rows").cast("double")
    val rows = (1 to 4).map { j =>
      val lamJ = lam(j - 1)
      val cumLam = lam.take(j).sum
      val dataResid = col("mcsq") -
        (1 to j).map(jj => col(s"e$jj")).reduce(_ + _)
      val predResid = (nd - lit(1.0)) / nd * lit(trace - cumLam)
      struct(
        lit(j).as("component"),
        col("n_rows").as("n_rows"),
        (abs(col(s"v$j") - lit(lamJ)) <= lit(lamJ * 1e-4 + 1e-9))
          .as("var_ok"),
        (abs(col(s"m$j")) <= lit(math.sqrt(lamJ) * 1e-4 + 1e-9))
          .as("mean_ok"),
        (abs(dataResid - predResid) <= lit(trace * 1e-4 + 1e-9))
          .as("recon_ok"))
    }
    agg.select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy("component")
  }

  /** Zipf rank-frequency slope — the corpus-health number text
    * pipelines watch: fit log(freq) ~ log(rank) over the top-1000
    * vocabulary and report the slope (natural text ≈ −1; a slope far
    * off signals boilerplate floods or tokenization breakage). The
    * corpus collapses to vocabulary counts once (map-side combined);
    * the rank window and the covariance fit run over the 1000-row
    * head — all post-collapse state is vocabulary-sized. Slope stated
    * as covar_pop/var_pop on both engines (the q_agg_corr precedent),
    * deterministic rank ties broken by word. */
  private val zipfSlope: Q = (s, d) => {
    // the top-1000 head via ScaledWindow.rankCum's bucketed rank - the
    // full-vocabulary row_number it replaces was the one data-sized
    // single-partition stage here
    val counted = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    ScaledWindow.rankCum(counted, Seq(col("n").desc, col("word").asc))
      .df
      .filter(col("rk") <= 1000)
      .select(log(col("rk").cast("double")).as("lx"),
        log(col("n").cast("double")).as("ly"))
      .agg(
        count(lit(1)).as("n_words"),
        round(covar_pop(col("lx"), col("ly")) / var_pop(col("lx")), 4)
          .as("zipf_slope"))
  }

  /** CountMin error audit — the exact-vs-estimate twin of
    * [[heavyHitters]] (the q_sketch_error pattern): probe EVERY key
    * against the sketch and compare to the exact per-key count. The
    * CountMin guarantee is one-sided — est(k) ≥ exact(k) always — so
    * `n_under` must be 0, and the total/max overestimate quantify the
    * collision mass the 4×256 grid absorbs. All quantities are exact
    * integers (no midpoint-rounding surface) and the md5-bucketed
    * sketch replays bit-identically in the oracle, which recomputes
    * every column from scratch. Same scale shape as the sketch itself:
    * one map-side-combined aggregate + a key-grain join. */
  private val heavyHittersError: Q = (s, d) => {
    val rows4 = array((0 until 4).map(lit): _*)
    val bucketed = Tables.orders(s, d)
      .select(col("o_custkey"), explode(rows4).as("h_row"))
      .withColumn("bucket", substring(
        md5(concat_ws("|", col("h_row"), col("o_custkey"))), 1, 2))
    val sketch = bucketed.groupBy("h_row", "bucket")
      .agg(count(lit(1)).as("cell"))
    val est = bucketed.distinct()
      .join(broadcast(sketch), Seq("h_row", "bucket"))
      .groupBy("o_custkey")
      .agg(min("cell").as("est_n"))
    val exact = Tables.orders(s, d)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    est.join(exact, "o_custkey")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("est_n") < col("n"), 1L).otherwise(0L)).as("n_under"),
        max(col("est_n") - col("n")).as("max_over"),
        sum(col("est_n") - col("n")).as("total_over"))
  }

  /** Per-source type-token ratio — the lexical-diversity screen beside
    * [[zipfSlope]]'s rank-frequency fit (templated/boilerplate sources
    * read LOW average TTR long before the Zipf slope moves): per doc
    * distinct-words/words with the ratio micro-scaled by INTEGER
    * division (types·10⁹) div tokens — exact, order-free sum — the
    * single float op per source is the emitted mean. Pure per-row
    * expression work (split + array_distinct inside codegen) plus one
    * source-keyed aggregate; zero joins. */
  private val ttr: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), size(col("w")).cast("long").as("nt"),
        size(array_distinct(col("w"))).cast("long").as("ty"))
      .filter(col("nt") > 0)
      .withColumn("units",
        expr("(ty * CAST(1000000000 AS BIGINT)) div nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        sum("ty").as("n_types_sum"),
        round(sum("units").cast("double") /
          (count(lit(1)).cast("double") * lit(1.0e9)), 6).as("avg_ttr"))
      .orderBy("source")
  }

  /** Heaps'-law vocabulary-growth fit V(N) ≈ K·N^β over the
    * doc_id-ordered ingest stream — the capacity-planning curve for
    * vocabulary/token budgets ([[zipfSlope]] reads the static
    * frequency spectrum; Heaps reads its GROWTH — natural text gives
    * β ≈ 0.4–0.6, boilerplate floods drive β toward 0). New-word
    * counts come from each word's min-doc_id first occurrence; both
    * cumulatives ride ONE [[ScaledWindow.rankCum]] pass (doc-grain =
    * data-sized, so never a partition-less window), and the log-log
    * OLS is the covar_pop/var_pop emission of the q_zipf_slope
    * contract. */
  private val heapsLaw: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val firstDoc = docs
      .select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("word").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("nnew"))
    val perDoc = docs
      .select(col("doc_id"), size(col("w")).cast("long").as("ntok"))
      .join(firstDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ntok"),
        coalesce(col("nnew"), lit(0L)).as("nnew"))
    val rnk = ScaledWindow.rankCum(perDoc, Seq(col("doc_id").asc),
      Seq("cumn" -> col("ntok"), "cumv" -> col("nnew")))
    rnk.df
      .select(log(col("cumn").cast("double")).as("lx"),
        log(col("cumv").cast("double")).as("ly"))
      .agg(count(lit(1)).as("n_docs"),
        round(covar_pop(col("lx"), col("ly")) / var_pop(col("lx")), 4)
          .as("heaps_beta"),
        round(avg(col("ly")) - covar_pop(col("lx"), col("ly")) /
          var_pop(col("lx")) * avg(col("lx")), 4).as("heaps_logk"))
  }

  val queries: Map[String, Q] = Map(
    "q_ttr" -> ttr,
    "q_heaps_law" -> heapsLaw,
    "q_zipf_slope" -> zipfSlope,
    "q_heavy_hitters_error" -> heavyHittersError,
    "q_pca_project" -> pcaProject,
    "q_pca_variance" -> pcaVariance,
    "q_pca_var_explained" -> pcaVarExplained,
    "q_char_entropy" -> charEntropy,
    "q_dup_coverage" -> dupCoverage,
    "q_ngram_novelty" -> ngramNovelty,
    "q_source_overlap" -> sourceOverlap,
    "q_temperature_sample" -> temperatureSample,
    "q_winsorize" -> winsorize,
    "q_skew_profile" -> skewProfile,
    "q_label_centroids" -> labelCentroids,
    "q_mad_outliers" -> madOutliers,
    "q_heavy_hitters" -> heavyHitters,
  )

  /** Shared shingle CTE prefix for the DuckDB replays (string shingles:
    * hash equality in the Spark plan is equality on the string up to a
    * 64-bit collision — the [[TextQueries.shingleRows]] contract). */
  private val shinglePrefix =
    """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
                     FROM documents),
       sh0 AS (SELECT doc_id, source,
                unnest(list_transform(range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
              FROM toks WHERE len(w) >= 3),
       dsh AS (SELECT DISTINCT doc_id, shingle FROM sh0)"""

  override val noOracle: Map[String, String] = Map(
    "q_pca_project" -> "no eigensolver in SQL; q_pca_var_explained and PcaSpec check it")

  override val buildJobs: Map[String, String] = Map(
    "q_pca_project" -> "the covariance eigendecomposition runs on the driver (Pca.fit)",
    "q_pca_var_explained" -> "the covariance eigendecomposition runs on the driver (Pca.fit)",
    "q_pca_variance" -> "the covariance eigendecomposition runs on the driver (Pca.fit)")

  val oracles: Map[String, String] = Map(
    // per-doc ratio micro-scaled by integer division, exact sums;
    // one mirrored division per source
    "q_ttr" ->
      """WITH per AS (SELECT source,
                        CAST(len(string_split(text, ' ')) AS BIGINT)
                          AS nt,
                        CAST(len(list_distinct(string_split(text, ' ')))
                          AS BIGINT) AS ty
                      FROM documents),
         u AS (SELECT source, nt, ty,
                 (ty * CAST(1000000000 AS BIGINT)) // nt AS units
               FROM per WHERE nt > 0)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(sum(ty) AS BIGINT) AS n_types_sum,
                round(CAST(sum(units) AS DOUBLE)
                  / (CAST(count(*) AS DOUBLE) * 1.0e9), 6) AS avg_ttr
         FROM u GROUP BY source ORDER BY source""",
    // cumulative tokens/vocab replayed with one window pass; the
    // log-log OLS is the covar_pop/var_pop emission (zipf contract)
    "q_heaps_law" ->
      """WITH toks AS (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS word
                       FROM documents),
         fd AS (SELECT min(doc_id) AS doc_id FROM toks GROUP BY word),
         nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nnew
                FROM fd GROUP BY doc_id),
         pd AS (SELECT d.doc_id,
                  CAST(len(string_split(d.text, ' ')) AS BIGINT)
                    AS ntok,
                  coalesce(nn.nnew, 0) AS nnew
                FROM documents d LEFT JOIN nn USING (doc_id)),
         cum AS (SELECT
                   ln(CAST(sum(ntok) OVER w AS DOUBLE)) AS lx,
                   ln(CAST(sum(nnew) OVER w AS DOUBLE)) AS ly
                 FROM pd WINDOW w AS (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                round(covar_pop(lx, ly) / var_pop(lx), 4) AS heaps_beta,
                round(avg(ly) - covar_pop(lx, ly) / var_pop(lx)
                  * avg(lx), 4) AS heaps_logk
         FROM cum""",
    "q_zipf_slope" ->
      """WITH v AS (SELECT word, count(*) AS n
                    FROM (SELECT unnest(string_split(text, ' ')) AS word
                          FROM documents)
                    GROUP BY word),
         r AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, word)
                              AS DOUBLE)) AS lx,
                      ln(CAST(n AS DOUBLE)) AS ly,
                      row_number() OVER (ORDER BY n DESC, word) AS rank
               FROM v)
         SELECT count(*) AS n_words,
                round(covar_pop(lx, ly) / var_pop(lx), 4) AS zipf_slope
         FROM r WHERE rank <= 1000""",
    // exact total variance recomputed from scratch; the TRUE constants
    // pin the PCA trace identity + orthonormality (see pcaVariance)
    "q_pca_variance" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_dims,
                round(sum(v), 4) AS total_var,
                true AS trace_ok, true AS ortho_ok
         FROM (SELECT var_samp(CAST(embedding[i] AS DOUBLE)) AS v
               FROM embeddings, range(1, 65) t(i)
               GROUP BY i)""",
    // per-component identities (eigenvalue = data variance along the
    // axis, centered projections, cumulative reconstruction error):
    // SQL cannot eigendecompose, so the oracle recomputes n_rows and
    // pins the booleans TRUE (the q_cluster_cap_pin pattern)
    "q_pca_var_explained" ->
      """SELECT CAST(i AS INTEGER) AS component,
                (SELECT count(*) FROM embeddings) AS n_rows,
                true AS var_ok, true AS mean_ok, true AS recon_ok
         FROM range(1, 5) t(i) ORDER BY component""",
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, length(text) AS n,
                list_transform(range(1, length(text) + 1), i -> text[i]) AS cs
              FROM documents),
         u AS (SELECT doc_id, n, cs, list_sort(list_distinct(cs)) AS uc FROM ch)
         SELECT doc_id, CAST(len(uc) AS INTEGER) AS n_unique_chars,
                round(0 - coalesce(list_sum(list_transform(uc,
                  c -> (len(list_filter(cs, x -> x = c)) / CAST(n AS DOUBLE))
                       * log2(len(list_filter(cs, x -> x = c)) / CAST(n AS DOUBLE)))),
                  0), 4) AS entropy_bits
         FROM u ORDER BY doc_id""",
    "q_dup_coverage" -> (shinglePrefix +
      """, df AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM dsh GROUP BY doc_id),
         dup AS (SELECT doc_id, count(*) AS n_dup
                 FROM dsh JOIN df USING (shingle) WHERE df >= 2 GROUP BY doc_id)
         SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
                CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
                round(CAST(coalesce(d.n_dup, 0) AS DOUBLE) / t.n_shingles, 4)
                  AS dup_ratio
         FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id
         ORDER BY t.doc_id"""),
    "q_ngram_novelty" -> (shinglePrefix +
      """, fst AS (SELECT shingle, min(doc_id) AS first_doc
                   FROM dsh GROUP BY shingle)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                CAST(count(*) FILTER (WHERE doc_id = first_doc) AS BIGINT)
                  AS n_novel,
                round(CAST(count(*) FILTER (WHERE doc_id = first_doc) AS DOUBLE)
                      / count(*), 4) AS novelty_ratio
         FROM dsh JOIN fst USING (shingle)
         GROUP BY doc_id ORDER BY doc_id"""),
    "q_source_overlap" -> (shinglePrefix +
      """, ssh AS (SELECT DISTINCT source, shingle FROM sh0),
         sz AS (SELECT source, count(*) AS n_total FROM ssh GROUP BY source),
         pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                          count(*) AS n_shared
                   FROM ssh a JOIN ssh b USING (shingle)
                   WHERE a.source <> b.source GROUP BY 1, 2)
         SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
                round(CAST(n_shared AS DOUBLE) / sz.n_total, 4) AS containment
         FROM pairs JOIN sz ON sz.source = pairs.source_a
         ORDER BY source_a, source_b"""),
    "q_temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
         m AS (SELECT min(n_lang) AS n_min FROM c),
         r AS (SELECT doc_id, d.lang,
                      sqrt(CAST(n_min AS DOUBLE) / n_lang) AS rate
               FROM documents d JOIN c USING (lang) CROSS JOIN m)
         SELECT doc_id, lang, round(rate, 4) AS rate
         FROM r
         WHERE rate >= 1.0
            OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)
               < lower(lpad(to_hex(CAST(floor(rate * 16777216) AS BIGINT)),
                            6, '0'))
         ORDER BY doc_id""",
    "q_winsorize" ->
      """WITH p AS (SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
                           quantile_cont(n_chars, 0.95) AS hi
                    FROM documents GROUP BY lang)
         SELECT doc_id, lang, n_chars,
                round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 2)
                  AS n_chars_capped
         FROM documents JOIN p USING (lang)
         ORDER BY doc_id""",
    "q_skew_profile" ->
      """WITH c AS (SELECT o_custkey, count(*) AS n FROM orders
                    GROUP BY o_custkey)
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
                CAST(max(n) AS BIGINT) AS max_n,
                round(avg(n), 4) AS avg_n,
                round(quantile_cont(n, 0.5), 4) AS p50_n,
                round(quantile_cont(n, 0.99), 4) AS p99_n,
                (SELECT o_custkey FROM c
                 ORDER BY n DESC, o_custkey DESC LIMIT 1) AS hot_key,
                round(CAST(max(n) AS DOUBLE) / avg(n), 4) AS skew_ratio
         FROM c""",
    "q_mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                      FROM events GROUP BY 1),
         dev AS (SELECT event_id, e.event_type, value, med,
                        abs(value - med) AS adev
                 FROM events e JOIN med USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT event_id, dev.event_type,
                round(0.6745 * (value - med) / mad, 4) AS rz
         FROM dev JOIN mad USING (event_type)
         WHERE abs(round(0.6745 * (value - med) / mad, 4)) > 3.5
         ORDER BY event_id""",
    "q_heavy_hitters" ->
      """WITH b AS (SELECT o_custkey, h_row,
                           substring(md5(CAST(h_row AS VARCHAR) || '|' ||
                                         CAST(o_custkey AS VARCHAR)), 1, 2)
                             AS bucket
                    FROM orders CROSS JOIN (SELECT unnest([0, 1, 2, 3])
                                            AS h_row)),
         sketch AS (SELECT h_row, bucket, count(*) AS cell
                    FROM b GROUP BY h_row, bucket),
         probes AS (SELECT DISTINCT o_custkey, h_row, bucket FROM b)
         SELECT o_custkey, CAST(min(cell) AS BIGINT) AS est_n
         FROM probes JOIN sketch USING (h_row, bucket)
         GROUP BY o_custkey
         ORDER BY est_n DESC, o_custkey ASC LIMIT 20""",
    "q_heavy_hitters_error" ->
      """WITH b AS (SELECT o_custkey, h_row,
                           substring(md5(CAST(h_row AS VARCHAR) || '|' ||
                                         CAST(o_custkey AS VARCHAR)), 1, 2)
                             AS bucket
                    FROM orders CROSS JOIN (SELECT unnest([0, 1, 2, 3])
                                            AS h_row)),
         sketch AS (SELECT h_row, bucket, count(*) AS cell
                    FROM b GROUP BY h_row, bucket),
         probes AS (SELECT DISTINCT o_custkey, h_row, bucket FROM b),
         est AS (SELECT o_custkey, CAST(min(cell) AS BIGINT) AS est_n
                 FROM probes JOIN sketch USING (h_row, bucket)
                 GROUP BY o_custkey),
         exact AS (SELECT o_custkey, count(*) AS n
                   FROM orders GROUP BY 1)
         SELECT count(*) AS n_keys,
                CAST(sum(CASE WHEN est_n < n THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_under,
                CAST(max(est_n - n) AS BIGINT) AS max_over,
                CAST(sum(est_n - n) AS BIGINT) AS total_over
         FROM est JOIN exact USING (o_custkey)""",
    "q_label_centroids" ->
      """WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                            unnest(embedding) AS x
                     FROM embeddings),
         comp AS (SELECT label, pos, avg(CAST(x AS DOUBLE)) AS c
                  FROM ex GROUP BY label, pos),
         nrm AS (SELECT label, sqrt(sum(c * c)) AS nrm FROM comp GROUP BY label),
         dots AS (SELECT a.label AS la, b.label AS lb, sum(a.c * b.c) AS dot
                  FROM comp a JOIN comp b USING (pos)
                  WHERE a.label < b.label GROUP BY 1, 2)
         SELECT la AS label_a, lb AS label_b,
                round(dot / (x.nrm * y.nrm), 4) AS cosine
         FROM dots JOIN nrm x ON x.label = la JOIN nrm y ON y.label = lb
         ORDER BY label_a, label_b""",
  )
}
