package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Second-stage curation / featurization operators — the ranking,
  * scaling, sampling, and collocation statistics a training-data
  * pipeline runs AFTER the dedup/filter passes have fixed corpus
  * membership: BM25 keyword extraction, robust per-group scaling,
  * exact stratified sampling, overlapping-window chunking, corpus
  * composition shares, and PMI collocation mining.
  *
  * Scale notes:
  *  - every statistic aggregates to a model-sized side (per-language
  *    percentiles, 50-word vocab, per-(lang,source) counts) that is
  *    broadcast back onto the corpus scan — the corpus itself crosses
  *    the network at most once per query, keyed by an 8-byte id;
  *  - [[cooccurPmi]] is candidate-bounded by construction: the
  *    within-doc self-join is restricted to a broadcast top-50 vocab,
  *    so the pair blow-up is ≤ C(50,2) per document, never len²;
  *  - [[docChunkOverlap]] and [[robustScale]] are pure per-row
  *    expression work inside whole-stage codegen — zero extra shuffle;
  *  - deterministic selection everywhere: md5-ordered row_numbers for
  *    the stratified sample (partition-order-invariant, replayable in
  *    any engine), rounded-score ranking for BM25/PMI so a 1-ulp libm
  *    `ln` difference between engines cannot flip an order-by.
  */
object CurationQueries extends QueryModule {

  /** BM25 (Okapi, k1 = 1.2, b = 0.75) top-3 terms per document — the
    * sparse-retrieval / keyword-extraction upgrade of [[TextQueries]]'
    * plain TF-IDF: term saturation (k1) and length normalization (b).
    * idf is the Lucene form ln(1 + (N − df + 0.5)/(df + 0.5)), always
    * positive. One (doc, word) count, one word-keyed df aggregate, one
    * doc-keyed length aggregate; N and avgdl are 1-row broadcasts.
    * Ranking uses the ROUNDED score (desc, then word) so both engines
    * agree on the cut even if libm ln differs in the last ulp. */
  private val bm25: Q = (s, d) => {
    val k1 = 1.2
    val b = 0.75
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfq = words.distinct().groupBy("word").agg(count(lit(1)).as("df"))
    val corpus = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(words.agg(count(lit(1)).as("n_words"))))
      .select(col("n_docs"),
        (col("n_words").cast("double") / col("n_docs")).as("avgdl"))
    val scored = tf.join(dl, "doc_id").join(dfq, "word")
      .crossJoin(broadcast(corpus))
      .withColumn("bm25", round(
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 4))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("word"), col("tf"), col("bm25"))
      .orderBy("doc_id", "rnk")
  }

  /** Robust (median/IQR) per-language scaling of n_chars — the outlier-
    * immune twin of z-scoring for features with heavy tails: a single
    * extreme document moves mean/std arbitrarily but barely moves the
    * quartiles. Exact interpolated percentiles (Spark `percentile` ≡
    * DuckDB `quantile_cont`), one tiny per-language aggregate broadcast
    * back; the scaling itself is per-row codegen. Zero-IQR groups emit
    * NULL (undefined scale) rather than ±inf. */
  private val robustScale: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pct = docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.5)").as("med"),
      expr("percentile(n_chars, 0.25)").as("p25"),
      expr("percentile(n_chars, 0.75)").as("p75"))
    docs.join(broadcast(pct), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("p75") =!= col("p25"),
          round((col("n_chars") - col("med")) / (col("p75") - col("p25")), 4))
          .as("robust_z"))
      .orderBy("doc_id")
  }

  /** Exact stratified sampling: ⌈20%⌉ of every language, selected by
    * md5(doc_id) rank — per-stratum counts are EXACT (unlike Bernoulli
    * sampling whose per-stratum size is binomial), and the survivor set
    * is deterministic, partition-order-invariant, and replayable in any
    * engine with md5. Per-language rank + count window; at scale the
    * hot-language window routes through the same salted-prune defense
    * as q_source_cap ([[TextQueries.rankedHeadByKey]] shape). */
  private val stratifiedSample: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .withColumn("n_lang", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rn") <= ceil(col("n_lang") * 0.2))
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("doc_id")

  /** Overlapping-window chunking: token windows of size 128 at stride
    * 64 (the context-window packing shape that preserves cross-boundary
    * n-grams, unlike q_doc_chunk's disjoint splits). Pure per-row
    * generator work: explode the stride starts, slice the token array —
    * no shuffle, output rows ∝ tokens/stride. */
  private val docChunkOverlap: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("w", split(col("text"), " "))
      .withColumn("nt", size(col("w")))
      .select(col("doc_id"), col("nt"), col("w"),
        explode(expr("CASE WHEN nt >= 1 THEN sequence(0, nt - 1, 64) " +
          "ELSE array() END")).as("st"))
      .select(
        col("doc_id"),
        (col("st") / 64).cast("int").as("chunk_id"),
        least(lit(128), col("nt") - col("st")).as("n_tok"),
        element_at(col("w"), col("st") + 1).as("first_tok"),
        element_at(col("w"), col("st") + least(lit(128), col("nt") - col("st")))
          .as("last_tok"))
      .orderBy("doc_id", "chunk_id")

  /** Corpus composition matrix: per (lang, source) document count and
    * its share WITHIN the language — the drift dashboard a curation
    * pipeline watches per ingest (a source suddenly dominating one
    * language is the classic crawler-loop signal). One map-side-combined
    * aggregate to (lang, source) grain, then a window over the tiny
    * aggregate — corpus-sized data shuffles once. */
  private val langSourceShare: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .withColumn("share", round(
        col("n") / sum("n").over(Window.partitionBy("lang")), 4))
      .orderBy("lang", "source")

  /** PMI collocations over the top-50 document-frequency vocabulary:
    * pairs (a < b) scored by ln(P(a,b) / (P(a)·P(b))) with document-
    * level probabilities, support ≥ 5 docs, top-20 by rounded PMI.
    * The candidate stage joins each document's vocab words with
    * themselves — bounded by C(50,2) pairs per doc because the vocab
    * side is a broadcast 50-row list, NEVER a len² text blow-up. The
    * doc_id-keyed equi-join is the only corpus shuffle. */
  private val cooccurPmi: Q = (s, d) => {
    // round 18: the (doc_id, word) dedup is ROW-LOCAL — a word repeats
    // within one document's split array — so `array_distinct` before
    // the explode yields the identical relation with ZERO exchange,
    // where the original's `.distinct()` paid a full corpus-word
    // shuffle to deduplicate rows that never left their source row
    // (guide §2.4: remove shuffles outright).
    val dw = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
    val vocab = dw.groupBy("word").agg(count(lit(1)).as("dfw"))
      .orderBy(desc("dfw"), asc("word")).limit(50)
    val dv = dw.join(broadcast(vocab), "word")
    val la = dv.select(col("doc_id"), col("word").as("wa"), col("dfw").as("na"))
    val lb = dv.select(col("doc_id"), col("word").as("wb"), col("dfw").as("nb"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    la.join(lb, "doc_id")
      .filter(col("wa") < col("wb"))
      .groupBy("wa", "wb", "na", "nb").agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= 5)
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi", round(log(
        col("nab").cast("double") * col("n_docs") / (col("na") * col("nb"))), 4))
      .select(col("wa"), col("wb"), col("nab"), col("pmi"))
      .orderBy(desc("pmi"), asc("wa"), asc("wb"))
      .limit(20)
  }

  /** One-lang per-source corpus profile over the FLAT driver layout —
    * the baseline half of the layout A/B: this scan must read every
    * lang's bytes and row-filter. Identical logical query (and oracle)
    * to [[corpusScanPruned]]; only the physical layout differs, so the
    * bench delta between the two IS the partition-pruning win,
    * recorded per-round in BENCH_FULL.json. */
  private val corpusScanFlat: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("source")

  /** The same profile over the lang-partitioned layout
    * (graft.pipeline.CorpusLayout): the `lang = 'en'` predicate prunes
    * at the DIRECTORY level (PartitionFilters), so non-en bytes are
    * never read — at 100 TB, a ~10× I/O cut for one-lang queries. The
    * layout materializes once per data drop through the same offline-
    * artifact seam as the IVF index (warmed in Bench; cached on disk,
    * (dir, mtime, size)-invalidated). `lang` is dropped from the
    * output (it's the constant partition key), matching the oracle. */
  private val corpusScanPruned: Q = (s, d) => {
    val path = graft.pipeline.CorpusLayout.ensureLayout(s, d)
    graft.pipeline.CorpusLayout.readDocuments(s, path)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
        round(avg("n_chars"), 4).as("avg_chars"))
      .orderBy("source")
  }

  /** BPE merge training (Sennrich et al. 2016, the subword-nmt
    * algorithm) — the tokenizer-construction step of an LLM data
    * pipeline, distributed the way the original trains on a word
    * FREQUENCY DICTIONARY rather than the running text: the corpus
    * collapses once to (word, freq) — vocab-sized state, the only
    * corpus-sized pass — then every merge round works on the
    * symbol-sequence dict. Per round: adjacent-pair counts weighted by
    * word freq (map-side-combined groupBy over vocab-sized data), the
    * single argmax pair fetched to the driver (ONE row per round — the
    * documented scalar-probe exception), and the merge applied as a
    * left-fold `aggregate` HOF over each word's symbol array — the
    * greedy left-to-right semantics of the reference implementation.
    * Ties break by (freq desc, left, right) so training is
    * deterministic in both engines of any reimplementation.
    *
    * Iterative argmax is not SQL-expressible for the driver oracle
    * (rows-only check); BpeSpec pins the classic hand-computed fixture
    * and full agreement with an independent sequential
    * reimplementation. */
  /** The greedy left-to-right merge of one (l, r) pair over a symbol
    * array, as a codegen-friendly `aggregate` left fold — shared by
    * training (per round) and encoding (per trained merge). */
  private def mergeFold(sym: org.apache.spark.sql.Column,
      l: String, r: String): org.apache.spark.sql.Column = {
    val lLit = lit(l); val rLit = lit(r); val lr = lit(l + r)
    aggregate(sym, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lLit && x === rLit,
        concat(slice(acc, lit(1), size(acc) - 1), array(lr)))
        .otherwise(concat(acc, array(x))))
  }

  private[graft] def trainBpe(docs: DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    val wordFreq = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var syms = wordFreq.select(
      concat(split(col("word"), ""), array(lit("</w>"))).as("sym"),
      col("freq")).persist()
    val stale = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var done = false
    var round = 1
    while (round <= nMerges && !done) {
      val top = syms
        .select(col("freq"), explode(expr(
          """CASE WHEN size(sym) >= 2
               THEN transform(sequence(0, size(sym) - 2),
                              i -> struct(sym[i] AS l, sym[i+1] AS r))
               ELSE array() END""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pf"))
        .orderBy(desc("pf"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, pf) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, pf))
        // no per-round materialize job: round k+1's pair-count scan is
        // the action that fills this cache, and parents stay persisted
        // until training ends (10 vocab-sized DFs, trivially resident)
        // so dropping them can never force a lineage recompute
        val next = syms
          .select(mergeFold(col("sym"), l, r).as("sym"), col("freq")).persist()
        stale += syms
        syms = next
        round += 1
      }
    }
    stale.foreach(_.unpersist())
    syms.unpersist()
    merges.toSeq
  }

  private[graft] def bpeMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trainBpe(docs, nMerges).toDF("rank", "left", "right", "pair_freq")
  }

  /** Fast BPE training: ONE corpus-sized Spark pass (the word-
    * frequency aggregation), then the merge loop on the DRIVER over
    * the collected dictionary — the architecture every production
    * tokenizer trainer uses (subword-nmt's learn_bpe and HF tokenizers
    * both train on an aggregated word-count dict on one node; the
    * corpus-sized work is exactly the one distributed aggregation).
    * [[trainBpe]] keeps the fully-distributed per-round form — it is
    * the right shape when the dict itself cannot fit one machine, and
    * BpeSpec pins the two paths merge-for-merge equal, the strongest
    * cross-check either has.
    *
    * The collect is VOCAB-sized, not corpus-sized (distinct words,
    * round-16 verdict's bounded-collect discipline): ~10⁵ entries at
    * sf0.1. At 100 TB of noisy web text the dict is pruned by
    * `minFreq` first — the standard practice (a pair made of freq-1
    * typo words can never win a merge that matters) — keeping the
    * driver state in the tens of millions of entries at worst; the
    * default 1 changes nothing at test scales.
    *
    * Same contract as [[trainBpe]]: per-round argmax over freq-
    * weighted adjacent pair counts, ties (freq desc, left, right),
    * greedy left-to-right merge, early stop when no pair remains. */
  private[graft] def trainBpeDict(docs: DataFrame, nMerges: Int,
      minFreq: Long = 1L): Seq[(Int, String, String, Long)] = {
    val dict = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // distinct words split injectively, so the initial dict has no
    // colliding sequences; after each merge equal sequences re-group
    var freq: Map[List[String], Long] = dict.iterator.map { case (w, f) =>
      (w.map(_.toString).toList :+ "</w>") -> f
    }.toMap
    def mergeSeq(seq: List[String], l: String, r: String): List[String] = {
      val buf = scala.collection.mutable.ListBuffer[String]()
      for (x <- seq)
        if (buf.nonEmpty && buf.last == l && x == r) {
          buf.remove(buf.size - 1); buf += (l + r)
        } else buf += x
      buf.toList
    }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var k = 1
    var done = false
    while (k <= nMerges && !done) {
      val pc = scala.collection.mutable.Map[(String, String), Long]()
      freq.foreach { case (seq, f) =>
        seq.zip(seq.tail).foreach(p => pc(p) = pc.getOrElse(p, 0L) + f)
      }
      if (pc.isEmpty) done = true
      else {
        val ((l, r), pf) = pc.toSeq
          .sortBy { case ((a, b), f) => (-f, a, b) }.head
        out += ((k, l, r, pf))
        freq = freq.groupMapReduce { case (seq, _) =>
          mergeSeq(seq, l, r)
        }(_._2)(_ + _)
        k += 1
      }
    }
    out.toSeq
  }

  private[graft] def bpeMergesDict(docs: DataFrame, nMerges: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trainBpeDict(docs, nMerges).toDF("rank", "left", "right", "pair_freq")
  }

  /** Trained-tokenizer artifact cache, keyed by data version — the
    * IVF-index precedent (SimilarityQueries.buildIvfIndex): a tokenizer
    * is trained once per corpus drop offline, never inside every encode
    * job. */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Seq[(Int, String, String, Long)]]()

  private[graft] def trainedBpe(s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    bpeCache.computeIfAbsent((d, Tables.version(s, d, "documents")),
      _ => trainBpeDict(Tables.documents(s, d), 10))

  /** 10 training rounds over the documents corpus via the dict path
    * (uncached — the TRAINING cost is the measured quantity; encode
    * reuses the cached artifact). Round-17 buy-back: the previous
    * fully-distributed form paid 10 Spark jobs of scheduler latency
    * for a vocab-sized dict (2.78 s, the top bench anchor three
    * rounds running); one corpus pass + the driver dict loop is the
    * production-tokenizer architecture and ~5× cheaper. */
  private val bpe: Q = (s, d) => bpeMergesDict(Tables.documents(s, d), 10)

  /** Tokenize the corpus with the trained BPE — the ENCODE path, and
    * the shape that matters at 100 TB: the merge fold runs over the
    * DISTINCT-WORD vocabulary (vocab-sized state, like the LM-score /
    * TF-IDF family), then per-word token counts broadcast back onto the
    * exploded corpus — the corpus itself never carries symbol arrays
    * through a shuffle. Per-doc output: words and BPE token count.
    * No oracle (the merge list is a learned artifact); BpeSpec pins
    * encode against the sequential reference and the
    * more-merges-never-longer monotonicity. */
  private[graft] def bpeEncode(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.select("word").distinct()
      .withColumn("sym", concat(split(col("word"), ""), array(lit("</w>"))))
    val encoded = merges
      .foldLeft(vocab) { case (df, (l, r)) =>
        df.withColumn("sym", mergeFold(col("sym"), l, r))
      }
      .select(col("word"), size(col("sym")).as("n_tokens_word"))
    words.join(broadcast(encoded), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_tokens_word").as("n_tokens"))
      .orderBy("doc_id")
  }

  private val bpeEnc: Q = (s, d) =>
    bpeEncode(Tables.documents(s, d),
      trainedBpe(s, d).map { case (_, l, r, _) => (l, r) })

  /** BPE training round 1 as a DRIVER-ARTIFACT ORACLE (the
    * q_knn_ivf_recall pin pattern for the tokenizer family): the first
    * merge is a pure corpus statistic — the most frequent adjacent
    * symbol pair over char-split words + the `</w>` terminal, weighted
    * by word frequency, tie-broken (freq desc, left asc, right asc) —
    * so DuckDB recomputes it from scratch and the hash gate proves the
    * engine's pair-count/argmax machinery end-to-end. Later rounds
    * depend on the learned artifact (BpeSpec pins them against a
    * sequential reimplementation). */
  private val bpeFirstMerge: Q = (s, d) =>
    bpeMerges(Tables.documents(s, d), 1)

  /** Corpus-level encode invariants as a driver-artifact pin for
    * [[bpeEnc]]: exact word and base-token (chars + terminal) totals —
    * both recomputed by the oracle — plus the boolean bounds every
    * correct BPE encode must satisfy: per-corpus token count never
    * exceeds the unmerged base and never undercuts one token per word,
    * and the encode's word accounting matches the exact count. */
  private val bpeEncodePin: Q = (s, d) => {
    val enc = bpeEncode(Tables.documents(s, d),
      trainedBpe(s, d).map { case (_, l, r, _) => (l, r) })
      .agg(sum("n_words").as("e_words"), sum("n_tokens").as("e_tokens"))
    val exact = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")) + 1).as("base_tokens"))
    exact.crossJoin(broadcast(enc))
      .select(col("n_words"), col("base_tokens"),
        (col("e_words") === col("n_words")).as("words_ok"),
        (col("e_tokens") <= col("base_tokens")).as("tokens_le_ok"),
        (col("e_tokens") >= col("n_words")).as("tokens_ge_ok"))
  }

  /** Bigram language-model scoring with add-k smoothing — the
    * context-aware twin of q_lm_score's unigram scorer (a unigram LM
    * cannot see scrambled word ORDER; a bigram perplexity spike can):
    * train p(w₂|w₁) = (n₁₂ + 0.5)/(n₁· + 0.5·V) on the corpus itself,
    * score every document by mean bigram log-probability and
    * perplexity. Bigrams are space-joined token pairs (the shingle
    * convention, so the oracle rebuilds identical keys); the model
    * join shuffles on the bigram key (sparse observed-bigram state,
    * never V²), context counts and V are vocabulary-sized/1-row
    * broadcasts. */
  private val bigramLm: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val bi = toks.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"))
      .as("big"))
    val model = bi.groupBy("big").agg(count(lit(1)).as("n12"))
    val ctx = model
      .groupBy(substring_index(col("big"), " ", 1).as("w1"))
      .agg(sum("n12").as("nc"))
    val vocab = toks.select(explode(col("w")).as("word"))
      .agg(countDistinct("word").as("v"))
    val logp = log((col("n12") + lit(0.5))
      / (col("nc") + lit(0.5) * col("v")))
    bi.join(model, "big")
      .withColumn("w1", substring_index(col("big"), " ", 1))
      .join(broadcast(ctx), "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(logp), 4).as("bigram_lm"),
        round(exp(-avg(logp)), 4).as("ppl"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_bigram_lm" -> bigramLm,
    "q_bpe_merges" -> bpe,
    "q_bpe_encode" -> bpeEnc,
    "q_bpe_first_merge" -> bpeFirstMerge,
    "q_bpe_encode_pin" -> bpeEncodePin,
    "q_corpus_scan_flat" -> corpusScanFlat,
    "q_corpus_scan_pruned" -> corpusScanPruned,
    "q_bm25" -> bm25,
    "q_robust_scale" -> robustScale,
    "q_stratified_sample" -> stratifiedSample,
    "q_doc_chunk_overlap" -> docChunkOverlap,
    "q_lang_source_share" -> langSourceShare,
    "q_cooccur_pmi" -> cooccurPmi,
  )

  private val corpusScanOracle =
    """SELECT source, count(*) AS n,
              CAST(sum(n_chars) AS BIGINT) AS chars,
              round(avg(n_chars), 4) AS avg_chars
       FROM documents WHERE lang = 'en'
       GROUP BY source ORDER BY source"""

  override val noOracle: Map[String, String] = Map(
    "q_bpe_merges" -> "learned merges; q_bpe_first_merge and BpeSpec pin them",
    "q_bpe_encode" -> "uses the learned merges; q_bpe_encode_pin and BpeSpec check it")

  override val buildJobs: Map[String, String] = Map(
    "q_bpe_merges" -> "each merge round brings its argmax pair to the driver",
    "q_bpe_first_merge" -> "each merge round brings its argmax pair to the driver")

  val oracles: Map[String, String] = Map(
    // identical space-joined bigram keys; add-0.5 smoothing over the
    // sparse observed-bigram state; perplexity from the same mean
    "q_bigram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents WHERE len(string_split(text, ' ')) >= 2),
         bi AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(w)),
                         i -> w[i] || ' ' || w[i+1])) AS big
                FROM toks),
         model AS (SELECT big, count(*) AS n12 FROM bi GROUP BY 1),
         ctx AS (SELECT string_split(big, ' ')[1] AS w1,
                        CAST(sum(n12) AS BIGINT) AS nc
                 FROM model GROUP BY 1),
         vocab AS (SELECT count(DISTINCT word) AS v
                   FROM (SELECT unnest(w) AS word FROM toks))
         SELECT bi.doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
                round(avg(ln((n12 + 0.5) / (nc + 0.5 * v))), 4)
                  AS bigram_lm,
                round(exp(-avg(ln((n12 + 0.5) / (nc + 0.5 * v)))), 4)
                  AS ppl
         FROM bi
         JOIN model USING (big)
         JOIN ctx ON ctx.w1 = string_split(bi.big, ' ')[1]
         CROSS JOIN vocab
         GROUP BY bi.doc_id ORDER BY bi.doc_id""",
    // the SAME oracle for both layout halves: physical layout must not
    // change query results, and DuckDB replays on the flat parquet
    "q_corpus_scan_flat" -> corpusScanOracle,
    "q_corpus_scan_pruned" -> corpusScanOracle,
    // round-1 BPE merge recomputed from scratch: char-split words +
    // '</w>' terminal, adjacent-pair counts weighted by word freq,
    // argmax tie-broken (freq desc, left, right)
    "q_bpe_first_merge" ->
      """WITH wf AS (SELECT word, count(*) AS freq
                     FROM (SELECT unnest(string_split(text, ' ')) AS word
                           FROM documents)
                     WHERE length(word) > 0 GROUP BY word),
         sym AS (SELECT list_append(string_split(word, ''), '</w>') AS sym,
                        freq
                 FROM wf),
         pairs AS (SELECT freq, sym[i] AS l, sym[i + 1] AS r
                   FROM sym, unnest(range(1, len(sym))) AS t(i))
         SELECT CAST(1 AS INTEGER) AS rank, l AS "left", r AS "right",
                CAST(sum(freq) AS BIGINT) AS pair_freq
         FROM pairs GROUP BY l, r
         ORDER BY pair_freq DESC, l, r LIMIT 1""",
    "q_bpe_encode_pin" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents)
         SELECT count(*) AS n_words,
                CAST(sum(length(word) + 1) AS BIGINT) AS base_tokens,
                true AS words_ok, true AS tokens_le_ok, true AS tokens_ge_ok
         FROM w WHERE length(word) > 0""",
    "q_bm25" ->
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                        FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
         df AS (SELECT word, count(*) AS df
                FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
         corpus AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                           CAST((SELECT count(*) FROM words) AS DOUBLE)
                             / (SELECT count(*) FROM documents) AS avgdl),
         scored AS (
           SELECT tf.doc_id, tf.word, tf.tf,
                  round(ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5)) *
                        (tf.tf * 2.2) /
                        (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)), 4)
                    AS bm25
           FROM tf JOIN dl USING (doc_id) JOIN df USING (word)
           CROSS JOIN corpus),
         ranked AS (
           SELECT doc_id,
                  CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY bm25 DESC, word) AS INTEGER) AS rnk,
                  word, tf, bm25
           FROM scored)
         SELECT doc_id, rnk, word, tf, bm25 FROM ranked
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q_robust_scale" ->
      """WITH p AS (SELECT lang,
                           quantile_cont(n_chars, 0.5) AS med,
                           quantile_cont(n_chars, 0.25) AS p25,
                           quantile_cont(n_chars, 0.75) AS p75
                    FROM documents GROUP BY lang)
         SELECT doc_id, d.lang, n_chars,
                CASE WHEN p75 <> p25
                     THEN round((n_chars - med) / (p75 - p25), 4) END
                  AS robust_z
         FROM documents d JOIN p USING (lang)
         ORDER BY doc_id""",
    "q_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang,
                           CAST(row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                             AS INTEGER) AS rn,
                           count(*) OVER (PARTITION BY lang) AS n_lang
                    FROM documents)
         SELECT doc_id, lang, rn FROM r
         WHERE rn <= ceil(n_lang * 0.2)
         ORDER BY doc_id""",
    "q_doc_chunk_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
         st AS (SELECT doc_id, w, len(w) AS nt,
                       unnest(range(0, len(w), 64)) AS st
                FROM toks WHERE len(w) >= 1)
         SELECT doc_id, CAST(st // 64 AS INTEGER) AS chunk_id,
                CAST(least(128, nt - st) AS INTEGER) AS n_tok,
                w[st + 1] AS first_tok,
                w[st + least(128, nt - st)] AS last_tok
         FROM st ORDER BY doc_id, chunk_id""",
    "q_lang_source_share" ->
      """WITH c AS (SELECT lang, source, count(*) AS n
                    FROM documents GROUP BY 1, 2)
         SELECT lang, source, n,
                round(CAST(n AS DOUBLE) /
                      sum(n) OVER (PARTITION BY lang), 4) AS share
         FROM c ORDER BY lang, source""",
    "q_cooccur_pmi" ->
      """WITH dw AS (SELECT DISTINCT doc_id, word
                     FROM (SELECT doc_id,
                                  unnest(string_split(text, ' ')) AS word
                           FROM documents)),
         vocab AS (SELECT word, count(*) AS dfw FROM dw GROUP BY word
                   ORDER BY dfw DESC, word LIMIT 50),
         dv AS (SELECT doc_id, word, dfw FROM dw JOIN vocab USING (word)),
         n AS (SELECT count(*) AS n_docs FROM documents),
         co AS (SELECT a.word AS wa, b.word AS wb,
                       a.dfw AS na, b.dfw AS nb, count(*) AS nab
                FROM dv a JOIN dv b USING (doc_id)
                WHERE a.word < b.word
                GROUP BY 1, 2, 3, 4
                HAVING count(*) >= 5)
         SELECT wa, wb, nab,
                round(ln(CAST(nab AS DOUBLE) * n_docs / (na * nb)), 4) AS pmi
         FROM co CROSS JOIN n
         ORDER BY pmi DESC, wa, wb LIMIT 20""",
  )
}
