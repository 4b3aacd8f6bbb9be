package graft

import org.apache.spark.sql.functions._
import graft.functions.Fingerprint64
import graft.queries.{OpqIndex, PqIndex, SimilarityQueries, TextQueries}

class TextSimilaritySpec extends SparkSpec {

  test("all text/similarity queries execute and return rows") {
    // q_dedup_containment_sfx is legitimately EMPTY on the driver
    // corpus: its dups are end-truncations, so only the prefix mode
    // fires — the suffix mode's positive case is pinned by its
    // header-injection fixture test instead
    val mayBeEmpty = Set("q_dedup_containment_sfx")
    (TextQueries.queries ++ SimilarityQueries.queries).foreach {
      case (name, fn) if mayBeEmpty(name) => fn(spark, sf).count()
      case (name, fn) => assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("fingerprint64 expression matches the reference scala implementation") {
    val rows = TextQueries.queries("q_doc_fingerprint")(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .select("text", "fp64").limit(50).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == Fingerprint64.hash(r.getString(0).getBytes("UTF-8")))
    }
  }

  test("fingerprint64 distinguishes distinct texts and is stable on equal ones") {
    val fps = TextQueries.queries("q_doc_fingerprint")(spark, sf).collect()
    assert(fps.map(_.getLong(1)).distinct.length == fps.length) // all docs distinct at sf0.001
    val twice = TextQueries.queries("q_doc_fingerprint")(spark, sf).collect()
    assert(fps.map(_.getLong(1)).toSeq == twice.map(_.getLong(1)).toSeq)
  }

  test("fingerprint64 participates in whole-stage codegen") {
    val plan = Tables.documents(spark, sf)
      .select(Fingerprint64.fingerprint64(col("text")))
      .queryExecution.executedPlan
    val inCodegen = plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(inCodegen, s"expected a WholeStageCodegen stage, got:\n$plan")
  }

  test("minhash dedup finds every exact-ngram-jaccard pair (candidate superset)") {
    val exact = TextQueries.queries("q_dedup_ngram")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = SimilarityQueries.queries("q_dedup_minhash")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // minhash verifies candidates exactly, so found pairs must be a
    // subset of the true pairs; recall should be near-total here.
    assert(mh.subsetOf(exact))
    assert(mh.size >= exact.size * 8 / 10, s"minhash recall too low: ${mh.size}/${exact.size}")
  }

  test("md5-family minhash twin verifies the same pairs as the xxhash64 path") {
    // different hash families block differently, but both verify exact
    // integer Jaccard >= 0.8 on their candidates — on this corpus the
    // verified pair sets must agree (the banding is generous enough
    // that neither family misses a true pair the other finds)
    val native = SimilarityQueries.queries("q_dedup_minhash")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oracleTwin = SimilarityQueries.queries("q_dedup_minhash_oracle")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == oracleTwin,
      s"families disagree: only-native ${native -- oracleTwin}, only-md5 ${oracleTwin -- native}")
  }

  test("mllib MinHashLSH finds the same near-dup pairs as the native path") {
    val exact = TextQueries.queries("q_dedup_ngram")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mllib = SimilarityQueries.queries("q_dedup_minhash_mllib")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact diff mllib).size <= exact.size / 5,
      s"mllib lsh missed too many: ${(exact diff mllib).size}/${exact.size}")
  }

  test("embedding near-dup pairs stay within label blocks") {
    val rows = SimilarityQueries.queries("q_dedup_embedding")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) >= 0.35))
  }

  test("declarative simhash signatures equal the SimHashAgg typed path") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    // the typed-Aggregator path q_dedup_simhash used through round 13:
    // same xxhash64 word hashes, per-bit +/-1 votes, bit = vote > 0
    val typed = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id").as("_1"), xxhash64(col("word")).as("_2"))
      .as[(Long, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.SimHashAgg.toColumn.name("simhash"))
      .toDF("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decl = SimilarityQueries.simhashSignatures(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decl == typed,
      s"signature drift on docs ${(decl.keySet ++ typed.keySet).filter(k => decl.get(k) != typed.get(k)).take(5)}")
  }

  test("simhash near-dup pairs overlap the jaccard near-dup pairs") {
    val exact = TextQueries.queries("q_dedup_ngram")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = SimilarityQueries.queries("q_dedup_simhash")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.nonEmpty)
    assert((sh intersect exact).size >= sh.size / 2,
      s"simhash pairs mostly disagree with jaccard pairs: ${(sh intersect exact).size}/${sh.size}")
  }

  test("lsh knn includes the query vector and overlaps exact top-10") {
    val exact = SimilarityQueries.queries("q_knn_exact")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lsh = SimilarityQueries.queries("q_knn_lsh")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh.contains(0L), "query vector must match itself")
    assert((lsh intersect exact).size >= 2, s"lsh found ${lsh intersect exact} of exact top-10")
  }

  test("oracle-twin lsh knn prunes the corpus and overlaps exact top-10") {
    // the md5-plane DuckDB-replayable ANN path must still BE an ANN:
    // candidates a strict subset of the corpus, self-match present,
    // useful overlap with the exact top-10
    val corpus = Tables.embeddings(spark, sf).count()
    val cand = SimilarityQueries.knnLshOracleCandidates(spark, sf).count()
    info(s"lsh-oracle candidates $cand of $corpus")
    assert(cand < corpus / 2, s"candidates $cand must prune the $corpus corpus")
    assert(cand >= 10, s"candidates $cand cannot rank a top-10")
    val exact = SimilarityQueries.queries("q_knn_exact")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lsh = SimilarityQueries.queries("q_knn_lsh_oracle")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh.contains(0L), "query vector must match itself")
    assert((lsh intersect exact).size >= 2,
      s"lsh-oracle found ${lsh intersect exact} of exact top-10")
  }

  test("multi-probe lsh strictly beats single-probe recall at <2x candidates") {
    val exact = SimilarityQueries.queries("q_knn_exact")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def recall(q: String): Int =
      (SimilarityQueries.queries(q)(spark, sf)
        .select("vec_id").collect().map(_.getLong(0)).toSet intersect exact).size
    val single = recall("q_knn_lsh")
    val multi = recall("q_knn_lsh_multi")
    val cSingle = SimilarityQueries.lshCandidates(spark, sf, 0).count()
    val cMulti = SimilarityQueries.lshCandidates(spark, sf, 1).count()
    info(s"recall single=$single multi=$multi candidates $cSingle -> $cMulti")
    assert(multi > single,
      s"multi-probe recall $multi must strictly beat single-probe $single")
    assert(cMulti < 2 * cSingle,
      s"multi-probe candidates $cMulti must stay under 2x single-probe $cSingle")
  }

  test("ivf batch knn recalls most exact neighbors per probe, all cells probed distributed") {
    val rows = SimilarityQueries.queries("q_knn_batch_ivf")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 50 == 0 && r.getLong(0) != r.getLong(2)))
    // driver-side exact per-probe top-10 (test-scale corpus) as recall ref
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val got = rows.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = got.map { case (p, ids) =>
      val exact = emb.toSeq.filter(_._1 != p)
        .map { case (id, v) => (cos(v, emb(p)), id) }
        .sortBy { case (c, id) => (-c, id) }.take(10).map(_._2).toSet
      (ids intersect exact).size
    }
    // nProbe=4 of 16 cells: expect solid average recall of exact top-10
    val avg = recalls.sum.toDouble / recalls.size
    assert(avg >= 4.0, s"avg per-probe recall $avg of exact top-10 too low: $recalls")
  }

  test("multi-probe embedding dedup finds a strict superset incl. boundary pairs") {
    val single = SimilarityQueries.queries("q_dedup_embedding_lsh")(spark, sf)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = SimilarityQueries.queries("q_dedup_embedding_lsh_multi")(spark, sf)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(multi),
      s"multi-probe must contain every single-probe pair; missing ${single -- multi}")
    assert(multi.size > single.size,
      "multi-probe should recover boundary pairs single-bucket blocking misses")
  }

  test("ivf knn recalls most of the exact top-10") {
    val exact = SimilarityQueries.queries("q_knn_exact")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = SimilarityQueries.queries("q_knn_ivf")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf.contains(0L))
    assert((ivf intersect exact).size >= 3,
      s"ivf recalled only ${(ivf intersect exact).size} of exact top-10")
  }

  test("batch knn: per-probe top-k over sign-bit blocks, probe side broadcast") {
    import org.apache.spark.sql.functions._
    val df = SimilarityQueries.queries("q_knn_batch")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every probe is a vec_id % 50 == 0 vector; no self-matches; k <= 10
    assert(rows.forall(r => r.getLong(0) % 50 == 0))
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val perProbe = rows.groupBy(_.getLong(0))
    assert(perProbe.values.forall(_.length <= 10))
    // within a probe, rnk is 1..n and cos_sim is non-increasing
    perProbe.foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length),
        s"probe $p ranks not contiguous")
      val sims = sorted.map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"probe $p cos_sim not monotone")
    }
    // a probe's top-1 within its own bucket agrees with a driver-side
    // recompute restricted to that bucket (spot-check on one probe)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def bucket(v: Array[Float]): Long =
      (0 until 8).map(i => if (v(i) >= 0f) 1L << i else 0L).sum
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probe = rows.head.getLong(0)
    val want = emb.toSeq
      .filter { case (id, v) => id != probe && bucket(v) == bucket(emb(probe)) }
      .map { case (id, v) => (cos6(v, emb(probe)), id) }
      .sortBy { case (c, id) => (-c, id) }.take(10)
    val got = perProbe(probe).sortBy(_.getInt(1))
      .map(r => (r.getDouble(3), r.getLong(2))).toSeq
    assert(got == want, s"probe $probe: got $got, want $want")
    // scale shape: the candidate join must broadcast the probe side
    // (string-probe the AQE-finalized tree — after the collect above
    // the adaptive plan is final and renders its runtime join choice)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      s"expected a broadcast hash join for the probe side:\n$planStr")
  }

  test("embedding LSH dedup equals a driver-side recompute of the bucketed semantics") {
    val rows = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def bucket(v: Array[Float]): Long =
      (0 until 8).map(i => if (v(i) >= 0f) 1L << i else 0L).sum
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
        s
      }
      val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      java.math.BigDecimal.valueOf(c)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    }
    val want = (for {
      (i, vi) <- rows; (j, vj) <- rows
      if i < j && bucket(vi) == bucket(vj)
      c = cos6(vi, vj) if c >= 0.35
    } yield (i, j, c)).toSet
    val got = SimilarityQueries.queries("q_dedup_embedding_lsh")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(want.nonEmpty, "fixture must produce at least one bucketed near-dup pair")
    assert(got == want)
  }

  test("ivf index persists to disk; a cold session loads it and knn output is unchanged") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    def artifacts = new java.io.File(idxDir).listFiles().map(_.getName).toSet
    try withConf("spark.graft.ivf.indexDir" -> idxDir) {
      SimilarityQueries.clearIvfMemoryCache()
      // first query fits the quantizer AND writes the index artifact
      val before = SimilarityQueries.queries("q_knn_ivf")(spark, sf)
        .collect().map(_.toSeq).toSeq
      val built = SimilarityQueries.buildIvfIndex(spark, sf)
      assert(artifacts.nonEmpty, "index artifact must be on disk")
      // cold session stand-in: drop the in-memory cache; the rebuild must
      // come from the DISK artifact — proven by a reload that starts no
      // Spark job (a refit collects its training sample) — and return
      // bit-identical centroids and identical knn rows
      SimilarityQueries.clearIvfMemoryCache()
      var loaded = Array.empty[Array[Double]]
      assert(jobsDuring { loaded = SimilarityQueries.buildIvfIndex(spark, sf) } == 0,
        "expected the quantizer to load from the saved index, not refit")
      assert(deep(loaded) == deep(built), "cold-loaded centroids differ")
      val after = SimilarityQueries.queries("q_knn_ivf")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(after == before)

      // a dataset regenerated in place must invalidate: same dir, new
      // (mtime, size) -> fresh fit under a new artifact path
      val dataDir = java.nio.file.Files.createTempDirectory("graft-ivf-data").toString
      Tables.embeddings(spark, sf).write.parquet(s"$dataDir/embeddings.parquet")
      SimilarityQueries.buildIvfIndex(spark, dataDir)
      val firstVersion = artifacts
      val pq = new java.io.File(s"$dataDir/embeddings.parquet")
      assert(pq.setLastModified(pq.lastModified() + 60000))
      SimilarityQueries.clearIvfMemoryCache()
      assert(jobsDuring(SimilarityQueries.buildIvfIndex(spark, dataDir)) >= 1,
        "a new data version must get a fresh quantizer, not stale centroids")
      assert((artifacts -- firstVersion).size == 1,
        s"a new data version must write a new artifact: $firstVersion -> $artifacts")
    } finally SimilarityQueries.clearIvfMemoryCache()
  }

  private def deep(c: Array[Array[Double]]): Seq[Seq[Double]] = c.map(_.toSeq).toSeq

  private def clearQuantizers(): Unit = {
    SimilarityQueries.clearIvfMemoryCache()
    PqIndex.clearMemoryCache()
    OpqIndex.clearMemoryCache()
  }

  /** IVF centroids, PQ codebooks and OPQ codebooks of `d`, deep-copied
    * into comparable sequences. */
  private def quantizers(d: String): Seq[Seq[Seq[Double]]] =
    Seq(deep(SimilarityQueries.buildIvfIndex(spark, d))) ++
      PqIndex.codebooks(spark, d).map(deep) ++ OpqIndex.codebooks(spark, d).map(deep)

  test("the ivf, pq and opq quantizers are a pure function of the embedding rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-quant-split").toString
    val e = Tables.embeddings(spark, sf)
    e.coalesce(1).write.parquet(s"$root/one/embeddings.parquet")
    e.repartition(4).write.parquet(s"$root/four/embeddings.parquet")
    assert(new java.io.File(s"$root/four/embeddings.parquet").listFiles()
      .count(_.getName.endsWith(".parquet")) == 4)
    val idx = new java.io.File(s"$root/idx")
    try withConf("spark.graft.ivf.indexDir" -> idx.toString) {
      clearQuantizers()
      val one = quantizers(s"$root/one")
      // one file or four part files: the same rows give the same bits
      val four = quantizers(s"$root/four")
      Seq("ivf centroids" -> (0 until 1), "pq codebooks" -> (1 to PqIndex.numSub),
        "opq codebooks" -> (PqIndex.numSub + 1 to 2 * PqIndex.numSub)).foreach {
        case (what, books) =>
          assert(books.map(one) == books.map(four), s"$what depend on the file split")
      }
      // a refit with no memory cache and no artifact reproduces every bit
      clearQuantizers()
      idx.listFiles().foreach(_.delete())
      assert(quantizers(s"$root/one") == one, "a refit changed the quantizers")
    } finally clearQuantizers()
  }

  test("a cold quantizer build starts at most 1 job for ivf and pq and 3 for opq; a reload none") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft-quant-jobs").toString
    try withConf("spark.graft.ivf.indexDir" -> idxDir) {
      clearQuantizers()
      Tables.embeddings(spark, sf) // the schema is read before counting
      val ivf = jobsDuring(SimilarityQueries.buildIvfIndex(spark, sf))
      val pq = jobsDuring(PqIndex.codebooks(spark, sf))
      val opq = jobsDuring { OpqIndex.rotation(spark, sf); OpqIndex.codebooks(spark, sf) }
      assert(ivf <= 1 && pq <= 1 && opq <= 3, s"cold build jobs: ivf $ivf, pq $pq, opq $opq")
      val built = quantizers(sf)
      clearQuantizers()
      var loaded = Seq.empty[Seq[Seq[Double]]]
      assert(jobsDuring { loaded = quantizers(sf) } == 0, "a reload must not refit")
      assert(loaded == built, "reloaded quantizers differ")
    } finally clearQuantizers()
  }

  test("ivf-pq knn recalls at least the ivf baseline at equal probe budget") {
    val exact = SimilarityQueries.queries("q_knn_exact")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = SimilarityQueries.queries("q_knn_ivf")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pqRows = SimilarityQueries.queries("q_knn_ivf_pq")(spark, sf).collect()
    val pq = pqRows.map(_.getLong(0)).toSet
    // same nProbe cells + exact re-rank: the ADC shortlist must not
    // cost recall vs the plain-IVF exact scan of the same cells
    assert((pq intersect exact).size >= (ivf intersect exact).size,
      s"ivf-pq recall ${(pq intersect exact).size} fell below ivf baseline " +
        s"${(ivf intersect exact).size}")
    assert(pq.contains(0L), "query vector must rank itself first")
    // exact cos_sim is the output ordering; pq_sim is the ADC estimate —
    // it must approximate the exact value (codebooks quantize 8-dim
    // subvectors to 16 cells, so the estimate is coarse but correlated)
    pqRows.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) <= 0.5,
        s"ADC estimate ${r.getDouble(2)} wildly off exact ${r.getDouble(1)}")
    }
  }

  test("pq codebooks persist to disk; a cold load is bit-identical; codes in range") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    val prev = spark.conf.getOption("spark.graft.ivf.indexDir")
    try {
      spark.conf.set("spark.graft.ivf.indexDir", idxDir)
      PqIndex.clearMemoryCache()
      val fitted = PqIndex.codebooks(spark, sf)
      assert(fitted.length == PqIndex.numSub)
      assert(fitted.forall(_.forall(_.length == PqIndex.subDim)))
      val artifacts = new java.io.File(idxDir).listFiles()
        .filter(_.getName.startsWith("pq-"))
      assert(artifacts.nonEmpty, "pq artifact must be on disk")
      // cold session stand-in: the reload must come from the artifact
      // and be bit-identical (Double.toString round-trips exactly)
      PqIndex.clearMemoryCache()
      val loaded = PqIndex.codebooks(spark, sf)
      assert(loaded.map(_.map(_.toSeq).toSeq).toSeq
        == fitted.map(_.map(_.toSeq).toSeq).toSeq,
        "cold-loaded codebooks differ from fitted ones")
      // every code the encoder assigns lands inside its codebook
      import org.apache.spark.sql.functions._
      val codes = Tables.embeddings(spark, sf)
        .select((0 until PqIndex.numSub)
          .map(m => PqIndex.codeCol(col("embedding"), loaded(m), m).as(s"c$m")): _*)
        .collect()
      codes.foreach { r =>
        (0 until PqIndex.numSub).foreach { m =>
          val c = r.getInt(m)
          assert(c >= 0 && c < loaded(m).length, s"code $c out of range in subspace $m")
        }
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.ivf.indexDir", v)
        case None    => spark.conf.unset("spark.graft.ivf.indexDir")
      }
      PqIndex.clearMemoryCache()
    }
  }

  test("opq rotation is orthonormal and its ADC estimate is not worse than pq") {
    val r = OpqIndex.rotation(spark, sf)
    assert(r.length == 64 && r.forall(_.length == 64))
    // R R^T = I within fp tolerance: rotation preserves dot products,
    // which is what makes rotated-space cosine a valid estimate
    for (i <- 0 until 64; j <- i until 64) {
      val dot = (0 until 64).map(k => r(i)(k) * r(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"RR^T($i,$j) = $dot")
    }
    def adcErr(q: String): Double = {
      val rows = SimilarityQueries.queries(q)(spark, sf).collect()
      rows.map(x => math.abs(x.getDouble(1) - x.getDouble(2))).sum / rows.length
    }
    val pqErr = adcErr("q_knn_ivf_pq")
    val opqErr = adcErr("q_knn_ivf_opq")
    // this corpus's embeddings are near-isotropic at sf0.001, so the
    // balanced allocation buys little HERE (measured 0.0955 vs 0.0972);
    // at sf0.01/sf0.1 the same code measures ~2x better (0.071 vs
    // 0.133, 0.076 vs 0.109). Pin non-inferiority at spec SF plus an
    // absolute sanity bound; the driver's q_knn_ivf_opq_recall row
    // pins the retrieval quality at sf0.01.
    assert(opqErr <= pqErr + 0.01,
      s"opq ADC error $opqErr worse than pq $pqErr")
    assert(opqErr < 0.5, s"opq ADC estimate unusable: $opqErr")
    val opqIds = SimilarityQueries.queries("q_knn_ivf_opq")(spark, sf)
      .collect().map(_.getLong(0))
    assert(opqIds.contains(0L), "query vector must recall itself")
  }

  test("opq artifacts persist to disk; a cold load is bit-identical") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft-opq-idx").toString
    val prev = spark.conf.getOption("spark.graft.ivf.indexDir")
    try {
      spark.conf.set("spark.graft.ivf.indexDir", idxDir)
      OpqIndex.clearMemoryCache()
      val rot = OpqIndex.rotation(spark, sf)
      val books = OpqIndex.codebooks(spark, sf)
      val files = new java.io.File(idxDir).listFiles().map(_.getName)
      assert(files.exists(_.startsWith("opq-rot-")), "rotation artifact")
      assert(files.exists(_.startsWith("opq-books-")), "codebook artifact")
      OpqIndex.clearMemoryCache()
      assert(OpqIndex.rotation(spark, sf).map(_.toSeq).toSeq
        == rot.map(_.toSeq).toSeq, "cold-loaded rotation differs")
      assert(OpqIndex.codebooks(spark, sf).map(_.map(_.toSeq).toSeq).toSeq
        == books.map(_.map(_.toSeq).toSeq).toSeq,
        "cold-loaded codebooks differ")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.ivf.indexDir", v)
        case None    => spark.conf.unset("spark.graft.ivf.indexDir")
      }
      OpqIndex.clearMemoryCache()
    }
  }

  test("exact knn is ordered by similarity with the query first") {
    val rows = SimilarityQueries.queries("q_knn_exact")(spark, sf).collect()
    assert(rows.head.getLong(0) == 0L && rows.head.getDouble(2) == 1.0)
    val sims = rows.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
  }

  test("winnowing fingerprints overlap heavily for near-duplicate docs") {
    import org.apache.spark.sql.functions._
    val fps = Tables.documents(spark, sf)
      .withColumn("grams", expr(
        """CASE WHEN length(text) >= 8
             THEN transform(sequence(1, length(text) - 7), i -> xxhash64(substring(text, i, 8)))
             ELSE array(xxhash64(text)) END"""))
      .withColumn("fingerprints", expr(
        """array_distinct(CASE WHEN size(grams) >= 4
             THEN transform(sequence(0, size(grams) - 4), j -> array_min(slice(grams, j + 1, 4)))
             ELSE array(array_min(grams)) END)"""))
      // NOTE: intentionally keeps the slice()-based formulation — it is
      // the independent reference the optimized least()-chain in
      // TextQueries must continue to match
      .select("doc_id", "fingerprints").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // exact parity: the shipped query's (n_fingerprints, fp_xor) must
    // equal this independent slice()-based computation per document
    TextQueries.queries("q_doc_winnow")(spark, sf).collect().foreach { r =>
      val ref = fps(r.getLong(0))
      assert(r.getInt(1) == ref.size, s"doc ${r.getLong(0)} n_fingerprints")
      assert(r.getLong(2) == ref.foldLeft(0L)(_ ^ _), s"doc ${r.getLong(0)} fp_xor")
    }
    val nearDups = TextQueries.queries("q_dedup_ngram")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearDups.nonEmpty)
    nearDups.foreach { case (a, b) =>
      val (fa, fb) = (fps(a), fps(b))
      val jac = (fa intersect fb).size.toDouble / (fa union fb).size
      assert(jac > 0.5, s"near-dup pair ($a,$b) shares only $jac of fingerprints")
    }
  }

  test("dedup_exact keeps one row per distinct text") {
    val n = TextQueries.queries("q_dedup_exact")(spark, sf).count()
    val distinctTexts = Tables.documents(spark, sf).select("text").distinct().count()
    assert(n == distinctTexts)
  }

  test("incremental dedup equals full-ngram pairs restricted to the new batch") {
    // full pairs have d1 < d2; incremental carries the new doc on d2
    // and never emits old-old pairs — normalize both to unordered sets
    val full = TextQueries.queries("q_dedup_ngram")(spark, sf)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 5 == 4 || b % 5 == 4 }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val inc = TextQueries.queries("q_dedup_incremental")(spark, sf)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    inc.foreach { case (_, d2) => assert(d2 % 5 == 4, "d2 must be a new-batch doc") }
    val incNorm = inc.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(incNorm == full,
      s"extra=${incNorm diff full} missing=${full diff incNorm}")
  }

  test("containment dedup flags truncated re-crawls that Jaccard misses") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val full = ("w" +: (1 to 60).map(i => s"tok$i")).mkString(" ")
    val truncated = ("w" +: (1 to 12).map(i => s"tok$i")).mkString(" ")
    val docs = Seq(
      Row(1L, full, "en", "t", full.length.toLong),
      Row(2L, truncated, "en", "t", truncated.length.toLong),
      // shares the 5-word prefix but diverges after — must NOT flag
      Row(3L, ("w" +: (1 to 4).map(i => s"tok$i") :+ "different tail here now")
        .mkString(" "), "en", "t", 40L),
      Row(4L, "totally unrelated words in this one", "en", "t", 35L))
    spark.createDataFrame(spark.sparkContext.parallelize(docs), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.queries("q_dedup_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)),
      s"exactly the truncation pair (container 1, contained 2): ${got.toSeq}")
    // the pair 1-2 is INVISIBLE to the n-gram Jaccard cut: 12 shared
    // shingles over a 58-shingle union is far below 0.8
    val jacc = TextQueries.queries("q_dedup_ngram")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jacc.contains((1L, 2L)),
      "the truncation pair must be the containment detector's alone")
  }

  test("suffix containment flags header-injected re-hosts") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-sfx").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val original = (1 to 20).map(i => s"body$i").mkString(" ")
    val rehosted = "SITE NAME navigation menu cookie banner " + original
    val docs = Seq(
      Row(1L, original, "en", "t", original.length.toLong),
      Row(2L, rehosted, "en", "t", rehosted.length.toLong),
      Row(3L, "some other page entirely different text here", "en", "t", 44L))
    spark.createDataFrame(spark.sparkContext.parallelize(docs), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sfx = TextQueries.queries("q_dedup_containment_sfx")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sfx.toSeq == Seq((2L, 1L)),
      s"container 2 (header-injected) contains 1: ${sfx.toSeq}")
    // the PREFIX detector must NOT see it (prefixes differ)
    val pfx = TextQueries.queries("q_dedup_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pfx.contains((2L, 1L)), "prefix mode must miss a header injection")
  }

  test("dedup_cluster on a corpus with no duplicates yields singleton clusters") {
    // regression: sum() over the empty dup subgraph is NULL — the
    // convergence probe must not NPE when no pair exists at all
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-nodups").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Seq(
      Row(1L, "alpha beta gamma delta epsilon", "en", "t", 30L),
      Row(2L, "one two three four five six", "en", "t", 27L),
      Row(3L, "red green blue yellow purple", "en", "t", 28L))
    spark.createDataFrame(spark.sparkContext.parallelize(docs), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.queries("q_dedup_cluster")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("dedup_cluster matches a driver-side union-find over the ngram pairs") {
    val pairs = TextQueries.queries("q_dedup_ngram")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference union-find computed independently of the Spark algorithm
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = TextQueries.queries("q_dedup_cluster")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allDocs = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    assert(got.keySet == allDocs.toSet, "cluster output must cover every doc")
    allDocs.foreach { id =>
      assert(got(id) == find(id), s"doc $id: cluster ${got(id)} != union-find ${find(id)}")
    }
    // every near-dup pair collapsed into one cluster
    pairs.foreach { case (a, b) => assert(got(a) == got(b)) }
  }

  test("sample_hash split is deterministic, total, and near the 80/10/10 design") {
    val rows = TextQueries.queries("q_sample_hash")(spark, sf).collect()
    val n = rows.length
    assert(n == Tables.documents(spark, sf).count())
    val bySplit = rows.groupBy(_.getString(2)).map { case (k, v) => k -> v.length }
    assert(bySplit.keySet == Set("train", "val", "test"))
    // 500 docs: binomial 3-sigma bands around 79.7% / 10.2% / 10.2%
    assert(bySplit("train") > n * 7 / 10 && bySplit("train") < n * 9 / 10, bySplit.toString)
    // split/in_sample are pure functions of doc_id: recompute via jdk md5
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val hex = md.digest(r.getLong(0).toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      assert(r.getString(1) == hex)
      val expect =
        if (hex < "cc") "train" else if (hex < "e6") "val" else "test"
      assert(r.getString(2) == expect)
      assert(r.getBoolean(3) == hex < "1a")
    }
  }

  test("doc packing matches greedy sequential fill per language") {
    val rows = TextQueries.queries("q_doc_pack")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // driver recompute: running token total per lang in doc_id order
    val byLang = rows.groupBy(_._2)
    byLang.foreach { case (_, docs) =>
      var cum = 0L
      docs.sortBy(_._1).foreach { case (id, _, tok, pack) =>
        assert(pack == cum / 512, s"doc $id: pack $pack != ${cum / 512}")
        cum += tok
      }
    }
    // a pack never overflows by more than its last (straddling) doc
    rows.groupBy(r => (r._2, r._4)).foreach { case ((lang, pack), docs) =>
      val total = docs.map(_._3).sum
      val maxDoc = docs.map(_._3).max
      assert(total < 512 + maxDoc, s"pack ($lang,$pack) total $total")
    }
  }

  test("corpus_pipeline composes its five stages in one clean lineage") {
    import org.apache.spark.sql.functions._
    val df = TextQueries.queries("q_corpus_pipeline")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0)).toSet
    // survivors are never from the eval slice (decontaminate stage)
    assert(ids.forall(_ % 5 != 4))
    // survivors are canonical exact-dedup keepers of the REDACTED text
    val redacted = TextQueries.queries("q_pii_redact")(spark, sf)
      .select("doc_id", "clean_text")
    val keepers = redacted.groupBy("clean_text")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(keepers), s"non-canonical ids: ${ids -- keepers}")
    // language rebalancing: every surviving lang has the same count
    val perLang = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(perLang.values.toSet.size == 1,
      s"langs not balanced after the pipeline: $perLang")
    // greedy pack fill: within a lang, pack_id = (running start) DIV 512
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      var cum = 0L
      rs.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) == cum / 512, s"$lang doc ${r.getLong(0)}")
        cum += r.getLong(2)
      }
    }
    // one lineage, audited clean on the AQE-finalized plan (reviewed
    // globalwindow: the rebalance cap is min().over() on the
    // LANG-GRAIN count table — bounded by the number of languages)
    assert(graft.scale.PlanAudit
      .finalFindings(df, allow = Set("globalwindow")).isEmpty,
      graft.scale.PlanAudit.finalFindings(df).mkString("; "))
  }

  test("tfidf matches a driver-side recomputation") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = texts.size
    val tfRef = texts.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, g) => (id, w) -> g.length.toLong }
    }
    // group the (doc, word) KEYS by word — mapping keys to words first
    // would pass through a Set and collapse every df to 1
    val dfRef = tfRef.keys.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    val rows = TextQueries.queries("q_tfidf")(spark, sf).collect()
    assert(rows.length == tfRef.size)
    rows.foreach { r =>
      val (id, w, tf, df) = (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      assert(tf == tfRef((id, w)), s"tf($id,$w)")
      assert(df == dfRef(w), s"df($w)")
      val want = BigDecimal(tf * math.log((n + 1.0) / (df + 1.0)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == want, s"tfidf($id,$w): ${r.getDouble(4)} != $want")
    }
  }

  test("top_ngrams equals the driver-side bigram frequency top-20") {
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val counts = texts.flatMap { t =>
      val w = t.split(" ", -1)
      if (w.length >= 2) w.sliding(2).map(_.mkString(" ")) else Iterator.empty
    }.groupBy(identity).map { case (b, g) => b -> g.length.toLong }
    val want = counts.toSeq.sortBy { case (b, c) => (-c, b) }.take(20)
    val got = TextQueries.queries("q_top_ngrams")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == want)
  }

  test("embed_quantize digests match a driver-side recomputation") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val rows = SimilarityQueries.queries("q_embed_quantize")(spark, sf).collect()
    assert(rows.length == vecs.size)
    rows.foreach { r =>
      val v = vecs(r.getLong(0))
      val norm = math.sqrt(v.map(x => x * x).sum)
      // HALF_UP (away from zero), matching Spark/DuckDB round() — NOT
      // Math.round, which is floor(x+0.5) and differs on negative .5s
      val q = v.map(x => BigDecimal(x / norm * 127)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt)
      assert(math.abs(r.getDouble(1) - norm) < 1e-6)
      assert(r.getInt(2) == q.sum, s"vec ${r.getLong(0)} sum_q")
      assert(r.getInt(3) == q.min && r.getInt(4) == q.max)
      assert(q.forall(x => x >= -127 && x <= 127))
    }
  }

  test("compression ratio matches a driver-side deflate and orders by repetitiveness") {
    val rows = TextQueries.queries("q_compression_ratio")(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def deflatedLen(s: String): Int = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    rows.foreach { r =>
      val t = texts(r.getLong(0))
      assert(r.getInt(1) == t.getBytes("UTF-8").length)
      assert(r.getInt(2) == deflatedLen(t), s"doc ${r.getLong(0)} deflate drift")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 1.2)
    }
    // the signal separates repetition: a pure-repeat string must
    // compress far better than the corpus median
    val repeat = deflatedLen("lorem ipsum " * 200).toDouble / ("lorem ipsum " * 200).length
    val median = rows.map(_.getDouble(3)).sorted.apply(rows.length / 2)
    assert(repeat < median / 2, s"repeat $repeat vs median $median")
  }

  test("repetition ratio: duplicated text halves the distinct-shingle share") {
    val rows = TextQueries.queries("q_repetition_ratio")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(2) >= 1 && r.getInt(2) <= r.getInt(1),
        s"doc ${r.getLong(0)}: distinct ${r.getInt(2)} vs total ${r.getInt(1)}")
    }
    // independent recompute for a sample
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(25).foreach { r =>
      val w = texts(r.getLong(0)).split(" ", -1)
      val sh = w.sliding(3).map(_.mkString(" ")).toSeq
      assert(r.getInt(1) == sh.length && r.getInt(2) == sh.distinct.length)
    }
  }

  test("corpus_filter equals the composition of its three constituent queries") {
    val keepIds = TextQueries.queries("q_dedup_exact")(spark, sf)
      .select("keep_id").collect().map(_.getLong(0)).toSet
    val english = TextQueries.queries("q_lang_id")(spark, sf)
      .filter(col("pred_lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val quality = TextQueries.queries("q_quality_score")(spark, sf)
      .filter(col("quality") >= 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = keepIds intersect english intersect quality
    val got = TextQueries.queries("q_corpus_filter")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"corpus filter drift: extra=${got diff want} missing=${want diff got}")
  }

  test("span dedup drops only the shared span and reassembles in order") {
    // 16-word boilerplate span shared by docs 1 and 2; unique halves
    // must survive, in original span order; doc 3 is untouched; doc 4
    // is ALL boilerplate and survives as an empty string
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
    val u1a = (1 to 16).map(i => s"x$i").mkString(" ")
    val u1b = (1 to 7).map(i => s"y$i").mkString(" ")  // short tail span
    val u2 = (1 to 16).map(i => s"z$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, s"$u1a $boiler $u1b"),
      (2L, s"$boiler $u2"),
      (3L, "lone doc"),
      (4L, boiler)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-spans").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.queries("q_dedup_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == (s"$u1a $u1b", 2L), s"doc 1: ${got(1L)}")
    assert(got(2L) == (u2, 1L), s"doc 2: ${got(2L)}")
    assert(got(3L) == ("lone doc", 1L), s"doc 3: ${got(3L)}")
    assert(got(4L) == ("", 0L), s"doc 4: ${got(4L)}")
  }

  test("exact-substring dedup reports merged overlap extents on a known fixture") {
    // doc 1 shares a 20-word run with doc 2 AND a separate 16-word run
    // with doc 3, separated by >16 unique words → two extents; doc 4
    // is fully unique → absent from the output
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val boiler2 = (1 to 16).map(i => s"c$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, ((1 to 10).map(i => s"x$i") ++ Seq(boiler) ++
        (1 to 20).map(i => s"y$i") ++ Seq(boiler2) ++
        (1 to 5).map(i => s"z$i")).mkString(" ")),
      (2L, (Seq(boiler) ++ (1 to 30).map(i => s"u$i")).mkString(" ")),
      (3L, boiler2),
      (4L, (1 to 40).map(i => s"w$i").mkString(" "))))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-substr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.queries("q_dedup_substr")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 1: extents [11,30] (5 windows) + [51,66] (1 window)
    assert(got(1L) == (2L, 6L, 36L, 71L), s"doc 1: ${got.get(1L)}")
    // doc 2: one 20-word extent, 5 windows, 50 words total
    assert(got(2L) == (1L, 5L, 20L, 50L), s"doc 2: ${got.get(2L)}")
    // doc 3: the whole 16-word doc is one duplicated window
    assert(got(3L) == (1L, 1L, 16L, 16L), s"doc 3: ${got.get(3L)}")
    assert(!got.contains(4L), "fully-unique doc leaked into the output")
  }

  test("exact-substring dedup matches a sequential suffix-scan brute force") {
    val w = 16
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val spanDocs = scala.collection.mutable.Map[String, Set[Long]]()
    docs.foreach { case (id, ws) =>
      (0 to ws.length - w).foreach { i =>
        val sp = ws.slice(i, i + w).mkString(" ")
        spanDocs(sp) = spanDocs.getOrElse(sp, Set.empty) + id
      }
    }
    val want = docs.flatMap { case (id, ws) =>
      val hits = (0 to ws.length - w).filter { i =>
        spanDocs(ws.slice(i, i + w).mkString(" ")).size > 1
      }.map(_ + 1) // 1-based like the query
      if (hits.isEmpty) None else {
        // island merge: new extent when the gap exceeds the window
        val extents = hits.tail.foldLeft(List((hits.head, hits.head))) {
          case ((s0, e0) :: rest, p) =>
            if (p - e0 > w) (p, p) :: (s0, e0) :: rest
            else (s0, p) :: rest
          case (Nil, p) => List((p, p))
        }
        val dupWords = extents.map { case (s0, e0) => e0 - s0 + w }.sum
        Some(id -> (extents.length.toLong, hits.length.toLong,
          dupWords.toLong, ws.length.toLong))
      }
    }.toMap
    val got = TextQueries.queries("q_dedup_substr")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == want.keySet,
      s"doc set drift: extra=${got.keySet diff want.keySet} missing=${want.keySet diff got.keySet}")
    want.foreach { case (id, v) =>
      assert(got(id) == v, s"doc $id: got ${got(id)} want $v")
    }
  }

  test("hybrid search fuses the two rankings by exact RRF; keyword side matches brute force") {
    val got = SimilarityQueries.queries("q_hybrid_search")(spark, sf)
      .collect()
    assert(got.length <= 20 && got.nonEmpty)
    // fused order: rrf desc with doc_id tie-break, rrf recomputable
    // from the row's own ranks
    got.foreach { r =>
      val k = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val v = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(k.nonEmpty || v.nonEmpty)
      (k ++ v).foreach(rk => assert(rk >= 1 && rk <= 50))
      val rrf = k.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        v.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - rrf) < 1e-6 + 1e-9)
    }
    val order = got.map(r => (-r.getDouble(3), r.getLong(0)))
    assert(order.sameElements(order.sorted), "rrf desc, doc_id asc")
    // the probe vector matches itself: doc 0 carries v_rank = 1
    val d0 = got.find(_.getLong(0) == 0L)
    assert(d0.exists(r => !r.isNullAt(2) && r.getLong(2) == 1L))
    // keyword side vs a sequential BM25 reimplementation
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val terms = Seq("join", "hash", "scan")
    val nDocs = texts.length.toDouble
    val avgdl = texts.map(_._2.length).sum / nDocs
    val dfm = terms.map(t =>
      t -> texts.count(_._2.contains(t)).toDouble).toMap
    val iscore = texts
      .filter { case (_, ws) => terms.exists(ws.contains) }
      .map { case (id, ws) =>
        id -> terms.map { t =>
          val tf = ws.count(_ == t).toDouble
          if (tf == 0) 0L
          else {
            val raw = math.log(1.0 + (nDocs - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
              (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * ws.length / avgdl))
            math.round(raw * 10000)
          }
        }.sum
      }
    val bruteRanks = iscore.sortBy { case (id, sc) => (-sc, id) }
      .take(50).zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    got.filter(!_.isNullAt(1)).foreach { r =>
      assert(bruteRanks.get(r.getLong(0)).contains(r.getLong(1)),
        s"doc ${r.getLong(0)} k_rank ${r.getLong(1)} vs ${bruteRanks.get(r.getLong(0))}")
    }
  }

  test("rbo matches a sequential depth-sum over the two rankings") {
    val (kwTop, vecTop) = SimilarityQueries.retrieverTops(spark, sf)
    val ka = kwTop.select("doc_id", "k_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val va = vecTop.select("doc_id", "v_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ms = ka.keySet.intersect(va.keySet).toSeq
      .map(id => math.max(ka(id), va(id)))
    val st = (1 to 50).map { dd =>
      val xd = ms.count(_ <= dd).toLong
      math.round(1e8 * math.pow(0.9, dd - 1) * (xd.toDouble / dd))
    }.sum
    val got = SimilarityQueries.queries("q_rbo")(spark, sf).collect().head
    assert(got.getLong(0) == ms.length.toLong)
    assert(got.getLong(1) == ms.count(_ <= 10).toLong)
    assert(math.abs(got.getDouble(2) - 0.1 * st / 1e8) < 1e-6 + 1e-9)
    // truncated-RBO bounds: X_d <= d gives (1-p)(sum p^(d-1)) = 1-p^50
    assert(got.getDouble(2) >= 0.0 &&
      got.getDouble(2) <= 1.0 - math.pow(0.9, 50) + 1e-6)
  }

  test("ndcg: identity on the ideal ranking's own scale; bounds hold") {
    val r = SimilarityQueries.queries("q_ndcg")(spark, sf).collect().head
    val (dcg, idcg, ndcgV) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(idcg > 0.0, "corpus has positive-similarity docs")
    assert(dcg >= 0.0 && dcg <= idcg + 1e-9,
      "ideal ranking dominates any ranking")
    assert(ndcgV >= 0.0 && ndcgV <= 1.0 + 1e-9)
    assert(math.abs(ndcgV - dcg / idcg) < 1e-4 + 1e-9,
      "ndcg is the emitted ratio")
  }
}
