package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{TextQueries, WindowQueries}
import graft.scale.PlanAudit

/** Skew stress evidence (VERDICT round-3 task #2): the engine's skew
  * defenses are oracle-correct at the driver SFs, but nothing there is
  * skewed enough for them to FIRE. This spec synthesizes the hostile
  * distributions — one window-partition key owning ~95% of a table, one
  * user owning ~50% of a fact join side, one boilerplate shingle shared
  * by every document — and proves each defense actually engages:
  *
  *  - AQE splits the skewed shuffle partition on a fact-fact join
  *    (observed through PlanAudit.finalFindings, the post-execution
  *    audit built for exactly this);
  *  - q_win_rank_salted's range-slice plan beats the plain
  *    single-task-per-segment window on wall-clock, with identical
  *    output;
  *  - the maxShingleDf cap excludes a viral shingle from the near-dup
  *    join (0 candidate pairs from boilerplate) while rare-shingle
  *    near-dups still surface — and with the cap lifted the same corpus
  *    explodes into ~m²/2 pairs, the blowup the cap exists to stop.
  */
class SkewSpec extends SparkSpec {

  /** Skewed customer-shaped fixture: 95% of rows in one market segment.
    * Written as parquet so the queries run their real scan path. */
  private lazy val skewDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-skew").toString
    spark.range(0, 800000).select(
      col("id").as("c_custkey"),
      when(col("id") % 20 < 19, lit("HOT"))
        .otherwise(concat(lit("SEG"), (col("id") % 4).cast("string")))
        .as("c_mktsegment"),
      ((col("id") * 2654435761L) % 1000000L / 100.0).as("c_acctbal"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  test("AQE skew split fires on the skewed fact-fact join") {
    // one user owns ~50% of the events side; the per-user stats side is
    // small but non-broadcast (threshold -1), so the join must SMJ and
    // the hot user lands in one shuffle partition — until AQE splits it
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k") {
      val events = spark.range(0, 200000).select(
        when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 1000).as("user_id"),
        // md5 payload: shuffle blocks are lz4-compressed, and repeating
        // values would compress below the skew threshold
        md5(col("id").cast("string")).as("payload"))
      val userStats = spark.range(0, 1000).select(
        col("id").as("user_id"), (col("id") % 7).as("tier"))
      val joined = events.join(userStats, "user_id")
        .agg(count(lit(1)).as("n"), countDistinct("tier").as("tiers"))
      val fin = PlanAudit.finalFindings(joined)
      assert(fin.map(_.kind).contains("skew"),
        s"expected the AQE skew split to fire on the hot user, got $fin")
      // and the result is still exact: every event matches exactly one
      // user (even ids -> the hot user 7, odd ids -> id % 1000 < 1000)
      assert(joined.collect()(0).getLong(0) == 200000L)
    }
  }

  test("salted rank beats the plain window on a 95%-skewed segment, same output") {
    val plain = WindowQueries.queries("q_win_rank")
    val salted = WindowQueries.queries("q_win_rank_salted")
    // same-output first (also warms both plans and the scan cache)
    val p = plain(spark, skewDir)
    val sq = salted(spark, skewDir)
    assert(p.exceptAll(sq).isEmpty && sq.exceptAll(p).isEmpty,
      "salted plan must reproduce the plain window's rows exactly")
    // wall-clock: best of 2 to absorb JIT/GC noise; the plain window
    // sorts 760k rows of one segment in a single task, the salted plan
    // splits the segment across 32 range slices
    val tPlain = (1 to 2).map(_ => timeNoop(plain(spark, skewDir))).min
    val tSalted = (1 to 2).map(_ => timeNoop(salted(spark, skewDir))).min
    info(f"plain=$tPlain%.2fs salted=$tSalted%.2fs")
    assert(tSalted < tPlain,
      f"salted ($tSalted%.2fs) must beat the single-task window ($tPlain%.2fs) on skew")
  }

  test("sourceCap/langBalance switch to the salted prune on a 95%-hot key, same survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hotsrc").toString
    // 95% of docs from one mega-source; langs likewise dominated by one
    spark.range(0, 200000).select(
      col("id").as("doc_id"),
      when(col("id") % 20 < 19, lit("megacrawl"))
        .otherwise(concat(lit("src"), (col("id") % 5).cast("string")))
        .as("source"),
      when(col("id") % 20 < 19, lit("en"))
        .otherwise(lit("de")).as("lang"),
      md5(col("id").cast("string")).as("text"),
      length(md5(col("id").cast("string"))).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // source cap: force the salted path (threshold below the hot count)
    // vs the plain path (threshold above it) — identical survivor sets
    val plainSrc = TextQueries.sourceCapImpl(spark, dir, cap = 10,
      hotKeyThreshold = Long.MaxValue)
    val saltedSrc = TextQueries.sourceCapImpl(spark, dir, cap = 10,
      hotKeyThreshold = 1000L)
    // the salted plan really is the two-phase one (two ranking windows)
    assert("Window".r.findAllMatchIn(
      saltedSrc.queryExecution.optimizedPlan.toString).size >
      "Window".r.findAllMatchIn(
        plainSrc.queryExecution.optimizedPlan.toString).size,
      "expected the salted two-phase plan to activate below the threshold")
    assert(plainSrc.exceptAll(saltedSrc).isEmpty &&
      saltedSrc.exceptAll(plainSrc).isEmpty,
      "salted prune must emit the identical (doc_id, source, rn) set")

    // lang balance: same activation + equality through the derived cap
    val plainLang = TextQueries.langBalanceImpl(spark, dir,
      hotKeyThreshold = Long.MaxValue)
    val saltedLang = TextQueries.langBalanceImpl(spark, dir,
      hotKeyThreshold = 1000L)
    assert(plainLang.exceptAll(saltedLang).isEmpty &&
      saltedLang.exceptAll(plainLang).isEmpty,
      "salted prune must emit the identical (doc_id, lang, rn) set")
  }

  test("salted prune equals the plain window on randomized key distributions") {
    val s = spark
    import s.implicits._
    // seeded-random corpora: uniform, 2-key, and near-degenerate key
    // mixes with random caps — the two plans must agree on every one,
    // not just the crafted 95% fixture
    val rnd = new scala.util.Random(11L)
    (1 to 4).foreach { trial =>
      val nKeys = 1 + rnd.nextInt(6)
      val df = (0 until 1500).map { i =>
        (i.toLong, s"k${rnd.nextInt(nKeys)}")
      }.toDF("doc_id", "source")
      val cap = 1 + rnd.nextInt(25)
      val plain = TextQueries.rankedHeadByKey(df, "source", cap,
        hottest = 0L, hotKeyThreshold = 1L)
      val salted = TextQueries.rankedHeadByKey(df, "source", cap,
        hottest = 2L, hotKeyThreshold = 1L)
      val a = plain.select("doc_id", "source", "rn").collect().map(_.toSeq).toSet
      val b = salted.select("doc_id", "source", "rn").collect().map(_.toSeq).toSet
      assert(a == b,
        s"trial $trial (keys=$nKeys cap=$cap): plain-only ${a -- b}, salted-only ${b -- a}")
    }
  }

  test("maxShingleDf cap kills the viral-boilerplate m² blowup, keeps rare-shingle dups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-viral").toString
    // 1100 docs: identical 12-word boilerplate + one unique tail word →
    // every pairwise Jaccard is 10/12 >= 0.8, but ALL similarity flows
    // through shingles with df=1100 (> the 1000 cap). Plus one genuine
    // near-dup pair (9001, 9002) whose shared shingles have df=2.
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val viral = spark.range(0, 1100).select(
      col("id").as("doc_id"),
      concat(lit(boiler + " u"), col("id").cast("string")).as("text"))
    val rareText = (1 to 14).map(i => s"r$i").mkString(" ")
    val rarePair = spark.createDataFrame(Seq(
      (9001L, rareText + " x"), (9002L, rareText + " y"))).toDF("doc_id", "text")
    viral.unionByName(rarePair)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val capped = TextQueries.ngramPairs(spark, dir) // default cap 1000
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cappedPairs.toSet == Set((9001L, 9002L)),
      s"cap must drop all viral-only pairs and keep the rare-shingle dup; got ${cappedPairs.length} pairs")

    // lift the cap: the same corpus produces every boilerplate pair —
    // 1100*1099/2 candidates, the quadratic shuffle the cap prevents
    val uncapped = TextQueries.ngramPairs(spark, dir, maxDf = 2000).count()
    assert(uncapped == 1100L * 1099 / 2 + 1,
      s"expected the full m^2/2 pair explosion without the cap, got $uncapped")
  }

  test("salted simhash band join bounds hot-bucket task grain, output unchanged") {
    import graft.queries.SimilarityQueries
    val ss = spark
    import ss.implicits._
    // degenerate boilerplate corpus: 240 docs share ONE simhash (every
    // band bucket is hot: 240 rows per (band, chunk) key -> the plain
    // self-join does ~240^2/2 pair work in ONE task per band); 40 docs
    // carry distinct spread hashes
    val shards = 8
    val hot = (0L until 240L).map(i => (i, 0x5a5a5a5a5a5a5a5aL))
    val rest = (240L until 280L).map(i => (i, i * 0x9e3779b97f4a7c15L))
    val bands = (hot ++ rest).toDF("doc_id", "simhash")
      .select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> CAST(shiftright(simhash, b * 16) & 65535 AS LONG))"))
          .as(Seq("band", "chunk")))
    val plain = SimilarityQueries.simhashBandPairs(bands)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val salted = SimilarityQueries.simhashBandPairsSalted(bands, shards)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(salted == plain,
      s"salting must not change results (plain ${plain.size}, salted ${salted.size})")
    assert(plain.size >= 240 * 239 / 2, "the hot bucket must near-dup fully")
    // task-grain bound: a shuffle join lands ALL rows of one key in one
    // task. Plain key = (band, chunk): the hot bucket is 240 deep.
    // Salted key = (band, chunk, salt): no shard may exceed a fair
    // share of the hot bucket (binomial slack ~3 sigma over 240/8)
    val plainMax = bands.groupBy("band", "chunk").count()
      .agg(max("count")).collect().head.getLong(0)
    val saltedMax = bands
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(shards.toLong)))
      .groupBy("band", "chunk", "salt").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(plainMax == 240L, s"fixture must be hot, got $plainMax")
    assert(saltedMax <= plainMax / shards + 16,
      s"salted key grain must shrink ~${shards}x: $saltedMax vs $plainMax")
  }
}
