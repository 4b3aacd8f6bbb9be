package graft

import org.apache.spark.sql.functions._

/** Scale-growth bench for the dedup family: times each documents-based
  * dedup query at the base SF and on a synthesized FACTOR× corpus, and
  * reports per-query growth. The 100 TB claim for these operators is
  * "shuffle scales with the data, not with data²"; this makes the
  * growth exponent a measurement (expect ≈ linear: growth ≲ 1.5×FACTOR
  * once fixed per-query overheads are amortized).
  *
  * Corpus synthesis preserves the dup structure instead of inflating
  * it: copy c of doc i suffixes EVERY word with "~c", so
  *  - within a copy, all shingle/Jaccard relations are exactly the
  *    base corpus's (same sizes, same pairs, shifted ids);
  *  - across copies, shingle sets are disjoint — no cross-copy pairs.
  * Total rows and TRUE dup pairs both grow exactly FACTOR×, the honest
  * ground truth for a linear-growth check. (Naively replicating the
  * text unchanged would instead multiply every dup GROUP by the factor
  * and pair counts by its square — superlinear by construction,
  * measuring the fixture, not the engine.) One caveat is inherent to
  * banded sketches, not this fixture: minhash/simhash CHANCE band
  * collisions between unrelated docs grow ~quadratically with corpus
  * size (they are a tiny constant fraction of bucket pairs); their
  * verification stage rejects them, and at these scales they stay
  * negligible next to the linear work. The copy offset is computed
  * from the base corpus's max doc_id (rounded up to a multiple of 5,
  * preserving the incremental query's doc_id%5 batch split), so copies
  * can never collide whatever the base SF.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<base sf dir> SPARK_GRAFT_CPUS=32
  *        SPARK_GRAFT_GROWTH_FACTOR=10
  *        sbt "runMain graft.ScaleGrowthBench"
  * Prints one JSON line; results are recorded in BASELINE.md.
  */
object ScaleGrowthBench {
  // q_decontaminate rides along: the copy offset preserves the doc_id%5
  // eval split, and its train-probes-eval-shingles join is the same
  // should-be-linear shape as q_dedup_incremental. Round 5 adds the
  // md5-family MinHash twin (same banding, pricier hashes — growth
  // should match q_dedup_minhash's) and the 5-stage corpus pipeline
  // flagship (dedup groupBy + shingle join + two windows — the whole
  // operator mix in one lineage).
  // Round 8 adds the containment pair (block join + startsWith/endsWith
  // verify — growth should track q_dedup_ngram's candidate-join shape).
  // The "~c" word suffix keeps copies' 5-word block keys disjoint, so
  // containment pairs also grow exactly FACTOR×.
  // Round 9 adds span-level dedup ("~c" suffixes keep 16-word spans
  // disjoint across copies, so repeated-span counts grow FACTOR×
  // exactly, same anti-join shape as decontaminate).
  private val dedupFamily = Seq(
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_cluster", "q_dedup_cluster_ls", "q_dedup_incremental",
    "q_decontaminate", "q_dedup_minhash_oracle", "q_corpus_pipeline",
    "q_dedup_containment", "q_dedup_containment_sfx", "q_dedup_spans",
    // round 9: prefix filtering — "~c" suffixes keep copies' shingle
    // universes disjoint, so prefix buckets and true pairs grow FACTOR×
    "q_dedup_prefix",
    // round 13: exact-substring extents — the "~c" suffix keeps every
    // stride-1 16-token window copy-disjoint, so cross-doc repeats
    // (and the per-doc extent merges) replicate exactly FACTOR×
    "q_dedup_substr")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val factor = sys.env.getOrElse("SPARK_GRAFT_GROWTH_FACTOR", "10").toInt
    val (busyCpu, load1) = Bench.preflightRace()
    if (busyCpu > 0.10) System.err.println(
      f"[growth] WARNING: machine ${busyCpu * 100}%.0f%% busy — recording will race")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // synthesize the FACTOR× corpus (copy 0 is the base corpus verbatim)
    val bigDir = java.nio.file.Files.createTempDirectory("graft-growth").toString
    val base = Tables.documents(spark, baseDir)
    // copy stride from the actual id range — a fixed constant would
    // silently overlap copies (two texts per doc_id, corrupted Jaccard
    // denominators) on a base corpus bigger than the constant
    val stride = {
      val maxId = base.agg(max("doc_id")).head().getLong(0)
      (maxId / 5 + 1) * 5 // multiple of 5 keeps doc_id%5 per copy
    }
    val copies = (0 until factor).map { c =>
      if (c == 0) base
      else base.select(
        (col("doc_id") + lit(c * stride)).as("doc_id"),
        concat_ws(" ",
          transform(split(col("text"), " "), w => concat(w, lit(s"~$c"))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    copies.reduce(_ unionByName _).coalesce(cpus.toInt.min(16))
      .write.parquet(s"$bigDir/documents.parquet")
    val nBase = base.count()
    val nBig = Tables.documents(spark, bigDir).count()
    require(nBig == factor * nBase,
      s"synthesized corpus has $nBig rows, expected ${factor * nBase} — id collision?")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeQuery(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      materialize(SparkEntry.queries(name)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    // warm footers + sink/codegen on both dirs, outside the timed region
    Seq(baseDir, bigDir).foreach { d =>
      Tables.documents(spark, d).count()
      materialize(Tables.documents(spark, d)
        .groupBy("lang").agg(count(lit(1)).as("n")))
    }
    // per-query failure isolation (same -1 sentinel as Bench): one
    // blown query must not discard every timing already measured.
    // Min-of-N per (query, dir) — same transient-interference defense
    // as Bench's default (BASELINE.md previously took medians across
    // three whole manual runs; min-of-N inside one run is the same
    // defense without the manual step).
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_GROWTH_REPS", "3").toInt)
    val rows = dedupFamily.map { q =>
      def timed(dir: String): Double = {
        val ts = (1 to reps).map { _ =>
          try timeQuery(q, dir) catch { case e: Throwable =>
            System.err.println(s"[growth] $q failed on $dir: ${e.getMessage}")
            -1.0
          }
        }
        if (ts.exists(_ < 0)) -1.0 else ts.min
      }
      val tBase = timed(baseDir)
      val tBig = if (tBase >= 0) timed(bigDir) else -1.0
      val growth = if (tBase > 0 && tBig >= 0) tBig / tBase else -1.0
      System.err.println(f"[growth] $q%-22s base=$tBase%6.2fs ${factor}x=$tBig%7.2fs growth=$growth%5.2f")
      (q, tBase, tBig, growth)
    }
    val qs = rows.map { case (q, tb, tg, g) =>
      s""""$q":{"base_sec":$tb,"big_sec":$tg,"growth":$g}"""
    }.mkString("{", ",", "}")
    val nFailed = rows.count(_._4 < 0)
    println(s"""{"metric":"growth","factor":$factor,"rows_base":$nBase,"rows_big":$nBig,"n_failed":$nFailed,"reps":$reps,""" +
      s""""race_check":{"busy_cpu":$busyCpu,"load1":$load1},"queries":$qs,"sf":"$baseDir"}""")
    spark.stop()
    // the synthesized corpus is FACTOR× the base — don't leak it in /tmp
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(bigDir)).iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
  }
}
