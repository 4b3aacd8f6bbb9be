package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-pruned physical layout for the LLM-corpus tables.
  *
  * The driver ships `documents.parquet` flat; at 100 TB a flat corpus
  * means every language-scoped query (per-lang dedup, lang-balanced
  * sampling, decontamination of an `en` eval set) scans all languages.
  * This module lands the corpus hive-partitioned by `lang` —
  * cardinality ~10, the textbook partition key: low enough that no
  * partition explodes the file count, selective enough that a one-lang
  * query reads ~1/10th of the bytes, and it is the join key of the
  * curation dims (per-lang quotas, per-lang quality thresholds), so
  * dynamic partition pruning fires on star-shaped corpus queries.
  *
  * Within each lang partition, files are laid out in `source` order
  * (a cheap `sortWithinPartitions`, no extra shuffle beyond the
  * partitionBy exchange) so parquet row-group min/max stats on
  * `source` make source-scoped scans skip row groups — a second,
  * free pruning level below the directory one.
  */
object CorpusLayout {

  /** Land a documents batch hive-partitioned by lang, source-clustered
    * within each partition. Append mode: the incremental-crawl landing
    * pattern (a daily batch adds files under each lang=… directory;
    * use [[repartitionedWrite]] for the initial bulk layout). */
  def writeByLang(df: DataFrame, path: String): Unit =
    df.sortWithinPartitions("lang", "source")
      .write.mode(SaveMode.Append).partitionBy("lang").parquet(path)

  /** Initial bulk layout: one shuffle keyed on lang so each output
    * partition holds one lang's rows contiguously — without this, every
    * input task writes a file into EVERY lang directory and a
    * 1000-executor bulk load produces 10 × 1000 small files. */
  def repartitionedWrite(df: DataFrame, path: String,
      filesPerLang: Int = 1): Unit =
    df.repartition(filesPerLang, col("lang"))
      .sortWithinPartitions("lang", "source")
      .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(path)

  /** Scan the partitioned corpus. A `filter(col("lang") === …)`
    * downstream prunes at the DIRECTORY level (PartitionFilters in the
    * scan, zero I/O for other langs) — assert with
    * `CorpusLayoutSpec`. `basePath` keeps the schema stable whether the
    * caller points at the root or a single lang subdirectory. The
    * schema is inferred once per path (as [[graft.Tables.table]] does),
    * so a build starts no job: [[ensureLayout]]'s paths end in the data
    * version, and an append adds lang partitions, not columns. */
  def readDocuments(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemas.computeIfAbsent(path,
        _ => spark.read.option("basePath", path).parquet(path).schema))
      .option("basePath", path).parquet(path)

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Test seam: forget materialized layouts so the next call must go
    * through the on-disk artifact check (or rewrite). */
  private[graft] def clearLayoutCache(): Unit = layouts.clear()

  /** Materialize (once) the lang-partitioned layout of `dir`'s flat
    * documents table and return its path — the same offline-artifact
    * seam as the IVF/PQ index builds (SimilarityQueries.buildIvfIndex):
    * in a real deployment the corpus is LANDED partitioned and this
    * step doesn't exist; here it derives the layout from the driver's
    * flat parquet so pruned-vs-flat scans are benchmarkable
    * side-by-side. Keyed by (dir, [[graft.Tables.version]]) so a
    * regenerated data drop invalidates; the on-disk artifact survives
    * JVM restarts. */
  def ensureLayout(spark: SparkSession, dir: String): String =
    layouts.computeIfAbsent((dir, graft.Tables.version(spark, dir, "documents")), key => {
      val root = spark.conf.getOption("spark.graft.corpus.layoutDir")
        .getOrElse(new java.io.File(
          System.getProperty("java.io.tmpdir"), "graft-corpus-bylang").toString)
      val dirHash = graft.Tables.digest(key._1)
      val path = s"$root/bylang-$dirHash-${key._2}"
      // _SUCCESS marks a completed write; a half-written layout (e.g. a
      // crashed job) fails the check and is rewritten
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        repartitionedWrite(
          graft.Tables.documents(spark, dir), path,
          filesPerLang = spark.sparkContext.defaultParallelism)
      path
    })
}
