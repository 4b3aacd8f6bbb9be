package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver test schema (TESTDATA.md).
  *
  * The reference engine's only scan is `pd.read_csv` / SQLite `SELECT *
  * FROM air_b` (reference pipeline.py:8,35); here every scan is a columnar
  * Parquet `FileSourceScanExec` so Catalyst can push filters and prune
  * columns at the source — the property that matters at 100 TB, where a
  * scan that reads unneeded columns/rows is the dominant cost.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The parquet settings that change the schema inferred from a footer. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private val schemas = new ConcurrentHashMap[(String, String, Seq[String]), StructType]()

  /** Scan one table. `dir` is an sf directory like /root/testdata/sf0.01.
    *
    * A bare `spark.read.parquet` infers the schema from the footers with
    * a Spark job on every call, and one query build references tables
    * dozens of times. So the inferred schema is memoized and the scan is
    * `spark.read.schema(memo).parquet(path)`. The memo key is the path,
    * its [[version]], and the values of the settings that change what
    * inference returns (`nanosAsLong`, which [[GraftSession]] sets on
    * its sessions and [[events]] sets on any other, then
    * `binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ.enabled`
    * and `mergeSchema`). The session is not in the key: the schema
    * depends only on the files and those settings.
    *
    * Only the `StructType` is kept, never the DataFrame: every call
    * still resolves a fresh relation with fresh attribute ids, so a
    * self-join of two `orders` calls stays unambiguous. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, version(spark, dir, name), inferenceConfs.map(spark.conf.get))
    spark.read.schema(schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
      .parquet(path)
  }

  /** The data version of table `name` in `dir`: a digest of the relative
    * name, size and mtime of the table path and of every data file below
    * it (names starting with `_` or `.` are not data, as in Spark's own
    * listing). It changes when a single-file table is rewritten or
    * touched, and when a part file of a directory table is added, removed
    * or rewritten, which the directory's own size does not show. Caches of
    * artifacts derived from a table key on it. */
  def version(spark: SparkSession, dir: String, name: String): String = {
    val root = new Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries(rel: String, st: FileStatus): Seq[String] =
      s"$rel ${st.getLen} ${st.getModificationTime}" +: (
        if (!st.isDirectory) Nil
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
          .flatMap(c => entries(s"$rel/${c.getPath.getName}", c)))
    digest((if (fs.exists(root)) entries(".", fs.getFileStatus(root)) else Nil).mkString("\n"))
  }

  /** The first 12 bytes of the SHA-256 of `s`, in hex: a path-safe id. */
  private[graft] def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(12).map(b => f"$b%02x").mkString

  /** Table `name` as every consumer sees it: `events` through [[events]],
    * the others through [[table]]. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else table(spark, dir, name)

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some data drops
    * (unrepresentable in Spark's micros TimestampType — read as long via
    * legacy nanosAsLong, then converted) and as plain TIMESTAMP(MICROS) in
    * others (directly usable). Centralized, schema-adaptive load so every
    * consumer sees a plain TimestampType column either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // naive wall time ≡ UTC instant — the same convention the DuckDB
        // oracle applies with epoch_us(ts) on the raw parquet. Pure NTZ
        // field arithmetic (micros since the NTZ epoch), so the result is
        // identical under ANY session timezone — a table load must not
        // mutate session state or read tz-dependent semantics.
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(timestampdiff(MICROSECOND, " +
            "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` text queries (the
    * analogue of the reference's db_queries.py SQL strings) resolve.
    * events goes through events() so the view exposes a converted
    * TimestampType ts (and so registration works in a fresh session —
    * a raw read of the NANOS column would throw PARQUET_TYPE_ILLEGAL
    * before any events-aware query had set the legacy conf). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => read(spark, dir, n).createOrReplaceTempView(n))
}
