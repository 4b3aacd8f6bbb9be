package flowbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the query workloads' tables: the TPC-H-like star
  * schema plus `events`, `documents` and `embeddings`, with the column
  * names, parquet types, value domains and row counts per scale factor of
  * the engine's test tables (TESTDATA.md, FIXTURES.md §3). As in those
  * tables, the three timestamp columns are parquet TIMESTAMP(MICROS) without
  * a time zone, which Spark reads as `timestamp_ntz`.
  *
  * Every value is a pure function of (seed, row id, column salt) through
  * `xxhash64`, so the output does not depend on partitioning or on the
  * number of cores. Each table lands as one parquet file, like the test
  * tables, under `<dir>/<name>.parquet`.
  *
  * Usage: `TablesGen <scale factor> <dir>`. The tables are generated once,
  * with the fixed `seed`, before any timed run reads them.
  */
object TablesGen {

  /** The test tables' generator seed. */
  val seed = 42L

  def main(args: Array[String]): Unit = {
    val Array(sf, dir) = args
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("flowbench-tables")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, dir, sf.toDouble, seed) finally spark.stop()
  }

  /** Row counts at scale factor `sf`, matching the test tables. */
  def rowCounts(sf: Double): Map[String, Long] = {
    def n(perSf: Double, floor: Long) = math.max(floor, math.round(perSf * sf))
    Map(
      "region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000, 15), "supplier" -> n(10000, 10),
      "part" -> n(200000, 20), "orders" -> n(1500000, 150),
      "lineitem" -> n(6000000, 600), "events" -> n(1000000, 100),
      "documents" -> n(50000, 500), "embeddings" -> n(20000, 500))
  }

  private val two53 = 9007199254740992.0

  /** Uniform double in [0, 1) keyed by (seed, key, salt). */
  private def u(seed: Long, key: Column, salt: Int): Column =
    shiftrightunsigned(xxhash64(lit(seed), key, lit(salt)), 11).cast("double") / two53

  private def u(seed: Long, salt: Int): Column = u(seed, col("id"), salt)

  /** Uniform whole number in [lo, hi]. */
  private def uniform(seed: Long, salt: Int, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(seed, salt) * (hi - lo + 1))).cast("long")

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(seed, salt) * values.size) + 1).cast("int"))

  private def money(seed: Long, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, salt) * (hi - lo), 2)

  private def dayStamp(from: String, days: Column): Column =
    date_add(lit(from).cast("date"), days.cast("int")).cast("timestamp_ntz")

  val words: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def tables(spark: SparkSession, sf: Double, seed: Long): Seq[(String, DataFrame)] = {
    val n = rowCounts(sf)
    def range(t: String) = spark.range(0, n(t), 1, 4)
    val users = math.max(15L, math.round(15000 * sf))
    val region = range("region").select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = range("nation").select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = range("customer").select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniform(seed, 1, 0, 24).cast("int").as("c_nationkey"),
      money(seed, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = range("supplier").select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniform(seed, 4, 0, 24).cast("int").as("s_nationkey"),
      money(seed, 5, -999.99, 9999.99).as("s_acctbal"))
    val part = range("part").select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(seed, 7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"))).as("p_name"),
      concat(lit("Brand#"), uniform(seed, 8, 1, 25)).as("p_brand"),
      pick(seed, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      uniform(seed, 10, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
    val orders = range("orders").select(
      col("id").as("o_orderkey"),
      uniform(seed, 11, 0, n("customer") - 1).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 13, 1000.0, 500000.0).as("o_totalprice"),
      dayStamp("1995-01-01", uniform(seed, 14, 0, 2403)).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = range("lineitem").select(
      uniform(seed, 16, 0, n("orders") - 1).as("l_orderkey"),
      uniform(seed, 17, 0, n("part") - 1).as("l_partkey"),
      uniform(seed, 18, 0, n("supplier") - 1).as("l_suppkey"),
      uniform(seed, 19, 1, 7).cast("int").as("l_linenumber"),
      uniform(seed, 20, 1, 50).cast("double").as("l_quantity"),
      money(seed, 21, 900.0, 105000.0).as("l_extendedprice"),
      (uniform(seed, 22, 0, 10) / 100.0).as("l_discount"),
      (uniform(seed, 23, 0, 8) / 100.0).as("l_tax"),
      pick(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, Seq("F", "O")).as("l_linestatus"),
      dayStamp("1995-01-02", uniform(seed, 26, 0, 2498)).as("l_shipdate"))
    // events: strictly increasing timestamps over 30 days, in id order
    val stepMicros = 30L * 86400L * 1000000L / n("events")
    val events = range("events").select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        ((col("id") + u(seed, 27)) * stepMicros).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      uniform(seed, 28, 0, users - 1).as("user_id"),
      pick(seed, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(seed, 30)) * 50.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", uniform(seed, 31, 0, 99)).as("props"))
    // documents: ~5% are an earlier document's text plus " dup"
    val isDup = col("id") > 0 && u(seed, 32) < 0.05
    val base = when(isDup, floor(u(seed, 33) * col("id")).cast("long"))
      .otherwise(col("id"))
    val vocab = array(words.map(lit): _*)
    val nWords = (lit(9) + floor(u(seed, base, 34) * 92)).cast("int")
    val text = array_join(transform(sequence(lit(1), nWords), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), base, i), lit(words.size.toLong)) + 1)
        .cast("int"))), " ")
    val documents = range("documents")
      .withColumn("text", when(isDup, concat(text, lit(" dup"))).otherwise(text))
      .select(
        col("id").as("doc_id"), col("text"),
        when(u(seed, 35) < 0.436, lit("en"))
          .otherwise(pick(seed, 36, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    // embeddings: 64-d standard-normal vectors (Box-Muller), unit length
    val gauss = transform(sequence(lit(0), lit(63)), i => {
      val r = shiftrightunsigned(xxhash64(lit(seed), col("id"), i, lit(37)), 11)
      val t = shiftrightunsigned(xxhash64(lit(seed), col("id"), i, lit(38)), 11)
      sqrt(log((r + 1).cast("double") / two53) * -2.0) *
        cos(t.cast("double") / two53 * (2 * math.Pi))
    })
    val embeddings = range("embeddings")
      .withColumn("g", gauss)
      .withColumn("norm", sqrt(aggregate(col("g"), lit(0.0), (acc, x) => acc + x * x)))
      .select(
        col("id").as("vec_id"),
        transform(col("g"), x => (x / col("norm")).cast("float")).as("embedding"),
        uniform(seed, 39, 0, 9).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Land every table as a single parquet file under `dir`; the tables
    * are written concurrently, one thread each. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val all = tables(spark, sf, seed)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(all.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val writes = all.map { case (name, df) =>
        Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
      }
      Await.result(Future.sequence(writes), Duration.Inf)
    } finally pool.shutdown()
  }
}
