package flowbench

import graft.ml.{MlpRegressor, PricePipeline}
import graft.pipeline.{CleanPipeline, EtlJob, Listings}
import graft.queries.CacheRegistry
import java.nio.file.{Files, Paths}
import org.apache.spark.ml.Pipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** One benchmark run: a fresh session that makes a cold pass over a fixed
  * sample of the query surface, lands and models the listings table, then
  * makes a warm pass over the same sample. Prints one `FLOWBENCH_RESULT
  * {json}` line.
  *
  * Usage: `Main --workload <name> --tables <query table dir> --seed <n>
  *   --seconds <s> --trace <0|1> --work <scratch dir> --out <artifact dir>`
  *
  * The work is fixed: `--seconds` is recorded with the run but does not
  * change what it does, so a faster engine does the same work in less time.
  */
object Main {
  type Q = (SparkSession, String) => DataFrame

  /** Times the inputs are set up in a run; `setup_s` takes the median. */
  val setupRepeats = 3

  /** Raw listings per run: a quarter of the reference's 99,569. */
  val listingsRows: Int = ListingsGen.referenceRows / 4

  /** The FCFF net of the listings flow, and the seed of its split and
    * fit (the engine's default): fixed, so a run's seed changes the data
    * but not the model's initialisation. */
  val modelSeed = 42L
  val mlpHidden = Seq(32, 16)
  val mlpIters = 16
  val mlpLr = 0.05

  /** The 16 query modules, by the name their metrics carry. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "Relational" -> graft.queries.RelationalQueries.queries,
    "Function" -> graft.queries.FunctionQueries.queries,
    "Join" -> graft.queries.JoinQueries.queries,
    "Window" -> graft.queries.WindowQueries.queries,
    "Stream" -> graft.queries.StreamQueries.queries,
    "Text" -> graft.queries.TextQueries.queries,
    "Similarity" -> graft.queries.SimilarityQueries.queries,
    "Sql" -> graft.queries.SqlQueries.queries,
    "Tpch" -> graft.queries.TpchQueries.queries,
    "Graph" -> graft.queries.GraphQueries.queries,
    "Temporal" -> graft.queries.TemporalQueries.queries,
    "CorpusStats" -> graft.queries.CorpusStatsQueries.queries,
    "Curation" -> graft.queries.CurationQueries.queries,
    "Sketch" -> graft.queries.SketchQueries.queries,
    "Insight" -> graft.queries.InsightQueries.queries,
    "Stat" -> graft.queries.StatQueries.queries)

  /** The fixed query sample: one query from every module, taken from the
    * module's cheaper half by first-pass + warm time in the committed
    * `BENCH_FULL.json`, preferring the ones that are cheap on the sf0.1
    * tables, so that all 16 modules fit a run. `q_knn_ivf` and
    * `q_graph_degree` build an index or a graph memo on first use, which
    * the cold pass pays. Fixed, in this order, so every seed times the
    * same work; the seed varies only the listings data. The order is not
    * drawn per seed because the first queries of a cold pass pay first-use
    * costs that later ones share: a seeded order moves seconds between
    * queries and widens the spread of the pass. */
  val sample: Seq[(String, String)] = Seq(
    "Relational" -> "q_pivot",
    "Function" -> "q_fn_date",
    "Join" -> "q_join_inner",
    "Window" -> "q_win_rank",
    "Stream" -> "q_window_tumbling",
    "Text" -> "q_dedup_exact",
    "Similarity" -> "q_knn_ivf",
    "Sql" -> "q_sql_window",
    "Tpch" -> "q_tpch_q14",
    "Graph" -> "q_graph_degree",
    "Temporal" -> "q_mom_growth",
    "CorpusStats" -> "q_skew_profile",
    "Curation" -> "q_bpe_merges",
    "Sketch" -> "q_overlap_sketch",
    "Insight" -> "q_did",
    "Stat" -> "q_k_anonymity")

  final case class Opts(workload: String, tables: String, seed: Long,
      seconds: Int, trace: Boolean, work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("tables"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("work"), m("out"))
  }

  /** Failure accounting: every operation is attempted once and either
    * succeeds or fails; none is dropped. */
  final class Ops {
    var attempted = 0L
    val failures = ArrayBuffer.empty[String]
    def fail(what: String): Unit = { failures += what; System.err.println(s"[flowbench] FAILED $what") }
    def check(what: String)(ok: Boolean): Unit = if (!ok) fail(what)

    /** Run `body` as one operation; an exception fails it. */
    def run[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch { case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    }

    /** Count an operation that cannot run because an earlier one failed. */
    def skipped(what: String): Unit = { attempted += 1; fail(s"$what: not run, an earlier step failed") }
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(o.work).toAbsolutePath
    val out = Paths.get(o.out).toAbsolutePath
    Files.createDirectories(out)

    // ---- set-up: session, then listings generation + footer reads
    val (spark, sessionS) = timed(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"flowbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.corpus.layoutDir", work.resolve("corpus-layout").toString)
      .getOrCreate())
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val dir = Paths.get(o.tables).toAbsolutePath.toString
    val rawDir = work.resolve("raw").toString
    // the inputs are set up `setupRepeats` times over (the same seed gives
    // the same files) and the median counts, so one slow moment of the
    // host does not set the figure
    val inputs = (1 to setupRepeats).map { _ =>
      timed {
        val r = ListingsGen.generate(o.seed, listingsRows)
        ListingsGen.write(rawDir, r)
        // footer reads: opening a parquet scan infers its schema from the footers
        graft.Tables.names.foreach { t =>
          if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.table(spark, dir, t)
        }
        r
      }
    }
    val raw = inputs.last._1
    val inputsS = median(inputs.map(_._2))
    val setupS = sessionS + inputsS

    // ---- measured region
    val tracer = new Tracer(o.trace, sc)
    val listener = new WorkListener
    if (o.trace) sc.addSparkListener(listener)
    val ops = new Ops
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs = { var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t }
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    pools.forEach(_.resetPeakUsage())
    val gc0 = gcMs
    val runStart = System.nanoTime()

    val flow = new ListingsFlow(spark, tracer, ops)
    val queries = new QueryPasses(spark, tracer, ops, dir)
    var memoAfterCold = (0.0, 0)
    // the listings flow runs between the passes: the cold pass is the
    // session's first work, and the warm pass starts after the JIT has
    // had the flow's time to compile what the cold pass made hot
    tracer.span("run", o.workload) {
      queries.pass(1)
      memoAfterCold = storage(spark)
      flow.run(rawDir, raw.expectedClean, raw.train.size + raw.test.size, work.resolve("air_b").toString)
      queries.pass(2)
    }
    val runS = secondsSince(runStart)
    val gcS = (gcMs - gc0) / 1000.0
    var heapPeak = 0L
    pools.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) heapPeak += p.getPeakUsage.getUsed
    }
    val (cachedMb, _) = storage(spark)
    if (o.trace) queries.checkFingerprints()

    // ---- end-to-end metrics
    val Seq(cold, warm) = queries.passes.toSeq
    val warmLat = warm.latencies
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ingest_s", flow.ingestS, "s"),
      ("train_s", flow.trainS, "s"),
      ("mae_ratio", flow.maeRatio, "ratio"),
      ("cold_pass_s", cold.wall, "s"),
      ("warm_pass_s", warm.wall, "s"),
      ("query_p50_s", median(warmLat), "s"),
      ("cached_mb", cachedMb, "MB"))

    val details = LinkedHashMap[String, String](
      "workload" -> s""""${o.workload}"""", "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "cores" -> cores.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "run_s" -> Json.num(runS), "session_s" -> Json.num(sessionS),
      "inputs_s" -> inputs.map(i => Json.num(i._2)).mkString("[", ",", "]"),
      "listings_rows" -> (raw.train.size + raw.test.size).toString,
      "expected_clean_rows" -> raw.expectedClean.toString,
      "maes" -> flow.maes.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}"),
      "query_samples" -> warmLat.size.toString,
      "pass_walls_s" -> queries.passes.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "queries" -> queries.perQueryJson,
      "failures" -> ops.failures.map(f => s""""${Json.esc(f)}"""").mkString("[", ",", "]"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) e2e
      else {
        Bus.drain(sc)
        new Layers(tracer, listener, cores, flow, memoAfterCold,
          gcS, heapPeak, work.resolve("air_b")).metrics
      }

    val stem = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    if (o.trace) tracer.write(out.resolve(s"$stem-spans.jsonl"))
    // a step that never ran (the run is then failed) reads 0
    val metricsJson = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(if (v.isNaN) 0.0 else v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val correct = ops.failures.isEmpty
    val result = s"""{"correct":$correct,"attempted":${ops.attempted},""" +
      s""""failed":${ops.failures.size},"metrics":$metricsJson}"""
    val artifact = details.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", s""","result":$result}""")
    Files.write(out.resolve(s"$stem.json"), artifact.getBytes("UTF-8"))
    spark.stop()
    println("FLOWBENCH_RESULT " + result)
  }

  private val Bus = org.apache.spark.flowbenchshim.Bus

  /** (MB, RDD count) of Spark storage currently held. */
  def storage(spark: SparkSession): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.length)
  }
}

/** The reference's flow: raw listings → clean → land `air_b` → read back
  * → fit the FCFF price net → held-out MAE against the naive mean.
  *
  * The engine's GBT searches (`PricePipeline.gridSearch`,
  * `BayesianSearch.search`) are left out: their GBT fits cost 10–25 s per
  * run on 4 cores whatever the data size, which a run's time budget does
  * not leave room for. */
final class ListingsFlow(spark: SparkSession, tracer: Tracer, ops: Main.Ops) {
  private val seed = Main.modelSeed
  var ingestS = Double.NaN
  var trainS = Double.NaN
  var maeRatio = Double.NaN
  val maes = LinkedHashMap.empty[String, Double]
  var rowsIn = 0L
  var rowsOut = 0L
  val fits = 1

  private val trainSteps = Seq("mlp", "eval")

  def run(dir: String, expectedClean: Long, rawRows: Long, table: String): Unit = {
    rowsIn = rawRows
    val ingestOp = tracer.newOp()
    val (landed, iS) = Main.timed(tracer.span("ingest", "ingest", ingestOp)(ingest(dir, expectedClean, table, ingestOp)))
    ingestS = iS
    landed match {
      case Some(df) =>
        val trainOp = tracer.newOp()
        trainS = Main.timed(tracer.span("train", "train", trainOp)(train(df, trainOp)))._2
      case None => trainSteps.foreach(s => ops.skipped(s"listings.$s"))
    }
  }

  private def step[T](name: String, op: Int)(body: => T): Option[T] =
    ops.run(s"listings.$name")(tracer.span("step", name, op)(body))

  private def ingest(dir: String, expectedClean: Long, table: String, op: Int): Option[DataFrame] = {
    val clean = step("clean", op) {
      CleanPipeline.run(ListingsGen.read(spark, dir, "train"),
        ListingsGen.read(spark, dir, "test"))
    }
    val written = clean.flatMap { df =>
      step("land", op) {
        val (observed, obs) = EtlJob.observeIngest(df, Nil)
        EtlJob.writeTable(observed, table)
        obs.get("n_rows").asInstanceOf[Long]
      }
    }
    if (clean.isEmpty) ops.skipped("listings.land")
    written match {
      case None => ops.skipped("listings.readback"); None
      case Some(nWritten) =>
        step("readback", op) {
          val df = spark.read.parquet(table)
          rowsOut = df.count()
          val want = Listings.cleanSchema.fields.map(f => f.name -> f.dataType).toSet
          val got = df.schema.fields.map(f => f.name -> f.dataType).toSet
          ops.check(s"listings.readback: clean rows $nWritten != expected $expectedClean")(nWritten == expectedClean)
          ops.check(s"listings.readback: read back $rowsOut != written $nWritten")(rowsOut == nWritten)
          ops.check(s"listings.readback: landed columns ${got.diff(want)} / missing ${want.diff(got)}")(got == want)
          df
        }
    }
  }

  private def train(table: DataFrame, op: Int): Unit = {
    val features = Listings.featureCols
    val Array(tr, ho) = table.randomSplit(Array(0.8, 0.2), seed)
    val mlp = step("mlp", op) {
      val scaling = new Pipeline()
        .setStages(PricePipeline.pipeline(features).getStages.take(2)).fit(tr)
      (scaling, MlpRegressor.fit(scaling.transform(tr), "features", PricePipeline.labelCol,
        Main.mlpHidden, Main.mlpIters, Main.mlpLr, seed))
    }
    step("eval", op) {
      val ev = PricePipeline.evaluator("mae")
      mlp.foreach { case (s, m) => maes("mlp") = ev.evaluate(m.transform(s.transform(ho))) }
      val base = PricePipeline.baselineMae(ho)
      maes("baseline") = base
      maes.get("mlp").foreach { mae =>
        ops.check(s"listings.eval: MLP MAE $mae not below baseline $base")(mae < base)
        maeRatio = mae / base
      }
    }
  }
}

/** The cold and the warm pass over the fixed query sample. */
final class QueryPasses(spark: SparkSession, tracer: Tracer, ops: Main.Ops,
    dir: String) {

  final case class Run(name: String, seconds: Double, ok: Boolean,
      fingerprint: Option[String])
  final case class Pass(n: Int, wall: Double, runs: Seq[Run]) {
    def latencies: Seq[Double] = runs.filter(_.ok).map(_.seconds)
  }

  val passes = ArrayBuffer.empty[Pass]

  private def lookup(module: String, name: String): Option[Main.Q] =
    Main.modules.toMap.get(module).flatMap(_.get(name))

  def pass(n: Int): Unit = {
    val t0 = System.nanoTime()
    val runs = tracer.span("pass", s"pass$n") {
      Main.sample.map { case (module, name) =>
        val op = tracer.newOp()
        val q0 = System.nanoTime()
        var df: DataFrame = null
        val ok = ops.run(s"$name pass $n") {
          val fn = lookup(module, name).getOrElse(
            throw new NoSuchElementException(s"$module has no query $name"))
          tracer.span("query", name, op) {
            df = tracer.span("build", name, op)(fn(spark, dir))
            tracer.span("plan", name, op)(df.queryExecution.executedPlan)
            tracer.span("exec", name, op)(df.write.format("noop").mode("overwrite").save())
          }
        }.isDefined
        val secs = Main.secondsSince(q0)
        // traced runs fingerprint the result while the query's registered
        // caches are still held (a query function's pass-1 literals are only
        // valid against them), outside the query span
        val fp =
          if (ok && tracer.enabled)
            tracer.span("check", name, op)(QueryPasses.fingerprint(df).toOption)
          else None
        tracer.span("drain", name, op)(CacheRegistry.drain())
        Run(name, secs, ok, fp)
      }
    }
    passes += Pass(n, Main.secondsSince(t0), runs)
  }

  /** Pass 2's fingerprint of every query must equal pass 1's. */
  def checkFingerprints(): Unit =
    if (passes.size >= 2) passes(0).runs.zip(passes(1).runs).foreach { case (a, b) =>
      if (a.ok && b.ok) {
        ops.attempted += 1
        ops.check(s"${a.name}: pass-2 result ${b.fingerprint} != pass-1 ${a.fingerprint}")(
          a.fingerprint.isDefined && a.fingerprint == b.fingerprint)
      }
    }

  def perQueryJson: String = passes.map { p =>
    p.runs.map(r => s""""${r.name}":${Json.num(r.seconds)}""").mkString("{", ",", "}")
  }.mkString("[", ",", "]")
}

object QueryPasses {

  /** Order-insensitive result fingerprint: row count, then the sum and
    * the XOR of a per-row hash. Floating-point values are hashed at 8
    * significant digits, so a re-ordered summation cannot change it. */
  def fingerprint(df: DataFrame): scala.util.Try[String] = scala.util.Try {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.8g", c.cast(DoubleType))
    case ArrayType(et, _)       => transform(c, x => norm(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, vt, _) =>
      array_sort(map_entries(transform_values(c, (_, v) => norm(v, vt))))
    case _ => c
  }
}
