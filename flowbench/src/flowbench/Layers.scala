package flowbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics of a traced run, named `<layer>.<metric>`, from the
  * spans and the Spark work the listener charged to them. */
final class Layers(tracer: Tracer, listener: WorkListener, cores: Int,
    flow: ListingsFlow, memoAfterCold: (Double, Int),
    gcS: Double, heapPeakBytes: Long, table: Path) {

  private val spans = tracer.spans.toSeq
  private val mb = 1048576.0

  private def work(ss: Seq[Span]): Work =
    listener.of(ss.flatMap(tracer.subtree).map(tracer.group).distinct)

  private def secs(ss: Seq[Span]): Double = ss.map(_.seconds).sum

  private def step(name: String): Seq[Span] = spans.filter(s => s.kind == "step" && s.name == name)

  private def under(kind: String, root: Span): Seq[Span] =
    tracer.subtree(root).filter(_.kind == kind)

  private def pass(n: Int): Option[Span] = spans.find(s => s.kind == "pass" && s.name == s"pass$n")

  private def inPass(n: Int, kind: String): Seq[Span] = pass(n).toSeq.flatMap(under(kind, _))

  private def util(w: Work, wall: Double): Double =
    if (wall <= 0) 0.0 else w.taskRunMs / 1000.0 / (wall * cores)

  def metrics: Seq[(String, Double, String)] = {
    val m = ArrayBuffer.empty[(String, Double, String)]
    def add(name: String, v: Double, unit: String): Unit = m += ((name, v, unit))

    // pipeline: clean call, landing write, read-back
    val ingest = spans.filter(_.kind == "ingest")
    val files = if (Files.isDirectory(table)) {
      val st = Files.walk(table)
      try st.filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toArray.toSeq.map(_.asInstanceOf[Path]) finally st.close()
    } else Nil
    add("pipeline.clean_call_s", secs(step("clean")), "s")
    add("pipeline.land_s", secs(step("land")), "s")
    add("pipeline.readback_s", secs(step("readback")), "s")
    add("pipeline.rows_in", flow.rowsIn.toDouble, "count")
    add("pipeline.rows_out", flow.rowsOut.toDouble, "count")
    add("pipeline.bytes_written", files.map(Files.size).sum.toDouble, "bytes")
    add("pipeline.files_written", files.size.toDouble, "count")
    add("pipeline.jobs", work(ingest).jobs.toDouble, "count")

    // ml: searches, net fit, evaluation
    val train = spans.filter(_.kind == "train")
    val trainWork = work(train)
    add("ml.mlp_fit_s", secs(step("mlp")), "s")
    add("ml.eval_s", secs(step("eval")), "s")
    add("ml.fits", flow.fits.toDouble, "count")
    add("ml.jobs", trainWork.jobs.toDouble, "count")
    add("ml.tasks", trainWork.tasks.toDouble, "count")
    add("ml.task_cpu_s", trainWork.taskCpuNs / 1e9, "s")
    add("ml.core_util", util(trainWork, secs(train)), "ratio")

    // queries: query-function calls per pass, per module
    for (n <- 1 to 2) {
      val builds = inPass(n, "build")
      add(s"queries.p$n.build_s", secs(builds), "s")
      add(s"queries.p$n.build_jobs", work(builds).jobs.toDouble, "count")
      val walls = secs(inPass(n, "query"))
      val prep = secs(builds) + secs(inPass(n, "plan"))
      add(s"queries.p$n.prep_share", if (walls > 0) prep / walls else 0.0, "ratio")
    }
    val b1 = inPass(1, "build").groupBy(_.name).map { case (k, v) => k -> secs(v) }
    val b2 = inPass(2, "build").groupBy(_.name).map { case (k, v) => k -> secs(v) }
    add("queries.first_use_s", b1.keySet.intersect(b2.keySet).toSeq.map(k => b1(k) - b2(k)).sum, "s")
    val moduleOf = Main.sample.map(_.swap).toMap
    for (n <- 1 to 2; (module, _) <- Main.modules) {
      add(s"queries.p$n.$module.build_s",
        secs(inPass(n, "build").filter(s => moduleOf.get(s.name).contains(module))), "s")
    }

    // catalyst + execution, warm pass
    add("catalyst.plan_s", secs(inPass(2, "plan")), "s")
    val execs = inPass(2, "exec")
    val ew = work(execs)
    add("exec.run_s", secs(execs), "s")
    for ((module, _) <- Main.modules)
      add(s"exec.$module.run_s", secs(execs.filter(s => moduleOf.get(s.name).contains(module))), "s")
    add("exec.jobs", ew.jobs.toDouble, "count")
    add("exec.stages", ew.stages.toDouble, "count")
    add("exec.tasks", ew.tasks.toDouble, "count")
    add("exec.task_run_s", ew.taskRunMs / 1000.0, "s")
    add("exec.task_cpu_s", ew.taskCpuNs / 1e9, "s")
    add("exec.gc_s", ew.gcMs / 1000.0, "s")
    add("exec.input_mb", ew.inputBytes / mb, "MB")
    add("exec.shuffle_read_mb", ew.shuffleReadBytes / mb, "MB")
    add("exec.shuffle_write_mb", ew.shuffleWriteBytes / mb, "MB")
    add("exec.core_util", util(ew, secs(execs)), "ratio")

    // session storage after the cold pass; JVM over the whole run
    add("memo.cached_mb", memoAfterCold._1, "MB")
    add("memo.cached_rdds", memoAfterCold._2.toDouble, "count")
    add("jvm.gc_s", gcS, "s")
    add("jvm.heap_peak_mb", heapPeakBytes / mb, "MB")

    // self time per span kind, and what the trace itself costs
    for (kind <- Seq("run", "ingest", "train", "step", "pass", "query", "build",
        "plan", "exec", "drain", "check"))
      add(s"self.${kind}_s", spans.filter(_.kind == kind).map(tracer.selfSeconds).sum, "s")
    val passes = (1 to 2).flatMap(pass)
    val accounted = Seq("build", "plan", "exec", "drain")
      .map(k => passes.flatMap(under(k, _)).map(_.seconds).sum).sum
    val checks = passes.flatMap(under("check", _)).map(_.seconds).sum
    val passWall = passes.map(_.seconds).sum
    add("trace.spans", spans.size.toDouble, "count")
    add("trace.check_s", checks, "s")
    add("trace.unaccounted_s", passWall - checks - accounted, "s")
    // tracing overhead: the time spent recording spans and in the listener's
    // callbacks, and its share of the traced run without the checks
    val overhead = (tracer.bookkeepingNanos + listener.busyNanos) / 1e9
    val runWall = spans.filter(_.kind == "run").map(_.seconds).sum - checks
    add("trace.overhead_s", overhead, "s")
    add("trace.overhead_share", overhead / runWall, "ratio")
    m.toSeq
  }
}
