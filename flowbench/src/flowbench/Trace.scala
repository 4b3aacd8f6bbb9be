package flowbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `op` is shared by every span of one
  * query or one flow step; `parent` is -1 for the root. */
final case class Span(id: Int, op: Int, kind: String, name: String,
    parent: Int, start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work tallied for one job group. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
  }
}

/** Attributes every job, stage and task to the job group that was set
  * when its job was submitted. */
final class WorkListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** Time spent inside this listener's callbacks. */
  @volatile var busyNanos = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNanos += System.nanoTime() - t0
  }

  private def work(group: String): Work = byGroup.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.putIfAbsent(_, group))
    val w = work(group)
    w.synchronized(w.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val w = work(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    w.synchronized(w.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageGroup.getOrDefault(e.stageId, ""))
      w.synchronized {
        w.tasks += 1
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Work of the given groups; call after the listener bus is drained. */
  def of(groups: Iterable[String]): Work = {
    val total = new Work
    groups.foreach(g => Option(byGroup.get(g)).foreach(total += _))
    total
  }
}

/** Span recorder. Spans stay in memory until [[write]]; each span sets
  * its own job group while it is open, so the [[WorkListener]] can
  * charge Spark work to it. A disabled tracer runs the body and nothing
  * else. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextOp = 0
  /** Time spent opening and closing spans, outside their bodies. */
  var bookkeepingNanos = 0L

  def newOp(): Int = { nextOp += 1; nextOp }

  def group(s: Span): String = s"flowbench-${s.id}"

  def span[T](kind: String, name: String, op: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val s = Span(spans.size, op, kind, name, open.headOption.fold(-1)(_.id), t0)
      spans += s
      open = s :: open
      sc.setJobGroup(group(s), name)
      val t1 = System.nanoTime()
      try body
      finally {
        val t2 = System.nanoTime()
        s.end = t2
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name)
          case None    => sc.clearJobGroup()
        }
        bookkeepingNanos += (t1 - t0) + (System.nanoTime() - t2)
      }
    }

  /** Direct children of a span. */
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Every span below `s`, `s` included. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Spans as JSON lines: id, op, kind, name, parent, start/end in
    * seconds from the first span, duration and self time. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.fold(0L)(_.start)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"op":${s.op},"kind":"${s.kind}","name":"${Json.esc(s.name)}",""" +
        f""""parent":${s.parent},"start_s":${(s.start - t0) / 1e9}%.6f,""" +
        f""""end_s":${(s.end - t0) / 1e9}%.6f,"dur_s":${s.seconds}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
