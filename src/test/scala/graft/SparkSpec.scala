package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.builder("4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** `body` under the given session settings, restored afterwards. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Spark jobs started while `body` runs. A marked job run after `body`
    * is waited for, so every earlier job start has reached the listener. */
  def jobsDuring(body: => Unit): Int = {
    val mark = s"graft-spec-mark-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val seenMark = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == mark))
          seenMark.countDown()
        else if (seenMark.getCount > 0) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(mark)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seenMark.await(30, TimeUnit.SECONDS), "mark job never reported")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Release query-internal persists after every suite: the shared
    * session lives for the whole test JVM, and without this each
    * iterative query's registered state (graph edges, per-round
    * frontiers, shared adjacency) stays pinned MEMORY_AND_DISK
    * across all suites — the storage tax the registry exists to stop. */
  override protected def afterAll(): Unit = {
    graft.queries.CacheRegistry.drain()
    graft.queries.SessionMemo.drain()
    super.afterAll()
  }
}
