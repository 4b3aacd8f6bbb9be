package graft

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

  /** Release query-internal persists after every suite: the shared
    * session lives for the whole test JVM, and without this each
    * iterative query's registered state (graph edges, per-round
    * frontiers, rankCum inputs) stays pinned MEMORY_AND_DISK across
    * all suites — the storage tax the registry exists to stop. */
  override protected def afterAll(): Unit = {
    graft.queries.CacheRegistry.drain()
    graft.queries.SessionMemo.drain()
    super.afterAll()
  }
}
