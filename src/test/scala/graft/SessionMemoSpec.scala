package graft

import graft.queries.SessionMemo
import org.apache.spark.sql.functions._

/** Lifecycle contract of the shared-builder memo: build-once reuse,
  * dir-scoped invalidation, full drain (the eviction surface the bare
  * ConcurrentHashMaps it replaced did not have), and a fresh entry when
  * a table under the dir is rewritten. */
class SessionMemoSpec extends SparkSpec {

  test("memo builds once per (key, session, dir) and reuses the frame") {
    val ss = spark
    import ss.implicits._
    var builds = 0
    def get() = SessionMemo("spec.buildOnce", spark, sf) {
      builds += 1
      Seq(1, 2, 3).toDF("v")
    }
    val a = get()
    val b = get()
    assert(builds == 1, "second lookup must reuse, not rebuild")
    assert(a eq b, "memo must hand back the SAME persisted frame")
    assert(a.agg(sum("v")).collect()(0).getLong(0) == 6L)
    // a different dir key is a different entry
    SessionMemo("spec.buildOnce", spark, sf + "/other") {
      builds += 1; Seq(4).toDF("v")
    }
    assert(builds == 2)
  }

  test("invalidate(dir) drops only that dir; drain drops everything") {
    val ss = spark
    import ss.implicits._
    var builds = 0
    def get(d: String) = SessionMemo("spec.evict", spark, d) {
      builds += 1; Seq(1).toDF("v")
    }
    get("dirA"); get("dirB")
    assert(builds == 2)
    SessionMemo.invalidate("dirA")
    get("dirA") // rebuilt
    get("dirB") // still memoized
    assert(builds == 3, "invalidate must drop exactly the named dir")
    SessionMemo.drain()
    get("dirA"); get("dirB")
    assert(builds == 5, "drain must forget every entry")
    val cached = get("dirB")
    assert(cached.storageLevel.useMemory || cached.storageLevel.useDisk,
      "memoized frames must be persisted")
  }

  test("a table rewritten mid-session is read again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-rewrite")
    val table = dir.resolve("region.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "region.parquet"), table)
    def regions() = SessionMemo("spec.rewrite", spark, dir.toString) {
      Tables.region(spark, dir.toString)
    }
    val before = regions()
    assert(before.count() == 5)
    // rewrite the table in place with two of its rows
    val staging = dir.resolve("staging")
    Tables.region(spark, sf).filter(col("r_regionkey") < 2)
      .coalesce(1).write.parquet(staging.toString)
    java.nio.file.Files.delete(table)
    java.nio.file.Files.move(staging, table)
    assert(regions().count() == 2, "the memo served the rows of the old files")
    SessionMemo.invalidate(dir.toString)
  }
}
