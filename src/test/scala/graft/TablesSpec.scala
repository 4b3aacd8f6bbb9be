package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions.lit

/** `Tables.table` reads each table's schema from its footers once per
  * data version and settings, and every later read matches a fresh
  * `spark.read.parquet`. */
class TablesSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Each of the ten tables re-landed as a part-file directory. */
  private lazy val dirForm: String = {
    val d = tmpDir("graft-tables-dirs")
    Tables.names.foreach { n =>
      spark.read.parquet(s"$sf/$n.parquet").repartition(2).write.parquet(s"$d/$n.parquet")
    }
    d
  }

  test("memoized reads equal a fresh read for all ten tables, file and directory form") {
    for (d <- Seq(sf, dirForm); n <- Tables.names) {
      val fresh = spark.read.parquet(s"$d/$n.parquet")
      Seq(Tables.table(spark, d, n), Tables.table(spark, d, n)).foreach { t =>
        assert(t.schema == fresh.schema, s"$d/$n")
        assert(t.count() == fresh.count(), s"$d/$n")
      }
    }
  }

  test("a second read of an unchanged table infers no schema") {
    val d = tmpDir("graft-tables-reread")
    Files.copy(new java.io.File(s"$sf/orders.parquet").toPath,
      new java.io.File(s"$d/orders.parquet").toPath)
    assert(jobsDuring(Tables.orders(spark, d)) > 0, "the first read must infer")
    assert(jobsDuring(Tables.orders(spark, d)) == 0)
    // two calls are two relations: a self-join resolves both sides
    val (a, b) = (Tables.orders(spark, d), Tables.orders(spark, d))
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == a.count())
  }

  test("after a rewrite that adds a column, the next read shows the column") {
    val d = tmpDir("graft-tables-rewrite")
    val base = Tables.region(spark, sf)
    // directory form: a part file is replaced, the directory's size is not
    base.write.parquet(s"$d/region.parquet")
    assert(!Tables.table(spark, d, "region").columns.contains("extra"))
    base.withColumn("extra", lit(1)).write.mode("overwrite").parquet(s"$d/region.parquet")
    assert(Tables.table(spark, d, "region").columns.contains("extra"))
    // single-file form: the file is rewritten in place
    def partFile(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head.toPath
    val single = new java.io.File(s"$d/single.parquet").toPath
    Files.copy(partFile(s"$d/region.parquet"), single)
    assert(Tables.table(spark, d, "single").columns.contains("extra"))
    base.coalesce(1).write.parquet(s"$d/plain")
    Files.copy(partFile(s"$d/plain"), single, StandardCopyOption.REPLACE_EXISTING)
    assert(!Tables.table(spark, d, "single").columns.contains("extra"))
  }

  test("a session's second round of reads over the ten tables infers no schema") {
    val d = tmpDir("graft-tables-session")
    Tables.names.foreach { n =>
      Files.copy(new java.io.File(s"$sf/$n.parquet").toPath, new java.io.File(s"$d/$n.parquet").toPath)
    }
    val s = spark.newSession()
    def readAll(): Unit = Tables.names.foreach(n => Tables.read(s, d, n))
    assert(jobsDuring(readAll()) > 0, "the first round must infer")
    assert(jobsDuring(readAll()) == 0)
  }

  test("flipping nanosAsLong gives events its own memo entry") {
    val d = tmpDir("graft-tables-nanos")
    Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      new java.io.File(s"$d/events.parquet").toPath)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(jobsDuring(Tables.table(spark, d, "events")) > 0)
      assert(jobsDuring(Tables.table(spark, d, "events")) == 0)
      spark.conf.set(key, "true")
      assert(jobsDuring(Tables.table(spark, d, "events")) > 0, "the flipped setting must infer anew")
      assert(jobsDuring(Tables.events(spark, d)) == 0)
      spark.conf.set(key, "false")
      assert(jobsDuring(Tables.table(spark, d, "events")) == 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
