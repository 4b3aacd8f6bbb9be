package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Regenerates the checked-in golden listings fixture
  * (src/test/resources/listings_raw_golden.parquet). Run via
  *   sbt "Test/runMain graft.GoldenFixtureGen"
  * ONLY when the generator intentionally changes; FixtureDriftSpec
  * asserts the generator still reproduces this file, guarding the
  * CleanPipeline golden tests against silent generator drift
  * (FIXTURES.md §4 / round-1 VERDICT item 8).
  */
object GoldenFixtureGen {
  val resourcePath = "src/test/resources/listings_raw_golden.parquet"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("4").getOrCreate()
    val tmp = Files.createTempDirectory("graft-golden").toString + "/out"
    ListingsFixture.raw(spark).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
    Files.createDirectories(Paths.get(resourcePath).getParent)
    Files.copy(Paths.get(part), Paths.get(resourcePath),
      StandardCopyOption.REPLACE_EXISTING)
    println(s"golden fixture written: $resourcePath")
    spark.stop()
  }
}
