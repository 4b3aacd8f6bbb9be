package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence tool (plans/r17/<query>_{before,after}.txt).
  *
  * Usage:
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> q_a,q_b,..."
  *
  * Writes <outDir>/<query>_<suffix>.txt with the formatted physical
  * plan (post-analysis, pre-execution — AQE initial plan; Exchange
  * count, join strategies, PushedFilters/ReadSchema all visible).
  * Uses Bench's session (GraftSession) so the plans match what the
  * bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <q,...>")
    val Array(sfDir, outDir, suffix, qcsv) = args.take(4)
    val names = qcsv.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.builder().appName("graft-plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $n failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
