package graft

/** Plan-hygiene sweep over the whole query surface: builds every
  * `SparkEntry.queries` plan and prints each PlanAudit finding —
  * the maintenance tool behind PlanHygieneSpec's allow-lists.
  *
  * Usage: `sbt "runMain graft.PlanSweep /root/testdata/sf0.001 [kind]"`
  * (kind filters to one finding kind, e.g. `globalwindow`).
  */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val kindFilter = args.lift(1)
    val spark = GraftSession.builder().appName("graft-plan-sweep").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val flagged = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val fs0 = scale.PlanAudit.findings(fn(spark, sfDir))
        val fs = kindFilter.fold(fs0)(k => fs0.filter(_.kind == k))
        if (fs.nonEmpty) {
          flagged += name
          fs.foreach(f => println(s"FINDING $name [${f.kind}] ${f.detail.take(160)}"))
        }
      } catch {
        case e: Throwable =>
          println(s"ERR $name: ${Option(e.getMessage).getOrElse(e.toString).take(120)}")
      }
    }
    println(s"FLAGGED=${flagged.mkString(",")}")
    spark.stop()
  }
}
