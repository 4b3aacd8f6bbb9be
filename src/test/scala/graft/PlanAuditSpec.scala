package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.scale.PlanAudit

/** Exercises both PlanAudit audit points, and in particular proves the
  * post-execution [[PlanAudit.finalFindings]] reports runtime AQE
  * decisions that the initial-plan [[PlanAudit.findings]] scan cannot
  * see: a join the runtime re-planned once true sizes were known, and
  * an AQE skew-partition split.
  */
class PlanAuditSpec extends SparkSpec {

  private def kinds(fs: Seq[PlanAudit.Finding]): Set[String] =
    fs.map(_.kind).toSet

  test("clean equi-join aggregate passes both audit points") {
    val df = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.orders(spark, sf).select("o_orderkey", "o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_quantity").as("qty"))
    assert(PlanAudit.findings(df).isEmpty)
    assert(PlanAudit.finalFindings(df).isEmpty)
    PlanAudit.require(df)
    PlanAudit.requireFinal(df)
  }

  test("finalFindings reports a runtime join re-plan the initial scan misses") {
    // Static broadcast off, adaptive broadcast on: the initial plan for a
    // non-equi inner join is a CartesianProduct, but once the upstream
    // aggregate stages materialize and AQE sees the true (tiny) sizes it
    // re-plans to a BroadcastNestedLoopJoin. The initial-plan audit
    // (with the cartesian reviewed/allowed) is blind to the BNLJ; only
    // the post-execution audit sees the plan that actually ran.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1m") {
      // modulo keys force a real shuffle stage on each side — AQE only
      // re-optimizes at stage boundaries, so a shuffle-free plan would
      // never be re-planned at all
      val a = spark.range(0, 10000).select((col("id") % 200).as("x"))
        .groupBy("x").agg(count(lit(1)).as("na"))
      val b = spark.range(0, 1000).select((col("id") % 50).as("y"))
        .groupBy("y").agg(count(lit(1)).as("nb"))
      val joined = a.join(b, col("x") < col("y"))
      val initial = kinds(PlanAudit.findings(joined, allow = Set("cartesian")))
      assert(!initial.contains("bnl"),
        "precondition: the initial plan must not contain the BNLJ yet")
      val fin = kinds(PlanAudit.finalFindings(joined, allow = Set("cartesian")))
      assert(fin.contains("bnl"),
        s"expected the runtime BNLJ re-plan to surface post-execution, got $fin")
    }
  }

  test("finalFindings reports an AQE skew split; the initial scan cannot") {
    // One key owns ~90% of the left side: with the skew thresholds
    // scaled down to test size, OptimizeSkewedJoin must split that
    // shuffle partition at runtime (SortMergeJoin ... skew=true).
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k") {
      // md5 payload: shuffle blocks are lz4-compressed, and a repeating
      // long compresses below the skew threshold — the payload must be
      // incompressible for the hot partition's size to register
      val left = spark.range(0, 200000).select(
        when(col("id") % 10 < 9, lit(1L)).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("v"))
      val right = spark.range(0, 2000).select(
        (col("id") % 500).as("k"), col("id").as("w"))
      // a global aggregate downstream, NOT a groupBy on the join key: a
      // same-key groupBy would reuse the join's hash partitioning, and
      // AQE (forceOptimizeSkewedJoin=false) skips the skew split when
      // splitting would cost an extra shuffle
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"))
      assert(!kinds(PlanAudit.findings(joined)).contains("skew"),
        "precondition: skew is a runtime decision, absent from the initial plan")
      val fin = PlanAudit.finalFindings(joined)
      assert(kinds(fin).contains("skew"),
        s"expected a skew-split finding post-execution, got $fin")
      // the reviewed-exception path clears it
      assert(!kinds(PlanAudit.finalFindings(joined, allow = Set("skew")))
        .contains("skew"))
    }
  }

  test("widescan ignores truncated ReadSchema renders (no closing '>')") {
    // Spark cuts long schema strings at maxMetadataStringLength and
    // drops the closing '>'; an unbounded regex would swallow plan text
    // up to a later '>' and inflate the column count across scans
    val truncated =
      "FileScan parquet [l_orderkey] ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double,l_shipdate:tim...\n" +
      "FileScan parquet [x] ReadSchema: struct<a:int,b:int,c:int,d:int,e:int,f:int,g:int,h:int,i:int,j:int,k:int,l:int,m:int,n:int,o:int,p:int,q:int,r:int>\n"
    // 2-column output: the 18-col scan must flag, the truncated one is
    // unassessable and must NOT contaminate the count
    val fs = PlanAudit.scan(truncated, 2, Set("globalwindow"))
    assert(fs.count(_.kind == "widescan") == 1, fs.toString)
  }

  test("requireFinal throws with the finding text on a dirty plan") {
    val a = Tables.nation(spark, sf)
    val b = Tables.region(spark, sf)
    val crossed = a.crossJoin(b)
    val e = intercept[IllegalStateException](PlanAudit.requireFinal(crossed))
    assert(e.getMessage.contains("cartesian") || e.getMessage.contains("bnl"))
  }

  test("finalFindings degrades to the initial scan on a non-adaptive plan") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df: DataFrame = Tables.nation(spark, sf).crossJoin(Tables.region(spark, sf))
      assert(kinds(PlanAudit.finalFindings(df)).nonEmpty)
    }
  }
}
