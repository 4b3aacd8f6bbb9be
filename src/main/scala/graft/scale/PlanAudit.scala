package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan hygiene auditor — the library form of the checks this
  * repo's own CI runs over every query (PlanHygieneSpec): walk a
  * query's plan and report the shapes that stop scaling BEFORE the job
  * launches against 100 TB. Intended as a pre-flight gate:
  * `PlanAudit.findings(df)` in a test or submission hook, fail on
  * non-empty (minus explicitly allowed patterns).
  *
  * Two audit points, because AQE re-plans at runtime:
  *  - [[findings]] inspects the INITIAL plan (cheap, no execution) —
  *    catches statically visible shapes;
  *  - [[finalFindings]] materializes every adaptive query stage and
  *    inspects the FINAL plan — catches what only runtime statistics
  *    reveal: skew-split joins, joins the runtime re-planned to a
  *    different strategy (e.g. a CartesianProduct that became a
  *    BroadcastNestedLoopJoin once a side's true size was known), and
  *    broadcast demotions. A 100 TB pre-flight should run [[findings]]
  *    always and [[finalFindings]] on a representative sample, since
  *    the latter pays the upstream stages' cost.
  *
  * Checks are string/structure heuristics over the physical plan —
  * deliberately conservative: a finding means "look at this", and the
  * allow-list carries the reviewed exceptions (tiny-side cross
  * products, 1-row broadcast probes, AQE-handled skew).
  */
object PlanAudit {

  final case class Finding(kind: String, detail: String)

  /** The shape checks shared by both audit points. Detection runs over
    * the STRINGIFIED plan, not a tree walk: under AQE the top node is
    * an AdaptiveSparkPlanExec whose real subtree is not reachable
    * through `children` before execution, while its toString renders
    * the full plan (and, post-execution, query stages render their
    * materialized subtrees). */
  private[graft] def scan(planStr: String, nOut: Int,
      allow: Set[String]): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    if (planStr.contains("CartesianProduct") && !allow("cartesian"))
      out += Finding("cartesian",
        "CartesianProduct: unpartitioned all-pairs join — rewrite as an " +
          "equi-join (bucket/band/block the key) or broadcast a tiny side")
    if (planStr.contains("BroadcastNestedLoopJoin") && !allow("bnl"))
      out += Finding("bnl",
        "BroadcastNestedLoopJoin: non-equi join against a broadcast side — " +
          "fine only when the build side is provably tiny (dims, 1-row probes)")

    // partition-less WindowExec: Spark itself warns ("No Partition
    // Defined ... Moving all data to a single partition"); here it is a
    // findable shape. WindowExec renders `Window [exprs]` + optional
    // `[partitionSpec]` + optional `[orderSpec]` as top-level bracket
    // groups; the window is GLOBAL when no partition spec is present —
    // one group, or two where the second is an order spec (its entries
    // carry ASC/DESC markers; a partition spec's never do). Legit uses
    // (month grids, duration axes) go through the allow-list.
    if (!allow("globalwindow")) {
      planStr.linesIterator.foreach { line =>
        val t = line.dropWhile(c => !c.isLetter && c != '!')
        if (t.startsWith("Window [") || t.startsWith("!Window [")) {
          val groups = Seq.newBuilder[String]
          var depth = 0; val sb = new StringBuilder
          t.foreach { c =>
            if (c == '[') { if (depth == 0) sb.clear() else sb += c; depth += 1 }
            else if (c == ']') {
              depth -= 1
              if (depth == 0) groups += sb.toString else sb += c
            } else if (depth > 0) sb += c
          }
          val gs = groups.result()
          val isGlobal = gs.length == 1 ||
            (gs.length == 2 && (gs(1).contains(" ASC") || gs(1).contains(" DESC")))
          if (isGlobal)
            out += Finding("globalwindow",
              "partition-less WindowExec: every row moves to ONE task — " +
                "rank through ScaledWindow.rankCum (per-bucket windows " +
                "plus in-plan offsets) unless the input is provably " +
                s"grid-sized: $t")
        }
      }
    }

    // unpruned wide scans: a FileSourceScan reading far more columns
    // than the query returns usually means a missing projection
    if (!allow("widescan")) {
      // newline-bounded: Spark truncates long ReadSchema renders
      // WITHOUT the closing '>', and an unbounded [^>]* would swallow
      // the rest of the plan up to some later '>' — inflating the
      // column count with other scans' text (a truncated schema simply
      // doesn't match, which is the honest "can't assess" outcome)
      val readSchemas = "ReadSchema: struct<([^>\n]*)>".r
        .findAllMatchIn(planStr).map(_.group(1)).toSeq
      readSchemas.foreach { rs =>
        val nRead = rs.count(_ == ':')
        if (nRead > math.max(nOut * 4, nOut + 8))
          out += Finding("widescan",
            s"scan reads $nRead columns for a $nOut-column result — check " +
              "column pruning (ReadSchema) and drop unused fields early")
      }
    }
    out.result()
  }

  /** Audit the initial plan (forces planning, not execution). */
  def findings(df: DataFrame,
      allow: Set[String] = Set.empty): Seq[Finding] =
    scan(df.queryExecution.executedPlan.toString, df.schema.length, allow)

  private def countJoins(planStr: String): Map[String, Int] =
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(k => k -> k.r.findAllMatchIn(planStr).size).toMap

  /** Post-execution audit: materialize every adaptive query stage (the
    * shuffles and broadcasts — NOT the final result action), then audit
    * the runtime-finalized plan. This is where AQE's decisions become
    * visible: `OptimizeSkewedJoin` splits (reported as `skew` — the
    * defense FIRED, meaning the data is skewed and a non-AQE engine
    * would have stalled on it), runtime join re-plans, and broadcast
    * demotions (a join the initial plan broadcast but the runtime
    * downgraded to a shuffle — the size estimate was wrong, which at
    * 100 TB means a driver OOM risk caught late).
    *
    * On a non-adaptive plan this degrades to the initial-plan scan. */
  def finalFindings(df: DataFrame,
      allow: Set[String] = Set.empty): Seq[Finding] =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val finalPlan: SparkPlan = a.finalPhysicalPlan
        val planStr = finalPlan.toString
        val out = Seq.newBuilder[Finding]
        out ++= scan(planStr, df.schema.length, allow)
        if (!allow("skew") &&
            (planStr.contains("skew=true") || planStr.contains("skewed")))
          out += Finding("skew",
            "AQE split a skewed shuffle partition at runtime — the join " +
              "succeeded, but the key distribution is skewed; consider " +
              "salting or a DF cap so the plan does not depend on AQE")
        if (!allow("demotion")) {
          val init = countJoins(a.initialPlan.toString)
          val fin = countJoins(planStr)
          if (fin("SortMergeJoin") + fin("ShuffledHashJoin") >
              init("SortMergeJoin") + init("ShuffledHashJoin"))
            out += Finding("demotion",
              "runtime re-planned a join to a shuffle strategy the initial " +
                "plan did not have — a broadcast-size estimate was wrong; " +
                "check stats (ANALYZE) or broadcast hints on the true-small side")
        }
        out.result()
      case p =>
        scan(p.toString, df.schema.length, allow)
    }

  /** Throw unless the plan is clean (the CI-gate form). */
  def require(df: DataFrame, allow: Set[String] = Set.empty): Unit = {
    val fs = findings(df, allow)
    if (fs.nonEmpty) throw new IllegalStateException(
      "plan audit failed:\n" + fs.map(f => s"  [${f.kind}] ${f.detail}").mkString("\n"))
  }

  /** The post-execution CI-gate form: runs the upstream stages. */
  def requireFinal(df: DataFrame, allow: Set[String] = Set.empty): Unit = {
    val fs = finalFindings(df, allow)
    if (fs.nonEmpty) throw new IllegalStateException(
      "final plan audit failed:\n" + fs.map(f => s"  [${f.kind}] ${f.detail}").mkString("\n"))
  }
}
