package graft

import org.apache.spark.sql.functions._
import graft.queries.GraphQueries

/** PageRank invariants on the real customer–supplier graph. Exact
  * values are oracle-checked by the driver (unrolled-CTE DuckDB replay);
  * this spec pins the structural properties that hold for ANY undirected
  * graph with no dangling nodes. */
class GraphQueriesSpec extends SparkSpec {

  private def run() = GraphQueries.queries("q_pagerank")(spark, sf)

  test("rank mass is conserved: normalized ranks average to 1") {
    val pr = run().cache()
    val n = pr.count()
    assert(n > 0)
    val total = pr.agg(sum("pr")).head().getDouble(0)
    // sum(pr) = n exactly in theory (undirected graph, no dangling
    // mass); rounding to 6 decimals perturbs each row by <5e-7.
    assert(math.abs(total - n) < n * 1e-5, s"mass $total for $n nodes")
    pr.unpersist()
  }

  test("both node families appear and every rank is positive") {
    val pr = run().cache()
    val custs = pr.filter(col("node") > 0).count()
    val supps = pr.filter(col("node") < 0).count()
    assert(custs > 0 && supps > 0, s"customers=$custs suppliers=$supps")
    assert(pr.filter(col("pr") <= 0).count() == 0,
      "teleport term makes every reachable node's rank strictly positive")
    pr.unpersist()
  }

  test("two executions produce identical output (checkpointed iterations)") {
    val a = run().collect().map(_.toString)
    val b = run().collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("personalized pagerank matches a sequential 3-round replay") {
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct().collect().map(r => (r.getLong(0), -r.getLong(1) - 1))
    val edges = pairs ++ pairs.map(p => (p._2, p._1))
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
    val n = deg.size
    val seeds = deg.keySet.filter(v => v >= 0 && v % 100 == 1)
    assert(seeds.nonEmpty)
    var rank = seeds.map(_ -> 1.0 / seeds.size).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.flatMap { case (src, dst) =>
        rank.get(src).map(r => dst -> r / deg(src))
      }.groupBy(_._1).map { case (node, xs) =>
        node -> 0.85 * xs.map(_._2).sum
      }
      rank = (contrib.keySet ++ seeds).map { node =>
        node -> (contrib.getOrElse(node, 0.0)
          + (if (seeds(node)) 0.15 / seeds.size else 0.0))
      }.toMap
    }
    val got = GraphQueries.queries("q_pagerank_personalized")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == rank.size, s"${got.size} vs ${rank.size} nodes")
    // inner contribution sums are order-free doubles in both the
    // engine and this model; compare at the rounding grain
    rank.foreach { case (node, r) =>
      assert(math.abs(got(node) - r * n) < 1e-4 + 1e-9,
        s"node $node: ${got(node)} vs ${r * n}")
    }
    // teleport personalization: total mass stays 1 (undirected graph,
    // no dangling nodes), and seeds hold extra mass vs q_pagerank's
    // uniform teleport
    val mass = rank.values.sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
  }

  test("k-core matches a sequential peel to fixpoint; core degrees >= k") {
    import org.apache.spark.sql.functions._
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct().collect().map(r => (r.getLong(0), -r.getLong(1) - 1))
    var edges = (pairs ++ pairs.map(p => (p._2, p._1))).toSet
    var done = false
    while (!done) {
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
      val keep = deg.filter(_._2 >= 20).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      done = next == edges
      edges = next
    }
    val core = edges.map(_._1)
    val got = GraphQueries.queries("q_kcore")(spark, sf).collect()(0)
    assert(got.getInt(0) == 20)
    assert(got.getLong(1) == core.size, "core node count")
    assert(got.getLong(2) == edges.size / 2, "core edge count")
    assert(got.getBoolean(3), "fixpoint within the 3 unrolled rounds")
    // the defining invariant: every surviving node keeps degree >= k
    // inside the core (vacuously true if the core is empty)
    val degIn = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
    assert(degIn.values.forall(_ >= 20))
  }

  test("adamic-adar link prediction matches a sequential scorer") {
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val scores = collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    pairs.groupBy(_._1).foreach { case (_, es) =>
      val supps = es.map(_._2).sorted
      if (supps.length >= 2 && supps.length <= 100) {
        val w = math.round(1000000.0 / math.log(supps.length.toDouble))
        for (i <- supps.indices; j <- i + 1 until supps.length) {
          val k = (supps(i), supps(j))
          val (n0, a0) = scores.getOrElse(k, (0L, 0L))
          scores(k) = (n0 + 1, a0 + w)
        }
      }
    }
    val expected = scores.toSeq
      .sortBy { case ((s1, s2), (_, aam)) => (-aam, s1, s2) }.take(20)
    val got = GraphQueries.queries("q_link_predict")(spark, sf).collect()
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (r, ((s1, s2), (nc, aam))) =>
      assert(r.getLong(0) == s1 && r.getLong(1) == s2,
        s"pair order at (${r.getLong(0)},${r.getLong(1)})")
      assert(r.getLong(2) == nc, s"common count at ($s1,$s2)")
      assert(math.abs(r.getDouble(3) - aam / 1e6) < 1e-9)
    }
  }

  test("modularity matches a sequential recompute and its identities") {
    val adj = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCust = adj.groupBy(_._1).map { case (c, xs) =>
      c -> xs.map(_._2).toArray.sorted
    }.filter { case (_, ss) => ss.length >= 2 && ss.length <= 100 }
    val w = scala.collection.mutable.Map[(Long, Long), Long]()
    byCust.values.foreach { ss =>
      for (i <- ss.indices; j <- i + 1 until ss.length)
        w((ss(i), ss(j))) = w.getOrElse((ss(i), ss(j)), 0L) + 1
    }
    val comm = Tables.supplier(spark, sf)
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val tw = w.values.sum
    val commSet = w.keys.flatMap { case (a, b) =>
      Seq(comm(a), comm(b)) }.toSet
    val winC = w.toSeq.filter { case ((a, b), _) => comm(a) == comm(b) }
      .groupBy { case ((a, _), _) => comm(a) }
      .map { case (c, es) => c -> es.map(_._2).sum }
    val degC = w.toSeq.flatMap { case ((a, b), wt) =>
      Seq(comm(a) -> wt, comm(b) -> wt) }
      .groupBy(_._1).map { case (c, es) => c -> es.map(_._2).sum }
    // identity: community degrees sum to 2W
    assert(degC.values.sum == 2 * tw)
    // .keys is a SET — mapping it would dedupe communities whose
    // terms happen to be equal (two nations with identical degree
    // sums collapsed to one term on first write); map a Seq
    val qBrute = degC.keys.toSeq.map { c =>
      winC.getOrElse(c, 0L).toDouble / tw -
        math.pow(degC(c).toDouble / (2 * tw), 2)
    }.sum
    val got = GraphQueries.queries("q_modularity")(spark, sf).collect()(0)
    assert(got.getLong(0) == degC.size.toLong)
    assert(got.getLong(1) == w.size.toLong)
    assert(got.getLong(2) == tw)
    assert(math.abs(got.getDouble(3) - qBrute) < 1e-4,
      s"Q ${got.getDouble(3)} vs brute $qBrute")
    // modularity is bounded in [-0.5, 1]
    assert(got.getDouble(3) >= -0.5 && got.getDouble(3) <= 1.0)
    assert(degC.keySet == commSet)
  }

  test("assortativity matches a brute-force symmetrized-edge Pearson") {
    val adj = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = scala.collection.mutable.Set[(Long, Long)]()
    adj.groupBy(_._1).values.foreach { xs =>
      val ps = xs.map(_._2).toArray.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        edges += ((ps(i), ps(j)))
    }
    val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (u, h) => u -> h.size.toDouble }
    val dir = edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val n = dir.length.toDouble
    val j = dir.map(e => deg(e._1)); val k = dir.map(e => deg(e._2))
    val (sj, sk) = (j.sum, k.sum)
    val sjj = j.map(v => v * v).sum; val skk = k.map(v => v * v).sum
    val sjk = j.zip(k).map { case (a, b) => a * b }.sum
    val r = (n * sjk - sj * sk) /
      (math.sqrt(n * sjj - sj * sj) * math.sqrt(n * skk - sk * sk))
    val got = GraphQueries.queries("q_assortativity")(spark, sf)
      .collect()(0)
    assert(got.getLong(0) == edges.size.toLong)
    assert(math.abs(got.getDouble(1) - r) < 1e-4 + 1e-9,
      s"r ${got.getDouble(1)} vs brute $r")
    assert(got.getDouble(1) >= -1.0 && got.getDouble(1) <= 1.0)
  }

  test("local clustering coefficient matches a neighbor-intersection brute force") {
    val adj = Tables.lineitem(spark, sf)
      .filter(to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31"))
      .select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = scala.collection.mutable.Set[(Long, Long)]()
    adj.groupBy(_._1).values.foreach { xs =>
      val ps = xs.map(_._2).toArray.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        edges += ((ps(i), ps(j)))
    }
    val nbrs = scala.collection.mutable.Map[Long, Set[Long]]()
    edges.foreach { case (a, b) =>
      nbrs(a) = nbrs.getOrElse(a, Set.empty) + b
      nbrs(b) = nbrs.getOrElse(b, Set.empty) + a
    }
    val deg2 = nbrs.filter(_._2.size >= 2)
    var u = 0L; var t3 = 0L; var perfect = 0L
    deg2.foreach { case (v, ns) =>
      val tri = ns.toSeq.map(w => (ns intersect nbrs(w)).size).sum / 2
      val dd = ns.size.toLong * (ns.size - 1)
      u += tri.toLong * 2000000000L / dd
      t3 += tri
      if (tri.toLong * 2 == dd) perfect += 1
    }
    val got = GraphQueries.queries("q_clustering_coeff")(spark, sf)
      .collect()(0)
    assert(got.getLong(0) == deg2.size.toLong)
    assert(got.getLong(1) == t3 / 3, s"tri ${got.getLong(1)} vs ${t3 / 3}")
    val want = u.toDouble / (deg2.size * 1.0e9)
    assert(math.abs(got.getDouble(2) - want) < 1e-6 + 1e-9,
      s"cc ${got.getDouble(2)} vs brute $want")
    assert(got.getDouble(2) >= 0.0 && got.getDouble(2) <= 1.0)
    assert(got.getLong(3) == perfect)
  }

  test("hits scores match a sequential two-round power iteration") {
    val e = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a1 = e.groupBy(_._2).map { case (sp, xs) => sp -> xs.length.toLong }
    val h1 = e.groupBy(_._1).map { case (c, xs) =>
      c -> xs.map(p => a1(p._2)).sum
    }
    val a2 = e.groupBy(_._2).map { case (sp, xs) =>
      sp -> xs.map(p => h1(p._1)).sum
    }
    val h2 = e.groupBy(_._1).map { case (c, xs) =>
      c -> xs.map(p => a2(p._2)).sum
    }
    val topA = a2.toSeq.sortBy { case (sp, sc) => (-sc, sp) }.take(10)
    val topH = h2.toSeq.sortBy { case (c, sc) => (-sc, c) }.take(10)
    val got = GraphQueries.queries("q_hits")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.size == 20)
    val maxA = a2.values.max.toDouble; val maxH = h2.values.max.toDouble
    topA.foreach { case (sp, sc) =>
      val g = got(("authority", sp))
      assert(g._1 == sc, s"authority $sp: ${g._1} vs $sc")
      assert(math.abs(g._2 - sc / maxA) < 1e-6 + 1e-9)
    }
    topH.foreach { case (c, sc) =>
      val g = got(("hub", c))
      assert(g._1 == sc, s"hub $c: ${g._1} vs $sc")
      assert(math.abs(g._2 - sc / maxH) < 1e-6 + 1e-9)
    }
  }

  /** The session's persisted purchase graph (built by any graph query). */
  private def graphMemo() =
    graft.queries.SessionMemo("graph.purchaseEdges", spark, sf)(
      sys.error("the purchase graph memo is not built"))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]

  test("the purchase graph is one persisted relation: degree profile and k-core share it") {
    graft.queries.SessionMemo.drain()
    graft.queries.CacheRegistry.drain()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q_graph_degree", "q_kcore").foreach(GraphQueries.queries(_)(spark, sf).collect())
    graft.queries.CacheRegistry.drain() // the per-query peel rounds
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"expected one persisted graph relation, got ${added.size}")
    assert(spark.sharedState.cacheManager.lookupCachedData(graphMemo()).nonEmpty)
  }

  /** Exchange nodes in the physical plan of `df` as planned (AQE's
    * initial plan: its runtime re-plans move q_pagerank's count by ±1
    * from run to run), through subqueries and the query's own persisted
    * relations, but not through the session's persisted purchase graph,
    * whose exchanges run once per session. */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val memo = spark.sharedState.cacheManager.lookupCachedData(graphMemo())
      .get.cachedRepresentation.cacheBuilder
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case m: InMemoryTableScanExec =>
        if (m.relation.cacheBuilder eq memo) 0 else count(m.relation.cachedPlan)
      case _ =>
        (if (p.isInstanceOf[Exchange]) 1 else 0) +
          (p.children ++ p.subqueries).map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  test("reading the pairs as a view of the edge list adds no exchange to its consumers") {
    // counted at sf0.001 on the two-memo layout this replaced, where the
    // pairs were a second persist partitioned by cust
    val before = Seq("q_kcore" -> 1, "q_link_predict" -> 6, "q_modularity" -> 29,
      "q_hits" -> 24, "q_pagerank" -> 13)
    GraphQueries.warmMemos(spark, sf) // AQE plans against the built memo
    val now = before.map { case (n, _) => n -> exchanges(GraphQueries.queries(n)(spark, sf)) }.toMap
    before.foreach { case (n, c) =>
      assert(now(n) <= c, s"$n plans ${now(n)} exchanges, ${c} before: $now")
    }
  }
}
