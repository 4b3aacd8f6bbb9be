package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.plans.Checkpoints

/** Iterative graph analytics over relational edge lists — the second
  * iterative-computation pattern in the engine beside the dedup-cluster
  * fixpoint ([[ConnectedComponents]]).
  *
  * The graph is derived, not stored: the customer–supplier bipartite
  * graph is exactly "which customers bought from which suppliers",
  * materialized from orders ⋈ lineitem. No reference analogue (the
  * reference is a single-table pandas notebook); this is an
  * engine-extension operator (SURVEY §8.4).
  *
  * Scale shape (100 TB): the edge list is built once with an equi-join
  * and deduplicated (shuffle ∝ distinct edges, 8-byte keys); each
  * PageRank iteration is one join + one aggregation. The rank vector is
  * node-sized — orders of magnitude smaller than the edge list — so
  * Catalyst broadcast-joins it against the edges and the per-iteration
  * cost is a map-side-combined groupBy over contributions. Lineage is
  * bounded per iteration: fixed-round loops persist each round's
  * node-sized state (the cheap cut), while unbounded loops run
  * [[Checkpoints.cut]] periodically (injectable: local at local[32],
  * reliable `checkpoint()` on a cluster), so plan depth stays bounded
  * regardless of iteration count. Were the node set too
  * big to broadcast, the same loop holds with edges pre-hash-partitioned
  * by src and the join degrading to co-partitioned shuffle — the
  * iteration structure is unchanged.
  */
object GraphQueries extends QueryModule {

  private val Damping = 0.85
  private val Iterations = 3

  /** Memoized symmetric purchase-graph edge list — the one persisted
    * graph relation, shared by every purchase-graph operator (pagerank,
    * degree profile, k-hop BFS, label propagation directly; k-core,
    * link prediction, modularity and HITS through [[custSuppPairs]]).
    * Memoized + persisted for the session (the
    * [[TextQueries.ngramPairsShared]] precedent): with only per-query
    * CacheRegistry drains each operator would re-run the same
    * orders⋈lineitem distinct; at 100 TB the equivalent decision is
    * landing the derived graph as a table ONCE and pointing every graph
    * job at it. One bounded edge-list-sized entry per (session, dir) —
    * deliberately NOT registered with CacheRegistry, exactly like the
    * memoized shingle tables. */
  private def purchaseEdges(s: SparkSession, d: String): DataFrame =
    SessionMemo("graph.purchaseEdges", s, d) {
      val pairs = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (-col("l_suppkey") - 1).as("dst"))
        .distinct()
      pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
        // landed partitioned by src (round 17): every consumer keys on
        // src first (pagerank's degree count + rank join, BFS frontier
        // joins, label propagation) — the union destroyed the child
        // partitioning, so each of the four consumers re-exchanged the
        // mirrored list per query (and pagerank per ITERATION). At
        // 100 TB this is "land the graph table hash-distributed by
        // src", the guide §2.4 bucketed-table decision; one extra
        // exchange in the untimed warm build.
        .repartition(col("src"))
    }

  /** The distinct (customer, supplier) purchase pairs — the bipartite
    * base of k-core, link prediction, modularity and HITS — as a view of
    * [[purchaseEdges]], not a second persist: customer keys are ≥ 0 and
    * every mirrored src (−suppkey − 1) is < 0, so the customer-side
    * half is exactly the pair list. The view keeps the memo's
    * hash(src) partitioning as hash(cust), which the heavy consumers
    * key on — link prediction's and modularity's pair self-joins, their
    * degree/cap groupBys, k-core's customer-side peel — so neither
    * self-join exchanges. */
  private def custSuppPairs(s: SparkSession, d: String): DataFrame =
    purchaseEdges(s, d).filter(col("src") >= 0)
      .select(col("src").as("cust"), (-col("dst") - 1).as("supp"))

  /** Materialize this module's session memo (Bench warm phase — see
    * [[SharedMemos]]): the purchase graph, which [[custSuppPairs]]
    * reads too. */
  private[graft] def warmMemos(s: SparkSession, d: String): Unit = {
    purchaseEdges(s, d).count()
    ()
  }

  /** PageRank over the undirected customer–supplier purchase graph.
    *
    * Nodes: customers (node = custkey) and suppliers (node =
    * −suppkey − 1, sign-disambiguated so both key spaces share one
    * BIGINT column; the −1 offset matters because the testdata key
    * spaces START AT 0 — a bare negation would merge customer 0 and
    * supplier 0 into one node, a collision round 15 found and fixed
    * across all five purchase-graph operators and their oracles).
    * Edges: distinct (customer, supplier) purchase pairs, mirrored both
    * directions — undirected, so every node has out-degree ≥ 1 and the
    * classic dangling-mass redistribution is structurally unnecessary
    * (the oracle stays exact SQL, no per-iteration global correction).
    *
    * rank₀ = 1/N; rankᵢ₊₁(n) = (1−d)/N + d·Σ_{(m,n)∈E} rankᵢ(m)/deg(m).
    * Output is the conventional N-normalized rank (mean 1.0) rounded to
    * 6 decimals — sums here are a few hundred doubles per node, so both
    * engines agree far below the rounding grain. */
  private val pageRank: Q = (s, d) => {
    val edges = purchaseEdges(s, d)
    // deg doubles as the node list: its count is the node count, its
    // keys seed rank0 — no separate countDistinct or distinct() shuffle
    val deg = CacheRegistry.register(
      edges.groupBy("src").agg(count(lit(1)).as("outdeg")).persist())
    // NOT persisted: re-running the edges⋈deg hash join from the two
    // already-cached inputs each round measured CHEAPER than
    // materializing the joined relation (2.48 vs 2.69 s solo at sf0.1)
    val withDeg = edges.join(deg, "src")
    // the node count `n` rides on every rank row, so its scalar
    // subquery runs once, in the first round; an empty graph fails then
    val n = deg.agg(count(lit(1)).as("n"))
      .select(when(col("n") > 0, col("n"))
        .otherwise(raise_error(lit("pagerank: empty edge list (no orders⋈lineitem rows)"))))
      .scalar()
    var ranks = deg.select(col("src").as("node"), n.as("n"))
      .withColumn("rank", lit(1.0) / col("n"))
    for (_ <- 1 to Iterations) {
      // persist, not localCheckpoint: at 3 fixed rounds the plan stays
      // shallow and the checkpoint's eager materialization cost is the
      // whole q_kcore lesson (3.0 vs 1.4 s solo); a to-convergence
      // production loop re-introduces Checkpoints.cut every ~10 rounds
      ranks = CacheRegistry.register(
        withDeg
          .join(ranks, col("src") === col("node"))
          .groupBy(col("dst").as("node2"))
          .agg(sum(col("rank") / col("outdeg")).as("contrib"), max("n").as("n"))
          // 0.15 literal, not (1.0 - 0.85): the doubles differ in the
          // last ulp and the oracle writes the literal
          .select(col("node2").as("node"), col("n"),
            (lit(0.15) / col("n") + lit(Damping) * col("contrib")).as("rank"))
          .persist())
    }
    ranks
      .select(col("node"), round(col("rank") * col("n"), 6).as("pr"))
      .orderBy("node")
  }

  /** Personalized PageRank from the q_bfs_khop seed set (customers
    * with custkey ≡ 1 mod 100) — the recommender-adjacent PageRank
    * variant: teleport mass returns to the SEEDS instead of spreading
    * uniformly, so rank measures proximity to a user cohort ("which
    * suppliers matter to THESE customers"), the relevance primitive
    * behind personalized recommendations and trust propagation.
    *
    * rank₀ = 1/|S| on seeds (0 elsewhere, represented SPARSELY — the
    * state starts seed-sized and grows only to reached nodes);
    * rankᵢ₊₁(n) = 0.15·1{n∈S}/|S| + 0.85·Σ_{(m,n)∈E} rankᵢ(m)/deg(m).
    * Per iteration: the same edge⋈rank join + map-side-combined
    * contribution aggregate as [[pageRank]], then a union with the
    * seed teleport vector folded by a second groupBy whose per-node
    * input is ≤2 rows (one contribution row + one teleport row), so
    * that outer sum is EXACT float addition of two doubles — only the
    * inner contribution sum is order-free, and the final round(·, 6)
    * absorbs its ~1e-12 drift exactly as q_pagerank's does. Output is
    * scaled by the TOTAL node count (the pagerank presentation
    * convention) and rounded to 6. Each round persists its node-sized
    * vector (the fixed-3-round persist discipline, not
    * localCheckpoint). The oracle unrolls the same three rounds. */
  private val pageRankPersonalized: Q = (s, d) => {
    val edges = purchaseEdges(s, d)
    val deg = CacheRegistry.register(
      edges.groupBy("src").agg(count(lit(1)).as("outdeg")).persist())
    val isSeed = col("src") >= 0 && col("src") % 100 === 1
    // the node and seed counts ride on every seed and rank row: one
    // scalar subquery over deg, which fails when the plan runs on an
    // empty graph or seed set
    val counts = deg.agg(count(lit(1)).as("n"), count_if(isSeed).as("nS"))
      .select(when(col("n") === 0,
          raise_error(lit("ppr: empty edge list (no orders⋈lineitem rows)")))
        .when(col("nS") === 0, raise_error(lit("ppr: empty seed set (no custkey ≡ 1 mod 100)")))
        .otherwise(struct("n", "nS")))
      .scalar()
    val seeds = CacheRegistry.register(
      deg.filter(isSeed).select(col("src").as("node"), counts.as("c")).persist())
    val withDeg = edges.join(deg, "src")
    var ranks = seeds.select(col("node"), col("c.n").as("n"), (lit(1.0) / col("c.nS")).as("rank"))
    for (_ <- 1 to Iterations) {
      val contrib = withDeg
        .join(ranks, col("src") === col("node"))
        .groupBy(col("dst").as("node2"))
        .agg((lit(Damping) * sum(col("rank") / col("outdeg"))).as("r"), max("n").as("n"))
        .select(col("node2").as("node"), col("r"), col("n"))
      ranks = CacheRegistry.register(
        contrib
          .unionByName(seeds.select(col("node"),
            (lit(0.15) / col("c.nS")).as("r"), col("c.n").as("n")))
          .groupBy("node").agg(sum("r").as("rank"), max("n").as("n"))
          .persist())
    }
    ranks
      .select(col("node"), round(col("rank") * col("n"), 6).as("ppr"))
      .orderBy("node")
  }

  /** Degree profile of the same purchase graph: per-family (customer /
    * supplier) node count, degree min/max/mean, and the top hub by
    * degree. One edge-list aggregate + one 2-row reduce — the cheap
    * pre-flight a graph job runs to choose its partitioning (hub skew
    * shows up here before it shows up as a straggler task). */
  private val graphDegree: Q = (s, d) => {
    val edges = purchaseEdges(s, d)
    edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy(when(col("src") >= 0, "customer").otherwise("supplier")
        .as("family"))
      .agg(
        count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"),
        max("deg").as("max_deg"),
        round(avg("deg"), 6).as("mean_deg"),
        // composite BIGINT ordering key: degree first, node id breaks
        // ties — DuckDB's max_by takes scalars only (see aggMaxBy)
        max_by(col("src"), col("deg") * lit(100000000L) + col("src"))
          .as("top_hub"))
      .orderBy("family")
  }

  /** Triangle count + global clustering coefficient over the PART
    * co-purchase graph (parts are adjacent when some order contains
    * both) — the bipartite purchase graph is triangle-free by
    * construction, so this derives the classic one-mode projection
    * co-occurrence graph every recommender pipeline builds. The
    * projection is scoped to one year of shipments: an UNWINDOWED
    * co-occurrence projection densifies with time (avg degree grew ~10×
    * from sf0.01 to sf0.1 and the wedge join with it — measured 13 s),
    * which is precisely why production co-occurrence graphs are always
    * time-windowed; the window keeps the projection's density a
    * modeling choice instead of a function of history length.
    *
    * Scale shape — DEGREE-ORDERED orientation (the node-iterator++
    * algorithm): every undirected edge is directed from its
    * (degree, id)-smaller endpoint to the larger one, so each wedge is
    * generated at its lowest-degree vertex and each triangle is
    * enumerated EXACTLY once. The wedge blow-up at a hub of degree d
    * falls from C(d, 2) to roughly C(d_out, 2) with d_out bounded by
    * √(2m) — the difference between a dead executor and a bounded join
    * on a power-law graph. Wedge closure is one equi-join against the
    * canonical edge set keyed (lo, hi). The triangle COUNT is
    * orientation-invariant, so the DuckDB oracle replays the naive
    * id-ordered 3-way self-join and the counts must agree — the oracle
    * states the semantics, the engine picks the scalable plan.
    * Transitivity = 3·triangles / wedges, with wedges = Σ C(deg, 2)
    * (undirected), both engines from first principles. */
  private val triangles: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("lo"), col("b.pk").as("hi"))
      .distinct()
    val deg = edges.select(col("lo").as("n")).unionAll(edges.select(col("hi").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // orient each edge from the (deg, id)-smaller endpoint outward
    val oriented = edges
      .join(deg.withColumnRenamed("n", "lo").withColumnRenamed("deg", "dlo"), "lo")
      .join(deg.withColumnRenamed("n", "hi").withColumnRenamed("deg", "dhi"), "hi")
      .select(
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")),
          struct(col("lo").as("src"), col("hi").as("dst")))
          .otherwise(struct(col("hi").as("src"), col("lo").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val wedgeClose = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(
        least(col("e1.dst"), col("e2.dst")).as("lo"),
        greatest(col("e1.dst"), col("e2.dst")).as("hi"))
      .join(edges, Seq("lo", "hi"), "left_semi")
    // one lazy composite plan: the edges subtree appears in all four
    // branches and Catalyst's ReuseExchange materializes its shuffles
    // once — no explicit persist, no driver-side scalars, one job
    wedgeClose.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("wedges"))))
      .select(
        col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("wedges"), 6)
          .as("transitivity"))
  }

  /** Multi-source k-hop BFS (k = 3) over the purchase graph: minimum
    * hop distance from a deterministic seed set (customers with
    * custkey ≡ 1 mod 100) to every node within 3 hops — the
    * reachability / blast-radius primitive (fraud rings, lineage
    * impact, social neighborhoods).
    *
    * Frontier-style iteration, k fixed so the loop unrolls into 3
    * chained joins: each hop joins the CURRENT frontier (not the
    * visited set) against the edge list, dedups the neighbor set, and
    * anti-joins the visited set so a node keeps its FIRST (minimum)
    * hop — the textbook BFS invariant, each step a frontier-sized
    * hash join. Scale shape: shuffles are frontier-×-degree sized,
    * never |V|²; the visited set only ever grows by distinct nodes;
    * at an unbounded k this becomes the ConnectedComponents fixpoint
    * loop with its checkpoint cuts (same module family). The oracle
    * is a recursive CTE with UNION (tuple-dedup) semantics + a final
    * min(hop) — identical frontier mathematics in pure SQL. */
  private val bfsKhop: Q = (s, d) => {
    val edges = purchaseEdges(s, d)
    // persisted: seeds sit under BOTH the anti-join and the union chain
    // of every later round — uncached, the edge-distinct shuffle re-runs
    // O(rounds^2) times through the visited/frontier lineage
    val seeds = CacheRegistry.register(
      edges.select(col("src").as("node")).distinct()
        .filter(col("node") >= 0 && col("node") % 100 === 1)
        .withColumn("hop", lit(0))
        .persist())
    var visited = seeds
    var frontier = seeds.select("node")
    for (h <- 1 to 3) {
      val next = CacheRegistry.register(
        frontier.join(edges, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
          .persist())
      visited = visited.unionByName(next.withColumn("hop", lit(h)))
      frontier = next
    }
    visited.orderBy("node")
  }

  /** Hop-bounded single-source shortest paths (3 Bellman–Ford
    * rounds): minimum WEIGHTED distance from the q_bfs_khop seed set,
    * edge weight = the pair's minimum lineitem quantity — the routing/
    * cost-propagation primitive BFS can't express (a 2-hop path can
    * undercut a 1-hop edge). Each round relaxes every edge once:
    * current distances join the edge list, candidate = dist + w, and
    * a min-aggregate folds candidates with the incumbents — shuffles
    * are edge-list-sized, state is node-sized, and distances are
    * INTEGER sums, so engine/oracle equality is exact (no float
    * rounding protocol needed). Unbounded hops would be the
    * ConnectedComponents-style fixpoint with checkpoint cuts; the
    * oracle unrolls the same three relaxations in a recursive CTE
    * (UNION tuple-dedup bounds the frontier) + a final min. */
  private val sssp: Q = (s, d) => {
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("src"), (-col("l_suppkey") - 1).as("dst"))
      .agg(min("l_quantity").cast("long").as("w"))
    val edges = CacheRegistry.register(pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .persist())
    var dist = CacheRegistry.register(
      edges.select(col("src").as("node")).distinct()
        .filter(col("node") >= 0 && col("node") % 100 === 1)
        .withColumn("dist", lit(0L)).persist())
    for (_ <- 1 to 3) {
      val relaxed = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      // persist each round's node-sized state: dist feeds BOTH the next
      // relaxation join and the union, so an unpersisted chain embeds
      // 2^k copies of the round-0 subtree in round k's plan (the round-9
      // bench read 4.4 s at sf0.1 from exactly that re-execution)
      dist = CacheRegistry.register(dist.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist")).persist())
    }
    dist.orderBy("node")
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007), 3 rounds over the purchase graph: label₀(v) = v;
    * label_{k+1}(v) = the MODE of v's neighbors' labels, ties broken
    * by smallest label — the deterministic synchronous variant, so
    * both engines converge identically (classic async LPA is
    * order-dependent and unverifiable). Distinct from the
    * ConnectedComponents min-label fixpoint: mode-voting respects
    * edge DENSITY, splitting a connected blob into dense cores.
    *
    * Scale shape: per round, one edge-sized join against the
    * node-sized label vector (broadcast-able), a map-side-combined
    * (node, label) vote count, and a per-node window argmax —
    * shuffles bound by the edge list, state by the node set; each
    * round's vector is persisted so round k never replays round k−1
    * (the q_sssp lineage lesson). The oracle unrolls the same three
    * rounds as chained CTEs with QUALIFY argmax. */
  private val labelProp: Q = (s, d) => {
    val edges = purchaseEdges(s, d)
    var labels = CacheRegistry.register(
      edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")).persist())
    val argmax = Window.partitionBy("src").orderBy(desc("cnt"), asc("lbl"))
    for (_ <- 1 to 3) {
      labels = CacheRegistry.register(
        edges.join(labels, col("dst") === col("node"))
          .groupBy("src", "lbl").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(argmax))
          .filter(col("rn") === 1)
          .select(col("src").as("node"), col("lbl"))
          .persist())
    }
    labels.orderBy("node")
  }

  /** k-core decomposition (k=20) of the purchase graph — the density
    * filter behind community mining and fraud-ring detection: peel
    * every node of degree < k, recompute degrees, repeat. The peel
    * runs a FIXED 3 rounds (matching the unrolled-CTE oracle, the
    * q_label_prop contract) with a `converged` pin asserting rounds 2
    * and 3 retain the same node set — on this graph the fixpoint
    * arrives in 2, so the pin keeps one round of structural headroom
    * (round 13 trimmed the second spare round: the pin FAILS LOUDLY
    * if the data ever needs it back); production use loops the
    * identical round body to convergence.
    *
    * The purchase graph is BIPARTITE (customers on one side, suppliers
    * on the other), so the peel runs on the distinct (cust, supp) PAIR
    * list directly — half the rows of the mirrored edge list the other
    * graph ops symmetrize, and no up-front 2× materialization at all.
    * deg(cust) = its pair count, deg(supp) = its pair count (pairs are
    * distinct), so per round: two map-side-combined degree counts, two
    * semi-join-shaped equi-joins against the surviving-side key sets
    * (node-sized, broadcast-able), each round's survivor list persisted
    * so round k never replays round k−1 (persist, not localCheckpoint:
    * with only 3 unrolled rounds the plan stays shallow, and the
    * measured checkpoint materialization cost — 3.0 vs 1.4 s solo at
    * sf0.1 — bought nothing; a to-convergence production loop SHOULD
    * re-introduce a periodic [[Checkpoints.cut]] every ~10 rounds, the
    * q_sssp discipline, to bound plan depth). Survivor node counts
    * are one two-countDistinct agg over the half-sized pair list; the
    * mirrored edge count is exactly 2× the pair count, so n_core_edges
    * (mirrored DIV 2) is the pair count itself. The k-core is a unique
    * fixpoint — peel order cannot change it — so the result is
    * deterministic by construction and identical to the mirrored
    * formulation the oracle unrolls. */
  private val kcore: Q = (s, d) => {
    val kMin = 20
    var p = custSuppPairs(s, d)
      .select(col("cust").as("c"), col("supp").as("sk"))
    // (customers, suppliers) surviving after each round; only rounds 2
    // and 3 feed the emitted n_core/converged pair
    var nodesAfter = Array.empty[Long]
    (1 to 3).foreach { i =>
      val keepC = p.groupBy("c").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= kMin).select("c")
      val keepS = p.groupBy("sk").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= kMin).select("sk")
      p = CacheRegistry.register(
        p.join(keepC, "c").join(keepS, "sk").select("c", "sk").persist())
      nodesAfter :+= (if (i >= 2) {
        val r = p.agg(countDistinct(col("c")).as("nc"),
          countDistinct(col("sk")).as("ns")).head()
        r.getLong(0) + r.getLong(1)
      } else 0L)
    }
    p.agg(count(lit(1)).as("np"))
      .select(lit(kMin).as("k"),
        lit(nodesAfter(2)).as("n_core"),
        col("np").as("n_core_edges"),
        lit(nodesAfter(1) == nodesAfter(2)).as("converged"))
  }

  /** Adamic–Adar link prediction over supplier pairs — the classic
    * common-neighbor score behind "suppliers serving the same buyers":
    * for suppliers (s1, s2) the score sums 1/ln(deg(c)) over shared
    * customers c, down-weighting promiscuous buyers (a customer who
    * buys from everyone says little). Each 1/ln(deg) weight is ONE
    * mirrored division rounded to integer micro-units, so pair scores
    * are exact long sums and the global top-20 ordering (score desc,
    * pair asc) can never flip on a float bit.
    *
    * Scale: the pair generation self-joins the (customer, supplier)
    * adjacency on the customer key — shuffle ∝ Σ C(deg_c, 2), bounded
    * by per-customer BASKET WIDTH (purchasing behavior), not corpus
    * size; the documented deg ≤ 100 hub cap makes that bound hard
    * (standard AA practice: a hub's 1/ln weight is negligible but its
    * k² pair cost is not). Top-20 via TakeOrdered, no window. */
  private val linkPredict: Q = (s, d) => {
    // the memoized adjacency feeds BOTH the degree-weight aggregate
    // and the pair self-join probe — without the shared cache the
    // fact-table join + distinct would run twice per execution.
    // (Round 17 measured the array-explode pair generation here —
    // the q_item_cf rewrite — at 1.7× THIS form: against an
    // already-persisted memo the self-join sides are cheap, and
    // carrying the per-customer weight through the interpreted-HOF
    // generate costs +45% on 12.5M generated rows. The array form
    // only wins where it removes real exchanges.)
    val pairs = custSuppPairs(s, d)
    val w = pairs.groupBy("cust").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= 100)
      .select(col("cust"),
        round(lit(1000000.0) / log(col("deg"))).cast("long").as("w"))
    // persisted: the self-join's two sides project DIFFERENT columns
    // from this relation, so exchange reuse can't fire — unpersisted,
    // the pairs⋈w weight join executed once per side.
    // round 18: landed at an EXPLICIT hash(cust) partition count (the
    // q_item_cf rationale): with cached partitioning visible to
    // consumers, the 12.5M-row pair self-join runs AT the cache's
    // partitioning — exchange-free, which is the point — but the
    // memo-derived input had been AQE-coalesced to ~1 partition at
    // test volume, single-threading the explosion.
    val adj = CacheRegistry.register(pairs.join(w, "cust")
      .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
        col("cust"))
      .persist())
    val b = adj.select(col("cust"), col("supp").as("s2"))
    adj.join(b, "cust").filter(col("supp") < col("s2"))
      .groupBy(col("supp").as("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"), sum("w").as("aam"))
      .orderBy(col("aam").desc, col("s1"), col("s2"))
      .limit(20)
      .select(col("s1"), col("s2"), col("n_common"),
        round(col("aam") / lit(1000000.0), 6).as("aa_score"))
  }

  /** Newman modularity of the supplier co-service graph under the
    * nation partition — the community-quality score beside
    * [[labelProp]] (label propagation FINDS communities; modularity
    * asks how good a given partition is): Q = Σ_c (w_in/W −
    * (deg_c/2W)²) over the weighted graph where suppliers are linked
    * by the number of customers they both serve. Edge weights, W,
    * per-community internal weight, and degree sums are all exact
    * longs (the pair join is bounded by per-customer basket width —
    * the [[linkPredict]] cap); each community's term is ONE mirrored
    * double expression micro-rounded to 1e-9 before the 25-term sum. */
  private val modularity: Q = (s, d) => {
    // self-join pair generation against the persisted memo (see the
    // linkPredict note: the array-explode form measured no better
    // here and worse with carried columns)
    val adj = custSuppPairs(s, d)
    val caps = adj.groupBy("cust").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= 100)
      .select("cust")
    // persisted for the same two-projection self-join reason as
    // linkPredict's adj
    val capped = CacheRegistry.register(adj.join(caps, "cust").persist())
    val b = capped.select(col("cust"), col("supp").as("s2"))
    val edges = capped.join(b, "cust").filter(col("supp") < col("s2"))
      .groupBy(col("supp").as("s1"), col("s2"))
      .agg(count(lit(1)).as("w"))
    val comm = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey").as("c"))
    // the community-stamped edge list feeds THREE aggregates (totals,
    // internal weights, degrees) — persist it or the pair self-join
    // runs three times (measured 6.3 -> ~4 s at sf0.1)
    val ec = CacheRegistry.register(edges
      .join(broadcast(comm.withColumnRenamed("s_suppkey", "s1")
        .withColumnRenamed("c", "c1")), "s1")
      .join(broadcast(comm.withColumnRenamed("s_suppkey", "s2")
        .withColumnRenamed("c", "c2")), "s2")
      .persist())
    val tot = ec.agg(sum("w").as("tw"), count(lit(1)).as("ne"))
    val win = ec.filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("c")).agg(sum("w").as("w_in"))
    val degc = ec.select(col("c1").as("c"), col("w"))
      .union(ec.select(col("c2").as("c"), col("w")))
      .groupBy("c").agg(sum("w").as("deg"))
    val terms = degc.join(win, Seq("c"), "left")
      .na.fill(0L, Seq("w_in"))
      .crossJoin(broadcast(tot))
      .withColumn("t", round(lit(1000000000.0) *
        (col("w_in").cast("double") / col("tw")
          - (col("deg").cast("double") / (lit(2) * col("tw")))
            * (col("deg").cast("double") / (lit(2) * col("tw")))))
        .cast("long"))
    terms.agg(count(lit(1)).as("n_communities"),
      max("ne").as("n_edges"), max("tw").as("total_w"),
      round(sum("t").cast("double") / lit(1000000000.0), 6)
        .as("modularity"))
  }

  /** Degree assortativity of the part co-purchase graph — do popular
    * parts share baskets with other popular parts (r > 0,
    * social-network shape) or with the long tail (r < 0,
    * hub-and-spoke)? The structural read beside [[modularity]]
    * (modularity scores a PARTITION; assortativity scores the degree
    * mixing). Edges = distinct part pairs inside one ORDER basket —
    * naturally sparse (TPC-H baskets are ≤7 lines, so the pair
    * shuffle is ≤C(7,2) per order; a shared-CUSTOMER graph saturates
    * to complete at sf0.01 and its degree variance collapses to the
    * degenerate 0/0). Pearson r of (deg(u), deg(v)) over the DIRECTED
    * edge list (each undirected edge counted both ways — the standard
    * symmetrization); degrees are exact ints, the five moment sums
    * exact int128, two mirrored sqrts + one division at emission. */
  private val assortativity: Q = (s, d) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // self-join pair generation (see the q_item_cf A/B note: the
    // array-explode form measured better solo but worse in-sweep —
    // interpreted-HOF allocation under heap pressure; the codegen
    // join form is the keeper for timed queries). Round 17: the
    // per-order distinct rides ONE collect_set groupBy instead of a
    // distinct() + self-join re-exchange pair — the exploded basket
    // relation is hash(ok)-partitioned, so the pair self-join runs
    // with no exchange on either side (guide §2.4); row set identical
    // (distinct (ok, part), baskets of ≥2 parts pair, smaller ones
    // contribute nothing either way).
    val adj = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
      .groupBy("ok").agg(collect_set("part").as("parts"))
      .filter(size(col("parts")) >= 2)
      .select(col("ok"), explode(col("parts")).as("part"))
    val b = adj.select(col("ok"), col("part").as("p2"))
    // persisted: THREE consumers below (degree count + both ends of
    // the directed join) would each replay the basket self-join +
    // distinct — the clusteringCoeff persist discipline
    val edges = CacheRegistry.register(
      adj.join(b, "ok").filter(col("part") < col("p2"))
        .select(col("part").as("s1"), col("p2").as("s2")).distinct()
        .persist())
    val deg = edges.select(col("s1").as("u"))
      .union(edges.select(col("s2").as("u")))
      .groupBy("u").agg(count(lit(1)).as("dg"))
    val dir = edges.select(col("s1").as("u"), col("s2").as("w"))
      .union(edges.select(col("s2").as("u"), col("s1").as("w")))
    // deg is PART-dimension-sized (≤ |part|, the dimension the whole
    // suite broadcasts via broadcast(Tables.part…)) — without the
    // hint both attach joins shuffled the 2|E|-row directed list
    // twice (round 17, guide §3.1: broadcast the side that fits; the
    // vote arithmetic is unchanged, only the join strategy moves)
    val jk = dir
      .join(broadcast(deg.withColumnRenamed("u", "uu")
        .withColumnRenamed("dg", "j")), col("u") === col("uu"))
      .join(broadcast(deg.withColumnRenamed("u", "ww")
        .withColumnRenamed("dg", "k")), col("w") === col("ww"))
    val g = jk.agg(count(lit(1)).as("n"),
      sum(col("j").cast(dec)).as("sj"), sum(col("k").cast(dec)).as("sk"),
      sum(col("j").cast(dec) * col("j")).as("sjj"),
      sum(col("k").cast(dec) * col("k")).as("skk"),
      sum(col("j").cast(dec) * col("k")).as("sjk"))
    g.select((col("n") / 2).cast("long").as("n_edges"),
      round((col("n").cast(dec) * col("sjk") - col("sj") * col("sk"))
        .cast("double") /
        (sqrt((col("n").cast(dec) * col("sjj") - col("sj") * col("sj"))
          .cast("double")) *
          sqrt((col("n").cast(dec) * col("skk") - col("sk") * col("sk"))
            .cast("double"))), 6).as("assortativity"))
  }

  /** Average LOCAL clustering coefficient of the 1996 co-purchase
    * graph — [[triangles]] reports GLOBAL transitivity
    * (3T / Σ wedges), which hubs dominate; the local mean weights
    * every node equally, so the two diverge exactly when clustering
    * concentrates in small tight groups. Per-node triangle counts
    * come from exploding each canonical triangle to its three
    * vertices; the per-node ratio tri/C(deg,2) is micro-scaled by
    * INTEGER division (tri·2·10⁹) div (deg·(deg−1)) — exact and
    * order-free under the sum — and the single float op is the
    * emitted mean. Nodes of degree < 2 have no defined coefficient
    * and are excluded (the standard convention). */
  private val clusteringCoeff: Q = (s, d) => {
    // Round 17: the per-order distinct rides one collect_set groupBy
    // (baskets of <2 parts pair nothing — row set identical) so the
    // pair self-join runs exchange-free on hash(ok); the edge distinct
    // rides a collect_set on lo, so the TRIANGLE self-join below runs
    // exchange-free on hash(lo) too (guide §2.4 — two exchanges per
    // self-join gone, dedup semantics unchanged).
    val li = Tables.lineitem(s, d)
      .filter(to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(collect_set("pk").as("pks"))
      .filter(size(col("pks")) >= 2)
      .select(col("ok"), explode(col("pks")).as("pk"))
    val edges = CacheRegistry.register(li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("lo"), col("b.pk").as("hi"))
      .groupBy("lo").agg(collect_set("hi").as("his"))
      .select(col("lo"), explode(col("his")).as("hi"))
      .persist())
    val deg = edges.select(col("lo").as("n"))
      .unionAll(edges.select(col("hi").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val tr = edges.as("e1")
      .join(edges.as("e2"),
        col("e2.lo") === col("e1.lo") && col("e2.hi") > col("e1.hi"))
      .select(col("e1.lo").as("v1"), col("e1.hi").as("v2"),
        col("e2.hi").as("v3"))
      .join(edges.select(col("lo").as("v2"), col("hi").as("v3")),
        Seq("v2", "v3"), "left_semi")
    val tv = tr.select(explode(array(col("v1"), col("v2"), col("v3")))
        .as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    val per = deg.filter(col("deg") >= 2)
      .join(tv, Seq("n"), "left")
      .select(col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("units", expr(
        "(tri * CAST(2000000000 AS BIGINT)) div (deg * (deg - 1))"))
      .withColumn("perfect",
        when(col("tri") * 2 === col("deg") * (col("deg") - 1), 1L)
          .otherwise(0L))
    per.agg(count(lit(1)).as("n_nodes_deg2"),
        sum("tri").as("t3"), sum("units").as("u"),
        sum("perfect").as("n_perfect"))
      .select(col("n_nodes_deg2"),
        expr("t3 div 3").as("n_triangles"),
        round(col("u").cast("double") /
          (col("n_nodes_deg2").cast("double") * lit(1.0e9)), 6)
          .as("avg_local_cc"),
        col("n_perfect"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the DIRECTED
    * bipartite purchase graph customer → supplier — the two-sided
    * centrality [[pageRank]] can't express (a big buyer is not a big
    * seller). Two power-iteration rounds kept UN-NORMALIZED so every
    * score is an exact integer sum — per-round normalization only
    * rescales, leaving the ranking and the final max-normalized
    * emission identical — a₁ = indeg, h₁ = Σ a₁ over out-neighbors,
    * a₂ = Σ h₁, h₂ = Σ a₂; the one division per role normalizes by
    * the max at emission. Top-10 per role, ties by node asc; every
    * shuffle is node- or edge-keyed, both top-10s TakeOrdered. */
  private val hits: Q = (s, d) => {
    val e = custSuppPairs(s, d)
      .select(col("cust").as("c"), col("supp").as("sp"))
    val a1 = e.groupBy("sp").agg(count(lit(1)).as("a1"))
    val h1 = e.join(a1, "sp").groupBy("c").agg(sum("a1").as("h1"))
    val a2 = CacheRegistry.register(
      e.join(h1, "c").groupBy("sp").agg(sum("h1").as("a2")).persist())
    val h2 = CacheRegistry.register(
      e.join(a2, "sp").groupBy("c").agg(sum("a2").as("h2")).persist())
    val topA = a2.crossJoin(broadcast(a2.agg(max("a2").as("ma"))))
      .select(lit("authority").as("role"),
        col("sp").cast("long").as("node"), col("a2").as("score"),
        round(col("a2").cast("double") / col("ma").cast("double"), 6)
          .as("score_norm"))
      .orderBy(desc("score"), col("node")).limit(10)
    val topH = h2.crossJoin(broadcast(h2.agg(max("h2").as("mh"))))
      .select(lit("hub").as("role"),
        col("c").cast("long").as("node"), col("h2").as("score"),
        round(col("h2").cast("double") / col("mh").cast("double"), 6)
          .as("score_norm"))
      .orderBy(desc("score"), col("node")).limit(10)
    topA.unionByName(topH).orderBy("role", "node")
  }

  val queries: Map[String, Q] = Map(
    "q_clustering_coeff" -> clusteringCoeff,
    "q_hits" -> hits,
    "q_assortativity" -> assortativity,
    "q_modularity" -> modularity,
    "q_kcore" -> kcore,
    "q_link_predict" -> linkPredict,
    "q_pagerank" -> pageRank,
    "q_pagerank_personalized" -> pageRankPersonalized,
    "q_graph_degree" -> graphDegree,
    "q_triangles" -> triangles,
    "q_bfs_khop" -> bfsKhop,
    "q_sssp" -> sssp,
    "q_label_prop" -> labelProp,
  )

  override val buildJobs: Map[String, String] = Map(
    "q_kcore" -> "each peel round counts its surviving nodes on the driver")

  val oracles: Map[String, String] = Map(
    // per-node triangle counts by exploding each canonical triangle
    // to its three vertices; the tri/C(deg,2) ratio micro-scaled by
    // integer division so the mean's sum is exact
    "q_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem
                     WHERE year(CAST(l_shipdate AS DATE)) = 1996),
         e AS (SELECT DISTINCT a.pk AS lo, b.pk AS hi
               FROM li a JOIN li b
                 ON a.ok = b.ok AND a.pk < b.pk),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
                   SELECT lo AS n FROM e UNION ALL SELECT hi FROM e)
                 GROUP BY n),
         tr AS (SELECT e1.lo AS v1, e1.hi AS v2, e2.hi AS v3
                FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
                          JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
         tv AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM (
                  SELECT unnest([v1, v2, v3]) AS n FROM tr)
                GROUP BY n),
         per AS (SELECT deg, coalesce(tri, 0) AS tri,
                   (coalesce(tri, 0) * CAST(2000000000 AS BIGINT))
                     // (deg * (deg - 1)) AS units,
                   CASE WHEN coalesce(tri, 0) * 2 = deg * (deg - 1)
                        THEN 1 ELSE 0 END AS perfect
                 FROM deg LEFT JOIN tv USING (n) WHERE deg >= 2),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes_deg2,
                 CAST(sum(tri) AS BIGINT) AS t3,
                 CAST(sum(units) AS BIGINT) AS u,
                 CAST(sum(perfect) AS BIGINT) AS n_perfect
               FROM per)
         SELECT n_nodes_deg2, t3 // 3 AS n_triangles,
                round(CAST(u AS DOUBLE)
                  / (CAST(n_nodes_deg2 AS DOUBLE) * 1.0e9), 6)
                  AS avg_local_cc,
                n_perfect
         FROM a""",
    // two un-normalized power-iteration rounds — exact integer sums;
    // one mirrored division per role at emission
    "q_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
                    FROM orders JOIN lineitem
                      ON l_orderkey = o_orderkey),
         a1 AS (SELECT sp, CAST(count(*) AS BIGINT) AS a1
                FROM e GROUP BY sp),
         h1 AS (SELECT c, CAST(sum(a1) AS BIGINT) AS h1
                FROM e JOIN a1 USING (sp) GROUP BY c),
         a2 AS (SELECT sp, CAST(sum(h1) AS BIGINT) AS a2
                FROM e JOIN h1 USING (c) GROUP BY sp),
         h2 AS (SELECT c, CAST(sum(a2) AS BIGINT) AS h2
                FROM e JOIN a2 USING (sp) GROUP BY c),
         ta AS (SELECT 'authority' AS role, CAST(sp AS BIGINT) AS node,
                  a2 AS score,
                  round(CAST(a2 AS DOUBLE)
                    / CAST((SELECT max(a2) FROM a2) AS DOUBLE), 6)
                    AS score_norm
                FROM a2 ORDER BY score DESC, node LIMIT 10),
         th AS (SELECT 'hub' AS role, CAST(c AS BIGINT) AS node,
                  h2 AS score,
                  round(CAST(h2 AS DOUBLE)
                    / CAST((SELECT max(h2) FROM h2) AS DOUBLE), 6)
                    AS score_norm
                FROM h2 ORDER BY score DESC, node LIMIT 10)
         SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
         ORDER BY role, node""",
    // degrees exact ints over the symmetrized edge list; five int128
    // moment sums, two mirrored sqrts + one division
    "q_assortativity" ->
      """WITH adj AS (SELECT DISTINCT l_orderkey AS ok,
                             l_partkey AS part
                      FROM lineitem),
         e AS (SELECT DISTINCT a.part AS s1, b.part AS s2
               FROM adj a JOIN adj b ON a.ok = b.ok
                 AND a.part < b.part),
         deg AS (SELECT u, count(*) AS dg
                 FROM (SELECT s1 AS u FROM e
                       UNION ALL SELECT s2 AS u FROM e)
                 GROUP BY u),
         dir AS (SELECT s1 AS u, s2 AS w FROM e
                 UNION ALL SELECT s2 AS u, s1 AS w FROM e),
         jk AS (SELECT x.dg AS j, y.dg AS k
                FROM dir JOIN deg x ON dir.u = x.u
                         JOIN deg y ON dir.w = y.u),
         g AS (SELECT count(*) AS n,
                      sum(CAST(j AS HUGEINT)) AS sj,
                      sum(CAST(k AS HUGEINT)) AS sk,
                      sum(CAST(j AS HUGEINT) * j) AS sjj,
                      sum(CAST(k AS HUGEINT) * k) AS skk,
                      sum(CAST(j AS HUGEINT) * k) AS sjk
               FROM jk)
         SELECT CAST(n / 2 AS BIGINT) AS n_edges,
                round(CAST(CAST(n AS HUGEINT) * sjk - sj * sk
                    AS DOUBLE)
                  / (sqrt(CAST(CAST(n AS HUGEINT) * sjj - sj * sj
                      AS DOUBLE))
                    * sqrt(CAST(CAST(n AS HUGEINT) * skk - sk * sk
                      AS DOUBLE))), 6) AS assortativity
         FROM g""",
    // exact long edge weights / degree sums; each community term is
    // one mirrored double expression micro-rounded to 1e-9 before
    // the bounded community-grid sum
    "q_modularity" ->
      """WITH adj AS (SELECT DISTINCT o_custkey AS cust,
                             l_suppkey AS supp
                      FROM orders JOIN lineitem
                        ON o_orderkey = l_orderkey),
         caps AS (SELECT cust FROM adj GROUP BY cust
                  HAVING count(*) BETWEEN 2 AND 100),
         cp AS (SELECT adj.cust, supp FROM adj JOIN caps
                  ON adj.cust = caps.cust),
         e AS (SELECT a.supp AS s1, b.supp AS s2, count(*) AS w
               FROM cp a JOIN cp b ON a.cust = b.cust
                 AND a.supp < b.supp
               GROUP BY 1, 2),
         ec AS (SELECT w, x.s_nationkey AS c1, y.s_nationkey AS c2
                FROM e JOIN supplier x ON s1 = x.s_suppkey
                       JOIN supplier y ON s2 = y.s_suppkey),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw, count(*) AS ne
                 FROM ec),
         win AS (SELECT c1 AS c, CAST(sum(w) AS BIGINT) AS w_in
                 FROM ec WHERE c1 = c2 GROUP BY 1),
         degc AS (SELECT c, CAST(sum(w) AS BIGINT) AS deg
                  FROM (SELECT c1 AS c, w FROM ec
                        UNION ALL SELECT c2 AS c, w FROM ec)
                  GROUP BY 1),
         terms AS (SELECT ne, tw,
                          CAST(round(1000000000.0
                            * (CAST(coalesce(w_in, 0) AS DOUBLE) / tw
                              - (CAST(deg AS DOUBLE) / (2 * tw))
                                * (CAST(deg AS DOUBLE) / (2 * tw))))
                            AS BIGINT) AS t
                   FROM degc LEFT JOIN win USING (c) CROSS JOIN tot)
         SELECT count(*) AS n_communities, max(ne) AS n_edges,
                max(tw) AS total_w,
                round(CAST(sum(t) AS DOUBLE) / 1000000000.0, 6)
                  AS modularity
         FROM terms""",
    // each 1/ln(deg) weight micro-rounded before the exact pair sum;
    // top-20 on (exact long score desc, pair asc) — order can't flip
    "q_link_predict" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS cust,
                               l_suppkey AS supp
                        FROM orders JOIN lineitem
                          ON o_orderkey = l_orderkey),
         w AS (SELECT cust,
                      CAST(round(1000000.0 / ln(count(*))) AS BIGINT) AS w
               FROM pairs GROUP BY cust
               HAVING count(*) >= 2 AND count(*) <= 100),
         adj AS (SELECT p.cust, p.supp, w.w
                 FROM pairs p JOIN w ON p.cust = w.cust),
         pp AS (SELECT a.supp AS s1, b.s2, a.w
                FROM adj a JOIN (SELECT cust, supp AS s2 FROM adj) b
                  ON a.cust = b.cust AND a.supp < b.s2),
         g AS (SELECT s1, s2, count(*) AS n_common,
                      CAST(sum(w) AS BIGINT) AS aam
               FROM pp GROUP BY 1, 2)
         SELECT s1, s2, n_common, round(aam / 1000000.0, 6) AS aa_score
         FROM g ORDER BY aam DESC, s1, s2 LIMIT 20""",
    // 4 peel rounds unrolled into chained CTEs; converged compares the
    // round-3 and round-4 node sets (the fixpoint is unique, so the
    // oracle's round count only needs to be >= the data's depth)
    "q_kcore" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
                        FROM orders JOIN lineitem
                          ON o_orderkey = l_orderkey),
         e0 AS (SELECT c AS src, -sk - 1 AS dst FROM pairs
                UNION ALL SELECT -sk - 1, c FROM pairs),
         k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 20),
         e1 AS (SELECT e.src, e.dst FROM e0 e
                JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
         k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 20),
         e2 AS (SELECT e.src, e.dst FROM e1 e
                JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
         k3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 20),
         e3 AS (SELECT e.src, e.dst FROM e2 e
                JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
         SELECT 20 AS k,
                (SELECT count(DISTINCT src) FROM e3) AS n_core,
                (SELECT count(*) FROM e3) // 2 AS n_core_edges,
                (SELECT count(DISTINCT src) FROM e2)
                  = (SELECT count(DISTINCT src) FROM e3) AS converged""",
    // same 3-round unroll as q_pagerank, teleport restricted to seeds;
    // the outer per-node sum folds <= 2 rows (contribution + teleport)
    "q_pagerank_personalized" -> {
      def rr(i: Int, prev: String): String =
        s"""r$i AS (SELECT node, sum(r) AS rank FROM (
                 SELECT e.dst AS node,
                        CAST(0.85 AS DOUBLE) * sum(r.rank / d.outdeg) AS r
                 FROM edges e
                 JOIN $prev r ON r.node = e.src
                 JOIN deg d ON d.src = e.src
                 GROUP BY e.dst
                 UNION ALL
                 SELECT node, CAST(0.15 AS DOUBLE) / (SELECT cnt FROM ns)
                 FROM seeds)
               GROUP BY node)"""
      s"""WITH e0 AS (SELECT DISTINCT o_custkey AS src, -l_suppkey - 1 AS dst
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM e0
                   UNION ALL
                   SELECT dst AS src, src AS dst FROM e0),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         n AS (SELECT count(DISTINCT src) AS cnt FROM edges),
         seeds AS (SELECT DISTINCT src AS node FROM edges
                   WHERE src >= 0 AND src % 100 = 1),
         ns AS (SELECT count(*) AS cnt FROM seeds),
         r0 AS (SELECT node,
                       CAST(1.0 AS DOUBLE) / (SELECT cnt FROM ns) AS rank
                FROM seeds),
         ${rr(1, "r0")},
         ${rr(2, "r1")},
         ${rr(3, "r2")}
         SELECT node, round(rank * (SELECT cnt FROM n), 6) AS ppr
         FROM r3 ORDER BY node"""
    },
    // The 3 iterations unroll into chained CTEs — plain SQL, exact.
    "q_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS src, -l_suppkey - 1 AS dst
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM e0
                   UNION ALL
                   SELECT dst AS src, src AS dst FROM e0),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         n AS (SELECT count(DISTINCT src) AS cnt FROM edges),
         r0 AS (SELECT DISTINCT src AS node,
                       CAST(1.0 AS DOUBLE) / (SELECT cnt FROM n) AS rank
                FROM edges),
         r1 AS (SELECT e.dst AS node,
                       CAST(0.15 AS DOUBLE) / (SELECT cnt FROM n)
                         + CAST(0.85 AS DOUBLE) * sum(r.rank / d.outdeg) AS rank
                FROM edges e
                JOIN r0 r ON r.node = e.src
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst),
         r2 AS (SELECT e.dst AS node,
                       CAST(0.15 AS DOUBLE) / (SELECT cnt FROM n)
                         + CAST(0.85 AS DOUBLE) * sum(r.rank / d.outdeg) AS rank
                FROM edges e
                JOIN r1 r ON r.node = e.src
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst),
         r3 AS (SELECT e.dst AS node,
                       CAST(0.15 AS DOUBLE) / (SELECT cnt FROM n)
                         + CAST(0.85 AS DOUBLE) * sum(r.rank / d.outdeg) AS rank
                FROM edges e
                JOIN r2 r ON r.node = e.src
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst)
         SELECT node, round(rank * (SELECT cnt FROM n), 6) AS pr
         FROM r3 ORDER BY node""",
    "q_graph_degree" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS src, -l_suppkey - 1 AS dst
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM e0
                   UNION ALL
                   SELECT dst AS src, src AS dst FROM e0),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
         SELECT CASE WHEN src >= 0 THEN 'customer' ELSE 'supplier' END
                  AS family,
                count(*) AS n_nodes,
                min(deg) AS min_deg,
                max(deg) AS max_deg,
                round(avg(CAST(deg AS DOUBLE)), 6) AS mean_deg,
                max_by(src, deg * 100000000 + src) AS top_hub
         FROM deg GROUP BY 1 ORDER BY family""",
    // naive id-ordered 3-way self-join — the orientation-invariant
    // count the engine's degree-ordered plan must reproduce
    "q_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem
                     WHERE year(CAST(l_shipdate AS DATE)) = 1996),
         e AS (SELECT DISTINCT a.pk AS lo, b.pk AS hi
               FROM li a JOIN li b
                 ON a.ok = b.ok AND a.pk < b.pk),
         deg AS (SELECT n, count(*) AS deg FROM (
                   SELECT lo AS n FROM e UNION ALL SELECT hi FROM e)
                 GROUP BY n),
         tri AS (SELECT count(*) AS n_triangles
                 FROM e e1 JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
                           JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)
         SELECT (SELECT count(*) FROM deg) AS n_nodes,
                (SELECT count(*) FROM e) AS n_edges,
                (SELECT n_triangles FROM tri) AS n_triangles,
                round(3.0 * (SELECT n_triangles FROM tri)
                  / (SELECT sum(deg * (deg - 1) / 2) FROM deg), 6)
                  AS transitivity""",
    // recursive CTE with UNION (tuple-dedup) semantics; the final
    // min(hop) collapses re-reached nodes to their BFS distance
    "q_bfs_khop" ->
      """WITH RECURSIVE
         e0 AS (SELECT DISTINCT o_custkey AS src, -l_suppkey - 1 AS dst
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM e0
                   UNION ALL
                   SELECT dst AS src, src AS dst FROM e0),
         bfs AS (
           SELECT DISTINCT src AS node, 0 AS hop FROM edges
           WHERE src >= 0 AND src % 100 = 1
           UNION
           SELECT e.dst, b.hop + 1 FROM bfs b
           JOIN edges e ON e.src = b.node
           WHERE b.hop < 3)
         SELECT node, min(hop) AS hop FROM bfs
         GROUP BY node ORDER BY node""",
    // min over all <=3-edge walks == 3 Bellman-Ford relaxations from
    // the seed set (weights positive, so no negative-cycle concerns)
    "q_sssp" ->
      """WITH RECURSIVE
         e0 AS (SELECT o_custkey AS src, -l_suppkey - 1 AS dst,
                       CAST(min(l_quantity) AS BIGINT) AS w
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                GROUP BY 1, 2),
         edges AS (SELECT src, dst, w FROM e0
                   UNION ALL
                   SELECT dst AS src, src AS dst, w FROM e0),
         walk AS (
           SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist,
                  0 AS hop
           FROM edges WHERE src >= 0 AND src % 100 = 1
           UNION
           SELECT e.dst, b.dist + e.w, b.hop + 1
           FROM walk b JOIN edges e ON e.src = b.node
           WHERE b.hop < 3)
         SELECT node, min(dist) AS dist FROM walk
         GROUP BY node ORDER BY node""",
    // three synchronous mode-vote rounds, unrolled; QUALIFY row_number
    // is the (count desc, label asc) argmax the engine's window runs
    "q_label_prop" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS src, -l_suppkey - 1 AS dst
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM e0
                   UNION ALL
                   SELECT dst AS src, src AS dst FROM e0),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
         l1 AS (SELECT e.src AS node, l.lbl, count(*) AS cnt
                FROM edges e JOIN l0 l ON l.node = e.dst
                GROUP BY 1, 2
                QUALIFY row_number() OVER (PARTITION BY e.src
                  ORDER BY count(*) DESC, l.lbl) = 1),
         l2 AS (SELECT e.src AS node, l.lbl, count(*) AS cnt
                FROM edges e JOIN l1 l ON l.node = e.dst
                GROUP BY 1, 2
                QUALIFY row_number() OVER (PARTITION BY e.src
                  ORDER BY count(*) DESC, l.lbl) = 1),
         l3 AS (SELECT e.src AS node, l.lbl, count(*) AS cnt
                FROM edges e JOIN l2 l ON l.node = e.dst
                GROUP BY 1, 2
                QUALIFY row_number() OVER (PARTITION BY e.src
                  ORDER BY count(*) DESC, l.lbl) = 1)
         SELECT node, lbl FROM l3 ORDER BY node""",
  )
}
