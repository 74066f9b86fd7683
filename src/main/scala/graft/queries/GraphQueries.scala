package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.PageRank

/** Graph workloads (SURVEY.md §2.11 [EXT]) — the iterative and multi-way
  * self-join patterns of the MapReduce-graph-algorithms literature, over
  * graphs derived from the TPC-H-ish tables:
  *
  *  - q74 PageRank on the customer↔supplier trade graph: nodes are
  *    customers (id·2) and suppliers (id·2+1); an undirected edge links
  *    a customer to every supplier that filled one of its order lines
  *    (both directions materialized, so no node dangles). Three exact
  *    rounds from the uniform start, damping 0.85 — unrolled identically
  *    in the DuckDB oracle, so the hash compare pins every rank to 9
  *    decimals.
  *  - q77 triangle counting on the word co-occurrence graph: an edge
  *    links two words co-occurring in ≥ 62% of documents (the relative
  *    threshold keeps the graph shape stable across scale factors).
  *    Pair generation is NARROW — per-document sorted distinct tokens
  *    expand to ordered pairs with array expressions (no self-join of
  *    the exploded token table); the vocabulary-sized edge set then
  *    triangle-joins e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with a < b < c, the
  *    standard enumeration that counts each triangle exactly once
  *    [Cohen, "Graph Twiddling in a MapReduce World", CiSE'09].
  *
  * Both oracle-checked (hash-compared against DuckDB).
  */
object GraphQueries {

  /** PageRank rounds — fixed so both engines compute the same unrolled
    * float arithmetic.
    */
  private val PrIters = 3

  /** Edge threshold: co-occurrence in ≥ this fraction of documents. */
  private val CoocFrac = 0.62

  /** Bellman-Ford relaxation: `rounds` min-plus steps of
    * dist' = min(dist, min over edges (u,v,w) of dist(u) + w) starting
    * from `seeds(node, dist)` over `edges(u, v, w)`. Each round is one
    * frontier-keyed equi-join plus a map-side-combinable grouped min;
    * state stays one row per reached node. Exposed so the spec drives a
    * crafted weighted graph with hand-computed shortest paths.
    */
  def bellmanFord(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(seeds) { (dist, _) =>
      val relaxed = edges.join(dist, col("u") === col("node"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      dist.union(relaxed).groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
    }

  /** Word co-occurrence edge set (w1 < w2): per-document sorted distinct
    * tokens expand to ordered pairs with ARRAY expressions (narrow — no
    * exploded-token self-join), then pairs co-occurring in ≥ CoocFrac of
    * documents survive. Shared by q77 (triangles) and q191 (clustering
    * coefficient); `nd` arrives as a driver scalar (IVF-centroid
    * pattern) because a 1-row cross-join would plan a BNLJ.
    */
  private def coocEdges(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
    val nd = docs.count().toDouble
    val pairs = docs
      .withColumn("ws", array_sort(array_distinct(split(col("text"), " "))))
      .select(explode(expr(
        "flatten(transform(ws, (x, i) ->" +
          " transform(slice(ws, i + 2, size(ws))," +
          " y -> struct(x AS w1, y AS w2))))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= lit(CoocFrac * nd))
      .select(col("w1"), col("w2"))
  }

  /** Triangle enumeration e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with a < b < c
    * over an ordered edge set — each triangle exactly once [CiSE'09].
    */
  private def triangleCorners(ef: DataFrame): DataFrame =
    ef.as("e1")
      .join(ef.as("e2"), col("e1.w2") === col("e2.w1"))
      .join(ef.as("e3"), col("e3.w1") === col("e1.w1")
        && col("e3.w2") === col("e2.w2"))
      .select(col("e1.w1").as("a"), col("e1.w2").as("b"),
        col("e2.w2").as("c"))

  /** One k-core peeling round: degrees within the subgraph induced by
    * `nodes`, keeping nodes with degree ≥ k. Each round is two
    * frontier-keyed semi-joins + one map-side-combinable grouped count —
    * work proportional to edges incident to surviving nodes.
    */
  private[graft] def peel(edges: DataFrame, nodes: DataFrame, k: Int)
    : DataFrame =
    edges.join(nodes.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(nodes.select(col("node").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)

  /** k-core to FIXPOINT — iterate [[peel]] until the surviving node set
    * stops shrinking (a count compare per round; set equality follows
    * because peeling is monotone). q192's 3-round unroll is the bounded
    * oracle gate; this is the production loop, with the Components/
    * PageRank snapshot discipline: ≤ 2 node snapshots (plus the edge
    * set) persisted at any time, everything unpersisted on exit.
    * Returns (node, deg) of the k-core with in-core degrees.
    */
  def kCoreFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 50)
    : DataFrame = {
    val e = edges.persist()
    // round 1 = plain degree filter (induced subgraph == whole graph)
    var cur = e.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg")).filter(col("deg") >= k)
      .localCheckpoint(true)
    var n = cur.count()
    var rounds = 1
    var done = false
    while (!done && rounds < maxRounds) {
      val nxt = peel(e, cur, k).localCheckpoint(true)
      val m = nxt.count()
      done = m == n
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(cur)
      cur = nxt
      n = m
      rounds += 1
    }
    e.unpersist()
    cur // eagerly checkpointed — blocks bounded by the core's size
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q231 incremental PageRank — the snapshot-maintenance form: ranks
    // computed on the base graph WARM-START the iteration after an edge
    // delta arrives (PageRank.pageRankFrom), so a corpus-scale graph
    // pays 1-2 re-convergence rounds per snapshot instead of a cold
    // power iteration. Base = trade edges minus every 7th supplier's
    // links; delta restores them. Rows-only (iterative float ranks, as
    // ml_logreg); GraphSpec pins the continuation identity and that a
    // warm start lands strictly closer to the converged ranks than the
    // same round budget from cold. The warm continuation carries a
    // CONVERGENCE gate (tol = 1e-7 on ranks that sum to 1): the round
    // budget is a CAP, and a production cadence whose per-snapshot
    // delta barely moves the ranks stops at one round. At the test SFs
    // this delta (every 7th supplier's links) moves ranks well above
    // the gate, so both budgeted rounds honestly run — GraphSpec pins
    // the early-stop behavior itself on a converged start.
    "q231_pagerank_inc" -> ((s, d) => {
      // cold phase iterates the FILTERED edge set (every 7th supplier's
      // links removed). Round 13 (guide §2.3/§2.4): its working set now
      // DERIVES from the session-pinned full graph instead of being
      // rebuilt from raw edges per invocation — kept edges are a filter
      // of the pinned links (an undirected row's supplier endpoint is
      // its odd node), and the filtered degree is pure arithmetic on
      // the pinned one: suppliers keep their full degree or vanish,
      // customers lose exactly their removed-supplier edge count (one
      // NARROW agg over the 1-in-7 removed rows, broadcast back — both
      // counts are exact integers in doubles, so deg is bit-identical
      // to a recount). This replaces the per-invocation deg groupBy
      // over the full filtered edge set + two cache fills + release;
      // outputs EXCEPT-ALL-compared against the rebuilt form at sf0.1
      // (0 diffs both directions at the entry's 9 dp).
      val g = TradeEdgeCache.prGraph(s, d)
      val suppEnd = when(pmod(col("u"), lit(2)) === 1, col("u"))
        .otherwise(col("v"))
      val kept = g.links.filter(pmod(suppEnd, lit(7)) =!= 3)
      val rm = g.links
        .filter(pmod(col("u"), lit(2)) === 0 &&
          pmod(col("v"), lit(7)) === 3)
        .groupBy(col("u"))
        .agg(count(lit(1)).cast("double").as("__rm"))
      // entry-scoped pins (the q182 discipline): the 3 fused cold
      // rounds read the filtered links thrice; released before return,
      // after the cold ranks' own checkpoint materializes. nodeHasIn
      // is all-ones by construction — the undirected edge set is
      // symmetric, so every node with an out-edge also has an in-edge.
      val fl = kept.join(broadcast(rm), Seq("u"), "left")
        .select(col("u"), col("v"),
          (col("deg") - coalesce(col("__rm"), lit(0.0))).as("deg"))
        .localCheckpoint(true)
      val nodeHasIn = fl.select(col("u")).distinct()
        .withColumn("has_in", lit(1)).localCheckpoint(true)
      val gF = PageRank.LinkGraph(fl, nodeHasIn, nodeHasIn.count())
      val r0 = PageRank.pageRankOn(gF, None, PrIters)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(fl)
      org.apache.spark.sql.graft.ColumnBridge
        .unpersistCheckpoint(nodeHasIn)
      // the warm continuation runs on the FULL trade graph, the same
      // relation q74/q153 iterate, so it rides the session-pinned
      // working set (round 12, guide §2.4)
      PageRank.pageRankOn(g, Some(r0), 2, tol = 1e-7)
        .select(col("node"), round(col("rank"), 9).as("rank"))
    }),

    "q74_pagerank" -> ((s, d) => {
      PageRank.pageRankOn(TradeEdgeCache.prGraph(s, d), None, PrIters)
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === 0, "customer")
            .otherwise("supplier").as("kind"),
          round(col("rank"), 9).as("rank"))
    }),

    // Seeded BFS to depth 2 on the customer↔supplier trade graph: the
    // frontier-expansion primitive behind "blast radius" / reachability
    // queries. Seeds are every 100th customer; dist-1 = suppliers that
    // filled a seed's order line, dist-2 = other customers of those
    // suppliers. Each hop is ONE equi-join keyed on the frontier — work
    // is proportional to edges incident to the frontier, never the whole
    // graph, and the frontier stays a distinct-node set (no path
    // explosion). Customers and suppliers live in disjoint id spaces by
    // construction (bipartite), so only the seed set needs re-exclusion
    // at dist 2.
    "q86_bfs" -> ((s, d) => {
      val ce = TradeEdgeCache.pairs(s, d)
      val seeds = Tables(s, d, "customer")
        .filter(pmod(col("c_custkey"), lit(100)) === 0)
        .select(col("c_custkey").as("id"))
      val d1 = ce.join(seeds, col("cust") === col("id"), "left_semi")
        .select(col("supp").as("id")).distinct()
      val d2 = ce.join(d1, col("supp") === col("id"), "left_semi")
        .select(col("cust").as("id")).distinct()
        .filter(pmod(col("id"), lit(100)) =!= 0)
      seeds.select(lit("customer").as("kind"), col("id"), lit(0).as("dist"))
        .union(d1.select(lit("supplier"), col("id"), lit(1)))
        .union(d2.select(lit("customer"), col("id"), lit(2)))
    }),

    // Single-source-set shortest paths (weighted): 3 Bellman-Ford
    // relaxation rounds over the customer↔supplier trade graph, edge
    // weight = cheapest line item ever traded on the link. Each round is
    // ONE equi-join keyed on the frontier + a grouped min — the
    // map-side-combinable min-plus step of the MapReduce-graph
    // literature; work per round is proportional to edges incident to
    // reached nodes, state is one (node, dist) row per reached node.
    // Both engines unroll the identical 3 rounds (double additions along
    // identical paths, exact min), so the oracle hash-compares.
    "q141_shortest_path" -> ((s, d) => {
      val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
      val ce = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
        .agg(min(col("l_extendedprice")).as("w"))
      // Profiled (round 12, closing the round-11 verdict's watch item):
      // the 2-2.6 s steady-state at sf0.1 (5x a 0.53 s DuckDB
      // denominator) is per-round SEQUENTIAL STAGE CONSTANTS, not a
      // redundant pass. The static explain shows the edge aggregate's
      // subtree repeated per round with no ReusedExchange — but that is
      // the pre-AQE plan (isFinalPlan=false); at runtime AQE's stage
      // reuse dedupes the identical exchanges, so A/B-pinning the edge
      // relation (directed-explode + eager localCheckpoint, released
      // after the result materializes — the q154 discipline) measured
      // 1.95-2.4 s vs 2.07-2.6 s unpinned across 2x2 probe runs:
      // indistinguishable, and the checkpoint adds an eager double
      // materialization. Kept inline; the cost amortizes at scale where
      // per-stage work dominates the ~7-stage round-trip floor.
      val edges = ce.union(ce.select(col("v"), col("u"), col("w")))
      val seeds = Tables(s, d, "customer")
        .filter(pmod(col("c_custkey"), lit(100)) === 0)
        .select((col("c_custkey") * 2).as("node"), lit(0.0).as("dist"))
      bellmanFord(edges, seeds.toDF(), rounds = 3)
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === 0, "customer")
            .otherwise("supplier").as("kind"),
          round(col("dist"), 6).as("dist"))
    }),

    // Personalized PageRank from the seed customers — random walk with
    // restart, the "similar entities to THIS set" recommender query.
    // Teleport mass returns only to seeds, so ranks decay with graph
    // distance from them; 3 exact rounds unrolled identically in the
    // DuckDB oracle (9-decimal pin, the q74 discipline). The rank
    // vector stays sparse (reached nodes only) — at 100x the per-round
    // join is frontier-proportional, not graph-proportional.
    "q153_personalized_pr" -> ((s, d) => {
      val seeds = Tables(s, d, "customer")
        .filter(pmod(col("c_custkey"), lit(100)) === 0)
        .select((col("c_custkey") * 2).as("node"))
      PageRank.personalizedPageRankOn(
          TradeEdgeCache.prGraph(s, d).links, seeds, iters = PrIters)
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === 0, "customer")
            .otherwise("supplier").as("kind"),
          round(col("rank"), 9).as("rank"))
    }),

    // Majority-vote label propagation (one synchronous round over the
    // bipartite trade graph — suppliers take the modal nation of their
    // customers, ties to the smallest key). The per-node mode with a
    // deterministic tie-break is the primitive of semi-supervised label
    // propagation [Raghavan et al., Phys. Rev. E 2007]; here the graph
    // is bipartite so one round converges the unlabeled side. Vote
    // counts are one grouped aggregation bounded by (supplier × nation)
    // cardinality; the argmax window runs over ≤ |nations| rows per
    // supplier — bounded metadata, never event volume.
    "q146_majority_label" -> ((s, d) => {
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ce = TradeEdgeCache.pairs(s, d)
      val votes = ce.join(c, col("cust") === col("c_custkey"))
        .groupBy(col("supp"), col("c_nationkey").as("label"))
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy(col("supp"))
        .orderBy(col("n_votes").desc, col("label"))
      votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("supp").as("s_suppkey"), col("label"), col("n_votes"))
    }),

    // q161 HITS hubs & authorities (Kleinberg JACM'99) on the directed
    // customer→supplier order graph: hubs are customers, authorities
    // suppliers. Two mutual-reinforcement rounds run in EXACT integer
    // arithmetic — auth₁ = in-degree, hub₁ = Σ auth₁ over a customer's
    // suppliers, auth₂ = Σ hub₁ — since power iteration is scale-
    // invariant, normalization happens ONCE at the end (a 1-row sum
    // broadcast), so every shuffle reduces Longs (order-independent)
    // and the oracle pins 9 decimals. Each round is one co-partitioned
    // equi-join + grouped sum over the distinct-pair edge set — the q74
    // shape without the dangling-node correction (bipartite edges
    // guarantee both sides).
    "q161_hits" -> ((s, d) => {
      val e = TradeEdgeCache.pairs(s, d)
        .select(col("cust").as("c"), col("supp").as("p"))
      val auth1 = e.groupBy(col("p")).agg(count(lit(1)).as("a1"))
      val hub1 = e.join(auth1, "p")
        .groupBy(col("c")).agg(sum(col("a1")).as("h1"))
      val auth2 = e.join(hub1, "c")
        .groupBy(col("p")).agg(sum(col("h1")).as("a2"))
      val hub2 = e.join(auth2, "p")
        .groupBy(col("c")).agg(sum(col("a2")).as("h2"))
      val an = auth2.agg(sum(col("a2")).as("asum"))
      val hn = hub2.agg(sum(col("h2")).as("hsum"))
      auth2.crossJoin(broadcast(an))
        .select(lit("authority").as("role"), col("p").as("node"),
          round(col("a2").cast("double") / col("asum"), 9).as("score"))
        .unionByName(hub2.crossJoin(broadcast(hn))
          .select(lit("hub").as("role"), col("c").as("node"),
            round(col("h2").cast("double") / col("hsum"), 9).as("score")))
    }),

    "q77_triangles" -> ((s, d) => {
      // vocabulary-bounded edge set: AQE broadcasts the join sides
      val tri = triangleCorners(coocEdges(s, d))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_triangles"))
    }),

    // q191 local clustering coefficient — per node, how close its
    // neighborhood is to a clique: C(v) = 2·t(v) / (k(v)·(k(v)−1)) over
    // the q77 word co-occurrence graph. Degree comes from exploding both
    // endpoints of the (w1 < w2) edge set; t(v) reuses the CiSE'09
    // triangle enumeration; a left join keeps triangle-free nodes at
    // C = 0 (only deg ≥ 2 nodes can close a triangle). Every join/agg
    // runs over the vocabulary-bounded edge table — metadata scale, AQE
    // broadcasts the sides. The coefficient is one exact integer ratio
    // rounded once, so the oracle hash-compares.
    "q191_clustering_coeff" -> ((s, d) => {
      val ef = coocEdges(s, d)
      val deg = ef.select(explode(array(col("w1"), col("w2"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("deg"))
      val tri = triangleCorners(ef)
        .select(explode(array(col("a"), col("b"), col("c"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_tri"))
      deg.filter(col("deg") >= 2)
        .join(tri, Seq("w"), "left")
        .select(col("w"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(coalesce(col("n_tri"), lit(0L)) * lit(2.0)
            / (col("deg") * (col("deg") - 1)), 6).as("coeff"))
    }),

    // q192 k-core decomposition (3-core, 3 peeling rounds unrolled) on
    // the customer↔supplier trade graph — the degeneracy-based "dense
    // kernel" extraction of community mining. Each peel recomputes
    // degrees within the induced subgraph (two semi-joins + one grouped
    // count, frontier-proportional — never the whole graph after round
    // 1) and drops nodes below k; both engines unroll the identical 3
    // rounds, so the oracle hash-compares the surviving nodes with
    // their round-3 degrees. At 100×: rounds-to-fixpoint is graph-
    // diameter-ish; the unrolled form is the bounded gate, the loop
    // form is `peel` iterated with the Components/PageRank snapshot
    // discipline.
    "q192_kcore" -> ((s, d) => {
      // deliberately NOT TradeEdgeCache: the unrolled peel plan reads
      // `edges` ~10x, and measured at sf0.1 the ten InMemoryTableScan
      // reads cost MORE than the original join+distinct whose exchange
      // ReuseExchange dedupes across the reads (3.6 s inline vs 8.2 s
      // cached) — the one graph entry where the pin loses
      val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val ce = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
      val edges = ce.union(ce.select(col("v").as("u"), col("u").as("v")))
      // round 1 against the full node set needs no induced-subgraph
      // semi-joins — it IS the plain degree count (2 joins saved;
      // bench: 4.0 s → the peel rounds only)
      val r1 = edges.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg")).filter(col("deg") >= 3)
      val core = (2 to 3).foldLeft(r1) { (n, _) => peel(edges, n, 3) }
      core.select(col("node"),
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("kind"), col("deg"))
    }),

    // q244 modularity of a LABELED partition [Newman & Girvan, Phys.
    // Rev. E 69 (2004)]: how much more intra-community mass the
    // customer↔supplier trade graph has under the NATION partition
    // than a degree-preserving random rewiring would give —
    // Q = Σ_c (e_c/m − (d_c/2m)²), reported per nation so every
    // community's contribution is a hash-checkable row (Σ q_contrib
    // = Q). Everything is integer counting until the final division,
    // and the whole statistic is ONE pass over the distinct edge list:
    // each edge explodes into its two labeled endpoints carrying an
    // intra flag on the first only (so an intra-nation edge counts
    // once), one bounded-key aggregation yields (e_c, d_c) together,
    // and m = Σd_c/2 comes from a window over the 25-ROW aggregate —
    // no driver scalar, no 1-row cross-join BNLJ, no re-evaluated
    // branches. Supplier is the only forced broadcast (1/10th of
    // customer); the customer map stays a shuffle join that AQE may
    // flip at small SFs.
    "q244_modularity" -> ((s, d) => {
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val su = Tables(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val ends = TradeEdgeCache.pairs(s, d)
        .join(c, col("cust") === col("c_custkey"))
        .join(broadcast(su), col("supp") === col("s_suppkey"))
        .select(explode(array(
          struct(col("c_nationkey").as("nationkey"),
            (col("c_nationkey") === col("s_nationkey"))
              .cast("long").as("intra")),
          struct(col("s_nationkey").as("nationkey"),
            lit(0L).as("intra")))).as("e"))
        .select(col("e.nationkey"), col("e.intra"))
      val byNation = ends.groupBy(col("nationkey"))
        .agg(sum(col("intra")).as("e_intra"), count(lit(1)).as("vol"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byNation
        .withColumn("m", (sum(col("vol")).over(all) / 2).cast("double"))
        .select(col("nationkey"), col("e_intra"), col("vol"),
          round(col("e_intra") / col("m") -
            pow(col("vol") / (lit(2.0) * col("m")), 2), 6)
            .as("q_contrib"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q191_clustering_coeff" ->
      """WITH nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        |dw AS (SELECT DISTINCT doc_id,
        |         unnest(list_distinct(string_split(text, ' '))) AS w
        |       FROM documents),
        |e AS (SELECT a.w AS w1, b.w AS w2, count(*) AS co
        |      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        |      GROUP BY a.w, b.w),
        |ef AS (SELECT w1, w2 FROM e, nd WHERE co >= 0.62 * nd.nd),
        |deg AS (SELECT w, count(*) AS deg FROM (
        |        SELECT w1 AS w FROM ef UNION ALL SELECT w2 FROM ef)
        |      GROUP BY w),
        |tri AS (SELECT e1.w1 AS a, e1.w2 AS b, e2.w2 AS c
        |        FROM ef e1 JOIN ef e2 ON e1.w2 = e2.w1
        |        JOIN ef e3 ON e3.w1 = e1.w1 AND e3.w2 = e2.w2),
        |tn AS (SELECT w, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |        SELECT a AS w FROM tri UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri) GROUP BY w)
        |SELECT deg.w, deg.deg, COALESCE(tn.n_tri, 0) AS n_tri,
        |  round(COALESCE(tn.n_tri, 0) * 2.0
        |    / (deg.deg * (deg.deg - 1)), 6) AS coeff
        |FROM deg LEFT JOIN tn ON deg.w = tn.w
        |WHERE deg.deg >= 2""".stripMargin,
    "q192_kcore" ->
      """WITH ce AS (SELECT DISTINCT o.o_custkey * 2 AS u,
        |                   l.l_suppkey * 2 + 1 AS v
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT u, v FROM ce UNION ALL SELECT v, u FROM ce),
        |n0 AS (SELECT DISTINCT u AS node FROM edges),
        |p1 AS (SELECT e.u AS node, count(*) AS deg FROM edges e
        |       JOIN n0 a ON e.u = a.node JOIN n0 b ON e.v = b.node
        |       GROUP BY e.u HAVING count(*) >= 3),
        |p2 AS (SELECT e.u AS node, count(*) AS deg FROM edges e
        |       JOIN p1 a ON e.u = a.node JOIN p1 b ON e.v = b.node
        |       GROUP BY e.u HAVING count(*) >= 3),
        |p3 AS (SELECT e.u AS node, count(*) AS deg FROM edges e
        |       JOIN p2 a ON e.u = a.node JOIN p2 b ON e.v = b.node
        |       GROUP BY e.u HAVING count(*) >= 3)
        |SELECT node,
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  deg
        |FROM p3""".stripMargin,
    "q161_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |a1 AS (SELECT p, COUNT(*) AS a1 FROM e GROUP BY p),
        |h1 AS (SELECT c, SUM(a1) AS h1 FROM e JOIN a1 USING (p)
        |  GROUP BY c),
        |a2 AS (SELECT p, SUM(h1) AS a2 FROM e JOIN h1 USING (c)
        |  GROUP BY p),
        |h2 AS (SELECT c, SUM(a2) AS h2 FROM e JOIN a2 USING (p)
        |  GROUP BY c),
        |an AS (SELECT SUM(a2) AS asum FROM a2),
        |hn AS (SELECT SUM(h2) AS hsum FROM h2)
        |SELECT 'authority' AS role, p AS node,
        |  round(CAST(a2 AS DOUBLE) / asum, 9) AS score FROM a2, an
        |UNION ALL
        |SELECT 'hub', c, round(CAST(h2 AS DOUBLE) / hsum, 9)
        |FROM h2, hn""".stripMargin,
    "q153_personalized_pr" ->
      """WITH ce AS (SELECT DISTINCT o.o_custkey * 2 AS u,
        |                   l.l_suppkey * 2 + 1 AS v
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT u, v FROM ce UNION ALL SELECT v, u FROM ce),
        |deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS deg
        |        FROM edges GROUP BY u),
        |seeds AS (SELECT c_custkey * 2 AS u FROM customer
        |          WHERE c_custkey % 100 = 0),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
        |r0 AS (SELECT u, 1.0 / s.n AS r FROM seeds, s),
        |c1 AS (SELECT e.v AS u, 0.85 * sum(r0.r / deg.deg) AS r
        |       FROM edges e JOIN r0 ON e.u = r0.u
        |       JOIN deg ON e.u = deg.u GROUP BY e.v),
        |r1 AS (SELECT u, sum(r) AS r FROM (
        |         SELECT u, r FROM c1
        |         UNION ALL SELECT seeds.u, 0.15 / s.n FROM seeds, s)
        |       GROUP BY u),
        |c2 AS (SELECT e.v AS u, 0.85 * sum(r1.r / deg.deg) AS r
        |       FROM edges e JOIN r1 ON e.u = r1.u
        |       JOIN deg ON e.u = deg.u GROUP BY e.v),
        |r2 AS (SELECT u, sum(r) AS r FROM (
        |         SELECT u, r FROM c2
        |         UNION ALL SELECT seeds.u, 0.15 / s.n FROM seeds, s)
        |       GROUP BY u),
        |c3 AS (SELECT e.v AS u, 0.85 * sum(r2.r / deg.deg) AS r
        |       FROM edges e JOIN r2 ON e.u = r2.u
        |       JOIN deg ON e.u = deg.u GROUP BY e.v),
        |r3 AS (SELECT u, sum(r) AS r FROM (
        |         SELECT u, r FROM c3
        |         UNION ALL SELECT seeds.u, 0.15 / s.n FROM seeds, s)
        |       GROUP BY u)
        |SELECT u AS node,
        |  CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  round(r, 9) AS rank
        |FROM r3""".stripMargin,
    "q146_majority_label" ->
      """WITH ce AS (SELECT DISTINCT o.o_custkey AS cust,
        |                   l.l_suppkey AS supp
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |votes AS (SELECT ce.supp, c.c_nationkey AS label,
        |            COUNT(*) AS n_votes
        |          FROM ce JOIN customer c ON ce.cust = c.c_custkey
        |          GROUP BY ce.supp, c.c_nationkey),
        |ranked AS (SELECT supp, label, n_votes,
        |  ROW_NUMBER() OVER (PARTITION BY supp
        |    ORDER BY n_votes DESC, label) AS rn FROM votes)
        |SELECT supp AS s_suppkey, label, n_votes
        |FROM ranked WHERE rn = 1""".stripMargin,
    "q141_shortest_path" ->
      """WITH ce AS (SELECT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v,
        |              min(l.l_extendedprice) AS w
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey
        |            GROUP BY 1, 2),
        |edges AS (SELECT u, v, w FROM ce UNION ALL SELECT v, u, w FROM ce),
        |d0 AS (SELECT c_custkey * 2 AS node, 0.0 AS dist FROM customer
        |       WHERE c_custkey % 100 = 0),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM d0
        |         UNION ALL
        |         SELECT e.v, d0.dist + e.w FROM edges e
        |         JOIN d0 ON e.u = d0.node) GROUP BY node),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM d1
        |         UNION ALL
        |         SELECT e.v, d1.dist + e.w FROM edges e
        |         JOIN d1 ON e.u = d1.node) GROUP BY node),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM d2
        |         UNION ALL
        |         SELECT e.v, d2.dist + e.w FROM edges e
        |         JOIN d2 ON e.u = d2.node) GROUP BY node)
        |SELECT node,
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  round(dist, 6) AS dist
        |FROM d3""".stripMargin,
    "q86_bfs" ->
      """WITH ce AS (SELECT DISTINCT o.o_custkey AS cust,
        |                   l.l_suppkey AS supp
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |seeds AS (SELECT c_custkey AS id FROM customer
        |          WHERE c_custkey % 100 = 0),
        |d1 AS (SELECT DISTINCT supp AS id FROM ce
        |       WHERE cust IN (SELECT id FROM seeds)),
        |d2 AS (SELECT DISTINCT cust AS id FROM ce
        |       WHERE supp IN (SELECT id FROM d1) AND cust % 100 <> 0)
        |SELECT 'customer' AS kind, id, CAST(0 AS INTEGER) AS dist FROM seeds
        |UNION ALL
        |SELECT 'supplier', id, CAST(1 AS INTEGER) FROM d1
        |UNION ALL
        |SELECT 'customer', id, CAST(2 AS INTEGER) FROM d2""".stripMargin,
    "q74_pagerank" ->
      """WITH ce AS (SELECT DISTINCT o.o_custkey * 2 AS u,
        |                   l.l_suppkey * 2 + 1 AS v
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT u, v FROM ce UNION ALL SELECT v, u FROM ce),
        |deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS deg
        |        FROM edges GROUP BY u),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
        |r0 AS (SELECT u, 1.0 / n.n AS r FROM deg, n),
        |r1 AS (SELECT e.v AS u,
        |         0.15 / any_value(n.n) + 0.85 * sum(r0.r / deg.deg) AS r
        |       FROM edges e JOIN r0 ON e.u = r0.u
        |       JOIN deg ON e.u = deg.u, n GROUP BY e.v),
        |r2 AS (SELECT e.v AS u,
        |         0.15 / any_value(n.n) + 0.85 * sum(r1.r / deg.deg) AS r
        |       FROM edges e JOIN r1 ON e.u = r1.u
        |       JOIN deg ON e.u = deg.u, n GROUP BY e.v),
        |r3 AS (SELECT e.v AS u,
        |         0.15 / any_value(n.n) + 0.85 * sum(r2.r / deg.deg) AS r
        |       FROM edges e JOIN r2 ON e.u = r2.u
        |       JOIN deg ON e.u = deg.u, n GROUP BY e.v)
        |SELECT u AS node,
        |  CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  round(r, 9) AS rank
        |FROM r3""".stripMargin,
    "q77_triangles" ->
      """WITH nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        |dw AS (SELECT DISTINCT doc_id,
        |         unnest(list_distinct(string_split(text, ' '))) AS w
        |       FROM documents),
        |e AS (SELECT a.w AS w1, b.w AS w2, count(*) AS co
        |      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        |      GROUP BY a.w, b.w),
        |ef AS (SELECT w1, w2 FROM e, nd WHERE co >= 0.62 * nd.nd),
        |tri AS (SELECT e1.w1 AS a, e1.w2 AS b, e2.w2 AS c
        |        FROM ef e1 JOIN ef e2 ON e1.w2 = e2.w1
        |        JOIN ef e3 ON e3.w1 = e1.w1 AND e3.w2 = e2.w2),
        |x AS (SELECT a AS w FROM tri UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT w, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM x GROUP BY w""".stripMargin,
    "q244_modularity" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        |     FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |en AS (SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
        |     FROM e JOIN customer c ON e.ck = c.c_custkey
        |            JOIN supplier s ON e.sk = s.s_suppkey),
        |mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM en),
        |intra AS (SELECT cn AS nationkey, COUNT(*) AS e_intra
        |     FROM en WHERE cn = sn GROUP BY cn),
        |vol AS (SELECT nationkey, COUNT(*) AS vol FROM (
        |     SELECT cn AS nationkey FROM en
        |     UNION ALL SELECT sn FROM en) GROUP BY nationkey)
        |SELECT v.nationkey, COALESCE(i.e_intra, 0) AS e_intra, v.vol,
        |  round(COALESCE(i.e_intra, 0) / mm.m
        |    - pow(v.vol / (2.0 * mm.m), 2), 6) AS q_contrib
        |FROM vol v LEFT JOIN intra i ON v.nationkey = i.nationkey, mm"""
      .stripMargin
  )
}

/** Session-pinned DISTINCT customer↔supplier trade-pair relation — the
  * node/edge base of EIGHT entries (q74/q86/q146/q153/q161/q231/q244
  * plus q143's recursive CTE via a temp view over [[uv]], round 12),
  * each of which paid the lineitem⋈orders join + distinct shuffle to
  * rebuild it (and the iterative ones read it per round).
  * q192_kcore deliberately does NOT consume the cache: its unrolled
  * peel plan reads the edge relation ~10×, and ten InMemoryTableScan
  * reads measured SLOWER than the inline build whose exchange
  * ReuseExchange dedupes (8.2 s cached vs 3.6 s inline at sf0.1 — see
  * the comment at its entry).
  * Pinned MEMORY_AND_DISK like [[TokenCache]]: the relation is the
  * distilled (cust, supp) pair set — smaller than anything it derives
  * from — and the pass count across its consumers is far beyond the
  * measured ~8-pass pin threshold. q141 is NOT a consumer: its edges
  * are weighted (min line price per link), a different aggregation.
  * Lifecycle: [[graft.SessionCache]].
  */
private[graft] object TradeEdgeCache {

  import org.apache.spark.storage.StorageLevel

  private[graft] val pairsCache =
    new graft.SessionCache[Unit, DataFrame](_.unpersist())

  /** Distinct (cust, supp) trade pairs, pinned on first use. */
  def pairs(s: SparkSession, d: String): DataFrame =
    pairsCache(s, d, ()) {
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The (u, v) = (2·cust, 2·supp+1) disjoint-id encoding — a narrow
    * projection of [[pairs]].
    */
  def uv(s: SparkSession, d: String): DataFrame =
    pairs(s, d).select((col("cust") * 2).as("u"),
      (col("supp") * 2 + 1).as("v"))

  /** Its own instance: [[prGraph]]'s build reads [[pairs]]. */
  private[graft] val prGraphs =
    new graft.SessionCache[Unit, graft.operators.PageRank.LinkGraph](
      graft.operators.PageRank.release)

  /** Session-pinned PageRank working set (deg-joined link table,
    * node/has-in table, node count) over the UNDIRECTED [[uv]] graph —
    * shared by q74, q153 and q231's warm phase, which otherwise each
    * rebuilt and re-cached the identical link table per invocation
    * (round 12; guide §2.4 — the working-set analogue of sharing an
    * exchange). q231's COLD phase iterates a FILTERED edge set (every
    * 7th supplier's links removed), a different deg table — it prepares
    * its own graph inside the entry.
    */
  def prGraph(s: SparkSession, d: String)
      : graft.operators.PageRank.LinkGraph =
    prGraphs(s, d, ()) {
      val ce = uv(s, d)
      graft.operators.PageRank.prepare(
        ce.union(ce.select(col("v").as("u"), col("u").as("v"))))
    }
}
