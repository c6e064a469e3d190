package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{GraphOps, PipelineOps}

/** SURVEY §2.B — graph-shaped analytics: the reference's node ⋈
  * relationship queries (04-optimize-tables.sql:205-218 "complex
  * join", README.md device→interface example), on customer/orders/
  * lineitem as node/edge tables (edges carry FK source ids, exactly
  * like relationships_cdc.source_id/target_id).
  *
  * r8 adds the Neo4j GDS algorithm tier (PageRank / WCC / BFS /
  * node similarity, operators/GraphOps.scala) over the supplier⇄
  * customer supply graph: node ids are namespaced into ONE long key
  * space (supplier → −s_suppkey, customer → +o_custkey) so the
  * bipartite graph is a plain edge list — no tagged union, no string
  * keys on the shuffle.
  */
object GraphQueries extends QueryPack {

  /** Supplier→customer supply edges: supplier s shipped a line item
    * in customer c's order. `quantityCap`/`partStratum` thin the
    * relation deterministically (quantity ≤ cap, part-key stratum) —
    * the full graph's 100 hub suppliers weld everything into one
    * giant component, so the WCC/BFS entries run on a sparse slice
    * with real component structure while PageRank/similarity use the
    * full relation. */
  private[graft] def supplyEdges(s: org.apache.spark.sql.SparkSession, dir: String,
                                 quantityCap: Option[Double] = None,
                                 partStratum: Option[Int] = None) = {
    var li = Tables.load(s, dir, "lineitem")
    quantityCap.foreach(q => li = li.filter(col("l_quantity") <= q))
    partStratum.foreach(m => li = li.filter(col("l_partkey") % m === 0))
    li.join(Tables.load(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((-col("l_suppkey")).as("a"), col("o_custkey").as("b"))
      .distinct()
  }

  /** Symmetrize a [[supplyEdges]] slice WITHOUT the dedup exchange
    * GraphOps.undirected would spend on it (r16, guide §2.4): the
    * slice is already distinct and SIGN-SEPARATED (a = −l_suppkey ≤ 0
    * ≤ o_custkey = b), so a base row (x,y) and a flipped row (y,x)
    * can only coincide at x = y = 0 — keys are 0-based in this data,
    * so the (0,0) SELF-LOOP is real and is exactly what the a ≠ b
    * filter drops (sf0.001 caught the unfiltered form: node 0's
    * degree read +2). With the loop filtered the symmetric union is
    * duplicate-free: row-identical to GraphOps.undirected on these
    * inputs (the oracle replays its own dedup'd form and
    * hash-compares at every SF, and SymSupplySpec checks the premise
    * row for row); NOT valid for arbitrary edge lists — operators
    * keep the dedup'ing GraphOps.undirected. */
  private[graft] def symSupply(e: org.apache.spark.sql.DataFrame) = {
    val base = e.select(col("a"), col("b")).filter(col("a") =!= col("b"))
    base.unionAll(base.select(col("b").as("a"), col("a").as("b")))
  }

  val queries: Map[String, Q] = Map(
    // B1: out-degree per node — edge list grouped by source id. One
    // hash-agg shuffle on the edge key; no node-table scan needed.
    "graph_degree" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("node_id"))
        .agg(count(lit(1)).as("out_degree"),
             round(sum(col("o_totalprice")), 4).as("weight"))
        .orderBy("node_id")),

    // B2: node ⋈ edges with property projection — the reference's
    // "device name + interface count" join. The node table scales with
    // the graph, so no broadcast hint: AQE broadcasts while it fits
    // and shuffle-joins on the key beyond that.
    "graph_node_join" -> ((s, dir) => {
      val nodes = Tables.load(s, dir, "customer")
      val edges = Tables.load(s, dir, "orders")
      edges.join(nodes, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey").as("node_id"))
        .agg(max(col("c_name")).as("node_name"),
             count(col("o_orderkey")).as("edge_count"))
        .orderBy("node_id")
    }),

    // B3: two-hop traversal — node → edge → edge (device → interface →
    // port analog). Aggregate the inner hop FIRST (lineitem count per
    // order), then join: the big table is reduced before it meets the
    // second join, so the heavy shuffle is one agg, not a 3-way row
    // explosion.
    "graph_two_hop" -> ((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val hop2 = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n2"))
      orders.join(hop2, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("node_id"))
        .agg(sum(col("n2")).as("two_hop_edges"))
        .orderBy("node_id")
    }),

    // B4: arrayJoin(labels) analog — explode a label array and count
    // (04-optimize-tables.sql:152-160 "nodes by label").
    "graph_label_counts" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .select(explode(array(
          col("event_type"),
          concat(lit("u"), (col("user_id") % 10).cast("string")))).as("label"))
        .groupBy("label").agg(count(lit(1)).as("cnt"))
        .orderBy("label")),

    // B5: per-label storage footprint — the reference's "nodes by
    // label" statistics with sum(length(properties_after))
    // (04-optimize-tables.sql:146-165). BYTE length (octet_length),
    // not character length: the reference's ClickHouse length() counts
    // bytes, and a storage-footprint stat that counted characters
    // would under-report non-ASCII payloads (ADVICE r3; the oracle
    // measures octets too). Top-20 by count with a deterministic
    // tie-break; the top-k is a TakeOrderedAndProject over the tiny
    // label rollup, not a global sort of events.
    "graph_label_storage" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .select(explode(array(
          col("event_type"),
          concat(lit("u"), (col("user_id") % 10).cast("string")))).as("label"),
          col("props"))
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"),
             sum(octet_length(col("props"))).cast("long").as("props_bytes"))
        .orderBy(col("cnt").desc, col("label"))
        .limit(20)),

    // B6: referential-integrity check — edges whose endpoint node is
    // missing (the reference's source-vs-sink consistency validation
    // theme, README.md:318-331, applied to the graph: a CDC pipeline
    // that drops node events produces exactly these orphans). One left
    // join per relation against the distinct node-key set + a count
    // aggregate: at 100 TB the node side is the distinct key column
    // only (AQE broadcasts it while it fits, shuffle-joins beyond),
    // and the verdict is two rows, never a row-level materialization.
    "graph_integrity" -> ((s, dir) => {
      def integ(rel: String, edges: org.apache.spark.sql.DataFrame,
                key: String, nodes: org.apache.spark.sql.DataFrame,
                nodeKey: String) =
        edges.select(col(key).as("k"))
          .join(nodes.select(col(nodeKey).as("nk")).distinct(),
            col("k") === col("nk"), "left")
          .agg(count(lit(1)).as("n_edges"),
               count(when(col("nk").isNull, lit(1))).as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_edges"), col("n_orphans"))
      integ("lineitem_orders", Tables.load(s, dir, "lineitem"),
          "l_orderkey", Tables.load(s, dir, "orders"), "o_orderkey")
        .unionByName(
          integ("orders_customer", Tables.load(s, dir, "orders"),
            "o_custkey", Tables.load(s, dir, "customer"), "c_custkey"))
        .orderBy("relation")
    }),

    // B7: PageRank (Neo4j GDS pageRank, UNDIRECTED orientation) on the
    // full supply graph — 3 fixed iterations, d = 0.85. Fixed
    // iterations keep the result a pure function of the edge list so
    // the oracle replays the identical recurrence; each iteration is
    // one join + one hash-agg shuffle of (node, double) pairs
    // (operators/GraphOps.pageRank). Output is the N-SCALED rank
    // (rank·N ≈ 1 for an average node): raw ranks are ~1/N, so at
    // 100× nodes they'd collapse into the 6dp rounding floor —
    // scaling keeps the comparison's discriminating power scale-free.
    // 6dp rounding absorbs cross-engine sum-order ulps.
    "graph_pagerank" -> ((s, dir) => {
      // N comes from the operator (it collects the scalar anyway for
      // the rank initialization) — a count over the iterated result
      // would re-execute the whole 3-round loop a second time
      // (ADVICE r8), and N is a pure literal in the scaling projection
      val (pr, n) = GraphOps.pageRankWithN(supplyEdges(s, dir), iters = 3)
      pr.select(col("node"),
          round(col("rank") * lit(n), 6).as("rank_x_n"))
        .orderBy("node")
    }),

    // B8: weakly-connected components (GDS wcc) on the sparse supply
    // slice (quantity ≤ 1, part stratum 7 — real component structure:
    // 75 components at sf0.01, 710 at sf0.1). Reuses the proven
    // min-label propagation loop (PipelineOps.dedupClusters, J3):
    // 2 shuffles/iteration, converges in diameter rounds (≤ 7 here),
    // throws past maxIters (GraphOps' Fixpoint loop). The oracle replays the SAME recurrence
    // for a fixed 16 rounds — both sides sit at the fixpoint, so
    // early-stop vs fixed-count cannot diverge.
    "graph_components" -> ((s, dir) =>
      PipelineOps.dedupClusters(
          supplyEdges(s, dir, quantityCap = Some(1.0), partStratum = Some(7)),
          iCol = "a", jCol = "b")
        .select(col("doc_id").as("node"), col("cluster_id").as("component"))
        .orderBy("node")),

    // B9: node similarity (GDS nodeSimilarity) — top-20 supplier pairs
    // by Jaccard over their customer sets, via the customer-keyed
    // inverted-index join with the D2-style degree cap (a customer
    // buying from > 500 suppliers would fan out degree² pairs; capped
    // BEFORE the self-join, sizes computed on the capped relation,
    // oracle applies the identical cap). Ordering by the scaled-
    // integer sim_key — floor(inter·10⁹/union) — so top-k selection
    // can't flip on a float ulp across engines.
    "graph_node_similarity" -> ((s, dir) =>
      GraphOps.nodeSimilarity(
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey"), col("o_custkey")),
        entity = "l_suppkey", feature = "o_custkey",
        featCap = 500L, topK = 20)),

    // B11: k-core decomposition (GDS coreDecomposition) — the 2-core
    // of the quantity ≤ 1 slice (non-degenerate: ~42% of nodes survive
    // at every scale point, peel depth ≤ 4). Iterative peeling to the
    // fixpoint (GraphOps.kCore, throws past maxIters); the oracle
    // replays a FIXED 12 peel rounds — monotone shrinkage means both
    // sides sit at the fixpoint, so converge-early == fixed-count.
    // Output carries the in-core degree (every one ≥ k — the core
    // invariant rides the hash compare).
    "graph_kcore" -> ((s, dir) =>
      GraphOps.kCore(supplyEdges(s, dir, quantityCap = Some(1.0)), k = 2)
        .orderBy("node")),

    // B29 (r14, reworked r15): degree assortativity (Newman's r; GDS
    // graph-shape reporting) — Pearson correlation of endpoint
    // degrees over the symmetric edge relation, computed CLOSED-FORM
    // from exact integer moments instead of two |E|-wide degree
    // joins + corr (the r14 plan; 23 s at flat100). Over a symmetric
    // relation the marginals are identical, so with
    //   n = Σd (edge rows), m1 = Σd² (= Σ_edges da = Σ_edges db),
    //   m2 = Σd³, sxy = Σ_edges da·db = Σ_b d(b)·Σ_{a∈N(b)} d(a):
    //   r = (n·sxy − m1²) / (n·m2 − m1²)   — no sqrt, no corr.
    // The moments come off the |V| degree table (no edge join); only
    // the cross term rides ONE |E| join. Every sum is an exact long
    // (Σd³ overflows past hub degree ~2M / Σd³ ~9e18 — DuckDB errors
    // loudly there, revisit with DecimalType sums); the final
    // expression is the identical IEEE op tree over identical
    // operands on both engines, so 4dp rounding is now cosmetic
    // convention rather than ulp absorption.
    "graph_assortativity" -> ((s, dir) => {
      // symSupply: the dedup GraphOps.undirected would run here is a
      // no-op on the sign-separated slice — one |E| exchange saved
      val und = symSupply(supplyEdges(s, dir))
      val deg = und.groupBy("a").agg(count(lit(1)).as("d"))
      val nbrSum = und.join(deg.select(col("a"), col("d").as("da")), "a")
        .groupBy(col("b")).agg(sum(col("da")).as("sa"))
      val sxy = nbrSum.join(deg.select(col("a").as("b"), col("d")), "b")
        .agg(sum(col("sa") * col("d")).as("sxy"))
      val mom = deg.agg(sum(col("d")).as("n"),
        sum(col("d") * col("d")).as("m1"),
        sum(col("d") * col("d") * col("d")).as("m2"))
      mom.crossJoin(sxy)
        .select(col("n").as("n_edges"),
          round((col("n").cast("double") * col("sxy").cast("double") -
              col("m1").cast("double") * col("m1").cast("double")) /
            (col("n").cast("double") * col("m2").cast("double") -
              col("m1").cast("double") * col("m1").cast("double")), 4)
            .as("assortativity"))
    }),

    // B30 (r14): log2-binned degree distribution — the power-law
    // shape report (the first thing a graph pipeline plots). The bin
    // is EXACT integer floor-log2 via the binary-string length (no
    // float log whose boundary ulps could flip a power-of-two): two
    // map-side-combinable hash-aggs, output ≤ 64 rows at any scale.
    "graph_degree_hist" -> ((s, dir) => {
      // r16 (guide §2.4): the undirected degree of a node is the count
      // of its appearances across BOTH endpoint columns of the distinct
      // sign-separated slice — one endpoint union + one map-side-
      // combinable count agg, instead of materializing the symmetric
      // relation through a no-op dedup exchange and re-grouping it
      // (this entry had been riding other entries' pinned und cache
      // until the r16 pin cleanups made it pay its own way: sf0.1
      // 0.75 s subsidized -> 1.34 s honest -> this). Row-identical:
      // GraphOps.undirected(slice).groupBy(a).count ==
      // endpoint-multiset count when the symmetric union is dup-free
      // — which needs the (0,0) self-loop dropped first (symSupply
      // scaladoc; 0-based keys).
      val e = supplyEdges(s, dir).filter(col("a") =!= col("b"))
      val deg = e.select(col("a").as("n"))
        .unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      deg
        .select((length(bin(col("d"))) - 1).cast("long").as("bucket"),
          col("d"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"),
          min(col("d")).as("d_min"), max(col("d")).as("d_max"))
        .orderBy("bucket")
    }),

    // B31 (r14): FULL core decomposition — coreness per node via the
    // monotone H-index iteration (GraphOps.coreness scaladoc; the
    // GDS coreness output next to B11's single-k membership). The
    // oracle replays 10 fixed rounds; monotone non-increase to the
    // fixpoint makes converge-early == fixed-count (the kcore
    // argument). maxIters = 11 pins that premise LOUDLY — 10 replayed
    // rounds plus the identity round that detects the fixpoint: if
    // some dataset ever needs > 10 rounds, verify fails with a named
    // exception instead of a silent hash mismatch (ADVICE r14).
    "graph_coreness" -> ((s, dir) =>
      GraphOps.coreness(supplyEdges(s, dir), maxIters = 11).orderBy("node")),

    // B10: hop-bounded BFS (the Neo4j shortestPath staple) — exact
    // distances ≤ 3 from suppliers {1, 2} over the quantity ≤ 1 slice.
    // Frontier expansion: each level joins the FRONTIER (not the
    // settled set) against the edge list, then anti-joins the settled
    // set, so cost ∝ newly-reached nodes (operators/GraphOps
    // .bfsDistances).
    "graph_bfs" -> ((s, dir) =>
      GraphOps.bfsDistances(
          supplyEdges(s, dir, quantityCap = Some(1.0)),
          seeds = Seq(-1L, -2L), maxHops = 3)
        .orderBy("node")),

    // B12 (r9): triangle count + local clustering coefficient (GDS
    // triangleCount — the most-used GDS algorithm, VERDICT r8 #2).
    // The supply graph is BIPARTITE (triangle-free by construction),
    // so this runs on the natural triangle-bearing projection: the
    // part CO-PURCHASE graph — parts appearing in the same order,
    // quantity ≤ 25 to keep the projection sparse (299k edges / 204k
    // triangles at sf0.1). The per-order self-join is bounded by
    // order size (≤ 7 lineitems → ≤ 21 pairs/order) — never a hot
    // key; the triangle enumeration itself is the degree-ordered
    // edge-iterator in GraphOps.triangleCounts.
    "graph_triangles" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") <= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .distinct()
      GraphOps.triangleCounts(edges).orderBy("node")
    }),

    // B13 (r9): label propagation (GDS labelPropagation, VERDICT r8
    // #3) on the sparse supply slice — community detection beyond
    // WCC. SYNCHRONOUS rounds with the min-label tie-break make the
    // recurrence a pure function of the edge list; fixed 8 rounds
    // (sync LPA can 2-cycle — "converged" is undefined, a fixed-round
    // replay is not), oracle replays the identical 8 rounds.
    "graph_lpa" -> ((s, dir) =>
      GraphOps.labelPropagation(
          supplyEdges(s, dir, quantityCap = Some(1.0), partStratum = Some(7)),
          rounds = 8)
        .orderBy("node")),

    // B26 (r12): Louvain community detection (GDS louvain, VERDICT
    // r11 #2) on the same sparse slice as B13 — one level of
    // modularity-gain local moving, synchronous rounds with an
    // all-integer gain and min-community tie-break so the oracle
    // replays the identical move sequence (GraphOps.louvainLevel).
    // Fixed 4 rounds (2 full parity sweeps); the spec certifies
    // Q(louvain) ≥ Q(lpa) on this slice and pins a hand-computed
    // two-community barbell fixture.
    "graph_louvain" -> ((s, dir) =>
      GraphOps.louvainLevel(
          supplyEdges(s, dir, quantityCap = Some(1.0), partStratum = Some(7)),
          rounds = 4)
        .orderBy("node")),

    // B26b (r13): two-level Louvain (VERDICT r12 #4) — the GDS
    // louvain recursion with one coarsening step: level-1 local
    // moving (4 rounds), coarsen onto the communities (supergraph
    // edge weight = symmetric row count, intra mass on a (c,c)
    // self-loop of weight 2·intra so m is preserved), then 4 WEIGHTED
    // local-moving rounds on the supergraph. All-integer gains at
    // both levels → the oracle replays BOTH levels row-for-row; the
    // spec certifies Q(two-level) ≥ Q(level-1) on the sf0.001 slice.
    "graph_louvain_multi" -> ((s, dir) =>
      GraphOps.louvainTwoLevel(
          supplyEdges(s, dir, quantityCap = Some(1.0), partStratum = Some(7)),
          rounds1 = 4, rounds2 = 4)
        .orderBy("node")),

    // B27 (r12): FastRP node embeddings (GDS fastRP, VERDICT r11 #3)
    // on the same slice — deterministic hash projections (Achlioptas
    // s=3) + mean neighbor aggregation, iteration weights (0,1,1).
    // The hash init makes the FULL oracle possible (a sampled init
    // would be rows-only); 6dp rounding absorbs the per-round
    // neighbor-sum ulps (the PageRank oracle precedent).
    "graph_fastrp" -> ((s, dir) =>
      GraphOps.fastRP(
          supplyEdges(s, dir, quantityCap = Some(1.0), partStratum = Some(7)),
          dims = 8, iterWeights = Seq(0.0, 1.0, 1.0))
        .select(col("node"), col("dim"), round(col("val"), 6).as("val"))
        .orderBy("node", "dim")),

    // B14 (r9): weighted hop-bounded shortest path (GDS Dijkstra with
    // a cost property, VERDICT r8 #4) — min path COST within ≤ 4
    // hops from suppliers {1, 2}, edge cost = cheapest contributing
    // lineitem in integer CENTS (integer min-aggregation: relaxation
    // can't diverge on a float ulp). Delta-relaxation Bellman-Ford
    // (GraphOps.ssspBounded): a cheap 3-hop path beats an expensive
    // 1-hop one — the case hop-BFS (B10) cannot express.
    "graph_sssp" -> ((s, dir) => {
      val we = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") <= 1)
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((-col("l_suppkey")).as("a"), col("o_custkey").as("b"),
          round(col("l_extendedprice") * 100).cast("long").as("wc"))
        .groupBy("a", "b").agg(min(col("wc")).as("w"))
      GraphOps.ssspBounded(we, seeds = Seq(-1L, -2L), maxHops = 4)
        .orderBy("node")
    }),

    // B16 (r9): HITS hubs/authorities (GDS alpha.hits) — the directed
    // complement to PageRank on the supplier→customer graph: suppliers
    // score as hubs, customers as authorities. Fixed 3 rounds, L1
    // normalization per half-step (1-row aggregate broadcast — the
    // scalar-crossJoin shape); output scaled ×N like B7/B15 so 6dp
    // keeps discriminating power at any node count.
    "graph_hits" -> ((s, dir) => {
      val (ha, n) = GraphOps.hitsWithN(supplyEdges(s, dir), iters = 3)
      ha.select(col("node"),
          round(col("h") * lit(n), 6).as("hub_x_n"),
          round(col("x") * lit(n), 6).as("auth_x_n"))
        .orderBy("node")
    }),

    // B22 (r10): eigenvector centrality — 3 power-iteration rounds on
    // the undirected supply graph, raw vector carried, ONE L1
    // normalization at output (the r10 HITS linearity lesson);
    // score·N display scaling like B7/B15.
    "graph_eigenvector" -> ((s, dir) => {
      val (ev, n) = GraphOps.eigenvectorCentralityWithN(
        supplyEdges(s, dir), iters = 3)
      ev.select(col("node"),
          round(col("score") * lit(n), 6).as("score_x_n"))
        .orderBy("node")
    }),

    // B15 (r9): PageRank in the DIRECTED (GDS NATURAL) orientation
    // with dangling-mass redistribution (VERDICT r8 #8). The supply
    // graph directed supplier→customer makes every customer a pure
    // sink — the exact shape where dropping dangling mass leaks rank
    // (here ~94% of nodes are sinks); Dₜ is one 1-row aggregate per
    // round, broadcast back via the scalar-crossJoin shape. Output
    // scaled rank·N like B7; 6dp absorbs sum-order ulps.
    "graph_pagerank_directed" -> ((s, dir) => {
      val (pr, n) = GraphOps.pageRankDirectedWithN(
        supplyEdges(s, dir), iters = 3)
      pr.select(col("node"),
          round(col("rank") * lit(n), 6).as("rank_x_n"))
        .orderBy("node")
    }),

    // B34 (r15): WEIGHTED directed PageRank (GDS relationshipWeight)
    // over the supply graph with per-lane total quantity as the edge
    // weight — heavy lanes carry proportionally more rank. Exact
    // integer weights keep every per-edge share a single identical
    // IEEE division; same fixed-3-round chained-CTE replay as
    // graph_pagerank_directed.
    "graph_pagerank_weighted" -> ((s, dir) => {
      val wEdges = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((-col("l_suppkey")).as("a"), col("o_custkey").as("b"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      val (pr, n) = GraphOps.pageRankWeightedWithN(wEdges, iters = 3)
      pr.select(col("node"),
          round(col("rank") * lit(n), 6).as("rank_x_n"))
        .orderBy("node")
    }),

    // B20 (r10): personalized PageRank from the supplier seed set
    // {1–4} (the betweenness seed convention) over the directed
    // supplier→customer supply graph — "which customers matter to
    // THESE suppliers", the GDS sourceNodes recommendation shape.
    // Unreachable nodes stay exactly 0 (left join, no 1/N floor);
    // ranks sum to 1 every round (dangling mass re-enters through
    // the seed distribution).
    "graph_pagerank_personalized" -> ((s, dir) =>
      GraphOps.personalizedPageRank(supplyEdges(s, dir),
          seeds = Seq(-1L, -2L, -3L, -4L), iters = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")),

    // B21 (r10): deterministic random walks over the full undirected
    // supply graph — GDS randomWalk / the node2vec sampling step that
    // turns a graph into embedding training data. Seeds = every 7th
    // supplier, 2 walks each, 5 hops; the hash-driven next-hop choice
    // is exact integer arithmetic, so DuckDB replays the walks
    // verbatim (a true RNG would leave only a rows-only check).
    "graph_random_walks" -> ((s, dir) => {
      val e = supplyEdges(s, dir)
      val seeds = e.select(col("a").as("node")).distinct()
        .filter(col("node") % 7 === 0)
      GraphOps.randomWalks(e, seeds, walksPerSeed = 2, steps = 5)
        .orderBy("walk_id", "step")
    }),

    // B28 (r13): deterministic node2vec walks — the second-order
    // biased sampling stage (GDS node2vec; Grover & Leskovec 2016)
    // with integer α-weights (return 1 : neighbor 4 : explore 2, the
    // 1/p:1:1/q classes at p=4, q=2) and a hash-mod-Σw cumulative
    // draw, so DuckDB replays every biased choice exactly
    // (GraphOps.node2vecWalks scaladoc).
    "graph_node2vec_walks" -> ((s, dir) => {
      val e = supplyEdges(s, dir)
      val seeds = e.select(col("a").as("node")).distinct()
        .filter(col("node") % 7 === 0)
      GraphOps.node2vecWalks(e, seeds, walksPerSeed = 2, steps = 4)
        .orderBy("walk_id", "step")
    }),

    // B28b (r13): skip-gram pairs over the BIASED walk corpus — the
    // actual node2vec training-data output (walks are the sampler;
    // the (center, context) pairs are what the embedding trainer
    // consumes). Same window-2 extraction as graph_walk_pairs, over
    // graph_node2vec_walks' trace.
    "graph_node2vec_pairs" -> ((s, dir) => {
      val e = supplyEdges(s, dir)
      val seeds = e.select(col("a").as("node")).distinct()
        .filter(col("node") % 7 === 0)
      val trace = GraphOps.node2vecWalks(e, seeds, walksPerSeed = 2,
        steps = 4)
      GraphOps.skipGramPairs(trace, window = 2)
        .orderBy("center", "context")
    }),

    // B32 (r15, VERDICT r14 #1): node2vec EMBEDDINGS — the (node,
    // float[]) output surface GDS node2vec ships, folded from the
    // B28b skip-gram pairs by the weighted-FastRP projection
    // (GraphOps.node2vecEmbeddings scaladoc: co-occurrence-matrix
    // projection, not SGD — the choice that keeps a FULL cross-engine
    // oracle). Long-form (node, dim, val) for the oracle hash; the
    // operator's native shape is the dim-ordered array.
    "graph_node2vec" -> ((s, dir) => {
      val e = supplyEdges(s, dir)
      val seeds = e.select(col("a").as("node")).distinct()
        .filter(col("node") % 7 === 0)
      GraphOps.node2vecEmbeddings(e, seeds, walksPerSeed = 2,
          steps = 4, dims = 8)
        .select(col("node"), posexplode(col("embedding")))
        .toDF("node", "dim", "val")
        .select(col("node"), col("dim").cast("long").as("dim"),
          round(col("val"), 6).as("val"))
        .orderBy("node", "dim")
    }),

    // B21b (r10): skip-gram pair extraction from the walk corpus
    // (window 2, both directions, multiplicity kept) — the exact
    // (center, context, count) shape a word2vec-style embedding
    // trainer consumes. Self-join on walk_id: |trace|·(2·window)
    // rows, never all-pairs.
    "graph_walk_pairs" -> ((s, dir) => {
      val e = supplyEdges(s, dir)
      val seeds = e.select(col("a").as("node")).distinct()
        .filter(col("node") % 7 === 0)
      val trace = GraphOps.randomWalks(e, seeds, walksPerSeed = 2, steps = 5)
      GraphOps.skipGramPairs(trace, window = 2)
        .orderBy("center", "context")
    }),

    // B23 (r10): GraphSAGE-style fanout neighborhood sampling —
    // fanouts (3, 2) from the supplier seed stratum over the
    // undirected supply graph, layer-wise (frontier deduplicated
    // across seeds). Deterministic hash rank ⇒ FULL oracle replay
    // (QUALIFY row_number twin).
    "graph_sample_neighborhood" -> ((s, dir) => {
      val e = supplyEdges(s, dir)
      val seeds = e.select(col("a").as("node")).distinct()
        .filter(col("node") % 7 === 0)
      GraphOps.sampleNeighborhood(e, seeds, fanouts = Seq(3, 2))
        .orderBy("hop", "src", "dst")
    }),

    // B24 (r10): k-truss (k=4) of the stratum-thinned part
    // co-purchase projection — the edge-level cohesive-subgraph
    // complement of k-core. Support peeling to fixpoint; the oracle
    // replays 10 over-provisioned rounds (peeling is monotone, so
    // post-fixpoint rounds are no-ops — the k-core precedent).
    "graph_ktruss" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") <= 25 && col("l_partkey") % 3 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
      GraphOps.trussEdges(edges, k = 4).orderBy("a", "b")
    }),

    // B17 (r10): sampled, hop-bounded betweenness centrality (GDS
    // `betweenness` with samplingSize — VERDICT r9 #2, the last
    // widely-used Neo4j algorithm class with no entry). Exact Brandes
    // dependencies from the fixed seed set {suppliers 1–4} over the
    // quantity ≤ 1 slice, shortest paths bounded at 4 hops — forward
    // BFS layers with integer path counts, then backward dependency
    // accumulation, both bounded chained-join loops
    // (GraphOps.betweennessSampled); the oracle replays the identical
    // layer recurrences.
    "graph_betweenness" -> ((s, dir) =>
      GraphOps.betweennessSampled(
          supplyEdges(s, dir, quantityCap = Some(1.0)),
          seeds = Seq(-1L, -2L, -3L, -4L), maxHops = 4)
        .orderBy("node")),

    // B19 (r10): sampled hop-bounded harmonic closeness (GDS
    // closeness, harmonic variant — well-defined on this DISCONNECTED
    // slice where classic closeness is not): h(v) = Σ_seeds 1/d(s,v)
    // within 4 hops, the betweenness forward phase minus the path
    // counts. Integer-exact: level d contributes lcm(1..4)/d = 12/d
    // per reaching source, ONE double division at output.
    "graph_closeness" -> ((s, dir) =>
      GraphOps.harmonicCloseness(
          supplyEdges(s, dir, quantityCap = Some(1.0)),
          seeds = Seq(-1L, -2L, -3L, -4L), maxHops = 4)
        .orderBy("node")),

    // B18 (r10): modularity score (Newman–Girvan Q; GDS modularity —
    // VERDICT r9 #4) of BOTH community partitions the engine emits on
    // the sparse slice: WCC components (B8) and 8-round LPA labels
    // (B13). Integer edge/degree rollups throughout, ONE double
    // division at the end (GraphOps.modularity), so "is this
    // community structure any good" is answerable with cross-engine
    // exactness. WCC scores higher than LPA here — components are
    // supersets of LPA communities and the slice is
    // component-fragmented.
    // r11 (VERDICT r10 #3): scores the LANDED community assignments
    // ([[communityAssignments]] — computed once per JVM) instead of
    // re-executing the 16-round WCC + 8-round LPA loops inside this
    // entry: scoring a partition is two hash-aggs + two joins; the
    // partition itself is B8/B13's product. Entry independence holds
    // — a cold JVM builds the staging on first touch.
    "graph_modularity" -> ((s, dir) => {
      val e = supplyEdges(s, dir, quantityCap = Some(1.0),
        partStratum = Some(7))
      val (wcc, lpa) = communityAssignments(s, dir)
      GraphOps.modularity(e, wcc).withColumn("method", lit("wcc"))
        .unionByName(
          GraphOps.modularity(e, lpa).withColumn("method", lit("lpa")))
        .select(col("method"), col("n_communities"), col("intra_edges"),
          col("m"), col("q"))
        .orderBy("method")
    }),

    // B25 (r11): link prediction — the GDS linkprediction function
    // family (commonNeighbors / preferentialAttachment /
    // resourceAllocation) as one batch operator over the part
    // co-purchase projection (quantity ≤ 10 keeps the wedge volume a
    // fraction of the triangles graph: candidate generation is the
    // same wedge enumeration, and the q≤10 slice is the "related
    // parts people actually bundle" signal, not the bulk-order
    // noise). Top-50 non-adjacent pairs by common-neighbor count;
    // ra is the deterministic ascending-degree fold (bit-identical
    // doubles, no rounding — see GraphOps.linkPrediction).
    "graph_link_prediction" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") <= 10)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
      GraphOps.linkPrediction(edges, hubCap = 64, topK = 50)
    })
  )

  // Community assignments of the sparse slice — B8's WCC min-label
  // fixpoint and B13's 8-round LPA — landed to parquet ONCE per JVM
  // (the SketchQueries exact-baseline discipline: Staging.path is
  // pid-scoped and swept on exit) and read back exactly (long ids).
  // graph_modularity consumes these instead of re-running 24 iterative
  // rounds per execution; the B8/B13 entries themselves keep computing
  // their loops live — they ARE the operators under test.
  private val assignDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def communityAssignments(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
                     org.apache.spark.sql.DataFrame) = {
    val p = assignDirs.computeIfAbsent(dir, d => {
      val path = Staging.path("community_assign", d)
      val e = supplyEdges(s, d, quantityCap = Some(1.0),
        partStratum = Some(7))
      PipelineOps.dedupClusters(e, iCol = "a", jCol = "b")
        .select(col("doc_id").as("node"), col("cluster_id").as("community"))
        .write.mode("overwrite").parquet(path + "/wcc")
      GraphOps.labelPropagation(e, rounds = 8)
        .select(col("node"), col("label").as("community"))
        .write.mode("overwrite").parquet(path + "/lpa")
      path
    })
    (s.read.parquet(p + "/wcc"), s.read.parquet(p + "/lpa"))
  }

  // Shared oracle fragment: the namespaced supply edge list (directed
  // bipartite), then symmetrized — the SQL twin of supplyEdges +
  // GraphOps.undirected. `where` carries the thinning predicate.
  // `und` is MATERIALIZED: the iterative oracles reference it in every
  // round, and DuckDB's default CTE inlining re-opens the parquet
  // scans per reference — 16 WCC rounds × 2 refs exhausts the fd limit.
  // One H-index round of the graph_coreness oracle: per-node DESC
  // rank of neighbor coreness values, h = count of positions with
  // value ≥ rank (a monotone prefix on the sorted run, so tie order
  // within equal values cannot change the count).
  private def hciIter(i: Int) =
    s"""n$i AS (SELECT u.a AS node, cc.c AS c,
                row_number() OVER (PARTITION BY u.a ORDER BY cc.c DESC) AS r
                FROM und u JOIN hc${i - 1} cc ON u.b = cc.node),
        hc$i AS MATERIALIZED (SELECT node,
                count(*) FILTER (WHERE c >= r) AS c
                FROM n$i GROUP BY node)"""

  private def edgeSql(where: String) =
    s"""e0 AS (SELECT DISTINCT -l_suppkey AS a, o_custkey AS b
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey $where),
          und AS MATERIALIZED (SELECT DISTINCT a, b FROM
            (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) WHERE a <> b)"""

  // One PageRank round — the identical recurrence GraphOps.pageRank
  // runs (0.85e0 forces DOUBLE literals: DuckDB's bare 0.85 is
  // DECIMAL, whose division semantics would diverge from Spark's
  // double arithmetic).
  private def prIter(i: Int) =
    s"""r$i AS (SELECT u.b AS node,
            (SELECT (1 - 0.85e0) / cnt FROM nn) + 0.85e0 * sum(r.rank / d.deg) AS rank
          FROM und u JOIN r${i - 1} r ON u.a = r.node JOIN deg d ON u.a = d.a
          GROUP BY u.b)"""

  // One min-label propagation round — the dedupClusters recurrence
  // (neighbor labels via the symmetric edge list, self label rides the
  // union). 16 fixed rounds ≥ every observed convergence depth (≤ 7
  // at sf0.001–10×); past the fixpoint each round is the identity, so
  // fixed-count here equals the operator's converge-early loop.
  // MATERIALIZED: each round references its predecessor twice (join +
  // self-union); default inlining would expand the chain 2^k-fold.
  private def ccIter(i: Int) =
    s"""l$i AS MATERIALIZED (SELECT x.n, min(x.l) AS l FROM
           (SELECT u.a AS n, p.l FROM und u JOIN l${i - 1} p ON u.b = p.n
            UNION ALL SELECT n, l FROM l${i - 1}) x GROUP BY x.n)"""

  // One k-core peel round: keep nodes with ≥ k surviving neighbors.
  // MATERIALIZED — referenced twice by the next round's double join.
  private def kcIter(i: Int) =
    s"""s$i AS MATERIALIZED (SELECT u.a AS n FROM und u
           JOIN s${i - 1} x ON u.a = x.n JOIN s${i - 1} y ON u.b = y.n
           GROUP BY u.a HAVING count(*) >= 2)"""

  // One BFS level: expand everything settled so far, keep min dist.
  private def bfsIter(i: Int) =
    s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM
           (SELECT node, dist FROM d${i - 1}
            UNION ALL SELECT u.b AS node, $i AS dist
            FROM und u JOIN d${i - 1} p ON u.a = p.node) x GROUP BY node)"""

  // One synchronous LPA round: argmax neighbor label by (count desc,
  // label asc) — the exact twin of the operator's min(struct(-cnt,
  // label)). MATERIALIZED (referenced by the next round).
  private def lpaIter(i: Int) =
    s"""lp$i AS MATERIALIZED (SELECT node, l AS label FROM (
           SELECT u.b AS node, p.label AS l, count(*) AS c,
                  row_number() OVER (PARTITION BY u.b
                    ORDER BY count(*) DESC, p.label) AS rk
           FROM und u JOIN lp${i - 1} p ON u.a = p.node
           GROUP BY u.b, p.label) WHERE rk = 1)"""

  // One Louvain local-moving round — the louvainLevel recurrence: the
  // ALL-INTEGER gain 2m·k_{i,c} − k_i·Σtot'_c (Σtot' excludes i from
  // its own community), argmax with ties to the smallest community,
  // movers restricted to the round's parity class (the swap-cycle
  // damping — GraphOps.louvainLevel scaladoc), holders ride the left
  // join. row_number ORDER BY gain DESC, community ≡ Spark's
  // min(struct(-gain, community)) — integer comparisons both sides.
  private def louvIter(i: Int) =
    s"""lv$i AS MATERIALIZED (
           SELECT a.node, coalesce(mv.community, a.community) AS community
           FROM lv${i - 1} a LEFT JOIN (
             SELECT node, community FROM (
               SELECT k.a AS node, k.community,
                      row_number() OVER (PARTITION BY k.a ORDER BY
                        (2 * mm.m * k.kic - dg.deg *
                         (t.tot - CASE WHEN k.community = cur.community
                                  THEN dg.deg ELSE 0 END)) DESC,
                        k.community) AS rk
               FROM (SELECT u.a, p.community, count(*) AS kic
                     FROM und u JOIN lv${i - 1} p ON u.b = p.node
                     WHERE (u.a + $i) % 2 = 0
                     GROUP BY u.a, p.community) k
               JOIN degv dg ON dg.node = k.a
               JOIN lv${i - 1} cur ON cur.node = k.a
               JOIN (SELECT p.community, sum(dg2.deg) AS tot
                     FROM lv${i - 1} p JOIN degv dg2 ON dg2.node = p.node
                     GROUP BY p.community) t ON t.community = k.community
               CROSS JOIN mm) WHERE rk = 1) mv
           ON mv.node = a.node)"""

  // One WEIGHTED Louvain local-moving round on the community
  // supergraph (louvainLevelWeighted): the louvIter recurrence with
  // count(*) → sum(w), self-loop rows (a = b, the 2·intra-mass
  // carriers) excluded from the k_{i,c} gather (they stay in
  // degrees/Σtot), and the explicit per-mover STAY candidate (node,
  // cur, kic = 0) — on the coarsened graph a supernode's own
  // community never appears among its neighbor communities, so
  // without the stay row one bridge edge would force negative-gain
  // merges (GraphOps.louvainLevelWeighted scaladoc). m is the
  // LEVEL-1 scalar (coarsening preserves it).
  private def louvWIter(i: Int) =
    s"""sv$i AS MATERIALIZED (
           SELECT a.node, coalesce(mv.community, a.community) AS community
           FROM sv${i - 1} a LEFT JOIN (
             SELECT node, community FROM (
               SELECT k.a AS node, k.community,
                      row_number() OVER (PARTITION BY k.a ORDER BY
                        (2 * mm.m * k.kic - dg.deg *
                         (t.tot - CASE WHEN k.community = cur.community
                                  THEN dg.deg ELSE 0 END)) DESC,
                        k.community) AS rk
               FROM (SELECT a, community, sum(w) AS kic FROM (
                       SELECT u.a, p.community, u.w
                       FROM sund u JOIN sv${i - 1} p ON u.b = p.node
                       WHERE (u.a + $i) % 2 = 0 AND u.a <> u.b
                       UNION ALL
                       SELECT s.node AS a, s.community, 0 AS w
                       FROM sv${i - 1} s WHERE (s.node + $i) % 2 = 0)
                     GROUP BY a, community) k
               JOIN sdeg dg ON dg.node = k.a
               JOIN sv${i - 1} cur ON cur.node = k.a
               JOIN (SELECT p.community, sum(dg2.deg) AS tot
                     FROM sv${i - 1} p JOIN sdeg dg2 ON dg2.node = p.node
                     GROUP BY p.community) t ON t.community = k.community
               CROSS JOIN mm) WHERE rk = 1) mv
           ON mv.node = a.node)"""

  // One FastRP round — mean neighbor aggregation; deg(a) is constant
  // per group so max() reads it without a second aggregate pass.
  private def frpIter(i: Int) =
    s"""fr$i AS MATERIALIZED (SELECT u.a AS node, p.dim,
           sum(p.val) / max(d.deg) AS val
         FROM und u JOIN fr${i - 1} p ON u.b = p.node
         JOIN degv d ON d.node = u.a
         GROUP BY u.a, p.dim)"""

  // One Bellman-Ford round over the weighted symmetric relation:
  // expand everything settled, keep min cost (full relax — the
  // operator's delta-frontier form reaches the identical d_h).
  private def ssspIter(i: Int) =
    s"""c$i AS MATERIALIZED (SELECT node, min(cost) AS cost FROM
           (SELECT node, cost FROM c${i - 1}
            UNION ALL SELECT u.b AS node, p.cost + u.w AS cost
            FROM undw u JOIN c${i - 1} p ON u.a = p.node) x GROUP BY node)"""

  // One directed-PageRank round with the dangling term: g$i is the
  // scalar dangling mass of the previous round; contributions ride a
  // LEFT join so in-edge-free nodes keep the teleport + dangling
  // share. Arithmetic structured EXACTLY as the Spark expression:
  // k1 + 0.85·(s + dm/N), doubles throughout (e-notation literals).
  private def prWIter(i: Int) =
    s"""g$i AS (SELECT coalesce(sum(r.rank), 0e0) AS dm
           FROM r${i - 1} r LEFT JOIN od ON r.node = od.a
           WHERE od.a IS NULL),
        r$i AS MATERIALIZED (SELECT n.node,
           (SELECT (1 - 0.85e0) / cnt FROM nn) + 0.85e0 *
             (coalesce(c.s, 0e0) +
              (SELECT dm FROM g$i) / (SELECT CAST(cnt AS DOUBLE) FROM nn))
             AS rank
           FROM nodes n LEFT JOIN (
             SELECT e.b AS node, sum(r.rank * e.w / od.outw) AS s
             FROM e0 e JOIN r${i - 1} r ON e.a = r.node
                       JOIN od ON e.a = od.a
             GROUP BY e.b) c ON n.node = c.node)"""

  private def prDirIter(i: Int) =
    s"""g$i AS (SELECT coalesce(sum(r.rank), 0e0) AS dm
           FROM r${i - 1} r LEFT JOIN od ON r.node = od.a
           WHERE od.a IS NULL),
        r$i AS MATERIALIZED (SELECT n.node,
           (SELECT (1 - 0.85e0) / cnt FROM nn) + 0.85e0 *
             (coalesce(c.s, 0e0) +
              (SELECT dm FROM g$i) / (SELECT CAST(cnt AS DOUBLE) FROM nn))
             AS rank
           FROM nodes n LEFT JOIN (
             SELECT e.b AS node, sum(r.rank / od.outd) AS s
             FROM e0 e JOIN r${i - 1} r ON e.a = r.node
                       JOIN od ON e.a = od.a
             GROUP BY e.b) c ON n.node = c.node)"""

  // One k-truss peel round (k=4 ⇒ sup ≥ 2): triangles of the current
  // canonical edge set via the u<v<w 2-path join, support rolled onto
  // each triangle's 3 edges, under-supported edges dropped. Monotone,
  // so over-provisioned rounds past the fixpoint are no-ops.
  private def ktIter(i: Int) =
    s"""kt$i AS (SELECT x.a AS u, x.b AS v, y.b AS w
           FROM ke${i - 1} x JOIN ke${i - 1} y
             ON x.a = y.a AND x.b < y.b
           JOIN ke${i - 1} z ON z.a = x.b AND z.b = y.b),
        kp$i AS (SELECT a, b, count(*) AS sup FROM (
           SELECT u AS a, v AS b FROM kt$i UNION ALL
           SELECT u, w FROM kt$i UNION ALL
           SELECT v, w FROM kt$i) GROUP BY a, b),
        ke$i AS MATERIALIZED (
           SELECT e.a, e.b FROM ke${i - 1} e JOIN kp$i p USING (a, b)
           WHERE p.sup >= 2)"""

  // One power-iteration round: x_{t+1}(a) = Σ_{(a,b)} x_t(b) over the
  // symmetrized relation — RAW (unnormalized), the single L1 division
  // happens in the final projection (linearity, the HITS convention).
  private def evIter(i: Int) =
    s"""x$i AS MATERIALIZED (SELECT u.a AS node, sum(x.x) AS x
           FROM und u JOIN x${i - 1} x ON u.b = x.node GROUP BY u.a)"""

  // One deterministic-walk step: next node picked from the sorted
  // neighbor list by the EXACT integer hash the Spark operator
  // computes (pmod spelled out — DuckDB % keeps the dividend's
  // sign); list indexing is 1-based in both engines.
  private def walkIter(i: Int) =
    s"""w$i AS MATERIALIZED (SELECT walk_id, $i AS step,
           adj.nb[((walk_id * 1000003 + ${10007L * i} + w.node * 101)
                   % 1000000007 + 1000000007) % 1000000007 % adj.deg + 1]
             AS node
         FROM w${i - 1} w JOIN adj ON w.node = adj.node)"""

  // One biased node2vec step: candidates from the sorted adjacency of
  // the current node, α-class weights against the PREV node's
  // adjacency, cumulative-sum draw at h mod Σw (first candidate whose
  // range covers the draw — `cum > r AND cum - wgt <= r`, which a
  // zero-weight candidate can never satisfy), uniform first-order
  // fallback when Σw = 0. Mirrors GraphOps.node2vecWalks exactly.
  private def n2vIter(i: Int) =
    s"""cand$i AS (SELECT w.walk_id, w.node, w.prev, a.deg,
               a.nb[r.pos] AS x, r.pos,
               CASE WHEN a.nb[r.pos] = w.prev THEN 1
                    WHEN list_contains(ap.nb, a.nb[r.pos]) THEN 4
                    ELSE 2 END AS wgt
             FROM v${i - 1} w
             JOIN adj a ON w.node = a.node
             JOIN adj ap ON w.prev = ap.node,
             unnest(range(1, len(a.nb) + 1)) AS r(pos)),
        s$i AS (SELECT walk_id, node, prev, deg, x, wgt, pos,
               sum(wgt) OVER (PARTITION BY walk_id ORDER BY pos) AS cum,
               sum(wgt) OVER (PARTITION BY walk_id) AS tot,
               ((walk_id * 1000003 + ${10007L * i} + node * 101 + prev * 31)
                % 1000000007 + 1000000007) % 1000000007 AS h
             FROM cand$i),
        v$i AS MATERIALIZED (
             SELECT walk_id, node AS prev, x AS node
             FROM s$i
             WHERE tot > 0 AND cum > (h % tot) AND cum - wgt <= (h % tot)
             UNION ALL
             SELECT w.walk_id, w.node AS prev,
                    a.nb[CAST(w.h % w.deg AS INT) + 1] AS node
             FROM (SELECT DISTINCT walk_id, node, h, deg FROM s$i
                   WHERE tot = 0) w
             JOIN adj a ON w.node = a.node)"""

  // The shared node2vec trace prefix: adjacency, seed walks, the
  // first-order step 1, three biased steps — consumed by both the
  // walk dump and the skip-gram pair extraction.
  private def n2vTraceSql =
    s"""${edgeSql("")},
          adj AS MATERIALIZED (
             SELECT a AS node, list(b ORDER BY b) AS nb, count(*) AS deg
             FROM und GROUP BY a),
          seeds AS (SELECT DISTINCT a AS node FROM e0 WHERE a % 7 = 0),
          v0 AS MATERIALIZED (
             SELECT node * 2 + k AS walk_id, node
             FROM seeds CROSS JOIN (SELECT unnest([0, 1]) AS k) t
             WHERE node IN (SELECT node FROM adj)),
          v1 AS MATERIALIZED (
             SELECT walk_id, w.node AS prev,
               adj.nb[((walk_id * 1000003 + 10007 + w.node * 101)
                       % 1000000007 + 1000000007) % 1000000007 % adj.deg + 1]
                 AS node
             FROM v0 w JOIN adj ON w.node = adj.node),
          ${(2 to 4).map(n2vIter).mkString(",\n")},
          trace AS MATERIALIZED (SELECT walk_id, 0 AS step, node FROM v0
             UNION ALL SELECT walk_id, 1 AS step, node FROM v1
             UNION ALL SELECT walk_id, 2 AS step, node FROM v2
             UNION ALL SELECT walk_id, 3 AS step, node FROM v3
             UNION ALL SELECT walk_id, 4 AS step, node FROM v4)"""

  // The shared walk-trace CTE prefix (adjacency, seed walks, 5 steps)
  private def walkTraceSql =
    s"""${edgeSql("")},
          adj AS MATERIALIZED (
             SELECT a AS node, list(b ORDER BY b) AS nb, count(*) AS deg
             FROM und GROUP BY a),
          seeds AS (SELECT DISTINCT a AS node FROM e0 WHERE a % 7 = 0),
          w0 AS MATERIALIZED (
             SELECT node * 2 + k AS walk_id, 0 AS step, node
             FROM seeds CROSS JOIN (SELECT unnest([0, 1]) AS k) t
             WHERE node IN (SELECT node FROM adj)),
          ${(1 to 5).map(walkIter).mkString(",\n")},
          trace AS MATERIALIZED (
             SELECT * FROM w0 UNION ALL SELECT * FROM w1
             UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
             UNION ALL SELECT * FROM w4 UNION ALL SELECT * FROM w5)"""

  // One personalized-PageRank round: identical join shape to
  // prDirIter, but teleport AND dangling mass flow through the seed
  // distribution p (coalesced to 0 off-seed). Arithmetic structured
  // EXACTLY as the Spark expression:
  //   (1−0.85)·p + 0.85·(s + dm·p)
  private def pprIter(i: Int) =
    s"""pg$i AS (SELECT coalesce(sum(r.rank), 0e0) AS dm
           FROM pr${i - 1} r LEFT JOIN od ON r.node = od.a
           WHERE od.a IS NULL),
        pr$i AS MATERIALIZED (SELECT n.node,
           (1 - 0.85e0) * coalesce(sp.p, 0e0) + 0.85e0 *
             (coalesce(c.s, 0e0) +
              (SELECT dm FROM pg$i) * coalesce(sp.p, 0e0)) AS rank
           FROM nodes n
           LEFT JOIN (
             SELECT e.b AS node, sum(r.rank / od.outd) AS s
             FROM e0 e JOIN pr${i - 1} r ON e.a = r.node
                       JOIN od ON e.a = od.a
             GROUP BY e.b) c ON n.node = c.node
           LEFT JOIN s0 sp ON n.node = sp.node)"""

  // One HITS round in the RAW (unnormalized) form the r10 operator
  // carries: sparse authority sums from the previous raw hub vector,
  // then sparse hub sums from the new authorities — per-step L1
  // rescaling cancels in the next half-step's sums (linearity), so
  // normalization happens ONCE in the final projection, exactly like
  // the Spark loop. a$i/h$i MATERIALIZED (each feeds the next
  // half-step AND, for the last round, the final projection twice).
  private def hitsIter(i: Int) =
    s"""a$i AS MATERIALIZED (SELECT e.b AS node, sum(h.h) AS x
           FROM e0 e JOIN h${i - 1} h ON e.a = h.node GROUP BY e.b),
        h$i AS MATERIALIZED (SELECT e.a AS node, sum(a.x) AS h
           FROM e0 e JOIN a$i a ON e.b = a.node GROUP BY e.a)"""

  // One forward Brandes layer: expand the previous layer's path
  // counts over the symmetric relation, drop already-settled (src,
  // node) pairs, sum σ over predecessors. f$i/s$i MATERIALIZED —
  // each feeds the next layer AND the backward phase.
  private def btwFwd(i: Int) =
    s"""f$i AS MATERIALIZED (SELECT p.src, u.b AS node, sum(p.sigma) AS sigma
           FROM und u JOIN f${i - 1} p ON u.a = p.node
           LEFT JOIN s${i - 1} s ON s.src = p.src AND s.node = u.b
           WHERE s.node IS NULL
           GROUP BY p.src, u.b),
        s$i AS MATERIALIZED (SELECT src, node FROM s${i - 1}
           UNION ALL SELECT src, node FROM f$i)"""

  // One backward Brandes layer: δ(v) = Σ_{v~w, w one layer deeper}
  // σ(v)/σ(w)·(1+δ(w)), nodes without successors keep 0 via the LEFT
  // join — arithmetic ordered exactly as the Spark expression
  // (CAST-to-double division first, then the (1+δ) product).
  private def btwBack(l: Int) =
    s"""d$l AS MATERIALIZED (SELECT v.src, v.node, v.sigma,
           coalesce(c.s, 0e0) AS delta
         FROM f$l v LEFT JOIN (
           SELECT v2.src, v2.node,
                  sum(CAST(v2.sigma AS DOUBLE) / w.sigma * (1e0 + w.delta)) AS s
           FROM f$l v2 JOIN und u ON v2.node = u.a
                JOIN d${l + 1} w ON w.src = v2.src AND w.node = u.b
           GROUP BY v2.src, v2.node) c
         ON c.src = v.src AND c.node = v.node)"""

  // One multi-source BFS level (the btwFwd recurrence minus path
  // counts) for the closeness oracle — g$i = newly reached (src,
  // node) pairs at distance i, t$i = settled.
  private def clsFwd(i: Int) =
    s"""g$i AS MATERIALIZED (SELECT DISTINCT p.src, u.b AS node
           FROM und u JOIN g${i - 1} p ON u.a = p.node
           LEFT JOIN t${i - 1} s ON s.src = p.src AND s.node = u.b
           WHERE s.node IS NULL),
        t$i AS MATERIALIZED (SELECT src, node FROM t${i - 1}
           UNION ALL SELECT src, node FROM g$i)"""

  // Per-method modularity rollup: per-community intra-edge and degree
  // sums as integers, then the single double expression — the exact
  // GraphOps.modularity shape against an assignment CTE `$a(node,
  // community)`.
  private def modScore(p: String, a: String) =
    s"""${p}ec AS (SELECT x.community, count(*) AS ec
           FROM canon c JOIN $a x ON c.a = x.node JOIN $a y ON c.b = y.node
           WHERE x.community = y.community GROUP BY 1),
        ${p}dc AS (SELECT x.community, sum(d.deg) AS dc
           FROM degm d JOIN $a x ON d.node = x.node GROUP BY 1),
        ${p}agg AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(sum(coalesce(ec, 0)) AS BIGINT) AS intra,
           CAST(sum(dc * dc) AS BIGINT) AS sumdeg2
           FROM ${p}dc LEFT JOIN ${p}ec USING (community))"""

  private def modRow(p: String, method: String) =
    s"""SELECT '$method' AS method, n_communities, intra AS intra_edges,
           (SELECT m FROM mm) AS m,
           round(CAST(intra AS DOUBLE) / (SELECT m FROM mm)
                 - CAST(sumdeg2 AS DOUBLE)
                   / (4e0 * (SELECT m FROM mm) * (SELECT m FROM mm)), 6) AS q
        FROM ${p}agg"""

  val oracles: Map[String, String] = Map(
    "graph_closeness" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1")},
          g0 AS (SELECT * FROM (VALUES
               (CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)),
               (CAST(-2 AS BIGINT), CAST(-2 AS BIGINT)),
               (CAST(-3 AS BIGINT), CAST(-3 AS BIGINT)),
               (CAST(-4 AS BIGINT), CAST(-4 AS BIGINT))) t(src, node)),
          t0 AS (SELECT src, node FROM g0),
          ${(1 to 4).map(clsFwd).mkString(",\n")},
          cc AS (SELECT node, sum(w) AS num FROM (
               SELECT node, count(*) * 12 AS w FROM g1 GROUP BY node
               UNION ALL SELECT node, count(*) * 6 FROM g2 GROUP BY node
               UNION ALL SELECT node, count(*) * 4 FROM g3 GROUP BY node
               UNION ALL SELECT node, count(*) * 3 FROM g4 GROUP BY node)
             GROUP BY node)
          SELECT n.node,
                 round(CAST(coalesce(cc.num, 0) AS DOUBLE) / 12e0, 6)
                   AS closeness
          FROM (SELECT DISTINCT a AS node FROM und) n
          LEFT JOIN cc ON n.node = cc.node ORDER BY n.node""",
    "graph_betweenness" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1")},
          f0 AS (SELECT * FROM (VALUES
               (CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(1 AS BIGINT)),
               (CAST(-2 AS BIGINT), CAST(-2 AS BIGINT), CAST(1 AS BIGINT)),
               (CAST(-3 AS BIGINT), CAST(-3 AS BIGINT), CAST(1 AS BIGINT)),
               (CAST(-4 AS BIGINT), CAST(-4 AS BIGINT), CAST(1 AS BIGINT)))
             t(src, node, sigma)),
          s0 AS (SELECT src, node FROM f0),
          ${(1 to 4).map(btwFwd).mkString(",\n")},
          d4 AS MATERIALIZED (SELECT src, node, sigma, 0e0 AS delta FROM f4),
          ${(3 to 0 by -1).map(btwBack).mkString(",\n")}
          SELECT n.node, round(coalesce(b.s, 0e0), 6) AS bc
          FROM (SELECT DISTINCT a AS node FROM und) n
          LEFT JOIN (SELECT node, sum(delta) AS s
                     FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1
                           UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3
                           UNION ALL SELECT * FROM d4)
                     WHERE node <> src GROUP BY node) b
          ON n.node = b.node ORDER BY n.node""",
    "graph_modularity" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1 AND l_partkey % 7 = 0")},
          l0 AS (SELECT a AS n, min(least(a, b)) AS l FROM und GROUP BY a),
          ${(1 to 16).map(ccIter).mkString(",\n")},
          lp0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
          ${(1 to 8).map(lpaIter).mkString(",\n")},
          canon AS MATERIALIZED (SELECT a, b FROM und WHERE a < b),
          degm AS MATERIALIZED (SELECT a AS node, count(*) AS deg
             FROM und GROUP BY a),
          mm AS (SELECT count(*) AS m FROM canon),
          wa AS (SELECT n AS node, l AS community FROM l16),
          la AS (SELECT node, label AS community FROM lp8),
          ${modScore("w", "wa")},
          ${modScore("l", "la")}
          SELECT * FROM (${modRow("w", "wcc")} UNION ALL ${modRow("l", "lpa")})
          ORDER BY method""",
    "graph_hits" ->
      s"""WITH e0 AS MATERIALIZED (
             SELECT DISTINCT -l_suppkey AS a, o_custkey AS b
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          nodes AS MATERIALIZED (SELECT DISTINCT node FROM
             (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)),
          nn AS (SELECT count(*) AS cnt FROM nodes),
          h0 AS (SELECT node, 1.0e0 / cnt AS h FROM nodes, nn),
          ${(1 to 3).map(hitsIter).mkString(",\n")},
          xs AS (SELECT sum(x) AS xs FROM a3),
          hs AS (SELECT sum(h) AS hs FROM h3)
          SELECT n.node,
                 round(coalesce(h.h, 0e0) / (SELECT hs FROM hs)
                       * (SELECT cnt FROM nn), 6) AS hub_x_n,
                 round(coalesce(a.x, 0e0) / (SELECT xs FROM xs)
                       * (SELECT cnt FROM nn), 6) AS auth_x_n
          FROM nodes n LEFT JOIN h3 h ON n.node = h.node
                       LEFT JOIN a3 a ON n.node = a.node
          ORDER BY n.node""",
    "graph_ktruss" ->
      s"""WITH ke0 AS MATERIALIZED (
             SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             FROM lineitem x JOIN lineitem y
               ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             WHERE x.l_quantity <= 25 AND y.l_quantity <= 25
               AND x.l_partkey % 3 = 0 AND y.l_partkey % 3 = 0),
          ${(1 to 10).map(ktIter).mkString(",\n")},
          ktf AS (SELECT x.a AS u, x.b AS v, y.b AS w
             FROM ke10 x JOIN ke10 y ON x.a = y.a AND x.b < y.b
             JOIN ke10 z ON z.a = x.b AND z.b = y.b),
          kpf AS (SELECT a, b, count(*) AS sup FROM (
             SELECT u AS a, v AS b FROM ktf UNION ALL
             SELECT u, w FROM ktf UNION ALL
             SELECT v, w FROM ktf) GROUP BY a, b)
          SELECT e.a, e.b, p.sup
          FROM ke10 e JOIN kpf p USING (a, b)
          ORDER BY e.a, e.b""",
    "graph_eigenvector" ->
      s"""WITH ${edgeSql("")},
          evnodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM und),
          nn AS (SELECT count(*) AS cnt FROM evnodes),
          x0 AS (SELECT node, 1.0e0 / cnt AS x FROM evnodes, nn),
          ${(1 to 3).map(evIter).mkString(",\n")},
          xs AS (SELECT sum(x) AS xs FROM x3)
          SELECT n.node,
                 round(coalesce(x.x, 0e0) / (SELECT xs FROM xs)
                       * (SELECT cnt FROM nn), 6) AS score_x_n
          FROM evnodes n LEFT JOIN x3 x ON n.node = x.node
          ORDER BY n.node""",
    "graph_pagerank" ->
      s"""WITH ${edgeSql("")},
          deg AS (SELECT a, count(*) AS deg FROM und GROUP BY a),
          nn AS (SELECT count(*) AS cnt FROM deg),
          r0 AS (SELECT a AS node, 1.0e0 / cnt AS rank FROM deg, nn),
          ${(1 to 3).map(prIter).mkString(",\n")}
          SELECT node, round(rank * (SELECT cnt FROM nn), 6) AS rank_x_n
          FROM r3 ORDER BY node""",
    "graph_components" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1 AND l_partkey % 7 = 0")},
          l0 AS (SELECT a AS n, min(least(a, b)) AS l FROM und GROUP BY a),
          ${(1 to 16).map(ccIter).mkString(",\n")}
          SELECT n AS node, l AS component FROM l16 ORDER BY node""",
    "graph_node_similarity" ->
      """WITH ef AS (SELECT DISTINCT l_suppkey AS e, o_custkey AS f
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          ok AS (SELECT f FROM ef GROUP BY f HAVING count(*) <= 500),
          c AS (SELECT ef.e, ef.f FROM ef JOIN ok USING (f)),
          sz AS (SELECT e, count(*) AS sz FROM c GROUP BY e),
          p AS (SELECT x.e AS e1, y.e AS e2, count(*) AS inter
                FROM c x JOIN c y ON x.f = y.f AND x.e < y.e GROUP BY 1, 2)
          SELECT e1, e2, inter, s1.sz + s2.sz - inter AS union_sz,
                 round(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) AS jaccard,
                 CAST(floor(inter * 1000000000 / (s1.sz + s2.sz - inter)) AS BIGINT) AS sim_key
          FROM p JOIN sz s1 ON p.e1 = s1.e JOIN sz s2 ON p.e2 = s2.e
          ORDER BY sim_key DESC, e1, e2 LIMIT 20""",
    "graph_coreness" ->
      s"""WITH ${edgeSql("")},
          hc0 AS MATERIALIZED (SELECT a AS node, count(*) AS c
                               FROM und GROUP BY 1),
          ${(1 to 10).map(hciIter).mkString(",\n")}
          SELECT node, c AS coreness FROM hc10 ORDER BY node""",
    // closed-form Pearson over exact integer moments (see the entry
    // comment) — identical op tree to the Spark side, operand for
    // operand, so the result is deterministic rather than
    // corr-implementation-dependent
    "graph_assortativity" ->
      s"""WITH ${edgeSql("")},
          deg AS MATERIALIZED (SELECT a, count(*) AS d FROM und GROUP BY 1),
          mom AS (SELECT sum(d) AS n, sum(d*d) AS m1, sum(d*d*d) AS m2
                  FROM deg),
          nbs AS (SELECT u.b AS b, sum(da.d) AS sa
                  FROM und u JOIN deg da ON u.a = da.a GROUP BY u.b),
          sx AS (SELECT sum(nbs.sa * db.d) AS sxy
                 FROM nbs JOIN deg db ON nbs.b = db.a)
          SELECT CAST(n AS BIGINT) AS n_edges,
                 round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                        CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE)) /
                       (CAST(n AS DOUBLE) * CAST(m2 AS DOUBLE) -
                        CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE)), 4)
                   AS assortativity
          FROM mom, sx""",
    "graph_degree_hist" ->
      s"""WITH ${edgeSql("")},
          deg AS (SELECT a, count(*) AS d FROM und GROUP BY 1)
          SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS bucket,
                 count(*) AS n_nodes, min(d) AS d_min, max(d) AS d_max
          FROM deg GROUP BY 1 ORDER BY bucket""",
    "graph_kcore" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1")},
          s0 AS MATERIALIZED (SELECT DISTINCT a AS n FROM und),
          ${(1 to 12).map(kcIter).mkString(",\n")}
          SELECT u.a AS node, count(*) AS core_degree
          FROM und u JOIN s12 x ON u.a = x.n JOIN s12 y ON u.b = y.n
          GROUP BY u.a ORDER BY node""",
    "graph_bfs" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1")},
          d0 AS (SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 0),
                                       (CAST(-2 AS BIGINT), 0)) t(node, dist)),
          ${(1 to 3).map(bfsIter).mkString(",\n")}
          SELECT node, dist FROM d3 ORDER BY node""",
    "graph_triangles" ->
      """WITH e0 AS MATERIALIZED (
             SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             FROM lineitem x JOIN lineitem y
               ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
             WHERE x.l_quantity <= 25 AND y.l_quantity <= 25),
          deg AS MATERIALIZED (SELECT n, count(*) AS d FROM
             (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
          orient AS MATERIALIZED (
             SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                         THEN e0.a ELSE e0.b END AS u,
                    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                         THEN e0.b ELSE e0.a END AS v,
                    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                         THEN db.d ELSE da.d END AS dv
             FROM e0 JOIN deg da ON e0.a = da.n JOIN deg db ON e0.b = db.n),
          tri AS (SELECT x.u AS tu, x.v AS tv, y.v AS tw
                  FROM orient x JOIN orient y ON x.u = y.u
                    AND (x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v))
                  JOIN orient o ON x.v = o.u AND y.v = o.v),
          tc AS (SELECT n, count(*) AS t FROM
             (SELECT tu AS n FROM tri UNION ALL SELECT tv FROM tri
              UNION ALL SELECT tw FROM tri) GROUP BY n)
          SELECT deg.n AS node, deg.d AS deg,
                 coalesce(tc.t, 0) AS triangles,
                 CASE WHEN deg.d >= 2 THEN
                   round(2e0 * coalesce(tc.t, 0) / (deg.d * (deg.d - 1)), 6)
                 ELSE 0e0 END AS lcc
          FROM deg LEFT JOIN tc ON deg.n = tc.n ORDER BY node""",
    "graph_link_prediction" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem WHERE l_quantity <= 10),
          e0 AS MATERIALIZED (
             SELECT DISTINCT x.pk AS a, y.pk AS b FROM li x JOIN li y
               ON x.ok = y.ok AND x.pk < y.pk),
          und AS MATERIALIZED (
             SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
          deg AS MATERIALIZED (SELECT a AS n, count(*) AS d
             FROM und GROUP BY a),
          ctr AS (SELECT u.a AS w, u.b AS nb, deg.d AS degw
             FROM und u JOIN deg ON deg.n = u.a WHERE deg.d <= 64),
          wedge AS (SELECT x.nb AS u, y.nb AS v, x.degw
             FROM ctr x JOIN ctr y ON x.w = y.w AND x.nb < y.nb),
          cells AS (SELECT u, v, degw, count(*) AS cnt
             FROM wedge GROUP BY 1, 2, 3),
          agg AS (SELECT u, v, CAST(sum(cnt) AS BIGINT) AS cn,
                list(cnt / degw ORDER BY degw) AS terms
             FROM cells GROUP BY u, v),
          cand AS (SELECT g.* FROM agg g
             ANTI JOIN e0 ON e0.a = g.u AND e0.b = g.v),
          top AS (SELECT u, v, cn, terms FROM cand
             ORDER BY cn DESC, u, v LIMIT 50)
          SELECT t.u, t.v, t.cn, du.d * dv.d AS pa,
                 list_reduce(t.terms, (x, y) -> x + y) AS ra
          FROM top t JOIN deg du ON du.n = t.u JOIN deg dv ON dv.n = t.v
          ORDER BY cn DESC, u, v""",
    "graph_lpa" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1 AND l_partkey % 7 = 0")},
          lp0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
          ${(1 to 8).map(lpaIter).mkString(",\n")}
          SELECT node, label FROM lp8 ORDER BY node""",
    "graph_louvain" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1 AND l_partkey % 7 = 0")},
          degv AS MATERIALIZED (SELECT a AS node, count(*) AS deg
             FROM und GROUP BY a),
          mm AS (SELECT count(*) // 2 AS m FROM und),
          lv0 AS (SELECT node, node AS community FROM degv),
          ${(1 to 4).map(louvIter).mkString(",\n")}
          SELECT node, community FROM lv4 ORDER BY node""",
    "graph_louvain_multi" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1 AND l_partkey % 7 = 0")},
          degv AS MATERIALIZED (SELECT a AS node, count(*) AS deg
             FROM und GROUP BY a),
          mm AS (SELECT count(*) // 2 AS m FROM und),
          lv0 AS (SELECT node, node AS community FROM degv),
          ${(1 to 4).map(louvIter).mkString(",\n")},
          sund AS MATERIALIZED (
             SELECT ca.community AS a, cb.community AS b,
                    count(*) AS w
             FROM und u JOIN lv4 ca ON u.a = ca.node
                        JOIN lv4 cb ON u.b = cb.node
             GROUP BY 1, 2),
          sdeg AS MATERIALIZED (SELECT a AS node, sum(w) AS deg
             FROM sund GROUP BY a),
          sv0 AS (SELECT node, node AS community FROM sdeg),
          ${(1 to 4).map(louvWIter).mkString(",\n")}
          SELECT l.node, l.community AS community_l1,
                 s.community AS community
          FROM lv4 l JOIN sv4 s ON s.node = l.community
          ORDER BY l.node""",
    "graph_fastrp" ->
      s"""WITH ${edgeSql("WHERE l_quantity <= 1 AND l_partkey % 7 = 0")},
          degv AS MATERIALIZED (SELECT a AS node, count(*) AS deg
             FROM und GROUP BY a),
          dimt AS (SELECT unnest(range(8)) AS dim),
          fr0 AS MATERIALIZED (SELECT node, dim,
                 CASE ((node * 31 + dim * 1000003 + 777) % 1000000007
                       + 1000000007) % 1000000007 % 6
                   WHEN 0 THEN 1.0e0 WHEN 1 THEN -1.0e0
                   ELSE 0.0e0 END AS val
               FROM degv CROSS JOIN dimt),
          ${(1 to 3).map(frpIter).mkString(",\n")}
          SELECT f2.node, f2.dim, round(f2.val + f3.val, 6) AS val
          FROM fr2 f2 JOIN fr3 f3 USING (node, dim)
          ORDER BY node, dim""",
    "graph_sssp" ->
      s"""WITH we AS (SELECT -l_suppkey AS a, o_custkey AS b,
                 min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE l_quantity <= 1 GROUP BY 1, 2),
          undw AS MATERIALIZED (SELECT a, b, min(w) AS w FROM
             (SELECT a, b, w FROM we UNION ALL SELECT b, a, w FROM we)
             WHERE a <> b GROUP BY a, b),
          c0 AS (SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(0 AS BIGINT)),
                                       (CAST(-2 AS BIGINT), CAST(0 AS BIGINT)))
                 t(node, cost)),
          ${(1 to 4).map(ssspIter).mkString(",\n")}
          SELECT node, cost FROM c4 ORDER BY node""",
    "graph_pagerank_weighted" ->
      s"""WITH e0 AS MATERIALIZED (
             SELECT -l_suppkey AS a, o_custkey AS b,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY 1, 2),
          nodes AS MATERIALIZED (SELECT DISTINCT node FROM
             (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)),
          nn AS (SELECT count(*) AS cnt FROM nodes),
          od AS MATERIALIZED (SELECT a, CAST(sum(w) AS BIGINT) AS outw
                              FROM e0 GROUP BY a),
          r0 AS (SELECT node, 1.0e0 / cnt AS rank FROM nodes, nn),
          ${(1 to 3).map(prWIter).mkString(",\n")}
          SELECT node, round(rank * (SELECT cnt FROM nn), 6) AS rank_x_n
          FROM r3 ORDER BY node""",
    "graph_pagerank_directed" ->
      s"""WITH e0 AS MATERIALIZED (
             SELECT DISTINCT -l_suppkey AS a, o_custkey AS b
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          nodes AS MATERIALIZED (SELECT DISTINCT node FROM
             (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)),
          nn AS (SELECT count(*) AS cnt FROM nodes),
          od AS MATERIALIZED (SELECT a, count(*) AS outd FROM e0 GROUP BY a),
          r0 AS (SELECT node, 1.0e0 / cnt AS rank FROM nodes, nn),
          ${(1 to 3).map(prDirIter).mkString(",\n")}
          SELECT node, round(rank * (SELECT cnt FROM nn), 6) AS rank_x_n
          FROM r3 ORDER BY node""",
    "graph_random_walks" ->
      s"""WITH $walkTraceSql
          SELECT walk_id, step, node FROM trace
          ORDER BY walk_id, step""",
    "graph_node2vec_walks" ->
      s"""WITH $n2vTraceSql
          SELECT walk_id, step, node FROM trace
          ORDER BY walk_id, step""",
    "graph_node2vec_pairs" ->
      s"""WITH $n2vTraceSql
          SELECT l.node AS center, r.node AS context,
                 count(*) AS cnt
          FROM trace l JOIN trace r ON l.walk_id = r.walk_id
          WHERE l.step <> r.step AND abs(l.step - r.step) <= 2
          GROUP BY 1, 2 ORDER BY 1, 2""",
    // B32: the skip-gram pairs as a count-weighted relation, then two
    // weighted-FastRP rounds on the EXACT INTEGER GRID (state = LONG
    // at scale 1e6; each round one exact integer sum + one identical
    // IEEE division + floor — GraphOps.fastRPWeighted scaladoc for
    // the 100× boundary-ulp catch that mandated it). floor, not
    // integer division: DuckDB's BIGINT // truncates toward zero,
    // Spark's floor rounds down — they differ on negatives.
    "graph_node2vec" ->
      s"""WITH $n2vTraceSql,
          prs AS MATERIALIZED (
             SELECT l.node AS center, r.node AS context, count(*) AS cnt
             FROM trace l JOIN trace r ON l.walk_id = r.walk_id
             WHERE l.step <> r.step AND abs(l.step - r.step) <= 2
             GROUP BY 1, 2),
          nwd AS MATERIALIZED (SELECT center AS node, sum(cnt) AS wd
             FROM prs GROUP BY 1),
          ndim AS (SELECT unnest(range(8)) AS dim),
          nv0 AS MATERIALIZED (SELECT node, dim,
                 CASE ((node * 31 + dim * 1000003 + 777) % 1000000007
                       + 1000000007) % 1000000007 % 6
                   WHEN 0 THEN CAST(1000000 AS BIGINT)
                   WHEN 1 THEN CAST(-1000000 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS q
               FROM nwd CROSS JOIN ndim),
          nv1 AS MATERIALIZED (SELECT p.center AS node, x.dim,
                 CAST(floor(CAST(sum(p.cnt * x.q) AS DOUBLE) / max(d.wd))
                      AS BIGINT) AS q
               FROM prs p JOIN nv0 x ON p.context = x.node
               JOIN nwd d ON d.node = p.center
               GROUP BY p.center, x.dim),
          nv2 AS MATERIALIZED (SELECT p.center AS node, x.dim,
                 CAST(floor(CAST(sum(p.cnt * x.q) AS DOUBLE) / max(d.wd))
                      AS BIGINT) AS q
               FROM prs p JOIN nv1 x ON p.context = x.node
               JOIN nwd d ON d.node = p.center
               GROUP BY p.center, x.dim)
          SELECT n1.node, n1.dim,
                 round((n1.q + n2.q) / 1000000.0e0, 6) AS val
          FROM nv1 n1 JOIN nv2 n2 USING (node, dim)
          ORDER BY node, dim""",
    "graph_sample_neighborhood" ->
      s"""WITH ${edgeSql("")},
          sgseeds AS (SELECT DISTINCT a AS node FROM e0 WHERE a % 7 = 0),
          c1 AS (SELECT u.a AS src, u.b AS dst
                 FROM und u JOIN sgseeds s ON u.a = s.node),
          s1 AS MATERIALIZED (
             SELECT 1 AS hop, src, dst FROM (
               SELECT src, dst, row_number() OVER (PARTITION BY src
                 ORDER BY ((src * 31 + dst * 1000003 + 10007)
                           % 1000000007 + 1000000007) % 1000000007, dst)
                 AS rk FROM c1)
             WHERE rk <= 3),
          f1 AS (SELECT DISTINCT dst AS node FROM s1),
          c2 AS (SELECT u.a AS src, u.b AS dst
                 FROM und u JOIN f1 s ON u.a = s.node),
          s2 AS MATERIALIZED (
             SELECT 2 AS hop, src, dst FROM (
               SELECT src, dst, row_number() OVER (PARTITION BY src
                 ORDER BY ((src * 31 + dst * 1000003 + 20014)
                           % 1000000007 + 1000000007) % 1000000007, dst)
                 AS rk FROM c2)
             WHERE rk <= 2)
          SELECT hop, src, dst FROM
            (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
          ORDER BY hop, src, dst""",
    "graph_walk_pairs" ->
      s"""WITH $walkTraceSql
          SELECT l.node AS center, r.node AS context,
                 count(*) AS cnt
          FROM trace l JOIN trace r ON l.walk_id = r.walk_id
          WHERE l.step <> r.step AND abs(l.step - r.step) <= 2
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "graph_pagerank_personalized" ->
      s"""WITH e0 AS MATERIALIZED (
             SELECT DISTINCT -l_suppkey AS a, o_custkey AS b
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          nodes AS MATERIALIZED (SELECT DISTINCT node FROM
             (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)),
          od AS MATERIALIZED (SELECT a, count(*) AS outd FROM e0 GROUP BY a),
          s0 AS (SELECT unnest([-1, -2, -3, -4]) AS node, 0.25e0 AS p),
          pr0 AS (SELECT n.node, coalesce(sp.p, 0e0) AS rank
                  FROM nodes n LEFT JOIN s0 sp ON n.node = sp.node),
          ${(1 to 3).map(pprIter).mkString(",\n")}
          SELECT node, round(rank, 6) AS rank
          FROM pr3 ORDER BY node""",
    "graph_degree" ->
      """SELECT o_custkey AS node_id, count(*) AS out_degree, round(sum(o_totalprice), 4) AS weight
         FROM orders GROUP BY o_custkey ORDER BY node_id""",
    "graph_node_join" ->
      """SELECT c_custkey AS node_id, max(c_name) AS node_name, count(o_orderkey) AS edge_count
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY node_id""",
    "graph_two_hop" ->
      """SELECT o_custkey AS node_id, count(*) AS two_hop_edges
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY o_custkey ORDER BY node_id""",
    "graph_label_counts" ->
      """SELECT label, count(*) AS cnt FROM (
           SELECT unnest([event_type, 'u' || CAST(user_id % 10 AS VARCHAR)]) AS label FROM events)
         GROUP BY label ORDER BY label""",
    "graph_label_storage" ->
      """SELECT label, count(*) AS cnt,
                CAST(sum(octet_length(encode(props))) AS BIGINT) AS props_bytes
         FROM (SELECT unnest([event_type, 'u' || CAST(user_id % 10 AS VARCHAR)]) AS label, props
               FROM events)
         GROUP BY label ORDER BY cnt DESC, label LIMIT 20""",
    "graph_integrity" ->
      """SELECT * FROM (
           SELECT 'lineitem_orders' AS relation, count(*) AS n_edges,
                  count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_orphans
           FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             ON l.l_orderkey = o.o_orderkey
           UNION ALL
           SELECT 'orders_customer' AS relation, count(*) AS n_edges,
                  count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_orphans
           FROM orders r LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON r.o_custkey = c.c_custkey)
         ORDER BY relation"""
  )
}
