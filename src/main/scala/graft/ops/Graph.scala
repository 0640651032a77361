package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond connected components.
  *
  * PageRank here is ENGINE-EXACT by construction: ranks live in
  * integer millionths, per-edge contributions use integer floor
  * division (rank div degree — deterministically losing sub-unit mass
  * instead of accumulating float error), and the damping step is
  * (85·Σ) div 100. Every iteration is therefore a pure integer
  * fixpoint any engine reproduces bit-for-bit — which is what lets a
  * DuckDB oracle certify a 5-line iterative graph algorithm at all.
  * Summation order, the classic float-PageRank nondeterminism, is
  * irrelevant: integer addition commutes exactly.
  *
  * Scale shape per iteration: one join of the rank table against the
  * edge list (shuffle on src), one groupBy(dst) partial-aggregated
  * sum, one left join back to the node set — all keyed, no driver
  * state, lineage cut per iteration (the minLabelComponents pattern).
  */
object Graph {

  /** Fixed-iteration PageRank over an undirected pair list
    * (id_a < id_b, each pair once — the dedup-pair contract). Only
    * edge-incident nodes participate (isolated nodes would all share
    * the base rank). Returns (id, rank) with rank in millionths:
    * rank = 150000 + 850000·(weighted in-neighbor mass).
    */
  def pageRankFixedPoint(pairs: DataFrame, iters: Int): DataFrame = {
    // Adjacency-array iterate (round 16, the tr1 technique applied to
    // the loop): the per-iteration join used to re-shuffle the |E|-row
    // edge list against the rank table every round. The neighbor lists
    // are built ONCE into a |V|-row adjacency table; each round joins
    // |V|×|V| rows, the explode back to per-edge contributions is
    // map-side, and the groupBy(dst) partial-aggregates before its
    // exchange — so a round shuffles O(|V|) rows (plus the packed
    // neighbor arrays once on the build), never |E| rows. Math is
    // unchanged: degree = neighbor-array length, each dst receives the
    // identical integer contribution, and integer addition commutes.
    val adj = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
      .select(col("src"), col("nbrs"), size(col("nbrs")).cast("long").as("degree"))
      .localCheckpoint(true)
    var ranks = adj.select(col("src").as("id"), lit(1000000L).as("rank"))
    for (_ <- 1 to iters) {
      val in = ranks.join(adj, ranks("id") === adj("src"))
        .select(explode(col("nbrs")).as("dst"), expr("rank div degree").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = adj.select(col("src").as("id"))
        .join(in, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(150000L) + expr("(85 * coalesce(in_sum, 0L)) div 100")).as("rank"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** EXACT per-node triangle counts via degree-ordered edge
    * orientation (Suri & Vassilvitskii's MapReduce scheme): every
    * undirected edge points from its (degree, id)-smaller endpoint to
    * the larger, making the orientation acyclic — each triangle then
    * has exactly ONE node with out-degree 2 in it, so counting
    * "wedges at that node whose far endpoints are themselves an
    * oriented edge" counts every triangle exactly once, no DISTINCT,
    * no division by 3. The orientation is the scale trick: out-degree
    * is bounded by O(√m) on any graph, so the wedge join's output is
    * O(m^1.5) worst-case instead of Σdeg² — a hub with a million
    * neighbors contributes NO wedges (everything points at it).
    *
    * Returns (id, n_triangles) for every node in ≥1 triangle. Two
    * keyed self-joins + one explode + one count — all partial-agg'd,
    * no driver state.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val oriented = edges
      .join(deg.select(col("u").as("__au"), col("d").as("du")), col("u") === col("__au"))
      .join(deg.select(col("u").as("__bv"), col("d").as("dv")), col("v") === col("__bv"))
      .filter(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
      .select(col("u"), col("v"))
      .localCheckpoint(true) // read twice (adjacency build + edge list)
    // Round-15 shape: close triangles by ADJACENCY INTERSECTION, not by
    // materializing wedge rows. Each oriented edge (b, c) fetches the
    // sorted out-neighbor arrays N⁺(b) and N⁺(c); their one-pass
    // sorted-merge intersection IS the apex set {u : u→b, u→c} — every
    // triangle found exactly once at its out-degree-2 node, same as the
    // wedge join, because u→b and u→c orient the same way for a fixed
    // triangle. The wedge formulation shuffled Σ outdeg² (u, b, c) ROWS
    // into the closing (b, c) join (~186M wedge rows at sf0.1's dense
    // dup graph); this shuffles the m edges + their adjacency arrays
    // (the same Σ outdeg² longs in the b-side arrays but packed into m
    // rows — ~3× fewer bytes, no 186M-row join, no wedge Generate) and
    // does the close inside whole-stage codegen. Out-degree is O(√m)
    // under the orientation, so arrays stay bounded and the per-edge
    // merge is O(√m).
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .localCheckpoint(true) // read twice (b side + c side)
    oriented
      .select(col("u").as("b"), col("v").as("c"))
      .join(adj.select(col("u").as("b"), col("nbrs").as("nb")), Seq("b"))
      .join(adj.select(col("u").as("c"), col("nbrs").as("nc")), Seq("c"))
      .select(explode(graft.functions.ArrayHashes.triangle_contribs(
        col("b"), col("c"), col("nb"), col("nc"))).as("t"))
      .groupBy(col("t.id").as("id")).agg(sum(col("t.n")).as("n_triangles"))
  }

  /** Bounded SYNCHRONOUS k-core peel over an undirected pair list
    * (id_a < id_b, each pair once): each round recomputes every
    * vertex's degree within the CURRENT edge set and drops all
    * sub-`k` vertices at once — the parallel formulation of the
    * classic sequential peel, converging to the same k-core fixpoint
    * (dropping a vertex only ever lowers neighbors' degrees, so the
    * synchronous and sequential closures agree). `rounds` bounds the
    * iteration like [[pageRankFixedPoint]]'s `iters`: a converged set
    * is a fixpoint, so extra rounds are no-ops, and the FIXED count is
    * what makes a non-recursive SQL oracle possible (unrolled CTEs) —
    * size it to the expected cascade depth (deepest chain of
    * dependent removals), not the graph size.
    *
    * Scale shape per round: one degree aggregation (map-side partials)
    * + two semi joins, all keyed on vertex id; lineage cut per round.
    * Returns (id, core_degree ≥ k) — each survivor's degree within the
    * final surviving set.
    */
  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007) made deterministic: labels start as the node's own id;
    * each round every node adopts its neighbors' MOST FREQUENT label
    * with ties broken to the smallest — no randomized visit order, so
    * the result is a pure function of the graph and both engines run
    * the identical `rounds` updates (the fixed round count is what
    * lets the oracle unroll the recursion as plain CTEs, kCore's
    * argument; LPA converges in a handful of rounds on the near-clique
    * communities this pipeline feeds it). Known synchronous-LPA
    * caveat: BIPARTITE structures (isolated edges, stars, even cycles)
    * oscillate with period 2 instead of converging — deterministic,
    * but such 2-colorable fragments report as split communities; odd
    * cycles (any near-clique) converge.
    *
    * Scale shape per round: one data-sized join from edges onto the
    * |V|-row label table (keyed on dst), one (node, label) count with
    * map-side partials, one per-node argmax aggregation — all keyed
    * shuffles, lineage cut per round. Returns (id, label).
    */
  def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame = {
    // Adjacency-array iterate (round 16, same argument as
    // [[pageRankFixedPoint]]): each round used to re-shuffle the
    // |E|-row symmetric edge list against the label table. The
    // neighbor lists fold ONCE into a |V|-row table keyed by dst (the
    // label-lookup side); a round joins |V|×|V| rows, explodes the
    // srcs map-side — the identical (src, label) multiset the edge
    // join produced — and both aggregations partial-aggregate before
    // their exchanges.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val adjIn = edges.groupBy(col("dst"))
      .agg(collect_list(col("src")).as("srcs"))
      .localCheckpoint(true)
    var labels = adjIn.select(col("dst").as("id"))
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val counts = adjIn
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .select(explode(col("srcs")).as("src"), col("label"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      labels = counts.groupBy(col("src"))
        .agg(min_by(col("label"), struct((-col("cnt")).as("n"), col("label")))
          .as("label"))
        .select(col("src").as("id"), col("label"))
        .localCheckpoint(true)
    }
    labels
  }

  def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // materialized: surv feeds BOTH semi joins, and the differing
      // projections defeat exchange reuse — unmaterialized, the full
      // degree aggregation over the edge set would run twice per round
      // (the triangleCounts `oriented` argument)
      val surv = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src"))
        .localCheckpoint(true)
      edges = edges
        .join(surv, Seq("src"), "left_semi")
        .join(surv.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(true)
    }
    edges.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
      .select(col("src").as("id"), col("core_degree"))
  }
}
