package graft.ops

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRankFixedPoint(pairs.toDF("id_a", "id_b"), iters)
      .as[(Long, Long)].collect().toMap

  test("star graph: the hub outranks every leaf") {
    val star = (1L to 6L).map(l => (0L, l))
    val r = ranks(star, iters = 3)
    val hub = r(0L)
    assert((1L to 6L).forall(l => r(l) < hub), s"hub $hub vs $r")
    // leaves are symmetric → identical integer ranks
    assert((1L to 6L).map(r).toSet.size == 1)
  }

  test("path symmetry: mirrored nodes get identical integer ranks") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val r = ranks(path, iters = 4)
    assert(r(0L) == r(4L))
    assert(r(1L) == r(3L))
    assert(r(2L) >= r(1L))
  }

  test("total rank mass stays near n (floor-division loss only shrinks it)") {
    val clique = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val r = ranks(clique, iters = 3)
    val total = r.values.sum
    assert(total <= 5L * 1000000L)
    assert(total > (5L * 1000000L * 95L) / 100L, s"lost too much mass: $total")
  }

  test("triangleCounts: K4 + pendant + 4-cycle, every count hand-checked") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, each node in 3), pendant 5-1 (none),
    // chordless square 6-7-8-9 (none)
    val pairs = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
      Seq((1L, 5L)) ++ Seq((6L, 7L), (7L, 8L), (8L, 9L), (6L, 9L)))
      .toDF("id_a", "id_b")
    val got = graft.ops.Graph.triangleCounts(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // total triangles = Σ per-node / 3
    assert(got.values.sum == 3 * 4)
  }

  test("triangleCounts: two triangles sharing an edge — the adjacency close weights the shared edge's endpoints once per apex") {
    import spark.implicits._
    // round-15 internals: triangles close by per-edge adjacency
    // intersection (triangle_contribs); an edge shared by TWO triangles
    // has a 2-element apex set, so its endpoints must each gain 2 from
    // that single edge row — the weighted-contribution path a
    // one-triangle fixture never exercises
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val got = graft.ops.Graph.triangleCounts(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L), s"got $got")
  }

  test("triangleCounts: a hub contributes no wedges (orientation points at it)") {
    import spark.implicits._
    // star on 0 with 50 leaves + one leaf-leaf edge → exactly 1 triangle
    val star = (1L to 50L).map(i => (0L, i)) :+ (1L, 2L)
    val got = graft.ops.Graph.triangleCounts(star.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 1L), s"got $got")
  }

  test("kCore: the peel cascades down an attached chain; the clique survives intact") {
    import spark.implicits._
    // K5 on {1..5} plus the chain 8-7-6 hanging off vertex 1: at k = 2
    // the chain peels one vertex PER ROUND (6 has degree 1, dropping it
    // exposes 7, then 8) — the cascade the round bound must cover
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val edges = (k5 ++ Seq((1L, 8L), (7L, 8L), (6L, 7L))).toDF("id_a", "id_b")
    val core = graft.ops.Graph.kCore(edges, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == (1L to 5L).map(_ -> 4L).toMap,
      s"2-core must be exactly the K5 with degree 4 each: $core")
    // bounded early: after one round only 6 is gone, so 8 still shows a
    // qualifying degree (its edge to the doomed 7 still counts) — the
    // rounds bound is load-bearing, not decorative
    val partial = graft.ops.Graph.kCore(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(partial.contains(8L),
      s"after 1 round the chain's last vertex must still linger: $partial")
    // a converged set is a fixpoint: extra rounds change nothing
    val extra = graft.ops.Graph.kCore(edges, k = 2, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(extra == core)
  }

  test("labelPropagation: cliques converge to their min id; components stay apart") {
    import spark.implicits._
    // two disconnected triangles (odd cycles converge under synchronous
    // LPA; bipartite structures oscillate — documented in the scaladoc)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
                    (10L, 11L), (11L, 12L), (10L, 12L)).toDF("id_a", "id_b")
    val out = Graph.labelPropagation(pairs, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }
}
