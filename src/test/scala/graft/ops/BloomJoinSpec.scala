package graft.ops

import graft.SparkSpec

/** Bloom-pruned join: the pruning pass keeps a SUPERSET of the true
  * matches (no false negatives — soundness), drops the overwhelming
  * majority of non-matching fact rows (the point), stays shuffle-free
  * itself (the 100 TB pin), and the full join is row-identical to the
  * plain join even when a tiny filter forces false positives.
  */
class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  private def fact = (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "fv")
  // dim keys: every 100th fact key + some keys absent from the fact
  private def dim = ((100L to 5000L by 100L) ++ Seq(90001L, 90002L))
    .map(i => (i, s"d$i")).toDF("k", "dv")

  test("pruning keeps every true match and drops almost everything else") {
    val pruned = Skew.bloomPruneFact(fact, dim, "k", mBits = 1 << 14, k = 4)
      .select("k").as[Long].collect().toSet
    val trueMatches = (100L to 5000L by 100L).toSet
    assert(trueMatches.subsetOf(pruned), "a false NEGATIVE breaks the join")
    // 50 true matches out of 5000 fact rows: the prune must remove the
    // bulk (the fp rate at 16384 bits / 52 keys / k=4 is ~0)
    assert(pruned.size < 200,
      s"prune kept ${pruned.size} of 5000 — the filter isn't filtering")
  }

  test("join result is row-identical to the plain join, even under forced false positives") {
    // 64 bits total → heavy false-positive rate: the prune passes junk,
    // the real join must remove it
    val viaBloom = Skew.bloomPrunedJoin(fact, dim, "k", mBits = 64, k = 2)
      .select("k", "fv", "dv").as[(Long, String, String)].collect().toSet
    val plain = fact.join(dim, Seq("k"))
      .select("k", "fv", "dv").as[(Long, String, String)].collect().toSet
    assert(viaBloom == plain)
    // and left_semi parity
    val semiBloom = Skew.bloomPrunedJoin(fact, dim, "k", mBits = 64, k = 2,
      joinType = "left_semi").select("k").as[Long].collect().toSet
    val semiPlain = fact.join(dim, Seq("k"), "left_semi")
      .select("k").as[Long].collect().toSet
    assert(semiBloom == semiPlain)
  }

  test("the pruning pass plans with no exchange on the fact side") {
    val pruned = Skew.bloomPruneFact(fact, dim, "k", mBits = 1 << 14, k = 4)
    val plan = pruned.queryExecution.executedPlan.toString
    // the k word-table joins must all be broadcast; the only exchanges
    // allowed are the CONSTANT-SIZE bloom-build groupBys (partitioned
    // on the filter's word index) — the fact itself must never shuffle
    // before the filtering
    assert(plan.contains("BroadcastHashJoin"))
    val exchanges = "Exchange hashpartitioning\\(\\w+".r
      .findAllIn(plan).toSeq
    assert(exchanges.forall(_.contains("(word")),
      s"prune must only shuffle the word table, found: $exchanges\n$plan")
  }

  test("outer join types refuse loudly — pruning would drop their unmatched rows") {
    val e = intercept[IllegalArgumentException] {
      Skew.bloomPrunedJoin(fact, dim, "k", joinType = "left")
    }
    assert(e.getMessage.contains("only sound"))
  }
}
