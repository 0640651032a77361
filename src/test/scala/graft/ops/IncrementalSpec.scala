package graft.ops

import graft.SparkSpec

/** The two algebraic properties incremental maintenance rests on:
  * states merge associatively, and ±1 multiplicities retract — a CDC
  * delete stream maintains the aggregate without touching base rows.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")

  test("state(base)⊕state(delta) equals state(all), any split") {
    val all = Seq(("a", 1.10), ("a", 2.20), ("b", 3.30), ("b", 4.40), ("c", 5.50))
      .toDF("k", "v")
    val full = Incremental.finish(
      Incremental.aggState(all, keys, "v"), keys).collect().toSet
    for (splitAt <- 1 to 4) {
      val base = all.limit(splitAt)
      val delta = all.except(base) // values distinct ⇒ clean complement
      val merged = Incremental.finish(Incremental.merge(keys,
        Incremental.aggState(base, keys, "v"),
        Incremental.aggState(delta, keys, "v")), keys).collect().toSet
      assert(merged == full, s"split at $splitAt diverged")
    }
  }

  test("retraction: deletes subtract and fully-retracted keys disappear") {
    val base = Incremental.aggState(
      Seq(("a", 1.00), ("a", 2.00), ("b", 9.00)).toDF("k", "v"), keys, "v")
    // CDC batch: delete (a, 2.00), delete (b, 9.00), insert (a, 4.00)
    val changes = Seq(("a", 2.00, -1L), ("b", 9.00, -1L), ("a", 4.00, 1L))
      .toDF("k", "v", "sign")
    val delta = Incremental.aggState(changes, keys, "v", signCol = Some("sign"))
    val out = Incremental.finish(Incremental.merge(keys, base, delta), keys)
      .as[(String, Long, Double, Double)].collect()
      .map { case (k, n, tot, _) => k -> ((n, tot)) }.toMap
    assert(out == Map("a" -> ((2L, 5.00)))) // b fully retracted, a = 1+4
  }
}
