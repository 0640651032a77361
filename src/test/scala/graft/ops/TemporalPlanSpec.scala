package graft.ops

import graft.SparkSpec

/** Plan-shape assertions: the scale claims for the temporal operators
  * are properties of the physical plan, so pin them in tests — a
  * regression to a nested-loop range join would pass row-level checks
  * and only show up as a 100× slowdown at scale.
  */
class TemporalPlanSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val left = Seq((1L, 10L, ts("2024-01-01 10:00:00")))
    .toDF("l_id", "user_id", "l_ts")
  private lazy val right = Seq((10L, ts("2024-01-01 09:00:00"), 1L, 5.0))
    .toDF("user_id", "r_ts", "r_tie", "payload")

  test("asOfJoin plans as window-over-union: no join operator at all") {
    val plan = Temporal.asOfJoin(left, right, "user_id", "l_ts", "r_ts", "r_tie")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert(plan.contains("Window"), "expected a window pass")
    assert(plan.contains("Union"), "expected a union")
  }

  test("countInPrecedingRange plans an equi-join, never a nested loop") {
    val probe = Seq((1L, 10L, ts("2024-01-01 10:00:00")))
      .toDF("p_id", "user_id", "p_ts")
    val build = Seq((10L, ts("2024-01-01 09:30:00"))).toDF("user_id", "ts")
    val plan = Temporal.countInPrecedingRange(probe, "p_id", build,
        "user_id", "p_ts", "ts", 3600L, "n")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degraded to nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join:\n$plan")
  }

  test("naive as-of formulation DOES plan a nested loop (the thing we avoid)") {
    // documents why asOfJoin exists: the direct theta-join form
    val naive = left.join(right,
      left("user_id") === right("user_id") && right("r_ts") <= left("l_ts"))
    val plan = naive.queryExecution.executedPlan.toString
    // Spark turns the equality into a hash join ONLY if the range
    // predicate can be a post-filter; with a pure inequality join key
    // mix this is fine — but drop the equality and it nested-loops:
    val pureRange = left.join(right, right("r_ts") <= left("l_ts"))
    assert(pureRange.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
