package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal relational operators Spark lacks as built-ins: as-of join,
  * gap sessionization, bounded range join.
  *
  * Scale design:
  *  - asOfJoin: the classic union + running-last trick — ONE shuffle on
  *    the key, a single cumulative window pass, zero pair explosion.
  *    The naive formulation (theta-join on `r.ts <= l.ts` + max) is a
  *    range join that degenerates to per-key cartesian; this one is
  *    O(n log n) per key and AQE-friendly.
  *  - sessionize: lag + running sum over one (key)-partitioned window —
  *    the session groupBy that follows reuses the same hash
  *    partitioning, so the whole chain is one exchange.
  *  - countInPrecedingRange: band the build side into window-width
  *    buckets and explode the probe side to its two candidate buckets —
  *    join fan-out is bounded by actual temporal locality, never the
  *    per-key cross product a raw inequality join plans as
  *    (BroadcastNestedLoopJoin — the thing this operator exists to
  *    avoid at 100 TB).
  */
object Temporal {

  /** As-of join: attach to each left row the payload of the LATEST right
    * row with `rightTs <= leftTs` for the same `key` (left rows with no
    * such right row keep null payloads — left-outer semantics).
    *
    * Ties: a right row at exactly the left timestamp matches; among
    * right rows sharing (key, ts) the one with the greatest `rightTie`
    * wins (deterministic).
    *
    * `right`'s non-key, non-ts columns are the payload and must not
    * collide with left column names. Implemented as union + cumulative
    * `last(_, ignoreNulls)` so the plan is one hash exchange on `key`
    * plus one window sort — no range join, no candidate explosion.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightTie: String): DataFrame = {
    val lCols = left.columns.filterNot(_ == key)
    val payload = right.columns.filterNot(c => c == key || c == rightTs || c == rightTie)
    val lSide = left
      .select(Seq(col(key), col(leftTs).as("_ts"), lit(1).as("_side"),
        lit(Long.MaxValue).as("_tie")) ++
        lCols.map(col) ++
        payload.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rSide = right
      .select(Seq(col(key), col(rightTs).as("_ts"), lit(0).as("_side"),
        col(rightTie).cast("long").as("_tie")) ++
        lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(col): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ts"), col("_side"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // all fills share one window spec -> a single WindowExec pass
    val filled = payload.foldLeft(lSide.unionByName(rSide)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col("_side") === 1).drop("_ts", "_side", "_tie")
  }

  /** Gap-based sessionization: adds `session_idx` (1-based, per key, in
    * time order) that increments whenever the gap to the previous event
    * of the same key exceeds `gapSec`. `tie` breaks equal timestamps
    * deterministically. One shuffle on `key`; downstream per-session
    * aggregation reuses the partitioning.
    */
  def sessionize(df: DataFrame, key: String, ts: String, tie: String,
      gapSec: Long): DataFrame = {
    val order = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val prev = lag(col(ts), 1).over(order)
    val brk = when(prev.isNull ||
      unix_micros(col(ts)) - unix_micros(prev) > gapSec * 1000000L, 1).otherwise(0)
    df.withColumn("_brk", brk)
      .withColumn("session_idx", sum(col("_brk"))
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_brk")
  }

  /** For each probe row, count build rows of the same `key` with
    * timestamp in `(probeTs - windowSec, probeTs]`. Probe rows with no
    * build rows in range get 0.
    *
    * Bucketized band join: build rows key on their window-width bucket;
    * each probe row explodes to exactly TWO candidate buckets, so the
    * shuffle fan-out is 2× probe + 1× build and the exact range
    * predicate only runs on temporally-local candidates.
    */
  def countInPrecedingRange(probe: DataFrame, probeId: String,
      build: DataFrame, key: String, probeTs: String, buildTs: String,
      windowSec: Long, outCol: String): DataFrame = {
    val wUs = windowSec * 1000000L
    val b = build.select(col(key), unix_micros(col(buildTs)).as("_bus"))
      .withColumn("_bucket", expr(s"_bus div ${wUs}L"))
    val p = probe.select(col(probeId), col(key), unix_micros(col(probeTs)).as("_pus"))
      .withColumn("_bucket",
        explode(array(expr(s"_pus div ${wUs}L") - 1, expr(s"_pus div ${wUs}L"))))
    val counts = p.join(b, Seq(key, "_bucket"))
      .filter(col("_bus") > col("_pus") - wUs && col("_bus") <= col("_pus"))
      .groupBy(col(probeId)).agg(count(lit(1)).as(outCol))
    probe.join(counts, Seq(probeId), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(0L)))
  }
}
