package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-view side of
  * the CDC story: a per-key aggregate STATE that is
  *
  *  - mergeable: `state(base ∪ delta) == merge(state(base),
  *    state(delta))`, so refreshing a 100 TB rollup after an ingest
  *    batch aggregates the BATCH and merges O(|keys|) states instead
  *    of rescanning the base, and
  *  - retractable: rows carry a ±1 multiplicity, so CDC deletes (and
  *    update-as-retract+insert pairs) maintain the same state without
  *    ever touching base rows; keys whose count reaches zero drop out,
  *    mirroring [[graft.cdc.Apply]]'s survivor semantics.
  *
  * Sums quantize to fixed point (×`scale` integer cents) before any
  * shuffle — the engine-exact trick every Stats/Sketches operator uses
  * — so merge order can never change a result.
  */
object Incremental {

  /** Per-key state (signed count + fixed-point signed sum) for one
    * slice of data. `signCol` (values +1/-1) marks retractions; absent
    * means all inserts.
    */
  def aggState(
      df: DataFrame, keys: Seq[String], valueCol: String,
      scale: Long = 100L, signCol: Option[String] = None): DataFrame = {
    val sign = signCol.map(col(_).cast("long")).getOrElse(lit(1L))
    df.groupBy(keys.map(col): _*).agg(
      sum(sign).as("state_cnt"),
      sum(sign * floor(col(valueCol).cast("double") * scale + 0.5).cast("long"))
        .as("state_qsum"))
  }

  /** Merge any number of states: one union + one keyed sum; fully
    * retracted keys (count 0) disappear.
    */
  def merge(keys: Seq[String], states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("state_cnt")).as("state_cnt"),
        sum(col("state_qsum")).as("state_qsum"))
      .filter(col("state_cnt") =!= 0L)

  /** Present a state as (keys, count, exact total, rounded mean). */
  def finish(state: DataFrame, keys: Seq[String], scale: Long = 100L): DataFrame =
    state.select(keys.map(col) ++ Seq(
      col("state_cnt").as("n_rows"),
      (col("state_qsum").cast("double") / scale).as("total_value"),
      TextAnalysis.round6(
        col("state_qsum").cast("double") / col("state_cnt") / scale).as("mean_value")): _*)
}
