package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conflict-resolution policies — designed but unimplemented in the
  * reference (`docs/02-설계/04_충돌_정책.md:14-24`): LWW, side-priority,
  * and FIELD_MERGE (`docs/02-설계/03_케이스_분류.md:379-426`). Implemented
  * here as the design docs specify, flagged Draft there.
  */
object Conflict {

  /** Last-write-wins: newest row per key by (ts, tiebreak). */
  def lww(df: DataFrame, pk: String, ts: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(pk)).orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Side priority: on key conflict keep the preferred side's whole row. */
  def sidePriority(preferred: DataFrame, other: DataFrame, pk: String): DataFrame =
    preferred.unionByName(other.join(preferred.select(pk), Seq(pk), "left_anti"))

  /** FIELD_MERGE: full-outer join of two change sets; each column takes
    * the preferred side's value unless null, falling back column-wise —
    * the documented column-coalesce merge of conflicting changes.
    */
  def fieldMerge(preferred: DataFrame, fallback: DataFrame, pk: String,
      cols: Seq[String]): DataFrame = {
    val a = preferred.select(col(pk) +: cols.map(c => col(c).as(s"__a_$c")): _*)
    val b = fallback.select(col(pk) +: cols.map(c => col(c).as(s"__b_$c")): _*)
    a.join(b, Seq(pk), "full_outer")
      .select(col(pk) +: cols.map(c => coalesce(col(s"__a_$c"), col(s"__b_$c")).as(c)): _*)
  }
}
