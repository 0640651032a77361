package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Config-driven schema transformation (SURVEY.md §2.3, T1–T7).
  *
  * The reference implements these per table in PL/SQL stage-1 workers
  * (`tobe-oracle/init/04_create_procedures.sql:159-172` etc.); here one
  * generated `select` per TableMapping covers every kind:
  * Direct=rename, CodeMapped=literal map lookup + COALESCE fallback,
  * YnToBit/BitToYn=CASE, CastTimestamp/CastDate=cast+NVL, DefaultLit /
  * DefaultNow=literals, drop=absence. A code map is ≤ 25 rows, so it
  * rides in the plan as a map literal — the reference's scalar
  * `FN_CONVERT_CODE` (`asis…03_create_mapping_tables.sql:40-59`), not a
  * join: the transform is one narrow projection.
  */
object Transform {

  /** Deterministic "now" injection point; tests pass a fixed literal,
    * production uses current_timestamp(). The reference's SYSDATE
    * defaults are equally nondeterministic (`tobe…04:95-96`).
    */
  def apply(
      events: DataFrame,
      mapping: TableMapping,
      direction: Direction.Value,
      now: Column = current_timestamp()): DataFrame = {

    val specs = mapping.specsFor(direction)
    require(specs.nonEmpty, s"${mapping.entity} does not sync in $direction")
    val sys = Direction.sourceSystem(direction)

    def resolve(spec: ColumnSpec): Column = spec match {
      case ColumnSpec.Direct(src) => col(src)
      case ColumnSpec.CodeMapped(src, group) =>
        val codes = CodeMapping.defaultRows
          .filter(r => r.MAP_GROUP == group && r.SOURCE_SYSTEM == sys)
          .map(r => r.SOURCE_VALUE -> r.TARGET_VALUE).toMap
        // miss ⇒ pass source value through (FN_CONVERT_CODE fallback,
        // asis…03_create_mapping_tables.sql:56-57); element_at yields
        // null for a missing key
        coalesce(element_at(typedLit(codes), col(src)), col(src))
      case ColumnSpec.YnToBit(src) =>
        when(col(src) === "Y", lit(1)).otherwise(lit(0)).cast("decimal(38,10)")
      case ColumnSpec.BitToYn(src) =>
        when(col(src).cast("int") === 1, "Y").otherwise("N")
      case ColumnSpec.CastTimestamp(src, defaultNow) =>
        if (defaultNow) coalesce(col(src).cast("timestamp"), now)
        else col(src).cast("timestamp")
      case ColumnSpec.CastDate(src) =>
        // Oracle DATE keeps date+time at SECOND precision — truncate
        // fractional seconds only. (Day-truncation would break loop
        // prevention: the ASIS→TOBE→ASIS round trip must preserve
        // values so the echo's post-transform hash matches.)
        date_trunc("SECOND", col(src)).cast("timestamp")
      case ColumnSpec.DefaultLit(v) => lit(v)
      case ColumnSpec.DefaultNow => now
    }

    val targetCols = specs.map { case (name, spec) => resolve(spec).as(name) }
    val meta = Seq("operation", "source_ts").filter(events.columns.contains)
      .map(col)
    events.select(meta ++ targetCols: _*)
  }
}
