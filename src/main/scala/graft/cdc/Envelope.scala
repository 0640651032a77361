package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.DebeziumDecimalDecode.debezium_decimal

/** Debezium envelope parsing + wire-type normalization.
  *
  * Reference behavior being reproduced (not its implementation):
  *  - payload unwrap tolerating schema-ful and schema-less envelopes
  *    (`CdcKafkaConsumer.java:161-217`)
  *  - op decode c/u/d/r → INSERT/UPDATE/DELETE/INSERT (`CdcEvent.java:175-185`)
  *  - image coalesce: DELETE reads `before`, else `after` (`CdcEvent.java:132-137`)
  *  - NUMBER arrives as string or VariableScaleDecimal struct
  *    (`CdcSyncService.java:267-297`)
  *  - temporal epoch micro/milli/days disambiguated by magnitude
  *    (`CdcSyncService.java:246-265`) — here only applied to columns the
  *    config registry declares Temporal (schema-driven, replacing the
  *    name heuristic of `CdcSyncService.java:154-162`)
  *
  * Strategy: images are first parsed with an all-`StringType` schema —
  * Spark's JSON reader captures nested objects as raw JSON text under a
  * StringType field, which is exactly the tolerance we need for the
  * decimal struct variant — then each column is normalized per its
  * declared wire type. Everything is native expressions (from_json,
  * when/cascade, the custom debezium_decimal), so the
  * whole normalize stage stays inside whole-stage codegen and is a
  * narrow (no-shuffle) transformation at any scale.
  */
object Envelope {

  /** P11: uppercase column-name normalization at the ingest boundary
    * (`CdcSyncService.java:156,164` uppercases JSON keys to match Oracle
    * columns).
    */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toUpperCase): _*)

  /** op code → logical operation (`CdcEvent.java:175-185`). */
  def decodeOp(op: Column): Column =
    when(op === "c", "INSERT")
      .when(op === "u", "UPDATE")
      .when(op === "d", "DELETE")
      .when(op === "r", "INSERT") // snapshot read replays as INSERT
      .otherwise("UNKNOWN")

  /** Magnitude-heuristic epoch decode (`CdcSyncService.java:246-265`):
    * ≥10^14 ⇒ micros, <10^5 ⇒ epoch days, else millis.
    */
  def epochAuto(v: Column): Column = {
    val asLong = v.cast(LongType)
    when(asLong.isNull, lit(null).cast(TimestampType))
      .when(abs(asLong) >= 100000000000000L, timestamp_micros(asLong))
      .when(abs(asLong) < 100000L,
        date_add(to_date(lit("1970-01-01")), asLong.cast(IntegerType)).cast(TimestampType))
      .otherwise(timestamp_millis(asLong))
  }

  /** Envelope schema: op/ts_ms/source plus `before`/`after` images of
    * type `img`.
    */
  private def envelopeSchema(img: DataType): StructType =
    StructType(Seq(
      StructField("op", StringType),
      StructField("ts_ms", LongType),
      StructField("source", StructType(Seq(
        StructField("schema", StringType),
        StructField("table", StringType)))),
      StructField("before", img),
      StructField("after", img)))

  /** Normalize one raw-string image column to its engine type. */
  def normalizeColumn(img: Column, name: String, wt: WireType): Column = {
    val c = img.getField(name)
    wt match {
      case WireType.Str => c
      case WireType.Temporal => epochAuto(c)
      case WireType.Num =>
        // plain string (decimal.handling.mode=string) or the
        // VariableScaleDecimal struct captured as raw JSON text
        when(c.isNull, lit(null).cast(DecimalType(38, 10)))
          .when(c.startsWith("{"), debezium_decimal(c))
          .otherwise(c.cast(DecimalType(38, 10)))
    }
  }

  /** The one envelope unwrap both parsers share: the `from_json` of
    * `value` against a superset schema (the envelope's top-level fields
    * AND a `{"schema":…, "payload":…}` wrapper,
    * `CdcKafkaConsumer.java:170-174`) — whichever half parsed non-null
    * wins; the op decode; `source_ts` / `source_schema` /
    * `source_table`; the image rule as `_img`; and the null filter.
    * Corrupt / unparseable payloads yield null images and are dropped,
    * matching the reference's skip-on-parse-failure
    * (`CdcKafkaConsumer.java:213-216`).
    */
  private def unwrap(raw: DataFrame, img: DataType): DataFrame = {
    val envSchema = envelopeSchema(img)
    val outer = StructType(envSchema.fields :+ StructField("payload", envSchema))
    // opaque(): optimizer barrier so the wide from_json runs ONCE per
    // row — without it, project-collapse + per-field JSON pruning
    // re-parse the envelope once per referenced field (measured 27×).
    // The opaque sits on the PARSE itself (round 16), not the combined
    // wrapper-coalesce: wrapping the when/otherwise still duplicated
    // the from_json child into the condition AND the winning branch —
    // two full parses per row in the shipped plan. Building the
    // coalesce from attribute references parses exactly once.
    val parsed = graft.functions.ArrayHashes.opaque(from_json(col("value"), outer))
    raw.withColumn("_parsed", parsed)
      .withColumn("_env",
        when(col("_parsed.payload").isNotNull, col("_parsed.payload"))
          .otherwise(struct(envSchema.fieldNames.map(n =>
            col("_parsed").getField(n).as(n)): _*)))
      .withColumn("op", col("_env.op"))
      .withColumn("operation", decodeOp(col("op")))
      .withColumn("source_ts", timestamp_millis(col("_env.ts_ms")))
      .withColumn("source_schema", col("_env.source.schema"))
      .withColumn("source_table", col("_env.source.table"))
      // image coalesce: DELETE → before, else after (CdcEvent.java:132-137)
      .withColumn("_img",
        when(col("operation") === "DELETE", col("_env.before")).otherwise(col("_env.after")))
      .filter(col("_env").isNotNull && col("op").isNotNull && col("_img").isNotNull)
  }

  private def metaCols =
    Seq("operation", "source_ts", "source_schema", "source_table").map(col)

  /** Parse raw Kafka-shaped records (`value` string column) for one table
    * side into normalized CDC events:
    * operation, source_ts, source_schema, source_table, <data cols…>.
    * Images parse with an all-`StringType` schema, then each column is
    * normalized per its declared wire type.
    */
  def parse(raw: DataFrame, side: TableSide): DataFrame = {
    val dataCols = side.columns.map { case (n, wt) =>
      normalizeColumn(col("_img"), n, wt).as(n)
    }
    unwrap(raw, StructType(side.columnNames.map(StructField(_, StringType))))
      .select(metaCols ++ dataCols: _*)
  }

  // ---- generic schemaless path (SURVEY §1.3) ------------------------------

  /** Column-name heuristic marking temporal columns when no schema is
    * registered (`CdcSyncService.java:154-162`): names containing
    * DATE/TIME (incl. TIMESTAMP) or ending in _AT. Applied to
    * already-uppercased keys.
    */
  val temporalNamePattern = "DATE|TIME|_AT$"

  /** Parse envelopes from an UNREGISTERED topic (the reference's Java
    * layer is fully schemaless, `CdcSyncService.java:140-166`): same
    * op decode / image coalesce / wrapper tolerance as `parse`, but the
    * image lands as a `MapType(String,String)` column (`image`, keys
    * uppercased per P11) plus `image_ts` — the name-pattern temporal
    * columns decoded with the P5 magnitude heuristic.
    *
    * The map transforms are higher-order Column functions (interpreted):
    * acceptable for the compat fallback path, which exists so an unknown
    * table syncs at all; registered tables take the codegen'd `parse`.
    */
  def parseSchemaless(raw: DataFrame): DataFrame =
    unwrap(raw, MapType(StringType, StringType))
      // opaque: the interpreted map HOFs below are re-evaluated per
      // downstream REFERENCE when project-collapse inlines them — a
      // consumer extracting four fields re-ran transform_keys four
      // times and the rlike/epochAuto chain twice per row (round 16:
      // cdc2 spent more re-evaluating the maps than parsing the JSON).
      // The barrier pins each map to one evaluation per row.
      .withColumn("image", graft.functions.ArrayHashes.opaque(
        transform_keys(col("_img"), (k, _) => upper(k))))
      .withColumn("image_ts", graft.functions.ArrayHashes.opaque(transform_values(
        map_filter(col("image"), (k, _) => k.rlike(temporalNamePattern)),
        (_, v) => epochAuto(v))))
      .select(metaCols ++ Seq(col("image"), col("image_ts")): _*)
}
