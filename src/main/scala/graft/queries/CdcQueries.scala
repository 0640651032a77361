package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.cdc._
import graft.ops.Ranking

/** CDC operator semantics (SURVEY.md §2.2 P1/P5, §2.8 ST1/ST5-ST7)
  * certified against the DuckDB oracle by modeling `events` as a CDC
  * change stream: event_type ⇒ op (signup=INSERT, error=DELETE, else
  * UPDATE), event_id ⇒ CDC_SEQ, user_id ⇒ pk.
  *
  * These queries run the REAL engine code paths (`Envelope.decodeOp`,
  * `Envelope.epochAuto`, `Apply.applyBatch`) — the oracle SQL re-states
  * the same semantics independently, so a hash match certifies the
  * library, not a copy of the SQL.
  */
object CdcQueries extends QueryPack {

  private def asChanges(ev: DataFrame): DataFrame =
    ev.select(
      col("event_id").as("seq"),
      col("user_id").as("id"),
      when(col("event_type") === "signup", "INSERT")
        .when(col("event_type") === "error", "DELETE")
        .otherwise("UPDATE").as("operation"),
      col("value"))

  private def baseSnapshot(ev: DataFrame): DataFrame =
    ev.filter(col("user_id") % 2 === 0).select(col("user_id").as("id")).distinct()
      .withColumn("value", lit(0.0))

  private val chSql =
    """SELECT event_id AS seq, user_id AS id,
      |  CASE event_type WHEN 'signup' THEN 'INSERT' WHEN 'error' THEN 'DELETE'
      |       ELSE 'UPDATE' END AS operation, value
      |FROM events""".stripMargin

  private val baseSql =
    """SELECT id, 0.0 AS value FROM
      |  (SELECT DISTINCT user_id AS id FROM events WHERE user_id % 2 = 0)""".stripMargin

  // ---- P1: Debezium op-code decode (c/u/d/r → INSERT/UPDATE/DELETE) ------
  // Runs Envelope.decodeOp (CdcEvent.java:175-185 semantics).
  private def p1OpDecode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val op = when(col("event_type") === "signup", "c")
      .when(col("event_type") === "click", "u")
      .when(col("event_type") === "error", "d")
      .when(col("event_type") === "view", "r")
      .otherwise("x")
    ev.select(col("event_id"), op.as("op"), Envelope.decodeOp(op).as("operation"))
      .orderBy(col("event_id"))
  }

  private val p1Sql =
    """SELECT event_id, op,
      |  CASE op WHEN 'c' THEN 'INSERT' WHEN 'u' THEN 'UPDATE' WHEN 'd' THEN 'DELETE'
      |       WHEN 'r' THEN 'INSERT' ELSE 'UNKNOWN' END AS operation
      |FROM (SELECT event_id,
      |  CASE event_type WHEN 'signup' THEN 'c' WHEN 'click' THEN 'u'
      |       WHEN 'error' THEN 'd' WHEN 'view' THEN 'r' ELSE 'x' END AS op
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  // ---- P5: epoch-variant temporal decode (magnitude heuristic) -----------
  // Runs Envelope.epochAuto (CdcSyncService.java:246-265 semantics) on
  // synthesized micro/milli/day encodings.
  private def p5EpochDecode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val v = when(col("event_id") % 3 === 0, col("event_id") % 40000)
      .when(col("event_id") % 3 === 1, lit(1700000000000L) + col("event_id") * 1000L)
      .otherwise(lit(1700000000000000L) + col("event_id"))
    ev.select(col("event_id"), v.as("raw_epoch"),
        Envelope.epochAuto(v).as("decoded_ts"))
      .orderBy(col("event_id"))
  }

  private val p5Sql =
    """SELECT event_id, raw_epoch,
      |  CASE
      |    WHEN abs(raw_epoch) >= 100000000000000 THEN make_timestamp(raw_epoch)
      |    WHEN abs(raw_epoch) < 100000 THEN CAST(DATE '1970-01-01' + CAST(raw_epoch AS INTEGER) AS TIMESTAMP)
      |    ELSE epoch_ms(raw_epoch)
      |  END AS decoded_ts
      |FROM (SELECT event_id,
      |  CASE
      |    WHEN event_id % 3 = 0 THEN event_id % 40000
      |    WHEN event_id % 3 = 1 THEN 1700000000000 + event_id * 1000
      |    ELSE 1700000000000000 + event_id
      |  END AS raw_epoch FROM events)
      |ORDER BY event_id""".stripMargin

  // ---- ST1: hash-window loop suppression (batch form) --------------------
  // Same post-transform hash re-arriving within the window ⇒ blocked
  // (FN_IS_LOOP, asis…04:31-44). Batch emulation: lag over the hash
  // partition; the exact sequential/stateful form lives in streaming
  // (graft.streaming). Window stretched to 3 days so the testdata
  // exercises both branches.
  private def st1LoopBlock(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val hash = sha2(concat_ws("|", col("user_id").cast("string"), col("event_type")), 256)
    val w = Window.partitionBy(col("change_hash")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("change_hash", hash)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("loop_blocked",
        col("prev_ts").isNotNull && col("ts") <= col("prev_ts") + expr("INTERVAL 3 DAYS"))
      .select(col("event_id"), col("change_hash"), col("loop_blocked"))
      .orderBy(col("event_id"))
  }

  private val st1Sql =
    """SELECT event_id, change_hash,
      |  prev_ts IS NOT NULL AND ts <= prev_ts + INTERVAL 3 DAY AS loop_blocked
      |FROM (
      |  SELECT event_id, ts,
      |    sha256(concat_ws('|', CAST(user_id AS VARCHAR), event_type)) AS change_hash,
      |    LAG(ts, 1) OVER (PARTITION BY sha256(concat_ws('|', CAST(user_id AS VARCHAR), event_type))
      |                     ORDER BY ts, event_id) AS prev_ts
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  // ---- ST5/ST6/ST7: ordered CDC apply (net state) ------------------------
  // Runs Apply.applyBatch; the oracle restates the per-key existence
  // state machine independently in SQL.
  private def st5ApplyMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val r = Apply.applyBatch(baseSnapshot(ev), asChanges(ev), "id", "seq", Seq("value"))
    r.target.orderBy(col("id"))
  }

  private val st5Sql =
    s"""WITH base AS ($baseSql),
      |ch AS ($chSql),
      |flags AS (
      |  SELECT c.*, b.id IS NOT NULL AS in_base,
      |    LAST_VALUE(CASE WHEN c.operation <> 'UPDATE' THEN c.operation END IGNORE NULLS)
      |      OVER (PARTITION BY c.id ORDER BY c.seq
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id_op,
      |    LAST_VALUE(CASE WHEN c.operation <> 'UPDATE' THEN c.operation END IGNORE NULLS)
      |      OVER (PARTITION BY c.id ORDER BY c.seq
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id_op
      |  FROM ch c LEFT JOIN base b ON c.id = b.id),
      |f2 AS (
      |  SELECT *,
      |    operation = 'INSERT' OR (operation IN ('UPDATE','DELETE') AND
      |      CASE WHEN prev_id_op = 'INSERT' THEN TRUE
      |           WHEN prev_id_op = 'DELETE' THEN FALSE
      |           ELSE in_base END) AS applied,
      |    CASE WHEN last_id_op = 'INSERT' THEN TRUE
      |         WHEN last_id_op = 'DELETE' THEN FALSE
      |         ELSE in_base END AS final_exists
      |  FROM flags),
      |f3 AS (
      |  SELECT *, MAX(CASE WHEN applied THEN seq END) OVER (PARTITION BY id) AS last_applied_seq
      |  FROM f2)
      |SELECT id, value FROM f3 WHERE final_exists AND seq = last_applied_seq
      |UNION ALL
      |SELECT id, value FROM base WHERE id NOT IN (SELECT DISTINCT id FROM ch)
      |UNION ALL
      |SELECT b.id, b.value FROM base b
      |JOIN (SELECT DISTINCT id FROM f3 WHERE final_exists AND last_applied_seq IS NULL) k
      |  ON b.id = k.id
      |ORDER BY id""".stripMargin

  // ---- ST5 audit side: per-event outcome statuses ------------------------
  private def st5AuditStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val r = Apply.applyBatch(baseSnapshot(ev), asChanges(ev), "id", "seq", Seq("value"))
    r.audit.groupBy(col("status"))
      .agg(count(lit(1)).as("cnt"),
        count(when(col("upsert_converted"), 1)).as("upsert_converted_cnt"))
      .orderBy(col("status"))
  }

  private val st5AuditSql =
    s"""WITH base AS ($baseSql),
      |ch AS ($chSql),
      |flags AS (
      |  SELECT c.*, b.id IS NOT NULL AS in_base,
      |    LAST_VALUE(CASE WHEN c.operation <> 'UPDATE' THEN c.operation END IGNORE NULLS)
      |      OVER (PARTITION BY c.id ORDER BY c.seq
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id_op
      |  FROM ch c LEFT JOIN base b ON c.id = b.id),
      |f2 AS (
      |  SELECT *,
      |    CASE WHEN prev_id_op = 'INSERT' THEN TRUE
      |         WHEN prev_id_op = 'DELETE' THEN FALSE
      |         ELSE in_base END AS exists_at
      |  FROM flags),
      |f3 AS (
      |  SELECT *,
      |    operation = 'INSERT' OR (operation IN ('UPDATE','DELETE') AND exists_at) AS applied,
      |    operation = 'INSERT' AND exists_at AS upsert_converted
      |  FROM f2)
      |SELECT CASE WHEN applied THEN 'SUCCESS' ELSE 'TARGET_NOT_FOUND' END AS status,
      |  COUNT(*) AS cnt,
      |  COUNT(CASE WHEN upsert_converted THEN 1 END) AS upsert_converted_cnt
      |FROM f3 GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- CDC1: full end-to-end slice (flagship) ----------------------------
  // Synthesizes Debezium envelope JSON from the events table, then runs
  // the REAL engine stack: Envelope.parse (all-string image capture,
  // decimal + epoch decode) → Transform (config-driven renames / casts /
  // defaults) → Apply.applyBatch (ordered apply on an empty base:
  // INSERTs land, DELETEs are TARGET_NOT_FOUND no-ops). The oracle
  // restates the net effect relationally.
  private val eventsSide = TableSide("EVENTS", "EVENT_ID", Seq(
    "EVENT_ID" -> WireType.Num, "USER_ID" -> WireType.Num,
    "EVENT_TYPE" -> WireType.Str, "VALUE" -> WireType.Num,
    "TS" -> WireType.Temporal))

  private val eventsMapping = TableMapping(
    entity = "EVENTS", direction = "ASIS_TO_TOBE",
    asis = eventsSide,
    tobe = TableSide("TB_EVENTS", "EVENT_ID", Seq(
      "EVENT_ID" -> WireType.Num, "USER_ID" -> WireType.Num,
      "KIND" -> WireType.Str, "VALUE" -> WireType.Num,
      "EVENT_TS" -> WireType.Temporal, "CREATED_BY" -> WireType.Str)),
    asisToTobe = Seq(
      "EVENT_ID" -> ColumnSpec.Direct("EVENT_ID"),
      "USER_ID" -> ColumnSpec.Direct("USER_ID"),
      "KIND" -> ColumnSpec.Direct("EVENT_TYPE"),
      "VALUE" -> ColumnSpec.Direct("VALUE"),
      "EVENT_TS" -> ColumnSpec.CastTimestamp("TS", defaultNow = false),
      "CREATED_BY" -> ColumnSpec.DefaultLit("SYNC")),
    tobeToAsis = Seq.empty)

  private def cdc1E2eSync(s: SparkSession, dir: String): DataFrame = {
    // hash-repartition up front: the JSON round trip (to_json →
    // envelope parse) is CPU-bound and the source is one parquet file
    val ev = Tables.load(s, dir, "events").repartition(col("event_id"))
    val image = struct(
      col("event_id").cast("string").as("EVENT_ID"),
      col("user_id").cast("string").as("USER_ID"),
      col("event_type").as("EVENT_TYPE"),
      col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        .cast("string").as("VALUE"),
      unix_millis(col("ts")).as("TS"))
    val isDelete = col("event_type") === "error"
    val envelopes = ev.select(to_json(struct(struct(
      when(isDelete, "d").otherwise("c").as("op"),
      unix_millis(col("ts")).as("ts_ms"),
      struct(lit("ASIS_USER").as("schema"), lit("EVENTS").as("table")).as("source"),
      when(isDelete, image).as("before"),
      when(!isDelete, image).as("after")).as("payload"))).as("value"))

    val parsed = Envelope.parse(envelopes, eventsSide)
    val tx = Transform(parsed, eventsMapping, Direction.AsisToTobe)
    val changes = tx.withColumn("seq", col("EVENT_ID").cast("long"))
    val targetCols = eventsMapping.asisToTobe.map(_._1)
    val base = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        Registry.targetSchema(eventsMapping.tobe)))
    val r = Apply.applyBatch(base, changes, "EVENT_ID", "seq",
      targetCols.filterNot(_ == "EVENT_ID"))
    Ranking.orderByOnce(r.target.select(
      col("EVENT_ID").cast("long").as("event_id"),
      col("USER_ID").cast("long").as("user_id"),
      col("KIND").as("kind"),
      col("VALUE").cast("double").as("value"),
      col("EVENT_TS").as("event_ts"),
      col("CREATED_BY").as("created_by")),
      col("event_id"))
  }

  private val cdc1Sql =
    """SELECT event_id, user_id, event_type AS kind,
      |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value,
      |  epoch_ms(epoch_ms(ts)) AS event_ts, 'SYNC' AS created_by
      |FROM events WHERE event_type <> 'error' ORDER BY event_id""".stripMargin

  // ---- CDC2: schemaless envelope path (SURVEY §1.3) ----------------------
  // An UNREGISTERED topic parsed via Envelope.parseSchemaless: map-typed
  // image (keys uppercased), wrapper AND bare envelope shapes mixed
  // 50/50, DELETE coalescing to `before`, and the name-pattern temporal
  // heuristic decoding CREATED_AT. The oracle restates the net output
  // relationally from the base table.
  private def cdc2Schemaless(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").repartition(col("event_id"))
    // lowercase wire keys: proves the P11 uppercase normalization
    val image = struct(
      col("event_id").cast("string").as("event_id"),
      col("user_id").cast("string").as("user_id"),
      col("event_type").as("event_type"),
      col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        .cast("string").as("value"),
      unix_millis(col("ts")).as("created_at"))
    val isDelete = col("event_type") === "error"
    val inner = struct(
      when(isDelete, "d").otherwise("u").as("op"),
      unix_millis(col("ts")).as("ts_ms"),
      struct(lit("ASIS_USER").as("schema"), lit("UNREGISTERED_TBL").as("table")).as("source"),
      when(isDelete, image).as("before"),
      when(!isDelete, image).as("after"))
    val envelopes = ev.select(
      when(col("event_id") % 2 === 0, to_json(struct(inner.as("payload"))))
        .otherwise(to_json(inner)).as("value"))
    Ranking.orderByOnce(Envelope.parseSchemaless(envelopes).select(
        element_at(col("image"), "EVENT_ID").cast("long").as("event_id"),
        element_at(col("image"), "USER_ID").cast("long").as("user_id"),
        col("operation"),
        col("source_table"),
        size(col("image")).as("n_fields"),
        size(col("image_ts")).as("n_temporal"),
        element_at(col("image"), "VALUE")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast("double").as("value"),
        element_at(col("image_ts"), "CREATED_AT").as("created_at")),
      col("event_id"))
  }

  private val cdc2Sql =
    """SELECT event_id, user_id,
      |  CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPDATE' END AS operation,
      |  'UNREGISTERED_TBL' AS source_table,
      |  5 AS n_fields, 1 AS n_temporal,
      |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value,
      |  epoch_ms(epoch_ms(ts)) AS created_at
      |FROM events ORDER BY event_id""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("cdc1_e2e_sync", "flagship: envelope parse → transform → ordered apply", cdc1E2eSync, Some(cdc1Sql)),
    Q("cdc2_schemaless", "schemaless map-image envelope path for unregistered topics", cdc2Schemaless, Some(cdc2Sql)),
    Q("p1_op_decode", "P1 op-code decode via Envelope.decodeOp", p1OpDecode, Some(p1Sql)),
    Q("p5_epoch_decode", "P5 epoch magnitude heuristic via Envelope.epochAuto", p5EpochDecode, Some(p5Sql)),
    Q("st1_loop_block", "ST1 hash-window loop suppression (batch form)", st1LoopBlock, Some(st1Sql)),
    Q("st5_apply_merge", "ST5-ST7 ordered CDC apply via Apply.applyBatch", st5ApplyMerge, Some(st5Sql)),
    Q("st5_audit_stats", "S7 audit outcomes of the CDC apply", st5AuditStats, Some(st5AuditSql)),
  )
}
