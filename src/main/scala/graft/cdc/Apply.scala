package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered CDC apply (SURVEY.md §2.8 ST5–ST8, O4).
  *
  * The reference applies events one at a time in `CDC_SEQ` order with:
  * INSERT (dup ⇒ converted to UPDATE — `asis…04:195-209`), UPDATE/DELETE
  * by pk (`SQL%ROWCOUNT=0` ⇒ TARGET_NOT_FOUND audit, row skipped —
  * `asis…04:165-191`), per-record error isolation (`asis…04:130-139`).
  *
  * Here the same per-key sequential semantics are computed declaratively
  * so Spark can execute them with ONE shuffle (hash partition by pk):
  * existence is a state machine where INSERT ⇒ exists, DELETE ⇒ gone and
  * UPDATE never changes existence, so "does the row exist when event i
  * runs" is a window expression over the preceding INSERT/DELETE ops
  * seeded by base membership — no driver-side loop, no per-row JDBC.
  * The target reads each base row as an INSERT ordered before every
  * change, so base ⊕ changes is one replay: one scan of each input, one
  * hash exchange on pk and one aggregate, no join — the table read as
  * a log replayed over a checkpoint. The audit alone joins the changes
  * to base membership, and only when a caller uses it.
  */
object Apply {

  final case class ApplyResult(target: DataFrame, audit: DataFrame)

  /** Apply a batch of ordered change events to a base snapshot.
    *
    * @param base     current target-table snapshot: pk + dataCols. Its
    *                 pks must be unique and non-null (a snapshot is): the
    *                 target folds rows that share a pk into one
    * @param changes  events: `operation` (INSERT/UPDATE/DELETE), seqCol,
    *                 pk, dataCols
    * @param pk       primary-key column name
    * @param seqCol   arrival-order column (CDC_SEQ)
    * @param dataCols non-pk payload columns
    * @param auditPassthrough extra `changes` columns carried verbatim
    *                 into the audit frame (e.g. `change_hash`), saving
    *                 the caller a re-join by seq
    */
  def applyBatch(
      base: DataFrame,
      changes: DataFrame,
      pk: String,
      seqCol: String,
      dataCols: Seq[String],
      auditPassthrough: Seq[String] = Nil): ApplyResult = {

    val inBase = base.select(col(pk), lit(true).as("__in_base")).distinct()
    val ch = changes
      .join(inBase, Seq(pk), "left")
      .withColumn("__in_base", coalesce(col("__in_base"), lit(false)))

    val audit = auditFrom(ch, Seq(pk), seqCol, auditPassthrough)

    // ---- target path: ONE hash exchange, no join. A base row is an
    // INSERT ordered before every change, so the table is one replay of
    // base ∪ changes. Whenever a key finally exists, its LAST event
    // applied (the final INSERT — a base row counts as one — or an
    // UPDATE after it; skipped events can only precede the last
    // INSERT/DELETE), so the final values are max_by(order), and a key
    // exists iff its last INSERT/DELETE is an INSERT.
    val order = "__order"
    val seqType = changes.schema(seqCol).dataType
    def orderKey(src: Int, seq: Column) =
      struct(lit(src).as("src"), seq.as("seq")).as(order)
    val events = base
      .select(col(pk) +: lit("INSERT").as("operation") +:
        orderKey(0, lit(null).cast(seqType)) +: dataCols.map(col): _*)
      .unionByName(changes
        .select(col(pk) +: col("operation") +:
          orderKey(1, col(seqCol)) +: dataCols.map(col): _*))
    val target = events.groupBy(col(pk)).agg(
      max_by(struct(dataCols.map(col): _*), col(order)).as("__last"),
      max(when(col("operation") =!= "UPDATE", struct(col(order), col("operation"))))
        .as("__last_id"))
      .filter(col("__last_id").getField("operation") === "INSERT")
      .select(col(pk) +: dataCols.map(c => col("__last").getField(c).as(c)): _*)

    ApplyResult(target, audit)
  }

  /** Audit-only evaluation against a precomputed pk-membership set —
    * the existence state machine needs nothing but "was this pk present
    * at batch start", so callers that consume ONLY the audit (the
    * streaming sink's per-epoch status frame) can feed a
    * column-pruned membership read instead of a full base⊕delta
    * reconstruction (the O(|table|·allcols) read the r5 verdict
    * flagged). Produces exactly [[applyBatch]]'s audit frame.
    *
    * @param existingPks the `keys` present at batch start, each once
    *                    (e.g. [[graft.streaming.SnapshotStore.existingKeys]],
    *                    a set by construction)
    * @param keys        the state machine's key: the pk, optionally
    *                    scoped by leading columns (`table_name` when
    *                    one frame audits several tables). The last key
    *                    is emitted as the string `pk_value`; carry the
    *                    leading ones through `auditPassthrough`.
    */
  def auditBatch(
      existingPks: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      seqCol: String,
      auditPassthrough: Seq[String] = Nil): DataFrame = {
    val inBase = existingPks.select(keys.map(col) :+ lit(true).as("__in_base"): _*)
    val ch = changes
      .join(inBase, keys, "left")
      .withColumn("__in_base", coalesce(col("__in_base"), lit(false)))
    auditFrom(ch, keys, seqCol, auditPassthrough)
  }

  /** Per-event outcomes need the sequential per-key scan (window over
    * seq). Evaluated lazily — only when the caller uses the frame.
    * Statuses exactly as CDC_SYNC_LOG (02_create_cdc_tables.sql:117-128).
    * `ch` = changes with a `__in_base` membership flag attached.
    */
  private def auditFrom(
      ch: DataFrame, keys: Seq[String], seqCol: String,
      auditPassthrough: Seq[String]): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    // last INSERT/DELETE strictly before this event (null = none yet)
    val prevIdOp = last(
      when(col("operation") =!= "UPDATE", col("operation")), ignoreNulls = true)
      .over(byKey.rowsBetween(Window.unboundedPreceding, -1))

    val flagged = ch
      .withColumn("__exists_at",
        when(prevIdOp === "INSERT", lit(true))
          .when(prevIdOp === "DELETE", lit(false))
          .otherwise(col("__in_base")))
      .withColumn("__applied",
        col("operation") === "INSERT" ||
          (col("operation").isin("UPDATE", "DELETE") && col("__exists_at")))
      .withColumn("__upsert_converted",
        col("operation") === "INSERT" && col("__exists_at"))

    flagged.select(
      col(seqCol).as("cdc_seq") +:
        col(keys.last).cast("string").as("pk_value") +:
        col("operation") +:
        when(col("__applied"), "SUCCESS").otherwise("TARGET_NOT_FOUND").as("status") +:
        col("__upsert_converted").as("upsert_converted") +:
        auditPassthrough.map(col): _*)
  }

  /** ST8 per-record error isolation: split a batch into (valid, dead
    * letter) on a validity predicate; the dead-letter side carries the
    * reason, mirroring `PROCESSED_YN='E'` + ERROR_MSG (`asis…04:130-139`).
    */
  def errorIsolate(df: DataFrame, valid: Column, reason: Column): (DataFrame, DataFrame) = {
    val tagged = df.withColumn("__valid", valid)
    (tagged.filter(col("__valid")).drop("__valid"),
      tagged.filter(!col("__valid")).drop("__valid").withColumn("error_msg", reason))
  }
}
