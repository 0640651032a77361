package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{Direction, Registry, TableMapping}

/** Initial-snapshot bootstrap — the reference's snapshot-mode lifecycle
  * (Debezium `snapshot.mode=initial`: bulk-read the existing table as
  * `op='r'` READ events, then stream from the binlog): bulk-load a
  * pre-existing source table into the store THROUGH THE SAME
  * parse → transform → apply path the stream uses (no side door, so
  * casts, code-maps and defaults are byte-identical to streamed rows),
  * then hand over to the catch-up stream
  * ([[MultiplexedSyncPipeline.start]]).
  *
  * The handover needs no offset coordination: the stream may replay
  * events from BEFORE the snapshot cut, because the apply is
  * seq-ordered and value-idempotent — a replayed insert of a
  * snapshot row converts to an upsert of identical values (audited
  * `SYNC_E_002`, applied-not-duplicated), and any later genuine update
  * wins by LWW. Overlap CONVERGES; only a gap (events missed between
  * cut and first offset) would lose data — so start the stream from at
  * or before the cut, never after. `BootstrapSpec` pins the overlap
  * behavior.
  */
object Bootstrap {

  /** Apply one bulk snapshot of `images` (the source table's rows in
    * wire shape: the column names and value formats the connector
    * would emit — strings, epoch-millis longs) as `op='r'` events.
    * `tsMs` is the snapshot cut timestamp; every loaded row carries it
    * as `source_ts`, so stream events strictly after the cut always
    * win LWW.
    */
  def initialLoad(
      pipeline: SyncPipeline, mapping: TableMapping,
      direction: Direction.Value, images: DataFrame, tsMs: Long): Unit = {
    val side = mapping.sideFor(direction)
    val srcSchema =
      if (direction == Direction.AsisToTobe) "ASIS_USER" else "TOBE_USER"
    val envelopes = images.select(
      lit(Registry.topicFor(direction, mapping)).as("topic"),
      to_json(struct(struct(
        lit("r").as("op"),
        lit(tsMs).as("ts_ms"),
        struct(lit(srcSchema).as("schema"), lit(side.table).as("table"))
          .as("source"),
        struct(images.columns.map(col): _*).as("after")).as("payload")))
        .as("value"))
    // the snapshot bypasses loop dedup (these rows ARE the table, not
    // echoes) but nothing else: same transform, same ordered apply,
    // same audit rows (op 'r' decodes to INSERT — S5)
    // persisted: the sink reads it twice (delta stage, audit)
    val batch = pipeline.transformed(envelopes, mapping, direction)
      .withColumn("loop_blocked", lit(false)).persist()
    try pipeline.applyMicroBatch(Seq((batch, mapping, direction)))
    finally { batch.unpersist(); () }
  }
}
