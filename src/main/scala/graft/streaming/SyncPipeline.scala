package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc._

/** The per-table stages of the CDC sync (SURVEY.md §3.1 restated
  * Spark-first): Kafka-shaped source (`topic`, `value`) → Debezium
  * envelope parse → config-driven transform → post-transform loop hash
  * ([[transformed]]), and the ordered apply with upsert conversion +
  * TARGET_NOT_FOUND + audit append ([[applyMicroBatch]]). The streaming
  * query that joins them through the stateful loop-dedup — one pair or
  * all six — is [[MultiplexedSyncPipeline.start]].
  *
  * Scale notes: parse/transform are narrow and codegen'd; the only wide
  * stages are the dedup state shuffle (by change_hash) and the apply's
  * pk-hash join+window — both partition by key and scale horizontally.
  * The snapshot store is the local stand-in for a MERGE sink.
  */
final class SyncPipeline(spark: SparkSession, store: SnapshotStore) {

  private val codeDim = CodeMapping.dim(spark)

  /** Parse + transform + hash one table/direction slice of the source. */
  def transformed(
      source: DataFrame,
      mapping: TableMapping,
      direction: Direction.Value): DataFrame = {
    val topic = Registry.topicFor(direction, mapping)
    val side = mapping.sideFor(direction)
    val target = mapping.targetFor(direction)
    val parsed = Envelope.parse(source.filter(col("topic") === topic), side)
    val tx = Transform(parsed, mapping, direction, codeDim)
    val targetCols = mapping.specsFor(direction).map(_._1)
    val valueCols = targetCols.filterNot(_ == target.pk)
    tx.withColumn("change_hash",
        Hashing.loopHash(target.table, col(target.pk), col("operation"),
          valueCols.map(col)))
      .withColumn("event_ts", col("source_ts"))
      .withColumn("seq", unix_micros(col("source_ts")))
  }

  /** One micro-batch: stage the live events as a DELTA (O(|batch|)
    * written per trigger, never O(|table|)), audit all events against
    * the pre-batch version, then commit delta and audit. Also the
    * batch-replay entry point (processing a backlog parquet of events
    * uses exactly this code path).
    *
    * Per-trigger action budget: the staged delta write IS the
    * emptiness probe — one pass through the batch populates the cache
    * and observes (via two `CollectMetrics` nodes, one above and one
    * below the live filter) the total event count, the live count and
    * the live pk min/max in the same job; a no-data batch's staged
    * (empty) delta is simply aborted. The only other action is the
    * audit staging write (whose only O(|table|) touch is
    * `SnapshotStore.existingPks`, a pk/op-column-only membership read
    * pinned to the pre-batch version and pruned to the batch's pk
    * range) — plus the amortized 1/compactEvery delta-chain
    * compaction. `PerTriggerJobSpec` pins the counts (2 actions on a
    * data batch, 1 on a no-data batch).
    *
    * Delivery: exactly-once for BOTH the data table and the audit log.
    * foreachBatch replays a crashed epoch; the epoch marker commits
    * atomically with the delta version (pointer flip), and the audit
    * file's move-into-place is idempotent per epoch key. Crash windows:
    * before [[SnapshotStore.finalizeDelta]] → nothing committed, full
    * redo; between finalize and audit publish → replay sees
    * `meta == batchId`, recomputes ONLY the audit frame against
    * `currentVersion - 1` (the pre-batch version) and publishes;
    * after publish → replay finds the epoch's audit file and no-ops.
    */
  def applyMicroBatch(
      batch: DataFrame,
      mapping: TableMapping,
      direction: Direction.Value,
      batchId: Long = -1L): Unit = {
    val target = mapping.targetFor(direction)
    val targetCols = mapping.specsFor(direction).map(_._1)
    val valueCols = targetCols.filterNot(_ == target.pk)
    val dirName = if (direction == Direction.AsisToTobe) "ASIS_TO_TOBE" else "TOBE_TO_ASIS"

    val meta = if (batchId >= 0) store.currentMeta(target.table).map(_.toLong) else None
    if (meta.exists(_ > batchId)) return // epoch fully applied long ago
    // delta already committed (crash between pointer flip and audit
    // publish) — only the audit can still be outstanding
    val deltaAlready = meta.contains(batchId)
    val auditKey =
      if (batchId >= 0) s"${target.table}_${dirName}_e$batchId"
      else s"${target.table}_${dirName}_${java.util.UUID.randomUUID()}"
    if (deltaAlready && store.auditEpochLanded(auditKey)) return

    def timed[A](phase: String)(f: => A): A =
      TriggerTiming.timed("trigger", phase)(f)
    val cached = batch.cache()
    try {
      val blocked = cached.filter(col("loop_blocked"))
      val live = cached.filter(!col("loop_blocked"))

      // Stage (write, don't yet commit) the delta. This ONE job is the
      // whole front half of the trigger: it populates the batch cache
      // (so the audit write below is a pure cache read), counts every
      // event via a CollectMetrics ABOVE the live filter — the
      // emptiness probe; no-data micro-batches are a steady-state fact
      // of life, the engine fires one whenever the watermark advances —
      // and observes the live count and pk min/max below the filter,
      // the bounds that buy row-group pruning of the membership read.
      // An empty batch costs one zero-row write (deltaWriteParts=1, a
      // single empty reduce task, no files) which is aborted on the
      // spot; a separate count() probe would cost the same state-store
      // pass and one more driver action on EVERY data batch. A replay
      // whose delta already committed drains the same observed frame
      // into a noop sink instead of staging it.
      val obsAll = org.apache.spark.sql.Observation()
      val obsD = org.apache.spark.sql.Observation()
      val probed = cached.observe(obsAll, count(lit(1)).as("events"))
        .filter(!col("loop_blocked"))
        .select((Seq("seq", "operation") ++ targetCols).map(col): _*)
        .observe(obsD, count(lit(1)).as("n"),
          min(col(target.pk)).as("lo"), max(col(target.pk)).as("hi"))
      val staged =
        if (deltaAlready) {
          timed("probe")(probed.write.format("noop").mode("overwrite").save())
          -1
        } else timed("stageDelta")(store.stageDelta(target.table, probed,
          target.pk, "seq", valueCols,
          meta = if (batchId >= 0) Some(batchId.toString) else None))
      if (obsAll.get("events").asInstanceOf[Long] == 0L) {
        if (staged >= 0) store.abortDelta(target.table, staged)
        return
      }
      val m = obsD.get
      val (liveCount, lo, hi) = (m("n").asInstanceOf[Long], m("lo"), m("hi"))
      // audit statuses (TARGET_NOT_FOUND / upsert conversion) are
      // defined against the table as of BEFORE this batch: the staged
      // delta is invisible until finalize, and the replay path pins
      // `currentVersion - 1` explicitly. Membership comes from the
      // column-pruned pk/op read — the full base⊕delta reconstruction
      // never runs on the trigger path — restricted to the batch's pk
      // range so row-group statistics prune the base scan (the zone-map
      // property that keeps the 5 s trigger flat as the table grows).
      val preVersion =
        if (deltaAlready) store.currentVersion(target.table) - 1
        else staged - 1
      val schema = org.apache.spark.sql.types.StructType(
        Registry.targetSchema(target).filter(f => targetCols.contains(f.name)))
      val existing =
        if (liveCount == 0L)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(schema.filter(_.name == target.pk)))
        else store.existingPks(target.table, schema, target.pk,
          pkBounds = Some((lo, hi)), atVersion = Some(preVersion))
      val liveAuditRaw = Apply.auditBatch(
        existing, live.select((Seq("seq", "operation") ++ targetCols :+ "change_hash").map(col): _*),
        target.pk, "seq", auditPassthrough = Seq("change_hash"))

      // error-code taxonomy (docs/02-설계/05_에러코드_체계.md, designed-only
      // in the reference): E_001 missing target, E_002 pk-dup upsert,
      // I_001 loop suppression
      def errorCode(status: Column, converted: Column): Column =
        when(status === "TARGET_NOT_FOUND", "SYNC_E_001")
          .when(status === "LOOP_BLOCKED", "SYNC_I_001")
          .when(converted, "SYNC_E_002")
          .otherwise(lit(null).cast("string"))
      // one driver-side stamp for the whole epoch (current_timestamp()
      // would be per-query-constant anyway); keeps the epoch in exactly
      // one log_date partition, which the publish step needs
      val logTime = new java.sql.Timestamp(System.currentTimeMillis())
      def auditCols(df: DataFrame, status: Column, converted: Column) = df.select(
        lit(dirName).as("direction"),
        lit(target.table).as("table_name"),
        col("operation"),
        col("pk_value"),
        status.as("status"),
        converted.as("upsert_converted"),
        errorCode(status, converted).as("error_code"),
        col("change_hash"),
        lit(logTime).as("log_time"))

      val liveAudit = auditCols(liveAuditRaw, col("status"), col("upsert_converted"))
      val blockedAudit = auditCols(
        blocked.withColumn("pk_value", col(target.pk).cast("string")),
        lit("LOOP_BLOCKED"), lit(false))
      timed("stageAudit")(store.stageEpochAudit(
        liveAudit.unionByName(blockedAudit), auditKey))

      // any non-empty batch commits (a blocked-only batch commits an
      // empty delta) so the epoch marker always advances past it; the
      // fully-empty case returned at the probe, so the audit frame here
      // always has `events` (= live + blocked) > 0 rows
      if (staged >= 0) timed("finalizeDelta")(store.finalizeDelta(target.table, staged))
      store.publishEpochAudit(auditKey,
        logTime.toLocalDateTime.toLocalDate)
    } finally cached.unpersist()
  }
}
