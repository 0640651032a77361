package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc._

/** The per-table stages of the CDC sync (SURVEY.md §3.1 restated
  * Spark-first): Kafka-shaped source (`topic`, `value`) → Debezium
  * envelope parse → config-driven transform → post-transform loop hash
  * ([[transformed]]), and the epoch sink that applies every table's
  * slice of a trigger with upsert conversion + TARGET_NOT_FOUND and
  * logs them all in one audit file ([[applyMicroBatch]]). The
  * streaming query that joins them through the stateful loop-dedup —
  * one pair or all six — is [[MultiplexedSyncPipeline.start]].
  *
  * Scale notes: parse/transform are narrow and codegen'd; the only wide
  * stages are the dedup state shuffle (by change_hash) and the audit's
  * (table, pk)-hash join+window — both partition by key and scale
  * horizontally.
  * The snapshot store is the local stand-in for a MERGE sink.
  */
final class SyncPipeline(spark: SparkSession, store: SnapshotStore) {

  /** Parse + transform + hash one table/direction slice of the source. */
  def transformed(
      source: DataFrame,
      mapping: TableMapping,
      direction: Direction.Value): DataFrame = {
    val topic = Registry.topicFor(direction, mapping)
    val side = mapping.sideFor(direction)
    val target = mapping.targetFor(direction)
    val parsed = Envelope.parse(source.filter(col("topic") === topic), side)
    val tx = Transform(parsed, mapping, direction)
    val targetCols = mapping.specsFor(direction).map(_._1)
    val valueCols = targetCols.filterNot(_ == target.pk)
    tx.withColumn("change_hash",
        Hashing.loopHash(target.table, col(target.pk), col("operation"),
          valueCols.map(col)))
      .withColumn("event_ts", col("source_ts"))
      .withColumn("seq", unix_micros(col("source_ts")))
  }

  /** One epoch sink over every pair's slice of a trigger (or one
    * batch-replay slice, with `batchId = -1`): stage each table's live
    * events as a DELTA (O(|slice|) written, never O(|table|)), audit
    * every event of every table in ONE job against the pre-batch
    * versions, then commit each table's delta and the epoch's one
    * audit file. Target tables must be distinct across `slices`. The
    * sink caches nothing: a caller that hands it an expensive frame
    * persists it (each slice is read twice, by its delta stage and by
    * the audit).
    *
    * Action budget: one delta stage per slice, run concurrently (the
    * stages touch disjoint tables). Each stage IS its table's emptiness
    * probe — two `CollectMetrics` nodes, one above and one below the
    * live filter, observe the event count, the live count and the live
    * pk min/max in the write job itself; an empty slice's staged
    * (empty) delta is aborted. Then ONE audit staging write over all
    * tables, whose only O(|table|) touch is
    * [[SnapshotStore.existingKeys]], a pk/op-column-only membership
    * read of every chain pinned to its pre-batch version and pruned to
    * its slice's pk range — plus the amortized 1/compactEvery
    * delta-chain compaction at finalize. So n slices cost n + 1
    * actions, and a slice set with no events costs n. `PerTriggerJobSpec`
    * pins the counts (one pair: 2 on a data batch, 1 on a no-data
    * batch; three pairs: 4).
    *
    * Delivery: exactly-once for BOTH the data tables and the audit
    * log. foreachBatch replays a crashed epoch; each table's epoch
    * marker commits atomically with its delta version (pointer flip),
    * and the audit file's move-into-place is idempotent per epoch key.
    * Commit order: stage deltas; stage the audit, whose one `log_time`
    * stamp puts the epoch in one `log_date`; finalize each table;
    * publish the audit, moving its one file into that date's partition
    * (the store's only audit write path, which `appendAudit` also
    * takes). Crash windows: before any finalize → nothing
    * committed, full redo; after k of n tables finalized, before
    * publish → the replay drains each finalized table's slice into a
    * noop sink (its observations still come from that one pass) and
    * audits it against `currentVersion - 1`, stages the rest as usual,
    * and publishes; after publish → replay finds a marker equal to
    * `batchId` and the epoch's audit file, and no-ops.
    */
  def applyMicroBatch(
      slices: Seq[(DataFrame, TableMapping, Direction.Value)],
      batchId: Long = -1L): Unit = {
    case class Slice(batch: DataFrame, target: TableSide,
        targetCols: Seq[String], dirName: String, meta: Option[Long]) {
      val deltaAlready: Boolean = meta.contains(batchId)
    }
    case class Staged(slice: Slice, version: Int, events: Long,
        live: Long, lo: Any, hi: Any)

    val all = slices.map { case (batch, m, d) =>
      val target = m.targetFor(d)
      Slice(batch, target, m.specsFor(d).map(_._1),
        if (d == Direction.AsisToTobe) "ASIS_TO_TOBE" else "TOBE_TO_ASIS",
        if (batchId >= 0) store.currentMeta(target.table).map(_.toLong) else None)
    }
    require(all.map(_.target.table).distinct.size == all.size,
      s"applyMicroBatch: target tables must be distinct, got ${all.map(_.target.table)}")
    // one audit file per epoch and pair set; a single pair keeps the
    // per-table key `<table>_<direction>_e<id>`
    val pairSet = all.map(s => s"${s.target.table}_${s.dirName}").mkString("+")
    val auditKey =
      if (batchId >= 0) s"${pairSet}_e$batchId"
      else s"${pairSet}_${java.util.UUID.randomUUID()}"
    // a table whose marker passed this epoch applied it long ago
    val pending = all.filterNot(_.meta.exists(_ > batchId))
    if (pending.exists(_.deltaAlready) && store.auditEpochLanded(auditKey)) return

    def timed[A](phase: String)(f: => A): A =
      TriggerTiming.timed("trigger", phase)(f)

    def stage(s: Slice): Staged = {
      val pk = s.target.pk
      val obsAll = org.apache.spark.sql.Observation()
      val obsD = org.apache.spark.sql.Observation()
      val probed = s.batch.observe(obsAll, count(lit(1)).as("events"))
        .filter(!col("loop_blocked"))
        .select((Seq("seq", "operation") ++ s.targetCols).map(col): _*)
        .observe(obsD, count(lit(1)).as("n"),
          min(col(pk)).as("lo"), max(col(pk)).as("hi"))
      // a replay whose delta already committed drains the same observed
      // frame into a noop sink instead of staging it
      val version =
        if (s.deltaAlready) {
          probed.write.format("noop").mode("overwrite").save()
          -1
        } else store.stageDelta(s.target.table, probed, pk, "seq",
          s.targetCols.filterNot(_ == pk),
          meta = if (batchId >= 0) Some(batchId.toString) else None)
      val events = obsAll.get("events").asInstanceOf[Long]
      if (events == 0L) Staged(s, version, 0L, 0L, null, null)
      else {
        val m = obsD.get
        Staged(s, version, events, m("n").asInstanceOf[Long], m("lo"), m("hi"))
      }
    }

    val staged = timed("stageDeltas") {
      val out = new Array[Staged](pending.size)
      graft.Par.run(pending.indices.map(i => () => out(i) = stage(pending(i))): _*)
      out.toSeq
    }
    // an empty slice leaves no version: the table sits this epoch out
    staged.filter(t => t.events == 0L && t.version >= 0)
      .foreach(t => store.abortDelta(t.slice.target.table, t.version))
    val epoch = staged.filter(_.events > 0L)
    if (epoch.isEmpty) return

    // audit statuses (TARGET_NOT_FOUND / upsert conversion) are defined
    // against each table as of BEFORE this batch: a staged delta is
    // invisible until finalize, and a finalized one (replay) is pinned
    // away with `currentVersion - 1`. Membership comes from the
    // column-pruned pk/op reads — the full base⊕delta reconstruction
    // never runs on the trigger path — restricted to each slice's pk
    // range so row-group statistics prune the base scans (the zone-map
    // property that keeps the trigger flat as the tables grow).
    val existing = store.existingKeys(epoch.filter(_.live > 0L).map { t =>
      val table = t.slice.target.table
      SnapshotStore.PkRead(table, t.slice.target.pk, Some((t.lo, t.hi)),
        if (t.slice.deltaAlready) store.currentVersion(table) - 1 else t.version - 1)
    })
    // every event of the epoch in one frame and one shuffle. Blocked
    // echoes ride the same window in key partitions of their own —
    // `loop_blocked` is part of the key and false in every membership
    // row — so they neither see nor change any pk's existence; their
    // status is overridden below. One task per slice: each slice is a
    // filter over the trigger's cached batch, and a task per cached
    // partition per slice costs more to schedule than the filter does.
    val events = epoch.map { t =>
      t.slice.batch.select(lit(t.slice.dirName).as("direction"),
        lit(t.slice.target.table).as("table_name"), col("loop_blocked"),
        col(t.slice.target.pk).cast("string").as("pk_value"),
        col("seq"), col("operation"), col("change_hash"))
    }.reduce(_.unionByName(_)).coalesce(epoch.size)
    val audited = Apply.auditBatch(existing.withColumn("loop_blocked", lit(false)),
      events, Seq("table_name", "loop_blocked", "pk_value"), "seq",
      auditPassthrough = Seq("table_name", "loop_blocked", "direction", "change_hash"))

    val blocked = col("loop_blocked")
    val status = when(blocked, "LOOP_BLOCKED").otherwise(col("status"))
    val converted = !blocked && col("upsert_converted")
    // error-code taxonomy (docs/02-설계/05_에러코드_체계.md, designed-only
    // in the reference): E_001 missing target, E_002 pk-dup upsert,
    // I_001 loop suppression
    val errorCode = when(status === "TARGET_NOT_FOUND", "SYNC_E_001")
      .when(status === "LOOP_BLOCKED", "SYNC_I_001")
      .when(converted, "SYNC_E_002")
      .otherwise(lit(null).cast("string"))
    // one driver-side stamp for the whole epoch (current_timestamp()
    // would be per-query-constant anyway); keeps the epoch in exactly
    // one log_date partition, so the epoch is one audit file
    val logTime = new java.sql.Timestamp(System.currentTimeMillis())
    timed("stageAudit")(store.stageEpochAudit(audited.select(
      col("direction"),
      col("table_name"),
      col("operation"),
      col("pk_value"),
      status.as("status"),
      converted.as("upsert_converted"),
      errorCode.as("error_code"),
      col("change_hash"),
      lit(logTime).as("log_time")), auditKey))

    // every table with events commits (a blocked-only slice commits an
    // empty delta) so its epoch marker always advances past the epoch;
    // the audit file publishes last, after every pointer flip
    timed("commit") {
      epoch.filter(_.version >= 0)
        .foreach(t => store.finalizeDelta(t.slice.target.table, t.version))
      store.publishEpochAudit(auditKey)
    }
  }
}
