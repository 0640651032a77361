package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types._

/** ST1–ST3: hash-window loop prevention as keyed streaming state, on
  * Spark 4's `transformWithState` operator.
  *
  * Reference semantics (`FN_IS_LOOP` + `SP_RECORD_HASH` + `SP_CLEANUP_HASH`,
  * `poc/asis-oracle/init/04_create_procedures.sql:31-74`):
  *  - an event whose post-transform hash was APPLIED within the last
  *    `windowMs` (5 min) is suppressed (`'S'` / LOOP_BLOCKED) — but still
  *    audited, which rules out plain dropDuplicatesWithinWatermark;
  *  - suppressed events do NOT refresh the window (hash is recorded only
  *    on successful apply);
  *  - state older than `ttlMs` (10 min) is evicted.
  *
  * Implementation: keyed ValueState holding the last-applied event time
  * per change hash, with the 10-minute cleanup (ST3) as an EVENT-TIME
  * timer per key, so eviction follows the watermark. Every event is
  * emitted, tagged `loop_blocked`. At scale the state store shards by
  * hash across executors; state size is bounded by TTL eviction exactly
  * like the reference's cleanup job.
  *
  * Event-time mode matters operationally, not just semantically: in
  * `TimeMode.ProcessingTime` the operator reports it may need another
  * batch (wall-clock TTL could fire at any moment), so an AvailableNow
  * run never terminates and `processAllAvailable` spins forever on
  * empty micro-batches (measured: ~1 batch/700ms, indefinitely). In
  * event-time mode another batch runs only when the watermark advances
  * — the query quiesces like any windowed aggregation.
  *
  * Requires the RocksDB state store provider ([[configureSession]]).
  */
object LoopDedupTws {

  val windowMsDefault: Long = 5 * 60 * 1000L  // FN_IS_LOOP 5-minute window
  val ttlMsDefault: Long = 10 * 60 * 1000L    // SP_CLEANUP_HASH 10-minute TTL

  /** Session settings the operator needs, applied at query start:
    * transformWithState requires the RocksDB provider (it serves every
    * stateful operator equally well). Changelog checkpointing makes the
    * per-trigger state commit write the delta (the batch's changed
    * keys), not a full RocksDB snapshot — the same O(batch)-not-O(state)
    * argument as the snapshot store's delta commits, and the single
    * biggest fixed cost on a 5 s cadence.
    */
  def configureSession(spark: SparkSession): Unit =
    sessionConf.foreach { case (k, v) => spark.conf.set(k, v) }

  private[graft] val sessionConf = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  private class Processor(schema: StructType, windowMs: Long, ttlMs: Long)
      extends StatefulProcessor[String, Row, Row] {
    @transient private var lastApplied: ValueState[Long] = _
    private val tsIdx = schema.fieldIndex("event_ts")

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastApplied = getHandle.getValueState[Long](
        "lastApplied", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Row],
        timerValues: TimerValues): Iterator[Row] = {
      val sorted = rows.toSeq.sortBy(_.getTimestamp(tsIdx).getTime)
      sorted.iterator.map { r =>
        val ts = r.getTimestamp(tsIdx).getTime
        val blocked = lastApplied.exists() && {
          val la = lastApplied.get()
          ts - la <= windowMs && ts >= la - windowMs
        }
        if (!blocked) {
          // one live TTL timer per key: re-arm at the new last-applied
          if (lastApplied.exists()) getHandle.deleteTimer(lastApplied.get() + ttlMs)
          lastApplied.update(ts)
          getHandle.registerTimer(ts + ttlMs)
        }
        Row.fromSeq(r.toSeq :+ blocked)
      }
    }

    /** ST3: watermark passed lastApplied + TTL → evict the key's state. */
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Row] = {
      if (lastApplied.exists() &&
          lastApplied.get() + ttlMs <= expiredTimerInfo.getExpiryTimeInMs)
        lastApplied.clear()
      Iterator.empty
    }
  }

  /** @param df    streaming DataFrame with `change_hash: String` and an
    *              event-time column `event_ts: Timestamp` (must already
    *              carry a watermark: the TTL timers are event-time)
    * @return      df + `loop_blocked: Boolean`
    */
  def apply(
      df: DataFrame,
      windowMs: Long = windowMsDefault,
      ttlMs: Long = ttlMsDefault): DataFrame = {
    val schema = df.schema
    val outSchema = schema.add(StructField("loop_blocked", BooleanType, nullable = false))
    val hashIdx = schema.fieldIndex("change_hash")
    implicit val outEnc = Encoders.row(outSchema)
    df.as(Encoders.row(schema))
      .groupByKey((r: Row) => r.getString(hashIdx))(Encoders.STRING)
      .transformWithState(
        new Processor(schema, windowMs, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
