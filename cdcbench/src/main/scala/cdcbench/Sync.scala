package cdcbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.streaming.{MultiplexedSyncPipeline, SnapshotStore}

/** The program's sync path under test: one multiplexed query over all
  * six topics (`MultiplexedSyncPipeline.start`), fed from an in-memory
  * (topic, value) source that stands in for Kafka, committing into a
  * `SnapshotStore`. Every trigger's progress report is kept.
  */
final class SyncHarness(spark: SparkSession, val dir: String, trigger: Trigger) {
  val store = new SnapshotStore(spark, s"$dir/store")
  // one partition per topic, as six single-partition Kafka topics
  // would give; without a count the in-memory source would plan one
  // partition per hand-off, which no broker does
  private val mem = MemoryStream[(String, String)](spark, Topic.all.size)(
    spark.implicits.newProductEncoder[(String, String)])
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
  }
  spark.streams.addListener(listener)
  private var query: StreamingQuery = _

  def start(): Unit = {
    val pipeline = new MultiplexedSyncPipeline(spark, store, trigger)
    query = pipeline.start(mem.toDF().toDF("topic", "value"),
      Topic.all.map(t => (t.mapping, t.dir)), s"$dir/checkpoint")
  }

  /** Hand events to the source; returns the source offset they end at. */
  def add(events: Seq[Event]): Long =
    mem.addData(events.map(e => (e.topic.name, e.json))).json.toLong

  def progresses: Seq[StreamingQueryProgress] =
    progress.synchronized(progress.toSeq).filter(p => query != null && p.id == query.id)

  /** Blocks until a reported trigger has committed through `offset`. */
  def awaitCommitted(offset: Long, timeoutMs: Long): StreamingQueryProgress = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (true) {
      query.exception.foreach(e => throw new IllegalStateException("sync query failed", e))
      progresses.find(p => Sync.endOffset(p) >= offset).foreach(p => return p)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"offset $offset not committed within $timeoutMs ms")
      Thread.sleep(5)
    }
    throw new IllegalStateException("unreachable")
  }

  def processAllAvailable(): Unit = query.processAllAvailable()

  /** Blocks until no trigger is running and none is due for new data. */
  def awaitIdle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (query.status.isTriggerActive || query.status.isDataAvailable) {
      query.exception.foreach(e => throw new IllegalStateException("sync query failed", e))
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"query not idle within $timeoutMs ms")
      Thread.sleep(10)
    }
  }

  def stop(): Unit = {
    try if (query != null) query.stop()
    finally spark.streams.removeListener(listener)
  }
}

object Sync {
  def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.headOption.map(_.endOffset).orNull).map(_.toLong).getOrElse(-1L)
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def durMs(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  /** Wall-clock end of a trigger: its start plus its execution time. */
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + durMs(p, "triggerExecution")

  /** Trigger, mux and dedup layer figures from the progress reports. */
  def layerMetrics(ps: Seq[StreamingQueryProgress], events: Long, m: Metrics, tracer: Tracer): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    val empty = ps.filter(_.numInputRows == 0)
    ps.foreach(p => tracer.record("trigger", s"batch-${p.batchId}",
      startMs(p) * 1000000L, endMs(p) * 1000000L))
    m.put("trigger.count", ps.size, "count")
    m.put("trigger.empty_count", empty.size, "count")
    m.put("trigger.empty_ms_total", empty.map(durMs(_, "triggerExecution")).sum.toDouble, "ms")
    m.put("trigger.execution_ms_p50",
      if (data.isEmpty) 0 else Stats.median(data.map(durMs(_, "triggerExecution").toDouble)), "ms")
    m.put("trigger.add_batch_ms_total", ps.map(durMs(_, "addBatch")).sum.toDouble, "ms")
    m.put("trigger.planning_ms_total", ps.map(durMs(_, "queryPlanning")).sum.toDouble, "ms")
    m.put("mux.source_rows_read_per_event", ps.map(_.numInputRows).sum.toDouble / math.max(1L, events), "rows/event")
    val ops = ps.flatMap(_.stateOperators.toSeq)
    m.put("dedup.state_rows_end", ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble, "rows")
    m.put("dedup.update_ms_total", ops.map(_.allUpdatesTimeMs).sum.toDouble, "ms")
    m.put("dedup.commit_ms_total", ops.map(_.commitTimeMs).sum.toDouble, "ms")
    m.put("dedup.dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows")
  }
}

/** Closed-loop backlog drain: the next wave goes in only after the
  * previous one committed. Mix per event, across all six topics:
  * 75 % inserts of new keys, 20 % updates and 5 % deletes of keys
  * inserted earlier in the run. Event time advances 1 ms per event.
  *
  * That mix never meets the apply and loop-prevention skip paths, so
  * [[edgeWave]] adds a wave that does, for the traced run's check.
  */
final class BackfillSource(seed: Long) {
  private val gen = new Generator(seed)
  private val rnd = new java.util.Random(seed * 31 + 7)
  private val live = Topic.all.map(t => t -> mutable.ArrayBuffer.empty[Map[String, Any]]).toMap
  private val dead = Topic.all.map(t => t -> mutable.ArrayBuffer.empty[Map[String, Any]]).toMap
  private val nextKey = mutable.Map(Topic.all.map(t => t -> 1L): _*)
  private var absentKey = 100000000L
  private var ts = 1767225600000L
  /** every event handed out, in order, for redeliveries */
  private val sent = mutable.ArrayBuffer.empty[Event]

  def next(): Event = {
    val t = Topic.all(rnd.nextInt(Topic.all.size))
    val r = rnd.nextInt(100)
    ts += 1
    if (r < 75 || live(t).isEmpty) insertNew(t)
    else if (r < 95) update(t)
    else delete(t)
  }

  def wave(n: Int): Seq[Event] = {
    val w = Seq.fill(n)(next())
    sent ++= w
    w
  }

  /** An edge wave: `n` events that re-insert deleted keys, INSERT on
    * live keys (upsert), delete, update, and UPDATE or DELETE keys that
    * never existed (TARGET_NOT_FOUND); then an at-least-once
    * redelivery of the last `redeliver` events handed out, re-sent
    * whole and in order (LOOP_BLOCKED), so its range spans this wave
    * and the tail of the one before. A Kafka partition redelivers its
    * own range: on topics where `sameTriggerOnly` holds the range
    * starts at this wave, because there a redelivery is blocked only
    * when it shares a trigger with its original.
    */
  def edgeWave(n: Int, redeliver: Int, sameTriggerOnly: Topic => Boolean): Seq[Event] = {
    val from = sent.size
    val fresh = Seq.fill(n)(edgeNext())
    sent ++= fresh
    val again = (math.max(0, sent.size - redeliver) until sent.size)
      .filter(i => i >= from || !sameTriggerOnly(sent(i).topic)).map(sent)
    fresh ++ again
  }

  private def edgeNext(): Event = {
    val t = Topic.all(rnd.nextInt(Topic.all.size))
    val r = rnd.nextInt(100)
    ts += 1
    if (r < 20 && dead(t).nonEmpty) reinsert(t)
    else if (r < 40 && live(t).nonEmpty) upsert(t)
    else if (r < 60 && live(t).nonEmpty) delete(t)
    else if (r < 80 && live(t).nonEmpty) update(t)
    else absent(t)
  }

  private def insertNew(t: Topic): Event = {
    val img = gen.image(t, gen.pkValue(t, nextKey(t)))
    nextKey(t) += 1
    live(t) += img
    gen.envelope(t, "INSERT", null, img, ts)
  }

  private def update(t: Topic): Event = {
    val rows = live(t)
    val i = rnd.nextInt(rows.size)
    val old = rows(i)
    val img = gen.image(t, old(t.source.pk))
    rows(i) = img
    gen.envelope(t, "UPDATE", old, img, ts)
  }

  private def delete(t: Topic): Event = {
    val rows = live(t)
    val i = rnd.nextInt(rows.size)
    val old = rows(i)
    rows(i) = rows.last
    rows.remove(rows.size - 1)
    dead(t) += old
    gen.envelope(t, "DELETE", old, null, ts)
  }

  private def upsert(t: Topic): Event = {
    val rows = live(t)
    val i = rnd.nextInt(rows.size)
    val img = gen.image(t, rows(i)(t.source.pk))
    rows(i) = img
    gen.envelope(t, "INSERT", null, img, ts)
  }

  private def reinsert(t: Topic): Event = {
    val gone = dead(t)
    val i = rnd.nextInt(gone.size)
    val img = gen.image(t, gone(i)(t.source.pk))
    gone(i) = gone.last
    gone.remove(gone.size - 1)
    live(t) += img
    gen.envelope(t, "INSERT", null, img, ts)
  }

  private def absent(t: Topic): Event = {
    absentKey += 1
    val img = gen.image(t, gen.pkValue(t, absentKey))
    if (rnd.nextBoolean()) gen.envelope(t, "UPDATE", null, img, ts)
    else gen.envelope(t, "DELETE", img, null, ts)
  }
}

/** Open-loop OLTP churn over a skewed hot key set on every table.
  * Per event: 2 % go to keys that never existed (UPDATE or DELETE →
  * TARGET_NOT_FOUND); otherwise a hot key drawn with a power-law skew:
  * if it exists 80 % UPDATE, 10 % DELETE, 10 % INSERT (upsert); if it
  * was deleted 80 % re-INSERT, 20 % UPDATE/DELETE (TARGET_NOT_FOUND).
  */
final class ChurnSource(seed: Long, keysPerTable: Int) {
  private val gen = new Generator(seed)
  private val rnd = new java.util.Random(seed * 31 + 11)
  /** source-side current image per key (null = deleted) */
  private val rows: Map[Topic, Array[Map[String, Any]]] =
    Topic.all.map(t => t -> Array.tabulate(keysPerTable)(i => gen.image(t, gen.pkValue(t, i + 1L)))).toMap
  private var cold = 10L * keysPerTable

  def preload: Seq[(Topic, Map[String, Any])] = Topic.all.flatMap(t => rows(t).map(t -> _))

  def next(tsMs: Long): Event = {
    val t = Topic.all(rnd.nextInt(Topic.all.size))
    if (rnd.nextInt(100) < 2) {
      cold += 1
      val img = gen.image(t, gen.pkValue(t, cold))
      if (rnd.nextBoolean()) gen.envelope(t, "UPDATE", null, img, tsMs)
      else gen.envelope(t, "DELETE", img, null, tsMs)
    } else {
      val k = (keysPerTable * math.pow(rnd.nextDouble(), 3)).toInt
      val cur = rows(t)(k)
      val pk = gen.pkValue(t, k + 1L)
      val r = rnd.nextInt(100)
      if (cur != null) {
        if (r < 80) { val img = gen.image(t, pk); rows(t)(k) = img; gen.envelope(t, "UPDATE", cur, img, tsMs) }
        else if (r < 90) { rows(t)(k) = null; gen.envelope(t, "DELETE", cur, null, tsMs) }
        else { val img = gen.image(t, pk); rows(t)(k) = img; gen.envelope(t, "INSERT", null, img, tsMs) }
      } else {
        val img = gen.image(t, pk)
        if (r < 80) { rows(t)(k) = img; gen.envelope(t, "INSERT", null, img, tsMs) }
        else if (r < 90) gen.envelope(t, "UPDATE", null, img, tsMs)
        else gen.envelope(t, "DELETE", img, null, tsMs)
      }
    }
  }
}
