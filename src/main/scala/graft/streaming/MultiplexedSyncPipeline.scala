package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc._

/** The sync query: ONE streaming query over the topics of any set of
  * `(mapping, direction)` pairs — a single pair, or all six the way the
  * reference consumes them (6 topics over 3 listener threads,
  * `KafkaConfig.java:83`). Per-pair [[SyncPipeline.transformed]]
  * branches union into ONE watermark + ONE loop-dedup state operator
  * (change hashes embed the target table —
  * [[graft.cdc.Hashing.loopHash]] — so keys can't collide across
  * topics), and one `foreachBatch` hands every pair's slice to ONE
  * epoch sink, [[SyncPipeline.applyMicroBatch]]: per-table delta
  * stages, one audit job and one audit file per epoch, exactly-once
  * on the shared batch id. Each pair's typed target
  * columns ride the union as a struct column of their own, so every
  * value reaches the apply with the type and precision the transform
  * gave it; `seq` / `event_ts` / `change_hash` / `operation` stay
  * top-level for the dedup operator. The default trigger is 5 s
  * (`Trigger.ProcessingTime`, mirroring the reference's
  * DBMS_SCHEDULER cadence, `asis…04:396`).
  *
  * How many pairs each query gets is a deployment choice, and the
  * measured crossover is cores/queries ≈ 1 (round 9, core-capped
  * sessions, six topics; recorded in COVERAGE.md). While cores ≥
  * queries, six one-pair queries overlap their triggers and lead —
  * local[8]: 865 vs 794 ev/s for one six-pair query at 500-row
  * triggers, 6,510 vs 6,218 at 4,000. Below it their trigger threads
  * contend and one six-pair query wins — local[4]: 657 vs 497 (+32%)
  * at 500-row triggers, 4,376 vs 3,595 (+22%) at 4,000. The price of
  * more pairs per query: one checkpoint (no independent per-topic
  * restart), lockstep triggers, one state operator sized for the sum
  * of its topics.
  */
final class MultiplexedSyncPipeline(
    spark: SparkSession,
    store: SnapshotStore,
    trigger: Trigger = Trigger.ProcessingTime("5 seconds")) {

  private val inner = new SyncPipeline(spark, store)

  /** Start ONE query carrying every `(mapping, direction)` pair's topic
    * slice of `source` (a (topic, value) stream).
    */
  def start(
      source: DataFrame,
      pairs: Seq[(TableMapping, Direction.Value)],
      checkpoint: String): StreamingQuery = {
    // spread the raw (topic, value) rows so the map-side work (envelope
    // parse + transform) does not run on the source's own partitioning
    // — often one or two partitions per trigger (Kafka partition count,
    // MemoryStream blocks). The optimizer pushes each branch's topic
    // filter below this repartition, so n pairs plan n source scans and
    // n round-robin exchanges, each carrying only its own topic's rows:
    // map-side parallelism equal to the state tier's, per branch.
    val spread = source.repartition(MultiplexedSyncPipeline.shufflePartitions)
    // pair i's target columns ride as struct `__p<i>`, null in the
    // other pairs' rows
    def payload(i: Int) = s"__p$i"
    val branches = pairs.zipWithIndex.map { case ((m, d), i) =>
      val targetCols = m.specsFor(d).map(_._1)
      inner.transformed(spread, m, d)
        .select(lit(Registry.topicFor(d, m)).as("__route"),
          col("operation"), col("seq"), col("event_ts"), col("change_hash"),
          struct(targetCols.map(col): _*).as(payload(i)))
    }
    val union = branches.reduce(_.unionByName(_, allowMissingColumns = true))
      .withWatermark("event_ts", MultiplexedSyncPipeline.watermarkDelay)
    val writer = LoopDedupTws(union).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // one materialization of the shared front half (parse +
        // transform + dedup state pass); every slice of the epoch sink
        // reads this cache, twice (delta stage, audit)
        val b = batch.persist()
        // a fully-empty micro-batch (watermark-advance triggers are
        // steady-state) skips the sink entirely — no table has anything
        // to gate on, and 6 abort-a-stage-write probes per empty
        // trigger were measured at ~0.5 s of pure overhead per wave
        try {
          if (TriggerTiming.timed("mux-trigger", "front-half")(b.count()) > 0L)
            inner.applyMicroBatch(pairs.zipWithIndex.map { case ((m, d), i) =>
              (b.filter(col("__route") === Registry.topicFor(d, m))
                .select(col("loop_blocked"), col("seq"), col("operation"),
                  col("change_hash"), col(s"${payload(i)}.*")), m, d)
            }, id)
        } finally { b.unpersist(); () }
      }
    MultiplexedSyncPipeline.withQueryConf(spark)(writer.start())
  }
}

object MultiplexedSyncPipeline {

  /** Shuffle/state partition count of the sync query (the first
    * micro-batch bakes it into the checkpoint, so it holds for the
    * query's lifetime), also used to spread the source. A 5 s
    * trigger's batch is small BY CONSTRUCTION, so per-trigger cost is
    * dominated by fixed per-partition work — a state-store (RocksDB)
    * load+commit per partition per trigger — not by data volume. The
    * state operator carries the SUM of its pairs' trigger volume; 6
    * measured best for six ~4k-row topic slices per trigger on one node
    * (12 paid more per-partition state fixed cost than the extra
    * parallelism returned). On a cluster, size it to summed rows per
    * trigger.
    */
  private[graft] val shufflePartitions = 6

  /** Event-time lateness the dedup's watermark allows; the same span
    * as the loop-hash TTL ([[LoopDedupTws.ttlMsDefault]]).
    */
  private val watermarkDelay = "10 minutes"

  /** Run `start` with [[LoopDedupTws.sessionConf]] and
    * [[shufflePartitions]] set on `spark`, then restore (or unset) the
    * caller's values; the query keeps them in the session clone it takes
    * as it starts. One JVM-wide lock: concurrent starts never interleave.
    */
  private def withQueryConf[T](spark: SparkSession)(start: => T): T = synchronized {
    val conf = LoopDedupTws.sessionConf :+
      ("spark.sql.shuffle.partitions" -> shufflePartitions.toString)
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try start
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
