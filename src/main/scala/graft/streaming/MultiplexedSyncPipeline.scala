package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cdc._

/** ALL topics through ONE streaming query — the consolidated
  * alternative to the six-query topology, mirroring the reference's
  * own economy (6 topics over 3 listener threads,
  * `KafkaConfig.java:83` — it never pays one consumer loop per topic
  * either). Per-topic parse/transform branches union into ONE
  * watermark + ONE loop-dedup state operator (change hashes embed the
  * target table — [[graft.cdc.Hashing.loopHash]] — so keys can't
  * collide across topics and the dedup semantics are unchanged), and
  * one `foreachBatch` routes each topic's slice to the same
  * [[SyncPipeline.applyMicroBatch]] the per-topic queries use — the
  * per-table apply/audit work, and its exactly-once choreography
  * (gated per TABLE on the shared batch id), is byte-identical. The
  * union's schema is harmonized by carrying each table's typed target
  * columns as one JSON payload column, rebuilt with `from_json`
  * against the registry schema inside the batch; `seq` / `event_ts` /
  * `change_hash` / `operation` stay top-level for the dedup operator.
  *
  * MEASURED trade (local[32], six topics, same workload as the
  * concurrent bench probe; recorded in COVERAGE.md): consolidation
  * pays the framework per-trigger fixed cost (offset/commit logs,
  * planning, per-partition state commits) ONCE per wave instead of
  * six times — but the
  * six-query topology runs those six triggers' entire front halves AND
  * applies concurrently, hiding their fixed costs in parallel slack
  * that the consolidated query's front-half → fan-out barrier cannot
  * use. Net on one driver with spare cores: multiplexed beats a single
  * pipeline at equal volume (~5.2k vs ~4.8k events/s) but trails the
  * six-query topology (~6.7k) at BOTH small and large trigger volumes
  * — the bench carries `concurrent_events_per_s` and
  * `multiplexed_events_per_s` side by side so the trade stays visible.
  * Where this form wins instead: query-count-constrained drivers
  * (hundreds of topics — per-query trigger threads, listener and
  * progress overheads scale with queries, not rows), shared-source
  * fan-in, and operational one-checkpoint simplicity. Cost: a single
  * checkpoint (no per-topic independent restart/backfill), lockstep
  * triggers, one state operator sized for the sum of topics. Both
  * forms share every stage, so switching is a config change.
  *
  * CROSSOVER, measured (round 9 under core-capped sessions, six
  * topics; recorded in COVERAGE.md): with cores ≥ queries the
  * concurrent topology keeps its parallel-slack win — local[8]: mux 794 vs conc 865 ev/s
  * at 500-row triggers, 6,218 vs 6,510 at 4,000 — but once cores drop
  * BELOW the query count the six trigger threads contend instead of
  * overlapping and the consolidated form wins outright — local[4]:
  * mux 657 vs conc 497 (+32%) at 500-row triggers, 4,376 vs 3,595
  * (+22%) at 4,000. The asserted "query-count-constrained" win is
  * therefore real and its boundary is cores/queries ≈ 1: size the
  * topology by whether trigger threads can actually run concurrently.
  */
final class MultiplexedSyncPipeline(
    spark: SparkSession,
    store: SnapshotStore,
    trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
    watermarkDelay: String = "10 minutes",
    loopTtlMs: Long = LoopDedupTws.ttlMsDefault) {

  // only its per-topic `transformed` and `applyMicroBatch` are used,
  // neither of which reads the inner pipeline's query options
  private val inner = new SyncPipeline(spark, store)

  private def payloadSchema(m: TableMapping, d: Direction.Value): StructType = {
    val target = m.targetFor(d)
    val targetCols = m.specsFor(d).map(_._1)
    StructType(Registry.targetSchema(target).filter(f => targetCols.contains(f.name)))
  }

  /** Start ONE query carrying every `(mapping, direction)` pair's topic
    * slice of `source` (a (topic, value) stream).
    */
  def start(
      source: DataFrame,
      pairs: Seq[(TableMapping, Direction.Value)],
      checkpoint: String): StreamingQuery = {
    LoopDedupTws.configureSession(spark)
    spark.conf.set("spark.sql.shuffle.partitions",
      MultiplexedSyncPipeline.shufflePartitions.toString)
    // spread the raw (topic, value) rows BEFORE the per-topic branches:
    // the map-side work (envelope parse + transform + payload encode)
    // otherwise runs on the source's own partitioning — often one or
    // two partitions per trigger (Kafka partition count, MemoryStream
    // blocks) — which serializes exactly the stage consolidation is
    // supposed to parallelize. One narrow-row exchange buys map-side
    // parallelism equal to the state tier's.
    val spread = source.repartition(MultiplexedSyncPipeline.shufflePartitions)
    val branches = pairs.map { case (m, d) =>
      val targetCols = m.specsFor(d).map(_._1)
      inner.transformed(spread, m, d)
        .select(lit(Registry.topicFor(d, m)).as("__route"),
          col("operation"), col("seq"), col("event_ts"), col("change_hash"),
          to_json(struct(targetCols.map(col): _*)).as("__payload"))
    }
    val union = branches.reduce(_ unionByName _)
      .withWatermark("event_ts", watermarkDelay)
    val deduped = LoopDedupTws(union, ttlMs = loopTtlMs)
    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // one materialization of the shared front half (parse +
        // transform + dedup state pass) so the per-topic applies read
        // the cache, then the applies run CONCURRENTLY — they touch
        // disjoint tables and the audit path is per-epoch-file
        // (lock-free); serial applies measured 3.0k vs parallel ~5.2k
        // events/s on the six-topic bench
        val b = batch.persist()
        def timed[A](phase: String)(f: => A): A =
          TriggerTiming.timed("mux-trigger", phase)(f)
        // populate the cache in ONE pass; a fully-empty micro-batch
        // (watermark-advance triggers are steady-state) skips the
        // per-topic fan-out entirely — no table has anything to gate
        // on, and 6 abort-a-stage-write probes per empty trigger were
        // measured at ~0.5 s of pure overhead per wave
        if (timed("front-half")(b.count()) == 0L) { b.unpersist(); () }
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(pairs.size)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          try {
            val applies = pairs.map { case (m, d) =>
              scala.concurrent.Future {
                val targetCols = m.specsFor(d).map(_._1)
                val slice = b.filter(col("__route") === Registry.topicFor(d, m))
                  .withColumn("__p", from_json(col("__payload"), payloadSchema(m, d)))
                  .select(Seq(col("loop_blocked"), col("seq"), col("operation"),
                    col("change_hash")) ++
                    targetCols.map(c => col(s"__p.`$c`").as(c)): _*)
                inner.applyMicroBatch(slice, m, d, id)
              }
            }
            timed("applies")(scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(applies),
              scala.concurrent.duration.Duration(10, "min")))
            ()
          } finally { pool.shutdown(); b.unpersist(); () }
        }
      }
      .start()
  }
}

object MultiplexedSyncPipeline {

  /** Shuffle/state partition count, SET on the session at
    * [[MultiplexedSyncPipeline.start]] (unlike [[SyncPipeline]]'s
    * lower-only value) and used to spread the source: the consolidated
    * query's state operator carries the SUM of all topics' trigger
    * volume, so sizing it to a single topic's volume (the session may
    * have been tuned for per-topic queries) would serialize the one
    * stage that every topic now shares. 6 measured best for six
    * ~4k-row topic slices per trigger on one node (12 paid more
    * per-partition state fixed cost than the extra parallelism
    * returned); size to summed rows per trigger on a cluster.
    */
  private val shufflePartitions = 6
}
