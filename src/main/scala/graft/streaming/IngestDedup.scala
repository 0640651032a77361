package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.Dedup
import graft.sources.{Bucketing, DedupIndex}

/** Streaming ingest dedup — the reason the persisted dedup index
  * exists: a document stream is gated micro-batch by micro-batch
  * against the stored corpus ([[graft.sources.DedupIndex.probe]] —
  * only the batch hashes; the index side reads its stored buckets),
  * and the SURVIVORS append to both the curated output and the index
  * ([[graft.sources.DedupIndex.append]], O(|batch|)), so every later
  * batch dedups against everything that ever survived — the streaming
  * form of `cp1`'s curation gate, and the cdc-sync dedup loop
  * re-expressed for document ingest (reference behavior:
  * `poc/.../CdcEventProcessor.java`'s hash-gate, generalized from
  * exact change-hashes to near-dup similarity).
  *
  * Per-trigger cost: O(|batch|) signature hashing + a bucket-pruned
  * band join against the index + one bucketed append — the corpus is
  * never re-hashed, so the trigger cost is flat in corpus size (the
  * property that survives a 100 TB corpus).
  */
object IngestDedup {

  private def inParallel(fs: (() => Unit)*): Unit = graft.Par.run(fs: _*)

  /** One micro-batch through the gate — EXACTLY-ONCE under foreachBatch
    * replay, for the outputs and the index alike:
    *
    *  1. Outputs commit per epoch by ATOMIC DIRECTORY RENAME: rows are
    *     staged under a dot-dir (invisible to readers), then the whole
    *     staging dir moves to `<dir>/epoch=<batchId>` in one rename.
    *     A replay that finds the epoch dir skips recomputation; one
    *     that doesn't recomputes from scratch (staging debris from the
    *     crashed attempt is simply overwritten).
    *  2. The index appends are idempotent AND order-free: they land
    *     via deterministic epoch-keyed file names (re-appending the
    *     same epoch replaces its own files instead of duplicating band
    *     rows), and a replay's RECOMPUTE is immune to a half-landed
    *     epoch append because the unified probe's index side excludes
    *     the batch's own ids ([[DedupIndex.probeWithInBatch]]) — so
    *     commits and appends all run concurrently per trigger.
    *
    * The epoch marker is a fast-path only (skip fully-landed epochs
    * without touching Spark); correctness never depends on it.
    *
    * Rejections (near-dup of an indexed doc, or in-batch near-dup of a
    * lower-id survivor) land in `rejectDir` with the duplicate's id and
    * similarity; survivors land in `outDir` AND the index. Readers see
    * `epoch` as a partition column on both output roots.
    *
    * Returns the survivor frame when THIS call computed it fresh (a
    * plan over the trigger's eager checkpoints, row-identical to the
    * committed epoch) so a composing caller can skip the epoch
    * read-back on the hot path; `None` on any replay skip. The frame
    * is a HANDOFF, not a durable artifact: consume it within the
    * producing trigger — its checkpoint blocks are session-held and
    * unrecoverable if lost; anything retained across triggers must
    * re-read `outDir/epoch=<batchId>` (the committed record).
    */
  def applyBatch(
      spark: SparkSession, table: String, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, outDir: String, rejectDir: String,
      threshold: Double = 0.9): Option[DataFrame] = {
    val marker = s"$outDir/_graft_ingest_epoch"
    if (EpochCommit.readMarker(spark, marker).exists(_ >= batchId)) return None // replay
    val epochKey = s"ingest-e$batchId"
    // gate on BOTH roots: the epoch commits run in parallel below, so
    // either may exist without the other after a crash — recompute
    // whenever one is missing (deterministic even if this epoch's index
    // append half-landed: the probe excludes the batch's own ids) and
    // let commitEpoch's own idempotence skip the half that landed
    val fresh = if (!(EpochCommit.epochExists(spark, outDir, batchId) &&
        EpochCommit.epochExists(spark, rejectDir, batchId))) {
      // ONE checkpoint job materializes payload + signatures together —
      // it feeds the corpus probe, the in-batch pair stage, both epoch
      // writes, and the index append
      val b = TriggerTiming.timed("ingest", "checkpoint+hash") {
        Dedup.withMinHashSignatures(batch, idCol, textCol)
      }
      val payloadCols = batch.columns.toSeq
      val sigs = b.select(col(idCol).as("id"), col("wh"), col("band_keys"))
      // ONE dataflow finds every rejecting pair — cross-batch (near-dup
      // of an already-indexed doc) and in-batch (id_a < id_b by
      // construction — the higher id drops, deterministically) run as a
      // single band join over the unioned left side
      // ([[DedupIndex.probeWithInBatch]]): the trigger is driver-
      // analysis-bound, and one plan costs one analysis
      val pairs = TriggerTiming.timed("ingest", "probe+pairs") {
        DedupIndex.probeWithInBatch(spark, table, sigs, threshold)
          .localCheckpoint(true)
      }
      // a SINGLE min_by picks each id_b's one (dup_of, similarity,
      // reason) witness: the lexicographic min over all pairs equals
      // the min of the per-reason mins (no key ties: the reason
      // disambiguates a pair that is both in-corpus and in-batch). NOT
      // checkpointed: the agg over the frozen pair checkpoint is
      // deterministic and tiny, and its consumers below all run inside
      // parallel phases — re-deriving it there is cheaper than a
      // serial checkpoint job
      val rejected = pairs
        .groupBy(col("id_b"))
        .agg(min_by(struct(col("id_a").as("dup_of"),
          col("jaccard").as("similarity"), col("reason")),
          struct(col("id_a"), col("reason"))).as("m"))
        .select(col("id_b"), col("m.dup_of").as("dup_of"),
          col("m.similarity").as("similarity"), col("m.reason").as("reason"))
      // the appended signatures are the batch's own filtered to the
      // survivor ids — row-identical to re-hashing the frozen survivors
      // dir (hashing is deterministic per document), minus the parquet
      // round-trip and a third hash job. An all-rejected epoch still
      // renames ONE zero-row file into each index table (Spark's
      // FileFormatWriter emits a schema-only part file for partition 0
      // of an empty write) — harmless to reads and replay-replaced by
      // its epoch key, and the next compaction folds the debris away;
      // skipping it would cost a count action on the hot path

      val survivorSigs =
        sigs.join(rejected, sigs("id") === rejected("id_b"), "left_anti")
      // FOUR independent writes overlap: the two epoch commits (frozen
      // inputs, different roots — the dual-dir gate above makes any
      // crash interleaving replay-correct) and BOTH index-append
      // halves. The appends may land before the epochs commit because
      // a replay's recompute is deterministic regardless: the unified
      // probe's index side anti-joins the batch's own ids
      // ([[DedupIndex.probeWithInBatch]]), so a half-landed epoch
      // append is invisible to the recomputed reject set, and the
      // epoch-keyed append file names make the re-append replace its
      // own files. Each write is idempotent; order no longer matters.
      val survivors = b.join(rejected, b(idCol) === rejected("id_b"), "left_anti")
        .select(payloadCols.map(col): _*)
      TriggerTiming.timed("ingest", "commits+appends") {
        inParallel(
          () => commitEpoch(
            b.join(rejected, b(idCol) === rejected("id_b"))
              .select(col(idCol), col("dup_of"), col("similarity"), col("reason")),
            rejectDir, batchId),
          () => commitEpoch(survivors, outDir, batchId),
          () => Bucketing.appendBucketedEpoch(
            survivorSigs.select(col("id"), col("wh")), s"${table}_wh", epochKey),
          () => Bucketing.appendBucketedEpoch(
            survivorSigs.select(col("id"), col("band_keys"),
              posexplode(col("band_keys")).as(Seq("band_pos", "band_key")))
              .select(col("band_pos"), col("band_key"), col("band_keys"), col("id")),
            table, epochKey))
      }
      Some(survivors)
    } else {
      if (EpochCommit.epochHasData(spark, outDir, batchId))
        // replay with the out epoch already committed: the batch was
        // never recomputed this attempt, so hash the FROZEN survivors
        // (the append stays idempotent per epoch key)
        DedupIndex.appendEpoch(spark, table,
          spark.read.parquet(s"$outDir/epoch=$batchId"), idCol, textCol,
          epochKey = epochKey)
      None
    }
    EpochCommit.writeMarker(spark, marker, batchId)
    fresh
  }

  private def commitEpoch(df: DataFrame, root: String, batchId: Long): Unit =
    EpochCommit.commitEpoch(df, root, batchId)

  /** Run the gate over a document stream against an EXISTING index
    * (build it first with [[graft.sources.DedupIndex.build]]).
    *
    * `shufflePartitions` sizes the session's shuffle width to the
    * TRIGGER volume, the same argument as [[MultiplexedSyncPipeline]]'s
    * shuffle-partition constant: an ingest trigger is small by construction, so
    * per-trigger cost is fixed per-partition work (task launch, file
    * commit) — 32 batch-analytics partitions for a ~1k-doc trigger is
    * nearly all overhead. The default matches the index's bucket count
    * (the probe join shuffles the batch side to the bucket width
    * anyway); size up with trigger volume on a cluster. Only ever
    * LOWERS the session value; `None` inherits it. Both pins (shuffle
    * width down, driver-side listing threshold up to 1024 — each
    * appended epoch adds bucket files, and past 32 files every
    * per-trigger resolution would spawn a distributed listing JOB)
    * register in [[ConfPins]] and release when the query terminates —
    * two gates sharing one session keep the pin until the LAST one
    * stops, and a late async termination event cannot clobber a fresh
    * restart's pin. Batch work multiplexed on the same session DURING
    * a stream still sees the pinned values; pass `None` to opt out of
    * the shuffle pin entirely.
    */
  def start(
      docs: DataFrame, table: String, idCol: String, textCol: String,
      outDir: String, rejectDir: String, checkpoint: String,
      threshold: Double = 0.9,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      shufflePartitions: Option[Int] = Some(8)): StreamingQuery = {
    val spark = docs.sparkSession
    // acquire BEFORE start so the first trigger already plans at the
    // pinned width; the holder id is arbitrary (one per start call)
    val release = ConfPins.acquireGatePins(spark, shufflePartitions,
      java.util.UUID.randomUUID())
    val query =
      // a start() failure never reaches the termination listener — the
      // holder must release here or the session stays pinned forever
      try docs.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) =>
          applyBatch(b.sparkSession, table, b, id, idCol, textCol,
            outDir, rejectDir, threshold); ()
        }
        .start()
      catch { case e: Throwable => release(); throw e }
    QueryCleanup.onTermination(spark, query)(release)
    query
  }
}
