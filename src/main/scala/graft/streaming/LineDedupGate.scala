package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming line-level dedup — [[graft.ops.Dedup.lineDedup]]'s
  * cross-trigger form, and the boilerplate-removal tier a production
  * ingest runs in front of the document gates: per-line distinct-doc
  * counts accumulate in a store table across triggers, and every
  * micro-batch's documents are REWRITTEN against the corpus-so-far —
  * a cookie banner that first looked unique in trigger 1 starts being
  * stripped the moment a second document carries it.
  *
  * Streaming semantics, stated honestly: a batch is rewritten against
  * the line counts of everything seen UP TO AND INCLUDING itself —
  * earlier epochs are immutable, so a line that only later becomes
  * common is NOT retroactively removed from them (CCNet has the same
  * property: its counts come from whatever pass built the hash table).
  * What IS exact is the count state: after any trigger prefix it
  * equals the batch recount over the concatenated input (integer
  * addition is the whole merge), which is the spec-pinned contract,
  * alongside cross-trigger blocking and replay idempotence.
  *
  * State is the store's ADDITIVE kind with the line text as payload —
  * per-trigger writes are O(|batch's distinct lines|) deltas, the
  * chain folds at compaction boundaries, and the distinct-doc counts
  * are additive across triggers because each document id arrives once
  * (the stream contract; an upstream signature gate enforces it).
  * State size is O(distinct lines) rows — the honest cost of the
  * CCNet pass.
  *
  * `narrowState = true` stores hash60(line) (one long) instead of the
  * line text — the 100 TB layout. MEASURED (20M-row state, 12k-key
  * trigger probe, warm draws; recorded in PLANS.md): the gate's exact read
  * shape (bucketed scan + broadcast semi-join + merge-on-read
  * aggregate) runs 2.4-2.7 s keyed by text vs 0.5-0.8 s keyed by the
  * long — 3-4×, and the delta is the STRING hash-probe cost
  * (~90 ns/row), not parquet decode (full-scan decode of the two
  * layouts is within noise). The trade it buys: two distinct lines
  * colliding in 60 bits share a count (p ≈ n²/2⁶¹ — at 20M lines
  * ~2·10⁻⁴ for any collision existing at all), so an innocent line
  * can strip early. Exact text equality stays the DEFAULT; the
  * narrow layout is the opt-in for billion-line states where the
  * probe cost dominates trigger time. A chain's layout is fixed at
  * creation (the bucket key is recorded) — don't flip the flag on an
  * existing table.
  *
  * Exactly-once: the cleaned epoch publishes FIRST
  * ([[EpochCommit.commitEpoch]], atomic rename), the count delta
  * commits SECOND (batch id in the additive commit's meta). The order
  * is load-bearing: a replay after a crash between the two recomputes
  * the rewrite against the SAME state (its own counts haven't landed),
  * reproduces the identical epoch (skipped by the epoch dir), then
  * lands the counts. The reverse order would rewrite the replayed
  * batch against state that already includes itself — every in-batch
  * line would cross `minDocs` spuriously.
  */
object LineDedupGate {

  private val countSchema = StructType(Seq(
    StructField("line", StringType), StructField("state_cnt", LongType)))
  private val narrowSchema = StructType(Seq(
    StructField("line_h60", LongType), StructField("state_cnt", LongType)))

  /** Bucket count for the count table's line-hash layout: the state
    * files cluster by pmod(hash(line), 64), so the per-trigger
    * [[SnapshotStore.additiveSnapshotForKeys]] read pushes a ≤ 64-value
    * `__bkt IN` filter and SKIPS the buckets the batch's lines don't
    * touch. A trigger carrying ≥ 64 × ~20 distinct lines probes every
    * bucket, but each bucket is 1/64th of the state — the scan is
    * O(state/64 · buckets touched) bytes instead of O(state): the
    * 20M-line probe measured the un-pruned scan dominating trigger
    * time (687 → 244 docs/s from 2M → 20M lines). 64 keeps base file
    * counts operational (a 10B-line state = 64 files of ~150M lines);
    * raise it with state size if row groups outgrow pruning
    * granularity.
    */
  val LineBuckets = 64

  /** One micro-batch through the gate (idempotent per `batchId`):
    * publish the rewritten docs to `outDir/epoch=<batchId>`, then fold
    * the batch's per-line distinct-doc counts into `table`.
    *
    * The published rows keep the batch's FULL schema — `textCol` holds
    * the cleaned text, `n_lines`/`n_dropped` append as stats — so the
    * epoch composes as a ladder tier ([[CurationStream]]'s frozen
    * handoff): downstream gates still see ids, languages, embeddings.
    *
    * Unlike the other gates, the returned frame is the committed epoch
    * READ (its plan consults mutable store counts — re-evaluating the
    * pre-commit plan downstream could diverge from the epoch), so it
    * stays valid across triggers: `outDir` epochs are never folded.
    */
  def applyBatch(
      store: SnapshotStore, table: String, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, outDir: String,
      minDocs: Int = 2, narrowState: Boolean = false): Option[DataFrame] = {
    val spark = batch.sparkSession
    val epochDone = EpochCommit.epochExists(spark, outDir, batchId)
    // defensive parse: a non-numeric marker (e.g. a count table seeded
    // by a caller's own commit, whose meta is free text) must read as
    // "counts not done" — an unconditional .toLong would throw on every
    // trigger, a crash loop. NOTE the count table, outDir and the
    // stream checkpoint must be reset TOGETHER: a checkpoint reset
    // alone restarts batch ids at 0, which this high-watermark would
    // read as already-landed and silently skip count deltas.
    val countsDone = store.currentMeta(table)
      .flatMap(m => scala.util.Try(m.toLong).toOption).exists(_ >= batchId)
    if (epochDone && countsDone) return None // fully landed epoch
    val lines = graft.ops.Dedup.explodeLines(batch, idCol, textCol)
      .localCheckpoint(true) // feeds the counts AND the rewrite
    val keyCol = if (narrowState) "line_h60" else "line"
    def keyOf(c: org.apache.spark.sql.Column) =
      if (narrowState) graft.ops.Dedup.hash60(c) else c
    val bc = lines.groupBy(keyOf(col("line")).as(keyCol))
      .agg(count_distinct(col("id")).cast("long").as("state_cnt"))
      .localCheckpoint(true)
    val rewrote =
      if (!epochDone) {
        val dupKeys = thresholdDups(store, table, bc, minDocs, narrowState)
        // the rewrite drops LINE TEXT occurrences; in narrow mode the dup
        // keys are hashes, so the batch's own lines resolve them back to
        // text first (batch-sized semi-join — state never carries text)
        val dups =
          if (narrowState)
            lines.select(col("line"), keyOf(col("line")).as(keyCol))
              .join(broadcast(dupKeys), Seq(keyCol), "left_semi")
              .select(col("line")).distinct()
          else dupKeys
        val cleaned = graft.ops.Dedup.rewriteDroppingLines(lines, dups)
          .withColumnRenamed("id", idCol)
        val out = batch.drop(textCol)
          .join(cleaned.withColumnRenamed("clean_text", textCol), Seq(idCol))
        EpochCommit.commitEpoch(out, outDir, batchId)
        true
      } else false
    if (!countsDone)
      store.commitAdditive(table, bc, meta = Some(batchId.toString),
        bucketBy = Some((keyCol, LineBuckets)))
    // unlike the other gates, the rewrite plan reads the STORE (the
    // threshold counts), which the commitAdditive above just moved —
    // re-evaluating it downstream would see post-batch counts and
    // diverge from the committed text. Hand back the frozen epoch
    // itself: the caller still skips its own existence probing.
    if (rewrote && EpochCommit.epochHasData(spark, outDir, batchId))
      Some(spark.read.parquet(s"$outDir/epoch=$batchId"))
    else if (rewrote) Some(batch.limit(0)
      .withColumn("n_lines", org.apache.spark.sql.functions.lit(0L))
      .withColumn("n_dropped", org.apache.spark.sql.functions.lit(0L)))
    else None
  }

  /** The per-trigger threshold plan: total doc count per line over
    * state ⊕ this batch (so in-batch cross-doc boilerplate blocks
    * immediately, not one trigger late), with the state side pruned to
    * the BATCH's own distinct lines first —
    * [[SnapshotStore.additiveSnapshotForKeys]] broadcast-semi-joins the
    * raw base ⊕ delta rows against the trigger-sized line set BELOW the
    * merge-on-read aggregate, so only the state's occurrences of batch
    * lines ever reach an exchange: the per-trigger aggregation shuffles
    * O(|batch|) rows, not O(|distinct lines ever seen|) — at 100 TB the
    * accumulated line table is billions of rows, and re-shuffling it
    * every 5 s trigger was the gate's scale-killer. The pruning is
    * semantics-free: the rewrite join keys on the batch's own lines, so
    * a line absent from the batch can never affect the rewrite. The
    * state-file SCAN improved too (PLANS.md lesson 46): the count
    * table is line-hash BUCKETED ([[LineBuckets]]) and folds into one
    * file per ~bucket, so (a) the state decode parallelizes across the
    * bucket files instead of whatever few files the delta chain
    * happens to hold — measured 244 → ~340 docs/s at 20M seeded lines
    * — and (b) a probe touching FEW buckets (keys ≪ 64) pushes a
    * `__bkt IN` filter that skips untouched buckets' row groups
    * entirely. A 12k-line trigger touches all 64 buckets, so its
    * residual cost is the columnar floor — one parallel decode of the
    * state per trigger (~75 ns/row here); truly flat per-trigger cost
    * for large-probe workloads would take a point-lookup state store
    * (the TWS/RocksDB trade this additive-chain design deliberately
    * declined for portability and batch-replay symmetry).
    */
  private[streaming] def thresholdDups(
      store: SnapshotStore, table: String, bc: DataFrame,
      minDocs: Int, narrowState: Boolean = false): DataFrame = {
    val keyCol = if (narrowState) "line_h60" else "line"
    val schema = if (narrowState) narrowSchema else countSchema
    bc.unionByName(
        store.additiveSnapshotForKeys(table, schema, bc.select(col(keyCol))))
      .groupBy(col(keyCol)).agg(sum(col("state_cnt")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col(keyCol))
  }

  /** The accumulated per-line counts: (line, n_docs), the gate's
    * queryable surface (and the spec's incremental-equals-batch side).
    */
  def lineCounts(spark: SparkSession, store: SnapshotStore, table: String,
      narrowState: Boolean = false): DataFrame =
    store.additiveSnapshot(table,
        if (narrowState) narrowSchema else countSchema)
      .withColumnRenamed("state_cnt", "n_docs")

  /** Run the gate over a document stream. Session pins follow
    * [[IngestDedup.start]]'s contract: trigger-sized batches plan at a
    * narrow shuffle width, acquired before start and released on
    * termination (refcounted — concurrent gates compose).
    */
  def start(
      docs: DataFrame, store: SnapshotStore, table: String,
      idCol: String, textCol: String, outDir: String, checkpoint: String,
      minDocs: Int = 2,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      shufflePartitions: Option[Int] = Some(8),
      narrowState: Boolean = false): StreamingQuery = {
    val spark = docs.sparkSession
    val release = ConfPins.acquireGatePins(spark, shufflePartitions,
      java.util.UUID.randomUUID())
    val query =
      try docs.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) =>
          applyBatch(store, table, b, id, idCol, textCol, outDir, minDocs,
            narrowState); ()
        }
        .start()
      catch { case e: Throwable => release(); throw e }
    QueryCleanup.onTermination(spark, query)(release)
    query
  }
}
