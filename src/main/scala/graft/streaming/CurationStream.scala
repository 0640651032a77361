package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The FULL streaming curation ladder in one exactly-once stream — the
  * end-to-end topology a production ingest actually runs, composing
  * the three gates this engine already proves individually:
  *
  * {{{
  *   docs ──▶ ① quality gate ──▶ ② signature dedup gate ──▶ ③ semantic
  *            (row constraints)   (MinHash vs corpus index)  gate (IVF,
  *                 │ rejects           │ rejects             optional)
  *                 ▼                   ▼                        │ rejects
  *            quality_reject       dup_reject                sem_reject
  *                                                              │
  *                                                           curated +
  *                                                           both indexes
  * }}}
  *
  * …which is `cp2_dedup_ladder`'s batch composition re-expressed as a
  * stream: every tier's decisions persist, so a near-dup arriving an
  * hour after its original is still blocked, and the curated output is
  * exactly what the batch ladder would have kept given the same
  * trigger order.
  *
  * The composition adds NO new exactly-once machinery — that is the
  * point. Each tier is idempotent per `batchId`
  * ([[QualityGate.applyBatch]], [[IngestDedup.applyBatch]],
  * [[SemanticIngestGate.applyBatch]]), and tier k+1 consumes tier k's
  * COMMITTED epoch directory (`…/epoch=<batchId>`, atomic rename) —
  * a frozen, deterministic input. A crash anywhere replays the whole
  * ladder: completed tiers skip on their own markers/epoch dirs,
  * the first incomplete tier recomputes from the same frozen upstream
  * epoch, and downstream tiers follow. No cross-tier transaction, no
  * new crash windows — the handoff through an immutable epoch dir is
  * the coordination.
  *
  * Per-trigger cost = the tiers' own costs (each flat in corpus size)
  * plus one epoch-dir read per tier boundary — the price of the frozen
  * handoff, O(|surviving batch|) and narrow. At 100 TB the ladder's
  * order is also the cost order: the free row-local constraints drop
  * rows before the hash probe, the cheap signature probe drops
  * near-exact dups before the embedding probe.
  *
  * Directory layout under `root`: `quality_reject`, `dup_reject`,
  * `sem_reject` (when semantic), `line_clean` (tier-0→1 handoff, only
  * when a [[LineDedupTier]] is configured), `quality_pass` (tier-1→2
  * handoff), `sig_pass` (tier-2→3 handoff, only when semantic) and
  * `curated` (the final output — tier 2's when no semantic tier). All
  * epoch-partitioned — plus `weighted` (the curated epoch with per-doc
  * DSIR weights appended) when a [[SelectionTier]] is configured,
  * `mix_seen`/`mixture`/`mix_admitted` when a [[MixtureTier]] is,
  * `admitted`/`quota_reject` when a [[QuotaTier]] is, and
  * `up_seen`/`upsampled`/`up_admitted` when an [[UpsampleTier]] is.
  */
object CurationStream {

  /** Tier-3 config: `table` is an [[graft.sources.AnnIndex]] IVF index;
    * `embCol` must be a column of the document stream (it rides through
    * tiers 1-2 as payload).
    */
  final case class SemanticTier(
      table: String, embCol: String, threshold: Double = 0.9, nProbe: Int = 2)

  /** Tier-0 config (optional): [[LineDedupGate]] boilerplate removal
    * BEFORE the quality gate — line counts live in `store`/`table`
    * (an additive chain), and the rewritten docs (full payload schema,
    * text column replaced, n_lines/n_dropped appended) hand off through
    * `<root>/line_clean` like every other tier boundary. Runs first
    * because it is the one tier that MUTATES text: quality constraints
    * and signatures must judge the text that will actually land.
    */
  final case class LineDedupTier(
      store: SnapshotStore, table: String, minDocs: Int = 2,
      narrowState: Boolean = false)

  /** Selection tier config (optional, runs LAST): the ladder's reject
    * gates decide what survives; a production pipeline additionally
    * WEIGHTS what survived — DSIR importance scores against a FROZEN
    * ratio table ([[graft.ops.TextQuality.dsirRatioTable]], trained
    * once on a reference corpus and persisted as catalog table
    * `ratioTable` — the lm2/cl1 train-once/score-frozen posture). Each
    * curated epoch re-emerges under `<root>/weighted` with
    * (n_features, dsir_score) appended per doc, feeding downstream
    * resampling/mixture weighting. Stateless per batch against a
    * frozen artifact, so [[EpochCommit]]'s epoch-dir idempotence is the
    * whole replay story — the tier adds no crash windows.
    */
  final case class SelectionTier(ratioTable: String, buckets: Int = 256)

  /** Mixture tier config (optional, runs after selection, before
    * quota): [[MixtureGate]] materializes the α = 0.5 temperature
    * mixture across triggers — per-source counters in `store`/`table`
    * (an additive chain), rates √(n_min/n_s) recomputed every trigger.
    * Emits `<root>/mixture` (the FULL refreshed exact sample — the
    * prefix-contract matview) and `<root>/mix_admitted` (this batch's
    * admissions, decided once at arrival), which is what the quota
    * tier consumes when both are configured — budgets charge per
    * document exactly once.
    */
  final case class MixtureTier(
      store: SnapshotStore, table: String, sourceCol: String)

  /** Quota tier config (optional, runs VERY LAST — after curation and
    * weighting, because only docs the recipe actually ships may burn
    * budget): [[QuotaGate]] enforces per-source token budgets across
    * triggers (consumed-token state in `store`/`table`, an additive
    * chain). Admitted docs land under `<root>/admitted` with an
    * `n_tokens` column appended; over-budget / unbudgeted docs land
    * under `<root>/quota_reject` tagged with the reason. `scoreCol`
    * (e.g. the selection tier's `dsir_score`, which runs upstream)
    * orders the in-batch cut BEST-first, so a binding budget keeps the
    * highest-weight documents and rejects the tail instead of cutting
    * by arrival order.
    */
  final case class QuotaTier(
      store: SnapshotStore, table: String, sourceCol: String,
      budgets: DataFrame, scoreCol: Option[String] = None)

  /** Upsample tier config (optional, runs after everything — the
    * REPEAT direction of the recipe, where the quota tier is the cut
    * direction): [[UpsampleGate]] repeats under-budget sources toward
    * their token budgets (the data-constrained-scaling recipe), with
    * per-source token totals in `store`/`table` (an additive chain)
    * and exact integral-div repeat factors recomputed every trigger.
    * Consumes the final shipped epoch (the quota tier's admissions
    * when configured — only docs the recipe ships get repeated) and
    * emits `<root>/upsampled` (the FULL refreshed prefix-exact
    * upsampled corpus) and `<root>/up_admitted` (this batch's copies,
    * decided once at arrival).
    */
  final case class UpsampleTier(
      store: SnapshotStore, table: String, sourceCol: String,
      budgets: DataFrame, maxEpochs: Int = 4)

  /** One micro-batch through the whole ladder (idempotent per
    * `batchId`). `table` is the tier-2 [[graft.sources.DedupIndex]].
    */
  def applyBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      constraints: Seq[(String, Column)], table: String, idCol: String,
      textCol: String, root: String, threshold: Double = 0.9,
      semantic: Option[SemanticTier] = None,
      enrich: DataFrame => DataFrame = identity,
      lineDedup: Option[LineDedupTier] = None,
      selection: Option[SelectionTier] = None,
      mixture: Option[MixtureTier] = None,
      quota: Option[QuotaTier] = None,
      upsample: Option[UpsampleTier] = None): Unit = {
    // a committed epoch can hold ZERO parquet part files (an empty
    // replayed micro-batch arrives with zero partitions, and the epoch
    // write preserves that) — reading it back would die with "unable to
    // infer schema" and wedge the foreachBatch in a retry loop. Every
    // tier-boundary read-back falls back to an empty frame with the
    // tier's output schema instead (the IngestDedup/SemanticIngestGate
    // epochHasData pattern, applied at the composition seams).
    def epochOrEmpty(dir: String, fallbackSchema: => DataFrame): DataFrame =
      if (EpochCommit.epochHasData(spark, dir, batchId))
        spark.read.parquet(s"$dir/epoch=$batchId")
      else fallbackSchema.limit(0)
    // Hot-path handoff (round 14, the ladder's fixed-cost cut): each
    // gate returns the frame it committed THIS call — a deterministic
    // plan over that tier's eager checkpoints, row-identical to its
    // epoch — and the next tier consumes it directly. The epoch dir
    // stays the crash-replay record: a replayed trigger gets None from
    // every already-landed tier and falls back to the frozen read.
    // This removes the per-boundary existence walk + listing + schema
    // inference + parquet scan measured (PLANS.md, ladder attribution)
    // as the dominant share of the ~1-3 s/trigger/tier fixed cost.
    val docs = lineDedup match {
      case Some(ld) => TriggerTiming.timed("ladder", "line") {
        LineDedupGate.applyBatch(ld.store, ld.table, batch, batchId,
          idCol, textCol, s"$root/line_clean", ld.minDocs, ld.narrowState)
          .getOrElse(epochOrEmpty(s"$root/line_clean",
            batch.withColumn("n_lines", lit(0L)).withColumn("n_dropped", lit(0L))))
      }
      case None => batch
    }
    // downstream tiers see the original payload schema (plus enrich's
    // derived columns, which the gate commits)
    val qualityPass = TriggerTiming.timed("ladder", "quality") {
      QualityGate.applyBatch(spark, docs, batchId,
          constraints, s"$root/quality_pass", s"$root/quality_reject", enrich)
        .getOrElse(epochOrEmpty(s"$root/quality_pass", enrich(docs)))
    }
    val sigOut = if (semantic.isDefined) s"$root/sig_pass" else s"$root/curated"
    val sigPassOpt = TriggerTiming.timed("ladder", "signature") {
      IngestDedup.applyBatch(spark, table, qualityPass,
        batchId, idCol, textCol, sigOut, s"$root/dup_reject", threshold)
    }
    val curatedOpt: Option[DataFrame] = semantic match {
      case Some(sem) => TriggerTiming.timed("ladder", "semantic") {
        val sigPass = sigPassOpt.getOrElse(epochOrEmpty(sigOut, qualityPass))
        // id-collision checking stays ON: tier 2 only deduplicates ids
        // within its own batch/index — the SEMANTIC index's id space is
        // separate and can still collide
        SemanticIngestGate.applyBatch(spark, sem.table, sigPass, batchId,
          idCol, sem.embCol, s"$root/curated", s"$root/sem_reject",
          sem.threshold, sem.nProbe, checkIdCollisions = true)
      }
      case None => sigPassOpt
    }
    def curated: DataFrame =
      curatedOpt.getOrElse(epochOrEmpty(s"$root/curated", qualityPass))
    val weightedOpt: Option[DataFrame] = selection.flatMap { sel =>
      TriggerTiming.timed("ladder", "selection") {
      if (!EpochCommit.epochExists(spark, s"$root/weighted", batchId)) {
        val cur = curated
        val scored = graft.ops.TextQuality.dsirScoreAgainst(
          cur, idCol, textCol, spark.table(sel.ratioTable), sel.buckets)
        // left join: a curated doc with zero features (empty text after
        // tier 0) keeps flowing, weighted as fully-smoothed neutral 1.0
        val weighted = cur.join(scored, Seq(idCol), "left")
          .withColumn("n_features", coalesce(col("n_features"), lit(0L)))
          .withColumn("dsir_score", coalesce(col("dsir_score"), lit(1.0d)))
        EpochCommit.commitEpoch(weighted, s"$root/weighted", batchId)
        // deterministic over curated + the frozen ratio table — safe to
        // hand downstream in place of the epoch it just committed
        Some(weighted)
      } else None
      }
    }
    // shared empty-epoch fallback for the post-curation tiers: the
    // weighted epoch's schema carries the selection tier's two derived
    // columns, and a schema-inconsistent fallback would poison the
    // mixture gate's whole-root refresh read
    def postFallback: DataFrame =
      if (selection.isDefined)
        qualityPass.withColumn("n_features", lit(0L))
          .withColumn("dsir_score", lit(1.0d))
      else qualityPass
    // the final curated-and-weighted surface feeding the recipe tiers
    def shippedBase: DataFrame =
      if (selection.isDefined)
        weightedOpt.getOrElse(epochOrEmpty(s"$root/weighted", postFallback))
      else curated
    val mixAdmitOpt: Option[DataFrame] = mixture.flatMap { mt =>
      TriggerTiming.timed("ladder", "mixture") {
        MixtureGate.applyBatch(mt.store, mt.table, shippedBase, batchId,
          idCol, mt.sourceCol,
          s"$root/mix_seen", s"$root/mixture", s"$root/mix_admitted")
      }
    }
    // Quota/upsample accounting always uses ENGINE tokenization: a
    // caller-supplied n_tokens column on the input stream is
    // deliberately OVERWRITTEN (withColumn replaces), so budget charges
    // can't silently switch to upstream counts. Frames that already
    // carry the gate-computed column (the quota tier's admissions and
    // their epoch read-back) skip the recompute via reuseTokens.
    def engineTokens(df: DataFrame): DataFrame =
      df.withColumn("n_tokens", org.apache.spark.sql.functions.size(
        graft.ops.TextAnalysis.tokens(col(textCol))).cast("long"))
    def reuseTokens(df: DataFrame): DataFrame =
      if (df.columns.contains("n_tokens")) df else engineTokens(df)
    // very last: only docs the recipe SHIPS may burn budget, so the
    // quota gate consumes the final upstream surface (the mixture
    // tier's once-per-doc admissions when configured, else weighted
    // when a selection tier ran, else curated)
    def preQuota: DataFrame =
      if (mixture.isDefined)
        mixAdmitOpt.getOrElse(epochOrEmpty(s"$root/mix_admitted", postFallback))
      else shippedBase
    val admittedOpt: Option[DataFrame] = quota.flatMap { qt =>
      TriggerTiming.timed("ladder", "quota") {
        QuotaGate.applyBatch(qt.store, qt.table, engineTokens(preQuota), batchId,
          idCol, qt.sourceCol, "n_tokens", qt.budgets,
          s"$root/admitted", s"$root/quota_reject",
          order = qt.scoreCol.map(c => col(c).desc).toSeq)
      }
    }
    upsample.foreach { ut =>
      // after everything: only docs the recipe actually SHIPS get
      // repeated (the quota tier's admissions when configured — they
      // already carry n_tokens; otherwise the final upstream surface,
      // tokenized the same way the quota tier would)
      val shipped =
        if (quota.isDefined)
          reuseTokens(admittedOpt.getOrElse(
            epochOrEmpty(s"$root/admitted", engineTokens(postFallback))))
        else engineTokens(preQuota)
      TriggerTiming.timed("ladder", "upsample") {
        UpsampleGate.applyBatch(ut.store, ut.table, shipped, batchId, idCol,
          ut.sourceCol, "n_tokens", ut.budgets,
          s"$root/up_seen", s"$root/upsampled", s"$root/up_admitted",
          maxEpochs = ut.maxEpochs)
      }
      ()
    }
  }

  /** Run the ladder over a document stream. Build the tier-2 index
    * ([[graft.sources.DedupIndex.build]]) and — when `semantic` is set —
    * the tier-3 IVF index ([[graft.sources.AnnIndex.buildIvf]]) first.
    * Session pins follow [[IngestDedup.start]]'s contract.
    */
  def start(
      docs: DataFrame, constraints: Seq[(String, Column)], table: String,
      idCol: String, textCol: String, root: String, checkpoint: String,
      threshold: Double = 0.9, semantic: Option[SemanticTier] = None,
      enrich: DataFrame => DataFrame = identity,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      shufflePartitions: Option[Int] = Some(8),
      lineDedup: Option[LineDedupTier] = None,
      selection: Option[SelectionTier] = None,
      mixture: Option[MixtureTier] = None,
      quota: Option[QuotaTier] = None,
      upsample: Option[UpsampleTier] = None): StreamingQuery = {
    val spark = docs.sparkSession
    val release = ConfPins.acquireGatePins(spark, shufflePartitions,
      java.util.UUID.randomUUID())
    val query =
      try docs.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) =>
          applyBatch(b.sparkSession, b, id, constraints, table, idCol,
            textCol, root, threshold, semantic, enrich, lineDedup,
            selection, mixture, quota, upsample); ()
        }
        .start()
      catch { case e: Throwable => release(); throw e }
    QueryCleanup.onTermination(spark, query)(release)
    query
  }
}
