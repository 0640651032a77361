package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared skeleton of the rate-driven streaming gates
  * ([[MixtureGate]], [[UpsampleGate]]). Both maintain per-source
  * counters in an additive chain, derive broadcast-sized per-source
  * LEVELS from them every trigger (keep rates / repeat factors), decide
  * each arriving doc exactly once against the current levels, and
  * re-emit a FULL prefix-exact sample on a cadence via the hash-band
  * incremental refresh — only the per-doc decision algebra differs, so
  * the choreography lives here once (round-14 extraction; the two gates
  * previously duplicated ~80% of their structure, and the epoch-log
  * lifetime bound below would otherwise have landed twice).
  *
  * Choreography per micro-batch (idempotent per `batchId`):
  *
  *  1. (compaction on) finish any crashed seen-root merge swap
  *     ([[EpochCommit.recoverRuns]]) before anything reads the root;
  *  2. freeze the batch hash-band partitioned under `seenDir`
  *     (`epoch=k/__band=b/`, directory-prunable by construction);
  *  3. commit the additive state delta (idempotent via the chain meta);
  *  4. collect the current levels (|sources| rows, bounded) once and
  *     re-broadcast from a local relation;
  *  5. on the refresh cadence, emit the refreshed sample =
  *     keep(prev sample) ∪ gained(band-pruned seen ≤ e0) ∪
  *     decide(epochs (e0, k]) — bit-identical to the full re-decide
  *     (set algebra: both are exactly the current-level decision over
  *     every seen doc) — with the deciding levels riding the epoch
  *     commit as an atomic side file;
  *  6. admit this batch's docs, decided once at arrival;
  *  7. (compaction on, every `compactEvery`-th trigger) fold seen runs
  *     up to the sample root's `_graft_latest` marker value
  *     ([[EpochCommit.compactRuns]], binary-counter merge).
  *
  * == Epoch-log lifetime bound ==
  *
  * Without step 7 the seen root gains one dir per trigger FOREVER —
  * fine under corpus growth (refresh work is O(|sample|+|drift|+|new|))
  * but O(triggers) FS metadata per refresh over a long-lived stream
  * (~120k dirs after a week of 5 s triggers). With it, the root holds
  * O(log triggers) run dirs and each doc is rewritten O(log triggers)
  * times total. The markers close the remaining O(epochs) walks: the
  * sample root's `_graft_latest` marker resolves the refresh base in
  * two FS calls instead of a root listing, and the seen root's
  * `_graft_any_data` marker replaces the recursive any-data walk (both
  * stay pure optimizations — a lost/stale marker falls back to the
  * listing, and a stale-but-valid latest marker just refreshes from an
  * older committed base, which the refresh algebra tolerates by
  * construction). The sample root itself is bounded by `retainSamples`
  * (0 = keep every epoch — each IS the full prefix sample, so
  * retention is a consumer contract, not a correctness knob).
  *
  * The compaction boundary contract: runs are only folded up to the
  * sample root's `_graft_latest` MARKER value (and never the current
  * trigger's own epoch). Every future refresh resolves its base from
  * that marker when present — or from a root listing, which can only
  * return a NEWER epoch — and the marker is monotone (advanced after
  * every sample commit, including on the replay-skip path, which
  * repairs a marker left stale by a crash between the sample commit
  * and the marker write). A folded run (which adopts its highest epoch
  * id as partition value) therefore always lands entirely on the
  * `epoch ≤ boundary` side of every future split, never straddling it.
  *
  * Steps 5 and 6 stay SEQUENTIAL by measurement, not oversight: the
  * round-15 candidate of overlapping the independent epoch writes
  * ([[graft.Par]] — sample/admit here, pass/reject in the quality and
  * quota gates) A/B'd SLOWER on the 8-tier ladder (64 [60, 67] vs
  * 72 [66, 84] docs/s, SQL exec wall 180 s vs 142 s, quiet host;
  * recorded in COVERAGE.md): trigger-sized epoch writes are executor-bound
  * enough that two concurrent commits contend for task slots, costing
  * more than the overlapped driver-side plan analysis saves. Par stays
  * right for mixed driver/executor phases (ingest probe+commit), wrong
  * for co-scheduling two executor-bound jobs on one pool.
  */
private[streaming] object RateGate {

  /** Hash-band count for the seen layout: 32 directories per epoch —
    * wide enough that a typical level drift (≪ 1/32 of hash space)
    * prunes to 1-2 bands, narrow enough that per-epoch file counts
    * stay trivial.
    */
  val Bands = 32
  val BandWidth: Long = 1000000L / Bands
  private val Internal = Seq("epoch", "__band", "__h6")
  private[streaming] val AnyDataMarker = "_graft_any_data"
  private[streaming] val LatestMarker = "_graft_latest"

  /** The decision hash: pmod(md5-prefix-hash("<salt>|id"), 10⁶) — the
    * exact expression the corresponding batch operator filters on.
    */
  def h6Expr(salt: String, idCol: String): Column =
    pmod(graft.ops.Dedup.hash32(
      concat_ws("|", lit(salt), col(idCol).cast("string"))), lit(1000000L))

  /** The frozen seen epochs carry __h6; live batches don't. */
  def h6Of(df: DataFrame, salt: String, idCol: String): Column =
    if (df.columns.contains("__h6")) col("__h6") else h6Expr(salt, idCol)

  def encodeLevels(levels: Seq[(String, Long)]): String =
    levels.sortBy(_._1).map { case (s, v) =>
      java.net.URLEncoder.encode(s, "UTF-8") + "\t" + v
    }.mkString("\n")

  def decodeLevels(text: String): Map[String, Long] =
    text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(s, v) = line.split("\t")
      java.net.URLDecoder.decode(s, "UTF-8") -> v.toLong
    }.toMap

  /** The gate-specific algebra over the shared choreography. All frames
    * handed to the hooks may still carry the internal epoch/__band/__h6
    * columns — the core drops them (and projects `outCols`) on every
    * branch's result.
    *
    *  - `outCols`: canonical output layout (batch-operator parity);
    *  - `stateDelta`: frozen batch → (source, state_cnt) additive rows;
    *  - `collectLevels`: current per-source levels from the chain —
    *    ONE driver action, |sources| rows;
    *  - `decide`: (docs, broadcast levels) → decided rows, the batch
    *    operator's row algebra (filter for mixture, explode for
    *    upsample);
    *  - `keep`: (previous sample, levels) → rows still in the sample
    *    under the NEW levels (never reads the corpus);
    *  - `grownBandIds`: (old level, new level) → seen-root band dirs
    *    that can contain newly-gained rows;
    *  - `gained`: (band-pruned seen read, broadcast grown table with
    *    sourceCol/__old6/__new6) → rows gained by the level rise.
    */
  final case class Hooks(
      outCols: Seq[String],
      stateDelta: DataFrame => DataFrame,
      collectLevels: () => Seq[(String, Long)],
      decide: (DataFrame, DataFrame) => DataFrame,
      keep: (DataFrame, DataFrame) => DataFrame,
      grownBandIds: (Long, Long) => Seq[Long],
      gained: (DataFrame, DataFrame) => DataFrame)

  /** A pre-band legacy root (un-banded seen epochs) cannot be read
    * alongside banded ones — Spark dies mid-refresh with an opaque
    * inconsistent-partition-depth error. Detect it on the oldest
    * non-empty epoch (legacy epochs are necessarily the oldest: they
    * predate the band upgrade) and fail with instructions instead.
    * One O(|dirs|) listing, refresh triggers only.
    */
  private def assertBandedRoot(spark: SparkSession, seenDir: String): Unit = {
    val (fs, rootP) = EpochCommit.fsFor(spark, seenDir)
    if (!fs.exists(rootP)) return
    fs.listStatus(rootP).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("epoch="))
      .sortBy(_.getPath.getName.stripPrefix("epoch=").toLong)
      .iterator.map(d => fs.listStatus(d.getPath).toSeq)
      .find(cs => cs.exists(c =>
        (c.isFile && c.getPath.getName.endsWith(".parquet")) ||
          (c.isDirectory && c.getPath.getName.startsWith("__band="))))
      .foreach { cs =>
        if (!cs.exists(c => c.isDirectory && c.getPath.getName.startsWith("__band=")))
          throw new IllegalStateException(
            s"$seenDir contains a pre-band (un-banded) seen epoch; banded and " +
              "un-banded epochs cannot be read together — restart this gate on a fresh root")
      }
  }

  private def pruneSamples(spark: SparkSession, sampleDir: String, retain: Int): Unit = {
    val (fs, rootP) = EpochCommit.fsFor(spark, sampleDir)
    if (!fs.exists(rootP)) return
    fs.listStatus(rootP).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("epoch="))
      .sortBy(_.getPath.getName.stripPrefix("epoch=").toLong)
      .dropRight(retain)
      .foreach(d => fs.delete(d.getPath, true))
  }

  /** One micro-batch through the gate choreography (idempotent per
    * `batchId`). `refreshEvery` is the sample cadence; `incremental =
    * false` forces the O(corpus) full re-decide (the oracle path the
    * band refresh is spec-proven equal to); `compactSeen` bounds the
    * seen root's dir count over stream lifetime (off = round-13
    * layout, one dir per trigger forever); `compactEvery` runs the fold
    * only every Nth trigger (1 = every trigger; deferral is always
    * safe — the fold boundary contract is cadence-independent);
    * `retainSamples` > 0 keeps only the newest N sample epochs.
    *
    * Returns the admit frame committed THIS call (None on replay). The
    * frame is only valid within the producing trigger — its plan reads
    * `seen/epoch=<batchId>`, which a later trigger's compaction may
    * fold away; callers that need it later must re-read the admit
    * epoch dir.
    */
  def applyBatch(
      store: SnapshotStore, table: String, batch: DataFrame, batchId: Long,
      idCol: String, sourceCol: String, salt: String, sideFileName: String,
      seenDir: String, sampleDir: String, admitDir: String,
      refreshEvery: Int, incremental: Boolean, compactSeen: Boolean,
      retainSamples: Int, hooks: Hooks, compactEvery: Int = 1): Option[DataFrame] = {
    require(refreshEvery > 0, "refreshEvery must be positive")
    require(compactEvery > 0, "compactEvery must be positive")
    val spark = batch.sparkSession
    def dropInternal(df: DataFrame): DataFrame =
      df.drop(Internal: _*).select(hooks.outCols.map(col): _*)
    // 1. a merge swap that crashed mid-flight leaves the root missing
    // source runs until re-driven — recover before anything reads it.
    // UNCONDITIONAL, like the frozenCovered fallback below: a caller
    // that turns compactSeen off after a fold crashed would otherwise
    // read a half-swapped root (hidden merged dir ignored, sources
    // partially deleted) and silently under-count; on a never-compacted
    // root this is one listing finding no hidden dirs.
    EpochCommit.recoverRuns(spark, seenDir)
    // 2. freeze the batch — hash-band partitioned: the input record
    // every later refresh re-reads, band-prunable by construction.
    // A replay of a batch whose own dir was folded into a run must NOT
    // re-freeze (the run already holds its rows — a second copy would
    // silently duplicate refresh reads): the root's max epoch covers
    // every id ≤ it, because the gate freezes batch ids in order. The
    // maxEpoch fallback applies REGARDLESS of this call's compactSeen —
    // a caller that turns compaction off on a root where runs already
    // folded must still not re-freeze a folded epoch (one cheap listing,
    // and on a never-compacted root it can never fire: in-order freezing
    // means a missing epoch=k with maxEpoch ≥ k only happens post-fold).
    val frozenCovered = EpochCommit.epochExists(spark, seenDir, batchId) ||
      EpochCommit.maxEpoch(spark, seenDir).exists(_ >= batchId)
    if (!frozenCovered)
      EpochCommit.commitEpoch(
        batch.withColumn("__h6", h6Expr(salt, idCol))
          .withColumn("__band", expr(s"CAST(__h6 DIV $BandWidth AS INT)")),
        seenDir, batchId, partitionBy = Seq("__band"))
    // read the frozen epoch back (not the live batch) so later steps
    // compute from the same bytes a crash replay would
    val frozenHasData = EpochCommit.epochHasData(spark, seenDir, batchId)
    if (frozenHasData &&
        EpochCommit.readMarker(spark, s"$seenDir/$AnyDataMarker").isEmpty)
      EpochCommit.writeMarker(spark, s"$seenDir/$AnyDataMarker", batchId)
    val frozen =
      if (frozenHasData) spark.read.parquet(s"$seenDir/epoch=$batchId")
      else batch.limit(0)
    // 3. state delta — O(|sources touched|) rows, idempotent via meta
    val countsDone = store.currentMeta(table)
      .flatMap(m => scala.util.Try(m.toLong).toOption).exists(_ >= batchId)
    if (!countsDone)
      store.commitAdditive(table, hooks.stateDelta(frozen),
        meta = Some(batchId.toString))
    // 4. levels as of this trigger (state now includes the batch) —
    // collected once (|sources| rows, bounded) and re-broadcast from a
    // local relation: one driver action serves the sample AND admit
    // paths, and the local rows are what the side file records
    val levelsLocal: Seq[(String, Long)] = hooks.collectLevels()
    val levelsDf = broadcast(
      spark.createDataFrame(levelsLocal).toDF(sourceCol, "level"))
    // 5. the refreshed sample over everything seen, on the configured
    //    cadence (epochs ≤ batchId — later epochs cannot exist yet by
    //    trigger order; the filter also makes replays explicit-safe)
    if ((batchId + 1) % refreshEvery == 0) {
      if (!EpochCommit.epochExists(spark, sampleDir, batchId)) {
      val seenOk = EpochCommit.anyEpochDataFast(spark, seenDir, AnyDataMarker)
      if (seenOk) assertBandedRoot(spark, seenDir)
      def emptyOut = dropInternal(hooks.decide(batch.limit(0), levelsDf))
      val prevE = EpochCommit.latestEpochBeforeFast(
        spark, sampleDir, batchId, LatestMarker)
      val prevLevels = prevE.flatMap(e =>
        EpochCommit.readSideFile(spark, sampleDir, e, sideFileName))
        .map(decodeLevels)
      val sample = (prevE, prevLevels) match {
        case (Some(e0), Some(old)) if incremental =>
          // band refresh: keep(prev sample) ∪ gained rows from the
          // band-pruned epochs ≤ e0 ∪ epochs (e0, k] decided in full
          // = the current-level decision over every seen doc — exactly
          // the full path
          val prevSample =
            if (EpochCommit.epochHasData(spark, sampleDir, e0))
              spark.read.parquet(s"$sampleDir/epoch=$e0")
            else emptyOut
          val keep = dropInternal(hooks.keep(prevSample, levelsDf))
          val grown = levelsLocal.filter { case (s, n) => n > old.getOrElse(s, 0L) }
          val gained =
            if (grown.nonEmpty && seenOk) {
              val bandIds = grown.flatMap { case (s, n) =>
                hooks.grownBandIds(old.getOrElse(s, 0L), n)
              }.map(_.toInt).distinct
              val grownDf = broadcast(spark.createDataFrame(
                grown.map { case (s, n) => (s, old.getOrElse(s, 0L), n) })
                .toDF(sourceCol, "__old6", "__new6"))
              dropInternal(hooks.gained(
                spark.read.parquet(seenDir)
                  .filter(col("epoch") <= e0 && col("__band").isin(bandIds: _*)),
                grownDf))
            } else emptyOut
          val newDocs =
            if (seenOk)
              dropInternal(hooks.decide(spark.read.parquet(seenDir)
                .filter(col("epoch") > e0 && col("epoch") <= batchId), levelsDf))
            else emptyOut
          keep.unionByName(gained).unionByName(newDocs)
        case _ =>
          // full refresh: first emission, incremental off, or a legacy
          // prev epoch without its levels side file
          if (seenOk)
            dropInternal(hooks.decide(
              spark.read.parquet(seenDir).filter(col("epoch") <= batchId),
              levelsDf))
          else emptyOut
      }
      // sample epochs are CORPUS-scale artifacts (unlike the
      // trigger-sized seen/admit epochs): write with task parallelism,
      // not the single-file default
      EpochCommit.commitEpoch(sample, sampleDir, batchId, maxFiles = 32,
        sideFiles = Map(sideFileName -> encodeLevels(levelsLocal)))
      }
      // Marker advance runs OUTSIDE the epoch-exists guard so the
      // replay-skip path repairs a stale marker too: a crash between the
      // sample commitEpoch above and this write leaves _graft_latest at
      // an older epoch while epoch=batchId exists. Without the repair,
      // step 7 on the replay would fold runs up to batchId-1 — past the
      // stale marker — and the NEXT refresh (refreshEvery ≥ 2) would
      // resolve its base from the stale marker, land the straddling
      // folded run entirely on the epoch>e0 side, and re-decide docs
      // already kept from the previous sample: persistent duplication.
      // With it, the marker is never behind any fold boundary, which is
      // what makes latestEpochBeforeFast's stale-marker tolerance claim
      // actually hold under compaction.
      if (!EpochCommit.readMarker(spark, s"$sampleDir/$LatestMarker")
          .exists(_ >= batchId))
        EpochCommit.writeMarker(spark, s"$sampleDir/$LatestMarker", batchId)
      if (retainSamples > 0) pruneSamples(spark, sampleDir, retainSamples)
    }
    // 6. this batch's admissions — each doc decided once, at arrival.
    // The fresh frame is returned (deterministic over frozen inputs —
    // identical to the committed epoch) so composing callers skip the
    // read-back on the hot path. SINGLE-TRIGGER VALIDITY: the plan reads
    // `seen/epoch=<batchId>`, which a LATER trigger's step 7 may fold
    // away — consume the frame within the trigger that produced it, or
    // re-read `admit/epoch=<batchId>`; evaluating a frame retained
    // across triggers fails loudly (FileNotFound at scan time).
    val admitOut =
      if (!EpochCommit.epochExists(spark, admitDir, batchId)) {
        val admit = dropInternal(hooks.decide(frozen, levelsDf))
        EpochCommit.commitEpoch(admit, admitDir, batchId)
        Some(admit)
      } else None
    // 7. fold seen runs, clamped to the LATEST MARKER value (never the
    // current trigger's own epoch — replay simplicity): every future
    // refresh resolves its base from this marker (or a listing that can
    // only return newer), and the marker is monotone, so no folded run
    // can ever straddle a future epoch≤e0/epoch>e0 split — including
    // after the crash-stale-marker repair above. Amortized O(log)
    // merges/trigger, each O(folded span) I/O; `compactEvery` defers the
    // fold to every Nth trigger (the boundary contract tolerates
    // deferral — runs just stay unfolded longer), the knob for ladders
    // whose trigger cadence can't absorb a merge spike inline.
    if (compactSeen && (batchId + 1) % compactEvery == 0) {
      TriggerTiming.timed("gate", s"compact($seenDir)") {
        EpochCommit.readMarker(spark, s"$sampleDir/$LatestMarker")
          .orElse(EpochCommit.latestEpochBefore(spark, sampleDir, batchId + 1))
          .foreach(u =>
            EpochCommit.compactRuns(spark, seenDir, math.min(u, batchId - 1),
              bands = Bands))
      }
      ()
    }
    admitOut
  }
}
