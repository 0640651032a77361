package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, hash, lit, max, pmod, struct, sum, to_date, when}
import org.apache.spark.sql.types.{BooleanType, DataType, DateType, StringType, StructField, StructType, TimestampType}
import graft.cdc.Apply

/** Versioned merge-on-read parquet store — the engine's local stand-in
  * for a MERGE-capable sink (Delta / JDBC MERGE in production, SURVEY
  * §2.8 ST5).
  *
  * The commit protocol. Versions form one increasing sequence per
  * table; version N is a directory `v<N>` (a full BASE: an explicit
  * [[commit]] or a fold), `d<N>` (a DELTA: one batch's raw change
  * events `seq`, `operation`, pk, payload — O(|batch|), never
  * O(|table|)), or both when an automatic fold wrote a base beside its
  * delta. One writer, `writeVersion`, puts every version directory on
  * disk, in one order: the parquet data, `_graft_schema` (the layout
  * fingerprint), `_graft_ts` (the commit time), then the optional
  * `_graft_meta` (e.g. an epoch id). Nothing is visible until the
  * `_current` pointer flips to N: that atomic small-file replace is the
  * commit point (the read-version/write-new-version/commit protocol
  * Delta uses, minus the transaction log), and a directory at N above
  * the pointer is crash debris that the next write at N clears first.
  * A version's markers are read from its delta first. No committed
  * version directory is ever deleted, so every version reads back by
  * number ([[snapshotAt]], [[changeFeed]]).
  *
  * A read at V goes through one resolver, `chainAt`: the newest base
  * `v<B>` with B ≤ V plus every delta in (B, V], replayed through
  * [[graft.cdc.Apply.applyBatch]] ordered by `(version, seq)` — the
  * apply path's own per-key semantics, so "commit the events, merge on
  * read" and "merge then commit the snapshot" give identical tables.
  * Every fold goes through one `folded`, which reconstructs by the
  * table's kind; a chain `compactEvery` versions past its base folds at
  * commit, before the flip, bounding read fan-in and replay depth. A
  * replayed micro-batch appends a row-identical duplicate delta, which
  * applyBatch's max_by/last-op semantics absorb: delta commits are
  * value-idempotent. Audit rows (CDC_SYNC_LOG, one schema:
  * [[SnapshotStore.auditSchema]]) reach `_audit` only through an epoch
  * stage + publish.
  *
  * Scale: per 5 s trigger the sink writes O(|batch|) bytes; the
  * O(|table|) cost moves to one columnar-pruned membership read and an
  * amortized 1/compactEvery fold.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] of
  * `basePath`'s scheme — the same seam as [[EpochCommit]]. The commit
  * points (the pointer replace, the audit publish rename) are atomic on
  * POSIX and HDFS; object stores without atomic rename need an
  * HDFS-semantics tier or a transactional table format underneath, as
  * EpochCommit documents.
  */
final class SnapshotStore(
    spark: SparkSession, basePath: String, compactEvery: Int = 8) {

  /** One file per delta version: deltas are trigger-bounded, and the
    * batch frame arrives as wide as the dedup stage, so writing it as-is
    * leaves that many near-empty files per trigger; one keeps the
    * chain's file count, and the membership read's listing, at
    * O(#versions).
    */
  private val deltaWriteParts = 1

  // one FileSystem for the whole store: every path lives under
  // basePath, so a single scheme-resolved instance covers them all
  // (driver-side only — foreachBatch callbacks run on the driver).
  // On a local filesystem, use the RAW (non-checksummed) layer: the
  // checksummed wrapper renames a file and its .crc sidecar in two
  // steps, so a concurrent reader of a just-replaced marker can pair
  // new data with the old checksum and die with ChecksumException —
  // the markers' self-describing single-int content needs no sidecar.
  private val fs: FileSystem =
    new Path(basePath).getFileSystem(spark.sessionState.newHadoopConf()) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }

  private def tableDir(table: String) = s"$basePath/$table"
  private def pointer(table: String) = s"${tableDir(table)}/_current"
  private def baseDir(table: String, v: Int) = s"${tableDir(table)}/v$v"
  private def deltaDir(table: String, v: Int) = s"${tableDir(table)}/d$v"

  // FileContext supplies the one primitive FileSystem lacks: rename
  // WITH OVERWRITE — the atomic small-file replace the pointer flip
  // needs on strict-rename filesystems (HDFS refuses a plain rename
  // onto an existing destination). Lazy: the local raw FS replaces in
  // one File.renameTo and never takes this path.
  private lazy val fc: org.apache.hadoop.fs.FileContext =
    org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(basePath).toUri, spark.sessionState.newHadoopConf())

  private def exists(path: String): Boolean = fs.exists(new Path(path))

  private def readString(path: String): String = {
    val in = fs.open(new Path(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Atomic small-file write: stage a sibling tmp file, rename over the
    * destination. Readers see the old content or the new — never a
    * truncated in-between (a plain create(overwrite=true) truncates the
    * destination first; the managed refresh loop reads `_current` from
    * another thread and hit exactly that window). Used for every marker
    * the store writes (`_current`, each version's `_graft_*` markers,
    * the table's kind and bucket markers) so
    * no reader of a live table can observe a half-written marker.
    */
  private def writeString(path: String, s: String): Unit = {
    val dst = new Path(path)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
    // POSIX rename replaces the destination atomically; HDFS returns
    // false on an existing destination → overwrite-rename via fc
    if (!fs.rename(tmp, dst))
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def deleteIfExists(path: String): Unit = {
    val p = new Path(path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def renameOrFail(src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new java.io.IOException(
      s"snapshot store rename failed: $src -> $dst")

  def currentVersion(table: String): Int =
    if (exists(pointer(table))) readString(pointer(table)).trim.toInt else 0

  private def flipPointer(table: String, next: Int): Int = {
    fs.mkdirs(new Path(tableDir(table)))
    writeString(pointer(table), next.toString)
    next
  }

  /** Version dirs at `next` with the pointer still below it are debris
    * from a crash between write and flip. They MUST go before reuse:
    * a stale base at `next` would otherwise shadow the delta committed
    * there (baseAtOrBefore prefers bases), silently dropping the batch.
    */
  private def clearUncommitted(table: String, next: Int): Unit = {
    deleteIfExists(baseDir(table, next))
    deleteIfExists(deltaDir(table, next))
  }

  /** Latest base version ≤ v (0 = none; bounded scan — bases recur at
    * least every `compactEvery` versions).
    */
  private def baseAtOrBefore(table: String, v: Int): Int =
    (v to 1 by -1).find(i => exists(baseDir(table, i))).getOrElse(0)

  private def tsFile(dir: String) = s"$dir/_graft_ts"

  private def metaFile(dir: String) = s"$dir/_graft_meta"

  /** Commit time (epoch millis): an explicit marker, not the directory
    * mtime, which survives neither copies nor some object stores'
    * metadata handling.
    */
  private def writeCommitTs(dir: String): Unit =
    writeString(tsFile(dir), System.currentTimeMillis().toString)

  /** The one version writer (the protocol in the class doc): data, then
    * `_graft_schema`, then `_graft_ts`, then the optional `_graft_meta`.
    * It never flips the pointer; the caller's flip commits what it wrote.
    */
  private def writeVersion(dir: String, df: DataFrame, meta: Option[String]): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(dir)
    writeFingerprint(dir, df.schema)
    writeCommitTs(dir)
    meta.foreach(writeString(metaFile(dir), _))
  }

  /** A new base version `next`: clear its debris, write `df`, flip. */
  private def commitBase(table: String, next: Int, df: DataFrame,
      meta: Option[String]): Int = {
    clearUncommitted(table, next)
    writeVersion(baseDir(table, next), df, meta)
    flipPointer(table, next)
  }

  /** Version `v`'s marker at `file(dir)`, the delta's copy first: an
    * automatic fold writes its base beside the delta, and the delta's
    * markers are the commit's own — one version, one answer.
    */
  private def marker(table: String, v: Int, file: String => String): Option[String] =
    Seq(deltaDir(table, v), baseDir(table, v)).map(file).find(exists).map(readString)

  /** Version `v`'s commit stamp, if recorded (versions written before
    * stamping existed have none).
    */
  private def versionTimestamp(table: String, v: Int): Option[Long] =
    marker(table, v, tsFile).flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  /** The one chain resolver: version `v` is the newest base `v<B>` with
    * B ≤ v plus every delta in (B, v]. Returns the base read (None
    * before the first base) and the deltas as one read with a `__v`
    * column (None when `v` is itself a base).
    */
  private def chainAt(table: String, v: Int): (Option[DataFrame], Option[DataFrame]) = {
    val b = baseAtOrBefore(table, v)
    (Option.when(b > 0)(readVersion(baseDir(table, b))),
      Option.when(b < v)(readDeltas(table, b + 1, v)))
  }

  /** The one fold: `table` at version `v` (committed, or staged above
    * the pointer) as a base frame, by the table's kind — CDC replay, or
    * summed measures laid out one file per ~bucket when bucketed.
    */
  private def folded(table: String, v: Int): DataFrame = additiveCols(table) match {
    case None => snapshotAt(table, v)
    case Some(_) =>
      val snap = additiveSnapshotAt(table, v, null)
      bucketSpec(table) match {
        case Some(s) => withBucket(snap, s)
          .repartition(s._2, col("__bkt")).sortWithinPartitions(col("__bkt"))
        case None => snap
      }
  }

  /** The automatic fold, under the one fold-due rule: a chain
    * `compactEvery` versions past its last base folds into a base beside
    * the staged delta at `v`, before the flip (same version, same rows).
    */
  private def foldIfDue(table: String, v: Int): Unit =
    if (v - baseAtOrBefore(table, v - 1) >= compactEvery)
      writeVersion(baseDir(table, v), folded(table, v), None)

  /** A manual fold: the current chain as a base at a NEW version. No-op
    * at v0 or when the tip is a base. The tip's `_graft_meta` carries
    * forward: a fold changes the table's representation, not its stream
    * position, and a restart right after it must still see the last
    * applied epoch (else a sink's replay guard re-applies it and
    * duplicates audit rows, and a gate's whole-batch replay
    * double-charges).
    */
  private def foldAsNext(table: String): Int = {
    val v = currentVersion(table)
    if (v == 0 || baseAtOrBefore(table, v) == v) v
    else commitBase(table, v + 1, folded(table, v), marker(table, v, metaFile))
  }

  // ---- schema-evolution contract ----------------------------------
  //
  // readDeltas unions the outstanding chain in ONE multi-path read and
  // recovers the (seq, op, pk) roles positionally — sound only while
  // every delta in a chain segment shares one layout. A target-schema
  // change mid-chain would otherwise SILENTLY mis-read (parquet's
  // name-based matching against whichever file's footer won the schema
  // race drops or null-fills columns nondeterministically). The
  // contract: each version dir carries a `_graft_schema` fingerprint
  // (tiny file — no parquet footer inference on the trigger path);
  // stageDelta compares the incoming layout against the chain's and
  //  * forces a COMPACTION BOUNDARY on a pure add-column change (the
  //    old-schema chain folds into a base, so no segment ever mixes
  //    layouts; the base's missing columns null-fill at read — correct,
  //    because the column genuinely had no value then), and
  //  * refuses anything else (drop / rename / reorder / type change)
  //    with an actionable error instead of a silent mis-bind.

  private def schemaFile(dir: String) = s"$dir/_graft_schema"

  private def fpString(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
      .mkString("\n")

  private def parseFp(s: String): Seq[(String, String)] =
    s.split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf(':'); (l.substring(0, i), l.substring(i + 1))
    }

  private def writeFingerprint(dir: String, schema: StructType): Unit =
    writeString(schemaFile(dir), fpString(schema))

  private def readFingerprint(dir: String): Option[Seq[(String, String)]] =
    if (!exists(schemaFile(dir))) None
    else Some(parseFp(readString(schemaFile(dir))))

  private def fpSchema(fp: Seq[(String, String)]): StructType =
    StructType(fp.map { case (n, t) => StructField(n, DataType.fromDDL(t)) })

  /** One version dir, typed by its fingerprint: an explicit read schema
    * starts no Spark job, where parquet footer inference starts one per
    * read. A dir written before fingerprints existed falls back to
    * inference.
    */
  private def readVersion(dir: String): DataFrame = readFingerprint(dir) match {
    case Some(fp) => spark.read.schema(fpSchema(fp)).parquet(dir)
    case None => spark.read.parquet(dir)
  }

  /** Incoming delta layout vs the chain's: identical → None; pure
    * add-column (same first-three roles, old layout a strict prefix) →
    * Some(()) meaning "compaction boundary required"; anything else →
    * loud error.
    */
  private def checkDeltaEvolution(table: String,
      prev: Seq[(String, String)], incoming: Seq[(String, String)]): Boolean = {
    if (prev == incoming) return false
    def fail(what: String) = throw new IllegalStateException(
      s"Schema change on snapshot table '$table' is not add-column evolution " +
      s"($what). Chain layout: ${prev.map(_._1).mkString(", ")}; incoming: " +
      s"${incoming.map(_._1).mkString(", ")}. Only appending new data columns " +
      "is supported on a live chain; for drops, renames, reorders or type " +
      "changes, rewrite the table explicitly (snapshot → transform → commit).")
    if (prev.take(3) != incoming.take(3)) fail("the (seq, operation, pk) roles differ")
    if (incoming.length <= prev.length || incoming.take(prev.length) != prev)
      fail("existing columns were dropped, renamed, reordered or retyped")
    true
  }

  /** The staged-on-top-of-a-base case: every base column must survive
    * into the new layout with its type — a vanished one means the
    * caller dropped/renamed/retyped, which null-fill-at-read would
    * silently turn into data loss.
    */
  private def checkBaseCompat(table: String, baseFp: Seq[(String, String)],
      incoming: Seq[(String, String)]): Unit = {
    val have = incoming.drop(2).toMap // pk + data columns of the delta layout
    val lost = baseFp.filterNot { case (n, t) => have.get(n).contains(t) }
    if (lost.nonEmpty) throw new IllegalStateException(
      s"Delta layout for snapshot table '$table' loses base column(s) " +
      s"${lost.map { case (n, t) => s"$n:$t" }.mkString(", ")} — a read would " +
      "silently null them. Only appending new data columns is supported; " +
      "rewrite the table explicitly (snapshot → transform → commit) instead.")
  }

  /** All delta versions in [from, to] as ONE read with a `__v` version
    * column. One multi-path `spark.read` instead of one per delta: each
    * separate read costs a driver-side file listing, and each inferred
    * schema a footer-reading Spark job. When every dir's fingerprint
    * agrees — the common case, a segment inside one layout — the read
    * is typed by it and infers nothing. Delta schemas are identical by
    * the commitDelta layout contract, so a positional union is safe;
    * the version is recovered from the file path
    * (`…/d<N>/part-….parquet`).
    */
  private def readDeltas(table: String, from: Int, to: Int): DataFrame = {
    val paths = (from to to)
      .filter(i => exists(deltaDir(table, i)))
      .map(i => deltaDir(table, i))
    // mergeSchema where the fingerprints disagree or are missing: a
    // range can cross an add-column evolution boundary (deltas SURVIVE
    // the compaction the boundary forces), and the default
    // single-footer inference would silently DROP the new column
    // whenever an old-layout file's footer wins. Add-column is the
    // only legal change (checkDeltaEvolution), appended at the tail,
    // so the merged schema keeps the positional (seq, operation, pk)
    // roles and old files read null in the new column — exactly the
    // withMissingAsNull semantics.
    val reader = paths.map(readFingerprint).distinct match {
      case Seq(Some(fp)) => spark.read.schema(fpSchema(fp))
      case _ => spark.read.option("mergeSchema", "true")
    }
    reader.parquet(paths: _*)
      .withColumn("__v",
        org.apache.spark.sql.functions.regexp_extract(
          col("_metadata.file_path"), "/d(\\d+)/[^/]+$", 1).cast("int"))
  }

  /** No rows, `schema`'s columns: a local relation, which the optimizer
    * prunes from unions and joins.
    */
  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Current snapshot; empty DataFrame with the given schema at v0. */
  def snapshot(table: String, schema: StructType): DataFrame =
    snapshotAt(table, currentVersion(table), schema)

  /** Null-fill `want`ed columns a pre-evolution frame lacks — correct
    * for add-column evolution (the column genuinely had no value then);
    * every OTHER shape of change is refused at write time, so this is
    * the only reconciliation a read ever needs.
    */
  private def withMissingAsNull(df: DataFrame,
      want: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
    val have = df.columns.toSet
    want.filterNot(f => have.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Time travel: reconstruct any committed version (0 = empty, with
    * `schema`'s columns — a table that has not synced yet has no layout
    * of its own to read).
    */
  def snapshotAt(table: String, version: Int, schema: StructType = null): DataFrame = {
    refuseAdditive(table, "snapshotAt")
    if (version == 0) {
      require(schema != null,
        s"snapshotAt: table $table has no committed version; pass its schema to read it empty")
      return emptyFrame(schema)
    }
    chainAt(table, version) match {
      case (base, None) => // the version is itself a base
        if (schema == null) base.get else withMissingAsNull(base.get, schema.fields.toSeq)
      case (base, Some(deltas)) =>
        // delta layout contract (commitDelta): [seqCol, operation, pk,
        // data…] — uniform across the segment (stageDelta forces a
        // compaction boundary at any layout change)
        val fields = deltas.schema.fields.filterNot(_.name == "__v")
        val seqCol = fields(0).name
        val pk = fields(2).name
        val dataCols = fields.drop(3).map(_.name).toSeq
        // no base yet: an empty local relation in the delta layout,
        // which the optimizer prunes from the replay
        val start = base.getOrElse(emptyFrame(StructType(fields.drop(2))))
        // a pre-evolution base lacks columns added later in the chain
        val reconciled = withMissingAsNull(start, fields.drop(3).toSeq)
        val ordered = deltas.withColumn("__ord", struct(col("__v"), col(seqCol)))
        Apply.applyBatch(reconciled, ordered, pk, "__ord", dataCols).target
    }
  }

  /** Change data feed (the lakehouse CDF analog): every change EVENT
    * applied in `(fromVersion, toVersion]`, read from the DELTA FILES
    * alone — O(|changes|), never a table reconstruction — so an
    * incremental consumer (view refresh, export, cache invalidation)
    * pays for what changed, not for the table. Columns:
    * `commit_version` then the delta layout `[seq, operation, pk,
    * data…]`; order with `(commit_version, seq)` for apply order.
    * Versions whose commit carried no data (compactions) contribute
    * nothing; delta files survive compaction, so ranges cross
    * compaction boundaries freely.
    */
  def changeFeed(table: String, fromVersion: Int, toVersion: Int): DataFrame = {
    refuseAdditive(table, "changeFeed")
    val cur = currentVersion(table)
    require(fromVersion >= 0 && fromVersion <= toVersion && toVersion <= cur,
      s"changeFeed: need 0 <= from <= to <= $cur, got [$fromVersion, $toVersion]")
    // an empty or all-base range (compactions, full commits) still
    // carries the delta layout: the nearest delta at or below
    // `toVersion`, emptied — else, for a chain that opens with bases,
    // the newest delta
    val nearest = (toVersion to 1 by -1).find(i => exists(deltaDir(table, i)))
    val feed = nearest match {
      case Some(d) if d > fromVersion => readDeltas(table, fromVersion + 1, toVersion)
      case _ =>
        val d = nearest.orElse((cur until toVersion by -1).find(i => exists(deltaDir(table, i))))
          .getOrElse(throw new IllegalArgumentException(
            s"changeFeed: table $table has no delta history"))
        readDeltas(table, d, d).limit(0)
    }
    val dataCols = feed.columns.filterNot(_ == "__v")
    feed.select((Seq(col("__v").as("commit_version")) ++ dataCols.map(col)): _*)
  }

  /** NET changes between two versions, with the ENGINE's own apply
    * semantics (an UPDATE on a key deleted earlier in the range is
    * TARGET_NOT_FOUND — not applied — exactly as the sync path decides
    * it): one row per pk whose existence or value the range touched —
    * `change_type` INSERT (absent before, present after, final values
    * carried), UPDATE (present both, final values carried), DELETE
    * (present before, absent after, data columns null). A pk inserted
    * AND deleted inside the range nets out to nothing. Cost:
    * O(|changes|) for the feed + ONE base-version scan restricted to
    * the feed's pks (the before-image the classification needs).
    */
  def netChanges(table: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val (before, after, pkName, dataCols) = changedImages(table, fromVersion, toVersion)
    val beforePks = before.select(col(pkName)).withColumn("__before", lit(true))
    after.withColumn("__after", lit(true))
      .join(beforePks, Seq(pkName), "full_outer")
      .withColumn("change_type",
        when(col("__after").isNotNull && col("__before").isNull, "INSERT")
          .when(col("__after").isNotNull, "UPDATE")
          .otherwise("DELETE"))
      .select((Seq(col(pkName), col("change_type")) ++ dataCols.map(col)): _*)
  }

  /** The (before, after) row images of every pk the range touched —
    * before at `fromVersion`, after with the engine's apply semantics
    * folded over the feed — plus the pk/data column names. The shared
    * core of [[netChanges]] and the incremental view refresh
    * ([[MatView.refreshFromStore]]): consumers that maintain derived
    * state need BOTH images (retract the old contribution, add the
    * new), which the event feed alone cannot give for UPDATEs.
    */
  def changedImages(table: String, fromVersion: Int,
      toVersion: Int): (DataFrame, DataFrame, String, Seq[String]) = {
    val feed = changeFeed(table, fromVersion, toVersion)
    val f = feed.schema.fields.filterNot(_.name == "commit_version")
    val (seqName, pkName) = (f(0).name, f(2).name)
    val dataCols = f.drop(3).map(_.name).toSeq
    val feedPks = feed.select(col(pkName)).distinct()
    val before =
      (if (fromVersion == 0)
        emptyFrame(StructType(f.drop(2)))
      else
        // a range crossing an add-column evolution: the before image
        // reconstructs at the PRE-evolution version and lacks columns
        // the feed's deltas carry — null-fill them (pre-evolution rows
        // genuinely had no value; same reconciliation snapshotAt runs
        // within a chain segment)
        withMissingAsNull(snapshotAt(table, fromVersion), f.drop(2).toSeq))
        .join(feedPks, Seq(pkName), "left_semi")
        .localCheckpoint(true) // read twice: apply base + before-pk set
    val after = Apply.applyBatch(before,
      feed.withColumn("__ord", struct(col("commit_version"), col(seqName))),
      pkName, "__ord", dataCols).target
    (before, after, pkName, dataCols)
  }

  /** Column-pruned pk membership at the current version: the set of
    * pks that exist, computed from the base's pk column plus the
    * outstanding deltas' (seq, operation, pk) columns ONLY — the
    * payload never leaves the parquet footer. This is the audit path's
    * per-trigger existence read: between compactions a full
    * [[snapshotAt]] reconstruction computes `max_by(struct(dataCols))`
    * and drags the whole base width through the scan; membership is
    * decidable from the existence algebra alone (last INSERT/DELETE op
    * wins; only-UPDATEs defer to base membership — the same state
    * machine [[graft.cdc.Apply.applyBatch]] runs).
    *
    * Scale: one pk-column base scan + O(|deltas|) slim delta scans +
    * one hash aggregate on pk — vs the full-width read this replaces.
    *
    * `pkBounds = Some((lo, hi))` further restricts membership to pks in
    * [lo, hi] — sound whenever the caller only consults pks inside the
    * range (the audit path passes the BATCH's min/max). The bound is a
    * pushed parquet filter, so row-group statistics prune the base scan
    * to the groups overlapping the batch's key range: on a big table
    * with clustered (e.g. recent) keys, the per-trigger read drops from
    * "whole pk column" to a handful of row groups.
    *
    * `atVersion` pins the read to an explicit committed version (the
    * audit path reads membership "as of before this batch" even after
    * the batch's own delta has been staged or committed); default is
    * the current pointer.
    */
  def existingPks(table: String, schema: StructType, pkName: String,
      pkBounds: Option[(Any, Any)] = None,
      atVersion: Option[Int] = None): DataFrame = {
    refuseAdditive(table, "existingPks")
    val chain = chainPks(table, pkName, pkBounds,
      atVersion.getOrElse(currentVersion(table)), pk => Seq(pk.as(pkName)))
    membership(Seq(chain), Seq(pkName), StructType(schema.filter(_.name == pkName)))
  }

  /** [[existingPks]] over several tables in ONE frame of `(table_name,
    * pk_value)` — the epoch audit's membership read: each chain's base
    * and slim delta reads, each at its own version and pk bounds, union
    * before one aggregate and one outer join. `pk_value` is the pk cast
    * to string; a table's pk has one type, so string equality is value
    * equality within a table.
    */
  def existingKeys(reads: Seq[SnapshotStore.PkRead]): DataFrame = {
    val chains = reads.map { r =>
      refuseAdditive(r.table, "existingKeys")
      chainPks(r.table, r.pkName, r.pkBounds, r.atVersion,
        pk => Seq(lit(r.table).as("table_name"), pk.cast("string").as("pk_value")))
    }
    membership(chains, Seq("table_name", "pk_value"), StructType(Seq(
      StructField("table_name", StringType), StructField("pk_value", StringType))))
  }

  /** One chain's membership inputs at `version`: the base's pks and the
    * outstanding deltas' `(key, __op, __ord)` rows, both restricted to
    * `pkBounds` on the typed pk (a pushed parquet filter) and then
    * projected through `key`.
    */
  private def chainPks(table: String, pkName: String,
      pkBounds: Option[(Any, Any)], version: Int,
      key: Column => Seq[Column]): (Option[DataFrame], Option[DataFrame]) = {
    def bounded(df: DataFrame, pk: String): DataFrame = pkBounds match {
      case Some((lo, hi)) => df.filter(col(pk).between(lit(lo), lit(hi)))
      case None => df
    }
    if (version == 0) return (None, None)
    val (base, deltas) = chainAt(table, version)
    (base.map(bounded(_, pkName).select(key(col(pkName)): _*)),
      deltas.map { all =>
        // delta layout contract (commitDelta): [seqCol, operation, pk, data…]
        val f = all.schema.fields.filterNot(_.name == "__v")
        bounded(all, f(2).name).select(key(col(f(2).name)) ++ Seq(
          col(f(1).name).as("__op"),
          struct(col("__v"), col(f(0).name).as("__seq")).as("__ord")): _*)
      })
  }

  /** The existence rule, written once for any key: per key, the last
    * existence-deciding (non-UPDATE) op across the outstanding chain,
    * ordered by (version, seq), wins; null means only UPDATEs touched
    * it, so base membership decides.
    */
  private def membership(chains: Seq[(Option[DataFrame], Option[DataFrame])],
      keys: Seq[String], keySchema: StructType): DataFrame = {
    // a local empty relation, which the optimizer prunes: a chain with
    // no base then costs no join input
    val basePks = chains.flatMap(_._1).reduceOption(_.unionByName(_)).getOrElse(
      emptyFrame(keySchema))
    chains.flatMap(_._2).reduceOption(_.unionByName(_)) match {
      case None => basePks
      case Some(deltas) =>
        val decided = deltas.groupBy(keys.map(col): _*).agg(
          max(when(col("__op") =!= "UPDATE", struct(col("__ord"), col("__op"))))
            .as("__last"))
        basePks.withColumn("__in_base", lit(true))
          .join(decided, keys, "full_outer")
          .filter(
            when(col("__last").isNotNull,
              col("__last").getField("__op") === "INSERT")
            .otherwise(coalesce(col("__in_base"), lit(false))))
          .select(keys.map(col): _*)
    }
  }

  /** Commit `df` as a full base at a new version, `meta` (e.g. a
    * streaming epoch id) as its marker.
    */
  def commit(table: String, df: DataFrame, meta: Option[String] = None): Int = {
    // symmetric with the reader guards: a full-base rewrite into an
    // additive chain would silently mix kinds mid-history — the next
    // additiveSnapshot would treat CDC payload rows as multiplicities
    refuseAdditive(table, "commit")
    commitBase(table, currentVersion(table) + 1, df, meta)
  }

  /** The current version's commit marker, if any (delta or base). */
  def currentMeta(table: String): Option[String] =
    marker(table, currentVersion(table), metaFile)

  /** Append one batch of change events as a delta version — O(|batch|).
    *
    * `changes` must carry `seqCol`, `operation`, `pk`, `dataCols`; the
    * delta file stores them in exactly that order (readers recover the
    * roles positionally). Folds deltas into a fresh base when the chain
    * since the last base reaches `compactEvery`.
    */
  def commitDelta(
      table: String, changes: DataFrame,
      pk: String, seqCol: String, dataCols: Seq[String],
      meta: Option[String] = None): Int =
    finalizeDelta(table, stageDelta(table, changes, pk, seqCol, dataCols, meta))

  /** First half of [[commitDelta]]: write the delta's files (and epoch
    * marker) at the next version WITHOUT flipping the pointer — readers
    * still see the previous version. Lets the streaming sink run its
    * audit job between the delta write and the commit point (an
    * `observe` on `changes` yields the batch's count/pk-bounds for free
    * in the write job — no separate driver action). Crash before
    * [[finalizeDelta]] leaves debris that the next stage/commit at this
    * version clears.
    */
  def stageDelta(
      table: String, changes: DataFrame,
      pk: String, seqCol: String, dataCols: Seq[String],
      meta: Option[String] = None): Int = {
    refuseAdditive(table, "stageDelta")
    val selected = changes.select((Seq(seqCol, "operation", pk) ++ dataCols).map(col): _*)
    val incoming = selected.schema.fields.toSeq
      .map(f => f.name -> f.dataType.catalogString)
    // schema-evolution gate (one pointer read, one base probe, marker
    // reads, no Spark): a layout change against the outstanding chain
    // forces a compaction boundary; losing base columns refuses loudly
    val v = currentVersion(table)
    val b = baseAtOrBefore(table, v)
    val (tip, base) =
      if (v > b && readFingerprint(deltaDir(table, v))
          .exists(checkDeltaEvolution(table, _, incoming))) {
        val boundary = compact(table) // old-schema chain folds; segment stays uniform
        (boundary, boundary)
      } else (v, b)
    if (base > 0)
      readFingerprint(baseDir(table, base))
        .foreach(checkBaseCompat(table, _, incoming))
    val next = tip + 1
    clearUncommitted(table, next)
    // repartition, not coalesce: coalesce(1) would drag the upstream
    // parse/transform into a single task; a round-robin shuffle of a
    // trigger-bounded batch is trivial and keeps the source parallel
    writeVersion(deltaDir(table, next), selected.repartition(deltaWriteParts), meta)
    next
  }

  /** Second half of [[commitDelta]]: fold the chain into a fresh base if
    * it reached `compactEvery`, then flip the pointer — the commit
    * point. `staged` must be the value [[stageDelta]] returned.
    */
  def finalizeDelta(table: String, staged: Int): Int = {
    refuseAdditive(table, "finalizeDelta") // direct calls bypass stageDelta's guard
    foldIfDue(table, staged)
    flipPointer(table, staged)
  }

  /** Drop a staged-but-unfinalized delta (e.g. the batch turned out
    * empty): delete its directory so the version number is reusable.
    */
  def abortDelta(table: String, staged: Int): Unit =
    clearUncommitted(table, staged)

  /** Manual compaction — fold the current delta chain into a base NOW
    * (maintenance hook; the automatic path folds every `compactEvery`
    * commits). Runs as a NEW version so the pointer-flip protocol keeps
    * readers off the partially-written base; the epoch marker carries
    * forward. No-op at v0 or when the current version already is a
    * base; refuses an additive chain (use [[compactAdditive]]), as
    * [[commit]] does.
    *
    * Single-writer assumption (same as every committing entry point):
    * not safe concurrent with an in-flight [[commit]]/[[commitDelta]]
    * on the same table — both would claim version `v+1`. Run it on a
    * quiesced table.
    */
  def compact(table: String): Int = {
    refuseAdditive(table, "compact")
    foldAsNext(table)
  }

  /** Manual fold of an ADDITIVE chain — [[compact]]'s sibling (compact
    * itself refuses additive tables: CDC reconstruction would misparse
    * them). Writes the aggregated state as a delta-free base at a new
    * version; content-preserving, meta carried forward. Beyond chain
    * hygiene this is a SCAN-SHAPE op: a bucketed chain's fold writes
    * one file per ~bucket (`repartition(n, __bkt)` + sort), so the
    * per-trigger state read parallelizes across n tasks instead of
    * decoding a few giant delta files in one — the 20M-line probe
    * measured the single-file layout costing 3.4× (204 vs ~700 docs/s).
    */
  def compactAdditive(table: String): Int = {
    additiveCols(table).getOrElse(throw new IllegalStateException(
      s"compactAdditive: table '$table' is not an additive chain — " +
        "use compact()"))
    foldAsNext(table)
  }

  /** The table's version history — the operational surface a
    * maintenance job reads: one row per version directory with its
    * kind (`base`/`delta`), commit meta, data-file count, bytes and
    * commit stamp. Pure file metadata —
    * O(versions) marker reads + one listStatus per version directory,
    * no data files opened. Built driver-side (a chain is
    * human-lifetime-bounded: thousands of versions, not billions).
    */
  def history(table: String): DataFrame = {
    val rows = (1 to currentVersion(table)).flatMap { v =>
      val ts = versionTimestamp(table, v)
      Seq(baseDir(table, v) -> "base", deltaDir(table, v) -> "delta")
        .filter { case (d, _) => exists(d) }
        .map { case (d, kind) =>
          val files = fs.listStatus(new Path(d)).filter(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet"))
          val metaP = metaFile(d)
          (v, kind, if (exists(metaP)) readString(metaP) else null,
            files.length, files.map(_.getLen).sum, ts)
        }
    }
    import spark.implicits._
    rows.toDF("version", "kind", "meta", "n_files", "bytes", "commit_ts")
  }

  // ---- additive multiplicity tables --------------------------------
  //
  // The THIRD table kind next to full bases and CDC delta chains: rows
  // are (payload…, measures…) where every measure column is SIGNED and
  // summable — a commit APPENDS a batch's deltas (O(|batch|) written
  // per trigger, never a state rewrite) and a read sums each measure
  // per payload value and drops the all-zero rows (merge-on-read).
  // The default single measure `state_cnt` is the counting-IVM
  // multiplicity; MULTIPLE measures make the kind carry any
  // sufficient-statistic rollup whose merge is addition — e.g. an
  // aggregate view's per-group (state_cnt, state_qsum) pair
  // ([[JoinAggView]]). It commits and folds by the same protocol as
  // the CDC kind (the class doc); the caller's per-table batch-id meta
  // gates replays. This is the counting-IVM backing [[JoinView]] needs:
  // its per-trigger O(|state|) state-merge rewrite becomes a delta
  // append.

  private def kindFile(table: String) = s"${tableDir(table)}/_graft_kind"

  private def tableKind(table: String): Option[String] =
    if (exists(kindFile(table))) Some(readString(kindFile(table)).trim) else None

  private def bucketFile(table: String) = s"${tableDir(table)}/_graft_bucket"

  /** An additive chain's bucket layout, from its `_graft_bucket` marker
    * (`<keyColumn>:<nBuckets>`, fixed at chain creation like the
    * measure columns): every commit derives an internal `__bkt` column
    * — pmod(hash(key), n) — and writes hash-clustered, bucket-sorted
    * files, so [[additiveSnapshotForKeys]] can push a ≤ n-value
    * `__bkt IN (…)` filter into the parquet scan and SKIP the row
    * groups (≈ files) of buckets the probe keys don't touch. This is
    * the layout that cuts the per-trigger state read from O(state)
    * bytes to O(state/n · |probe buckets|): the line gate's 20M-line
    * probe measured the un-pruned scan dominating trigger time
    * (687 → 244 docs/s from 2M → 20M seeded lines).
    */
  private def bucketSpec(table: String): Option[(String, Int)] =
    if (exists(bucketFile(table))) {
      val parts = readString(bucketFile(table)).trim.split(":")
      Some((parts(0), parts(1).toInt))
    } else None

  private def withBucket(df: DataFrame, spec: (String, Int)): DataFrame =
    df.withColumn("__bkt",
      pmod(hash(col(spec._1)), lit(spec._2)).cast("int"))

  /** An additive table's measure columns, from its kind marker:
    * `additive` = the classic single `state_cnt`; `additive:c1,c2` = a
    * multi-measure chain. None for CDC/base tables.
    */
  private def additiveCols(table: String): Option[Seq[String]] =
    tableKind(table).collect {
      case "additive"                       => Seq("state_cnt")
      case k if k.startsWith("additive:")   =>
        k.stripPrefix("additive:").split(",").toSeq.map(_.trim)
    }

  /** Refuse CDC-layout reads of an additive table LOUDLY: the CDC
    * reconstruction would bind (seq, operation, pk) roles onto join
    * payload columns and produce garbage — and right after a
    * compaction fold it would return the aggregated base, i.e.
    * plausible-looking data, making the misuse intermittent with the
    * version number. A marker file written at the table's first
    * additive commit turns that into an immediate error.
    */
  private def refuseAdditive(table: String, op: String): Unit =
    if (additiveCols(table).isDefined)
      throw new IllegalStateException(
        s"$op: table '$table' is an ADDITIVE multiplicity table — read " +
          "it with additiveSnapshot/additiveSnapshotAt (CDC-layout " +
          "reconstruction would misparse its columns)")

  /** Append one batch of signed-measure rows as a delta version.
    * `delta`'s layout must match the chain's exactly (additive rows
    * have no positional roles to re-derive — a drifting layout would
    * sum across misaligned columns); reconstruction keys measure
    * columns by NAME — `cntCols` at first commit fixes them for the
    * chain's lifetime (recorded in the kind marker), defaulting to the
    * single counting-IVM multiplicity `state_cnt`.
    */
  def commitAdditive(table: String, delta: DataFrame,
      meta: Option[String] = None,
      cntCols: Seq[String] = Seq("state_cnt"),
      bucketBy: Option[(String, Int)] = None): Int = {
    require(cntCols.nonEmpty && cntCols.forall(delta.columns.contains),
      s"commitAdditive: measure columns ${cntCols.mkString(", ")} must " +
        s"all exist in the delta (${delta.columns.mkString(", ")})")
    require(!delta.columns.contains("__bkt"),
      "commitAdditive: '__bkt' is reserved for the bucket layout")
    additiveCols(table) match {
      case Some(cols) =>
        if (cols != cntCols) throw new IllegalStateException(
          s"commitAdditive: table '$table' sums ${cols.mkString(", ")}; " +
            s"this commit declared ${cntCols.mkString(", ")} — measure " +
            "columns are fixed at the chain's first commit")
        // the bucket layout, like the measures, is fixed at creation:
        // a CONFLICTING later declaration is a config error; a matching
        // or absent one is a no-op (the marker rules)
        bucketBy.foreach { b =>
          bucketSpec(table).foreach { have =>
            if (have != b) throw new IllegalStateException(
              s"commitAdditive: table '$table' is bucketed by " +
                s"${have._1}:${have._2}; this commit declared " +
                s"${b._1}:${b._2} — the layout is fixed at creation")
          }
        }
      case None if tableKind(table).isDefined =>
        throw new IllegalStateException(
          s"commitAdditive: table '$table' has kind '${tableKind(table).get}'")
      case None =>
        if (currentVersion(table) > 0) throw new IllegalStateException(
          s"commitAdditive: table '$table' already holds CDC/base " +
            "versions — additive and CDC chains cannot mix in one table")
        fs.mkdirs(new Path(tableDir(table)))
        writeString(kindFile(table),
          if (cntCols == Seq("state_cnt")) "additive"
          else s"additive:${cntCols.mkString(",")}")
        bucketBy.foreach { case (k, n) =>
          require(delta.columns.contains(k) && !cntCols.contains(k),
            s"commitAdditive: bucket column '$k' must be a payload column")
          require(n > 0, "commitAdditive: bucket count must be positive")
          writeString(bucketFile(table), s"$k:$n")
        }
    }
    val spec = bucketSpec(table)
    val staged = spec.map(withBucket(delta, _)).getOrElse(delta)
    val incoming = staged.schema.fields.toSeq
      .map(f => f.name -> f.dataType.catalogString)
    val v = currentVersion(table)
    marker(table, v, schemaFile).map(parseFp).foreach { prev =>
      if (prev != incoming) throw new IllegalStateException(
        s"Additive table '$table' layout drift: chain has " +
          s"${prev.map(_._1).mkString(", ")}; incoming " +
          s"${incoming.map(_._1).mkString(", ")}. Additive chains " +
          "must keep one exact layout; rewrite the table explicitly " +
          "for schema changes.")
    }
    val next = v + 1
    clearUncommitted(table, next)
    // bucketed chains cluster + sort by __bkt so every file covers few
    // buckets and its row-group stats carry tight __bkt ranges — what
    // the forKeys IN-filter prunes on
    writeVersion(deltaDir(table, next), spec match {
      case Some(_) => staged.repartition(deltaWriteParts, col("__bkt"))
        .sortWithinPartitions(col("__bkt"))
      case None => staged.repartition(deltaWriteParts)
    }, meta)
    // fold BEFORE the flip: d<next> exists on disk, so the base at the
    // same version includes it
    foldIfDue(table, next)
    flipPointer(table, next)
  }

  /** Current contents of an additive table: Σ of each measure column
    * per payload value over base ⊕ outstanding deltas, all-zero rows
    * dropped. Read cost: one (possibly aggregated-base) scan +
    * O(|deltas|) — the merge-on-read trade that buys O(|batch|)
    * writes. Measure columns come from the chain's kind marker.
    */
  def additiveSnapshot(table: String, schema: StructType): DataFrame =
    additiveSnapshotAt(table, currentVersion(table), schema)

  /** [[additiveSnapshot]] restricted to the payload keys present in
    * `keys` — the semi-join runs against the RAW base ⊕ delta rows,
    * BEFORE the merge-on-read aggregation, so a consumer that only
    * needs a bounded key set's state (a streaming gate reconciling one
    * trigger's lines against a billion-line count table) aggregates
    * and shuffles O(|state rows matching keys|), never O(|state|).
    * Done here explicitly rather than by joining the full snapshot:
    * Catalyst's PushDownLeftSemiAntiJoin cannot sink a semi-join past
    * the not-all-zero filter that sits above the aggregate, so the
    * outside-in formulation silently keeps the state-sized shuffle.
    * `keys`' columns must be a subset of the payload columns; sound
    * because measures sum independently per payload value. `keys` is
    * broadcast — callers pass trigger/batch-sized frames.
    */
  def additiveSnapshotForKeys(table: String, schema: StructType,
      keys: DataFrame): DataFrame =
    additiveSnapshotCore(table, currentVersion(table), schema, Some(keys))

  /** [[additiveSnapshot]] at an explicit version (time travel; also the
    * compaction fold's input).
    */
  def additiveSnapshotAt(table: String, version: Int, schema: StructType): DataFrame =
    additiveSnapshotCore(table, version, schema, None)

  private def additiveSnapshotCore(table: String, version: Int,
      schema: StructType, pruneKeys: Option[DataFrame]): DataFrame = {
    if (version == 0)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // the inverse misuse guard: a CDC/base chain summed per payload
    // value is equally silent garbage
    val measures = additiveCols(table).getOrElse(
      throw new IllegalStateException(
        s"additiveSnapshotAt: table '$table' is not an additive " +
          "multiplicity table — read it with snapshot/snapshotAt"))
    val (base, deltas) = chainAt(table, version)
    val raw = (base.toSeq ++ deltas.map(_.drop("__v"))).reduce(_ unionByName _)
    // __bkt is layout, not payload: derived at write, dropped on read
    val payload = raw.columns.filterNot(measures.contains)
      .filterNot(_ == "__bkt")
    val all = pruneKeys match {
      case Some(keys) =>
        require(keys.columns.forall(payload.contains),
          s"additiveSnapshotForKeys: key columns ${keys.columns.mkString(", ")} " +
            s"must be payload columns of '$table' (${payload.mkString(", ")})")
        // bucketed chain + keys covering the bucket column: push the
        // ≤ n-value __bkt IN (…) filter below the union, into every
        // scan — row groups (≈ files, the write clusters by __bkt) of
        // untouched buckets never decode. The key set is caller-
        // contracted broadcast-sized, so the driver-side bucket-id
        // collect is bounded by min(|keys|, n).
        val pruned = bucketSpec(table) match {
          case Some((k, n)) if keys.columns.contains(k) =>
            val bks = keys
              .select(pmod(hash(col(k)), lit(n)).cast("int").as("__bkt"))
              .distinct().collect().map(_.getInt(0)).toSeq
            // a probe touching EVERY bucket prunes nothing — the IN
            // check would then be a pure per-row tax on the state scan
            if (bks.size < n) raw.filter(col("__bkt").isin(bks: _*))
            else raw
          case _ => raw
        }
        pruned.join(org.apache.spark.sql.functions.broadcast(keys),
          keys.columns.toSeq, "left_semi")
      case None => raw
    }
    // drop only ALL-zero rows: a multi-measure state like (count 0,
    // qsum ≠ 0) is a legitimate partial that must survive the fold
    // (MatView's group-moving-update argument)
    all.groupBy(payload.map(col): _*)
      .agg(measures.map(m => sum(col(m)).as(m)).head,
        measures.map(m => sum(col(m)).as(m)).tail: _*)
      .filter(measures.map(col(_) =!= 0L).reduce(_ || _))
  }

  // ---- the audit log -----------------------------------------------
  //
  // One way in: an epoch's rows land in a PRIVATE dot-directory
  // (invisible to readers and to partition discovery), then ONE
  // deterministically-named file per date moves into its date
  // partition. The move is the commit point — a replay that finds the
  // file already in place skips it, and two writers never share a
  // staging path, so no lock. The sink stamps an epoch's rows with one
  // log_time, so a sync epoch is one file in one log_date.

  private def auditRoot = s"$basePath/_audit"
  private def epochStagingDir(key: String) = s"$auditRoot/.epochs/$key"

  /** Write one epoch's audit rows to its private staging dir, one file
    * per `log_date` (Overwrite — a replayed crash simply rewrites it).
    * `df` carries exactly the [[SnapshotStore.auditSchema]] columns
    * except `log_date`, which derives from `log_time` here, in the
    * session time zone, as the staging dir's partition. One Spark job;
    * attach an `observe` to `df` to count rows in the same job.
    */
  def stageEpochAudit(df: DataFrame, key: String): Unit = {
    val cols = SnapshotStore.auditSchema.fields.toSeq.filterNot(_.name == "log_date")
    val given = df.schema.fields.toSeq
    def named(fields: Seq[StructField]) =
      fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
    require(given.map(f => f.name -> f.dataType).toSet == cols.map(f => f.name -> f.dataType).toSet,
      s"audit rows must carry exactly the columns ${named(cols)}; got ${named(given)}")
    df.select(cols.map(f => col(f.name)): _*)
      .withColumn("log_date", to_date(col("log_time")))
      .repartition(1) // keep the audit join/window parallel upstream
      .write.mode(SaveMode.Overwrite)
      .partitionBy("log_date").parquet(epochStagingDir(key))
  }

  /** Commit a staged epoch: move each staged date's single file to
    * `_audit/log_date=<d>/<key>.parquet`. Idempotent — a destination
    * that exists (replay after a crash right after the move) keeps its
    * file, and the staged copy is discarded.
    */
  def publishEpochAudit(key: String): Unit = {
    val staging = new Path(epochStagingDir(key))
    fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.startsWith("log_date="))
      .foreach { d =>
        val part = fs.listStatus(d).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")) match {
            case Array(p) => p
            case ps => throw new IllegalStateException(
              s"expected one staged audit file in $d, found ${ps.length}")
          }
        val destDir = new Path(s"$auditRoot/${d.getName}")
        fs.mkdirs(destDir)
        val dest = new Path(destDir, s"$key.parquet")
        if (!fs.exists(dest)) renameOrFail(part, dest)
      }
    fs.delete(staging, true)
  }

  /** Append a batch of audit rows from outside a sync epoch: a stage +
    * publish under a fresh key. `df` must be on the audit schema (see
    * [[stageEpochAudit]]); a frame that is not is refused.
    */
  def appendAudit(df: DataFrame): Unit = {
    val key = java.util.UUID.randomUUID().toString
    stageEpochAudit(df, key)
    publishEpochAudit(key)
  }

  /** Did epoch `key`'s audit file ever publish? Replay-only check (the
    * normal path never calls it), so the directory walk across date
    * partitions — the file may have published under a different date
    * than a midnight-straddling replay would stamp — is off the
    * per-trigger path.
    */
  def auditEpochLanded(key: String): Boolean = {
    val root = new Path(auditRoot)
    fs.exists(root) && fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("log_date="))
      .exists(d => fs.exists(new Path(d, s"$key.parquet")))
  }

  /** The audit log, partitioned by `log_date` so a day-bounded query
    * prunes its scan (`AuditPruneSpec`). Read with
    * [[SnapshotStore.auditSchema]]: no footer inference, so building the
    * frame starts no Spark job, and an empty log still has its columns.
    * The read names the date partitions, not the root: Spark's listing
    * treats a `_`-prefixed root as hidden and warns on every read. The
    * `log_date=*` glob leaves out the dot-prefixed staging dirs.
    */
  def audit(): DataFrame = {
    val dates = Option(fs.globStatus(new Path(s"$auditRoot/log_date=*")))
      .toSeq.flatten.map(_.getPath.toString)
    if (dates.nonEmpty)
      spark.read.schema(SnapshotStore.auditSchema)
        .option("basePath", auditRoot).parquet(dates: _*)
    else
      emptyFrame(SnapshotStore.auditSchema)
  }
}

object SnapshotStore {

  /** The audit log's one schema (CDC_SYNC_LOG): the columns every audit
    * write carries, then the `log_date` partition column that
    * [[SnapshotStore.stageEpochAudit]] derives from `log_time`.
    */
  val auditSchema: StructType = StructType(
    Seq("direction", "table_name", "operation", "pk_value", "status")
      .map(StructField(_, StringType)) ++ Seq(
    StructField("upsert_converted", BooleanType),
    StructField("error_code", StringType),
    StructField("change_hash", StringType),
    StructField("log_time", TimestampType),
    StructField("log_date", DateType)))

  /** One table's membership read for [[SnapshotStore.existingKeys]]:
    * the pks of `table` as of committed version `atVersion`, restricted
    * to `pkBounds` when given.
    */
  final case class PkRead(table: String, pkName: String,
      pkBounds: Option[(Any, Any)], atVersion: Int)
}
