package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

import org.apache.commons.io.FileUtils

/** Streaming throughput probes for the bench line: batch query timing
  * says nothing about the CDC path's micro-batch cost, so a regression
  * in the stateful operators would have been invisible round over
  * round. Each probe drives a MemoryStream through the REAL
  * operator/pipeline (no mocks) over a fixed event volume and reports
  * events/s; numbers land in the same JSON line the driver records.
  */
object StreamBench {

  /** Raw transformWithState dedup cost: 5 batches × 20k fresh hashes
    * through [[graft.streaming.LoopDedupTws]] into a noop sink.
    * Returns (events/s, state rows after the run) — the state count
    * guards against an eviction regression silently inflating RocksDB.
    */
  def twsThroughput(spark: SparkSession): (Double, Long) = {
    import spark.implicits._
    // mirror the sync query's production tuning (RocksDB + changelog
    // checkpointing + trigger-volume-sized partitions) so sync/tws
    // reads as sink overhead, not config skew; nothing may leak into
    // the caller's session
    val restore = pinStreamingConf(spark)
    val ckpt = Files.createTempDirectory("graft-bench-tws").toFile
    val input = MemoryStream[(String, java.sql.Timestamp)](spark)
    val deduped = graft.streaming.LoopDedupTws(
      input.toDF().toDF("change_hash", "event_ts")
        .withWatermark("event_ts", "0 seconds"),
      windowMs = 60000L, ttlMs = 120000L)
    val q = deduped.writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      val t0 = 1768284000000L
      val keysPerBatch = 20000
      val batches = 5
      // one untimed warmup batch absorbs codegen + RocksDB column-family
      // init (~6.5 s, TwsScaleSpec) so the number reads steady-state
      // cost, not first-trigger setup; warmup keys sit a TTL horizon in
      // the past, so the timed watermark evicts them and the reported
      // state-row count keeps its meaning
      input.addData((0 until keysPerBatch).map(j =>
        (s"w_$j", new java.sql.Timestamp(t0 - 600000L))))
      q.processAllAvailable()
      val start = System.nanoTime()
      (0 until batches).foreach { i =>
        input.addData((0 until keysPerBatch).map(j =>
          (s"k${i}_$j", new java.sql.Timestamp(t0 + i * 60000L))))
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - start) / 1e9
      val state = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      (batches * keysPerBatch / secs, state)
    } finally {
      q.stop()
      restore()
      deleteWithRetry(ckpt)
    }
  }

  /** Apply the sync query's session tuning (the settings
    * [[graft.streaming.LoopDedupTws.configureSession]] owns plus the
    * [[graft.streaming.MultiplexedSyncPipeline]] width), returning a
    * thunk that restores the caller's values.
    */
  private def pinStreamingConf(spark: SparkSession): () => Unit = {
    val width = "spark.sql.shuffle.partitions"
    val prev = (graft.streaming.LoopDedupTws.sessionConf.map(_._1) :+ width)
      .map(k => k -> spark.conf.getOption(k))
    graft.streaming.LoopDedupTws.configureSession(spark)
    spark.conf.set(width,
      graft.streaming.MultiplexedSyncPipeline.shufflePartitions.toString)
    () => prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** State-store maintenance threads can still be flushing when the
    * query reports stopped; one short retry catches the race.
    */
  private def deleteWithRetry(dir: java.io.File): Unit = {
    FileUtils.deleteQuietly(dir)
    if (dir.exists()) { Thread.sleep(500); FileUtils.deleteQuietly(dir); () }
  }

  private val regMs = 1768280000000L

  private def envelope(op: String, id: Int, title: String, tsMs: Long): String = {
    val img = s"""{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$regMs,"MOD_DATE":null}"""
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$tsMs}}"""
  }

  /** Full CDC slice (envelope parse → config-driven transform → loop
    * dedup → ordered apply + audit into the snapshot store): 8 batches
    * × 20k distinct inserts — per-batch volume matches the tws probe,
    * so sync/tws directly reads as "what the sink+apply adds on top of
    * the dedup stage", and 8 triggers crosses the store's compactEvery
    * boundary so the measured number INCLUDES one delta-chain
    * compaction (the amortized cost a long-running pipeline pays).
    */
  def syncThroughput(spark: SparkSession): Double = {
    // the sync query re-sets the same conf pinStreamingConf does;
    // pin-and-restore here so nothing leaks into the caller's session
    val restore = pinStreamingConf(spark)
    val dir = Files.createTempDirectory("graft-bench-sync").toFile
    val store = new graft.streaming.SnapshotStore(spark, s"$dir/store")
    val pipeline = new graft.streaming.MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val mem = MemoryStream[String](spark)(spark.sqlContext.implicits.newStringEncoder)
    val source = mem.toDF().withColumn("topic", lit("asis.ASIS_USER.BOOK_INFO"))
    val q = pipeline.start(source,
      Seq((graft.cdc.Registry.book, graft.cdc.Direction.AsisToTobe)), s"$dir/ckpt")
    try {
      val t0 = 1768284000000L
      val perBatch = 20000
      val batches = 8
      // untimed warmup wave (distinct pk range, one TTL horizon back):
      // absorbs codegen/state init so the number is steady-state
      mem.addData((0 until perBatch).map { j =>
        envelope("c", 9000000 + j, s"warm-$j", t0 - 600000L)
      })
      q.processAllAvailable()
      val start = System.nanoTime()
      (0 until batches).foreach { i =>
        mem.addData((0 until perBatch).map { j =>
          val id = i * perBatch + j
          envelope("c", id, s"title-$id", t0 + i * 1000L)
        })
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - start) / 1e9
      batches * perBatch / secs
    } finally {
      q.stop()
      restore()
      deleteWithRetry(dir)
    }
  }

  /** Deterministic source image per (entity, direction) — the same
    * shapes `ConcurrentPipelineSpec` feeds, sized down to one line.
    */
  private def imageFor(entity: String, a2t: Boolean, id: Int): String = (entity, a2t) match {
    case ("BOOK", true) =>
      s"""{"BOOK_ID":"$id","BOOK_TITLE":"t$id","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$regMs,"MOD_DATE":null}"""
    case ("BOOK", false) =>
      s"""{"BOOK_ID":"$id","TITLE":"t$id","AUTHOR_NAME":"a","CATEGORY_CD":"SCI","IS_ACTIVE":"1","CREATED_AT":$regMs,"UPDATED_AT":null,"CREATED_BY":"SYNC","UPDATED_BY":"SYNC"}"""
    case ("MEMBER", true) =>
      s"""{"MEMBER_ID":"$id","MEMBER_NAME":"m$id","EMAIL":"m@x","MEMBER_TYPE":"A","STATUS":"Y","REG_DATE":$regMs}"""
    case ("MEMBER", false) =>
      s"""{"MEMBER_ID":"$id","MEMBER_NAME":"m$id","EMAIL_ADDR":"m@x","MEMBER_TYPE_CD":"USER","IS_ACTIVE":"1","CREATED_AT":$regMs,"UPDATED_AT":null}"""
    case ("LEGACY_CODE", _) =>
      s"""{"CODE_ID":"C$id","CODE_NAME":"c$id","USE_YN":"Y","REG_DATE":$regMs}"""
    case ("NEW_SERVICE", _) =>
      s"""{"SERVICE_ID":"$id","SERVICE_NAME":"s$id","SERVICE_TYPE_CD":"STD","IS_ACTIVE":"1","CREATED_AT":$regMs}"""
    case other => throw new IllegalArgumentException(other.toString)
  }

  /** The one-pair-per-query deployment under load: ALL six
    * (mapping, direction) pairs as six sync queries running
    * simultaneously against ONE snapshot store — the
    * number that makes the shared audit path's serialization cost (and
    * any cross-query driver contention) visible, where the single-
    * pipeline probe can't. Reports AGGREGATE events/s across the six.
    */
  def concurrentThroughput(spark: SparkSession, perBatch: Int = 4000): Double = {
    val restore = pinStreamingConf(spark)
    val dir = Files.createTempDirectory("graft-bench-conc").toFile
    val store = new graft.streaming.SnapshotStore(spark, s"$dir/store")
    val pipeline = new graft.streaming.MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val pairs = graft.cdc.Registry.byTopic.values.toSeq
      .sortBy(p => p._1.entity + p._2)
    val feeds = pairs.map { case (m, d) =>
      val mem = MemoryStream[String](spark)(spark.sqlContext.implicits.newStringEncoder)
      val a2t = d == graft.cdc.Direction.AsisToTobe
      val (schema, table) =
        if (a2t) ("ASIS_USER", m.asis.table) else ("TOBE_USER", m.tobe.table)
      val src = mem.toDF()
        .withColumn("topic", lit(graft.cdc.Registry.topicFor(d, m)))
      val q = pipeline.start(src, Seq((m, d)), s"$dir/ckpt/${m.entity}-$d")
      (mem, q, m, a2t, schema, table)
    }
    try {
      val t0 = 1768284000000L
      val batches = 4
      // untimed warmup wave across all six queries (distinct id range)
      feeds.foreach { case (mem, _, m, a2t, schema, table) =>
        mem.addData((0 until perBatch).map { j =>
          s"""{"payload":{"op":"c","before":null,"after":${imageFor(m.entity, a2t, 9000000 + j)},""" +
            s""""source":{"schema":"$schema","table":"$table"},"ts_ms":${t0 - 600000L}}}"""
        })
      }
      feeds.foreach(_._2.processAllAvailable())
      val start = System.nanoTime()
      (0 until batches).foreach { i =>
        // add every pair's batch FIRST, then drain: all six queries
        // process trigger i concurrently
        feeds.foreach { case (mem, _, m, a2t, schema, table) =>
          mem.addData((0 until perBatch).map { j =>
            val id = i * perBatch + j
            s"""{"payload":{"op":"c","before":null,"after":${imageFor(m.entity, a2t, id)},""" +
              s""""source":{"schema":"$schema","table":"$table"},"ts_ms":${t0 + i * 1000L}}}"""
          })
        }
        feeds.foreach(_._2.processAllAvailable())
      }
      val secs = (System.nanoTime() - start) / 1e9
      pairs.size * batches * perBatch / secs
    } finally {
      feeds.foreach(_._2.stop())
      restore()
      deleteWithRetry(dir)
    }
  }

  /** The SAME six-topic workload as [[concurrentThroughput]] through
    * ONE multiplexed query ([[graft.streaming.MultiplexedSyncPipeline]]):
    * identical per-topic volumes, identical applies — the framework
    * fixed cost (offset/commit logs, planning, per-partition state
    * commits) paid once per trigger wave instead of six times. The
    * multiplexed/concurrent ratio is the measured value of topology
    * consolidation at small triggers.
    */
  def multiplexedThroughput(spark: SparkSession, perBatch: Int = 4000): Double = {
    val restore = pinStreamingConf(spark)
    val dir = Files.createTempDirectory("graft-bench-mux").toFile
    val store = new graft.streaming.SnapshotStore(spark, s"$dir/store")
    val pipeline = new graft.streaming.MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val pairs = graft.cdc.Registry.byTopic.values.toSeq
      .sortBy(p => p._1.entity + p._2)
    val mem = MemoryStream[(String, String)](spark)(
      spark.sqlContext.implicits.newProductEncoder[(String, String)])
    val q = pipeline.start(mem.toDF().toDF("topic", "value"), pairs, s"$dir/ckpt")
    try {
      val t0 = 1768284000000L
      val batches = 4
      def wave(i: Int, idBase: Int, tsMs: Long): Seq[(String, String)] =
        pairs.flatMap { case (m, d) =>
          val a2t = d == graft.cdc.Direction.AsisToTobe
          val (schema, table) =
            if (a2t) ("ASIS_USER", m.asis.table) else ("TOBE_USER", m.tobe.table)
          (0 until perBatch).map { j =>
            graft.cdc.Registry.topicFor(d, m) ->
              (s"""{"payload":{"op":"c","before":null,"after":${imageFor(m.entity, a2t, idBase + j)},""" +
                s""""source":{"schema":"$schema","table":"$table"},"ts_ms":$tsMs}}""")
          }
        }
      // untimed warmup wave, matching the concurrent probe
      mem.addData(wave(-1, 9000000, t0 - 600000L))
      q.processAllAvailable()
      val start = System.nanoTime()
      (0 until batches).foreach { i =>
        mem.addData(wave(i, i * perBatch, t0 + i * 1000L))
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - start) / 1e9
      pairs.size * batches * perBatch / secs
    } finally {
      q.stop()
      restore()
      deleteWithRetry(dir)
    }
  }

  /** Streaming ingest-dedup gate throughput: documents/s through
    * [[graft.streaming.IngestDedup]] against a stored MinHash index —
    * per-trigger signature hashing + bucket-pruned probe + epoch
    * commits + idempotent index append, the full exactly-once path.
    * The training-pipeline counterpart of the CDC probes: a regression
    * in the probe join, the epoch choreography, or the append becomes
    * a visible drop here where batch timings can't see it. Docs are
    * all-distinct (the gate's worst case: every survivor appends).
    */
  def ingestThroughput(spark: SparkSession): Double = {
    // IngestDedup.start pins trigger-sized session confs (shuffle
    // width, listing threshold) — restore them so the probe doesn't
    // leak a width-8 session into every later probe and index build
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.sources.parallelPartitionDiscovery.threshold")
    val confPrev = confKeys.map(k => k -> spark.conf.getOption(k))
    val dir = Files.createTempDirectory("graft-bench-ingest").toFile
    def doc(id: Long): String =
      (0 until 40).map(w => s"w${(id * 37 + w * w) % 5000}").mkString(" ")
    val corpus = spark.range(500)
      .selectExpr("id AS doc_id")
      .withColumn("text", org.apache.spark.sql.functions.expr(
        "array_join(transform(sequence(0, 39), w -> concat('w', pmod(doc_id * 37 + w * w, 5000))), ' ')"))
    graft.sources.DedupIndex.build(corpus, "graft_bench_ingest_idx", "doc_id", "text")
    val mem = MemoryStream[(Long, String)](spark)(
      spark.sqlContext.implicits.newProductEncoder[(Long, String)])
    val q = graft.streaming.IngestDedup.start(
      mem.toDF().toDF("doc_id", "text"), "graft_bench_ingest_idx",
      "doc_id", "text", s"$dir/out", s"$dir/reject", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      val perBatch = 1000
      val batches = 4
      // untimed warmup epoch, like every probe
      mem.addData((0 until perBatch).map(j => (100000L + j, doc(100000L + j))))
      q.processAllAvailable()
      val start = System.nanoTime()
      (0 until batches).foreach { i =>
        mem.addData((0 until perBatch).map { j =>
          val id = 200000L + i * perBatch + j
          (id, doc(id))
        })
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - start) / 1e9
      batches * perBatch / secs
    } finally {
      q.stop()
      confPrev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      deleteWithRetry(dir)
    }
  }

  /** Zero-centered UNIT vectors derived from `idCol`: the semantic
    * gate's cosine is the raw dot product (unit-length contract), and
    * random unit directions in 64-d concentrate at cos ≈ N(0, 1/64) —
    * far below the 0.9 threshold, so every distinct vector SURVIVES
    * and appends (the gate's worst case, like the all-distinct docs).
    * The serve probes' positive-quadrant expr would instead put every
    * cross dot at ~16 and measure the all-reject path. opaque():
    * CollapseProject would otherwise inline the e0 transform into the
    * norm aggregate AND every normalize reference (the
    * repetitionSignals trap), multiplying interpreted-HOF work per row.
    */
  private def unitEmb(df: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("e0", graft.functions.ArrayHashes.opaque(
        org.apache.spark.sql.functions.expr(
          s"transform(sequence(0, 63), j -> pmod(hash($idCol, j), 1000) / 1000.0 - 0.5)")))
      .withColumn("n0", graft.functions.ArrayHashes.opaque(
        org.apache.spark.sql.functions.expr(
          "sqrt(aggregate(e0, cast(0 as double), (a, y) -> a + y * y))")))
      .withColumn("embedding", org.apache.spark.sql.functions.expr(
        "transform(e0, x -> cast(x / n0 as float))"))
      .drop("e0", "n0")

  /** Streaming SEMANTIC ingest gate throughput: vectors/s through
    * [[graft.streaming.SemanticIngestGate]] against a stored IVF
    * index — per-trigger id-collision scan + centroid probe + stored-
    * list scoring + in-batch cluster pairs + epoch commits + idempotent
    * list append, the full exactly-once path. Mirrors
    * [[ingestThroughput]]: all-distinct embeddings are the gate's worst
    * case (every survivor appends), and the same trigger-sized conf
    * pins are saved/restored around the stream.
    */
  def semanticThroughput(spark: SparkSession): Double = {
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.sources.parallelPartitionDiscovery.threshold")
    val confPrev = confKeys.map(k => k -> spark.conf.getOption(k))
    val dir = Files.createTempDirectory("graft-bench-semingest").toFile
    val corpus = unitEmb(spark.range(500).select(col("id").as("vec_id")), "vec_id")
    graft.sources.AnnIndex.buildIvf(corpus, "graft_bench_semingest_idx",
      nCentroids = 16, refine = 1, buckets = 8)
    val mem = MemoryStream[Long](spark)(spark.sqlContext.implicits.newLongEncoder)
    val vectors = unitEmb(mem.toDF().select(col("value").as("vec_id")), "vec_id")
    val q = graft.streaming.SemanticIngestGate.start(
      vectors, "graft_bench_semingest_idx", "vec_id", "embedding",
      s"$dir/out", s"$dir/reject", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      val perBatch = 1000
      val batches = 4
      // untimed warmup epoch, like every probe
      mem.addData((0 until perBatch).map(j => 100000L + j))
      q.processAllAvailable()
      val start = System.nanoTime()
      (0 until batches).foreach { i =>
        mem.addData((0 until perBatch).map(j => 200000L + i * perBatch + j))
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - start) / 1e9
      batches * perBatch / secs
    } finally {
      q.stop()
      confPrev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      deleteWithRetry(dir)
    }
  }

  /** Streaming line-dedup gate throughput: documents/s through
    * [[graft.streaming.LineDedupGate]] — per-trigger line explode +
    * count-state merge-on-read + rewrite join + epoch commit +
    * additive count append, the full exactly-once path of the ladder's
    * tier 0. Each doc is 12 lines: 10 unique (the state-growth path —
    * every line appends a count row) + 2 corpus-wide banners (the
    * strip path — the rewrite join and the threshold both exercised
    * every trigger).
    */
  def lineGateThroughput(spark: SparkSession, seedLines: Long = 0L,
      narrowState: Boolean = false): Double = {
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.sources.parallelPartitionDiscovery.threshold")
    val confPrev = confKeys.map(k => k -> spark.conf.getOption(k))
    val dir = Files.createTempDirectory("graft-bench-linegate").toFile
    val store = new graft.streaming.SnapshotStore(spark, s"$dir/store")
    // seedLines pre-populates the count state with that many distinct
    // lines (none matching the probe docs) BEFORE the stream starts —
    // the gate-state scaling fixture: with the batch-pruned threshold
    // read, docs/s must stay flat as the accumulated state grows
    // (the state-scaling measurement is recorded in COVERAGE.md)
    if (seedLines > 0L) {
      val seed =
        if (narrowState)
          // narrow chains store hash60 longs; any distinct longs carry
          // the same state mass (the probe docs' lines never match)
          spark.range(seedLines).select(
            (col("id") + 1000000000L).as("line_h60"), lit(1L).as("state_cnt"))
        else spark.range(seedLines).select(
          concat(lit("seed_"), col("id")).as("line"),
          lit(1L).as("state_cnt"))
      store.commitAdditive("graft_bench_linegate", seed,
        bucketBy = Some((if (narrowState) "line_h60" else "line",
          graft.streaming.LineDedupGate.LineBuckets)))
      // fold the seed into the bucketed multi-file base: a production
      // state of this size accumulated over thousands of folded
      // triggers, never as one giant single-file delta — without the
      // fold the probe times a one-task 20M-row decode per trigger
      // (measured 3.4× slower) instead of the layout the gate runs on
      store.compactAdditive("graft_bench_linegate")
    }
    val mem = MemoryStream[Long](spark)(spark.sqlContext.implicits.newLongEncoder)
    val docs = mem.toDF().select(col("value").as("doc_id"))
      .withColumn("text", org.apache.spark.sql.functions.expr(
        "concat('BANNER ALPHA\\n', " +
          "array_join(transform(sequence(0, 9), " +
          "l -> concat('u', doc_id, 'x', l, ' w', pmod(doc_id * 31 + l, 7000))), '\\n'), " +
          "'\\nBANNER OMEGA')"))
    val q = graft.streaming.LineDedupGate.start(
      docs, store, "graft_bench_linegate", "doc_id", "text",
      s"$dir/out", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds"),
      narrowState = narrowState)
    try {
      val perBatch = 1000
      val batches = 4
      // untimed warmup epoch, like every probe
      mem.addData((0 until perBatch).map(j => 100000L + j))
      q.processAllAvailable()
      val start = System.nanoTime()
      (0 until batches).foreach { i =>
        mem.addData((0 until perBatch).map(j => 200000L + i * perBatch + j))
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - start) / 1e9
      batches * perBatch / secs
    } finally {
      q.stop()
      confPrev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      deleteWithRetry(dir)
    }
  }

  /** Composed EIGHT-tier curation-ladder throughput: documents/s
    * through [[graft.streaming.CurationStream]] with EVERY optional
    * tier on — line dedup → quality → signature → semantic → selection
    * → mixture → quota → upsample. The per-gate probes above measure
    * each tier alone; nothing else measures the COMPOSITION — the
    * epoch read-back at every tier boundary, the per-tier driver
    * actions, and the cross-tier conf interplay are exactly the costs
    * a single-gate probe can't see. Docs are all-distinct, pass
    * quality, carry 12 lines (2 corpus-wide banners — the strip path)
    * and non-colliding unit embeddings; quota budgets are unbinding
    * (worst case: every doc admits and appends through all eight
    * tiers) and upsample factors clamp at 4 (worst-case explode).
    *
    * Returns (median, min, max) docs/s over three timed WAVES after
    * one untimed warm-up wave — the per-wave band is the noise record.
    * Reading note (ladder attribution, PLANS.md): per-trigger cost is
    * FIXED-COST dominated at this trigger size — each tier adds its
    * own epoch read-back + state reads + commits (~1-3 s/trigger/tier
    * at local[32]) — so docs/s scales with trigger volume; the number
    * exists to catch composition regressions, not as a data-rate
    * ceiling.
    */
  def ladderThroughput(spark: SparkSession, nTiers: Int = 8): (Double, Double, Double) = {
    // nTiers cuts the OPTIONAL tiers off the back for attribution
    // (PLANS.md): 2 = quality+signature only, 3 = +line, 4 =
    // +semantic, 5 = +selection, 6 = +mixture, 7 = +quota, 8 = full
    def tier[T](at: Int, t: T): Option[T] = if (nTiers >= at) Some(t) else None
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.sources.parallelPartitionDiscovery.threshold")
    val confPrev = confKeys.map(k => k -> spark.conf.getOption(k))
    val dir = Files.createTempDirectory("graft-bench-ladder").toFile
    val store = new graft.streaming.SnapshotStore(spark, s"$dir/store")
    // tier-2 signature index + tier-3 IVF index + frozen DSIR table
    val corpus = spark.range(500)
      .selectExpr("id AS doc_id")
      .withColumn("text", org.apache.spark.sql.functions.expr(
        "array_join(transform(sequence(0, 39), w -> concat('w', pmod(doc_id * 37 + w * w, 5000))), ' ')"))
    graft.sources.DedupIndex.build(corpus, "graft_bench_ladder_idx",
      "doc_id", "text")
    graft.sources.AnnIndex.buildIvf(
      unitEmb(spark.range(500).select(col("id").as("vec_id")), "vec_id"),
      "graft_bench_ladder_ivf", nCentroids = 16, refine = 1, buckets = 8)
    graft.ops.TextQuality.dsirRatioTable(
        corpus.withColumn("cls", col("doc_id") % 2 === 0),
        col("cls"), "doc_id", "text", buckets = 64)
      .createOrReplaceTempView("graft_bench_ladder_ratio")
    val budgets = Seq(("s0", 100000000L), ("s1", 100000000L),
      ("s2", 100000000L), ("s3", 100000000L))
    import spark.implicits._
    val quotaBudgets = budgets.toDF("source", "budget")
    val mem = MemoryStream[Long](spark)(spark.sqlContext.implicits.newLongEncoder)
    val docs = unitEmb(
      mem.toDF().select(col("value").as("doc_id"))
        .withColumn("source", org.apache.spark.sql.functions.expr(
          "concat('s', pmod(doc_id, 4))"))
        .withColumn("text", org.apache.spark.sql.functions.expr(
          "concat('BANNER ALPHA\\n', " +
            "array_join(transform(sequence(0, 9), " +
            "l -> concat('u', doc_id, 'x', l, ' w', pmod(doc_id * 31 + l, 7000))), '\\n'), " +
            "'\\nBANNER OMEGA')")),
      "doc_id")
    val q = graft.streaming.CurationStream.start(
      docs,
      constraints = Seq(("TOO_SHORT", length(col("text")) < lit(40))),
      table = "graft_bench_ladder_idx", idCol = "doc_id", textCol = "text",
      root = s"$dir/cur", checkpoint = s"$dir/ckpt",
      semantic = tier(4, graft.streaming.CurationStream.SemanticTier(
        "graft_bench_ladder_ivf", "embedding")),
      trigger = Trigger.ProcessingTime("0 seconds"),
      lineDedup = tier(3, graft.streaming.CurationStream.LineDedupTier(
        store, "lad_line")),
      selection = tier(5, graft.streaming.CurationStream.SelectionTier(
        "graft_bench_ladder_ratio", buckets = 64)),
      mixture = tier(6, graft.streaming.CurationStream.MixtureTier(
        store, "lad_mix", "source")),
      quota = tier(7, graft.streaming.CurationStream.QuotaTier(
        store, "lad_quota", "source", quotaBudgets,
        scoreCol = tier(5, "dsir_score"))),
      upsample = tier(8, graft.streaming.CurationStream.UpsampleTier(
        store, "lad_up", "source", quotaBudgets)))
    try {
      val perBatch = 1000
      // untimed warmup wave, like every probe
      mem.addData((0 until perBatch).map(j => 100000L + j))
      q.processAllAvailable()
      val waves = (0 until 3).map { i =>
        val t0 = System.nanoTime()
        mem.addData((0 until perBatch).map(j => 200000L + i * perBatch + j))
        q.processAllAvailable()
        perBatch / ((System.nanoTime() - t0) / 1e9)
      }.sorted
      (waves(1), waves(0), waves(2))
    } finally {
      q.stop()
      confPrev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      deleteWithRetry(dir)
    }
  }

  /** Streaming ANN serve tail latency: per-epoch wall time over
    * single-batch epochs served from a stored IVF index through
    * [[graft.streaming.AnnServeStream]] (exactly-once epoch commit
    * included — the number a serving tier is judged on, where the
    * throughput probes can't see a slow tail). Driver-observed
    * addData→epoch-committed wall per epoch; first epochs are warmup
    * (plan + catalog resolution) and excluded, like any latency bench.
    * Returns (p50 ms, p95 ms).
    */
  def serveLatency(spark: SparkSession,
      pinSnapshot: Boolean = false): (Double, Double) = {
    val dir = Files.createTempDirectory("graft-bench-serve").toFile
    val embExpr = org.apache.spark.sql.functions.expr(
      "transform(sequence(0, 63), j -> cast(pmod(hash(vec_id, j), 1000) as float) / 1000.0)")
    val corpus = spark.range(2000)
      .select(col("id").as("vec_id")).withColumn("embedding", embExpr)
    graft.sources.AnnIndex.buildIvf(corpus, "graft_bench_serve_idx",
      nCentroids = 16, refine = 1, buckets = 8)
    val mem = MemoryStream[Long](spark)(spark.sqlContext.implicits.newLongEncoder)
    val queries = mem.toDF().select(col("value").as("vec_id"))
      .withColumn("embedding", embExpr)
    val q = graft.streaming.AnnServeStream.startIvf(
      queries, "graft_bench_serve_idx", s"$dir/out", s"$dir/ckpt",
      k = 10, nProbe = 2, trigger = Trigger.ProcessingTime("0 seconds"),
      pinSnapshot = pinSnapshot)
    try {
      val warmup = 5
      val epochs = 30
      val perBatch = 64
      val times = (0 until epochs).map { i =>
        val t0 = System.nanoTime()
        mem.addData((0 until perBatch).map(j => (10000 + i * perBatch + j).toLong))
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e6
      }.drop(warmup).sorted
      def pct(p: Double) =
        times(math.min(times.size - 1, (p * times.size).toInt))
      (pct(0.50), pct(0.95))
    } finally {
      q.stop()
      deleteWithRetry(dir)
    }
  }

  /** The tws probe in a FRESH JVM ([[TwsForkedMain]]):
    * returns (median, min, max, state rows) parsed from the child's
    * stdout, or None if the spawn fails (missing java, classpath not
    * reconstructible) — the caller falls back to the in-session probe
    * and says so in the artifact. Round 12's finding: three same-day
    * IN-SESSION runs of identical code read 21,354/21,287/14,664 ev/s
    * because the RocksDB path rides the whole JVM's GC/compaction
    * phase; a fresh JVM per measurement is the same context the
    * documented 18-26k standalone envelope was measured in, making
    * bench artifacts same-day reproducible. `run / fork := true`
    * (build.sbt) means java.class.path IS the app classpath, and the
    * child needs the same JDK-17 --add-opens Spark itself needs.
    */
  def twsForked(): Option[(Double, Double, Double, Long)] = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      addOpens ++ Seq("-Xmx8g", "-cp", System.getProperty("java.class.path"),
        TwsForkedMain.getClass.getName.stripSuffix("$"))
    try {
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD) // spark logs
      val p = pb.start()
      // drain stdout on a daemon thread so a wedged child can't block
      // the bench: waitFor carries the timeout, destroy unblocks the read
      val outBuf = new java.io.ByteArrayOutputStream
      val reader = new Thread(() => { p.getInputStream.transferTo(outBuf); () })
      reader.setDaemon(true)
      reader.start()
      val done = p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) p.destroyForcibly()
      reader.join(5000)
      if (!done) None
      else outBuf.toString("UTF-8").linesIterator
        .find(_.startsWith("TWSFORK ")).map { line =>
          val f = line.trim.split("\\s+")
          (f(1).toDouble, f(2).toDouble, f(3).toDouble, f(4).toLong)
        }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** min/median/max over three full runs of a throughput probe, after
    * ONE UNTIMED full run — the tws treatment for every probe: each
    * probe's first run in a session pays cross-run C2/JIT warmth its
    * later runs inherit (the round-11 ingest band read 214→1,057
    * docs/s across its three waves once the fragment moved to the
    * front of the bench — pure JIT climb, not operator noise), so a
    * median that includes run 1 measures compiler progress. The in-run
    * warm-up batch inside each probe only absorbs per-query setup
    * (codegen, state-store init), not this. Single-shot numbers on
    * this host still swing between same-day runs (COVERAGE's noise
    * note) — the MEDIAN of the three timed runs is the reported value;
    * min/max ride along as the noise record.
    */
  private def minMedMax(run: () => Double): (Double, Double, Double) = {
    run() // untimed warm-up run
    val xs = IndexedSeq(run(), run(), run()).sorted
    (xs(0), xs(1), xs(2))
  }

  /** One JSON fragment for the bench line. Throughput probes report
    * the median of three full runs, with `<key>_min`/`<key>_max`
    * alongside; the serve-latency probe is already a 25-epoch
    * distribution and stays single-shot.
    *
    * `overBudget` is checked BEFORE each probe (round-15, the
    * un-losable-artifact contract): once the caller's wall budget is
    * spent, the remaining probes are SKIPPED — their names ship in
    * `"skipped":[...]` so a truncated fragment can never masquerade as
    * a complete one (no silent caps) — and the fragment still closes,
    * so the bench line always parses. A probe failure stays visible as
    * `<name>_error` for the same reason.
    */
  def jsonFragment(spark: SparkSession,
      overBudget: () => Boolean = () => false): String = {
    val parts = scala.collection.mutable.ListBuffer[String]()
    val skipped = scala.collection.mutable.ListBuffer[String]()
    def probe(name: String)(f: => String): Unit =
      if (overBudget()) skipped += name
      else try parts += f
      catch {
        case scala.util.control.NonFatal(e) =>
          parts += s""""${name}_error":"${e.getClass.getSimpleName}""""
      }
    def tri(key: String, med: Double, min: Double, max: Double): String =
      f""""$key":${med}%.0f,"${key}_min":${min}%.0f,"${key}_max":${max}%.0f"""
    // tws runs in a FRESH JVM (same warm-up + 3-run protocol, see
    // twsForked) — round 12 showed three same-day IN-SESSION medians of
    // 21,354/21,287/14,664 ev/s on identical code: the RocksDB path
    // rides the whole JVM's GC/compaction phase, which no in-session
    // treatment (canary, warm-up waves) can remove. The fork IS the
    // standalone-envelope context, so the shipped number is same-day
    // reproducible and directly comparable to the documented band.
    // Fallback (spawn failure only): the old in-session protocol,
    // flagged via "tws_forked":false.
    probe("tws") {
      val forked = twsForked()
      val (twsEps, twsMin, twsMax, twsState) = forked.getOrElse {
        // in-session fallback: one untimed full wave absorbs cross-run
        // C2/JIT warmth (runs 1-2 of a fresh session read 15-17k while
        // runs 3+ plateau at 22-24k on both commits, round-10 A/B)
        twsThroughput(spark)
        val runs = IndexedSeq.fill(3)(twsThroughput(spark)).sortBy(_._1)
        (runs(1)._1, runs(0)._1, runs(2)._1, runs(1)._2)
      }
      tri("tws_events_per_s", twsEps, twsMin, twsMax) +
        s""","tws_state_rows":$twsState,"tws_forked":${forked.isDefined}"""
    }
    probe("sync") {
      val (mn, md, mx) = minMedMax(() => syncThroughput(spark))
      tri("sync_events_per_s", md, mn, mx)
    }
    probe("concurrent") {
      val (mn, md, mx) = minMedMax(() => concurrentThroughput(spark))
      tri("concurrent_events_per_s", md, mn, mx)
    }
    probe("multiplexed") {
      val (mn, md, mx) = minMedMax(() => multiplexedThroughput(spark))
      tri("multiplexed_events_per_s", md, mn, mx)
    }
    probe("ingest") {
      val (mn, md, mx) = minMedMax(() => ingestThroughput(spark))
      tri("ingest_docs_per_s", md, mn, mx)
    }
    probe("semantic") {
      val (mn, md, mx) = minMedMax(() => semanticThroughput(spark))
      tri("semantic_docs_per_s", md, mn, mx)
    }
    probe("line") {
      val (mn, md, mx) = minMedMax(() => lineGateThroughput(spark))
      tri("line_docs_per_s", md, mn, mx)
    }
    // one run, per-wave band (the tier stores inside a run carry real
    // cross-trigger state; re-running the whole ladder 3× would mostly
    // re-measure index/table builds)
    probe("ladder") {
      val (md, mn, mx) = ladderThroughput(spark)
      tri("ladder_docs_per_s", md, mn, mx)
    }
    // pinned-snapshot posture: what a serving tier actually runs
    // (measured ~25% lower p50 than resolve-per-batch; COVERAGE.md)
    probe("serve") {
      val (p50, p95) = serveLatency(spark, pinSnapshot = true)
      f""""serve_p50_ms":${p50}%.0f,"serve_p95_ms":${p95}%.0f"""
    }
    parts += s""""skipped":[${skipped.map("\"" + _ + "\"").mkString(",")}]"""
    s""""streaming":{${parts.mkString(",")}}"""
  }
}

/** Child-process entry for the bench's FORKED tws probe ([[StreamBench.twsForked]]):
  * a fresh JVM + fresh session running exactly the standalone-envelope
  * protocol (one untimed warm-up run, three timed runs) and printing
  * ONE machine-parsable stdout line:
  *
  * {{{ TWSFORK <median> <min> <max> <state_rows> }}}
  *
  * Spark logs go to stderr (discarded by the parent), so stdout stays
  * clean for the parse. Exists because three same-day in-session runs
  * of identical code read 21,354 / 21,287 / 14,664 ev/s in round 12 —
  * the RocksDB path's number depends on the host JVM's GC/compaction
  * phase, which neither the load canary (batch-side) nor the warm-up
  * wave (JIT) can see; a fresh JVM per measurement removes the
  * session-phase variable entirely and makes the shipped number
  * directly comparable to the documented 18-26k standalone envelope.
  */
object TwsForkedMain {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StreamBench.twsThroughput(spark) // untimed warm-up run
    val runs = IndexedSeq.fill(3)(StreamBench.twsThroughput(spark))
      .sortBy(_._1)
    println(f"TWSFORK ${runs(1)._1}%.0f ${runs(0)._1}%.0f " +
      f"${runs(2)._1}%.0f ${runs(1)._2}%d")
    spark.stop()
  }
}
