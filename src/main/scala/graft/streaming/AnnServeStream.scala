package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.AnnIndex

/** Streaming similarity serving: a stream of query embeddings is
  * answered micro-batch by micro-batch against a PERSISTED ANN index
  * ([[graft.sources.AnnIndex]]) — the query side of the index
  * lifecycle, completing build → append → compact → serve for live
  * traffic. Per-trigger cost is the batch-serve cost on |batch|
  * queries: probe selection against the stored centroids/planes plus a
  * scan of only the probed stored lists — the corpus is never
  * re-scored, so trigger cost is flat in corpus size.
  *
  * Serving is STATELESS per batch (result = f(batch, stored index)),
  * so exactly-once output needs only [[EpochCommit]]'s atomic epoch
  * rename: a replayed batch recomputes the same rows from the same
  * frozen index and lands in the same `epoch=<batchId>` dir.
  *
  * Concurrent index appends: serves read the index tables through the
  * session catalog snapshot at batch start; an [[IngestDedup]]-style
  * pipeline appending between triggers just means later epochs see the
  * newer corpus — exactly the semantics a production serving tier
  * wants.
  *
  * LATENCY FLOOR (measured, local[32], 64-query epochs, 2k-vector
  * index): the pinned in-memory-replica path reduced each epoch to ONE
  * narrow Spark job, taking p50 from ~400 ms to ~270 ms and p95 from
  * ~550 to ~310. The remainder decomposes as ~90-150 ms of Structured
  * Streaming per-trigger machinery (offset WAL + commit WAL writes +
  * incremental planning — outside this operator), ~30 ms analyzing the
  * per-batch serve plan, and ~100-140 ms for the single write job
  * (task launch + parquet writer init + committer + atomic epoch
  * rename). Sub-200 ms p50 is below that engine+job floor: it requires
  * leaving the micro-batch + parquet-epoch model (e.g. continuous
  * processing or a socket-serving tier), not further work in this
  * operator. The scoring itself is microseconds at this scale.
  */
object AnnServeStream {

  /** Pinned-replica broadcasts still held per live serve query — each
    * `pinSnapshot` start registers its two broadcasts here and a
    * [[QueryCleanup]] hook destroys + deregisters them at termination,
    * so a session that restarts the serve stream N times (the bench's
    * pinned-vs-unpinned comparison) holds at most the ACTIVE streams'
    * replicas in executor memory, never N dead ones. Package-visible so
    * the spec can assert the release actually happens.
    */
  private[graft] val pinnedBroadcasts =
    new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, Seq[org.apache.spark.broadcast.Broadcast[_]]]()

  /** One micro-batch of queries → top-k results under
    * `<outDir>/epoch=<batchId>`. Skips fully-committed epochs (replay).
    */
  def applyBatch(batch: DataFrame, batchId: Long, outDir: String,
      serve: (SparkSession, DataFrame) => DataFrame): Unit = {
    if (EpochCommit.epochExists(batch.sparkSession, outDir, batchId)) return // replay
    val result = TriggerTiming.timed("serve", "build-plan") {
      serve(batch.sparkSession, batch)
    }
    TriggerTiming.timed("serve", "commit-epoch") {
      EpochCommit.commitEpoch(result, outDir, batchId)
    }
  }

  /** Serve a query-embedding stream against the stored IVF×PQ index
    * `table` (see [[AnnIndex.buildIvfPq]] / [[AnnIndex.ivfPqServe]]).
    */
  def startIvfPq(
      queries: DataFrame, table: String, outDir: String, checkpoint: String,
      k: Int, nProbe: Int, m: Int, dims: Int,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    start(queries, outDir, checkpoint, trigger) { (s, b) =>
      AnnIndex.ivfPqServe(s, table, b, k, nProbe, m, dims)
    }

  /** Serve a query-embedding stream against the stored IVF index.
    *
    * `pinSnapshot = true` resolves and PERSISTS the index frames once
    * at stream start, so each trigger skips catalog resolution and the
    * parquet scan — the latency posture a real serving tier runs. The
    * trade is snapshot semantics: appends committed after stream start
    * stay invisible until the stream restarts (default `false` keeps
    * the read-latest-at-each-batch behavior documented above).
    */
  def startIvf(
      queries: DataFrame, table: String, outDir: String, checkpoint: String,
      k: Int, nProbe: Int,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      pinSnapshot: Boolean = false): StreamingQuery =
    if (!pinSnapshot)
      start(queries, outDir, checkpoint, trigger) { (s, b) =>
        AnnIndex.ivfServe(s, table, b, k, nProbe)
      }
    else {
      import org.apache.spark.sql.functions._
      val s0 = queries.sparkSession
      // IN-MEMORY-REPLICA posture — what a production vector-serving
      // tier actually runs: the pinned index (centroids + posting
      // lists) broadcasts to every executor ONCE at stream start, and
      // each epoch is then ONE NARROW job — probe selection, candidate
      // scoring and per-query top-k all evaluate inside the partition,
      // no broadcast build, no shuffle, no window per trigger. The
      // per-epoch Spark surface shrinks to scan→flatMap→write, which is
      // the whole point: the tail was fixed plan/exchange cost, not
      // scoring. The trade is explicit: the index must fit in executor
      // memory (every replica-serving system's contract — PQ codes are
      // the shrink dial); an index beyond RAM serves through the
      // resolve-per-batch path (`pinSnapshot = false`). mapPartitions
      // here is the same kind of seam as the multimodal codecs: the
      // operator IS a local in-memory lookup, not a dataflow.
      //
      // Result identity with the unpinned path is bit-exact and
      // spec-pinned: dot = index-ordered double accumulation
      // (VectorOps.dotSeq), score = round(·, 6) via the same
      // BigDecimal.valueOf HALF_UP rounding Spark's `round` uses,
      // probe order = (sim desc, cent_id asc), top-k order =
      // (score desc, neighbor_id asc) with rank 1..k (TopKByScore).
      val centArr: Array[(Long, Array[Double])] = s0.table(s"${table}_cents")
        .select(col("cent_id").cast("long"), col("cent_e").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      // array<double>, NOT array<float>: casting a double-typed corpus
      // down to float would truncate past round6's quantum and break
      // the bit-exact identity with the unpinned path (a float-typed
      // corpus widens to double exactly, so double is lossless for
      // both element types — the same promotion dotSeq performs)
      val listArr: Map[Long, Array[(Long, Array[Double])]] = s0.table(table)
        .select(col("cent_id").cast("long"), col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Double](2).toArray)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val sc = s0.sparkContext
      val bcCents = sc.broadcast(centArr)
      val bcLists = sc.broadcast(listArr)
      def round6(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      def dotDD(q: Array[Double], c: Array[Double]): Double = {
        val n = math.min(q.length, c.length)
        var acc = 0.0; var i = 0
        while (i < n) { acc += q(i) * c(i); i += 1 }
        acc
      }
      val query = start(queries, outDir, checkpoint, trigger) { (s, b) =>
        import s.implicits._
        b.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
          .as[(Long, Array[Double])]
          .mapPartitions { it =>
            val cents = bcCents.value
            val lists = bcLists.value
            it.flatMap { case (qid, qe) =>
              val probes = cents
                .map { case (cid, ce) => (-round6(dotDD(qe, ce)), cid) }
                .sorted.take(nProbe).map(_._2)
              probes.iterator
                .flatMap(cid => lists.getOrElse(cid, Array.empty[(Long, Array[Double])]))
                .filter(_._1 != qid)
                .map { case (nid, ce) => (round6(dotDD(qe, ce)), nid) }
                .toSeq.sortBy(x => (-x._1, x._2)).take(k)
                .zipWithIndex
                .map { case ((score, nid), i) => (qid, nid, score, i + 1) }
            }
          }
          .toDF("query_id", "neighbor_id", "score", "rank")
      }
      // the replica dies with the stream: destroy (driver + executor
      // copies — no epoch can reference the broadcast after termination)
      // and deregister, so restarts never accumulate dead replicas.
      // Destroy FIRST: a deregistered query must hold no live replica
      // (the termination listener runs on its own thread, so a reader
      // of the registry can see the removal before a later destroy)
      pinnedBroadcasts.put(query.id, Seq(bcCents, bcLists))
      QueryCleanup.onTermination(s0, query) { () =>
        try { bcCents.destroy(); bcLists.destroy() }
        finally { pinnedBroadcasts.remove(query.id); () }
      }
      query
    }

  /** Serve a query-embedding stream against the stored multi-probe LSH
    * index (the recall-critical serve variant).
    */
  def startLshMultiProbe(
      queries: DataFrame, table: String, outDir: String, checkpoint: String,
      k: Int, planes: Int, dims: Int, extraProbes: Int,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    start(queries, outDir, checkpoint, trigger) { (s, b) =>
      AnnIndex.lshServeMultiProbe(s, table, b, k, planes, dims, extraProbes)
    }

  /** Generic epoch-committed streaming serve over any batch-serve
    * function — the composition point for custom index shapes.
    */
  def start(queries: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger)(
      serve: (SparkSession, DataFrame) => DataFrame): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b, id, outDir, serve); ()
      }
      .start()
}
