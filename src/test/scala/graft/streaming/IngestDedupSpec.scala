package graft.streaming

import graft.SparkSpec
import graft.sources.DedupIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The streaming curation gate: each micro-batch probes the persisted
  * dedup index, rejects near-dups of the indexed corpus (and in-batch
  * dups), and appends only the survivors — so a duplicate arriving in a
  * LATER batch is blocked by a survivor from an EARLIER one, and the
  * index grows by exactly the survivor set.
  */
class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  private def doc(s: String) = s * 6 // ~18 words: non-degenerate shingles

  test("cross-batch dups are blocked; the index grows only by survivors") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    val corpus = Seq(
      (1L, doc("the quick brown fox ")),
      (2L, doc("pack my box with jugs "))).toDF("doc_id", "text")
    DedupIndex.build(corpus, "ingestspec_idx", "doc_id", "text")
    val baseRows = spark.table("ingestspec_idx").count()

    val mem = MemoryStream[(Long, String)](spark)
    val q = IngestDedup.start(mem.toDF().toDF("doc_id", "text"),
      "ingestspec_idx", "doc_id", "text",
      s"$dir/out", s"$dir/reject", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      // batch 1: 10 = dup of corpus doc 1 (blocked), 11 = new (survives),
      // 12 = in-batch dup of 11 (blocked)
      mem.addData((10L, doc("the quick brown fox ")),
        (11L, doc("sphinx of black quartz judge ")),
        (12L, doc("sphinx of black quartz judge ")))
      q.processAllAvailable()
      // batch 2: 20 = dup of batch-1 SURVIVOR 11 (the cross-batch case
      // the index exists for), 21 = new
      mem.addData((20L, doc("sphinx of black quartz judge ")),
        (21L, doc("how vexingly daft zebras jump ")))
      q.processAllAvailable()

      val out = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      assert(out == Set(11L, 21L), s"survivors drifted: $out")

      val rejects = spark.read.parquet(s"$dir/reject")
        .select("doc_id", "dup_of", "reason").as[(Long, Long, String)]
        .collect().toSet
      assert(rejects == Set(
        (10L, 1L, "DUP_OF_CORPUS"),
        (12L, 11L, "DUP_IN_BATCH"),
        (20L, 11L, "DUP_OF_CORPUS")), s"rejects drifted: $rejects")

      // index grew by exactly the survivors' band rows (8 bands/doc).
      // The appends ran in foreachBatch's CLONED session — this session
      // cached the table's listing at baseRows time, so refresh first
      // (standard cross-session append visibility semantics).
      spark.catalog.refreshTable("ingestspec_idx")
      val grown = spark.table("ingestspec_idx").count() - baseRows
      assert(grown == 2 * 8, s"index must grow by survivors only, grew $grown rows")
      // and a replayed epoch is a no-op
      IngestDedup.applyBatch(spark, "ingestspec_idx",
        Seq((21L, doc("how vexingly daft zebras jump "))).toDF("doc_id", "text"),
        batchId = 1, "doc_id", "text", s"$dir/out", s"$dir/reject")
      assert(spark.table("ingestspec_idx").count() - baseRows == 2 * 8,
        "replayed batch must not re-append")
    } finally q.stop()
  }

  test("crash between survivor commit and index append replays without duplicates") {
    val dir = Files.createTempDirectory("graft-ingest-crash").toString
    val corpus = Seq((1L, doc("the quick brown fox "))).toDF("doc_id", "text")
    DedupIndex.build(corpus, "ingestcrash_idx", "doc_id", "text")
    val baseRows = spark.table("ingestcrash_idx").count()

    def run(id: Long, docs: Seq[(Long, String)]): Unit =
      IngestDedup.applyBatch(spark, "ingestcrash_idx",
        docs.toDF("doc_id", "text"), id, "doc_id", "text",
        s"$dir/out", s"$dir/reject")

    run(0, Seq((10L, doc("sphinx of black quartz judge ")),
      (11L, doc("the quick brown fox ")))) // 10 survives, 11 rejected
    assert(spark.table("ingestcrash_idx").count() - baseRows == 8)

    // epoch 1: land it fully, then recreate the two crash states a
    // foreachBatch replay can observe and replay into each of them
    run(1, Seq((20L, doc("how vexingly daft zebras jump "))))
    val outRows = spark.read.parquet(s"$dir/out")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val idxRows = spark.table("ingestcrash_idx").count()
    val marker = java.nio.file.Paths.get(s"$dir/out", "_graft_ingest_epoch")

    // crash state A: survivors committed, index append PARTIAL (one of
    // the epoch's deterministic files missing), marker never written
    Files.delete(marker)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("ingestcrash_idx"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val e1Files = fs.listStatus(loc).map(_.getPath)
      .filter(_.getName.contains("ingest-e1"))
    assert(e1Files.nonEmpty, "epoch-keyed index files must exist")
    fs.delete(e1Files.head, false)
    spark.catalog.refreshTable("ingestcrash_idx")

    run(1, Seq((20L, doc("how vexingly daft zebras jump ")))) // replay
    spark.catalog.refreshTable("ingestcrash_idx")
    assert(spark.table("ingestcrash_idx").count() == idxRows,
      "replay after partial index append must restore, not duplicate")
    assert(spark.read.parquet(s"$dir/out")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == outRows,
      "replay must not duplicate output rows")

    // crash state B: staging debris from an attempt that died before
    // the atomic rename — the replay must overwrite it and commit once
    Files.delete(marker)
    val staging = java.nio.file.Paths.get(s"$dir/out", ".staging", "e2")
    Files.createDirectories(staging)
    Files.write(staging.resolve("debris"), "junk".getBytes)
    run(2, Seq((30L, doc("pack my box with jugs again "))))
    assert(!Files.exists(staging), "staging debris must be swept on commit")
    val afterB = spark.read.parquet(s"$dir/out")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(afterB == (outRows :+ 30L).sorted,
      s"epoch 2 must commit exactly once: $afterB")
    // duplicated epoch column must not appear as data (partition only)
    assert(spark.read.parquet(s"$dir/out").columns.count(_ == "epoch") == 1)
  }

  test("a fresh data trigger runs exactly 6 actions (the per-trigger budget)") {
    // the round-9 budget that took the gate from 667 to ~1,300+ docs/s:
    // 1 batch+signature checkpoint, 1 unified probe/pair checkpoint,
    // 2 epoch commits, 2 index-append halves — counted as root SQL
    // executions so the pin survives AQE's nested re-posts. A regression
    // that re-introduces a per-consumer recompute, a separate in-batch
    // pair stage, or the scratch-table append shows up here as a 7th+
    // action before it shows up in the bench.
    val dir = Files.createTempDirectory("graft-ingest-budget").toString
    val corpus = Seq((1L, doc("the quick brown fox "))).toDF("doc_id", "text")
    DedupIndex.build(corpus, "ingestbudget_idx", "doc_id", "text")

    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if e.rootExecutionId.forall(_ == e.executionId) =>
            actions.incrementAndGet(); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IngestDedup.applyBatch(spark, "ingestbudget_idx",
        Seq((10L, doc("sphinx of black quartz judge ")),
          (11L, doc("how vexingly daft zebras jump "))).toDF("doc_id", "text"),
        batchId = 0, "doc_id", "text", s"$dir/out", s"$dir/reject")
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 10000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val now = actions.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(actions.get() == 6,
      s"ingest per-trigger action budget is 6 (batch+sig checkpoint, " +
        s"pair checkpoint, 2 epoch commits, 2 append halves), saw ${actions.get()}")
  }
}
