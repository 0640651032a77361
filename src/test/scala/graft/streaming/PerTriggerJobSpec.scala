package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Per-trigger cost contract of the sync sink (r6 verdict item 1,
  * tightened r8): a non-compacting micro-batch runs exactly TWO Spark
  * actions — the staged delta write (which doubles as the emptiness
  * probe and observes the batch's event count + live count/pk-bounds)
  * and the audit staging write — and the trigger path is exactly-once
  * for both the data table and the audit log across every crash
  * window.
  */
class PerTriggerJobSpec extends SparkSpec {
  import spark.implicits._

  private val regMs = 1768280000000L

  private def envelope(op: String, id: Int, title: String, tsMs: Long): String = {
    val img = s"""{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$regMs,"MOD_DATE":null}"""
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$tsMs}}"""
  }

  /** A post-dedup micro-batch frame (what foreachBatch receives). */
  private def batchOf(pipeline: SyncPipeline, envs: Seq[String]) =
    pipeline.transformed(
      envs.toDF("value").withColumn("topic", lit("asis.ASIS_USER.BOOK_INFO")),
      Registry.book, Direction.AsisToTobe)
      .withColumn("loop_blocked", lit(false))

  private def fixture() = {
    val dir = Files.createTempDirectory("graft-ptj").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    (new SyncPipeline(spark, store), store)
  }

  /** Root SQL executions (driver ACTIONS) that `f` runs. Counts
    * actions, not scheduler jobs: AQE materializes each exchange as its
    * own job, so job count measures the plan's stage shape, not how
    * many times the driver kicks off work.
    */
  private def actionsDuring(f: => Unit): Int = {
    val actions = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart
          // AQE re-posts nested executions with a rootExecutionId
          // pointing at the parent; count only the roots
          if e.rootExecutionId.forall(_ == e.executionId) =>
          actions.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // the listener bus is async: wait until the count stops moving
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 10000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val now = actions.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    actions.get()
  }

  test("a non-compacting micro-batch runs exactly 2 actions, " +
    "even with deltas outstanding; a no-data batch runs 1") {
    val (pipeline, store) = fixture()
    val t0 = 1768284000000L
    // two committed deltas outstanding, so the membership read covers
    // base-absent + delta-chain state — the expensive shape
    pipeline.applyMicroBatch(
      batchOf(pipeline, (1 to 50).map(i => envelope("c", i, s"t$i", t0 + i))),
      Registry.book, Direction.AsisToTobe, batchId = 0L)
    pipeline.applyMicroBatch(
      batchOf(pipeline, (51 to 80).map(i => envelope("c", i, s"t$i", t0 + i))),
      Registry.book, Direction.AsisToTobe, batchId = 1L)

    val data = actionsDuring(pipeline.applyMicroBatch(
      batchOf(pipeline,
        (70 to 90).map(i => envelope("u", i, s"t$i-v2", t0 + 1000 + i))),
      Registry.book, Direction.AsisToTobe, batchId = 2L))
    assert(data == 2,
      s"per-trigger action budget is 2 (delta stage doubling as the " +
        s"emptiness probe + audit stage), saw $data")
    // a no-data batch short-circuits after the aborted empty stage
    val empty = actionsDuring(pipeline.applyMicroBatch(
      batchOf(pipeline, Seq.empty[String]),
      Registry.book, Direction.AsisToTobe, batchId = 3L))
    assert(empty == 1,
      s"a no-data batch must cost only the aborted empty stage, saw $empty")
    // and the batch actually applied: 80 rows, 70-80 updated
    val snap = store.snapshot("TB_BOOK", null)
    assert(snap.count() == 80)
    assert(snap.filter($"TITLE".endsWith("-v2")).count() == 11)
    // TARGET_NOT_FOUND for 81-90 (updates on absent pks)
    assert(store.audit().filter($"status" === "TARGET_NOT_FOUND").count() == 10)
  }

  test("exactly-once across the finalize/publish crash window") {
    val (pipeline, store) = fixture()
    val t0 = 1768284000000L
    val b0 = batchOf(pipeline, (1 to 20).map(i => envelope("c", i, s"t$i", t0 + i)))
    pipeline.applyMicroBatch(b0, Registry.book, Direction.AsisToTobe, batchId = 0L)
    val v0 = store.currentVersion("TB_BOOK")
    assert(store.audit().count() == 20)

    // crash window A: delta finalized, audit never published — simulate
    // by deleting the epoch's audit file and replaying the same batch
    val auditFile = {
      val root = java.nio.file.Paths.get(
        store.audit().inputFiles.head.stripPrefix("file:")).getParent
      val s = java.nio.file.Files.list(root)
      try s.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    java.nio.file.Files.delete(auditFile)
    val replay = actionsDuring(
      pipeline.applyMicroBatch(b0, Registry.book, Direction.AsisToTobe, batchId = 0L))
    assert(replay == 2,
      s"the replay drains the observed frame once + stages the audit, saw $replay")
    assert(store.currentVersion("TB_BOOK") == v0,
      "replay after the delta committed must not write a second delta")
    assert(store.audit().count() == 20,
      "replay must re-publish the missing audit exactly once")

    // crash window B: everything landed — replay is a full no-op
    pipeline.applyMicroBatch(b0, Registry.book, Direction.AsisToTobe, batchId = 0L)
    assert(store.currentVersion("TB_BOOK") == v0)
    assert(store.audit().count() == 20,
      "a fully-landed epoch must not duplicate audit rows")
    assert(store.snapshot("TB_BOOK", null).count() == 20)
  }

  test("an all-blocked batch advances the epoch marker; " +
    "an empty batch leaves no version") {
    val (pipeline, store) = fixture()
    val t0 = 1768284000000L
    pipeline.applyMicroBatch(
      batchOf(pipeline, Seq(envelope("c", 1, "t1", t0))),
      Registry.book, Direction.AsisToTobe, batchId = 0L)

    // blocked-only: audit grows, marker advances, table unchanged
    val blockedBatch = batchOf(pipeline, Seq(envelope("c", 2, "t2", t0 + 1)))
      .withColumn("loop_blocked", lit(true))
    pipeline.applyMicroBatch(blockedBatch, Registry.book, Direction.AsisToTobe,
      batchId = 1L)
    assert(store.currentMeta("TB_BOOK").contains("1"))
    assert(store.audit().filter($"status" === "LOOP_BLOCKED").count() == 1)
    assert(store.snapshot("TB_BOOK", null).count() == 1)

    // fully empty: no version, no audit file, marker unmoved
    val v = store.currentVersion("TB_BOOK")
    pipeline.applyMicroBatch(
      batchOf(pipeline, Seq.empty[String]), Registry.book,
      Direction.AsisToTobe, batchId = 2L)
    assert(store.currentVersion("TB_BOOK") == v)
    assert(store.currentMeta("TB_BOOK").contains("1"))
    assert(store.audit().count() == 2)
  }
}
