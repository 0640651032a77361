package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry, TableMapping}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Per-trigger cost contract of the sync sink (r6 verdict item 1,
  * tightened r8, re-pinned for the epoch sink): a non-compacting epoch
  * of n slices runs exactly n + 1 Spark actions — one staged delta
  * write per slice (each doubling as its table's emptiness probe and
  * observing the slice's event count + live count/pk-bounds) and ONE
  * audit staging write for all tables — so 2 for one pair and 4 for
  * three; and the trigger path is exactly-once for the data tables and
  * the audit log across every crash window, including k of n tables
  * finalized before the audit publish.
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
  private def batchOf(pipeline: SyncPipeline, envs: Seq[String],
      m: TableMapping = Registry.book, d: Direction.Value = Direction.AsisToTobe) =
    pipeline.transformed(
      envs.toDF("value").withColumn("topic", lit(Registry.topicFor(d, m))), m, d)
      .withColumn("loop_blocked", lit(false))

  /** The one-pair slice set of a BOOK ASIS→TOBE batch. */
  private def book(batch: DataFrame) =
    Seq((batch, Registry.book, Direction.AsisToTobe))

  private def fixture(dir: String = Files.createTempDirectory("graft-ptj").toString) = {
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
      book(batchOf(pipeline, (1 to 50).map(i => envelope("c", i, s"t$i", t0 + i)))), batchId = 0L)
    pipeline.applyMicroBatch(
      book(batchOf(pipeline, (51 to 80).map(i => envelope("c", i, s"t$i", t0 + i)))), batchId = 1L)

    val data = actionsDuring(pipeline.applyMicroBatch(
      book(batchOf(pipeline,
        (70 to 90).map(i => envelope("u", i, s"t$i-v2", t0 + 1000 + i)))), batchId = 2L))
    assert(data == 2,
      s"per-trigger action budget is 2 (delta stage doubling as the " +
        s"emptiness probe + audit stage), saw $data")
    // a no-data batch short-circuits after the aborted empty stage
    val empty = actionsDuring(pipeline.applyMicroBatch(
      book(batchOf(pipeline, Seq.empty[String])), batchId = 3L))
    assert(empty == 1,
      s"a no-data batch must cost only the aborted empty stage, saw $empty")
    // and the batch actually applied: 80 rows, 70-80 updated
    val snap = store.snapshot("TB_BOOK", null)
    assert(snap.count() == 80)
    assert(snap.filter($"TITLE".endsWith("-v2")).count() == 11)
    // TARGET_NOT_FOUND for 81-90 (updates on absent pks)
    assert(store.audit().filter($"status" === "TARGET_NOT_FOUND").count() == 10)
  }

  test("the fold epoch runs 3 actions: delta stage, audit stage, fold write") {
    val dir = Files.createTempDirectory("graft-ptj").toString
    val (pipeline, store) = fixture(dir) // the default compactEvery of 8
    val t0 = 1768284000000L
    def epoch(k: Int) = book(batchOf(pipeline,
      (k * 10 + 1 to k * 10 + 10).map(i => envelope("c", i, s"t$i", t0 + i))))
    (0 until 7).foreach(k => pipeline.applyMicroBatch(epoch(k), batchId = k.toLong))
    assert(store.currentVersion("TB_BOOK") == 7)
    val n = actionsDuring(pipeline.applyMicroBatch(epoch(7), batchId = 7L))
    assert(n == 3, s"the fold epoch stages the delta, stages the audit and writes the fold, saw $n")
    assert(store.currentVersion("TB_BOOK") == 8)
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$dir/store/TB_BOOK/v8")),
      "the eighth version must leave a folded base")
    val snap = store.snapshot("TB_BOOK", null)
    assert(snap.count() == 80)
    assert(snap.select($"TITLE").as[String].collect().toSet == (1 to 80).map(i => s"t$i").toSet)
  }

  test("exactly-once across the finalize/publish crash window") {
    val (pipeline, store) = fixture()
    val t0 = 1768284000000L
    val b0 = batchOf(pipeline, (1 to 20).map(i => envelope("c", i, s"t$i", t0 + i)))
    pipeline.applyMicroBatch(book(b0), batchId = 0L)
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
      pipeline.applyMicroBatch(book(b0), batchId = 0L))
    assert(replay == 2,
      s"the replay drains the observed frame once + stages the audit, saw $replay")
    assert(store.currentVersion("TB_BOOK") == v0,
      "replay after the delta committed must not write a second delta")
    assert(store.audit().count() == 20,
      "replay must re-publish the missing audit exactly once")

    // crash window B: everything landed — replay is a full no-op
    pipeline.applyMicroBatch(book(b0), batchId = 0L)
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
      book(batchOf(pipeline, Seq(envelope("c", 1, "t1", t0)))), batchId = 0L)

    // blocked-only: audit grows, marker advances, table unchanged
    val blockedBatch = batchOf(pipeline, Seq(envelope("c", 2, "t2", t0 + 1)))
      .withColumn("loop_blocked", lit(true))
    pipeline.applyMicroBatch(book(blockedBatch), batchId = 1L)
    assert(store.currentMeta("TB_BOOK").contains("1"))
    assert(store.audit().filter($"status" === "LOOP_BLOCKED").count() == 1)
    assert(store.snapshot("TB_BOOK", null).count() == 1)

    // fully empty: no version, no audit file, marker unmoved
    val v = store.currentVersion("TB_BOOK")
    pipeline.applyMicroBatch(
      book(batchOf(pipeline, Seq.empty[String])), batchId = 2L)
    assert(store.currentVersion("TB_BOOK") == v)
    assert(store.currentMeta("TB_BOOK").contains("1"))
    assert(store.audit().count() == 2)
  }

  // ---- a three-pair epoch: BOOK both ways + LEGACY_CODE ------------

  private def env(schema: String, table: String, op: String, img: String,
      tsMs: Long): String = {
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,""" +
      s""""source":{"schema":"$schema","table":"$table"},"ts_ms":$tsMs}}"""
  }
  private def bookTobe(op: String, id: Int, title: String, tsMs: Long) = env(
    "TOBE_USER", "TB_BOOK", op,
    s"""{"BOOK_ID":"$id","TITLE":"$title","AUTHOR_NAME":"a","CATEGORY_CD":"SCI","IS_ACTIVE":"1","CREATED_AT":$regMs,"UPDATED_AT":null,"CREATED_BY":"SYNC","UPDATED_BY":"SYNC"}""",
    tsMs)
  private def legacy(op: String, code: String, name: String, tsMs: Long) = env(
    "ASIS_USER", "LEGACY_CODE", op,
    s"""{"CODE_ID":"$code","CODE_NAME":"$name","USE_YN":"Y","REG_DATE":$regMs}""",
    tsMs)

  private val tables = Seq("TB_BOOK", "BOOK_INFO", "TB_LEGACY_CODE")

  /** Epoch 0 seeds the three tables; epoch 1 mixes updates, deletes, an
    * upsert-converted re-insert, updates/deletes on absent pks and one
    * loop-blocked echo, so every audit status depends on the pre-batch
    * membership of its own table.
    */
  private def threePairs(pipeline: SyncPipeline, epoch: Int) = {
    val t0 = 1768284000000L + epoch * 100000L
    val (asis, tobe, codes, blocked) =
      if (epoch == 0) (
        (1 to 5).map(i => envelope("c", i, s"a$i", t0 + i)),
        (100 to 104).map(i => bookTobe("c", i, s"b$i", t0 + i)),
        Seq("C1", "C2", "C3").zipWithIndex.map { case (c, i) => legacy("c", c, s"n$c", t0 + i) },
        Nil)
      else (
        Seq(envelope("u", 3, "a3-v2", t0 + 1), envelope("d", 4, "a4", t0 + 2),
          envelope("c", 2, "a2-again", t0 + 3), envelope("u", 9, "ghost", t0 + 4)),
        Seq(bookTobe("u", 101, "b101-v2", t0 + 1), bookTobe("c", 105, "b105", t0 + 2),
          bookTobe("d", 102, "b102", t0 + 3), bookTobe("d", 199, "ghost", t0 + 4)),
        Seq(legacy("u", "C2", "nC2-v2", t0 + 1), legacy("c", "C4", "nC4", t0 + 2),
          legacy("d", "C9", "ghost", t0 + 3)),
        Seq(legacy("c", "C5", "echo", t0 + 4)))
    val codeSlice = batchOf(pipeline, codes, Registry.legacyCode, Direction.AsisToTobe)
      .unionByName(batchOf(pipeline, blocked, Registry.legacyCode, Direction.AsisToTobe)
        .withColumn("loop_blocked", lit(true)))
    Seq((batchOf(pipeline, asis), Registry.book, Direction.AsisToTobe),
      (batchOf(pipeline, tobe, Registry.book, Direction.TobeToAsis),
        Registry.book, Direction.TobeToAsis),
      (codeSlice, Registry.legacyCode, Direction.AsisToTobe))
  }

  /** Every table's rows and the audit rows but their stamp, as sorted
    * strings.
    */
  private def state(store: SnapshotStore) =
    (tables.map(t => store.snapshot(t, null).collect().map(_.toString).sorted.toSeq),
      store.audit().drop("log_time", "log_date").collect().map(_.toString).sorted.toSeq)

  test("a three-pair data epoch runs 4 actions: 3 delta stages + 1 audit") {
    val (pipeline, store) = fixture()
    pipeline.applyMicroBatch(threePairs(pipeline, 0), batchId = 0L)
    val n = actionsDuring(
      pipeline.applyMicroBatch(threePairs(pipeline, 1), batchId = 1L))
    assert(n == 4, s"a three-pair epoch stages 3 deltas and ONE audit, saw $n")
    val statuses = store.audit().groupBy("table_name", "status").count()
      .as[(String, String, Long)].collect().toSet
    assert(statuses == Set(
      ("TB_BOOK", "SUCCESS", 8L), ("TB_BOOK", "TARGET_NOT_FOUND", 1L),
      ("BOOK_INFO", "SUCCESS", 8L), ("BOOK_INFO", "TARGET_NOT_FOUND", 1L),
      ("TB_LEGACY_CODE", "SUCCESS", 5L), ("TB_LEGACY_CODE", "TARGET_NOT_FOUND", 1L),
      ("TB_LEGACY_CODE", "LOOP_BLOCKED", 1L)), s"audit drifted: $statuses")
    assert(store.audit().filter($"upsert_converted").count() == 1)
    assert(store.audit().inputFiles.length == 2,
      "one audit file per epoch, whatever the number of pairs")
  }

  test("exactly-once across every crash window of a three-pair epoch") {
    val (refPipeline, ref) = fixture()
    refPipeline.applyMicroBatch(threePairs(refPipeline, 0), batchId = 0L)
    refPipeline.applyMicroBatch(threePairs(refPipeline, 1), batchId = 1L)
    val want = state(ref)

    for (k <- 0 to 3) {
      val dir = Files.createTempDirectory("graft-ptj").toString
      val (pipeline, store) = fixture(dir)
      pipeline.applyMicroBatch(threePairs(pipeline, 0), batchId = 0L)
      val pre = tables.map(store.currentVersion)
      pipeline.applyMicroBatch(threePairs(pipeline, 1), batchId = 1L)
      // crash before the audit publish with the first k tables
      // finalized: the others' pointers roll back (their staged d<N>
      // stays as debris) and the epoch's audit file never landed
      tables.zip(pre).drop(k).foreach { case (t, v) =>
        Files.writeString(java.nio.file.Paths.get(s"$dir/store/$t/_current"), v.toString)
      }
      val epochFile = {
        val s = Files.walk(java.nio.file.Paths.get(s"$dir/store/_audit"))
        try s.filter(_.getFileName.toString.endsWith("_e1.parquet")).findFirst().get()
        finally s.close()
      }
      Files.delete(epochFile)
      assert(tables.map(store.currentVersion).drop(k) == pre.drop(k))

      pipeline.applyMicroBatch(threePairs(pipeline, 1), batchId = 1L)
      assert(state(store) == want, s"replay with $k of 3 tables finalized drifted")

      // a replay after the publish is a no-op
      val versions = tables.map(store.currentVersion)
      val noop = actionsDuring(
        pipeline.applyMicroBatch(threePairs(pipeline, 1), batchId = 1L))
      assert(noop == 0, s"a landed epoch must run no action, saw $noop")
      assert(tables.map(store.currentVersion) == versions)
      assert(state(store) == want)
    }
  }
}
