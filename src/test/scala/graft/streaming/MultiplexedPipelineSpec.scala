package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry, TableMapping}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** One streaming query carrying all six (mapping, direction) topics:
  * the consolidated topology must apply each topic's slice exactly like
  * the per-topic queries do — same target rows, same audit attribution,
  * same loop suppression — while idle topics ride triggers untouched.
  */
class MultiplexedPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1768284000000L // 2026-01-13

  private def env(schema: String, table: String, op: String,
      img: String, tsMs: Long): String = {
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,""" +
      s""""source":{"schema":"$schema","table":"$table"},"ts_ms":$tsMs}}"""
  }
  private def bookAsis(id: Int, title: String, regDate: Long = t0) =
    s"""{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$regDate,"MOD_DATE":null}"""
  private def bookTobe(id: Int, title: String) =
    s"""{"BOOK_ID":"$id","TITLE":"$title","AUTHOR_NAME":"a","CATEGORY_CD":"SCI","IS_ACTIVE":"1","CREATED_AT":$t0,"UPDATED_AT":null,"CREATED_BY":"SYNC","UPDATED_BY":"SYNC"}"""
  private def memberAsis(id: Int, name: String) =
    s"""{"MEMBER_ID":"$id","MEMBER_NAME":"$name","EMAIL":"m@x","MEMBER_TYPE":"A","STATUS":"Y","REG_DATE":$t0}"""
  private def memberTobe(id: Int, name: String) =
    s"""{"MEMBER_ID":"$id","MEMBER_NAME":"$name","EMAIL_ADDR":"m@x","MEMBER_TYPE_CD":"USER","IS_ACTIVE":"1","CREATED_AT":$t0,"UPDATED_AT":null}"""
  private def legacyAsis(code: String, name: String) =
    s"""{"CODE_ID":"$code","CODE_NAME":"$name","USE_YN":"Y","REG_DATE":$t0}"""
  private def svcTobe(id: Int, name: String) =
    s"""{"SERVICE_ID":"$id","SERVICE_NAME":"$name","SERVICE_TYPE_CD":"STD","IS_ACTIVE":"1","CREATED_AT":$t0}"""

  private val allPairs: Seq[(TableMapping, Direction.Value)] =
    Registry.byTopic.values.toSeq.sortBy(p => p._1.entity + p._2)
  private def oneInsertPerTopic: Seq[(String, String)] = Seq(
    Registry.topicFor(Direction.AsisToTobe, Registry.book) ->
      env("ASIS_USER", "BOOK_INFO", "c", bookAsis(1, "b-one"), t0),
    Registry.topicFor(Direction.TobeToAsis, Registry.book) ->
      env("TOBE_USER", "TB_BOOK", "c", bookTobe(100, "b-hundred"), t0),
    Registry.topicFor(Direction.AsisToTobe, Registry.member) ->
      env("ASIS_USER", "MEMBER_INFO", "c", memberAsis(2, "alice"), t0),
    Registry.topicFor(Direction.TobeToAsis, Registry.member) ->
      env("TOBE_USER", "TB_MEMBER", "c", memberTobe(200, "bob"), t0),
    Registry.topicFor(Direction.AsisToTobe, Registry.legacyCode) ->
      env("ASIS_USER", "LEGACY_CODE", "c", legacyAsis("C1", "code-one"), t0),
    Registry.topicFor(Direction.TobeToAsis, Registry.newService) ->
      env("TOBE_USER", "TB_NEW_SERVICE", "c", svcTobe(300, "svc"), t0))

  test("all six topics through ONE query: applies, audit, loop block, idle topics") {
    val dir = Files.createTempDirectory("graft-mux").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val mem = MemoryStream[(String, String)](spark)
    val source = mem.toDF().toDF("topic", "value")
    val q = pipeline.start(source, allPairs, s"$dir/ckpt")
    def topic(m: TableMapping, d: Direction.Value) = Registry.topicFor(d, m)
    try {
      // ---- round 1: one insert per topic, one trigger for all six
      mem.addData(oneInsertPerTopic)
      q.processAllAvailable()

      // identical table states to ConcurrentPipelineSpec's round 1
      assert(store.snapshot("TB_BOOK", null).head().getAs[String]("TITLE") == "b-one")
      assert(store.snapshot("TB_BOOK", null).head().getAs[String]("CATEGORY_CD") == "LIT")
      assert(store.snapshot("BOOK_INFO", null).head().getAs[String]("CATEGORY") == "02")
      assert(store.snapshot("TB_MEMBER", null).head()
        .getAs[String]("MEMBER_TYPE_CD") == "ADMIN")
      assert(store.snapshot("MEMBER_INFO", null).head().getAs[String]("MEMBER_TYPE") == "B")
      assert(store.snapshot("TB_LEGACY_CODE", null).head()
        .getAs[String]("CODE_NAME") == "code-one")
      assert(store.snapshot("NEW_SERVICE_RECV", null).head().getAs[String]("USE_YN") == "Y")
      // timestamp columns reach the target table intact
      assert(store.snapshot("TB_BOOK", null).head()
        .getAs[java.sql.Timestamp]("CREATED_AT").getTime == t0)

      // ---- round 2: updates on two topics; four topics idle in the
      // same trigger — their tables must be untouched
      val legacyMetaBefore = store.currentMeta("TB_LEGACY_CODE")
      mem.addData(
        topic(Registry.book, Direction.AsisToTobe) ->
          env("ASIS_USER", "BOOK_INFO", "u", bookAsis(1, "b-two"), t0 + 600000),
        topic(Registry.member, Direction.TobeToAsis) ->
          env("TOBE_USER", "TB_MEMBER", "u", memberTobe(200, "bob2"), t0 + 600000))
      q.processAllAvailable()
      assert(store.snapshot("TB_BOOK", null).head().getAs[String]("TITLE") == "b-two")
      assert(store.snapshot("MEMBER_INFO", null).head().getAs[String]("MEMBER_NAME") == "bob2")
      assert(store.currentMeta("TB_LEGACY_CODE") == legacyMetaBefore,
        "idle topics' epoch markers must not move")

      // ---- round 3: a same-hash echo within the loop window is
      // blocked by the SHARED state operator (keys embed the table, so
      // cross-topic isolation holds; suppression works as per-query)
      mem.addData(
        topic(Registry.book, Direction.AsisToTobe) ->
          env("ASIS_USER", "BOOK_INFO", "u", bookAsis(1, "b-two"), t0 + 660000))
      q.processAllAvailable()
      assert(store.snapshot("TB_BOOK", null).head().getAs[String]("TITLE") == "b-two")

      val audit = store.audit()
        .select($"direction", $"table_name", $"status")
        .as[(String, String, String)].collect()
      val byTable = audit.groupBy(t => (t._1, t._2)).view
        .mapValues(_.map(_._3).sorted.toSeq).toMap
      assert(byTable(("ASIS_TO_TOBE", "TB_BOOK")) ==
        Seq("LOOP_BLOCKED", "SUCCESS", "SUCCESS"))
      assert(byTable(("TOBE_TO_ASIS", "BOOK_INFO")) == Seq("SUCCESS"))
      assert(byTable(("ASIS_TO_TOBE", "TB_MEMBER")) == Seq("SUCCESS"))
      assert(byTable(("TOBE_TO_ASIS", "MEMBER_INFO")) == Seq("SUCCESS", "SUCCESS"))
      assert(byTable(("ASIS_TO_TOBE", "TB_LEGACY_CODE")) == Seq("SUCCESS"))
      assert(byTable(("TOBE_TO_ASIS", "NEW_SERVICE_RECV")) == Seq("SUCCESS"))
      assert(audit.length == 9, s"no stray audit rows, got ${audit.toSeq}")

      // ---- round 4: a Debezium MicroTimestamp keeps its microseconds
      // on the way from the union to the apply
      mem.addData(
        topic(Registry.book, Direction.AsisToTobe) ->
          env("ASIS_USER", "BOOK_INFO", "c",
            bookAsis(3, "b-three", regDate = 1768284000123456L), t0 + 720000))
      q.processAllAvailable()
      val created = store.snapshot("TB_BOOK", null).filter($"BOOK_ID" === 3).head()
        .getAs[java.sql.Timestamp]("CREATED_AT")
      assert(created.getNanos == 123456000, s"CREATED_AT lost precision: $created")
    } finally q.stop()
  }

  test("start leaves the caller's session settings as they were; the query keeps its own") {
    val dir = Files.createTempDirectory("graft-mux-conf").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val width = "spark.sql.shuffle.partitions"
    val saved = Seq(provider, changelog, width).map(k => k -> spark.conf.getOption(k))
    spark.conf.unset(provider)
    spark.conf.set(changelog, "false")
    val before = saved.map { case (k, _) => spark.conf.getOption(k) }
    val mem = MemoryStream[(String, String)](spark)
    val q = new MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
      .start(mem.toDF().toDF("topic", "value"),
        Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")
    try {
      assert(saved.map { case (k, _) => spark.conf.getOption(k) } == before,
        "start must restore the caller's settings")
      mem.addData(Registry.topicFor(Direction.AsisToTobe, Registry.book) ->
        env("ASIS_USER", "BOOK_INFO", "c", bookAsis(1, "b-one"), t0))
      q.processAllAvailable()
      assert(store.snapshot("TB_BOOK", null).count() == 1)
      val op = q.recentProgress.filter(_.numInputRows > 0).last.stateOperators(0)
      assert(op.numShufflePartitions == MultiplexedSyncPipeline.shufflePartitions)
      assert(op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
        s"the query must run on the RocksDB provider: ${op.customMetrics.keySet}")
    } finally {
      q.stop()
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("a six-pair data batch plans no broadcast: code maps are literal lookups") {
    val dir = Files.createTempDirectory("graft-mux-plan").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getOption(noData)
    val mem = MemoryStream[(String, String)](spark)
    // no watermark-advance batch after the data batch, so the query's
    // last execution is the data batch's
    spark.conf.set(noData, "false")
    val q = try {
      new MultiplexedSyncPipeline(spark, store,
        trigger = Trigger.ProcessingTime("0 seconds"))
        .start(mem.toDF().toDF("topic", "value"), allPairs, s"$dir/ckpt")
    } finally saved match {
      case Some(v) => spark.conf.set(noData, v)
      case None => spark.conf.unset(noData)
    }
    try {
      mem.addData(oneInsertPerTopic)
      q.processAllAvailable()
      assert(store.snapshot("TB_BOOK", null).head().getAs[String]("CATEGORY_CD") == "LIT")
      val last = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq ==
        Seq(last.currentBatchId), "the last execution is the one data batch")
      val plan = last.executedPlan
      val broadcasts = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(broadcasts.isEmpty, s"the data batch plans broadcasts:\n$plan")
    } finally q.stop()
  }

  test("a crash at each sink commit point restarts to the uncrashed run's tables and audit") {
    val min = 60000L
    def topic(m: TableMapping, d: Direction.Value) = Registry.topicFor(d, m)
    val (a2t, t2a) = (Direction.AsisToTobe, Direction.TobeToAsis)
    val batches: Seq[Seq[(String, String)]] = Seq(
      oneInsertPerTopic,
      Seq( // an upsert (INSERT on pk 1) and a TARGET_NOT_FOUND (no member 77)
        topic(Registry.book, a2t) ->
          env("ASIS_USER", "BOOK_INFO", "c", bookAsis(1, "b-upsert"), t0 + min),
        topic(Registry.member, a2t) ->
          env("ASIS_USER", "MEMBER_INFO", "u", memberAsis(77, "ghost"), t0 + min),
        topic(Registry.book, t2a) ->
          env("TOBE_USER", "TB_BOOK", "u", bookTobe(100, "b-hundred-2"), t0 + min),
        topic(Registry.member, t2a) ->
          env("TOBE_USER", "TB_MEMBER", "d", memberTobe(200, "bob"), t0 + min),
        topic(Registry.legacyCode, a2t) ->
          env("ASIS_USER", "LEGACY_CODE", "u", legacyAsis("C1", "code-one-2"), t0 + min),
        topic(Registry.newService, t2a) ->
          env("TOBE_USER", "TB_NEW_SERVICE", "c", svcTobe(301, "svc-2"), t0 + min)),
      Seq( // the upsert's echo, blocked; every topic has events
        topic(Registry.book, a2t) ->
          env("ASIS_USER", "BOOK_INFO", "c", bookAsis(1, "b-upsert"), t0 + 2 * min),
        topic(Registry.book, t2a) ->
          env("TOBE_USER", "TB_BOOK", "c", bookTobe(101, "b-101"), t0 + 2 * min),
        topic(Registry.member, a2t) ->
          env("ASIS_USER", "MEMBER_INFO", "c", memberAsis(3, "carol"), t0 + 2 * min),
        topic(Registry.member, t2a) ->
          env("TOBE_USER", "TB_MEMBER", "c", memberTobe(201, "dave"), t0 + 2 * min),
        topic(Registry.legacyCode, a2t) ->
          env("ASIS_USER", "LEGACY_CODE", "c", legacyAsis("C2", "code-two"), t0 + 2 * min),
        topic(Registry.newService, t2a) ->
          env("TOBE_USER", "TB_NEW_SERVICE", "u", svcTobe(300, "svc-renamed"), t0 + 2 * min)))
    // the sink finalizes tables in pair order
    val tables = allPairs.map { case (m, d) => m.targetFor(d).table }
    // columns stamped with the wall clock (ROADMAP item 2): they differ
    // between any two runs
    val wallClock = Map("TB_MEMBER" -> Seq("CREATED_AT", "UPDATED_AT"),
      "TB_BOOK" -> Seq("CREATED_AT"), "TB_LEGACY_CODE" -> Seq("CREATED_AT"))

    def query(dir: String) = {
      val store = new SnapshotStore(spark, s"$dir/store")
      val pipeline = new MultiplexedSyncPipeline(spark, store,
        trigger = Trigger.ProcessingTime("0 seconds"))
      val mem = MemoryStream[(String, String)](spark)
      val source = mem.toDF().toDF("topic", "value")
      (store, mem, () => pipeline.start(source, allPairs, s"$dir/ckpt"))
    }
    def tablesOf(store: SnapshotStore): Map[String, Seq[String]] = tables.map { t =>
      t -> store.snapshot(t, null).drop(wallClock.getOrElse(t, Nil): _*)
        .collect().map(_.toString).toSeq.sorted
    }.toMap
    def auditOf(store: SnapshotStore): Seq[String] = store.audit()
      .drop("log_time", "log_date", "change_hash").collect().map(_.toString).toSeq.sorted

    // the uncrashed run
    val clean = Files.createTempDirectory("graft-mux-clean").toString
    val (cleanStore, cleanMem, cleanStart) = query(clean)
    val cq = cleanStart()
    try batches.foreach { b => cleanMem.addData(b); cq.processAllAvailable() }
    finally cq.stop()
    val statuses = cleanStore.audit().select($"status", $"upsert_converted")
      .as[(String, Boolean)].collect().toSet
    assert(Set(("LOOP_BLOCKED", false), ("TARGET_NOT_FOUND", false), ("SUCCESS", true))
      .subsetOf(statuses), s"the events must cover every status: $statuses")

    // the crashed run: each batch meets one fault, a path squatted on
    // the store's file system, and the query restarts from its
    // checkpoint once the squat is gone
    val dir = Files.createTempDirectory("graft-mux-crash").toString
    val (store, mem, start) = query(dir)
    def versions = tables.map(store.currentVersion)
    def crashAndRestart(batch: Seq[(String, String)], squats: Seq[java.io.File],
        mkSquat: java.io.File => Unit)(check: => Unit): Unit = {
      squats.foreach(mkSquat)
      val q = start()
      try {
        mem.addData(batch)
        val e = intercept[StreamingQueryException](q.processAllAvailable())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => squats.exists(f => String.valueOf(c.getMessage).contains(f.getName))),
          s"the query must fail on a squat at $squats: $e")
        check
      } finally q.stop()
      squats.foreach(org.apache.commons.io.FileUtils.forceDelete)
      val r = start()
      try r.processAllAvailable() finally r.stop()
    }
    def file(f: java.io.File): Unit = { f.getParentFile.mkdirs(); f.createNewFile(); () }
    val audit = new java.io.File(s"$dir/store/_audit")

    // (c) between the last finalize and the publish: the epoch's date
    // partition is a file (the next date's too, should the epoch cross
    // midnight), so the publish's mkdirs fails
    val day = java.time.LocalDate.now(
      java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
    crashAndRestart(batches(0),
      Seq(day, day.plusDays(1)).map(d => new java.io.File(audit, s"log_date=$d")), file) {
      assert(versions.forall(_ == 1), s"every table finalized: $versions")
      assert(new java.io.File(audit, ".epochs").list().length == 1, "the epoch is staged")
    }

    // (a) before any finalize: the audit staging root is a file
    val before = versions
    val epochs = new java.io.File(audit, ".epochs")
    assert(epochs.list().isEmpty, "a published epoch leaves no staging dir")
    epochs.delete()
    crashAndRestart(batches(1), Seq(epochs), file) {
      assert(versions == before, "no table finalized")
    }

    // (b) after 3 of 6 tables are finalized: the 4th table's pointer
    // tmp file is a directory, so its flip fails
    val k = 3
    val mid = versions
    crashAndRestart(batches(2), Seq(new java.io.File(s"$dir/store/${tables(k)}/_current.tmp")),
      d => { d.mkdirs(); () }) {
      assert(versions.zip(mid).map { case (v, m) => v - m } ==
        Seq.fill(k)(1) ++ Seq.fill(tables.size - k)(0), s"$k tables finalized: $versions")
    }

    assert(tablesOf(store) == tablesOf(cleanStore))
    assert(auditOf(store) == auditOf(cleanStore))
  }
}
