package graft.streaming

import graft.SparkSpec
import java.nio.file.Files

/** S8: the five inspection endpoints run over a seeded store and
  * return exactly what the reference controller's SQL would
  * (`SimulatorController.java:66-297`): pk-ordered 20-row data page,
  * seq-descending CDC/staging pages, newest-50 merged sync log with
  * LIKE filter, and the status breakdown.
  */
class DashboardSpec extends SparkSpec {
  import spark.implicits._

  test("five inspection endpoints over the store match their SQL contracts") {
    val dir = Files.createTempDirectory("graft-dash").toString
    val store = new SnapshotStore(spark, dir)

    // seed a synced table snapshot (25 rows → data page caps at 20)
    store.commit("TB_BOOK", (1 to 25).map(i =>
      (i.toLong, s"title-$i", "a")).toDF("BOOK_ID", "TITLE", "AUTHOR_NAME"))

    // seed audit rows: 60 across two tables (sync-log page caps at 50)
    val t0 = 1768284000000L
    store.appendAudit((1 to 60).map { i =>
      ("ASIS_TO_TOBE", if (i % 3 == 0) "TB_MEMBER" else "TB_BOOK", "INSERT",
        i.toString, if (i % 5 == 0) "LOOP_BLOCKED" else "SUCCESS", false,
        null: String, s"h$i", new java.sql.Timestamp(t0 + i * 1000L))
    }.toDF("direction", "table_name", "operation", "pk_value", "status",
      "upsert_converted", "error_code", "change_hash", "log_time"))

    Dashboard.registerViews(spark, store, Seq("TB_BOOK"))
    // CDC / staging views over seeded change feeds
    (1 to 30).map(i => (i.toLong, "INSERT", s"payload-$i"))
      .toDF("CDC_SEQ", "OPERATION", "DATA").createOrReplaceTempView("CDC_BOOK")
    (1 to 5).map(i => (i.toLong, s"stage-$i"))
      .toDF("STAGING_SEQ", "DATA").createOrReplaceTempView("STG_BOOK")

    // 1. data: configured columns only, pk-ordered, 20-row page
    val data = Dashboard.data(spark, "TB_BOOK", "BOOK_ID", Seq("BOOK_ID", "TITLE")).collect()
    assert(data.length == 20)
    assert(data.head.getLong(0) == 1L && data.last.getLong(0) == 20L)
    assert(data.head.schema.fieldNames.toSeq == Seq("BOOK_ID", "TITLE"))

    // 2. cdc: newest first by CDC_SEQ, capped at 20
    val cdc = Dashboard.cdcData(spark, "CDC_BOOK").collect()
    assert(cdc.length == 20 && cdc.head.getLong(0) == 30L)

    // 3. staging: newest first by STAGING_SEQ, under the cap
    val stg = Dashboard.stagingData(spark, "STG_BOOK").collect()
    assert(stg.length == 5 && stg.head.getLong(0) == 5L)

    // 4. sync-log: newest 50 of 60; LIKE filter narrows to one table
    val log = Dashboard.syncLog(spark).collect()
    assert(log.length == 50)
    val times = log.map(_.getAs[java.sql.Timestamp]("log_time").getTime)
    assert(times.zip(times.tail).forall { case (a, b) => a >= b })
    val member = Dashboard.syncLog(spark, Some("member")).collect()
    assert(member.nonEmpty && member.forall(_.getAs[String]("table_name") == "TB_MEMBER"))
    // the filter is data, not SQL: a quote neither breaks the parse nor
    // rewrites the predicate into one that matches every row
    for (quoted <- Seq("o'brien", "x' OR '1'='1")) {
      assert(Dashboard.syncLog(spark, Some(quoted)).collect().isEmpty, quoted)
      assert(Dashboard.stats(spark, Some(quoted)).collect().isEmpty, quoted)
    }

    // 5. stats: status breakdown (60 rows: every 5th LOOP_BLOCKED)
    val stats = Dashboard.stats(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("LOOP_BLOCKED" -> 12L, "SUCCESS" -> 48L))
    val statsF = Dashboard.stats(spark, Some("member")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statsF.values.sum == 20L)

    // the pages plan as TakeOrderedAndProject (bounded top-K, no full sort)
    for (filter <- Seq(None, Some("member"))) {
      val plan = Dashboard.syncLog(spark, filter).queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), filter)
    }
  }

  test("a table that has not synced yet serves empty pages with its columns") {
    val store = new SnapshotStore(spark, Files.createTempDirectory("graft-dash").toString)
    val book = graft.cdc.Registry.book.tobe
    Dashboard.registerViews(spark, store, Seq(book.table))
    val cols = book.columnNames
    val data = Dashboard.data(spark, book.table, book.pk, cols)
    val cdc = Dashboard.cdcData(spark, book.table, book.pk)
    val staging = Dashboard.stagingData(spark, book.table, book.pk)
    for (page <- Seq(data, cdc, staging)) {
      assert(page.collect().isEmpty)
      assert(page.columns.toSeq == cols)
    }
    // without a schema an unsynced table has no layout: a clear refusal
    val e = intercept[IllegalArgumentException](store.snapshotAt(book.table, 0, null))
    assert(e.getMessage.contains(book.table))
  }

  test("an empty audit log still has its columns: pages and stats return no rows") {
    val store = new SnapshotStore(spark, Files.createTempDirectory("graft-dash").toString)
    Dashboard.registerViews(spark, store, Seq.empty)
    assert(Dashboard.syncLog(spark).collect().isEmpty)
    assert(Dashboard.syncLog(spark, Some("book")).collect().isEmpty)
    assert(Dashboard.stats(spark).collect().isEmpty)
    val a = store.audit()
    val stats = Monitoring.tableStats(a)
    assert(stats.collect().isEmpty)
    assert(stats.columns.toSeq == Seq("direction", "table_name", "received", "success",
      "loop_blocked", "target_not_found", "last_success_at", "last_error_at"))
    val recent = Monitoring.recentSince(a, 50, java.sql.Date.valueOf("2026-01-13"))
    assert(recent.collect().isEmpty)
    assert(recent.columns.toSeq == SnapshotStore.auditSchema.fieldNames.toSeq)
  }
}
