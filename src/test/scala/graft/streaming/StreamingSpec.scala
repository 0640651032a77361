package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val regMs = 1768280000000L // fixed REG_DATE so echoes hash identically

  private def envelope(op: String, id: Int, title: String, tsMs: Long,
      category: String = "01", status: String = "Y"): String = {
    val img =
      s"""{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"$category",
         |"STATUS":"$status","REG_DATE":$regMs,"MOD_DATE":null}""".stripMargin.replaceAll("\n", "")
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,
       |"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$tsMs}}""".stripMargin.replaceAll("\n", "")
  }

  test("end-to-end sync: insert, echo loop-block, update, delete, audit") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))

    val mem = MemoryStream[String](spark)
    val source = mem.toDF().withColumn("topic", lit("asis.ASIS_USER.BOOK_INFO"))

    val q = pipeline.start(source, Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")
    val t0 = 1768284000000L // 2026-01-13

    // batch 1: insert
    mem.addData(envelope("c", 1, "title-v1", t0))
    q.processAllAvailable()
    val snap1 = store.snapshot("TB_BOOK", null)
    assert(snap1.count() == 1)
    assert(snap1.head().getAs[String]("TITLE") == "title-v1")
    assert(snap1.head().getAs[String]("CATEGORY_CD") == "LIT")

    // batch 2: identical echo 1 min later → same post-transform hash,
    // inside 5-min window ⇒ LOOP_BLOCKED, not applied
    mem.addData(envelope("c", 1, "title-v1", t0 + 60000))
    q.processAllAvailable()
    assert(store.audit().filter($"status" === "LOOP_BLOCKED").count() == 1)
    assert(store.snapshot("TB_BOOK", null).count() == 1)

    // batch 3: real update (different hash) applies
    mem.addData(envelope("u", 1, "title-v2", t0 + 120000))
    q.processAllAvailable()
    assert(store.snapshot("TB_BOOK", null).head().getAs[String]("TITLE") == "title-v2")

    // batch 4: delete removes; update on missing pk → TARGET_NOT_FOUND
    mem.addData(envelope("d", 1, "title-v2", t0 + 180000))
    q.processAllAvailable()
    mem.addData(envelope("u", 99, "ghost", t0 + 240000))
    q.processAllAvailable()
    q.stop()

    assert(store.snapshot("TB_BOOK", null).count() == 0)
    val audit = store.audit()
    assert(audit.filter($"status" === "TARGET_NOT_FOUND").count() == 1)
    assert(audit.filter($"status" === "SUCCESS").count() == 3) // c, u, d
    // monitoring over the audit stream
    val g = Monitoring.globalCounters(audit).head()
    assert(g.getAs[Long]("total_received") == 5)
    assert(g.getAs[Long]("total_success") == 3)
    val stats = Monitoring.tableStats(audit).head()
    assert(stats.getAs[String]("table_name") == "TB_BOOK")
    assert(stats.getAs[Long]("loop_blocked") == 1)
  }

  test("loop window expires: same hash after 5 minutes applies again") {
    val dir = Files.createTempDirectory("graft-stream2").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val mem = MemoryStream[String](spark)
    val source = mem.toDF()
      .withColumn("topic", lit("asis.ASIS_USER.BOOK_INFO"))
    val q = pipeline.start(source, Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")
    val t0 = 1768284000000L

    mem.addData(envelope("c", 7, "x", t0))
    q.processAllAvailable()
    // 4 minutes later: inside the window ⇒ blocked, and a suppressed
    // echo does NOT record its hash (the window stays anchored at t0)
    mem.addData(envelope("c", 7, "x", t0 + 240000))
    q.processAllAvailable()
    // 6 minutes after t0 (2 after the echo): outside t0's 5-min window
    // ⇒ applies (upsert); blocked if the echo had refreshed the window
    mem.addData(envelope("c", 7, "x", t0 + 360000))
    q.processAllAvailable()
    q.stop()
    assert(store.audit().filter($"status" === "LOOP_BLOCKED").count() == 1)
    assert(store.audit().filter($"status" === "SUCCESS").count() == 2)
  }

  test("bidirectional routing: TOBE events go to the ASIS table") {
    val dir = Files.createTempDirectory("graft-stream3").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
    val tobeEnv =
      """{"payload":{"op":"c","before":null,
        |"after":{"BOOK_ID":"5","TITLE":"t5","AUTHOR_NAME":"an","CATEGORY_CD":"SCI","IS_ACTIVE":"1","CREATED_AT":1768284000000,"UPDATED_AT":null,"CREATED_BY":"app","UPDATED_BY":"app"},
        |"source":{"schema":"TOBE_USER","table":"TB_BOOK"},"ts_ms":1768284000000}}""".stripMargin.replaceAll("\n", "")
    val mem = MemoryStream[String](spark)
    val source = mem.toDF().withColumn("topic", lit("tobe.TOBE_USER.TB_BOOK"))
    val q = pipeline.start(source, Seq((Registry.book, Direction.TobeToAsis)), s"$dir/ckpt")
    mem.addData(tobeEnv)
    q.processAllAvailable()
    q.stop()
    val snap = store.snapshot("BOOK_INFO", null)
    val r = snap.head()
    assert(r.getAs[String]("BOOK_TITLE") == "t5")
    assert(r.getAs[String]("CATEGORY") == "02") // SCI → 02
    assert(r.getAs[String]("STATUS") == "Y")
  }
}
