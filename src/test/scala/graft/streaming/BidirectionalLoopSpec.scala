package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The reference's marquee scenario (C-13, docs/02-설계/02_무한루프_방지.md):
  * a change made in ASIS syncs to TOBE; the TOBE connector captures the
  * applied row and sends it back; the transformed echo re-enters the
  * ASIS→TOBE direction with the same post-transform hash and must be
  * LOOP_BLOCKED instead of ping-ponging forever.
  *
  * Both direction pipelines run against one store; the test plays the
  * Debezium connectors, emitting each applied row as the next hop's
  * envelope.
  */
class BidirectionalLoopSpec extends SparkSpec {
  import spark.implicits._

  test("C-13: three-hop echo is suppressed by the loop window") {
    val dir = Files.createTempDirectory("graft-bidi").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))

    val a2tMem = MemoryStream[String](spark)
    val t2aMem = MemoryStream[String](spark)
    val a2t = pipeline.start(a2tMem.toDF().withColumn("topic", lit("asis.ASIS_USER.BOOK_INFO")),
      Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt-a2t")
    val t2a = pipeline.start(t2aMem.toDF().withColumn("topic", lit("tobe.TOBE_USER.TB_BOOK")),
      Seq((Registry.book, Direction.TobeToAsis)), s"$dir/ckpt-t2a")
    def drain(): Unit = { a2t.processAllAvailable(); t2a.processAllAvailable() }

    val t0 = 1768284000000L

    // hop 1: user inserts BOOK 42 in ASIS → ASIS connector emits →
    // ASIS→TOBE applies to TB_BOOK
    a2tMem.addData(
      s"""{"payload":{"op":"c","before":null,"after":{"BOOK_ID":"42","BOOK_TITLE":"looped","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$t0,"MOD_DATE":null},"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$t0}}""")
    drain()
    val tobeRow = store.snapshot("TB_BOOK", null).head()
    assert(tobeRow.getAs[String]("TITLE") == "looped")

    // hop 2: TOBE connector captures the applied row → TOBE→ASIS applies
    // the reverse transform to BOOK_INFO
    val createdAtMs = tobeRow.getAs[java.sql.Timestamp]("CREATED_AT").getTime
    t2aMem.addData(
      s"""{"payload":{"op":"c","before":null,"after":{"BOOK_ID":"42","TITLE":"looped","AUTHOR_NAME":"a","CATEGORY_CD":"${tobeRow.getAs[String]("CATEGORY_CD")}","IS_ACTIVE":"1","CREATED_AT":$createdAtMs,"UPDATED_AT":null,"CREATED_BY":"SYNC","UPDATED_BY":"SYNC"},"source":{"schema":"TOBE_USER","table":"TB_BOOK"},"ts_ms":${t0 + 1000}}}""")
    drain()
    val asisRow = store.snapshot("BOOK_INFO", null).head()
    assert(asisRow.getAs[String]("BOOK_TITLE") == "looped")
    assert(asisRow.getAs[String]("CATEGORY") == "01") // mapped back

    // hop 3: ASIS connector captures the echo → ASIS→TOBE would re-apply
    // the exact original row: post-transform hash matches hop 1 within
    // the 5-minute window ⇒ LOOP_BLOCKED
    val regMs = asisRow.getAs[java.sql.Timestamp]("REG_DATE").getTime
    a2tMem.addData(
      s"""{"payload":{"op":"c","before":null,"after":{"BOOK_ID":"42","BOOK_TITLE":"looped","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$regMs,"MOD_DATE":null},"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":${t0 + 2000}}}""")
    drain()
    a2t.stop(); t2a.stop()

    val audit = store.audit()
    assert(audit.filter($"status" === "LOOP_BLOCKED").count() >= 1)
    assert(audit.filter($"status" === "LOOP_BLOCKED").head()
      .getAs[String]("error_code") == "SYNC_I_001")
    // the ping-pong stopped: TB_BOOK unchanged, exactly 1 row each side
    assert(store.snapshot("TB_BOOK", null).count() == 1)
    assert(store.snapshot("BOOK_INFO", null).count() == 1)
  }
}
