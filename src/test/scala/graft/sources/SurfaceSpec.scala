package graft.sources

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import graft.streaming.{MultiplexedSyncPipeline, SnapshotStore, StreamSources}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class SurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("JDBC merge SQL covers insert, update and delete branches") {
    val sql = Jdbc.mergeSql("TB_BOOK", "STAGING_TOBE_BOOK", "BOOK_ID",
      Seq("TITLE", "AUTHOR_NAME"))
    assert(sql.contains("MERGE INTO TB_BOOK t"))
    assert(sql.contains("WHEN MATCHED AND s.OPERATION = 'DELETE' THEN DELETE"))
    assert(sql.contains("t.TITLE = s.TITLE"))
    assert(sql.contains("WHEN NOT MATCHED AND s.OPERATION <> 'DELETE' THEN INSERT (BOOK_ID, TITLE, AUTHOR_NAME)"))
  }

  test("uppercase column-name normalization (P11)") {
    val df = Seq((1, "a")).toDF("book_id", "book_title")
    assert(graft.cdc.Envelope.normalizeColumnNames(df).columns.toSeq ==
      Seq("BOOK_ID", "BOOK_TITLE"))
  }

  test("S5 file replay: envelope JSON lines stream through the full pipeline") {
    val dir = Files.createTempDirectory("graft-replay").toString
    val in = new java.io.File(s"$dir/in"); in.mkdirs()
    val env =
      """{"payload":{"op":"r","before":null,"after":{"BOOK_ID":"11","BOOK_TITLE":"replayed","AUTHOR":"a","CATEGORY":"02","STATUS":"Y","REG_DATE":1768284000000,"MOD_DATE":null},"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":1768284000000}}"""
    Files.write(new java.io.File(in, "replay.jsonl").toPath, env.getBytes)

    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store, trigger = Trigger.AvailableNow())
    val source = StreamSources.jsonLineFiles(spark, in.toString, "asis.ASIS_USER.BOOK_INFO")
    val q = pipeline.start(source, Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")
    q.awaitTermination(60000)

    val snap = store.snapshot("TB_BOOK", null)
    val r = snap.head()
    // snapshot-read op 'r' replays as INSERT with the full transform
    assert(r.getAs[String]("TITLE") == "replayed")
    assert(r.getAs[String]("CATEGORY_CD") == "SCI")
  }
}
