package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Snapshot-mode lifecycle: a bulk initial load runs through the SAME
  * transform/apply path as streamed events, and the catch-up stream may
  * overlap the snapshot cut — replayed rows converge (upsert of equal
  * values), later updates win LWW, nothing duplicates.
  */
class BootstrapSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1768284000000L

  private def images(rows: (Int, String)*) =
    rows.toDF("id", "title").select(
      col("id").cast("string").as("BOOK_ID"),
      col("title").as("BOOK_TITLE"),
      lit("a").as("AUTHOR"),
      lit("01").as("CATEGORY"),
      lit("Y").as("STATUS"),
      lit(t0).as("REG_DATE"),
      lit(null).cast("long").as("MOD_DATE"))

  private def env(op: String, id: Int, title: String, tsMs: Long): String = {
    val img = s"""{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$t0,"MOD_DATE":null}"""
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,""" +
      s""""source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$tsMs}}"""
  }

  test("initial load applies through the standard path; stream overlap converges") {
    val dir = Files.createTempDirectory("graft-bootstrap").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val mem = MemoryStream[String](spark)(spark.sqlContext.implicits.newStringEncoder)
    val source = mem.toDF().withColumn("topic", lit("asis.ASIS_USER.BOOK_INFO"))

    // snapshot cut at t0: three pre-existing books, then the catch-up
    // stream
    Bootstrap.initialLoad(new SyncPipeline(spark, store), Registry.book,
      Direction.AsisToTobe, images((1, "one"), (2, "two"), (3, "three")), t0)
    val q = new MultiplexedSyncPipeline(spark, store,
      trigger = Trigger.ProcessingTime("0 seconds"))
      .start(source, Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")
    try {
      val snap = store.snapshot("TB_BOOK", null)
      assert(snap.count() == 3)
      // full transform ran: code-map 01 -> LIT, Y -> 1
      val r1 = snap.filter(col("BOOK_ID") === 1).head()
      assert(r1.getAs[String]("TITLE") == "one")
      assert(r1.getAs[String]("CATEGORY_CD") == "LIT")
      assert(r1.getAs[java.math.BigDecimal]("IS_ACTIVE").intValueExact == 1)

      // catch-up stream REPLAYS book 1 from before the cut (identical
      // row, same ts), updates book 2 after the cut, inserts book 4
      mem.addData(
        env("c", 1, "one", t0),           // overlap: replayed snapshot row
        env("u", 2, "two-v2", t0 + 60000),
        env("c", 4, "four", t0 + 60000))
      q.processAllAvailable()

      val after = store.snapshot("TB_BOOK", null)
      assert(after.count() == 4, "replayed insert must not duplicate")
      assert(after.filter(col("BOOK_ID") === 1).head()
        .getAs[String]("TITLE") == "one")
      assert(after.filter(col("BOOK_ID") === 2).head()
        .getAs[String]("TITLE") == "two-v2", "post-cut update must win LWW")
      assert(after.filter(col("BOOK_ID") === 4).head()
        .getAs[String]("TITLE") == "four")

      // audit: 3 snapshot INSERTs (op 'r'), then the overlap insert
      // converted to upsert (SYNC_E_002), one update, one insert
      val audit = store.audit()
        .select($"pk_value", $"operation", $"status", $"error_code")
        .as[(String, String, String, Option[String])].collect()
      assert(audit.count(_._2 == "INSERT") == 5) // 3 snapshot + replay + book 4
      val replayRow = audit.filter(a =>
        new java.math.BigDecimal(a._1).intValueExact == 1 && a._4.contains("SYNC_E_002"))
      assert(replayRow.length == 1 && replayRow.head._3 == "SUCCESS",
        s"overlap insert must convert to upsert, audit=${audit.toSeq}")
    } finally q.stop()
  }
}
