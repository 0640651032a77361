package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The transformWithState loop dedup (RocksDB state store provider):
  * through the sync query across AvailableNow restarts over a file
  * source, so every step also proves the keyed state reloads from the
  * checkpoint; the operator alone under a short TTL; and the operator
  * with no-data micro-batches on and off.
  */
class TwsDedupSpec extends SparkSpec {
  import spark.implicits._

  test("transformWithState dedup: echo blocked, update applies") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("graft-tws").toString
      val in = new java.io.File(s"$dir/in"); in.mkdirs()
      val store = new SnapshotStore(spark, s"$dir/store")
      val pipeline = new MultiplexedSyncPipeline(spark, store, trigger = Trigger.AvailableNow())
      def run(): Unit = {
        val q = pipeline.start(
          StreamSources.jsonLineFiles(spark, in.toString, "asis.ASIS_USER.BOOK_INFO"),
          Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")
        q.awaitTermination(120000); ()
      }
      val t0 = 1768284000000L
      def env(op: String, title: String, tsMs: Long): String =
        s"""{"payload":{"op":"$op","before":null,"after":{"BOOK_ID":"9","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$t0,"MOD_DATE":null},"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$tsMs}}"""

      Files.write(new java.io.File(in, "f1.jsonl").toPath, env("c", "v1", t0).getBytes)
      run()
      assert(store.snapshot("TB_BOOK", null).count() == 1)

      // echo within the 5-min window (state reloaded from checkpoint)
      Files.write(new java.io.File(in, "f2.jsonl").toPath, env("c", "v1", t0 + 60000).getBytes)
      run()
      assert(store.audit().filter($"status" === "LOOP_BLOCKED").count() == 1)

      // real change applies
      Files.write(new java.io.File(in, "f3.jsonl").toPath, env("u", "v2", t0 + 120000).getBytes)
      run()
      assert(store.snapshot("TB_BOOK", null).head().getAs[String]("TITLE") == "v2")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("TTL eviction (ST3): watermark past the TTL evicts state, echo applies again") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = Files.createTempDirectory("graft-tws-ttl").toString
      val input = MemoryStream[(String, java.sql.Timestamp)](spark)
      // short event-time TTL, zero watermark delay: the per-key timer
      // fires once the watermark passes last-applied + TTL
      val q = LoopDedupTws(
          input.toDF().toDF("change_hash", "event_ts")
            .withWatermark("event_ts", "0 seconds"),
          ttlMs = 2000L)
        .writeStream
        .format("memory")
        .queryName("tws_ttl_eviction")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try {
        val t0 = 1768284000000L
        def send(hash: String, tsMs: Long): Unit = {
          input.addData(Seq((hash, new java.sql.Timestamp(tsMs))))
          q.processAllAvailable()
        }
        send("h7", t0)
        // advance the watermark well past t0 + TTL so the h7 timer fires
        send("h8", t0 + 10000)
        send("h8b", t0 + 20000)
        // h7 echo INSIDE the 5-min window: blocked if state survived,
        // applied because the TTL timer evicted it
        send("h7", t0 + 30000)
        val out = spark.table("tws_ttl_eviction")
          .select($"change_hash", $"event_ts", $"loop_blocked")
          .as[(String, java.sql.Timestamp, Boolean)].collect()
        assert(out.length == 4, s"every event is emitted: ${out.toSeq}")
        val echo = out.filter(r => r._1 == "h7" && r._2.getTime == t0 + 30000)
        assert(echo.map(_._3).toSeq == Seq(false),
          s"the h7 echo after eviction must apply: ${out.toSeq}")
        assert(!out.exists(_._3), s"nothing is blocked: ${out.toSeq}")
      } finally q.stop()
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("no-data batches change no decision: same rows and drops with them on or off") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val (t0, min) = (1768284000000L, 60000L)
    // h1; h2 25 min later, so h1's TTL timer (t0 + 10 min) falls due;
    // h1 again; h2's echo inside its 5-min window; then h3 at t0 + 3 min,
    // behind the 10-minute watermark
    val events = Seq("h1" -> 0L, "h2" -> 25 * min, "h1" -> 26 * min,
      "h2" -> 27 * min, "h3" -> 3 * min)
    /** (emitted rows, rows dropped by watermark, no-data batches run) */
    def run(noDataBatches: Boolean): (Seq[(String, Long, Boolean)], Long, Int) = {
      val ckpt = Files.createTempDirectory("graft-tws-nodata").toString
      val name = s"tws_nodata_$noDataBatches"
      val input = MemoryStream[(String, java.sql.Timestamp)](spark)
      val saved = Seq(provider, noData).map(k => k -> spark.conf.getOption(k))
      spark.conf.set(provider,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(noData, noDataBatches.toString)
      val q = try {
        LoopDedupTws(input.toDF().toDF("change_hash", "event_ts")
            .withWatermark("event_ts", "10 minutes"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode("append").start()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      try {
        events.foreach { case (h, dt) =>
          input.addData(Seq((h, new java.sql.Timestamp(t0 + dt))))
          q.processAllAvailable()
        }
        val rows = spark.table(name)
          .select($"change_hash", $"event_ts", $"loop_blocked")
          .as[(String, java.sql.Timestamp, Boolean)].collect()
          .map(r => (r._1, r._2.getTime - t0, r._3)).toSeq.sorted
        val dropped = q.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum
        val dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).distinct
        val batches = new java.io.File(ckpt, "commits").list().count(_.forall(_.isDigit))
        (rows, dropped, batches - dataBatches.length)
      } finally q.stop()
    }
    val (rowsOn, droppedOn, noDataOn) = run(noDataBatches = true)
    val (rowsOff, droppedOff, noDataOff) = run(noDataBatches = false)
    assert(rowsOn == Seq(("h1", 0L, false), ("h1", 26 * min, false),
      ("h2", 25 * min, false), ("h2", 27 * min, true)), s"rows: $rowsOn")
    assert(rowsOff == rowsOn)
    assert(droppedOn == 1L && droppedOff == 1L, s"dropped: $droppedOn / $droppedOff")
    assert(noDataOn >= 1, "the first run must run a no-data batch")
    assert(noDataOff == 0, s"the second run ran $noDataOff no-data batches")
  }
}
