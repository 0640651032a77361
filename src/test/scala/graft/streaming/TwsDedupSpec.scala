package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The transformWithState loop dedup (RocksDB state store provider):
  * through the sync query across AvailableNow restarts over a file
  * source, so every step also proves the keyed state reloads from the
  * checkpoint; and the operator alone under a short TTL.
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
}
