package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The transformWithState loop dedup across query restarts (RocksDB
  * state store provider): AvailableNow restarts over a file source, so
  * every step also proves the keyed state reloads from the checkpoint.
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
    try {
      val dir = Files.createTempDirectory("graft-tws-ttl").toString
      val in = new java.io.File(s"$dir/in"); in.mkdirs()
      val store = new SnapshotStore(spark, s"$dir/store")
      // short event-time TTL, zero watermark delay: the per-key timer
      // fires once the watermark passes last-applied + TTL
      val pipeline = new MultiplexedSyncPipeline(spark, store,
        trigger = Trigger.AvailableNow(), watermarkDelay = "0 seconds",
        loopTtlMs = 2000)
      def run(): Unit = {
        val q = pipeline.start(
          StreamSources.jsonLineFiles(spark, in.toString, "asis.ASIS_USER.BOOK_INFO"),
          Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")
        q.awaitTermination(120000); ()
      }
      val t0 = 1768284000000L
      def env(id: Int, title: String, tsMs: Long): String =
        s"""{"payload":{"op":"c","before":null,"after":{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$t0,"MOD_DATE":null},"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$tsMs}}"""

      Files.write(new java.io.File(in, "g1.jsonl").toPath, env(7, "v1", t0).getBytes)
      run()
      // advance the watermark well past t0 + TTL so the id-7 timer fires
      Files.write(new java.io.File(in, "g2.jsonl").toPath, env(8, "other", t0 + 10000).getBytes)
      run()
      Files.write(new java.io.File(in, "g3.jsonl").toPath, env(8, "other2", t0 + 20000).getBytes)
      run()
      // id-7 echo INSIDE the 5-min window: blocked if state survived,
      // applied because the TTL timer evicted it
      Files.write(new java.io.File(in, "g4.jsonl").toPath, env(7, "v1", t0 + 30000).getBytes)
      run()
      assert(store.audit().filter($"status" === "LOOP_BLOCKED").count() == 0)
      assert(store.audit().filter($"status" === "SUCCESS").count() == 4)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
