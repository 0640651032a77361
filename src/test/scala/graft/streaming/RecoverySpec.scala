package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** ST9: checkpointed restart. The query stops and restarts from its
  * checkpoint; previously-processed files are not re-applied and the
  * loop-prevention keyed state SURVIVES the restart (an echo arriving
  * after recovery is still blocked).
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  private def env(id: Int, title: String, tsMs: Long, reg: Long): String =
    s"""{"payload":{"op":"c","before":null,"after":{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$reg,"MOD_DATE":null},"source":{"schema":"ASIS_USER","table":"BOOK_INFO"},"ts_ms":$tsMs}}"""

  test("restart from checkpoint: no reprocessing, dedup state survives") {
    val dir = Files.createTempDirectory("graft-recover").toString
    val in = new java.io.File(s"$dir/in"); in.mkdirs()
    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store, trigger = Trigger.AvailableNow())
    def start() = pipeline.start(
      StreamSources.jsonLineFiles(spark, in.toString, "asis.ASIS_USER.BOOK_INFO"),
      Seq((Registry.book, Direction.AsisToTobe)), s"$dir/ckpt")

    val t0 = 1768284000000L
    Files.write(new java.io.File(in, "f1.jsonl").toPath,
      env(1, "first", t0, t0).getBytes)
    val q1 = start(); q1.awaitTermination(60000)
    assert(store.audit().count() == 1)
    val v1 = store.currentVersion("TB_BOOK")

    // restart #1: nothing new → no reprocessing of f1
    val q2 = start(); q2.awaitTermination(60000)
    assert(store.audit().count() == 1)

    // restart #2 with an echo of the first event (same post-transform
    // hash, 1 min later) → keyed state recovered from checkpoint blocks it
    Files.write(new java.io.File(in, "f2.jsonl").toPath,
      env(1, "first", t0 + 60000, t0).getBytes)
    val q3 = start(); q3.awaitTermination(60000)
    val audit = store.audit()
    assert(audit.count() == 2)
    assert(audit.filter($"status" === "LOOP_BLOCKED").count() == 1)
    assert(store.snapshot("TB_BOOK", null).count() == 1)

    // time travel: v1 and current agree (echo applied nothing)
    assert(store.snapshotAt("TB_BOOK", v1).head().getAs[String]("TITLE") == "first")
  }
}
