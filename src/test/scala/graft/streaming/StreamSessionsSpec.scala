package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class StreamSessionsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming session windows split on gap and close at the watermark") {
    val mem = MemoryStream[(Long, Timestamp)](spark)
    val src = mem.toDF().toDF("user_id", "ts")
    val out = StreamSessions.sessions(src, "user_id", "ts",
      gap = "30 minutes", watermark = "10 seconds")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap
      mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 12:10:00")))
      q.processAllAvailable()
      // watermark push: a far-future event closes everything prior
      mem.addData((2L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()

      val rows = spark.table("sess")
        .select($"user_id", $"start_ts", $"end_ts", $"n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      // session end = last event + gap (session_window semantics)
      assert(rows.contains((1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00"), 2L)))
      assert(rows.contains((1L, ts("2024-01-01 12:10:00"), ts("2024-01-01 12:40:00"), 1L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark passes each id once") {
    val mem = MemoryStream[(Long, Timestamp)](spark)
    val src = mem.toDF().toDF("event_id", "ts")
    val out = StreamSessions.dedupWithinWatermark(src, "event_id", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      // replays of id 1 within the horizon, plus a fresh id
      mem.addData((1L, ts("2024-01-01 10:05:00")), (3L, ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup").select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }
}
