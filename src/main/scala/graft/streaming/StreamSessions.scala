package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming sessionization and watermark-bounded dedup — the
  * structured-streaming counterparts of `ops.Temporal.sessionize` and
  * the loop-dedup family.
  *
  * Scale: `session_window` is Spark's native session-state operator —
  * state is per (key, open-session) and merges on overlap, watermark
  * bounds it; append mode emits each session exactly once, when the
  * watermark passes its end. `dropDuplicatesWithinWatermark` keeps keys
  * only until the watermark clears them — bounded state without a
  * custom processor for the plain "same id replayed" case (the
  * hash-window LOOP variant with audit stays in LoopDedupTws).
  */
object StreamSessions {

  /** Event-time session windows per key: emits one row per CLOSED
    * session (append mode) with start/end/count. `gap` and `watermark`
    * are duration strings ("30 minutes").
    */
  def sessions(events: DataFrame, key: String, ts: String,
      gap: String, watermark: String): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(col(key), session_window(col(ts), gap).as("session"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(key),
        col("session.start").as("start_ts"),
        col("session.end").as("end_ts"),
        col("n_events"))

  /** Exactly-once-per-id pass-through with watermark-bounded state:
    * duplicates of `idCol` arriving within the watermark horizon are
    * dropped; state for an id is freed once the watermark passes it.
    */
  def dedupWithinWatermark(events: DataFrame, idCol: String, ts: String,
      watermark: String): DataFrame =
    events.withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark(idCol)
}
