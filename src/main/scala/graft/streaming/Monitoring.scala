package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Monitoring surface (SURVEY.md §2.5 A1–A4) over the audit stream —
  * the reference keeps these as in-memory AtomicLongs / ConcurrentHashMap
  * ring buffers (`CdcMonitoringService.java:30-47`); here they are plain
  * aggregations over the audit table, usable both in batch and as
  * streaming aggregations (same expressions).
  */
object Monitoring {

  /** A1+A2: global totals and success rate. */
  def globalCounters(audit: DataFrame): DataFrame =
    audit.agg(
      count(lit(1)).as("total_received"),
      count(when(col("status") === "SUCCESS", 1)).as("total_success"),
      count(when(col("status") =!= "SUCCESS", 1)).as("total_failed"))
      .withColumn("success_rate",
        when(col("total_received") > 0,
          round(col("total_success").cast("double") / col("total_received") * 100, 2))
          .otherwise(0.0))

  /** A3: per-table stats with last success/error timestamps. */
  def tableStats(audit: DataFrame): DataFrame =
    audit.groupBy(col("direction"), col("table_name"))
      .agg(
        count(lit(1)).as("received"),
        count(when(col("status") === "SUCCESS", 1)).as("success"),
        count(when(col("status") === "LOOP_BLOCKED", 1)).as("loop_blocked"),
        count(when(col("status") === "TARGET_NOT_FOUND", 1)).as("target_not_found"),
        max(when(col("status") === "SUCCESS", col("log_time"))).as("last_success_at"),
        max(when(col("status") =!= "SUCCESS", col("log_time"))).as("last_error_at"))

  /** A4: newest-first bounded ring buffer (50 events / 100 errors). */
  def recent(audit: DataFrame, n: Int, errorsOnly: Boolean = false): DataFrame = {
    val src = if (errorsOnly) audit.filter(col("status") =!= "SUCCESS") else audit
    src.orderBy(col("log_time").desc).limit(n)
  }

  /** A4 at scale: bound the scan by the audit store's `log_date`
    * partition column before the top-K, so the parquet scan prunes to
    * the queried days instead of reading the whole append-forever log.
    */
  def recentSince(audit: DataFrame, n: Int, since: java.sql.Date,
      errorsOnly: Boolean = false): DataFrame =
    recent(audit.filter(col("log_date") >= lit(since)), n, errorsOnly)
}
