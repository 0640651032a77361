package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming source surface (SURVEY.md §2.1 S1/S5).
  *
  * Every source is normalized to the kafka shape the pipeline consumes:
  * `topic: String, value: String` — so `MultiplexedSyncPipeline.start`
  * is source-agnostic (MemoryStream in tests, Kafka in production, files
  * for replay).
  */
object StreamSources {

  /** S1: Kafka CDC source — one subscription covering all topics of a
    * direction, earliest offsets, matching the reference consumer
    * (`KafkaConfig.java:45-57`). No broker exists in this environment;
    * the options are the standard spark-sql-kafka surface.
    */
  def kafka(spark: SparkSession, brokers: String, topics: Seq[String]): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", "earliest")
      .load()
      .select(col("topic"), col("value").cast("string").as("value"))

  /** S5/replay: file-based stream of envelope JSON lines; each line is a
    * Debezium envelope, topic fixed per directory. Used for snapshot
    * replay (`op='r'` events flow through the same parser) and backlog
    * reprocessing.
    */
  def jsonLineFiles(spark: SparkSession, path: String, topic: String): DataFrame =
    spark.readStream
      .format("text")
      .load(path)
      .select(lit(topic).as("topic"), col("value"))
}
