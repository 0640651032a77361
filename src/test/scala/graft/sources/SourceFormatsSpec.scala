package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink format breadth: the engine's tables are parquet, but a
  * drop-in replacement must also read/write the other mainstream lake
  * formats with the same plan quality — ORC with predicate pushdown,
  * CSV and JSON-lines with explicit schemas, and partitioned layouts
  * with directory-level partition pruning. (Avro is environment-bound:
  * `/opt/spark/jars` carries avro-core but not the spark-avro
  * connector module, same class of gap as the kafka artifact.)
  */
class SourceFormatsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val docs =
    graft.Tables.load(spark, sfSmoke, "documents").select("doc_id", "lang", "n_chars")

  test("orc round-trip preserves rows and pushes filters into the scan") {
    val dir = tmp("graft_orc")
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    val q = back.filter(col("n_chars") > 200).select("doc_id")
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }
    assert(scans.mkString.contains("GreaterThan(n_chars,200)"),
      s"orc filter not pushed: $scans")
    assert(q.count() == docs.filter(col("n_chars") > 200).count())
  }

  test("csv round-trip with header and explicit schema is lossless") {
    val dir = tmp("graft_csv")
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(docs.schema).csv(dir)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }

  test("json-lines round-trip with explicit schema is lossless") {
    val dir = tmp("graft_json")
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }

  test("partitioned parquet: a partition filter prunes to matching directories") {
    val dir = tmp("graft_part")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("lang") === "en")
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // partition pruning is visible two ways: the filter lands in
    // PartitionFilters (not PushedFilters), and the selected partition
    // count is exactly one of the lang values
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("lang"),
      s"no partition filter: ${scan.metadata}")
    val langs = docs.select("lang").distinct().count()
    assert(scan.selectedPartitions.partitionCount.toLong < langs,
      s"scan read ${scan.selectedPartitions.partitionCount} partitions of $langs")
    assert(q.count() == docs.filter(col("lang") === "en").count())
  }
}
