package cdcbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.cdc.{ColumnSpec, Registry}
import graft.streaming.SnapshotStore

/** Compares what the program committed with the [[Model]]. Every
  * mismatch is collected; a run with any is incorrect.
  */
object Check {
  def schema(t: Topic): StructType =
    StructType(Registry.targetSchema(t.target).filter(f => t.targetCols.contains(f.name)))

  /** A topic whose program-side loop hash includes a wall-clock column:
    * a redelivery there is blocked only when it shares a trigger with
    * its original, so its audit statuses depend on trigger timing.
    */
  def wallClockHash(t: Topic): Boolean = t.specs.exists(_._2 == ColumnSpec.DefaultNow)

  /** Model rows as a DataFrame in the target layout (pk, values…);
    * wall-clock columns get `now`.
    */
  def frame(spark: SparkSession, t: Topic, rows: Iterable[Map[String, Any]], now: Long): DataFrame = {
    val s = schema(t)
    val data = rows.iterator.map(r => Row.fromSeq(s.fieldNames.toSeq.map(c => sparkValue(r(c), now)))).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), s)
  }

  def sparkValue(v: Any, now: Long): Any = v match {
    case b: BigDecimal => b.bigDecimal
    case Ts(ms) => new java.sql.Timestamp(ms)
    case WallClock => new java.sql.Timestamp(now)
    case other => other
  }

  /** Every target table read through `SnapshotStore.snapshot` against
    * the model, value by value (wall-clock columns excluded).
    */
  def tables(store: SnapshotStore, model: Model, errors: mutable.Buffer[String]): Unit = {
    val snapshots = mutable.Map.empty[Topic, Array[Row]]
    Main.eachTopic { t =>
      val rows = store.snapshot(t.table, schema(t)).collect()
      snapshots.synchronized(snapshots(t) = rows)
    }
    Topic.all.foreach { t =>
      val want = model.tables(t.table)
      val got = snapshots(t)
      val byPk = got.map(r => model.pkKey(r.getAs[Any](t.target.pk)) -> r).toMap
      if (byPk.size != got.length) errors += s"${t.table}: duplicate primary keys in snapshot"
      val missing = want.keySet.toSet -- byPk.keySet
      val extra = byPk.keySet -- want.keySet.toSet
      if (missing.nonEmpty) errors += s"${t.table}: ${missing.size} rows missing, e.g. ${missing.take(3)}"
      if (extra.nonEmpty) errors += s"${t.table}: ${extra.size} unexpected rows, e.g. ${extra.take(3)}"
      var diffs = 0
      want.foreach { case (pk, row) =>
        byPk.get(pk).foreach { r =>
          t.targetCols.foreach { c =>
            val w = row(c)
            if (w != WallClock && Values.canon(w) != Values.canon(r.getAs[Any](c))) {
              diffs += 1
              if (diffs <= 3) errors += s"${t.table}[$pk].$c = ${Values.canon(r.getAs[Any](c))}, expected ${Values.canon(w)}"
            }
          }
        }
      }
      if (diffs > 3) errors += s"${t.table}: $diffs value mismatches in total"
    }
  }

  /** Audit log against the model: rows per (table, status) and upsert
    * conversions per table, and audit rows = events delivered. On a
    * wall-clock-hash topic with redeliveries (`inexact`) only the total
    * and "blocked ≤ expected" hold. Returns measured blocked counts.
    */
  def audit(store: SnapshotStore, model: Model, inexact: Set[String],
      errors: mutable.Buffer[String]): Map[String, Long] = {
    val a = store.audit()
    val rows =
      if (a.columns.isEmpty) Array.empty[Row]
      else a.groupBy("table_name", "status")
        .agg(count(lit(1)).as("n"), sum(when(col("upsert_converted"), 1).otherwise(0)).as("u"))
        .collect()
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ups = rows.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(3)).sum }
    Topic.all.foreach { t =>
      val table = t.table
      val total = got.collect { case ((`table`, _), n) => n }.sum
      if (total != model.delivered(table))
        errors += s"$table: $total audit rows, ${model.delivered(table)} events delivered"
      val statuses = Seq("SUCCESS", "TARGET_NOT_FOUND", "LOOP_BLOCKED")
      got.keys.filter(k => k._1 == table && !statuses.contains(k._2))
        .foreach(k => errors += s"$table: unknown audit status ${k._2}")
      if (inexact.contains(table)) {
        val b = got.getOrElse((table, "LOOP_BLOCKED"), 0L)
        if (b > model.audit((table, "LOOP_BLOCKED")))
          errors += s"$table: $b LOOP_BLOCKED, more than the ${model.audit((table, "LOOP_BLOCKED"))} the rule allows"
      } else {
        statuses.foreach { s =>
          val g = got.getOrElse((table, s), 0L)
          if (g != model.audit((table, s))) errors += s"$table: $g $s audit rows, expected ${model.audit((table, s))}"
        }
        if (ups.getOrElse(table, 0L) != model.upserts(table))
          errors += s"$table: ${ups.getOrElse(table, 0L)} upsert conversions, expected ${model.upserts(table)}"
      }
    }
    Topic.all.map(t => t.table -> got.getOrElse((t.table, "LOOP_BLOCKED"), 0L)).toMap
  }
}
