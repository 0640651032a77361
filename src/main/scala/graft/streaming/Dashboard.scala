package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.Registry

/** S8: the reference dashboard's five inspection endpoints
  * (`SimulatorController.java:66-297`) as SQL over temp views
  * registered on the snapshot store — the Spark-native dashboard
  * surface. Each method issues the same SQL the controller builds
  * (`LIMIT` standing in for Oracle's `FETCH FIRST n ROWS ONLY`), so a
  * REST layer in front of these is a thin serializer.
  *
  * Scale: every endpoint is a bounded page — `ORDER BY … LIMIT n`
  * plans as `TakeOrderedAndProject` (no full sort, no full collect),
  * and the SYNC_LOG view reads the date-partitioned audit store, so a
  * day-bounded variant prunes (see `AuditPruneSpec`).
  */
object Dashboard {

  /** Register the store-backed views: one per synced table (current
    * snapshot) plus `SYNC_LOG` over the audit log. A registered table
    * that has not synced yet reads empty with its target schema, so its
    * pages serve no rows instead of failing.
    */
  def registerViews(spark: SparkSession, store: SnapshotStore,
      tables: Seq[String]): Unit = {
    val sides = Registry.all.flatMap(m => Seq(m.asis, m.tobe))
    tables.foreach { t =>
      val schema = sides.find(_.table == t).map(Registry.targetSchema).orNull
      store.snapshot(t, schema).createOrReplaceTempView(t)
    }
    store.audit().createOrReplaceTempView("SYNC_LOG")
  }

  /** GET /{table}/{db}/data — configured columns, pk-ordered first page. */
  def data(spark: SparkSession, table: String, pk: String,
      columns: Seq[String]): DataFrame =
    spark.sql(s"SELECT ${columns.mkString(", ")} FROM $table ORDER BY $pk LIMIT 20")

  /** GET /{table}/{db}/cdc — newest captured changes by sequence. */
  def cdcData(spark: SparkSession, table: String, seqCol: String = "CDC_SEQ"): DataFrame =
    spark.sql(s"SELECT * FROM $table ORDER BY $seqCol DESC LIMIT 20")

  /** GET /{table}/{db}/staging — newest staged rows by sequence. */
  def stagingData(spark: SparkSession, table: String,
      seqCol: String = "STAGING_SEQ"): DataFrame =
    spark.sql(s"SELECT * FROM $table ORDER BY $seqCol DESC LIMIT 20")

  /** GET /sync-log — newest audit page, optional table LIKE filter. */
  def syncLog(spark: SparkSession, tableLike: Option[String] = None): DataFrame = {
    val (where, args) = tableFilter(tableLike)
    spark.sql(s"SELECT * FROM SYNC_LOG$where ORDER BY log_time DESC LIMIT 50", args)
  }

  /** GET /stats — status breakdown, optional table LIKE filter. */
  def stats(spark: SparkSession, tableLike: Option[String] = None): DataFrame = {
    val (where, args) = tableFilter(tableLike)
    spark.sql(
      s"SELECT status, COUNT(*) AS cnt FROM SYNC_LOG$where GROUP BY status ORDER BY status",
      args)
  }

  /** The optional table LIKE filter as a WHERE clause plus its named
    * parameter: the user's text is bound, never spliced into the SQL,
    * so a quote in it is data, not syntax.
    */
  private def tableFilter(tableLike: Option[String]): (String, Map[String, Any]) =
    tableLike.fold(("", Map.empty[String, Any]))(t =>
      (" WHERE UPPER(table_name) LIKE :pat", Map("pat" -> s"%${t.toUpperCase}%")))
}
