package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Merge-on-read semantics of the snapshot store: delta commits are
  * O(|batch|); reads reconstruct base⊕deltas with the apply semantics;
  * every `compactEvery`-th commit folds deltas into a fresh base;
  * replayed (crash-duplicated) deltas change nothing.
  */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def delta(rows: (Long, String, Int, String)*) =
    rows.toDF("seq", "operation", "ID", "VAL")

  private def newStore(compactEvery: Int) = {
    val dir = Files.createTempDirectory("graft-snap").toString
    (new SnapshotStore(spark, dir, compactEvery), dir)
  }

  // scheduler jobs started while building (not running) a frame: a
  // parquet read that infers its schema from footers starts one
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      Thread.sleep(1000) // the listener bus is async
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  private def commit(store: SnapshotStore, rows: (Long, String, Int, String)*): Int =
    store.commitDelta("T", delta(rows: _*), "ID", "seq", Seq("VAL"))

  test("delta commits merge on read: insert, update, delete across versions") {
    val (store, _) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "a"), (2L, "INSERT", 2, "b"))
    commit(store, (1L, "UPDATE", 1, "a2"), (2L, "DELETE", 2, "b"))
    commit(store, (1L, "INSERT", 3, "c"))

    val now = store.snapshot("T", null).as[(Int, String)].collect().toMap
    assert(now == Map(1 -> "a2", 3 -> "c"))
    // time travel into the middle of the delta chain
    assert(store.snapshotAt("T", 1).as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "b"))
    assert(store.snapshotAt("T", 2).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2"))
  }

  test("compaction folds the delta chain into a base and preserves the table") {
    val (store, dir) = newStore(compactEvery = 3)
    commit(store, (1L, "INSERT", 1, "a"))
    commit(store, (2L, "UPDATE", 1, "a2"), (3L, "INSERT", 2, "b"))
    assert(!Files.exists(Paths.get(s"$dir/T/v2")))
    commit(store, (4L, "DELETE", 2, "b")) // 3rd commit since base ⇒ compact
    assert(Files.exists(Paths.get(s"$dir/T/v3")), "compaction must write a base")
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2"))
    // post-compaction deltas chain off the new base
    commit(store, (5L, "INSERT", 9, "z"))
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2", 9 -> "z"))
  }

  test("a replayed duplicate delta is value-idempotent") {
    val (store, _) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "a"), (2L, "UPDATE", 1, "a2"))
    val before = store.snapshot("T", null).as[(Int, String)].collect().toMap
    // crash-replay: the identical batch lands again as a new delta
    commit(store, (1L, "INSERT", 1, "a"), (2L, "UPDATE", 1, "a2"))
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap == before)
  }

  test("manual compact folds the chain as a new version") {
    val (store, dir) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "a"))
    commit(store, (2L, "UPDATE", 1, "a2"))
    val v = store.compact("T")
    assert(v == 3 && Files.exists(Paths.get(s"$dir/T/v3")))
    assert(store.compact("T") == 3) // already a base: no-op
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap == Map(1 -> "a2"))
  }

  private def auditRows(n: Int, day: String) = Seq.tabulate(n)(i =>
    ("ASIS_TO_TOBE", "T", "INSERT", i.toString, "SUCCESS", false, null: String,
      s"h$i", java.sql.Timestamp.valueOf(s"$day 10:00:00")))
    .toDF("direction", "table_name", "operation", "pk_value", "status",
      "upsert_converted", "error_code", "change_hash", "log_time")

  test("audit() reads a published log by the audit schema, starting no Spark job") {
    val (store, dir) = newStore(compactEvery = 100)
    store.appendAudit(auditRows(3, "2026-01-13"))
    store.appendAudit(auditRows(2, "2026-01-13").union(auditRows(4, "2026-01-14")))
    // one file per append and date, each moved under its date partition
    val files = Seq("2026-01-13" -> 2, "2026-01-14" -> 1).map { case (d, n) =>
      val s = Files.list(Paths.get(s"$dir/_audit/log_date=$d"))
      try s.filter(_.toString.endsWith(".parquet")).count() -> n finally s.close()
    }
    assert(files.forall { case (got, want) => got == want }, files)
    assert(jobsDuring(store.audit()) == 0)
    val a = store.audit()
    assert(a.schema == SnapshotStore.auditSchema)
    assert(a.count() == 9)
    assert(a.groupBy("log_date").count().as[(java.sql.Date, Long)].collect().toMap ==
      Map(java.sql.Date.valueOf("2026-01-13") -> 5L, java.sql.Date.valueOf("2026-01-14") -> 4L))
  }

  test("audit() logs no warning, with or without a published log") {
    val (store, dir) = newStore(compactEvery = 100)
    // the listing's hidden-path warning, and the sink-metadata probe's
    val loggers = Seq("org.apache.spark.sql.execution.datasources.DataSource",
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .map(org.apache.logging.log4j.LogManager.getLogger(_)
        .asInstanceOf[org.apache.logging.log4j.core.Logger])
    val warns = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "audit-warns", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN)) {
          warns.add(e.getMessage.getFormattedMessage); ()
        }
    }
    appender.start()
    loggers.foreach(_.addAppender(appender))
    try {
      assert(loggers.forall(_.isWarnEnabled))
      // only a staging dir: the log has no date partition yet
      store.stageEpochAudit(auditRows(2, "2026-01-13"), "staged-only")
      assert(store.audit().count() == 0)
      store.appendAudit(auditRows(3, "2026-01-13"))
      assert(store.audit().count() == 3)
      assert(Files.exists(Paths.get(s"$dir/_audit/.epochs/staged-only")))
      assert(warns.isEmpty, warns)
    } finally {
      loggers.foreach(_.removeAppender(appender))
      appender.stop()
    }
  }

  test("appendAudit refuses a frame that is not on the audit schema") {
    val (store, _) = newStore(compactEvery = 100)
    val e = intercept[IllegalArgumentException](store.appendAudit(
      Seq(("INSERT", java.sql.Timestamp.valueOf("2026-01-13 10:00:00")))
        .toDF("operation", "log_time")))
    assert(e.getMessage.contains("pk_value:string"), e.getMessage)
    // a retyped column is refused as well
    intercept[IllegalArgumentException](store.appendAudit(
      auditRows(1, "2026-01-13").withColumn("upsert_converted",
        org.apache.spark.sql.functions.lit("no"))))
    assert(store.audit().count() == 0)
  }

  test("a crashed compaction's orphan base cannot shadow the next delta") {
    val (store, dir) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "a"))
    // crash debris: a base for version 2 was written but the pointer
    // never flipped — the next commit must clear it, or reads at v2
    // would prefer the stale base and silently drop the delta
    Seq((99, "stale")).toDF("ID", "VAL")
      .write.parquet(s"$dir/T/v2")
    commit(store, (2L, "UPDATE", 1, "a2"))
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2"))
  }

  test("manual compact carries the epoch marker forward and clears debris") {
    val (store, dir) = newStore(compactEvery = 100)
    store.commitDelta("T", delta((1L, "INSERT", 1, "a")), "ID", "seq",
      Seq("VAL"), meta = Some("0"))
    store.commitDelta("T", delta((2L, "UPDATE", 1, "a2")), "ID", "seq",
      Seq("VAL"), meta = Some("1"))
    // crash debris at the compaction's target version must not survive
    Seq((99, "stale")).toDF("ID", "VAL").write.parquet(s"$dir/T/v3")
    val v = store.compact("T")
    assert(v == 3)
    assert(store.currentMeta("T").contains("1"),
      "compaction must not lose the stream-position marker — a restart " +
        "would replay the last epoch and duplicate audit rows")
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2"))
  }

  test("existingPks matches the reconstructed snapshot's pk set") {
    val (store, _) = newStore(compactEvery = 100)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ID",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("VAL",
        org.apache.spark.sql.types.StringType)))
    def check() = {
      val want = store.snapshot("T", schema).select("ID")
        .as[Int].collect().toSet
      val got = store.existingPks("T", schema, "ID").as[Int].collect().toSet
      assert(got == want, s"membership drifted: got $got want $want")
    }
    check() // v0: empty
    store.commit("T", Seq((1, "x"), (2, "y")).toDF("ID", "VAL"))
    check() // pure base
    commit(store, (1L, "UPDATE", 1, "x2"), (3L, "INSERT", 3, "z"))
    check() // base + delta: UPDATE defers to base, INSERT adds
    commit(store, (4L, "DELETE", 2, "y"), (5L, "INSERT", 4, "w"),
      (6L, "DELETE", 4, "w"))
    check() // DELETE removes base pk; INSERT-then-DELETE nets out
    commit(store, (7L, "UPDATE", 9, "ghost"))
    check() // UPDATE on a never-existing pk stays non-existent
    commit(store, (8L, "INSERT", 2, "y2"))
    check() // re-insert after delete
  }

  test("pk-bounded existingPks equals unbounded membership cut to the range, " +
      "and the bound reaches the base scan as a pushed filter") {
    val (store, _) = newStore(compactEvery = 100)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ID",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("VAL",
        org.apache.spark.sql.types.StringType)))
    store.commit("T", Seq((1, "a"), (2, "b"), (5, "e"), (9, "i")).toDF("ID", "VAL"))
    commit(store, (1L, "DELETE", 2, "b"), (2L, "INSERT", 3, "c"),
      (3L, "INSERT", 12, "l"))
    val all = store.existingPks("T", schema, "ID").as[Int].collect().toSet
    val cut = store.existingPks("T", schema, "ID", Some((2, 9)))
    assert(cut.as[Int].collect().toSet == all.filter(id => id >= 2 && id <= 9),
      "bounded membership must agree with the unbounded one inside the range")
    cut.collect() // materialize so the adaptive plan is final
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(allNodes)
    }
    val pushed = allNodes(cut.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("; ")
    assert(pushed.contains("GreaterThanOrEqual(ID,2)") &&
      pushed.contains("LessThanOrEqual(ID,9)"),
      s"pk bound must push into the parquet scans for row-group pruning: $pushed")
  }

  test("existingPks reads only pk/op/seq columns, even with deltas outstanding") {
    val (store, _) = newStore(compactEvery = 100)
    store.commit("T", Seq((1, "x")).toDF("ID", "VAL"))
    commit(store, (1L, "UPDATE", 1, "x2"), (2L, "INSERT", 2, "b"))
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ID",
        org.apache.spark.sql.types.IntegerType)))
    val pks = store.existingPks("T", sch, "ID")
    val exec = pks.queryExecution.executedPlan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val readSchemas = inner.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.requiredSchema.fieldNames.toSet
    }
    assert(readSchemas.nonEmpty)
    readSchemas.foreach(cols =>
      assert(!cols.contains("VAL"),
        s"membership read must never touch payload columns, got $cols"))
    assert(readSchemas.exists(_ == Set("ID")),
      "the base scan should be pruned to the pk column alone")
  }

  test("snapshot and existingPks over a fingerprinted base plus 3 deltas " +
      "are built without starting a Spark job") {
    val (store, _) = newStore(compactEvery = 100)
    store.commit("T", Seq((1, "x"), (2, "y")).toDF("ID", "VAL"))
    commit(store, (1L, "UPDATE", 1, "x2"))
    commit(store, (2L, "INSERT", 3, "z"))
    commit(store, (3L, "DELETE", 2, "y"))
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ID",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("VAL",
        org.apache.spark.sql.types.StringType)))
    assert(jobsDuring(store.snapshot("T", sch)) == 0)
    assert(jobsDuring(store.existingPks("T", sch, "ID")) == 0)
    // and the typed reads see the data
    assert(store.snapshot("T", sch).as[(Int, String)].collect().toMap ==
      Map(1 -> "x2", 3 -> "z"))
    assert(store.existingPks("T", sch, "ID").as[Int].collect().toSet == Set(1, 3))
  }

  test("full commit() versions interleave with deltas as bases") {
    val (store, _) = newStore(compactEvery = 100)
    store.commit("T", Seq((1, "x"), (2, "y")).toDF("ID", "VAL"))
    commit(store, (1L, "UPDATE", 1, "x2"), (2L, "INSERT", 3, "z"))
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "x2", 2 -> "y", 3 -> "z"))
    assert(store.snapshotAt("T", 1).as[(Int, String)].collect().toMap ==
      Map(1 -> "x", 2 -> "y"))
  }

  test("changeFeed streams applied events between versions; crosses compactions") {
    val (store, _) = newStore(compactEvery = 3)
    commit(store, (1L, "INSERT", 1, "a"))                      // v1
    commit(store, (2L, "UPDATE", 1, "a2"), (3L, "INSERT", 2, "b")) // v2
    commit(store, (4L, "DELETE", 2, "b"))                      // v3 (compacts)
    commit(store, (5L, "INSERT", 3, "c"))                      // v4

    val feed = store.changeFeed("T", 1, 4)
      .orderBy("commit_version", "seq")
      .as[(Int, Long, String, Int, String)].collect().toSeq
    assert(feed == Seq(
      (2, 2L, "UPDATE", 1, "a2"), (2, 3L, "INSERT", 2, "b"),
      (3, 4L, "DELETE", 2, "b"), (4, 5L, "INSERT", 3, "c")),
      s"feed was $feed")
    // an empty range yields an empty frame with the feed layout
    assert(store.changeFeed("T", 4, 4).count() == 0)
    // out-of-range bounds refused loudly
    intercept[IllegalArgumentException](store.changeFeed("T", 2, 99))
  }

  test("vacuum reclaims pre-base history; reads below the horizon refuse loudly") {
    val (store, _) = newStore(compactEvery = 3)
    commit(store, (1L, "INSERT", 1, "a"))                      // v1
    commit(store, (2L, "INSERT", 2, "b"))                      // v2
    commit(store, (3L, "UPDATE", 1, "a2"))                     // v3 (compacts → base)
    commit(store, (4L, "INSERT", 3, "c"))                      // v4
    // nothing below the base may survive; everything at/above must
    val removed = store.vacuum("T")
    assert(removed == Seq(1, 2), s"got $removed")
    assert(store.horizon("T") == 3)
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2", 2 -> "b", 3 -> "c"))
    assert(store.snapshotAt("T", 3).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2", 2 -> "b"))
    intercept[IllegalArgumentException](store.snapshotAt("T", 2))
    // feed from horizon-1 still has every delta it needs; lower refuses
    assert(store.changeFeed("T", 2, 4).count() == 2)
    intercept[IllegalArgumentException](store.changeFeed("T", 1, 4))
    assert(store.netChanges("T", 3, 4)
      .as[(Int, String, String)].collect().toSet == Set((3, "INSERT", "c")))
    // idempotent; and a never-compacted table reclaims nothing
    assert(store.vacuum("T").isEmpty)
    val (fresh, _) = newStore(compactEvery = 100)
    commit(fresh, (1L, "INSERT", 1, "a"))
    commit(fresh, (2L, "INSERT", 2, "b"))
    assert(fresh.vacuum("T").isEmpty)
    assert(fresh.horizon("T") == 1)
  }

  test("netChanges classifies with apply semantics: nets, TARGET_NOT_FOUND, deletes") {
    val (store, _) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "a"), (2L, "INSERT", 2, "b"),
      (3L, "INSERT", 4, "d"))                                  // v1 = the "before"
    commit(store, (4L, "UPDATE", 1, "a2"),                     // plain update
      (5L, "INSERT", 3, "c"),                                  // plain insert
      (6L, "DELETE", 4, "d"))                                  // plain delete
    commit(store, (7L, "INSERT", 5, "e"), (8L, "DELETE", 5, "e"), // nets to nothing
      (9L, "DELETE", 2, "b"), (10L, "UPDATE", 2, "b9"))        // update AFTER delete:
                                                               // TARGET_NOT_FOUND → stays deleted
    val net = store.netChanges("T", 1, 3)
      .as[(Int, String, String)].collect().toSet
    assert(net == Set(
      (1, "UPDATE", "a2"),
      (3, "INSERT", "c"),
      (4, "DELETE", null),
      (2, "DELETE", null)),
      s"net was $net")
    // and the engine's own snapshot agrees with the classification
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2", 3 -> "c"))
  }

  test("vacuum on an additive chain: at/above-horizon exact, below refuses, commit() refuses") {
    val (store, _) = newStore(compactEvery = 3)
    def add(rows: (String, Long)*): Int =
      store.commitAdditive("A", rows.toDF("k", "state_cnt"))
    def snapAt(v: Int): Map[String, Long] =
      store.additiveSnapshotAt("A", v, null)
        .as[(String, Long)].collect().toMap
    // 10 commits, compactEvery = 3 → folds at v3/v6/v9; commit 5 also
    // retracts k2 so the zero-sum drop crosses a fold boundary
    (1 to 10).foreach { i =>
      if (i == 5) add(s"k$i" -> 1L, "k2" -> -1L) else add(s"k$i" -> 1L)
    }
    val full = (1 to 10).map(i => s"k$i" -> 1L).toMap - "k2"
    assert(snapAt(10) == full)

    val reclaimed = store.vacuum("A")
    // newest base is v9: everything below it is reclaimable, v9 (base)
    // and v10 (outstanding delta) must survive — the current snapshot
    // reconstructs from them
    assert(store.horizon("A") == 9)
    assert(reclaimed == (1 to 8), s"reclaimed $reclaimed")
    // reads at/above the horizon stay EXACT after the delete sweep
    assert(snapAt(9) == full - "k10")
    assert(snapAt(10) == full)
    assert(store.additiveSnapshot("A", null)
      .as[(String, Long)].collect().toMap == full)
    // below-horizon time travel refuses loudly instead of silently
    // mis-reconstructing over missing files
    val e = intercept[IllegalArgumentException] { snapAt(8) }
    assert(e.getMessage.contains("below the vacuum horizon"))
    // and the full-base CDC writer refuses the additive table — a
    // commit() here would silently mix kinds mid-chain
    val e2 = intercept[IllegalStateException] {
      store.commit("A", Seq(("x", 1L)).toDF("k", "state_cnt"))
    }
    assert(e2.getMessage.contains("ADDITIVE"))
  }

  test("timestamp resolution composes with additive chains") {
    // commitAdditive stamps versions like every committing path, and
    // versionAsOf is kind-agnostic (it reads only the ts markers) — so
    // additiveSnapshotAt(versionAsOf(ts)) is additive time travel
    val (store, _) = newStore(compactEvery = 100)
    var now = 1000L
    store.clock = () => now
    store.commitAdditive("A", Seq(("k1", 1L)).toDF("k", "state_cnt"))
    now = 2000L
    store.commitAdditive("A", Seq(("k1", 1L), ("k2", 3L)).toDF("k", "state_cnt"))
    assert(store.versionAsOf("A", 1500L) == 1)
    assert(store.additiveSnapshotAt("A", store.versionAsOf("A", 1500L), null)
      .as[(String, Long)].collect().toMap == Map("k1" -> 1L))
    assert(store.additiveSnapshotAt("A", store.versionAsOf("A", 2000L), null)
      .as[(String, Long)].collect().toMap == Map("k1" -> 2L, "k2" -> 3L))
  }

  test("deleteWhere appends DELETE deltas; feed, net changes and replays agree") {
    val (store, _) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "keep"), (2L, "INSERT", 2, "purge"),
      (3L, "INSERT", 3, "purge"))
    val vBefore = store.currentVersion("T")
    val n = store.deleteWhere("T",
      org.apache.spark.sql.functions.col("VAL") === "purge", "ID",
      seq = 100L, meta = Some("erasure-42"))
    assert(n == 2L)
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "keep"))
    // O(matching): ONE new version, two DELETE rows carrying the
    // erased values (auditable), visible to the change feed
    assert(store.currentVersion("T") == vBefore + 1)
    val feed = store.changeFeed("T", vBefore, vBefore + 1)
      .select("operation", "ID", "VAL").as[(String, Int, String)]
      .collect().toSet
    assert(feed == Set(("DELETE", 2, "purge"), ("DELETE", 3, "purge")))
    // the serving-sync path sees plain CDC deletes
    val net = store.netChanges("T", vBefore, vBefore + 1)
      .select("ID", "change_type").as[(Int, String)].collect().toSet
    assert(net == Set((2, "DELETE"), (3, "DELETE")))
    assert(store.currentMeta("T").contains("erasure-42"))
    // a no-op match commits NOTHING (no version churn); the matching
    // rows are already gone so the same predicate re-run is idempotent
    assert(store.deleteWhere("T",
      org.apache.spark.sql.functions.col("VAL") === "purge", "ID", 101L) == 0L)
    assert(store.currentVersion("T") == vBefore + 1)
  }

  test("updateWhere rewrites matching rows in place; set can read the old row") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val (store, _) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "alice"), (2L, "INSERT", 2, "bob"),
      (3L, "INSERT", 3, "alice"))
    val vBefore = store.currentVersion("T")
    // expression over the matched row: masking that keeps a prefix
    val n = store.updateWhere("T", col("VAL") === "alice", "ID", 50L,
      set = Map("VAL" -> concat(col("VAL").substr(0, 1), lit("***"))))
    assert(n == 2L)
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a***", 2 -> "bob", 3 -> "a***"))
    assert(store.currentVersion("T") == vBefore + 1, "one O(matching) delta")
    val feed = store.changeFeed("T", vBefore, vBefore + 1)
      .select("operation", "ID", "VAL").as[(String, Int, String)]
      .collect().toSet
    assert(feed == Set(("UPDATE", 1, "a***"), ("UPDATE", 3, "a***")))
    // refusals: unknown set column, pk rewrite
    val e1 = intercept[IllegalArgumentException] {
      store.updateWhere("T", col("VAL") === "bob", "ID", 51L,
        set = Map("NOPE" -> lit("x")))
    }
    assert(e1.getMessage.contains("schema evolution"))
    val e2 = intercept[IllegalArgumentException] {
      store.updateWhere("T", col("VAL") === "bob", "ID", 51L,
        set = Map("ID" -> lit(9)))
    }
    assert(e2.getMessage.contains("DELETE + INSERT"))
  }

  test("cloneAt creates an independent table: fresh chain, kinds carried, dest refusals") {
    import org.apache.spark.sql.functions.col
    val (store, _) = newStore(compactEvery = 100)
    commit(store, (1L, "INSERT", 1, "a"), (2L, "INSERT", 2, "b"))
    commit(store, (3L, "UPDATE", 1, "a2"))
    // CDC clone at a historical version
    store.cloneAt("T", 1, "T_V1")
    assert(store.snapshot("T_V1", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "b"))
    assert(store.currentVersion("T_V1") == 1, "clone history starts fresh")
    assert(store.currentMeta("T_V1").contains("clone:T@1"))
    // independence both ways: evolve the source, vacuum neither leaks
    commit(store, (4L, "DELETE", 2, "b"))
    assert(store.snapshot("T_V1", null).count() == 2)
    store.deleteWhere("T_V1", col("ID") === 1, "ID", 10L)
    assert(store.snapshot("T", null).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2"))
    // additive clone keeps the kind and measure columns
    store.commitAdditive("ADD", Seq(("x", 2L), ("y", 1L)).toDF("k", "state_cnt"))
    store.commitAdditive("ADD", Seq(("x", -1L)).toDF("k", "state_cnt"))
    store.cloneAt("ADD", 2, "ADD_C")
    assert(store.additiveSnapshot("ADD_C", null).as[(String, Long)]
      .collect().toMap == Map("x" -> 1L, "y" -> 1L))
    // the clone is itself a live additive chain
    store.commitAdditive("ADD_C", Seq(("y", 5L)).toDF("k", "state_cnt"))
    assert(store.additiveSnapshot("ADD_C", null).as[(String, Long)]
      .collect().toMap == Map("x" -> 1L, "y" -> 6L))
    // a clone is a CREATE: existing destinations refuse loudly
    val e = intercept[IllegalArgumentException] { store.cloneAt("T", 1, "T_V1") }
    assert(e.getMessage.contains("already exists"))
  }

  test("timestamp time travel: snapshotAsOf / changeFeedSince resolve by commit instant") {
    val (store, _) = newStore(compactEvery = 3)
    var now = 1000L
    store.clock = () => now
    commit(store, (1L, "INSERT", 1, "a")) // v1 @ 1000
    now = 2000L
    commit(store, (2L, "UPDATE", 1, "a2"), (3L, "INSERT", 2, "b")) // v2 @ 2000
    now = 3000L
    commit(store, (4L, "DELETE", 2, "b")) // v3 @ 3000, 3rd commit ⇒ fold base

    // a ts BETWEEN two commits resolves to the earlier one
    assert(store.versionAsOf("T", 1500L) == 1)
    assert(store.snapshotAsOf("T", 1500L).as[(Int, String)].collect().toMap ==
      Map(1 -> "a"))
    // the exact commit instant resolves to that commit
    assert(store.snapshotAsOf("T", 2000L).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2", 2 -> "b"))
    // before the first commit = the empty table (schema supplied)
    assert(store.versionAsOf("T", 500L) == 0)
    assert(store.snapshotAsOf("T", 500L,
      store.snapshot("T", null).schema).count() == 0L)
    // changeFeedSince: exactly the events committed after that instant
    val feed = store.changeFeedSince("T", 1000L)
    assert(feed.select("commit_version").distinct()
      .as[Int].collect().toSet == Set(2, 3))
    assert(feed.count() == 3L)
    // history carries the commit timestamps (the fold base shares v3's)
    val hts = store.history("T").select("version", "commit_ts")
      .distinct().as[(Int, Long)].collect().toSet
    assert(hts == Set((1, 1000L), (2, 2000L), (3, 3000L)))

    // vacuum reclaims v1/v2 (below the v3 fold base): a ts whose answer
    // version was reclaimed must REFUSE, not round up to the horizon
    store.vacuum("T")
    intercept[IllegalArgumentException](store.snapshotAsOf("T", 2500L))
    intercept[IllegalArgumentException](store.changeFeedSince("T", 1500L))
    // at/after the horizon instant still resolves
    assert(store.versionAsOf("T", 3000L) == 3)
    assert(store.snapshotAsOf("T", 9999L).as[(Int, String)].collect().toMap ==
      Map(1 -> "a2"))
  }

  test("compactAdditive folds the chain, carries meta, and lays out bucketed bases") {
    val (store, dir) = newStore(compactEvery = 100)
    store.commitAdditive("B",
      Seq(("x", 2L), ("y", 1L)).toDF("k", "state_cnt"),
      meta = Some("0"), bucketBy = Some(("k", 8)))
    store.commitAdditive("B",
      Seq(("x", -1L), ("z", 5L)).toDF("k", "state_cnt"), meta = Some("1"))
    val v = store.compactAdditive("B")
    assert(v == 3, "manual fold commits a new version")
    // content-preserving, __bkt never surfaces
    val snap = store.additiveSnapshot("B", null)
    assert(!snap.columns.contains("__bkt"))
    assert(snap.as[(String, Long)].collect().toMap ==
      Map("x" -> 1L, "y" -> 1L, "z" -> 5L))
    // the meta high-watermark survives the fold (gates read it as the
    // replay fence — dropping it would double-charge the next replay)
    assert(store.currentMeta("B").contains("1"))
    // the bucketed fold writes one file per ~bucket: parallel scans
    val files = new java.io.File(s"$dir/B/v3").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files > 1, s"bucketed base must be multi-file, saw $files")
    // a fold at the tip is a no-op; CDC chains refuse
    assert(store.compactAdditive("B") == 3)
    commit(store, (1L, "INSERT", 1, "a"))
    intercept[IllegalStateException](store.compactAdditive("T"))
  }

  test("versionAsOf refuses on pre-stamping history instead of resolving empty") {
    val (store, dir) = newStore(compactEvery = 100)
    var now = 1000L
    store.clock = () => now
    commit(store, (1L, "INSERT", 1, "a")) // v1 @ 1000
    now = 2000L
    commit(store, (2L, "INSERT", 2, "b")) // v2 @ 2000
    // simulate a chain written BEFORE timestamp stamping existed: strip
    // v1's marker — whether v1 predates any given ts is now unknowable
    Files.delete(Paths.get(s"$dir/T/d1/_graft_ts"))
    // ts below every surviving stamp + unstamped history ⇒ refuse (the
    // old behavior silently returned 0 = "table was empty then")
    val e = intercept[IllegalArgumentException](store.versionAsOf("T", 500L))
    assert(e.getMessage.contains("pre-stamping"))
    intercept[IllegalArgumentException](store.snapshotAsOf("T", 1500L))
    intercept[IllegalArgumentException](store.changeFeedSince("T", 500L))
    // at/after a surviving stamp still resolves normally
    assert(store.versionAsOf("T", 2000L) == 2)
    // a FULLY stamped chain keeps the documented 0 = before-first-commit
    val (s2, _) = newStore(compactEvery = 100)
    s2.clock = () => 5000L
    s2.commitDelta("U", delta((1L, "INSERT", 1, "a")), "ID", "seq", Seq("VAL"))
    assert(s2.versionAsOf("U", 4000L) == 0)
  }

  test("history lists live versions with kind, meta and horizon flags") {
    val (store, _) = newStore(compactEvery = 3)
    commit(store, (1L, "INSERT", 1, "a"))
    commit(store, (2L, "INSERT", 2, "b"))
    commit(store, (3L, "UPDATE", 1, "a2")) // 3rd commit ⇒ compaction base at v3
    store.deleteWhere("T", org.apache.spark.sql.functions.col("ID") === 2,
      "ID", 4L, meta = Some("gdpr"))
    store.vacuum("T") // reclaims v1/v2 (below the v3 base)
    val h = store.history("T")
      .select("version", "kind", "meta", "above_horizon")
      .as[(Int, String, String, Boolean)].collect().toSet
    // v3 carries BOTH the delta and the compaction base; v1/v2 reclaimed
    assert(h == Set(
      (3, "delta", null, true), (3, "base", null, true),
      (4, "delta", "gdpr", true)))
    assert(store.history("T").agg(
      org.apache.spark.sql.functions.sum("n_files")).collect()(0)
      .getLong(0) > 0, "file counts must come from real listings")
  }
}
