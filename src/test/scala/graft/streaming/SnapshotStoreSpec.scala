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

  test("snapshotAt over a base plus 2 deltas plans one hash exchange and no join; " +
      "a dashboard page over it is a top-K above the aggregate") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val (store, _) = newStore(compactEvery = 100)
    store.commit("T", Seq((1, "x"), (2, "y"), (4, "w")).toDF("ID", "VAL"))
    commit(store, (1L, "UPDATE", 1, "x2"), (2L, "INSERT", 3, "z"))
    commit(store, (1L, "DELETE", 2, "y"), (2L, "UPDATE", 5, "ghost"))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val snap = store.snapshotAt("T", 3)
      val plan: SparkPlan = snap.queryExecution.executedPlan
      val hashExchanges = plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashExchanges.size == 1, plan.toString)
      assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, plan.toString)
      assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, plan.toString)
      val scans = plan.collect { case f: FileSourceScanExec => f.relation.location.rootPaths.size }
      // the base once (one dir), the two deltas once (one multi-path read)
      assert(scans.sorted == Seq(1, 2), plan.toString)
      assert(snap.as[(Int, String)].collect().toMap == Map(1 -> "x2", 3 -> "z", 4 -> "w"))

      Dashboard.registerViews(spark, store, Seq("T"))
      val page = Dashboard.data(spark, "T", "ID", Seq("ID", "VAL"))
      val pagePlan = page.queryExecution.executedPlan
      val topK = pagePlan.collect { case t: TakeOrderedAndProjectExec => t }
      assert(topK.size == 1, pagePlan.toString)
      assert(topK.head.collect { case a: BaseAggregateExec => a }.nonEmpty, pagePlan.toString)
      assert(page.as[(Int, String)].collect().toSeq == Seq(1 -> "x2", 3 -> "z", 4 -> "w"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
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

  test("additive chain reads exactly across folds; commit() refuses it") {
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
    // the newest base is v9 and v10 its one outstanding delta: both
    // read back exactly
    assert(snapAt(9) == full - "k10")
    assert(snapAt(10) == full)
    assert(store.additiveSnapshot("A", null)
      .as[(String, Long)].collect().toMap == full)
    // and the full-base CDC writer refuses the additive table — a
    // commit() here would silently mix kinds mid-chain
    val e2 = intercept[IllegalStateException] {
      store.commit("A", Seq(("x", 1L)).toDF("k", "state_cnt"))
    }
    assert(e2.getMessage.contains("ADDITIVE"))
  }

  test("history stamps each version's commit_ts at its commit") {
    val (store, _) = newStore(compactEvery = 3)
    // wall-clock readings just before and just after each commit
    val windows = Seq(
      Seq((1L, "INSERT", 1, "a")),
      Seq((2L, "UPDATE", 1, "a2"), (3L, "INSERT", 2, "b")),
      Seq((4L, "DELETE", 2, "b"))).map { rows => // 3rd commit ⇒ fold base
      val before = System.currentTimeMillis()
      val v = commit(store, rows: _*)
      v -> (before, System.currentTimeMillis())
    }.toMap
    // one stamp per version (the fold base shares v3's), inside its window
    val hts = store.history("T").select("version", "commit_ts")
      .distinct().as[(Int, Long)].collect()
    assert(hts.map(_._1).sorted.toSeq == Seq(1, 2, 3), s"history was ${hts.toSeq}")
    hts.foreach { case (v, ts) =>
      val (lo, hi) = windows(v)
      assert(lo <= ts && ts <= hi, s"v$v stamped $ts outside [$lo, $hi]")
    }
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

  test("history lists every version with kind, meta and file counts") {
    val (store, _) = newStore(compactEvery = 3)
    commit(store, (1L, "INSERT", 1, "a"))
    commit(store, (2L, "INSERT", 2, "b"))
    commit(store, (3L, "UPDATE", 1, "a2")) // 3rd commit ⇒ compaction base at v3
    store.commitDelta("T", delta((4L, "DELETE", 2, "b")), "ID", "seq", Seq("VAL"),
      meta = Some("gdpr"))
    val h = store.history("T")
      .select("version", "kind", "meta")
      .as[(Int, String, String)].collect().toSet
    // v3 carries BOTH the delta and the compaction base
    assert(h == Set(
      (1, "delta", null), (2, "delta", null),
      (3, "delta", null), (3, "base", null),
      (4, "delta", "gdpr")))
    assert(store.history("T").agg(
      org.apache.spark.sql.functions.sum("n_files")).collect()(0)
      .getLong(0) > 0, "file counts must come from real listings")
  }
}
