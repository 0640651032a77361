package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ApplySpec extends SparkSpec {
  import spark.implicits._

  // one event: (seq, id, operation, name, grp)
  private type Ev = (Long, Long, String, String, String)

  private def base = Seq(
    (1L, "one", "A"), (2L, "two", "B"), (3L, "three", "C"))
    .toDF("id", "name", "grp")

  private def apply(changes: Seq[(Long, Long, String, String, String)]) = {
    val ch = changes.toDF("seq", "id", "operation", "name", "grp")
    Apply.applyBatch(base, ch, "id", "seq", Seq("name", "grp"))
  }

  test("C-01/02/03: insert, update, delete propagate") {
    val r = apply(Seq(
      (1L, 4L, "INSERT", "four", "D"),
      (2L, 2L, "UPDATE", "two2", "B"),
      (3L, 3L, "DELETE", "three", "C")))
    val t = r.target.orderBy("id").collect()
    assert(t.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    assert(t(1).getString(1) == "two2")
    assert(r.audit.filter($"status" === "SUCCESS").count() == 3)
  }

  test("ST6 upsert conversion: INSERT on existing pk becomes update") {
    val r = apply(Seq((1L, 1L, "INSERT", "one-re", "A")))
    assert(r.target.filter($"id" === 1).head().getString(1) == "one-re")
    assert(r.target.count() == 3)
    val a = r.audit.head()
    assert(a.getAs[String]("status") == "SUCCESS")
    assert(a.getAs[Boolean]("upsert_converted"))
  }

  test("ST7 missing target: UPDATE/DELETE on absent pk → TARGET_NOT_FOUND, skipped") {
    val r = apply(Seq(
      (1L, 9L, "UPDATE", "ghost", "X"),
      (2L, 8L, "DELETE", "ghost", "X")))
    assert(r.target.count() == 3) // base untouched
    assert(r.audit.filter($"status" === "TARGET_NOT_FOUND").count() == 2)
  }

  test("O4 ordered apply: late UPDATE after INSERT wins; UPDATE-then-INSERT keeps insert") {
    val r = apply(Seq(
      (1L, 5L, "UPDATE", "u-first", "X"), // skipped: not found yet
      (2L, 5L, "INSERT", "i-second", "X"),
      (3L, 5L, "UPDATE", "u-third", "X"))) // applies after insert
    val row = r.target.filter($"id" === 5).head()
    assert(row.getString(1) == "u-third")
    val st = r.audit.orderBy("cdc_seq").as[(Long, String, String, String, Boolean)].collect()
    assert(st.map(_._4).toSeq == Seq("TARGET_NOT_FOUND", "SUCCESS", "SUCCESS"))
  }

  test("delete then re-insert within one batch survives with new values") {
    val r = apply(Seq(
      (1L, 2L, "DELETE", "x", "x"),
      (2L, 2L, "INSERT", "two-new", "B2"),
      (3L, 1L, "DELETE", "x", "x")))
    val t = r.target.orderBy("id").collect()
    assert(t.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(t(0).getString(1) == "two-new")
  }

  test("update after in-batch delete is skipped, key stays dead") {
    val r = apply(Seq(
      (1L, 3L, "DELETE", "x", "x"),
      (2L, 3L, "UPDATE", "zombie", "x")))
    assert(!r.target.collect().map(_.getLong(0)).contains(3L))
    assert(r.audit.filter($"status" === "TARGET_NOT_FOUND").count() == 1)
  }

  test("property: target and audit match a sequential model of the reference apply") {
    import org.scalacheck.Gen
    val keys = Gen.chooseNum(0L, 15L) // overlaps the base's 0..11, extends past it
    val caseGen = for {
      baseIds <- Gen.someOf(0L to 11L)
      n <- Gen.chooseNum(0, 60)
      seqs <- Gen.pick(n, 1L to 500L)
      ids <- Gen.listOfN(n, keys)
      ops <- Gen.listOfN(n, Gen.oneOf("INSERT", "UPDATE", "DELETE"))
      redelivered <- Gen.someOf(0 until n)
    } yield {
      val evs: Seq[Ev] = seqs.toSeq.zip(ids).zip(ops).map { case ((q, id), op) =>
        (q, id, op, s"v$q", s"g${q % 3}")
      }
      (baseIds.toSeq.map(id => (id, s"b$id", "B")), evs, redelivered.toSeq.map(evs))
    }

    // the reference: events one at a time in seq order; INSERT upserts,
    // UPDATE/DELETE on an absent key is skipped
    def model(base: Seq[(Long, String, String)], evs: Seq[Ev]) = {
      val rows = scala.collection.mutable.Map(base.map(b => b._1 -> (b._2, b._3)): _*)
      val audit = evs.sortBy(_._1).map { case (q, id, op, name, grp) =>
        val existed = rows.contains(id)
        op match {
          case "INSERT" => rows(id) = (name, grp)
          case "UPDATE" if existed => rows(id) = (name, grp)
          case "DELETE" if existed => rows.remove(id)
          case _ =>
        }
        q -> (if (op == "INSERT" || existed) "SUCCESS" else "TARGET_NOT_FOUND",
          op == "INSERT" && existed)
      }
      (rows.map { case (id, (n, g)) => (id, n, g) }.toSet, audit.toMap)
    }

    // the 200 cases run as one batch on disjoint ranges: the apply is per
    // key, so case c's keys (c·100 + id) and seqs (c·1000 + seq) meet no
    // other case's, and three Spark jobs check them all
    val cases = Iterator.from(0)
      .flatMap(i => caseGen(Gen.Parameters.default, org.scalacheck.rng.Seed(2029L + i)))
      .take(200).toIndexedSeq.zipWithIndex.map { case ((base, evs, redelivered), c) =>
        def shift(e: Ev): Ev = (c * 1000L + e._1, c * 100L + e._2, e._3, e._4, e._5)
        (base.map(b => (c * 100L + b._1, b._2, b._3)), evs.map(shift), redelivered.map(shift))
      }
    assert(cases.size == 200)
    val baseDf = cases.flatMap(_._1).toDF("id", "name", "grp")
    def run(evs: Seq[Ev]) = Apply.applyBatch(baseDf,
      evs.toDF("seq", "id", "operation", "name", "grp"), "id", "seq", Seq("name", "grp"))
    def rowsByCase(target: org.apache.spark.sql.DataFrame) =
      target.as[(Long, String, String)].collect()
        .groupBy(_._1 / 100).map { case (c, rows) => c -> rows.toSet }
    val r = run(cases.flatMap(_._2))
    val gotRows = rowsByCase(r.target)
    val gotAudit = r.audit.select("cdc_seq", "status", "upsert_converted")
      .as[(Long, String, Boolean)].collect()
      .groupBy(_._1 / 1000).map { case (c, a) => c -> a.map(x => x._1 -> (x._2, x._3)).toMap }
    // a redelivered event is row-identical: the target absorbs it
    val replayedRows = rowsByCase(run(cases.flatMap(c => c._2 ++ c._3)).target)

    val seen = scala.collection.mutable.Set.empty[String]
    cases.zipWithIndex.foreach { case ((base, evs, redelivered), c) =>
      val (wantRows, wantAudit) = model(base, evs)
      val ctx = s"case $c: base=$base events=$evs"
      assert(gotRows.getOrElse(c.toLong, Set.empty) == wantRows, ctx)
      assert(gotAudit.getOrElse(c.toLong, Map.empty) == wantAudit, ctx)
      assert(replayedRows.getOrElse(c.toLong, Set.empty) == wantRows,
        s"$ctx redelivered=$redelivered")

      // which of the reference's edge cases this input exercised
      val baseIds = base.map(_._1).toSet
      evs.sortBy(_._1).groupBy(_._2).foreach { case (id, es) =>
        val ops = es.map(_._3)
        if (!baseIds(id) && ops.headOption.exists(_ != "INSERT")) seen += "absent"
        if (baseIds(id) && ops.headOption.contains("INSERT")) seen += "insert-existing"
        if (ops.sliding(2).contains(Seq("DELETE", "UPDATE"))) seen += "delete-then-update"
        if (ops.sliding(2).contains(Seq("DELETE", "INSERT"))) seen += "re-insert"
      }
      if (redelivered.nonEmpty) seen += "redelivery"
    }
    assert(seen == Set("absent", "insert-existing", "delete-then-update", "re-insert",
      "redelivery"))
  }

  test("ST8 error isolation splits invalid rows with reason") {
    val df = Seq((1L, "ok"), (2L, null.asInstanceOf[String])).toDF("id", "v")
    val (valid, dead) = Apply.errorIsolate(df, $"v".isNotNull, lit("null value"))
    assert(valid.count() == 1 && dead.count() == 1)
    assert(dead.head().getAs[String]("error_msg") == "null value")
  }

  test("audit-only consumption prunes the base scan to the pk column") {
    // the micro-batch audit's one O(|table|) touch is the existence
    // check; Catalyst must prune the base read to the pk — a regression
    // here silently reads every payload column per trigger
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    Seq((1L, "a", "b", "c")).toDF("id", "c1", "c2", "c3")
      .write.parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    val changes = Seq((1L, 1L, "UPDATE", "x", "y", "z"))
      .toDF("seq", "id", "operation", "c1", "c2", "c3")
    val audit = Apply.applyBatch(base, changes, "id", "seq",
      Seq("c1", "c2", "c3")).audit
    val exec = audit.queryExecution.executedPlan
    val inner = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val readSchemas = inner.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema
    }
    assert(readSchemas.nonEmpty)
    readSchemas.foreach(sch =>
      assert(sch.fieldNames.toSeq == Seq("id"),
        s"base scan should read only the pk, got ${sch.fieldNames.mkString(",")}"))
  }
}
