package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The streaming Misra-Gries monitor's contract, checked against EXACT
  * counts over the concatenated stream after every trigger prefix:
  * (1) coverage — every item whose true count exceeds the cumulative
  * decrement (the reported error_bound) survives in the summary;
  * (2) bracket — each survivor's true count lies in
  * [count_min, count_max]; (3) bound — error_bound ≤ n/(k+1);
  * (4) size — the state never exceeds k rows; (5) replay idempotence.
  */
class TopKMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val K = 8

  private def exactCounts(items: Seq[String]): Map[String, Long] =
    items.groupBy(identity).map { case (k, v) => k -> v.length.toLong }

  private def checkContract(
      store: SnapshotStore, table: String, seen: Seq[String]): Unit = {
    val rep = TopKMonitor.report(spark, store, table).collect()
    val exact = exactCounts(seen)
    assert(rep.length <= K, s"summary must stay ≤ $K rows, got ${rep.length}")
    val n = rep.headOption.map(_.getLong(3)).getOrElse(0L)
    val err = rep.headOption.map(_.getLong(4)).getOrElse(0L)
    assert(n == seen.length.toLong, "n_total must be the exact stream size")
    assert(err <= n / (K + 1), s"error bound $err exceeds n/(k+1) = ${n / (K + 1)}")
    rep.foreach { r =>
      val (item, lo, hi) = (r.getString(0), r.getLong(1), r.getLong(2))
      val t = exact(item)
      assert(lo <= t && t <= hi, s"$item: true $t outside [$lo, $hi]")
    }
    val present = rep.map(_.getString(0)).toSet
    exact.foreach { case (item, c) =>
      if (c > err)
        assert(present.contains(item),
          s"$item has true count $c > error bound $err but was dropped")
    }
  }

  test("MG merge across triggers: coverage, bracket, bound, size after every prefix") {
    val dir = Files.createTempDirectory("graft-topk").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val rnd = new scala.util.Random(7)
    // zipf-ish: heavy items h0-h2 dominate, a long tail of singletons
    val batches = (0 until 4).map { bi =>
      val heavy = (0 until 300).map(_ => s"h${rnd.nextInt(3)}")
      val tail = (0 until 200).map(i => s"t$bi-${rnd.nextInt(150)}")
      rnd.shuffle(heavy ++ tail)
    }
    batches.zipWithIndex.foreach { case (items, bi) =>
      TopKMonitor.applyBatch(store, "TK", items.toDF("item"), bi.toLong,
        "item", K)
      checkContract(store, "TK", batches.take(bi + 1).flatten)
    }
    // the three planted heavy hitters must all be in the final summary
    val present = TopKMonitor.report(spark, store, "TK")
      .collect().map(_.getString(0)).toSet
    assert(Set("h0", "h1", "h2").subsetOf(present))

    // replayed trigger: the committed batch id gates the fold
    val before = TopKMonitor.report(spark, store, "TK").collect().toSeq.map(_.toString)
    TopKMonitor.applyBatch(store, "TK", batches(3).toDF("item"), 3L, "item", K)
    val after = TopKMonitor.report(spark, store, "TK").collect().toSeq.map(_.toString)
    assert(before == after, "a replayed trigger must not double-count")
  }

  test("a summary that never overflows k is exact") {
    val dir = Files.createTempDirectory("graft-topk-exact").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val b0 = Seq("a", "a", "b")
    val b1 = Seq("b", "c", "a")
    TopKMonitor.applyBatch(store, "TE", b0.toDF("item"), 0L, "item", K)
    TopKMonitor.applyBatch(store, "TE", b1.toDF("item"), 1L, "item", K)
    val rep = TopKMonitor.report(spark, store, "TE").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(rep.mapValues(_._1).toMap == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    rep.values.foreach { case (lo, hi, err) =>
      assert(lo == hi && err == 0L, "no decrement ever ran ⇒ exact counts")
    }
  }

  test("a fresh data trigger runs exactly 3 actions (the per-trigger budget)") {
    // merge checkpoint (batch mass observed in the same job), k+1-row
    // pivot fetch, ≤k-row state commit — a regression that reintroduces
    // separate mass aggregations shows up here as a 4th action
    val dir = Files.createTempDirectory("graft-topk-budget").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    // a prior trigger so the budgeted one merges against real state
    TopKMonitor.applyBatch(store, "TB",
      (0 until 40).map(i => s"w$i").toDF("item"), 0L, "item", K)
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if e.rootExecutionId.forall(_ == e.executionId) =>
            actions.incrementAndGet(); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TopKMonitor.applyBatch(store, "TB",
        (0 until 30).map(i => s"x${i % 12}").toDF("item"), 1L, "item", K)
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 10000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val now = actions.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(actions.get() == 3,
      s"top-k per-trigger action budget is 3 (merge checkpoint, pivot " +
        s"fetch, state commit), saw ${actions.get()}")
    // and the observed batch mass landed in n_total
    val n = TopKMonitor.report(spark, store, "TB").collect().head.getLong(3)
    assert(n == 70L, s"n_total must be 40 + 30 = 70, got $n")
  }

  test("streaming start maintains the summary over a live stream") {
    val dir = Files.createTempDirectory("graft-topk-stream").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val mem = MemoryStream[String](spark)
    val q = TopKMonitor.start(mem.toDF().toDF("item"), store, "TS",
      "item", K, checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      val b0 = (0 until 120).map(i => if (i % 3 == 0) "big" else s"s$i")
      val b1 = (0 until 80).map(i => if (i % 2 == 0) "big" else s"u$i")
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      checkContract(store, "TS", b0 ++ b1)
      val present = TopKMonitor.report(spark, store, "TS")
        .collect().map(_.getString(0)).toSet
      assert(present.contains("big"))
    } finally q.stop()
  }
}
