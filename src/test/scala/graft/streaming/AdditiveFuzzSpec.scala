package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.Files

/** Additive-chain fuzzer — the [[StoreFuzzSpec]] treatment for the
  * ADDITIVE kind and the gates built on it. This suite generates
  * seeded-random op sequences interleaving
  *
  *  - [[QuotaGate.applyBatch]] batches (fresh, whole-batch replays,
  *    and torn-window replays against a copy of the count table rolled
  *    back to its pre-batch version — the "epochs published, counts
  *    never landed" crash),
  *  - [[LineDedupGate.applyBatch]] batches and replays,
  *  - [[MixtureGate.applyBatch]] batches and replays (the sample epoch
  *    re-derives the FULL prefix under post-batch rates — the model
  *    recomputes the md5-Bernoulli decision per doc; each call picks
  *    hash-band incremental or full refresh AT RANDOM, so interleaved
  *    modes and cross-mode replays must stay model-identical),
  *  - [[UpsampleGate.applyBatch]] batches and replays (same treatment:
  *    the model recomputes exact integral-div repeat factors and the
  *    per-copy explode over the full prefix; modes randomized),
  *  - raw chain reads and maintenance: compactAdditive /
  *    additiveSnapshotAt / additiveSnapshotForKeys (manual compact
  *    refuses additive chains by design — the fold also happens
  *    automatically every compactEvery = 3 commits, so replays and
  *    pruned reads cross fold boundaries throughout the sequences),
  *
  * and checks EVERY step against a driver-side model of consumed
  * quotas, line counts, per-version count states and epoch contents.
  * The invariants: gate state equals the model after every op; a
  * replay (any window) never double-charges and never rewrites a
  * published epoch; forKeys pruning is invisible to results; reads at
  * a past version resolve to the model's recorded version state.
  */
class AdditiveFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val qSchema = StructType(Seq(
    StructField("source", StringType), StructField("state_cnt", LongType)))
  private val lSchema = StructType(Seq(
    StructField("line", StringType), StructField("state_cnt", LongType)))

  private val budgets =
    Seq(("a", 60L), ("b", 40L), ("c", 50L)).toDF("source", "budget")
  private val budgetMap = Map("a" -> 60L, "b" -> 40L, "c" -> 50L)

  private case class QDoc(id: Long, source: String, tokens: Long)
  private case class QBatch(batchId: Long, docs: Seq[QDoc],
    keep: Set[Long], reject: Set[Long], preCounts: Map[String, Long],
    preVersion: Int)
  private case class LDoc(id: Long, lines: Seq[String])
  private case class LBatch(batchId: Long, docs: Seq[LDoc],
    clean: Map[Long, (Long, Long, String)])

  /** The gate's admit rule, sequentially: per source in doc-id order,
    * a doc keeps iff used + (batch tokens BEFORE it, kept or not) +
    * its own tokens fits the budget; only kept tokens consume.
    */
  private def modelQuota(used: Map[String, Long], docs: Seq[QDoc])
      : (Map[String, Long], Set[Long], Set[Long]) = {
    var consumed = used
    var keep = Set.empty[Long]
    var reject = Set.empty[Long]
    docs.groupBy(_.source).foreach { case (src, ds) =>
      var before = 0L
      ds.sortBy(_.id).foreach { d =>
        budgetMap.get(src) match {
          case Some(b) if used.getOrElse(src, 0L) + before + d.tokens <= b =>
            keep += d.id
            consumed = consumed.updated(src, consumed.getOrElse(src, 0L) + d.tokens)
          case _ => reject += d.id
        }
        before += d.tokens
      }
    }
    (consumed, keep, reject)
  }

  /** The line gate's rewrite rule: a line drops when its corpus count
    * (state ⊕ this batch's distinct-doc count) reaches minDocs = 2.
    */
  private def modelLines(counts: Map[String, Long], docs: Seq[LDoc])
      : (Map[String, Long], Map[Long, (Long, Long, String)]) = {
    val batchCnt = docs.flatMap(d => d.lines.distinct.map(_ -> d.id))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val dups = batchCnt.keySet
      .filter(l => counts.getOrElse(l, 0L) + batchCnt(l) >= 2L)
    val clean = docs.map { d =>
      val kept = d.lines.filterNot(dups.contains)
      d.id -> ((d.lines.size.toLong, (d.lines.size - kept.size).toLong,
        kept.mkString("\n")))
    }.toMap
    val merged = batchCnt.foldLeft(counts) { case (m, (l, c)) =>
      m.updated(l, m.getOrElse(l, 0L) + c)
    }
    (merged, clean)
  }

  private def qDf(docs: Seq[QDoc]): DataFrame =
    docs.map(d => (d.id, d.source, d.tokens)).toDF("doc_id", "source", "n_tokens")

  private def lDf(docs: Seq[LDoc]): DataFrame =
    docs.map(d => (d.id, d.lines.mkString("\n"))).toDF("doc_id", "text")

  private def epochIds(dir: String, e: Long): Set[Long] =
    spark.read.parquet(s"$dir/epoch=$e").select("doc_id").as[Long]
      .collect().toSet

  // MULTISET variant: a set compare can't see silent row duplication
  // (the round-14 compaction hazard — a replayed batch re-freezing an
  // epoch whose dir was folded into a run would double rows without
  // changing the id set)
  private def epochIdBag(dir: String, e: Long): Seq[Long] =
    spark.read.parquet(s"$dir/epoch=$e").select("doc_id").as[Long]
      .collect().toSeq.sorted

  /** Run one sequence; returns the names of the random ops it ran. */
  private def runSequence(seqIdx: Int, seed: Long): Set[String] = {
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory(s"graft-afuzz-$seqIdx").toString
    val store = new SnapshotStore(spark, s"$dir/store", compactEvery = 3)

    // ---- model state -------------------------------------------------
    var qUsed = Map.empty[String, Long]
    var lCounts = Map.empty[String, Long]
    var mCounts = Map.empty[String, Long]
    var mSeen = Vector.empty[(Long, String)] // every (doc, source) streamed
    val mBatches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    var uTotals = Map.empty[String, Long]
    var uSeen = Vector.empty[(Long, String, Long)] // (doc, source, tokens)
    val uBatches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String, Long)]]
    val qBatches = scala.collection.mutable.ArrayBuffer.empty[QBatch]
    val lBatches = scala.collection.mutable.ArrayBuffer.empty[LBatch]
    // Q-chain counts per store version (fill-forward across versions
    // the gate didn't create, e.g. compactions)
    val qAtV = scala.collection.mutable.ArrayBuffer[Map[String, Long]](Map.empty)
    def recordQVersions(): Unit = {
      while (qAtV.length <= store.currentVersion("Q")) qAtV += qUsed
    }
    var idCtr = 0L
    def freshId(): Long = { idCtr += 1; idCtr }
    var qEpoch = -1L
    var lEpoch = -1L
    var tornCtr = 0
    val linePool = (1 to 6).map(i => s"banner $i")

    def assertCounts(what: String): Unit = {
      assert(QuotaGate.consumed(spark, store, "Q")
        .as[(String, Long)].collect().toMap == qUsed.filter(_._2 != 0L),
        s"$what: consumed drifted (seed $seed)")
      assert(LineDedupGate.lineCounts(spark, store, "L")
        .as[(String, Long)].collect().toMap == lCounts.filter(_._2 != 0L),
        s"$what: line counts drifted (seed $seed)")
      assert(MixtureGate.counts(spark, store, "M")
        .as[(String, Long)].collect().toMap == mCounts.filter(_._2 != 0L),
        s"$what: mixture counts drifted (seed $seed)")
      assert(UpsampleGate.totals(spark, store, "U")
        .as[(String, Long)].collect().toMap == uTotals.filter(_._2 != 0L),
        s"$what: upsample totals drifted (seed $seed)")
    }

    // the gate's exact md5-Bernoulli keep decision, driver-side
    def mixKeeps(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix3|$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map("%02x".format(_)).mkString, 16) % 1000000L
    }
    def mixSample(docs: Seq[(Long, String)]): Set[Long] = {
      if (mCounts.isEmpty) return Set.empty
      val nMin = mCounts.values.min
      val rate6 = mCounts.view.mapValues(n =>
        math.floor(math.sqrt(nMin.toDouble / n) * 1e6 + 0.5).toLong).toMap
      docs.filter { case (id, src) => mixKeeps(id) < rate6(src) }
        .map(_._1).toSet
    }

    // mode chosen at random PER CALL: the hash-band incremental
    // refresh and the full O(corpus) re-decide must commit identical
    // epochs, so a history interleaving both (a full-refreshed epoch's
    // rates file feeding a later band refresh, and vice versa) — and
    // replays that land in the other mode — must be invisible to the
    // model, which recomputes the full-prefix decision every batch
    def applyM(batchId: Long, docs: Seq[(Long, String)]): Unit =
      MixtureGate.applyBatch(store, "M",
        docs.toDF("doc_id", "source"), batchId, "doc_id", "source",
        s"$dir/mseen", s"$dir/msample", s"$dir/madmit",
        incremental = rnd.nextBoolean())

    def doMBatch(): Unit = {
      val docs = (0 until 1 + rnd.nextInt(4)).map { _ =>
        (freshId(), Seq("a", "b", "c")(rnd.nextInt(3)))
      }
      val batchId = mBatches.size.toLong
      applyM(batchId, docs)
      mBatches += docs
      mSeen = mSeen ++ docs
      docs.groupBy(_._2).foreach { case (s, ds) =>
        mCounts = mCounts.updated(s, mCounts.getOrElse(s, 0L) + ds.size)
      }
      // sample epoch = the FULL prefix re-decided under post-batch
      // rates; admit epoch = this batch's slice of the same decision.
      // MULTISET compare: each kept id appears exactly once — catches
      // duplication from a folded-epoch re-freeze, not just id drift
      assert(epochIdBag(s"$dir/msample", batchId) == mixSample(mSeen).toSeq.sorted,
        s"mixture sample epoch $batchId drifted (seed $seed)")
      assert(epochIdBag(s"$dir/madmit", batchId) == mixSample(docs).toSeq.sorted,
        s"mixture admit epoch $batchId drifted (seed $seed)")
    }

    // the upsample gate's exact repeat rule, driver-side: factor
    // e6 = clamp(10^6, budget*10^6 div total, 4*10^6) per BUDGETED
    // source; rep = e6 div 10^6 + [hash("up|id") mod 10^6 < e6 mod 10^6]
    val uBudgetMap = Map("a" -> 200L, "b" -> 150L)
    val uBudgets = Seq(("a", 200L), ("b", 150L)).toDF("source", "budget")
    def upKeeps(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"up|$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map("%02x".format(_)).mkString, 16) % 1000000L
    }
    def upSample(docs: Seq[(Long, String, Long)]): Set[(Long, Long)] =
      docs.flatMap { case (id, src, _) =>
        (uBudgetMap.get(src), uTotals.get(src)) match {
          case (Some(b), Some(t)) if t > 0 =>
            val e6 = math.min(4000000L, math.max(1000000L, b * 1000000L / t))
            val rep = e6 / 1000000L + (if (upKeeps(id) < e6 % 1000000L) 1L else 0L)
            (1L to rep).map(i => (id, i))
          case _ => Seq.empty
        }
      }.toSet
    // multiset like epochIdBag: (id, epoch_idx) pairs are unique in
    // the model, so sorted-seq equality catches silent duplication
    def epochPairs(root: String, e: Long): Seq[(Long, Long)] =
      spark.read.parquet(s"$root/epoch=$e").select("doc_id", "epoch_idx")
        .as[(Long, Long)].collect().toSeq.sorted

    // mode chosen at random per call, like the mixture arm: band and
    // full refreshes must commit identical epochs
    def applyU(batchId: Long, docs: Seq[(Long, String, Long)]): Unit =
      UpsampleGate.applyBatch(store, "U",
        docs.toDF("doc_id", "source", "n_tokens"), batchId, "doc_id",
        "source", "n_tokens", uBudgets,
        s"$dir/useen", s"$dir/usample", s"$dir/uadmit",
        incremental = rnd.nextBoolean())

    def doUBatch(): Unit = {
      val docs = (0 until 1 + rnd.nextInt(4)).map { _ =>
        (freshId(), Seq("a", "b", "c")(rnd.nextInt(3)), 1L + rnd.nextInt(12))
      }
      val batchId = uBatches.size.toLong
      applyU(batchId, docs)
      uBatches += docs
      uSeen = uSeen ++ docs
      docs.groupBy(_._2).foreach { case (s, ds) =>
        uTotals = uTotals.updated(s, uTotals.getOrElse(s, 0L) + ds.map(_._3).sum)
      }
      assert(epochPairs(s"$dir/usample", batchId) == upSample(uSeen).toSeq.sorted,
        s"upsample sample epoch $batchId drifted (seed $seed)")
      assert(epochPairs(s"$dir/uadmit", batchId) == upSample(docs).toSeq.sorted,
        s"upsample admit epoch $batchId drifted (seed $seed)")
    }

    def applyQ(b: QBatch): Unit =
      QuotaGate.applyBatch(store, "Q", qDf(b.docs), b.batchId, "doc_id",
        "source", "n_tokens", budgets, s"$dir/qkeep", s"$dir/qreject")

    def applyL(b: LBatch): Unit =
      LineDedupGate.applyBatch(store, "L", lDf(b.docs), b.batchId,
        "doc_id", "text", s"$dir/lout")

    def doQBatch(): Unit = {
      val docs = (0 until 2 + rnd.nextInt(4)).map { _ =>
        val src = Seq("a", "b", "c", "a", "b", "z")(rnd.nextInt(6))
        QDoc(freshId(), src, 1L + rnd.nextInt(12))
      }
      qEpoch += 1
      val pre = (qUsed, store.currentVersion("Q"))
      val (nu, keep, reject) = modelQuota(qUsed, docs)
      val b = QBatch(qEpoch, docs, keep, reject, pre._1, pre._2)
      applyQ(b)
      qUsed = nu
      qBatches += b
      recordQVersions()
      assert(epochIds(s"$dir/qkeep", b.batchId) == keep,
        s"quota keep epoch ${b.batchId} drifted (seed $seed)")
      assert(epochIds(s"$dir/qreject", b.batchId) == reject,
        s"quota reject epoch ${b.batchId} drifted (seed $seed)")
    }

    def doLBatch(): Unit = {
      val docs = (0 until 1 + rnd.nextInt(3)).map { _ =>
        val lines = (0 until 1 + rnd.nextInt(4)).map { _ =>
          if (rnd.nextInt(3) == 0) s"unique ${freshId()}"
          else linePool(rnd.nextInt(linePool.size))
        }
        LDoc(freshId(), lines)
      }
      lEpoch += 1
      val (nc, clean) = modelLines(lCounts, docs)
      val b = LBatch(lEpoch, docs, clean)
      applyL(b)
      lCounts = nc
      lBatches += b
      val got = spark.read.parquet(s"$dir/lout/epoch=${b.batchId}")
        .select("doc_id", "n_lines", "n_dropped", "text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == clean, s"line epoch ${b.batchId} drifted (seed $seed)")
    }

    def doReplay(): Unit = {
      // whole-batch replay of a random landed trigger: versions pinned,
      // state unchanged — ALSO exercised right after compaction, which
      // must carry the batch-id meta forward or this double-charges
      val v = store.currentVersion("Q")
      val lv = store.currentVersion("L")
      val mv = store.currentVersion("M")
      val uv = store.currentVersion("U")
      if (qBatches.nonEmpty) applyQ(qBatches(rnd.nextInt(qBatches.size)))
      if (lBatches.nonEmpty) applyL(lBatches(rnd.nextInt(lBatches.size)))
      if (mBatches.nonEmpty) {
        val k = rnd.nextInt(mBatches.size)
        applyM(k.toLong, mBatches(k))
        // a replayed OLD sample epoch must not be rewritten under the
        // rates that exist now (the epoch dir is the fence)
      }
      if (uBatches.nonEmpty) {
        val k = rnd.nextInt(uBatches.size)
        applyU(k.toLong, uBatches(k))
      }
      assert(store.currentVersion("Q") == v && store.currentVersion("L") == lv
          && store.currentVersion("M") == mv && store.currentVersion("U") == uv,
        s"replay grew a chain (seed $seed)")
    }

    def doCompactAdditive(): Unit = {
      // manual fold is content-preserving and carries the meta replay
      // fence; L is bucketed (the gate declares line:64), Q/M are not
      rnd.nextInt(4) match {
        case 0 if store.currentVersion("Q") > 0 => store.compactAdditive("Q")
        case 1 if store.currentVersion("L") > 0 => store.compactAdditive("L")
        case 2 if store.currentVersion("M") > 0 => store.compactAdditive("M")
        case _ if store.currentVersion("U") > 0 => store.compactAdditive("U")
        case _ => ()
      }
      recordQVersions()
    }

    def doForKeys(): Unit = {
      // a random key subset incl. unseen keys: pruned read == model cut
      val srcs = Seq("a", "b", "c", "z", "never").filter(_ => rnd.nextBoolean())
      if (srcs.nonEmpty) {
        val got = store.additiveSnapshotForKeys("Q", qSchema,
            srcs.toDF("source"))
          .as[(String, Long)].collect().toMap
        assert(got == qUsed.filter { case (s, c) => srcs.contains(s) && c != 0L },
          s"forKeys(Q) drifted (seed $seed)")
      }
      val ls = (linePool ++ Seq("never seen")).filter(_ => rnd.nextBoolean())
      if (ls.nonEmpty) {
        val got = store.additiveSnapshotForKeys("L", lSchema, ls.toDF("line"))
          .as[(String, Long)].collect().toMap
        assert(got == lCounts.filter { case (l, c) => ls.contains(l) && c != 0L },
          s"forKeys(L) drifted (seed $seed)")
      }
    }

    def doReadAt(): Unit = {
      val cur = store.currentVersion("Q")
      if (cur >= 1) {
        val v = 1 + rnd.nextInt(cur)
        assert(store.additiveSnapshotAt("Q", v, qSchema)
          .as[(String, Long)].collect().toMap == qAtV(v).filter(_._2 != 0L),
          s"additiveSnapshotAt(Q, v$v) drifted (seed $seed)")
      }
    }

    def doTornWindow(): Unit = {
      // the "epochs published, counts never landed" crash, injected by
      // replaying a landed batch against a copy of Q as that crash
      // leaves it: the version dirs above the batch's PRE-batch version
      // gone and the pointer back at it
      if (qBatches.nonEmpty) {
        val b = qBatches(rnd.nextInt(qBatches.size))
        tornCtr += 1
        val torn = s"QT$tornCtr"
        // pre-version 0 = the batch was the chain's first commit: the
        // torn chain is simply a fresh table
        if (b.preVersion > 0) {
          val t = new java.io.File(s"$dir/store/$torn")
          org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$dir/store/Q"), t)
          t.listFiles().filter(_.getName.matches("[vd]\\d+"))
            .filter(_.getName.tail.toInt > b.preVersion)
            .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
          Files.write(new java.io.File(t, "_current").toPath, b.preVersion.toString.getBytes)
        }
        QuotaGate.applyBatch(store, torn, qDf(b.docs), b.batchId, "doc_id",
          "source", "n_tokens", budgets, s"$dir/qkeep", s"$dir/qreject")
        // the replay must not rewrite the published epochs…
        assert(epochIds(s"$dir/qkeep", b.batchId) == b.keep,
          s"torn replay rewrote a published epoch (seed $seed)")
        // …and must land exactly the batch's own delta on the torn
        // chain (recomputed against the same pre-batch state)
        val (want, _, _) = modelQuota(b.preCounts, b.docs)
        assert(store.additiveSnapshot(torn, qSchema)
          .as[(String, Long)].collect().toMap == want.filter(_._2 != 0L),
          s"torn replay landed the wrong delta (seed $seed)")
      }
    }

    val ran = scala.collection.mutable.Set.empty[String]
    def op(name: String)(f: => Unit): Unit = { ran += name; f }
    val len = 6 + rnd.nextInt(4)
    (0 until len).foreach { _ =>
      rnd.nextInt(12) match {
        case 0 | 1     => op("quota")(doQBatch())
        case 2 | 3     => op("lines")(doLBatch())
        case 4 | 5     => op("mixture")(doMBatch())
        case 10 | 11   => op("upsample")(doUBatch())
        case 6         => op("replay")(doReplay())
        case 7         => if (rnd.nextBoolean()) op("torn")(doTornWindow())
                          else op("compact")(doCompactAdditive())
        case 8         => op("forKeys")(doForKeys())
        case _         => op("readAt")(doReadAt())
      }
      assertCounts("after op")
    }
    // end of sequence: replay every landed batch once more (many land
    // right after an auto-fold at compactEvery = 3 — the meta-carry
    // seam), then the torn window and a final pruned read
    doReplay()
    assertCounts("after final replay")
    doTornWindow()
    doForKeys()
    ran.toSet
  }

  test("50 seeded-random sequences over the additive chain and both gates match the model") {
    val n = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(50)
    val ran = (0 until n).flatMap(i => runSequence(i, seed = 7000L + i)).toSet
    // the full run exercises every op
    if (n >= 50) assert(ran == Set("quota", "lines", "mixture", "upsample", "replay",
      "torn", "compact", "forKeys", "readAt"), s"ops run: $ran")
  }
}
