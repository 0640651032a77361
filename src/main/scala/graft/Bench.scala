package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Locale-independent JSON number formatting for the bench artifacts:
  * `f"%.3f"` follows the JVM default locale, so a comma-decimal host
  * would emit `0,123` and silently break BENCH_FULL.json as JSON.
  * (`%.0f` has no decimal separator and `Double.toString` is
  * locale-fixed by spec — only fractional %f formats need this.)
  */
object Json {
  def num3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
}

/** Benchmark entry point (driver contract): one JSON line with total and
  * per-query wall time at SPARK_GRAFT_SF_DIR.
  *
  * A warm-up pass (table counts) runs first so the first timed query
  * doesn't absorb JVM/codegen/parquet-footer costs; queries run in
  * sorted-name order for stable comparisons across rounds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // The un-losable-artifact contract (round 15; BENCH_r14 was rc=124
    // with NO numbers because the suite's wall grew unbounded under
    // host load and the line was only written at the very end): every
    // expansion beyond the core single pass — extra stabilizing draws,
    // canary re-runs, each streaming probe — is gated on a wall-clock
    // budget, and the COMPLETE line is persisted before any re-run
    // pass. A loaded host now ships a flagged, single-shot line within
    // budget instead of nothing.
    val wallStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wallStart) / 1e9
    val budgetS = sys.env.get("GRAFT_BENCH_BUDGET_S")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(1200.0)
    def overBudget: Boolean = elapsedS > budgetS
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // streaming micro-bench FIRST, before the batch suite touches the
    // heap: the tws number's documented 18-26k envelope was measured
    // standalone (fresh JVM running just the probes; COVERAGE.md), and
    // round 10 showed the same code reading ~2× lower when the fragment
    // ran AFTER 185 batch queries in a 600 s session (old-gen pressure
    // + fragmented humongous regions depress the RocksDB path). Running
    // the fragment in the standalone-equivalent context makes the
    // shipped number comparable to the envelope again; batch queries
    // are plan-bound and insensitive to the swap. A probe failure must
    // stay VISIBLE in the line — an empty object would read as an
    // unremarkable missing field, hiding exactly the class of
    // regression the probe exists to surface. Fatal errors propagate.
    def streamingFragment(): String =
      try StreamBench.jsonFragment(spark, () => overBudget)
      catch {
        case scala.util.control.NonFatal(e) =>
          s""""streaming":{"error":"${e.getClass.getSimpleName}"}"""
      }
    // GRAFT_STREAM_LAST=1 restores the pre-round-11 order (streaming
    // AFTER the batch suite) — the measurement-context A/B switch used
    // to verify the batch totals are insensitive to the reorder (the
    // round-11 claim, paired-run-measured in round 12; see COVERAGE)
    val streamLast = sys.env.get("GRAFT_STREAM_LAST").contains("1")
    val streamingPre = if (streamLast) None else Some(streamingFragment())

    // warm-up: touch every table + one trivial aggregation
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    // Heavy queries get multiple draws — single-shot numbers on this
    // host drift ±30-40% day to day, and round-over-round comparisons
    // of the expensive tail were arguing with weather: ≥3 s gets
    // median-of-3, ≥1 s gets min-of-2, the sub-second tail stays
    // single-shot to hold total bench time. The reported value is the
    // multi-draw statistic; the first draw still carries any
    // cold-plan/codegen cost the later draws skip, which is exactly
    // why the min/median is the comparable number.
    // MEASUREMENT FIX (round 15, guide §1.4, declared in
    // OPTIMIZATION_r15.md): the timed action is now the noop sink —
    // every column of every row is computed and discarded — instead of
    // `.count()`. A count lets the optimizer prune columns and whole
    // subtrees: a round-15 audit (OPTIMIZATION_r15.md) found 167/193
    // queries losing at least their final sort under count, and ~30
    // losing REAL work — ev1_ann_recall's count plan dropped 5 joins +
    // 16 aggregates + 2 windows (its shipped number timed a fraction
    // of the query), dd8_dup_spans' count eliminated the entire span
    // computation via left-join elimination (0.14 s shipped vs 1.4 s
    // real), and bl1/bl2/je1/ld1/mx3/rj1/pca1/mad1/hll*/km*/cc1/qp1/
    // to1 all lost joins or aggregates. Old-methodology numbers remain
    // comparable via GRAFT_BENCH_COUNT=1 (the A/B switch) and the
    // committed r15 baseline artifacts.
    val countAction = sys.env.get("GRAFT_BENCH_COUNT").contains("1")
    def draw(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        if (countAction) { df.count(); () }
        else df.write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    // Returns (statistic, all draws in draw order). The statistic is
    // what "queries" carries (median-of-3 ≥3 s, min-of-2 ≥1 s,
    // single-shot below — tiers unchanged from round 9); the raw draw
    // array ships alongside in "draws" because round 12 proved the
    // statistic alone is ambiguous: two same-code artifacts disagreed
    // ×4.1 on bpe2_merge_table purely because a first draw landing on
    // the other side of a tier boundary flips the reported number
    // between "cold single-shot" and "warm min", and nothing in the
    // line let a reader see which happened. Draw-array length encodes
    // the tier (1/2/3); draw order is preserved (first = cold).
    // Budget cap on the stabilizing draws: past the wall budget every
    // query ships its cold single-shot (draw-array length 1 where the
    // tier would say 2-3 — `draws_capped` counts them so the truncation
    // is visible, never silent).
    var drawsCapped = 0
    def timed(name: String): (Double, IndexedSeq[Double]) = {
      val first = draw(SparkEntry.queries(name))
      if (first >= 1.0 && overBudget) {
        drawsCapped += 1
        (first, IndexedSeq(first))
      } else if (first >= 3.0) {
        val ds = IndexedSeq(first, draw(SparkEntry.queries(name)),
          draw(SparkEntry.queries(name)))
        (ds.sorted.apply(1), ds)
      } else if (first >= 1.0) {
        val ds = IndexedSeq(first, draw(SparkEntry.queries(name)))
        (ds.min, ds)
      } else (first, IndexedSeq(first))
    }
    // load canary: ONE fixed cheap query (a1_global_counters, sub-0.1 s
    // warm) timed single-shot at the suite's start, middle and end, so
    // any reader of this artifact can see within-run host drift — the
    // round-11 driver capture was taken under heavy host contention
    // (uniform 1.3-1.7× batch inflation, 2-3× streaming depression) and
    // nothing in the line said so. Rule (COVERAGE.md): a run whose
    // canary drifts >1.5× between draws is re-run, not shipped. The
    // canary's plan is warmed once untimed first, so the start draw
    // reads host state, not cold-codegen cost.
    //
    // Round 13 proved the rule can't live in prose alone: the driver's
    // capture shipped with 3.7× mid-run drift and became the round's
    // record anyway. The rule is now self-enforcing IN the artifact: a
    // half whose bracketing canary draws drift >1.5× is re-timed ONCE
    // (its canary bracket re-read around the re-run), and if the
    // SHIPPED readings still violate, the line says so —
    // "canary_violation":true — so a poisoned capture can never again
    // masquerade as a clean number. "canary_reruns" counts the halves
    // re-timed (0 = first pass was clean).
    val canaryName = "a1_global_counters"
    draw(SparkEntry.queries(canaryName))
    def canary(): Double = draw(SparkEntry.queries(canaryName))
    def drifted(a: Double, b: Double): Boolean =
      math.max(a, b) / math.max(1e-9, math.min(a, b)) > 1.5
    val names = SparkEntry.queries.keys.toSeq.sorted
    val (firstHalf, secondHalf) = names.splitAt(names.size / 2)
    var cStart = canary()
    var r1 = firstHalf.map(n => n -> timed(n))
    var cMid = canary()
    var r2 = secondHalf.map(n => n -> timed(n))
    var cEnd = canary()
    var reruns = 0
    val streaming = streamingPre.getOrElse(streamingFragment())
    def assemble(): String = {
      val violation = drifted(cStart, cMid) || drifted(cMid, cEnd)
      val results = r1 ++ r2
      val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val drawsJson = results.map { case (k, (_, ds)) =>
        "\"" + k + "\":" + ds.map(Json.num3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val total = results.map(_._2._1).sum
      val canaryJson =
        s""""canary":{"query":"$canaryName","start":${Json.num3(cStart)},"mid":${Json.num3(cMid)},"end":${Json.num3(cEnd)}},"canary_reruns":$reruns,"canary_violation":$violation"""
      val budgetJson =
        s""""budget_s":${Json.num3(budgetS)},"elapsed_s":${Json.num3(elapsedS)},"over_budget":$overBudget,"draws_capped":$drawsCapped"""
      val action = if (countAction) "count" else "noop"
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"draws":$drawsJson,$streaming,$canaryJson,$budgetJson,"timed_action":"$action","sf":"$sfDir"}"""
    }
    // persist the COMPLETE line as a repo artifact: the driver's stdout
    // capture keeps only the tail of this very long line, losing the
    // per-query head every round — BENCH_FULL.json (overwritten per
    // run, committed per round) is what round-over-round per-query
    // diffs read
    def persist(line: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_FULL.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(_) => () } // stdout still carries it
    // Write the complete first-pass line BEFORE any re-run pass —
    // flagged canary_violation:true if dirty. Round 14's lesson: the
    // re-run enforcement re-times whole half-suites exactly when the
    // host is loaded, so without this a loaded run produced NO artifact
    // at all (rc=124). A dirty-but-present line beats a missing one;
    // the re-runs below overwrite it with a cleaner line when the
    // budget allows.
    persist(assemble())
    if (drifted(cStart, cMid) && !overBudget) {
      reruns += 1
      cStart = canary(); r1 = firstHalf.map(n => n -> timed(n)); cMid = canary()
    }
    if (drifted(cMid, cEnd) && !overBudget) {
      reruns += 1
      // re-bracket the second half only (a spliced mid reading when just
      // one half re-ran is documented by canary_reruns > 0)
      cMid = canary(); r2 = secondHalf.map(n => n -> timed(n)); cEnd = canary()
    }
    val line = assemble()
    persist(line)
    println(line)
    spark.stop()
  }
}
