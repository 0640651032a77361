package cdcbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{Dashboard, Monitoring, SnapshotStore, SyncPipeline}

/** What a run found: the oracle's verdict and the operation counts. */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String])

/** CDC sync benchmark.
  *
  * Usage: `Main --workload <backfill|live_churn|dashboard_reads> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <file>`
  *
  * Prints a text report and writes the result JSON (`correct`,
  * `attempted`, `failed`, `metrics`) to `--out`. Untraced runs report
  * the end-to-end metrics, traced runs the per-layer ones.
  */
object Main {
  /** The result line's metrics: untraced runs report these… */
  val endToEnd: Seq[String] = Seq("setup_s", "throughput_per_s", "latency_p50_ms")
  /** …and traced runs these. Everything measured is printed as text. */
  val perLayer: Seq[String] = Seq(
    "cdc.us_per_event", "mux.source_rows_read_per_event",
    "dedup.state_rows_end", "dedup.update_ms_total", "dedup.commit_ms_total",
    "trigger.count", "trigger.empty_count", "trigger.empty_ms_total", "trigger.execution_ms_p50",
    "trigger.add_batch_ms_total", "trigger.planning_ms_total",
    "store.existing_pks_ms", "store.compact_ms", "store.versions", "store.bytes", "store.snapshot_ms",
    "dashboard.register_views_ms", "dashboard.data_ms", "dashboard.sync_log_ms", "dashboard.stats_ms",
    "monitoring.table_stats_ms", "monitoring.recent_ms",
    "jvm.gc_ms", "jvm.heap_peak_mb", "scaling.backfill_1core_events_per_s",
    "trace.throughput_per_s", "trace.latency_p50_ms", "trace.spans", "trace.bookkeeping_ms")
  private val t0 = System.nanoTime()
  /** Prints how far into the run a phase ended. */
  def phase(name: String): Unit = println(f"phase $name%-10s ends at ${(System.nanoTime() - t0) / 1e9}%6.1f s")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    ModelSelfCheck.run()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(s"local[$cores]", work)
    phase("session")
    val m = new Metrics
    val tracer = new Tracer(traced)
    val run = new Run(spark, work, seed, seconds, tracer, m)
    val errors = mutable.ArrayBuffer.empty[String]
    val out = workload match {
      case "backfill" => run.backfill()
      case "live_churn" => run.liveChurn()
      case "dashboard_reads" => run.dashboardReads()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) {
      phase("probes")
      // dashboard_reads has no query of its own: its streaming layer
      // figures come from the single-core backfill pass
      errors ++= run.scaling(spark, streamingLayers = workload == "dashboard_reads")
      tracer.write(java.nio.file.Paths.get(work, "..", "traces", s"$workload-$seed.jsonl").normalize())
      m.put("trace.spans", tracer.count, "count")
      m.put("trace.bookkeeping_ms", tracer.bookkeepingNs / 1e6, "ms")
    } else spark.stop()
    phase("end")
    val failedShare = out.failed.toDouble / out.attempted
    println(f"attempted = ${out.attempted}  failed = ${out.failed}  failed_share = $failedShare%.6f")
    errors ++= out.errors
    errors.take(20).foreach(e => println(s"MISMATCH $e"))
    val correct = errors.isEmpty && out.failed == 0
    println(s"correct = $correct")
    val listed = if (traced) perLayer else endToEnd
    if (traced && workload == "dashboard_reads")
      println("trigger.*, mux.* and dedup.* are the local[1] backfill pass's: this workload runs no query")
    m.values.foreach { case (k, (v, u)) => println(f"${k.stripPrefix("e2e.")}%-40s $v%.4f $u") }
    val metrics = listed.map { k =>
      val (v, u) = m.values.getOrElse(if (traced) k else s"e2e.$k",
        throw new IllegalStateException(s"metric $k was not measured"))
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val json = s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$metrics}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), json.getBytes("UTF-8"))
    sys.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  def session(master: String, work: String): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]")
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def delete(dir: String): Unit = {
    val f = new java.io.File(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    if (f.exists()) { Thread.sleep(500); org.apache.commons.io.FileUtils.deleteQuietly(f) }
  }

  /** Runs `f` over the six topics on one thread each. */
  def eachTopic(f: Topic => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Topic.all.size)
    try Topic.all.map(t => pool.submit(new Runnable { def run(): Unit = f(t) })).foreach(_.get())
    finally pool.shutdown()
  }
}

final case class Backfill(h: SyncHarness, src: BackfillSource, model: Model)
final case class Churn(h: SyncHarness, src: ChurnSource, model: Model)

/** JVM figures over a measured window, read from the MXBeans. */
final class JvmWatch {
  private def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private val gc0 = gcMs
  @volatile private var peak = 0L
  @volatile private var running = true
  private val sampler = new Thread(() => {
    while (running) { peak = math.max(peak, mem.getHeapMemoryUsage.getUsed); Thread.sleep(10) }
  })
  sampler.setDaemon(true)
  sampler.start()
  def stop(m: Metrics): Unit = {
    running = false
    sampler.join()
    println(f"heap_peak_mb = ${peak / 1048576.0}%.1f MB")
    m.put("jvm.heap_peak_mb", peak / 1048576.0, "MB")
    m.put("jvm.gc_ms", (gcMs - gc0).toDouble, "ms")
  }
}

final class Run(spark: SparkSession, work: String, seed: Long, seconds: Int,
    tracer: Tracer, m: Metrics) {
  import Main._

  /** Runs set-up `setups` times, tearing down all but the last;
    * reports the median set-up time. Set-up is what a deployment does
    * before it serves: create or load the store and start the query.
    * The one warm-up pass that follows it (JIT and codegen) is not part
    * of it: repeating it would cost a whole trigger per repetition.
    * A traced run sets up once: `setup_s` is not one of its metrics,
    * and it needs the time for its probes.
    */
  private def repeatedSetup[A](setups: Int)(setup: Int => A)(teardown: A => Unit): A = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    val n = if (tracer.enabled) 1 else setups
    (0 until n).foreach { i =>
      val (a, ms) = Stats.timeMs(setup(i))
      times += ms / 1000
      println(f"set-up ${i + 1} of $n: ${ms / 1000}%.3f s")
      if (i < n - 1) teardown(a) else last = Some(a)
    }
    m.put("e2e.setup_s", Stats.median(times), "s")
    phase("setup")
    last.get
  }

  /** End-to-end figures: throughput and median latency are gated; the
    * 99th percentile and heap peak are printed (too few samples, or too
    * dependent on collector timing, to gate on one run).
    */
  private def e2e(throughput: Double, lat: collection.Seq[Double], watch: JvmWatch): Unit = {
    phase("measure")
    val prefix = if (tracer.enabled) "trace." else "e2e."
    m.put(s"${prefix}throughput_per_s", throughput, "1/s")
    m.put(s"${prefix}latency_p50_ms", Stats.pct(lat, 50), "ms")
    println(f"latency_p99_ms = ${Stats.pct(lat, 99)}%.1f ms over ${lat.size} samples")
    watch.stop(m)
  }

  // ---- backfill ---------------------------------------------------------

  /** At `local[4]` a trigger's fixed cost is most of a wave of this
    * size, but larger waves do not fit the time budget: a 24 000-event
    * wave took ~19 s against ~12 s, and five seeds' runs spread about
    * as far (0.11).
    */
  val waveSize = 8000
  val warmWave = 2000
  /** the `local[1]` pass drains a smaller wave (10–16 s), which keeps
    * a traced run near 135 s, inside its time limit
    */
  val scalingWave = 4000
  /** the first set-up pays the JVM's one-off costs (about 4 s against
    * 1 s), so the median needs three */
  val backfillSetups = 3
  val edgeEvents = 800
  val edgeRedeliver = 1200


  /** A fresh store and a started query; nothing processed yet. */
  private def startBackfill(s: SparkSession, dir: String): Backfill = {
    val h = new SyncHarness(s, dir, Trigger.ProcessingTime("0 seconds"))
    h.start()
    Backfill(h, new BackfillSource(seed), new Model)
  }

  /** Warm-up: one small wave, processed before anything is timed. */
  private def warmBackfill(b: Backfill): Unit = {
    val warm = b.src.wave(warmWave)
    warm.foreach(b.model.deliver)
    b.h.add(warm)
    b.h.processAllAvailable()
  }

  /** Drains waves of `size` events for `secs`, at least one; returns (events/s,
    * per-wave latencies ms, events).
    */
  private def drain(b: Backfill, secs: Double, size: Int, t: Tracer): (Double, Seq[Double], Long) = {
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    val lat = mutable.ArrayBuffer.empty[Double]
    var events = 0L
    var busyNs = 0L
    while (System.nanoTime() < deadline || lat.isEmpty) {
      val wave = b.src.wave(size)
      wave.foreach(b.model.deliver)
      val addMs = System.currentTimeMillis()
      val n0 = System.nanoTime()
      t.span("backfill.wave", s"wave-${lat.size}") {
        val off = b.h.add(wave)
        b.h.processAllAvailable()
        lat += (Sync.endMs(b.h.awaitCommitted(off, 120000)) - addMs).toDouble
      }
      println(f"wave ${lat.size}%3d  ${(System.nanoTime() - n0) / 1e6}%8.1f ms")
      busyNs += System.nanoTime() - n0
      events += wave.size
    }
    (events / (busyNs / 1e9), lat.toSeq, events)
  }

  private def checkSync(h: SyncHarness, model: Model, inexact: Set[String],
      errors: mutable.Buffer[String]): Map[String, Long] = {
    Check.tables(h.store, model, errors)
    val blocked = Check.audit(h.store, model, inexact, errors)
    phase("check")
    blocked
  }

  /** Measured LOOP_BLOCKED per topic beside the rule's count; text
    * metrics named `<prefix>.blocked*`.
    */
  private def blockedMetrics(model: Model, blocked: Map[String, Long], prefix: String): Unit = Topic.all.foreach { t =>
    val n = model.delivered(t.table)
    println(f"loop_blocked ${t.table}%-18s measured ${blocked(t.table)}%6d  rule ${model.audit((t.table, "LOOP_BLOCKED"))}%6d  of $n events")
    m.put(s"$prefix.blocked.${t.table}", blocked(t.table).toDouble, "count")
    m.put(s"$prefix.blocked_expected.${t.table}", model.audit((t.table, "LOOP_BLOCKED")).toDouble, "count")
    m.put(s"$prefix.events.${t.table}", n.toDouble, "count")
    m.put(s"$prefix.blocked_share.${t.table}", blocked(t.table).toDouble / math.max(1L, n), "share")
  }

  def backfill(): Outcome = {
    val b = repeatedSetup(backfillSetups)(i => startBackfill(spark, s"$work/backfill-$i")) { b => b.h.stop(); delete(b.h.dir) }
    warmBackfill(b)
    phase("warm-up")
    val watch = new JvmWatch
    val (rate, lat, events) = drain(b, seconds, waveSize, tracer)
    e2e(rate, lat, watch)
    println(f"backfill_events_per_s = $rate%.1f events/s over $events events in ${lat.size} waves of $waveSize")
    b.h.stop()
    val errors = mutable.ArrayBuffer.empty[String]
    val blocked = checkSync(b.h, b.model, Set.empty, errors)
    if (tracer.enabled) {
      Sync.layerMetrics(b.h.progresses, b.model.delivered.values.sum, m, tracer)
      blockedMetrics(b.model, blocked, "dedup")
      layerProbes(b.h.store, b.model, new BackfillSource(seed).wave(waveSize), errors)
      dashboardProbe(b.h.store)
    }
    delete(b.h.dir)
    Outcome(b.model.delivered.values.sum, 0, errors.toSeq)
  }

  // ---- live churn -------------------------------------------------------

  val rate = 200
  val intervalMs = 5000L
  val hotKeys = 5000
  val warmEvents = 120
  val redeliverEvery = 1000
  val redeliverLen = 400


  def liveChurn(): Outcome = {
    val c = repeatedSetup(3) { i =>
      val h = new SyncHarness(spark, s"$work/live-$i", Trigger.ProcessingTime(s"$intervalMs milliseconds"))
      val src = new ChurnSource(seed, hotKeys)
      val model = new Model
      src.preload.foreach { case (t, img) => model.preload(t, img) }
      val now = System.currentTimeMillis()
      eachTopic(t => h.store.commit(t.table, Check.frame(spark, t, model.tables(t.table).values, now)))
      h.start()
      Churn(h, src, model)
    } { c => c.h.stop(); delete(c.h.dir) }
    // warm-up: one trigger of traffic, then wait for the query to idle
    val now = System.currentTimeMillis()
    val warm = (0 until warmEvents).map(j => c.src.next(now - warmEvents + j))
    warm.foreach(c.model.deliver)
    c.h.awaitCommitted(c.h.add(warm), 120000)
    c.h.awaitIdle(30000)
    phase("warm-up")

    // open loop on the trigger grid: whole intervals of generation,
    // leaving one interval of the run for the last trigger to commit
    // events are due from just after one trigger tick to just before
    // the tick that ends the generation window, so each trigger takes
    // whole intervals of traffic
    val grid = (System.currentTimeMillis() / intervalMs + 1) * intervalMs
    val start = grid + 50
    val genMs = math.max(intervalMs, (seconds * 1000L - intervalMs) / intervalMs * intervalMs) - 100
    final case class Add(dueMs: Long, events: Seq[Event], fresh: Boolean)
    val plan = mutable.ArrayBuffer.empty[Add]
    val recent = mutable.ArrayBuffer.empty[Event]
    (0 until (genMs * rate / 1000).toInt).foreach { i =>
      val due = start + i * 1000L / rate
      val e = c.src.next(due)
      plan += Add(due, Seq(e), fresh = true)
      recent += e
      // at-least-once redelivery: a contiguous recent range, re-sent
      // whole and in order, seconds old (inside the watermark delay)
      if ((i + 1) % redeliverEvery == 0) plan += Add(due, recent.takeRight(redeliverLen).toSeq, fresh = false)
    }
    plan.foreach(_.events.foreach(c.model.deliver))
    val offsets = new Array[Long](plan.size)
    val addedAt = new Array[Long](plan.size)
    val watch = new JvmWatch
    val generator = new Thread(() => plan.indices.foreach { k =>
      val wait = plan(k).dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      offsets(k) = c.h.add(plan(k).events)
      addedAt(k) = System.currentTimeMillis()
    })
    generator.start()
    generator.join()
    c.h.awaitCommitted(offsets.last, 120000)
    val ps = c.h.progresses.sortBy(_.batchId)
    val window = ps.filter(p => Sync.endMs(p) > start)
    def committer(off: Long) = ps.find(p => Sync.endMs(p) > start && Sync.endOffset(p) >= off).get
    val lat = plan.indices.filter(plan(_).fresh).map(k => (Sync.endMs(committer(offsets(k))) - plan(k).dueMs).toDouble)
    val fresh = lat.size
    val busyS = window.map(Sync.durMs(_, "triggerExecution")).sum / 1000.0
    e2e(fresh / busyS, lat, watch)
    val late = plan.indices.map(k => (addedAt(k) - plan(k).dueMs).toDouble).max
    val sizes = plan.map(_.events.size)
    // events handed over but not yet committed, just before each
    // trigger in the window committed
    val backlog = window.map { p =>
      val end = Sync.endMs(p)
      val before = ps.takeWhile(_.batchId < p.batchId).lastOption.map(Sync.endOffset).getOrElse(-1L)
      plan.indices.filter(k => addedAt(k) <= end && offsets(k) > before).map(sizes(_)).sum
    }.max
    window.foreach(p => println(f"trigger ${p.batchId}%4d start ${Sync.startMs(p) - start}%7d ms  took ${Sync.durMs(p, "triggerExecution")}%6d ms  rows ${p.numInputRows}%6d  end offset ${Sync.endOffset(p)}"))
    println(f"sync_latency_p50_ms = ${Stats.pct(lat, 50)}%.1f ms  sync_latency_p99_ms = ${Stats.pct(lat, 99)}%.1f ms  over $fresh events at $rate/s")
    println(f"sync_backlog_max_events = $backlog events  generator_late_ms_max = $late%.1f ms  triggers = ${window.size}")
    c.h.stop()
    val errors = mutable.ArrayBuffer.empty[String]
    val blocked = checkSync(c.h, c.model, Topic.all.filter(Check.wallClockHash).map(_.table).toSet, errors)
    blockedMetrics(c.model, blocked, "dedup")
    if (tracer.enabled) {
      Sync.layerMetrics(window, fresh, m, tracer)
      m.put("source.backlog_max_events", backlog, "count")
      m.put("source.late_ms_max", late, "ms")
      layerProbes(c.h.store, c.model, plan.filter(_.fresh).flatMap(_.events).toSeq, errors)
      dashboardProbe(c.h.store)
    }
    delete(c.h.dir)
    Outcome(c.model.delivered.values.sum, 0, errors.toSeq)
  }

  // ---- dashboard reads --------------------------------------------------

  val baseRows = 5000
  val deltas = 7
  val eventsPerDelta = 400
  /** whole request cycles measured, at least: with one cycle (~8 s)
    * the throughput of eight seeds' runs spread 0.14, with two cycles
    * five seeds spread 0.06
    */
  val dashCycles = 2

  def dashboardReads(): Outcome = {
    val errors = mutable.ArrayBuffer.empty[String]
    val data = new DashData(seed, baseRows, deltas, eventsPerDelta)
    phase("generate")
    // set-up builds the store one table at a time, and each table's
    // build is one timed set-up: the median of six leaves out the first,
    // which pays the write path's one-off costs (class loading, code
    // generation, JIT) and takes several times the others
    val ds = new DashStore(spark, data, s"$work/dash")
    val times = Topic.all.indices.map { i =>
      val ms = Stats.timeMs(ds.buildTable(i))._2
      println(f"set-up ${i + 1} of ${Topic.all.size} (${Topic.all(i).table}): ${ms / 1000}%.3f s")
      ms / 1000
    }
    m.put("e2e.setup_s", Stats.median(times), "s")
    phase("setup")
    // warm-up: each request kind once, checked like the measured
    // requests (a whole cycle would cost ~4 s more per run than the
    // time budget allows)
    val warm = new DashClient(spark, ds, new Tracer(false))
    warm.cycle.distinct.foreach(k => errors ++= warm.request(warm.cycle.indexOf(k))._3)
    phase("warm-up")
    val client = new DashClient(spark, ds, tracer)
    val lat = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    val watch = new JvmWatch
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // whole cycles only, so every run measures the same request mix
    while (System.nanoTime() < deadline || lat.size < dashCycles * client.cycle.size
        || lat.size % client.cycle.size != 0) {
      try {
        val (kind, ms, errs) = client.request(lat.size)
        lat += ms
        byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        errors ++= errs
      } catch { case e: Exception => failed += 1; lat += Double.NaN; errors += s"request failed: $e" }
      if (lat.size % client.cycle.size == 0)
        println(f"cycle ${lat.size / client.cycle.size}%3d ends at ${(System.nanoTime() - t0) / 1e6}%8.0f ms")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val ok = lat.filterNot(_.isNaN).toSeq
    e2e(lat.size / wall, ok, watch)
    byKind.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"request $k%-12s n = ${v.size}%3d  p50 = ${Stats.median(v)}%8.1f ms") }
    println(f"dashboard_p50_ms = ${Stats.pct(ok, 50)}%.1f ms  dashboard_p99_ms = ${Stats.pct(ok, 99)}%.1f ms  dashboard_requests_per_s = ${lat.size / wall}%.2f over ${lat.size} requests")
    if (tracer.enabled) {
      spanMetrics()
      layerProbes(ds.store, ds.model, ds.events.toSeq, errors)
    }
    delete(ds.dir)
    Outcome(lat.size, failed, errors.toSeq)
  }

  // ---- traced-run probes ------------------------------------------------

  private def spanMetrics(): Unit =
    Seq("dashboard.register_views", "dashboard.data", "dashboard.sync_log", "dashboard.stats",
      "monitoring.table_stats", "monitoring.recent").foreach { n =>
      val d = tracer.durationsMs(n)
      m.put(s"${n}_ms", if (d.isEmpty) 0.0 else Stats.median(d), "ms")
    }

  /** Every dashboard endpoint a few times against a synced store, for
    * the read-side layer figures of the write workloads.
    */
  private def dashboardProbe(store: SnapshotStore): Unit = {
    val today = java.sql.Date.valueOf(java.time.LocalDate.now(java.time.ZoneOffset.UTC))
    (0 until 2).foreach { r =>
      Topic.all.foreach { t =>
        val trace = s"probe-$r-${t.table}"
        tracer.span("dashboard.register_views", trace)(Dashboard.registerViews(spark, store, Seq(t.table)))
        tracer.span("dashboard.data", trace)(Dashboard.data(spark, t.table, t.target.pk, t.targetCols).collect())
      }
      tracer.span("dashboard.sync_log", s"probe-$r")(Dashboard.syncLog(spark, Some("BOOK")).collect())
      tracer.span("dashboard.stats", s"probe-$r")(Dashboard.stats(spark, None).collect())
      val a = store.audit()
      tracer.span("monitoring.table_stats", s"probe-$r")(Monitoring.tableStats(a).collect())
      tracer.span("monitoring.recent", s"probe-$r")(Monitoring.recentSince(a, 50, today).collect())
    }
    spanMetrics()
  }

  /** Parse/transform cost and store figures, measured from outside on
    * the run's own envelopes and store; compaction is followed by a
    * second oracle pass over the compacted tables.
    */
  private def layerProbes(store: SnapshotStore, model: Model, events: Seq[Event],
      errors: mutable.Buffer[String]): Unit = {
    val source = {
      import spark.implicits._
      events.take(waveSize).map(e => (e.topic.name, e.json)).toDF("topic", "value").cache()
    }
    val n = source.count()
    val inner = new SyncPipeline(spark, store)
    def parsePass(): Double = Stats.timeMs(Topic.all.foreach { t =>
      tracer.span("cdc.transformed", s"cdc-${t.table}")(
        inner.transformed(source, t.mapping, t.dir).write.format("noop").mode("overwrite").save())
    })._2
    parsePass()
    m.put("cdc.us_per_event", Stats.median(Seq.fill(2)(parsePass())) * 1000.0 / n, "us/event")
    source.unpersist()

    def perTable(name: String)(f: Topic => Unit): Double =
      Stats.median(Topic.all.map(t => tracer.span(name, s"store-${t.table}")(Stats.timeMs(f(t))._2)))
    m.put("store.snapshot_ms", perTable("store.snapshot")(t =>
      store.snapshot(t.table, Check.schema(t)).write.format("noop").mode("overwrite").save()), "ms")
    m.put("store.existing_pks_ms", perTable("store.existing_pks")(t =>
      store.existingPks(t.table, Check.schema(t), t.target.pk).count()), "ms")
    m.put("store.versions", Topic.all.map(t => store.currentVersion(t.table)).sum, "count")
    m.put("store.bytes", Topic.all.map(t =>
      store.history(t.table).agg(org.apache.spark.sql.functions.sum("bytes")).head().getLong(0)).sum.toDouble, "bytes")
    m.put("store.compact_ms", perTable("store.compact")(t => store.compact(t.table)), "ms")
    Check.tables(store, model, errors)
  }

  /** Single-core baseline: one backfill wave of [[scalingWave]] events
    * on a `local[1]` session.
    * It is followed by an edge wave ([[BackfillSource.edgeWave]]), the
    * only pass of the gated workloads that sends the program through
    * upsert conversion, TARGET_NOT_FOUND and LOOP_BLOCKED; the oracle
    * checks the store and audit log after it, exactly on every topic.
    * With `streamingLayers`, the trigger, mux and dedup figures are
    * taken from the drain (warm-up wave and timed wave).
    */
  def scaling(s: SparkSession, streamingLayers: Boolean): Seq[String] = {
    s.stop()
    val one = session("local[1]", work)
    try {
      val b = startBackfill(one, s"$work/scaling")
      warmBackfill(b)
      val (rate1, _, _) = drain(b, 1, scalingWave, new Tracer(false)) // one wave
      m.put("scaling.backfill_1core_events_per_s", rate1, "1/s")
      phase("scaling")
      if (streamingLayers) Sync.layerMetrics(b.h.progresses, b.model.delivered.values.sum, m, tracer)
      def skips(t: Topic) = Seq(b.model.audit((t.table, "LOOP_BLOCKED")),
        b.model.audit((t.table, "TARGET_NOT_FOUND")), b.model.upserts(t.table))
      val before = Topic.all.map(t => t -> skips(t)).toMap
      val edge = b.src.edgeWave(edgeEvents, edgeRedeliver, Check.wallClockHash)
      edge.foreach(b.model.deliver)
      b.h.add(edge)
      b.h.processAllAvailable()
      b.h.stop()
      phase("edge wave")
      val errors = mutable.ArrayBuffer.empty[String]
      Topic.all.foreach { t =>
        val added = skips(t).zip(before(t)).map { case (n, n0) => n - n0 }
        val Seq(blocked, missing, upserts) = added
        println(f"edge wave ${t.table}%-18s expected LOOP_BLOCKED $blocked%4d  TARGET_NOT_FOUND $missing%4d  upserts $upserts%4d")
        // the check below is only meaningful if every skip path was taken
        if (added.contains(0L)) errors += s"${t.table}: the edge wave missed a skip path"
      }
      val blocked = checkSync(b.h, b.model, Set.empty, errors)
      blockedMetrics(b.model, blocked, "scaling.dedup")
      delete(b.h.dir)
      errors.toSeq
    } finally one.stop()
  }

}
