package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.Files

/** Store-op fuzzer — seam testing, systematized. The round-10
  * changedImages bug lived at the COMPOSITION of two individually-green
  * features (add-column evolution × feed-range reads) and only a
  * composed spec caught it; this suite generates seeded-random op
  * sequences over one table — commitDelta / compact / evolve-add-column
  * / syncFromStore — and checks EVERY step against a driver-side model:
  *
  *  - `snapshot` == the model's current state after every op;
  *  - `snapshotAt(v)` == the model's recorded state at every version;
  *  - `changeFeed(i, j)` == the model's recorded events for the range;
  *  - `netChanges(i, j)` == the model's endpoint classification;
  *  - the synced JDBC target == the model whenever a sync lands.
  *
  * The model replays the engine's OWN apply semantics (INSERT upserts,
  * UPDATE applies only to existing keys, DELETE of a missing key
  * no-ops) sequentially per event — any divergence between "merge the
  * events on read" and "apply them one at a time" is a real bug.
  */
class StoreFuzzSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftfuzz;create=true"

  private case class Evt(seq: Long, op: String, pk: Long, vals: Map[String, String])

  private type State = Map[Long, Map[String, String]]

  /** Driver-side model: states / events indexed by store version. */
  private final class Model {
    var state: State = Map.empty
    val states = scala.collection.mutable.ArrayBuffer[State](Map.empty)
    val events = scala.collection.mutable.ArrayBuffer[Seq[Evt]](Seq.empty)
    var dataCols: Seq[String] = Seq("VAL")

    def applySequential(evts: Seq[Evt]): State =
      evts.sortBy(e => (e.seq, e.pk)).foldLeft(state) { (s, e) =>
        e.op match {
          case "INSERT" => s + (e.pk -> e.vals)
          case "UPDATE" => if (s.contains(e.pk)) s + (e.pk -> e.vals) else s
          case "DELETE" => s - e.pk
        }
      }

    /** Record the state/events at `newVersion`; versions skipped in
      * between (forced compaction boundaries) carry the pre-op state.
      */
    def record(newVersion: Int, newState: State, evts: Seq[Evt]): Unit = {
      while (states.length < newVersion) {
        states += state; events += Seq.empty
      }
      states += newState; events += evts
      assert(states.length == newVersion + 1, "model/version drift")
      state = newState
    }
  }

  private def eventsDf(evts: Seq[Evt], dataCols: Seq[String]): DataFrame = {
    val schema = StructType(
      Seq(StructField("seq", LongType), StructField("operation", StringType),
        StructField("ID", LongType)) ++
        dataCols.map(c => StructField(c, StringType)))
    val rows = evts.map(e =>
      Row.fromSeq(Seq(e.seq, e.op, e.pk) ++ dataCols.map(c => e.vals.get(c).orNull)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Collect a (ID, data…) frame into the model's shape, null-safe. */
  private def collectState(df: DataFrame): State = {
    val dataCols = df.columns.filterNot(_ == "ID")
    df.collect().map { r =>
      r.getLong(r.fieldIndex("ID")) ->
        dataCols.flatMap(c => Option(r.getAs[String](c)).map(c -> _)).toMap
    }.toMap
  }

  private def assertStateEquals(df: DataFrame, want: State, what: String): Unit = {
    val cols = df.columns.filterNot(_ == "ID").toSet
    val wantVisible = want.map { case (pk, vals) =>
      pk -> vals.filter { case (c, _) => cols.contains(c) }
    }
    assert(collectState(df) == wantVisible, what)
  }

  private def ddl(sql: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try sql.foreach(st.executeUpdate) finally st.close()
    } finally c.close()
  }

  /** Run one sequence; returns the names of the ops it ran. */
  private def runSequence(seqIdx: Int, seed: Long): Set[String] = {
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory(s"graft-fuzz-$seqIdx").toString
    val store = new SnapshotStore(spark, s"$dir/store", compactEvery = 3)
    val m = new Model
    var seqCtr = 1L
    val target = s"FZT$seqIdx"
    ddl(s"CREATE TABLE $target (ID BIGINT PRIMARY KEY, VAL VARCHAR(200))")

    def nextSeq(): Long = { val s = seqCtr; seqCtr += 1; s }

    def freshVals(): Map[String, String] =
      m.dataCols.map(c => c -> s"${c.toLowerCase}${nextSeq()}").toMap

    def randomEvents(n: Int): Seq[Evt] = (0 until n).map { _ =>
      val pk = rnd.nextInt(12).toLong
      val op =
        if (m.state.contains(pk)) Seq("INSERT", "UPDATE", "UPDATE", "DELETE")(rnd.nextInt(4))
        else Seq("INSERT", "INSERT", "INSERT", "UPDATE", "DELETE")(rnd.nextInt(5))
      Evt(nextSeq(), op, pk, freshVals())
    }

    def doCommit(): Unit = {
      val evts = randomEvents(1 + rnd.nextInt(5))
      store.commitDelta("F", eventsDf(evts, m.dataCols), "ID", "seq",
        m.dataCols)
      m.record(store.currentVersion("F"), m.applySequential(evts), evts)
    }

    def doEvolve(): Unit = {
      m.dataCols = m.dataCols :+ s"V${m.dataCols.length + 1}"
      doCommit() // first commit in the new layout forces the boundary
    }

    def doCompact(): Unit = {
      val pre = store.currentVersion("F")
      store.compact("F") // content-preserving; no-op when already a base
      if (store.currentVersion("F") != pre)
        m.record(store.currentVersion("F"), m.state, Seq.empty)
    }

    def doSync(): Unit = {
      graft.sources.Jdbc.syncFromStore(store, "F", url, target, s"FZS$seqIdx",
        stagingColumnTypes = Some((m.dataCols.map(c => s"$c VARCHAR(200)") :+
          "CHANGE_TYPE VARCHAR(10)").mkString(", ")))
      assertStateEquals(
        graft.sources.Jdbc.read(spark, url, target, new java.util.Properties),
        m.state, s"synced JDBC target drifted (seed $seed)")
    }

    val ran = scala.collection.mutable.Set.empty[String]
    def op(name: String)(f: => Unit): Unit = { ran += name; f }
    val len = 6 + rnd.nextInt(4)
    (0 until len).foreach { _ =>
      rnd.nextInt(8) match {
        case 0 | 1 | 2 | 3 => op("commit")(doCommit())
        case 4             =>
          if (m.dataCols.length < 3) op("evolve")(doEvolve()) else op("commit")(doCommit())
        case 5             => op("compact")(doCompact())
        case _             => op("sync")(doSync())
      }
      // invariant after EVERY op: merge-on-read == the model
      val cur = store.currentVersion("F")
      if (cur == 0) assert(m.state.isEmpty)
      else assertStateEquals(store.snapshot("F", null), m.state,
        s"snapshot drifted after an op (seed $seed)")
    }

    // ---- end-of-sequence range checks --------------------------------
    val cur = store.currentVersion("F")
    if (cur >= 1) {
      // snapshotAt at every version
      (1 to cur).foreach { v =>
        assertStateEquals(store.snapshotAt("F", v), m.states(v),
          s"snapshotAt(v$v) drifted (seed $seed)")
      }
      // changeFeed == recorded events; netChanges == endpoint diff,
      // over random ranges
      (0 until 3).foreach { _ =>
        val i = rnd.nextInt(cur + 1)
        val j = i + rnd.nextInt(cur - i + 1)
        val feed = store.changeFeed("F", i, j)
        val fCols = feed.columns.drop(4).toSeq // commit_version, seq, op, ID
        val gotFeed = feed.collect().map { r =>
          (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
            fCols.map(c => Option(r.getAs[String](c))))
        }.toSet
        val wantFeed = (i + 1 to j).flatMap { v =>
          m.events(v).map(e =>
            (v, e.seq, e.op, e.pk, fCols.map(e.vals.get)))
        }.toSet
        assert(gotFeed == wantFeed, s"changeFeed($i,$j) drifted (seed $seed)")

        val net = store.netChanges("F", i, j)
        val nCols = net.columns.drop(2).toSeq
        val gotNet = net.collect().map { r =>
          (r.getLong(0), r.getString(1), nCols.map(c => Option(r.getAs[String](c))))
        }.toSet
        val touched = (i + 1 to j).flatMap(v => m.events(v).map(_.pk)).toSet
        val wantNet = touched.flatMap { pk =>
          (m.states(i).contains(pk), m.states(j).contains(pk)) match {
            case (false, true) =>
              Some((pk, "INSERT", nCols.map(m.states(j)(pk).get)))
            case (true, true) =>
              Some((pk, "UPDATE", nCols.map(m.states(j)(pk).get)))
            case (true, false) =>
              Some((pk, "DELETE", nCols.map(_ => None: Option[String])))
            case _ => None
          }
        }
        assert(gotNet == wantNet, s"netChanges($i,$j) drifted (seed $seed)")
      }
    }
    ran.toSet
  }

  test("50 seeded-random op sequences: snapshot/feed/netChanges/sync/clone all match the model") {
    val n = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(50)
    val ran = (0 until n).flatMap(i => runSequence(i, seed = 1000L + i)).toSet
    // the full run exercises every op
    if (n >= 50) assert(ran == Set("commit", "evolve", "compact", "sync"), s"ops run: $ran")
  }
}
