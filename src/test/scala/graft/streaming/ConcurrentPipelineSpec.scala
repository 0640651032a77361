package graft.streaming

import graft.SparkSpec
import graft.cdc.{Direction, Registry, TableMapping}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The full production topology: ALL four mappings × both directions —
  * six (mapping, direction) queries, the reference's one-listener-per-
  * topic layout (`CdcKafkaConsumer.java:60-107`) — running
  * SIMULTANEOUSLY against ONE snapshot store, each on its own topic
  * slice and its own checkpoint. Pins:
  *
  *  - six concurrently-applied targets stay correct (no cross-table
  *    state bleed through the shared store),
  *  - the shared audit log attributes every row to the right
  *    (direction, table), with per-table statuses intact,
  *  - per-table checkpoint isolation: a round that feeds only two
  *    tables advances only those epoch markers; the idle tables'
  *    checkpoints and state are untouched and correct afterwards.
  */
class ConcurrentPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1768284000000L // 2026-01-13

  private def env(schema: String, table: String, op: String,
      img: String, tsMs: Long): String = {
    val (before, after) = if (op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"op":"$op","before":$before,"after":$after,""" +
      s""""source":{"schema":"$schema","table":"$table"},"ts_ms":$tsMs}}"""
  }

  // one deterministic image builder per source side
  private def bookAsis(id: Int, title: String) =
    s"""{"BOOK_ID":"$id","BOOK_TITLE":"$title","AUTHOR":"a","CATEGORY":"01","STATUS":"Y","REG_DATE":$t0,"MOD_DATE":null}"""
  private def bookTobe(id: Int, title: String) =
    s"""{"BOOK_ID":"$id","TITLE":"$title","AUTHOR_NAME":"a","CATEGORY_CD":"SCI","IS_ACTIVE":"1","CREATED_AT":$t0,"UPDATED_AT":null,"CREATED_BY":"SYNC","UPDATED_BY":"SYNC"}"""
  private def memberAsis(id: Int, name: String) =
    s"""{"MEMBER_ID":"$id","MEMBER_NAME":"$name","EMAIL":"m@x","MEMBER_TYPE":"A","STATUS":"Y","REG_DATE":$t0}"""
  private def memberTobe(id: Int, name: String) =
    s"""{"MEMBER_ID":"$id","MEMBER_NAME":"$name","EMAIL_ADDR":"m@x","MEMBER_TYPE_CD":"USER","IS_ACTIVE":"1","CREATED_AT":$t0,"UPDATED_AT":null}"""
  private def legacyAsis(code: String, name: String) =
    s"""{"CODE_ID":"$code","CODE_NAME":"$name","USE_YN":"Y","REG_DATE":$t0}"""
  private def svcTobe(id: Int, name: String) =
    s"""{"SERVICE_ID":"$id","SERVICE_NAME":"$name","SERVICE_TYPE_CD":"STD","IS_ACTIVE":"1","CREATED_AT":$t0}"""

  test("all 4 mappings x both directions run concurrently against one store") {
    val dir = Files.createTempDirectory("graft-concurrent").toString
    val store = new SnapshotStore(spark, s"$dir/store")
    val pipeline = new MultiplexedSyncPipeline(spark, store, trigger = Trigger.AvailableNow())

    // the six live (mapping, direction) pairs, straight from the registry
    val pairs: Seq[(TableMapping, Direction.Value)] =
      Registry.byTopic.values.toSeq.sortBy(p => p._1.entity + p._2)
    assert(pairs.size == 6)

    def slug(m: TableMapping, d: Direction.Value) = s"${m.entity}-$d"
    def inDir(m: TableMapping, d: Direction.Value) = {
      val f = new java.io.File(s"$dir/in/${slug(m, d)}"); f.mkdirs(); f.toString
    }
    pairs.foreach { case (m, d) => inDir(m, d) }
    var fileNo = 0
    def feed(m: TableMapping, d: Direction.Value, events: String*): Unit = {
      fileNo += 1
      Files.write(new java.io.File(inDir(m, d), s"f$fileNo.jsonl").toPath,
        events.mkString("\n").getBytes)
    }
    // start every pair's query CONCURRENTLY, drain all, then stop
    def round(only: Set[String] = pairs.map(p => slug(p._1, p._2)).toSet): Unit = {
      val qs = pairs.filter(p => only(slug(p._1, p._2))).map { case (m, d) =>
        pipeline.start(
          StreamSources.jsonLineFiles(spark, inDir(m, d), Registry.topicFor(d, m)),
          Seq((m, d)), s"$dir/ckpt/${slug(m, d)}")
      }
      qs.foreach(_.awaitTermination(120000))
    }

    // ---- round 1: one insert per pair, all six applied concurrently
    feed(Registry.book, Direction.AsisToTobe,
      env("ASIS_USER", "BOOK_INFO", "c", bookAsis(1, "b-one"), t0))
    feed(Registry.book, Direction.TobeToAsis,
      env("TOBE_USER", "TB_BOOK", "c", bookTobe(100, "b-hundred"), t0))
    feed(Registry.member, Direction.AsisToTobe,
      env("ASIS_USER", "MEMBER_INFO", "c", memberAsis(2, "alice"), t0))
    feed(Registry.member, Direction.TobeToAsis,
      env("TOBE_USER", "TB_MEMBER", "c", memberTobe(200, "bob"), t0))
    feed(Registry.legacyCode, Direction.AsisToTobe,
      env("ASIS_USER", "LEGACY_CODE", "c", legacyAsis("C1", "code-one"), t0))
    feed(Registry.newService, Direction.TobeToAsis,
      env("TOBE_USER", "TB_NEW_SERVICE", "c", svcTobe(300, "svc"), t0))
    round()

    assert(store.snapshot("TB_BOOK", null).head().getAs[String]("TITLE") == "b-one")
    assert(store.snapshot("TB_BOOK", null).head().getAs[String]("CATEGORY_CD") == "LIT")
    assert(store.snapshot("BOOK_INFO", null).head().getAs[String]("CATEGORY") == "02")
    assert(store.snapshot("TB_MEMBER", null).head()
      .getAs[String]("MEMBER_TYPE_CD") == "ADMIN")
    assert(store.snapshot("MEMBER_INFO", null).head().getAs[String]("MEMBER_TYPE") == "B")
    assert(store.snapshot("TB_LEGACY_CODE", null).head().getAs[String]("CODE_NAME") == "code-one")
    assert(store.snapshot("NEW_SERVICE_RECV", null).head().getAs[String]("USE_YN") == "Y")

    // ---- round 2: all six again — updates on three tables, one
    // TARGET_NOT_FOUND probe; the other three queries run with nothing
    // to do (empty topics must not disturb their tables)
    feed(Registry.book, Direction.AsisToTobe,
      env("ASIS_USER", "BOOK_INFO", "u", bookAsis(1, "b-two"), t0 + 60000))
    feed(Registry.member, Direction.TobeToAsis,
      env("TOBE_USER", "TB_MEMBER", "u", memberTobe(200, "bob2"), t0 + 60000))
    feed(Registry.legacyCode, Direction.AsisToTobe,
      env("ASIS_USER", "LEGACY_CODE", "u", legacyAsis("CX", "ghost"), t0 + 60000))
    round()

    assert(store.snapshot("TB_BOOK", null).head().getAs[String]("TITLE") == "b-two")
    assert(store.snapshot("MEMBER_INFO", null).head().getAs[String]("MEMBER_NAME") == "bob2")
    assert(store.snapshot("TB_LEGACY_CODE", null).count() == 1, "ghost update must not insert")

    // ---- round 3: ONLY two queries run (the others stay down) —
    // per-table checkpoint isolation means their tables are untouched
    val memberMetaBefore = store.currentMeta("MEMBER_INFO")
    feed(Registry.book, Direction.AsisToTobe,
      env("ASIS_USER", "BOOK_INFO", "c", bookAsis(3, "b-three"), t0 + 120000))
    feed(Registry.newService, Direction.TobeToAsis,
      env("TOBE_USER", "TB_NEW_SERVICE", "u", svcTobe(300, "svc2"), t0 + 120000))
    round(only = Set(slug(Registry.book, Direction.AsisToTobe),
      slug(Registry.newService, Direction.TobeToAsis)))

    assert(store.snapshot("TB_BOOK", null).count() == 2)
    assert(store.snapshot("NEW_SERVICE_RECV", null).head().getAs[String]("SERVICE_NM") == "svc2")
    assert(store.currentMeta("MEMBER_INFO") == memberMetaBefore,
      "idle tables' epoch markers must not move")
    assert(store.snapshot("MEMBER_INFO", null).head().getAs[String]("MEMBER_NAME") == "bob2")

    // ---- shared audit: every row attributed to the right pair
    val audit = store.audit().select($"direction", $"table_name", $"status")
      .as[(String, String, String)].collect()
    val byTable = audit.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(byTable(("ASIS_TO_TOBE", "TB_BOOK")) == Seq("SUCCESS", "SUCCESS", "SUCCESS"))
    assert(byTable(("TOBE_TO_ASIS", "BOOK_INFO")) == Seq("SUCCESS"))
    assert(byTable(("ASIS_TO_TOBE", "TB_MEMBER")) == Seq("SUCCESS"))
    assert(byTable(("TOBE_TO_ASIS", "MEMBER_INFO")) == Seq("SUCCESS", "SUCCESS"))
    assert(byTable(("ASIS_TO_TOBE", "TB_LEGACY_CODE")) ==
      Seq("SUCCESS", "TARGET_NOT_FOUND"))
    assert(byTable(("TOBE_TO_ASIS", "NEW_SERVICE_RECV")) == Seq("SUCCESS", "SUCCESS"))
    assert(audit.length == 11, s"no stray audit rows, got ${audit.toSeq}")
  }
}
