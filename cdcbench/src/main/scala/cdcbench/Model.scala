package cdcbench

import scala.collection.mutable
import graft.cdc.{CodeMapping, ColumnSpec, Direction, Registry, TableMapping, TableSide, WireType}

/** Timestamp value of the model, epoch milliseconds (UTC). */
final case class Ts(ms: Long)

/** A post-transform value set from the wall clock (`DefaultNow`, or a
  * defaulted `CastTimestamp` whose source is null). The model cannot
  * know it, so it is left out of value compares and of loop-hash keys.
  */
case object WallClock

/** One of the six synced (mapping, direction) topics, with the column
  * roles the generator needs. Everything here is read from the
  * program's configuration (`Registry`, `CodeMapping.defaultRows`);
  * the semantics of each spec are implemented by [[Model]] itself.
  */
final case class Topic(mapping: TableMapping, dir: Direction.Value) {
  val name: String = Registry.topicFor(dir, mapping)
  val source: TableSide = mapping.sideFor(dir)
  val target: TableSide = mapping.targetFor(dir)
  val specs: Seq[(String, ColumnSpec)] = mapping.specsFor(dir)
  val targetCols: Seq[String] = specs.map(_._1)
  val valueCols: Seq[String] = targetCols.filterNot(_ == target.pk)
  val table: String = target.table
  val schemaName: String = if (dir == Direction.AsisToTobe) "ASIS_USER" else "TOBE_USER"
  val system: String = Direction.sourceSystem(dir)
  val stringPk: Boolean = source.columns.exists(c => c._1 == source.pk && c._2 == WireType.Str)
}

object Topic {
  /** The six topics in a fixed order (by target table). */
  lazy val all: Seq[Topic] =
    Registry.byTopic.values.toSeq.map { case (m, d) => Topic(m, d) }.sortBy(_.table)
}

/** One change event as delivered to the program: its Debezium envelope
  * plus the logical content the model replays. `image` is the image the
  * program reads (`after`, or `before` for a delete).
  */
final case class Event(
    topic: Topic, op: String, pk: Any, image: Map[String, Any],
    tsMs: Long, json: String)

object Values {
  /** Canonical text of a model or Spark value, for equality checks. */
  def canon(v: Any): String = v match {
    case null => "<null>"
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts:${t.getTime}"
    case Ts(ms) => s"ts:$ms"
    case WallClock => "<now>"
    case s: String => s
    case other => other.toString
  }
}

/** Seeded event generator. Its inputs never leave the result to
  * chance:
  *  - event time is strictly increasing per key (the program orders a
  *    key's events by `unix_micros(source_ts)`; ties would make its
  *    `max_by` ambiguous) — callers pass increasing `tsMs`;
  *  - DATE/TIMESTAMP values are whole seconds (`CastDate` truncates
  *    to the second);
  *  - sources of wall-clock defaults (`CastTimestamp(defaultNow)`) are
  *    never null;
  *  - every genuine change carries a new value in a unique text
  *    column, so only a redelivery shares a loop hash with another
  *    event.
  * Wire encodings vary per event (wrapped and bare envelopes, numbers
  * as strings or Debezium VariableScaleDecimal structs, timestamps as
  * epoch millis, micros or days, snapshot-read `r` inserts) so the
  * program's envelope parser runs every branch.
  */
final class Generator(seed: Long) {
  import Generator._
  private val rnd = new java.util.Random(seed)
  private var changeNo = 0L

  private val roles: Map[Topic, Seq[(String, WireType, Role)]] = Topic.all.map { t =>
    val cols = t.source.columns.map { case (c, w) =>
      val uses = t.specs.map(_._2)
      val role: Role =
        if (c == t.source.pk) PkRole
        else uses.collectFirst {
          case ColumnSpec.CodeMapped(`c`, g) =>
            Code(CodeMapping.defaultRows
              .filter(r => r.MAP_GROUP == g && r.SOURCE_SYSTEM == t.system)
              .map(_.SOURCE_VALUE).toIndexedSeq)
          case ColumnSpec.YnToBit(`c`) => Yn
          case ColumnSpec.BitToYn(`c`) => Bit
          case ColumnSpec.CastTimestamp(`c`, true) => TimeRequired
        }.getOrElse(w match {
          case WireType.Temporal => TimeOptional
          case WireType.Str => UniqueText
          case WireType.Num => Number
        })
      (c, w, role)
    }
    // a unique text column that reaches the target is what keeps
    // genuine changes' loop hashes distinct
    require(t.specs.exists {
      case (_, ColumnSpec.Direct(src)) => cols.exists(c => c._1 == src && c._3 == UniqueText)
      case _ => false
    }, s"topic ${t.name} has no unique text column reaching the target")
    t -> cols
  }.toMap

  private val baseSec = 1767225600L // 2026-01-01T00:00:00Z

  /** A fresh source image for `pk`: every unique text column carries
    * the global change number.
    */
  def image(t: Topic, pk: Any): Map[String, Any] = {
    changeNo += 1
    roles(t).map { case (c, _, role) =>
      c -> (role match {
        case PkRole => pk
        case UniqueText => s"${c.toLowerCase}-$changeNo"
        case Code(vs) => if (rnd.nextInt(10) == 0) "ZZ" else vs(rnd.nextInt(vs.size))
        case Yn => if (rnd.nextInt(4) == 0) "N" else "Y"
        case Bit => BigDecimal(if (rnd.nextInt(4) == 0) 0 else 1)
        case TimeRequired => Ts(seconds())
        case TimeOptional => if (rnd.nextInt(5) == 0) null else Ts(seconds())
        case Number => BigDecimal(rnd.nextInt(100000))
      })
    }.toMap
  }

  /** Whole seconds; one in eight at midnight so the epoch-days encoding
    * is representable.
    */
  private def seconds(): Long =
    if (rnd.nextInt(8) == 0) (baseSec / 86400 - rnd.nextInt(3000)) * 86400L * 1000L
    else (baseSec - rnd.nextInt(100000000)) * 1000L

  def pkValue(t: Topic, n: Long): Any =
    if (t.stringPk) f"C$n%09d" else BigDecimal(n)

  /** The envelope for one change. `op` is INSERT/UPDATE/DELETE;
    * `before`/`after` are source images (null where Debezium sends
    * null).
    */
  def envelope(t: Topic, op: String, before: Map[String, Any],
      after: Map[String, Any], tsMs: Long): Event = {
    val code = op match {
      case "INSERT" => if (rnd.nextInt(20) == 0) "r" else "c"
      case "UPDATE" => "u"
      case "DELETE" => "d"
    }
    val sb = new StringBuilder(512)
    val wrapped = rnd.nextInt(7) != 0
    if (wrapped) sb.append("""{"schema":{"type":"struct","name":"envelope"},"payload":""")
    sb.append("{\"op\":\"").append(code).append("\",\"before\":")
    img(t, before, sb)
    sb.append(",\"after\":")
    img(t, after, sb)
    sb.append(",\"source\":{\"schema\":\"").append(t.schemaName)
      .append("\",\"table\":\"").append(t.source.table)
      .append("\"},\"ts_ms\":").append(tsMs).append('}')
    if (wrapped) sb.append('}')
    val read = if (op == "DELETE") before else after
    Event(t, op, read(t.source.pk), read, tsMs, sb.toString)
  }

  private def img(t: Topic, image: Map[String, Any], sb: StringBuilder): Unit =
    if (image == null) sb.append("null")
    else {
      sb.append('{')
      var first = true
      roles(t).foreach { case (c, w, _) =>
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(c).append("\":")
        (image(c), w) match {
          case (null, _) => sb.append("null")
          case (s: String, _) => sb.append('"').append(s).append('"')
          case (b: BigDecimal, _) =>
            if (rnd.nextInt(10) == 0) {
              val u = b.bigDecimal
              val bytes = u.unscaledValue.toByteArray
              sb.append("{\"scale\":").append(u.scale).append(",\"value\":\"")
                .append(java.util.Base64.getEncoder.encodeToString(bytes)).append("\"}")
            } else sb.append('"').append(b.bigDecimal.toPlainString).append('"')
          case (Ts(ms), _) =>
            if (ms % 86400000L == 0 && rnd.nextBoolean()) sb.append(ms / 86400000L)
            else if (rnd.nextInt(6) == 0) sb.append(ms * 1000L)
            else sb.append(ms)
          case (v, _) => throw new IllegalStateException(s"unencodable $c=$v")
        }
      }
      sb.append('}')
    }
}

object Generator {
  /** What a source column carries, read off the specs that use it. */
  private sealed trait Role
  private case object PkRole extends Role
  private case object UniqueText extends Role
  private final case class Code(values: IndexedSeq[String]) extends Role
  private case object Yn extends Role
  private case object Bit extends Role
  private case object TimeRequired extends Role
  private case object TimeOptional extends Role
  private case object Number extends Role
}

/** Independent model of the sync's outcome, replayed over the
  * delivered event log in arrival order. It reads the program's
  * configuration but none of its code (no `Apply`, no Spark):
  *  - loop prevention: an event is LOOP_BLOCKED when an event that
  *    passed (was not blocked) with the same target table, pk, op and
  *    post-transform values lies within ±5 min event time; blocked
  *    events do not refresh the window;
  *  - per key in arrival order: INSERT on an existing row becomes an
  *    update (`upsert_converted`); UPDATE or DELETE on an absent row is
  *    skipped as TARGET_NOT_FOUND.
  * Wall-clock columns take no part in either rule, so on a topic whose
  * program-side loop hash includes one, the model's blocked count is
  * what the rule expects, not what the program can see.
  */
final class Model {
  val windowMs: Long = 5 * 60 * 1000L

  private val codes: Map[(String, String, String), String] =
    CodeMapping.defaultRows.map(r => (r.MAP_GROUP, r.SOURCE_SYSTEM, r.SOURCE_VALUE) -> r.TARGET_VALUE).toMap

  /** target table → pk (canonical) → target row */
  val tables: mutable.Map[String, mutable.Map[String, Map[String, Any]]] =
    mutable.Map(Topic.all.map(t => t.table -> mutable.Map.empty[String, Map[String, Any]]): _*)
  /** (table, status) → expected audit rows */
  val audit: mutable.Map[(String, String), Long] = mutable.Map.empty.withDefaultValue(0L)
  val upserts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val delivered: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  private val lastPassed = mutable.HashMap.empty[String, Long]

  /** The post-transform target row for a source image. */
  def transform(t: Topic, img: Map[String, Any]): Map[String, Any] =
    t.specs.map { case (c, spec) =>
      c -> (spec match {
        case ColumnSpec.Direct(src) => img(src)
        case ColumnSpec.CodeMapped(src, g) => img(src) match {
          case null => null
          case s: String => codes.getOrElse((g, t.system, s), s)
          case other => other
        }
        case ColumnSpec.YnToBit(src) => BigDecimal(if (img(src) == "Y") 1 else 0)
        case ColumnSpec.BitToYn(src) => img(src) match {
          case b: BigDecimal if b.toBigInt == 1 => "Y"
          case _ => "N"
        }
        case ColumnSpec.CastTimestamp(src, defaultNow) => img(src) match {
          case null => if (defaultNow) WallClock else null
          case v => v
        }
        case ColumnSpec.CastDate(src) => img(src) match {
          case Ts(ms) => Ts(Math.floorDiv(ms, 1000L) * 1000L)
          case other => other
        }
        case ColumnSpec.DefaultLit(v) => v
        case ColumnSpec.DefaultNow => WallClock
      })
    }.toMap

  def pkKey(pk: Any): String = Values.canon(pk)

  /** Rows present before the log starts (set-up preloads). */
  def preload(t: Topic, img: Map[String, Any]): Unit =
    tables(t.table)(pkKey(img(t.source.pk))) = transform(t, img)

  /** Replay one delivered event; returns its audit status. */
  def deliver(e: Event): String = {
    val t = e.topic
    val row = transform(t, e.image)
    val pk = pkKey(e.pk)
    delivered(t.table) += 1
    val key = (Seq(t.table, pk, e.op) ++ t.valueCols.map(c => Values.canon(row(c))).map {
      case "<now>" => ""
      case v => v
    }).mkString("|")
    val blocked = lastPassed.get(key).exists(la => e.tsMs - la <= windowMs && e.tsMs >= la - windowMs)
    val status =
      if (blocked) "LOOP_BLOCKED"
      else {
        lastPassed(key) = e.tsMs
        val rows = tables(t.table)
        val exists = rows.contains(pk)
        e.op match {
          case "INSERT" =>
            if (exists) upserts(t.table) += 1
            rows(pk) = row; "SUCCESS"
          case "UPDATE" =>
            if (exists) { rows(pk) = row; "SUCCESS" } else "TARGET_NOT_FOUND"
          case "DELETE" =>
            if (exists) { rows.remove(pk); "SUCCESS" } else "TARGET_NOT_FOUND"
        }
      }
    audit((t.table, status)) += 1
    status
  }
}

object ModelSelfCheck {
  /** Replays a hand-written log on one topic and compares with
    * hand-computed outcomes; throws on any difference.
    */
  def run(): Unit = {
    val t = Topic.all.find(_.table == "TB_BOOK").get
    val m = new Model
    def img(id: Int, title: String, cat: String, status: String) = Map[String, Any](
      "BOOK_ID" -> BigDecimal(id), "BOOK_TITLE" -> title, "AUTHOR" -> "a",
      "CATEGORY" -> cat, "STATUS" -> status, "REG_DATE" -> Ts(1000000000000L),
      "MOD_DATE" -> Ts(1000000001000L))
    def ev(op: String, i: Map[String, Any], ts: Long) =
      Event(t, op, i("BOOK_ID"), i, ts, "")
    val min = 60000L
    val log = Seq(
      ev("INSERT", img(1, "x1", "01", "Y"), 0) -> "SUCCESS",
      ev("INSERT", img(1, "x1", "01", "Y"), 1 * min) -> "LOOP_BLOCKED", // same change, 1 min later
      ev("UPDATE", img(1, "x2", "02", "N"), 2 * min) -> "SUCCESS",
      ev("INSERT", img(1, "x3", "09", "Y"), 3 * min) -> "SUCCESS",      // upsert on existing row
      ev("INSERT", img(1, "x1", "01", "Y"), 6 * min) -> "SUCCESS",      // 6 min after the first: outside ±5 min
      ev("UPDATE", img(2, "y1", "01", "Y"), 7 * min) -> "TARGET_NOT_FOUND",
      ev("DELETE", img(2, "y1", "01", "Y"), 8 * min) -> "TARGET_NOT_FOUND",
      ev("DELETE", img(1, "x1", "01", "Y"), 9 * min) -> "SUCCESS",
      ev("DELETE", img(1, "x1", "01", "Y"), 10 * min) -> "LOOP_BLOCKED",
      ev("UPDATE", img(2, "y1", "01", "Y"), 11 * min) -> "LOOP_BLOCKED", // the skipped update at 7 min still passed the loop check
      ev("INSERT", img(3, "z1", "03", "N"), 12 * min) -> "SUCCESS")
    log.foreach { case (e, want) =>
      val got = m.deliver(e)
      require(got == want, s"model self-check: event at ${e.tsMs / min} min: $got, expected $want")
    }
    val rows = m.tables("TB_BOOK")
    require(rows.keySet == Set("3"), s"model self-check: rows ${rows.keySet}")
    val r3 = rows("3")
    require(r3("TITLE") == "z1" && r3("CATEGORY_CD") == "HIS" && r3("IS_ACTIVE") == BigDecimal(0) &&
      r3("CREATED_BY") == "SYNC" && r3("CREATED_AT") == Ts(1000000000000L),
      s"model self-check: row 3 = $r3")
    require(m.transform(t, img(5, "q", "09", "Y"))("CATEGORY_CD") == "09",
      "model self-check: code-map miss must pass the source value through")
    require(m.upserts("TB_BOOK") == 2, s"model self-check: upserts ${m.upserts("TB_BOOK")}")
    require(m.audit(("TB_BOOK", "LOOP_BLOCKED")) == 3 && m.audit(("TB_BOOK", "TARGET_NOT_FOUND")) == 2 &&
      m.audit(("TB_BOOK", "SUCCESS")) == 6, s"model self-check: audit ${m.audit}")
  }
}
