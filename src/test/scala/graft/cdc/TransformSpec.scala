package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class TransformSpec extends SparkSpec {
  import spark.implicits._

  private val fixedNow = lit("2026-01-01 00:00:00").cast("timestamp")

  private def asisBookEvents = Seq(
    // (op, BOOK_ID, BOOK_TITLE, AUTHOR, CATEGORY, STATUS, REG_DATE, MOD_DATE)
    ("INSERT", 1L, "홍길동전", "허균", "01", "Y",
      Timestamp.valueOf("2024-01-01 10:00:00"), null.asInstanceOf[Timestamp]),
    ("UPDATE", 2L, "상대성이론", "아인슈타인", "99", "N",
      null.asInstanceOf[Timestamp], Timestamp.valueOf("2024-02-02 11:00:00")))
    .toDF("operation", "BOOK_ID", "BOOK_TITLE", "AUTHOR", "CATEGORY", "STATUS", "REG_DATE", "MOD_DATE")

  test("BOOK ASIS→TOBE: rename, code map, YnToBit, cast+default, literals") {
    val out = Transform(asisBookEvents, Registry.book, Direction.AsisToTobe,
      now = fixedNow).orderBy("BOOK_ID").collect()

    val r1 = out(0)
    assert(r1.getAs[String]("TITLE") == "홍길동전")
    assert(r1.getAs[String]("AUTHOR_NAME") == "허균")
    assert(r1.getAs[String]("CATEGORY_CD") == "LIT") // 01 → LIT
    assert(r1.getAs[java.math.BigDecimal]("IS_ACTIVE").intValue == 1)
    assert(r1.getAs[Timestamp]("CREATED_AT") == Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(r1.getAs[String]("CREATED_BY") == "SYNC")

    val r2 = out(1)
    // T-04: unmapped code 99 passes through (FN_CONVERT_CODE fallback)
    assert(r2.getAs[String]("CATEGORY_CD") == "99")
    assert(r2.getAs[java.math.BigDecimal]("IS_ACTIVE").intValue == 0)
    // REG_DATE null → defaultNow
    assert(r2.getAs[Timestamp]("CREATED_AT") == Timestamp.valueOf("2026-01-01 00:00:00"))
    // MOD_DATE cast, no default
    assert(r2.getAs[Timestamp]("UPDATED_AT") == Timestamp.valueOf("2024-02-02 11:00:00"))
  }

  test("BOOK TOBE→ASIS reverse: BitToYn, reverse code map, date trunc, drop") {
    val tobe = Seq(
      ("INSERT", 1L, "t", "a", "LIT", 1, Timestamp.valueOf("2024-03-03 09:30:00"),
        Timestamp.valueOf("2024-03-04 10:30:00"), "SYNC", "SYNC"))
      .toDF("operation", "BOOK_ID", "TITLE", "AUTHOR_NAME", "CATEGORY_CD", "IS_ACTIVE",
        "CREATED_AT", "UPDATED_AT", "CREATED_BY", "UPDATED_BY")
    val out = Transform(tobe, Registry.book, Direction.TobeToAsis, now = fixedNow).collect()
    val r = out(0)
    assert(r.getAs[String]("BOOK_TITLE") == "t")
    assert(r.getAs[String]("CATEGORY") == "01") // LIT → 01
    assert(r.getAs[String]("STATUS") == "Y")
    // Oracle DATE semantics: date+time at second precision
    assert(r.getAs[Timestamp]("REG_DATE") == Timestamp.valueOf("2024-03-03 09:30:00"))
    // CREATED_BY/UPDATED_BY dropped (T6): not in output schema
    assert(!out(0).schema.fieldNames.contains("CREATED_BY"))
  }

  test("MEMBER round trip: mapped values survive ASIS→TOBE→ASIS") {
    val asis = Seq(("INSERT", 1L, "kim", "k@x.com", "A", "Y",
      Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("operation", "MEMBER_ID", "MEMBER_NAME", "EMAIL", "MEMBER_TYPE", "STATUS", "REG_DATE")
    val tobe = Transform(asis, Registry.member, Direction.AsisToTobe, now = fixedNow)
    assert(tobe.head().getAs[String]("MEMBER_TYPE_CD") == "ADMIN")
    val back = Transform(tobe, Registry.member, Direction.TobeToAsis, now = fixedNow)
    val r = back.head()
    assert(r.getAs[String]("MEMBER_TYPE") == "A")
    assert(r.getAs[String]("STATUS") == "Y")
    assert(r.getAs[String]("EMAIL") == "k@x.com")
  }

  test("one-directional mappings refuse the wrong direction") {
    intercept[IllegalArgumentException] {
      Transform(asisBookEvents, Registry.legacyCode, Direction.TobeToAsis)
    }
  }
}
