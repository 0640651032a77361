package graft.cdc

/** The SYNC_CODE_MAPPING rows (FIXTURES.md §4;
  * `poc/asis-oracle/init/03_create_mapping_tables.sql:24-35`).
  *
  * ≤ 25 rows: [[Transform]] carries each (map group, source system)
  * slice as a map literal in its projection, the way the reference's
  * `FN_CONVERT_CODE` is a scalar lookup, not a join.
  */
object CodeMapping {

  final case class CodeRow(
      MAP_GROUP: String, SOURCE_SYSTEM: String,
      SOURCE_VALUE: String, TARGET_VALUE: String)

  val defaultRows: Seq[CodeRow] = Seq(
    CodeRow("CATEGORY_MAP", "ASIS", "01", "LIT"),
    CodeRow("CATEGORY_MAP", "ASIS", "02", "SCI"),
    CodeRow("CATEGORY_MAP", "ASIS", "03", "HIS"),
    CodeRow("CATEGORY_MAP", "TOBE", "LIT", "01"),
    CodeRow("CATEGORY_MAP", "TOBE", "SCI", "02"),
    CodeRow("CATEGORY_MAP", "TOBE", "HIS", "03"),
    CodeRow("STATUS_MAP", "ASIS", "Y", "1"),
    CodeRow("STATUS_MAP", "ASIS", "N", "0"),
    CodeRow("STATUS_MAP", "TOBE", "1", "Y"),
    CodeRow("STATUS_MAP", "TOBE", "0", "N"),
    CodeRow("MEMBER_TYPE_MAP", "ASIS", "A", "ADMIN"),
    CodeRow("MEMBER_TYPE_MAP", "ASIS", "B", "USER"),
    CodeRow("MEMBER_TYPE_MAP", "ASIS", "C", "GUEST"),
    CodeRow("MEMBER_TYPE_MAP", "TOBE", "ADMIN", "A"),
    CodeRow("MEMBER_TYPE_MAP", "TOBE", "USER", "B"),
    CodeRow("MEMBER_TYPE_MAP", "TOBE", "GUEST", "C"))
}
