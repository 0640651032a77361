package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decode a Debezium `VariableScaleDecimal` JSON payload
  * `{"scale": <int>, "value": "<base64 big-endian BigInteger>"}` to a
  * Spark Decimal.
  *
  * The reference decodes this shape imperatively per event
  * (`poc/sync-service-java/.../service/CdcSyncService.java:267-297`:
  * Base64 → BigInteger → scale-0 ⇒ long, else BigDecimal). Here it is a
  * native Catalyst expression with codegen — the decode runs inside
  * whole-stage codegen instead of a black-box UDF, so the surrounding
  * projection stays in one generated function (SURVEY.md §2.10).
  *
  * Input: the raw JSON string of the struct (as captured by the
  * all-string image parse); null/malformed input yields null.
  */
case class DebeziumDecimalDecode(child: Expression) extends UnaryExpression {
  // input must be a string column (the raw JSON text of the struct);
  // callers guarantee this by construction (Envelope.normalizeColumn)
  override def dataType: DataType = DebeziumDecimalDecode.outType
  override def nullable: Boolean = true
  override def prettyName: String = "debezium_decimal"

  override def nullSafeEval(input: Any): Any =
    DebeziumDecimalDecode.decode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DebeziumDecimalDecode.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $cls.decode($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DebeziumDecimalDecode {
  val outType: DecimalType = DecimalType(38, 10)

  /** Null-tolerant decode used by both interpreted and generated paths. */
  def decode(raw: UTF8String): org.apache.spark.sql.types.Decimal = {
    if (raw == null) return null
    val s = raw.toString
    try {
      // minimal tolerant parse of {"scale": n, "value": "b64"}
      val scaleM = "\"scale\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(s)
      val valueM = "\"value\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(s)
      if (scaleM.isEmpty || valueM.isEmpty) return null
      val scale = scaleM.get.group(1).toInt
      val bytes = java.util.Base64.getDecoder.decode(valueM.get.group(1))
      val unscaled = new java.math.BigInteger(bytes)
      val bd = new java.math.BigDecimal(unscaled, scale)
      Decimal(bd.setScale(outType.scale), outType.precision, outType.scale)
    } catch {
      case _: Exception => null
    }
  }

  def debezium_decimal(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(DebeziumDecimalDecode(GraftBridge.expression(c)))
  }

  /** Register as a SQL-callable function on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "debezium_decimal", exprs => DebeziumDecimalDecode(exprs.head), "built-in")
}
