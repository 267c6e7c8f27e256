package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JSON string-body escape as one native expression: `\` `"` and all of
  * U+0000–U+001F, gson's writer set. `\b \t \n \f \r` take their short
  * forms, the other controls lowercase `\u00xx`. The result goes between
  * the quotes of a JSON string value ([[graft.formats.RowFormats]]).
  *
  * Why native: a `regexp_replace` per escaped character gives every string
  * column of a JSON line its own regex stack, and on a 20-column row those
  * stacks grow the sink's whole-stage method past the JVM's 64 KB limit,
  * so the stage falls back to row-at-a-time execution. Here the generated
  * code is one static call per column.
  *
  * One pass over the UTF-8 bytes: every byte that needs escaping is ASCII
  * and never occurs inside a multi-byte sequence. A value with nothing to
  * escape comes back as the same `UTF8String`. Malformed UTF-8 is first
  * decoded through `toString` (each bad sequence → U+FFFD), the decoding
  * Spark's regex functions apply, so the output is valid UTF-8 and equals
  * the regex form's on any input (JsonEscapeSpec). */
case class JsonEscape(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_json_escape requires a string arg, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): JsonEscape =
    copy(child = newChild)

  override protected def nullSafeEval(s: Any): Any =
    JsonEscape.escape(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.JsonEscape.escape($s)")

  override def prettyName: String = "graft_json_escape"
}

object JsonEscape {
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")
  private final val Backslash: Byte = 0x5C

  /** The letter of a control's short escape (`\b \t \n \f \r`), else 0. */
  private def short(b: Int): Byte = b match {
    case 0x08 => 'b'.toByte
    case 0x09 => 't'.toByte
    case 0x0A => 'n'.toByte
    case 0x0C => 'f'.toByte
    case 0x0D => 'r'.toByte
    case _ => 0
  }

  /** Bytes that escaping `b` adds: 1 for `"`, `\` and the short forms, 5
    * for the other controls (`\u00xx`), 0 for every other byte. */
  private def extra(b: Byte): Int =
    if (b == '"' || b == Backslash) 1
    else if (b < 0 || b >= 0x20) 0
    else if (short(b) != 0) 1
    else 5

  /** Static kernel (also the codegen target). */
  def escape(in: UTF8String): UTF8String = {
    val s = if (in.isValid) in else UTF8String.fromString(in.toString)
    val n = s.numBytes
    var grow = 0
    var i = 0
    while (i < n) { grow += extra(s.getByte(i)); i += 1 }
    if (grow == 0) return s
    val out = new Array[Byte](n + grow)
    var o = 0
    i = 0
    while (i < n) {
      val b = s.getByte(i)
      extra(b) match {
        case 0 =>
          out(o) = b; o += 1
        case 1 =>
          out(o) = Backslash
          out(o + 1) = if (b < 0x20) short(b) else b // `"` and `\` follow the `\`
          o += 2
        case _ =>
          out(o) = Backslash; out(o + 1) = 'u'.toByte
          out(o + 2) = '0'.toByte; out(o + 3) = '0'.toByte
          out(o + 4) = Hex(b >> 4); out(o + 5) = Hex(b & 0xF)
          o += 6
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}
