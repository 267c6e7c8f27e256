package graft.formats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.GraftFunctions

/** Row → line formatters (reference converters P1/P2): schema-driven
  * `Column` expression builders, composed per static schema at plan time —
  * the Spark-first replacement for the reference's per-row recursive
  * converters (`/root/reference/src/main/java/com/mercari/solution/util/
  * converter/StructToJsonConverter.java:29-135`, `StructToCsvConverter
  * .java:32-43`). Everything stays inside whole-stage codegen: string
  * values escape through one native expression
  * ([[graft.plans.JsonEscape]]), so even a wide row's line compiles
  * within the JVM's method-size limit.
  *
  * Formatting contract (FIXTURES.md §3): field order = schema order;
  * timestamps RFC3339 UTC `Z` (sub-second millis kept only when
  * non-zero, like `com.google.cloud.Timestamp.toString`); dates ISO;
  * bytes base64; null → JSON `null` / empty CSV field.
  */
object RowFormats {

  /** RFC3339 with `Z`; whole seconds render without a fraction. The cast
    * handles TIMESTAMP_NTZ inputs (UTC session timezone → same instant). */
  private def rfc3339(c0: Column): Column = {
    val c = c0.cast("timestamp")
    when(unix_micros(c) % 1000000 === 0,
      date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .otherwise(date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
  }

  /** Scalar rendered as a JSON value fragment (with quotes where needed). */
  private def jsonValue(c: Column, dt: DataType): Column = dt match {
    case StringType => concat(lit("\""), GraftFunctions.jsonEscape(c), lit("\""))
    case BinaryType => concat(lit("\""), base64(c), lit("\""))
    case DateType => concat(lit("\""), date_format(c, "yyyy-MM-dd"), lit("\""))
    case TimestampType | TimestampNTZType =>
      concat(lit("\""), rfc3339(c), lit("\""))
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | _: DecimalType => c.cast("string")
    case ArrayType(et, _) =>
      // null elements render as JSON null (concat_ws would silently drop
      // them); a null array itself yields null → caller's coalesce.
      when(c.isNull, lit(null).cast("string")).otherwise(
        concat(lit("["),
          concat_ws(",", transform(c, e => coalesce(jsonValue(e, et), lit("null")))),
          lit("]")))
    case st: StructType =>
      when(c.isNull, lit(null).cast("string")).otherwise(jsonObject(c, st))
    case _ => concat(lit("\""), GraftFunctions.jsonEscape(c.cast("string")), lit("\""))
  }

  /** A field NAME rendered as a JSON object key (names are plan-time
    * Scala strings, so this is build-time escaping — reserved characters
    * in column names must not break the line's framing). */
  private def jsonKey(name: String): String =
    "\"" + name.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case '\b' => "\\b"
      case '\f' => "\\f"
      case ch if ch < 0x20 => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\":"

  /** JSON object over a struct column with the reference's null policy:
    * null fields are SERIALIZED as `"f":null` (gson `addProperty` with
    * null — SURVEY P1 "null→JSON null"). */
  private def jsonObject(c: Column, st: StructType): Column = {
    val parts = st.fields.map { f =>
      concat(lit(jsonKey(f.name)),
        coalesce(jsonValue(c.getField(f.name), f.dataType), lit("null")))
    }
    concat(lit("{"), concat_ws(",", parts.toIndexedSeq: _*), lit("}"))
  }

  /** `col()` on the literal name (backtick-quoted: a dotted column name
    * must not be parsed as a struct path). */
  private def colExact(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** One JSON line per row, fields in schema order. */
  def jsonLine(df: DataFrame): Column = {
    val parts = df.schema.fields.map { f =>
      concat(lit(jsonKey(f.name)),
        coalesce(jsonValue(colExact(f.name), f.dataType), lit("null")))
    }
    concat(lit("{"), concat_ws(",", parts.toIndexedSeq: _*), lit("}"))
  }

  /** Scalar rendered for CSV (no quoting yet); null handled by caller. */
  private def csvValue(c: Column, dt: DataType): Column = dt match {
    case BinaryType => base64(c)
    case DateType => date_format(c, "yyyy-MM-dd")
    case TimestampType | TimestampNTZType => rfc3339(c)
    case st: StructType => jsonObject(c, st) // nested → JSON text (SURVEY §7.5: Map.toString goldens non-contractual)
    case ArrayType(et, _) =>
      concat(lit("["), concat_ws(",", transform(c, e => jsonValue(e, et))), lit("]"))
    case _ => c.cast("string")
  }

  /** commons-csv DEFAULT quoting: quote when the value contains a comma,
    * quote, CR or LF; embedded quotes double. Null → empty field. */
  private def csvQuote(c: Column): Column =
    when(c.rlike("[\",\n\r]"),
      concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\"")))
      .otherwise(c)

  /** One CSV line per row, fields in schema order. */
  def csvLine(df: DataFrame): Column =
    concat_ws(",", df.schema.fields.map { f =>
      coalesce(csvQuote(csvValue(colExact(f.name), f.dataType)), lit(""))
    }.toIndexedSeq: _*)

  /** Format dispatch of `StructToTextConverter.convert`
    * (`util/converter/StructToTextConverter.java:25-35`). */
  def line(df: DataFrame, format: String): Column = format.toLowerCase match {
    case "json" => jsonLine(df)
    case "csv" => csvLine(df)
    case other => throw new IllegalArgumentException(s"unknown text format: $other")
  }
}
