package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's in-engine scalar-function surface (SURVEY §2.5), as
  * composable codegen'd `Column` builders — no UDFs in the hot path.
  *
  * Formatting contract (FIXTURES.md §3): timestamps RFC3339 UTC with `Z`;
  * dates ISO `yyyy-MM-dd`; bytes base64; NUMERIC plain string with
  * trailing zeros trimmed.
  */
object Formats {

  /** RFC3339 UTC with `Z` — `StructToJsonConverter.java:59`
    * (`Timestamp.toString`). Assumes session timezone UTC. */
  def rfc3339(c: Column): Column =
    date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** ISO local time from a timestamp — `RecordToStructConverter.java:243-249`. */
  def isoLocalTime(c: Column): Column = date_format(c, "HH:mm:ss")

  /** date → epoch days — Avro `date` logical type
    * (`StructToRecordConverter.java:75-79`). */
  def toEpochDays(c: Column): Column = datediff(c, to_date(lit("1970-01-01")))

  /** timestamp ⇄ epoch millis/micros/seconds
    * (`StructToRecordConverter.java:86`, `StructToTableRowConverter.java:90`). */
  def toEpochMillis(c: Column): Column = unix_millis(c)
  def toEpochMicros(c: Column): Column = unix_micros(c)
  def fromEpochMicros(c: Column): Column = timestamp_micros(c)
  def toEpochSeconds(c: Column): Column = unix_seconds(c)

  /** NUMERIC → plain string, trailing zeros trimmed
    * (`RecordToStructConverter.java:258-274`): "1.2300" → "1.23",
    * "5.000" → "5", integers untouched. Pure expression — stays inside
    * whole-stage codegen. */
  def decimalTrimString(c: Column): Column = {
    val s = c.cast("string")
    when(s.contains("."),
      regexp_replace(regexp_replace(s, "0+$", ""), "\\.$", ""))
      .otherwise(s)
  }

  /** Split-key of the dynamic sinks (P15): field value as string, null → ""
    * (`SpannerToText.java:119-122`). */
  def splitKey(c: Column): Column = coalesce(c.cast("string"), lit(""))
}
