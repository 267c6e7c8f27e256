package graft.plans

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec

/** Differential test of the native JSON escape against the regex
  * composition it replaced in `RowFormats`: seeded random values over the
  * control characters, `"`, `\`, `/`, 1- to 4-byte UTF-8 and malformed
  * byte sequences, plus the empty string and null. Outputs are compared
  * as bytes, so a malformed input that is not decoded the same way shows
  * up (read back as a Java string, both sides would show U+FFFD). Both
  * whole-stage codegen and the interpreted path are checked. */
class JsonEscapeSpec extends SparkSpec {

  /** The retired `RowFormats.jsonEscape`: five `regexp_replace` calls, and
    * behind an `rlike` guard one more per remaining control character. */
  private val rareControls: Seq[(String, String)] =
    (0x00 to 0x1F).filterNot(Seq(0x09, 0x0A, 0x0D).contains).map { cp =>
      val repl = cp match {
        case 0x08 => "\\\\b"
        case 0x0C => "\\\\f"
        case i => f"\\\\u$i%04x"
      }
      (f"\\x$cp%02x", repl)
    }

  private def regexEscape(c: Column): Column = {
    val base =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n"),
        "\r", "\\\\r"), "\t", "\\\\t")
    when(c.rlike("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"),
      rareControls.foldLeft(base) { case (acc, (pat, repl)) =>
        regexp_replace(acc, pat, repl)
      }).otherwise(base)
  }

  private val charPool: Vector[String] =
    (0x00 to 0x1F).map(_.toChar.toString).toVector ++
      Vector("\"", "\\", "/", "a", "Z", "0", " ", "{", "é", "ß", "日", "€",
        "😀", "𐍈") // 2-, 3- and 4-byte UTF-8

  private def validString(r: Random): Array[Byte] =
    Seq.fill(r.nextInt(24))(charPool(r.nextInt(charPool.size)))
      .mkString.getBytes("UTF-8")

  /** Bytes biased to the interesting ones: controls, `"`, `\`, lead and
    * continuation bytes of multi-byte sequences, and never-valid bytes. */
  private def randomBytes(r: Random): Array[Byte] = {
    val hot = Array(0x00, 0x08, 0x0A, 0x1B, 0x1F, 0x22, 0x2F, 0x5C, 0x61,
      0x80, 0xBF, 0xC0, 0xC3, 0xE2, 0xED, 0xF0, 0xF4, 0xF5, 0xFF)
    Array.fill(r.nextInt(16)) {
      (if (r.nextBoolean()) hot(r.nextInt(hot.length)) else r.nextInt(256)).toByte
    }
  }

  /** Hand-picked malformed sequences, each beside something to escape
    * or nothing at all. */
  private val malformed: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0x61, 0xC3), Array(0xE6, 0x97), Array(0xC0, 0xAF),
    Array(0xED, 0xA0, 0x80), Array(0xF5, 0x80, 0x80, 0x80), Array(0xFF),
    Array(0x22, 0xC3, 0x0A), Array(0x5C, 0xE2, 0x82), Array(0x01, 0x80, 0x1F),
    Array(0xF0, 0x9F, 0x98)).map(_.map(_.toByte))

  /** id → input bytes (None = null), written to parquet so the projection
    * over it runs as a real scan stage, not a folded local relation. */
  private lazy val inputs: DataFrame = {
    val r = new Random(20261017L)
    val values: Seq[Option[Array[Byte]]] =
      Seq(None, Some(Array.emptyByteArray)) ++ malformed.map(Some(_)) ++
        Seq.fill(2500)(Some(validString(r))) ++ Seq.fill(2500)(Some(randomBytes(r)))
    import spark.implicits._
    val dir = tmpDir("json_escape") + "/in"
    values.zipWithIndex.map { case (v, i) => (i.toLong, v.orNull) }
      .toDF("id", "b").write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Rows whose native and regex outputs differ, compared as bytes. */
  private def differences(): Array[(Long, Array[Byte], Array[Byte], Array[Byte])] = {
    val s = col("b").cast("string")
    inputs.select(col("id"), col("b"),
        GraftFunctions.jsonEscape(s).cast("binary").as("native"),
        regexEscape(s).cast("binary").as("regex"))
      .filter(!(col("native") <=> col("regex")))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1),
        r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
  }

  private def report(d: Array[(Long, Array[Byte], Array[Byte], Array[Byte])]): String = {
    def hex(b: Array[Byte]) = Option(b).fold("null")(_.map(x => f"$x%02x").mkString(" "))
    d.take(5).map { case (id, in, n, re) =>
      s"id $id in [${hex(in)}] native [${hex(n)}] regex [${hex(re)}]"
    }.mkString(s"${d.length} differences, first:\n", "\n", "")
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("graft_json_escape equals the regex composition under whole-stage codegen") {
    val d = differences()
    if (d.nonEmpty) fail(report(d))
  }

  test("graft_json_escape equals the regex composition with codegen off") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val d = differences()
      if (d.nonEmpty) fail(report(d))
    }
  }

  test("the inputs reach every escape form and malformed UTF-8") {
    val bytes = inputs.select("b").collect().flatMap(r => Option(r.getAs[Array[Byte]](0)))
    val all = bytes.flatten.map(_ & 0xFF).toSet
    assert((0x00 to 0x1F).forall(all.contains), "every control byte occurs")
    assert(Seq(0x22, 0x5C, 0x2F).forall(all.contains))
    val invalid = bytes.count(b => !UTF8String.fromBytes(b).isValid)
    assert(invalid > 1000, s"only $invalid malformed inputs")
    assert(bytes.exists(_.isEmpty))
  }

  test("a value with nothing to escape comes back as the same object") {
    val clean = UTF8String.fromString("plain text, 日本語 and / slashes")
    assert(JsonEscape.escape(clean) eq clean)
  }
}
