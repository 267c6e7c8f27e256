package graft.sinks

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.Tag
import graft.SparkSpec

/** Sink property fuzzing (verdict r12 item 6 — the NullGen discipline
  * applied to sinks): seeded random schemas round-tripped
  * write → read → compare through [[DynamicFileSink]] (json and avro)
  * and [[ShardExport]]. The generator deliberately covers the classes
  * the K1/K2/K11 fixture-schema gates never reach: nested structs,
  * arrays with null elements, binary columns, unicode / empty-string /
  * reserved-char split keys, and reserved-char field names (spaces,
  * commas, quotes, backslashes, dots, CJK).
  *
  * Supported-envelope CONTRACT (documented in FIXTURES.md §3):
  *  - json: ALL control characters U+0000-U+001F in string values are
  *    escaped (gson's writer set: short forms for the common five,
  *    generic backslash-u for the rest — ADVICE r13; the pool plants
  *    BEL/ESC/NUL/US plus backspace and form-feed); NaN/Infinity
  *    doubles are not JSON-representable; binary round-trips as its
  *    base64 text (Spark's JSON reader has no BinaryType parser);
  *  - split keys must not contain `/` (a path separator names a nested
  *    path, not a key);
  *  - avro: field names must be avro-legal ([A-Za-z0-9_], not starting
  *    with a digit) — the format's own restriction, enforced by the
  *    avro library at schema build.
  *
  * The full runs are tagged `graft.SlowFuzz` (out of the default gate);
  * the smoke test runs the json and csv round trips on a few seeds in
  * every gate. */
class SinkFuzzSpec extends SparkSpec {

  private object SlowFuzz extends Tag(classOf[graft.SlowFuzz].getName)

  // ---- seeded generators -------------------------------------------------

  private val weirdNames = Vector("with space", "comma,name", "quote\"nm",
    "back\\slash", "日本語", "dot.name", "tab\tname", "UPPER_9", "plain")
  private val safeNames = Vector("f_alpha", "f_beta", "g9", "Delta_x",
    "epsilon_", "zeta0", "plainname", "B2b")
  private val strPool = Vector("", "naïve 日本語", "comma, value",
    "line\nbreak", "tab\tchar", "quote\" and \\back", "ünïcode-ß",
    "  padded  ", "0", "{\"not\":\"parsed\"}",
    // rare controls: gson escapes ALL of U+0000-U+001F (ADVICE r13) —
    // \b \f short-form, the rest \uXXXX
    "bell\u0007beep", "bs\bff\f", "esc\u001b[0m", "\u0000nul\u001funit")
  private val splitPool = Vector("", "α-split", "key with space", "%41",
    "日本", "k=v", "-", "a,b")

  private def scalarTypes(avroSafe: Boolean): Vector[DataType] =
    Vector(StringType, LongType, IntegerType, DoubleType, BooleanType) ++
      (if (avroSafe) Vector() else Vector(BinaryType))

  private def genSchema(r: Random, avroSafe: Boolean,
                        flat: Boolean = false): StructType = {
    val pool = if (avroSafe) safeNames else weirdNames
    val names = r.shuffle(pool).take(3 + r.nextInt(4))
      .zipWithIndex.map { case (n, i) => s"${n}_$i" } // uniqueness suffix
    val fields = names.map { n =>
      val dt = (if (flat) 9 else r.nextInt(10)) match {
        case 0 => ArrayType(LongType, containsNull = true)
        case 1 => ArrayType(StringType, containsNull = true)
        case 2 | 3 =>
          StructType(Seq(
            StructField("inner_a", pick(r, scalarTypes(avroSafe)), nullable = true),
            StructField("inner_b", pick(r, scalarTypes(avroSafe)), nullable = true)))
        case _ => pick(r, scalarTypes(avroSafe))
      }
      StructField(n, dt, nullable = true)
    }
    StructType(
      StructField("k", LongType, nullable = false) +:
      StructField("sk", StringType, nullable = false) +: fields)
  }

  private def pick[A](r: Random, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  private def genNonNull(r: Random, dt: DataType): Any = dt match {
    case StringType => pick(r, strPool) + r.nextInt(100)
    case LongType => r.nextLong() % 1000000L
    case IntegerType => r.nextInt(100000) - 50000
    case DoubleType => math.round(r.nextDouble() * 1e6).toDouble / 1000.0
    case BooleanType => r.nextBoolean()
    case BinaryType => Array.fill[Byte](r.nextInt(16))(r.nextInt(256).toByte)
    case ArrayType(et, _) => // null ELEMENTS planted at 1/4
      Seq.fill(r.nextInt(4))(
        if (r.nextInt(4) == 0) null else genNonNull(r, et))
    case st: StructType =>
      Row.fromSeq(st.fields.toSeq.map(f => genValue(r, f.dataType)))
    case other => sys.error(s"no generator for $other")
  }

  private def genValue(r: Random, dt: DataType): Any =
    if (r.nextInt(5) == 0) null else genNonNull(r, dt)

  private def genFrame(r: Random, schema: StructType, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      Row.fromSeq(schema.fields.toSeq.map {
        case StructField("k", _, _, _) => i.toLong
        case StructField("sk", _, _, _) => pick(r, splitPool)
        case f => genValue(r, f.dataType)
      })
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Canonical comparison frame: binary → its base64 text (exactly what
    * the json sink writes and the reader hands back as a string). */
  private def jsonExpected(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.dataType == BinaryType =>
        d.withColumn(f.name, base64(col("`" + f.name + "`")))
      case (d, _) => d
    }

  private def jsonReadSchema(schema: StructType): StructType =
    StructType(schema.fields.map {
      case f if f.dataType == BinaryType => f.copy(dataType = StringType)
      case f => f
    })

  private def canon(df: DataFrame): Seq[String] =
    df.orderBy("k").toJSON.collect().toSeq

  // ---- json round trips --------------------------------------------------

  /** `schemas` random schemas from `seed`, each written by the json sink,
    * read back strictly and compared with the input. */
  private def jsonRoundTrips(seed: Long, schemas: Int): Unit = {
    val r = new Random(seed)
    for (i <- 0 until schemas) {
      val schema = genSchema(r, avroSafe = false)
      val df = genFrame(r, schema, 12)
      val out = tmpDir(s"sinkfuzz_json_$i") + "/out"
      val res = DynamicFileSink.write(df, DynamicFileSink.Config(
        output = out, format = "json", splitField = Some("sk")))
      assert(res.files.nonEmpty, s"seed $seed schema $i: nothing written\n$schema")
      val back = spark.read.schema(jsonReadSchema(schema))
        .option("mode", "FAILFAST").json(res.files: _*)
      val (got, want) = (canon(back), canon(jsonExpected(df)))
      assert(got === want, s"seed $seed schema $i diverged after json round trip\n$schema")
    }
  }

  test("50 seeded random schemas round-trip through the json DynamicFileSink", SlowFuzz) {
    jsonRoundTrips(13L, 50)
  }

  test("split-key naming: every written file is <prefix><key>.json with the key escaped-correctly", SlowFuzz) {
    val r = new Random(21L)
    val schema = genSchema(r, avroSafe = false)
    val df = genFrame(r, schema, 30)
    val out = tmpDir("sinkfuzz_keys") + "/out"
    // withoutSharding: one part per key → the exact <prefix><key>.json
    // name (multi-part keys get a -NNNNN suffix, K1 contract)
    val res = DynamicFileSink.write(df, DynamicFileSink.Config(
      output = out, format = "json", splitField = Some("sk"),
      withoutSharding = true))
    val keysWritten = res.files.map { p =>
      val base = p.stripPrefix(out)
      assert(base.endsWith(".json"), s"unexpected file name $p")
      base.stripSuffix(".json")
    }.toSet
    val keysExpected = df.select("sk").distinct()
      .collect().map(_.getString(0)).toSet
    assert(keysWritten === keysExpected,
      "unicode/empty/reserved-char split keys must name files verbatim")
  }

  // ---- csv round trips (flat schemas — the P2 surface) --------------------

  /** `schemas` random flat schemas from `seed` through the csv sink.
    * commons-csv DEFAULT quoting (quote on [\",\n\r], doubled embedded
    * quotes) read back by Spark's csv reader with escape='\"' and
    * multiLine for embedded newlines. CONTRACT (FIXTURES.md §3): csv
    * cannot distinguish an empty string from null (both render as an
    * empty field, as in the reference's converter) — the expected side
    * maps "" → null accordingly. */
  private def csvRoundTrips(seed: Long, schemas: Int): Unit = {
    val r = new Random(seed)
    for (i <- 0 until schemas) {
      val schema = genSchema(r, avroSafe = false, flat = true)
      val df = genFrame(r, schema, 12)
      val out = tmpDir(s"sinkfuzz_csv_$i") + "/out"
      val res = DynamicFileSink.write(df, DynamicFileSink.Config(
        output = out, format = "csv", splitField = Some("sk")))
      assert(res.files.nonEmpty, s"seed $seed schema $i: nothing written\n$schema")
      val back = spark.read.schema(jsonReadSchema(schema))
        .option("mode", "FAILFAST").option("multiLine", true)
        .option("escape", "\"")
        .csv(res.files: _*)
      val base64ed = jsonExpected(df) // binary → its base64 text (may be "")
      val expected = base64ed.schema.fields.foldLeft(base64ed) {
        case (d, f) if f.dataType == StringType =>
          d.withColumn(f.name,
            when(col("`" + f.name + "`") === "", lit(null))
              .otherwise(col("`" + f.name + "`")))
        case (d, _) => d
      }
      val (got, want) = (canon(back), canon(expected))
      assert(got === want, s"seed $seed schema $i diverged after csv round trip\n$schema")
    }
  }

  test("20 seeded flat schemas round-trip through the csv DynamicFileSink", SlowFuzz) {
    csvRoundTrips(51L, 20)
  }

  test("smoke: a few seeds of random schemas round-trip through the json and csv sinks") {
    for (seed <- 1L to 3L) {
      jsonRoundTrips(seed, 2)
      csvRoundTrips(seed, 2)
    }
  }

  // ---- avro round trips --------------------------------------------------

  test("25 seeded avro-safe schemas round-trip through the avro DynamicFileSink", SlowFuzz) {
    val r = new Random(31L)
    for (i <- 0 until 25) {
      val schema = genSchema(r, avroSafe = true)
      val df = genFrame(r, schema, 12)
      val dir = tmpDir(s"sinkfuzz_avro_$i")
      val out = s"$dir/out"
      val res = DynamicFileSink.write(df, DynamicFileSink.Config(
        output = out, format = "avro", splitField = Some("sk")))
      assert(res.files.nonEmpty, s"schema $i: nothing written\n$schema")
      val back = graft.sources.AvroIO.read(spark, dir)
      // avro records come back in schema-field order; project to be sure
      val cols = schema.fieldNames.map(n => col("`" + n + "`")).toSeq
      val (got, want) = (canon(back.select(cols: _*)), canon(df))
      assert(got === want, s"schema $i diverged after avro round trip\n$schema")
    }
  }

  // ---- shard export ------------------------------------------------------

  test("ShardExport: random schemas round-trip with exact shard names and deterministic membership", SlowFuzz) {
    val r = new Random(41L)
    for (shards <- Seq(1, 4, 16)) {
      val schema = genSchema(r, avroSafe = false)
      val df = genFrame(r, schema, 40)
      val out = tmpDir(s"sinkfuzz_shard_$shards") + "/out"
      val res = ShardExport.write(df, "k", out, numShards = shards)
      assert(res.files.forall(_.matches(raw".*shard-\d{5}-of-\d{5}\.json")),
        s"shard file names malformed: ${res.files}")
      val readSchema = jsonReadSchema(schema)
        .add(StructField("shard_key", StringType, nullable = true))
      val back = spark.read.schema(readSchema)
        .option("mode", "FAILFAST").json(res.files: _*)
      val want = canon(jsonExpected(df))
      val got = canon(back.drop("shard_key"))
      assert(got === want, s"$shards-shard export lost or duplicated rows")
      // the carried shard_key matches the file the row landed in — spot
      // check via re-read per file
      val one = res.files.head
      val keyInFile = spark.read.schema(readSchema).json(one)
        .select("shard_key").distinct().collect().map(_.getString(0)).toSeq
      assert(keyInFile.size == 1 && one.contains(keyInFile.head),
        "carried shard_key must equal the shard file's name")
      // determinism: a second export has byte-identical files
      val out2 = tmpDir(s"sinkfuzz_shard2_$shards") + "/out"
      val res2 = ShardExport.write(df, "k", out2, numShards = shards)
      val bytes = (p: String) => java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p))
      assert(res.files.map(p => p.stripPrefix(out)) ===
        res2.files.map(p => p.stripPrefix(out2)))
      for ((a, b) <- res.files.zip(res2.files))
        assert(java.util.Arrays.equals(bytes(a), bytes(b)),
          s"shard export not byte-deterministic: $a vs $b")
    }
  }
}
