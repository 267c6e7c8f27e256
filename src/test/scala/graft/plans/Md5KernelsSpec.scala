package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-parity of the r17 md5-hash kernels against the column forms they
  * replaced:
  *
  *  - graft_md5_prefix_long(s, n)  ≡ conv(substring(md5(s), 1, n), 16, 10).cast("long")
  *  - graft_km_positions(s, w, k)  ≡ the Kirsch-Mitzenmacher transform over
  *    the two 60-bit md5 halves (Sketches.bloomPositions/cmsPositions)
  *  - graft_char_entropy_parts(s)  ≡ the per-doc (n, s) char-entropy
  *    aggregate parts of TextAnalysis.charEntropy's old explode form
  *  - graft_bpe_token_sum(toks, l, r) ≡ aggregate(transform(toks,
  *    w => graft_bpe_token_count(w, l, r).cast("long")), 0L, _+_)
  */
class Md5KernelsSpec extends SparkSpec {
  import spark.implicits._

  private val strings = Seq(
    "hello", "", " ", "a", "ünïcøde høj", "中文分词", "emoji 🙂 tail",
    "0", "deadbeef", "x" * 500, "line\nbreak\ttab", "İstanbul",
    "😀surrogate pair head", "trailing space ")

  private def prefixRef(c: org.apache.spark.sql.Column, n: Int) =
    conv(substring(md5(c), 1, n), 16, 10).cast("long")

  test("md5 prefix long matches conv(substring(md5)) for every n") {
    val df = strings.toDF("s")
    for (n <- Seq(1, 2, 6, 15)) {
      val r = df.select(
        call_function("graft_md5_prefix_long", col("s"), lit(n)).as("fast"),
        prefixRef(col("s"), n).as("ref")).as[(Long, Long)].collect()
      r.foreach { case (fast, ref) => assert(fast === ref, s"n=$n") }
    }
  }

  test("md5 prefix long propagates null like md5/conv") {
    val df = Seq(Option.empty[String], Some("x")).toDF("s")
    val r = df.select(
      call_function("graft_md5_prefix_long", col("s"), lit(6)).as("fast"),
      prefixRef(col("s"), 6).as("ref"))
      .as[(Option[Long], Option[Long])].collect()
    r.foreach { case (fast, ref) => assert(fast === ref) }
    assert(r.exists(_._1.isEmpty))
  }

  private def kmRef(key: org.apache.spark.sql.Column, width: Int, k: Int) = {
    val hex = md5(key)
    val h1 = conv(substring(hex, 1, 15), 16, 10).cast("long") % width
    val h2raw = conv(substring(hex, 16, 15), 16, 10).cast("long") % width
    val h2 = h2raw + lit(1L) - (h2raw % 2)
    transform(sequence(lit(0), lit(k - 1)),
      i => (h1 + i.cast("long") * h2) % width)
  }

  test("km positions match the double-hash transform for every (width, k)") {
    val df = strings.toDF("s")
    for ((w, k) <- Seq((32, 5), (1024, 4), (8192, 4), (4096, 1), (1 << 30, 64), (3, 7))) {
      val r = df.select(
        call_function("graft_km_positions", col("s"), lit(w), lit(k)).as("fast"),
        kmRef(col("s"), w, k).as("ref"))
        .as[(Seq[Long], Seq[Long])].collect()
      r.foreach { case (fast, ref) => assert(fast === ref, s"w=$w k=$k") }
    }
  }

  test("km positions on a null key yield an array of k nulls, not null") {
    val df = Seq(Option.empty[String], Some("x")).toDF("s")
    val r = df.select(
      call_function("graft_km_positions", col("s"), lit(64), lit(5)).as("fast"),
      kmRef(col("s"), 64, 5).as("ref"))
      .as[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])].collect()
    r.foreach { case (fast, ref) => assert(fast === ref) }
    assert(r.exists(_._1 === Some(Seq(None, None, None, None, None))))
  }

  private def entropyRefFrame(df: org.apache.spark.sql.DataFrame) = {
    // the exact pre-r17 charEntropy composition over (id, txt)
    val chars = graft.functions.SafeExplode.explodeSelect(
      df, Seq(col("id")),
      when(length(col("txt")) > 0,
        transform(sequence(lit(1), length(col("txt"))),
          i => col("txt").substr(i, lit(1))))
        .otherwise(array().cast("array<string>")),
      "ch")
    val counts = chars.groupBy(col("id"), col("ch"))
      .agg(count(lit(1)).as("cnt"))
    val agg = counts.groupBy(col("id")).agg(
      sum(col("cnt")).as("n"),
      sum(round(col("cnt") * log(col("cnt").cast("double")), 9)
        .cast("decimal(28,9)")).as("s"))
    df.select(col("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n"), lit(0L)).as("n_chars"),
        round(log(col("n").cast("double")) - col("s").cast("double") / col("n"), 6)
          .as("entropy"))
  }

  test("char entropy kernel reproduces the explode-aggregate form") {
    val docs = Seq(
      (1L, Some("hello world")), (2L, Some("")), (3L, Some("aaaa")),
      (4L, Some("  \t\n ")), (5L, Some("ünïcøde 🙂 ünïcøde 🙂")),
      (6L, Some("The quick brown fox jumps over the lazy dog. " * 20)),
      (7L, Option.empty[String]), (8L, Some("𝔘𝔫𝔦𝔠𝔬𝔡𝔢 astral only 𝔘")),
      (9L, Some("a")), (10L, Some("ab" * 300)))
      .toDF("id", "text")
    val df = docs.select(col("id"), lower(col("text")).as("txt"))
    val fast = df.select(col("id"),
        call_function("graft_char_entropy_parts", col("txt")).as("p"))
      .select(col("id"), col("p.n").as("n_chars"),
        round(log(when(col("p.n") > 0, col("p.n")).cast("double"))
          - col("p.s") / when(col("p.n") > 0, col("p.n")), 6).as("entropy"))
      .orderBy("id").as[(Long, Long, Option[Double])].collect()
    val ref = entropyRefFrame(df).orderBy("id")
      .as[(Long, Long, Option[Double])].collect()
    assert(fast.toSeq === ref.toSeq)
  }

  test("bpe token sum matches the aggregate-transform fold") {
    val lhs = typedLit(Seq("a", "ab", "l", "lo"))
    val rhs = typedLit(Seq("b", "c", "o", "w"))
    val docs = Seq(
      Some(Seq(Some("abc"), Some("hello"), Some("low"), Some("lower"))),
      Some(Seq(Some(""), Some("a"), Some("ababab"))),
      Some(Seq.empty[Option[String]]),
      Some(Seq(Some("ünïcøde"), Some("🙂🙂"))),
      Some(Seq(Option.empty[String], Some("abc"))),   // null element poisons
      Option.empty[Seq[Option[String]]])              // null array -> null
      .toDF("toks")
    val ref = docs.select(
      aggregate(
        transform(col("toks"), w =>
          call_function("graft_bpe_token_count", w, lhs, rhs).cast("long")),
        lit(0L), (acc, x) => acc + x).as("v"))
      .as[Option[Long]].collect()
    val fast = docs.select(
      call_function("graft_bpe_token_sum", col("toks"), lhs, rhs).as("v"))
      .as[Option[Long]].collect()
    assert(fast.toSeq === ref.toSeq)
    assert(fast.count(_.isEmpty) === 2)
  }

  test("interpreted eval matches codegen for all four kernels") {
    val df = strings.toDF("s")
    val toks = Seq(Seq("abc", "hello", "low")).toDF("toks")
    def all() = {
      val a = df.select(
        call_function("graft_md5_prefix_long", col("s"), lit(15)).as("a"),
        call_function("graft_km_positions", col("s"), lit(1024), lit(5)).as("b"),
        call_function("graft_char_entropy_parts", col("s")).as("c"))
        .collect().map(_.toString).toSeq
      val b = toks.select(call_function("graft_bpe_token_sum", col("toks"),
        typedLit(Seq("a", "l")), typedLit(Seq("b", "o"))).as("d"))
        .collect().map(_.toString).toSeq
      a ++ b
    }
    val withCodegen = all()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      assert(all() === withCodegen)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
