package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-parity of the native SimhashFingerprint kernel against the HOF
  * composition it replaced in Dedup.simhash (r16 optimization): per bit
  * b, s_b = aggregate(transform(toks, md5), 0L, acc + contrib) and the
  * fingerprint re-assembles sign bits. */
class SimhashFingerprintSpec extends SparkSpec {
  import spark.implicits._

  private def hofSimhash(toksCol: String, bits: Int): Column = {
    def contrib(h: Column, b: Int): Column = {
      val digit = conv(h.substr(lit(1 + b / 4), lit(1)), 16, 10).cast("int")
      when(shiftright(digit, b % 4).bitwiseAND(lit(1)) === 1, 1L).otherwise(-1L)
    }
    val hs = transform(col(toksCol), w => md5(w))
    (0 until bits).map { b =>
      when(aggregate(hs, lit(0L), (acc, h) => acc + contrib(h, b)) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  private val shapes = Seq(
    Seq("the", "quick", "brown", "fox"),
    Seq("solo"),
    Seq("dup", "dup", "dup", "other"),
    Seq("ünïcøde", "中文", "🙂"),
    (1 to 200).map(i => s"tok${i % 17}"),
    Seq("")
  )

  test("native kernel is bit-identical to the HOF composition") {
    for (bits <- Seq(1, 12, 48)) {
      val df = shapes.toDF("toks")
      val r = df.select(
        call_function("graft_simhash", col("toks"), lit(bits)).as("fast"),
        hofSimhash("toks", bits).as("ref"))
        .as[(Long, Long)].collect()
      r.foreach { case (fast, ref) => assert(fast === ref, s"bits=$bits") }
    }
  }

  test("null elements contribute -1 per bit, like md5(null) in the fold") {
    val df = Seq(
      Some(Seq(Option.empty[String], Some("x"))),
      Some(Seq(Option.empty[String])),
      Option.empty[Seq[Option[String]]]
    ).toDF("toks")
    val r = df.select(
      call_function("graft_simhash", col("toks"), lit(48)).as("fast"),
      hofSimhash("toks", 48).as("ref"))
      .as[(Option[Long], Option[Long])].collect()
    r.take(2).foreach { case (fast, ref) => assert(fast === ref) }
    // DOCUMENTED DIVERGENCE on a null ARRAY only: the HOF form's
    // aggregate(null) > 0 is null, so every when() falls to otherwise(0)
    // and the sum is 0; the kernel yields null. Unreachable from
    // Dedup.simhash — its size(toks) > 0 filter drops null token arrays
    // (size(null) is null), pinned by the guard test below.
    assert(r(2)._1.isEmpty && r(2)._2 === Some(0L))
  }

  test("Dedup.simhash's filter guards the kernel from null text") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("real text here")),
      (3L, Some("!!!")))
      .toDF("doc_id", "text")
    val ids = graft.operators.Dedup.simhash(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(ids === Array(2L)) // null and token-free docs dropped pre-kernel
  }

  test("interpreted eval matches codegen") {
    val df = shapes.toDF("toks")
    val withCodegen = df.select(
      call_function("graft_simhash", col("toks"), lit(48))).as[Long].collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.select(
        call_function("graft_simhash", col("toks"), lit(48))).as[Long].collect()
      assert(withCodegen.toSeq === interpreted.toSeq)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
