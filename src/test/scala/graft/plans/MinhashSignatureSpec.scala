package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-parity of the native MinhashSignature kernel against the HOF
  * composition it replaced in Dedup.minhashSignatureArray (r16
  * optimization): component h = array_min(transform(sh,
  * s => md5(h || "|" || s))). The kernel must agree on every component
  * hex string, including null/empty/unicode edge shapes. */
class MinhashSignatureSpec extends SparkSpec {
  import spark.implicits._

  private def hofSig(shCol: String, numHashes: Int) =
    array((0 until numHashes).map { h =>
      array_min(transform(col(shCol),
        s => md5(concat(lit(h.toLong).cast("string"), lit("|"), s))))
    }: _*)

  private val shapes = Seq(
    Seq("a b c", "b c d", "c d e"),
    Seq("solo"),
    Seq(""),                                  // empty-string shingle is a value
    Seq("dup", "dup", "dup"),                 // duplicates cannot change a min
    Seq("ünïcøde høj", "中文 分词 测试", "emoji 🙂 tail"),
    Seq("zzzz", "aaaa", "mmmm"),
    (1 to 50).map(i => s"tok$i tok${i + 1} tok${i + 2}"),
    Seq.empty[String]                         // empty set: all components null
  )

  test("native kernel is bit-identical to the HOF composition") {
    for (n <- Seq(1, 4, 16)) {
      val df = shapes.toDF("sh")
      val r = df.select(
        call_function("graft_minhash_signature", col("sh"), lit(n)).as("fast"),
        hofSig("sh", n).as("ref"))
        .as[(Seq[Option[String]], Seq[Option[String]])].collect()
      r.foreach { case (fast, ref) => assert(fast === ref, s"numHashes=$n") }
    }
  }

  test("null array yields null; null elements are skipped like array_min") {
    val df = Seq(
      (1, Option.empty[Seq[Option[String]]]),
      (2, Some(Seq(Option.empty[String], Some("x y z")))),
      (3, Some(Seq(Option.empty[String])))
    ).toDF("id", "sh")
    val r = df.select(col("id"),
      call_function("graft_minhash_signature", col("sh"), lit(4)).as("fast"),
      hofSig("sh", 4).as("ref")).orderBy("id")
      .as[(Int, Option[Seq[Option[String]]], Option[Seq[Option[String]]])].collect()
    // DOCUMENTED DIVERGENCE on a null ARRAY only: the HOF form yields an
    // array of nulls (array() is never null), the kernel yields null.
    // Unreachable from minhashSignatureArray — its size(toks) >= k
    // filter drops null token arrays before shingling (size(null) is
    // null), pinned by the "filter guards the kernel" test below.
    assert(r(0)._2.isEmpty && r(0)._3 === Some(Seq(None, None, None, None)))
    r.drop(1).foreach { case (_, fast, ref) => assert(fast === ref) }
  }

  test("minhashSignatureArray's filter guards the kernel from null text") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("a b c d")),
      (3L, Some("  ")), (4L, Some("x y")))
      .toDF("doc_id", "text")
    // null text, whitespace-only, and sub-k docs are all dropped by the
    // size(toks) >= k filter — the kernel never sees a null array, so
    // the null-array divergence above cannot surface through the operator
    val sig = graft.operators.Dedup.minhashSignatureArray(df, "doc_id", "text")
    val ids = sig.select("doc_id").as[Long].collect().sorted
    assert(ids === Array(2L))
  }

  test("interpreted eval matches codegen") {
    val df = shapes.toDF("sh")
    val withCodegen = df.select(
      call_function("graft_minhash_signature", col("sh"), lit(16)).as("sig"))
      .collect().map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.select(
        call_function("graft_minhash_signature", col("sh"), lit(16)).as("sig"))
        .collect().map(_.toString)
      assert(withCodegen.toSeq === interpreted.toSeq)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
