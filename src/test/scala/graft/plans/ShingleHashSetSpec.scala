package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions.shingles

/** Bit-parity of the native ShingleHashSet kernel against the HOF
  * composition it replaced in Dedup.hashedShingleSets (r16
  * optimization): sorted distinct top-60-bit md5 hashes of the distinct
  * word-k-shingles. */
class ShingleHashSetSpec extends SparkSpec {
  import spark.implicits._

  private def hofSet(toksCol: String, k: Int) =
    sort_array(array_distinct(transform(shingles(col(toksCol), k),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))))

  private val shapes = Seq(
    Seq("a", "b", "c", "d", "e"),
    Seq("x", "y", "z"),                        // exactly k tokens at k=3
    Seq("dup", "dup", "dup", "dup"),           // repeated shingles collapse
    Seq("ünïcøde", "中文", "🙂", "tail", "mixed"),
    (1 to 300).map(i => s"tok${i % 23}"),      // heavy duplication
    Seq("", "", "a", "")                       // empty-string tokens are values
  )

  test("native kernel is bit-identical to the HOF composition") {
    for (k <- Seq(1, 2, 3)) {
      val df = shapes.filter(_.size >= k).toDF("toks")
      val r = df.select(
        call_function("graft_shingle_hash_set", col("toks"), lit(k)).as("fast"),
        hofSet("toks", k).as("ref"))
        .as[(Seq[Long], Seq[Long])].collect()
      r.foreach { case (fast, ref) => assert(fast === ref, s"k=$k") }
    }
  }

  test("null array yields null; null elements skip like concat_ws") {
    val df = Seq(
      (1, Some(Seq(Some("a"), Option.empty[String], Some("b"), Some("c")))),
      (2, Option.empty[Seq[Option[String]]])
    ).toDF("id", "toks")
    val r = df.select(col("id"),
      call_function("graft_shingle_hash_set", col("toks"), lit(2)).as("fast"),
      hofSet("toks", 2).as("ref")).orderBy("id")
      .as[(Int, Option[Seq[Long]], Option[Seq[Long]])].collect()
    assert(r(0)._2 === r(0)._3) // null-element skip matches concat_ws
    assert(r(1)._2.isEmpty)     // null array → null (kernel)
  }

  test("interpreted eval matches codegen") {
    val df = shapes.toDF("toks")
    val withCodegen = df.select(
      call_function("graft_shingle_hash_set", col("toks"), lit(3)))
      .collect().map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.select(
        call_function("graft_shingle_hash_set", col("toks"), lit(3)))
        .collect().map(_.toString)
      assert(withCodegen.toSeq === interpreted.toSeq)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("ngramJaccard through the kernel keeps exact pair semantics") {
    // identical docs must score jaccard 1.0; the sub-k doc is dropped —
    // the operator-level guard that the kernel swap changed nothing
    val df = Seq((1L, "p q r s t"), (2L, "p q r s t"), (3L, "x y"),
      (4L, "completely different words here"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.ngramJaccard(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs === Seq((1L, 2L, 1.0)))
  }
}
