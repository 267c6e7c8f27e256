package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-parity of the native WinnowFingerprints kernel against the HOF
  * composition it replaced in TextAnalysis.winnowed (r16 optimization):
  * per k-gram md5, then per-position array_min over the right-truncated
  * `window` slice. */
class WinnowFingerprintsSpec extends SparkSpec {
  import spark.implicits._

  private def hofFps(toksCol: String, k: Int, window: Int) = {
    val hs = transform(
      sequence(lit(0), size(col(toksCol)) - k),
      i => md5(concat_ws(" ",
        (0 until k).map(j => element_at(col(toksCol), i + j + 1)): _*)))
    transform(sequence(lit(1), size(hs)), i => array_min(slice(hs, i, lit(window))))
  }

  private val shapes = Seq(
    Seq("a", "b", "c", "d", "e", "f", "g"),
    Seq("x", "y", "z"),
    Seq("dup", "dup", "dup", "dup", "dup"),
    Seq("ünïcøde", "中文", "🙂", "tail", "mixed", "more"),
    (1 to 100).map(i => s"tok${i % 13}"),
    Seq("", "a", "", "b", "")
  )

  test("native kernel is bit-identical to the HOF composition") {
    for ((k, w) <- Seq((3, 4), (1, 1), (2, 7), (3, 100))) {
      val df = shapes.filter(_.size >= k).toDF("toks")
      val r = df.select(
        call_function("graft_winnow_fps", col("toks"), lit(k), lit(w)).as("fast"),
        hofFps("toks", k, w).as("ref"))
        .as[(Seq[String], Seq[String])].collect()
      r.foreach { case (fast, ref) => assert(fast === ref, s"k=$k w=$w") }
    }
  }

  test("null elements skip like concat_ws; null array yields null") {
    val df = Seq(
      (1, Some(Seq(Some("a"), Option.empty[String], Some("b"), Some("c")))),
      (2, Option.empty[Seq[Option[String]]])
    ).toDF("id", "toks")
    val r = df.select(col("id"),
      call_function("graft_winnow_fps", col("toks"), lit(2), lit(3)).as("fast"),
      hofFps("toks", 2, 3).as("ref")).orderBy("id")
      .as[(Int, Option[Seq[String]], Option[Seq[String]])].collect()
    assert(r(0)._2 === r(0)._3)
    assert(r(1)._2.isEmpty)
  }

  test("interpreted eval matches codegen") {
    val df = shapes.toDF("toks")
    val withCodegen = df.select(
      call_function("graft_winnow_fps", col("toks"), lit(3), lit(4)))
      .collect().map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.select(
        call_function("graft_winnow_fps", col("toks"), lit(3), lit(4)))
        .collect().map(_.toString)
      assert(withCodegen.toSeq === interpreted.toSeq)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
