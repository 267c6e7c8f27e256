package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SortedIntersectCountSpec extends SparkSpec {
  import spark.implicits._

  test("merge-walk count equals array_intersect size on sorted inputs") {
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "d", "e")),
      (Seq("x"), Seq("y")),
      (Seq[String](), Seq("a")),
      (Seq("a", "c", "z"), Seq("a", "c", "z"))
    ).toDF("a", "b")
    val r = df.select(
      call_function("graft_sorted_intersect_count", col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .as[(Long, Long)].collect()
    r.foreach { case (fast, ref) => assert(fast === ref) }
  }

  test("null input yields null") {
    val df = Seq((Some(Seq("a")), Option.empty[Seq[String]])).toDF("a", "b")
    assert(df.select(call_function("graft_sorted_intersect_count", col("a"), col("b")))
      .head.isNullAt(0))
  }
}
