package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

class HyperplaneBucketsSpec extends SparkSpec {
  import spark.implicits._

  private def randVec(seed: Int, dims: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dims)(r.nextFloat() * 2 - 1)
  }

  private val dims = 16
  private val vecs = (1L to 40L).map(i => (i, randVec(i.toInt, dims)))
    .toDF("id", "v")

  /** The original driver-unrolled column form (element_at × literal signs,
    * left-fold adds) — the parity reference the kernel must bit-match. */
  private def unrolledBucket(vecCol: String, planes: Int, dims: Int) = {
    val s = HyperplaneBuckets.signs(planes, dims)
    (0 until planes).map { p =>
      val dot = (1 to dims).map { d1 =>
        element_at(col(vecCol), d1).cast("double") * lit(s(p * dims + d1 - 1))
      }.reduce(_ + _)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  test("native kernel equals the unrolled column form on every row") {
    val r = vecs.select(
      call_function("graft_hyperplane_bucket", col("v"), lit(8)).as("native"),
      unrolledBucket("v", 8, dims).as("unrolled"))
      .as[(Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (n, u) => assert(n === u) }
  }

  test("two bucket columns in one projection survive fused codegen") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = vecs.select(
        call_function("graft_hyperplane_bucket", col("v"), lit(8)).as("b8"),
        call_function("graft_hyperplane_bucket", col("v"), lit(4)).as("b4"))
        .as[(Long, Long)].collect()
      // the 4-plane bucket is the low 4 bits of the 8-plane bucket
      r.foreach { case (b8, b4) => assert((b8 & 0xfL) === b4) }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("null array and null element yield null; interpreted matches codegen") {
    val df = Seq(
      (1L, Option.empty[Seq[Option[Float]]]),
      (2L, Some(Seq(Some(1.0f), None, Some(2.0f)))))
      .toDF("id", "v")
    val r = df.select(call_function("graft_hyperplane_bucket", col("v"), lit(8)))
      .collect()
    assert(r.forall(_.isNullAt(0)))

    val e = HyperplaneBuckets(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        randVec(7, dims),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal(8))
    val interpreted = e.eval(null).asInstanceOf[Long]
    val viaDf = Seq(Tuple1(randVec(7, dims))).toDF("v")
      .select(call_function("graft_hyperplane_bucket", col("v"), lit(8)))
      .head.getLong(0)
    assert(interpreted === viaDf)
  }

  test("sign matrix is deterministic and ±1-valued") {
    val a = HyperplaneBuckets.signs(8, 64)
    val b = HyperplaneBuckets.signs(8, 64)
    assert(a eq b) // cached instance
    assert(a.length === 8 * 64)
    assert(a.forall(x => x == 1.0 || x == -1.0))
    // not degenerate: both signs occur
    assert(a.exists(_ == 1.0) && a.exists(_ == -1.0))
  }
}
