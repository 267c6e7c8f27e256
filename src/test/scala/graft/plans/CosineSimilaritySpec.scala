package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Vectors

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.5f, -0.25f, 0.125f), Array(-1.0f, 2.0f, 0.0f)),
    (3L, Array(1e-8f, 2e8f, -3.5f), Array(7.25f, 0.001f, 9.0f))
  ).toDF("id", "a", "b")

  test("native expression is bit-identical to the HOF composition") {
    val r = vecs.select(
      Vectors.cosine(col("a"), col("b")).as("hof"),
      Vectors.cosineNative(col("a"), col("b")).as("native"))
      .as[(Double, Double)].collect()
    r.foreach { case (h, n) =>
      assert(java.lang.Double.doubleToLongBits(h) ===
        java.lang.Double.doubleToLongBits(n))
    }
  }

  test("null array and null element both yield null") {
    val df = Seq(
      (Some(Seq(Some(1.0f), Some(2.0f))), Option.empty[Seq[Option[Float]]]),
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(1.0f), Some(2.0f)))))
      .toDF("a", "b")
    val r = df.select(call_function("graft_cosine", col("a"), col("b")))
      .collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("two cosine columns in one projection survive fused codegen (no name collision)") {
    // fallback=false turns a Janino compile failure (the bug: a fixed-name
    // local declared twice in the fused method) into a thrown error
    // instead of a silent interpreted fallback.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = vecs.select(
        call_function("graft_cosine", col("a"), col("b")).as("c1"),
        call_function("graft_cosine", col("b"), col("a")).as("c2"),
        call_function("graft_cosine", col("a"), col("a")).as("c3"))
        .as[(Double, Double, Double)].collect()
      r.foreach { case (c1, c2, c3) =>
        assert(java.lang.Double.doubleToLongBits(c1) ===
          java.lang.Double.doubleToLongBits(c2)) // cosine is symmetric
        assert(math.abs(c3 - 1.0) < 1e-9)
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("interpreted eval matches codegen") {
    // force interpreted path by evaluating the expression directly
    val e = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0f, 1.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    val viaSql = spark.sql("SELECT graft_cosine(array(1.0f, 2.0f), array(2.0f, 1.0f))")
      .head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(interpreted) ===
      java.lang.Double.doubleToLongBits(viaSql))
    assert(math.abs(interpreted - 4.0 / 5.0) < 1e-12)
  }
}
