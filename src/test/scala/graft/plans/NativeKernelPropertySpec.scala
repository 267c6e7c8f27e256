package graft.plans

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Vectors

/** Generative equivalence tests for the three native Catalyst kernels:
  * each must agree with the composable column form it replaced, on
  * arbitrary inputs (seed-pinned sampling — no scalatestplus bridge in
  * the offline cache). This is the guarantee that lets operators swap
  * the kernels in without changing any oracle result. */
class NativeKernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 30).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val finiteFloat: Gen[Float] =
    Gen.chooseNum(-1e6f, 1e6f).suchThat(f => !f.isNaN && !f.isInfinite)

  private val vecPairGen: Gen[(Array[Float], Array[Float])] = for {
    n <- Gen.choose(1, 64)
    a <- Gen.listOfN(n, finiteFloat)
    b <- Gen.listOfN(n, finiteFloat)
  } yield (a.toArray, b.toArray)

  private val sortedArraysGen: Gen[(Array[String], Array[String])] = for {
    na <- Gen.choose(0, 40)
    nb <- Gen.choose(0, 40)
    a <- Gen.listOfN(na, Gen.choose(0, 30).map(i => s"s$i"))
    b <- Gen.listOfN(nb, Gen.choose(0, 30).map(i => s"s$i"))
  } yield (a.distinct.sorted.toArray, b.distinct.sorted.toArray)

  test("graft_cosine equals the HOF composition on arbitrary vectors") {
    forAll(vecPairGen) { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b")
        .select(Vectors.cosine(col("a"), col("b")).as("hof"),
          Vectors.cosineNative(col("a"), col("b")).as("native"))
        .as[(Double, Double)].head()
      assert(java.lang.Double.doubleToLongBits(r._1) ===
        java.lang.Double.doubleToLongBits(r._2))
    }
  }

  test("graft_sorted_intersect_count equals size(array_intersect) on arbitrary sorted sets") {
    forAll(sortedArraysGen) { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b")
        .select(
          size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"),
          call_function("graft_sorted_intersect_count", col("a"), col("b")).as("native"))
        .as[(Long, Long)].head()
      assert(r._1 === r._2)
      assert(r._2 === a.toSet.intersect(b.toSet).size.toLong)
    }
  }

  test("graft_sorted_intersect_count: long-element variant equals set intersection") {
    val longPairGen: Gen[(Array[Long], Array[Long])] = for {
      na <- Gen.choose(0, 40)
      nb <- Gen.choose(0, 40)
      a <- Gen.listOfN(na, Gen.choose(-50L, 50L))
      b <- Gen.listOfN(nb, Gen.choose(-50L, 50L))
    } yield (a.distinct.sorted.toArray, b.distinct.sorted.toArray)
    forAll(longPairGen) { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b")
        .select(call_function("graft_sorted_intersect_count", col("a"), col("b")))
        .as[Long].head()
      assert(r === a.toSet.intersect(b.toSet).size.toLong)
    }
  }

  test("graft_hyperplane_bucket equals the unrolled projection on arbitrary vectors") {
    forAll(vecPairGen) { case (v, _) =>
      val planes = 8
      val s = HyperplaneBuckets.signs(planes, v.length)
      val unrolled = (0 until planes).map { p =>
        val dot = (1 to v.length).map { d1 =>
          element_at(col("v"), d1).cast("double") * lit(s(p * v.length + d1 - 1))
        }.reduce(_ + _)
        when(dot > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      val r = Seq(Tuple1(v)).toDF("v")
        .select(unrolled.as("unrolled"),
          call_function("graft_hyperplane_bucket", col("v"), lit(planes)).as("native"))
        .as[(Long, Long)].head()
      assert(r._1 === r._2)
    }
  }

  private val bpeCaseGen: Gen[(String, Seq[(String, String)])] = for {
    wlen <- Gen.choose(0, 24)
    word <- Gen.listOfN(wlen, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    nm <- Gen.choose(0, 8)
    merges <- Gen.listOfN(nm, for {
      a <- Gen.oneOf("a", "b", "c", "ab", "bc", "aa", "abc")
      b <- Gen.oneOf("a", "b", "c", "ab", "bc", "aa", "abc")
    } yield (a, b))
  } yield (word, merges)

  /** Reference implementation of the greedy sequential merge fold —
    * the exact semantics the removed nested-aggregate column form had. */
  private def bpeRef(word: String, merges: Seq[(String, String)]): Int = {
    var syms = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toVector
    for ((a, b) <- merges) {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      for (x <- syms) {
        if (out.nonEmpty && out.last == a && x == b)
          out(out.length - 1) = a + b
        else out += x
      }
      syms = out.toVector
    }
    syms.length
  }

  test("graft_bpe_token_count equals the greedy sequential merge fold on arbitrary inputs") {
    forAll(bpeCaseGen) { case (word, merges) =>
      val lhs = typedLit(merges.map(_._1))
      val rhs = typedLit(merges.map(_._2))
      val got = Seq(word).toDF("w")
        .select(call_function("graft_bpe_token_count", col("w"), lhs, rhs))
        .as[Int].head()
      assert(got === bpeRef(word, merges),
        s"word=$word merges=$merges")
    }
  }
}
