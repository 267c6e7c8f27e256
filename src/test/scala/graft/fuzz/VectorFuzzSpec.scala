package graft.fuzz

import graft.operators._

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the similarity/vector-tier embedding
  * fuzz (round-14 verdict item 1). The generator's contract (seeded
  * determinism, adversarial shape coverage) plus a 2-seed × 4-set
  * differential against the plain-Scala reference models — enough to
  * catch a contract break in CI; the full 5-seed × 50-set sweep runs
  * via `graft.Fuzz vectors` and its zero-divergence record is committed
  * per round (FUZZ_r<N>.json). */
@graft.SlowFuzz
class VectorFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical embedding-set stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 5).map { _ =>
        val (vs, p) = VectorFuzz.vectorSet(r)
        (vs.map(v => (v.id, v.v.toSeq)), p)
      }
    }
    assert(gen(12L) === gen(12L))
    assert(gen(12L) !== gen(13L))
  }

  test("the generator plants every adversarial shape across 30 sets") {
    val r = new Random(12L)
    val sets = (0 until 30).map(_ => VectorFuzz.vectorSet(r)._1)
    val all = sets.flatten
    assert(all.exists(_.v.forall(_ == 0.0f)), "zero vector missing")
    assert(sets.exists(s => s.groupBy(_.v.toSeq).exists(_._2.size > 1)),
      "exact duplicate missing")
    // collinear pair: some vector is a nonzero scalar multiple of another
    assert(sets.exists { s =>
      val nz = s.filter(_.v.exists(_ != 0.0f))
      nz.combinations(2).exists { case Seq(a, b) =>
        val pairs = a.v.zip(b.v).filter(p => p._1 != 0.0f || p._2 != 0.0f)
        pairs.nonEmpty && pairs.forall(p => p._1 != 0.0f && p._2 != 0.0f) && {
          val f = pairs.head._2 / pairs.head._1
          pairs.forall(p => p._2 == p._1 * f)
        }
      }
    }, "collinear scaled copy missing")
    assert(all.exists(v => v.v.count(_ != 0.0f) == 1), "axis vector missing")
    assert(all.exists(v => v.v.forall(x => x == 1.0f || x == -1.0f)),
      "±1 grid vector missing")
    assert(all.exists(v => v.v.exists(x => x != 0.0f && math.abs(x) < 1e-15f)),
      "tiny-magnitude vector missing")
    assert(all.exists(v => v.v.exists(x => math.abs(x) > 1e5f)),
      "large-magnitude vector missing")
  }

  test("2 seeds x 4 sets: Spark similarity tier matches the plain-Scala reference models") {
    val divergent = graft.Fuzz.sweep(spark, VectorFuzz, Seq(12L, 99L), 4)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
