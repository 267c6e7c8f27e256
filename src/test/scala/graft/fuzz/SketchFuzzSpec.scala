package graft.fuzz

import graft.operators._

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the sketch-tier differential fuzz:
  * 2 seeds × 3 adversarial value sets (one deep) through
  * KMV/HLL/CMS/Bloom/DDSketch/quantile-sample vs the exact plain-Scala
  * md5 reference models. The full multi-seed sweep runs via
  * `graft.Fuzz sketches` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class SketchFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical value-set stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 5).map(_ => SketchFuzz.valueSet(r))
    }
    val (a, b) = (gen(12L), gen(12L))
    assert(a.map(_.occ) === b.map(_.occ))
    assert(a.map(_.num) === b.map(_.num))
    assert(a.map(_.p) === b.map(_.p))
    assert(gen(12L).map(_.occ) !== gen(13L).map(_.occ))
  }

  test("the generator plants every adversarial shape across 40 sets") {
    val r = new Random(7L)
    val sets = (0 until 40).map(_ => SketchFuzz.valueSet(r))
    assert(sets.exists(_.p.cmsWidth == 8), "tiny CMS width never drawn")
    assert(sets.exists(_.p.mBits == 32), "tiny bloom never drawn")
    assert(sets.exists(_.occ.exists(_._2 == "")), "empty-string key never drawn")
    assert(sets.exists(_.occ.exists(_._2.exists(_ > 0x7f))), "non-ASCII key never drawn")
    assert(sets.exists(_.num.exists(_._2 <= 0.0)), "non-positive value never drawn")
    assert(sets.exists(_.num.exists(_._2 <= 1e-290)), "denormal-scale value never drawn")
    assert(sets.exists(_.num.exists(_._2 >= 1e15)), "huge value never drawn")
  }

  test("reference models: hand-checked micro-cases") {
    // hashUnit contract: first 6 md5 hex chars / 2^24, md5 of UTF-8 bytes
    val u = SketchFuzz.refHashUnit("a")
    assert(u >= 0.0 && u < 1.0)
    // bloom: a built key always probes present
    val words = SketchFuzz.refBloom(Seq("x", "y"), 64, 3)
    assert(SketchFuzz.refBloomProbe("x", words, 64, 3))
    assert(SketchFuzz.refBloomProbe("y", words, 64, 3))
    // cms: the estimate of a key seen n times is at least n
    val cells = SketchFuzz.refCms(Seq("k", "k", "k", "j"), 8, 3)
    assert(SketchFuzz.refCmsEstimate("k", cells, 8, 3) >= 3L)
  }

  test("2 seeds x 3 sets: Spark sketches match the exact reference models") {
    val divergent = graft.Fuzz.sweep(spark, SketchFuzz, Seq(12L, 99L), 3)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
