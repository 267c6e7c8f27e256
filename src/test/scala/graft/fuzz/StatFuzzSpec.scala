package graft.fuzz

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the inline-analytics differential fuzz:
  * 2 seeds × 3 adversarial frame sets through Series / StatTests /
  * DataQuality vs the plain-Scala contract replays. The full sweep runs
  * via `graft.Fuzz stats` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class StatFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical set stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 5).map(_ => StatFuzz.statSet(r))
    }
    assert(gen(12L) === gen(12L))
    assert(gen(12L) !== gen(13L))
  }

  test("the generator plants every degenerate shape across 60 sets") {
    val r = new Random(7L)
    val sets = (0 until 60).map(_ => StatFuzz.statSet(r))
    assert(sets.exists(s => s.series.groupBy(_.key).values
      .exists(g => g.size > 2 && g.map(_.value).distinct.size == 1)),
      "no zero-variance history")
    assert(sets.exists(s => s.series.groupBy(_.key).values.exists(_.size == 1)),
      "no single-row series key")
    assert(sets.exists(s => s.groups.nonEmpty && !s.groups.exists(_.group == "A")),
      "no empty two-sample side")
    assert(sets.exists(s => s.groups.count(_.group == "B") > 2 &&
      s.groups.map(_.value).distinct.size == 1), "no all-ties group frame")
    assert(sets.exists(s => s.obs.nonEmpty && s.obs.forall(_.death == 1L)),
      "no full-death risk set")
    assert(sets.exists(s => s.per.size > 1 && s.per.map(_.x).distinct.size == 1),
      "no zero-variance CUPED covariate")
    assert(sets.exists(_.dq.isEmpty), "no empty DataQuality table")
    assert(sets.exists(s => s.dq.map(_.id).distinct.size < s.dq.size),
      "no duplicate unique-keys")
    assert(sets.exists(_.dq.exists(_.id.isEmpty)), "no null unique-keys")
    assert(sets.exists(s => s.sky.distinct.size < s.sky.size),
      "no duplicate skyline pairs")
  }

  test("differential subset: operators vs models, zero divergences") {
    val divergent = graft.Fuzz.sweep(spark, StatFuzz, Seq(12L, 2026L), 3)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
