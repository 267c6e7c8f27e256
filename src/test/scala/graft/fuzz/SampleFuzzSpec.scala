package graft.fuzz

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the sampling-tier differential fuzz:
  * 2 seeds × 4 adversarial sets (one deep: DSIR + partitioning
  * invariance) through the Sampling operators vs the plain-Scala
  * contract replays. The full multi-seed sweep runs via
  * `graft.Fuzz samples` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class SampleFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical set stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 5).map(_ => SampleFuzz.sampleSet(r))
    }
    val (a, b) = (gen(12L), gen(12L))
    assert(a === b)
    assert(gen(12L).map(_._2) !== gen(13L).map(_._2))
  }

  test("the generator plants every adversarial shape across 80 sets") {
    val r = new Random(7L)
    val sets = (0 until 80).map(_ => SampleFuzz.sampleSet(r))
    val rows = sets.flatMap(_._1)
    assert(rows.exists(_.stratum.isEmpty), "null strata never drawn")
    assert(rows.exists(_.weight.isEmpty), "null weights never drawn")
    assert(rows.exists(_.weight.contains(-1.0)), "negative weights never drawn")
    assert(rows.exists(_.weight.contains(0.0)), "zero weights never drawn")
    assert(rows.exists(_.text.isEmpty), "null text never drawn")
    assert(rows.exists(_.id.exists(_ > 0x7f)), "multi-byte ids never drawn")
    // boundary rates: some set's rate is the EXACT hash unit of a row
    assert(sets.exists { case (rs, p) =>
      rs.exists(x => SampleFuzz.uOf(x.id, p.seed) == p.rate) },
      "exact-boundary rates never planted")
    // the all-strata zero-variance (wt = 0) degenerate is reachable
    assert(sets.exists { case (rs, _) => SampleFuzz.neymanDegenerate(rs) },
      "degenerate Neyman weight total never drawn")
  }

  test("reference models: hand-checked micro-set") {
    import SampleFuzz._
    // hashUnit twin vs the exposed splitThresholds contract
    assert(graft.operators.Sampling.splitThresholds(
      Seq("a" -> 0.1, "b" -> 0.2, "c" -> 0.7)) ===
      Seq(0.1, 0.1 + 0.2, 0.1 + 0.2 + 0.7))
    // strict-< boundary: a rate equal to a row's u excludes the row
    val row = SRow("d0", Some("a"), 1L, Some(1.0), 5L, Some("x"), isT = true)
    val u = uOf("d0", "")
    assert(refHashSample(Seq(row), u, "") === Set.empty)
    assert(refHashSample(Seq(row), Math.nextUp(u), "") === Set("d0"))
    // token budget: greedy boundary keeps the overshooting doc
    val rs = Seq(
      SRow("a1", Some("s"), 0L, None, 10L, None, isT = false),
      SRow("a2", Some("s"), 0L, None, 10L, None, isT = false),
      SRow("a3", Some("s"), 0L, None, 10L, None, isT = false))
    val kept = refTokenBudget(rs, 15L)
    assert(kept.size === 2, s"greedy fill must keep 2 of 3: $kept")
    // degenerate Neyman: constant values in every stratum → the
    // proportional fallback allocates floor(5·2/2) = 5 (capped by rank)
    val const = Seq(
      SRow("c1", Some("s"), 7L, None, 1L, None, isT = false),
      SRow("c2", Some("s"), 7L, None, 1L, None, isT = false))
    assert(neymanDegenerate(const))
    assert(refNeyman(const, 5) === Map("c1" -> 5L, "c2" -> 5L))
  }

  test("2 seeds x 4 sets: Spark samplers match the contract replays") {
    val divergent = graft.Fuzz.sweep(spark, SampleFuzz, Seq(12L, 99L), 4)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
