package graft.fuzz

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the temporal-tier differential fuzz:
  * 2 seeds × 4 adversarial sets (one deep: partitioning invariance)
  * through the as-of / range / overlap joins and the EventStream batch
  * faces vs the plain-Scala reference models. The full multi-seed sweep
  * runs via `graft.Fuzz temporal` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class TemporalFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical set stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 5).map(_ => TemporalFuzz.tempoSet(r))
    }
    val (a, b) = (gen(12L), gen(12L))
    assert(a.map(_.left) === b.map(_.left))
    assert(a.map(_.right) === b.map(_.right))
    assert(a.map(_.events) === b.map(_.events))
    assert(gen(12L).map(_.p) !== gen(13L).map(_.p))
  }

  test("the generator plants every adversarial shape across 60 sets") {
    val r = new Random(7L)
    val sets = (0 until 60).map(_ => TemporalFuzz.tempoSet(r))
    assert(sets.exists(_.left.isEmpty), "empty left side never drawn")
    assert(sets.exists(s => s.events.exists(_.ts < 0L)),
      "pre-1970 instants never drawn")
    assert(sets.exists(s =>
      s.ivalsL.exists(i => i.is == i.ie)), "zero-length intervals never drawn")
    assert(sets.exists(s => s.rightDup.size > s.right.size),
      "duplicate (key, ts) right rows never planted")
    assert(sets.exists(s => s.right.exists(_.v.isEmpty)),
      "null value columns never drawn")
    // boundary collisions: some left instant equals some right instant
    assert(sets.exists(s =>
      s.left.map(_.lts).toSet.intersect(s.right.map(_.rts).toSet).nonEmpty),
      "equal left/right timestamps never planted")
    // sub-millisecond micros survive the round-trip
    assert(sets.exists(s => s.events.exists(e =>
      Math.floorMod(e.ts, 1000L) != 0L)), "sub-ms micros never drawn")
    sets.flatMap(_.events).foreach { e =>
      assert(TemporalFuzz.microsOf(TemporalFuzz.tsOf(e.ts)) === e.ts)
    }
  }

  test("reference models: hand-checked micro-set") {
    import TemporalFuzz._
    val left = Seq(LRow(0L, 1L, 100L), LRow(1L, 1L, 50L))
    val right = Seq(
      RRow(1000L, 1L, 100L, Some(1.0), Some("a")),   // equal-ts: backward claims it
      RRow(1001L, 1L, 160L, Some(2.0), Some("b")))
    assert(refAsofBackward(left, right) === Map(
      0L -> ((Some(100L), Some(1.0), Some("a"))),
      1L -> ((None, None, None))))
    assert(refAsofForward(left, right) === Map(
      0L -> ((Some(100L), Some(1.0), Some("a"))),
      1L -> ((Some(100L), Some(1.0), Some("a")))))
    // nearest for lid=1: backward none, forward 100 → forward wins
    assert(refAsofNearest(left, right)(1L) === ((Some(100L), Some(1.0), Some("a"))))
    // tie collapse keeps the min-rid row
    val dup = right :+ RRow(500L, 1L, 100L, Some(9.0), Some("z"))
    assert(collapseTies(dup).filter(_.rts == 100L).map(_.rid) === Seq(500L))
    // sessions: gap 10 splits 100|50? sorted = 50,100 → gap 50 > 10 splits
    val es = Seq(ERow(1L, "click", 1L, 50L, Some(1.5)),
                 ERow(1L, "click", 2L, 100L, None))
    val ss = refSessions(es, 10L)
    assert(ss((1L, 1L)) === ((1L, 50L, 50L, Some(1.5))))
    assert(ss((1L, 2L)) === ((1L, 100L, 100L, None)))
    // hour quota on a pre-1970 instant floors DOWN (bucket -1, not 0)
    val q = refQuota(Seq(ERow(1L, "v", 1L, -1L, None)), 3)
    assert(q.keySet === Set((1L, -1L)))
    // hopping: len 2ms slide 1ms → event at 1500µs lands in starts 1000, 1500? no:
    // slide grid 1000µs, starts with s <= 1500 < s+2000 → s ∈ {1000, 0}
    val h = refHopping(Seq(ERow(1L, "v", 1L, 1500L, Some(1.0))), 2L, 1L)
    assert(h.keySet === Set((0L, "v"), (1000L, "v")))
  }

  test("2 seeds x 4 sets: Spark operators match the reference models") {
    val divergent = graft.Fuzz.sweep(spark, TemporalFuzz, Seq(12L, 99L), 4)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
