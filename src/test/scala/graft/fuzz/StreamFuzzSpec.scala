package graft.fuzz

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the streaming parity fuzz: 2 seeds ×
  * 2 schedules (one with late-beyond-watermark rows) through the
  * MemoryStream differentials, the session differential, and one
  * checkpoint-kill round. The full multi-seed sweep runs via
  * `graft.Fuzz stream` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class StreamFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical schedule stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 3).map(_ => StreamFuzz.schedule(r, withLate = true).batches)
    }
    assert(gen(12L) === gen(12L))
    assert(gen(12L) !== gen(13L))
  }

  test("the generator plants the adversarial stream shapes across 40 sets") {
    val r = new Random(7L)
    val sets = (0 until 40).map(i => StreamFuzz.schedule(r, withLate = i % 2 == 1))
    assert(sets.exists(_.batches.exists(_.isEmpty)), "no heartbeat-only batches")
    // late rows: some retainedByTs set is a strict subset of all events
    assert(sets.exists(s =>
      StreamFuzz.retainedByTs(s).size < s.batches.flatten.size),
      "no late-beyond-watermark rows survive generation")
    // duplicate bursts: some schedule carries a repeated event id
    assert(sets.exists { s =>
      val ids = s.batches.flatten.map(_.id)
      ids.distinct.size < ids.size
    }, "no duplicate bursts")
    // windowed retention differs from ts retention on some set (an event
    // late by ts but inside a still-open window)
    assert(sets.exists(s =>
      StreamFuzz.retainedWindowed(s).map(_.id).toSet !=
        StreamFuzz.retainedByTs(s).map(_.id).toSet),
      "window-end vs ts retention never diverges")
  }

  test("differential subset: stream faces vs batch twins, zero divergences") {
    val divergent = graft.Fuzz.sweep(spark, StreamFuzz, Seq(12L, 2026L), 2)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }

  test("checkpoint-kill round: resume keeps batch parity") {
    val r = new Random(42L)
    val s = StreamFuzz.schedule(r, withLate = false)
    val errs = StreamFuzz.runRestart(spark, s, tmpDir("stfuzz_restart"),
      killAfter = 2)
    assert(errs.isEmpty, errs.mkString("\n"))
  }
}
