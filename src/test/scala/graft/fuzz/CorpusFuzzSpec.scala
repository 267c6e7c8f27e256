package graft.fuzz

import graft.operators._

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the text/dedup corpus fuzz (round-13
  * verdict item 5). The generator's contract (seeded determinism, shape
  * coverage) plus a 2-seed × 8-corpus differential against the
  * plain-Scala reference models — enough to catch a contract break in
  * CI; the full 5-seed × 50-corpus sweep runs via `graft.Fuzz corpus`
  * and its zero-divergence record is committed per round
  * (FUZZ_r<N>.json). */
@graft.SlowFuzz
class CorpusFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical corpus stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 5).map(_ => CorpusFuzz.corpus(r))
    }
    assert(gen(12L) === gen(12L))
    assert(gen(12L).map(_._1) !== gen(13L).map(_._1))
  }

  test("the generator plants every adversarial shape across 30 corpora") {
    val r = new Random(12L)
    val all = (0 until 30).flatMap(_ => CorpusFuzz.corpus(r)._1)
    val texts = all.flatMap(_.text)
    assert(all.exists(_.text.isEmpty), "null text missing")
    assert(texts.contains(""), "empty doc missing")
    assert(texts.exists(t => t.nonEmpty && t.trim.isEmpty), "whitespace doc missing")
    assert(texts.exists(_.contains("boilerplate sentence")), "boilerplate missing")
    assert(texts.exists(_.exists(_ > 0xFFFF.toChar)) ||
      texts.exists(_.codePoints().anyMatch(_ > 0xFFFF)), "astral plane missing")
    assert(texts.exists(_.contains("İstanbul")), "Turkish İ missing")
    assert(texts.exists(_.length > 400), "very long token missing")
    assert(texts.groupBy(identity).exists(_._2.size > 1), "exact dup missing")
  }

  test("2 seeds x 8 corpora: Spark operators match the plain-Scala reference models") {
    val divergent = graft.Fuzz.sweep(spark, CorpusFuzz, Seq(12L, 99L), 8)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
