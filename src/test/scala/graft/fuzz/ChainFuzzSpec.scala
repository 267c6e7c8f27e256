package graft.fuzz

import graft.operators._

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the curation-chain composition fuzz
  * (round-14 verdict item 3): 2 seeds × 4 random chains over the
  * CorpusFuzz adversarial corpora, Spark composition vs composed
  * reference models. The full multi-seed sweep runs via
  * `graft.Fuzz chains` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class ChainFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical chain stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 10).map(_ => ChainFuzz.randomChain(r))
    }
    assert(gen(12L) === gen(12L))
    assert(gen(12L) !== gen(13L))
  }

  test("chains always have 2-4 stages and draw from every slot across 200 rolls") {
    val r = new Random(7L)
    val chains = (0 until 200).map(_ => ChainFuzz.randomChain(r))
    assert(chains.forall(c => c.size >= 2 && c.size <= 4))
    val all = chains.flatten
    assert(all.exists(_ == ChainFuzz.Normalize), "rewrite slot never drawn")
    assert(all.exists(_.isInstanceOf[ChainFuzz.SubstrRemove]), "substr rewrite never drawn")
    assert(all.exists(_ == ChainFuzz.C4Keep), "quality slot never drawn")
    assert(all.exists(_ == ChainFuzz.ExactDedupKeep), "dedup slot never drawn")
    assert(all.exists(_.isInstanceOf[ChainFuzz.HashSample]), "sampler slot never drawn")
    assert(all.exists(_.isInstanceOf[ChainFuzz.LangKeep]), "lang filter never drawn")
  }

  test("2 seeds x 4 chains: Spark composition matches the composed reference models") {
    val divergent = graft.Fuzz.sweep(spark, ChainFuzz, Seq(12L, 99L), 4)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
