package graft.fuzz

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the BPE differential fuzz: 2 seeds ×
  * 3 corpora (one deep: distributed partitioning invariance) through
  * both trainer dispatch paths + encode vs the Sennrich-contract
  * replay. The full multi-seed sweep runs via `graft.Fuzz bpe`
  * (FUZZ_r<N>.json). */
@graft.SlowFuzz
class BpeFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical corpus stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 4).map(_ => BpeFuzz.bpeCorpus(r))
    }
    assert(gen(12L) === gen(12L))
    assert(gen(12L).map(_._2) !== gen(13L).map(_._2))
  }

  test("reference model: hand-checked micro-corpus") {
    import BpeFuzz._
    // "low low lower": freq low=2, lower=1; round 1 pairs:
    // (l,o)=3, (o,w)=3, (w,e)=1, (e,r)=1 → tie (l,o) vs (o,w) → lhs asc
    val docs = Seq(CorpusFuzz.Doc(1L, Some("low low lower")))
    val (m, _) = refBpeTrain(docs, BParams(rounds = 2, minFreq = 1,
      maxWords = 1 << 22))
    assert(m.head === ((1L, "l", "o", 3L)))
    // round 2: (lo,w)=3 wins
    assert(m(1) === ((2L, "lo", "w", 3L)))
    // greedy non-overlap: merging (a,a) over "aaaa" gives aa|aa, not aaa|a
    assert(mergeOnce(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    // "aaa" → aa|a (the just-merged aa cannot re-match left side a)
    assert(mergeOnce(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    // encode replay: with rules [(l,o),(lo,w)], "low" → 1 token
    val enc = refBpeEncode(docs, m.map(x => (x._2, x._3)))
    assert(enc(1L) === ((Some(3L), Some(1L + 1L + 3L))),
      "low→low(1), low→low(1), lower→low,e,r(3)")
  }

  test("2 seeds x 3 corpora: both trainer paths + encode match the replay") {
    val divergent = graft.Fuzz.sweep(spark, BpeFuzz, Seq(12L, 99L), 3)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
