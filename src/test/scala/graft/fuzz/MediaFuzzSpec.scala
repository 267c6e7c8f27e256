package graft.fuzz

import graft.SparkSpec
import graft.operators.Multimodal
import scala.util.Random

/** Fast deterministic subset of the multimodal codec adversarial-bytes
  * fuzz: 2 seeds × 3 sets (one deep: encode→decode layout round-trip)
  * through the strict parsers and lenient DataFrame quarantine twins vs
  * the independent decoder models. The full multi-seed sweep runs via
  * `graft.Fuzz media` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class MediaFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical payload stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 3).map(i => MediaFuzz.mediaSet(r, i)
        .map(p => (p.id, p.kind, p.desc, p.bytes.toSeq)))
    }
    assert(gen(12L) === gen(12L))
    assert(gen(12L) !== gen(13L))
  }

  test("the generator plants every adversarial shape across 40 sets") {
    val r = new Random(7L)
    val sets = (0 until 40).map(i => MediaFuzz.mediaSet(r, i))
    val all = sets.flatten
    for (k <- Seq("bmp", "wav", "avi"))
      assert(all.exists(_.kind == k), s"no $k payloads")
    assert(all.exists(_.desc.contains("truncate")), "no truncations")
    assert(all.exists(_.desc.contains("magic flip")), "no magic flips")
    assert(all.exists(_.desc.contains("len 2^31")), "no Int-wrap lengths")
    assert(all.exists(_.desc.contains("bmp dims")), "no crafted BMP dims")
    assert(all.exists(_.desc.contains("format tags")), "no format-tag damage")
    assert(all.exists(_.desc.contains("nested LIST")), "no LIST corruption")
    assert(all.exists(_.desc.contains("dup-strf")), "no duplicate-strf shape")
    assert(all.exists(_.desc.contains("garbage")), "no garbage payloads")
    assert(all.exists(_.desc.contains("byte flips")), "no random flips")
    assert(all.exists(p => p.desc.startsWith("built bmp")), "no built BMPs")
    assert(all.exists(p => p.desc.startsWith("built wav")), "no built WAVs")
    // at least one valid payload of every kind survives mutation-free
    for (k <- Seq("bmp", "wav", "avi"))
      assert(all.exists(p => p.kind == k && p.desc.startsWith("pipeline")),
        s"no pipeline-encoded $k")
  }

  test("differential subset: strict + lenient vs models, zero divergences") {
    val divergent = graft.Fuzz.sweep(spark, MediaFuzz, Seq(12L, 2026L), 3)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }

  test("model rejects exactly the documented codes on hand-built damage") {
    // top-down BMP with a gap decodes identically through model and parser
    val p = Array.tabulate(30)(i => (i * 7 + 3).toByte)
    val td = MediaFuzz.buildBmp(p, 3, topDown = true, gap = 14, trailing = 5)
    assert(MediaFuzz.modelBmp(td, 3) === Right(
      Multimodal.parseBmp(td, 3) match {
        case (w, h, s, c) => (w, h, s.toSeq, c.toSeq)
      }))
    // duplicate strf rejects with the stable code in both engines
    val dup = MediaFuzz.buildAvi(p, 3, 2, junkTop = false,
      junkInMovi = false, dupStrf = true)
    assert(MediaFuzz.modelAvi(dup, 3) === Left("duplicate strf header"))
    val e = intercept[IllegalArgumentException] { Multimodal.parseAvi(dup, 3) }
    assert(Multimodal.reasonCode(e) === "duplicate strf header")
    // WAV with a zero sample rate rejects as bad sample rate, not missing
    val wv = MediaFuzz.buildWav(p, 1, Nil, Nil)
    val f = wv.indexOfSlice("fmt ".getBytes("US-ASCII"))
    wv(f + 12) = 0 // rate 1 -> 0
    assert(MediaFuzz.modelWav(wv, 3) === Left("bad sample rate"))
    val e2 = intercept[IllegalArgumentException] { Multimodal.parseWav(wv, 3) }
    assert(Multimodal.reasonCode(e2) === "bad sample rate")
  }
}
