package graft

import scala.util.Random

/** Full-sweep runner for the multimodal codec adversarial-bytes fuzz
  * ([[graft.fuzz.MediaFuzz]]): replays `seeds × sets` of valid BMP/WAV/
  * AVI containers (pipeline encoders + independent model builders) and
  * byte-level mutations (truncations, flipped/overflow-crafted length
  * fields, wrong magics, nested-LIST corruption, format-tag damage,
  * random flips) through the strict parsers AND the lenient DataFrame
  * quarantine twins, against independent plain-Scala decoder models.
  * Every 4th set also runs the encode→decode layout round-trip deep
  * check. Prints one JSON line with the divergence count.
  *
  * usage: graft.FuzzMedia [nSets] [seed1,seed2,...]
  */
object FuzzMedia {
  def main(args: Array[String]): Unit = {
    val nSets = if (args.length > 0) args(0).toInt else 40
    val seeds = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
                else Seq(12L, 99L, 7L, 42L, 2026L)
    val spark = GraftSession.builder().getOrCreate()
    var total = 0
    var payloads = 0
    var failures = 0
    for (seed <- seeds) {
      val r = new Random(seed)
      for (i <- 0 until nSets) {
        val set = graft.fuzz.MediaFuzz.mediaSet(r, seed * 100000L + i)
        val deep = i % 4 == 0
        val errs = graft.fuzz.MediaFuzz.runOne(spark, set, deep, r)
        total += 1
        payloads += set.size
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[mdfuzz seed=$seed set=$i] $e"))
          val minimal = graft.fuzz.Shrink.ddmin(set,
            (sub: Seq[graft.fuzz.MediaFuzz.MPayload]) =>
              try graft.fuzz.MediaFuzz.runOne(spark, sub, deep = false,
                new Random(seed)).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[mdfuzz seed=$seed set=$i] SHRUNK repro " +
            s"(${minimal.size} payloads): " + minimal.mkString(" | "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"mdfuzz_sets":$total,"payloads":$payloads,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
