package graft

import scala.util.Random

/** Full-sweep runner for the sketch-tier differential fuzz
  * ([[graft.fuzz.SketchFuzz]]): replays `seeds × sets` seeded
  * adversarial value sets through KMV / HLL / CMS / Bloom / DDSketch /
  * quantile-sample against exact plain-Scala md5 reference models and
  * prints one JSON line with the divergence count. Every 4th set runs
  * the deep checks (quantile sample, CMS join-size, partitioning
  * invariance).
  *
  * usage: graft.FuzzSketches [nSets] [seed1,seed2,...]
  */
object FuzzSketches {
  def main(args: Array[String]): Unit = {
    val nSets = if (args.length > 0) args(0).toInt else 50
    val seeds = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
                else Seq(12L, 99L, 7L, 42L, 2026L)
    val spark = GraftSession.builder().getOrCreate()
    var total = 0
    var failures = 0
    for (seed <- seeds) {
      val r = new Random(seed)
      for (i <- 0 until nSets) {
        val set = graft.fuzz.SketchFuzz.valueSet(r)
        val deep = i % 4 == 0
        val errs = graft.fuzz.SketchFuzz.runOne(spark, set, deep)
        total += 1
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[sfuzz seed=$seed set=$i] $e"))
          val minimal = graft.fuzz.Shrink.ddmin(set.occ,
            (sub: Seq[(String, String)]) =>
              try graft.fuzz.SketchFuzz.runOne(spark,
                set.copy(occ = sub), deep).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[sfuzz seed=$seed set=$i] SHRUNK occ repro " +
            s"(${minimal.size} rows, ${set.p}): " +
            minimal.map { case (s, k) => s"$s=$k" }.mkString(" | "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"skfuzz_sets":$total,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
