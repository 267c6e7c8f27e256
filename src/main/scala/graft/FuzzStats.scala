package graft

import scala.util.Random

/** Full-sweep runner for the inline-analytics differential fuzz
  * ([[graft.fuzz.StatFuzz]]): replays `seeds × sets` adversarial frames
  * through Series (trailing z, robust z, EWMA, rank-sum z), StatTests
  * (Mann-Kendall, Kaplan-Meier, CUPED, KS) and DataQuality rule fusion
  * against plain-Scala replays of the documented arithmetic, with
  * planted degenerate shapes (zero variance, all-ties, single-row and
  * empty groups, full-death risk sets, NaN θ propagation, empty
  * tables). Prints one JSON line with the divergence count.
  *
  * usage: graft.FuzzStats [nSets] [seed1,seed2,...]
  */
object FuzzStats {
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
        val set = graft.fuzz.StatFuzz.statSet(r)
        val errs = graft.fuzz.StatFuzz.runOne(spark, set)
        total += 1
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[stafuzz seed=$seed set=$i] $e"))
          System.err.println(s"[stafuzz seed=$seed set=$i] set: $set")
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"stafuzz_sets":$total,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
