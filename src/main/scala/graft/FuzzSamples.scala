package graft

import scala.util.Random

/** Full-sweep runner for the sampling-tier differential fuzz
  * ([[graft.fuzz.SampleFuzz]]): replays `seeds × sets` seeded
  * adversarial corpora through the Sampling operators (hash sample /
  * split, stratified rates, per-group cap, temperature / mixture
  * rebalancing, weighted take, Neyman allocation, token-budget fill,
  * DSIR weights) against plain-Scala replays of the documented
  * content-hash arithmetic and prints one JSON line with the
  * divergence count. Every 4th set runs the deep checks (DSIR,
  * partitioning invariance).
  *
  * usage: graft.FuzzSamples [nSets] [seed1,seed2,...]
  */
object FuzzSamples {
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
        val (rows, p) = graft.fuzz.SampleFuzz.sampleSet(r)
        val deep = i % 4 == 0
        val errs = graft.fuzz.SampleFuzz.runOne(spark, rows, p, deep)
        total += 1
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[smfuzz seed=$seed set=$i] $e"))
          val minimal = graft.fuzz.Shrink.ddmin(rows,
            (sub: Seq[graft.fuzz.SampleFuzz.SRow]) =>
              try graft.fuzz.SampleFuzz.runOne(spark, sub, p, deep).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[smfuzz seed=$seed set=$i] SHRUNK repro " +
            s"(${minimal.size} rows, $p): " + minimal.mkString(" | "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"smfuzz_sets":$total,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
