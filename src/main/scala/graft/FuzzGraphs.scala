package graft

import scala.util.Random

/** Full-sweep runner for the graph-tier differential fuzz
  * ([[graft.fuzz.GraphFuzz]]): replays `seeds × sets` seeded
  * adversarial graphs through ConnectedComponents (plain + forced
  * star-contraction + incremental merge), LabelPropagation, PageRank and
  * the GraphStats statistics against plain-Scala reference models and
  * prints one JSON line with the divergence count. Every 4th set runs
  * the deep checks (star fallback, partitioning invariance).
  *
  * usage: graft.FuzzGraphs [nSets] [seed1,seed2,...]
  */
object FuzzGraphs {
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
        val (es, mem, p) = graft.fuzz.GraphFuzz.graphSet(r)
        val deep = i % 4 == 0
        val errs = graft.fuzz.GraphFuzz.runOne(spark, es, mem, p, deep)
        total += 1
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[gfuzz seed=$seed set=$i] $e"))
          val minimal = graft.fuzz.Shrink.ddmin(es,
            (sub: Seq[(Long, Long)]) =>
              try graft.fuzz.GraphFuzz.runOne(spark, sub,
                mem, p, deep).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[gfuzz seed=$seed set=$i] SHRUNK repro " +
            s"(${minimal.size} edges, $p): " +
            minimal.map(e => s"${e._1}-${e._2}").mkString(" "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"gfuzz_sets":$total,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
