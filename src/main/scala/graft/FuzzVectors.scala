package graft

import scala.util.Random

/** Full-sweep runner for the similarity/vector-tier embedding fuzz
  * ([[graft.fuzz.VectorFuzz]], round-14 verdict item 1): replays
  * `seeds × sets` seeded adversarial embedding sets through the Spark
  * ANN/quantization/k-means operators against the plain-Scala reference
  * models and prints one JSON line with the divergence count. Every 5th
  * set runs the deep checks (two-level IVF, PQ/SQ distortion aggregates,
  * partitioning invariance).
  *
  * usage: graft.FuzzVectors [nSets] [seed1,seed2,...]
  */
object FuzzVectors {
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
        val (vs, p) = graft.fuzz.VectorFuzz.vectorSet(r)
        val deep = i % 5 == 0
        val es = graft.fuzz.VectorFuzz.runOne(spark, vs, p, deep)
        total += 1
        if (es.nonEmpty) {
          failures += 1
          es.foreach(e => System.err.println(s"[vfuzz seed=$seed set=$i] $e"))
          val minimal = graft.fuzz.Shrink.ddmin(vs,
            (sub: Seq[graft.fuzz.VectorFuzz.Vec]) =>
              try graft.fuzz.VectorFuzz.runOne(spark, sub, p, deep).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[vfuzz seed=$seed set=$i] SHRUNK repro " +
            s"(${minimal.size} vecs, $p): " +
            minimal.map(v => s"${v.id}=[${v.v.mkString(",")}]").mkString(" | "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"vfuzz_sets":$total,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
