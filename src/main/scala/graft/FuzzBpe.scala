package graft

import scala.util.Random

/** Full-sweep runner for the BPE trainer/encoder differential fuzz
  * ([[graft.fuzz.BpeFuzz]]): replays `seeds × corpora` CorpusFuzz
  * adversarial corpora (plus planted tie/merge-degenerate words)
  * through BOTH bpeTrainDistributed dispatch paths and bpeEncode
  * against the plain-Scala Sennrich-contract replay and prints one
  * JSON line with the divergence count. Every 4th corpus runs the deep
  * check (distributed-path partitioning invariance).
  *
  * usage: graft.FuzzBpe [nCorpora] [seed1,seed2,...]
  */
object FuzzBpe {
  def main(args: Array[String]): Unit = {
    val nCorpora = if (args.length > 0) args(0).toInt else 30
    val seeds = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
                else Seq(12L, 99L, 7L, 42L, 2026L)
    val spark = GraftSession.builder().getOrCreate()
    var total = 0
    var failures = 0
    for (seed <- seeds) {
      val r = new Random(seed)
      for (i <- 0 until nCorpora) {
        val (docs, p) = graft.fuzz.BpeFuzz.bpeCorpus(r)
        val deep = i % 4 == 0
        val errs = graft.fuzz.BpeFuzz.runOne(spark, docs, p, deep)
        total += 1
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[bpfuzz seed=$seed corpus=$i] $e"))
          val minimal = graft.fuzz.Shrink.ddmin(docs,
            (ds: Seq[graft.fuzz.CorpusFuzz.Doc]) =>
              try graft.fuzz.BpeFuzz.runOne(spark, ds, p, deep).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[bpfuzz seed=$seed corpus=$i] SHRUNK repro " +
            s"(${minimal.size} docs, $p): " +
            minimal.map(d => s"${d.id}=${d.text}").mkString(" | "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"bpfuzz_corpora":$total,"seeds":${seeds.size},"divergent_corpora":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
