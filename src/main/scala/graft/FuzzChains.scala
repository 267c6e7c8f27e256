package graft

import scala.util.Random

/** Full-sweep runner for the curation-chain composition fuzz
  * ([[graft.fuzz.ChainFuzz]], round-14 verdict item 3): for each
  * seeded [[graft.fuzz.CorpusFuzz]] adversarial corpus, builds a
  * random 2–4 stage curation chain and diffs the Spark DataFrame
  * composition against the composed plain-Scala reference models,
  * stage by stage. Prints one JSON line with the divergence count.
  *
  * usage: graft.FuzzChains [nChains] [seed1,seed2,...]
  */
object FuzzChains {
  def main(args: Array[String]): Unit = {
    val nChains = if (args.length > 0) args(0).toInt else 40
    val seeds = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
                else Seq(12L, 99L, 7L)
    val spark = GraftSession.builder().getOrCreate()
    var total = 0
    var failures = 0
    for (seed <- seeds) {
      val r = new Random(seed)
      for (i <- 0 until nChains) {
        val (docs, _, _) = graft.fuzz.CorpusFuzz.corpus(r)
        val chain = graft.fuzz.ChainFuzz.randomChain(r)
        val es = graft.fuzz.ChainFuzz.runOne(spark, docs, chain)
        total += 1
        if (es.nonEmpty) {
          failures += 1
          es.foreach(e => System.err.println(s"[chfuzz seed=$seed chain=$i] $e"))
          val minimal = graft.fuzz.Shrink.ddmin(docs,
            (ds: Seq[graft.fuzz.CorpusFuzz.Doc]) =>
              try graft.fuzz.ChainFuzz.runOne(spark, ds, chain).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[chfuzz seed=$seed chain=$i] SHRUNK repro " +
            s"(${minimal.size} docs, chain=[${chain.mkString(" → ")}]): " +
            minimal.map(d => s"${d.id}=${d.text}").mkString(" | "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"chfuzz_chains":$total,"seeds":${seeds.size},"divergent_chains":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
