package graft

import scala.util.Random

/** Full-sweep runner for the text/dedup corpus fuzz
  * ([[graft.fuzz.CorpusFuzz]], round-13 verdict item 5): replays
  * `seeds × corpora` seeded adversarial corpora through the Spark
  * operators against the plain-Scala reference models and prints one
  * JSON line with the divergence count. Every 5th corpus runs the deep
  * checks (minhash planted-dup recall, partitioning invariance).
  *
  * usage: graft.FuzzCorpus [nCorpora] [seed1,seed2,...]
  */
object FuzzCorpus {
  def main(args: Array[String]): Unit = {
    val nCorpora = if (args.length > 0) args(0).toInt else 50
    val seeds = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
                else Seq(12L, 99L, 7L, 42L, 2026L)
    val spark = GraftSession.builder().getOrCreate()
    var total = 0
    var failures = 0
    val errs = List.newBuilder[String]
    for (seed <- seeds) {
      val r = new Random(seed)
      for (i <- 0 until nCorpora) {
        val (docs, p, dupPairs) = graft.fuzz.CorpusFuzz.corpus(r)
        val deep = i % 5 == 0
        val es = graft.fuzz.CorpusFuzz.runOne(spark, docs, p, dupPairs, deep)
        total += 1
        if (es.nonEmpty) {
          failures += 1
          es.foreach(e => System.err.println(s"[cfuzz seed=$seed corpus=$i] $e"))
          errs ++= es.map(e => s"seed=$seed corpus=$i: $e")
          // ddmin the corpus to a 1-minimal failing doc set so the
          // record is self-explaining (planted-dup recall is skipped in
          // the shrink predicate — pair ids drop out of subsets)
          val minimal = graft.fuzz.Shrink.ddmin(docs,
            (ds: Seq[graft.fuzz.CorpusFuzz.Doc]) =>
              try graft.fuzz.CorpusFuzz.runOne(spark, ds, p, Seq.empty, deep).nonEmpty
              catch { case _: Throwable => true })
          System.err.println(s"[cfuzz seed=$seed corpus=$i] SHRUNK repro " +
            s"(${minimal.size} docs, $p): " +
            minimal.map(d => s"${d.id}=${d.text}").mkString(" | "))
        }
        // the shingle caches a corpus run leaves behind are per-session;
        // clear between corpora so 250 runs don't accrete executor memory
        spark.catalog.clearCache()
      }
    }
    println(s"""{"cfuzz_corpora":$total,"seeds":${seeds.size},"divergent_corpora":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
