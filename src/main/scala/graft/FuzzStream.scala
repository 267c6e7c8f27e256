package graft

import scala.util.Random

/** Full-sweep runner for the streaming parity fuzz
  * ([[graft.fuzz.StreamFuzz]]): replays `seeds × sets` random event
  * schedules (out-of-order, late-beyond-watermark, duplicate bursts,
  * key churn, heartbeat-only batches) through every MemoryStream face
  * of the streaming tier against the batch twins under the pinned
  * watermark model, plus the in-order session differential, the
  * two-stream interval-join differential, and (every 4th set) a
  * checkpoint-kill-and-resume round. Prints one JSON line with the
  * divergence count.
  *
  * usage: graft.FuzzStream [nSets] [seed1,seed2,...]
  */
object FuzzStream {
  def main(args: Array[String]): Unit = {
    val nSets = if (args.length > 0) args(0).toInt else 20
    val seeds = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
                else Seq(12L, 99L, 7L, 42L, 2026L)
    val spark = GraftSession.builder().getOrCreate()
    val work = java.nio.file.Files.createTempDirectory("stfuzz").toString
    var total = 0
    var failures = 0
    for (seed <- seeds) {
      val r = new Random(seed)
      for (i <- 0 until nSets) {
        val s = graft.fuzz.StreamFuzz.schedule(r, withLate = i % 2 == 1)
        val (ss, gap) = graft.fuzz.StreamFuzz.sessionSchedule(r)
        val errs = graft.fuzz.StreamFuzz.runOne(spark, s) ++
          graft.fuzz.StreamFuzz.runSessions(spark, ss, gap) ++
          graft.fuzz.StreamFuzz.runIntervalJoin(spark, r) ++
          (if (i % 4 == 0)
            graft.fuzz.StreamFuzz.runRestart(spark, s,
              s"$work/rs_${seed}_$i", killAfter = 1 + r.nextInt(3))
          else Nil)
        total += 1
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[stfuzz seed=$seed set=$i] $e"))
          System.err.println(s"[stfuzz seed=$seed set=$i] schedule: " +
            s.batches.map(_.mkString(",")).mkString(" || "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"stfuzz_sets":$total,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
