package graft

import scala.util.Random

/** Full-sweep runner for the temporal-join tier differential fuzz
  * ([[graft.fuzz.TemporalFuzz]]): replays `seeds × sets` seeded
  * adversarial event/interval sets through the as-of joins (backward /
  * forward / nearest ± tie collapse), the bin-blocked range/overlap
  * joins and the EventStream batch faces (sessionization, CDC
  * keep-latest, quotas, tumbling/hopping windows) against plain-Scala
  * reference models and prints one JSON line with the divergence count.
  * Every 4th set runs the deep checks (partitioning invariance).
  *
  * usage: graft.FuzzTemporal [nSets] [seed1,seed2,...]
  */
object FuzzTemporal {
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
        val set = graft.fuzz.TemporalFuzz.tempoSet(r)
        val deep = i % 4 == 0
        val errs = graft.fuzz.TemporalFuzz.runOne(spark, set, deep)
        total += 1
        if (errs.nonEmpty) {
          failures += 1
          errs.foreach(e => System.err.println(s"[tfuzz seed=$seed set=$i] $e"))
          // shrink EVERY input collection, not just events: 6 of the 12
          // differentials (asof/range/overlap — the tier's likeliest bug
          // class, incl. the r15 asofJoin null-carry catch) depend only
          // on left/right/ivals, and an events-only pass would ship a
          // full-size unshrunk repro for exactly those. Sequential ddmin
          // per collection: each pass starts from a still-failing set,
          // so the ddmin precondition holds at every stage.
          var cur = set
          def stillFails(s: graft.fuzz.TemporalFuzz.TSet): Boolean =
            try graft.fuzz.TemporalFuzz.runOne(spark, s, deep).nonEmpty
            catch { case _: Throwable => true }
          def pass[A](items: Seq[A],
                      put: (graft.fuzz.TemporalFuzz.TSet, Seq[A]) => graft.fuzz.TemporalFuzz.TSet): Unit = {
            val m = graft.fuzz.Shrink.ddmin(items,
              (xs: Seq[A]) => stillFails(put(cur, xs)), maxEvals = 60)
            if (stillFails(put(cur, m))) cur = put(cur, m)
          }
          pass[graft.fuzz.TemporalFuzz.ERow](cur.events, (s, xs) => s.copy(events = xs))
          pass[graft.fuzz.TemporalFuzz.LRow](cur.left, (s, xs) => s.copy(left = xs))
          pass[graft.fuzz.TemporalFuzz.RRow](cur.right, (s, xs) => s.copy(right = xs))
          pass[graft.fuzz.TemporalFuzz.RRow](cur.rightDup, (s, xs) => s.copy(rightDup = xs))
          pass[graft.fuzz.TemporalFuzz.IRow](cur.ivalsL, (s, xs) => s.copy(ivalsL = xs))
          pass[graft.fuzz.TemporalFuzz.IRow](cur.ivalsR, (s, xs) => s.copy(ivalsR = xs))
          System.err.println(s"[tfuzz seed=$seed set=$i] SHRUNK repro " +
            s"(L=${cur.left.size} R=${cur.right.size} Rd=${cur.rightDup.size} " +
            s"ev=${cur.events.size} iL=${cur.ivalsL.size} iR=${cur.ivalsR.size}, ${set.p}): " +
            (cur.left.map(l => s"L ${l.lid}/k${l.key}@${l.lts}") ++
             cur.right.map(x => s"R ${x.rid}/k${x.key}@${x.rts}=${x.v}/${x.s}") ++
             cur.ivalsL.map(v => s"IL ${v.iid}/k${v.key}[${v.is},${v.ie}]") ++
             cur.ivalsR.map(v => s"IR ${v.iid}/k${v.key}[${v.is},${v.ie}]") ++
             cur.events.map(e => s"E ${e.user_id}/${e.event_type}@${e.ts}=${e.value}"))
              .mkString(" | "))
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"tfuzz_sets":$total,"seeds":${seeds.size},"divergent_sets":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
