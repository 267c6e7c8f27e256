package graft

import java.nio.file.{Files, Paths}

/** Full-surface physical-plan lint: walks EVERY SparkEntry.queries
  * entry, plans it (AQE initial plan), and records the three
  * anti-pattern flags HeavyPlanSpec pins on the bench top-15 —
  * BroadcastNestedLoopJoin, CartesianProduct, SinglePartition exchange —
  * for the WHOLE gate surface, so a scale regression in a mid-cost
  * query is visible the round it appears, not the round it becomes
  * expensive. Writes PLANAUDIT.json (query → flags and `plan_md5`) and
  * prints a summary line; run at round close over sf0.001.
  *
  * `plan_md5` is the md5 of the normalized initial executed plan
  * ([[graft.plans.PlanFlags.normalize]]), so plan drift between two
  * commits shows as a diff of the committed record. It reads the
  * initial plan because AQE's final plan depends on the order in which
  * stages finish (build sides and join order differ between two runs of
  * the same code). Shuffle partition counts appear in the plans:
  * regenerate the record with the same `SPARK_GRAFT_CPUS` (4) every
  * time.
  *
  * Construction-time side effects DO run (ADVICE r11): building the
  * stored-path queries (d_minhash_stored, a_ann_ivf*_stored,
  * t_bpe_encode) eagerly executes their train + ModelStore persist
  * steps, and model-training collects run wherever a query trains at
  * plan-construction time — so audit runtime scales with the fixture
  * and writes model artifacts to the per-JVM temp store. Run it on
  * sf0.001, where that cost is seconds.
  *
  * Interpretation contract (same as HeavyPlanSpec): `cartesian` should
  * be zero everywhere; `bnlj` and `single_partition` are legitimate
  * ONLY for broadcast-bounded brute-force tiers and one-row/model-sized
  * summary funnels — the close record in BUILDLOG names any new
  * flagged query and its reviewed reason.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANAUDIT.json"
    // untruncated scan locations: a path cut at a fixed length would cut
    // at a different place in a checkout whose path has another length
    val spark = GraftSession.builder()
      .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString).getOrCreate()
    val rows = SparkEntry.specs.sortBy(_.name).zipWithIndex.map { case (q, i) =>
      val name = q.name
      graft.plans.PlanFlags.startExprIds(i)
      val (flags, planMd5) =
        try {
          val qe = q.build(spark, dir).queryExecution
          // the three shape flags + pushdown read the INITIAL physical
          // plan (static planning — what our code pins); the broadcast
          // lint reads the OPTIMIZED LOGICAL plan (explicit hints only —
          // physical broadcast choices at sf0.001 are statistics calls
          // that reverse at scale); the codegen lint needs the EXECUTED
          // final plan (AQE assigns WholeStageCodegen ids only at stage
          // materialization, so the initial print has no `*(N)` markers)
          val initial = qe.executedPlan.toString
          val optimized = qe.optimizedPlan.toString
          qe.toRdd.count()
          val finalPlan = qe.executedPlan.toString
          (Seq(
            "bnlj" -> graft.plans.PlanFlags.bnlj(initial),
            "cartesian" -> graft.plans.PlanFlags.cartesian(initial),
            "single_partition" -> graft.plans.PlanFlags.singlePartition(initial),
            "no_codegen" -> graft.plans.PlanFlags.noCodegen(finalPlan),
            "unpushed_scan_filter" -> graft.plans.PlanFlags.unpushedScanFilter(initial),
            "corpus_broadcast" -> graft.plans.PlanFlags.corpusBroadcastHint(optimized),
            "error" -> false),
            md5(graft.plans.PlanFlags.normalize(initial)))
        } catch {
          case e: Throwable =>
            System.err.println(s"[planaudit] $name failed: ${e.getMessage}")
            (Seq("bnlj" -> false, "cartesian" -> false,
              "single_partition" -> false, "no_codegen" -> false,
              "unpushed_scan_filter" -> false, "corpus_broadcast" -> false,
              "error" -> true), "")
        }
      spark.catalog.clearCache()
      (name, flags, planMd5)
    }
    val json = rows.map { case (n, fs, h) =>
      "\"" + n + "\": {" +
        fs.map { case (k, v) => s""""$k": $v""" }.mkString(", ") +
        s""", "plan_md5": "$h"}"""
    }.mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(out), json)
    def countOf(key: String) =
      rows.count(_._2.exists(f => f._1 == key && f._2))
    println(s"PLANAUDIT n=${rows.size} bnlj=${countOf("bnlj")} " +
      s"cartesian=${countOf("cartesian")} " +
      s"single_partition=${countOf("single_partition")} " +
      s"no_codegen=${countOf("no_codegen")} " +
      s"unpushed_scan_filter=${countOf("unpushed_scan_filter")} " +
      s"corpus_broadcast=${countOf("corpus_broadcast")} " +
      s"errors=${countOf("error")} -> $out")
    spark.stop()
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
