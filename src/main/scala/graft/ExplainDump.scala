package graft

import java.nio.file.{Files, Paths}

/** Optimization aid: dump `explain("formatted")` for the named queries
  * to `<outDir>/<query>_<suffix>.txt`, normalized by
  * [[graft.plans.PlanFlags.normalize]] so the dumps of two commits diff
  * cleanly — before/after plan evidence for the queries a change
  * touches. Each query plans from the same expression id whether it is
  * dumped alone or with ALL ([[graft.plans.PlanFlags.startExprIds]]).
  * Read-only over SparkEntry.queries; never on a gate path.
  *
  * usage: runMain graft.ExplainDump <query[,query...]|ALL> <outDir> <suffix> [sfDir]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3)
      sys.error("usage: ExplainDump <query[,query...]|ALL> <outDir> <suffix> [sfDir]")
    val names0 = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val sfDir = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (names0 == "ALL") all
      else names0.split(",").map(_.trim).filter(_.nonEmpty).toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val build = SparkEntry.queries(n)
        graft.plans.PlanFlags.startExprIds(all.indexOf(n))
        val df = build(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"),
          graft.plans.PlanFlags.normalize(txt))
        println(s"dumped $n")
      } catch {
        case e: Throwable => println(s"FAILED $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
