package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Measurement aid for the optimization rounds (guide §1): run one or a
  * few queries with the Bench methodology (toRdd.count after a warmup
  * rep) and print a per-JOB / per-STAGE cost breakdown from a
  * SparkListener — the "where does the time actually go" view the Spark
  * UI would give, in headless form. Never on any gate path; it only
  * READS SparkEntry.queries.
  *
  * usage: runMain graft.Profile <query[,query...]> [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_join_revenue_by_nation")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()

    case class StageRow(id: Int, name: String, tasks: Int, ms: Long,
                        taskMs: Long, shufReadMb: Double, shufWriteMb: Double)
    val jobs = mutable.ArrayBuffer[(Int, String, Long)]() // id, desc, ms
    val stages = mutable.ArrayBuffer[StageRow]()
    val jobStart = mutable.Map[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart(j.jobId) = (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse(""))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStart.remove(j.jobId).foreach { case (t0, d) =>
          jobs += ((j.jobId, d, (System.nanoTime() - t0) / 1000000))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          si.numTasks, wall,
          si.taskMetrics.executorRunTime,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6)
      }
    }

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def run(): Unit = fn(spark, sfDir).queryExecution.toRdd.count(): Unit
      run() // warmup rep — codegen + footer caching land here
      spark.catalog.clearCache()
      System.gc()
      jobs.clear(); stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      run()
      val wallMs = (System.nanoTime() - t0) / 1000000
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let listener events drain
      println(s"=== $n: ${wallMs} ms wall, ${jobs.size} jobs, ${stages.size} stages ===")
      println(f"${"jobId"}%6s ${"ms"}%8s  desc")
      jobs.sortBy(-_._3).take(15).foreach { case (id, d, ms) =>
        println(f"$id%6d $ms%8d  ${d.take(80)}")
      }
      println(f"${"stage"}%6s ${"wallMs"}%8s ${"taskMs"}%8s ${"tasks"}%6s " +
        f"${"shRdMB"}%8s ${"shWrMB"}%8s  name")
      stages.sortBy(-_.ms).take(20).foreach { r =>
        println(f"${r.id}%6d ${r.ms}%8d ${r.taskMs}%8d ${r.tasks}%6d " +
          f"${r.shufReadMb}%8.1f ${r.shufWriteMb}%8.1f  ${r.name}")
      }
      val stageSum = stages.map(_.ms).sum
      println(f"stage wall sum: $stageSum ms of $wallMs ms (gap = driver/plan/schedule)")
      println()
    }
    spark.stop()
  }
}
