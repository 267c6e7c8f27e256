package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds since the epoch with sub-millisecond resolution,
  * on the same base as the times Spark stamps on listener events. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** Spans around the benchmark's calls into each layer, plus the counters
  * Spark reports at the same boundaries. Everything stays in memory until
  * the run ends. Listeners are attached only for traced passes, so the
  * untraced passes of the same run measure the tracing overhead. */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Array[Double]]      // job id, start ms, end ms
  val tasks = ArrayBuffer.empty[Array[Double]]     // see TaskCols
  val sqlStarts = ArrayBuffer.empty[Double]        // execution start ms
  val phases = ArrayBuffer.empty[Array[Double]]    // start ms, analysis, optimization, planning ms
  val fallbacks = ArrayBuffer.empty[Double]        // whole-stage codegen fallback ms

  @volatile private var active = false
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      val s = Span(id, stack.headOption.getOrElse(-1), name, Clock.nowMs,
        CodeGenerator.compileTime / 1e6)
      spans += s
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        s.endMs = Clock.nowMs
        s.codegenEndMs = CodeGenerator.compileTime / 1e6
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += Array(e.jobId.toDouble, e.time.toDouble, Double.NaN)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_(0) == e.jobId).foreach(_(2) = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics
      val sr = m.shuffleReadMetrics
      tasks.synchronized {
        tasks += Array(
          e.taskInfo.finishTime.toDouble,
          m.executorRunTime.toDouble,
          m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble,
          m.inputMetrics.recordsRead.toDouble,
          scanMs(e.taskInfo),
          (sr.remoteBytesRead + sr.localBytesRead).toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.synchronized { sqlStarts += s.time.toDouble }
      case _ => ()
    }
  }

  private val qel = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      if (ps.nonEmpty) {
        def ms(p: String) = ps.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        phases.synchronized {
          phases += Array(ps.values.map(_.startTimeMs).min.toDouble,
            ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
            ms(QueryPlanningTracker.PLANNING))
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  // WholeStageCodegenExec logs each plan it falls back from ("whole-stage
  // codegen was disabled for this plan", or "Whole-stage codegen disabled
  // for plan" after a failed compile such as "Code grows beyond 64 KB").
  private val appender = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (active && e.getMessage.getFormattedMessage.contains("disabled for"))
        fallbacks.synchronized { fallbacks += e.getTimeMillis.toDouble }
  }

  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val codegenLog = new LoggerConfig(CodegenLogger, Level.ERROR, false)
  locally {
    appender.start()
    codegenLog.addAppender(appender, Level.INFO, null)
    logCtx.getConfiguration.addLogger(CodegenLogger, codegenLog)
    logCtx.updateLoggers()
  }

  private def codegenLogLevel(l: Level): Unit = {
    codegenLog.setLevel(l)
    logCtx.updateLoggers()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    codegenLogLevel(Level.INFO)
    active = true
  }

  /** Stops recording once every event posted so far has been delivered. */
  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    active = false
    codegenLogLevel(Level.ERROR)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }
}

object Trace {
  final val CodegenLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  val TaskCols = Seq("finish_ms", "run_ms", "cpu_ms", "gc_ms", "input_rows", "scan_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

  /** The task's share of the file scans' "scan time" SQL metric (ms): time
    * spent producing the scans' column batches, and nothing of the stage
    * the scan is pipelined into. Spark adds it per batch, truncated to
    * whole milliseconds, so it undercounts scans of many small batches. */
  def scanMs(info: TaskInfo): Double =
    info.accumulables.filter(_.name.contains("scan time"))
      .flatMap(_.update).map(_.toString.toDouble).sum

  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                        codegenStartMs: Double) {
    var endMs: Double = Double.NaN
    var codegenEndMs: Double = Double.NaN
  }
}
