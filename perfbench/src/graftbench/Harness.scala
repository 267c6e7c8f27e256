package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.catalog.TableCatalog
import graft.mutate.UpsertWriter
import graft.pipelines.Templates

/** One benchmark run in one JVM: set up, run the workload's steps in
  * passes (a closed loop: one client, one step at a time), then write the
  * raw record `result.json`. Metrics and output checks are computed from
  * that record by `perfbench/run.py`.
  *
  * Usage: `Harness <spec.json>`; the spec is written by `run.py`.
  *
  * The harness calls only the engine's public entry points:
  * `TableCatalog.register`, `Templates.*` and `SparkEntry.queries`. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Step(name: String, layer: String, node: JsonNode) {
    def str(k: String): String = node.get(k).asText
    def opt(k: String): Option[String] = Option(node.get(k)).filterNot(_.isNull).map(_.asText)
    def strs(k: String): Seq[String] = node.get(k).elements.asScala.map(_.asText).toSeq
  }

  final case class StepRecord(name: String, ok: Boolean, error: String, failedRows: Long)
  final case class PassRecord(index: Int, traced: Boolean, startMs: Double, endMs: Double,
                              cpuS: Double, steps: Seq[StepRecord])

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: Harness <spec.json>")
    val spec = mapper.readTree(new File(args(0)))
    val workDir = spec.get("work_dir").asText
    val inputDir = spec.get("input_dir").asText
    val cores = spec.get("cores").asInt
    val seconds = spec.get("seconds").asDouble
    val traceOn = spec.get("trace").asBoolean
    val minWarm = spec.get("min_warm").asInt
    val deadlineMs = spec.get("deadline_ms").asDouble
    val tables = spec.get("tables").elements.asScala.map(_.asText).toSeq
    val steps = spec.get("steps").elements.asScala.map { n =>
      Step(n.get("name").asText, n.get("layer").asText, n)
    }.toSeq

    val gcs = new GcLog
    // Set-up counts from JVM start, as a one-shot template launch pays it.
    // `run.py` repeats it in fresh JVMs that stop here (`setup_only`).
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cores, workDir)
    val r0 = Clock.nowMs
    TableCatalog.register(spark, inputDir, tables)
    val r1 = Clock.nowMs
    val setup = Map("setup_ms" -> (r1 - jvmStart), "register_ms" -> (r1 - r0))
    if (spec.get("setup_only").asBoolean) {
      spark.stop()
      mapper.writeValue(new File(s"$workDir/result.json"), Map("setups" -> Seq(setup)))
      return
    }

    val trace = if (traceOn) Some(new Trace(spark)) else None
    def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val passes = ArrayBuffer.empty[PassRecord]
    var timedMs = 0.0
    // With tracing on, the cold pass is traced and the warm passes
    // alternate untraced / traced, so one run gives both sides of the
    // tracing overhead.
    def enough: Boolean = passes.size > minWarm && timedMs >= seconds * 1000
    while (!enough && Clock.nowMs < deadlineMs) {
      val k = passes.size
      val traced = traceOn && k % 2 == 0
      val passDir = s"$workDir/out/pass-$k"
      clearModels()
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(50)
      if (traced) trace.get.attach()
      val results = ArrayBuffer.empty[(String, UpsertWriter.Result)]
      val cpu0 = os.getProcessCpuTime
      val t0 = Clock.nowMs
      val records = span("pass") {
        steps.map { st =>
          try span(s"step.${st.name}") {
            results ++= runStep(spark, st, passDir, inputDir, trace).map(st.name -> _)
            StepRecord(st.name, ok = true, "", 0L)
          } catch {
            case e: Throwable =>
              StepRecord(st.name, ok = false,
                s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}", 0L)
          }
        }
      }
      val t1 = Clock.nowMs
      val cpu1 = os.getProcessCpuTime
      if (traced) trace.get.detach()
      timedMs += t1 - t0
      // rows the mutation writer rejected, counted outside the timed region
      val failedRows = results.groupMapReduce(_._1)(_._2.failed.count())(_ + _)
      passes += PassRecord(k, traced, t0, t1, (cpu1 - cpu0) / 1e9,
        records.map(r => r.copy(failedRows = failedRows.getOrElse(r.name, 0L))))
    }

    dumpAvro(new File(s"$workDir/out"))
    val oracle = steps.filter(_.node.get("kind").asText == "query")
      .map(st => st.name -> SparkEntry.oracleSql(st.name)).toMap
    spark.stop()

    val out = Map(
      "setups" -> Seq(setup),
      "gcs" -> gcs.events.map(_.toSeq),
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "start_ms" -> p.startMs, "end_ms" -> p.endMs, "cpu_s" -> p.cpuS,
        "steps" -> p.steps.map(s => Map("name" -> s.name, "ok" -> s.ok,
          "error" -> s.error, "failed_rows" -> s.failedRows)))),
      "oracle" -> oracle,
      "trace" -> trace.map(t => Map(
        "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "codegen_ms" -> (s.codegenEndMs - s.codegenStartMs))),
        "jobs" -> t.jobs.map(_.toSeq),
        "task_cols" -> Trace.TaskCols,
        "tasks" -> t.tasks.map(_.toSeq),
        "sql_starts" -> t.sqlStarts,
        "phases" -> t.phases.map(_.toSeq),
        "codegen_fallbacks" -> t.fallbacks)).orNull)
    mapper.writeValue(new File(s"$workDir/result.json"), out)
  }

  private def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Empties the query registry's model store (under `java.io.tmpdir`,
    * which the benchmark points into its own work dir) so every pass
    * trains from the same on-disk state. */
  private def clearModels(): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("graft_models"))
      .foreach(d => Option(d.listFiles).foreach(_.foreach(rm)))
  }

  /** Runs one step; returns the mutation results whose rejected rows are
    * counted after the pass. */
  private def runStep(spark: SparkSession, st: Step, passDir: String, inputDir: String,
                      trace: Option[Trace])
      : Seq[UpsertWriter.Result] = {
    def params: Map[String, Any] = Option(st.node.get("params")).map(_.fields.asScala.map { e =>
      e.getKey -> (if (e.getValue.isNumber) e.getValue.asLong else e.getValue.asText)
    }.toMap).getOrElse(Map.empty)
    def timed[T](fn: String)(body: => T): T = trace.fold(body)(_.span(s"${st.layer}.$fn")(body))
    val dir = s"$passDir/${st.name}"
    st.str("kind") match {
      case "text" =>
        timed("queryToText")(Templates.queryToText(spark, Templates.QueryToTextConfig(
          st.str("query"), s"$dir/out_", st.str("format"), st.opt("split"), params = params)))
        Nil
      case "avro" =>
        timed("queryToAvro")(Templates.queryToAvro(spark, Templates.QueryToAvroConfig(
          st.str("query"), s"$dir/out_", st.opt("split"), params = params)))
        Nil
      case "tfrecord" =>
        timed("queryToTFRecord")(Templates.queryToTFRecord(spark, Templates.QueryToTFRecordConfig(
          st.str("query"), s"$dir/out_", st.opt("split"), params = params)))
        Nil
      case "upsert" =>
        Seq(timed("queryToUpsert")(Templates.queryToUpsert(spark, Templates.QueryToUpsertConfig(
          st.str("query"), s"$passDir/${st.opt("into").getOrElse(st.name)}/table", st.strs("keys"),
          outputError = st.opt("error").map(_ => s"$dir/error"), params = params))))
      case "query" =>
        val df = timed("build")(SparkEntry.queries(st.name)(spark, inputDir))
        timed("run")(df.write.parquet(dir))
        Nil
      case other => throw new IllegalArgumentException(s"unknown step kind: $other")
    }
  }

  /** Writes each Avro container under `root` as JSON lines next to it,
    * decoded with the Avro library itself rather than the engine's reader,
    * so the output check does not trust the code it checks. */
  private def dumpAvro(root: File): Unit =
    Option(root.listFiles).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) dumpAvro(f)
      else if (f.getName.endsWith(".avro")) {
        val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
        val w = new java.io.PrintWriter(new File(f.getPath + ".jsonl"), "UTF-8")
        try r.iterator.asScala.foreach(rec => w.println(rec.toString))
        finally { w.close(); r.close() }
      }
    }
}

/** Heap occupancy right after each GC, from the collectors' notifications:
  * (GC end in epoch ms, as `Clock`, and heap used after it in MB). Attributed
  * to passes by time, so the largest value in a pass is the most the heap
  * held at a GC during it, whatever the pass still holds when it ends. */
final class GcLog {
  val events = ArrayBuffer.empty[Array[Double]]
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo
        val used = info.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        events.synchronized { events += Array(startMs + info.getEndTime, used / 1048576.0) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}
