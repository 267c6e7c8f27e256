package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE clean JSON line (build.sbt routes forked stdout through
  * unprefixed so the driver can parse it).
  *
  * Measurement protocol — designed after round 2's artifact recorded
  * trivial queries at 30× their clean-JVM cost (cross-query contamination
  * in a single 52-query pass: heap pressure left by heavy queries taxed
  * whichever light query ran next, and one slow GC landed entirely on a
  * 25-row union):
  *
  *   1. Full untimed warmup pass — JIT + whole-stage-codegen compilation +
  *      parquet footer caching land here, not on the first timed query.
  *   2. Per query: `clearCache()` + explicit `System.gc()` + settle pause,
  *      so each measurement starts from a quiet heap instead of inheriting
  *      the previous query's garbage.
  *   3. Up to three timed repetitions, report the MEDIAN — a single GC
  *      pause or OS scheduling blip cannot inflate the recorded number.
  *      Repetition is ADAPTIVE: once a query has spent `RepBudgetSec`
  *      timed seconds it stops repeating (min 1 rep). Noise that matters
  *      is O(100 ms) GC/scheduling blips — decisive on a 0.3 s query,
  *      invisible on an 80 s pipeline — so long queries don't pay 3× wall
  *      time for precision they don't need.
  *   4. Failures are RECORDED (`errors` map in the JSON), never swallowed:
  *      a broken query must not bench as ~0 s.
  *   5. Queries are driven via `queryExecution.toRdd.count()` — FULL
  *      materialization of every output column. A bare `df.count()`
  *      lets Catalyst prune the computation (a left join whose right
  *      side can't change the row count is ELIMINATED, and the whole
  *      operator with it): round 8's record timed d_substring_dedup at
  *      0.24 s when the real materialized cost was ~7 s. Bench numbers
  *      from r9 on measure what Verify/parquet-write actually pays
  *      (minus encoding), and are NOT comparable to r≤8 records for
  *      join-elimination-prunable queries.
  *
  * The reported number is steady-state per-query latency, which is what a
  * long-lived cluster sees.
  */
object Bench {
  // SPARK_GRAFT_REPS: optional override (the driver never sets it); the
  // default stays 3 so records remain rep-comparable across rounds.
  private final val Reps = Env.positiveInt("SPARK_GRAFT_REPS").getOrElse(3)
  private final val RepBudgetSec = 20.0
  // r16's driver bench timed out (rc=124, no record at all — strictly
  // worse than any precision loss). Two wall-clock trims, both OUTSIDE
  // the timed region so per-rep numbers stay comparable to r15:
  //   1. settle sleep 200 ms -> 50 ms (the sleep is pure idle; the
  //      synchronous System.gc() right before it is the actual quiesce).
  //      System.gc() stays UNCONDITIONAL: an r17 A/B that skipped it for
  //      sub-second queries measured those queries ~2x slower — they
  //      absorb the previous query's garbage inside their timed region,
  //      which would fake regressions against the gc-always r15 board.
  //   2. a soft deadline (SPARK_GRAFT_DEADLINE_SEC, default 2400 s from
  //      JVM start): once past it, remaining queries run ONE rep instead
  //      of three. A degraded-precision record always beats rc=124.
  //      The record self-describes via "deadline_capped".
  private final val DeadlineSec = Env.positiveDouble("SPARK_GRAFT_DEADLINE_SEC").getOrElse(2400.0)
  private val startNanos = System.nanoTime()
  private def elapsedSec: Double = (System.nanoTime() - startNanos) / 1e9

  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(50)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    // SPARK_GRAFT_ONLY=q1,q2 narrows the run to named queries — an
    // iteration aid for profiling a single plan; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // full materialization of all output columns (see protocol item 5)
    def run(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()

    // untimed warmup pass. SPARK_GRAFT_NOWARMUP=1 skips it — ONLY for
    // the BASELINE.md scale-anchor spot-checks (single cold run over a
    // handful of multi-minute sf100 heads, where a second full pass
    // doubles hours of wall-clock for warmth that a 30-minute query
    // amortizes anyway). The driver never sets it; board records always
    // warm up.
    val warmed = !sys.env.get("SPARK_GRAFT_NOWARMUP").contains("1")
    if (warmed)
      names.foreach { n =>
        try run(n)
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }

    val timings = Map.newBuilder[String, Double]
    val errors = Map.newBuilder[String, String]
    var deadlineCapped = 0
    names.foreach { n =>
      val maxReps =
        if (elapsedSec > DeadlineSec) { deadlineCapped += 1; 1 } else Reps
      var reps = Vector.empty[Double]
      var attempts = 0
      while (attempts < maxReps && reps.sum < RepBudgetSec) {
        attempts += 1
        settle(spark)
        val t0 = System.nanoTime()
        try {
          run(n)
          reps :+= (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors += n -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        }
      }
      if (reps.nonEmpty) timings += n -> reps.sorted.apply(reps.size / 2)
    }

    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ts = timings.result()
    val es = errors.result()
    val qs = names.filter(ts.contains).map(n => jstr(n) + ":" + ts(n))
      .mkString("{", ",", "}")
    val ej = es.toSeq.sortBy(_._1).map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = ts.values.sum
    // "warmup" is stamped into every record so a NOWARMUP run (legal only
    // for sf100 cold-anchor spot-checks) is self-describing and can never
    // be mistaken for a protocol-compliant board record.
    val json = s"""{"metric":"total","value":$total,"unit":"sec","warmup":$warmed,"deadline_capped":$deadlineCapped,"queries":$qs,"errors":$ej,"sf":"$sfDir"}"""
    println(json)
    // The driver's stdout capture keeps only the LAST ~2000 chars, and a
    // 289-query record is ~10 KB — the full line above gets head-chopped
    // mid-JSON (BENCH_r08/r09 both recorded parsed=null). Print a compact
    // summary as the FINAL JSON line, greedily packing the slowest
    // queries (3 dp) until the line would outgrow the tail window, so the
    // driver always has a parseable record; the complete per-query map
    // lives in the full line + BENCH_LOCAL.json.
    locally {
      val bySlow = names.filter(ts.contains).sortBy(n => -ts(n))
      // Locale.ROOT: a comma-decimal default locale would render %.3f as
      // "1,234" and break the one line that exists to be parseable
      def d3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      def fmt(n: String) = jstr(n) + ":" + d3(ts(n))
      val budget = 1600
      val head = s"""{"metric":"total","value":${d3(total)},"unit":"sec","warmup":$warmed,"deadline_capped":$deadlineCapped,"n_queries":${ts.size},"n_errors":${es.size},"full":"BENCH_LOCAL.json","sf":"$sfDir","queries":{"""
      val sb = new StringBuilder(head)
      var first = true
      bySlow.foreach { n =>
        val piece = (if (first) "" else ",") + fmt(n)
        if (sb.length + piece.length < budget) { sb.append(piece); first = false }
      }
      sb.append("}}")
      println(sb.toString)
    }
    // Also persist to a file: the driver's stdout tail capture is bounded
    // (2000 chars) and has truncated this line two rounds running — the
    // file artifact keeps the full per-query record parseable regardless.
    // Restricted (SPARK_GRAFT_ONLY) iteration runs must not clobber the
    // full-surface record.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), json + "\n")
      catch { case _: Throwable => () }
    spark.stop()
  }
}
