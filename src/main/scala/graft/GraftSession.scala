package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured: `local[cpus]`,
  * shuffle partitions = cpus, UTC, UI off, log level ERROR, and
  * [[graft.plans.GraftExtensions]] so SQL text can call the `graft_*`
  * functions. Callers that differ add their own line to the returned
  * builder (a `--master`, a fixed core count or shuffle width, a WARN
  * log level). */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` (an integer >= 1), or every available core when unset. */
  lazy val cpus: Int = Env.positiveInt("SPARK_GRAFT_CPUS")
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
}
