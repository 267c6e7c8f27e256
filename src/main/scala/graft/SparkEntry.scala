package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.QuerySpec

/** The query surface the harnesses run (Verify, Bench, PlanAudit,
  * ExplainDump, Profile, perfbench).
  *
  * `specs` is the one query registry: the SURVEY §2 operator inventory
  * as `QuerySpec` entries, each pairing a runnable build with the
  * DuckDB-equivalent SQL for the hash-match gate. Query groups live
  * under graft.queries.*; this object only concatenates them, rejects a
  * name written twice, and derives the two maps the harnesses read.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** Fails when a name appears more than once, within one module or
    * across modules: a map built from such a list would keep only one of
    * the entries. */
  def requireDistinct(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dupes = specs.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dupes.isEmpty, s"query names defined twice: ${dupes.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** Every gate query: one entry per implemented operator from SURVEY.md
    * §2, plus the training-data pipeline suite (dedup / similarity /
    * text analysis).
    *
    * Execution contract: the harnesses (Verify, Bench, the driver) run
    * these one at a time. The stored-model gates (a_ann_*_stored,
    * d_minhash_stored, t_bpe_encode) write to a shared per-JVM model
    * dir under per-query-unique artifact names, so even concurrent
    * invocation cannot cross-clobber — but the SEQUENTIAL contract is
    * the tested one. */
  val specs: Seq[QuerySpec] = requireDistinct(
    graft.queries.CoreQueries.specs ++
      graft.queries.PipelineQueries.specs ++
      graft.queries.ParityQueries.specs ++
      graft.queries.MediaQueries.specs ++
      graft.queries.SinkQueries.specs ++
      graft.queries.AnalyticsQueries.specs ++
      graft.queries.StatQueries.specs)

  /** Name → build, derived from `specs`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** Name → DuckDB oracle SQL, derived from `specs`; each statement runs
    * standalone against the same parquet tables. */
  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap
}
