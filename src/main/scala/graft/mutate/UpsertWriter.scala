package graft.mutate

import graft.operators.LocalCheckpoints
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Mutation-write semantics on parquet tables (reference K5 + converters
  * P9/P10): the five Spanner write ops as a MERGE-shaped read-modify-write,
  * with `REPORT_FAILURES` parity — rows that violate the op's contract
  * come back as an error DataFrame instead of failing the job
  * (`/root/reference/src/main/java/com/mercari/solution/templates/
  * SpannerToSpanner.java:110-121`; op semantics `util/converter/
  * StructToMutationConverter.java:29-102,112-150`).
  *
  * Op contracts (Spanner semantics):
  *  - INSERT            key must not exist → else failed row
  *  - UPDATE            key must exist     → else failed row
  *  - REPLACE           full-row overwrite; missing source columns null
  *  - INSERT_OR_UPDATE  upsert; unspecified columns keep current values
  *  - DELETE            remove rows matching (ordered) key fields; null
  *                      key → failed row (`:118-147`)
  *
  * Scale design: the batch is evaluated once. It is materialized with
  * an eager `localCheckpoint`, the failed rows and the merge both read
  * that copy, and its blocks are dropped when the write returns. REPLACE
  * and INSERT_OR_UPDATE then merge with one `FULL OUTER JOIN` on the key
  * fields between the batch and the current table, the plan a `MERGE
  * INTO` produces on a format without transaction logs; a presence flag
  * on the batch side tells a matched or new key from an untouched one, so
  * a NULL batch value still overwrites. INSERT and UPDATE split the batch
  * with a semi and an anti join against the table's key columns alone.
  * The table is assumed unique on its keys, which every op here
  * preserves. The swap is write-to-staging + directory rename, so readers
  * never observe a partial table. On a real deployment this object is the
  * seam where a Delta/Iceberg `MERGE` slots in; semantics above are the
  * contract.
  */
object UpsertWriter {

  sealed trait Op
  case object Insert extends Op
  case object Update extends Op
  case object Replace extends Op
  case object InsertOrUpdate extends Op
  case object Delete extends Op

  object Op {
    def parse(s: String): Op = s.trim.toUpperCase match {
      case "INSERT" => Insert
      case "UPDATE" => Update
      case "REPLACE" => Replace
      case "INSERT_OR_UPDATE" => InsertOrUpdate
      case "DELETE" => Delete
      case other => throw new IllegalArgumentException(s"unknown mutation op: $other")
    }
  }

  /** `failed` carries the rejected input rows (REPORT_FAILURES parity). */
  final case class Result(table: String, written: Long, failed: DataFrame)

  private def readTable(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = FileSystem.get(new Path(path).toUri, spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(path))) Some(spark.read.parquet(path)) else None
  }

  /** Atomically replace `path` with `next` via staging + rename. The row
    * count piggybacks on the staging write via `observe()` — a second
    * read of the staged table just to count it would be a full extra scan
    * of the output per merge at scale. */
  private def swap(spark: SparkSession, path: String, next: DataFrame): Long = {
    // siblings derive from the normalized Path (Hadoop strips trailing
    // slashes) so a trailing-slash `path` cannot nest them inside the
    // live table (same discipline as sinks.Compaction)
    val p = new Path(path)
    val staging = new Path(p.toString + "__staging")
    val obs = new org.apache.spark.sql.Observation()
    next.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    // two checked renames (retire -> promote) instead of delete-then-
    // rename: the previous snapshot survives at a recoverable path until
    // the promote succeeds, and a failed rename raises instead of
    // silently dropping the table
    val retired = new Path(p.toString + "__old")
    fs.delete(retired, true)
    if (fs.exists(p))
      require(fs.rename(p, retired), s"could not retire $p")
    require(fs.rename(staging, p), s"could not promote $staging to $p")
    fs.delete(retired, true)
    n
  }

  def write(batch: DataFrame, path: String, op: Op, keyFields: Seq[String]): Result = {
    val spark = batch.sparkSession
    require(keyFields.nonEmpty, "keyFields required")
    val keyCols = keyFields.map(col)

    // The batch is evaluated once: every branch below reads this copy.
    // Its blocks are dropped when the write returns; `failed` is a
    // checkpoint of its own, so it stays readable after that.
    val (rows, blocks) = LocalCheckpoints.tracked(batch)
    try {
      // Null keys are rejected up front (StructToMutationConverter.java:128-131).
      val nullKey = keyFields.map(col(_).isNull).reduce(_ || _)
      val bad = rows.filter(nullKey)
      val good = rows.filter(!nullKey)
        .dropDuplicates(keyFields) // last-write-wins is undefined in-batch; dedup for determinism

      // Failed rows are materialized (localCheckpoint) BEFORE the swap:
      // their plans read the pre-swap table files, which the swap deletes.
      def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

      (op, readTable(spark, path)) match {
        case (Delete, None) => Result(path, 0L, pin(bad))
        case (Update, None) => Result(path, 0L, pin(rows))
        case (_, None) => Result(path, swap(spark, path, good), pin(bad))

        case (Delete, Some(cur)) =>
          val failed = pin(bad)
          val next = cur.join(good.select(keyCols: _*), keyFields, "left_anti")
          Result(path, swap(spark, path, next), failed)

        case (Insert, Some(cur)) =>
          val exists = good.join(cur.select(keyCols: _*), keyFields, "left_semi")
          val fresh = good.join(cur.select(keyCols: _*), keyFields, "left_anti")
          val failed = pin(bad.unionByName(exists, allowMissingColumns = true))
          val next = cur.unionByName(alignSchema(fresh, cur), allowMissingColumns = true)
          Result(path, swap(spark, path, next), failed)

        case (Update, Some(cur)) =>
          val hit = good.join(cur.select(keyCols: _*), keyFields, "left_semi")
          val miss = good.join(cur.select(keyCols: _*), keyFields, "left_anti")
          val failed = pin(bad.unionByName(miss, allowMissingColumns = true))
          val merged = nextState(hit.as("b").join(cur.as("c"), keyFields, "left_outer"),
            hit, cur, keyFields, lit(true), keepMissing = true)
          val kept = cur.join(hit.select(keyCols: _*), keyFields, "left_anti")
          Result(path, swap(spark, path, kept.unionByName(merged)), failed)

        case (_, Some(cur)) => // REPLACE, INSERT_OR_UPDATE
          val failed = pin(bad)
          val joined = good.withColumn(InBatch, lit(true)).as("b")
            .join(cur.as("c"), keyFields, "full_outer")
          val next = nextState(joined, good, cur, keyFields, col(InBatch).isNotNull,
            keepMissing = op == InsertOrUpdate)
          Result(path, swap(spark, path, next), failed)
      }
    } finally LocalCheckpoints.release(blocks)
  }

  // Marks the batch side of the merge join. A batch value may be NULL on
  // purpose and must still overwrite, so presence cannot be read off the
  // data columns.
  private val InBatch = "__in_batch"

  /** A join of the batch (alias `b`) with the table (alias `c`) on the
    * key fields, projected onto the table's schema. Where `batchWins`, a
    * column the batch has takes the batch value cast to the table's type,
    * and a column it lacks keeps the current value (`keepMissing`:
    * INSERT_OR_UPDATE, UPDATE) or becomes NULL (REPLACE). Every other row
    * keeps its current values. Batch columns the table lacks are dropped.
    * Keys are cast to the table's type under REPLACE only; the merge ops
    * keep the common type of both sides, so a wider batch key widens the
    * table's key column instead of failing the cast. */
  private def nextState(joined: DataFrame, good: DataFrame, cur: DataFrame,
                        keyFields: Seq[String], batchWins: Column,
                        keepMissing: Boolean): DataFrame = {
    val batchCols = good.columns.toSet
    val cols = cur.schema.fields.toIndexedSeq.map { f =>
      val current = col(s"c.${f.name}")
      val v =
        if (keyFields.contains(f.name)) if (keepMissing) col(f.name) else col(f.name).cast(f.dataType)
        else if (batchCols.contains(f.name))
          when(batchWins, col(s"b.${f.name}").cast(f.dataType)).otherwise(current)
        else if (keepMissing) current
        else when(batchWins, lit(null).cast(f.dataType)).otherwise(current)
      v.as(f.name)
    }
    joined.select(cols: _*)
  }

  /** Cast/pad `batch` to `cur`'s schema (missing → null). */
  private def alignSchema(batch: DataFrame, cur: DataFrame): DataFrame = {
    val batchCols = batch.columns.toSet
    val cols = cur.schema.fields.toIndexedSeq.map { f =>
      if (batchCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    batch.select(cols: _*)
  }
}
