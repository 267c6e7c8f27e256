package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table registry over parquet paths + information_schema views.
  *
  * Plays the role of the reference's runtime schema discovery
  * (`/root/reference/src/main/java/com/mercari/solution/transforms/DummyToMutation.java:103-161`
  * reads INFORMATION_SCHEMA.COLUMNS from Spanner). Here the catalog is
  * Spark's own: temp views over file paths, with an `information_schema`
  * facade derived from the resolved schemas so catalog-driven operators
  * (e.g. the dummy generator) stay engine-native.
  *
  * At scale: a view is plan-time metadata only; registering all tables is
  * free. Reads are lazy parquet scans, so Catalyst pushes filters and
  * prunes columns per query.
  */
object TableCatalog {

  /** The driver-generated benchmark tables (TESTDATA.md). */
  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    // The events table's `ts` physical encoding has varied across testdata
    // generations: TIMESTAMP(NANOS) (readable only via nanosAsLong, as a
    // long) vs timestamp[us] without timezone (read as TIMESTAMP_NTZ).
    // Branch on the RESOLVED type so either encoding yields the same
    // session-UTC TimestampType frame downstream (watermarks, oracle
    // hashes): nanos-long → truncate to micros; NTZ → cast (the session
    // timezone is UTC everywhere, so the underlying micros are unchanged).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$table.parquet")
    if (table == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _                => df
      }
    } else df
  }

  /** Register every table under `dir` as a temp view named after the table. */
  def register(spark: SparkSession, dir: String, tables: Seq[String] = testTables): Unit =
    tables.foreach { t => load(spark, dir, t).createOrReplaceTempView(t) }

  /** Register a table as a BUCKETED managed table on `bucketKeys`:
    * repeated joins/aggregations on those keys then read pre-shuffled
    * data — no Exchange in the plan. This is the co-located-join tier for
    * hot fact tables (the 100 TB answer to "the same join key shuffles
    * every query"); bucket counts should match downstream
    * `spark.sql.shuffle.partitions`. Idempotent per (name, dir). */
  def registerBucketed(spark: SparkSession, dir: String, table: String,
                       bucketKeys: Seq[String], buckets: Int = 32,
                       as: Option[String] = None): String = {
    val name = as.getOrElse(s"${table}_bucketed")
    if (!spark.catalog.tableExists(name)) {
      // a managed table's location must not pre-exist; clear leftovers
      // from a previous session (in-memory catalog, persistent warehouse)
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name)
      org.apache.hadoop.fs.FileSystem.get(wh.toUri,
        spark.sparkContext.hadoopConfiguration).delete(wh, true)
      load(spark, dir, table).write
        .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
        .sortBy(bucketKeys.head, bucketKeys.tail: _*)
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(name)
    }
    name
  }

  /** INFORMATION_SCHEMA.COLUMNS-equivalent over the given tables: one row
    * per column with (table_name, column_name, ordinal_position,
    * spanner_type, is_nullable, is_primary_key). Primary keys follow the
    * TPC-H-ish convention `<prefix>_<table>key` / first column.
    */
  def informationSchemaColumns(spark: SparkSession, dir: String,
                               tables: Seq[String] = testTables): DataFrame = {
    import spark.implicits._
    val rows = tables.flatMap { t =>
      val schema = load(spark, dir, t).schema
      schema.fields.zipWithIndex.map { case (f, i) =>
        (t, f.name, i + 1L, sparkTypeToSpannerType(f.dataType),
          if (f.nullable) "YES" else "NO", i == 0)
      }
    }
    rows.toDF("table_name", "column_name", "ordinal_position",
      "spanner_type", "is_nullable", "is_primary_key")
  }

  /** Type-name policy of the reference's DDL builder
    * (`SpannerTablePrepareDoFn.java:105-148`): STRING(MAX)/BYTES(MAX)/BOOL/
    * FLOAT64/INT64/DATE/TIMESTAMP/ARRAY<...>.
    */
  def sparkTypeToSpannerType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "BOOL"
      case ByteType | ShortType | IntegerType | LongType => "INT64"
      case FloatType | DoubleType => "FLOAT64"
      case StringType => "STRING(MAX)"
      case BinaryType => "BYTES(MAX)"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case _: DecimalType => "NUMERIC"
      case ArrayType(e, _) => s"ARRAY<${sparkTypeToSpannerType(e)}>"
      case _: StructType => "STRUCT" // not writable to Spanner columns (StructToMutationConverter.java:59-62)
      case other => other.sql
    }
  }
}
