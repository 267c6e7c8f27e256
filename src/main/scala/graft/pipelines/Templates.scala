package graft.pipelines

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.generate.DummyGen
import graft.mutate.{TablePrepare, UpsertWriter}
import graft.sinks.{DynamicFileSink, TFRecordSink}
import graft.sql.SqlRunner

/** The reference's 11 template entry points re-expressed as config-driven
  * pipeline functions (SURVEY §0 table). Sources and sinks are local-scope
  * stand-ins for the cloud systems (registered tables play Spanner/
  * BigQuery; parquet dirs play Spanner tables; keyed-document projection
  * plays Datastore) — the query surface, converter semantics, dynamic-
  * destination behavior, mutation ops, error branches, and notification
  * contract are the capabilities being preserved, per SURVEY §0: "the
  * README-documented template parameter surface is the public API
  * contract".
  *
  * Each function is the full §3 lifecycle: parse-free config case class →
  * `SqlRunner` (--SPLITTER--, @params, timestampBound accepted) →
  * Catalyst-planned transforms → sink + finish pass.
  */
object Templates {

  /** SpannerToText (`templates/SpannerToText.java:98-141`). */
  final case class QueryToTextConfig(
      query: String,
      output: String,
      format: String = "json", // json | csv
      splitField: Option[String] = None,
      header: Option[String] = None,
      withoutSharding: Boolean = false,
      outputNotify: Option[String] = None,
      outputEmpty: Boolean = false,
      params: Map[String, Any] = Map.empty,
      timestampBound: Option[java.time.Instant] = None)

  def queryToText(spark: SparkSession, c: QueryToTextConfig): DynamicFileSink.Result = {
    val df = SqlRunner.run(spark, c.query, c.params, c.timestampBound)
    DynamicFileSink.write(df, DynamicFileSink.Config(
      c.output, c.format, c.splitField, c.header, c.withoutSharding,
      c.outputNotify, c.outputEmpty))
  }

  /** SpannerToAvro (`templates/SpannerToAvro.java:78-103`): snappy Avro,
    * dynamic split; per-key schema sampling is unnecessary in Spark — one
    * schema per query result (SURVEY §3.3). */
  final case class QueryToAvroConfig(
      query: String, output: String,
      splitField: Option[String] = None,
      outputNotify: Option[String] = None,
      outputEmpty: Boolean = false,
      perKeySchema: Boolean = false,
      params: Map[String, Any] = Map.empty)

  def queryToAvro(spark: SparkSession, c: QueryToAvroConfig): DynamicFileSink.Result = {
    val df = SqlRunner.run(spark, c.query, c.params)
    DynamicFileSink.write(df, DynamicFileSink.Config(
      c.output, "avro", c.splitField, None, withoutSharding = false,
      c.outputNotify, c.outputEmpty, perKeySchema = c.perKeySchema))
  }

  /** SpannerToBigQuery (`templates/SpannerToBigQuery.java:69-99`): query →
    * warehouse table, CREATE_IF_NEEDED + WRITE_APPEND. Returns the number
    * of rows appended by THIS batch, observed on the insert itself — a
    * `spark.table(...).count()` after the append would rescan the whole
    * output table per batch, O(table) instead of O(batch) at scale. */
  final case class QueryToTableConfig(query: String, table: String,
                                      params: Map[String, Any] = Map.empty)

  def queryToTable(spark: SparkSession, c: QueryToTableConfig): Long = {
    val df = SqlRunner.run(spark, c.query, c.params)
    TablePrepare.prepare(spark, c.table, df.schema, Seq(df.schema.fieldNames.head))
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).insertInto(c.table)
    obs.get("n").asInstanceOf[Long]
  }

  /** SpannerToSpanner (`templates/SpannerToSpanner.java:95-125`): query →
    * mutations with failed-row Avro error branch. */
  final case class QueryToUpsertConfig(
      query: String, outputTable: String,
      keyFields: Seq[String],
      mutationOp: String = "INSERT_OR_UPDATE",
      outputError: Option[String] = None,
      outputNotify: Option[String] = None,
      params: Map[String, Any] = Map.empty)

  def queryToUpsert(spark: SparkSession, c: QueryToUpsertConfig): UpsertWriter.Result = {
    val df = SqlRunner.run(spark, c.query, c.params)
    val res = UpsertWriter.write(df, c.outputTable, UpsertWriter.Op.parse(c.mutationOp), c.keyFields)
    // K7 error branch + K9 failed-count notify (BigQueryToSpanner.java:126-145).
    // res.failed is its own localCheckpoint, which outlives UpsertWriter's
    // copy of the batch; count it ONCE and reuse for both branches (the
    // earlier isEmpty + write + count ran three jobs against it).
    if (c.outputError.isDefined || c.outputNotify.isDefined) {
      val nFailed = res.failed.count()
      c.outputError.foreach { p =>
        if (nFailed > 0) graft.sources.AvroIO.write(res.failed, p)
      }
      c.outputNotify.foreach { n =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new org.apache.hadoop.fs.Path(n).toUri, spark.sparkContext.hadoopConfiguration)
        val o = fs.create(new org.apache.hadoop.fs.Path(n), true)
        o.write(nFailed.toString.getBytes("UTF-8")); o.close()
      }
    }
    res
  }

  /** SpannerToSpannerDelete (`templates/SpannerToSpannerDelete.java:71-95`). */
  final case class QueryToDeleteConfig(query: String, outputTable: String,
                                       keyFields: Seq[String],
                                       params: Map[String, Any] = Map.empty)

  def queryToDelete(spark: SparkSession, c: QueryToDeleteConfig): UpsertWriter.Result = {
    val df = SqlRunner.run(spark, c.query, c.params)
    UpsertWriter.write(df, c.outputTable, UpsertWriter.Delete, c.keyFields)
  }

  /** BigQueryToSpanner (`templates/BigQueryToSpanner.java:87-149`) — same
    * pipeline as queryToUpsert here (both sources are registered tables);
    * auto-CREATE from the result schema included via the upsert writer's
    * create-on-absent behavior. */
  def bigQueryToSpanner(spark: SparkSession, c: QueryToUpsertConfig): UpsertWriter.Result =
    queryToUpsert(spark, c)

  /** BigQueryToDatastore (`templates/BigQueryToDatastore.java:59-89`) +
    * converter P7: keyed-document projection with key path from
    * `keyField` and index exclusions (strings > 1500 bytes auto-unindexed,
    * `RecordToEntityConverter.java:126-129`). */
  final case class QueryToDocumentsConfig(
      query: String, output: String, kind: String, keyField: String,
      excludeFromIndexFields: Seq[String] = Seq.empty,
      params: Map[String, Any] = Map.empty)

  /** Datastore value shaping, applied recursively to any depth
    * (`RecordToEntityConverter.java:202-231`): MAP values become an ARRAY
    * of {key, value} entities (the reference's MAP case builds exactly
    * that entity list); nested records stay nested structs (a struct
    * column IS the nested entity); array elements recurse. Entries are
    * sorted by key — the reference iterates a HashMap's entrySet, which
    * is order-unstable, so the deterministic order is the strictly safer
    * contract. The 1500-byte auto-unindex rule intentionally stays
    * TOP-LEVEL-ONLY: the reference applies it in `convert()`'s top-level
    * field loop only, never inside `convertEntityValue` recursion. */
  private def entityValue(c: org.apache.spark.sql.Column,
                          dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType =>
        when(c.isNull, lit(null).cast(entityType(st))).otherwise(
          struct(st.fields.toIndexedSeq.map(f =>
            entityValue(c.getField(f.name), f.dataType).as(f.name)): _*))
      case ArrayType(et, _) => transform(c, e => entityValue(e, et))
      case MapType(_, vt, _) =>
        transform(sort_array(map_entries(c)), e =>
          struct(e.getField("key").cast("string").as("key"),
            entityValue(e.getField("value"), vt).as("value")))
      case _ => c
    }
  }

  /** The post-shaping type of [[entityValue]] (for null casts). */
  private def entityType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = entityType(f.dataType))))
      case ArrayType(et, n) => ArrayType(entityType(et), n)
      case MapType(_, vt, _) => ArrayType(StructType(Seq(
        StructField("key", StringType, nullable = false),
        StructField("value", entityType(vt)))), containsNull = false)
      case other => other
    }
  }

  def queryToDocuments(spark: SparkSession, c: QueryToDocumentsConfig): DataFrame = {
    import org.apache.spark.sql.types._
    val df = SqlRunner.run(spark, c.query, c.params)
    // Key fields must be STRING names or INT64-family ids — any other type
    // is a config error, as in the reference
    // (RecordToEntityConverter.java:238-254 throws for non-STRING/INT64).
    val keyType = df.schema.fields.find(_.name == c.keyField)
      .getOrElse(throw new IllegalArgumentException(
        s"keyField '${c.keyField}' not in query result"))
      .dataType
    keyType match {
      case StringType | ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"keyField '${c.keyField}' must be STRING or INT64, got ${other.simpleString} " +
          "(RecordToEntityConverter.java:238-254)")
    }
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    val autoUnindexed = array_compact(array(stringCols.toIndexedSeq.map { n =>
      when(octet_length(col(n)) > 1500, lit(n))
    }: _*))
    val configured = array(c.excludeFromIndexFields.map(lit): _*)
    val out = df.select(
      concat(lit(c.kind), lit("/"), col(c.keyField).cast("string")).as("__key__"),
      struct(df.schema.fields.toIndexedSeq.map(f =>
        entityValue(col(f.name), f.dataType).as(f.name)): _*).as("doc"),
      array_union(configured, autoUnindexed).as("__unindexed__"))
    out.write.mode(SaveMode.Overwrite).parquet(c.output)
    spark.read.parquet(c.output)
  }

  /** BigQueryToTFRecord (`templates/BigQueryToTFRecord.java:65-114`). */
  final case class QueryToTFRecordConfig(
      query: String, output: String,
      splitField: Option[String] = None,
      outputNotify: Option[String] = None,
      params: Map[String, Any] = Map.empty)

  def queryToTFRecord(spark: SparkSession, c: QueryToTFRecordConfig): Seq[String] = {
    val df = SqlRunner.run(spark, c.query, c.params)
    TFRecordSink.write(df, TFRecordSink.Config(c.output, c.splitField,
      gzip = true, c.outputNotify))
  }

  /** AvroToSpanner (`templates/AvroToSpanner.java:68-85`). */
  final case class AvroToUpsertConfig(input: String, outputTable: String,
                                      keyFields: Seq[String],
                                      mutationOp: String = "INSERT_OR_UPDATE")

  def avroToUpsert(spark: SparkSession, c: AvroToUpsertConfig): UpsertWriter.Result = {
    val df = graft.sources.AvroIO.read(spark, c.input)
    UpsertWriter.write(df, c.outputTable, UpsertWriter.Op.parse(c.mutationOp), c.keyFields)
  }

  /** AvroToDatastore (`templates/AvroToDatastore.java:63-81`). */
  final case class AvroToDocumentsConfig(input: String, output: String,
                                         kind: String, keyField: String,
                                         excludeFromIndexFields: Seq[String] = Seq.empty)

  def avroToDocuments(spark: SparkSession, c: AvroToDocumentsConfig): DataFrame = {
    graft.sources.AvroIO.read(spark, c.input).createOrReplaceTempView("__avro_in")
    queryToDocuments(spark, QueryToDocumentsConfig(
      "SELECT * FROM __avro_in", c.output, c.kind, c.keyField, c.excludeFromIndexFields))
  }

  /** Incremental corpus update — the composition a training-data user
    * runs on every ingest batch: curate the incoming documents (quality
    * filter → exact dedup → minhash near-dup removal against the batch
    * itself) and MERGE the survivors into the corpus table keyed on
    * `idCol` (INSERT_OR_UPDATE, so re-ingests are idempotent). Cross-
    * batch near-dups are handled by running the dedup operators over the
    * corpus table on a cadence; within-batch curation keeps the merge
    * cheap and incremental. */
  final case class CorpusUpdateConfig(
      corpusTable: String, idCol: String = "doc_id", textCol: String = "text")

  def corpusUpdate(spark: SparkSession, batch: DataFrame,
                   c: CorpusUpdateConfig): UpsertWriter.Result = {
    import graft.operators.{Dedup, TextAnalysis}
    val quality = TextAnalysis.qualityScore(batch, c.idCol, c.textCol)
      .filter(col("keep")).select(c.idCol)
    val kept = batch.join(quality, c.idCol)
    val exactKeep = Dedup.exactDedup(kept, c.idCol, c.textCol).select(c.idCol)
    val afterExact = kept.join(exactKeep, c.idCol).cache()
    val losers = Dedup.minhashLsh(afterExact, c.idCol, c.textCol)
      .select(col("d2").as(c.idCol)).distinct()
    val curated = afterExact.join(losers, Seq(c.idCol), "left_anti")
    UpsertWriter.write(curated, c.corpusTable, UpsertWriter.InsertOrUpdate, Seq(c.idCol))
  }

  /** DummyToSpanner (`templates/DummyToSpanner.java:61-84`): generator →
    * mutations. Schemas come from the catalog facade
    * ([[TableCatalog.informationSchemaColumns]] plays INFORMATION_SCHEMA). */
  final case class DummyToUpsertConfig(
      configYaml: String, outputDir: String,
      schemas: Map[String, org.apache.spark.sql.types.StructType],
      parallelNum: Int = 1, seed: Long = 42L)

  def dummyToUpsert(spark: SparkSession, c: DummyToUpsertConfig): Map[String, UpsertWriter.Result] = {
    DummyGen.parseYaml(c.configYaml).map { tc =>
      val schema = c.schemas(tc.table)
      val df = DummyGen.generate(spark, schema, tc, c.parallelNum, c.seed)
      val keys = if (tc.primaryKeys.nonEmpty) tc.primaryKeys else Seq(schema.fieldNames.head)
      tc.table -> UpsertWriter.write(df, s"${c.outputDir}/${tc.table}", UpsertWriter.InsertOrUpdate, keys)
    }.toMap
  }
}
