package graft.pipelines

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.catalog.TableCatalog

/** CLI entry point — the Spark equivalent of the reference's template
  * `main(args)` + `PipelineOptionsFactory` pattern (SURVEY §3.1 step 1):
  * plain `--key=value` args parsed into the template's config case class
  * at launch (no deferred ValueProvider machinery — Spark builds the plan
  * at launch time, SURVEY §0).
  *
  * Usage:
  * {{{
  * runMain graft.pipelines.Main <template> --tablesDir=<dir> [--key=value...]
  *   query-to-text:   --query --output [--format=json|csv] [--splitField]
  *                    [--header] [--withoutSharding] [--outputNotify] [--outputEmpty]
  *   query-to-avro:   --query --output [--splitField] [--outputNotify]
  *   query-to-table:  --query --table
  *   query-to-upsert: --query --outputTable --keyFields=a,b
  *                    [--mutationOp] [--outputError] [--outputNotify]
  *   query-to-delete: --query --outputTable --keyFields=a,b
  *   query-to-documents: --query --output --kind --keyField [--excludeFromIndexFields]
  *   query-to-tfrecord:  --query --output [--splitField] [--outputNotify]
  *   avro-to-upsert:     --input --outputTable --keyFields [--mutationOp]
  *   avro-to-documents:  --input --output --kind --keyField
  *   dummy-to-upsert:    --config=<yaml> --outputDir [--tablesDir] [--parallelNum] [--seed]
  *   compact:            --dir [--targetBytes]   (table maintenance)
  * }}}
  * Full reference-parameter → graft mapping: docs/PARAMETERS.md.
  */
object Main {

  def parseArgs(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty, "first arg must be the template name")
    val kv = args.tail.collect {
      case a if a.startsWith("--") && a.contains("=") =>
        val Array(k, v) = a.stripPrefix("--").split("=", 2)
        k -> v
      case a if a.startsWith("--") => a.stripPrefix("--") -> "true"
    }.toMap
    (args.head, kv)
  }

  def run(spark: SparkSession, template: String, o: Map[String, String]): Unit = {
    o.get("tablesDir").foreach(d => TableCatalog.register(spark, d))
    def req(k: String): String =
      o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def keys = req("keyFields").split(",").map(_.trim).toSeq

    template match {
      case "query-to-text" =>
        Templates.queryToText(spark, Templates.QueryToTextConfig(
          req("query"), req("output"), o.getOrElse("format", "json"),
          o.get("splitField"), o.get("header"),
          o.get("withoutSharding").contains("true"),
          o.get("outputNotify"), o.get("outputEmpty").contains("true")))
      case "query-to-avro" =>
        Templates.queryToAvro(spark, Templates.QueryToAvroConfig(
          req("query"), req("output"), o.get("splitField"), o.get("outputNotify")))
      case "query-to-table" =>
        Templates.queryToTable(spark, Templates.QueryToTableConfig(req("query"), req("table")))
      case "query-to-upsert" =>
        Templates.queryToUpsert(spark, Templates.QueryToUpsertConfig(
          req("query"), req("outputTable"), keys,
          o.getOrElse("mutationOp", "INSERT_OR_UPDATE"),
          o.get("outputError"), o.get("outputNotify")))
      case "query-to-delete" =>
        Templates.queryToDelete(spark, Templates.QueryToDeleteConfig(
          req("query"), req("outputTable"), keys))
      case "query-to-documents" =>
        Templates.queryToDocuments(spark, Templates.QueryToDocumentsConfig(
          req("query"), req("output"), req("kind"), req("keyField"),
          o.get("excludeFromIndexFields").map(_.split(",").toSeq).getOrElse(Seq.empty)))
      case "query-to-tfrecord" =>
        Templates.queryToTFRecord(spark, Templates.QueryToTFRecordConfig(
          req("query"), req("output"), o.get("splitField"), o.get("outputNotify")))
      case "avro-to-upsert" =>
        Templates.avroToUpsert(spark, Templates.AvroToUpsertConfig(
          req("input"), req("outputTable"), keys,
          o.getOrElse("mutationOp", "INSERT_OR_UPDATE")))
      case "avro-to-documents" =>
        Templates.avroToDocuments(spark, Templates.AvroToDocumentsConfig(
          req("input"), req("output"), req("kind"), req("keyField")))
      case "dummy-to-upsert" =>
        // schemas come from the target catalog, like the reference's
        // INFORMATION_SCHEMA read (DummyToMutation.java:103-161): managed
        // tables first, then the registered tablesDir parquet
        val yaml = java.nio.file.Files.readString(java.nio.file.Paths.get(req("config")))
        val tcs = graft.generate.DummyGen.parseYaml(yaml)
        val schemas = tcs.map { tc =>
          val schema =
            if (spark.catalog.tableExists(tc.table)) spark.table(tc.table).schema
            else TableCatalog.load(spark, req("tablesDir"), tc.table).schema
          tc.table -> schema
        }.toMap
        Templates.dummyToUpsert(spark, Templates.DummyToUpsertConfig(
          yaml, req("outputDir"), schemas,
          o.getOrElse("parallelNum", "1").toInt,
          o.getOrElse("seed", "42").toLong))
      case "compact" =>
        // table maintenance: small-files compaction (no reference
        // equivalent — Beam templates never rewrite their own output;
        // a long-lived Spark table needs it, see sinks.Compaction)
        val r = graft.sinks.Compaction.compactParquet(spark, req("dir"),
          o.get("targetBytes").map(_.toLong).getOrElse(128L << 20))
        println(s"compact: ${r.filesBefore} -> ${r.filesAfter} files " +
          s"(${r.bytes} bytes${if (r.skipped) ", skipped" else ""})")
      case other =>
        throw new IllegalArgumentException(s"unknown template: $other")
    }
    ()
  }

  def main(args: Array[String]): Unit = {
    val (template, o) = parseArgs(args)
    val b = GraftSession.builder().config("spark.log.level", "WARN")
    val spark = o.get("master").fold(b)(b.master).getOrCreate()
    try run(spark, template, o) finally spark.stop()
  }
}
