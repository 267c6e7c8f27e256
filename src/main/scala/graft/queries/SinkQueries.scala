package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.TableCatalog
import graft.pipelines.Templates
import graft.sinks.TFRecordSink

/** File sinks (reference K1 text / K2 avro / K3 tfrecord / K8 notify)
  * under the HARD oracle gate: each query runs the full §3.1 lifecycle —
  * SQL source → converter → dynamic-destination sink writing REAL files —
  * then reads the written files back into a DataFrame whose content (and
  * the file each row landed in) DuckDB reproduces from the source tables
  * alone. A hash match therefore certifies the write semantics end to
  * end: split-key routing, exact `<prefix><key>.<type>` naming
  * (`util/FixedFileNaming.java:27-34`), header emission
  * (`transforms/sinks/TextDynamicSink.java:41-43`), line formatting,
  * avro record encoding, TFRecord Example encoding, and the finish-pass
  * listing (`transforms/WriteFilesFinishTransform.java:39-61`).
  *
  * Files land under the repo's target dir (absolute, wiped per run) —
  * the oracle never reads them; it recomputes expected content + names
  * from the tables, so the check is engine-independent.
  */
object SinkQueries {

  // under the checkout the JVM runs from, like Spark's own warehouse dir
  private val base = s"${sys.props("user.dir")}/target/sinkgate"

  private def clean(s: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    org.apache.hadoop.fs.FileSystem
      .get(p.toUri, s.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  private def fileName(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(c, "[^/]+$", 0)

  val specs: Seq[QuerySpec] = Seq(

    // K1: text dynamic sink round-trip — CSV split by region key, header
    // per file, exact single-file-per-key naming (withoutSharding).
    QuerySpec("k1_text_sink_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/k1")
      val res = Templates.queryToText(s, Templates.QueryToTextConfig(
        query = "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        output = s"$base/k1/nation_",
        format = "csv",
        splitField = Some("n_regionkey"),
        header = Some("n_nationkey,n_name,n_regionkey"),
        withoutSharding = true))
      s.read.text(res.files: _*)
        .select(fileName(input_file_name()).as("file_name"),
          col("value").as("line"))
        .orderBy("file_name", "line")
    },
      """WITH lines AS (
        |  SELECT 'nation_' || n_regionkey || '.csv' AS file_name,
        |         n_nationkey || ',' || n_name || ',' || n_regionkey AS line
        |  FROM nation
        |  UNION ALL
        |  SELECT DISTINCT 'nation_' || n_regionkey || '.csv',
        |         'n_nationkey,n_name,n_regionkey'
        |  FROM nation)
        |SELECT file_name, line FROM lines ORDER BY file_name, line""".stripMargin),

    // K2: avro dynamic sink round-trip — one snappy container per split
    // key, read back per file so row↔file routing is part of the hash.
    QuerySpec("k2_avro_sink_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/k2")
      val res = Templates.queryToAvro(s, Templates.QueryToAvroConfig(
        query = "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        output = s"$base/k2/nation_",
        splitField = Some("n_regionkey")))
      res.files.map { p =>
        graft.sources.AvroIO.read(s, p)
          .withColumn("file_name", lit(p.substring(p.lastIndexOf('/') + 1)))
      }.reduce(_ unionByName _)
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"),
          col("file_name"))
        .orderBy("n_nationkey")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  'nation_' || n_regionkey || '.avro' AS file_name
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // K3: tfrecord sink round-trip — gzip'd Example protos split by
    // region key, parsed back by the wire-format reader; `file_key`
    // recovers which split file each row came from (the -pNNNNN shard
    // index is partition-layout, not semantics, so it is stripped).
    QuerySpec("k3_tfrecord_sink_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/k3")
      val files = Templates.queryToTFRecord(s, Templates.QueryToTFRecordConfig(
        query = "SELECT n_nationkey, n_name, n_regionkey, " +
          "CAST(n_nationkey AS DOUBLE) / 4 AS frac FROM nation",
        output = s"$base/k3/nation_",
        splitField = Some("n_regionkey")))
      TFRecordSink.read(s, files, StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_name", StringType),
          StructField("n_regionkey", LongType),
          StructField("frac", FloatType))))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("frac"),
          regexp_extract(col("file_name"),
            "^nation_(.*)-p[0-9]+\\.tfrecord$", 1).as("file_key"))
        .orderBy("n_nationkey")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  (n_nationkey / 4.0)::FLOAT AS frac,
        |  n_regionkey::VARCHAR AS file_key
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // Compaction under the gate: fragment the documents table into one
    // file per row-group of 32 shards, compact to a single right-sized
    // file, and hash-check that the physical rewrite is content-neutral.
    // `n_files` carries the compaction invariant into the oracle row.
    QuerySpec("k10_compact_roundtrip", (s, dir) => {
      clean(s, s"$base/k10")
      TableCatalog.load(s, dir, "documents")
        .select("doc_id", "text")
        .repartition(32)
        .write.parquet(s"$base/k10/t")
      // targetBytes far above any SF's table size -> want is always
      // exactly 1 file, so the oracle's n_files = 1 pin is scale-proof
      val r = graft.sinks.Compaction.compactParquet(
        s, s"$base/k10/t", targetBytes = 1L << 60)
      s.read.parquet(s"$base/k10/t")
        .select(col("doc_id"), col("text"),
          lit(r.filesAfter.toLong).as("n_files"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, text, CAST(1 AS BIGINT) AS n_files
        |FROM documents ORDER BY doc_id""".stripMargin),

    // S5 under the gate: the Avro FILE SOURCE as its own row — logical
    // types (timestamp-micros, long, double, string) written by AvroIO
    // and read back through the container parser must hash-match DuckDB
    // reading the same rows from parquet. Complements k2 (which gates the
    // dynamic-sink path) by pinning the typed round-trip on a fact table.
    QuerySpec("s5_avro_source_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/s5")
      graft.sources.AvroIO.write(
        TableCatalog.load(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"),
        s"$base/s5/orders")
      graft.sources.AvroIO.read(s, s"$base/s5/orders")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // K7 + K9 under the gate: the REPORT_FAILURES error branch — rows
    // with NULL keys fail the mutation writer, land in the error Avro
    // file, and their count lands in the notify file; the survivors land
    // in the table. The gate frame reads the error file back and carries
    // both counts, so DuckDB recomputes the whole split from the source
    // table alone.
    QuerySpec("k7_error_branch_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/k7")
      Templates.queryToUpsert(s, Templates.QueryToUpsertConfig(
        query = "SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END AS c_custkey, " +
          "c_name, c_acctbal FROM customer WHERE c_custkey < 200",
        outputTable = s"$base/k7/t", keyFields = Seq("c_custkey"),
        outputError = Some(s"$base/k7/err"),
        outputNotify = Some(s"$base/k7/notify.txt")))
      val notify = {
        val p = new Path(s"$base/k7/notify.txt")
        val fs = org.apache.hadoop.fs.FileSystem
          .get(p.toUri, s.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        in.close(); txt.trim.toLong
      }
      val nTable = s.read.parquet(s"$base/k7/t").count()
      graft.sources.AvroIO.read(s, s"$base/k7/err")
        .select(col("c_name"), col("c_acctbal"),
          lit(notify).as("n_failed"), lit(nTable).as("n_table"))
        .orderBy("c_name")
    },
      """WITH f AS (SELECT c_name, c_acctbal FROM customer
        |           WHERE c_custkey < 200 AND c_custkey % 7 = 0)
        |SELECT c_name, c_acctbal,
        |  (SELECT count(*) FROM f)::BIGINT AS n_failed,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey < 200 AND c_custkey % 7 <> 0)::BIGINT AS n_table
        |FROM f ORDER BY c_name""".stripMargin),

    // K4 under the gate: the warehouse table sink (CREATE_IF_NEEDED +
    // WRITE_APPEND parity, `templates/SpannerToBigQuery.java:91-96`) —
    // first call auto-creates the managed table from the query schema,
    // second call appends; reading the table back must reproduce the
    // union of both batches. Catalog + warehouse-dir leftovers from a
    // previous run are cleared first (a managed parquet table reads
    // whatever files sit at its location).
    QuerySpec("k4_table_sink_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      s.sql("DROP TABLE IF EXISTS k4_gate_tbl")
      val wh = new Path(s.conf.get("spark.sql.warehouse.dir"), "k4_gate_tbl")
      org.apache.hadoop.fs.FileSystem
        .get(wh.toUri, s.sparkContext.hadoopConfiguration).delete(wh, true)
      val n1 = Templates.queryToTable(s, Templates.QueryToTableConfig(
        query = "SELECT s_suppkey, s_name, s_nationkey FROM supplier WHERE s_suppkey % 2 = 0",
        table = "k4_gate_tbl"))
      val n2 = Templates.queryToTable(s, Templates.QueryToTableConfig(
        query = "SELECT s_suppkey, s_name, s_nationkey FROM supplier WHERE s_suppkey % 2 = 1",
        table = "k4_gate_tbl"))
      s.table("k4_gate_tbl")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          lit(n1 + n2).as("n_written"))
        .orderBy("s_suppkey")
    },
      """SELECT s_suppkey, s_name, s_nationkey,
        |  (SELECT count(*) FROM supplier)::BIGINT AS n_written
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    // K6 under the gate: the entity/document sink — key path
    // `<kind>/<id>`, recursive entity value shaping, configured +
    // >1500-byte auto-unindex exclusion list — hash-checked end to end
    // (DuckDB recomputes key, content, and the unindexed list from the
    // source table; the doc struct's text rides as md5 to keep the gate
    // frame narrow).
    QuerySpec("k6_documents_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/k6")
      val out = Templates.queryToDocuments(s, Templates.QueryToDocumentsConfig(
        query = "SELECT doc_id, text, lang, source FROM documents",
        output = s"$base/k6/t", kind = "doc", keyField = "doc_id",
        excludeFromIndexFields = Seq("source")))
      out.select(col("__key__"),
          col("doc.doc_id").as("doc_id"),
          md5(col("doc.text")).as("text_md5"),
          col("doc.lang").as("lang"),
          concat_ws(",", col("__unindexed__")).as("unindexed"))
        .orderBy("doc_id")
    },
      """SELECT 'doc/' || doc_id::VARCHAR AS __key__, doc_id,
        |  md5(text) AS text_md5, lang,
        |  CASE WHEN strlen(text) > 1500 THEN 'source,text'
        |       ELSE 'source' END AS unindexed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // K5 under the gate: the MERGE-shaped mutation writer's semantics
    // hash-checked end to end — seed a table, INSERT_OR_UPDATE a batch
    // that half-updates/half-inserts, DELETE a key slice, read the final
    // table back; DuckDB recomputes the same three-step state from the
    // source table alone.
    QuerySpec("k5_upsert_roundtrip", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/k5")
      val table = s"$base/k5/t"
      // seed: customers 0..99 as the current table state
      Templates.queryToUpsert(s, Templates.QueryToUpsertConfig(
        query = "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer WHERE c_custkey < 100",
        outputTable = table, keyFields = Seq("c_custkey")))
      // upsert: 50..149 with shifted balances (50..99 update, 100..149 insert)
      Templates.queryToUpsert(s, Templates.QueryToUpsertConfig(
        query = "SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal " +
          "FROM customer WHERE c_custkey BETWEEN 50 AND 149",
        outputTable = table, keyFields = Seq("c_custkey")))
      // delete every 10th key
      Templates.queryToDelete(s, Templates.QueryToDeleteConfig(
        query = "SELECT c_custkey FROM customer WHERE c_custkey < 150 AND c_custkey % 10 = 0",
        outputTable = table, keyFields = Seq("c_custkey")))
      s.read.parquet(table)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .orderBy("c_custkey")
    },
      """WITH cur AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |             FROM customer WHERE c_custkey < 100),
        |batch AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal
        |          FROM customer WHERE c_custkey BETWEEN 50 AND 149),
        |merged AS (
        |  SELECT * FROM batch
        |  UNION ALL
        |  SELECT * FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM batch))
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM merged
        |WHERE c_custkey % 10 <> 0 ORDER BY c_custkey""".stripMargin),

    // Partitioned-layout compaction under the gate: fragment each lang
    // partition into 8 files, compact every partition independently to
    // one right-sized file, hash-check the rewrite is content-neutral
    // (n_files pins one-file-per-partition via count(DISTINCT lang)).
    QuerySpec("k12_compact_partitioned", (s, dir) => {
      clean(s, s"$base/k12")
      TableCatalog.load(s, dir, "documents")
        .select("doc_id", "lang", "text")
        .repartition(8)
        .write.partitionBy("lang").parquet(s"$base/k12/t")
      val rs = graft.sinks.Compaction.compactPartitioned(
        s, s"$base/k12/t", targetBytes = 1L << 60)
      val totalAfter = rs.map(_._2.filesAfter).sum.toLong
      s.read.parquet(s"$base/k12/t")
        .select(col("doc_id"), col("lang"), col("text"),
          lit(totalAfter).as("n_files"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, text,
        |  (SELECT count(DISTINCT lang) FROM documents)::BIGINT AS n_files
        |FROM documents ORDER BY doc_id""".stripMargin),

    // K13: ORC columnar round-trip — Spark's other native columnar
    // format (predicate pushdown + column pruning parity with parquet);
    // doubles and timestamps must survive the encoder bit-exactly for
    // the hash to hold.
    QuerySpec("k13_orc_roundtrip", (s, dir) => {
      clean(s, s"$base/k13")
      TableCatalog.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.orc(s"$base/k13/t")
      s.read.orc(s"$base/k13/t").orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // K14: JSON-lines file round-trip with an EXPLICIT read schema (the
    // lakehouse interchange path; inference would widen types, a pinned
    // schema is the production contract).
    QuerySpec("k14_jsonl_roundtrip", (s, dir) => {
      clean(s, s"$base/k14")
      TableCatalog.load(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.json(s"$base/k14/t")
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .json(s"$base/k14/t")
        .orderBy("n_nationkey")
    },
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // K15: parquet schema-evolution round-trip — two writer generations
    // with different column sets under one root, read back with
    // mergeSchema (the lakehouse column-add path); absent columns are
    // null in rows from the older files.
    QuerySpec("k15_schema_merge_roundtrip", (s, dir) => {
      clean(s, s"$base/k15")
      val n = TableCatalog.load(s, dir, "nation")
      n.select("n_nationkey", "n_name").write.parquet(s"$base/k15/t/gen=1")
      n.select("n_nationkey", "n_name", "n_regionkey")
        .write.parquet(s"$base/k15/t/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$base/k15/t")
        .orderBy("gen", "n_nationkey")
    },
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name, NULL::INT AS n_regionkey, 1 AS gen FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey, 2 FROM nation)
        |ORDER BY gen, n_nationkey""".stripMargin),

    // K16: XML round-trip — Spark 4's integrated XML datasource (the
    // spark-xml lineage), written with an explicit rowTag and read back
    // with a pinned schema.
    QuerySpec("k16_xml_roundtrip", (s, dir) => {
      clean(s, s"$base/k16")
      TableCatalog.load(s, dir, "region")
        .select("r_regionkey", "r_name")
        .write.option("rowTag", "region").xml(s"$base/k16/t")
      s.read.option("rowTag", "region")
        .schema("r_regionkey INT, r_name STRING")
        .xml(s"$base/k16/t")
        .orderBy("r_regionkey")
    },
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    // K17: CSV file-source round-trip — the delimited-text INGEST path
    // (the reference's text sink writes CSV lines; this gate closes the
    // loop with Spark's csv READER under a pinned schema + header).
    // Doubles survive because Spark writes the shortest round-trippable
    // repr (Java Double.toString) and the parser restores the exact bits.
    QuerySpec("k17_csv_roundtrip", (s, dir) => {
      clean(s, s"$base/k17")
      TableCatalog.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.option("header", "true").csv(s"$base/k17/t")
      s.read.option("header", "true")
        .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")
        .csv(s"$base/k17/t")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // Deterministic fixed-shard export under the gate: seeded md5 shuffle
    // of the documents table into 8 exactly-named shard files; the line
    // carries (doc_id, content hash, shard_key) so shard membership, file
    // naming, AND content all sit under the DuckDB hash.
    QuerySpec("k11_shard_export", (s, dir) => {
      clean(s, s"$base/k11")
      val docs = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
      val res = graft.sinks.ShardExport.write(docs, "doc_id",
        s"$base/k11/docs_", numShards = 8, seed = "r6", format = "csv")
      s.read.text(res.files: _*)
        .select(fileName(input_file_name()).as("file_name"),
          col("value").as("line"))
        .orderBy("file_name", "line")
    },
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS content_hash,
        |    ((strpos('0123456789abcdef', substring(md5('r6_' || doc_id), 1, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substring(md5('r6_' || doc_id), 2, 1)) - 1)) % 8 AS shard
        |  FROM documents)
        |SELECT 'docs_shard-' || lpad(shard::VARCHAR, 5, '0') || '-of-00008.csv' AS file_name,
        |  doc_id || ',' || content_hash || ',shard-' ||
        |    lpad(shard::VARCHAR, 5, '0') || '-of-00008' AS line
        |FROM a ORDER BY file_name, line""".stripMargin),

    // K8: finish-pass notification — the sink's outputNotify file lists
    // every written path; the listing itself becomes the checked frame.
    QuerySpec("k8_notify_listing", (s, dir) => {
      TableCatalog.register(s, dir)
      clean(s, s"$base/k8")
      Templates.queryToText(s, Templates.QueryToTextConfig(
        query = "SELECT r_regionkey, r_name FROM region",
        output = s"$base/k8/region_",
        format = "json",
        splitField = Some("r_name"),
        withoutSharding = true,
        outputNotify = Some(s"$base/k8/notify.txt")))
      s.read.text(s"$base/k8/notify.txt")
        .select(fileName(col("value")).as("file_name"))
        .orderBy("file_name")
    },
      """SELECT DISTINCT 'region_' || r_name || '.json' AS file_name
        |FROM region ORDER BY file_name""".stripMargin)
  )
}
