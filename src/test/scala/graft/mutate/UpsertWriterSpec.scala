package graft.mutate

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import UpsertWriter._

/** K5/P9/P10 mutation semantics incl. REPORT_FAILURES error branch. */
class UpsertWriterSpec extends SparkSpec {

  import spark.implicits._

  private def table(dir: String) = s"$dir/t"

  private def fresh(): String = {
    val dir = tmpDir("upsert")
    val init = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "v")
    val r = UpsertWriter.write(init, table(dir), Insert, Seq("id"))
    assert(r.written === 2 && r.failed.isEmpty)
    dir
  }

  test("INSERT: existing key is a failed row, not an overwrite") {
    val dir = fresh()
    val batch = Seq((2L, "B2", 99L), (3L, "c", 30L)).toDF("id", "name", "v")
    val r = UpsertWriter.write(batch, table(dir), Insert, Seq("id"))
    assert(r.written === 3)
    assert(r.failed.select("id").as[Long].collect() === Array(2L))
    val now = spark.read.parquet(table(dir)).orderBy("id")
      .as[(Long, String, Long)].collect()
    assert(now === Array((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("UPDATE: missing key fails; present key merges columns") {
    val dir = fresh()
    val batch = Seq((1L, 111L), (9L, 999L)).toDF("id", "v")
    val r = UpsertWriter.write(batch, table(dir), Update, Seq("id"))
    assert(r.failed.select("id").as[Long].collect() === Array(9L))
    val now = spark.read.parquet(table(dir)).orderBy("id")
      .as[(Long, String, Long)].collect()
    assert(now === Array((1L, "a", 111L), (2L, "b", 20L))) // name kept
  }

  test("REPLACE: missing source columns become null") {
    val dir = fresh()
    val batch = Seq((1L, 111L)).toDF("id", "v")
    UpsertWriter.write(batch, table(dir), Replace, Seq("id"))
    val row = spark.read.parquet(table(dir)).filter("id = 1").head
    assert(row.isNullAt(row.fieldIndex("name")) && row.getLong(row.fieldIndex("v")) === 111L)
  }

  test("INSERT_OR_UPDATE: upsert keeps unspecified columns") {
    val dir = fresh()
    val batch = Seq((2L, 222L), (5L, 50L)).toDF("id", "v")
    val r = UpsertWriter.write(batch, table(dir), InsertOrUpdate, Seq("id"))
    assert(r.failed.isEmpty)
    val now = spark.read.parquet(table(dir)).orderBy("id")
      .as[(Long, String, Long)].collect()
    assert(now === Array((1L, "a", 10L), (2L, "b", 222L), (5L, null, 50L)))
  }

  test("DELETE by key; null key is a failed row") {
    val dir = fresh()
    val batch = Seq(Some(1L), None).map(Tuple1(_)).toDF("id")
    val r = UpsertWriter.write(batch, table(dir), Delete, Seq("id"))
    assert(r.failed.count() === 1)
    assert(spark.read.parquet(table(dir)).select("id").as[Long].collect() === Array(2L))
  }

  test("DDL builder follows the reference type map") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType), StructField("d", DecimalType(38, 9)),
      StructField("arr", ArrayType(LongType)),
      StructField("nested", StructType(Seq(StructField("x", LongType))))))
    val ddl = TablePrepare.ddl("t", schema, Seq("id"))
    assert(ddl.contains("`id` INT64 NOT NULL"))
    assert(ddl.contains("`s` STRING(MAX)"))
    assert(ddl.contains("`d` STRING(MAX)")) // NUMERIC degrades per :128-130
    assert(ddl.contains("`arr` ARRAY<INT64>"))
    assert(!ddl.contains("nested")) // struct column dropped
    assert(ddl.endsWith("PRIMARY KEY (id)"))
  }

  test("a merge evaluates its batch once") {
    val dir = fresh()
    val seen = spark.sparkContext.longAccumulator("batch rows")
    val tick = udf { (id: java.lang.Long) => seen.add(1); id }.asNondeterministic()
    val batch = Seq((Some(2L), 222L), (None, 0L), (Some(5L), 50L), (None, 1L))
      .toDF("id", "v").select(tick(col("id")).as("id"), col("v"))
    val r = UpsertWriter.write(batch, table(dir), InsertOrUpdate, Seq("id"))
    assert(r.failed.count() === 2)
    assert(seen.value === 4L)
  }

  test("failed stays readable after the write, its batch copy and a second write") {
    val dir = fresh()
    val r1 = UpsertWriter.write(Seq((Some(1L), 11L), (None, 12L)).toDF("id", "v"),
      table(dir), InsertOrUpdate, Seq("id"))
    val r2 = UpsertWriter.write(Seq((None, 21L), (None, 22L), (Some(3L), 23L)).toDF("id", "v"),
      table(dir), Update, Seq("id"))
    assert(r1.failed.count() === 1 && r2.failed.count() === 3)
    assert(r1.failed.select("v").as[Long].collect() === Array(12L))
    assert(r2.failed.select("v").as[Long].collect().sorted === Array(21L, 22L, 23L))
  }

  test("a write leaves at most its failed rows persisted") {
    val dir = fresh()
    val sc = spark.sparkContext
    for (op <- Seq(InsertOrUpdate, Replace, Insert, Update, Delete)) {
      val before = sc.getPersistentRDDs.keySet
      val r = UpsertWriter.write(Seq((Some(2L), 7L), (None, 8L), (Some(9L), 9L)).toDF("id", "v"),
        table(dir), op, Seq("id"))
      val added = sc.getPersistentRDDs.keySet -- before
      val pinned = r.failed.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
      assert(added.size <= 1 && added.subsetOf(pinned.toSet), s"$op left $added persisted")
    }
  }

  test("duplicate batch keys collapse to one of the batch's rows") {
    val dir = fresh()
    val batch = Seq((2L, 21L), (2L, 22L), (7L, 70L), (7L, 71L)).toDF("id", "v")
    UpsertWriter.write(batch, table(dir), InsertOrUpdate, Seq("id"))
    val now = spark.read.parquet(table(dir)).orderBy("id").as[(Long, String, Long)].collect()
    assert(now.map(_._1) === Array(1L, 2L, 7L))
    assert(Set(21L, 22L)(now(1)._3) && now(1)._2 == "b" && Set(70L, 71L)(now(2)._3))
  }

  test("a wider batch key widens the table's key under INSERT_OR_UPDATE and UPDATE") {
    val dir = tmpDir("upsert_keys")
    Seq((1, "a"), (2, "b")).toDF("id", "name").write.parquet(table(dir))
    val big = 3000000000L // beyond INT
    val r1 = UpsertWriter.write(Seq((2L, "B"), (big, "z")).toDF("id", "name"),
      table(dir), InsertOrUpdate, Seq("id"))
    assert(r1.written === 3 && r1.failed.isEmpty)
    val now = spark.read.parquet(table(dir))
    assert(now.schema("id").dataType === LongType)
    assert(now.orderBy("id").as[(Long, String)].collect() === Array((1L, "a"), (2L, "B"), (big, "z")))
    val r2 = UpsertWriter.write(Seq((1L, "A"), (big + 1, "y")).toDF("id", "name"),
      table(dir), Update, Seq("id"))
    assert(r2.failed.select("id").as[Long].collect() === Array(big + 1))
    assert(spark.read.parquet(table(dir)).orderBy("id").as[(Long, String)].collect() ===
      Array((1L, "A"), (2L, "B"), (big, "z")))
  }

  // ------------------------------------------------------------------
  // differential: the four merging ops against the writer's earlier form,
  // which ran the batch once per branch and merged REPLACE and
  // INSERT_OR_UPDATE with two joins and a union
  // ------------------------------------------------------------------

  /** (next table state, failed rows) of a write to an existing table. */
  private def earlierWrite(batch: DataFrame, cur: DataFrame, op: Op,
                           keyFields: Seq[String]): (DataFrame, DataFrame) = {
    val keyCols = keyFields.map(col)
    val nullKey = keyFields.map(col(_).isNull).reduce(_ || _)
    val bad = batch.filter(nullKey)
    val good = batch.filter(!nullKey).dropDuplicates(keyFields)
    def alignSchema(b: DataFrame): DataFrame = {
      val batchCols = b.columns.toSet
      b.select(cur.schema.fields.toIndexedSeq.map { f =>
        if (batchCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    def align(b: DataFrame, merge: Boolean): DataFrame = {
      val batchCols = b.columns.toSet
      if (!merge) alignSchema(b)
      else b.as("b").join(cur.as("c"), keyFields, "left_outer")
        .select(cur.schema.fields.toIndexedSeq.map { f =>
          if (keyFields.contains(f.name)) col(f.name)
          else if (batchCols.contains(f.name)) col(s"b.${f.name}").cast(f.dataType).as(f.name)
          else col(s"c.${f.name}").as(f.name)
        }: _*)
    }
    def kept(b: DataFrame) = cur.join(b.select(keyCols: _*), keyFields, "left_anti")
    val semi = good.join(cur.select(keyCols: _*), keyFields, "left_semi")
    val anti = good.join(cur.select(keyCols: _*), keyFields, "left_anti")
    op match {
      case Insert =>
        (cur.unionByName(alignSchema(anti), allowMissingColumns = true),
          bad.unionByName(semi, allowMissingColumns = true))
      case Update =>
        (kept(semi).unionByName(align(semi, merge = true)),
          bad.unionByName(anti, allowMissingColumns = true))
      case _ =>
        (kept(good).unionByName(align(good, op == InsertOrUpdate)), bad)
    }
  }

  /** A table unique on (k1, k2) and a batch against it: NULL values on
    * purpose, matched, new and NULL keys, exact duplicate rows, an `extra`
    * column the table lacks, `v` as INT (cast to BIGINT), on some seeds a
    * table `k1` narrower (INT) than the batch's, and a random subset of
    * the table's other value columns. */
  private def draw(r: scala.util.Random): (DataFrame, DataFrame) = {
    def maybe[T](x: T): Any = if (r.nextInt(5) == 0) null else x
    val k1Int = r.nextBoolean()
    val curSchema = StructType(Seq(
      StructField("k1", if (k1Int) IntegerType else LongType), StructField("k2", StringType),
      StructField("name", StringType), StructField("v", LongType),
      StructField("d", DoubleType)))
    val keys = (0 until 40).map(i => (i.toLong / 4, s"k${i % 4}"))
    val curRows = keys.filter(_ => r.nextInt(3) > 0).map { case (a, b) =>
      Row(if (k1Int) (a.toInt: Any) else a, b,
        maybe(s"n${r.nextInt(9)}"), maybe(r.nextLong() % 1000), maybe(r.nextDouble()))
    }
    val valueCols = "v" +: Seq("name", "d").filter(_ => r.nextBoolean())
    val batchSchema = StructType(Seq(StructField("k1", LongType), StructField("k2", StringType)) ++
      valueCols.map {
        case "name" => StructField("name", StringType)
        case "v" => StructField("v", IntegerType)
        case _ => StructField("d", DoubleType)
      } :+ StructField("extra", StringType))
    // 15-24 of the 40 keys, so some match the table and some are new
    val batchRows = r.shuffle(keys).take(15 + r.nextInt(10)).flatMap { case (a, b) =>
      val k1 = if (r.nextInt(8) == 0) null else a
      val k2 = if (r.nextInt(10) == 0) null else b
      val row = Row.fromSeq(Seq(k1, k2) ++ valueCols.map {
        case "name" => maybe(s"m${r.nextInt(9)}")
        case "v" => maybe(r.nextInt(500))
        case _ => maybe(r.nextDouble())
      } :+ s"x${r.nextInt(9)}")
      if (r.nextInt(6) == 0) Seq(row, row) else Seq(row)
    }
    def df(rows: Seq[Row], s: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), s)
    (df(curRows, curSchema), df(batchRows, batchSchema))
  }

  test("REPLACE, INSERT_OR_UPDATE, INSERT and UPDATE match the earlier writer (6 seeds)") {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted
    for (seed <- 1L to 6L; op <- Seq(Replace, InsertOrUpdate, Insert, Update)) {
      val dir = tmpDir("upsert_diff")
      val (cur0, batch) = draw(new scala.util.Random(seed))
      cur0.write.parquet(table(dir))
      val cur = spark.read.parquet(table(dir))
      val (wantNext, wantFailed) = earlierWrite(batch, cur, op, Seq("k1", "k2"))
      val (want, wantF) = (rows(wantNext), rows(wantFailed)) // read before the swap
      val wantSchema = wantNext.schema.map(f => f.name -> f.dataType)
      val r = UpsertWriter.write(batch, table(dir), op, Seq("k1", "k2"))
      val now = spark.read.parquet(table(dir))
      assert(now.schema.map(f => f.name -> f.dataType) === wantSchema, s"seed $seed, $op")
      assert(rows(now) === want, s"seed $seed, $op")
      assert(rows(r.failed) === wantF, s"seed $seed, $op failed rows")
      assert(r.written === want.length)
    }
  }
}
