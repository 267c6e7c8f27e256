package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Null-planting fixture generator for the differential SQL fuzzer:
  * derives a twin of a fixture where ~1/7 of every NON-KEY column's
  * values are NULL (deterministic by primary key mod, so both engines
  * read identical bytes). The shipped fixtures are null-free, which
  * means the Spark-vs-DuckDB fuzz sweep could never catch a
  * null-semantics divergence — historically the classic cross-engine
  * trap (null ordering, null group keys, aggregate null-skipping,
  * three-valued predicate logic). Primary/foreign keys stay intact so
  * join templates keep their FK guarantees.
  *
  * Usage: runMain graft.NullGen <srcDir> <outDir>
  */
object NullGen {

  /** (table, key column driving the deterministic plant, columns to
    * leave intact — keys and join columns). */
  private val keep: Map[String, (String, Set[String])] = Map(
    "region" -> ("r_regionkey", Set("r_regionkey")),
    "nation" -> ("n_nationkey", Set("n_nationkey", "n_regionkey")),
    "customer" -> ("c_custkey", Set("c_custkey", "c_nationkey")),
    "supplier" -> ("s_suppkey", Set("s_suppkey", "s_nationkey")),
    "part" -> ("p_partkey", Set("p_partkey")),
    "orders" -> ("o_orderkey", Set("o_orderkey", "o_custkey")),
    "lineitem" -> ("l_orderkey",
      Set("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),
    "events" -> ("event_id", Set("event_id", "user_id", "ts")),
    "documents" -> ("doc_id", Set("doc_id")),
    "embeddings" -> ("vec_id", Set("vec_id", "embedding", "label")))

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/sfnulls"
    val spark = GraftSession.builder().config("spark.sql.shuffle.partitions", "32").getOrCreate()
    run(spark, src, out)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String): Unit = {
    for ((name, (key, intact)) <- keep) {
      val t = graft.catalog.TableCatalog.load(spark, src, name)
      // hash of (key, column NAME) decides the plant: any affine scheme
      // mod 7 (the r12 offset plant, or a stride variant) reduces each
      // column's null set to ONE residue class of key mod 7, so with 7+
      // planted columns two of them null the SAME rows by pigeonhole
      // (ADVICE r12). crc32 mixing makes the sets pseudo-random ~1/7
      // subsets — pairwise intersections ~1/49, identical sets
      // impossible in practice — while staying deterministic: the twin
      // is WRITTEN once, both engines then read identical bytes.
      val planted = t.columns.foldLeft(t) {
        case (df, c) if !intact.contains(c) =>
          df.withColumn(c,
            when(pmod(crc32(concat_ws("_", col(key).cast("string"), lit(c))),
              lit(7)) === 3, lit(null)).otherwise(col(c)))
        case (df, _) => df
      }
      // single plain FILE per table (the driver-fixture layout): DuckDB's
      // read_parquet in tools/check.py opens '<name>.parquet' directly
      def rm(f: java.io.File): Unit = if (f.exists) {
        val kids = f.listFiles
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      val tmp = s"$out/_tmp_$name"
      planted.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val dest = new java.io.File(s"$out/$name.parquet")
      rm(dest) // a prior run (or layout) may have left a DIRECTORY here
      java.nio.file.Files.move(part.toPath, dest.toPath)
      rm(new java.io.File(tmp))
    }
  }
}
