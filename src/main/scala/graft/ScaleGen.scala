package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the perf anchor: synthesizes an
  * sfN fixture as `factor` disjoint replicas of a source fixture, so the
  * 15-heaviest-query anchor (BASELINE.md) can measure sf0.1 → sf1
  * scaling on this container without driver-side sf1 testdata.
  *
  * Replica construction (replica 0 = the original bytes):
  *  - every primary/foreign key shifts by `k * KeyStride` (collision-free
  *    and referentially consistent: orders.o_custkey shifts with
  *    customer.c_custkey, lineitem.l_orderkey with orders, events.user_id
  *    with itself);
  *  - `documents.text` is content-perturbed per replica (each 'e' →
  *    "e<k>") so cross-replica near-dup similarity vanishes — dup/pair
  *    structure then scales LINEARLY (×factor) like a real corpus, not
  *    quadratically like naive row duplication would;
  *  - `embeddings.embedding` gets a small deterministic per-replica,
  *    per-dimension offset for the same reason (replicated identical
  *    vectors would manufacture ×factor² cosine-1 pairs);
  *  - dimension tables (region, nation) copy as-is.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> [factor]
  * The output is an ANCHOR fixture (performance only) — correctness
  * stays gated on the driver's sf0.01/sf0.1 oracles. */
object ScaleGen {
  /** Larger than any key in the source fixtures at sf<=1. */
  val KeyStride = 10_000_000_000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder().config("spark.sql.shuffle.partitions", "32").getOrCreate()
    run(spark, src, out, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def t(name: String): DataFrame =
      graft.catalog.TableCatalog.load(spark, src, name)

    // k == 0 returns the column unchanged (not `+ 0L`). Honest scope of
    // the guarantee: replica 0's VALUES are always identical either way;
    // for the TYPE, this branch only preserves an integer-typed key at
    // factor == 1 — at factor > 1 the k > 0 replicas are inherently
    // BIGINT (the shift exceeds Int range) and unionByName widens the
    // whole written column, replica 0 included. All current fixtures key
    // on BIGINT already, so in practice the branch avoids a pointless
    // `+ 0L` cast node and nothing more.
    def shift(c: String, k: Int) =
      if (k == 0) col(c).as(c) else (col(c) + lit(k * KeyStride)).as(c)

    def replicate(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = t(name)
      // chunked union+append: factor 1000 (the sf100 anchor) as ONE
      // union would build a 1000-branch plan — minutes of analysis and
      // a driver-memory spike for zero benefit. 25-replica chunks keep
      // every plan small; values are identical, only file layout differs
      // (which read-side maxPartitionBytes re-splits anyway).
      (0 until factor).grouped(25).zipWithIndex.foreach { case (ks, gi) =>
        val scaled = ks.map(k => f(base, k)).reduce(_ unionByName _)
        val mode = if (gi == 0) "overwrite" else "append"
        scaled.repartition(32).write.mode(mode).parquet(s"$out/$name.parquet")
      }
      println(s"SCALEGEN $name -> ${factor}x")
    }
    // dimension tables keep their cardinality (one copy, not factor)
    def copyDim(name: String): Unit = {
      t(name).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"SCALEGEN $name -> 1x (dimension)")
    }

    copyDim("region")
    copyDim("nation")
    replicate("customer", (d, k) => d.withColumn("c_custkey", shift("c_custkey", k)))
    replicate("supplier", (d, k) => d.withColumn("s_suppkey", shift("s_suppkey", k)))
    replicate("part", (d, k) => d.withColumn("p_partkey", shift("p_partkey", k)))
    replicate("orders", (d, k) => d
      .withColumn("o_orderkey", shift("o_orderkey", k))
      .withColumn("o_custkey", shift("o_custkey", k)))
    replicate("lineitem", (d, k) => d
      .withColumn("l_orderkey", shift("l_orderkey", k))
      .withColumn("l_partkey", shift("l_partkey", k))
      .withColumn("l_suppkey", shift("l_suppkey", k)))
    replicate("events", (d, k) => d
      .withColumn("event_id", shift("event_id", k))
      .withColumn("user_id", shift("user_id", k)))
    replicate("documents", (d, k) => d
      .withColumn("doc_id", shift("doc_id", k))
      // vowel substitution perturbs content THROUGHOUT the text (so
      // cross-replica near-dup similarity vanishes, not just exact
      // equality); the appended replica token guarantees perturbation
      // even for vowel-less/empty/null texts, which the substitution
      // alone would leave byte-identical across replicas
      .withColumn("text",
        if (k == 0) col("text")
        else concat(
          regexp_replace(coalesce(col("text"), lit("")), "[aeiou]", s"$$0$k"),
          lit(s" zrep$k"))))
    replicate("embeddings", (d, k) => d
      .withColumn("vec_id", shift("vec_id", k))
      .withColumn("embedding",
        if (k == 0) col("embedding")
        else transform(col("embedding"),
          (x, i) => (x + (pmod(lit(k) * (i + 1), lit(7)) - lit(3)).cast("float")
            * lit(0.01f)).cast("float"))))
  }
}
