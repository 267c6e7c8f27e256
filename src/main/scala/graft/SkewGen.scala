package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skewed-fixture generator (round-12 verdict item 7): derives a twin of
  * a fixture with a planted power-law hot key in each join-heavy gate's
  * blocking domain, so the skew-robustness of those plans is MEASURED,
  * not assumed (uniform TPC-H-ish fixtures never trip a skew path).
  *
  * Plants (hot fraction ~20%, deterministic by key mod — the oracle
  * never runs over this fixture; it is a bench/stress artifact only):
  *  - `lineitem.l_suppkey`: every 5th lineitem (by l_orderkey) rewires to
  *    the minimum supplier key — one supplier receives ~20% of the fact
  *    table (the q_salted_join / FK-join hot-key shape);
  *  - `customer.c_name`: every 5th customer collapses to one shared name
  *    — one fuzzy-blocking bucket (1-deletion variants, sorted-
  *    neighborhood run) holds ~20% of the ER input (d_er_pipeline);
  *  - `documents.text`: every 5th document gains a fixed 129-char
  *    boilerplate prefix — one hot shingle family through the MinHash /
  *    SimHash / AllPairs-prefix index paths (d_method_agreement,
  *    d_ngram_jaccard), the crawl-with-boilerplate shape.
  *  - everything else copies as-is.
  *
  * Usage: runMain graft.SkewGen <srcDir> <outDir>
  */
object SkewGen {

  val HotName = "HOTBLOCK SHARED SERVICES Corp"
  val HotPrefix: String =
    "breaking news alert subscribe to our newsletter for daily updates " +
      "terms of service privacy policy all rights reserved contact us "

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sfskew"
    val spark = GraftSession.builder().config("spark.sql.shuffle.partitions", "32").getOrCreate()
    run(spark, src, out)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, out: String): Unit = {
    def t(name: String): DataFrame =
      graft.catalog.TableCatalog.load(spark, src, name)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    val hotSupp = t("supplier").agg(min(col("s_suppkey"))).head().getLong(0)
    write(t("lineitem").withColumn("l_suppkey",
      when(col("l_orderkey") % 5 === 0, lit(hotSupp))
        .otherwise(col("l_suppkey"))), "lineitem")
    write(t("customer").withColumn("c_name",
      when(col("c_custkey") % 5 === 0, lit(HotName))
        .otherwise(col("c_name"))), "customer")
    write(t("documents").withColumn("text",
      when(col("doc_id") % 5 === 0, concat(lit(HotPrefix), col("text")))
        .otherwise(col("text"))), "documents")
    for (name <- Seq("region", "nation", "supplier", "part", "orders",
        "events", "embeddings"))
      write(t(name), name)
  }
}
