package graft

import java.nio.file.{Files, Paths}

/** Differential-SQL fuzz harness (round-12 verdict item 5): runs the
  * seeded [[graft.sql.SqlFuzz]] query shapes on Spark over the fixture
  * tables and dumps the graft.Verify layout (outDir/<name>/ parquet +
  * outDir/oracle_sql.json where the "oracle" IS the same SQL text), so
  * `python3 tools/check.py <sfDir> <outDir>` hash-compares Spark against
  * DuckDB on identical statements.
  *
  * usage: graft.Fuzz <sfDir> <outDir> [seed] [n]
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Fuzz <sfDir> <outDir> [seed] [n]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 12L
    val n = if (args.length > 3) args(3).toInt else 200
    val spark = GraftSession.builder().config("spark.log.level", "WARN").getOrCreate()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      graft.catalog.TableCatalog.load(spark, sfDir, t).createOrReplaceTempView(t)
    new java.io.File(outDir).mkdirs()
    val qs = graft.sql.SqlFuzz.queries(seed, n)
    var failed = 0
    qs.foreach { case (name, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] $name failed on Spark: ${e.getMessage}\n$sql")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = qs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"""{"fuzz_queries":$n,"seed":$seed,"spark_failures":$failed}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
