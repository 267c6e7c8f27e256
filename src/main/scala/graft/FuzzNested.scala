package graft

import java.nio.file.{Files, Paths}

/** Nested/collection-type differential fuzz harness (round-13 verdict
  * item 1): generates the deterministic nested fixture
  * ([[graft.generate.NestedGen]]) under `<outDir>/_tables/nested`, runs
  * the seeded [[graft.sql.NestedFuzz]] SPARK-dialect shapes over it (plus
  * the flat fixture tables), and dumps the graft.Verify layout where the
  * oracle_sql.json entries are the bridged DUCKDB-dialect twins of the
  * same shapes. `python3 tools/check.py <sfDir> <outDir>` registers
  * every `_tables/` subdirectory as an extra view and hash-compares the
  * engines row-for-row.
  *
  * usage: graft.FuzzNested <sfDir> <outDir> [seed] [n] [rows]
  *   rows: nested-fixture row count (50 = tiny/degenerate twin where
  *         most group keys collapse; 4000 = the default density)
  */
object FuzzNested {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.FuzzNested <sfDir> <outDir> [seed] [n] [rows]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 12L
    val n = if (args.length > 3) args(3).toInt else 240
    val rows = if (args.length > 4) args(4).toLong else 4000L
    val spark = GraftSession.builder().config("spark.log.level", "WARN").getOrCreate()
    graft.catalog.TableCatalog.register(spark, sfDir)
    val nestedPath = s"$outDir/_tables/nested"
    graft.generate.NestedGen.write(spark, rows, nestedPath)
    spark.read.parquet(nestedPath).createOrReplaceTempView("nested")
    new java.io.File(outDir).mkdirs()
    val qs = graft.sql.NestedFuzz.queries(seed, n)
    var failed = 0
    qs.foreach { case (name, sparkSql, _) =>
      try spark.sql(sparkSql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[nfuzz] $name failed on Spark: ${e.getMessage}\n$sparkSql")
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
    val json = qs.map { case (k, _, duck) => s"${q(k)}: ${q(duck)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"""{"nfuzz_queries":$n,"seed":$seed,"rows":$rows,"spark_failures":$failed}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
