package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    // extra args (local iteration only; the driver passes exactly two)
    // restrict the run to the named queries
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(kv => only.contains(kv._1))
    val spark = GraftSession.builder().config("spark.log.level", "WARN").getOrCreate()
    write(spark, outDir,
      selected.toSeq.map { case (name, fn) => name -> (() => fn(spark, sfDir)) },
      SparkEntry.oracleSql.filter(kv => only.isEmpty || only.contains(kv._1)).toSeq) {
      (name, e) => System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }
    spark.stop()
  }

  /** Writes the layout `tools/check.py` compares: each frame coalesced to
    * one parquet file under `outDir/<name>`, and `outDir/oracle_sql.json`
    * mapping each name to the SQL DuckDB runs for it. A frame that fails
    * on Spark goes to `failed` and the rest still run; returns how many
    * failed. */
  def write(spark: SparkSession, outDir: String,
            frames: Seq[(String, () => DataFrame)], oracle: Seq[(String, String)])(
      failed: (String, Throwable) => Unit): Int = {
    new java.io.File(outDir).mkdirs()
    val failures = frames.count { case (name, frame) =>
      val ok =
        try { frame().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); true }
        catch { case e: Throwable => failed(name, e); false }
      spark.catalog.clearCache()
      !ok
    }
    val json = oracle.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failures
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
