package graft

import graft.fuzz.Surface
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** The one differential fuzz runner (`sbt "Test/runMain graft.Fuzz …"`,
  * or `tools/runmain.sh graft.Fuzz …` on compiled classes):
  *
  *  - `graft.Fuzz <surface> [n] [seed1,seed2,...]` sweeps one surface of
  *    [[graft.fuzz.Surface.all]] over `n` sets per seed (default: the
  *    surface's own n and seeds), prints each divergent set with its repro
  *    to stderr and one line `{"surface","sets","seeds","divergent_sets"}`
  *    to stdout.
  *  - `graft.Fuzz sql <sfDir> <outDir> [seed] [n]` runs the seeded
  *    [[graft.sql.SqlFuzz]] shapes on Spark over the fixture tables and
  *    writes the [[Verify.write]] layout, whose oracle is the same SQL.
  *  - `graft.Fuzz nested <sfDir> <outDir> [seed] [n] [rows]` generates the
  *    nested fixture ([[graft.generate.NestedGen]]; rows 50 is the tiny
  *    twin where most group keys collapse, 4000 the default density) under
  *    `<outDir>/_tables/nested`, runs the [[graft.sql.NestedFuzz]] Spark
  *    shapes over it and the flat tables, and writes their DuckDB twins as
  *    the oracle.
  *
  * `python3 tools/check.py <sfDir> <outDir>` then hash-compares the sql
  * and nested dumps against DuckDB (it registers every `_tables/`
  * subdirectory as an extra view). Exits 1 on any divergent set or Spark
  * failure. */
object Fuzz {

  /** Every set of `s` drawn from `seeds` × `n`, one entry per divergent
    * set: its divergences and its repro. */
  def sweep(spark: SparkSession, s: Surface, seeds: Seq[Long], n: Int): Seq[String] =
    seeds.flatMap { seed =>
      val r = new Random(seed)
      (0 until n).flatMap { i =>
        val in = s.draw(r, seed, i)
        val errs = s.check(spark, in, i, r)
        val out =
          if (errs.isEmpty) None
          else Some((errs :+ s"repro ${s.repro(spark, in, i)}")
            .mkString(s"[${s.name} seed=$seed set=$i] ", "\n  ", ""))
        spark.catalog.clearCache()
        out
      }
    }

  def main(args: Array[String]): Unit = {
    val failed = args.toSeq match {
      case Seq("sql", sfDir, outDir, rest @ _*) => sql(sfDir, outDir, rest)
      case Seq("nested", sfDir, outDir, rest @ _*) => nested(sfDir, outDir, rest)
      case Seq(name, rest @ _*) if Surface.all.exists(_.name == name) =>
        model(Surface.all.find(_.name == name).get, rest)
      case _ =>
        System.err.println("usage: graft.Fuzz <surface> [n] [seed1,seed2,...]\n" +
          "       graft.Fuzz sql <sfDir> <outDir> [seed] [n]\n" +
          "       graft.Fuzz nested <sfDir> <outDir> [seed] [n] [rows]\n" +
          "surfaces: " + Surface.all.map(_.name).mkString(", "))
        sys.exit(2)
    }
    if (failed > 0) sys.exit(1)
  }

  private def model(s: Surface, args: Seq[String]): Int = {
    val n = args.headOption.fold(s.sets)(_.toInt)
    val seeds = args.lift(1).fold(s.seeds)(_.split(",").map(_.toLong).toSeq)
    val spark = GraftSession.builder().getOrCreate()
    val divergent = sweep(spark, s, seeds, n)
    divergent.foreach(System.err.println)
    println(s"""{"surface":"${s.name}","sets":${seeds.size * n},""" +
      s""""seeds":${seeds.size},"divergent_sets":${divergent.size}}""")
    spark.stop()
    divergent.size
  }

  private def sql(sfDir: String, outDir: String, args: Seq[String]): Int = {
    val seed = args.headOption.fold(12L)(_.toLong)
    val n = args.lift(1).fold(200)(_.toInt)
    val spark = GraftSession.builder().config("spark.log.level", "WARN").getOrCreate()
    graft.catalog.TableCatalog.register(spark, sfDir)
    val qs = graft.sql.SqlFuzz.queries(seed, n)
    val failed = Verify.write(spark, outDir,
      qs.map { case (name, q) => name -> (() => spark.sql(q)) }, qs) { (name, e) =>
      val q = qs.find(_._1 == name).get._2
      System.err.println(s"[fuzz] $name failed on Spark: ${e.getMessage}\n$q")
    }
    println(s"""{"fuzz_queries":$n,"seed":$seed,"spark_failures":$failed}""")
    spark.stop()
    failed
  }

  private def nested(sfDir: String, outDir: String, args: Seq[String]): Int = {
    val seed = args.headOption.fold(12L)(_.toLong)
    val n = args.lift(1).fold(240)(_.toInt)
    val rows = args.lift(2).fold(4000L)(_.toLong)
    val spark = GraftSession.builder().config("spark.log.level", "WARN").getOrCreate()
    graft.catalog.TableCatalog.register(spark, sfDir)
    val nestedPath = s"$outDir/_tables/nested"
    graft.generate.NestedGen.write(spark, rows, nestedPath)
    spark.read.parquet(nestedPath).createOrReplaceTempView("nested")
    val qs = graft.sql.NestedFuzz.queries(seed, n)
    val failed = Verify.write(spark, outDir,
      qs.map { case (name, q, _) => name -> (() => spark.sql(q)) },
      qs.map { case (name, _, duck) => name -> duck }) { (name, e) =>
      val q = qs.find(_._1 == name).get._2
      System.err.println(s"[nfuzz] $name failed on Spark: ${e.getMessage}\n$q")
    }
    println(s"""{"nfuzz_queries":$n,"seed":$seed,"rows":$rows,"spark_failures":$failed}""")
    spark.stop()
    failed
  }
}
