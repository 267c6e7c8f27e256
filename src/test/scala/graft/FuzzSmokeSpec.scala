package graft

import graft.fuzz.Surface

/** Every differential fuzz surface on every `sbt test`: a few sets of
  * seed 12 each (set 0 runs the surface's deep checks), plus Spark
  * executability of 20 SqlFuzz shapes on the sf0.001 fixture and of 10
  * NestedFuzz shapes on a generated nested fixture. The full sweeps stay
  * in the `@graft.SlowFuzz` suites and `graft.Fuzz`. */
class FuzzSmokeSpec extends SparkSpec {

  for (s <- Surface.all) test(s"smoke: ${s.name} surface, seed 12") {
    val divergent = Fuzz.sweep(spark, s, Seq(12L), 1)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }

  test("smoke: 20 SqlFuzz shapes run on Spark over the sf0.001 fixture") {
    val failures = graft.sql.SqlFuzz.sparkFailures(spark, "/root/testdata/sf0.001", 12L, 20)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("smoke: 10 NestedFuzz shapes run on Spark over a generated nested fixture") {
    val dir = tmpDir("nfuzz_smoke")
    graft.generate.NestedGen.write(spark, 100L, s"$dir/nested")
    spark.read.parquet(s"$dir/nested").createOrReplaceTempView("nested")
    // the one flat table a family joins to: 25 nations, as in the fixture
    spark.range(25).selectExpr("id AS n_nationkey", "concat('N', id) AS n_name")
      .createOrReplaceTempView("nation")
    for ((name, sparkSql, _) <- graft.sql.NestedFuzz.queries(12L, 10))
      assert(spark.sql(sparkSql).collect() != null, s"$name returned null")
  }
}
