package graft

import graft.fuzz.Surface

/** Every differential fuzz surface on every `sbt test`: a few sets of
  * seed 12 each (set 0 runs the surface's deep checks), plus Spark
  * executability of 20 SqlFuzz shapes on the sf0.001 fixture. The full
  * sweeps stay in the `@graft.SlowFuzz` suites and `graft.Fuzz`. */
class FuzzSmokeSpec extends SparkSpec {

  for (s <- Surface.all) test(s"smoke: ${s.name} surface, seed 12") {
    val divergent = Fuzz.sweep(spark, s, Seq(12L), 1)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }

  test("smoke: 20 SqlFuzz shapes run on Spark over the sf0.001 fixture") {
    val failures = graft.sql.SqlFuzz.sparkFailures(spark, "/root/testdata/sf0.001", 12L, 20)
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
