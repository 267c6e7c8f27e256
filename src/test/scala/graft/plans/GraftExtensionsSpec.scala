package graft.plans

import graft.SparkSpec

/** Pins SQL-name resolution of the native functions. `graft.GraftSession`
  * sets `spark.sql.extensions=graft.plans.GraftExtensions`, so SQL text on
  * its sessions resolves every `graft_*` name with no per-session call. The
  * conf is static: it is read when the SparkContext starts, and every
  * session on that context (including `newSession()`) gets the names.
  * DataFrame code does not depend on this; it builds the expressions by
  * type through [[GraftFunctions]] (see `FreshSessionSpec`). */
class GraftExtensionsSpec extends SparkSpec {

  test("session built with GraftExtensions resolves all native functions") {
    assert(spark.conf.get("spark.sql.extensions") === classOf[GraftExtensions].getName)
    for (s <- Seq(spark, spark.newSession()); (id, _, _) <- GraftFunctions.all)
      assert(s.catalog.functionExists(id.funcName), id.funcName)
    val cos = spark.sql(
      "SELECT graft_cosine(array(1.0f, 2.0f), array(2.0f, 1.0f))")
      .head.getDouble(0)
    assert(math.abs(cos - 0.8) < 1e-9)
    val n = spark.sql(
      "SELECT graft_sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 9L))")
      .head.getLong(0)
    assert(n === 2L)
    val b = spark.sql(
      "SELECT graft_hyperplane_bucket(array(1.0f, -1.0f, 0.5f), 8)")
      .head.getLong(0)
    assert(b >= 0L && b < 256L)
  }
}
