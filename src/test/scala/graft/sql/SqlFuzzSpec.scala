package graft.sql

import graft.SparkSpec

/** The differential-SQL fuzz generator's contract (verdict r11 item 5):
  * seeded determinism (the same seed must regenerate char-identical SQL,
  * or the committed FUZZ evidence is unreproducible), template coverage,
  * and Spark executability of every generated shape on the real
  * sf0.001 fixture. The cross-engine half of the differential runs via
  * `graft.Fuzz sql` + `tools/check.py` (DuckDB is driver-side tooling, not a
  * JVM dependency); its zero-divergence record is committed per round
  * (BUILDLOG + FUZZ_r<N>.json). */
@graft.SlowFuzz
class SqlFuzzSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("same seed regenerates char-identical SQL; different seeds differ") {
    val a = SqlFuzz.queries(12L, 200)
    val b = SqlFuzz.queries(12L, 200)
    assert(a === b)
    assert(a.map(_._1).distinct.size === 200)
    val c = SqlFuzz.queries(13L, 200)
    assert(a.map(_._2) !== c.map(_._2))
  }

  test("the generator exercises every template family across 200 shapes") {
    val sqls = SqlFuzz.queries(12L, 200).map(_._2)
    assert(sqls.exists(_.contains("GROUP BY ROLLUP")), "rollup missing")
    assert(sqls.exists(_.contains("row_number() OVER")), "window missing")
    assert(sqls.exists(s => s.contains("INTERSECT") || s.contains("EXCEPT")),
      "set ops missing")
    assert(sqls.exists(_.contains("EXISTS")), "exists missing")
    assert(sqls.exists(_.contains("HAVING")), "having missing")
    assert(sqls.exists(_.contains("LIMIT")), "order-limit missing")
    assert(sqls.exists(_.contains("CASE WHEN")), "scalar case missing")
    assert(sqls.exists(_.contains("LEFT JOIN")), "outer join missing")
    assert(sqls.exists(_.contains("n_child")), "correlated scalar subquery missing")
    val chainRe = raw"FROM \w+ JOIN \w+ ON [^\n]+ JOIN \w+ ON ".r
    assert(sqls.exists(s => chainRe.findFirstIn(s).isDefined),
      "three-table chain missing")
    assert(sqls.exists(_.contains("FILTER (WHERE")), "filter-clause agg missing")
    assert(sqls.exists(_.contains("IN\n")), "IN subquery missing")
    assert(sqls.exists(_.contains("GROUPING SETS")), "grouping sets missing")
    assert(sqls.exists(_.contains("upper(")), "string scalars missing")
    assert(sqls.exists(_.contains("coalesce(")), "coalesce/nullif missing")
    assert(sqls.exists(_.contains("LIKE '")), "like predicate missing")
    assert(sqls.exists(_.contains("WITH agg AS")), "cte missing")
    assert(sqls.exists(_.contains("ROWS BETWEEN")), "rows-frame window missing")
    assert(sqls.exists(_.contains("greatest(")), "integer arithmetic missing")
    // round-13 families: temporal + division + DISTINCT aggs + FULL OUTER
    assert(sqls.exists(_.contains("date_trunc(")), "date_trunc grain family missing")
    assert(sqls.exists(_.contains("EXTRACT(")), "extract family missing")
    assert(sqls.exists(s => s.contains("INTERVAL") && s.contains("fwd_d")),
      "interval arithmetic family missing")
    assert(sqls.exists(s => s.contains("ts >= DATE '") || s.contains("ts >= TIMESTAMP '")),
      "cross-grain comparison family missing")
    assert(sqls.exists(_.contains("ratio_int")), "guarded row division family missing")
    assert(sqls.exists(_.contains("avg_micro")), "aggregate-ratio family missing")
    assert(sqls.exists(_.contains("nd_pair")), "distinct-aggregate family missing")
    assert(sqls.exists(_.contains("FULL JOIN")), "full outer join family missing")
    assert(sqls.exists(_.contains("IS NOT DISTINCT FROM")),
      "null-safe comparison family missing")
    // the division surface must stay guarded: Spark runs ANSI mode where a
    // raw x/0 is a runtime error while DuckDB yields NULL — every '/' the
    // generator emits must divide by a nullif() (the portable ÷0→NULL pin)
    for (s <- sqls; i <- 0 until s.length if s.charAt(i) == '/')
      assert(s.startsWith("/ nullif(", i),
        s"unguarded division at offset $i in:\n$s")
  }

  test("every generated shape runs on Spark over the sf0.001 fixture") {
    val failures = SqlFuzz.sparkFailures(spark, dir, 12L, 200)
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
