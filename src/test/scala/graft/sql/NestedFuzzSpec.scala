package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The nested/collection-type fuzz generator's contract (round-13
  * verdict item 1): seeded determinism of BOTH dialect renderings,
  * family coverage across 240 shapes, the dialect-bridge invariants the
  * header pins (null-guarded fingerprints, guarded split_part, no bare
  * list_distinct), and Spark executability of every generated shape
  * over the generated nested fixture. The cross-engine half runs via
  * `graft.Fuzz nested` + `tools/check.py`; its zero-divergence record is
  * committed per round (BUILDLOG + FUZZ_r<N>.json). */
@graft.SlowFuzz
class NestedFuzzSpec extends SparkSpec {

  test("same seed regenerates char-identical dialect PAIRS; seeds differ") {
    val a = NestedFuzz.queries(12L, 240)
    val b = NestedFuzz.queries(12L, 240)
    assert(a === b)
    assert(a.map(_._1).distinct.size === 240)
    assert(a.map(_._2) !== NestedFuzz.queries(13L, 240).map(_._2))
  }

  test("the generator exercises every nested family across 240 shapes") {
    val qs = NestedFuzz.queries(12L, 240)
    val sparks = qs.map(_._2)
    val ducks = qs.map(_._3)
    assert(sparks.exists(_.contains("explode(")), "explode family missing")
    assert(ducks.exists(_.contains("unnest(")), "unnest twin missing")
    assert(sparks.exists(_.contains("size(")) && ducks.exists(_.contains("len(")),
      "size/len family missing")
    assert(sparks.exists(_.contains("array_contains(")), "contains family missing")
    assert(sparks.exists(_.contains("array_join(array_sort(")),
      "fingerprint family missing")
    assert(sparks.exists(_.contains("array_distinct(")) &&
      ducks.exists(_.contains("list_distinct(")), "distinct family missing")
    assert(sparks.exists(_.contains("aggregate(")) &&
      ducks.exists(_.contains("list_sum(")), "HOF-sum family missing")
    assert(sparks.exists(_.contains("transform(")) &&
      ducks.exists(_.contains("list_transform(")), "transform family missing")
    assert(sparks.exists(_.contains("st.inr.c")), "nested struct access missing")
    assert(sparks.exists(_.contains("named_struct(")) &&
      ducks.exists(_.contains("{'c':")), "struct literal family missing")
    assert(sparks.exists(_.contains("map_keys(")), "map keys family missing")
    assert(sparks.exists(_.contains("try_element_at(")) &&
      ducks.exists(_.contains("element_at(")), "map lookup family missing")
    assert(sparks.exists(_.contains("map_values(")), "map values family missing")
    assert(sparks.exists(_.contains("JOIN nation")), "explode-join family missing")
    assert(sparks.exists(_.contains("flatten(")), "flatten family missing")
    assert(sparks.exists(_.contains("slice(")) &&
      ducks.exists(_.contains("list_slice(")), "slice family missing")
    assert(sparks.exists(_.contains("split_part(")), "string family missing")
    assert(sparks.exists(_.contains("levenshtein(")), "levenshtein missing")
    assert(sparks.exists(_.contains(", LATERAL (")), "ANSI LATERAL family missing")
    assert(sparks.exists(_.contains("map_entries(")), "map_entries explode family missing")
    assert(sparks.exists(_.contains("posexplode(")) &&
      ducks.exists(_.contains("generate_subscripts(")),
      "positional explode family missing")
    assert(sparks.exists(_.contains("map_filter(")) &&
      ducks.exists(_.contains("list_filter(map_entries(")),
      "map_filter family missing")
    assert(sparks.exists(_.contains("transform_keys(")) &&
      sparks.exists(_.contains("transform_values(")),
      "transform_keys/values family missing")
    assert(sparks.exists(_.contains("named_struct('v'")) &&
      ducks.exists(_.contains("{'v':")),
      "arrays-of-structs explode family missing")
    assert(sparks.exists(_.contains("named_struct('w', named_struct('w', ")),
      "depth-parameterized struct nesting missing")
    assert(sparks.exists(_.contains("flatten(flatten(")),
      "depth-parameterized array nesting missing")

    // dialect-bridge invariants (the pins this fuzzer's first sweep found)
    for (d <- ducks) {
      // DuckDB a2s([]) = NULL: every array_to_string must sit under the
      // null-disambiguating CASE+coalesce bridge
      var i = d.indexOf("array_to_string(")
      while (i >= 0) {
        assert(d.lastIndexOf("coalesce(", i) >= 0,
          s"unguarded array_to_string (empty-array pin) in:\n$d")
        i = d.indexOf("array_to_string(", i + 1)
      }
      // DuckDB split_part(NULL) = '': must be null-guarded
      if (d.contains("split_part("))
        assert(d.contains("CASE WHEN s IS NULL THEN NULL"),
          s"unguarded split_part (null pin) in:\n$d")
      // list_distinct is unordered + null-dropping: only under sort+filter
      if (d.contains("list_distinct("))
        assert(d.contains("array_sort(list_distinct(filter("),
          s"bare list_distinct in:\n$d")
    }
    // Spark-side 3VL guards
    for (s <- sparks) {
      if (s.contains("array_contains("))
        assert(s.contains("coalesce(array_contains("),
          s"unguarded array_contains (3VL pin) in:\n$s")
      if (s.contains("flatten("))
        assert(s.contains("flatten(filter(") || s.contains("flatten(array(") ||
          s.contains("flatten(flatten("),
          s"unfiltered flatten (null-inner pin) in:\n$s")
    }
  }

  test("every Spark-dialect shape executes on the generated nested fixture") {
    val dir = tmpDir("nfuzz_exec")
    graft.generate.NestedGen.write(spark, 300L, s"$dir/nested")
    spark.read.parquet(s"$dir/nested").createOrReplaceTempView("nested")
    graft.catalog.TableCatalog.load(spark, "/root/testdata/sf0.001", "nation")
      .createOrReplaceTempView("nation")
    // one shape per (seed-12) family draw over 40 shapes: cheap but
    // covers all 13 templates with high probability
    for ((name, sparkSql, _) <- NestedFuzz.queries(12L, 40)) {
      val rows = spark.sql(sparkSql).collect()
      assert(rows != null, s"$name returned null")
    }
  }

  test("the nested fixture plants every null layer the families exercise") {
    val df = graft.generate.NestedGen.frame(spark, 1500L).cache()
    try {
      def n(c: String) = df.filter(expr(c)).count()
      assert(n("arr_i IS NULL") > 0, "null arrays missing")
      assert(n("arr_i IS NOT NULL AND size(arr_i) = 0") > 0, "empty arrays missing")
      assert(n("exists(arr_i, x -> x IS NULL)") > 0, "null array elements missing")
      assert(n("st IS NULL") > 0, "null structs missing")
      assert(n("st IS NOT NULL AND st.b IS NULL") > 0, "null struct fields missing")
      assert(n("st IS NOT NULL AND st.inr IS NULL") > 0, "null nested structs missing")
      assert(n("m IS NULL") > 0, "null maps missing")
      assert(n("m IS NOT NULL AND exists(map_values(m), v -> v IS NULL)") > 0,
        "null map values missing")
      assert(n("m IS NOT NULL AND cardinality(m) = 0") > 0, "empty maps missing")
      assert(n("s IS NULL") > 0, "null strings missing")
      assert(n("s = ''") > 0, "empty strings missing")
      assert(n("aa IS NOT NULL AND exists(aa, x -> x IS NULL)") > 0,
        "null inner arrays missing")
    } finally df.unpersist()
  }
}
