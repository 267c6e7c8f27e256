package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.sql.SqlRunner

/** The relational surface the reference delegates to Spanner/BigQuery SQL
  * (SURVEY §2.4) — here executed natively by Catalyst. Each entry pairs a
  * DataFrame-API implementation with a DuckDB oracle in one [[QuerySpec]].
  *
  * Numeric policy for oracle parity: aggregate over exact decimals
  * (order-independent), then cast the final value to double — both engines
  * round the same decimal to the same IEEE double. Integer sums are cast
  * to BIGINT on the DuckDB side (it widens to HUGEINT by default).
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.load(s, dir, name)

  /** Peak concurrent sessions per day — a DISTRIBUTED sweep-line over
    * (user_id, session_start, session_end) rows. A single global
    * running-count sweep would serialize into one partition, so the
    * sweep is partitioned by day with a straddle-correction base
    * (sessions already open at each day's start), and each day's peak =
    * base + max intra-day running delta. +1 points order before -1 at
    * the same instant, so touching sessions count as concurrent and the
    * max is permutation-independent.
    *
    * The base is NOT an inequality join of days × sessions (which plans
    * as a BroadcastNestedLoopJoin — O(sessions × days) comparisons): a
    * session is open at day-start D iff it starts on a day < D and ends
    * on a day >= D (a timestamp >= midnight(D) iff its date >= D), so
    * Base(D) = Σ_{day < D} (starts(day) − ends(day)) — a per-day delta
    * aggregate (one row per active day) followed by an
    * exclusive-running-sum window over that tiny day frame. The spec
    * machine-checks the executed plan contains no nested-loop join. */
  def peakConcurrency(sessions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = sessions.select(col("user_id"), col("session_start"), col("session_end"))
    val pts = sess.select(explode(array(
        struct(col("session_start").as("ts"), lit(1L).as("delta")),
        struct(col("session_end").as("ts"), lit(-1L).as("delta")))).as("p"))
      .select(to_date(col("p.ts")).as("day"), col("p.ts").as("ts"),
        col("p.delta").as("delta"))
    // every session start/end day is a point day, so the day frame covers
    // all days whose prior deltas matter; the single-partition window is
    // over one row per day (~3.7k rows for ten years), not over sessions
    val wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    val base = pts.groupBy("day").agg(sum(col("delta")).as("net"))
      .withColumn("base", coalesce(sum(col("net")).over(wd), lit(0L)))
      .select("day", "base")
    val w = Window.partitionBy("day").orderBy(col("ts").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("run", sum(col("delta")).over(w))
      .groupBy("day").agg(max(col("run")).as("max_run"))
      .join(base, "day")
      // max_run can be NEGATIVE (a day whose only points are the ends
      // of straddling sessions); the day's peak then occurs AT day
      // start, before any point — hence the floor at 0
      .select(col("day"),
        (col("base") + greatest(col("max_run"), lit(0L))).as("peak"))
      .orderBy("day")
  }

  val specs: Seq[QuerySpec] = Seq(

    // S1/P14: --SPLITTER-- manual parallelism → unionByName.
    QuerySpec("s1_splitter_union", (s, dir) => {
      TableCatalog.register(s, dir)
      SqlRunner.run(s,
        """SELECT n_name, n_regionkey FROM nation WHERE n_regionkey <= 1
          | --SPLITTER--
          | SELECT n_name, n_regionkey FROM nation WHERE n_regionkey >= 3
          |""".stripMargin)
        .orderBy("n_name")
    },
      """SELECT n_name, n_regionkey FROM nation WHERE n_regionkey <= 1
        |UNION ALL
        |SELECT n_name, n_regionkey FROM nation WHERE n_regionkey >= 3
        |ORDER BY n_name""".stripMargin),

    // S4: arbitrary SQL pass-through with @param binding (GoogleSQL
    // `IN UNNEST(@tables)` shape, DummyToMutation.java:105-111).
    QuerySpec("s4_sql_param_bind", (s, dir) => {
      TableCatalog.register(s, dir)
      SqlRunner.run(s,
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders " +
          "WHERE o_orderstatus = @status GROUP BY o_orderpriority ORDER BY o_orderpriority",
        params = Map("status" -> "F"))
    },
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // LATERAL correlated subquery — the per-row top-n join shape SQL
    // surfaces directly (Spark 3.2+ lateral subqueries; DuckDB LATERAL):
    // for every region, its two alphabetically-first nations. Catalyst
    // decorrelates this into a ranked join — no per-row re-execution.
    QuerySpec("q_lateral_join", (s, dir) => {
      TableCatalog.register(s, dir)
      SqlRunner.run(s,
        """SELECT r.r_name, t.n_name
          |FROM region r, LATERAL (
          |  SELECT n_name FROM nation
          |  WHERE n_regionkey = r.r_regionkey
          |  ORDER BY n_name LIMIT 2) t
          |ORDER BY r_name, n_name""".stripMargin)
    },
      """SELECT r.r_name, t.n_name
        |FROM region r, LATERAL (
        |  SELECT n_name FROM nation
        |  WHERE n_regionkey = r.r_regionkey
        |  ORDER BY n_name LIMIT 2) t
        |ORDER BY r_name, n_name""".stripMargin),

    // P5/P6 under the gate: the warehouse schema type policy (every
    // scalar NULLABLE, arrays REPEATED, the BOOLEAN/INTEGER/FLOAT/STRING/
    // BYTES/DATE/TIMESTAMP map) derived from the RESOLVED Spark schemas —
    // the oracle re-derives the same rows INDEPENDENTLY from DuckDB's
    // information_schema over the same parquet, so the mapping is
    // cross-engine checked, not golden-pinned.
    QuerySpec("p5_schema_rows", (s, dir) => {
      import s.implicits._
      val tables = Seq("lineitem", "events", "documents", "embeddings")
      tables.flatMap { t =>
        TableCatalog.load(s, dir, t).schema.fields.zipWithIndex.map {
          case (f, i) =>
            val mode = f.dataType match {
              case _: org.apache.spark.sql.types.ArrayType => "REPEATED"
              case _ => "NULLABLE"
            }
            (t, (i + 1).toLong, f.name,
              graft.formats.WarehouseSchema.typeName(f.dataType), mode)
        }
      }.toDF("table_name", "ordinal", "field_name", "bq_type", "mode")
        .orderBy("table_name", "ordinal")
    },
      """SELECT table_name, CAST(ordinal_position AS BIGINT) AS ordinal,
        |  column_name AS field_name,
        |  CASE replace(data_type, '[]', '')
        |    WHEN 'BIGINT' THEN 'INTEGER' WHEN 'INTEGER' THEN 'INTEGER'
        |    WHEN 'SMALLINT' THEN 'INTEGER' WHEN 'TINYINT' THEN 'INTEGER'
        |    WHEN 'DOUBLE' THEN 'FLOAT' WHEN 'FLOAT' THEN 'FLOAT'
        |    WHEN 'VARCHAR' THEN 'STRING' WHEN 'TIMESTAMP' THEN 'TIMESTAMP'
        |    WHEN 'TIMESTAMP_NS' THEN 'TIMESTAMP'
        |    WHEN 'DATE' THEN 'DATE' WHEN 'BOOLEAN' THEN 'BOOLEAN'
        |    WHEN 'BLOB' THEN 'BYTES' END AS bq_type,
        |  CASE WHEN data_type LIKE '%[]' THEN 'REPEATED'
        |       ELSE 'NULLABLE' END AS mode
        |FROM information_schema.columns
        |WHERE table_name IN ('lineitem', 'events', 'documents', 'embeddings')
        |ORDER BY table_name, ordinal""".stripMargin),

    // S7: literal/config source (Create.ofProvider equivalent).
    QuerySpec("s7_literal_source", (s, _) => {
      import s.implicits._
      Seq(("config", 1L)).toDF("value", "id")
    },
      "SELECT 'config' AS value, CAST(1 AS BIGINT) AS id"),

    // Filter + projection — pushed to the parquet scan by Catalyst. The
    // literal is cast to the COLUMN's type (timestamp_ntz): a plain
    // to_timestamp literal would make Catalyst cast the column instead,
    // which blocks parquet predicate pushdown entirely (verified with
    // .explain: PushedFilters was empty before this cast).
    QuerySpec("q_filter_pushdown", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1995-06-01 00:00:00").cast("timestamp_ntz") &&
          col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    },
      "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00' AND l_quantity > 45 ORDER BY l_orderkey, l_linenumber"),

    // TPC-H Q1-shaped aggregation with map-side partial aggregation.
    QuerySpec("q_agg_pricing_summary", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          (sum(col("l_discount").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Multi-way join: dims broadcast, fact shuffles once on the join key.
    QuerySpec("q_join_revenue_by_nation", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Left outer join keeping customers with zero orders.
    QuerySpec("q_left_outer_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // Full outer join over two partially-overlapping key sets (big
    // spenders vs the AUTOMOBILE segment) — rows surviving from either
    // side with nulls on the other.
    QuerySpec("q_full_outer_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val big = c.filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("b_custkey"), col("c_acctbal"))
      val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("a_custkey"), col("c_mktsegment"))
      big.join(auto, col("b_custkey") === col("a_custkey"), "full_outer")
        .select(coalesce(col("b_custkey"), col("a_custkey")).as("custkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .orderBy("custkey")
    },
      """SELECT coalesce(b.c_custkey, a.c_custkey) AS custkey,
        |  b.c_acctbal, a.c_mktsegment
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) b
        |FULL JOIN (SELECT c_custkey, c_mktsegment FROM customer
        |           WHERE c_mktsegment = 'AUTOMOBILE') a
        |  ON b.c_custkey = a.c_custkey
        |ORDER BY custkey""".stripMargin),

    // Anti join: customers with no orders (NOT EXISTS).
    QuerySpec("q_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // Semi join: suppliers that shipped at least one item (EXISTS).
    QuerySpec("q_semi_join", (s, dir) => {
      val sup = t(s, dir, "supplier")
      val li = t(s, dir, "lineitem")
      sup.join(li, sup("s_suppkey") === li("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },
      """SELECT s_suppkey, s_name FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
        |ORDER BY s_suppkey""".stripMargin),

    // Window function: top-3 orders per priority (deterministic tiebreak).
    QuerySpec("q_window_topn", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey")
        .orderBy("o_orderpriority", "rn")
    },
      """SELECT o_orderpriority, rn, o_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin),

    // Global sort + limit (the shape Spanner's partitionQuery rejects,
    // README.md:90-91 — Spark runs it in parallel via TakeOrderedAndProject).
    QuerySpec("q_sort_limit", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey")
    },
      "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),

    // Set ops: union / intersect / except over key sets.
    QuerySpec("q_set_ops", (s, dir) => {
      val c = t(s, dir, "customer")
      val big = c.filter(col("c_acctbal") > 9000).select("c_custkey")
      val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      val inter = big.intersect(auto).withColumn("tag", lit("both"))
      val only = big.exceptAll(auto).withColumn("tag", lit("big_only"))
      inter.unionByName(only).orderBy("tag", "c_custkey")
    },
      """WITH big AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
        |     auto AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |SELECT c_custkey, 'both' AS tag FROM (SELECT * FROM big INTERSECT SELECT * FROM auto)
        |UNION ALL
        |SELECT c_custkey, 'big_only' AS tag FROM (SELECT * FROM big EXCEPT ALL SELECT * FROM auto)
        |ORDER BY tag, c_custkey""".stripMargin),

    // Distinct (exact — unlike the reference's per-bundle HashSet
    // approximation, StructToAvroTransform.java:87-90).
    QuerySpec("q_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus"),

    // Grouped aggregation over the events table with JSON extraction
    // (get_json_object over the props column).
    QuerySpec("q_events_json_agg", (s, dir) => {
      t(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type", "day")
    },
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin),

    // CUBE over the pass-through surface (all grouping-set combos).
    QuerySpec("q_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Correlated scalar subquery — Catalyst decorrelates it into a join
    // (the reference delegates this shape to Spanner/BigQuery).
    QuerySpec("q_correlated_subquery", (s, dir) => {
      TableCatalog.register(s, dir)
      SqlRunner.run(s,
        """SELECT c_custkey FROM customer c
          |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
          |                   WHERE c2.c_mktsegment = c.c_mktsegment)
          |ORDER BY c_custkey""".stripMargin)
    },
      """SELECT c_custkey FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_mktsegment = c.c_mktsegment)
        |ORDER BY c_custkey""".stripMargin),

    // JSON extraction from the events props column (engine-level JSON
    // path support).
    QuerySpec("q_json_extract", (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Exact interpolated percentiles (aggregation-surface coverage;
    // Spark percentile == DuckDB quantile_cont bit-for-bit).
    QuerySpec("q_percentile", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Skew-salted join — result must equal the plain join (salting is a
    // physical rewrite, not a semantic one).
    QuerySpec("q_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(li, sup, keys = Seq("l_suppkey"), factor = 4)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("s_nationkey")
    },
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),

    // Window-function family: running aggregate, lag, first_value over
    // one deterministic per-customer frame.
    QuerySpec("q_window_running", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byCust = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val running = byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(running)
            .cast("double").as("running_total"),
          lag(col("o_orderkey"), 1).over(byCust).as("prev_order"),
          first(col("o_orderkey")).over(running).as("first_order"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
        |  first_value(o_orderkey) OVER w AS first_order
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Pivot (long-to-wide): order counts per priority, one column per
    // status. Values are listed explicitly — at scale an unbounded
    // .pivot() collects the distinct values to the driver first.
    QuerySpec("q_pivot", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // RANGE-frame windows (value-based frames — peers by order-date
    // distance, not row position): each order against the same
    // customer's orders within ±30 days.
    QuerySpec("q_window_range", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nearby = Window.partitionBy("o_custkey").orderBy(col("od_days"))
        .rangeBetween(-30, 30)
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .withColumn("od_days",
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("od_days"),
          count(lit(1)).over(nearby).as("n_nearby"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(nearby)
            .cast("double").as("nearby_total"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, od_days,
        |  CAST(count(*) OVER w AS BIGINT) AS n_nearby,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS nearby_total
        |FROM (SELECT *, (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS od_days
        |      FROM orders WHERE o_custkey <= 100)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY od_days
        |             RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Z-order data layout: bit-interleaved (l_partkey, l_suppkey) key;
    // per key-range bucket the min/max of BOTH dimensions stay tight —
    // the per-file statistics a lakehouse write clustered by
    // Layout.zOrderCluster would expose for two-column data skipping.
    QuerySpec("q_zorder_layout", (s, dir) => {
      // inputs are masked to the key width EXPLICITLY (zOrderKey samples
      // bits 0..15, so unmasked values beyond 65535 would silently
      // collide keys — the caller-side rescale the Layout Scaladoc
      // requires); identity at every shipped SF (partkey < 20k·sf)
      val z = graft.functions.Layout.zOrderKey(
        Seq(pmod(col("l_partkey"), lit(65536L)),
          pmod(col("l_suppkey"), lit(65536L))), bits = 16)
      t(s, dir, "lineitem")
        .select(z.as("zkey"), col("l_partkey"), col("l_suppkey"))
        .groupBy(shiftright(col("zkey"), 14).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").cast("long").as("min_part"),
          max("l_partkey").cast("long").as("max_part"),
          min("l_suppkey").cast("long").as("min_supp"),
          max("l_suppkey").cast("long").as("max_supp"))
        .orderBy("bucket")
    },
      {
        // the same bit interleave, unrolled: bit i of l_partkey -> 2i,
        // bit i of l_suppkey -> 2i+1
        val zterms = (0 until 16).flatMap(i => Seq(
          s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i})",
          s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
        s"""WITH z AS (SELECT ($zterms) AS zkey, l_partkey, l_suppkey FROM lineitem)
           |SELECT (zkey >> 14) AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(min(l_partkey) AS BIGINT) AS min_part,
           |  CAST(max(l_partkey) AS BIGINT) AS max_part,
           |  CAST(min(l_suppkey) AS BIGINT) AS min_supp,
           |  CAST(max(l_suppkey) AS BIGINT) AS max_supp
           |FROM z GROUP BY zkey >> 14 ORDER BY bucket""".stripMargin
      }),

    // ANALYZE-style column profile of orders: one scan, all columns'
    // row/null/distinct/min/max stats (the planner's side-channel).
    // o_orderdate profiles as a DATE projection (stable rendering).
    QuerySpec("q_table_stats", (s, dir) =>
      graft.operators.Profiling.tableStats(
          t(s, dir, "orders").withColumn("o_orderdate",
            to_date(col("o_orderdate"))),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority", "o_orderdate"))
        .orderBy("column_name"),
      {
        def one(c: String, expr: String) =
          s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count($expr) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT $expr) AS BIGINT) AS n_distinct,
             |  min($expr)::VARCHAR AS min_value, max($expr)::VARCHAR AS max_value
             |FROM orders""".stripMargin
        Seq(one("o_orderkey", "o_orderkey"), one("o_custkey", "o_custkey"),
          one("o_orderstatus", "o_orderstatus"),
          one("o_orderpriority", "o_orderpriority"),
          one("o_orderdate", "o_orderdate::DATE"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    // Declarative data-quality contract over orders (the Deequ /
    // Great-Expectations shape): all row-scan rules fused into ONE
    // aggregate pass; uniqueness one groupBy; referential integrity one
    // broadcast-able anti-probe against customer's distinct keys.
    QuerySpec("q_dq_checks", (s, dir) => {
      import graft.operators.DataQuality._
      check(t(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0, 600000),
        Matches("o_orderpriority", "^[1-5]-"),
        Accepted("o_orderstatus", Seq("O", "F", "P")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
        .orderBy("rule", "column")
    },
      // one SELECT per rule; NULL semantics mirror the operator: ternary
      // comparisons exclude nulls from range/regex/accepted violations,
      // and the unique rule counts a null-key GROUP as one distinct value
      // (the operator's struct() wrapper is never null) — count(DISTINCT)
      // alone would drop it, hence the count(*) > count(col) correction
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
        |u AS (
        |SELECT 'not_null' AS rule, 'o_custkey' AS "column", n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL) AS n_violations FROM n
        |UNION ALL
        |SELECT 'in_range', 'o_totalprice', n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE NOT (CAST(o_totalprice AS DOUBLE) BETWEEN 0 AND 600000)) FROM n
        |UNION ALL
        |SELECT 'matches', 'o_orderpriority', n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')) FROM n
        |UNION ALL
        |SELECT 'accepted', 'o_orderstatus', n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_orderstatus NOT IN ('O', 'F', 'P')) FROM n
        |UNION ALL
        |SELECT 'unique', 'o_orderkey', n_rows,
        |  (SELECT CAST(count(*) - (count(DISTINCT o_orderkey) +
        |     CASE WHEN count(*) > count(o_orderkey) THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM orders) FROM n
        |UNION ALL
        |SELECT 'ref_integrity', 'o_custkey', n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |     ON o.o_custkey = c.c_custkey
        |   WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) FROM n)
        |SELECT rule, "column", n_rows, n_violations,
        |  (n_violations = 0) AS passed
        |FROM u ORDER BY rule, "column" """.stripMargin),

    // Hilbert-curve layout stats — same shape as q_zorder_layout but on
    // the higher-locality curve (every walk step is grid-adjacent, so
    // equal-width key ranges cover tighter boxes than Z's diagonal
    // jumps). Key = the native HilbertKey kernel (one generated loop).
    QuerySpec("q_hilbert_layout", (s, dir) => {
      val h = graft.functions.Layout.hilbertKey(
        pmod(col("l_partkey"), lit(65536L)), pmod(col("l_suppkey"), lit(65536L)), bits = 16)
      t(s, dir, "lineitem")
        .select(h.as("hkey"), col("l_partkey"), col("l_suppkey"))
        .groupBy(shiftright(col("hkey"), 14).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").cast("long").as("min_part"),
          max("l_partkey").cast("long").as("max_part"),
          min("l_suppkey").cast("long").as("min_supp"),
          max("l_suppkey").cast("long").as("max_supp"))
        .orderBy("bucket")
    },
      // the same top-down quadrant walk as Layout.hilbertKey, replayed
      // per DISTINCT (x, y) pair by a 16-level recursive CTE
      """WITH RECURSIVE pts AS (
        |  SELECT DISTINCT l_partkey % 65536 AS x0, l_suppkey % 65536 AS y0
        |  FROM lineitem),
        |walk AS (
        |  SELECT x0, y0, x0::BIGINT AS cx, y0::BIGINT AS cy,
        |         0::BIGINT AS d, 15 AS e
        |  FROM pts
        |  UNION ALL
        |  SELECT x0, y0,
        |    CASE WHEN (cy & s) = 0
        |         THEN CASE WHEN (cx & s) > 0 THEN s - 1 - cy ELSE cy END
        |         ELSE cx END,
        |    CASE WHEN (cy & s) = 0
        |         THEN CASE WHEN (cx & s) > 0 THEN s - 1 - cx ELSE cx END
        |         ELSE cy END,
        |    d + s * s * xor(3 * (CASE WHEN (cx & s) > 0 THEN 1 ELSE 0 END)::BIGINT,
        |                    (CASE WHEN (cy & s) > 0 THEN 1 ELSE 0 END)::BIGINT),
        |    e - 1
        |  FROM (SELECT *, (2 ** e)::BIGINT AS s FROM walk WHERE e >= 0) t),
        |fin AS (SELECT x0, y0, d AS hkey FROM walk WHERE e = -1),
        |hk AS (SELECT hkey, l_partkey, l_suppkey
        |       FROM lineitem JOIN fin
        |         ON l_partkey % 65536 = fin.x0 AND l_suppkey % 65536 = fin.y0)
        |SELECT (hkey >> 14) AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(l_partkey) AS BIGINT) AS min_part,
        |  CAST(max(l_partkey) AS BIGINT) AS max_part,
        |  CAST(min(l_suppkey) AS BIGINT) AS min_supp,
        |  CAST(max(l_suppkey) AS BIGINT) AS max_supp
        |FROM hk GROUP BY hkey >> 14 ORDER BY bucket""".stripMargin),

    // Mann-Whitney rank-sum z: do purchase and click event values come
    // from the same distribution? Tie-averaged ranks are rationals with
    // denominator 2 (exact in double), U and the normal-approx z derive
    // from integer identities — only the final sqrt/division are float.
    // (No tie-correction term in σ — values are continuous; noted.)
    QuerySpec("q_ranksum", (s, dir) =>
      graft.operators.Series.rankSumZ(
        t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click")),
        "event_type", "value", groupA = "purchase"),
      """WITH e AS (SELECT event_type, value FROM events
        |           WHERE event_type IN ('purchase', 'click')),
        |byv AS (SELECT value, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM e GROUP BY value),
        |rk AS (SELECT value, c, c1,
        |    coalesce(sum(c) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM byv),
        |ar AS (SELECT c, c1, below::DOUBLE + (c + 1)::DOUBLE / 2 AS avgrank FROM rk),
        |st AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c - c1) AS BIGINT) AS n2,
        |    CAST(sum(CAST(c1::DOUBLE * avgrank AS DECIMAL(38,6))) AS DOUBLE) AS r1
        |  FROM ar),
        |u AS (SELECT n1, n2, r1 - (n1 * (n1 + 1))::DOUBLE / 2 AS u1 FROM st)
        |SELECT n1, n2, round(u1, 6) AS u1,
        |  round((u1 - (n1 * n2)::DOUBLE / 2) /
        |    sqrt((n1 * n2 * (n1 + n2 + 1))::DOUBLE / 12), 6) AS z
        |FROM u""".stripMargin),

    // Chi-squared independence screen: is event volume independent of
    // the ISO weekday per type? Per-cell observed vs expected
    // (row·col/total over exact integer marginals — the only float
    // steps are one division and the contribution ratio) — the
    // data-quality screen that catches silently skewed ingest.
    QuerySpec("q_chisq", (s, dir) => {
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"), (weekday(col("ts")) + 1).as("dow"))
        .agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy("event_type").agg(sum("o").as("rt"))
      val colT = cells.groupBy("dow").agg(sum("o").as("ct"))
      val tot = cells.agg(sum("o").as("n"))
      cells.join(broadcast(rowT), "event_type")
        .join(broadcast(colT), "dow")
        .crossJoin(broadcast(tot))
        .withColumn("e_raw",
          (col("rt") * col("ct")).cast("double") / col("n"))
        .select(col("event_type"), col("dow").cast("long").as("dow"), col("o"),
          round(col("e_raw"), 6).as("e"),
          round((col("o") - col("e_raw")) * (col("o") - col("e_raw")) /
            col("e_raw"), 6).as("contrib"))
        .orderBy("event_type", "dow")
    },
      """WITH cells AS (
        |  SELECT event_type, date_part('isodow', ts)::BIGINT AS dow,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
        |SELECT event_type, dow, o,
        |  round((rt * ct)::DOUBLE / n, 6) AS e,
        |  round((o - (rt * ct)::DOUBLE / n) * (o - (rt * ct)::DOUBLE / n)
        |        / ((rt * ct)::DOUBLE / n), 6) AS contrib
        |FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
        |ORDER BY event_type, dow""".stripMargin),

    // CUPED variance reduction (Deng et al. 2013): per-user post-period
    // metric adjusted by the pre-period covariate, θ = cov(x,y)/var(x).
    // Every moment accumulates in DECIMAL (double sum order would be
    // partitioning-dependent); θ derives from the n·Σxy − Σx·Σy
    // identity over those exact sums and is pinned at 9 dp — the
    // experimentation-analytics step that cuts A/B metric variance
    // without touching assignment.
    QuerySpec("q_cuped", (s, dir) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val per = t(s, dir, "events").groupBy("user_id").agg(
        coalesce(sum(when(col("ts") < cut,
          col("value").cast("decimal(18,6)"))).cast("double"), lit(0.0))
          .as("x"),
        coalesce(sum(when(col("ts") >= cut,
          col("value").cast("decimal(18,6)"))).cast("double"), lit(0.0))
          .as("y"))
      // extracted operator (r16): the fuzzer and this gate drive ONE body
      graft.operators.StatTests.cuped(per, "user_id")
        .orderBy("user_id")
    },
      """WITH per AS (SELECT user_id,
        |    coalesce(CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 0.0) AS x,
        |    coalesce(CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 0.0) AS y
        |  FROM events GROUP BY user_id),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        |  FROM per),
        |th AS (SELECT n, sx,
        |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS theta
        |  FROM st)
        |SELECT user_id, x AS x_pre, y AS y_post, theta,
        |  round(y - theta * (x - sx / n), 6) AS y_cuped
        |FROM per CROSS JOIN th ORDER BY user_id""".stripMargin),

    // Behavioral pattern mining: each user's event history as an
    // initial-letter sequence (v/c/p/s/e, ordered by ts with event_id
    // tiebreak), then count the adjacent view->click->purchase motif by
    // EXACT substring arithmetic — (len − len(remove("vcp")))/3 — no
    // regex-engine semantics to disagree on. The sequence build is one
    // groupBy with an in-row sorted fold; the motif count is map-side.
    QuerySpec("q_event_pattern", (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("i")).as("ev"))
      e.groupBy("user_id")
        .agg(concat_ws("",
          transform(array_sort(collect_list(col("ev"))),
            x => x.getField("i"))).as("seq"))
        .select(col("user_id"),
          length(col("seq")).cast("long").as("n_events"),
          md5(col("seq")).as("seq_md5"),
          ((length(col("seq")) -
            length(regexp_replace(col("seq"), "vcp", ""))) / 3)
            .cast("long").as("n_vcp"))
        .withColumn("converted", col("n_vcp") > 0)
        .orderBy("user_id")
    },
      """WITH sq AS (
        |  SELECT user_id,
        |    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
        |  md5(seq) AS seq_md5,
        |  CAST((length(seq) - length(replace(seq, 'vcp', ''))) // 3 AS BIGINT) AS n_vcp,
        |  (length(seq) - length(replace(seq, 'vcp', ''))) // 3 > 0 AS converted
        |FROM sq ORDER BY user_id""".stripMargin),

    // Robust (median/MAD) outlier flags on the daily per-event-type
    // series — the batch-profile complement to q_anomaly_zscore's
    // trailing score; a lone spike can't hide itself by inflating σ.
    QuerySpec("q_anomaly_mad", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Series.robustZscore(daily, "event_type", "day", "cnt")
        .orderBy("event_type", "day")
    },
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, ts::DATE),
        |med AS (SELECT event_type, round(quantile_cont(cnt, 0.5), 6) AS med
        |        FROM daily GROUP BY event_type),
        |dev AS (SELECT d.event_type, d.day, d.cnt, m.med,
        |          abs(d.cnt - m.med) AS adev
        |        FROM daily d JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
        |        FROM dev GROUP BY event_type)
        |SELECT event_type, day, cnt, med, mad, rz,
        |  coalesce(abs(rz) > 3.5, false) AS is_anomaly
        |FROM (SELECT v.event_type, v.day, v.cnt, v.med, a.mad,
        |    CASE WHEN a.mad > 0
        |         THEN round(0.6745::DOUBLE * (v.cnt - v.med) / a.mad, 6) END AS rz
        |  FROM dev v JOIN mad a USING (event_type))
        |ORDER BY event_type, day""".stripMargin),

    // EWMA smoothing of the daily per-event-type value series (α=0.5,
    // 7-period history): the trend line drift monitoring reads next to
    // q_anomaly_zscore's flags; dyadic α ⇒ exact weights cross-engine.
    QuerySpec("q_ewma_value", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("day_value"))
      graft.operators.Series.ewma(daily, "event_type", "day", "day_value")
        .orderBy("event_type", "day")
    },
      // same oldest-first fold: l[i] gets weight 0.5^(n-i), i 1-based
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY event_type, ts::DATE),
        |fr AS (SELECT event_type, day, day_value,
        |    list(day_value) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
        |  FROM daily)
        |SELECT event_type, day, day_value,
        |  round(list_sum(list_transform(range(1, len(l) + 1),
        |          i -> (0.5 ** (len(l) - i)) * l[i])) /
        |        list_sum(list_transform(range(1, len(l) + 1),
        |          i -> 0.5 ** (len(l) - i))), 6) AS ewma
        |FROM fr ORDER BY event_type, day""".stripMargin),

    QuerySpec("q_peak_concurrency", (s, dir) =>
      peakConcurrency(graft.streaming.EventStream.sessionizeBatch(t(s, dir, "events"))),
      """WITH s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |sess AS (SELECT user_id, min(ts) AS session_start, max(ts) AS session_end
        |         FROM g GROUP BY user_id, sid),
        |pts AS (
        |  SELECT session_start::DATE AS day, session_start AS ts, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT session_end::DATE, session_end, -1 FROM sess),
        |days AS (SELECT DISTINCT day FROM pts),
        |base AS (SELECT day, count(se.user_id) AS base
        |         FROM days LEFT JOIN sess se
        |           ON se.session_start < day::TIMESTAMP AND se.session_end >= day::TIMESTAMP
        |         GROUP BY day),
        |runs AS (SELECT day, sum(delta) OVER (
        |    PARTITION BY day ORDER BY ts, delta DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM pts)
        |SELECT r.day, CAST(b.base + greatest(max(r.run), 0) AS BIGINT) AS peak
        |FROM runs r JOIN base b ON b.day = r.day
        |GROUP BY r.day, b.base ORDER BY r.day""".stripMargin),

    // Calendar gap-filling + forward fill: every day in each user's
    // active range exists in the output, missing days carry the last
    // observed value forward — the densification step before any
    // time-series model sees the data. Day generation is an in-row
    // `sequence` explode; the fill is one window pass.
    QuerySpec("q_gap_fill", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .filter(col("user_id") <= 20)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("day_value"))
      val days = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode_outer(sequence(col("d0"), col("d1"))).as("day"))
        .filter(col("day").isNotNull) // outer+filter: see SafeExplode
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("day_value"),
          last(col("day_value"), ignoreNulls = true).over(w).as("filled"))
        .orderBy("user_id", "day")
    },
      """WITH daily AS (
        |  SELECT user_id, ts::DATE AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
        |  FROM events WHERE user_id <= 20 GROUP BY user_id, ts::DATE),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |         FROM daily GROUP BY user_id),
        |days AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |         FROM span)
        |SELECT d.user_id, d.day, dv.day_value,
        |  last_value(dv.day_value IGNORE NULLS) OVER (
        |    PARTITION BY d.user_id ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM days d LEFT JOIN daily dv USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin),

    // --- trailing-window z-score anomaly flags on the daily
    //     per-event-type series. Mean/variance come from EXACT integer
    //     window sums (n·Σx² − (Σx)², the textbook identity), so the
    //     only float steps are two divisions and a sqrt over exact
    //     integers — bitwise engine-agreement at 6 dp, with none of the
    //     engine-specific streaming-variance accumulation `stddev` has.
    //     Zero-variance and short histories yield NULL z (no flag). ---
    QuerySpec("q_anomaly_zscore", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Series.trailingZscore(daily, "event_type", "day", "cnt")
        .orderBy("event_type", "day")
    },
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, ts::DATE),
        |st AS (SELECT event_type, day, cnt,
        |    count(cnt) OVER w AS n, sum(cnt) OVER w AS sx,
        |    sum(cnt * cnt) OVER w AS sxx
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, cnt, z,
        |  coalesce(abs(z) > 3.0, false) AS is_anomaly
        |FROM (SELECT event_type, day, cnt,
        |    CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
        |      THEN round((cnt::DOUBLE - sx::DOUBLE / n) /
        |        sqrt((n * sxx - sx * sx)::DOUBLE / (n * (n - 1))), 6) END AS z
        |  FROM st)
        |ORDER BY event_type, day""".stripMargin),

    // Ordered funnel analysis (view → click → purchase): each stage's
    // timestamp is the first event AT OR AFTER the previous stage — the
    // product-analytics staple. Three keyed aggregates on user_id; the
    // stage frames are per-user (small) and join back broadcastable.
    QuerySpec("q_funnel", (s, dir) => {
      val ev = t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") >= col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") >= col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L)
            .otherwise(1L).as("stage"))
        .orderBy("user_id")
    },
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND e.ts >= v.t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND e.ts >= c.t_click GROUP BY e.user_id)
        |SELECT v.user_id, t_view, t_click, t_purchase,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // Cohort retention: users grouped by first-seen day, activity counted
    // per day offset — the (cohort × offset) retention triangle.
    QuerySpec("q_cohort_retention", (s, dir) => {
      val ev = t(s, dir, "events")
      val first = ev.groupBy("user_id").agg(to_date(min("ts")).as("cohort_day"))
      ev.join(first, "user_id")
        .select(col("cohort_day"),
          datediff(to_date(col("ts")), col("cohort_day")).cast("long").as("day_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
      """WITH f AS (SELECT user_id, min(ts)::DATE AS cohort_day
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT cohort_day,
        |        (ts::DATE - cohort_day) AS day_offset, user_id
        |      FROM events JOIN f USING (user_id))
        |SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
        |  count(*) AS n_users
        |FROM a GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin),

    // SCD type-2 history construction: each customer's orders become
    // validity intervals (valid_from = this order, valid_to = next, open
    // interval = current row) — the standard warehouse pattern for
    // turning a change stream into an as-of-queryable dimension. One
    // window shuffle keyed by the dimension key.
    QuerySpec("q_scd2_history", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").as("valid_from"),
          lead(col("o_orderdate"), 1).over(w).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
        |FROM orders WHERE o_custkey <= 50
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin),

    // Arbitrary GROUPING SETS through the SQL pass-through surface.
    QuerySpec("q_grouping_sets", (s, dir) => {
      TableCatalog.register(s, dir)
      SqlRunner.run(s,
        """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // P15: key-by-split-field (null → "") — the dynamic-sink key rule.
    QuerySpec("p15_split_key", (s, dir) => {
      import graft.functions.Formats
      t(s, dir, "orders")
        .withColumn("__split", Formats.splitKey(col("o_orderstatus")))
        .groupBy("__split").agg(count(lit(1)).as("n"))
        .orderBy("__split")
    },
      """SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '') AS __split, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY __split""".stripMargin),

    // P12: dynamic field extraction by runtime name (StructUtil.getFieldValue).
    QuerySpec("p12_dynamic_field", (s, dir) => {
      val fieldName = "o_orderpriority" // runtime-supplied in the reference
      t(s, dir, "orders")
        .select(col(fieldName).as("value"))
        .distinct()
        .orderBy("value")
    },
      "SELECT DISTINCT o_orderpriority AS value FROM orders ORDER BY value")
  )
}
