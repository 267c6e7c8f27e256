package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.TableCatalog
import graft.formats.RowFormats
import graft.functions.Formats
import graft.generate.DummyGen

/** Converter/generator/scalar-function parity as oracle-checked queries:
  * P1 (JSON line), P2 (CSV line), §2.5 scalar functions, S6 generator
  * (deterministic md5-derived mode for cross-engine reproducibility),
  * plus ROLLUP coverage for the delegated-SQL surface.
  */
object ParityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.load(s, dir, name)

  private def digit(h: String, pos: Int) = s"(strpos('0123456789abcdef', substring($h, $pos, 1)) - 1)"

  val specs: Seq[QuerySpec] = Seq(

    // P1: schema-order JSON lines (StructToJsonConverter semantics).
    QuerySpec("p1_json_line", (s, dir) => {
      val n = t(s, dir, "nation")
      n.select(col("n_nationkey").cast("long").as("n_nationkey"),
          RowFormats.jsonLine(n).as("line"))
        .orderBy("n_nationkey")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  '{"n_nationkey":' || n_nationkey || ',"n_name":"' || n_name ||
        |  '","n_regionkey":' || n_regionkey || '}' AS line
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // P2: CSV lines incl. RFC3339 timestamp rendering (StructToCsvConverter).
    QuerySpec("p2_csv_line", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"), col("o_orderpriority"))
      o.select(col("o_orderkey"), RowFormats.csvLine(o).as("line"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |  o_orderkey || ',' || o_orderstatus || ',' ||
        |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') || ',' ||
        |  CASE WHEN regexp_matches(o_orderpriority, '[",\n\r]')
        |       THEN '"' || replace(o_orderpriority, '"', '""') || '"'
        |       ELSE o_orderpriority END AS line
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // §2.5 scalar functions: base64, epoch-days, NUMERIC trim-format,
    // ISO local time, epoch millis/micros/seconds (full §2.5 family).
    QuerySpec("q_format_scalars", (s, dir) => {
      // parquet stores o_orderdate as TIMESTAMP_NTZ; unix_* require
      // TIMESTAMP — cast is value-identical under the UTC session TZ
      val ts = col("o_orderdate").cast("timestamp")
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          base64(col("o_orderstatus").cast("binary")).as("b64"),
          Formats.toEpochDays(to_date(col("o_orderdate"))).cast("long").as("epoch_days"),
          Formats.decimalTrimString(col("o_totalprice").cast("decimal(18,2)")).as("price_trim"),
          Formats.isoLocalTime(ts).as("iso_time"),
          Formats.toEpochMillis(ts).as("epoch_ms"),
          Formats.toEpochMicros(ts).as("epoch_us"),
          Formats.toEpochSeconds(ts).as("epoch_s"),
          // round-trip pins from* against to*: micros → timestamp → RFC3339
          Formats.rfc3339(Formats.fromEpochMicros(
            Formats.toEpochMicros(ts))).as("ts_rt"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |  to_base64(o_orderstatus::BLOB) AS b64,
        |  (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS epoch_days,
        |  CASE WHEN contains(CAST(o_totalprice::DECIMAL(18,2) AS VARCHAR), '.')
        |       THEN regexp_replace(regexp_replace(
        |              CAST(o_totalprice::DECIMAL(18,2) AS VARCHAR), '0+$', ''), '\.$', '')
        |       ELSE CAST(o_totalprice::DECIMAL(18,2) AS VARCHAR) END AS price_trim,
        |  strftime(o_orderdate, '%H:%M:%S') AS iso_time,
        |  epoch_ms(o_orderdate) AS epoch_ms,
        |  epoch_us(o_orderdate) AS epoch_us,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
        |  strftime(make_timestamp(epoch_us(o_orderdate)), '%Y-%m-%dT%H:%M:%SZ') AS ts_rt
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // S6: generator machinery in deterministic mode — every value derives
    // from the row id via md5, so DuckDB reproduces it exactly.
    QuerySpec("g_dummy_generate", (s, _) => {
      s.range(0, 1000).toDF("id").select(
        col("id"),
        DummyGen.deterministicColumn("name", StringType).as("name"),
        DummyGen.deterministicColumn("num", LongType).as("num"),
        DummyGen.deterministicColumn("flag", BooleanType).as("flag"),
        DummyGen.deterministicColumn("dt", DateType).as("dt"))
        .orderBy("id")
    },
      {
        def col(name: String) = {
          val hh = s"md5(id::VARCHAR || '|' || '$name')"
          (hh, s"(${digit(hh, 1)} * 16 + ${digit(hh, 2)})")
        }
        val (hn, _) = col("name"); val (_, vNum) = col("num")
        val (hf, _) = col("flag"); val (_, vDt) = col("dt")
        s"""SELECT id, $hn AS name, $vNum::BIGINT AS num,
           |  (${digit(hf, 1)} % 2 = 1) AS flag,
           |  (DATE '1970-01-01' + ($vDt)::INT) AS dt
           |FROM range(1000) t(id) ORDER BY id""".stripMargin
      }),

    // Streaming transform in batch mode: the SAME EventStream
    // .windowedCounts code serves live streams (readStream + watermark)
    // and backfills — this entry pins the batch-parity semantics against
    // the oracle (1-day tumbling window = date_trunc).
    QuerySpec("st_events_window", (s, dir) =>
      graft.streaming.EventStream.windowedCounts(t(s, dir, "events"))
        .orderBy("window_start", "event_type"),
      """SELECT date_trunc('day', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // Windowed Count-Min cells in batch mode: per-day heavy-hitter
    // sketch over user_id — model-sized state per window regardless of
    // cardinality; same code runs the live stream (append mode).
    QuerySpec("st_cms_window", (s, dir) =>
      graft.streaming.EventStream.windowedCmsCells(t(s, dir, "events"))
        .orderBy("window_start", "row_idx", "bucket"),
      """WITH hh AS (SELECT date_trunc('day', ts) AS window_start,
        |  ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT % 1024 AS h1,
        |  ('0x' || substring(md5(user_id::VARCHAR), 16, 15))::BIGINT % 1024 AS h2r
        |FROM events)
        |SELECT window_start, r.i AS row_idx,
        |  (h1 + r.i * (h2r + 1 - (h2r % 2))) % 1024 AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM hh CROSS JOIN range(0, 4) r(i)
        |GROUP BY 1, 2, 3 ORDER BY window_start, row_idx, bucket""".stripMargin),

    // Windowed HLL registers in batch mode: distinct-users-per-day
    // sketch, <= 64 register rows per window at any cardinality; same
    // code runs the live stream (one aggregation, append mode).
    QuerySpec("st_hll_window", (s, dir) =>
      graft.streaming.EventStream.windowedHllRegisters(t(s, dir, "events"))
        .orderBy("window_start", "j"),
      // HLL p=6 register arithmetic as in t_hll_distinct, keyed by the
      // tumbling day window; duplicates cannot move a max-rho register
      """WITH h AS (SELECT date_trunc('day', ts) AS window_start,
        |  ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        |FROM events)
        |SELECT window_start, hv & 63 AS j,
        |  max(CASE WHEN hv >> 6 = 0 THEN 55
        |           ELSE 55 - length(bin(hv >> 6)) END) AS m_j
        |FROM h GROUP BY 1, 2 ORDER BY window_start, j""".stripMargin),

    // Windowed DDSketch buckets in batch mode: per-day value-quantile
    // sketch (p50/p99 within 1% relative error), ≤ ~540 bucket rows per
    // window at ANY event volume — the finite-state streaming quantile
    // an exact percentile (which buffers the whole window) cannot be;
    // same code runs the live stream (one aggregation, append mode).
    QuerySpec("st_ddsketch_window", (s, dir) =>
      graft.streaming.EventStream.windowedDdBuckets(t(s, dir, "events"))
        .orderBy("window_start", "bucket"),
      // DDSketch α=0.01 bucket arithmetic, keyed by the tumbling day
      // window — ONE shared algebra builder across all DDSketch oracles
      s"""SELECT date_trunc('day', ts) AS window_start,
         |  ${OracleSketches.ddBucketSql("value")} AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM events WHERE value > 0
         |GROUP BY 1, 2 ORDER BY window_start, bucket""".stripMargin),

    // Gap-based sessionization in batch mode (1-hour gap): lag + running
    // sum over one user_id shuffle; deterministic since (user_id, ts) is
    // unique.
    QuerySpec("st_sessionize_batch", (s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(t(s, dir, "events"))
        .orderBy("user_id", "session_id"),
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, value,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, sid::BIGINT AS session_id, count(*) AS n,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin),

    // Spark-native session windows (`session_window` in groupBy — the
    // declarative form of the lag/running-sum sessionization; merging
    // gap-sessions is the engine's job, state eviction comes from the
    // watermark in streaming mode). Window end = last event + gap, so
    // the oracle derives it as max(ts) + 1h. Boundary note: an event at
    // EXACTLY gap distance starts a new session here (strict <) while
    // the lag formulation keeps it (> gap starts new) — the events data
    // has no exact-gap pair at any SF, so both formulations agree.
    QuerySpec("st_session_window", (s, dir) =>
      t(s, dir, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("sw"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end_excl"), col("n"), col("total_value"))
        .orderBy("user_id", "session_start"),
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, value,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 1 HOUR AS session_end_excl,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),

    // Stream-static enrichment join in batch mode: the stream side joins
    // a broadcast dimension (customer → segment) with no stream shuffle;
    // unmatched events keep flowing as "UNKNOWN".
    QuerySpec("st_stream_static", (s, dir) =>
      graft.streaming.EventStream.enrichedWindowedCounts(
          t(s, dir, "events"), t(s, dir, "customer"))
        .orderBy("window_start", "segment"),
      """SELECT date_trunc('day', ts) AS window_start,
        |  coalesce(c_mktsegment, 'UNKNOWN') AS segment,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY window_start, segment""".stripMargin),

    // Stream-stream interval join (attribution) in batch mode: same
    // EventStream.intervalJoin code runs live with watermark-bounded
    // state; this entry pins its join semantics against the oracle.
    QuerySpec("st_interval_join", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventStream.intervalJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"))
        .orderBy("p_event_id", "c_event_id")
    },
      """SELECT p.event_id AS p_event_id, p.user_id, p.ts AS p_ts,
        |  c.event_id AS c_event_id, c.ts AS c_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        | AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY p_event_id, c_event_id""".stripMargin),

    // Left-outer variant: unattributed purchases surface with null click
    // columns (streaming emits them watermark-gated; batch immediately).
    QuerySpec("st_interval_join_outer", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventStream.intervalJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          joinType = "left_outer")
        .orderBy(col("p_event_id"), col("c_event_id").asc_nulls_first)
    },
      """SELECT p.event_id AS p_event_id, p.user_id, p.ts AS p_ts,
        |  c.event_id AS c_event_id, c.ts AS c_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        | AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY p_event_id, c_event_id NULLS FIRST""".stripMargin),

    // Event-time sessionization (flatMapGroupsWithState, EventTimeTimeout)
    // run in batch mode: emits every CLOSED session; each user's final
    // still-open session is withheld exactly as the streaming run would
    // withhold it at the same event-time point. total is asserted in the
    // MemoryStream spec (a sequential double fold is not decimal-sum
    // reproducible, so the oracle pins the integer/timestamp columns).
    QuerySpec("st_session_closed", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.EventStream.Event]
      graft.streaming.EventStream.sessionizeEventTime(ev)
        .select(col("user_id"), col("n_events"),
          col("session_start"), col("session_end"))
        .orderBy("user_id", "session_start")
    },
      """WITH s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |  FROM g GROUP BY user_id, sid),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
        |SELECT s.user_id, s.n_events, s.session_start, s.session_end
        |FROM sess s JOIN mx USING (user_id) WHERE s.sid < mx.last_sid
        |ORDER BY s.user_id, s.session_start""".stripMargin),

    // ROLLUP over the pass-through SQL surface (delegated in the
    // reference, native Catalyst here).
    QuerySpec("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  )
}
