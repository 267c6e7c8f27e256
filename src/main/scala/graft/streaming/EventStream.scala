package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface. The reference is batch-only (SURVEY
  * §2.6: no watermarks/triggers/state anywhere), so nothing here is
  * parity — it is the forward-looking streaming tier over the same
  * `events` schema (ts, event_type, user_id, value, props), built on the
  * standard Spark primitives:
  *
  *  - [[windowedCounts]]: event-time tumbling-window aggregation with a
  *    watermark — late data beyond the watermark is dropped and state is
  *    bounded, which is the property that keeps a 100 TB/day stream's
  *    state store finite.
  *  - [[sessionize]]: arbitrary stateful processing via
  *    `flatMapGroupsWithState` — per-user session accumulation with a
  *    processing-time timeout.
  *
  * Batch/stream parity: both transforms accept any DataFrame with the
  * events schema, so the SAME code runs `spark.read` (backfill) and
  * `spark.readStream` (live) — the Dataset API is the unifying layer.
  */
object EventStream {

  /** Tumbling-window counts/sums per event_type with a 1-hour watermark. */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 day",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal accumulation → order-independent exact sum (same value on
      // any partitioning, any engine — required for the batch-parity
      // oracle and for deterministic stream/backfill agreement)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Hopping (sliding) windowed counts — windowLen/slide overlapping
    * windows per event (Spark's `window(col, len, slide)`, grid aligned
    * to the epoch), same exact-decimal aggregation as [[windowedCounts]].
    * The streaming cost model: each event is assigned to len/slide
    * windows at ingest (row fan-out, map-side), state is per-(window,
    * type) — the standard trade for smoother dashboards vs tumbling. */
  def hoppingWindowedCounts(events: DataFrame,
                            windowLen: String = "1 day",
                            slide: String = "12 hours",
                            watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Windowed Count-Min sketch cells over a key column — streaming
    * heavy-hitter infrastructure: per tumbling window, the (row, bucket)
    * occurrence counts of the Kirsch-Mitzenmacher md5 positions
    * ([[graft.operators.Sketches.cmsPositions]]). The state per window
    * is model-sized (≤ depth×width cells) REGARDLESS of key cardinality
    * or event volume — the property that keeps a 100 TB/day stream's
    * store finite where a per-key count table would not be — and cells
    * from separate windows/streams MERGE by adding, so backfill and
    * live sketches combine. Same code runs batch (backfill) and
    * `readStream` (append mode after the watermark closes a window);
    * probe with [[graft.operators.Sketches.cmsEstimate]] against any
    * window's cells.
    *
    * Output: (window_start, row_idx, bucket, cnt). */
  def windowedCmsCells(events: DataFrame, keyCol: String = "user_id",
                       width: Int = 1024, depth: Int = 4,
                       windowLen: String = "1 day",
                       watermark: String = "1 hour"): DataFrame = {
    graft.functions.SafeExplode.posexplodeSelect(
        events.withWatermark("ts", watermark)
          .select(col("ts"),
            graft.operators.Sketches.cmsPositions(col(keyCol), width, depth)
              .as("cells")),
        Seq(col("ts")), col("cells"))
      .groupBy(window(col("ts"), windowLen),
        col("pos").as("row_idx"), col("col").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("row_idx").cast("long").as("row_idx"), col("bucket"), col("cnt"))
  }

  /** Windowed HyperLogLog registers over a key column — streaming
    * distinct-count infrastructure (how many UNIQUE users per window,
    * without a per-user state table): per tumbling window, the max-rho
    * registers of [[graft.operators.Sketches.hllRegisters]]. State per
    * window is ≤ 2^p rows regardless of key cardinality, and registers
    * from separate windows / streams / backfills MERGE by per-register
    * max (the HLL union law), so live and replayed sketches combine.
    *
    * Streaming-safe by construction: max(rho) over DUPLICATED keys
    * equals max(rho) over distinct keys, so no dedup aggregation is
    * needed and the whole sketch is ONE groupBy — Spark's single-
    * aggregation streaming limit is never touched. Same code runs batch
    * (the oracle) and `readStream` (append mode after the watermark);
    * estimate any window with [[graft.operators.Sketches.hllEstimate]]
    * keyed by `window_start`.
    *
    * Output: (window_start, j, m_j). */
  def windowedHllRegisters(events: DataFrame, keyCol: String = "user_id",
                           p: Int = 6, windowLen: String = "1 day",
                           watermark: String = "1 hour"): DataFrame = {
    val m = 1 << p
    val maxRho = 60 - p + 1
    val h = GraftFunctions.md5PrefixLong(col(keyCol).cast("string"), 15)
    events.withWatermark("ts", watermark)
      .select(col("ts"),
        h.bitwiseAND(lit((m - 1).toLong)).as("j"),
        shiftright(h, p).as("w"))
      .withColumn("rho",
        when(col("w") === 0L, lit(maxRho.toLong))
          .otherwise(lit(maxRho.toLong) - length(bin(col("w")))))
      .groupBy(window(col("ts"), windowLen), col("j"))
      .agg(max(col("rho")).as("m_j"))
      .select(col("window.start").as("window_start"), col("j"), col("m_j"))
  }

  /** Windowed DDSketch buckets over a positive value column — streaming
    * QUANTILE infrastructure (p50/p99 event value / latency per window,
    * the production-monitoring shape): per tumbling window, the
    * logarithmic bucket counts of
    * [[graft.operators.Sketches.ddSketchBuild]] (γ = (1+α)/(1−α);
    * any quantile answered within α relative error). State per window
    * is ≤ log_γ(max/min) rows — ~540 for five decades at α=0.01 —
    * REGARDLESS of event volume: the finite-state property an exact
    * per-window percentile (which must buffer every value) lacks at
    * 100 TB/day. Cells from separate windows / streams / backfills
    * MERGE by adding counts, order-independently, so live and replayed
    * sketches combine bit-identically. ONE groupBy — inside Spark's
    * single-aggregation streaming limit; same code runs batch (the
    * oracle) and `readStream` (append mode after the watermark);
    * estimate any window with
    * [[graft.operators.Sketches.ddSketchQuantiles]] keyed by
    * `window_start`.
    *
    * Watermark note (pinned by StreamFuzz): Catalyst pushes the
    * `value > 0` predicate BELOW the watermark node, so rows failing it
    * never advance this query's watermark — a micro-batch of only
    * non-positive values delays window closure (a latency effect, never
    * a wrong answer; closed windows stay exactly batch-parity).
    *
    * Output: (window_start, bucket, cnt). */
  def windowedDdBuckets(events: DataFrame, valueCol: String = "value",
                        alpha: Double = 0.01, windowLen: String = "1 day",
                        watermark: String = "1 hour"): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5), got $alpha")
    val lnGamma = math.log((1 + alpha) / (1 - alpha))
    events.withWatermark("ts", watermark)
      .filter(col(valueCol) > 0)
      .select(col("ts"),
        graft.operators.Sketches.ddBucket(col(valueCol), lnGamma).as("bucket"))
      .groupBy(window(col("ts"), windowLen), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("bucket"), col("cnt"))
  }

  /** Batch (backfill) sessionization: gap-based sessions per user via
    * lag + running sum — the standard windowed formulation, fully
    * deterministic because (user_id, ts) is unique in the events schema.
    * One shuffle on user_id; both window functions share it. The
    * streaming counterpart is [[sessionize]] (stateful); this is the
    * replay/backfill path over the same data. */
  def sessionizeBatch(events: DataFrame, gapMicros: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(running))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
  }

  /** Batch (backfill) CDC keep-latest compaction: the current row per
    * (user_id, event_type) — max event time, event_id as the total-order
    * tiebreak. One row_number window on the compaction key; at scale
    * this is the "materialize the current state of a change stream"
    * read path, and the key (user, type) splits uniformly. Streaming
    * counterpart: [[latestPerKey]] (same winner rule, stateful). */
  def latestPerKeyBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    events.select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming CDC keep-latest via `mapGroupsWithState`: state per
    * (user_id, event_type) is just the current winner; every micro-batch
    * emits the (possibly unchanged) winner for Update-mode sinks.
    * Deterministic: the winner rule is a total order (event-time micros,
    * then event_id), so replays and micro-batch boundaries cannot change
    * the outcome — parity with [[latestPerKeyBatch]] is spec-asserted. */
  def latestPerKey(events: Dataset[KeyedEvent]): Dataset[KeyedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[KeyedEvent, KeyedEvent](GroupStateTimeout.NoTimeout()) {
        case ((_, _), rows, state) =>
          val winner = (state.getOption.iterator ++ rows)
            .maxBy(e => (micros(e.ts), e.event_id))
          state.update(winner)
          winner
      }
  }

  /** Batch quota ACCOUNTING per (user, hour): totals vs the first-`n`
    * keep budget — the aggregate face of the per-event decision in
    * `q_rate_limit` (kept = min(total, n) is a pure function of the
    * count, which is what makes the streaming twin below
    * replay-deterministic). One map-side-combined aggregate. */
  def quotaCountsBatch(events: DataFrame, n: Int = 3): DataFrame =
    events
      .select(col("user_id"), hourBucket("ts").as("hr"))
      .groupBy("user_id", "hr")
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("hr"), col("n_events"),
        least(col("n_events"), lit(n.toLong)).as("n_kept"),
        greatest(col("n_events") - n, lit(0L)).as("n_dropped"))

  /** Streaming quota accounting via `mapGroupsWithState`: state per
    * (user, hour) is ONE counter; every micro-batch emits the updated
    * (total, kept, dropped) row for Update-mode sinks. The emitted row
    * is a pure function of the running COUNT — order-insensitive, so
    * replays and micro-batch boundaries cannot change the converged
    * outcome (same design as [[latestPerKey]]'s total-order winner;
    * parity with [[quotaCountsBatch]] is spec-asserted). Note the
    * per-EVENT keep decision is deliberately NOT streamed: "first n by
    * event time" is order-sensitive under late data, so the streaming
    * tier carries the accounting and the batch tier replays the exact
    * per-event decision.
    *
    * State is BOUNDED by the watermark horizon: each (user, hour)
    * counter registers an `EventTimeTimeout` at the end of its hour, and
    * once the watermark proves no event for that hour can still arrive
    * the counter is dropped (emitting nothing — the converged row was
    * already emitted; Update-mode sinks hold it). Without the timeout a
    * long-running stream would accumulate one counter per (user, hour)
    * forever. An expired counter can never restart at zero: a row in
    * hour H satisfies ts < end(H), and expiry requires watermark >
    * end(H), so any such row would be older than the watermark and is
    * dropped by the engine before reaching the state function. Batch
    * runs have no watermark to register against (same convention as
    * [[sessionizeEventTime]]). */
  def quotaCounts(events: Dataset[KeyedEvent], n: Int = 3,
                  watermark: String = "1 hour"): Dataset[QuotaRow] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(e => (e.user_id, Math.floorDiv(micros(e.ts), 3600000000L)))
      .flatMapGroupsWithState[Long, QuotaRow](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case ((user, hr), rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val total = state.getOption.getOrElse(0L) + rows.size
            state.update(total)
            try {
              // end of hour in event-time ms; never behind the current
              // watermark (a late-but-in-horizon row would otherwise
              // register an already-passed timeout, which Spark rejects)
              val endMs = (hr + 1L) * 3600000L
              state.setTimeoutTimestamp(
                math.max(endMs, state.getCurrentWatermarkMs() + 1L))
            } catch { case _: UnsupportedOperationException => () }
            Iterator(QuotaRow(user, hr, total, math.min(total, n.toLong),
              math.max(total - n, 0L)))
          }
      }
  }

  /** Exact floor-division hour bucket over a timestamp column: DuckDB's
    * `//` floors while Spark's `div` truncates toward zero, which
    * diverges for pre-1970 timestamps — the pmod adjustment (always
    * non-negative) makes the integer arithmetic floor-exact on both
    * sides of the epoch, with no double quotient to misround at exact
    * hour boundaries. */
  def hourBucket(tsCol: String = "ts"): Column =
    expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), 3600000000))" +
      " div 3600000000")

  /** Streaming exact dedup by id within the watermark horizon
    * (`dropDuplicatesWithinWatermark`): state stores only ids younger
    * than the watermark, so a forever-running ingest keeps bounded state
    * — the streaming face of [[graft.operators.Dedup.exactDedup]] for
    * at-least-once sources that re-deliver events. */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-static enrichment: the event stream joined to a slowly-
    * changing dimension table (customer → market segment) and aggregated
    * per tumbling window. The static side is `broadcast` — in streaming
    * mode Spark re-plans the static relation per micro-batch, so the
    * stream side NEVER shuffles for the join (the only exchange is the
    * windowed aggregate's), which is the shape an enrichment join must
    * have when the stream is the 100 TB/day side. LEFT join: events
    * without a dimension row keep flowing, bucketed under "UNKNOWN" —
    * dropping unmatched telemetry silently is an outage-grade bug in an
    * attribution pipeline.
    *
    * On batch DataFrames `withWatermark` is a no-op and the same code is
    * the backfill path (how the oracle checks it). */
  def enrichedWindowedCounts(events: DataFrame, dim: DataFrame,
                             windowLen: String = "1 day",
                             watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(window(col("ts"), windowLen),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("segment"),
        col("n"), col("total_value"))

  /** Streaming MERGE: per-micro-batch INSERT_OR_UPDATE into a parquet
    * table through [[graft.mutate.UpsertWriter]] — the CDC-ingest shape
    * (stream of keyed changes → continuously-current table). `foreachBatch`
    * is the documented Spark seam for sinks with merge semantics that the
    * streaming engine doesn't provide natively; each micro-batch is one
    * keyed merge join + atomic directory swap, so readers of the table
    * always see a complete snapshot no older than one batch. On a real
    * deployment the writer seam is where a Delta/Iceberg `MERGE INTO`
    * slots in (see UpsertWriter's Scaladoc); exactly-once then comes from
    * the sink's idempotent merge + the source's replayed offsets. */
  /** `checkpoint`: the streaming checkpoint location. A production CDC
    * ingest MUST set it — it is what makes the query restartable with
    * exactly-once results (source offsets + aggregation state survive a
    * kill; on resume, committed batches are not re-fed and open windows
    * keep aggregating where they left off, which the restart e2e spec
    * enforces). None = Spark's per-query temp checkpoint (tests). */
  def streamUpsert(stream: DataFrame, path: String,
                   keyFields: Seq[String],
                   checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.mutate.UpsertWriter.write(batch, path,
          graft.mutate.UpsertWriter.InsertOrUpdate, keyFields)
        ()
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Stream-stream interval join: each purchase matches the same user's
    * clicks in the event-time window [p_ts - lookback, p_ts] — the
    * attribution join. Both sides carry watermarks and the join condition
    * bounds event-time distance, which is exactly what lets Spark prove
    * state eviction: click state older than watermark + lookback is
    * dropped, so an unbounded stream holds bounded state. On batch
    * DataFrames `withWatermark` is a no-op and the same code is the
    * backfill path (how the oracle checks it).
    *
    * `joinType` "inner" (default) or "left_outer": outer emits
    * unattributed purchases with null click columns — in streaming mode
    * only once the watermark proves no matching click can still arrive
    * (the event-time bound is what makes the null decision provable). */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
                   lookback: String = "1 hour",
                   watermark: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("c_event_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookback"),
        joinType)
      .select("p_event_id", "user_id", "p_ts", "c_event_id", "c_ts")
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class KeyedEvent(user_id: Long, event_type: String, event_id: Long,
                              ts: java.sql.Timestamp, value: Double)
  final case class QuotaRow(user_id: Long, hr: Long, n_events: Long,
                            n_kept: Long, n_dropped: Long)
  final case class Session(user_id: Long, n_events: Long, total: Double, open: Boolean)
  final case class SessionAcc(n_events: Long, total: Double,
                              start_ts: java.sql.Timestamp,
                              last_ts: java.sql.Timestamp)
  final case class ClosedSession(user_id: Long, n_events: Long, total: Double,
                                 session_start: java.sql.Timestamp,
                                 session_end: java.sql.Timestamp)

  /** Micros since epoch, preserving the sub-millisecond digits `getTime`
    * drops (events carry micros precision; boundary comparisons and
    * emitted session bounds must keep them). */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  /** Event-time gap sessionization — the true streaming counterpart of
    * [[sessionizeBatch]] (same gap semantics; that method is the replay/
    * backfill path over identical data). A session CLOSES and is emitted
    * exactly once, when either (a) a later event from the same user
    * arrives more than `gapMicros` after the session's last event (the
    * in-batch straddle), or (b) the WATERMARK passes last_event + gap —
    * `EventTimeTimeout` makes the no-more-events decision provable, so
    * state is bounded by the watermark horizon, not by user count ×
    * session age. Events within a batch are processed in event-time
    * order, so the fold is deterministic.
    *
    * Batch execution (backfill over the same code): timeouts cannot be
    * registered without a streaming watermark, so the timeout
    * registration is skipped there — each user's FINAL (still-open)
    * session is simply not emitted, which is exactly the streaming
    * semantics at the same point in event time. That batch behavior is
    * oracle-checked (`st_session_closed`); original Timestamp objects
    * ride through the state so session bounds keep micros precision. */
  def sessionizeEventTime(events: Dataset[Event], gapMicros: Long = 3600000000L,
                          watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    def close(uid: Long, a: SessionAcc): ClosedSession =
      ClosedSession(uid, a.n_events, a.total, a.start_ts, a.last_ts)
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(close(uid, s))
          } else {
            val out = scala.collection.mutable.ArrayBuffer[ClosedSession]()
            var acc = state.getOption
            rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
              acc match {
                case Some(a) if micros(e.ts) - micros(a.last_ts) > gapMicros =>
                  out += close(uid, a)
                  acc = Some(SessionAcc(1L, e.value, e.ts, e.ts))
                case Some(a) =>
                  acc = Some(a.copy(n_events = a.n_events + 1L,
                    total = a.total + e.value, last_ts = e.ts))
                case None =>
                  acc = Some(SessionAcc(1L, e.value, e.ts, e.ts))
              }
            }
            acc.foreach { a =>
              state.update(a)
              // batch runs have no watermark to time out against —
              // registration is streaming-only (see Scaladoc)
              try state.setTimeoutTimestamp(a.last_ts.getTime + gapMicros / 1000L)
              catch { case _: UnsupportedOperationException => () }
            }
            out.iterator
          }
      }
  }

  /** Per-user running session via flatMapGroupsWithState: accumulates
    * (count, sum) per user and emits the updated session on every batch.
    * With `timeoutMs > 0` state expires after that much processing-time
    * inactivity and the closed session is emitted (note: processing-time
    * timeouts make the engine run timeout-evaluation micro-batches
    * continuously — expected on a live stream, but `processAllAvailable`
    * never settles, so tests and bounded replays should pass 0). */
  def sessionize(events: Dataset[Event], timeoutMs: Long = 0L): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append(), timeoutConf) {
        (uid: Long, rows: Iterator[Event], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(s.copy(open = false))
          } else {
            val prev = state.getOption.getOrElse(Session(uid, 0L, 0.0, open = true))
            val batch = rows.toSeq
            val next = prev.copy(
              n_events = prev.n_events + batch.size,
              total = prev.total + batch.map(_.value).sum)
            state.update(next)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator(next)
          }
      }
  }
}
