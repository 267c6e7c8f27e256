package graft.fuzz

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, KeyedEvent}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.util.Random

/** Randomized streaming-vs-batch parity fuzz — the [[TemporalFuzz]]
  * discipline aimed at the streaming tier (r15 verdict item 3): random
  * event schedules (out-of-order within the watermark, late-beyond-
  * watermark, duplicate bursts, key churn, heartbeat-only batches) fed
  * batch-by-batch through `MemoryStream` into every streaming face of
  * [[EventStream]], asserted against the batch twins.
  *
  * The second engine here is NOT a re-implementation of the operators —
  * the batch twins are already oracle-gated against DuckDB — it is a
  * literal replay of Spark's documented WATERMARK semantics, pinned
  * empirically this round (FIXTURES §13) with boundary probes:
  *
  *  - the watermark before batch i+1 is `max(wm_i, floorMs(maxTs over
  *    batch i) − delayMs)`, starting at 0; late rows never advance it;
  *  - windowed aggregations DROP an input row iff its window END ≤ wm
  *    (boundary inclusive, post-window-expansion — a hopping event can
  *    be late for its older windows and counted in newer ones), and in
  *    append mode EMIT a window iff window end ≤ final wm;
  *  - `flatMapGroupsWithState` with `EventTimeTimeout` drops rows with
  *    ts ≤ wm; with `NoTimeout` it drops NOTHING (no event-time filter);
  *  - `EventTimeTimeout` fires strictly after (wm > timeoutTs);
  *  - `dropDuplicatesWithinWatermark` drops rows with ts ≤ wm and
  *    guarantees dedup only for duplicates within the delay of each
  *    other (the generator keeps dup gaps inside delay/2);
  *  - a deterministic non-event-time predicate after `withWatermark`
  *    (windowedDdBuckets' value>0) is PUSHED BELOW the watermark node,
  *    so rows failing it never advance that query's watermark — found
  *    by this fuzzer's first run and pinned in the DD differential.
  *
  * The model computes exactly which events each stage RETAINS and which
  * windows CLOSE; the retained set is then pushed through the SAME
  * batch code (or an exact BigDecimal replay of the decimal(18,6)
  * aggregation where retention is per-(event,window)), so any
  * divergence is a streaming-semantics bug, not a value-arithmetic one.
  *
  * The fast deterministic subset runs in StreamFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz stream` (FUZZ_r<N>.json),
  * which also runs the randomized checkpoint-kill-and-resume round
  * (file-source slices through [[EventStream.streamUpsert]]) every 4th
  * set.
  */
object StreamFuzz extends Surface {

  final case class Ev(user: Long, etype: String, id: Long, tsMicros: Long,
                      value: Double)
  final case class Sched(batches: Seq[Seq[Ev]], delayMs: Long, lenMs: Long) {
    def delayStr = s"$delayMs milliseconds"
    def lenStr = s"$lenMs milliseconds"
  }

  private def tsOf(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }
  private def microsOf(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  // ------------------------------------------------------------------
  // watermark model (the pinned semantics, replayed literally)
  // ------------------------------------------------------------------

  /** wm (ms) BEFORE each batch: wmBefore(0) = 0; thereafter the pinned
    * max-minus-delay recurrence over ms-floored event times. */
  def wmBefore(s: Sched): Seq[Long] =
    s.batches.scanLeft(0L) { (wm, b) =>
      if (b.isEmpty) wm
      else math.max(wm, b.map(e => Math.floorDiv(e.tsMicros, 1000L)).max - s.delayMs)
    }

  def wmFinal(s: Sched): Long = wmBefore(s).last

  /** Tumbling window start (µs, epoch grid). */
  def winStart(tsMicros: Long, lenMs: Long): Long =
    Math.floorDiv(tsMicros, lenMs * 1000L) * (lenMs * 1000L)

  /** Events retained by a tumbling windowed aggregation: window end
    * strictly above the wm in force when the batch arrived. */
  def retainedWindowed(s: Sched): Seq[Ev] = {
    val wms = wmBefore(s)
    s.batches.zipWithIndex.flatMap { case (b, i) =>
      b.filter(e => winStart(e.tsMicros, s.lenMs) + s.lenMs * 1000L > wms(i) * 1000L)
    }
  }

  /** Events retained by a ts-predicate stateful op (EventTimeTimeout
    * fMGWS, dropDuplicatesWithinWatermark): ts strictly above wm. */
  def retainedByTs(s: Sched): Seq[Ev] = {
    val wms = wmBefore(s)
    s.batches.zipWithIndex.flatMap { case (b, i) =>
      b.filter(e => e.tsMicros > wms(i) * 1000L)
    }
  }

  /** Closed tumbling windows (start µs): end ≤ final wm. */
  def isClosed(startMicros: Long, s: Sched): Boolean =
    startMicros + s.lenMs * 1000L <= wmFinal(s) * 1000L

  // ------------------------------------------------------------------
  // generator
  // ------------------------------------------------------------------

  private val BASE = java.time.Instant.parse("2026-03-01T00:00:00Z")
    .toEpochMilli * 1000L
  private val ETYPES = Seq("click", "view", "buy")

  /** Random schedule: advancing clock, within-delay out-of-orderness,
    * (optionally) late-beyond-watermark rows, duplicate bursts inside
    * delay/2, key churn, heartbeat-only batches, a final far-future
    * advancer that closes every real window. */
  def schedule(r: Random, withLate: Boolean): Sched = {
    val delayMs = Seq(60000L, 600000L, 3600000L)(r.nextInt(3))
    val lenMs = Seq(delayMs, delayMs * 6)(r.nextInt(2))
    val users = (1L to (1 + r.nextInt(5))).toSeq
    val nBatches = 3 + r.nextInt(4)
    var clock = BASE
    var nextId = 1L
    var maxSeen = 0L
    val batches = Seq.newBuilder[Seq[Ev]]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Ev]
    for (bi <- 0 until nBatches) {
      val b = Seq.newBuilder[Ev]
      val n = if (r.nextInt(6) == 0) 0 else r.nextInt(13) // heartbeat-only
      for (_ <- 0 until n) {
        // key churn: early users fade, late users appear
        val pool = users.filter(u => (u + bi) % 7 != 0)
        val u = if (pool.isEmpty) users.head else pool(r.nextInt(pool.size))
        val jitter = (r.nextDouble() * 2 - 0.4) * delayMs * 1000L
        val ts0 = clock + jitter.toLong
        val ts =
          if (withLate && r.nextInt(8) == 0 && maxSeen > 0)
            // deliberately below the wm in force at this batch
            math.max(BASE, maxSeen - (delayMs + 1 + r.nextInt(5000)) * 1000L)
          else ts0
        val v = (r.nextInt(41) - 8) * 0.25 // incl. zero and negatives
        b += Ev(u, ETYPES(r.nextInt(ETYPES.size)), nextId, ts, v)
        nextId += 1
      }
      val batch0 = b.result()
      // duplicate burst: re-emit an earlier event id with a small ts
      // nudge (inside delay/2 so dedup state provably still holds it)
      val dups = if (emitted.nonEmpty && r.nextInt(3) == 0) {
        val src = emitted(r.nextInt(emitted.size))
        Seq(src.copy(tsMicros = src.tsMicros + 1 + r.nextInt((delayMs * 500).toInt max 2)))
      } else Nil
      val batch = r.shuffle(batch0 ++ dups)
      emitted ++= batch0
      if (batch.nonEmpty) maxSeen = math.max(maxSeen, batch.map(_.tsMicros).max)
      batches += batch
      clock += (r.nextDouble() * 1.5 * delayMs * 1000L).toLong
    }
    // far-future advancer: closes every real window / session / timeout
    val adv = Ev(999999L, "hb", nextId, maxSeen + (delayMs * 4 + lenMs * 3) * 1000L, 0.0)
    batches += Seq(adv)
    Sched(batches.result(), delayMs, lenMs)
  }

  /** Session schedule: per-user MONOTONE event times across batches
    * (streaming gap-sessionization folds in arrival order — cross-batch
    * out-of-order arrivals are a documented non-parity), unique
    * (user, ts), µs digits planted, gap straddles and timeout closes. */
  def sessionSchedule(r: Random): (Sched, Long) = {
    val delayMs = Seq(60000L, 600000L)(r.nextInt(2))
    val gapMicros = (delayMs * 1000L) * (1 + r.nextInt(4))
    val users = (1L to (1 + r.nextInt(4))).toSeq
    val nBatches = 3 + r.nextInt(3)
    // per-user monotone streams
    val perUser = users.map { u =>
      var t = BASE + r.nextInt(1000000) * 1000L
      val evs = (0 until r.nextInt(10)).map { i =>
        // mix of intra-gap steps and gap straddles, with µs digits
        t += (if (r.nextInt(3) == 0) gapMicros + 1 + r.nextInt(1000)
              else 1 + (r.nextDouble() * gapMicros * 0.8).toLong)
        Ev(u, "s", u * 1000 + i, t, (r.nextInt(9)) * 0.5)
      }
      u -> evs
    }.toMap
    // deal each user's stream in order across batches
    val cursors = scala.collection.mutable.Map(perUser.view.mapValues(_ => 0).toSeq: _*)
    val batches = Seq.newBuilder[Seq[Ev]]
    for (_ <- 0 until nBatches) {
      val b = Seq.newBuilder[Ev]
      for (u <- users) {
        val take = r.nextInt(4)
        val evs = perUser(u)
        val c = cursors(u)
        b ++= evs.slice(c, math.min(c + take, evs.size))
        cursors(u) = math.min(c + take, evs.size)
      }
      batches += r.shuffle(b.result())
    }
    // drain the rest, then the advancer
    val rest = users.flatMap(u => perUser(u).drop(cursors(u)))
    if (rest.nonEmpty) batches += r.shuffle(rest)
    val maxTs = (perUser.values.flatten.map(_.tsMicros) ++ Seq(BASE)).max
    batches += Seq(Ev(999999L, "hb", 999999L,
      maxTs + gapMicros * 3 + delayMs * 4000L, 0.0))
    (Sched(batches.result(), delayMs, 0L), gapMicros)
  }

  // ------------------------------------------------------------------
  // differential harness
  // ------------------------------------------------------------------

  private val qid = new java.util.concurrent.atomic.AtomicLong(0L)
  private def sink(): String = s"stfz_${qid.incrementAndGet()}"

  private def toDf(spark: SparkSession, evs: Seq[Ev]): DataFrame = {
    import spark.implicits._
    evs.map(e => (tsOf(e.tsMicros), e.etype, e.user, e.value, e.id))
      .toDF("ts", "event_type", "user_id", "value", "event_id")
  }

  /** Feed the schedule one micro-batch per addData through `transform`,
    * collect the named memory sink. */
  private def runStream(spark: SparkSession, s: Sched, mode: String,
                        transform: DataFrame => DataFrame)
      : Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double, Long)]
    val df = mem.toDF.toDF("ts", "event_type", "user_id", "value", "event_id")
    val name = sink()
    val q = transform(df).writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      s.batches.foreach { b =>
        if (b.nonEmpty)
          mem.addData(b.map(e => (tsOf(e.tsMicros), e.etype, e.user, e.value, e.id)): _*)
        q.processAllAvailable()
      }
      q.processAllAvailable()
      spark.table(name).collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  private def fmtRows(rows: Seq[Seq[Any]]): String =
    rows.sortBy(_.mkString("|")).map(_.mkString(",")).mkString(" ; ")

  private def cmp(tag: String, stream: Seq[Seq[Any]], batch: Seq[Seq[Any]])
      : Seq[String] = {
    val a = stream.map(_.map {
      case t: Timestamp => microsOf(t)
      case x => x
    }).sortBy(_.mkString("|"))
    val b = batch.map(_.map {
      case t: Timestamp => microsOf(t)
      case x => x
    }).sortBy(_.mkString("|"))
    if (a == b) Nil
    else Seq(s"$tag: stream=${fmtRows(a)} batch=${fmtRows(b)}")
  }

  /** All MemoryStream differentials for one schedule. */
  def runOne(spark: SparkSession, s: Sched): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val retW = retainedWindowed(s)
    val retT = retainedByTs(s)
    val allEvs = s.batches.flatten

    // 1. tumbling windowed counts: stream(append, closed) vs batch twin
    // over the retained events filtered to closed windows
    locally {
      val st = runStream(spark, s, "append",
        df => EventStream.windowedCounts(df, s.lenStr, s.delayStr))
        .map(r => Seq(microsOf(r.getTimestamp(0)), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      val bt = EventStream.windowedCounts(toDf(spark, retW), s.lenStr, s.delayStr)
        .collect().toSeq
        .map(r => Seq(microsOf(r.getTimestamp(0)), r.getString(1), r.getLong(2),
          r.getDouble(3)))
        .filter(row => isClosed(row.head.asInstanceOf[Long], s))
      errs ++= cmp("windowedCounts", st, bt)
    }

    // 2. hopping windows: retention is per-(event, window) — exact
    // BigDecimal replay of the decimal(18,6) aggregation
    locally {
      val slideMs = s.lenMs / 2
      val st = runStream(spark, s, "append",
        df => EventStream.hoppingWindowedCounts(df, s.lenStr,
          s"$slideMs milliseconds", s.delayStr))
        .map(r => Seq(microsOf(r.getTimestamp(0)), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      val wms = wmBefore(s)
      val kept = for {
        (b, i) <- s.batches.zipWithIndex
        e <- b
        k <- {
          val slideUs = slideMs * 1000L; val lenUs = s.lenMs * 1000L
          val kMax = Math.floorDiv(e.tsMicros, slideUs)
          val kMin = Math.floorDiv(e.tsMicros - lenUs, slideUs) + 1
          (kMin to kMax).map(_ * slideUs)
        }
        if k + s.lenMs * 1000L > wms(i) * 1000L // per-window late filter
        if isClosed(k, s)                       // append-mode closure
      } yield (k, e)
      val md = kept.groupBy { case (k, e) => (k, e.etype) }.toSeq.map {
        case ((k, t), xs) =>
          val sum = xs.map { case (_, e) =>
            BigDecimal(e.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }.sum
          Seq[Any](k, t, xs.size.toLong, sum.toDouble)
      }
      errs ++= cmp("hoppingWindowedCounts", st, md)
    }

    // 3-5. windowed sketches (CMS cells / HLL registers / DD buckets):
    // batch twins over the retained events, closed windows only
    def sketchDiff(tag: String, f: DataFrame => DataFrame,
                   cols: Int): Unit = {
      val st = runStream(spark, s, "append", f)
        .map(r => Seq[Any](microsOf(r.getTimestamp(0))) ++
          (1 until cols).map(r.get))
      val bt = f(toDf(spark, retW)).collect().toSeq
        .map(r => Seq[Any](microsOf(r.getTimestamp(0))) ++
          (1 until cols).map(r.get))
        .filter(row => isClosed(row.head.asInstanceOf[Long], s))
      errs ++= cmp(tag, st, bt)
    }
    sketchDiff("windowedCmsCells",
      df => EventStream.windowedCmsCells(df, "user_id", width = 64, depth = 3,
        windowLen = s.lenStr, watermark = s.delayStr), 4)
    sketchDiff("windowedHllRegisters",
      df => EventStream.windowedHllRegisters(df, "user_id", p = 4,
        windowLen = s.lenStr, watermark = s.delayStr), 3)
    // DD buckets: the value>0 predicate is PUSHED BELOW the watermark
    // node by Catalyst (found by this fuzzer's first run), so only
    // passing rows advance DD's watermark — the model replays the
    // filtered schedule's watermark, not the query-global one
    locally {
      val fs = Sched(s.batches.map(_.filter(_.value > 0)), s.delayMs, s.lenMs)
      val f = (df: DataFrame) => EventStream.windowedDdBuckets(df, "value",
        alpha = 0.02, windowLen = s.lenStr, watermark = s.delayStr)
      val st = runStream(spark, s, "append", f)
        .map(r => Seq[Any](microsOf(r.getTimestamp(0)), r.get(1), r.get(2)))
      val bt = f(toDf(spark, retainedWindowed(fs))).collect().toSeq
        .map(r => Seq[Any](microsOf(r.getTimestamp(0)), r.get(1), r.get(2)))
        .filter(row => isClosed(row.head.asInstanceOf[Long], fs))
      errs ++= cmp("windowedDdBuckets", st, bt)
    }

    // 5b. stream-static enrichment join (broadcast dim re-planned per
    // micro-batch) + windowed aggregate: batch twin over the retained
    // events with the same dim, closed windows only. Key churn makes
    // some users UNMATCHED -> the UNKNOWN bucket is always exercised.
    locally {
      import spark.implicits._
      val dimRows = allEvs.map(_.user).distinct.sorted
        .zipWithIndex.collect { case (u, i) if i % 2 == 0 =>
          (u, s"SEG${u % 3}") }
      val dim = dimRows.toDF("c_custkey", "c_mktsegment")
      val f = (df: DataFrame) => EventStream.enrichedWindowedCounts(
        df, dim, s.lenStr, s.delayStr)
      val st = runStream(spark, s, "append", f)
        .map(r => Seq[Any](microsOf(r.getTimestamp(0)), r.getString(1),
          r.getLong(2), r.getDouble(3)))
      val bt = f(toDf(spark, retW)).collect().toSeq
        .map(r => Seq[Any](microsOf(r.getTimestamp(0)), r.getString(1),
          r.getLong(2), r.getDouble(3)))
        .filter(row => isClosed(row.head.asInstanceOf[Long], s))
      errs ++= cmp("enrichedWindowedCounts", st, bt)
    }

    // 6. CDC keep-latest (mapGroupsWithState, NO watermark): converged
    // winner per key over ALL events == batch twin
    locally {
      import spark.implicits._
      val st = runStream(spark, s, "update", df =>
        EventStream.latestPerKey(
          df.select(col("user_id"), col("event_type"), col("event_id"),
            col("ts"), col("value")).as[KeyedEvent]).toDF)
      val winners = st.groupBy(r => (r.getLong(0), r.getString(1)))
        .map { case (_, rows) =>
          val w = rows.maxBy(r => (microsOf(r.getTimestamp(3)), r.getLong(2)))
          Seq[Any](w.getLong(0), w.getString(1), w.getLong(2),
            microsOf(w.getTimestamp(3)), w.getDouble(4))
        }.toSeq
      val bt = EventStream.latestPerKeyBatch(toDf(spark, allEvs))
        .collect().toSeq
        .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getLong(2),
          microsOf(r.getTimestamp(3)), r.getDouble(4)))
      errs ++= cmp("latestPerKey", winners, bt)
    }

    // 7. quota accounting (fMGWS + EventTimeTimeout): converged totals
    // per (user, hour) over the ts-retained events == batch twin
    locally {
      import spark.implicits._
      val st = runStream(spark, s, "update", df =>
        EventStream.quotaCounts(
          df.select(col("user_id"), col("event_type"), col("event_id"),
            col("ts"), col("value")).as[KeyedEvent],
          n = 3, watermark = s.delayStr).toDF)
      val conv = st.groupBy(r => (r.getLong(0), r.getLong(1)))
        .map { case (_, rows) => rows.maxBy(_.getLong(2)) }
        .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val bt = EventStream.quotaCountsBatch(toDf(spark, retT), n = 3)
        .collect().toSeq
        .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      errs ++= cmp("quotaCounts", conv, bt)
    }

    // 8. dedup within watermark: emitted ids == first-retained-occurrence
    // ids, each exactly once (dup gaps < delay/2 by construction)
    locally {
      val st = runStream(spark, s, "append",
        df => EventStream.dedupStream(df, "event_id", s.delayStr))
        .map(_.getLong(4))
      val expected = {
        val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
        retT.foreach(e => seen += e.id)
        seen.toSeq
      }
      if (st.sorted != expected.sorted)
        errs += s"dedupStream: stream ids=${st.sorted.mkString(",")} " +
          s"expected=${expected.sorted.mkString(",")}"
    }
    errs.result()
  }

  /** Session differential: closed streaming sessions (in-order per-user
    * schedule + advancer) == batch gap sessionization over the
    * ts-retained events, advancer excluded. */
  def runSessions(spark: SparkSession, s: Sched, gapMicros: Long): Seq[String] = {
    import spark.implicits._
    val st = runStream(spark, s, "append", df =>
      EventStream.sessionizeEventTime(
        df.select(col("user_id"), col("ts"), col("value")).as[Event],
        gapMicros, s.delayStr).toDF)
      .filter(_.getLong(0) != 999999L)
      .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2),
        microsOf(r.getTimestamp(3)), microsOf(r.getTimestamp(4))))
    val retT = retainedByTs(s).filter(_.user != 999999L)
    val bt = EventStream.sessionizeBatch(toDf(spark, retT), gapMicros)
      .select(col("user_id"), col("n"), col("total_value"),
        col("session_start"), col("session_end"))
      .collect().toSeq
      .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2),
        microsOf(r.getTimestamp(3)), microsOf(r.getTimestamp(4))))
    cmp("sessionizeEventTime", st, bt)
  }

  /** Interval-join differential: no-late two-stream schedule (generated
    * here from the seed), streaming inner join == batch join over all
    * events once both sides are flushed by far-future advancers. */
  def runIntervalJoin(spark: SparkSession, r: Random): Seq[String] = {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val delayMs = 600000L
    val lookbackMs = Seq(60000L, 600000L)(r.nextInt(2))
    val users = (1L to (1 + r.nextInt(3))).toSeq
    var clock = BASE
    var id = 1L
    val nB = 3 + r.nextInt(3)
    // no-late: both sides share one clock; jitter bounded inside delay/2
    def mk(n: Int): Seq[Ev] = (0 until n).map { _ =>
      val ts = clock + (r.nextDouble() * delayMs * 400).toLong // ≤ delay*0.4
      id += 1
      Ev(users(r.nextInt(users.size)), "e", id, ts, 0.0)
    }
    val batches = (0 until nB).map { _ =>
      val p = mk(r.nextInt(5)); val c = mk(r.nextInt(7))
      clock += (delayMs * 300 + r.nextDouble() * delayMs * 200).toLong
      (p, c)
    } :+ {
      val adv = clock + (delayMs * 6 + lookbackMs * 3) * 1000L
      (Seq(Ev(999999L, "e", { id += 1; id }, adv, 0.0)),
        Seq(Ev(999998L, "e", { id += 1; id }, adv, 0.0)))
    }
    val pm = MemoryStream[(Timestamp, Long, Long)]
    val cm = MemoryStream[(Timestamp, Long, Long)]
    val name = sink()
    val q = EventStream.intervalJoin(
        pm.toDF.toDF("ts", "event_id", "user_id"),
        cm.toDF.toDF("ts", "event_id", "user_id"),
        s"$lookbackMs milliseconds", s"$delayMs milliseconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val st = try {
      batches.foreach { case (p, c) =>
        if (p.nonEmpty) pm.addData(p.map(e => (tsOf(e.tsMicros), e.id, e.user)): _*)
        if (c.nonEmpty) cm.addData(c.map(e => (tsOf(e.tsMicros), e.id, e.user)): _*)
        q.processAllAvailable()
      }
      q.processAllAvailable()
      spark.table(name).collect().toSeq.map(r => (r.getLong(0), r.getLong(3)))
    } finally { q.stop(); spark.catalog.dropTempView(name) }
    def side(xs: Seq[Ev]) = xs.map(e => (tsOf(e.tsMicros), e.id, e.user))
      .toDF("ts", "event_id", "user_id")
    val bt = EventStream.intervalJoin(
        side(batches.flatMap(_._1)), side(batches.flatMap(_._2)),
        s"$lookbackMs milliseconds", s"$delayMs milliseconds")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(3)))
    if (st.sorted == bt.sorted) Nil
    else Seq(s"intervalJoin: stream=${st.sorted.mkString(",")} batch=${bt.sorted.mkString(",")}")
  }

  /** Drop events until no event is window-late under the schedule's own
    * watermark recurrence (fixpoint — removing a batch max can only
    * LOWER later watermarks, so the result is a valid late-free
    * schedule). Used by the restart round, where late handling is
    * deliberately out of scope (see [[runRestart]]). */
  def sanitizeNoLate(slices0: Seq[Seq[Ev]], delayMs: Long,
                     lenMs: Long): Seq[Seq[Ev]] = {
    var cur = slices0
    var changed = true
    while (changed) {
      val wms = wmBefore(Sched(cur, delayMs, lenMs))
      val next = cur.zipWithIndex.map { case (b, i) =>
        b.filter(e =>
          winStart(e.tsMicros, lenMs) + lenMs * 1000L > wms(i) * 1000L)
      }
      changed = next.map(_.size).sum != cur.map(_.size).sum
      cur = next
    }
    cur.filter(_.nonEmpty)
  }

  /** Checkpoint-kill round: file-source slices (one micro-batch each)
    * through windowedCounts → streamUpsert; the query is stopped after
    * a random slice and resumed from the checkpoint. The schedule is
    * SANITIZED late-free first: in back-to-back catch-up batches the
    * late filter runs one batch STALE relative to the reported
    * watermark (pinned by this fuzzer's probes — interactive runs mask
    * it with interleaved no-data batches), so late semantics here are
    * execution-timing-dependent by design. Append-mode differentials
    * pin late handling; this round pins exactly-once RESUME: final
    * table == the batch twin over every slice event (update mode: open
    * windows included), with no window lost at the kill boundary and
    * no batch double-merged. */
  def runRestart(spark: SparkSession, s: Sched, dir: String,
                 killAfter: Int): Seq[String] = {
    val in = s"$dir/in"; val cp = s"$dir/cp"; val table = s"$dir/table"
    new java.io.File(in).mkdirs()
    val slices = sanitizeNoLate(s.batches.filter(_.nonEmpty),
      s.delayMs, s.lenMs)
    if (slices.size < 2) return Nil // nothing left to straddle a kill
    def writeSlice(b: Seq[Ev], j: Int): Unit = {
      val tmp = s"$dir/_tmp$j"
      toDf(spark, b).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$in/slice$j.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // the file source orders batches by MODIFICATION TIME and its
      // tie-break is arbitrary — slices written inside one ms can be
      // consumed out of order, which reorders the watermark lineage
      // (observed: a later slice processed under an earlier slice's wm).
      // Strictly increasing mtimes pin the batch order to slice order.
      dst.setLastModified(dst.lastModified() / 60000L * 60000L + j * 2000L)
      ()
    }
    val k = math.max(1, math.min(killAfter, slices.size - 1))
    slices.take(k).zipWithIndex.foreach { case (b, j) => writeSlice(b, j) }
    val schema = spark.read.parquet(in).schema
    def start() = EventStream.streamUpsert(
      EventStream.windowedCounts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in),
        s.lenStr, s.delayStr),
      table, Seq("window_start", "event_type"), Some(cp))
    // run 1: first k slices, then a stop between batches (the kill)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // remaining slices land while the query is down; resume from the
    // checkpoint — offsets and open-window state must survive
    slices.drop(k).zipWithIndex.foreach { case (b, j) => writeSlice(b, k + j) }
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(table)
      .select(col("window_start"), col("event_type"), col("n"), col("total_value"))
      .collect().toSeq
      .map(r => Seq[Any](microsOf(r.getTimestamp(0)), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    // the sanitized schedule is provably late-free under the freshest
    // watermark, so any stale-filter execution drops the same NOTHING:
    // expected = batch twin over every slice event, open windows
    // included (update mode)
    val bt = EventStream.windowedCounts(
        toDf(spark, slices.flatten), s.lenStr, s.delayStr)
      .collect().toSeq
      .map(r => Seq[Any](microsOf(r.getTimestamp(0)), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    cmp("restartUpsert", got, bt)
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = (Sched, Sched, Long)
  val name = "stream"
  val sets = 20
  def draw(r: Random, seed: Long, i: Int): In = {
    val s = schedule(r, withLate = i % 2 == 1)
    val (ss, gap) = sessionSchedule(r)
    (s, ss, gap)
  }
  /** The interval-join differential and every 4th set's checkpoint-kill
    * round read their shapes from `r`. */
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] = {
    val (s, ss, gap) = in
    runOne(spark, s) ++ runSessions(spark, ss, gap) ++
      runIntervalJoin(spark, r) ++
      (if (i % 4 == 0) {
        val dir = java.nio.file.Files.createTempDirectory("stfuzz").toFile
        try runRestart(spark, s, dir.toString, killAfter = 1 + r.nextInt(3))
        finally graft.catalog.TestDirs.rmTree(dir)
      } else Nil)
  }
  def repro(spark: SparkSession, in: In, i: Int): String =
    "schedule: " + in._1.batches.map(_.mkString(",")).mkString(" || ")
}
