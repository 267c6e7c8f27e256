package graft.fuzz

import graft.operators.{AsofJoin, RangeJoin}
import graft.streaming.EventStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded differential fuzz for the temporal-join tier — the
  * [[CorpusFuzz]] / [[VectorFuzz]] / [[GraphFuzz]] discipline aimed at
  * [[AsofJoin]] (backward / forward / nearest ± tie collapse),
  * [[RangeJoin]] (point-in-interval and interval-overlap bin blocking)
  * and the batch faces of [[EventStream]] (gap sessionization, CDC
  * keep-latest, hour-bucket quotas, tumbling and hopping windowed
  * aggregates). The second engine is a PLAIN-SCALA reference model per
  * operator: literal per-key candidate scans for the joins, a literal
  * sort-and-split for sessionization, `Math.floorDiv` epoch grids for
  * the window/bucket assignments, and exact decimal(18,6) HALF_UP sums
  * mirroring the documented cross-engine aggregation contract. The
  * models share nothing with the Spark implementations (which are
  * union-sort window carries and bin-exploded equi-joins), so a
  * divergence is a real bug.
  *
  * Adversarial shapes planted per set: timestamps EXACTLY ON bin / hour
  * / window boundaries and ±1 microsecond around them (the inclusive
  * `<=` / `>=` boundary class that produced the r14 ceilSafe catch),
  * equal left/right timestamps (the `<=` vs `<` asof distinction),
  * pre-1970 negative-epoch instants (floor-vs-truncate division),
  * sub-millisecond micros (the `getTime` precision trap), zero-length
  * and bin-spanning intervals, duplicate right (key, ts) rows for the
  * tie-collapse path, null value columns (the nearest-row struct-carry
  * null contract), and empty sides.
  *
  * The fast deterministic subset runs in TemporalFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz temporal` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object TemporalFuzz extends Surface {

  // all timestamps are micros-since-epoch Longs in the model domain
  final case class LRow(lid: Long, key: Long, lts: Long)
  final case class RRow(rid: Long, key: Long, rts: Long,
                        v: Option[Double], s: Option[String])
  final case class ERow(user_id: Long, event_type: String, event_id: Long,
                        ts: Long, value: Option[Double])
  final case class IRow(iid: Long, key: Long, is: Long, ie: Long)

  final case class TParams(binMicros: Long, gapMicros: Long, quotaN: Int,
                           winLenMs: Long, slideMs: Long)
  final case class TSet(left: Seq[LRow], right: Seq[RRow],
                        rightDup: Seq[RRow], events: Seq[ERow],
                        ivalsL: Seq[IRow], ivalsR: Seq[IRow], p: TParams)

  /** micros → java.sql.Timestamp preserving sub-millisecond digits. */
  def tsOf(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
    t
  }

  /** java.sql.Timestamp → micros (the EventStream.micros formula). */
  def microsOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  // ------------------------------------------------------------------
  // set generator
  // ------------------------------------------------------------------

  def tempoSet(r: Random): TSet = {
    val binMicros = Vector(3600000000L, 86400000000L, 900000000L,
      1000000L)(r.nextInt(4))
    val winLenMs = Vector(3600000L, 1800000L, 60000L)(r.nextInt(3))
    val slideMs = winLenMs / Vector(1L, 2L, 4L)(r.nextInt(3))
    // time origin: epoch, a 2023-scale instant, or pre-1970 (negative
    // micros exercise floor-vs-truncate in every grid assignment)
    val origin = Vector(0L, 1700000000000000L, -4L * binMicros)(r.nextInt(3))

    /** Adversarial instant: boundary-aligned, boundary ± 1 µs,
      * half-bin, sub-millisecond, or uniform within a few bins. */
    def instant(): Long = {
      val k = r.nextInt(5).toLong
      r.nextInt(6) match {
        case 0 => origin + k * binMicros                    // exactly on a bin edge
        case 1 => origin + k * binMicros + (if (r.nextBoolean()) 1 else -1)
        case 2 => origin + k * binMicros + binMicros / 2
        case 3 => origin + k * 3600000000L                  // hour / window edge
        case 4 => origin + k * binMicros + 999L + r.nextInt(999) * 1000L // sub-ms
        case 5 => origin + (r.nextLong() % (4 * binMicros)).abs
      }
    }

    val nKeys = 1 + r.nextInt(3)
    def key() = r.nextInt(nKeys).toLong
    def value(): Option[Double] =
      if (r.nextInt(5) == 0) None
      else Some(math.round(r.nextDouble() * 1e8).toDouble / 100.0)

    val nl = if (r.nextInt(10) == 0) 0 else 3 + r.nextInt(25)
    val nr = if (r.nextInt(10) == 0) 0 else 3 + r.nextInt(25)
    val left = (0 until nl).map(i => LRow(i.toLong, key(), instant()))
    // right rows sharing (key, ts) would make the plain asof carries
    // sort-order-dependent in their VALUES, so the base right frame is
    // unique per (key, ts); planted duplicates live in rightDup and are
    // exercised only through the documented rightTieCols collapse.
    val right0 = (0 until nr).map(i =>
      RRow(1000L + i, key(), instant(), value(),
        if (r.nextInt(6) == 0) None else Some(s"s${r.nextInt(9)}")))
    val right = right0.groupBy(x => (x.key, x.rts)).values.map(_.head).toVector
      .sortBy(_.rid)
    // planted equal-ts duplicates carrying DIFFERENT values: the tie
    // collapse (min_by over tie columns) must pick the tie-minimal row
    // half the planted duplicates get a SMALLER rid than the original so
    // the tie-minimal winner alternates between original and duplicate
    val dups = right.take(r.nextInt(1 + math.min(right.size, 4))).map(x =>
      x.copy(rid = if (r.nextBoolean()) 2000L + x.rid else x.rid - 900L,
        v = value(), s = Some(s"d${r.nextInt(9)}")))
    val rightDup = r.shuffle(right ++ dups)

    // planted equal-ts collisions across sides: copy some left instants
    // onto right rows and vice versa (the <= / >= boundary class)
    val rightB =
      if (left.nonEmpty && right.nonEmpty)
        right.zipWithIndex.map { case (x, i) =>
          if (i % 4 == 0) x.copy(rts = left(i % left.size).lts) else x
        }.groupBy(x => (x.key, x.rts)).values.map(_.head).toVector.sortBy(_.rid)
      else right

    val ne = if (r.nextInt(10) == 0) 0 else 5 + r.nextInt(40)
    val types = Vector("click", "view", "purchase")
    val events0 = (0 until ne).map(i =>
      ERow(key(), types(r.nextInt(3)), 5000L + i, instant(), value()))
    // sessionization determinism requires unique (user, ts)
    val events = events0.groupBy(e => (e.user_id, e.ts)).values.map(_.head)
      .toVector.sortBy(_.event_id)

    def intervals(idBase: Long, n: Int): Seq[IRow] = (0 until n).map { i =>
      val s = instant()
      val span = r.nextInt(5) match {
        case 0 => 0L                       // zero-length
        case 1 => 1L
        case 2 => binMicros - 1
        case 3 => binMicros                // exactly one bin wide
        case _ => r.nextInt(3).toLong * binMicros + r.nextInt(1000000).toLong
      }
      IRow(idBase + i, key(), s, s + span)
    }
    val ivalsL = if (r.nextInt(8) == 0) Nil else intervals(100L, 2 + r.nextInt(10))
    val ivalsR = if (r.nextInt(8) == 0) Nil else intervals(300L, 2 + r.nextInt(10))

    TSet(left, rightB, rightDup, events, ivalsL, ivalsR,
      TParams(binMicros,
        gapMicros = Vector(1L, binMicros / 2, 3600000000L)(r.nextInt(3)),
        quotaN = 1 + r.nextInt(4),
        winLenMs = winLenMs, slideMs = slideMs))
  }

  // ------------------------------------------------------------------
  // reference models
  // ------------------------------------------------------------------

  type Carry = (Option[Long], Option[Double], Option[String]) // (rts, v, s)
  private val NoCarry: Carry = (None, None, None)
  private def carryOf(x: RRow): Carry = (Some(x.rts), x.v, x.s)

  /** Backward as-of: most recent right row with rts <= lts per key. */
  def refAsofBackward(left: Seq[LRow], right: Seq[RRow]): Map[Long, Carry] =
    left.map { l =>
      val c = right.filter(x => x.key == l.key && x.rts <= l.lts)
      l.lid -> (if (c.isEmpty) NoCarry else carryOf(c.maxBy(_.rts)))
    }.toMap

  /** Forward as-of: earliest right row with rts >= lts per key. */
  def refAsofForward(left: Seq[LRow], right: Seq[RRow]): Map[Long, Carry] =
    left.map { l =>
      val c = right.filter(x => x.key == l.key && x.rts >= l.lts)
      l.lid -> (if (c.isEmpty) NoCarry else carryOf(c.minBy(_.rts)))
    }.toMap

  /** Nearest: smallest |rts − lts|, ties to the backward side. The
    * backward candidate set is rts <= lts and the forward set rts > lts
    * (an equal-ts right row is claimed by the backward carry at distance
    * zero — the documented sort rule). */
  def refAsofNearest(left: Seq[LRow], right: Seq[RRow]): Map[Long, Carry] =
    left.map { l =>
      val b = right.filter(x => x.key == l.key && x.rts <= l.lts)
        .sortBy(_.rts).lastOption
      val f = right.filter(x => x.key == l.key && x.rts > l.lts)
        .sortBy(_.rts).headOption
      val pick = (b, f) match {
        case (Some(bb), Some(ff)) =>
          if (l.lts - bb.rts <= ff.rts - l.lts) Some(bb) else Some(ff)
        case (Some(bb), None) => Some(bb)
        case (None, Some(ff)) => Some(ff)
        case _ => None
      }
      l.lid -> pick.map(carryOf).getOrElse(NoCarry)
    }.toMap

  /** The rightTieCols collapse: duplicate (key, ts) rows reduce to the
    * tie-minimal one (min rid) BEFORE the nearest pick. */
  def collapseTies(right: Seq[RRow]): Seq[RRow] =
    right.groupBy(x => (x.key, x.rts)).values.map(_.minBy(_.rid)).toVector

  /** Point-in-interval matches as a (lid, iid) multiset, `keyed` adds
    * the key-equality predicate. */
  def refRangeJoin(points: Seq[LRow], ivals: Seq[IRow], keyed: Boolean)
      : Map[(Long, Long), Int] =
    (for {
      p <- points; i <- ivals
      if p.lts >= i.is && p.lts <= i.ie && (!keyed || p.key == i.key)
    } yield (p.lid, i.iid)).groupBy(identity).map { case (k, xs) => k -> xs.size }

  /** Inclusive interval-overlap matches as an (iid, jid) multiset —
    * each pair exactly once (the first-shared-bin dedup contract). */
  def refOverlapJoin(l: Seq[IRow], rr: Seq[IRow]): Map[(Long, Long), Int] =
    (for {
      a <- l; b <- rr
      if a.is <= b.ie && b.is <= a.ie
    } yield (a.iid, b.iid)).groupBy(identity).map { case (k, xs) => k -> xs.size }

  /** Spark `cast(double as decimal(18,6))` on each value, exact decimal
    * sum, `cast(decimal as double)` out; None when no non-null input. */
  def decSum(vs: Seq[Double]): Option[Double] =
    if (vs.isEmpty) None
    else Some(vs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble)

  /** Gap sessionization: per user sort by ts, split where the gap
    * STRICTLY exceeds gapMicros, sessions numbered 1.. in time order.
    * Output: (user, session_id) → (n, start, end, total_value). */
  def refSessions(events: Seq[ERow], gapMicros: Long)
      : Map[(Long, Long), (Long, Long, Long, Option[Double])] =
    events.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(_.ts)
      val sessions = sorted.tail.foldLeft(Vector(Vector(sorted.head))) {
        (acc, e) =>
          if (e.ts - acc.last.last.ts > gapMicros) acc :+ Vector(e)
          else acc.init :+ (acc.last :+ e)
      }
      sessions.zipWithIndex.map { case (ss, i) =>
        (u, (i + 1).toLong) ->
          ((ss.size.toLong, ss.head.ts, ss.last.ts, decSum(ss.flatMap(_.value))))
      }
    }

  /** CDC keep-latest winner per (user, type): max (ts, event_id). */
  def refLatest(events: Seq[ERow])
      : Map[(Long, String), (Long, Long, Option[Double])] =
    events.groupBy(e => (e.user_id, e.event_type)).map { case (k, es) =>
      val w = es.maxBy(e => (e.ts, e.event_id))
      k -> ((w.event_id, w.ts, w.value))
    }

  /** Hour-bucket quota accounting (floor grid, pre-1970 exact). */
  def refQuota(events: Seq[ERow], n: Int)
      : Map[(Long, Long), (Long, Long, Long)] =
    events.groupBy(e => (e.user_id, Math.floorDiv(e.ts, 3600000000L)))
      .map { case (k, es) =>
        val c = es.size.toLong
        k -> ((c, math.min(c, n.toLong), math.max(c - n, 0L)))
      }

  /** Tumbling windows: start = floorDiv(ts, len)·len on the epoch grid. */
  def refTumbling(events: Seq[ERow], lenMs: Long)
      : Map[(Long, String), (Long, Option[Double])] = {
    val len = lenMs * 1000L
    events.groupBy(e => (Math.floorDiv(e.ts, len) * len, e.event_type))
      .map { case (k, es) =>
        k -> ((es.size.toLong, decSum(es.flatMap(_.value)))) }
  }

  /** Hopping windows: every slide-grid start with start <= ts < start+len. */
  def refHopping(events: Seq[ERow], lenMs: Long, slideMs: Long)
      : Map[(Long, String), (Long, Option[Double])] = {
    val len = lenMs * 1000L
    val slide = slideMs * 1000L
    val fan = events.flatMap { e =>
      Iterator.iterate(Math.floorDiv(e.ts, slide) * slide)(_ - slide)
        .takeWhile(s => s > e.ts - len).map(s => (s, e)).toVector
    }
    fan.groupBy { case (s, e) => (s, e.event_type) }
      .map { case (k, xs) =>
        k -> ((xs.size.toLong, decSum(xs.flatMap(_._2.value)))) }
  }

  // ------------------------------------------------------------------
  // one-set differential run
  // ------------------------------------------------------------------

  private def deq(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y) || x == y
    case (None, None) => true
    case _ => false
  }

  private def leftDF(spark: SparkSession, left: Seq[LRow]): DataFrame = {
    import spark.implicits._
    left.map(l => (l.lid, l.key, tsOf(l.lts))).toDF("lid", "key", "lts")
  }
  private def rightDF(spark: SparkSession, right: Seq[RRow]): DataFrame = {
    import spark.implicits._
    right.map(x => (x.rid, x.key, tsOf(x.rts), x.v, x.s))
      .toDF("rid", "key", "rts", "v", "s")
  }
  private def eventsDF(spark: SparkSession, events: Seq[ERow]): DataFrame = {
    import spark.implicits._
    events.map(e => (e.user_id, e.event_type, e.event_id, tsOf(e.ts), e.value))
      .toDF("user_id", "event_type", "event_id", "ts", "value")
  }
  private def ivalDF(spark: SparkSession, xs: Seq[IRow],
                     id: String, k: String, s: String, e: String): DataFrame = {
    import spark.implicits._
    xs.map(x => (x.iid, x.key, tsOf(x.is), tsOf(x.ie))).toDF(id, k, s, e)
  }

  /** Collect an asof output frame to lid → carry. */
  private def carries(df: DataFrame, prefix: String): Map[Long, Carry] =
    df.select(col("lid"), col(s"${prefix}rts"), col(s"${prefix}v"),
        col(s"${prefix}s"))
      .collect().map { r =>
        r.getLong(0) -> ((
          if (r.isNullAt(1)) None else Some(microsOf(r.getTimestamp(1))),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getString(3))))
      }.toMap

  private def carryMismatch(got: Map[Long, Carry], want: Map[Long, Carry])
      : Boolean =
    got.keySet != want.keySet || got.exists { case (k, (t, v, s)) =>
      val (wt, wv, ws) = want(k); t != wt || !deq(v, wv) || s != ws }

  def runOne(spark: SparkSession, set: TSet, deep: Boolean): Seq[String] = {
    val errs = Vector.newBuilder[String]
    val p = set.p
    val ldf = leftDF(spark, set.left)
    val rdf = rightDF(spark, set.right)
    val vcols = Seq("rts", "v", "s")

    // 1. backward as-of
    if (set.left.nonEmpty) {
      val got = carries(AsofJoin.asofJoin(ldf, rdf, Seq("key"), "lts", "rts",
        vcols, prefix = "asof_"), "asof_")
      val want = refAsofBackward(set.left, set.right)
      if (carryMismatch(got, want)) errs += s"asof_backward: got $got want $want"

      // 2. forward as-of
      val gotF = carries(AsofJoin.asofJoinForward(ldf, rdf, Seq("key"), "lts",
        "rts", vcols, prefix = "next_"), "next_")
      val wantF = refAsofForward(set.left, set.right)
      if (carryMismatch(gotF, wantF)) errs += s"asof_forward: got $gotF want $wantF"

      // 3. nearest (unique right side)
      val gotN = carries(AsofJoin.asofJoinNearest(ldf, rdf, Seq("key"), "lts",
        "rts", vcols, prefix = "near_"), "near_")
      val wantN = refAsofNearest(set.left, set.right)
      if (carryMismatch(gotN, wantN)) errs += s"asof_nearest: got $gotN want $wantN"

      // 4. nearest over planted duplicate (key, ts) rows with tie collapse
      val gotD = carries(AsofJoin.asofJoinNearest(ldf,
        rightDF(spark, set.rightDup), Seq("key"), "lts", "rts",
        vcols, prefix = "near_", rightTieCols = Seq("rid")), "near_")
      val wantD = refAsofNearest(set.left, collapseTies(set.rightDup))
      if (carryMismatch(gotD, wantD)) errs += s"asof_nearest_ties: got $gotD want $wantD"
    }

    // 5. point-in-interval range join (keyed + unkeyed)
    if (set.left.nonEmpty && set.ivalsL.nonEmpty) {
      val idf = ivalDF(spark, set.ivalsL, "iid", "ikey", "istart", "iend")
      for (keyed <- Seq(true, false)) {
        val cond = if (keyed) Some(col("key") === col("ikey")) else None
        val got = RangeJoin.rangeJoin(ldf, idf, "lts", "istart", "iend",
            p.binMicros, cond)
          .select("lid", "iid").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(identity).map { case (k, xs) => k -> xs.size }
        val want = refRangeJoin(set.left, set.ivalsL, keyed)
        if (got != want) errs += s"range_join(keyed=$keyed,bin=${p.binMicros}): got $got want $want"
      }
    }

    // 6. interval-overlap join (pair-once contract)
    if (set.ivalsL.nonEmpty && set.ivalsR.nonEmpty) {
      val a = ivalDF(spark, set.ivalsL, "iid", "ikey", "istart", "iend")
      val b = ivalDF(spark, set.ivalsR, "jid", "jkey", "jstart", "jend")
      val got = RangeJoin.overlapJoin(a, b, "istart", "iend", "jstart", "jend",
          p.binMicros)
        .select("iid", "jid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).map { case (k, xs) => k -> xs.size }
      val want = refOverlapJoin(set.ivalsL, set.ivalsR)
      if (got != want) errs += s"overlap_join(bin=${p.binMicros}): got $got want $want"
    }

    if (set.events.nonEmpty) {
      val edf = eventsDF(spark, set.events)

      // 7. gap sessionization
      val gotS = EventStream.sessionizeBatch(edf, p.gapMicros).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), microsOf(r.getTimestamp(3)), microsOf(r.getTimestamp(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
      val wantS = refSessions(set.events, p.gapMicros)
      if (gotS.keySet != wantS.keySet || gotS.exists { case (k, (n, a, b, t)) =>
          val (wn, wa, wb, wt) = wantS(k); n != wn || a != wa || b != wb || !deq(t, wt) })
        errs += s"sessionize(gap=${p.gapMicros}): got $gotS want $wantS"

      // 8. CDC keep-latest
      val gotL = EventStream.latestPerKeyBatch(edf).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), microsOf(r.getTimestamp(3)),
            if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      val wantL = refLatest(set.events)
      if (gotL.keySet != wantL.keySet || gotL.exists { case (k, (id, t, v)) =>
          val (wi, wt, wv) = wantL(k); id != wi || t != wt || !deq(v, wv) })
        errs += s"latest_per_key: got $gotL want $wantL"

      // 9. hour-bucket quotas
      val gotQ = EventStream.quotaCountsBatch(edf, p.quotaN).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val wantQ = refQuota(set.events, p.quotaN)
      if (gotQ != wantQ) errs += s"quota(n=${p.quotaN}): got $gotQ want $wantQ"

      // 10. tumbling windowed counts (epoch grid, exact decimal sums)
      val gotW = EventStream.windowedCounts(edf, s"${p.winLenMs} milliseconds")
        .collect().map(r => (microsOf(r.getTimestamp(0)), r.getString(1)) ->
          ((r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      val wantW = refTumbling(set.events, p.winLenMs)
      if (gotW.keySet != wantW.keySet || gotW.exists { case (k, (n, t)) =>
          val (wn, wt) = wantW(k); n != wn || !deq(t, wt) })
        errs += s"tumbling(len=${p.winLenMs}ms): got $gotW want $wantW"

      // 11. hopping windowed counts
      val gotH = EventStream.hoppingWindowedCounts(edf,
          s"${p.winLenMs} milliseconds", s"${p.slideMs} milliseconds")
        .collect().map(r => (microsOf(r.getTimestamp(0)), r.getString(1)) ->
          ((r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      val wantH = refHopping(set.events, p.winLenMs, p.slideMs)
      if (gotH.keySet != wantH.keySet || gotH.exists { case (k, (n, t)) =>
          val (wn, wt) = wantH(k); n != wn || !deq(t, wt) })
        errs += s"hopping(len=${p.winLenMs}ms,slide=${p.slideMs}ms): got $gotH want $wantH"
    }

    if (deep && set.left.nonEmpty) {
      // 12. partitioning invariance: the union-sort asof carries must not
      // depend on the physical layout of either input
      val got = carries(AsofJoin.asofJoin(ldf.repartition(7),
        rdf.repartition(5), Seq("key"), "lts", "rts", vcols,
        prefix = "asof_"), "asof_")
      val want = refAsofBackward(set.left, set.right)
      if (carryMismatch(got, want)) errs += s"asof_backward repartition drifted: got $got want $want"
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = TSet
  val name = "temporal"
  val sets = 50
  private def deep(i: Int) = i % 4 == 0
  def draw(r: Random, seed: Long, i: Int): In = tempoSet(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in, deep(i))
  /** Shrinks EVERY input collection, not just events: 6 of the 12
    * differentials (asof/range/overlap, the tier's likeliest bug class)
    * depend only on left/right/ivals, and an events-only pass would leave
    * exactly those unshrunk. One ddmin per collection, each starting from
    * a still-failing set, so ddmin's precondition holds at every stage. */
  def repro(spark: SparkSession, in: In, i: Int): String = {
    var cur = in
    def pass[A](items: TSet => Seq[A], put: (TSet, Seq[A]) => TSet): Unit = {
      val run = (xs: Seq[A]) => runOne(spark, put(cur, xs), deep(i))
      val m = shrink(items(cur), maxEvals = 60)(run)
      if (fails(run(m))) cur = put(cur, m)
    }
    pass[ERow](_.events, (s, xs) => s.copy(events = xs))
    pass[LRow](_.left, (s, xs) => s.copy(left = xs))
    pass[RRow](_.right, (s, xs) => s.copy(right = xs))
    pass[RRow](_.rightDup, (s, xs) => s.copy(rightDup = xs))
    pass[IRow](_.ivalsL, (s, xs) => s.copy(ivalsL = xs))
    pass[IRow](_.ivalsR, (s, xs) => s.copy(ivalsR = xs))
    s"(L=${cur.left.size} R=${cur.right.size} Rd=${cur.rightDup.size} " +
      s"ev=${cur.events.size} iL=${cur.ivalsL.size} iR=${cur.ivalsR.size}, ${in.p}): " +
      (cur.left.map(l => s"L ${l.lid}/k${l.key}@${l.lts}") ++
       cur.right.map(x => s"R ${x.rid}/k${x.key}@${x.rts}=${x.v}/${x.s}") ++
       cur.ivalsL.map(v => s"IL ${v.iid}/k${v.key}[${v.is},${v.ie}]") ++
       cur.ivalsR.map(v => s"IR ${v.iid}/k${v.key}[${v.is},${v.ie}]") ++
       cur.events.map(e => s"E ${e.user_id}/${e.event_type}@${e.ts}=${e.value}"))
        .mkString(" | ")
  }
}
