package graft.fuzz

import graft.operators.{DataQuality, Profiling, Series, StatTests}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Seeded differential fuzz for the inline analytics tier (r15 verdict
  * item 5) — the [[SampleFuzz]] discipline aimed at [[Series]],
  * [[StatTests]] (extracted this round from the q_mann_kendall /
  * q_survival_km / q_cuped / t_ks_test gate bodies so gate and fuzzer
  * drive ONE implementation), and [[DataQuality]] rule fusion. Every
  * operator is a pure function of its input frame with one documented
  * rounded floating-point step over exact integer/decimal identities,
  * so the second engine is a plain-Scala replay of that arithmetic:
  * exact Long window sums, interpolated percentiles (FIXTURES §9 pin
  * 2), StrictMath pow/log, BigDecimal HALF_UP at the documented scales,
  * and `round(x, n)` as BigDecimal HALF_UP (pin 3).
  *
  * Planted boundary shapes — the ceilSafe/asof bug class lives in
  * thresholds and degenerate groups: zero-variance histories (NULL z),
  * histories shorter than minPoints, single-row keys, ALL-TIES value
  * columns (Mann-Kendall varnum ≤ 0 → NULL; rank-sum σ ties), an empty
  * side for the two-sample tests (0/0 → NaN, pinned bitwise), a
  * zero-variance CUPED covariate (NaN θ propagation), KM times where
  * the whole risk set dies (the cumzf zero-pin) and censoring-only
  * tails, empty tables through every DataQuality rule, and null
  * keys/values through the documented SQL ternary semantics.
  *
  * The fast deterministic subset runs in StatFuzzSpec; the full sweep
  * runs via `graft.Fuzz stats` (FUZZ_r<N>.json).
  */
object StatFuzz extends Surface {

  final case class SeriesRow(key: String, period: Long, value: Long)
  final case class GroupRow(group: String, value: Long)
  final case class ObsRow(t: Long, death: Long)
  final case class PerRow(id: Long, x: Double, y: Double)
  final case class DqRow(id: Option[Long], name: Option[String],
                         v: Option[Double], fk: Option[Long])

  final case class StatSet(series: Seq[SeriesRow], groups: Seq[GroupRow],
                           obs: Seq[ObsRow], per: Seq[PerRow],
                           dq: Seq[DqRow], dims: Seq[Long],
                           sky: Seq[(Long, Long)],
                           alpha: Double, lag: Int, minPoints: Int)

  // ------------------------------------------------------------------
  // shared arithmetic (the documented contracts)
  // ------------------------------------------------------------------

  /** Spark round(x, n): BigDecimal.valueOf + HALF_UP; NaN/Inf pass. */
  def rnd(x: Double, n: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark `percentile(col, 0.5)`: exact interpolated median over the
    * sorted values — (hi−pos)·lo + (pos−lo)·hi (FIXTURES §9 pin 2). */
  def refMedian(vs: Seq[Double]): Double = {
    val s = vs.sorted
    val pos = (s.size - 1) * 0.5
    val lo = s(pos.toInt)
    val hi = s(math.ceil(pos).toInt)
    if (lo == hi) lo else (math.ceil(pos) - pos) * lo + (pos - pos.toInt) * hi
  }

  /** Canonicalize a double for bitwise comparison: −0.0 → 0.0, any NaN
    * → the canonical NaN (both sides run IEEE code, so a true value
    * divergence still differs). */
  private def canon(x: Double): Double =
    if (x.isNaN) Double.NaN else if (x == 0.0) 0.0 else x

  private def anyCanon(a: Any): Any = a match {
    case d: Double => java.lang.Double.doubleToLongBits(canon(d))
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(canon(d))
    case x => x
  }

  private def cmpRows(tag: String, got: Seq[Seq[Any]], exp: Seq[Seq[Any]])
      : Seq[String] = {
    val a = got.map(_.map(anyCanon)).sortBy(_.mkString("|"))
    val b = exp.map(_.map(anyCanon)).sortBy(_.mkString("|"))
    if (a == b) Nil
    else Seq(s"$tag: got=${a.mkString(" ; ")} expected=${b.mkString(" ; ")}")
  }

  // ------------------------------------------------------------------
  // reference models
  // ------------------------------------------------------------------

  def refTrailingZscore(rows: Seq[SeriesRow], lag: Int, minPoints: Int,
                        flagAt: Double): Seq[(String, Long, Long, Option[Double], Boolean)] =
    rows.groupBy(_.key).toSeq.flatMap { case (k, rs) =>
      val sorted = rs.sortBy(_.period)
      sorted.zipWithIndex.map { case (r, i) =>
        val hist = sorted.slice(math.max(0, i - lag), i).map(_.value)
        val n = hist.size.toLong
        val sx = hist.sum
        val sxx = hist.map(v => v * v).sum
        val z =
          if (n >= minPoints && n * sxx - sx * sx > 0)
            Some(rnd((r.value.toDouble - sx.toDouble / n) /
              math.sqrt((n * sxx - sx * sx).toDouble / (n * (n - 1))), 6))
          else None
        (k, r.period, r.value, z, z.exists(v => math.abs(v) > flagAt))
      }
    }

  def refRankSumZ(rows: Seq[GroupRow], groupA: String)
      : (Long, Long, Double, Option[Double]) = {
    val byV = rows.groupBy(_.value).toSeq.sortBy(_._1).map { case (v, rs) =>
      (v, rs.size.toLong, rs.count(_.group == groupA).toLong)
    }
    var below = 0L
    var r1 = BigDecimal(0)
    var n1 = 0L; var n2 = 0L
    for ((_, c, c1) <- byV) {
      val avgrank = below.toDouble + (c + 1).toDouble / 2
      r1 += BigDecimal(c1.toDouble * avgrank)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      n1 += c1; n2 += c - c1
      below += c
    }
    val u1 = r1.toDouble - (n1 * (n1 + 1)).toDouble / 2
    val z = if (n1 * n2 > 0)
      Some(rnd((u1 - (n1 * n2).toDouble / 2) /
        math.sqrt((n1 * n2 * (n1 + n2 + 1)).toDouble / 12), 6))
    else None
    (n1, n2, rnd(u1, 6), z)
  }

  def refRobustZscore(rows: Seq[SeriesRow], flagAt: Double)
      : Seq[(String, Long, Long, Double, Double, Option[Double], Boolean)] =
    rows.groupBy(_.key).toSeq.flatMap { case (k, rs) =>
      val med = rnd(refMedian(rs.map(_.value.toDouble)), 6)
      val mad = rnd(refMedian(rs.map(r => math.abs(r.value - med))), 6)
      rs.map { r =>
        val rz = if (mad > 0) Some(rnd(0.6745 * (r.value - med) / mad, 6))
          else None
        (k, r.period, r.value, med, mad, rz,
          rz.exists(v => math.abs(v) > flagAt))
      }
    }

  def refEwma(rows: Seq[SeriesRow], alpha: Double, lag: Int)
      : Seq[(String, Long, Long, Double)] =
    rows.groupBy(_.key).toSeq.flatMap { case (k, rs) =>
      val sorted = rs.sortBy(_.period)
      sorted.zipWithIndex.map { case (r, i) =>
        val frame = sorted.slice(math.max(0, i - lag), i + 1).map(_.value.toDouble)
        var num = 0.0; var den = 0.0
        for ((v, j) <- frame.zipWithIndex) {
          val w = StrictMath.pow(1 - alpha, frame.size.toDouble - 1 - j)
          num += w * v; den += w
        }
        (k, r.period, r.value, rnd(num / den, 6))
      }
    }

  def refMannKendall(rows: Seq[SeriesRow])
      : Seq[(String, Long, Long, Long, Option[Double])] =
    rows.groupBy(_.key).toSeq.map { case (k, rs) =>
      val byP = rs.sortBy(_.period)
      var s = 0L
      for (i <- byP.indices; j <- (i + 1) until byP.size)
        s += java.lang.Long.signum(byP(j).value - byP(i).value)
      val n = rs.size.toLong
      val tsum = rs.groupBy(_.value).values
        .map(g => g.size.toLong)
        .map(t => t * (t - 1) * (2 * t + 5)).sum
      val varnum = n * (n - 1) * (2 * n + 5) - tsum
      val z = if (varnum > 0) {
        val num = if (s > 0) (s - 1).toDouble
          else if (s < 0) (s + 1).toDouble else 0.0
        Some(rnd(num / math.sqrt(varnum.toDouble / 18.0), 6))
      } else None
      (k, s, n, varnum, z)
    }

  def refKaplanMeier(obs: Seq[ObsRow])
      : Seq[(Long, Long, Long, Long, Double)] = {
    val grid = obs.groupBy(_.t).toSeq.sortBy(_._1).map { case (t, rs) =>
      (t, rs.map(_.death).sum, rs.size.toLong - rs.map(_.death).sum)
    }
    val total = grid.map(g => g._2 + g._3).sum
    var before = 0L
    var cumterm = BigDecimal(0)
    var cumzf = 0L
    grid.map { case (t, d, c) =>
      val risk = total - before
      before += d + c
      if (d > 0 && risk > d)
        cumterm += BigDecimal(rnd(StrictMath.log((risk - d).toDouble) -
          StrictMath.log(risk.toDouble), 9))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      if (d > 0 && risk == d) cumzf += 1
      val surv = if (cumzf > 0) 0.0 else rnd(StrictMath.exp(cumterm.toDouble), 6)
      (t, risk, d, c, surv)
    }
  }

  def refCuped(per: Seq[PerRow])
      : Seq[(Long, Double, Double, Option[Double], Option[Double])] = {
    def dsum(vs: Seq[Double]): Double =
      vs.map(v => BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val n = per.size.toLong
    val sx = dsum(per.map(_.x)); val sy = dsum(per.map(_.y))
    val sxx = dsum(per.map(r => r.x * r.x))
    val sxy = dsum(per.map(r => r.x * r.y))
    val theta = if (n * sxx - sx * sx != 0.0)
      Some(rnd((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)) else None
    per.map(r => (r.id, r.x, r.y, theta,
      theta.map(t => rnd(r.y - t * (r.x - sx / n), 6))))
  }

  def refKs(rows: Seq[GroupRow], a: String, b: String)
      : (Long, Long, Option[Double]) = {
    val grid = rows.groupBy(_.value).toSeq.sortBy(_._1)
    val n1 = rows.count(_.group == a).toLong
    val n2 = rows.count(_.group == b).toLong
    var f1 = 0L; var f2 = 0L
    var dnum = Long.MinValue
    for ((_, rs) <- grid) {
      f1 += rs.count(_.group == a); f2 += rs.count(_.group == b)
      dnum = math.max(dnum, math.abs(f1 * n2 - f2 * n1))
    }
    (n1, n2,
      if (n1 * n2 > 0) Some(rnd(dnum.toDouble / (n1 * n2), 6)) else None)
  }

  /** Profiling.tableStats over the DQ frame: per-column counts and
    * string-cast min/max (nulls excluded from distinct, SQL style). */
  def refTableStats(rows: Seq[DqRow])
      : Seq[(String, Long, Long, Long, Option[String], Option[String])] = {
    val n = rows.size.toLong
    def stat[T](name: String, vs: Seq[Option[T]], render: T => String)
               (implicit ord: Ordering[T]) = {
      val defined = vs.flatten
      (name, n, vs.count(_.isEmpty).toLong, defined.distinct.size.toLong,
        if (defined.isEmpty) None else Some(render(defined.min)),
        if (defined.isEmpty) None else Some(render(defined.max)))
    }
    Seq(
      stat[Long]("id", rows.map(_.id), _.toString),
      stat[String]("name", rows.map(_.name), identity),
      stat[Double]("v", rows.map(_.v), _.toString),
      stat[Long]("fk", rows.map(_.fk), _.toString))
  }

  /** Profiling.skyline2D: rows not dominated (x' ≥ x ∧ y' ≥ y, strict
    * in one); equal pairs are mutually non-dominating. */
  def refSkyline(rows: Seq[(Long, Long)]): Seq[(Long, Long)] =
    rows.filter { case (x, y) =>
      !rows.exists { case (x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y)
      }
    }

  /** Profiling.giniConcentration: exact rank-sum identity over
    * ascending group counts (groupCol tiebreak). */
  def refGini(groups: Seq[String]): (Long, Long, Double) = {
    val counts = groups.groupBy(identity).toSeq
      .map { case (g, gs) => (g, gs.size.toLong) }
      .sortBy { case (g, x) => (x, g) }
    val nG = counts.size.toLong
    val nR = counts.map(_._2).sum
    val sixi = counts.zipWithIndex.map { case ((_, x), i) => (i + 1) * x }.sum
    (nG, nR, rnd((2.0 * sixi) / (nG * nR) - (nG + 1).toDouble / nG, 6))
  }

  /** DataQuality rule fusion: the documented SQL ternary semantics. */
  def refDq(rows: Seq[DqRow], dims: Seq[Long])
      : Seq[(String, String, Long, Long, Boolean)] = {
    val n = rows.size.toLong
    val notNull = ("not_null", "name", n, rows.count(_.name.isEmpty).toLong)
    val inRange = ("in_range", "v", n,
      rows.count(r => r.v.exists(v => !(v >= 0.0 && v <= 100.0))).toLong)
    val matches = ("matches", "name", n,
      rows.count(r => r.name.exists(s =>
        !java.util.regex.Pattern.compile("^[a-z]+[0-9]*$").matcher(s).find())).toLong)
    val accepted = ("accepted", "name", n,
      rows.count(r => r.name.exists(s => !Set("alpha", "beta", "gamma")(s))).toLong)
    val unique = ("unique", "id", n,
      n - rows.map(_.id).distinct.size.toLong)
    val dimSet = dims.toSet
    val refInt = ("ref_integrity", "fk", n,
      rows.count(r => r.fk.exists(k => !dimSet(k))).toLong)
    Seq(notNull, inRange, matches, accepted, unique, refInt)
      .map { case (r, c, nr, v) => (r, c, nr, v, v == 0L) }
  }

  // ------------------------------------------------------------------
  // generator
  // ------------------------------------------------------------------

  def statSet(r: Random): StatSet = {
    val keys = (0 until 1 + r.nextInt(4)).map(i => s"k$i")
    val series = keys.flatMap { k =>
      val n = r.nextInt(12) // incl. empty and single-row keys
      val constant = r.nextInt(4) == 0 // zero-variance history
      val base = r.nextInt(50).toLong
      (0 until n).map { p =>
        val v = if (constant) base
          else if (r.nextInt(5) == 0) base // heavy ties
          else r.nextInt(100).toLong - 20
        SeriesRow(k, p.toLong, v)
      }
    }
    val groups = {
      val emptySide = r.nextInt(6) == 0
      val nA = if (emptySide) 0 else r.nextInt(15)
      val nB = r.nextInt(15)
      val allTies = r.nextInt(5) == 0
      val mk = (g: String, n: Int) => (0 until n).map { _ =>
        GroupRow(g, if (allTies) 7L else r.nextInt(20).toLong)
      }
      mk("A", nA) ++ mk("B", nB) ++
        (if (r.nextBoolean()) mk("C", r.nextInt(4)) else Nil) // outside noise
    }
    val obs = {
      val n = 1 + r.nextInt(20)
      val allDeath = r.nextInt(5) == 0
      (0 until n).map { _ =>
        ObsRow(r.nextInt(8).toLong, // heavy time ties incl. full-death times
          if (allDeath) 1L else r.nextInt(2).toLong)
      }
    }
    val per = {
      val n = 1 + r.nextInt(10)
      val constX = r.nextInt(4) == 0 // zero-variance covariate -> NaN theta
      (0 until n).map { i =>
        PerRow(i.toLong,
          if (constX) 3.25 else (r.nextInt(41) - 10) * 0.25,
          (r.nextInt(41) - 10) * 0.25)
      }
    }
    val dq = {
      val n = r.nextInt(12) // incl. EMPTY table
      (0 until n).map { i =>
        DqRow(
          id = r.nextInt(7) match {
            case 0 => Some(1L) // dup keys
            case 1 => None     // null key: groups like a value in Unique,
                               // counts as n_null in tableStats
            case _ => Some(i.toLong)
          },
          name = r.nextInt(5) match {
            case 0 => None
            case 1 => Some("alpha")
            case 2 => Some("beta7")
            case 3 => Some("NOPE!")
            case _ => Some("gamma")
          },
          v = r.nextInt(5) match {
            case 0 => None
            case 1 => Some(-1.5)
            case 2 => Some(101.0)
            case _ => Some(r.nextInt(100).toDouble)
          },
          fk = r.nextInt(4) match {
            case 0 => None
            case 1 => Some(999L) // orphan
            case _ => Some(r.nextInt(5).toLong)
          })
      }
    }
    val dims = (0L to 4L)
    val sky = {
      val n = 1 + r.nextInt(15)
      val base = (0 until n).map(_ =>
        (r.nextInt(8).toLong - 2, r.nextInt(8).toLong - 2)) // heavy ties
      // exact-duplicate pairs: mutually non-dominating, both survive
      base ++ (if (base.nonEmpty && r.nextBoolean())
        Seq(base(r.nextInt(base.size))) else Nil)
    }
    StatSet(series, groups, obs, per, dq, dims, sky,
      alpha = Seq(0.5, 0.25, 0.3)(r.nextInt(3)),
      lag = 1 + r.nextInt(6), minPoints = 1 + r.nextInt(3))
  }

  // ------------------------------------------------------------------
  // differential harness
  // ------------------------------------------------------------------

  def runOne(spark: SparkSession, set: StatSet): Seq[String] = {
    import spark.implicits._
    val errs = Seq.newBuilder[String]

    val seriesDf = set.series.map(r => (r.key, r.period, r.value))
      .toDF("key", "period", "value").repartition(4)

    if (set.series.nonEmpty) {
      val tz = Series.trailingZscore(seriesDf, "key", "period", "value",
          lag = set.lag, minPoints = set.minPoints)
        .collect().toSeq.map(r => Seq[Any](r.getString(0), r.getLong(1),
          r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3),
          r.getBoolean(4)))
      val tzm = refTrailingZscore(set.series, set.lag, set.minPoints, 3.0)
        .map(t => Seq[Any](t._1, t._2, t._3, t._4.orNull, t._5))
      errs ++= cmpRows("trailingZscore", tz, tzm)

      val rz = Series.robustZscore(seriesDf, "key", "period", "value")
        .collect().toSeq.map(r => Seq[Any](r.getString(0), r.getLong(1),
          r.getLong(2), r.getDouble(3), r.getDouble(4),
          if (r.isNullAt(5)) null else r.getDouble(5), r.getBoolean(6)))
      val rzm = refRobustZscore(set.series, 3.5)
        .map(t => Seq[Any](t._1, t._2, t._3, t._4, t._5, t._6.orNull, t._7))
      errs ++= cmpRows("robustZscore", rz, rzm)

      val ew = Series.ewma(seriesDf, "key", "period", "value",
          alpha = set.alpha, lag = set.lag)
        .collect().toSeq.map(r => Seq[Any](r.getString(0), r.getLong(1),
          r.getLong(2), r.getDouble(3)))
      val ewm = refEwma(set.series, set.alpha, set.lag)
        .map(t => Seq[Any](t._1, t._2, t._3, t._4))
      errs ++= cmpRows("ewma", ew, ewm)

      val mk = StatTests.mannKendall(seriesDf, "key", "period", "value")
        .collect().toSeq.map(r => Seq[Any](r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getDouble(4)))
      // the pair join drops single-row keys (no pair has a.period <
      // b.period... they keep s as null? no: inner join drops them) —
      // mirror: keys with <2 periods produce NO row
      val mkm = refMannKendall(set.series)
        .filter(_._3 >= 2)
        .map(t => Seq[Any](t._1, t._2, t._3, t._4, t._5.orNull))
      errs ++= cmpRows("mannKendall", mk, mkm)
    }

    if (set.groups.nonEmpty) {
      val gdf = set.groups.map(g => (g.group, g.value)).toDF("grp", "value")
        .repartition(4)
      val rs = Series.rankSumZ(gdf, "grp", "value", "A")
        .collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getLong(1),
          r.getDouble(2), if (r.isNullAt(3)) null else r.getDouble(3)))
      val m = refRankSumZ(set.groups, "A")
      errs ++= cmpRows("rankSumZ", rs,
        Seq(Seq[Any](m._1, m._2, m._3, m._4.orNull)))

      val ks = StatTests.ksStatistic(gdf, "grp", "value", "A", "B")
        .collect().toSeq.map(r => Seq[Any](r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2)))
      val km0 = refKs(set.groups, "A", "B")
      errs ++= cmpRows("ksStatistic", ks,
        Seq(Seq[Any](km0._1, km0._2, km0._3.orNull)))
    }

    locally {
      val odf = set.obs.map(o => (o.t, o.death)).toDF("t_min", "death")
        .repartition(4)
      val km = StatTests.kaplanMeier(odf).collect().toSeq
        .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
      val kmm = refKaplanMeier(set.obs)
        .map(t => Seq[Any](t._1, t._2, t._3, t._4, t._5))
      errs ++= cmpRows("kaplanMeier", km, kmm)
    }

    locally {
      val pdf = set.per.map(p => (p.id, p.x, p.y)).toDF("id", "x", "y")
        .repartition(4)
      val cu = StatTests.cuped(pdf, "id").collect().toSeq
        .map(r => Seq[Any](r.getLong(0), r.getDouble(1), r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4)))
      val cum = refCuped(set.per)
        .map(t => Seq[Any](t._1, t._2, t._3, t._4.orNull, t._5.orNull))
      errs ++= cmpRows("cuped", cu, cum)
    }

    locally {
      val skyDf = set.sky.toDF("x", "y").repartition(4)
      val sk = Profiling.skyline2D(skyDf, "x", "y").collect().toSeq
        .map(r => Seq[Any](r.getLong(0), r.getLong(1)))
      val skm = refSkyline(set.sky).map(t => Seq[Any](t._1, t._2))
      errs ++= cmpRows("skyline2D", sk, skm)
    }

    if (set.groups.nonEmpty) {
      val gdf = set.groups.map(g => (g.group, g.value)).toDF("grp", "value")
        .repartition(4)
      val gi = Profiling.giniConcentration(gdf, "grp").collect().toSeq
        .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2)))
      val gim = refGini(set.groups.map(_.group))
      errs ++= cmpRows("giniConcentration", gi,
        Seq(Seq[Any](gim._1, gim._2, gim._3)))
    }

    locally {
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = true),
        StructField("name", StringType, nullable = true),
        StructField("v", DoubleType, nullable = true),
        StructField("fk", LongType, nullable = true)))
      val dqDf = spark.createDataFrame(java.util.Arrays.asList(
        set.dq.map(r => Row(r.id.orNull, r.name.orNull, r.v.orNull,
          r.fk.orNull)): _*), schema).repartition(4)
      val dimDf = set.dims.toDF("dim_id")
      val ts0 = Profiling.tableStats(dqDf, Seq("id", "name", "v", "fk"))
        .collect().toSeq.map(r => Seq[Any](r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getString(4),
          if (r.isNullAt(5)) null else r.getString(5)))
      val tsm = refTableStats(set.dq).map(t =>
        Seq[Any](t._1, t._2, t._3, t._4, t._5.orNull, t._6.orNull))
      errs ++= cmpRows("tableStats", ts0, tsm)

      val got = DataQuality.check(dqDf, Seq(
          DataQuality.NotNull("name"),
          DataQuality.InRange("v", 0.0, 100.0),
          DataQuality.Matches("name", "^[a-z]+[0-9]*$"),
          DataQuality.Accepted("name", Seq("alpha", "beta", "gamma")),
          DataQuality.Unique(Seq("id")),
          DataQuality.RefIntegrity("fk", dimDf, "dim_id")))
        .collect().toSeq.map(r => Seq[Any](r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getBoolean(4)))
      val exp = refDq(set.dq, set.dims)
        .map(t => Seq[Any](t._1, t._2, t._3, t._4, t._5))
      errs ++= cmpRows("dataQuality", got, exp)
    }

    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = StatSet
  val name = "stats"
  val sets = 50
  def draw(r: Random, seed: Long, i: Int): In = statSet(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in)
  def repro(spark: SparkSession, in: In, i: Int): String = s"set: $in"
}
