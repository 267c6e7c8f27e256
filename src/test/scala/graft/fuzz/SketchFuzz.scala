package graft.fuzz

import graft.operators._

import org.apache.spark.sql.SparkSession
import scala.util.Random

/** Seeded random-value fuzz for the sketch tier — the [[CorpusFuzz]] /
  * [[VectorFuzz]] / [[GraphFuzz]] discipline aimed at [[Sketches]]:
  * KMV / HLL (registers AND estimate) / Count-Min (cells, point
  * estimates, join-size) / Bloom (words, probe outcomes incl. false
  * positives) / DDSketch (buckets, quantile walk) / hash-rank quantile
  * sample. Every sketch here is BY DESIGN a pure function of md5
  * (BASELINE cross-engine contract), so the reference models are EXACT:
  * plain-Scala replays of each documented contract (md5 halves, odd
  * double-hash strides, 60-bit registers, 9-dp log bucketing, UTF-8
  * binary tie order), sharing no Spark code — a divergence is a real
  * bug in the operator, not estimator noise. Deep property checks ride
  * along where the contract is one-sided (CMS never under-counts,
  * Bloom never false-negatives).
  *
  * Value shapes planted per set: heavy hitters (one key at ~half the
  * occurrence mass), strata with EXACTLY k distinct values (the KMV
  * rank-k boundary), empty-string and emoji/CJK keys (md5-of-UTF-8 and
  * binary tie order), single-value and single-row strata (linear
  * counting branch, n=1 quantile walks), values spanning 1e-300..1e15
  * (DDSketch bucket extremes), exact log-boundary values (powers of γ),
  * zero/negative values (the positive-domain filter), and tiny sketch
  * geometries (width 8, mBits 32) that FORCE hash collisions and Bloom
  * false positives — the outcomes must still match bit-for-bit.
  *
  * The fast deterministic subset runs in SketchFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz sketches` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object SketchFuzz extends Surface {

  final case class SParams(kmvK: Int, hllP: Int, cmsWidth: Int, cmsDepth: Int,
                           mBits: Int, nHashes: Int, alpha: Double,
                           quantiles: Seq[Double], qsK: Int)

  /** (strata, key) occurrence rows for the hash sketches, (strata, value,
    * rid) rows for the numeric sketches, probe keys (mix of present and
    * absent), and the geometry params. */
  final case class SSet(occ: Seq[(String, String)],
                        num: Seq[(String, Double, String)],
                        probes: Seq[String],
                        p: SParams)

  // ------------------------------------------------------------------
  // generator
  // ------------------------------------------------------------------

  private val keyPool: Vector[String] = Vector(
    "", "a", "b", "key", "clé", "ключ", "鍵", "🗝️", "ḱey",
    "İstanbul", "0", "-1", "3.14", "null", "NULL", "true",
    "x" * 200, "line\nbreak", "tab\tsep", "quote\"quote")

  def valueSet(r: Random): SSet = {
    val p = SParams(
      kmvK = 4 + r.nextInt(9),
      hllP = Vector(4, 6, 8)(r.nextInt(3)),
      cmsWidth = Vector(8, 64, 1 << 12)(r.nextInt(3)),
      cmsDepth = 1 + r.nextInt(5),
      mBits = Vector(32, 64, 256)(r.nextInt(3)),
      nHashes = 1 + r.nextInt(7),
      alpha = Vector(0.01, 0.05, 0.2)(r.nextInt(3)),
      quantiles = r.shuffle(Vector(0.5, 0.9, 0.99, 0.995)).take(1 + r.nextInt(3)),
      qsK = Vector(4, 16, 64)(r.nextInt(3)))
    val strata = (0 until 1 + r.nextInt(4)).map(i => s"s$i")
    def key(): String =
      if (r.nextBoolean()) keyPool(r.nextInt(keyPool.size))
      else s"k${r.nextInt(40)}"
    val occ = Vector.newBuilder[(String, String)]
    strata.foreach { s =>
      r.nextInt(4) match {
        case 0 => // heavy hitter + tail
          val hh = key()
          val n = 5 + r.nextInt(60)
          for (_ <- 0 until n) occ += ((s, hh))
          for (_ <- 0 until n) occ += ((s, key()))
        case 1 => // exactly kmvK distinct values (the rank-k boundary)
          val ks = (0 until p.kmvK).map(i => s"b$i")
          ks.foreach(k => occ += ((s, k)))
          for (_ <- 0 until r.nextInt(10)) occ += ((s, ks(r.nextInt(ks.size))))
        case 2 => // single value, many occurrences
          val k = key()
          for (_ <- 0 until 1 + r.nextInt(20)) occ += ((s, k))
        case _ => // uniform-ish
          for (_ <- 0 until 5 + r.nextInt(80)) occ += ((s, key()))
      }
    }
    val gamma = (1 + p.alpha) / (1 - p.alpha)
    def value(): Double = r.nextInt(10) match {
      case 0 => 0.0
      case 1 => -1.0 - r.nextInt(100)
      case 2 => 1e-300 * (1 + r.nextInt(9))
      case 3 => 1e15 * (1 + r.nextInt(5))
      case 4 => math.pow(gamma, 1 + r.nextInt(30)) // log-boundary adversary
      case 5 => 1.0
      case 6 => (1 + r.nextInt(5)).toDouble // planted ties
      case _ => (r.nextInt(2_000_000) + 1) / 1000.0
    }
    val num = Vector.newBuilder[(String, Double, String)]
    var rid = 0
    strata.foreach { s =>
      val n = 1 + r.nextInt(120)
      for (_ <- 0 until n) { num += ((s, value(), s"r$rid")); rid += 1 }
    }
    val occs = occ.result()
    val probes = (r.shuffle(occs.map(_._2).distinct).take(8) ++
      (0 until 6).map(i => s"absent${r.nextInt(1000)}_$i")).distinct
    SSet(r.shuffle(occs), num.result(), probes, p)
  }

  // ------------------------------------------------------------------
  // model primitives (the documented md5 contracts)
  // ------------------------------------------------------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Sampling.hashUnit: first 6 md5 hex chars as a 24-bit unit. */
  def refHashUnit(key: String, seed: String = ""): Double =
    java.lang.Long.parseLong(md5hex(key + seed).substring(0, 6), 16) / 16777216.0

  /** Spark round(x, n) for doubles (BigDecimal.valueOf + HALF_UP). */
  private def rnd(x: Double, n: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** UTF-8 binary comparison — Spark's string ordering. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Kirsch-Mitzenmacher positions: two 60-bit md5 halves, odd stride. */
  def refPositions(key: String, m: Int, k: Int): Seq[Long] = {
    val hex = md5hex(key)
    val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16) % m
    val h2raw = java.lang.Long.parseLong(hex.substring(15, 30), 16) % m
    val h2 = h2raw + 1L - (h2raw % 2)
    (0 until k).map(i => (h1 + i.toLong * h2) % m)
  }

  // ------------------------------------------------------------------
  // reference models
  // ------------------------------------------------------------------

  /** kmvDistinct: (stratum → (n_exact, kmv_estimate)). */
  def refKmv(occ: Seq[(String, String)], k: Int)
      : Map[String, (Long, Double)] =
    occ.distinct.groupBy(_._1).map { case (s, rows) =>
      val dv = rows.map(_._2).distinct
      val sorted = dv.map(v => (refHashUnit(v), v)).sortWith { (a, b) =>
        if (a._1 != b._1) a._1 < b._1 else utf8Lt(a._2, b._2)
      }
      val est =
        if (dv.size < k) dv.size.toDouble
        else (k - 1).toDouble / sorted(k - 1)._1
      s -> (dv.size.toLong, rnd(est, 4))
    }

  /** hllRegisters: (stratum, j) → m_j. */
  def refHllRegisters(occ: Seq[(String, String)], p: Int)
      : Map[(String, Long), Long] = {
    val m = 1 << p
    val maxRho = 60 - p + 1
    occ.distinct.groupBy(x => x).keys.toSeq.map { case (s, v) =>
      val h = java.lang.Long.parseLong(md5hex(v).substring(0, 15), 16)
      val j = h & (m - 1).toLong
      val w = h >> p
      val rho = if (w == 0L) maxRho.toLong
                else maxRho.toLong - (64 - java.lang.Long.numberOfLeadingZeros(w))
      ((s, j), rho)
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).max }
  }

  /** hllEstimate from the model registers, mirroring the exact-integer
    * harmonic sum and the linear-counting branch. */
  def refHllEstimate(regs: Map[(String, Long), Long], p: Int)
      : Map[String, Double] = {
    val m = 1 << p
    val maxRho = 60 - p + 1
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1 + 1.079 / m)
    }
    regs.groupBy(_._1._1).map { case (s, rs) =>
      val nNz = rs.size.toLong
      val sPresent = rs.values.map(mj => 1L << (maxRho - mj)).sum
      val v0 = m.toLong - nNz
      val sTot = sPresent + v0 * (1L << maxRho)
      val eRaw = alpha * (m.toDouble * m) * (1L << maxRho).toDouble / sTot
      val est = if (eRaw <= 2.5 * m && v0 > 0)
        // Spark's Log/Pow expressions are StrictMath, not Math (1-ulp traps)
        m.toDouble * StrictMath.log(m.toDouble / v0)
      else eRaw
      s -> rnd(est, 4)
    }
  }

  /** cmsBuild cells: (row_idx, bucket) → cnt, occurrence-weighted. */
  def refCms(keys: Seq[String], width: Int, depth: Int)
      : Map[(Long, Long), Long] =
    keys.flatMap(k => refPositions(k, width, depth).zipWithIndex
        .map { case (b, r) => (r.toLong, b) })
      .groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }

  /** cmsEstimate for one key against model cells. */
  def refCmsEstimate(key: String, cells: Map[(Long, Long), Long],
                     width: Int, depth: Int): Long =
    refPositions(key, width, depth).zipWithIndex
      .map { case (b, r) => cells.getOrElse((r.toLong, b), 0L) }.min

  /** cmsJoinSizeEstimate: min over sketch rows of the bucket inner
    * product — mirroring the inner-join algebra, a row contributes ONLY
    * if it has at least one (row, bucket) cell present in both sketches
    * (an all-miss row is absent from the joined frame, not a zero). */
  def refCmsJoinSize(a: Map[(Long, Long), Long], b: Map[(Long, Long), Long])
      : Option[Long] = {
    val ips = a.keys.map(_._1).toSet.intersect(b.keys.map(_._1).toSet)
      .toSeq.flatMap { r =>
        val shared = a.collect {
          case ((`r`, bk), ca) if b.contains((r, bk)) => ca * b((r, bk)) }
        if (shared.isEmpty) None else Some(shared.sum)
      }
    if (ips.isEmpty) None else Some(ips.min)
  }

  /** bloomBuild dense words over the distinct keys. */
  def refBloom(keys: Seq[String], mBits: Int, k: Int): Array[Long] = {
    val words = new Array[Long](mBits / 32)
    keys.distinct.foreach { key =>
      refPositions(key, mBits, k).foreach { pos =>
        words((pos / 32).toInt) |= (1L << (pos % 32))
      }
    }
    words
  }

  /** bloomProbe outcome for one key (true = maybe present). */
  def refBloomProbe(key: String, words: Array[Long], mBits: Int, k: Int): Boolean =
    refPositions(key, mBits, k).forall { pos =>
      (words((pos / 32).toInt) & (1L << (pos % 32))) != 0L
    }

  /** ddSketchBuild buckets: (stratum, bucket) → cnt over positive values,
    * with the 9-dp-before-division log contract. */
  def refDdBuckets(num: Seq[(String, Double, String)], alpha: Double)
      : Map[(String, Long), Long] = {
    val lnGamma = math.log((1 + alpha) / (1 - alpha))
    num.filter(_._2 > 0).map { case (s, v, _) =>
      (s, math.ceil(rnd(rnd(StrictMath.log(v), 9) / lnGamma, 9)).toLong)
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
  }

  /** ddSketchQuantiles walk: stratum → (n_rows, per-quantile midpoint). */
  def refDdQuantiles(buckets: Map[(String, Long), Long], alpha: Double,
                     quantiles: Seq[Double])
      : Map[String, (Long, Seq[Double])] = {
    val gamma = (1 + alpha) / (1 - alpha)
    buckets.groupBy(_._1._1).map { case (s, bs) =>
      val sorted = bs.toSeq.map { case ((_, b), c) => (b, c) }.sortBy(_._1)
      val n = sorted.map(_._2).sum
      val cums = sorted.scanLeft(0L)(_ + _._2).tail
      val picks = quantiles.map { q =>
        val rank = math.floor(q * (n - 1).toDouble) + 1
        val b = sorted(cums.indexWhere(_ >= rank))._1
        rnd(2.0 * StrictMath.pow(gamma, b.toDouble) / (gamma + 1), 6)
      }
      s -> (n, picks)
    }
  }

  /** Spark `percentile(v, q)` over doubles: sort, position = q·(n−1),
    * then Spark's exact interpolation branches — equal indices or equal
    * keys short-circuit, otherwise the WEIGHTED form
    * (higher−position)·lowerKey + (position−lower)·higherKey (NOT
    * lower + frac·(hi−lo): the two differ in the last ulp). */
  private def refPercentile(vs: Seq[Double], q: Double): Double = {
    val sorted = vs.sorted
    val pos = q * (sorted.size - 1)
    val lo = math.floor(pos)
    val hi = math.ceil(pos)
    val (lk, hk) = (sorted(lo.toInt), sorted(hi.toInt))
    if (lo == hi || lk == hk) lk
    else (hi - pos) * lk + (pos - lo) * hk
  }

  /** quantileSample: stratum → (n_rows, exact percentiles, sample
    * percentiles) with the hash-rank (u, rid) UTF-8 tie order. */
  def refQuantileSample(num: Seq[(String, Double, String)], k: Int,
                        quantiles: Seq[Double])
      : Map[String, (Long, Seq[Double], Seq[Double])] =
    num.groupBy(_._1).map { case (s, rows) =>
      val samp = rows.map { case (_, v, rid) => (refHashUnit(rid), rid, v) }
        .sortWith { (a, b) =>
          if (a._1 != b._1) a._1 < b._1 else utf8Lt(a._2, b._2)
        }.take(k).map(_._3)
      val exact = quantiles.map(q => rnd(refPercentile(rows.map(_._2), q), 6))
      val est = quantiles.map(q => rnd(refPercentile(samp, q), 6))
      s -> (rows.size.toLong, exact, est)
    }

  // ------------------------------------------------------------------
  // one-set differential run
  // ------------------------------------------------------------------

  private def deq(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) ||
      a == b

  def runOne(spark: SparkSession, set: SSet, deep: Boolean): Seq[String] = {
    import spark.implicits._
    val errs = Vector.newBuilder[String]
    val p = set.p
    val odf = set.occ.toDF("strata", "k")
    val ndf = set.num.toDF("strata", "value", "rid")

    // 1. KMV distinct estimate (rank-k boundary, UTF-8 tie order)
    val kmvGot = Sketches.kmvDistinct(odf, "strata", "k", p.kmvK)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val kmvWant = refKmv(set.occ, p.kmvK)
    if (kmvGot.keySet != kmvWant.keySet || kmvGot.exists { case (s, (n, e)) =>
        val (wn, we) = kmvWant(s); n != wn || !deq(e, we) })
      errs += s"kmv(k=${p.kmvK}): got $kmvGot want $kmvWant"

    // 2. HLL registers — exact frame
    val regGot = Sketches.hllRegisters(odf, "strata", "k", p.hllP)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val regWant = refHllRegisters(set.occ, p.hllP)
    if (regGot != regWant)
      errs += s"hll_registers(p=${p.hllP}): got $regGot want $regWant"

    // 3. HLL estimate — exact at the 4-dp rounding
    val estGot = Sketches.hllEstimate(
        Sketches.hllRegisters(odf, "strata", "k", p.hllP), "strata", p.hllP)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val estWant = refHllEstimate(regWant, p.hllP)
    if (estGot.keySet != estWant.keySet ||
        estGot.exists { case (s, e) => !deq(e, estWant(s)) })
      errs += s"hll_estimate(p=${p.hllP}): got $estGot want $estWant"

    // 4. CMS cells — exact frame (tiny widths force collisions)
    val keys = set.occ.map(_._2)
    val kdf = keys.toDF("k")
    val cmsSketch = Sketches.cmsBuild(kdf, "k", p.cmsWidth, p.cmsDepth)
    val cmsGot = cmsSketch.collect()  // row_idx is posexplode's int
      .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    val cmsWant = refCms(keys, p.cmsWidth, p.cmsDepth)
    if (cmsGot != cmsWant)
      errs += s"cms_cells(w=${p.cmsWidth},d=${p.cmsDepth}): got $cmsGot want $cmsWant"

    // 5. CMS point estimates — exact vs model AND never under the truth
    val probeDf = set.probes.toDF("k")
    val pestGot = Sketches.cmsEstimate(probeDf, "k", cmsSketch,
        p.cmsWidth, p.cmsDepth)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trueCnt = keys.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    set.probes.foreach { k =>
      val want = refCmsEstimate(k, cmsWant, p.cmsWidth, p.cmsDepth)
      val got = pestGot.getOrElse(k, -1L)
      if (got != want) errs += s"cms_estimate($k): got $got want $want"
      if (got < trueCnt.getOrElse(k, 0L))
        errs += s"cms_estimate($k) UNDER-counts: $got < ${trueCnt(k)}"
    }

    // 6. Bloom words + probe outcomes (false positives must match too)
    val bWordsGot = Sketches.bloomCollect(
      Sketches.bloomBuild(kdf, "k", p.mBits, p.nHashes), p.mBits)
    val bWordsWant = refBloom(keys, p.mBits, p.nHashes)
    if (!bWordsGot.sameElements(bWordsWant))
      errs += s"bloom_words(m=${p.mBits},k=${p.nHashes}): got ${bWordsGot.mkString(",")} want ${bWordsWant.mkString(",")}"
    val probeGot = Sketches.bloomProbe(probeDf, "k", bWordsWant, p.mBits, p.nHashes)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    set.probes.foreach { k =>
      val want = refBloomProbe(k, bWordsWant, p.mBits, p.nHashes)
      if (probeGot.getOrElse(k, !want) != want)
        errs += s"bloom_probe($k): got ${probeGot.get(k)} want $want"
    }
    keys.distinct.foreach { k =>
      if (!refBloomProbe(k, bWordsGot, p.mBits, p.nHashes))
        errs += s"bloom FALSE NEGATIVE on built key $k"
    }

    // 7. DDSketch buckets + quantile walk
    val ddSketch = Sketches.ddSketchBuild(ndf, "strata", "value", p.alpha)
    val ddGot = ddSketch.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ddWant = refDdBuckets(set.num, p.alpha)
    if (ddGot != ddWant)
      errs += s"dd_buckets(alpha=${p.alpha}): got $ddGot want $ddWant"
    if (ddWant.nonEmpty) {
      val qGot = Sketches.ddSketchQuantiles(ddSketch, "strata",
          p.quantiles, p.alpha)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), p.quantiles.indices.map(i => r.getDouble(2 + i)))).toMap
      val qWant = refDdQuantiles(ddWant, p.alpha, p.quantiles)
      if (qGot.keySet != qWant.keySet || qGot.exists { case (s, (n, qs)) =>
          val (wn, wqs) = qWant(s)
          n != wn || qs.size != wqs.size ||
            qs.zip(wqs).exists { case (a, b) => !deq(a, b) } })
        errs += s"dd_quantiles: got $qGot want $qWant"
    }

    if (deep) {
      // 8. hash-rank quantile sample (exact + sampled percentiles)
      val qsGot = Sketches.quantileSample(ndf, "strata", "value", "rid",
          p.qsK, p.quantiles)
        .collect().map { r =>
          val nq = p.quantiles.size
          r.getString(0) -> (r.getLong(1),
            p.quantiles.indices.map(i => r.getDouble(2 + i)),
            p.quantiles.indices.map(i => r.getDouble(2 + nq + i)))
        }.toMap
      val qsWant = refQuantileSample(set.num, p.qsK, p.quantiles)
      if (qsGot.keySet != qsWant.keySet || qsGot.exists { case (s, (n, ex, es)) =>
          val (wn, wex, wes) = qsWant(s)
          n != wn || ex.zip(wex).exists { case (a, b) => !deq(a, b) } ||
            es.zip(wes).exists { case (a, b) => !deq(a, b) } })
        errs += s"quantile_sample(k=${p.qsK}): got $qsGot want $qsWant"

      // 9. CMS join-size estimate between two halves of the stream
      val (ka, kb) = keys.splitAt(keys.size / 2)
      if (ka.nonEmpty && kb.nonEmpty) {
        val sa = Sketches.cmsBuild(ka.toDF("k"), "k", p.cmsWidth, p.cmsDepth)
        val sb = Sketches.cmsBuild(kb.toDF("k"), "k", p.cmsWidth, p.cmsDepth)
        val jGot = Sketches.cmsJoinSizeEstimate(sa, sb).collect()
          .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        val jWant = refCmsJoinSize(refCms(ka, p.cmsWidth, p.cmsDepth),
          refCms(kb, p.cmsWidth, p.cmsDepth))
        if (jGot != jWant) errs += s"cms_join_size: got $jGot want $jWant"
        // the estimate is an upper bound on the true equi-join size
        val trueJoin = ka.groupBy(identity).map { case (k, xs) =>
          xs.size.toLong * kb.count(_ == k) }.sum
        if (jWant.exists(_ < trueJoin))
          errs += s"cms_join_size UNDER-estimates: $jWant < $trueJoin"
      }

      // 10. partitioning invariance: CMS cells over a repartitioned stream
      val cmsGot2 = Sketches.cmsBuild(kdf.repartition(7), "k",
          p.cmsWidth, p.cmsDepth).collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
      if (cmsGot2 != cmsWant) errs += s"cms repartition(7) drifted"
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = SSet
  val name = "sketches"
  val sets = 50
  private def deep(i: Int) = i % 4 == 0
  def draw(r: Random, seed: Long, i: Int): In = valueSet(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in, deep(i))
  /** Shrinks the occurrence rows only. */
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val minimal = shrink(in.occ)(sub => runOne(spark, in.copy(occ = sub), deep(i)))
    s"(${minimal.size} occ rows, ${in.p}): " +
      minimal.map { case (s, k) => s"$s=$k" }.mkString(" | ")
  }
}
