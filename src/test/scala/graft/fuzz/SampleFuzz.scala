package graft.fuzz

import graft.operators.Sampling

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded differential fuzz for the sampling tier — the [[CorpusFuzz]]
  * discipline aimed at [[Sampling]]: hash sample / split, stratified
  * rates, per-group caps, temperature and mixture rebalancing, weighted
  * reservoir-style take, Neyman allocation, token-budget fill, and
  * (deep) DSIR importance weights. Every sampler is content-hash
  * deterministic BY CONTRACT, so the second engine is a plain-Scala
  * replay of the documented arithmetic: the md5-head `hashUnit` grid,
  * the exact IEEE partial-sum split thresholds, StrictMath pow/log
  * (FIXTURES §9 pin 1), decimal(30,12) HALF_UP weight accumulation, and
  * `round(x, n)` as BigDecimal HALF_UP (pin 3). A divergence is either
  * a broken determinism contract or an order-dependent plan — both real
  * bugs at 100 TB where partitioning is never the same twice.
  *
  * Adversarial shapes planted per set: a stratum RATE equal to one
  * row's exact hashUnit value (the strict-`<` boundary), rate 0 and 1,
  * IEEE-awkward split fractions (0.1+0.2 partial sums), single-row and
  * CONSTANT-VALUE strata (zero Neyman variance — and the all-strata
  * degenerate case where the allocation weight total is 0), null
  * strata (join-drop vs window-group semantics differ BY DESIGN across
  * samplers and the models mirror each one), null / zero / negative /
  * 1e-12 / 1e6 weights, equal weights (skey ties resolve by id), token
  * counts of 0, and unicode ids (md5 over UTF-8 bytes).
  *
  * The fast deterministic subset runs in SampleFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz samples` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object SampleFuzz extends Surface {

  final case class SRow(id: String, stratum: Option[String], value: Long,
                        weight: Option[Double], ntok: Long,
                        text: Option[String], isT: Boolean)
  final case class SParams(seed: String, rate: Double,
                           fractions: Seq[(String, Double)],
                           rates: Map[String, Double],
                           cap: Int, alpha: Double, targetFrac: Double,
                           targets: Map[String, Double],
                           k: Int, total: Int, budget: Long, buckets: Int)

  // ------------------------------------------------------------------
  // model arithmetic (the documented contracts, replayed literally)
  // ------------------------------------------------------------------

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Twin of Sampling.hashUnit: first 6 md5 hex digits / 16^6. */
  def uOf(key: String, seed: String): Double =
    java.lang.Long.parseLong(md5hex(key + seed).take(6), 16).toDouble / 16777216.0

  /** Twin of weightedSample's half-step-shifted grid. */
  def uMidOf(key: String, seed: String): Double =
    (java.lang.Long.parseLong(md5hex(key + seed).take(6), 16).toDouble + 0.5) / 16777216.0

  /** Spark round(x, n): BigDecimal.valueOf semantics + HALF_UP. */
  def rnd(x: Double, n: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** double → decimal(30,12) as Spark's cast (HALF_UP at scale 12). */
  private def dec12(x: Double): BigDecimal =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)

  /** The (md5(id), id) content-addressed rank order every window-take
    * sampler uses. Ids here are ASCII-safe for String#compareTo, but
    * mirror the UTF-8 binary pin anyway. */
  private def hashRank(ids: Seq[String]): Seq[String] =
    ids.sortBy(id => (md5hex(id), new String(id.getBytes("UTF-8"), "ISO-8859-1")))

  def refHashSample(rows: Seq[SRow], rate: Double, seed: String): Set[String] =
    rows.filter(r => uOf(r.id, seed) < rate).map(_.id).toSet

  def refHashSplit(rows: Seq[SRow], fractions: Seq[(String, Double)],
                   seed: String): Map[String, String] = {
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    rows.map { r =>
      val u = uOf(r.id, seed)
      val hit = fractions.init.zip(cum.init).find { case (_, hi) => u < hi }
      r.id -> hit.map(_._1._1).getOrElse(fractions.last._1)
    }.toMap
  }

  /** Null stratum keeps rate 1.0 (no `when` arm matches). */
  def refStratified(rows: Seq[SRow], rates: Map[String, Double],
                    seed: String): Set[String] =
    rows.filter { r =>
      val rate = r.stratum.flatMap(rates.get).getOrElse(1.0)
      uOf(r.id, seed) < rate
    }.map(_.id).toSet

  /** Null group is its own window group (no join in capPerGroup). */
  def refCapPerGroup(rows: Seq[SRow], cap: Int): Map[String, Long] =
    rows.groupBy(_.stratum).flatMap { case (_, rs) =>
      hashRank(rs.map(_.id)).zipWithIndex
        .filter(_._2 < cap).map { case (id, i) => id -> (i + 1).toLong }
    }

  /** Twin of temperatureSample's rate algebra. The NULL stratum forms
    * its own groupBy group, so it contributes to n_total AND sum_w —
    * only the final equi-join drops its rows. */
  def refTemperatureRates(rows: Seq[SRow], alpha: Double, targetFrac: Double)
      : Map[String, Double] = {
    val byG = rows.groupBy(_.stratum) // None = the null group
    if (byG.isEmpty) return Map.empty
    val nTotal = rows.size.toLong
    val pw = byG.map { case (s, xs) =>
      s -> StrictMath.pow(xs.size.toDouble, alpha) }
    val sumW = pw.values.map(dec12).sum.toDouble
    byG.collect { case (Some(s), xs) =>
      val n = xs.size.toLong
      val raw = targetFrac * nTotal.toDouble * pw(Some(s)) / sumW / n.toDouble
      s -> math.min(1.0, rnd(raw, 6))
    }
  }

  def refTemperature(rows: Seq[SRow], alpha: Double, targetFrac: Double,
                     seed: String): Set[String] = {
    val rates = refTemperatureRates(rows, alpha, targetFrac)
    rows.filter(r => r.stratum.exists(s =>
      uOf(r.id, seed) < rates(s))).map(_.id).toSet
  }

  /** Twin of mixtureSample (unlisted strata and null strata drop). */
  def refMixture(rows: Seq[SRow], targets: Map[String, Double],
                 seed: String): Set[String] = {
    val byS = rows.flatMap(r => r.stratum.map(_ -> r)).groupBy(_._1)
      .filter { case (s, _) => targets.contains(s) }
    if (byS.isEmpty) return Set.empty
    val ratio = byS.map { case (s, xs) => s -> targets(s) / xs.size.toLong }
    val maxRatio = ratio.values.max
    val rates = ratio.map { case (s, q) => s -> rnd(q / maxRatio, 6) }
    rows.filter(r => r.stratum.exists(s => rates.get(s).exists(rate =>
      uOf(r.id, seed) < rate))).map(_.id).toSet
  }

  /** Twin of weightedSample: skey = round9(−ln(uMid)/w), take k by
    * (skey, id); null/zero/negative weights are ineligible. */
  def refWeighted(rows: Seq[SRow], k: Int, seed: String)
      : Seq[(String, Double)] =
    rows.flatMap { r =>
      r.weight.filter(_ > 0).map { w =>
        r.id -> rnd(-StrictMath.log(uMidOf(r.id, seed)) / w, 9)
      }
    }.sortBy { case (id, skey) => (skey, id) }.take(k)

  /** True when every stratum's Neyman weight is zero (constant values
    * everywhere) — the degenerate where the allocation falls back to
    * proportional. Exposed so the generator spec can assert the shape
    * is reachable. */
  def neymanDegenerate(rows: Seq[SRow]): Boolean =
    rows.groupBy(_.stratum).forall { case (_, xs) =>
      val nh = xs.size.toLong
      val sx = xs.map(_.value).sum
      val sxx = xs.map(x => x.value * x.value).sum
      nh < 2 || nh * sxx - sx * sx <= 0
    }

  /** Twin of neymanSample's allocation + rank take, including the
    * proportional fallback when the weight total is zero (the ANSI
    * divide-by-zero crash this fuzzer caught in round 15). */
  def refNeyman(rows: Seq[SRow], total: Int): Map[String, Long] = {
    // the NULL stratum is a groupBy group: its whd contributes to the
    // weight total, only the final equi-join drops its rows
    val byG = rows.groupBy(_.stratum)
    if (byG.isEmpty) return Map.empty
    val stats = byG.map { case (s, xs) =>
      val nh = xs.size.toLong
      val sx = xs.map(_.value).sum
      val sxx = xs.map(x => x.value * x.value).sum
      val num = nh * sxx - sx * sx
      val sh = if (nh >= 2 && num > 0)
        math.sqrt(num.toDouble / (nh * (nh - 1))) else 0.0
      s -> (nh, dec12(nh.toDouble * sh))
    }
    val wt = stats.values.map(_._2).sum.toDouble
    val nAll = rows.size.toLong
    val alloc = stats.map { case (s, (nh, whd)) =>
      val ratio = if (wt > 0) whd.toDouble / wt else nh.toDouble / nAll
      s -> math.floor(total.toDouble * ratio).toLong }
    byG.toSeq.flatMap {
      case (Some(s), xs) =>
        hashRank(xs.map(_.id)).zipWithIndex
          .filter { case (_, i) => i < alloc(Some(s)) }
          .map { case (id, _) => id -> alloc(Some(s)) }
      case (None, _) => Nil
    }.toMap
  }

  /** Twin of tokenBudgetSample (null stratum is its own window group).
    * Returns id → cum_before for kept rows. */
  def refTokenBudget(rows: Seq[SRow], budget: Long): Map[String, Long] =
    rows.groupBy(_.stratum).flatMap { case (_, rs) =>
      val ordered = hashRank(rs.map(_.id)).map(id => rs.find(_.id == id).get)
      val cums = ordered.scanLeft(0L)(_ + _.ntok).init
      ordered.zip(cums).filter(_._2 < budget)
        .map { case (r, c) => r.id -> c }
    }

  /** Twin of dsirWeights over refTokens: per-bucket Laplace LLR terms
    * with integer-argument logs, per-doc decimal(30,12) sums, round6. */
  def refDsir(rows: Seq[SRow], buckets: Int)
      : Map[String, (Long, Double, Boolean)] = {
    val k = Iterator.from(1).find(k => math.pow(16, k) >= buckets).get
    def b(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(k), 16) % buckets
    val toks = rows.flatMap(r => r.text.toSeq.flatMap(t =>
      CorpusFuzz.refTokens(t).map(w => (r.id, r.isT, b(w)))))
    if (toks.isEmpty) return Map.empty
    val ct = toks.filter(_._2).groupBy(_._3).map { case (bb, xs) => bb -> xs.size.toLong }
    val cs = toks.filterNot(_._2).groupBy(_._3).map { case (bb, xs) => bb -> xs.size.toLong }
    val nt = ct.values.sum
    val ns = cs.values.sum
    def term(bb: Long): Double =
      StrictMath.log((ct.getOrElse(bb, 0L) + 1).toDouble) -
        StrictMath.log((nt + buckets).toDouble) -
        StrictMath.log((cs.getOrElse(bb, 0L) + 1).toDouble) +
        StrictMath.log((ns + buckets).toDouble)
    toks.groupBy(_._1).map { case (id, xs) =>
      val perB = xs.groupBy(_._3).map { case (bb, ys) => bb -> ys.size.toLong }
      val lw = rnd(perB.map { case (bb, c) =>
        dec12(c.toDouble * term(bb)) }.sum.toDouble, 6)
      id -> ((xs.size.toLong, lw, lw > 0))
    }
  }

  // ------------------------------------------------------------------
  // set generator
  // ------------------------------------------------------------------

  def sampleSet(r: Random): (Seq[SRow], SParams) = {
    val n = if (r.nextInt(12) == 0) 1 else 5 + r.nextInt(55)
    val strata = Vector("a", "b", "c", "dz").take(1 + r.nextInt(4))
    val vocab = Vector("alpha", "beta", "Gamma42", "δx", "the", "of", "xx9")
    val constStratum = if (r.nextBoolean()) Some(strata(r.nextInt(strata.size)))
                       else None // this stratum gets CONSTANT values (S_h = 0)
    val allConst = r.nextInt(5) == 0 // every stratum zero-variance (wt = 0)
    val weights = Vector(Some(1.0), Some(1.0), Some(2.5), Some(1e-12),
      Some(1e6), Some(0.0), Some(-1.0), None)
    val rows = (0 until n).map { i =>
      val id = r.nextInt(4) match {
        case 0 => s"d$i"
        case 1 => s"док$i"            // UTF-8 multi-byte ids through md5
        case 2 => s"D-${i}_${r.nextInt(3)}"
        case _ => i.toString
      }
      val st = if (r.nextInt(9) == 0) None else Some(strata(r.nextInt(strata.size)))
      val v = if (allConst || (st == constStratum && st.isDefined)) 7L
              else r.nextInt(100).toLong
      val text = if (r.nextInt(8) == 0) None
                 else Some(Seq.fill(r.nextInt(12))(
                   vocab(r.nextInt(vocab.size))).mkString(" "))
      SRow(id, st, v, weights(r.nextInt(weights.size)),
        ntok = r.nextInt(40).toLong, text = text, isT = r.nextBoolean())
    }.groupBy(_.id).values.map(_.head).toVector.sortBy(_.id)

    val seed = Vector("", "s1", "round15")(r.nextInt(3))
    // boundary rate: one existing row's EXACT hash unit (strict `<`
    // must exclude exactly that row)
    val rate = r.nextInt(4) match {
      case 0 if rows.nonEmpty => uOf(rows(r.nextInt(rows.size)).id, seed)
      case 1 => Vector(0.0, 1.0)(r.nextInt(2))
      case _ => rnd(r.nextDouble(), 6)
    }
    val fractions = Vector(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      Seq("a" -> 0.1, "b" -> 0.2, "c" -> 0.7), // 0.1+0.2 IEEE partial sum
      Seq("x" -> 0.5, "y" -> 0.5),
      Seq("one" -> 1.0))(r.nextInt(4))
    val rates = strata.take(1 + r.nextInt(strata.size)).map { s =>
      s -> (if (r.nextInt(4) == 0 && rows.nonEmpty)
        uOf(rows(r.nextInt(rows.size)).id, seed) else rnd(r.nextDouble(), 6))
    }.toMap
    val targets = strata.filter(_ => r.nextBoolean()) match {
      case Nil => Map(strata.head -> 1.0)
      case ss => ss.map(s => s -> rnd(0.05 + r.nextDouble(), 6)).toMap
    }
    (rows, SParams(seed = seed, rate = rate, fractions = fractions,
      rates = rates, cap = 1 + r.nextInt(5),
      alpha = Vector(0.5, 0.3, 1.0)(r.nextInt(3)),
      targetFrac = Vector(0.25, 0.5, 0.9)(r.nextInt(3)),
      targets = targets, k = 1 + r.nextInt(8), total = 1 + r.nextInt(30),
      budget = 1L + r.nextInt(120), buckets = Vector(16, 64)(r.nextInt(2))))
  }

  // ------------------------------------------------------------------
  // one-set differential run
  // ------------------------------------------------------------------

  private def deq(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) ||
      a == b

  private def df(spark: SparkSession, rows: Seq[SRow]): DataFrame = {
    import spark.implicits._
    rows.map(x => (x.id, x.stratum, x.value, x.weight, x.ntok, x.text, x.isT))
      .toDF("id", "stratum", "value", "weight", "ntok", "text", "is_t")
  }

  def runOne(spark: SparkSession, rows: Seq[SRow], p: SParams,
             deep: Boolean): Seq[String] = {
    val errs = Vector.newBuilder[String]
    if (rows.isEmpty) return Nil
    val d = df(spark, rows)

    // 1. flat hash sample (strict-< boundary)
    val got1 = Sampling.hashSample(d, "id", p.rate, p.seed)
      .select("id").collect().map(_.getString(0)).toSet
    val want1 = refHashSample(rows, p.rate, p.seed)
    if (got1 != want1) errs += s"hash_sample(rate=${p.rate}): got $got1 want $want1"

    // 2. hash split (IEEE partial-sum thresholds)
    val got2 = Sampling.hashSplit(d, "id", p.fractions, p.seed)
      .select("id", "split").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want2 = refHashSplit(rows, p.fractions, p.seed)
    if (got2 != want2) errs += s"hash_split(${p.fractions}): got $got2 want $want2"

    // 3. stratified rates (null stratum keeps everything)
    val got3 = Sampling.stratifiedHashSample(d, "id", "stratum", p.rates, p.seed)
      .select("id").collect().map(_.getString(0)).toSet
    val want3 = refStratified(rows, p.rates, p.seed)
    if (got3 != want3) errs += s"stratified(${p.rates}): got $got3 want $want3"

    // 4. per-group cap (null group is a window group)
    val got4 = Sampling.capPerGroup(d, "id", "stratum", p.cap)
      .select("id", "rk").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want4 = refCapPerGroup(rows, p.cap)
    if (got4 != want4) errs += s"cap_per_group(${p.cap}): got $got4 want $want4"

    // 5. temperature rebalance (decimal sum_w, 6-dp rate grid)
    val got5 = Sampling.temperatureSample(d, "id", "stratum", p.alpha,
        p.targetFrac, p.seed)
      .select("id").collect().map(_.getString(0)).toSet
    val want5 = refTemperature(rows, p.alpha, p.targetFrac, p.seed)
    if (got5 != want5) errs += s"temperature(a=${p.alpha},f=${p.targetFrac}): got $got5 want $want5"

    // 6. mixture targets (binding stratum rate exactly 1)
    val got6 = Sampling.mixtureSample(d, "id", "stratum", p.targets, p.seed)
      .select("id").collect().map(_.getString(0)).toSet
    val want6 = refMixture(rows, p.targets, p.seed)
    if (got6 != want6) errs += s"mixture(${p.targets}): got $got6 want $want6"

    // 7. weighted take (skey grid + id ties; ineligible weights)
    val got7 = Sampling.weightedSample(d, "id", "weight", p.k, p.seed)
      .select("id", "skey").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
      .sortBy(x => (x._2, x._1))
    val want7 = refWeighted(rows, p.k, p.seed)
    if (got7.size != want7.size ||
        got7.zip(want7).exists { case ((ga, gv), (wa, wv)) =>
          ga != wa || !deq(gv, wv) })
      errs += s"weighted(k=${p.k}): got $got7 want $want7"

    // 8. Neyman allocation (zero-variance strata; the wt=0 degenerate
    // takes the proportional-fallback path both sides)
    val got8 = Sampling.neymanSample(d, "stratum", "id", "value", p.total)
      .select("id", "n_alloc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want8 = refNeyman(rows, p.total)
    if (got8 != want8) errs += s"neyman(${p.total}): got $got8 want $want8"

    // 9. token-budget fill (greedy boundary, null-stratum window group)
    val got9 = Sampling.tokenBudgetSample(d, "stratum", "id", "ntok", p.budget)
      .select("id", "cum_before").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want9 = refTokenBudget(rows, p.budget)
    if (got9 != want9) errs += s"token_budget(${p.budget}): got $got9 want $want9"

    if (deep) {
      // 10. DSIR importance weights (explode + two count passes)
      val got10 = Sampling.dsirWeights(d, "id", "text", col("is_t"), p.buckets)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
      val want10 = refDsir(rows, p.buckets)
      if (got10.keySet != want10.keySet ||
          got10.exists { case (k, (nt, lw, keep)) =>
            val (wn, wl, wk) = want10(k); nt != wn || !deq(lw, wl) || keep != wk })
        errs += s"dsir(buckets=${p.buckets}): got $got10 want $want10"

      // 11. partitioning invariance: temperature rates must not depend
      // on the physical layout (the decimal sum_w contract)
      val got11 = Sampling.temperatureSample(df(spark, rows).repartition(7),
          "id", "stratum", p.alpha, p.targetFrac, p.seed)
        .select("id").collect().map(_.getString(0)).toSet
      if (got11 != want5) errs += s"temperature repartition(7) drifted"
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = (Seq[SRow], SParams)
  val name = "samples"
  val sets = 50
  private def deep(i: Int) = i % 4 == 0
  def draw(r: Random, seed: Long, i: Int): In = sampleSet(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in._1, in._2, deep(i))
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val (rows, p) = in
    val minimal = shrink(rows)(runOne(spark, _, p, deep(i)))
    s"(${minimal.size} rows, $p): " + minimal.mkString(" | ")
  }
}
