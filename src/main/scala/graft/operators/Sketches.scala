package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Deterministic cardinality sketches for corpus statistics.
  *
  * Built-in HyperLogLog (`approx_count_distinct`) is the usual answer,
  * but its estimates are implementation-specific — two engines (or two
  * versions) disagree, which breaks the cross-engine reproducibility
  * contract every operator here keeps. Both cardinality sketches below
  * avoid that by deriving everything from md5: KMV's estimate is a pure
  * function of the k smallest hash values, and [[hllRegisters]] is a
  * from-scratch HLL whose register contents (and hence estimate) any
  * engine that agrees on md5 reproduces bit-for-bit, at any parallelism.
  */
object Sketches {

  /** Column-name stem for a quantile: p50, p90, p99, and p99_5 for
    * q=0.995 — fractional percents keep their digits instead of
    * rounding into a neighbor's name (q≥0.995 must not masquerade as
    * "p100"). Shared by every quantile-reporting sketch here. */
  private def pName(q: Double): String =
    "p" + (BigDecimal(q) * 100).underlying.stripTrailingZeros
      .toPlainString.replace(".", "_").replace("-", "m")

  /** KMV distinct-count estimate per stratum over `valueCol`:
    * (stratum, n_exact, kmv_estimate). Estimate = (k-1)/u_(k) where u_(k)
    * is the k-th smallest hash-unit value of the stratum's distinct
    * values; a stratum with fewer than k distinct values reports its
    * exact count (the standard KMV small-set fallback). `n_exact` is
    * included for error inspection — at 100 TB you would drop it (that
    * exact count is the expensive thing the sketch replaces).
    *
    * Scale note: the k-th-smallest selection is a per-stratum window
    * rank. At real scale, pre-filter to `u < bound` (any sound
    * overestimate of u_(k), e.g. from a prior epoch's sketch) so the
    * sort touches a sliver of the distinct set instead of all of it;
    * the dedup groupBy dominates either way. */
  def kmvDistinct(df: DataFrame, strataCol: String, valueCol: String,
                  k: Int = 64): DataFrame = {
    val dv = df.select(col(strataCol), col(valueCol).as("v")).distinct()
      .withColumn("u", Sampling.hashUnit(col("v")))
    val w = Window.partitionBy(strataCol).orderBy(col("u"), col("v"))
    // Two branches over dv, deliberately: the rank-k branch keeps its
    // `rn === k` filter so Spark's WindowGroupLimit prunes each stratum
    // to its top-k rows BEFORE the window sort, and the exact count is a
    // plain aggregate with no sort at all. Folding both into one ranked
    // pass (n_exact = max(rn)) measures 2× SLOWER — it forces a full
    // per-stratum sort of every distinct value just to learn the count.
    val kth = dv.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .select(col(strataCol), col("u").as("uk"))
    val exact = dv.groupBy(col(strataCol)).agg(count(lit(1)).as("n_exact"))
    exact.join(kth, Seq(strataCol), "left")
      .withColumn("kmv_estimate",
        round(coalesce(lit((k - 1).toDouble) / col("uk"),
          col("n_exact").cast("double")), 4))
      .select(strataCol, "n_exact", "kmv_estimate")
  }

  /** The `k` Bloom bit positions of a key, double-hashed
    * (Kirsch & Mitzenmacher 2006, "Less hashing, same performance":
    * pos_i = (h1 + i·h2) mod m needs only two base hashes for k
    * independent-enough probes). h1/h2 are the two 60-bit halves of the
    * key's md5 (the engine-portable hash convention every sketch here
    * uses); h2 is forced odd so it is coprime with a power-of-two m and
    * the probe sequence cannot collapse onto a short cycle. All
    * arithmetic is non-negative bigint mod — identical in any engine. */
  private def bloomPositions(key: Column, mBits: Int, k: Int): Column =
    // native double-hash kernel — bit-identical to the md5/conv/transform
    // column form (see graft.plans.KmPositions for the replaced shape)
    GraftFunctions.kmPositions(key.cast("string"), mBits, k)

  /** Bloom filter over the distinct values of `keyCol`, as a SPARSE
    * bitmap frame (word_idx, bits): 32 bits per word, stored in a
    * bigint so the mask arithmetic (2^bit, bitwise OR/AND) is exact and
    * portable — no engine-specific 64-bit shift-into-sign-bit edge.
    * Absent words are all-zero.
    *
    * This is the at-scale ingest primitive: a corpus of ANY size
    * compresses to mBits/32 rows (model-sized — 2^26 bits is 0.25M
    * words ≈ 2 MB), built by ONE map-side k-explode + a
    * map-side-combined bit_or aggregate. No false negatives ever; false
    * positives at the standard (1-e^{-kn/m})^k rate, and
    * deterministically so — both engines compute identical positions,
    * so a probe's outcome (including any false positive) hash-matches.
    *
    * `numHashes` must keep k·(mBits-1) + 2^60 inside a long: mBits is
    * capped at 2^30 and numHashes at 64, far past any useful point. */
  def bloomBuild(df: DataFrame, keyCol: String, mBits: Int,
                 numHashes: Int = 5): DataFrame = {
    require(mBits >= 32 && mBits % 32 == 0 && mBits <= (1 << 30),
      s"mBits must be a multiple of 32 in [32, 2^30], got $mBits")
    require(numHashes >= 1 && numHashes <= 64,
      s"numHashes must be in [1, 64], got $numHashes")
    graft.functions.SafeExplode.explodeSelect(
        Dedup.widen(df), Seq.empty,
        bloomPositions(col(keyCol), mBits, numHashes), "pos")
      .select(floor(col("pos") / 32).cast("long").as("word_idx"),
        pow(lit(2.0), col("pos") % 32).cast("long").as("mask"))
      .groupBy("word_idx")
      .agg(expr("bit_or(mask)").as("bits"))
  }

  /** Membership probe against a DENSE collected bloom (the
    * [[bloomBuild]] frame materialized to an Array of mBits/32 words —
    * a model-budget collect, the k-means-centroid class). The probe is
    * a pure in-row expression against the array literal: ZERO shuffles,
    * zero joins — the whole point of carrying a Bloom filter at 100 TB
    * is that ingest pre-filtering costs one map pass, not a join against
    * the corpus. Adds `maybeCol`: true iff all `numHashes` probed bits
    * are set (so false ⇒ definitely not in the built set, and the
    * expensive dedup join downstream runs only on the `true` sliver).
    *
    * `mBits`/`numHashes` must match the build call. */
  def bloomProbe(df: DataFrame, keyCol: String, words: Array[Long],
                 mBits: Int, numHashes: Int = 5,
                 maybeCol: String = "maybe_present"): DataFrame = {
    require(words.length == mBits / 32,
      s"dense bloom must have mBits/32 = ${mBits / 32} words, got ${words.length}")
    val wordsLit = typedLit(words)
    val hit = forall(bloomPositions(col(keyCol), mBits, numHashes), p =>
      element_at(wordsLit, (floor(p / 32) + 1).cast("int"))
        .bitwiseAND(pow(lit(2.0), p % 32).cast("long")) =!= 0L)
    df.withColumn(maybeCol, hit)
  }

  /** [[bloomBuild]]'s sparse frame densified to the probe-side model:
    * Array of mBits/32 bigint words, absent words zero. */
  def bloomCollect(sparse: DataFrame, mBits: Int): Array[Long] = {
    val words = new Array[Long](mBits / 32)
    for (r <- sparse.select(col("word_idx"), col("bits")).collect())
      words(r.getLong(0).toInt) = r.getLong(1)
    words
  }

  /** Quantile estimation from a deterministic hash-rank sample — the
    * KMV trick pointed at quantiles instead of cardinality: per stratum,
    * keep the `k` rows with the SMALLEST hash unit of their row key (a
    * content-addressed uniform sample: the same rows at any parallelism,
    * on any engine), then take exact interpolated percentiles over the
    * sample. MERGEABLE like every sketch here: the k smallest of a union
    * is the k smallest of the per-partition k-smallest, so per-epoch
    * samples combine without rescanning (the t-digest role, with
    * bit-reproducibility the digest can't give).
    *
    * The rank is a per-stratum window with the `rn <= k` filter kept
    * directly above it, so WindowGroupLimit prunes each stratum to k
    * rows BEFORE the sort (the kmvDistinct discipline). `exact = true`
    * columns are the full-data percentiles for error inspection — at
    * 100 TB you would drop them (that sort is what the sample replaces).
    *
    * Output: (strataCol, n_rows, p<NN>_exact, p<NN>_est per quantile). */
  def quantileSample(df: DataFrame, strataCol: String, valueCol: String,
                     idCol: String, k: Int = 64,
                     quantiles: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(k >= 1, s"sample size must be positive, got $k")
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q < 1),
      s"quantiles must be in (0,1), got $quantiles")
    require(quantiles.map(pName).distinct.size == quantiles.size,
      s"quantiles must be distinct, got $quantiles")
    def name(q: Double) = pName(q)
    val h = df.select(col(strataCol).as("s"), col(valueCol).as("v"),
        col(idCol).as("rid"))
      .withColumn("u", Sampling.hashUnit(col("rid")))
    val w = Window.partitionBy("s").orderBy(col("u"), col("rid"))
    val estAggs = quantiles.map(q =>
      round(expr(s"percentile(v, $q)"), 6).as(s"${name(q)}_est"))
    val samp = h.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("s").agg(estAggs.head, estAggs.tail: _*)
    val exactAggs = count(lit(1)).as("n_rows") +:
      quantiles.map(q =>
        round(expr(s"percentile(v, $q)"), 6).as(s"${name(q)}_exact"))
    val exact = h.groupBy("s").agg(exactAggs.head, exactAggs.tail: _*)
    exact.join(samp, "s")
      .withColumnRenamed("s", strataCol)
  }

  /** HyperLogLog registers (Flajolet et al. 2007) per stratum over the
    * values of `valueCol`, as a SPARSE (stratum, j, m_j) frame — at most
    * m = 2^p rows per stratum regardless of input size. Unlike
    * `approx_count_distinct`, whose estimate is implementation-specific,
    * these registers are a pure function of md5 (the engine-portable
    * hash convention of every sketch here): h = the first 60 bits of the
    * value's md5; register j = the low p bits; m_j = max over the
    * stratum's values of rho(w), the 1-based position of the highest set
    * bit counted from the top of the remaining (60-p)-bit word — so any
    * engine that agrees on md5 reproduces the registers, and therefore
    * the estimate, bit-for-bit.
    *
    * MERGEABLE by per-register max (the HLL union law): per-epoch /
    * per-partition register frames combine without rescanning, which is
    * the whole reason to carry HLL instead of exact counts at 100 TB.
    * The build is one distinct + one model-sized max aggregate, both
    * map-side combined. */
  def hllRegisters(df: DataFrame, strataCol: String, valueCol: String,
                   p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4, 14], got $p")
    val m = 1 << p
    val maxRho = 60 - p + 1
    val dv = df.select(col(strataCol), col(valueCol).cast("string").as("v"))
      .distinct()
    val h = GraftFunctions.md5PrefixLong(col("v"), 15)
    // shiftright/bitwiseAND, NOT `/` — Column `/` is DOUBLE division and
    // a 60-bit hash does not survive the 53-bit mantissa round-trip
    dv.select(col(strataCol),
        h.bitwiseAND(lit((m - 1).toLong)).as("j"),
        shiftright(h, p).as("w"))
      .withColumn("rho",
        when(col("w") === 0L, lit(maxRho.toLong))
          .otherwise(lit(maxRho.toLong) - length(bin(col("w")))))
      .groupBy(col(strataCol), col("j"))
      .agg(max(col("rho")).as("m_j"))
  }

  /** Cardinality estimates from [[hllRegisters]]: (stratum, hll_estimate).
    * Standard HLL estimator with the small-range linear-counting branch;
    * the harmonic-mean denominator sum(2^-M_j) is computed EXACTLY as a
    * scaled 64-bit integer (every term is the dyadic rational
    * 2^(maxRho-M_j) / 2^maxRho; the scaled sum is at most
    * 2^p · 2^maxRho = 2^61), so the only floating-point steps are one
    * division, one multiply chain, and the ln of a small integer ratio —
    * identical in any IEEE engine at the 4-dp rounding. */
  def hllEstimate(registers: DataFrame, strataCol: String,
                  p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4, 14], got $p")
    val m = 1 << p
    val maxRho = 60 - p + 1
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1 + 1.079 / m)
    }
    registers.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_nz"),
        // 2^(maxRho - m_j) is exact in double for exponents <= 57,
        // and exact again after the cast — both engines agree bitwise
        sum(pow(lit(2.0), lit(maxRho.toLong) - col("m_j")).cast("long"))
          .as("s_present"))
      .withColumn("v0", lit(m.toLong) - col("n_nz"))
      .withColumn("s_tot",
        col("s_present") + col("v0") * lit(1L << maxRho))
      .withColumn("e_raw",
        lit(alpha) * lit((m.toDouble) * m) * lit((1L << maxRho).toDouble) /
          col("s_tot"))
      .withColumn("hll_estimate",
        round(when(col("e_raw") <= lit(2.5 * m) && col("v0") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v0")))
          .otherwise(col("e_raw")), 4))
      .select(strataCol, "hll_estimate")
  }

  /** HLL distinct-count per stratum with the exact count alongside:
    * (stratum, n_exact, hll_estimate) — the [[kmvDistinct]] shape, HLL
    * flavor. As there, `n_exact` is for error inspection; at 100 TB you
    * would drop it (the exact distinct is what the sketch replaces). */
  def hllDistinct(df: DataFrame, strataCol: String, valueCol: String,
                  p: Int = 6): DataFrame = {
    val dv = df.select(col(strataCol), col(valueCol).cast("string").as("v"))
      .distinct()
    val exact = dv.groupBy(col(strataCol)).agg(count(lit(1)).as("n_exact"))
    val est = hllEstimate(hllRegisters(df, strataCol, valueCol, p), strataCol, p)
    exact.join(est, strataCol).select(strataCol, "n_exact", "hll_estimate")
  }

  /** The `depth` Count-Min bucket positions of a key — same
    * Kirsch-Mitzenmacher double-hash discipline as [[bloomPositions]]
    * (two md5 halves, odd stride), one bucket per sketch row. Exposed
    * package-wide for the streaming windowed-CMS builder. */
  private[graft] def cmsPositions(key: Column, width: Int, depth: Int): Column =
    // native double-hash kernel (graft.plans.KmPositions) — one digest
    // pass, no hex/conv string churn, per occurrence row of the build
    GraftFunctions.kmPositions(key.cast("string"), width, depth)

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) over the occurrence
    * stream of `keyCol`, as a SPARSE (row_idx, bucket, cnt) frame —
    * depth×width cells max, i.e. model-sized regardless of stream size.
    * Each occurrence increments one bucket per row; the build is ONE
    * map-side posexplode + a map-side-combined count aggregate, and
    * sketches from separate partitions/epochs MERGE by adding cells —
    * the mergeability that makes it the 100 TB running-frequency answer
    * (HLL-class infrastructure, but for point frequencies, and — unlike
    * approx_count_distinct — a pure function of md5, so any engine
    * reproduces it bit-for-bit). */
  def cmsBuild(df: DataFrame, keyCol: String, width: Int = 1 << 12,
               depth: Int = 4): DataFrame = {
    require(width >= 2 && width <= (1 << 24), s"width out of range: $width")
    require(depth >= 1 && depth <= 16, s"depth out of range: $depth")
    // Count occurrences per DISTINCT key first, then hash each distinct
    // key once and weight its cells by the count (guide §2.3 "aggregate
    // before you shuffle"): on a Zipf-shaped key stream the md5 position
    // work drops from one digest per OCCURRENCE to one per distinct key,
    // and the cell aggregate sums the carried counts — identical cells
    // for any input (cnt per (row, bucket) = Σ over keys hashing there of
    // the key's occurrence count; null keys form their own group exactly
    // as their exploded null positions grouped before). A linear chain —
    // the extra keyed aggregate is map-side combined and model-bounded
    // per partition, no subtree duplication.
    // widen: the depth-way md5 fan-out must not serialize into the one
    // task a compact parquet scan yields (the r2 fan-out-guard lesson)
    val keyCounts = Dedup.widen(df)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("kc"))
    graft.functions.SafeExplode.posexplodeSelect(
        keyCounts, Seq(col("kc")), cmsPositions(col(keyCol), width, depth))
      .groupBy(col("pos").as("row_idx"), col("col").as("bucket"))
      .agg(sum(col("kc")).as("cnt"))
  }

  /** The DDSketch bucket index of a positive value: i = ceil(ln(x)/ln γ)
    * (Masson, Rim & Lee, VLDB 2019 — "DDSketch: a fast and fully-
    * mergeable quantile sketch with relative-error guarantees"). The log
    * is rounded at 9 dp BEFORE the division (the engine-portable log
    * contract used by every slope/entropy operator here), and the ratio
    * again at 9 dp before ceil, so both engines land in the same bucket
    * even when their libm ln differs in the last ulp. Exposed
    * package-wide for the streaming windowed-DDSketch builder. */
  private[graft] def ddBucket(value: Column, lnGamma: Double): Column =
    ceil(round(round(log(value.cast("double")), 9) / lnGamma, 9))

  /** DDSketch histogram per stratum over the POSITIVE values of
    * `valueCol`: (stratum, bucket, cnt), where bucket is the
    * logarithmic index ceil(log_γ x) with γ = (1+α)/(1−α). The sketch
    * answers ANY quantile with relative error ≤ α, and its size is
    * log_γ(max/min) buckets per stratum — ~540 rows for values spanning
    * 5 decades at α=0.01 — REGARDLESS of row count: the bounded-error /
    * bounded-state trade the hash-rank [[quantileSample]] cannot make
    * (a sample's error is a random variable; DDSketch's is a
    * guarantee). Zero and negative values are excluded by construction
    * (the standard positive-domain DDSketch); shift or split the column
    * if the domain is signed.
    *
    * FULLY MERGEABLE by per-bucket cnt addition — per-epoch /
    * per-partition / per-stream sketches combine without rescanning,
    * and (unlike the collapsing production variant) the merge is
    * order-independent, so the merged sketch is bit-identical to the
    * whole-stream build. Build cost: one map pass + one model-sized
    * count aggregate, map-side combined. */
  def ddSketchBuild(df: DataFrame, strataCol: String, valueCol: String,
                    alpha: Double = 0.01): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5), got $alpha")
    val lnGamma = math.log((1 + alpha) / (1 - alpha))
    df.filter(col(valueCol) > 0)
      .select(col(strataCol), ddBucket(col(valueCol), lnGamma).as("bucket"))
      .groupBy(strataCol, "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a [[ddSketchBuild]] frame: per stratum,
    * walk the bucket histogram cumulatively and report the bucket
    * midpoint 2γ^i/(γ+1) of the bucket holding the rank-⌊q(n−1)⌋
    * element — within α relative error of that element's true value by
    * the bucket-width invariant (γ^(i−1) < x ≤ γ^i). One window
    * cumulative sum over the model-sized sketch + one aggregate: the
    * corpus is never touched, which is the point — the sketch answers
    * after the stream is gone.
    *
    * Output: (strataCol, n_rows, p<NN>_dd per quantile). `alpha` must
    * match the build call. */
  def ddSketchQuantiles(sketch: DataFrame, strataCol: String,
                        quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                        alpha: Double = 0.01): DataFrame = {
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5), got $alpha")
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q < 1),
      s"quantiles must be in (0,1), got $quantiles")
    require(quantiles.map(pName).distinct.size == quantiles.size,
      s"quantiles must be distinct, got $quantiles")
    val gamma = (1 + alpha) / (1 - alpha)
    def name(q: Double) = pName(q)
    val byBucket = Window.partitionBy(strataCol).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = sketch
      .withColumn("cum", sum(col("cnt")).over(byBucket))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(strataCol)))
    // target rank (1-indexed) = ⌊q·(n−1)⌋ + 1; the q·(n−1) product is
    // IEEE double in BOTH engines (the oracle casts q to DOUBLE — DuckDB
    // would otherwise multiply in exact decimal and floor one off)
    val picks = quantiles.map { q =>
      val rank = floor(lit(q) * (col("n") - 1).cast("double")) + 1
      min(when(col("cum") >= rank, col("bucket"))).as(s"b_${name(q)}")
    }
    c.groupBy(col(strataCol), col("n").as("n_rows"))
      .agg(picks.head, picks.tail: _*)
      .select(col(strataCol) +: col("n_rows") +: quantiles.map(q =>
        round(lit(2.0) * pow(lit(gamma), col(s"b_${name(q)}")) /
          lit(gamma + 1), 6).as(s"${name(q)}_dd")): _*)
  }

  /** Equi-join cardinality estimate from two [[cmsBuild]] sketches over
    * the join key (the AMS/CMS inner-product estimator, Alon-Matias-
    * Szegedy 1996 / Cormode-Muthukrishnan 2005 §4.2): |A ⋈ B| =
    * Σ_key cntA(key)·cntB(key), estimated per sketch row as the bucket
    * inner product Σ_b rowA[b]·rowB[b] and tightened by taking the MIN
    * over rows — an upper bound that collapses to the exact join size
    * when no keys collide. This is the query-planning primitive that
    * prices a join BEFORE running it (reorder, broadcast-vs-shuffle,
    * skew alarms) from two model-sized sketches — no corpus access.
    *
    * Input frames are sparse (row_idx, bucket, cnt); the product join
    * is sketch-sized (AQE broadcasts it). Output: one row,
    * (join_size_est). Width/depth must match between the sketches. */
  def cmsJoinSizeEstimate(sketchA: DataFrame, sketchB: DataFrame): DataFrame = {
    val a = sketchA.select(col("row_idx"), col("bucket"), col("cnt").as("ca"))
    val b = sketchB.select(col("row_idx"), col("bucket"), col("cnt").as("cb"))
    a.join(b, Seq("row_idx", "bucket"))
      .groupBy("row_idx")
      .agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("join_size_est"))
  }

  /** Point-frequency estimates from a [[cmsBuild]] sketch: adds
    * `estCol` = min over rows of the key's bucket count — an upper bound
    * on the true frequency (never under; over only on hash collision,
    * with the standard (e/width)-scale error at depth-exponential
    * probability). The probe is a posexplode + equi-join on the
    * model-sized sketch (AQE broadcasts it) + a key-grouped min: no
    * full-stream rescan, which is the point — the sketch answers
    * frequency queries after the stream is gone. */
  def cmsEstimate(df: DataFrame, keyCol: String, sketch: DataFrame,
                  width: Int = 1 << 12, depth: Int = 4,
                  estCol: String = "cms_count"): DataFrame = {
    val probes = graft.functions.SafeExplode.posexplodeSelect(
        df, Seq(col(keyCol)), cmsPositions(col(keyCol), width, depth))
      .select(col(keyCol), col("pos").as("row_idx"), col("col").as("bucket"))
    probes
      .join(sketch, Seq("row_idx", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as(estCol))
      .join(df, Seq(keyCol), "right")
  }
}
