package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Deterministic quality-classifier training — the fastText/DCLM-style
  * filtering step modern curation pipelines run FIRST: a linear model
  * over cheap document features decides what enters the expensive dedup/
  * decontamination stages. Batch gradient-descent logistic regression
  * with fixed iterations, built on the same cross-engine-reproducible
  * recipe as [[Vectors.kmeansTrain]] and PageRank:
  *
  *  - each iteration is ONE map-side aggregate over the corpus (d
  *    decimal(30,15) gradient sums — order-independent, so the trained
  *    model is partitioning-invariant) + a driver-side weight update of
  *    d doubles (model-sized);
  *  - the sigmoid is rounded to 6 dp before the residual: `exp()` is the
  *    one libm-dependent step, and 6-dp pinning puts any ulp divergence
  *    between engines far below the rounding grid (same treatment as the
  *    BM25/surprise log() scores);
  *  - the dot product is an explicit left-associated sum of literal
  *    weights (identical evaluation order in any engine), and the weight
  *    update itself is computed through Spark's `round(…, 9)` so the
  *    rounding semantics are the SQL ones, not the JVM's.
  *
  * `feats` must carry `xCol: array<double>` (include the bias 1.0 as
  * x[0]) and `yCol: double` in {0.0, 1.0}. Weights start at zero, so
  * iteration 1's sigmoid is exactly 0.5 everywhere. */
object Classifier {

  /** fastText-style hashed character-n-gram features computed IN-ROW from
    * raw text — the frame a real quality filter actually starts from
    * (fastText's bag-of-char-ngrams; DCLM's hashed n-gram features), so
    * [[logregTrain]] can train from `documents.text` alone instead of
    * caller-built features.
    *
    * Per doc: lowercase, slide every `n`-char gram, hash each gram to one
    * of `buckets` slots by its md5's leading hex digits (k digits, the
    * smallest count with 16^k >= buckets — ONE digit at the historical
    * B=16, so those hashes are unchanged; the same md5-as-uniform-hash
    * convention as the MinHash/KMV family, and SQL-expressible as
    * `conv(substring(md5(g), 1, k), 16, 10) % B` for the oracle), and
    * emit `x = [1.0 (bias), share of grams in bucket 0, …, bucket B-1]`
    * (count-normalized; an empty gram set scores all-zero).
    *
    * The gram slide, hashing, and bucket counting run in the native
    * [[graft.plans.GramBucketShares]] kernel — ONE codegen'd pass over
    * the UTF-8 bytes, O(L + B) per row with constant compile cost at
    * any B, so real fastText-scale bucket counts (2^18–2^21) run the
    * same plan. (The previous column form paid B+1 filter+size passes
    * over a materialized gram array — O(L*B) and a B-branch Janino
    * compile — which is why it was capped at B=16.) The plan stays a
    * pure projection (machine-checked in PlanShapeSpec): no explode, no
    * join, no corpus shuffle. `keep` columns (e.g. a label) are
    * evaluated against the full input row and carried through. */
  def hashedCharNgramFeatures(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, buckets: Int = 16,
                              keep: Seq[Column] = Nil): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(buckets >= 1 && buckets <= graft.plans.GramBucketShares.MaxBuckets,
      s"buckets must be in [1, ${graft.plans.GramBucketShares.MaxBuckets}], got $buckets")
    // coalesce('') keeps the historical null contract: null text scored
    // all-zero shares (the old when-chain's otherwise branch), and the
    // empty string has no grams — same all-zero result
    val shares = GraftFunctions.gramBucketShares(
      lower(coalesce(col(textCol), lit(""))), n, buckets)
    val x = concat(array(lit(1.0)), shares)
    df.select(col(idCol) +: x.as("x") +: keep: _*)
  }

  def logregTrain(feats: DataFrame, xCol: String, yCol: String,
                  dims: Int, iters: Int = 3, lr: Double = 0.5): Seq[Double] = {
    require(dims > 0 && iters >= 1, s"need dims > 0, iters >= 1; got $dims, $iters")
    val spark = feats.sparkSession
    var w: Seq[Double] = Seq.fill(dims)(0.0)
    for (_ <- 1 to iters) {
      val p = sigmoid(xCol, w)
      val aggs = (0 until dims).map { j =>
        (sum(((col(yCol) - p) * element_at(col(xCol), j + 1))
          .cast("decimal(30,15)")).cast("double") / count(lit(1))).as(s"g$j")
      }
      val g = feats.agg(aggs.head, aggs.tail: _*).head
      // weight update with SQL round() semantics, computed driver-side:
      // Catalyst's Round(double, 9) is BigDecimal.valueOf(v).setScale(9,
      // HALF_UP).toDouble, and +/* on doubles are IEEE in both engines —
      // so this is bit-identical to the previous
      // spark.range(1).select(round(lit(w)+lit(lr)*lit(g), 9)) form while
      // costing zero Spark jobs (the old form paid one scheduled job per
      // GD iteration — 20 extra jobs on the calibration gate's train).
      // Equivalence is spec-pinned in ClassifierRoundParitySpec.
      w = (0 until dims).map { j =>
        val v = w(j) + lr * g.getDouble(j)
        // non-finite guard (r16 ADVICE): BigDecimal.valueOf(NaN/Inf)
        // throws; Catalyst's Round passes non-finite doubles through
        // unchanged — keep that identity for pathological feature values
        if (v.isNaN || v.isInfinite) v
        else java.math.BigDecimal.valueOf(v)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    }
    w
  }

  /** Per-row score under a trained model: (idCol, p, pred, y) with p the
    * 6-dp sigmoid and pred = p >= 0.5 on the ROUNDED value. Map-only. */
  def logregScore(feats: DataFrame, idCol: String, xCol: String,
                  yCol: String, w: Seq[Double]): DataFrame =
    feats
      .withColumn("p", sigmoid(xCol, w))
      .select(col(idCol), col("p"), (col("p") >= 0.5).as("pred"),
        col(yCol).as("y"))

  private def sigmoid(xCol: String, w: Seq[Double]) =
    round(lit(1.0) / (lit(1.0) + exp(-w.indices
      .map(j => element_at(col(xCol), j + 1) * lit(w(j)))
      .reduce(_ + _))), 6)

  /** Reliability-diagram bins over a scored frame (`p` in [0,1], `y` in
    * {0,1}): decile buckets of predicted probability vs the ACTUAL
    * positive rate inside each — the calibration eval run before a
    * score is trusted as a filtering threshold (a well-calibrated bin
    * has avg_p ≈ pos_rate; quality classifiers are routinely over-
    * confident, and this is the frame that shows it). avg_p accumulates
    * in decimal (double sum order would be partitioning-dependent).
    * Output: (bin, n, avg_p, pos_rate). */
  def calibrationBins(scored: DataFrame, pCol: String = "p",
                      yCol: String = "y", bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need at least 2 bins, got $bins")
    scored
      .withColumn("bin",
        least(floor(col(pCol) * bins), lit((bins - 1).toDouble)).cast("long"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        round(sum(col(pCol).cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_p"),
        round(sum(when(col(yCol) === 1.0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("pos_rate"))
  }
}
