package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Deterministic (hash-based) sampling for training-data curation.
  * `rand()`-based sampling (`df.sample`, `stat.sampleBy`) changes with
  * partitioning and reruns; hash sampling keys the decision on CONTENT —
  * u(row) = first 6 md5 hex digits of the key / 16^6 ∈ [0,1) — so a
  * sample is reproducible across runs, engines, and cluster layouts, and
  * a document keeps or loses its slot independent of everything else
  * (the property dataset curation needs for incremental rebuilds).
  *
  * All pure expressions; the filter pushes through projections.
  */
object Sampling {

  /** Uniform [0,1) decision value from a key column. The 24-bit md5
    * prefix comes from the native kernel (graft.plans.Md5PrefixLong) —
    * bit-identical to the conv(substring(md5(...), 1, 6), 16, 10) column
    * form it replaces, minus the hex/substring/conv string churn paid
    * per row by every hash-gated sampler. */
  def hashUnit(key: Column, seed: String = ""): Column =
    (GraftFunctions.md5PrefixLong(concat(key.cast("string"), lit(seed)), 6)
      .cast("double") / lit(16777216.0))

  /** Keep ~`rate` of rows, deterministically. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
                 seed: String = ""): DataFrame = {
    df.filter(hashUnit(col(keyCol), seed) < rate)
  }

  /** Deterministic train/val/test assignment: the hash unit of `keyCol`
    * lands each row in one bucket of `fractions` (cumulative-threshold
    * CASE, map-side only). Content-addressed — a document's split never
    * changes when the corpus grows, shrinks, or repartitions, which is
    * the property that keeps eval sets stable across dataset rebuilds
    * (a rand() split reshuffles leakage into train on every rerun).
    * Adds `splitCol`. Thresholds are the exact IEEE partial sums of the
    * fractions, so any engine reproducing the arithmetic agrees. */
  def hashSplit(df: DataFrame, keyCol: String,
                fractions: Seq[(String, Double)] =
                  Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                seed: String = "", splitCol: String = "split"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0),
      s"fractions must be positive, got $fractions")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val u = hashUnit(col(keyCol), seed)
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = fractions.init.zip(cum.init).foldRight(
      lit(fractions.last._1): Column) { case (((name, _), hi), acc) =>
      when(u < hi, name).otherwise(acc)
    }
    df.withColumn(splitCol, label)
  }

  /** The exact cumulative thresholds [[hashSplit]] uses — exposed so an
    * oracle can embed the same IEEE partial sums. */
  def splitThresholds(fractions: Seq[(String, Double)]): Seq[Double] =
    fractions.map(_._2).scanLeft(0.0)(_ + _).tail

  /** Per-stratum rates (e.g. downsample dominant languages): strata not
    * listed keep everything. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
                           rates: Map[String, Double],
                           seed: String = ""): DataFrame = {
    val rateExpr = rates.foldLeft(lit(1.0)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(hashUnit(col(keyCol), seed) < rateExpr)
  }

  /** Cap rows per group at `maxPerGroup` (the per-domain cap of web-crawl
    * curation: no single domain may dominate the corpus). Selection is
    * deterministic PROVIDED `keyCol` is unique per row (a doc id — true of
    * every call site): rows rank by (md5(key), key) within each group, so
    * which rows survive is content-addressed, not partition-ordered. If
    * key values repeated within a group, the ordering would tie and
    * row_number would break the tie by partition arrival order — pass a
    * unique id, not a payload column.
    * Output: input columns + `rk` (1-based rank within group). One window
    * shuffle keyed by the group column; AQE's skew handling covers the
    * pathological domain. */
  def capPerGroup(df: DataFrame, keyCol: String, groupCol: String,
                  maxPerGroup: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= maxPerGroup)
  }

  /** Temperature-based stratum rebalancing: keep rates proportional to
    * n_stratum^alpha (alpha < 1 flattens the mix toward uniform — the
    * standard multilingual resampling scheme), scaled so the expected
    * kept fraction over the whole input is `targetFrac`, capped at 1.
    * Per-row keep decisions are content-hash deterministic.
    *
    * Scale shape: the stratum-count aggregate is tiny (one row per
    * stratum) and re-joins via broadcast; the corpus itself is touched by
    * exactly one map-side filtered pass. Rates are rounded to 6 dp so the
    * boundary comparison is reproducible across engines. */
  def temperatureSample(df: DataFrame, keyCol: String, strataCol: String,
                        alpha: Double = 0.5, targetFrac: Double = 0.5,
                        seed: String = ""): DataFrame = {
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_stratum"))
    // sum_w accumulates in decimal: a plain double sum merges partials
    // in partition-arrival order, and a rate within 1 ulp of a 6-dp
    // rounding boundary could then flip between runs/engines — the
    // same order-dependence kmeansAssign's means avoid.
    val tot = counts.agg(
      sum(col("n_stratum")).as("n_total"),
      sum(pow(col("n_stratum").cast("double"), alpha).cast("decimal(30,12)"))
        .cast("double").as("sum_w"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0), round(
        lit(targetFrac) * col("n_total") * pow(col("n_stratum").cast("double"), alpha)
          / col("sum_w") / col("n_stratum"), 6)))
      .select(col(strataCol), col("rate"))
    df.join(broadcast(rates), strataCol)
      .filter(hashUnit(col(keyCol), seed) < col("rate"))
  }

  /** Explicit-target data mixing: sample each stratum so the KEPT corpus
    * approaches the requested mixture (`targets`: stratum → fraction of
    * the kept corpus). The binding stratum — the one whose full content
    * is needed to satisfy its target share — keeps rate 1.0 and fixes
    * the output size; every other stratum downsamples to match. This is
    * the training-mixture knob (e.g. "40% code, 30% web, 30% books")
    * stated as targets instead of [[temperatureSample]]'s α heuristic.
    *
    * rate_s = min(1, target_s / share_s) scaled so max over strata of
    * (target adjusted by the binding stratum) is 1: equivalently
    * rate_s = (target_s / n_s) / max_t(target_t / n_t) — exact-integer
    * counts, one tiny aggregate broadcast back, one map-side filtered
    * pass (same scale shape as temperatureSample). Unlisted strata are
    * dropped (target 0). Rates round to 6 dp. Output: input columns +
    * `rate`. */
  def mixtureSample(df: DataFrame, keyCol: String, strataCol: String,
                    targets: Map[String, Double],
                    seed: String = ""): DataFrame = {
    require(targets.nonEmpty, "mixtureSample needs at least one target")
    require(targets.values.forall(_ > 0), "targets must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = broadcast(targets.toSeq.toDF(strataCol, "target"))
    val counts = df.join(tgt, strataCol)
      .groupBy(col(strataCol), col("target"))
      .agg(count(lit(1)).as("n_stratum"))
    // the binding stratum maximizes target/n — its rate is exactly 1
    val norm = counts.agg(max(
      col("target") / col("n_stratum")).as("max_ratio"))
    val rates = counts.crossJoin(broadcast(norm))
      .withColumn("rate", round(
        col("target") / col("n_stratum") / col("max_ratio"), 6))
      .select(col(strataCol), col("rate"))
    df.join(broadcast(rates), strataCol)
      .filter(hashUnit(col(keyCol), seed) < col("rate"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): keep the `k` rows
    * with the smallest exponential keys skey = -ln(u)/w, which draws a
    * size-k sample where each row's inclusion odds are proportional to
    * its weight — the knob curation uses to sample a fixed-size corpus
    * biased toward quality scores rather than flat-rate [[hashSample]].
    *
    * Determinism: u is content-hashed ((first 6 md5 hex digits of
    * key+seed + 0.5) / 16^6 — the [[hashUnit]] grid shifted half a step
    * so u is strictly inside (0,1) and ln(u) is always finite), skey is
    * rounded to 9 dp (the established log()-score discipline: libm ulp
    * differences between engines sit far below the grid), and ties on
    * the rounded key break by `keyCol`. The same row therefore wins or
    * loses its slot identically across runs, engines, and partitionings.
    *
    * Scale shape: one map-side projection + a distributed TakeOrdered
    * (orderBy + limit — per-partition top-k, then a k-sized merge on the
    * driver; nothing global is sorted). Rows with null or non-positive
    * weight cannot be sampled and are filtered out (a zero-weight row
    * has skey = +inf; excluding it is the limit behavior).
    *
    * Output: input columns + `skey`. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, seed: String = ""): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val u = (GraftFunctions.md5PrefixLong(concat(col(keyCol).cast("string"), lit(seed)), 6)
      .cast("double") + lit(0.5)) / lit(16777216.0)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("skey", round(-log(u) / col(weightCol).cast("double"), 9))
      .orderBy(col("skey").asc, col(keyCol).asc)
      .limit(k)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by the log likelihood ratio of a TARGET distribution vs
    * the SOURCE distribution over hashed unigram features —
    * log w(x) = Σ_b c_x(b)·(ln p_t(b) − ln p_s(b)) with Laplace-
    * smoothed bucket probabilities. Documents that look like the target
    * domain get positive weights; resampling by w reshapes a generic
    * corpus toward the target with two count passes, no classifier
    * training.
    *
    * Hashing follows the classifier-features discipline (k leading md5
    * hex digits mod `buckets`). Every ln takes an INTEGER argument
    * (counts + smoothing), so the per-bucket term is bitwise stable;
    * per-doc sums accumulate in decimal. Model is `buckets` rows —
    * broadcast; the corpus pays one token explode and two keyed counts.
    * Output: (id, n_tokens, log_weight, keep = log_weight > 0);
    * zero-token documents drop out (no features, no weight). */
  def dsirWeights(df0: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 24),
      s"buckets out of range: $buckets")
    val k = Iterator.from(1).find(k => math.pow(16, k) >= buckets).get
    import graft.functions.TextFunctions.tokens
    val toks = graft.functions.SafeExplode.explodeSelect(
      Dedup.widen(df0), Seq(col(idCol), targetPred.as("is_t")),
      tokens(col(textCol)), "w")
    // (an r17 pre-aggregation to (id, is_t, b, c) was tried here and
    // REVERTED: without exchange reuse the shared subtree still computed
    // twice, and the extra aggregation level measured 2.5x SLOWER in the
    // paired A/B — the two single-level map-side-combined aggregates
    // below are the cheaper shape)
    val bk = toks.withColumn("b",
      GraftFunctions.md5PrefixLong(col("w"), k) % buckets)
    val model = bk.groupBy("b").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cs"))
    val tot = model.agg(sum("ct").as("nt"), sum("cs").as("ns"))
    val term = model.crossJoin(broadcast(tot))
      .select(col("b"),
        (log(col("ct") + 1) - log(col("nt") + buckets) -
          log(col("cs") + 1) + log(col("ns") + buckets)).as("term"))
    bk.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(term), "b")
      .groupBy(idCol).agg(
        sum("c").as("n_tokens"),
        round(sum((col("c").cast("double") * col("term"))
          .cast("decimal(30,12)")).cast("double"), 6).as("log_weight"))
      .withColumn("keep", col("log_weight") > 0)
  }

  /** Neyman-allocation stratified sampling (Neyman 1934): the total
    * sample budget `total` splits across strata proportional to
    * N_h·S_h — high-variance strata get MORE rows than proportional
    * allocation would give, which minimizes the variance of the overall
    * estimate at fixed cost (the survey-statistics optimum; uniform
    * per-stratum rates are what [[stratifiedSample]] does). Within each
    * stratum the n_h rows are the usual content-hash rank take.
    *
    * Determinism discipline: S_h comes from exact integer sums
    * (n·Σx²−(Σx)², the [[Series.trailingZscore]] identity), the
    * cross-strata weight total accumulates in DECIMAL(30,12) (double
    * summation order would be partitioning-dependent), and n_h =
    * floor(total·w_h/W) — identical IEEE steps in any engine. Floor
    * under-allocates by at most one row per stratum.
    *
    * Scale shape: stats are one map-side-combined aggregate; the
    * model-sized allocation broadcasts back; the take is one window
    * shuffle. Output: input id/stratum + `rk`, `n_alloc`.
    *
    * Degenerate input: when EVERY stratum has zero variance (constant
    * metric column — plausible at corpus scale), the Neyman weight
    * total is 0 and the optimal-allocation ratio is undefined; the
    * allocation falls back to PROPORTIONAL (n_h = floor(total·N_h/N),
    * the standard survey convention when variances carry no
    * information) instead of dividing by zero (an ANSI
    * SparkArithmeticException — caught by the round-15 SampleFuzz
    * differential). */
  def neymanSample(df: DataFrame, strataCol: String, idCol: String,
                   valueCol: String, total: Int): DataFrame = {
    require(total > 0, s"total must be positive, got $total")
    val x = col(valueCol).cast("long")
    val stats = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("nh"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .withColumn("sh",
        when(col("nh") >= 2 && (col("nh") * col("sxx") - col("sx") * col("sx")) > 0,
          sqrt((col("nh") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("nh") * (col("nh") - 1))))
          .otherwise(lit(0.0)))
      .withColumn("whd",
        (col("nh").cast("double") * col("sh")).cast("decimal(30,12)"))
    val tot = stats.agg(sum(col("whd")).cast("double").as("wt"),
      sum(col("nh")).as("n_all"))
    val alloc = stats.crossJoin(broadcast(tot))
      .select(col(strataCol),
        floor(lit(total.toDouble) *
          when(col("wt") > 0, col("whd").cast("double") / col("wt"))
            .otherwise(col("nh").cast("double") / col("n_all")))
          .cast("long").as("n_alloc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.select(col(idCol), col(strataCol))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(alloc), strataCol)
      .filter(col("rk") <= col("n_alloc"))
  }

  /** Deterministic token-budget fill per stratum — "give me ~B tokens
    * of each language, reproducibly": rows rank by (md5(id), id) within
    * the stratum (the content-addressed order every sampler here uses,
    * so the fill is identical on any cluster/partitioning and STABLE
    * under corpus growth up to the boundary), and a row is kept iff the
    * cumulative token count BEFORE it is under `budget` — greedy fill:
    * the boundary doc may overshoot by less than one document, the
    * budget is never underfilled while eligible docs remain. This is
    * the mixture-construction primitive when targets are TOKEN counts,
    * not document counts ([[mixtureSample]]'s unit). One window shuffle
    * keyed by the stratum.
    * Output: input columns + `cum_before` (tokens taken ahead of the
    * row in its stratum). */
  def tokenBudgetSample(df: DataFrame, strataCol: String, idCol: String,
                        tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_before",
        sum(col(tokenCol)).over(w) - col(tokenCol))
      .filter(col("cum_before") < budget)
  }
}
