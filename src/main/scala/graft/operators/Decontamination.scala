package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.functions.TextFunctions._

/** Benchmark decontamination: flag training documents whose k-shingle
  * sets overlap an evaluation/benchmark set — the standard pre-training
  * hygiene step (n-gram overlap against held-out benchmarks) that keeps
  * test data out of the training corpus.
  *
  * Scale shape: the evaluation side of the join is benchmark data —
  * KBs-to-MBs even for large eval suites — so its distinct shingle set is
  * explicitly `broadcast()`: the overlap check is a MAP-SIDE hash join
  * against the corpus shingle stream, no shuffle of the 100 TB side. The
  * per-doc contamination aggregate is the only corpus shuffle, keyed by
  * doc id (narrow: one row per contaminated doc).
  */
object Decontamination {

  /** Per-document contamination report against the rows matching
    * `evalPred` (the benchmark subset). Returns training docs (rows NOT
    * matching `evalPred`) whose fraction of distinct k-shingles shared
    * with ANY benchmark doc reaches `minFrac`:
    * (id, n_contaminated, n_shingles, contamination).
    *
    * One pass over the training corpus, no cache: the eval branch filters
    * `evalPred` BEFORE tokenizing (benchmark data is KBs-to-MBs, so that
    * scan is negligible), and the totals + overlap counts fold into a
    * single left-outer join against the broadcast eval set followed by
    * one conditional aggregate — `count(*)` for the doc's shingles,
    * `count(hit)` for the contaminated ones. */
  def flagContaminated(df0: DataFrame, idCol: String, textCol: String,
                       evalPred: Column, k: Int = 3,
                       minFrac: Double = 0.05): DataFrame = {
    val df = Dedup.widen(df0)
    // 8-byte hashed shingles (see Dedup.shingleHash): the overlap join
    // keys and the broadcast eval set carry longs, not shingle strings.
    // The set comes from the native ShingleHashSet kernel (r16) — same
    // distinct hash values as array_distinct(transform(shingles, hash)),
    // only SORTED, and explode order cannot reach the aggregate outputs.
    def shingleStream(d: DataFrame): DataFrame =
      graft.functions.SafeExplode.explodeSelect(
        d.select(col(idCol), tokens(col(textCol)).as("toks"))
          .filter(size(col("toks")) >= k),
        Seq(col(idCol)),
        GraftFunctions.shingleHashSet(col("toks"), k),
        "s")
    val evalSh = broadcast(shingleStream(df.filter(evalPred))
      .select("s").distinct().withColumn("hit", lit(1)))
    // shingles() emits DISTINCT shingles per doc, so count(*) counts the
    // doc's distinct shingles and count(hit) its distinct contaminated
    // ones (the eval set is distinct — no row multiplication).
    shingleStream(df.filter(!evalPred))
      .join(evalSh, Seq("s"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
      .filter(col("n_contaminated") > 0 && col("contamination") >= minFrac)
      .select(idCol, "n_contaminated", "n_shingles", "contamination")
  }
}
