package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed persistence for trained models — the seam between
  * TRAIN-time and SERVE-time that the inline-training queries lack. At
  * 100 TB, retraining the quantizer inside every retrieval query is the
  * dominant waste (the k-means/PQ/BPE models are corpus-scans to
  * build but kilobytes to store); persisting them also de-noises evals,
  * since every consumer provably serves the SAME model bytes.
  *
  * Every model is a SMALL typed DataFrame (model-budget, like the
  * broadcast literals the trainers already collect), written as one
  * parquet file under `<dir>/<name>.parquet`. Floats round-trip
  * bit-exactly through parquet's FLOAT physical type, so a reloaded
  * model serves hash-identically to the inline-trained one —
  * `a_ann_ivf_stored` gates that end-to-end (train → save → reload →
  * serve ≡ inline), and `a_ann_ivf_recall` consumes the store on its
  * serve path.
  *
  * Schemas:
  *  - centroids (k-means / IVF coarse quantizer): (cid LONG, cv ARRAY<FLOAT>)
  *  - PQ codebooks: (subspace INT, cid LONG, cv ARRAY<FLOAT>)
  *  - BPE merge table: (rk LONG, lhs STRING, rhs STRING, cnt LONG)
  */
object ModelStore {

  def savedPath(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Persist a model frame: models are driver-sized, so one file. */
  def save(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(savedPath(dir, name))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(savedPath(dir, name))

  // ---- corpus-sized INDEX artifacts ----
  // The partitioned sibling of the model frames: signature tables, PQ
  // code stores, IVF assignments — computed once over the corpus and
  // REUSED by every downstream query (at 100 TB the index scan is the
  // artifact; recomputing signatures per dedup query is the waste).
  // Written partitioned (never coalesced — these scale with the corpus).

  def saveIndex(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(savedPath(dir, name))

  def loadIndex(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name)

  // ---- k-means centroids / IVF coarse quantizer ----

  def saveCentroids(spark: SparkSession, cents: Seq[(Long, Array[Float])],
                    dir: String, name: String): Unit = {
    import spark.implicits._
    save(cents.toDF("cid", "cv"), dir, name)
  }

  def loadCentroids(spark: SparkSession, dir: String, name: String)
      : Seq[(Long, Array[Float])] = {
    import spark.implicits._
    load(spark, dir, name).select(col("cid"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
  }

  // ---- PQ codebooks (one row per (subspace, codeword)) ----

  def savePqCodebooks(spark: SparkSession, cbs: Seq[Seq[(Long, Array[Float])]],
                      dir: String, name: String): Unit = {
    import spark.implicits._
    val rows = for ((cb, s) <- cbs.zipWithIndex; (cid, cv) <- cb)
      yield (s, cid, cv)
    save(rows.toDF("subspace", "cid", "cv"), dir, name)
  }

  def loadPqCodebooks(spark: SparkSession, dir: String, name: String)
      : Seq[Seq[(Long, Array[Float])]] = {
    import spark.implicits._
    load(spark, dir, name).select(col("subspace"), col("cid"), col("cv"))
      .as[(Int, Long, Array[Float])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(r => (r._2, r._3)).toSeq)
  }

  // ---- BPE merge table (bpeTrain/bpeTrainDistributed output, as-is) ----

  def saveBpeMerges(merges: DataFrame, dir: String, name: String): Unit =
    save(merges.select("rk", "lhs", "rhs", "cnt"), dir, name)

  /** Reload in training order, as [[TextAnalysis.bpeEncode]] consumes it. */
  def loadBpeMerges(spark: SparkSession, dir: String, name: String)
      : Seq[(String, String)] = {
    import spark.implicits._
    load(spark, dir, name).select(col("rk"), col("lhs"), col("rhs"))
      .as[(Long, String, String)].collect().sortBy(_._1)
      .map(r => (r._2, r._3)).toSeq
  }
}
