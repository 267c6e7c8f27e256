package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Structural specs for the two-level quantizer (the oracle gate
  * a_ann_ivf2_topk checks end-to-end values; these pin the model's
  * shape and the assignment's partitioning invariance). */
class TwoLevelQuantizerSpec extends SparkSpec {

  private lazy val e = graft.catalog.TableCatalog.load(
    spark, "/root/testdata/sf0.001", "embeddings")

  test("level-2 codebooks exist per level-1 cell, seeded by the cell's lowest ids") {
    val (cents1, cbs) = Vectors.kmeansTwoLevel(
      e, "vec_id", "embedding", k1 = 4, k2 = 4, iters = 2)
    assert(cents1.size === 4)
    assert(cbs.keySet === cents1.map(_._1).toSet)
    // subcell ids are member ids of the cell (seeds), strictly sorted
    for ((_, cb) <- cbs) {
      assert(cb.nonEmpty && cb.size <= 4)
      assert(cb.map(_._1) === cb.map(_._1).sorted)
    }
  }

  test("two-level assignment is invariant to partitioning") {
    val (cents1, cbs) = Vectors.kmeansTwoLevel(
      e, "vec_id", "embedding", k1 = 4, k2 = 4, iters = 2)
    def assignOf(df: org.apache.spark.sql.DataFrame) = {
      val (g, subOf) = Vectors.twoLevelAssignExprs(col("embedding"), cents1, cbs)
      df.select(col("vec_id"), col("embedding"), g.as("g"))
        .withColumn("sub", subOf(col("g")))
        .select("vec_id", "g", "sub")
        .collect().map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Long]("g"), r.getAs[Long]("sub"))).toMap
    }
    val a = assignOf(e)
    val b = assignOf(e.repartition(13, col("label")))
    assert(a === b)
    // both levels are exercised: every sub id is a codebook entry of
    // the row's own cell
    for ((_, (g, sub)) <- a) assert(cbs(g).exists(_._1 == sub))
    // and the model itself retrains identically on the repartitioned frame
    val (cents1b, cbsB) = Vectors.kmeansTwoLevel(
      e.repartition(13, col("label")), "vec_id", "embedding",
      k1 = 4, k2 = 4, iters = 2)
    assert(cents1b.map { case (c, v) => (c, v.toSeq) } ===
      cents1.map { case (c, v) => (c, v.toSeq) })
    assert(cbsB.view.mapValues(_.map { case (c, v) => (c, v.toSeq) }).toMap ===
      cbs.view.mapValues(_.map { case (c, v) => (c, v.toSeq) }).toMap)
  }
}
