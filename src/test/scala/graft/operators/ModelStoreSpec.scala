package graft.operators

import graft.SparkSpec

/** ModelStore round-trip guarantees: every model family reloads
  * BIT-identically (floats through parquet FLOAT, longs/strings exact),
  * in the canonical order its consumers expect — that is what makes a
  * stored-model serve path hash-equal to the inline-trained one
  * (`a_ann_ivf_stored`). */
class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  test("centroids round-trip bit-identically and in cid order") {
    val dir = tmpDir("modelstore")
    val cents = Seq(
      (7L, Array(1.5f, -2.25f, Float.MinPositiveValue)),
      (3L, Array(0.1f, 0.2f, 0.3f)))
    ModelStore.saveCentroids(spark, cents, dir, "cents")
    val back = ModelStore.loadCentroids(spark, dir, "cents")
    assert(back.map(_._1) === Seq(3L, 7L))
    assert(back.toMap.view.mapValues(_.toSeq).toMap ===
      cents.toMap.view.mapValues(_.toSeq).toMap)
  }

  test("PQ codebooks round-trip with subspace and codeword order preserved") {
    val dir = tmpDir("modelstore")
    val cbs = Seq(
      Seq((0L, Array(1f, 2f)), (5L, Array(3f, 4f))),
      Seq((2L, Array(-1f, 0.5f))))
    ModelStore.savePqCodebooks(spark, cbs, dir, "pq")
    val back = ModelStore.loadPqCodebooks(spark, dir, "pq")
    assert(back.map(_.map { case (c, v) => (c, v.toSeq) }) ===
      cbs.map(_.map { case (c, v) => (c, v.toSeq) }))
  }

  test("BPE merge table round-trips in training (rk) order") {
    val dir = tmpDir("modelstore")
    val docs = Seq((1L, "low low lower"), (2L, "low lowest")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrainDistributed(docs, "text", rounds = 3)
    ModelStore.saveBpeMerges(merges, dir, "bpe")
    assert(ModelStore.loadBpeMerges(spark, dir, "bpe") ===
      Seq(("l", "o"), ("lo", "w"), ("low", "e")))
  }

  test("stored-model IVF serve is identical to the inline-trained serve") {
    val dir = tmpDir("modelstore")
    val e = graft.catalog.TableCatalog.load(
      spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Vectors.kmeansTrain(e, "vec_id", "embedding", k = 4, iters = 2)
    ModelStore.saveCentroids(spark, cents, dir, "ivf")
    val stored = ModelStore.loadCentroids(spark, dir, "ivf")
    assert(stored.map { case (c, v) => (c, v.toSeq) } ===
      cents.map { case (c, v) => (c, v.toSeq) })
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0)
    val inline = Similarity.ivfTopKWithCentroids(e, q,
      cents.toDF("cid", "cv"), "vec_id", "embedding", k = 5, nprobe = 2)
      .orderBy("qid", "rk").collect()
    val served = Similarity.ivfTopKWithCentroids(e, q,
      stored.toDF("cid", "cv"), "vec_id", "embedding", k = 5, nprobe = 2)
      .orderBy("qid", "rk").collect()
    assert(served === inline)
  }
}
