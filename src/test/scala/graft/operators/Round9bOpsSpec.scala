package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-9 additions: b-bit minhash, power-iteration PCA, Kneser–Ney
  * smoothing, multi-probe LSH. */
class Round9bOpsSpec extends SparkSpec {

  private def r9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  test("bbitMinhash: identical docs agree on every bit and every component") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((1L, txt), (2L, txt),
      (3L, "totally different words entirely here now ok right")).toDF("doc_id", "text")
    val out = Dedup.bbitMinhash(docs, "doc_id", "text").collect()
    val pair = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined, s"expected the (1,2) duplicate pair, got ${out.toSeq}")
    val p = pair.get
    assert(p.getAs[Long]("n_sig_match") === 16L)
    assert(p.getAs[Long]("n_bit_match") === 16L)
    assert(p.getAs[Double]("est_jaccard") === 1.0)
    assert(p.getAs[Double]("j_bbit") === 1.0)
  }

  test("bbitMinhash: bit agreement never undercounts signature agreement") {
    val docs = graft.catalog.TableCatalog
      .load(spark, "/root/testdata/sf0.001", "documents")
    val bad = Dedup.bbitMinhash(docs, "doc_id", "text")
      .filter(col("n_bit_match") < col("n_sig_match")).count()
    assert(bad === 0L) // equal components have equal lowest bits
  }

  test("powerIterationPC: a rank-1 corpus converges to its axis") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)),
      (3L, Array(3f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val v = Vectors.powerIterationPC(rows, "embedding", dims = 4, iters = 2)
    assert(v === Seq(1.0, 0.0, 0.0, 0.0))
  }

  test("kneserNeyPerplexity: hand-computed bigram KN with discount 0.75") {
    import spark.implicits._
    // train "a b a b": c2 = {(a,b): 2, (b,a): 1}; ctx a: cp=2 n1v=1,
    // ctx b: cp=1 n1v=1; cont: n1w(a)=1 n1w(b)=1; nbb=2, V=2
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val target = Seq((10L, "a b"), (11L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyPerplexity(train, target, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 10: p(a) = pc(a) = (1+1)/(2+2+1) = 0.4;
    //         p(b|a) = (2-0.75)/2 + 0.75*1/2 * 0.4 = 0.775
    val exp10 = BigDecimal(math.exp(-(BigDecimal(r9(math.log(0.4)))
      + BigDecimal(r9(math.log(0.775)))).toDouble / 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getAs[Long]("n_tokens") === 2L)
    assert(out(0).getAs[Double]("ppl_kn") === exp10)
    // doc 11 ("c", OOV): p = pc(c) = (0+1)/5 = 0.2 -> ppl = 5
    assert(out(1).getAs[Double]("ppl_kn") === 5.0)
  }

  test("JaroWinklerSimilarity: pinned against the DuckDB-checked reference cases") {
    import graft.plans.JaroWinklerSimilarity.{compute => jw}
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    assert(math.abs(jw(u("martha"), u("marhta")) - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw(u("dixon"), u("dicksonx")) - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw(u("CRATE"), u("TRACE")) - 0.7333333333333334) < 1e-12)
    assert(jw(u("abc"), u("abc")) === 1.0)
    assert(jw(u("abc"), u("xyz")) === 0.0)
    assert(jw(u(""), u("")) === 0.0) // DuckDB convention
    assert(jw(u("ab"), u("ba")) === 0.0) // window 0: no matches
  }

  test("graft_jaro_winkler runs inside codegen over a DataFrame") {
    import spark.implicits._
    val out = Seq(("martha", "marhta"), ("abc", "xyz"))
      .toDF("a", "b")
      .select(round(call_function("graft_jaro_winkler", col("a"), col("b")), 6).as("jw"))
      .orderBy(col("jw").desc)
      .as[Double].collect()
    assert(out.toSeq === Seq(0.961111, 0.0))
  }

  test("multiprobeLshTopK: probing Hamming-1 buckets never loses recall vs single-probe") {
    val e = graft.catalog.TableCatalog
      .load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("qid", "nid")
    def hits(ann: org.apache.spark.sql.DataFrame): Long =
      bf.join(ann.select(col("qid").as("aq"), col("nid").as("an")),
        col("qid") === col("aq") && col("nid") === col("an"), "left_semi").count()
    val single = hits(Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5))
    val multi = hits(Similarity.multiprobeLshTopK(e, q, "vec_id", "embedding", k = 5))
    assert(multi >= single)
    assert(bf.count() > 0)
  }
}
