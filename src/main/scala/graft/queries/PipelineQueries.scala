package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.operators.{Dedup, Similarity, Sketches, TextAnalysis}

/** Training-data pipeline operators (dedup / similarity / text analysis)
  * as driver-contract queries over the `documents` and `embeddings`
  * tables, each paired with a DuckDB oracle in its [[QuerySpec]].
  *
  * Cross-engine determinism contract (what makes hash-match possible):
  * all content hashes are md5 hex strings; minhash = lexicographic min
  * over md5s; cosine = sequential double fold rounded to 6 dp; ratios are
  * exact integer divisions in double. See operator Scaladoc for the
  * 100 TB design rationale (inverted-index / LSH / chunk blocking — no
  * O(n²) pair materialization anywhere).
  */
object PipelineQueries {

  import OracleText.{bit, cosAB, cosD, sh3, stopDe, stopEn, stopEs, stopFr, toks}

  private def docs(s: SparkSession, dir: String): DataFrame =
    TableCatalog.load(s, dir, "documents")
  /** One model-store root per JVM: the gate lambdas run per invocation,
    * and a createTempDirectory per call leaked a /tmp dir each gate/bench
    * pass. Overwrite-mode writes make reuse safe under two REQUIREMENTS
    * (ADVICE r11): (1) artifact names are unique PER QUERY — a gate may
    * only save/load names no other gate touches (currently: minhash_sig,
    * pq_cb/pq_coarse/pq_codes, bpe_merges, ivf_stored, ivf_recall — all
    * single-owner), so even a concurrent harness cannot interleave one
    * query's save with another's reload of the same name; (2) within a
    * query, train-store-reload is sequential by construction (the lambda
    * body). The driver harnesses additionally run queries one at a time
    * (see SparkEntry's contract note). The dir is removed at JVM exit. */
  private lazy val modelDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_models")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(d.toFile)
    }))
    d.toString
  }

  /** Train → persist → reload (ModelStore round trip) for the coarse
    * quantizer — the stored-model serve seam the a_ann_ivf_* gates
    * certify. */
  private def storedCentroids(s: SparkSession, e: DataFrame, name: String,
                              k: Int = 4, iters: Int = 2)
      : Seq[(Long, Array[Float])] = {
    val cents = graft.operators.Vectors.kmeansTrain(
      e, "vec_id", "embedding", k, iters)
    graft.operators.ModelStore.saveCentroids(s, cents, modelDir, name)
    graft.operators.ModelStore.loadCentroids(s, modelDir, name)
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    TableCatalog.load(s, dir, "embeddings")

  /** Per-query recall of an approximate top-k against the brute-force
    * ground truth in ONE pass over `bf`: both frames are unique on
    * (qid, nid), so the left join preserves bf's row count and a single
    * aggregate reads n_exact = rows, n_hit = matched rows. (The earlier
    * two-aggregate + rejoin form scanned the brute-force subtree twice —
    * the dominant cost of every recall eval.) Values are identical:
    * count(anid) is 0 where nothing matched, exactly the old
    * coalesce(n_hit, 0). */
  private def recallVsExact(bf: DataFrame, approx: DataFrame): DataFrame =
    bf.join(approx.select(col("qid").as("aqid"), col("nid").as("anid")),
        col("qid") === col("aqid") && col("nid") === col("anid"), "left")
      .groupBy("qid")
      .agg(count(col("anid")).as("n_hit"), count(lit(1)).as("n_exact"))
      .select(col("qid"), col("n_hit"), col("n_exact"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
      .orderBy("qid")

  // the full-corpus LSH-pair → symmetrized-edge → min-label-reach CTE
  // chain, ONE copy — every clustering oracle (d_dedup_clusters,
  // g_cc_incremental, d_cluster_best, d_golden_record) appends its own
  // tail, so a banding/threshold edit can never drift between copies
  private val ccReachCtes: String =
    s"""sh AS (
       |  SELECT doc_id, unnest($sh3) AS s
       |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
       |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
       |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
       |         FROM sig GROUP BY doc_id, h // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |est AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
       |        JOIN sig y ON y.doc_id = d2 AND y.h = x.h
       |        GROUP BY d1, d2
       |        HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
       |edges AS (SELECT d1 AS a, d2 AS b FROM est UNION SELECT d2, d1 FROM est),
       |reach(v, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v)""".stripMargin
  // shared VERBATIM by d_dedup_clusters and g_cc_incremental: the
  // incremental merge must be hash-equal to the full recompute
  private val dedupClustersOracle =
    s"""WITH RECURSIVE $ccReachCtes
       |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin
  // cosAB restricted to the first 16 dims (the Matryoshka coarse pass)
  private val cosPre = cosD("a.embedding[1:16]", "b.embedding[1:16]")

  // a_ann_ivfpq_*: one codebook-CTE block per PQ subspace (train =
  // a_kmeans_assign's rank-seeded kmeans on the 16-dim slice, one mean
  // update), r{s} = per-vector nearest codebook entry, enc = the
  // concatenated reconstruction the asymmetric scoring runs against.
  // zero-safe variant mirroring Similarity.cosineSafe: zero-norm side
  // scores 0.0 (residual quantization makes zero vectors routine)
  private def cosSqlSafe(a: String, b: String): String =
    s"CASE WHEN sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * " +
      s"sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])) = 0 THEN 0.0 " +
      s"ELSE ${cosD(a, b)} END"
  // auto-k k-means CTE chain (Dedup.autoK twin: k = max(4, ceil(sqrt(N))),
  // init = first k vec_ids, iters=2 = one decimal-exact mean update,
  // 6-dp-cosine/lowest-cid argmax) ending in assign(vec_id, cid) —
  // shared by the scale-safe dedup gates
  private val kmeansAutoCtes: String =
    s"""kk AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k FROM embeddings),
       |c0 AS (SELECT s.vec_id AS cid, s.embedding AS cv FROM (
       |  SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rn
       |  FROM embeddings) s, kk WHERE s.rn <= kk.k),
       |a1 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
       |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
       |m1 AS (SELECT a1.cid, d.dim,
       |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
       |           / count(*) AS mv
       |       FROM a1 JOIN embeddings e USING (vec_id),
       |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
       |       GROUP BY a1.cid, d.dim),
       |c1 AS (SELECT c0.cid,
       |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
       |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
       |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
       |       GROUP BY c0.cid),
       |assign AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS crk
       |  FROM embeddings e CROSS JOIN c1 c) WHERE crk = 1)""".stripMargin

  // fixed-count query sample — the oracle twin of
  // Similarity.fixedQuerySample: 20 hash-minimal vec_ids (single
  // source shared across query modules)
  private val qsCte: String = OracleSamples.qsCte
  private val qsPred: String = OracleSamples.qsPred
  // bf ground-truth CTE over the fixed sample (shared by every recall gate)
  private def bfFixedCte(cosAB: String): String =
    s"""bf AS (
       |  SELECT qid, nid FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nid,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosAB DESC, b.vec_id) AS rk
       |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
       |    WHERE a.vec_id IN (SELECT vec_id FROM qs))
       |  WHERE rk <= 5)""".stripMargin

  private def pqCbCte(s: Int, src: String = "embeddings", vec: String = "embedding"): String = {
    val sub = 16
    val (lo, hi) = (s * sub + 1, (s + 1) * sub)
    s"""sv$s AS (SELECT vec_id, $vec[$lo:$hi] AS sv FROM $src),
       |cb${s}c0 AS (SELECT vec_id AS cid, sv AS cv FROM sv$s ORDER BY vec_id LIMIT 4),
       |cb${s}a1 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSqlSafe("e.sv", "c.cv")} DESC, c.cid) AS rk
       |  FROM sv$s e CROSS JOIN cb${s}c0 c) WHERE rk = 1),
       |cb${s}m1 AS (SELECT a.cid, d.dim,
       |    CAST(sum(CAST(CAST(e.sv[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS mv
       |  FROM cb${s}a1 a JOIN sv$s e USING (vec_id),
       |       unnest(range(1, $sub + 1)) AS d(dim)
       |  GROUP BY a.cid, d.dim),
       |cb${s}c1 AS (SELECT c0.cid,
       |    CASE WHEN count(m.mv) = 0 THEN any_value(c0.cv)
       |         ELSE list(CAST(m.mv AS FLOAT) ORDER BY m.dim) END AS cv
       |  FROM cb${s}c0 c0 LEFT JOIN cb${s}m1 m ON m.cid = c0.cid GROUP BY c0.cid),
       |r$s AS (SELECT vec_id, cid, cv FROM (
       |  SELECT e.vec_id, c.cid, c.cv,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSqlSafe("e.sv", "c.cv")} DESC, c.cid) AS rk
       |  FROM sv$s e CROSS JOIN cb${s}c1 c) WHERE rk = 1)""".stripMargin
  }
  private def pqScoredCtes(pre: String, qpred: String): String = {
    "WITH " + pre + (0 until 4).map(pqCbCte(_)).mkString(",\n") +
      s""",
         |enc AS (SELECT e.vec_id, r0.cv || r1.cv || r2.cv || r3.cv AS recon
         |  FROM embeddings e JOIN r0 USING (vec_id) JOIN r1 USING (vec_id)
         |  JOIN r2 USING (vec_id) JOIN r3 USING (vec_id)),
         |cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 100 = 1),
         |assign AS (SELECT nid, cid FROM (
         |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
         |        FROM embeddings e CROSS JOIN cent c)) WHERE crk = 1),
         |probes AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT q.vec_id AS qid, c.cid, ${cosD("q.embedding", "c.cv")} AS ccos
         |        FROM embeddings q CROSS JOIN cent c WHERE $qpred)) WHERE crk <= 2),
         |sc AS (SELECT DISTINCT p.qid, a.nid, ${cosD("x.embedding", "n.recon")} AS score_pq
         |       FROM probes p JOIN assign a ON p.cid = a.cid AND a.nid <> p.qid
         |       JOIN embeddings x ON x.vec_id = p.qid
         |       JOIN enc n ON n.vec_id = a.nid)""".stripMargin
  }
  // a_ann_ivfpq_res_topk: faiss-default by_residual=true — codebooks
  // trained on float32 coarse residuals (FLOAT − FLOAT is the same
  // IEEE single op in both engines), reconstruction = coarse centroid
  // + decoded residual, same probe/score skeleton.
  private def pqResScoredCtes(pre: String, qpred: String): String = {
    val coarse =
      s"""WITH ${pre}cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 100 = 1),
         |assign AS (SELECT nid, cid FROM (
         |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
         |        FROM embeddings e CROSS JOIN cent c)) WHERE crk = 1),
         |res AS (SELECT a.nid AS vec_id,
         |        list_transform(range(1, 65), i -> (e.embedding[i] - c.cv[i])::FLOAT) AS rv
         |        FROM assign a JOIN embeddings e ON e.vec_id = a.nid
         |        JOIN cent c ON c.cid = a.cid),
         |""".stripMargin
    coarse + (0 until 4).map(pqCbCte(_, "res", "rv")).mkString(",\n") +
      s""",
         |enc AS (SELECT pr.vec_id,
         |        list_transform(range(1, 65), i -> (c.cv[i] + pr.pq[i])::FLOAT) AS recon
         |        FROM (SELECT r0.vec_id, r0.cv || r1.cv || r2.cv || r3.cv AS pq
         |              FROM r0 JOIN r1 USING (vec_id) JOIN r2 USING (vec_id)
         |              JOIN r3 USING (vec_id)) pr
         |        JOIN assign a ON a.nid = pr.vec_id
         |        JOIN cent c ON c.cid = a.cid),
         |probes AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT q.vec_id AS qid, c.cid, ${cosD("q.embedding", "c.cv")} AS ccos
         |        FROM embeddings q CROSS JOIN cent c WHERE $qpred)) WHERE crk <= 2),
         |sc AS (SELECT DISTINCT p.qid, a.nid, ${cosD("x.embedding", "n.recon")} AS score_pq
         |       FROM probes p JOIN assign a ON p.cid = a.cid AND a.nid <> p.qid
         |       JOIN embeddings x ON x.vec_id = p.qid
         |       JOIN enc n ON n.vec_id = a.nid)""".stripMargin
  }
  private val pqResTopkSql = pqResScoredCtes("", "q.vec_id % 50 = 0") +
    s"""
       |SELECT qid, nid, score_pq, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_pq DESC, nid) AS rk FROM sc)
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  private val pqResRecallSql = pqResScoredCtes(qsCte + ",\n", qsPred) +
    s""",
       |pq AS (SELECT qid, nid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_pq DESC, nid) AS rk FROM sc)
       |  WHERE rk <= 5),
       |${bfFixedCte(cosAB)},
       |hit AS (SELECT bf.qid, count(*) AS n_hit FROM bf
       |        JOIN pq ON pq.qid = bf.qid AND pq.nid = bf.nid GROUP BY bf.qid)
       |SELECT b.qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |  count(*)::BIGINT AS n_exact,
       |  round(coalesce(h.n_hit, 0)::DOUBLE / count(*), 6) AS recall
       |FROM bf b LEFT JOIN hit h ON h.qid = b.qid
       |GROUP BY b.qid, h.n_hit ORDER BY b.qid""".stripMargin
  private val pqCodesSql =
    "WITH " + (0 until 4).map(pqCbCte(_)).mkString(",\n") +
      s"""
         |SELECT e.vec_id, r0.cid::BIGINT AS code_0, r1.cid::BIGINT AS code_1,
         |  r2.cid::BIGINT AS code_2, r3.cid::BIGINT AS code_3
         |FROM embeddings e JOIN r0 USING (vec_id) JOIN r1 USING (vec_id)
         |JOIN r2 USING (vec_id) JOIN r3 USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
  private val pqTopkSql = pqScoredCtes("", "q.vec_id % 50 = 0") +
    s"""
       |SELECT qid, nid, score_pq, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_pq DESC, nid) AS rk FROM sc)
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  private val pqRecallSql = pqScoredCtes(qsCte + ",\n", qsPred) +
    s""",
       |pq AS (SELECT qid, nid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_pq DESC, nid) AS rk FROM sc)
       |  WHERE rk <= 5),
       |${bfFixedCte(cosAB)},
       |hit AS (SELECT bf.qid, count(*) AS n_hit FROM bf
       |        JOIN pq ON pq.qid = bf.qid AND pq.nid = bf.nid GROUP BY bf.qid)
       |SELECT b.qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |  count(*)::BIGINT AS n_exact,
       |  round(coalesce(h.n_hit, 0)::DOUBLE / count(*), 6) AS recall
       |FROM bf b LEFT JOIN hit h ON h.qid = b.qid
       |GROUP BY b.qid, h.n_hit ORDER BY b.qid""".stripMargin

  // t_quality_classifier: one CTE block per gradient iteration —
  // p{i} 6-dp sigmoid under the prior weights, g{i} decimal gradient
  // means, w{i} 9-dp weight update. Weights start at 0 (p1 = 0.5).
  private def logregChain(iters: Int, lr: String): String = {
    val feat =
      s"""f AS (SELECT doc_id,
         |  [1.0, len($toks)/100.0, length(text)/1000.0] AS x,
         |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents)""".stripMargin
    def iterCte(i: Int, w: Seq[String]): String =
      s"""p$i AS (SELECT doc_id, x, y,
         |  round(1.0/(1.0 + exp(-(x[1]*${w(0)} + x[2]*${w(1)} + x[3]*${w(2)}))), 6) AS p
         |  FROM f${if (i == 1) "" else s", w${i - 1}"}),
         |g$i AS (SELECT
         |  CAST(sum(CAST((y - p) * x[1] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS g0,
         |  CAST(sum(CAST((y - p) * x[2] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS g1,
         |  CAST(sum(CAST((y - p) * x[3] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS g2
         |  FROM p$i),
         |w$i AS (SELECT round(${w(0)} + $lr*g0, 9) AS w0,
         |  round(${w(1)} + $lr*g1, 9) AS w1, round(${w(2)} + $lr*g2, 9) AS w2
         |  FROM g$i${if (i == 1) "" else s", w${i - 1}"})""".stripMargin
    "WITH " + feat + ",\n" +
      iterCte(1, Seq("0.0", "0.0", "0.0")) + ",\n" +
      (2 to iters).map(i => iterCte(i, Seq("w0", "w1", "w2"))).mkString(",\n") +
      s""",
         |scored AS (SELECT doc_id,
         |  round(1.0/(1.0 + exp(-(x[1]*w0 + x[2]*w1 + x[3]*w2))), 6) AS p, y
         |  FROM f, w$iters)""".stripMargin
  }
  // generalized D-dim variant of logregChain for feature frames built
  // by their own CTE (`featCte` must yield f(doc_id, x, y)); identical
  // numeric recipe (6-dp sigmoid, decimal gradient means, 9-dp weights)
  // every chain CTE is MATERIALIZED: without the hint DuckDB inlines
  // w{i-1} into p{i} recursively and the plan grows 2^iters scans of
  // the base table (10 iterations was the practical ceiling; 20+ ran
  // out of file handles)
  private def logregChainD(featCte: String, dims: Int, iters: Int, lr: String): String = {
    def dot(w: Int => String) =
      (1 to dims).map(j => s"x[$j]*${w(j - 1)}").mkString(" + ")
    def iterCte(i: Int, w: Int => String): String =
      s"""p$i AS MATERIALIZED (SELECT doc_id, x, y,
         |  round(1.0/(1.0 + exp(-(${dot(w)}))), 6) AS p
         |  FROM f${if (i == 1) "" else s", w${i - 1}"}),
         |g$i AS (SELECT
         |  ${(0 until dims).map(j =>
              s"CAST(sum(CAST((y - p) * x[${j + 1}] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS g$j")
             .mkString(",\n  ")}
         |  FROM p$i),
         |w$i AS MATERIALIZED (SELECT ${(0 until dims).map(j =>
              s"round(${w(j)} + $lr*g$j, 9) AS w$j").mkString(", ")}
         |  FROM g$i${if (i == 1) "" else s", w${i - 1}"})""".stripMargin
    "WITH " + featCte.replaceFirst("f AS \\(", "f AS MATERIALIZED (") + ",\n" + iterCte(1, _ => "0.0") + ",\n" +
      (2 to iters).map(i => iterCte(i, j => s"w$j")).mkString(",\n") +
      s""",
         |scored AS (SELECT doc_id,
         |  round(1.0/(1.0 + exp(-(${dot(j => s"w$j")}))), 6) AS p, y
         |  FROM f, w$iters)""".stripMargin
  }
  // hashed char-3-gram feature CTE (16 md5-leading-digit buckets +
  // bias): in-list gram slide, per-bucket count share — the DuckDB
  // mirror of Classifier.hashedCharNgramFeatures
  private val charNgramFeatCte =
    """f AS (SELECT doc_id,
      |  [1.0] || list_transform(range(0, 16), j ->
      |    CASE WHEN len(bks) > 0
      |      THEN len(list_filter(bks, b -> b = j))::DOUBLE / len(bks)
      |      ELSE 0.0 END) AS x,
      |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |  FROM (SELECT doc_id, lang,
      |    CASE WHEN length(lower(text)) < 3 THEN []
      |      ELSE list_transform(range(1, length(lower(text)) - 1), i ->
      |        strpos('0123456789abcdef',
      |          substring(md5(substring(lower(text), i, 3)), 1, 1)) - 1)
      |      END AS bks
      |    FROM documents))""".stripMargin
  private val classifierFeaturesSql =
    logregChainD(charNgramFeatCte, 17, 3, "0.5") +
      """
        |SELECT doc_id, p, (p >= 0.5) AS pred, y
        |FROM scored ORDER BY doc_id""".stripMargin
  private val logregCtes = logregChain(3, "0.5")
  private val logregSql = logregCtes +
    """
      |SELECT doc_id, p, (p >= 0.5) AS pred, y
      |FROM scored ORDER BY doc_id""".stripMargin
  // threshold sweep over the same trained scores — the operating-point
  // eval that decides where a quality filter cuts
  private val logregPrSql = logregCtes +
    """,
      |th AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7]) AS t),
      |cm AS (SELECT t,
      |  CAST(sum(CASE WHEN p >= t AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(sum(CASE WHEN p >= t AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN p < t AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(sum(CASE WHEN p < t AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM scored CROSS JOIN th GROUP BY t)
      |SELECT t, tp, fp, fn, tn,
      |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE round(tp::DOUBLE / (tp + fp), 6) END AS precision,
      |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE round(tp::DOUBLE / (tp + fn), 6) END AS recall
      |FROM cm ORDER BY t""".stripMargin

  // t_bpe_train: one CTE block per training round. The greedy
  // left-to-right merge is the gaps-and-islands parity selection —
  // selected(i) = match(i) && !selected(i-1) resolves to "even offset
  // within each maximal run of consecutive match positions" (runs
  // longer than 1 only occur for self-pairs like (a,a)); consumed
  // rows (right partner of a selected merge) are lag(sel).
  private def bpeRound(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (SELECT sy[i] AS a, sy[i+1] AS b, sum(freq) AS cnt
       |      FROM $prev, unnest(range(1, len(sy))) AS u(i) GROUP BY 1, 2),
       |m$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |e$r AS (SELECT w, freq, i, sy[i] AS s,
       |      (i < len(sy) AND sy[i] = (SELECT a FROM m$r)
       |        AND sy[i+1] = (SELECT b FROM m$r)) AS mt
       |      FROM $prev, unnest(range(1, len(sy) + 1)) AS u(i)),
       |g$r AS (SELECT *, sum(CASE WHEN mt THEN 0 ELSE 1 END)
       |        OVER (PARTITION BY w ORDER BY i) AS grp FROM e$r),
       |s$r AS (SELECT *, mt AND ((i - min(CASE WHEN mt THEN i END)
       |        OVER (PARTITION BY w, grp)) % 2 = 0) AS sel FROM g$r),
       |w$r AS (SELECT w, freq, list(sym ORDER BY i) AS sy FROM (
       |        SELECT w, freq, i,
       |          CASE WHEN sel THEN s || (SELECT b FROM m$r) ELSE s END AS sym,
       |          coalesce(lag(sel) OVER (PARTITION BY w ORDER BY i), false) AS consumed
       |        FROM s$r)
       |      WHERE NOT consumed GROUP BY w, freq)""".stripMargin
  }
  private val bpeRounds = 5
  // minFreq thresholds the word-frequency table exactly where bpeTrain
  // does — inside the aggregate, before any merge round sees it
  private def bpeCtesOf(minFreq: Long): String =
    s"""WITH w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |    list_transform(range(1, length(w) + 1), i -> substring(w, i, 1)) AS sy
       |  FROM (SELECT unnest($toks) AS w FROM documents) GROUP BY w
       |  HAVING count(*) >= $minFreq),
       |""".stripMargin +
      (1 to bpeRounds).map(bpeRound).mkString(",\n")
  private val bpeCtes = bpeCtesOf(1)
  private def bpeTrainSqlOf(minFreq: Long): String = bpeCtesOf(minFreq) + "\n" +
    (1 to bpeRounds).map(r =>
      s"SELECT $r::BIGINT AS rk, a AS lhs, b AS rhs, cnt::BIGINT AS cnt FROM m$r")
      .mkString("\nUNION ALL ") +
    "\nORDER BY rk"
  private val bpeTrainSql = bpeTrainSqlOf(1)
  private val bpeTrainMinFreqSql = bpeTrainSqlOf(3)
  // t_bpe_encode: the final round's word table w{N} IS the trained
  // segmentation — per-doc BPE token counts are one join of the doc
  // word stream against it.
  private val bpeEncodeSql = bpeCtes +
    s""",
       |wl AS (SELECT w, len(sy)::BIGINT AS bl FROM w$bpeRounds),
       |tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
       |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
       |          sum(bl)::BIGINT AS n_bpe_tokens
       |        FROM tok JOIN wl USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
       |  coalesce(a.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // IVF-SQ: a_ann_ivf_trained's kmeans+probe chain with candidates
  // scored against the SQ8 reconstruction (a_ann_sq_topk's r CTE)
  // instead of the raw vectors; recall shares the scored chain
  private def ivfSqScoredCtes(pre: String, qpred: String): String =
    s"""WITH ${pre}c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
       |a1 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
       |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
       |m1 AS (SELECT a1.cid, d.dim,
       |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
       |           / count(*) AS mv
       |       FROM a1 JOIN embeddings e USING (vec_id),
       |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
       |       GROUP BY a1.cid, d.dim),
       |c1 AS (SELECT c0.cid,
       |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
       |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
       |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
       |       GROUP BY c0.cid),
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |mm AS (SELECT d, min(v[d + 1]) AS mn, max(v[d + 1]) AS mx
       |       FROM ev CROSS JOIN (SELECT unnest(range(64)) AS d) GROUP BY d),
       |r AS (SELECT ev.vec_id,
       |        list(CASE WHEN mm.mx > mm.mn THEN
       |               mm.mn + (least(255, greatest(0,
       |                 floor((v[mm.d + 1] - mm.mn) * 255.0 / (mm.mx - mm.mn)))) + 0.5)
       |                 * (mm.mx - mm.mn) / 256.0
       |             ELSE mm.mn END ORDER BY mm.d) AS rv
       |      FROM ev CROSS JOIN mm GROUP BY ev.vec_id),
       |assign AS (SELECT nid, cid FROM (
       |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
       |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
       |        FROM embeddings e CROSS JOIN c1 c)) WHERE crk = 1),
       |probes AS (SELECT qid, cid FROM (
       |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
       |  FROM (SELECT q.vec_id AS qid, c.cid, ${cosD("q.embedding", "c.cv")} AS ccos
       |        FROM embeddings q CROSS JOIN c1 c WHERE $qpred)) WHERE crk <= 2),
       |sc AS (SELECT DISTINCT p.qid, a.nid,
       |         round(list_dot_product(x.v, y.rv) /
       |           (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.rv, y.rv))), 6) AS cos
       |       FROM probes p JOIN assign a ON p.cid = a.cid AND a.nid <> p.qid
       |       JOIN ev x ON x.vec_id = p.qid
       |       JOIN r y ON y.vec_id = a.nid)""".stripMargin
  private val ivfSqTopkSql = ivfSqScoredCtes(qsCte + ",\n", qsPred) +
    """
      |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
      |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  private val ivfSqRecallSql = ivfSqScoredCtes(qsCte + ",\n", qsPred) +
    s""",
       |ivfsq AS (SELECT qid, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
       |  WHERE rk <= 5),
       |${bfFixedCte(cosAB)},
       |hit AS (SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hit
       |        FROM bf JOIN ivfsq ON ivfsq.qid = bf.qid AND ivfsq.nid = bf.nid GROUP BY bf.qid),
       |ex AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY qid)
       |SELECT ex.qid, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit, n_exact,
       |  round(coalesce(n_hit, 0)::DOUBLE / n_exact, 6) AS recall
       |FROM ex LEFT JOIN hit USING (qid) ORDER BY ex.qid""".stripMargin

  private val minhashLshOracle =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest($sh3) AS s
       |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
       |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
       |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
       |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
       |         FROM sig GROUP BY doc_id, h // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT d1, d2, count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 AS est_jaccard
       |FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
       |GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5
       |ORDER BY d1, d2""".stripMargin

  // L1 = a_kmeans_assign's training + assignment (identical chain),
  // then the fused per-cell level-2 k-means (seeds = the 4 lowest
  // ids in each cell, one decimal-exact mean update with empty-
  // subcluster carry) and the two-level probe (top-2 cells, top-2
  // subcells per probed cell).
  private val ivf2TopkOracle =
    s"""WITH $qsCte,
       |c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
       |a1 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
       |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
       |m1 AS (SELECT a1.cid, d.dim,
       |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
       |           / count(*) AS mv
       |       FROM a1 JOIN embeddings e USING (vec_id),
       |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
       |       GROUP BY a1.cid, d.dim),
       |c1 AS (SELECT c0.cid,
       |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
       |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
       |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
       |       GROUP BY c0.cid),
       |assign AS (SELECT nid, cid FROM (
       |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
       |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
       |        FROM embeddings e CROSS JOIN c1 c)) WHERE crk = 1),
       |s0 AS (SELECT g, sid, sv FROM (
       |  SELECT a.cid AS g, a.nid AS sid, e.embedding AS sv,
       |    row_number() OVER (PARTITION BY a.cid ORDER BY a.nid) AS rn
       |  FROM assign a JOIN embeddings e ON e.vec_id = a.nid) WHERE rn <= 4),
       |b1 AS (SELECT vec_id, g, sid FROM (
       |  SELECT a.nid AS vec_id, a.cid AS g, s.sid,
       |    row_number() OVER (PARTITION BY a.nid ORDER BY ${cosD("e.embedding", "s.sv")} DESC, s.sid) AS rk
       |  FROM assign a JOIN embeddings e ON e.vec_id = a.nid
       |  JOIN s0 s ON s.g = a.cid) WHERE rk = 1),
       |m2 AS (SELECT b1.g, b1.sid, d.dim,
       |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
       |           / count(*) AS mv
       |       FROM b1 JOIN embeddings e USING (vec_id),
       |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
       |       GROUP BY b1.g, b1.sid, d.dim),
       |c2 AS (SELECT s0.g, s0.sid,
       |         CASE WHEN count(m2.mv) = 0 THEN any_value(s0.sv)
       |              ELSE list(CAST(m2.mv AS FLOAT) ORDER BY m2.dim) END AS sv
       |       FROM s0 LEFT JOIN m2 ON m2.g = s0.g AND m2.sid = s0.sid
       |       GROUP BY s0.g, s0.sid),
       |b2 AS (SELECT vec_id, g, sid FROM (
       |  SELECT a.nid AS vec_id, a.cid AS g, c.sid,
       |    row_number() OVER (PARTITION BY a.nid ORDER BY ${cosD("e.embedding", "c.sv")} DESC, c.sid) AS rk
       |  FROM assign a JOIN embeddings e ON e.vec_id = a.nid
       |  JOIN c2 c ON c.g = a.cid) WHERE rk = 1),
       |qp1 AS (SELECT qid, g FROM (
       |  SELECT q.vec_id AS qid, c.cid AS g,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosD("q.embedding", "c.cv")} DESC, c.cid) AS crk
       |  FROM embeddings q CROSS JOIN c1 c WHERE $qsPred) WHERE crk <= 2),
       |qp2 AS (SELECT qid, g, sid FROM (
       |  SELECT p.qid, p.g, c.sid,
       |    row_number() OVER (PARTITION BY p.qid, p.g ORDER BY ${cosD("q.embedding", "c.sv")} DESC, c.sid) AS srk
       |  FROM qp1 p JOIN embeddings q ON q.vec_id = p.qid
       |  JOIN c2 c ON c.g = p.g) WHERE srk <= 2),
       |sc AS (SELECT DISTINCT p.qid, b.vec_id AS nid, ${cosD("x.embedding", "y.embedding")} AS cos
       |       FROM qp2 p JOIN b2 b ON b.g = p.g AND b.sid = p.sid AND b.vec_id <> p.qid
       |       JOIN embeddings x ON x.vec_id = p.qid
       |       JOIN embeddings y ON y.vec_id = b.vec_id)
       |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  // kmeans CTEs = a_kmeans_assign's training (rank-based seed), then
  // the IVF probe of a_ann_ivf_topk with c1 as the centroid set.
  private val ivfTrainedOracle =
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
       |a1 AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
       |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
       |m1 AS (SELECT a1.cid, d.dim,
       |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
       |           / count(*) AS mv
       |       FROM a1 JOIN embeddings e USING (vec_id),
       |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
       |       GROUP BY a1.cid, d.dim),
       |c1 AS (SELECT c0.cid,
       |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
       |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
       |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
       |       GROUP BY c0.cid),
       |assign AS (SELECT nid, cid FROM (
       |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
       |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
       |        FROM embeddings e CROSS JOIN c1 c)) WHERE crk = 1),
       |probes AS (SELECT qid, cid FROM (
       |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
       |  FROM (SELECT q.vec_id AS qid, c.cid, ${cosD("q.embedding", "c.cv")} AS ccos
       |        FROM embeddings q CROSS JOIN c1 c WHERE q.vec_id % 50 = 0)) WHERE crk <= 2),
       |sc AS (SELECT DISTINCT p.qid, a.nid, ${cosD("x.embedding", "y.embedding")} AS cos
       |       FROM probes p JOIN assign a ON p.cid = a.cid AND a.nid <> p.qid
       |       JOIN embeddings x ON x.vec_id = p.qid
       |       JOIN embeddings y ON y.vec_id = a.nid)
       |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  private val substringDedupOracle =
    s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
       |g AS (SELECT doc_id, p, md5(array_to_string(t[p : p + 7], ' ')) AS h
       |      FROM base, unnest(range(1, len(t) - 6)) AS u(p)),
       |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       |tok AS (SELECT doc_id, i AS q, t[i] AS w
       |        FROM base, unnest(range(1, len(t) + 1)) AS u(i)),
       |cov AS (SELECT DISTINCT g.doc_id, q
       |        FROM g JOIN dup USING (h), unnest(range(g.p, g.p + 8)) AS u(q)),
       |kept AS (SELECT tok.doc_id, tok.q AS q, w FROM tok
       |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.q = cov.q
       |         WHERE cov.q IS NULL)
       |SELECT b.doc_id, len(b.t)::BIGINT AS n_tokens,
       |  (len(b.t) - count(k.q))::BIGINT AS n_removed,
       |  coalesce(string_agg(k.w, ' ' ORDER BY k.q), '') AS kept_text
       |FROM base b LEFT JOIN kept k USING (doc_id)
       |GROUP BY b.doc_id, len(b.t) ORDER BY doc_id""".stripMargin

  // two-level recall: REUSES the a_ann_ivf2_topk chain verbatim (the
  // two-level model algebra lives once — since round 12 the topk
  // gate itself probes the fixed-count qs sample, so the chain
  // already opens with the qs CTE) and appends the brute-force
  // ground truth + recall aggregation
  private val ivf2RecallOracle = {
    val base = ivf2TopkOracle
    require(base.startsWith("WITH qs AS"),
      "a_ann_ivf2_topk oracle no longer opens with the qs sample — " +
        "update the recall reuse")
    val cut = base.indexOf("\nSELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk")
    require(cut > 0, "a_ann_ivf2_topk oracle shape changed — update the recall reuse")
    val chain = base.substring(0, cut).stripPrefix("WITH ")
    s"""WITH $chain,
       |${bfFixedCte(cosAB)},
       |ivf2 AS (SELECT qid, nid FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
       |  WHERE rk <= 5),
       |hit AS (SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hit
       |        FROM bf JOIN ivf2 ON bf.qid = ivf2.qid AND bf.nid = ivf2.nid GROUP BY bf.qid),
       |ex AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY qid)
       |SELECT ex.qid, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit, n_exact,
       |  round(coalesce(n_hit, 0)::DOUBLE / n_exact, 6) AS recall
       |FROM ex LEFT JOIN hit USING (qid) ORDER BY ex.qid""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // --- dedup ---
    QuerySpec("d_exact_dedup", (s, dir) =>
      Dedup.exactDedup(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin),

    // prefix-key dedup: collapse docs sharing their first-10-token
    // prefix (boilerplate headers / syndicated ledes whole-content
    // hashing misses — diverging tails keep the md5s distinct)
    QuerySpec("d_prefix_dedup", (s, dir) =>
      Dedup.prefixDedup(docs(s, dir), "doc_id", "text", k = 10)
        .orderBy("doc_id"),
      """SELECT min(doc_id) AS doc_id,
        |  md5(array_to_string(
        |    regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')[1:10], ' '))
        |    AS prefix_hash,
        |  count(*) AS n_copies
        |FROM documents
        |GROUP BY 2 ORDER BY doc_id""".stripMargin),

    // exact dedup over the canonical form — case/whitespace variants
    // collapse to one content hash (normalize ∘ exactDedup composition)
    QuerySpec("d_exact_dedup_norm", (s, dir) =>
      Dedup.exactDedup(
          docs(s, dir).withColumn("canon",
            graft.operators.TextNormalize.normalize(col("text"))),
          "doc_id", "canon")
        .orderBy("doc_id"),
      """SELECT min(doc_id) AS doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |  count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_minhash_lsh", (s, dir) =>
      Dedup.minhashLsh(docs(s, dir), "doc_id", "text")
        .orderBy("d1", "d2"),
      minhashLshOracle),

    // --- the persisted-INDEX seam (corpus-sized sibling of the model
    //     store): signatures computed ONCE, written as partitioned
    //     parquet, and the dedup band-joins the STORED index — the
    //     reuse shape a 100 TB pass runs (recomputing signatures per
    //     query is the waste the store removes). Hash-equal to the
    //     inline d_minhash_lsh by construction. ---
    QuerySpec("d_minhash_stored", (s, dir) => {
      graft.operators.ModelStore.saveIndex(
        Dedup.minhashSignatureArray(docs(s, dir), "doc_id", "text"),
        modelDir, "minhash_sig")
      Dedup.minhashLshFromSignatures(
          graft.operators.ModelStore.loadIndex(s, modelDir, "minhash_sig"),
          "doc_id")
        .orderBy("d1", "d2")
    },
      // stored-index band join ≡ inline signatures, same oracle
      minhashLshOracle),

    QuerySpec("d_simhash", (s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |th AS (SELECT doc_id, w, count(*) AS cnt, md5(w) AS h FROM tok GROUP BY doc_id, w),
         |bits AS (SELECT doc_id, b,
         |    sum(CASE WHEN $bit = 1 THEN cnt ELSE -cnt END) AS score
         |  FROM th CROSS JOIN (SELECT unnest(range(48)) AS b) GROUP BY doc_id, b)
         |SELECT doc_id, sum(CASE WHEN score > 0 THEN (2 ** b)::BIGINT ELSE 0 END)::BIGINT AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("d_simhash_neardup", (s, dir) =>
      Dedup.simhashNearDup(docs(s, dir), "doc_id", "text")
        .orderBy("d1", "d2"),
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |th AS (SELECT doc_id, w, count(*) AS cnt, md5(w) AS h FROM tok GROUP BY doc_id, w),
         |bits AS (SELECT doc_id, b,
         |    sum(CASE WHEN $bit = 1 THEN cnt ELSE -cnt END) AS score
         |  FROM th CROSS JOIN (SELECT unnest(range(48)) AS b) GROUP BY doc_id, b),
         |sh AS (SELECT doc_id, sum(CASE WHEN score > 0 THEN (2 ** b)::BIGINT ELSE 0 END)::BIGINT AS s
         |       FROM bits GROUP BY doc_id),
         |chunked AS (SELECT doc_id, s, c, (s // (2 ** (c * 12))::BIGINT) % 4096 AS ck
         |            FROM sh CROSS JOIN (SELECT unnest(range(4)) AS c)),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, a.s AS s1, b.doc_id AS d2, b.s AS s2
         |         FROM chunked a JOIN chunked b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
         |SELECT d1, d2, bit_count(xor(s1, s2))::BIGINT AS hamming FROM cand
         |WHERE bit_count(xor(s1, s2)) <= 3 ORDER BY d1, d2""".stripMargin),

    QuerySpec("d_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), "doc_id", "text")
        .orderBy("d1", "d2"),
      s"""WITH sh AS (
         |  SELECT doc_id, len($sh3)::BIGINT AS n, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)) AS jaccard
         |FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.2
         |ORDER BY d1, d2""".stripMargin),

    // --- the r13 maxDf hot-shingle posting cap over the same corpus:
    //     cross-engine evidence for the CAPPED code path. maxDf=5 bites
    //     at both gate SFs (29 shingles dropped at sf0.01, ~24.5k at
    //     sf0.1), so the gate is non-vacuous — jaccard is computed over
    //     the capped sets on both engines ---
    QuerySpec("d_ngram_jaccard_capped", (s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), "doc_id", "text", maxDf = 5L)
        .orderBy("d1", "d2"),
      // capped twin: drop shingles with corpus df > 5 BEFORE the join and
      // recompute per-doc set sizes over the capped sets — the exact
      // semantics of ngramJaccard(maxDf = 5)
      s"""WITH sh0 AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 5),
         |sh1 AS (SELECT doc_id, s FROM sh0 JOIN keep USING (s)),
         |nn AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh1 GROUP BY doc_id)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  count(*)::DOUBLE / (any_value(na.n) + any_value(nb.n) - count(*)) AS jaccard
         |FROM sh1 a JOIN sh1 b ON a.s = b.s AND a.doc_id < b.doc_id
         |JOIN nn na ON na.doc_id = a.doc_id
         |JOIN nn nb ON nb.doc_id = b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING count(*)::DOUBLE / (any_value(na.n) + any_value(nb.n) - count(*)) >= 0.2
         |ORDER BY d1, d2""".stripMargin),

    // --- asymmetric containment (docs embedded in larger docs) ---
    QuerySpec("d_containment", (s, dir) =>
      Dedup.containment(docs(s, dir), "doc_id", "text")
        .orderBy("d1", "d2"),
      s"""WITH sh AS (
         |  SELECT doc_id, len($sh3)::BIGINT AS n, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  count(*)::DOUBLE / any_value(a.n) AS containment
         |FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING count(*)::DOUBLE / any_value(a.n) >= 0.8
         |ORDER BY d1, d2""".stripMargin),

    // --- dedup clustering: minhash-LSH pairs → connected components →
    //     (doc, canonical representative) ---
    QuerySpec("d_dedup_clusters", (s, dir) => {
      val pairs = Dedup.minhashLsh(docs(s, dir), "doc_id", "text")
      graft.operators.ConnectedComponents.components(pairs, "d1", "d2")
        .select(col("v").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    },
      dedupClustersOracle),

    // --- INCREMENTAL connected components: converged corpus labels +
    //     the day's new pair evidence (new-vs-corpus + new-vs-new LSH,
    //     never corpus×corpus) merged via star edges — hash-equal to the
    //     full recompute (it shares d_dedup_clusters' oracle verbatim)
    //     without re-walking the historical graph's rounds ---
    QuerySpec("g_cc_incremental", (s, dir) => {
      val d = docs(s, dir)
      val oldDocs = d.filter(col("doc_id") % 10 =!= 0)
      val newDocs = d.filter(col("doc_id") % 10 === 0)
      // each side's signatures build ONCE and feed both the within-side
      // banding and the cross-side banding — the corpus-sized signature
      // pass is exactly what incremental ingest must not pay twice
      val oldSig = Dedup.minhashSignatureArray(oldDocs, "doc_id", "text").cache()
      val newSig = Dedup.minhashSignatureArray(newDocs, "doc_id", "text").cache()
      val oldLabels = graft.operators.ConnectedComponents.components(
        Dedup.minhashLshFromSignatures(oldSig, "doc_id")
          .select(col("d1"), col("d2")),
        "d1", "d2")
      val crossPairs = Dedup.minhashLshAgainstSignatures(oldSig, newSig, "doc_id")
        .select(col("batch_id").as("d1"), col("corpus_id").as("d2"))
      val newNew = Dedup.minhashLshFromSignatures(newSig, "doc_id")
        .select(col("d1"), col("d2"))
      graft.operators.ConnectedComponents.merge(
          oldLabels, crossPairs.unionByName(newNew), "d1", "d2")
        .select(col("v").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")
    },
      // incremental CC must reproduce the full recompute bit-for-bit —
      // same oracle, by construction (see dedupClustersOracle)
      dedupClustersOracle),

    // --- incremental ingest: new batch (doc_id % 10 == 0) near-dup'd
    //     AGAINST the existing corpus only — no corpus×corpus pairs ---
    QuerySpec("d_incremental_neardup", (s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashLshAgainst(
          d.filter(col("doc_id") % 10 =!= 0),
          d.filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    },
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh
         |           AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0 AND a.doc_id <> b.doc_id)
         |SELECT batch_id, corpus_id,
         |  count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 AS est_jaccard
         |FROM cand JOIN sig x ON x.doc_id = batch_id
         |          JOIN sig y ON y.doc_id = corpus_id AND y.h = x.h
         |GROUP BY batch_id, corpus_id
         |HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5
         |ORDER BY batch_id, corpus_id""".stripMargin),

    // --- canonical selection: per near-dup cluster keep the BEST doc
    //     (most tokens, id tiebreak) rather than the lowest id — the
    //     quality-aware representative choice curation actually wants ---
    QuerySpec("d_cluster_best", (s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text")
      val clusters = graft.operators.ConnectedComponents.components(pairs, "d1", "d2")
        .select(col("v").as("doc_id"), col("component").as("cluster_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("n_tokens").desc, col("doc_id").asc)
      // join FIRST, tokenize after: only cluster members (pair-graph
      // vertices — a tiny fraction of the corpus) pay the regex pass
      clusters.join(d.select(col("doc_id"), col("text")), "doc_id")
        .withColumn("n_tokens",
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") === 1)
        .select("cluster_id", "doc_id", "n_tokens")
        .orderBy("cluster_id")
    },
      s"""WITH RECURSIVE $ccReachCtes,
         |cl AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY v),
         |tk AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens FROM documents)
         |SELECT cluster_id, doc_id, n_tokens FROM (
         |  SELECT cl.cluster_id, cl.doc_id, tk.n_tokens,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY tk.n_tokens DESC, cl.doc_id) AS rk
         |  FROM cl JOIN tk USING (doc_id))
         |WHERE rk = 1 ORDER BY cluster_id""".stripMargin),

    // --- golden-record survivorship: per near-dup cluster merge FIELDS
    //     (majority lang/source with min-value ties, max n_chars) — the
    //     MDM step after entity clustering; d_cluster_best keeps one
    //     whole row, this composes the best VALUES across members ---
    QuerySpec("d_golden_record", (s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text")
      val clusters = graft.operators.ConnectedComponents.components(pairs, "d1", "d2")
        .select(col("v").as("doc_id"), col("component").as("cluster_id"))
      Dedup.goldenRecord(d, "doc_id", clusters, "cluster_id",
          majorityCols = Seq("lang", "source"), maxCols = Seq("n_chars"))
        .orderBy("cluster_id")
    },
      // golden record: CC replay (d_dedup_clusters chain) + per-cluster
      // aggregates; majority argmax pins NULLS FIRST to match the Spark
      // side's asc_nulls_first tiebreak
      s"""WITH RECURSIVE $ccReachCtes,
         |lab AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |        FROM reach GROUP BY v),
         |j AS (SELECT lab.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
         |      FROM lab JOIN documents d USING (doc_id)),
         |base AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |           CAST(max(n_chars) AS BIGINT) AS n_chars_max
         |         FROM j GROUP BY cluster_id),
         |lg AS (SELECT cluster_id, lang AS lang_golden FROM (
         |    SELECT cluster_id, lang, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY count(*) DESC, lang ASC NULLS FIRST) AS rn
         |    FROM j GROUP BY cluster_id, lang) WHERE rn = 1),
         |sg AS (SELECT cluster_id, source AS source_golden FROM (
         |    SELECT cluster_id, source, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY count(*) DESC, source ASC NULLS FIRST) AS rn
         |    FROM j GROUP BY cluster_id, source) WHERE rn = 1)
         |SELECT cluster_id, n_members, n_chars_max, lang_golden, source_golden
         |FROM base JOIN lg USING (cluster_id) JOIN sg USING (cluster_id)
         |ORDER BY cluster_id""".stripMargin),

    // Pinned-blocking gate (fixed-cardinality label blocks — the
    // deliberate oracle-value pin; the scale-safe default is the auto-k
    // twin below). The pin makes within-block pair volume O(N²/labels),
    // so the GATE runs on a content-hash fixed-count corpus slice: the
    // 2000 hash-minimal vec_ids (= the full table at both gate SFs, so
    // committed oracle values are unchanged; at sf1+ anchors only the
    // linear TakeOrdered scan grows while the quadratic part stays
    // fixed-size). Oracle replays the identical slice.
    QuerySpec("d_embedding_neardup", (s, dir) =>
      Dedup.embeddingNearDup(
          Similarity.fixedQuerySample(emb(s, dir), "vec_id", 2000),
          "vec_id", "embedding", "label")
        .orderBy("d1", "d2"),
      s"""WITH ${OracleSamples.sliceCte("es", "embeddings", "vec_id", 2000)}
         |SELECT d1, d2, cos FROM (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2, $cosAB AS cos
         |  FROM es a JOIN es b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cos >= 0.45 ORDER BY d1, d2""".stripMargin),

    // --- the scale-safe blocking path: k-means blocks with k = autoK
    //     (∝ corpus size, count-derived so the oracle replays the same
    //     model) — per-block pair volume stays bounded as N grows, where
    //     the fixed-cardinality label blocking above goes quadratic
    //     (measured 12.2× for 10× data at the sf1 anchor) ---
    QuerySpec("d_embedding_neardup_auto", (s, dir) =>
      Dedup.embeddingNearDupKmeans(emb(s, dir), "vec_id", "embedding",
          minCosine = 0.45)
        .orderBy("d1", "d2"),
      s"""WITH $kmeansAutoCtes
         |SELECT d1, d2, cos FROM (
         |  SELECT x.vec_id AS d1, y.vec_id AS d2,
         |    ${cosD("x.embedding", "y.embedding")} AS cos
         |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN embeddings x ON x.vec_id = a.vec_id
         |  JOIN embeddings y ON y.vec_id = b.vec_id)
         |WHERE cos >= 0.45 ORDER BY d1, d2""".stripMargin),

    // --- similarity search ---
    QuerySpec("a_ann_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5)
        .orderBy("qid", "rk")
    },
      s"""WITH sc AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosAB AS cos
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id % 50 = 0)
         |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    QuerySpec("a_ann_lsh_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5, planes = 8)
        .orderBy("qid", "rk")
    },
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |proj AS (
         |  SELECT vec_id, p,
         |    sum(CASE WHEN (strpos('0123456789abcdef',
         |          substring(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) % 2 = 1
         |        THEN v[d+1] ELSE -v[d+1] END) AS dotp
         |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS p) CROSS JOIN (SELECT unnest(range(64)) AS d)
         |  GROUP BY vec_id, p),
         |bucket AS (SELECT vec_id, sum(CASE WHEN dotp > 0 THEN (2 ** p)::BIGINT ELSE 0 END)::BIGINT AS bk
         |           FROM proj GROUP BY vec_id),
         |cand AS (SELECT q.vec_id AS qid, c.vec_id AS nid
         |         FROM bucket q JOIN bucket c ON q.bk = c.bk AND q.vec_id <> c.vec_id
         |         WHERE q.vec_id % 50 = 0),
         |sc AS (SELECT qid, nid, $cosAB AS cos
         |       FROM cand JOIN embeddings a ON a.vec_id = qid JOIN embeddings b ON b.vec_id = nid)
         |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // --- Matryoshka-style two-stage retrieval: 16-dim prefix coarse
    //     pass -> 50-candidate pool -> full-vector rerank ---
    QuerySpec("a_ann_prefix_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.prefixRerankTopK(e, e.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5, prefixDims = 16, candidates = 50)
        .orderBy("qid", "rk")
    },
      // 16-dim-prefix coarse pass (Matryoshka): prefix cosine ranks a
      // 50-candidate pool per query, full cosine reranks the pool
      s"""WITH sc AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosPre AS ccos
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id % 50 = 0),
         |pool AS (SELECT qid, nid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, nid) AS crk FROM sc)
         |  WHERE crk <= 50),
         |re AS (SELECT qid, nid, $cosAB AS cos
         |       FROM pool JOIN embeddings a ON a.vec_id = qid JOIN embeddings b ON b.vec_id = nid)
         |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM re)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // --- prefix-rerank recall vs exact brute force (the eval that
    //     justifies the prefix cut before trusting it at scale) ---
    QuerySpec("a_ann_prefix_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      recallVsExact(bf, Similarity.prefixRerankTopK(e, q, "vec_id",
        "embedding", k = 5, prefixDims = 16, candidates = 50))
    },
      s"""WITH $qsCte,
         |${bfFixedCte(cosAB)},
         |sc AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid, $cosPre AS ccos
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qs)),
         |pool AS (SELECT qid, nid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, nid) AS crk FROM sc)
         |  WHERE crk <= 50),
         |pr AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM (SELECT qid, nid, $cosAB AS cos
         |          FROM pool JOIN embeddings a ON a.vec_id = qid
         |          JOIN embeddings b ON b.vec_id = nid))
         |  WHERE rk <= 5)
         |SELECT qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit, n.n_exact,
         |  round(coalesce(h.n_hit, 0)::DOUBLE / n.n_exact, 6) AS recall
         |FROM (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY qid) n
         |LEFT JOIN (SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hit
         |           FROM bf JOIN pr ON bf.qid = pr.qid AND bf.nid = pr.nid
         |           GROUP BY bf.qid) h USING (qid)
         |ORDER BY qid""".stripMargin),

    QuerySpec("a_ann_ivf_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5, nprobe = 2, centroidEvery = 100)
        .orderBy("qid", "rk")
    },
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 100 = 1),
         |assign AS (SELECT nid, cid FROM (
         |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
         |        FROM embeddings e CROSS JOIN cent c)) WHERE crk = 1),
         |probes AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT q.vec_id AS qid, c.cid, ${cosD("q.embedding", "c.cv")} AS ccos
         |        FROM embeddings q CROSS JOIN cent c WHERE q.vec_id % 50 = 0)) WHERE crk <= 2),
         |sc AS (SELECT DISTINCT p.qid, a.nid, ${cosD("x.embedding", "y.embedding")} AS cos
         |       FROM probes p JOIN assign a ON p.cid = a.cid AND a.nid <> p.qid
         |       JOIN embeddings x ON x.vec_id = p.qid
         |       JOIN embeddings y ON y.vec_id = a.nid)
         |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // --- two-level (hierarchical) IVF: level-1 k-means partitions the
    //     corpus, level-2 re-clusters each cell (fused training — one
    //     corpus pass per round); a probe walks k1 then n1·k2 centroids
    //     instead of all k1·k2 — the tier past autoK = √N where a flat
    //     quantizer's per-row argmax stops scaling (IMI / IVF-tree
    //     shape). The WHOLE two-level model is oracle-replayed. ---
    QuerySpec("a_ann_ivf2_topk", (s, dir) => {
      val e = emb(s, dir)
      val (cents1, cbs) = graft.operators.Vectors.kmeansTwoLevel(
        e, "vec_id", "embedding", k1 = 4, k2 = 4, iters = 2)
      Similarity.ivf2TopK(e, Similarity.fixedQuerySample(e, "vec_id"),
          "vec_id", "embedding", k = 5, n1 = 2, n2 = 2, cents1, cbs)
        .orderBy("qid", "rk")
    },
      ivf2TopkOracle),

    // --- two-level IVF recall vs brute-force ground truth (fixed-count
    //     query sample — the scale-honest harness): what the O(k1+n1·k2)
    //     probe costs in recall against the flat exhaustive answer ---
    QuerySpec("a_ann_ivf2_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("qid", "nid")
      val (cents1, cbs) = graft.operators.Vectors.kmeansTwoLevel(
        e, "vec_id", "embedding", k1 = 4, k2 = 4, iters = 2)
      recallVsExact(bf, Similarity.ivf2TopK(e, q,
        "vec_id", "embedding", k = 5, n1 = 2, n2 = 2, cents1, cbs))
    },
      ivf2RecallOracle),

    // --- k-means coarse quantizer training (2 Lloyd rounds, k=4) ---
    QuerySpec("a_kmeans_assign", (s, dir) =>
      graft.operators.Vectors.kmeansAssign(
          emb(s, dir), "vec_id", "embedding", k = 4, iters = 2)
        .orderBy("vec_id"),
      {
        // rank-based seed (k lowest ids) — matches kmeansTrain's
        // orderBy(id).limit(k); the earlier `vec_id <= 4` form silently
        // took FIVE centroids on this 0-based id space.
        s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
           |a1 AS (SELECT vec_id, cid FROM (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
           |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
           |m1 AS (SELECT a1.cid, d.dim,
           |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
           |           / count(*) AS mv
           |       FROM a1 JOIN embeddings e USING (vec_id),
           |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
           |       GROUP BY a1.cid, d.dim),
           |c1 AS (SELECT c0.cid,
           |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
           |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
           |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
           |       GROUP BY c0.cid)
           |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
           |  FROM embeddings e CROSS JOIN c1 c) WHERE rk = 1
           |ORDER BY vec_id""".stripMargin
      }),

    // --- hard-negative mining: top-5 high-cosine neighbors OUTSIDE the
    //     query's trained k-means cluster (contrastive-training pairs;
    //     in-cluster neighbors are presumed positives and excluded) ---
    QuerySpec("a_hard_negatives", (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cents = graft.operators.Vectors.kmeansTrain(
        e, "vec_id", "embedding", k = 4, iters = 2)
      Similarity.hardNegatives(e, Similarity.fixedQuerySample(e, "vec_id"),
          cents.toDF("cid", "cv"), "vec_id", "embedding", k = 5)
        .orderBy("qid", "rk")
    },
      {
        // kmeans CTEs = a_kmeans_assign's training (rank-based seed);
        // assign covers queries too (queries ⊆ embeddings), and the
        // scored pairs keep only cross-cluster neighbors.
        s"""WITH $qsCte,
           |c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
           |a1 AS (SELECT vec_id, cid FROM (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
           |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
           |m1 AS (SELECT a1.cid, d.dim,
           |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
           |           / count(*) AS mv
           |       FROM a1 JOIN embeddings e USING (vec_id),
           |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
           |       GROUP BY a1.cid, d.dim),
           |c1 AS (SELECT c0.cid,
           |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
           |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
           |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
           |       GROUP BY c0.cid),
           |assign AS (SELECT nid, cid FROM (
           |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
           |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
           |        FROM embeddings e CROSS JOIN c1 c)) WHERE crk = 1),
           |sc AS (SELECT q.vec_id AS qid, e.vec_id AS nid, ${cosD("q.embedding", "e.embedding")} AS cos
           |       FROM embeddings q JOIN assign aq ON aq.nid = q.vec_id
           |       JOIN embeddings e ON e.vec_id <> q.vec_id
           |       JOIN assign ae ON ae.nid = e.vec_id
           |       WHERE $qsPred AND aq.cid <> ae.cid)
           |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
           |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
      }),

    // --- trained-quantizer IVF: the k-means model (k=4, 2 Lloyd rounds)
    //     IS the coarse quantizer — the production ANN path end-to-end
    //     (train → broadcast model → map-side assign → nprobe probe) ---
    QuerySpec("a_ann_ivf_trained", (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cents = graft.operators.Vectors.kmeansTrain(
        e, "vec_id", "embedding", k = 4, iters = 2)
      Similarity.ivfTopKWithCentroids(e, e.filter(col("vec_id") % 50 === 0),
          cents.toDF("cid", "cv"), "vec_id", "embedding", k = 5, nprobe = 2)
        .orderBy("qid", "rk")
    },
      ivfTrainedOracle),

    // --- the model-store round trip: train the coarse quantizer,
    //     PERSIST it (parquet, ModelStore), reload, and serve —
    //     hash-equal to the inline-trained a_ann_ivf_trained (floats
    //     round-trip bit-exactly). At 100 TB the store is what keeps the
    //     corpus-scan trainer out of every retrieval query. ---
    QuerySpec("a_ann_ivf_stored", (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val stored = storedCentroids(s, e, "ivf_stored")
      Similarity.ivfTopKWithCentroids(e, e.filter(col("vec_id") % 50 === 0),
          stored.toDF("cid", "cv"), "vec_id", "embedding", k = 5, nprobe = 2)
        .orderBy("qid", "rk")
    },
      // stored-model serve path ≡ inline-trained path, same oracle
      ivfTrainedOracle),

    // --- IVF-PQ: inverted-list probe + product-quantized candidates
    //     (4 subspaces x 4 centroids), asymmetric exact-query-vs-
    //     reconstruction scoring ---
    QuerySpec("a_ann_ivfpq_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5, nprobe = 2, centroidEvery = 100,
          m = 4, ks = 4, iters = 2)
        .orderBy("qid", "rk")
    },
      pqTopkSql),

    // --- residual IVF-PQ (faiss by_residual=true): codebooks quantize
    //     coarse residuals; candidate reconstructs as centroid + decode ---
    QuerySpec("a_ann_ivfpq_res_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqResidualTopK(e, e.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5, nprobe = 2, centroidEvery = 100,
          m = 4, ks = 4, iters = 2)
        .orderBy("qid", "rk")
    },
      pqResTopkSql),

    // --- residual IVF-PQ recall vs brute-force ground truth (the
    //     by_residual accuracy gain is measurable, not asserted) ---
    QuerySpec("a_ann_ivfpq_res_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("qid", "nid")
      recallVsExact(bf, Similarity.ivfPqResidualTopK(e, q, "vec_id",
        "embedding", k = 5, nprobe = 2, centroidEvery = 100,
        m = 4, ks = 4, iters = 2))
    },
      pqResRecallSql),

    // --- PQ code assignment: the compressed-store artifact itself
    //     (m x log2(ks) bits per vector), map-only vs literal codebooks ---
    QuerySpec("a_pq_codes", (s, dir) => {
      val e = emb(s, dir)
      val cbs = Similarity.pqTrain(e, "vec_id", "embedding",
        dims = 64, m = 4, ks = 4, iters = 2)
      Similarity.pqEncode(e, "vec_id", "embedding", cbs, dims = 64)
        .orderBy("vec_id")
    },
      pqCodesSql),

    // --- PQ distortion: mean squared reconstruction error of the
    //     trained codebooks — the compression-quality metric beside
    //     the recall evals (what the 32-64x compression costs in
    //     signal, the number faiss tunes m/ks against) ---
    QuerySpec("a_pq_distortion", (s, dir) => {
      val e = emb(s, dir)
      val cbs = Similarity.pqTrain(e, "vec_id", "embedding",
        dims = 64, m = 4, ks = 4, iters = 2)
      Similarity.pqDistortion(e, "vec_id", "embedding", cbs, dims = 64)
    },
      {
        def sseTerm(s: Int): String = {
          val off = s * 16
          s"""CAST(round(list_sum(list_transform(range(1, 17), i ->
             |  (CAST(e.embedding[$off + i] AS DOUBLE) - CAST(r$s.cv[i] AS DOUBLE)) *
             |  (CAST(e.embedding[$off + i] AS DOUBLE) - CAST(r$s.cv[i] AS DOUBLE)))), 9)
             |  AS DECIMAL(28,9))""".stripMargin
        }
        "WITH " + (0 until 4).map(pqCbCte(_)).mkString(",\n") +
          s""",
             |sse AS (SELECT e.vec_id,
             |    ${(0 until 4).map(sseTerm).mkString(" +\n")} AS sse
             |  FROM embeddings e JOIN r0 USING (vec_id) JOIN r1 USING (vec_id)
             |  JOIN r2 USING (vec_id) JOIN r3 USING (vec_id))
             |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
             |  round(CAST(sum(sse) AS DOUBLE) / count(*), 6) AS mse
             |FROM sse""".stripMargin
      }),

    // --- SQ8 scalar-quantizer code store: per-dimension min/max train,
    //     one uint8 per dimension — the 4x compression tier above PQ ---
    QuerySpec("a_sq_codes", (s, dir) => {
      val e = emb(s, dir)
      val model = Similarity.sqTrain(e, "embedding", dims = 64)
      Similarity.sqEncode(e, "vec_id", "embedding", model)
        .orderBy("vec_id", "dim")
    },
      // per-dimension min/max over DOUBLE-cast floats is exact, so the
      // code/recon arithmetic ((x-mn)*255/(mx-mn) floored; midpoint
      // decode) is the identical IEEE sequence in both engines
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT d, min(v[d + 1]) AS mn, max(v[d + 1]) AS mx
        |       FROM e CROSS JOIN (SELECT unnest(range(64)) AS d) GROUP BY d)
        |SELECT e.vec_id, mm.d::INT AS dim,
        |  CASE WHEN mm.mx > mm.mn THEN
        |    least(255, greatest(0, floor((v[mm.d + 1] - mm.mn) * 255.0 / (mm.mx - mm.mn))))::INT
        |  ELSE 0 END AS code
        |FROM e CROSS JOIN mm ORDER BY vec_id, dim""".stripMargin),

    // --- SQ8 distortion: MSE of the midpoint decode — the 4x tier's
    //     entry in the distortion-vs-compression matrix beside
    //     a_pq_distortion ---
    QuerySpec("a_sq_distortion", (s, dir) => {
      val e = emb(s, dir)
      val model = Similarity.sqTrain(e, "embedding", dims = 64)
      Similarity.sqDistortion(e, "vec_id", "embedding", model)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT d, min(v[d + 1]) AS mn, max(v[d + 1]) AS mx
        |       FROM e CROSS JOIN (SELECT unnest(range(64)) AS d) GROUP BY d),
        |r AS (SELECT e.vec_id,
        |        CAST(round(list_sum(list(
        |          (v[mm.d + 1] - CASE WHEN mm.mx > mm.mn THEN
        |             mm.mn + (least(255, greatest(0,
        |               floor((v[mm.d + 1] - mm.mn) * 255.0 / (mm.mx - mm.mn)))) + 0.5)
        |               * (mm.mx - mm.mn) / 256.0
        |           ELSE mm.mn END) *
        |          (v[mm.d + 1] - CASE WHEN mm.mx > mm.mn THEN
        |             mm.mn + (least(255, greatest(0,
        |               floor((v[mm.d + 1] - mm.mn) * 255.0 / (mm.mx - mm.mn)))) + 0.5)
        |               * (mm.mx - mm.mn) / 256.0
        |           ELSE mm.mn END) ORDER BY mm.d)), 9) AS DECIMAL(28,9)) AS sse
        |      FROM e CROSS JOIN mm GROUP BY e.vec_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(sum(sse) AS DOUBLE) / count(*), 6) AS mse
        |FROM r""".stripMargin),

    // --- IVF-SQ ANN: trained coarse quantizer + SQ8-compressed lists,
    //     asymmetric scoring — the faiss IVFScalarQuantizer shape ---
    QuerySpec("a_ann_ivfsq_topk", (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cents = graft.operators.Vectors.kmeansTrain(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val model = Similarity.sqTrain(e, "embedding", dims = 64)
      Similarity.ivfSqTopK(e, Similarity.fixedQuerySample(e, "vec_id"),
          cents.toDF("cid", "cv"), "vec_id", "embedding",
          k = 5, nprobe = 2, model)
        .orderBy("qid", "rk")
    },
      ivfSqTopkSql),

    // --- SQ8 ANN: exact query vs SQ8 reconstruction (asymmetric
    //     scoring over the compressed store) ---
    QuerySpec("a_ann_sq_topk", (s, dir) => {
      val e = emb(s, dir)
      val model = Similarity.sqTrain(e, "embedding", dims = 64)
      Similarity.sqTopK(e, Similarity.fixedQuerySample(e, "vec_id"),
          "vec_id", "embedding", k = 5, model)
        .orderBy("qid", "rk")
    },
      s"""WITH $qsCte,
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT d, min(v[d + 1]) AS mn, max(v[d + 1]) AS mx
        |       FROM e CROSS JOIN (SELECT unnest(range(64)) AS d) GROUP BY d),
        |r AS (SELECT e.vec_id,
        |        list(CASE WHEN mm.mx > mm.mn THEN
        |               mm.mn + (least(255, greatest(0,
        |                 floor((v[mm.d + 1] - mm.mn) * 255.0 / (mm.mx - mm.mn)))) + 0.5)
        |                 * (mm.mx - mm.mn) / 256.0
        |             ELSE mm.mn END ORDER BY mm.d) AS rv
        |      FROM e CROSS JOIN mm GROUP BY e.vec_id),
        |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |         round(list_dot_product(a.v, br.rv) /
        |           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(br.rv, br.rv))), 6) AS cos
        |       FROM e a JOIN e b ON b.vec_id <> a.vec_id
        |       JOIN r br ON br.vec_id = b.vec_id
        |       WHERE a.vec_id IN (SELECT vec_id FROM qs))
        |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // --- IVF-PQ recall vs brute-force ground truth (quantization-error
    //     measurement alongside the LSH and IVF recall probes) ---
    QuerySpec("a_ann_ivfpq_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("qid", "nid")
      // model trained ONCE and shared with the probe stage (the r9
      // verdict's structural de-noise: the inline-training form paid the
      // Lloyd rounds inside the same plan that also re-scanned bf twice)
      val dims = e.select(size(col("embedding"))).head.getInt(0)
      val cbs = Similarity.pqTrain(e, "vec_id", "embedding", dims,
        m = 4, ks = 4, iters = 2)
      val cents = Similarity.coarseCentroids(e, "vec_id", "embedding", 100)
      recallVsExact(bf, Similarity.ivfPqTopKWithModel(e, q, "vec_id",
        "embedding", k = 5, nprobe = 2, cents, cbs))
    },
      pqRecallSql),

    // --- the COMPLETE persisted serving path: codebooks + coarse
    //     centroids to the model store, the per-vector (cell, codes)
    //     table to the index store — then the query runs against the
    //     compressed artifacts alone (candidate embeddings never read).
    //     Hash-equal to the inline a_ann_ivfpq_topk by construction
    //     (decode(code) ≡ the encode-side reconstruction). ---
    QuerySpec("a_ann_ivfpq_stored", (s, dir) => {
      val e = emb(s, dir)
      val dims = e.select(size(col("embedding"))).head.getInt(0)
      val cbs = Similarity.pqTrain(e, "vec_id", "embedding", dims,
        m = 4, ks = 4, iters = 2)
      val cents = Similarity.coarseCentroids(e, "vec_id", "embedding", 100)
      graft.operators.ModelStore.savePqCodebooks(s, cbs, modelDir, "pq_cb")
      graft.operators.ModelStore.saveCentroids(s, cents, modelDir, "pq_coarse")
      graft.operators.ModelStore.saveIndex(
        Similarity.pqIndex(e, "vec_id", "embedding", cents, cbs, dims),
        modelDir, "pq_codes")
      Similarity.ivfPqTopKFromCodes(
          graft.operators.ModelStore.loadIndex(s, modelDir, "pq_codes"),
          e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          k = 5, nprobe = 2,
          graft.operators.ModelStore.loadCentroids(s, modelDir, "pq_coarse"),
          graft.operators.ModelStore.loadPqCodebooks(s, modelDir, "pq_cb"))
        .orderBy("qid", "rk")
    },
      // code-store decode serve ≡ inline-encoded IVF-PQ, same oracle
      pqTopkSql),

    // --- ANN evaluation: per-query recall of LSH top-k against the
    //     brute-force exact top-k (the measurement that justifies an
    //     index's planes/nprobe settings before a 100 TB rollout) ---
    QuerySpec("a_ann_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      recallVsExact(bf, Similarity.lshTopK(e, q, "vec_id", "embedding",
        k = 5, planes = 8))
    },
      s"""WITH bf AS (
         |  SELECT qid, nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosAB DESC, b.vec_id) AS rk
         |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |    WHERE a.vec_id % 50 = 0)
         |  WHERE rk <= 5),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |proj AS (
         |  SELECT vec_id, p,
         |    sum(CASE WHEN (strpos('0123456789abcdef',
         |          substring(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) % 2 = 1
         |        THEN v[d+1] ELSE -v[d+1] END) AS dotp
         |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS p) CROSS JOIN (SELECT unnest(range(64)) AS d)
         |  GROUP BY vec_id, p),
         |bucket AS (SELECT vec_id, sum(CASE WHEN dotp > 0 THEN (2 ** p)::BIGINT ELSE 0 END)::BIGINT AS bk
         |           FROM proj GROUP BY vec_id),
         |lsh AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |            ${cosAB.replace("a.embedding", "x.embedding").replace("b.embedding", "y.embedding")} AS cos
         |          FROM bucket q JOIN bucket c ON q.bk = c.bk AND q.vec_id <> c.vec_id
         |          JOIN embeddings x ON x.vec_id = q.vec_id
         |          JOIN embeddings y ON y.vec_id = c.vec_id
         |          WHERE q.vec_id % 50 = 0))
         |  WHERE rk <= 5)
         |SELECT qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit, n.n_exact,
         |  round(coalesce(h.n_hit, 0)::DOUBLE / n.n_exact, 6) AS recall
         |FROM (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY qid) n
         |LEFT JOIN (SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hit
         |           FROM bf JOIN lsh ON bf.qid = lsh.qid AND bf.nid = lsh.nid
         |           GROUP BY bf.qid) h USING (qid)
         |ORDER BY qid""".stripMargin),

    // --- the SCALE-HONEST recall eval harness: a FIXED-COUNT
    //     deterministic query sample (20 hash-minimal vec_ids — one
    //     TakeOrdered scan) instead of the %-based sample that grows
    //     with the corpus. With fixed queries the brute-force ground
    //     truth is LINEAR in corpus size — this is the harness shape a
    //     100 TB index eval actually runs (the %50 rows measure the same
    //     recall statistic but their ground-truth term is quadratic in
    //     SF by construction; see BASELINE.md sf1 anchor). ---
    QuerySpec("a_ann_recall_fixedq", (s, dir) => {
      val e = emb(s, dir)
      val q = Similarity.fixedQuerySample(e, "vec_id")
        .select("vec_id", "embedding")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      recallVsExact(bf, Similarity.lshTopK(e, q, "vec_id", "embedding",
        k = 5, planes = 8))
    },
      s"""WITH qs AS (SELECT vec_id FROM (
         |    SELECT vec_id, md5(vec_id::VARCHAR) AS ph FROM embeddings
         |    ORDER BY ph, vec_id LIMIT 20)),
         |bf AS (
         |  SELECT qid, nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosAB DESC, b.vec_id) AS rk
         |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |    WHERE a.vec_id IN (SELECT vec_id FROM qs))
         |  WHERE rk <= 5),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |proj AS (
         |  SELECT vec_id, p,
         |    sum(CASE WHEN (strpos('0123456789abcdef',
         |          substring(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) % 2 = 1
         |        THEN v[d+1] ELSE -v[d+1] END) AS dotp
         |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS p) CROSS JOIN (SELECT unnest(range(64)) AS d)
         |  GROUP BY vec_id, p),
         |bucket AS (SELECT vec_id, sum(CASE WHEN dotp > 0 THEN (2 ** p)::BIGINT ELSE 0 END)::BIGINT AS bk
         |           FROM proj GROUP BY vec_id),
         |lsh AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |            ${cosAB.replace("a.embedding", "x.embedding").replace("b.embedding", "y.embedding")} AS cos
         |          FROM bucket q JOIN bucket c ON q.bk = c.bk AND q.vec_id <> c.vec_id
         |          JOIN embeddings x ON x.vec_id = q.vec_id
         |          JOIN embeddings y ON y.vec_id = c.vec_id
         |          WHERE q.vec_id IN (SELECT vec_id FROM qs)))
         |  WHERE rk <= 5)
         |SELECT qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit, n.n_exact,
         |  round(coalesce(h.n_hit, 0)::DOUBLE / n.n_exact, 6) AS recall
         |FROM (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY qid) n
         |LEFT JOIN (SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hit
         |           FROM bf JOIN lsh ON bf.qid = lsh.qid AND bf.nid = lsh.nid
         |           GROUP BY bf.qid) h USING (qid)
         |ORDER BY qid""".stripMargin),

    // --- hybrid retrieval: shingle-index candidates, lexical+dense score ---
    QuerySpec("a_hybrid_topk", (s, dir) => {
      val corpus = docs(s, dir).join(
        emb(s, dir).select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      Similarity.hybridTopK(corpus, col("doc_id") % 97 === 0,
          "doc_id", "text", "embedding", k = 5)
        .orderBy("qid", "rk")
    },
      s"""WITH sh AS (
         |  SELECT doc_id, len($sh3)::BIGINT AS n, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t
         |        FROM documents JOIN embeddings ON doc_id = vec_id)
         |  WHERE len(t) >= 3),
         |lex AS (SELECT a.doc_id AS qid, b.doc_id AS nid,
         |          CAST(count(*) AS BIGINT) AS inter, any_value(a.n) AS nq
         |        FROM sh a JOIN sh b ON a.s = b.s
         |          AND a.doc_id % 97 = 0 AND a.doc_id <> b.doc_id
         |        GROUP BY a.doc_id, b.doc_id),
         |sc AS (SELECT l.qid, l.nid,
         |         0.6 * ${cosAB.replace("a.embedding", "qe.embedding").replace("b.embedding", "ne.embedding")}
         |           + 0.4 * (inter::DOUBLE / nq) AS score
         |       FROM lex l JOIN embeddings qe ON qe.vec_id = l.qid
         |                  JOIN embeddings ne ON ne.vec_id = l.nid)
         |SELECT qid, nid, score, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rk
         |  FROM sc)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // --- reciprocal-rank fusion of the dense + lexical rankings
    //     (scale-free — no score calibration), same candidate index ---
    QuerySpec("a_rrf_topk", (s, dir) => {
      val corpus = docs(s, dir).join(
        emb(s, dir).select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      Similarity.rrfTopK(corpus, col("doc_id") % 97 === 0,
          "doc_id", "text", "embedding", k = 5)
        .orderBy("qid", "rk")
    },
      s"""WITH sh AS (
         |  SELECT doc_id, len($sh3)::BIGINT AS n, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t
         |        FROM documents JOIN embeddings ON doc_id = vec_id)
         |  WHERE len(t) >= 3),
         |lex AS (SELECT a.doc_id AS qid, b.doc_id AS nid,
         |          CAST(count(*) AS BIGINT) AS inter, any_value(a.n) AS nq
         |        FROM sh a JOIN sh b ON a.s = b.s
         |          AND a.doc_id % 97 = 0 AND a.doc_id <> b.doc_id
         |        GROUP BY a.doc_id, b.doc_id),
         |sc AS (SELECT l.qid, l.nid,
         |         ${cosAB.replace("a.embedding", "qe.embedding").replace("b.embedding", "ne.embedding")} AS dcos,
         |         inter::DOUBLE / nq AS lex
         |       FROM lex l JOIN embeddings qe ON qe.vec_id = l.qid
         |                  JOIN embeddings ne ON ne.vec_id = l.nid),
         |rks AS (SELECT qid, nid,
         |          row_number() OVER (PARTITION BY qid ORDER BY dcos DESC, nid) AS rkd,
         |          row_number() OVER (PARTITION BY qid ORDER BY lex DESC, nid) AS rkl
         |        FROM sc),
         |fus AS (SELECT qid, nid,
         |          round((CASE WHEN rkd <= 20 THEN 1.0::DOUBLE / (60.0::DOUBLE + rkd) ELSE 0.0::DOUBLE END)
         |              + (CASE WHEN rkl <= 20 THEN 1.0::DOUBLE / (60.0::DOUBLE + rkl) ELSE 0.0::DOUBLE END), 6) AS rrf
         |        FROM rks)
         |SELECT qid, nid, rrf, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rk
         |  FROM fus WHERE rrf > 0)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // --- as-of join (operator Spark lacks; composed per SURVEY §7.4(a)) ---
    QuerySpec("q_asof_join", (s, dir) => {
      val ev = TableCatalog.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsofJoin.asofJoin(
          purchases, clicks, Seq("user_id"), "ts", "ts",
          rightValueCols = Seq("ts", "event_id"))
        .orderBy("event_id")
    },
      """SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts, r.event_id AS asof_event_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    // --- deterministic dense global ids by (content hash, id) total
    //     order — no monotonically_increasing_id (layout-dependent), no
    //     single-partition row_number; two-pass offset construction,
    //     ids invariant to partitioning and cluster size ---
    QuerySpec("q_stable_ids", (s, dir) => {
      graft.operators.StableIds.assign(
          docs(s, dir).select(col("doc_id"), md5(col("text")).as("h")),
          Seq(col("h"), col("doc_id")))
        .select("doc_id", "h", "stable_id")
        .orderBy("doc_id")
    },
      """SELECT doc_id, md5(text) AS h,
        |  CAST(row_number() OVER (ORDER BY md5(text) NULLS FIRST, doc_id) - 1
        |    AS BIGINT) AS stable_id
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- nearest-event join: closest click to each purchase by |Δt|,
    //     tie to the earlier side — the bidirectional enrichment neither
    //     as-of direction alone gives, in ONE union-sort pass ---
    QuerySpec("q_asof_nearest", (s, dir) => {
      val ev = TableCatalog.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsofJoin.asofJoinNearest(
          purchases, clicks, Seq("user_id"), "ts", "ts",
          rightValueCols = Seq("ts", "event_id"),
          // duplicate (user_id, ts) clicks collapse to the min event_id —
          // partitioning-invariant, and matched by the oracle's
          // ORDER BY dist, side, c.event_id tiebreak
          rightTieCols = Seq("event_id"))
        .orderBy("event_id")
    },
      """SELECT p.event_id, p.user_id, p.ts,
        |  n.ts AS nearest_ts, n.event_id AS nearest_event_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT c.ts, c.event_id,
        |    CASE WHEN c.ts <= p.ts THEN epoch_us(p.ts) - epoch_us(c.ts)
        |         ELSE epoch_us(c.ts) - epoch_us(p.ts) END AS dist,
        |    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS side
        |  FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |  ORDER BY dist, side, c.event_id LIMIT 1) n ON TRUE
        |ORDER BY p.event_id""".stripMargin),

    // --- range join (bin-blocked point-in-interval; SURVEY §7.4(a)) ---
    QuerySpec("q_range_join", (s, dir) => {
      val ev = TableCatalog.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"), col("ts"))
      val sessions = graft.streaming.EventStream.sessionizeBatch(ev)
        .select("user_id", "session_id", "session_start", "session_end")
      graft.operators.RangeJoin.rangeJoin(
          purchases, sessions, "ts", "session_start", "session_end",
          extraCond = Some(col("p_user") === col("user_id")))
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy("event_id")
    },
      """WITH s0 AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s0),
        |sessions AS (SELECT user_id, sid::BIGINT AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end
        |  FROM g GROUP BY user_id, sid)
        |SELECT p.event_id, s.user_id, s.session_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |JOIN sessions s ON p.user_id = s.user_id
        |  AND p.ts BETWEEN s.session_start AND s.session_end
        |ORDER BY p.event_id""".stripMargin),

    // --- snapshot diff: what changed between two corpus versions (v2 is
    //     a deterministic mutation of v1: every 7th doc dropped, every
    //     11th edited, every 101st re-added under a new id) ---
    QuerySpec("d_snapshot_diff", (s, dir) => {
      val d = docs(s, dir)
      val v1 = d.select(col("doc_id"), col("text"))
      val v2 = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 101 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(v1, v2, "doc_id", "text").orderBy("doc_id")
    },
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |       FROM documents WHERE doc_id % 7 <> 0
        |       UNION ALL
        |       SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 101 = 0),
        |h1 AS (SELECT doc_id, md5(text) AS h FROM v1),
        |h2 AS (SELECT doc_id, md5(text) AS h FROM v2)
        |SELECT coalesce(h1.doc_id, h2.doc_id) AS doc_id,
        |  CASE WHEN h1.doc_id IS NULL THEN 'added'
        |       WHEN h2.doc_id IS NULL THEN 'removed'
        |       WHEN h1.h <> h2.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id
        |ORDER BY doc_id""".stripMargin),

    // --- Bloom-filter ingest pre-filter: batch (odd ids, plus every
    //     50th even id re-ingested — recrawled known docs, which MUST
    //     probe true: no false negatives) against the corpus (even ids)
    //     content bloom — false ⇒ definitely new, so the expensive dedup
    //     join runs only on the true sliver; probe is a ZERO-shuffle
    //     in-row check vs the collected bitmap ---
    QuerySpec("d_bloom_ingest", (s, dir) => {
      val d = docs(s, dir)
      val m = 1 << 16
      val words = graft.operators.Sketches.bloomCollect(
        graft.operators.Sketches.bloomBuild(
          d.filter(col("doc_id") % 2 === 0), "text", m, numHashes = 5), m)
      graft.operators.Sketches.bloomProbe(
          d.filter(col("doc_id") % 2 =!= 0 || col("doc_id") % 50 === 0),
          "text", words, m, numHashes = 5, maybeCol = "maybe_dup")
        .select("doc_id", "maybe_dup")
        .orderBy("doc_id")
    },
      """WITH ck AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |chh AS (SELECT ('0x' || substring(h, 1, 15))::BIGINT % 65536 AS h1,
        |               ('0x' || substring(h, 16, 15))::BIGINT % 65536 AS h2r FROM ck),
        |bloom AS (SELECT pos // 32 AS word_idx,
        |            bit_or(CAST(2 ** (pos % 32) AS BIGINT)) AS bits
        |          FROM (SELECT (h1 + i * (h2r + 1 - (h2r % 2))) % 65536 AS pos
        |                FROM chh, range(0, 5) t(i))
        |          GROUP BY word_idx),
        |bhh AS (SELECT doc_id,
        |          ('0x' || substring(h, 1, 15))::BIGINT % 65536 AS h1,
        |          ('0x' || substring(h, 16, 15))::BIGINT % 65536 AS h2r
        |        FROM (SELECT doc_id, md5(text) AS h FROM documents
        |              WHERE doc_id % 2 <> 0 OR doc_id % 50 = 0)),
        |bp AS (SELECT doc_id, (h1 + i * (h2r + 1 - (h2r % 2))) % 65536 AS pos
        |       FROM bhh, range(0, 5) t(i)),
        |probe AS (SELECT doc_id,
        |            (coalesce(b.bits, 0) & CAST(2 ** (bp.pos % 32) AS BIGINT)) <> 0 AS hit
        |          FROM bp LEFT JOIN bloom b ON b.word_idx = bp.pos // 32)
        |SELECT doc_id, bool_and(hit) AS maybe_dup FROM probe
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- interval-OVERLAP join: per sampled user's daily activity span,
    //     how many other users' same-period spans overlap it (the
    //     co-presence / concurrency-pair shape); bin-blocked equi-join,
    //     pair kept only in its first shared bin — no distinct, no BNLJ ---
    QuerySpec("q_overlap_join", (s, dir) => {
      val ev = TableCatalog.load(s, dir, "events")
      val spans = ev
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
        .cache() // both join branches read it — one physical aggregate
      val left = spans.filter(col("user_id") % 97 === 0)
        .select(col("user_id").as("a_user"), col("day").as("a_day"),
          col("s").as("a_s"), col("e").as("a_e"))
      val right = spans.select(col("user_id").as("b_user"),
        col("s").as("b_s"), col("e").as("b_e"))
      graft.operators.RangeJoin.overlapJoin(left, right,
          "a_s", "a_e", "b_s", "b_e",
          binMicros = 21600000000L, // 6 h: spans cross bins, pairs dedup-free
          extraCond = Some(col("a_user") =!= col("b_user")))
        .groupBy("a_user", "a_day").agg(count(lit(1)).as("n_overlap"))
        .orderBy("a_user", "a_day")
    },
      """WITH spans AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, min(ts) AS s, max(ts) AS e
        |  FROM events GROUP BY user_id, date_trunc('day', ts))
        |SELECT a.user_id AS a_user, a.day AS a_day,
        |  CAST(count(*) AS BIGINT) AS n_overlap
        |FROM spans a JOIN spans b
        |  ON a.user_id <> b.user_id AND a.s <= b.e AND b.s <= a.e
        |WHERE a.user_id % 97 = 0
        |GROUP BY a.user_id, a.day ORDER BY a_user, a_day""".stripMargin),

    // --- deterministic stratified sampling (curation downsampling) ---
    QuerySpec("t_stratified_sample", (s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(
          docs(s, dir), "doc_id", "lang",
          rates = Map("en" -> 0.5, "zh" -> 0.8))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      {
        // u = first 6 md5 hex digits / 16^6; DuckDB hex->int via digit fold
        val u = "(SELECT sum((strpos('0123456789abcdef', substring(h, i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))::DOUBLE / 16777216.0"
        s"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang, md5(doc_id::VARCHAR) AS h FROM documents)
           |WHERE $u < (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.8 ELSE 1.0 END)
           |ORDER BY doc_id""".stripMargin
      }),

    // --- context-length packing (token-budget binning per lang) ---
    QuerySpec("t_pack", (s, dir) =>
      graft.operators.Packing.packByTokenBudget(
          docs(s, dir), "doc_id", "text", "lang", budget = 512)
        .select("doc_id", "lang", "n_tokens", "bin")
        .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, lang,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, ((cum - n_tokens) // 512)::BIGINT AS bin
         |FROM c ORDER BY doc_id""".stripMargin),

    // --- end-to-end curation pipeline: quality filter → exact dedup →
    //     minhash near-dup removal (keep lowest doc_id) → stratified
    //     sample → per-lang corpus stats ---
    QuerySpec("d_curation_pipeline", (s, dir) => {
      // tokens computed ONCE and carried through the pipeline: quality
      // scoring reads them here, and the cached post-dedup intermediate
      // stores them so the MinHash stage never re-runs the regex
      // tokenization (the double-tokenize was the round-4 regression).
      val d = docs(s, dir).withColumn("toks",
        graft.functions.TextFunctions.tokens(col("text")))
      val quality = TextAnalysis.qualityScore(d, "doc_id", "text",
          toksCol = Some("toks"))
        .filter(col("keep")).select("doc_id")
      val kept = d.join(quality, "doc_id")
      val exactKeep = Dedup.exactDedup(kept, "doc_id", "text").select("doc_id")
      val afterExact = kept.join(exactKeep, "doc_id").cache() // reused: LSH input + anti-join base (carries toks)
      // signatures computed ONCE on the cached intermediate; banding
      // consumes them directly (no second tokenize pass inside the LSH)
      val sigs = Dedup.minhashSignatureArray(afterExact, "doc_id", "text",
        toksCol = Some("toks")).cache()
      val nearDupLosers = Dedup.minhashLshFromSignatures(sigs, "doc_id")
        .select(col("d2").as("doc_id")).distinct() // keep the lower id of each pair
      val afterNear = afterExact.join(nearDupLosers, Seq("doc_id"), "left_anti")
      val sampled = graft.operators.Sampling.stratifiedHashSample(
        afterNear, "doc_id", "lang", rates = Map("en" -> 0.5))
      sampled.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")
    },
      {
        val u6 = "(SELECT sum((strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR), i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))::DOUBLE / 16777216.0"
        s"""WITH m AS (SELECT doc_id,
           |    len($toks)::BIGINT AS n_tokens,
           |    coalesce(list_sum(list_transform($toks, x -> length(x))), 0)::BIGINT AS n_token_chars,
           |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::BIGINT AS n_punct,
           |    length(text)::BIGINT AS len_chars
           |  FROM documents),
           |q AS (SELECT d.* FROM documents d JOIN m USING (doc_id)
           |  WHERE m.n_tokens >= 10
           |    AND (CASE WHEN m.n_tokens > 0 THEN round(m.n_token_chars::DOUBLE / m.n_tokens, 6) ELSE 0.0 END) BETWEEN 2 AND 12
           |    AND (CASE WHEN m.len_chars > 0 THEN round(m.n_punct::DOUBLE / m.len_chars, 6) ELSE 0.0 END) <= 0.2),
           |e AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
           |ae AS (SELECT q.* FROM q JOIN e USING (doc_id)),
           |sh AS (SELECT doc_id, unnest($sh3) AS s
           |       FROM (SELECT doc_id, $toks AS t FROM ae) WHERE len(t) >= 3),
           |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
           |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
           |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
           |         FROM sig GROUP BY doc_id, h // 4),
           |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |est AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
           |        JOIN sig y ON y.doc_id = d2 AND y.h = x.h
           |        GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
           |an AS (SELECT * FROM ae WHERE doc_id NOT IN (SELECT DISTINCT d2 FROM est)),
           |samp AS (SELECT * FROM an
           |         WHERE $u6 < (CASE lang WHEN 'en' THEN 0.5 ELSE 1.0 END))
           |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM samp GROUP BY lang ORDER BY lang""".stripMargin
      }),

    // --- normalization + PII redaction (emails synthesized per doc —
    //     the corpus is word-soup — so masking behavior is exercised) ---
    QuerySpec("t_normalize_redact", (s, dir) =>
      docs(s, dir)
        .withColumn("with_pii",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1 555-123-4567")))
        .select(col("doc_id"),
          graft.operators.TextNormalize.normalize(col("text")).as("norm"),
          graft.operators.TextNormalize.redactPhones(
            graft.operators.TextNormalize.redactEmails(col("with_pii"))).as("redacted"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@example.com or +1 555-123-4567',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?[0-9][0-9()\-\s]{5,}[0-9]', '[PHONE]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- text analysis ---
    QuerySpec("t_lang_id", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.langId(d, "doc_id", "text")
        .join(d.select("doc_id", "lang"), "doc_id")
        .orderBy("doc_id")
    },
      s"""WITH sc AS (SELECT doc_id, lang,
         |  len(list_filter($toks, x -> list_contains($stopEn, x)))::BIGINT AS s_en,
         |  len(list_filter($toks, x -> list_contains($stopDe, x)))::BIGINT AS s_de,
         |  len(list_filter($toks, x -> list_contains($stopFr, x)))::BIGINT AS s_fr,
         |  len(list_filter($toks, x -> list_contains($stopEs, x)))::BIGINT AS s_es
         |  FROM documents)
         |SELECT doc_id, lang, CASE
         |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         |  WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |  WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |  WHEN s_es > 0 THEN 'es' ELSE 'und' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin),

    // --- language-ID confusion matrix: predicted × labeled counts —
    //     the eval table that decides whether the n-gram heuristic is
    //     fit to route a 100 TB corpus (und = abstain column) ---
    QuerySpec("t_lang_confusion", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.langId(d, "doc_id", "text")
        .join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },
      s"""WITH sc AS (SELECT doc_id, lang,
         |  len(list_filter($toks, x -> list_contains($stopEn, x)))::BIGINT AS s_en,
         |  len(list_filter($toks, x -> list_contains($stopDe, x)))::BIGINT AS s_de,
         |  len(list_filter($toks, x -> list_contains($stopFr, x)))::BIGINT AS s_fr,
         |  len(list_filter($toks, x -> list_contains($stopEs, x)))::BIGINT AS s_es
         |  FROM documents),
         |pred AS (SELECT doc_id, lang, CASE
         |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         |  WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |  WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |  WHEN s_es > 0 THEN 'es' ELSE 'und' END AS pred_lang
         |FROM sc)
         |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin),

    // --- IVF inverted-list balance: per-cluster occupancy of the
    //     trained coarse quantizer (balance = k·frac; 1.0 everywhere is
    //     uniform). THE index-health number for probe-cost planning —
    //     a hot list turns nprobe=1 into a near-full scan. ---
    QuerySpec("a_ivf_balance", (s, dir) => {
      val asg = graft.operators.Vectors.kmeansAssign(
        emb(s, dir), "vec_id", "embedding", k = 4, iters = 2)
      val tot = asg.agg(count(lit(1)).as("n_total"))
      asg.groupBy("cluster_id").agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(tot))
        .select(col("cluster_id"), col("n_vecs"),
          round(col("n_vecs").cast("double") / col("n_total"), 6).as("frac"),
          round(col("n_vecs") * lit(4.0) / col("n_total"), 6).as("balance"))
        .orderBy("cluster_id")
    },
      {
        // the a_kmeans_assign training CTEs, then per-cluster occupancy
        s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
           |a1 AS (SELECT vec_id, cid FROM (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
           |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
           |m1 AS (SELECT a1.cid, d.dim,
           |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
           |           / count(*) AS mv
           |       FROM a1 JOIN embeddings e USING (vec_id),
           |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
           |       GROUP BY a1.cid, d.dim),
           |c1 AS (SELECT c0.cid,
           |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
           |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
           |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
           |       GROUP BY c0.cid),
           |asg AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
           |  FROM embeddings e CROSS JOIN c1 c) WHERE rk = 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM asg)
           |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
           |  round(count(*)::DOUBLE / n_total, 6) AS frac,
           |  round(count(*) * 4.0 / n_total, 6) AS balance
           |FROM asg CROSS JOIN tot GROUP BY cluster_id, n_total
           |ORDER BY cluster_id""".stripMargin
      }),

    QuerySpec("t_quality", (s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      {
        val allStop = (Seq("the", "and", "of", "to", "in", "is", "that", "for") ++
          Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein") ++
          Seq("le", "la", "les", "et", "est", "pas", "pour", "une") ++
          Seq("el", "la", "los", "y", "es", "no", "por", "una"))
          .distinct.sorted.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH m AS (SELECT doc_id,
           |  length(text)::BIGINT AS n_chars,
           |  len($toks)::BIGINT AS n_tokens,
           |  coalesce(list_sum(list_transform($toks, x -> length(x))), 0)::BIGINT AS n_token_chars,
           |  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::BIGINT AS n_punct,
           |  len(regexp_extract_all(text, '[A-Z]'))::BIGINT AS n_upper,
           |  len(list_filter($toks, x -> list_contains($allStop, x)))::BIGINT AS n_stop
           |  FROM documents)
           |SELECT *,
           |  CASE WHEN n_tokens > 0 THEN round(n_token_chars::DOUBLE / n_tokens, 6) ELSE 0.0 END AS mean_token_len,
           |  CASE WHEN n_chars > 0 THEN round(n_punct::DOUBLE / n_chars, 6) ELSE 0.0 END AS punct_ratio,
           |  CASE WHEN n_tokens > 0 THEN round(n_stop::DOUBLE / n_tokens, 6) ELSE 0.0 END AS stop_ratio,
           |  (n_tokens >= 10 AND
           |   (CASE WHEN n_tokens > 0 THEN round(n_token_chars::DOUBLE / n_tokens, 6) ELSE 0.0 END) BETWEEN 2 AND 12 AND
           |   (CASE WHEN n_chars > 0 THEN round(n_punct::DOUBLE / n_chars, 6) ELSE 0.0 END) <= 0.2) AS keep
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("t_token_count", (s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  len($toks)::BIGINT AS n_word_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_bpeish_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("t_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH sh AS (
         |  SELECT doc_id, i AS pos, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
         |  FROM (SELECT doc_id, $toks AS t FROM documents), unnest(range(1, len(t)-1)) AS u(i)
         |  WHERE len(t) >= 3),
         |win AS (SELECT doc_id, min(h) OVER (
         |  PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM sh)
         |SELECT doc_id, count(DISTINCT fp) AS n_fp, min(fp) AS min_fp
         |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- benchmark decontamination: training docs sharing >= 5% (the
    //     operator's default minFrac) of their shingles with the eval
    //     subset (doc_id % 97 == 0) ---
    QuerySpec("t_decontaminate", (s, dir) =>
      graft.operators.Decontamination.flagContaminated(
          docs(s, dir), "doc_id", "text",
          evalPred = col("doc_id") % 97 === 0)
        .orderBy("doc_id"),
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         |       FROM sh WHERE doc_id % 97 <> 0 GROUP BY doc_id),
         |bad AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
         |        FROM sh JOIN ev USING (s) WHERE doc_id % 97 <> 0 GROUP BY sh.doc_id)
         |SELECT doc_id, n_contaminated, n_shingles,
         |  round(n_contaminated::DOUBLE / n_shingles, 6) AS contamination
         |FROM bad JOIN tr USING (doc_id)
         |WHERE round(n_contaminated::DOUBLE / n_shingles, 6) >= 0.05
         |ORDER BY doc_id""".stripMargin),

    // --- quality-classifier training (fastText/DCLM-style filtering
    //     prep): 3 batch-GD logistic-regression iterations over cheap
    //     doc features, label = lang=='en'; per-doc 6-dp scores ---
    QuerySpec("t_quality_classifier", (s, dir) => {
      val f = docs(s, dir).select(col("doc_id"),
        array(lit(1.0),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("double") / lit(100.0),
          length(col("text")).cast("double") / lit(1000.0)).as("x"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .cache() // 3 training scans + the scoring pass share one tokenize
      val w = graft.operators.Classifier.logregTrain(
        f, "x", "y", dims = 3, iters = 3, lr = 0.5)
      graft.operators.Classifier.logregScore(f, "doc_id", "x", "y", w)
        .orderBy("doc_id")
    },
      logregSql),

    // --- classifier from RAW TEXT: fastText-style hashed char-3-gram
    //     features (16 md5-digit buckets + bias, in-row) -> 3 batch-GD
    //     iterations -> per-doc 6-dp scores. No caller-built features:
    //     the frame a real quality filter starts from ---
    QuerySpec("t_classifier_features", (s, dir) => {
      val f = graft.operators.Classifier.hashedCharNgramFeatures(
          docs(s, dir), "doc_id", "text", n = 3, buckets = 16,
          keep = Seq(when(col("lang") === "en", 1.0).otherwise(0.0).as("y")))
        .cache() // 3 training scans + the scoring pass share one gram-hash pass
      val w = graft.operators.Classifier.logregTrain(
        f, "x", "y", dims = 17, iters = 3, lr = 0.5)
      graft.operators.Classifier.logregScore(f, "doc_id", "x", "y", w)
        .orderBy("doc_id")
    },
      classifierFeaturesSql),

    // --- wide-bucket variant of the feature extractor: 256 buckets via
    //     TWO md5 hex digits — the multi-digit addressing path a real
    //     fastText-scale space (2^18+) runs, under the oracle gate at a
    //     size DuckDB can still mirror ---
    QuerySpec("t_classifier_features_wide", (s, dir) => {
      val f = graft.operators.Classifier.hashedCharNgramFeatures(
        docs(s, dir), "doc_id", "text", n = 3, buckets = 256)
      f.select(col("doc_id"),
          posexplode_outer(slice(col("x"), 2, 256)).as(Seq("dim", "share")))
        .filter(col("dim").isNotNull) // outer+filter: see SafeExplode
        .orderBy("doc_id", "dim")
    },
      // two md5 hex digits address 256 buckets (16*d1 + d2) — the
      // k-digit rule the kernel generalizes; counts grouped once, not
      // filtered per bucket
      """WITH g AS (SELECT doc_id,
        |  CASE WHEN length(lower(text)) < 3 THEN []
        |    ELSE list_transform(range(1, length(lower(text)) - 1), i ->
        |      16 * (strpos('0123456789abcdef',
        |             substring(md5(substring(lower(text), i, 3)), 1, 1)) - 1)
        |        + (strpos('0123456789abcdef',
        |             substring(md5(substring(lower(text), i, 3)), 2, 1)) - 1))
        |    END AS bks
        |  FROM documents),
        |counts AS (SELECT doc_id, b AS dim, count(*) AS c
        |           FROM g, unnest(bks) AS u(b) GROUP BY doc_id, b),
        |tot AS (SELECT doc_id, len(bks) AS t FROM g)
        |SELECT tot.doc_id, j.j::INT AS dim,
        |  CASE WHEN tot.t > 0 THEN coalesce(counts.c, 0)::DOUBLE / tot.t
        |       ELSE 0.0 END AS share
        |FROM tot CROSS JOIN (SELECT unnest(range(0, 256)) AS j) j
        |LEFT JOIN counts ON counts.doc_id = tot.doc_id AND counts.dim = j.j
        |ORDER BY tot.doc_id, dim""".stripMargin),

    // --- round-6 curation composition: quality-classifier filter
    //     (p >= 0.435) -> exact substring dedup over the survivors —
    //     the modern two-stage front of a pretraining pipeline,
    //     end-to-end under one hash ---
    QuerySpec("d_curation_v2", (s, dir) => {
      val d = docs(s, dir)
      val f = d.select(col("doc_id"),
        array(lit(1.0),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("double") / lit(100.0),
          length(col("text")).cast("double") / lit(1000.0)).as("x"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .cache()
      val w = graft.operators.Classifier.logregTrain(
        f, "x", "y", dims = 3, iters = 10, lr = 2.0)
      val kept = graft.operators.Classifier.logregScore(f, "doc_id", "x", "y", w)
        .filter(col("p") >= 0.435).select("doc_id")
      graft.operators.Dedup.exactSubstringDedup(
          d.join(kept, "doc_id"), "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("kept_text")).as("kept_hash"))
        .orderBy("doc_id")
    },
      // classifier filter feeding the substring-dedup SQL: `base` is the
      // kept subset (10 rounds, lr 2.0 — enough spread that the 0.435
      // threshold is a real cut), the rest is d_substring_dedup's oracle
      (logregChain(10, "2.0") +
      s""",
         |base AS (SELECT d.doc_id, $toks AS t
         |         FROM documents d JOIN scored sc ON sc.doc_id = d.doc_id
         |         WHERE sc.p >= 0.435),
         |g AS (SELECT doc_id, p, md5(array_to_string(t[p : p + 7], ' ')) AS h
         |      FROM base, unnest(range(1, len(t) - 6)) AS u(p)),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
         |tok AS (SELECT doc_id, i AS q, t[i] AS w
         |        FROM base, unnest(range(1, len(t) + 1)) AS u(i)),
         |cov AS (SELECT DISTINCT g.doc_id, q
         |        FROM g JOIN dup USING (h), unnest(range(g.p, g.p + 8)) AS u(q)),
         |kept AS (SELECT tok.doc_id, tok.q AS q, w FROM tok
         |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.q = cov.q
         |         WHERE cov.q IS NULL)
         |SELECT b.doc_id, len(b.t)::BIGINT AS n_tokens,
         |  (len(b.t) - count(k.q))::BIGINT AS n_removed,
         |  md5(coalesce(string_agg(k.w, ' ' ORDER BY k.q), '')) AS kept_hash
         |FROM base b LEFT JOIN kept k USING (doc_id)
         |GROUP BY b.doc_id, len(b.t) ORDER BY doc_id""".stripMargin)),

    // --- classifier operating-point sweep: precision/recall at five
    //     thresholds over the trained quality scores ---
    // --- reliability diagram for the trained quality classifier:
    //     decile bins of predicted p vs actual positive rate (the
    //     calibration eval run before trusting scores as thresholds;
    //     avg_p accumulates in decimal — double sum order would be
    //     partitioning-dependent) ---
    QuerySpec("t_calibration", (s, dir) => {
      import graft.functions.TextFunctions.{tokens, stopwordHits, stopwords}
      val tk = tokens(col("text"))
      val f = docs(s, dir).select(col("doc_id"),
        array(lit(1.0),
          size(tk).cast("double") / lit(100.0),
          length(col("text")).cast("double") / lit(1000.0),
          when(size(tk) > 0,
            stopwordHits(tk, stopwords("en")).cast("double") / size(tk))
            .otherwise(0.0)).as("x"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .cache()
      val w = graft.operators.Classifier.logregTrain(
        f, "x", "y", dims = 4, iters = 20, lr = 8.0)
      val scored = graft.operators.Classifier.logregScore(f, "doc_id", "x", "y", w)
      graft.operators.Classifier.calibrationBins(scored).orderBy("bin")
    },
      (logregChainD(
      s"""f AS (SELECT doc_id,
         |  [1.0, len($toks)/100.0, length(text)/1000.0,
         |   CASE WHEN len($toks) > 0
         |        THEN len(list_filter($toks, x -> list_contains($stopEn, x)))::DOUBLE / len($toks)
         |        ELSE 0.0 END] AS x,
         |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents)""".stripMargin, 4, 20, "8.0") +
      """,
        |binned AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, p, y
        |           FROM scored)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_p,
        |  round(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS pos_rate
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin)),

    QuerySpec("t_classifier_pr", (s, dir) => {
      import s.implicits._
      val f = docs(s, dir).select(col("doc_id"),
        array(lit(1.0),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("double") / lit(100.0),
          length(col("text")).cast("double") / lit(1000.0)).as("x"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .cache()
      val w = graft.operators.Classifier.logregTrain(
        f, "x", "y", dims = 3, iters = 3, lr = 0.5)
      val scored = graft.operators.Classifier.logregScore(f, "doc_id", "x", "y", w)
      scored.crossJoin(Seq(0.3, 0.4, 0.5, 0.6, 0.7).toDF("t"))
        .groupBy("t").agg(
          sum(when(col("p") >= col("t") && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
          sum(when(col("p") >= col("t") && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("p") < col("t") && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
          sum(when(col("p") < col("t") && col("y") === 0.0, 1L).otherwise(0L)).as("tn"))
        .select(col("t"), col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") === 0L, 0.0)
            .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
            .as("precision"),
          when(col("tp") + col("fn") === 0L, 0.0)
            .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
            .as("recall"))
        .orderBy("t")
    },
      logregPrSql),

    // --- per-domain cap: at most 20 docs per source, content-hash order ---
    QuerySpec("t_domain_cap", (s, dir) =>
      graft.operators.Sampling.capPerGroup(
          docs(s, dir), "doc_id", "source", maxPerGroup = 20)
        .select("doc_id", "source", "rk")
        .orderBy("doc_id"),
      """SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin),

    // --- temperature resampling of the language mix (alpha=0.5) ---
    QuerySpec("t_temperature_sample", (s, dir) =>
      graft.operators.Sampling.temperatureSample(
          docs(s, dir), "doc_id", "lang", alpha = 0.5, targetFrac = 0.5)
        .select("doc_id", "lang", "rate")
        .orderBy("doc_id"),
      {
        val u6 = "(SELECT sum((strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR), i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))::DOUBLE / 16777216.0"
        s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_stratum
           |           FROM documents GROUP BY lang),
           |t AS (SELECT CAST(sum(n_stratum) AS BIGINT) AS n_total,
           |             CAST(sum(CAST(pow(n_stratum, 0.5) AS DECIMAL(30,12))) AS DOUBLE) AS sum_w
           |      FROM c),
           |r AS (SELECT lang, least(1.0,
           |        round(0.5 * n_total * pow(n_stratum, 0.5) / sum_w / n_stratum, 6)) AS rate
           |      FROM c CROSS JOIN t)
           |SELECT doc_id, lang, rate FROM documents JOIN r USING (lang)
           |WHERE $u6 < rate ORDER BY doc_id""".stripMargin
      }),

    // --- explicit-target data mixing (the training-mixture knob): kept
    //     corpus approaches en/de/fr/es = 50/20/20/10; zh unlisted → dropped ---
    QuerySpec("t_mixture_sample", (s, dir) =>
      graft.operators.Sampling.mixtureSample(
          docs(s, dir), "doc_id", "lang",
          targets = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1))
        .select("doc_id", "lang", "rate")
        .orderBy("doc_id"),
      {
        val u = "(SELECT sum((strpos('0123456789abcdef', substring(h, i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))::DOUBLE / 16777216.0"
        s"""WITH tgt(lang, target) AS (VALUES
           |  ('en', 0.5::DOUBLE), ('de', 0.2::DOUBLE),
           |  ('fr', 0.2::DOUBLE), ('es', 0.1::DOUBLE)),
           |counts AS (SELECT d.lang, any_value(target) AS target,
           |             CAST(count(*) AS BIGINT) AS n
           |           FROM documents d JOIN tgt USING (lang) GROUP BY d.lang),
           |norm AS (SELECT max(target / n) AS maxr FROM counts),
           |rates AS (SELECT lang, round(target / n / maxr, 6) AS rate
           |          FROM counts CROSS JOIN norm)
           |SELECT doc_id, lang, rate FROM (
           |  SELECT doc_id, d.lang, rate, md5(doc_id::VARCHAR) AS h
           |  FROM documents d JOIN rates USING (lang))
           |WHERE $u < rate ORDER BY doc_id""".stripMargin
      }),

    // --- curriculum phases: ntile(4) by document length within language
    //     (shortest docs first — the standard length-curriculum split) ---
    QuerySpec("t_curriculum", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)
      docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          ntile(4).over(w).cast("long").as("phase"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars,
        |  ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)::BIGINT AS phase
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- KMV distinct-shingle sketch per language (engine-portable
    //     cardinality estimate; see Sketches Scaladoc) ---
    QuerySpec("t_kmv_distinct", (s, dir) => {
      val d = docs(s, dir)
      import graft.functions.TextFunctions._
      val sh = graft.functions.SafeExplode.explodeSelect(
        d.select(col("lang"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3),
        Seq(col("lang")), shingles(col("toks"), 3), "s")
      graft.operators.Sketches.kmvDistinct(sh, "lang", "s", k = 64)
        .orderBy("lang")
    },
      {
        val u6v = "(SELECT sum((strpos('0123456789abcdef', substring(md5(v), i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))::DOUBLE / 16777216.0"
        s"""WITH dv AS (SELECT DISTINCT lang, s AS v FROM (
           |    SELECT lang, unnest($sh3) AS s
           |    FROM (SELECT lang, $toks AS t FROM documents) WHERE len(t) >= 3)),
           |uu AS (SELECT lang, v, $u6v AS u FROM dv),
           |rk AS (SELECT lang, u,
           |       row_number() OVER (PARTITION BY lang ORDER BY u, v) AS rn FROM uu),
           |kth AS (SELECT lang, u AS uk FROM rk WHERE rn = 64),
           |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM dv GROUP BY lang)
           |SELECT lang, n_exact,
           |  round(coalesce(63.0 / uk, n_exact::DOUBLE), 4) AS kmv_estimate
           |FROM ex LEFT JOIN kth USING (lang) ORDER BY lang""".stripMargin
      }),

    // --- HyperLogLog distinct-shingle sketch per language (p=6, 64
    //     registers) — same input as t_kmv_distinct, the other portable
    //     cardinality sketch; registers merge by max across epochs ---
    QuerySpec("t_hll_distinct", (s, dir) => {
      val d = docs(s, dir)
      import graft.functions.TextFunctions._
      val sh = graft.functions.SafeExplode.explodeSelect(
        d.select(col("lang"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3),
        Seq(col("lang")), shingles(col("toks"), 3), "s")
      graft.operators.Sketches.hllDistinct(sh, "lang", "s", p = 6)
        .orderBy("lang")
    },
      // HLL p=6: h = first 60 md5 bits; j = low 6 bits, w = high 54;
      // rho = 55 - bitlength(w) (55 when w = 0); registers = max rho;
      // harmonic sum scaled by 2^55 so it is EXACT 64-bit integer math
      s"""WITH dv AS (SELECT DISTINCT lang, s AS v FROM (
         |    SELECT lang, unnest($sh3) AS s
         |    FROM (SELECT lang, $toks AS t FROM documents) WHERE len(t) >= 3)),
         |h AS (SELECT lang, ('0x' || substring(md5(v), 1, 15))::BIGINT AS hv FROM dv),
         |r AS (SELECT lang, hv & 63 AS j,
         |             CASE WHEN hv >> 6 = 0 THEN 55
         |                  ELSE 55 - length(bin(hv >> 6)) END AS rho FROM h),
         |reg AS (SELECT lang, j, max(rho) AS m_j FROM r GROUP BY lang, j),
         |agg AS (SELECT lang, count(*) AS n_nz,
         |        sum(CAST(2 ** (55 - m_j) AS BIGINT)) AS s_present
         |        FROM reg GROUP BY lang),
         |est AS (SELECT lang, 64 - n_nz AS v0,
         |        s_present + (64 - n_nz) * CAST(2 ** 55 AS BIGINT) AS s_tot FROM agg),
         |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM dv GROUP BY lang)
         |SELECT lang, n_exact,
         |  round(CASE WHEN 0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
         |                    / s_tot <= 160.0 AND v0 > 0
         |             THEN 64::DOUBLE * ln(64::DOUBLE / v0)
         |             ELSE 0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
         |                    / s_tot END, 4)
         |    AS hll_estimate
         |FROM ex JOIN est USING (lang) ORDER BY lang""".stripMargin),

    // --- fuzzy record linkage: customer names within edit distance 1
    //     (deletion-neighborhood equi-join blocking + exact verify) ---
    QuerySpec("d_fuzzy_pairs", (s, dir) =>
      Dedup.fuzzyPairs(
          TableCatalog.load(s, dir, "customer")
            .filter(col("c_custkey") < 300),
          "c_custkey", "c_name")
        .orderBy("id1", "id2"),
      """WITH v AS (SELECT c_custkey AS id, c_name AS s,
        |    unnest(list_prepend(c_name, list_transform(range(1, length(c_name) + 1),
        |      i -> left(c_name, i - 1) || substring(c_name, i + 1)))) AS variant
        |  FROM customer WHERE c_custkey < 300),
        |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2, a.s AS s1, b.s AS s2
        |         FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id)
        |SELECT id1, id2, s1, s2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(s1, s2) <= 1 ORDER BY id1, id2""".stripMargin),

    // --- Pareto frontier of documents over (length, stopword quality):
    //     the docs unbeaten on both axes simultaneously — sweep-based
    //     skyline, no quadratic self-join ---
    QuerySpec("q_skyline", (s, dir) => {
      val d = docs(s, dir)
      val q = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select("doc_id", "stop_ratio")
      graft.operators.Profiling.skyline2D(
          d.select(col("doc_id"), col("n_chars")).join(q, "doc_id"),
          "n_chars", "stop_ratio")
        .orderBy("doc_id")
    },
      {
        val allStop = (Seq("the", "and", "of", "to", "in", "is", "that", "for") ++
          Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein") ++
          Seq("le", "la", "les", "et", "est", "pas", "pour", "une") ++
          Seq("el", "la", "los", "y", "es", "no", "por", "una"))
          .distinct.sorted.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH m AS (SELECT doc_id, n_chars,
           |    CASE WHEN len($toks) > 0
           |         THEN round(len(list_filter($toks, x -> list_contains($allStop, x)))::DOUBLE
           |                    / len($toks), 6)
           |         ELSE 0.0 END AS stop_ratio
           |  FROM documents),
           |sk AS (SELECT doc_id, n_chars, stop_ratio,
           |    max(stop_ratio) OVER (ORDER BY -n_chars
           |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxy_gt,
           |    max(stop_ratio) OVER (PARTITION BY n_chars) AS maxy_eq
           |  FROM m)
           |SELECT doc_id, n_chars, stop_ratio FROM sk
           |WHERE (maxy_gt IS NULL OR stop_ratio > maxy_gt) AND stop_ratio = maxy_eq
           |ORDER BY doc_id""".stripMargin
      }),

    // --- Jensen-Shannon divergence between corpus halves' hashed
    //     vocabulary distributions (Laplace-smoothed, 256 buckets) —
    //     the bounded symmetric drift metric for epoch-over-epoch
    //     corpus monitoring (0 = identical mixes) ---
    QuerySpec("t_jsd_drift", (s, dir) =>
      TextAnalysis.jsdDrift(docs(s, dir), "text", col("doc_id") % 2 === 0),
      s"""WITH tk AS (SELECT doc_id % 2 = 0 AS is_p, unnest($toks) AS w
         |           FROM documents),
         |cnt AS (SELECT ('0x' || substring(md5(w), 1, 2))::BIGINT % 256 AS b,
         |    CAST(sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT) AS cq
         |  FROM tk GROUP BY 1),
         |fl AS (SELECT s.b, coalesce(cp, 0) AS cp, coalesce(cq, 0) AS cq
         |  FROM (SELECT unnest(range(256)) AS b) s LEFT JOIN cnt USING (b)),
         |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
         |               CAST(sum(cq) AS BIGINT) AS nq FROM fl),
         |pq AS (SELECT np, nq,
         |    (cp + 1)::DOUBLE / (np + 256) AS p,
         |    (cq + 1)::DOUBLE / (nq + 256) AS q
         |  FROM fl CROSS JOIN tot),
         |m2 AS (SELECT np, nq, p, q, (p + q) / 2 AS m FROM pq)
         |SELECT max(np)::BIGINT AS n_p, max(nq)::BIGINT AS n_q,
         |  round(CAST(sum(CAST((p * ln(p / m)) / 2 + (q * ln(q / m)) / 2
         |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS jsd
         |FROM m2""".stripMargin),

    // --- population stability index between corpus halves over global
    //     length deciles — the binned drift metric model-monitoring
    //     dashboards quote next to JSD (PSI > 0.2 = "significant
    //     shift"); deciles by global ntile with a full tiebreak, shares
    //     Laplace-smoothed ---
    QuerySpec("t_psi_drift", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
        .withColumn("bin",
          ntile(10).over(Window.orderBy(col("n_chars"), col("doc_id")))
            .cast("long"))
        .withColumn("is_p", col("doc_id") % 2 === 0)
      val cnt = d.groupBy("bin").agg(
        sum(when(col("is_p"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("is_p"), 1L).otherwise(0L)).as("cq"))
      val tot = cnt.agg(sum("cp").as("np"), sum("cq").as("nq"))
      cnt.crossJoin(broadcast(tot))
        .withColumn("p", (col("cp") + 1).cast("double") / (col("np") + 10))
        .withColumn("q", (col("cq") + 1).cast("double") / (col("nq") + 10))
        .agg(max(col("np")).as("n_p"), max(col("nq")).as("n_q"),
          sum(((col("p") - col("q")) * log(col("p") / col("q")))
            .cast("decimal(38,18)")).cast("double").as("psi_raw"))
        .select(col("n_p"), col("n_q"), round(col("psi_raw"), 6).as("psi"))
    },
      """WITH d AS (SELECT doc_id, n_chars,
        |    CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bin,
        |    doc_id % 2 = 0 AS is_p
        |  FROM documents),
        |cnt AS (SELECT bin,
        |    CAST(sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT) AS cq
        |  FROM d GROUP BY bin),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
        |               CAST(sum(cq) AS BIGINT) AS nq FROM cnt),
        |pq AS (SELECT np, nq,
        |    (cp + 1)::DOUBLE / (np + 10) AS p,
        |    (cq + 1)::DOUBLE / (nq + 10) AS q
        |  FROM cnt CROSS JOIN tot)
        |SELECT max(np)::BIGINT AS n_p, max(nq)::BIGINT AS n_q,
        |  round(CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(38,18))) AS DOUBLE), 6) AS psi
        |FROM pq""".stripMargin),

    // --- Gini coefficient of source concentration: how unequal is the
    //     corpus across sources? (0 = even mix, →1 = one source owns
    //     it) — exact integer rank-sum identity, diversity monitoring ---
    QuerySpec("t_gini_concentration", (s, dir) => {
      val c = docs(s, dir)
      graft.operators.Profiling.giniConcentration(c, "source")
        .withColumnRenamed("n_rows", "n_docs")
        .withColumnRenamed("n_groups", "n_sources")
    },
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS x
        |           FROM documents GROUP BY source),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i
        |      FROM c),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(sum(x) AS BIGINT) AS n_docs,
        |    CAST(sum(i * x) AS BIGINT) AS sixi FROM r)
        |SELECT n_sources, n_docs,
        |  round((2 * sixi)::DOUBLE / (n_sources * n_docs)
        |        - (n_sources + 1)::DOUBLE / n_sources, 6) AS gini
        |FROM st""".stripMargin),

    // --- DSIR importance weights: log likelihood ratio of the English
    //     target vs the rest over 256 hashed unigram buckets — positive
    //     weight = target-like; resampling by weight reshapes the
    //     corpus toward the target without training a classifier ---
    QuerySpec("t_dsir_weights", (s, dir) =>
      graft.operators.Sampling.dsirWeights(
          docs(s, dir), "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, lang = 'en' AS is_t, unnest($toks) AS w
         |           FROM documents),
         |bk AS (SELECT doc_id, is_t,
         |         ('0x' || substring(md5(w), 1, 2))::BIGINT % 256 AS b FROM tk),
         |model AS (SELECT b,
         |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cs
         |  FROM bk GROUP BY b),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |               CAST(sum(cs) AS BIGINT) AS ns FROM model),
         |term AS (SELECT b,
         |    ln(ct + 1) - ln(nt + 256) - ln(cs + 1) + ln(ns + 256) AS term
         |  FROM model CROSS JOIN tot),
         |cd AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
         |       FROM bk GROUP BY doc_id, b)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(c * term AS DECIMAL(30,12))) AS DOUBLE), 6) AS log_weight,
         |  round(CAST(sum(CAST(c * term AS DECIMAL(30,12))) AS DOUBLE), 6) > 0 AS keep
         |FROM cd JOIN term USING (b) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- cross-stratum score normalization: a doc's quality signal
    //     mapped to its within-language percent rank ((rank−1)/(n−1),
    //     an exact rational) — scores become comparable across
    //     languages, the calibration step before one global threshold
    //     can be applied to per-language distributions ---
    QuerySpec("t_quantile_norm", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars"))
      val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      d.withColumn("pr",
          round(percent_rank().over(w), 6))
        .select("doc_id", "lang", "n_chars", "pr")
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars,
        |  round(percent_rank() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id), 6) AS pr
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- winsorization: clamp doc length to its language's [p05, p95]
    //     band (exact interpolated percentiles, pinned at 6 dp) — the
    //     tail-robust preprocessing for any length-weighted statistic ---
    QuerySpec("t_winsorize", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      val bounds = d.groupBy("lang").agg(
        round(expr("percentile(n_chars, 0.05)"), 6).as("lo"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("hi"))
      d.join(broadcast(bounds), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("lo"), col("hi"),
          round(greatest(col("lo"),
            least(col("hi"), col("n_chars").cast("double"))), 6)
            .as("clamped"))
        .orderBy("doc_id")
    },
      """WITH b AS (SELECT lang,
        |    round(quantile_cont(n_chars, 0.05), 6) AS lo,
        |    round(quantile_cont(n_chars, 0.95), 6) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, lang, n_chars, lo, hi,
        |  round(greatest(lo, least(hi, n_chars::DOUBLE)), 6) AS clamped
        |FROM documents JOIN b USING (lang) ORDER BY doc_id""".stripMargin),

    // --- code-switching detection: per-line language vote -> per-doc
    //     line-language entropy + dominant language ---
    QuerySpec("t_code_switch", (s, dir) =>
      TextAnalysis.codeSwitch(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH ln AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
         |           FROM documents),
         |tk AS (SELECT doc_id, regexp_extract_all(lower(line), '[a-z0-9]+') AS t
         |       FROM ln),
         |sc AS (SELECT doc_id,
         |  len(list_filter(t, x -> list_contains($stopEn, x)))::BIGINT AS s_en,
         |  len(list_filter(t, x -> list_contains($stopDe, x)))::BIGINT AS s_de,
         |  len(list_filter(t, x -> list_contains($stopFr, x)))::BIGINT AS s_fr,
         |  len(list_filter(t, x -> list_contains($stopEs, x)))::BIGINT AS s_es
         |  FROM tk),
         |pr AS (SELECT doc_id, CASE
         |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         |  WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |  WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |  WHEN s_es > 0 THEN 'es' ELSE 'und' END AS pred FROM sc),
         |c AS (SELECT doc_id, pred, CAST(count(*) AS BIGINT) AS c
         |      FROM pr GROUP BY doc_id, pred),
         |dom AS (SELECT doc_id, pred AS dominant FROM (
         |    SELECT doc_id, pred,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, pred) AS rk
         |    FROM c)
         |  WHERE rk = 1),
         |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
         |    CAST(count(*) AS BIGINT) AS n_langs,
         |    sum(CAST(c * ln(c) AS DECIMAL(30,15))) AS sumcl
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, n_lines, n_langs, dominant,
         |  round(ln(n_lines::DOUBLE) - sumcl::DOUBLE / n_lines, 6) AS lang_entropy
         |FROM agg JOIN dom USING (doc_id) ORDER BY doc_id""".stripMargin),

    // --- Neyman-allocation stratified sample: 200 docs split across
    //     languages by N_h·S_h of doc length (variance-optimal, vs the
    //     uniform-rate stratified sampler) ---
    QuerySpec("t_neyman_sample", (s, dir) =>
      graft.operators.Sampling.neymanSample(
          docs(s, dir), "lang", "doc_id", "n_chars", total = 200)
        .orderBy("doc_id"),
      """WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS nh,
        |       CAST(sum(n_chars) AS BIGINT) AS sx,
        |       CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        |     FROM documents GROUP BY lang),
        |s2 AS (SELECT lang, nh,
        |       CASE WHEN nh >= 2 AND nh * sxx - sx * sx > 0
        |            THEN sqrt((nh * sxx - sx * sx)::DOUBLE / (nh * (nh - 1)))
        |            ELSE 0.0 END AS sh FROM st),
        |w AS (SELECT lang, CAST(nh::DOUBLE * sh AS DECIMAL(30,12)) AS whd FROM s2),
        |tw AS (SELECT CAST(sum(whd) AS DOUBLE) AS wt FROM w),
        |alloc AS (SELECT lang,
        |    CAST(floor(200.0 * whd::DOUBLE / wt) AS BIGINT) AS n_alloc
        |  FROM w CROSS JOIN tw),
        |rk AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk FROM documents)
        |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk, n_alloc
        |FROM rk JOIN alloc USING (lang)
        |WHERE rk <= n_alloc ORDER BY doc_id""".stripMargin),

    // --- token-budget fill: ~10k word tokens per language, greedy in
    //     content-hash order (the mixture primitive when targets are
    //     token counts, not doc counts) ---
    QuerySpec("t_token_budget", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
      graft.operators.Sampling.tokenBudgetSample(
          d, "lang", "doc_id", "n_tokens", budget = 10000L)
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id, lang, len($toks)::BIGINT AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY md5(doc_id::VARCHAR), doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
         |  FROM d)
         |SELECT doc_id, lang, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
         |FROM c WHERE cum_before < 10000 ORDER BY doc_id""".stripMargin),

    // --- PMI collocations: top-50 bigram phrases by pointwise mutual
    //     information (minFreq 5) — the phrase-mining statistic raw
    //     frequency can't give ---
    QuerySpec("t_pmi_collocations", (s, dir) =>
      TextAnalysis.pmiCollocations(docs(s, dir), "text")
        .orderBy("rk"),
      s"""WITH t AS (SELECT $toks AS tk FROM documents),
         |bi AS (SELECT unnest(list_transform(range(1, len(tk)),
         |         i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg
         |       FROM t WHERE len(tk) >= 2),
         |bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2,
         |         CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
         |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
         |         (SELECT unnest($toks) AS w FROM documents) GROUP BY w),
         |nn AS (SELECT CAST(sum(c12) AS BIGINT) AS nn FROM bc),
         |sc AS (SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
         |         round(ln((nn.nn * c12)::DOUBLE / (u1.c * u2.c)), 6) AS pmi
         |       FROM bc JOIN uc u1 ON bc.w1 = u1.w
         |       JOIN uc u2 ON bc.w2 = u2.w CROSS JOIN nn
         |       WHERE c12 >= 5)
         |SELECT w1, w2, c12, c1, c2, pmi, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk FROM sc)
         |WHERE rk <= 50 ORDER BY rk""".stripMargin),

    // --- join-size estimation from two CMS sketches (AMS inner
    //     product): price the token equi-join between the even-id and
    //     odd-id halves WITHOUT running it; exact size alongside as the
    //     eval. The planning primitive for reorder/broadcast decisions
    //     at 100 TB — two model-sized sketches, no corpus access. ---
    QuerySpec("t_cms_join_size", (s, dir) => {
      val toks = graft.functions.SafeExplode.explodeSelect(
        docs(s, dir), Seq(col("doc_id")),
        graft.functions.TextFunctions.tokens(col("text")), "token")
      val a = toks.filter(col("doc_id") % 2 === 0)
      val b = toks.filter(col("doc_id") % 2 =!= 0)
      val est = Sketches.cmsJoinSizeEstimate(
        Sketches.cmsBuild(a, "token", width = 8192, depth = 4),
        Sketches.cmsBuild(b, "token", width = 8192, depth = 4))
      val exact = a.groupBy("token").agg(count(lit(1)).as("na"))
        .join(b.groupBy("token").agg(count(lit(1)).as("nb")), "token")
        .agg(sum(col("na") * col("nb")).as("join_size_exact"))
      est.crossJoin(exact)
    },
      // CMS inner product per sketch row, min over rows = join-size
      // upper bound; identical Kirsch-Mitzenmacher position arithmetic
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |a AS (SELECT token FROM tok WHERE doc_id % 2 = 0),
         |b AS (SELECT token FROM tok WHERE doc_id % 2 <> 0),
         |ha AS (SELECT ('0x' || substring(md5(token), 1, 15))::BIGINT % 8192 AS h1,
         |              ('0x' || substring(md5(token), 16, 15))::BIGINT % 8192 AS h2r FROM a),
         |ca AS (SELECT r.i AS row_idx,
         |              (h1 + r.i * (h2r + 1 - (h2r % 2))) % 8192 AS bucket,
         |              CAST(count(*) AS BIGINT) AS ca
         |       FROM ha CROSS JOIN range(0, 4) r(i) GROUP BY 1, 2),
         |hb AS (SELECT ('0x' || substring(md5(token), 1, 15))::BIGINT % 8192 AS h1,
         |              ('0x' || substring(md5(token), 16, 15))::BIGINT % 8192 AS h2r FROM b),
         |cb AS (SELECT r.i AS row_idx,
         |              (h1 + r.i * (h2r + 1 - (h2r % 2))) % 8192 AS bucket,
         |              CAST(count(*) AS BIGINT) AS cb
         |       FROM hb CROSS JOIN range(0, 4) r(i) GROUP BY 1, 2),
         |ip AS (SELECT ca.row_idx, sum(ca.ca * cb.cb) AS ip
         |       FROM ca JOIN cb ON ca.row_idx = cb.row_idx AND ca.bucket = cb.bucket
         |       GROUP BY ca.row_idx),
         |est AS (SELECT CAST(min(ip) AS BIGINT) AS join_size_est FROM ip),
         |ex AS (SELECT CAST(sum(na * nb) AS BIGINT) AS join_size_exact FROM
         |  (SELECT token, count(*) AS na FROM a GROUP BY token) x
         |  JOIN (SELECT token, count(*) AS nb FROM b GROUP BY token) y USING (token))
         |SELECT * FROM est, ex""".stripMargin),

    // --- dynamic quality thresholding: per-language MEDIAN stopword
    //     density as the cutoff (adapts to each stratum's distribution
    //     instead of one global constant — the usual way quality bars
    //     are actually set). One exact-percentile aggregate broadcast
    //     back; scoring stays map-only. ---
    QuerySpec("t_quality_threshold", (s, dir) => {
      val d = docs(s, dir)
      val q = TextAnalysis.qualityScore(d, "doc_id", "text")
        .join(d.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "stop_ratio")
      val med = q.groupBy("lang")
        .agg(round(expr("percentile(stop_ratio, 0.5)"), 6).as("lang_median"))
      q.join(broadcast(med), "lang")
        .select(col("doc_id"), col("lang"), col("stop_ratio"),
          col("lang_median"),
          (col("stop_ratio") >= col("lang_median")).as("kept"))
        .orderBy("doc_id")
    },
      {
        val allStop = (Seq("the", "and", "of", "to", "in", "is", "that", "for") ++
          Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein") ++
          Seq("le", "la", "les", "et", "est", "pas", "pour", "une") ++
          Seq("el", "la", "los", "y", "es", "no", "por", "una"))
          .distinct.sorted.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH m AS (SELECT doc_id, lang,
           |    len($toks)::BIGINT AS n_tokens,
           |    len(list_filter($toks, x -> list_contains($allStop, x)))::BIGINT AS n_stop
           |  FROM documents),
           |r AS (SELECT doc_id, lang,
           |    CASE WHEN n_tokens > 0 THEN round(n_stop::DOUBLE / n_tokens, 6)
           |      ELSE 0.0 END AS stop_ratio FROM m),
           |med AS (SELECT lang, round(quantile_cont(stop_ratio, 0.5), 6) AS lang_median
           |        FROM r GROUP BY lang)
           |SELECT doc_id, lang, stop_ratio, lang_median,
           |  stop_ratio >= lang_median AS kept
           |FROM r JOIN med USING (lang) ORDER BY doc_id""".stripMargin
      }),

    // --- the Gopher quality rule set, per-rule metrics + keep flag ---
    QuerySpec("t_gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      // Gopher rule set: whitespace words / newline lines, all metrics
      // in-row; symbol count = '#' chars + non-overlapping '...' runs
      s"""WITH w AS (SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words,
         |    string_split(text, chr(10)) AS lines FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(words) AS BIGINT) AS n_words,
         |  CAST((length(text) - length(replace(text, '#', ''))) +
         |       (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
         |  round(len(list_filter(lines, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'
         |      OR ltrim(l) LIKE '•%'))::DOUBLE / len(lines), 6) AS bullet_frac,
         |  round(len(list_filter(lines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))::DOUBLE
         |      / len(lines), 6) AS ellipsis_frac,
         |  CASE WHEN len(words) > 0 THEN round(len(list_filter(words,
         |      x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(words), 6)
         |    ELSE 0.0 END AS alpha_word_frac,
         |  (list_contains(list_transform(words, x -> lower(x)), 'the')::BIGINT +
         |   list_contains(list_transform(words, x -> lower(x)), 'be')::BIGINT +
         |   list_contains(list_transform(words, x -> lower(x)), 'to')::BIGINT +
         |   list_contains(list_transform(words, x -> lower(x)), 'of')::BIGINT +
         |   list_contains(list_transform(words, x -> lower(x)), 'and')::BIGINT +
         |   list_contains(list_transform(words, x -> lower(x)), 'that')::BIGINT +
         |   list_contains(list_transform(words, x -> lower(x)), 'have')::BIGINT +
         |   list_contains(list_transform(words, x -> lower(x)), 'with')::BIGINT) AS n_stop_hits,
         |  CASE WHEN len(words) > 0 THEN
         |      round(list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words), 6)
         |    ELSE 0.0 END AS mean_word_len
         |  FROM w)
         |SELECT doc_id, n_words, n_symbols, bullet_frac, ellipsis_frac,
         |  alpha_word_frac, n_stop_hits, mean_word_len,
         |  CASE WHEN n_words > 0 THEN round(n_symbols::DOUBLE / n_words, 6)
         |    ELSE 0.0 END AS symbol_ratio,
         |  (n_words >= 50 AND n_words <= 100000 AND
         |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
         |   (CASE WHEN n_words > 0 THEN round(n_symbols::DOUBLE / n_words, 6)
         |     ELSE 0.0 END) <= 0.1 AND
         |   bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND
         |   alpha_word_frac >= 0.8 AND n_stop_hits >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin),

    // --- C4 line-level cleaning: kept-line counts, doc-drop triggers,
    //     md5 witness of the reconstructed clean text ---
    QuerySpec("t_c4_filters", (s, dir) =>
      TextAnalysis.c4Filters(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      // C4 cleaning: per-line keep predicate, doc-drop triggers, md5 of
      // the kept lines re-joined with newlines
      s"""WITH base AS (SELECT doc_id, text,
         |    string_split(text, chr(10)) AS lines FROM documents),
         |k AS (SELECT doc_id, text, lines,
         |    list_filter(lines, l ->
         |      len(list_filter(regexp_split_to_array(l, '\\s+'), x -> x <> '')) >= 5
         |      AND (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
         |        OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
         |      AND NOT contains(lower(l), 'javascript')
         |      AND NOT contains(lower(l), 'cookie policy')
         |      AND NOT contains(lower(l), 'privacy policy')
         |      AND NOT contains(lower(l), 'terms of use')) AS kept
         |  FROM base)
         |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  contains(text, '{') AS has_brace,
         |  contains(lower(text), 'lorem ipsum') AS has_lorem,
         |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5,
         |  (NOT contains(text, '{') AND NOT contains(lower(text), 'lorem ipsum')
         |   AND len(kept) >= 3) AS keep
         |FROM k ORDER BY doc_id""".stripMargin),

    // --- weighted sampling without replacement (Efraimidis-Spirakis):
    //     100 docs, inclusion odds proportional to n_chars ---
    QuerySpec("t_weighted_sample", (s, dir) =>
      graft.operators.Sampling.weightedSample(
          docs(s, dir), "doc_id", "n_chars", k = 100)
        .select("doc_id", "n_chars", "skey")
        .orderBy("doc_id"),
      {
        val u6 = "(SELECT sum((strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR), i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))"
        s"""WITH s AS (SELECT doc_id, n_chars,
           |    round(-ln(($u6 + 0.5) / 16777216.0) / n_chars, 9) AS skey
           |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
           |top AS (SELECT * FROM s ORDER BY skey, doc_id LIMIT 100)
           |SELECT doc_id, n_chars, skey FROM top ORDER BY doc_id""".stripMargin
      }),

    // --- Bloom filter over document content (2^16 bits, 5 hashes):
    //     the corpus-membership sketch as a model-sized bitmap frame ---
    QuerySpec("t_bloom_build", (s, dir) =>
      graft.operators.Sketches.bloomBuild(
          docs(s, dir), "text", mBits = 1 << 16, numHashes = 5)
        .orderBy("word_idx"),
      """WITH k AS (SELECT md5(text) AS h FROM documents),
        |hh AS (SELECT ('0x' || substring(h, 1, 15))::BIGINT % 65536 AS h1,
        |              ('0x' || substring(h, 16, 15))::BIGINT % 65536 AS h2r FROM k),
        |p AS (SELECT (h1 + i * (h2r + 1 - (h2r % 2))) % 65536 AS pos
        |      FROM hh, range(0, 5) t(i)),
        |w AS (SELECT pos // 32 AS word_idx, CAST(2 ** (pos % 32) AS BIGINT) AS mask FROM p)
        |SELECT word_idx, bit_or(mask) AS bits FROM w
        |GROUP BY word_idx ORDER BY word_idx""".stripMargin),

    // --- Gopher-style repetition quality gates ---
    QuerySpec("t_repetition", (s, dir) =>
      TextAnalysis.repetitionMetrics(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
         |       FROM base WHERE len(t) >= 3),
         |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
         |b AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS max_bi,
         |             CAST(sum(cnt) AS BIGINT) AS n_bi FROM c2 GROUP BY doc_id),
         |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
         |       FROM base WHERE len(t) >= 3),
         |c3 AS (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY doc_id, g),
         |tr AS (SELECT doc_id,
         |         CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_tri,
         |         CAST(sum(cnt) AS BIGINT) AS n_tri FROM c3 GROUP BY doc_id)
         |SELECT doc_id, max_bi, n_bi, dup_tri, n_tri,
         |  round(max_bi::DOUBLE / n_bi, 6) AS top_bigram_frac,
         |  round(dup_tri::DOUBLE / n_tri, 6) AS dup_trigram_frac,
         |  (round(max_bi::DOUBLE / n_bi, 6) <= 0.1 AND
         |   round(dup_tri::DOUBLE / n_tri, 6) <= 0.2) AS keep
         |FROM b JOIN tr USING (doc_id) ORDER BY doc_id""".stripMargin),

    // --- per-language vocabulary induction (tokenizer-training prep) ---
    QuerySpec("t_vocab_topk", (s, dir) =>
      TextAnalysis.vocabTopK(docs(s, dir), "lang", "text", topK = 20)
        .orderBy("lang", "rk"),
      s"""WITH tok AS (SELECT lang, unnest($toks) AS token FROM documents),
         |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
         |      FROM tok GROUP BY lang, token)
         |SELECT lang, token, cnt, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
         |  FROM c)
         |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin),

    // --- token-length histogram per language (corpus shape report) ---
    QuerySpec("t_length_hist", (s, dir) =>
      docs(s, dir)
        .select(col("lang"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
        .groupBy(col("lang"), (floor(col("n") / 32) * 32).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "bucket_lo"),
      s"""SELECT lang, (len($toks)::BIGINT // 32 * 32)::BIGINT AS bucket_lo,
         |  count(*) AS n_docs
         |FROM documents GROUP BY lang, (len($toks)::BIGINT // 32 * 32)
         |ORDER BY lang, bucket_lo""".stripMargin),

    // --- BPE first-merge pair statistics (tokenizer-training prep) ---
    QuerySpec("t_bpe_merge", (s, dir) =>
      TextAnalysis.bpeMergePairs(docs(s, dir), "lang", "text", topK = 10)
        .orderBy("lang", "rk"),
      s"""WITH tok AS (SELECT lang, unnest($toks) AS w FROM documents),
         |p AS (SELECT lang, substring(w, i, 2) AS pair
         |      FROM tok, unnest(range(1, length(w))) AS u(i)
         |      WHERE length(w) >= 2),
         |c AS (SELECT lang, pair, CAST(count(*) AS BIGINT) AS cnt
         |      FROM p GROUP BY lang, pair)
         |SELECT lang, pair, cnt, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rk
         |  FROM c)
         |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin),

    // --- iterative BPE trainer: first 5 merges over the corpus word-
    //     frequency table (greedy left-to-right merge application) ---
    QuerySpec("t_bpe_train", (s, dir) =>
      // driverDispatchMaxWords = 0 pins the distributed rounds: the
      // gate's purpose is to exercise the scale path on the small fixture
      TextAnalysis.bpeTrainDistributed(docs(s, dir), "text", rounds = 5,
          driverDispatchMaxWords = 0)
        .orderBy("rk"),
      bpeTrainSql),

    // --- BPE trainer with the frequency threshold real trainers apply
    //     before the word table is bounded: words seen < 3 times never
    //     contribute to a merge decision ---
    QuerySpec("t_bpe_train_minfreq", (s, dir) =>
      TextAnalysis.bpeTrainDistributed(docs(s, dir), "text", rounds = 5,
          minFreq = 3, driverDispatchMaxWords = 0)
        .orderBy("rk"),
      bpeTrainMinFreqSql),

    // --- BPE encoding under the trained merge table: per-doc word and
    //     BPE token counts, map-only application of the 5 merges ---
    QuerySpec("t_bpe_encode", (s, dir) => {
      val d = docs(s, dir)
      // train → PERSIST (ModelStore) → reload → encode: the tokenizer
      // ships as a stored merge table, not an in-plan artifact — the
      // serve path a 100 TB encode job actually runs
      graft.operators.ModelStore.saveBpeMerges(
        TextAnalysis.bpeTrainDistributed(d, "text", rounds = 5,
          driverDispatchMaxWords = 0),
        modelDir, "bpe_merges")
      val merges = graft.operators.ModelStore
        .loadBpeMerges(s, modelDir, "bpe_merges")
      TextAnalysis.bpeEncode(d, "doc_id", "text", merges)
        .orderBy("doc_id")
    },
      bpeEncodeSql),

    // --- per-language bigram collocations (between vocab unigrams and
    //     BPE char pairs) ---
    QuerySpec("t_ngram_topk", (s, dir) =>
      TextAnalysis.ngramTopK(docs(s, dir), "lang", "text", n = 2, topK = 10)
        .orderBy("lang", "rk"),
      s"""WITH g AS (
         |  SELECT lang, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
         |  FROM (SELECT lang, $toks AS t FROM documents) WHERE len(t) >= 2),
         |c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY lang, gram)
         |SELECT lang, gram, cnt, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram)::BIGINT AS rk
         |  FROM c)
         |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin),

    // --- IVF recall vs brute-force ground truth (the nprobe/k tuning
    //     measurement for the TRAINED quantizer path) ---
    QuerySpec("a_ann_ivf_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("qid", "nid")
      import s.implicits._
      // serve from the PERSISTED model (ModelStore round trip): the eval
      // certifies the exact model bytes a serving query would load
      val stored = storedCentroids(s, e, "ivf_recall")
      recallVsExact(bf, Similarity.ivfTopKWithCentroids(e, q,
        stored.toDF("cid", "cv"), "vec_id", "embedding", k = 5, nprobe = 2))
    },
      s"""WITH $qsCte,
         |${bfFixedCte(cosAB)},
         |c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
         |a1 AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
         |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
         |m1 AS (SELECT a1.cid, d.dim,
         |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
         |           / count(*) AS mv
         |       FROM a1 JOIN embeddings e USING (vec_id),
         |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
         |       GROUP BY a1.cid, d.dim),
         |c1 AS (SELECT c0.cid,
         |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
         |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
         |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
         |       GROUP BY c0.cid),
         |assign AS (SELECT nid, cid FROM (
         |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
         |        FROM embeddings e CROSS JOIN c1 c)) WHERE crk = 1),
         |probes AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT q.vec_id AS qid, c.cid, ${cosD("q.embedding", "c.cv")} AS ccos
         |        FROM embeddings q CROSS JOIN c1 c WHERE $qsPred)) WHERE crk <= 2),
         |sc AS (SELECT DISTINCT p.qid, a.nid, ${cosD("x.embedding", "y.embedding")} AS cos
         |       FROM probes p JOIN assign a ON p.cid = a.cid AND a.nid <> p.qid
         |       JOIN embeddings x ON x.vec_id = p.qid
         |       JOIN embeddings y ON y.vec_id = a.nid),
         |ivf AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM sc)
         |  WHERE rk <= 5),
         |hit AS (SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hit
         |        FROM bf JOIN ivf ON bf.qid = ivf.qid AND bf.nid = ivf.nid GROUP BY bf.qid),
         |ex AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY qid)
         |SELECT ex.qid, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit, n_exact,
         |  round(coalesce(n_hit, 0)::DOUBLE / n_exact, 6) AS recall
         |FROM ex LEFT JOIN hit USING (qid) ORDER BY ex.qid""".stripMargin),

    // --- IVF-SQ recall vs brute-force ground truth: what the 4x
    //     compression tier costs in recall, same harness as every other
    //     ANN path ---
    QuerySpec("a_ann_ivfsq_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("qid", "nid")
      import s.implicits._
      val cents = graft.operators.Vectors
        .kmeansTrain(e, "vec_id", "embedding", k = 4, iters = 2)
      val model = Similarity.sqTrain(e, "embedding", dims = 64)
      recallVsExact(bf, Similarity.ivfSqTopK(e, q, cents.toDF("cid", "cv"),
        "vec_id", "embedding", k = 5, nprobe = 2, model))
    },
      ivfSqRecallSql),

    // --- k-NN label classification over embeddings: majority label of
    //     the 5 exact nearest neighbors (vote count desc, label asc
    //     tiebreak), scored against the true label — the standard
    //     embedding-quality probe ---
    QuerySpec("a_knn_classify", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 25 === 0)
      val nn = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      val votes = nn.join(
          e.select(col("vec_id").as("nid"), col("label").as("n_label")), "nid")
        .groupBy(col("qid"), col("n_label"))
        .agg(count(lit(1)).as("n_votes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("n_votes").desc, col("n_label").asc)
      votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(e.select(col("vec_id").as("qid"), col("label").as("true_label")), "qid")
        .select(col("qid"), col("n_label").as("pred_label"), col("n_votes"),
          col("true_label"),
          (col("n_label") === col("true_label")).as("correct"))
        .orderBy("qid")
    },
      s"""WITH nn AS (
         |  SELECT qid, nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosAB DESC, b.vec_id) AS rk
         |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |    WHERE a.vec_id % 25 = 0)
         |  WHERE rk <= 5),
         |votes AS (SELECT qid, e.label AS n_label, CAST(count(*) AS BIGINT) AS n_votes
         |          FROM nn JOIN embeddings e ON e.vec_id = nn.nid
         |          GROUP BY qid, e.label),
         |top AS (SELECT qid, n_label, n_votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, n_label) AS rk
         |  FROM votes) WHERE rk = 1)
         |SELECT t.qid, t.n_label AS pred_label, t.n_votes, q.label AS true_label,
         |  t.n_label = q.label AS correct
         |FROM top t JOIN embeddings q ON q.vec_id = t.qid
         |ORDER BY t.qid""".stripMargin),

    // --- corpus-relative novelty (inverse boilerplate detector) ---
    QuerySpec("t_novelty", (s, dir) =>
      TextAnalysis.noveltyScore(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS novelty
         |FROM sh JOIN dfq USING (s) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- overlapping token-window chunking (context prep) ---
    QuerySpec("t_chunk", (s, dir) =>
      TextAnalysis.chunk(docs(s, dir), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |c AS (SELECT doc_id, t,
         |        unnest(range(0, (1 + ceil(greatest(len(t) - 32, 0) / 24.0))::INT)) AS chunk_idx
         |      FROM base WHERE len(t) > 0)
         |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
         |  array_to_string(t[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ') AS chunk_text,
         |  len(t[chunk_idx*24 + 1 : chunk_idx*24 + 32])::BIGINT AS n_chunk_tokens
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // --- CCNet-style common-segment removal (boilerplate lines shared
    //     across >= 2 docs dropped, docs rebuilt from the survivors) ---
    QuerySpec("d_segment_dedup", (s, dir) =>
      Dedup.commonSegmentRemoval(docs(s, dir), "doc_id", "text",
          segLen = 10, minDocs = 2)
        .orderBy("doc_id"),
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |seg AS (SELECT doc_id, i AS idx,
         |          array_to_string(t[i*10 + 1 : i*10 + 10], ' ') AS txt
         |        FROM base, unnest(range(0, ((len(t) + 9) // 10)::INT)) AS u(i)),
         |dup AS (SELECT md5(txt) AS h FROM seg
         |        GROUP BY md5(txt) HAVING count(DISTINCT doc_id) >= 2),
         |keep AS (SELECT doc_id, idx, txt FROM seg
         |         WHERE md5(txt) NOT IN (SELECT h FROM dup))
         |SELECT b.doc_id,
         |  ((len(b.t) + 9) // 10)::BIGINT AS n_segments,
         |  count(k.idx)::BIGINT AS n_kept,
         |  coalesce(string_agg(k.txt, ' ' ORDER BY k.idx), '') AS kept_text
         |FROM base b LEFT JOIN keep k USING (doc_id)
         |GROUP BY b.doc_id, len(b.t) ORDER BY doc_id""".stripMargin),

    // --- exact substring dedup (Lee et al. 2022): tokens covered by any
    //     corpus-wide repeated 8-gram removed, docs rebuilt ---
    QuerySpec("d_substring_dedup", (s, dir) =>
      Dedup.exactSubstringDedup(docs(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      substringDedupOracle),

    // --- same operator under the skew-safe physical shape (aggregate +
    //     semi-join instead of a window; AQE-splittable on hot grams).
    //     Same oracle: the shapes are semantically identical ---
    QuerySpec("d_substring_skewsafe", (s, dir) =>
      Dedup.exactSubstringDedup(docs(s, dir), "doc_id", "text", n = 8,
          skewSafe = true)
        .orderBy("doc_id"),
      // skewSafe is a physical-shape knob on the same operator: the
      // aggregate+semi-join form must hash-match the window form's oracle
      substringDedupOracle),

    // --- incremental ExactSubstr: odd-id docs ingest against the even-id
    //     corpus — only the batch is rebuilt; a batch token dies iff its
    //     covering 8-gram repeats across batch + corpus ---
    QuerySpec("d_substring_against", (s, dir) => {
      val d = docs(s, dir)
      Dedup.exactSubstringDedupAgainst(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
      // incremental variant: corpus grams contribute counts, only the
      // batch rebuilds; repeated iff batch count + corpus count > 1
      s"""WITH c AS (SELECT doc_id, $toks AS t FROM documents WHERE doc_id % 2 = 0),
         |b AS (SELECT doc_id, $toks AS t FROM documents WHERE doc_id % 2 = 1),
         |cg AS (SELECT md5(array_to_string(t[p : p + 7], ' ')) AS h
         |       FROM c, unnest(range(1, len(t) - 6)) AS u(p)),
         |bg AS (SELECT doc_id, p, md5(array_to_string(t[p : p + 7], ' ')) AS h
         |       FROM b, unnest(range(1, len(t) - 6)) AS u(p)),
         |cc AS (SELECT h, count(*) AS c FROM cg GROUP BY h),
         |bc AS (SELECT h, count(*) AS c FROM bg GROUP BY h),
         |dup AS (SELECT bc.h FROM bc LEFT JOIN cc USING (h)
         |        WHERE bc.c + coalesce(cc.c, 0) > 1),
         |tok AS (SELECT doc_id, i AS q, t[i] AS w
         |        FROM b, unnest(range(1, len(t) + 1)) AS u(i)),
         |cov AS (SELECT DISTINCT bg.doc_id, q
         |        FROM bg JOIN dup USING (h), unnest(range(bg.p, bg.p + 8)) AS u(q)),
         |kept AS (SELECT tok.doc_id, tok.q AS q, w FROM tok
         |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.q = cov.q
         |         WHERE cov.q IS NULL)
         |SELECT b.doc_id, len(b.t)::BIGINT AS n_tokens,
         |  (len(b.t) - count(k.q))::BIGINT AS n_removed,
         |  coalesce(string_agg(k.w, ' ' ORDER BY k.q), '') AS kept_text
         |FROM b LEFT JOIN kept k USING (doc_id)
         |GROUP BY b.doc_id, len(b.t) ORDER BY doc_id""".stripMargin),

    // --- substring-dedup drop policy (Lee et al. deployed variant):
    //     a doc >= 95% duplicate-covered dies whole instead of being
    //     stitched back together from the inter-span fragments ---
    QuerySpec("d_substring_drop", (s, dir) =>
      Dedup.exactSubstringDedupPolicy(docs(s, dir), "doc_id", "text",
          n = 8, dropPct = 95)
        .orderBy("doc_id"),
      // d_substring_dedup's CTEs + the integer-arithmetic drop decision
      // (nr*100 >= 95*nt, never on empty docs)
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |g AS (SELECT doc_id, p, md5(array_to_string(t[p : p + 7], ' ')) AS h
         |      FROM base, unnest(range(1, len(t) - 6)) AS u(p)),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
         |tok AS (SELECT doc_id, i AS q, t[i] AS w
         |        FROM base, unnest(range(1, len(t) + 1)) AS u(i)),
         |cov AS (SELECT DISTINCT g.doc_id, q
         |        FROM g JOIN dup USING (h), unnest(range(g.p, g.p + 8)) AS u(q)),
         |kept AS (SELECT tok.doc_id, tok.q AS q, w FROM tok
         |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.q = cov.q
         |         WHERE cov.q IS NULL),
         |r AS (SELECT b.doc_id, len(b.t)::BIGINT AS n_tokens,
         |        (len(b.t) - count(k.q))::BIGINT AS nr,
         |        coalesce(string_agg(k.w, ' ' ORDER BY k.q), '') AS kt
         |      FROM base b LEFT JOIN kept k USING (doc_id)
         |      GROUP BY b.doc_id, len(b.t))
         |SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens > 0 AND nr * 100 >= 95 * n_tokens
         |       THEN n_tokens ELSE nr END AS n_removed,
         |  (n_tokens > 0 AND nr * 100 >= 95 * n_tokens) AS dropped,
         |  CASE WHEN n_tokens > 0 AND nr * 100 >= 95 * n_tokens
         |       THEN '' ELSE kt END AS kept_text
         |FROM r ORDER BY doc_id""".stripMargin),

    // --- maximal repeated spans: covered-token intervals merged into
    //     contiguous spans — the inventory inspected before picking n
    //     or a drop threshold ---
    QuerySpec("d_substring_spans", (s, dir) =>
      Dedup.substringSpans(docs(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start"),
      // covered positions -> gaps-and-islands -> maximal spans
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |g AS (SELECT doc_id, p, md5(array_to_string(t[p : p + 7], ' ')) AS h
         |      FROM base, unnest(range(1, len(t) - 6)) AS u(p)),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
         |cov AS (SELECT DISTINCT g.doc_id, q
         |        FROM g JOIN dup USING (h), unnest(range(g.p, g.p + 8)) AS u(q)),
         |isl AS (SELECT doc_id, q,
         |          q - row_number() OVER (PARTITION BY doc_id ORDER BY q) AS grp
         |        FROM cov),
         |sp AS (SELECT doc_id, min(q)::INT AS span_start, max(q)::INT AS span_end,
         |         count(*)::BIGINT AS n_span_tokens
         |       FROM isl GROUP BY doc_id, grp)
         |SELECT sp.doc_id, span_start, span_end, n_span_tokens,
         |  array_to_string(b.t[span_start : span_end], ' ') AS span_text
         |FROM sp JOIN base b USING (doc_id) ORDER BY doc_id, span_start""".stripMargin),

    // --- SemDeDup: k-means-blocked semantic near-dup removal over the
    //     embedding column (trained quantizer; keep the lowest id) ---
    QuerySpec("d_semantic_dedup", (s, dir) =>
      Dedup.semanticDedup(emb(s, dir), "vec_id", "embedding",
          k = 4, iters = 2, tau = 0.45)
        .orderBy("vec_id"),
      {
        // kmeans CTEs = a_kmeans_assign's training (k=4, one mean update),
        // then within-cluster pairs; a vec is dropped iff a lower-id
        // cluster-mate has cosine >= 0.45.
        s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
           |a1 AS (SELECT vec_id, cid FROM (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
           |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
           |m1 AS (SELECT a1.cid, d.dim,
           |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
           |           / count(*) AS mv
           |       FROM a1 JOIN embeddings e USING (vec_id),
           |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
           |       GROUP BY a1.cid, d.dim),
           |c1 AS (SELECT c0.cid,
           |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
           |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
           |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
           |       GROUP BY c0.cid),
           |assign AS (SELECT vec_id, cid FROM (
           |  SELECT e.vec_id, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS crk
           |  FROM embeddings e CROSS JOIN c1 c) WHERE crk = 1),
           |dropped AS (SELECT DISTINCT b.vec_id
           |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  JOIN embeddings x ON x.vec_id = a.vec_id
           |  JOIN embeddings y ON y.vec_id = b.vec_id
           |  WHERE ${cosD("x.embedding", "y.embedding")} >= 0.45)
           |SELECT a.vec_id, a.cid AS cluster_id, d.vec_id IS NULL AS kept
           |FROM assign a LEFT JOIN dropped d USING (vec_id)
           |ORDER BY a.vec_id""".stripMargin
      }),

    // --- the default (scale-safe) SemDeDup path: k = autoK ∝ corpus
    //     size, so the within-cluster pair stage stays linear — the
    //     pinned k=4 gate above is kept only for model-value stability
    //     (fixed-k measured 16.7× for 10× data at the sf1 anchor) ---
    QuerySpec("d_semantic_dedup_auto", (s, dir) =>
      Dedup.semanticDedup(emb(s, dir), "vec_id", "embedding",
          iters = 2, tau = 0.45)
        .orderBy("vec_id"),
      s"""WITH $kmeansAutoCtes,
         |dropped AS (SELECT DISTINCT b.vec_id
         |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN embeddings x ON x.vec_id = a.vec_id
         |  JOIN embeddings y ON y.vec_id = b.vec_id
         |  WHERE ${cosD("x.embedding", "y.embedding")} >= 0.45)
         |SELECT a.vec_id, a.cid AS cluster_id, d.vec_id IS NULL AS kept
         |FROM assign a LEFT JOIN dropped d USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin),

    // --- winnowing-fingerprint overlap pairs (substring-level reuse
    //     detection — quotes/templates whole-doc MinHash misses) ---
    QuerySpec("d_fingerprint_overlap", (s, dir) =>
      TextAnalysis.fingerprintOverlap(docs(s, dir), "doc_id", "text",
          k = 3, window = 4, minShared = 2)
        .orderBy("d1", "d2"),
      s"""WITH sh AS (
         |  SELECT doc_id, i AS pos, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
         |  FROM (SELECT doc_id, $toks AS t FROM documents), unnest(range(1, len(t)-1)) AS u(i)
         |  WHERE len(t) >= 3),
         |win AS (SELECT doc_id, min(h) OVER (
         |  PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM sh),
         |fps AS (SELECT DISTINCT doc_id, fp FROM win)
         |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2
         |ORDER BY d1, d2""".stripMargin),

    // --- BM25 lexical retrieval (top-20 docs for a fixed term set) ---
    QuerySpec("a_bm25_topk", (s, dir) =>
      Similarity.bm25TopK(docs(s, dir), "doc_id", "text",
          terms = Seq("spark", "join", "window", "hash"), k = 20)
        .orderBy("rk"),
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |f AS (SELECT doc_id, len(t)::BIGINT AS dl,
         |        len(list_filter(t, x -> x = 'spark'))::BIGINT AS tf_0,
         |        len(list_filter(t, x -> x = 'join'))::BIGINT AS tf_1,
         |        len(list_filter(t, x -> x = 'window'))::BIGINT AS tf_2,
         |        len(list_filter(t, x -> x = 'hash'))::BIGINT AS tf_3
         |      FROM base),
         |s AS (SELECT count(*) AS n_docs,
         |        CAST(sum(CAST(dl AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avgdl,
         |        sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
         |        sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
         |        sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2,
         |        sum(CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END) AS df_3
         |      FROM f),
         |scored AS (SELECT doc_id, dl, round(
         |    ln((n_docs::DOUBLE - df_0 + 0.5) / (df_0 + 0.5) + 1.0) * (tf_0::DOUBLE * (1.2 + 1.0)) / (tf_0::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / avgdl))
         |  + ln((n_docs::DOUBLE - df_1 + 0.5) / (df_1 + 0.5) + 1.0) * (tf_1::DOUBLE * (1.2 + 1.0)) / (tf_1::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / avgdl))
         |  + ln((n_docs::DOUBLE - df_2 + 0.5) / (df_2 + 0.5) + 1.0) * (tf_2::DOUBLE * (1.2 + 1.0)) / (tf_2::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / avgdl))
         |  + ln((n_docs::DOUBLE - df_3 + 0.5) / (df_3 + 0.5) + 1.0) * (tf_3::DOUBLE * (1.2 + 1.0)) / (tf_3::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / avgdl)), 6) AS score
         |  FROM f CROSS JOIN s)
         |SELECT doc_id, dl, score, row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rk
         |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // --- LSH quality evaluation: banded-MinHash pairs scored against
    //     exact-Jaccard ground truth at the same threshold — the
    //     precision/recall measurement that justifies numHashes/bands
    //     before trusting the index on a corpus 1000x larger ---
    QuerySpec("d_lsh_eval", (s, dir) => {
      // index-quality evaluation runs on a DETERMINISTIC half-sample:
      // estimating precision/recall needs a representative slice, not
      // the full corpus (at 100 TB you never brute-force the ground
      // truth corpus-wide — you measure on a sample and extrapolate)
      val d = docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0)
      // both pair frames are consumed twice (their own count + the
      // intersection semi-join); they are pair-sized — tiny — so pin
      // them rather than re-running the banding/PPJoin stages per branch
      val lsh = Dedup.minhashLsh(d, "doc_id", "text").select("d1", "d2")
        .localCheckpoint()
      val exact = Dedup.ngramJaccard(d, "doc_id", "text", minJaccard = 0.5)
        .select("d1", "d2")
        .localCheckpoint()
      val nBoth = lsh.join(exact, Seq("d1", "d2"), "left_semi")
        .agg(count(lit(1)).as("n_both"))
      lsh.agg(count(lit(1)).as("n_lsh"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(nBoth)
        .select(col("n_lsh"), col("n_exact"), col("n_both"),
          when(col("n_lsh") > 0,
            round(col("n_both").cast("double") / col("n_lsh"), 6)).as("precision"),
          when(col("n_exact") > 0,
            round(col("n_both").cast("double") / col("n_exact"), 6)).as("recall"))
    },
      s"""WITH docs2 AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM docs2) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |lsh AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
         |        JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |        GROUP BY d1, d2
         |        HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |jsh AS (SELECT doc_id, len($sh3)::BIGINT AS n, unnest($sh3) AS s
         |        FROM (SELECT doc_id, $toks AS t FROM docs2) WHERE len(t) >= 3),
         |exact AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |          FROM jsh a JOIN jsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id
         |          HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.5),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lsh),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_both
         |       FROM lsh JOIN exact USING (d1, d2))
         |SELECT n_lsh, n_exact, n_both,
         |  CASE WHEN n_lsh > 0 THEN round(n_both::DOUBLE / n_lsh, 6) END AS precision,
         |  CASE WHEN n_exact > 0 THEN round(n_both::DOUBLE / n_exact, 6) END AS recall
         |FROM nl CROSS JOIN ne CROSS JOIN nb""".stripMargin),

    // --- Zipf slope per language: OLS fit of ln(cnt) ~ ln(rank) over
    //     the top-50 vocabulary (the corpus-health statistic — natural
    //     language sits near -1; templated/synthetic text drifts off) ---
    QuerySpec("t_zipf_slope", (s, dir) => {
      val v = TextAnalysis.vocabTopK(docs(s, dir), "lang", "text", topK = 50)
        .select(col("lang"),
          round(log(col("rk").cast("double")), 9).as("x"),
          round(log(col("cnt").cast("double")), 9).as("y"))
      val means = v.groupBy("lang").agg(
        (sum(col("x").cast("decimal(28,9)")).cast("double") / count(lit(1))).as("xbar"),
        (sum(col("y").cast("decimal(28,9)")).cast("double") / count(lit(1))).as("ybar"))
      v.join(means, "lang")
        .groupBy("lang")
        .agg(
          sum(round((col("x") - col("xbar")) * (col("y") - col("ybar")), 9)
            .cast("decimal(28,9)")).cast("double").as("sxy"),
          sum(round((col("x") - col("xbar")) * (col("x") - col("xbar")), 9)
            .cast("decimal(28,9)")).cast("double").as("sxx"))
        .select(col("lang"), round(col("sxy") / col("sxx"), 6).as("zipf_slope"))
        .orderBy("lang")
    },
      s"""WITH tok AS (SELECT lang, unnest($toks) AS token FROM documents),
         |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
         |      FROM tok GROUP BY lang, token),
         |v AS (SELECT lang, round(ln(rk::DOUBLE), 9) AS x, round(ln(cnt::DOUBLE), 9) AS y FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
         |  FROM c)
         |  WHERE rk <= 50),
         |means AS (SELECT lang,
         |    CAST(sum(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS xbar,
         |    CAST(sum(CAST(y AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS ybar
         |  FROM v GROUP BY lang)
         |SELECT lang, round(
         |  CAST(sum(CAST(round((x - xbar) * (y - ybar), 9) AS DECIMAL(28,9))) AS DOUBLE) /
         |  CAST(sum(CAST(round((x - xbar) * (x - xbar), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS zipf_slope
         |FROM v JOIN means USING (lang)
         |GROUP BY lang ORDER BY lang""".stripMargin),

    // --- LSH index health report (bucket occupancy / candidate volume
    //     per band — the bands/rows tuning metric) ---
    QuerySpec("d_lsh_index_stats", (s, dir) =>
      Dedup.lshBandStats(docs(s, dir), "doc_id", "text")
        .orderBy("band"),
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |bk AS (SELECT band, bh, CAST(count(*) AS BIGINT) AS c FROM band GROUP BY band, bh)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(max(c) AS BIGINT) AS max_bucket,
         |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs
         |FROM bk GROUP BY band ORDER BY band""".stripMargin),

    // --- unigram-LM surprise (perplexity proxy; corpus is its own LM) ---
    QuerySpec("t_surprise", (s, dir) =>
      TextAnalysis.unigramSurprise(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM freq)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(-ln(cnt::DOUBLE / n_total), 9) AS DECIMAL(28,9))) AS DOUBLE)
         |        / count(*), 6) AS mean_surprise
         |FROM tok JOIN freq USING (w) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- bigram-LM surprise (add-k conditional model — the scalable
    //     sketch of CCNet's KenLM perplexity filter) ---
    QuerySpec("t_bigram_surprise", (s, dir) =>
      TextAnalysis.bigramSurprise(docs(s, dir), "doc_id", "text", k = 0.5)
        .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |       FROM t, unnest(range(1, len(tk))) AS u(i) WHERE len(tk) >= 2),
         |tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY w),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(CAST(round(-ln((c2::DOUBLE + 0.5) / (c1::DOUBLE + 0.5 * v)), 9)
         |        AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS mean_surprise
         |FROM bg JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = bg.w1 CROSS JOIN vv
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- per-doc top TF-IDF terms (keyword extraction) ---
    QuerySpec("t_tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopK(docs(s, dir), "doc_id", "text", topK = 3)
        .orderBy("doc_id", "rk"),
      s"""WITH tfc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
         |       GROUP BY doc_id, token),
         |dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY token),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
         |s AS (SELECT doc_id, token, tf,
         |        round(tf * ln(n_docs::DOUBLE / df), 6) AS score
         |      FROM tfc JOIN dfc USING (token) CROSS JOIN nd)
         |SELECT doc_id, token, tf, score, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token)::BIGINT AS rk
         |  FROM s)
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    // --- CCNet-style cross-corpus perplexity: Laplace bigram LM trained
    //     on the even-id half, odd-id docs scored under it (unseen
    //     tokens/bigrams smoothed — the reference-LM quality filter) ---
    QuerySpec("t_perplexity", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.ngramLmPerplexity(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("doc_id")
    },
      s"""WITH tr AS (SELECT $toks AS t FROM documents WHERE doc_id % 2 = 0),
         |tg AS (SELECT doc_id, $toks AS t FROM documents WHERE doc_id % 2 = 1),
         |u AS (SELECT t[i] AS w, CAST(count(*) AS BIGINT) AS c1
         |      FROM tr, unnest(range(1, len(t) + 1)) AS x(i) GROUP BY t[i]),
         |b AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
         |      FROM tr, unnest(range(1, len(t))) AS x(i) GROUP BY t[i], t[i+1]),
         |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS v,
         |              (SELECT CAST(sum(c1) AS BIGINT) FROM u) AS n),
         |tok AS (SELECT doc_id, i, CASE WHEN i > 1 THEN t[i-1] END AS prev, t[i] AS w
         |        FROM tg, unnest(range(1, len(t) + 1)) AS x(i)),
         |ll AS (SELECT doc_id,
         |         CAST(round(CASE WHEN i = 1
         |           THEN ln((coalesce(uw.c1, 0) + 1)::DOUBLE) - ln((st.n + st.v + 1)::DOUBLE)
         |           ELSE ln((coalesce(b.c2, 0) + 1)::DOUBLE)
         |                - ln((coalesce(up.c1, 0) + st.v + 1)::DOUBLE) END, 9)
         |           AS DECIMAL(28,9)) AS l
         |       FROM tok CROSS JOIN st
         |       LEFT JOIN u uw ON uw.w = tok.w
         |       LEFT JOIN u up ON up.w = tok.prev
         |       LEFT JOIN b ON b.w1 = tok.prev AND b.w2 = tok.w),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m, sum(l) AS s2
         |        FROM ll GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(m, 0)::BIGINT AS n_tokens,
         |  round(exp(-(s2::DOUBLE) / m), 6) AS ppl
         |FROM tg t LEFT JOIN agg ON agg.doc_id = t.doc_id ORDER BY t.doc_id""".stripMargin),

    // --- learnability selection (the RHO-loss shape, Mindermann et al.
    //     2022, with reference LMs standing in for model losses): score
    //     each held-out doc by ppl under a SMALL base LM minus ppl
    //     under a LARGER reference LM trained on a superset. High score
    //     = the extra data explained the doc away = learnable headroom;
    //     near zero = already easy or irreducible noise. ---
    QuerySpec("t_learnability", (s, dir) => {
      val d = docs(s, dir)
      val targets = d.filter(col("doc_id") % 2 === 1)
      val base = TextAnalysis.ngramLmPerplexity(
          d.filter(col("doc_id") % 4 === 0), targets, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("ppl").as("ppl_base"))
      val ref = TextAnalysis.ngramLmPerplexity(
          d.filter(col("doc_id") % 2 === 0), targets, "doc_id", "text")
        .select(col("doc_id"), col("ppl").as("ppl_ref"))
      base.join(ref, "doc_id")
        .withColumn("learnability",
          round(col("ppl_base") - col("ppl_ref"), 6))
        .orderBy("doc_id")
    },
      // two prefixed copies of the t_perplexity chain (base = quarter
      // corpus, ref = half corpus) joined on the shared target tokens
      {
        def chain(p: String, trainWhere: String) =
          s"""${p}u AS (SELECT t[i] AS w, CAST(count(*) AS BIGINT) AS c1
             |      FROM (SELECT $toks AS t FROM documents WHERE $trainWhere) tr,
             |      unnest(range(1, len(t) + 1)) AS x(i) GROUP BY t[i]),
             |${p}b AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
             |      FROM (SELECT $toks AS t FROM documents WHERE $trainWhere) tr,
             |      unnest(range(1, len(t))) AS x(i) GROUP BY t[i], t[i+1]),
             |${p}st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ${p}u) AS v,
             |              (SELECT CAST(sum(c1) AS BIGINT) FROM ${p}u) AS n),
             |${p}ll AS (SELECT doc_id,
             |         CAST(round(CASE WHEN i = 1
             |           THEN ln((coalesce(uw.c1, 0) + 1)::DOUBLE) - ln((st.n + st.v + 1)::DOUBLE)
             |           ELSE ln((coalesce(b.c2, 0) + 1)::DOUBLE)
             |                - ln((coalesce(up.c1, 0) + st.v + 1)::DOUBLE) END, 9)
             |           AS DECIMAL(28,9)) AS l
             |       FROM tok CROSS JOIN ${p}st st
             |       LEFT JOIN ${p}u uw ON uw.w = tok.w
             |       LEFT JOIN ${p}u up ON up.w = tok.prev
             |       LEFT JOIN ${p}b b ON b.w1 = tok.prev AND b.w2 = tok.w),
             |${p}agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m, sum(l) AS s2
             |        FROM ${p}ll GROUP BY doc_id)"""
        s"""WITH tg AS (SELECT doc_id, $toks AS t FROM documents WHERE doc_id % 2 = 1),
           |tok AS (SELECT doc_id, i, CASE WHEN i > 1 THEN t[i-1] END AS prev, t[i] AS w
           |        FROM tg, unnest(range(1, len(t) + 1)) AS x(i)),
           |${chain("a_", "doc_id % 4 = 0")},
           |${chain("b_", "doc_id % 2 = 0")}
           |SELECT t.doc_id, coalesce(a.m, 0)::BIGINT AS n_tokens,
           |  round(exp(-(a.s2::DOUBLE) / a.m), 6) AS ppl_base,
           |  round(exp(-(b.s2::DOUBLE) / b.m), 6) AS ppl_ref,
           |  round(round(exp(-(a.s2::DOUBLE) / a.m), 6)
           |        - round(exp(-(b.s2::DOUBLE) / b.m), 6), 6) AS learnability
           |FROM tg t LEFT JOIN a_agg a ON a.doc_id = t.doc_id
           |LEFT JOIN b_agg b ON b.doc_id = t.doc_id ORDER BY t.doc_id""".stripMargin
      }),

    // --- CCNet head/middle/tail split over the perplexity scores
    //     (terciles; train on middle is the CCNet recipe) ---
    QuerySpec("t_perplexity_buckets", (s, dir) => {
      val d = docs(s, dir)
      val scored = TextAnalysis.ngramLmPerplexity(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      TextAnalysis.perplexityBuckets(scored)
        .select("doc_id", "ppl", "bucket")
        .orderBy("doc_id")
    },
      s"""WITH tr AS (SELECT $toks AS t FROM documents WHERE doc_id % 2 = 0),
         |tg AS (SELECT doc_id, $toks AS t FROM documents WHERE doc_id % 2 = 1),
         |u AS (SELECT t[i] AS w, CAST(count(*) AS BIGINT) AS c1
         |      FROM tr, unnest(range(1, len(t) + 1)) AS x(i) GROUP BY t[i]),
         |b AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
         |      FROM tr, unnest(range(1, len(t))) AS x(i) GROUP BY t[i], t[i+1]),
         |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS v,
         |              (SELECT CAST(sum(c1) AS BIGINT) FROM u) AS n),
         |tok AS (SELECT doc_id, i, CASE WHEN i > 1 THEN t[i-1] END AS prev, t[i] AS w
         |        FROM tg, unnest(range(1, len(t) + 1)) AS x(i)),
         |ll AS (SELECT doc_id,
         |         CAST(round(CASE WHEN i = 1
         |           THEN ln((coalesce(uw.c1, 0) + 1)::DOUBLE) - ln((st.n + st.v + 1)::DOUBLE)
         |           ELSE ln((coalesce(b.c2, 0) + 1)::DOUBLE)
         |                - ln((coalesce(up.c1, 0) + st.v + 1)::DOUBLE) END, 9)
         |           AS DECIMAL(28,9)) AS l
         |       FROM tok CROSS JOIN st
         |       LEFT JOIN u uw ON uw.w = tok.w
         |       LEFT JOIN u up ON up.w = tok.prev
         |       LEFT JOIN b ON b.w1 = tok.prev AND b.w2 = tok.w),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m, sum(l) AS s2
         |        FROM ll GROUP BY doc_id),
         |pp AS (SELECT t.doc_id, round(exp(-(s2::DOUBLE) / m), 6) AS ppl
         |       FROM tg t LEFT JOIN agg ON agg.doc_id = t.doc_id),
         |qs AS (SELECT quantile_cont(ppl, 1.0/3) AS b_lo,
         |              quantile_cont(ppl, 2.0/3) AS b_hi FROM pp)
         |SELECT doc_id, ppl,
         |  CASE WHEN ppl IS NULL THEN 'empty'
         |       WHEN ppl <= b_lo THEN 'head'
         |       WHEN ppl <= b_hi THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM pp CROSS JOIN qs ORDER BY doc_id""".stripMargin),

    // --- char-distribution Shannon entropy (gibberish / binary-noise
    //     quality signal; integer-ln algebraic form) ---
    QuerySpec("t_char_entropy", (s, dir) =>
      TextAnalysis.charEntropy(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH ch AS (SELECT doc_id, substring(lower(text), i, 1) AS ch
         |            FROM documents, unnest(range(1, len(lower(text)) + 1)) u(i)),
         |c AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
         |      FROM ch GROUP BY doc_id, ch),
         |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
         |        sum(CAST(round(cnt * ln(cnt::DOUBLE), 9) AS DECIMAL(28,9))) AS s2
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n, 0)::BIGINT AS n_chars,
         |  round(ln(n::DOUBLE) - (s2::DOUBLE) / n, 6) AS entropy
         |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // --- deterministic train/val/test split (content-hash thresholds:
    //     a doc's split survives corpus rebuilds) ---
    QuerySpec("t_hash_split", (s, dir) =>
      graft.operators.Sampling.hashSplit(
          docs(s, dir).select("doc_id", "lang"), "doc_id")
        .orderBy("doc_id"),
      {
        val u = "(SELECT sum((strpos('0123456789abcdef', substring(h, i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))::DOUBLE / 16777216.0"
        val cum = graft.operators.Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        s"""SELECT doc_id, lang,
           |  CASE WHEN $u < ${cum(0)} THEN 'train'
           |       WHEN $u < ${cum(1)} THEN 'val'
           |       ELSE 'test' END AS split
           |FROM (SELECT doc_id, lang, md5(doc_id::VARCHAR) AS h FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    // --- hash-rank-sample quantile sketch vs exact percentiles (the
    //     mergeable t-digest role, bit-reproducible) ---
    QuerySpec("t_quantile_sample", (s, dir) =>
      Sketches.quantileSample(
          TableCatalog.load(s, dir, "orders"),
          "o_orderpriority", "o_totalprice", "o_orderkey", k = 64)
        .orderBy("o_orderpriority"),
      {
        val u = "(SELECT sum((strpos('0123456789abcdef', substring(h, i, 1)) - 1) * (16 ** (6 - i))) " +
          "FROM range(1, 7) t(i))::DOUBLE / 16777216.0"
        s"""WITH h AS (SELECT o_orderpriority AS s, o_totalprice AS v, o_orderkey AS rid,
           |             $u AS u
           |           FROM (SELECT *, md5(o_orderkey::VARCHAR) AS h FROM orders)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY s ORDER BY u, rid) AS rn FROM h),
           |samp AS (SELECT s, round(quantile_cont(v, 0.5), 6) AS p50_est,
           |           round(quantile_cont(v, 0.9), 6) AS p90_est
           |         FROM r WHERE rn <= 64 GROUP BY s),
           |ex AS (SELECT s, CAST(count(*) AS BIGINT) AS n_rows,
           |         round(quantile_cont(v, 0.5), 6) AS p50_exact,
           |         round(quantile_cont(v, 0.9), 6) AS p90_exact
           |       FROM h GROUP BY s)
           |SELECT ex.s AS o_orderpriority, n_rows, p50_exact, p90_exact, p50_est, p90_est
           |FROM ex JOIN samp ON ex.s = samp.s ORDER BY o_orderpriority""".stripMargin
      }),

    // --- DDSketch quantiles: log-bucket histogram (γ = (1+α)/(1−α)),
    //     p50/p90/p99 each within α=1% RELATIVE error by construction —
    //     the bounded-error/bounded-state trade the hash-rank sample
    //     can't make (its error is a random variable, this one's is a
    //     guarantee); ~540 buckets per stratum at any corpus size ---
    QuerySpec("t_ddsketch", (s, dir) =>
      Sketches.ddSketchQuantiles(
          Sketches.ddSketchBuild(
            TableCatalog.load(s, dir, "events"), "event_type", "value"),
          "event_type", Seq(0.5, 0.9, 0.99))
        .orderBy("event_type"),
      // DDSketch bucket/walk replay: γ and ln γ are interpolated from
      // the SAME Scala doubles the Spark side uses (Double.toString is
      // round-trip exact, so DuckDB parses back the identical bits);
      // the q·(n−1) rank product is forced to DOUBLE so both engines
      // run the identical IEEE multiply (DuckDB would otherwise use
      // exact decimal and floor one off at the boundary)
      {
        import OracleSketches._
        s"""WITH b AS (SELECT event_type,
           |    ${ddBucketSql("value")} AS bucket
           |  FROM events WHERE value > 0),
           |a AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
           |c AS (SELECT event_type, bucket,
           |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
           |    sum(cnt) OVER (PARTITION BY event_type) AS n
           |  FROM a),
           |p AS (SELECT event_type, CAST(n AS BIGINT) AS n_rows,
           |    ${ddPickSql("0.5", "b50")},
           |    ${ddPickSql("0.9", "b90")},
           |    ${ddPickSql("0.99", "b99")}
           |  FROM c GROUP BY 1, 2)
           |SELECT event_type, n_rows,
           |  ${ddMidpointSql("b50", "p50_dd")},
           |  ${ddMidpointSql("b90", "p90_dd")},
           |  ${ddMidpointSql("b99", "p99_dd")}
           |FROM p ORDER BY event_type""".stripMargin
      }),

    // --- Count-Min heavy-hitter eval: CMS over the token stream, exact
    //     top-50 tokens probed against it (estimate >= exact always;
    //     the exact side is the eval oracle the sketch replaces at
    //     scale) ---
    QuerySpec("t_cms_heavy", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = graft.functions.SafeExplode.explodeSelect(
        docs(s, dir), Seq.empty,
        graft.functions.TextFunctions.tokens(col("text")), "token")
      val sketch = Sketches.cmsBuild(toks, "token", width = 4096, depth = 4)
      // exact top-50: distributed TakeOrdered, then rank the 50 survivors.
      // persist: the 50-row frame feeds BOTH the probe fan-out and the
      // estimate's join-back — without it each reference recomputes the
      // full exact-count subtree (token explode + groupBy), measured 2x
      // the query. Model-budget cache (50 rows), cleared by the harness.
      val top = toks.groupBy("token").agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("token")).limit(50)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("exact_count").desc, col("token"))).cast("long"))
        .persist()
      Sketches.cmsEstimate(top, "token", sketch, width = 4096, depth = 4)
        .orderBy("rk")
    },
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
         |hh AS (SELECT token,
         |         ('0x' || substring(md5(token), 1, 15))::BIGINT % 4096 AS h1,
         |         ('0x' || substring(md5(token), 16, 15))::BIGINT % 4096 AS h2r
         |       FROM tok),
         |cells AS (SELECT r.i AS row_idx,
         |            (h1 + r.i * (h2r + 1 - (h2r % 2))) % 4096 AS bucket,
         |            CAST(count(*) AS BIGINT) AS cnt
         |          FROM hh CROSS JOIN range(0, 4) r(i) GROUP BY 1, 2),
         |top AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_count,
         |          row_number() OVER (ORDER BY count(*) DESC, token)::BIGINT AS rk
         |        FROM tok GROUP BY token ORDER BY exact_count DESC, token LIMIT 50),
         |probe AS (SELECT t.token, t.exact_count, t.rk,
         |            r.i AS row_idx,
         |            (('0x' || substring(md5(t.token), 1, 15))::BIGINT % 4096
         |             + r.i * ((('0x' || substring(md5(t.token), 16, 15))::BIGINT % 4096)
         |                      + 1 - (('0x' || substring(md5(t.token), 16, 15))::BIGINT % 4096 % 2)))
         |            % 4096 AS bucket
         |          FROM top t CROSS JOIN range(0, 4) r(i))
         |SELECT p.token, p.exact_count, p.rk,
         |  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_count
         |FROM probe p LEFT JOIN cells c USING (row_idx, bucket)
         |GROUP BY p.token, p.exact_count, p.rk ORDER BY p.rk""".stripMargin),

    // --- PageRank centrality over the MinHash near-dup graph (hub
    //     documents = canonical/template sources) ---
    QuerySpec("g_pagerank", (s, dir) => {
      val pairs = Dedup.minhashLsh(docs(s, dir), "doc_id", "text")
      graft.operators.PageRank.ranks(pairs, "d1", "d2")
        .select(col("v").as("doc_id"), col("pagerank"))
        .orderBy("doc_id")
    },
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |est AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
         |        JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |        GROUP BY d1, d2
         |        HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |edges AS (SELECT d1 AS u, d2 AS v FROM est UNION SELECT d2, d1 FROM est),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT u AS rv, round(1.0::DOUBLE / n, 9) AS r FROM deg CROSS JOIN nn),
         |r1 AS (SELECT e.v AS rv,
         |         round((1.0::DOUBLE - 0.85::DOUBLE) / any_value(n)
         |           + 0.85::DOUBLE * CAST(sum(CAST(round(r.r / d.deg, 9) AS DECIMAL(28,9))) AS DOUBLE), 9) AS r
         |       FROM edges e JOIN deg d ON d.u = e.u JOIN r0 r ON r.rv = e.u CROSS JOIN nn
         |       GROUP BY e.v),
         |r2 AS (SELECT e.v AS rv,
         |         round((1.0::DOUBLE - 0.85::DOUBLE) / any_value(n)
         |           + 0.85::DOUBLE * CAST(sum(CAST(round(r.r / d.deg, 9) AS DECIMAL(28,9))) AS DOUBLE), 9) AS r
         |       FROM edges e JOIN deg d ON d.u = e.u JOIN r1 r ON r.rv = e.u CROSS JOIN nn
         |       GROUP BY e.v),
         |r3 AS (SELECT e.v AS rv,
         |         round((1.0::DOUBLE - 0.85::DOUBLE) / any_value(n)
         |           + 0.85::DOUBLE * CAST(sum(CAST(round(r.r / d.deg, 9) AS DECIMAL(28,9))) AS DOUBLE), 9) AS r
         |       FROM edges e JOIN deg d ON d.u = e.u JOIN r2 r ON r.rv = e.u CROSS JOIN nn
         |       GROUP BY e.v)
         |SELECT rv AS doc_id, r AS pagerank FROM r3 ORDER BY doc_id""".stripMargin),

    // --- triangle census of the near-dup graph: triangle count via the
    //     canonical a<b<c three-way equi-join (edges are already
    //     low<high oriented, so each triangle joins exactly once — the
    //     standard distributed formulation), wedge count from degrees,
    //     global clustering coefficient 3T/W. High coefficient =
    //     near-dup clusters are dense cliques (true duplicate groups);
    //     low = chains of borderline pairs (threshold artifacts). ---
    QuerySpec("g_triangles", (s, dir) => {
      // census algebra lives in GraphStats.triangleCensus (differentially
      // fuzzed on adversarial random graphs by GraphFuzz)
      val pairs = Dedup.minhashLsh(docs(s, dir), "doc_id", "text")
        .select("d1", "d2")
      graft.operators.GraphStats.triangleCensus(pairs)
    },
      // same minhash-band pair chain as g_pagerank; est is low<high
      // oriented so the a<b<c join counts each triangle once
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |est AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
         |        JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |        GROUP BY d1, d2
         |        HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM est e1 JOIN est e2 ON e2.d1 = e1.d2
         |       JOIN est e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
         |sym AS (SELECT d1 AS u FROM est UNION ALL SELECT d2 FROM est),
         |wed AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
         |        FROM (SELECT u, count(*) AS deg FROM sym GROUP BY u)),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM est)
         |SELECT n_edges, n_triangles, n_wedges,
         |  CASE WHEN n_wedges > 0
         |       THEN round(3.0::DOUBLE * n_triangles / n_wedges, 6) END AS clustering_coeff
         |FROM ne, tr, wed""".stripMargin)
  )

}
