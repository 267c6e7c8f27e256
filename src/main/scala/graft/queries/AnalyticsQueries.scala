package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.catalog.TableCatalog

/** Round-9 analytics tier: interval algebra, distribution tests, corpus
  * growth laws, and reshaping operators over the driver tables — the
  * statistics a 100 TB training-data curation run reports alongside the
  * dedup/sampling stages (distribution drift between sources, corpus
  * vocabulary saturation, coverage of event activity).
  *
  * Same determinism contract as [[PipelineQueries]]: integer/decimal
  * arithmetic end-to-end, logs rounded to 9 dp before decimal summation,
  * final ratios rounded to 6 dp — every entry hash-matches its DuckDB
  * oracle at any parallelism.
  */
object AnalyticsQueries {

  import OracleText.{cosAB, cosD, sh3, toks}

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.load(s, dir, name)
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  // exact cosine over x/y-aliased embeddings
  private val cosXY = cosD("x.embedding", "y.embedding")
  // the graft_hyperplane_bucket hash replayed in SQL (8 planes, 64 dims)
  private val bucketCte =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |proj AS (
      |  SELECT vec_id, p,
      |    sum(CASE WHEN (strpos('0123456789abcdef',
      |          substring(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) % 2 = 1
      |        THEN v[d+1] ELSE -v[d+1] END) AS dotp
      |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS p) CROSS JOIN (SELECT unnest(range(64)) AS d)
      |  GROUP BY vec_id, p),
      |bucket AS (SELECT vec_id, sum(CASE WHEN dotp > 0 THEN (2 ** p)::BIGINT ELSE 0 END)::BIGINT AS bk
      |           FROM proj GROUP BY vec_id)""".stripMargin
  // one power-iteration round in SQL: in-row dot against the previous
  // iterate (list_dot_product = the same sequential fold as Vectors.dot),
  // 12-dp/decimal per-dim accumulation, norm via the same fold, 9-dp
  // renormalized iterate (expects CTE `e(v)` with DOUBLE[] vectors)
  private def pcaIter(prev: String, out: String) =
    s"""d$out AS (SELECT round(list_dot_product(v,
       |      (SELECT list(val ORDER BY d) FROM $prev)), 9) AS dp, v FROM e),
       |s$out AS (SELECT d, CAST(sum(CAST(round(dp * v[d+1], 12)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sv
       |    FROM d$out CROSS JOIN (SELECT unnest(range(64)) AS d) GROUP BY d),
       |n$out AS (SELECT sqrt(list_dot_product(l, l)) AS nrm
       |    FROM (SELECT list(sv ORDER BY d) AS l FROM s$out)),
       |$out AS (SELECT d, round(sv / nrm, 9) AS val FROM s$out CROSS JOIN n$out)""".stripMargin

  private val bfCte =
    s"""bf AS (
       |  SELECT qid, nid, rk FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nid,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosAB DESC, b.vec_id) AS rk
       |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
       |    WHERE a.vec_id IN (SELECT vec_id FROM qs))
       |  WHERE rk <= 5)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // --- Interval union (merge-overlaps) per user: events become
    //     activity intervals [ts, ts + 60·value seconds]; the classic
    //     sweep — running max of interval ends spots island boundaries
    //     (start beyond every previous end), islands aggregate to
    //     (count, exact covered micros). The window is PARTITIONED BY
    //     user, so the sweep distributes; per-key work is bounded by
    //     that user's event count (contrast the day-partitioned global
    //     sweep in CoreQueries.peakConcurrency). All arithmetic is
    //     int64 epoch-micros — no float anywhere. ---
    QuerySpec("q_interval_union", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val iv = t(s, dir, "events").select(
        col("user_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          floor(col("value") * 60).cast("long") * 1000000L).as("e"))
      val wPrev = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("pmax", max(col("e")).over(wPrev))
        .withColumn("ns",
          when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
        .withColumn("island", sum(col("ns")).over(wRun))
        .groupBy("user_id", "island")
        .agg(min(col("s")).as("is0"), max(col("e")).as("ie1"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ie1") - col("is0")).as("covered_us"))
        .orderBy("user_id")
    },
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(floor(value * 60) AS BIGINT) * 1000000 AS e
        |  FROM events),
        |m AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv),
        |g AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS ns FROM m),
        |i AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM g),
        |isl AS (SELECT user_id, island, min(s) AS is0, max(e) AS ie1
        |        FROM i GROUP BY user_id, island)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(ie1 - is0) AS BIGINT) AS covered_us
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin),

    // --- Unpivot (wide→long melt): per-returnflag measure columns back
    //     to (measure, value) rows — Spark's native `unpivot` (the
    //     inverse of q_pivot). Map-side reshape: no shuffle beyond the
    //     feeding aggregate. ---
    QuerySpec("q_unpivot", (s, dir) => {
      val wide = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        sum(col("l_discount").cast("decimal(18,6)")).cast("double").as("sum_disc"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
        .orderBy("l_returnflag", "measure")
    },
      """WITH w AS (SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
        |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
        |UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w
        |ORDER BY l_returnflag, measure""".stripMargin),

    // --- Two-sample Kolmogorov–Smirnov statistic between the length
    //     distributions of two sources (the distribution-drift test the
    //     rank-sum entry complements: KS is sensitive to shape, not
    //     just location). D = max |F1−F2| computed EXACTLY: per-length
    //     counts, cumulative integer sums, and the sup taken over the
    //     integer cross-difference c1·n2 − c2·n1 — one float division
    //     at the very end. The global window runs over DISTINCT
    //     lengths (a pre-aggregated, bounded domain), not rows. ---
    QuerySpec("t_ks_test", (s, dir) => {
      // extracted operator (r16): the fuzzer and this gate drive ONE body
      val d = docs(s, dir).filter(col("source").isin("src0", "src1"))
      graft.operators.StatTests.ksStatistic(d, "source", "n_chars",
        "src0", "src1")
    },
      """WITH d AS (SELECT source, n_chars FROM documents
        |           WHERE source IN ('src0', 'src1')),
        |bl AS (SELECT n_chars,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c2
        |  FROM d GROUP BY n_chars),
        |cum AS (SELECT
        |    sum(c1) OVER w AS f1, sum(c2) OVER w AS f2 FROM bl
        |  WINDOW w AS (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM d)
        |SELECT n1, n2,
        |  round(CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE) / (n1 * n2), 6) AS ks_d
        |FROM cum CROSS JOIN tot GROUP BY n1, n2""".stripMargin),

    // --- Simpson diversity of the language mix per source: unbiased
    //     λ = Σ nᵢ(nᵢ−1) / N(N−1) plus its inverse (effective number
    //     of languages) — the "is this source monolingual?" audit
    //     statistic. Exact integer numerator/denominator, one rounded
    //     division each. ---
    QuerySpec("t_simpson_diversity", (s, dir) =>
      docs(s, dir)
        .groupBy("source", "lang").agg(count(lit(1)).as("ni"))
        .groupBy("source").agg(
          count(lit(1)).as("n_langs"),
          sum(col("ni") * (col("ni") - 1)).as("num"),
          sum(col("ni")).as("n"))
        .select(col("source"), col("n_langs"),
          when(col("n") > 1,
            round(col("num").cast("double") / (col("n") * (col("n") - 1)), 6))
            .as("simpson"),
          when(col("num") > 0,
            round((col("n") * (col("n") - 1)).cast("double") / col("num"), 6))
            .as("effective_langs"))
        .orderBy("source"),
      """WITH cl AS (SELECT source, lang, count(*) AS ni
        |            FROM documents GROUP BY source, lang),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
        |    CAST(sum(ni * (ni - 1)) AS BIGINT) AS num,
        |    CAST(sum(ni) AS BIGINT) AS n
        |  FROM cl GROUP BY source)
        |SELECT source, n_langs,
        |  CASE WHEN n > 1 THEN round(num::DOUBLE / (n * (n - 1)), 6) END AS simpson,
        |  CASE WHEN num > 0 THEN round((n * (n - 1))::DOUBLE / num, 6) END AS effective_langs
        |FROM a ORDER BY source""".stripMargin),

    // --- Heaps'-law fit per source: vocabulary growth V(N) ≈ K·N^β
    //     over doc_id-ordered prefixes — β near 0.5 is natural text;
    //     β collapsing toward 0 flags a templated/repetitive source
    //     whose vocabulary saturates. New-type counts come from a
    //     first-occurrence aggregate (min doc_id per type), prefix
    //     sums from a per-source window over ONE ROW PER DOC (never
    //     per token), and β is the same rounded-log decimal OLS as
    //     t_zipf_slope. ---
    QuerySpec("t_heaps_law", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions._
      val tok = graft.functions.SafeExplode.explodeSelect(
        docs(s, dir).select(col("doc_id"), col("source"),
          tokens(col("text")).as("toks")),
        Seq(col("doc_id"), col("source")), col("toks"), "token")
      val perDoc = tok.groupBy("source", "doc_id").agg(count(lit(1)).as("n_tok"))
      val newTypes = tok.groupBy("source", "token").agg(min("doc_id").as("doc_id"))
        .groupBy("source", "doc_id").agg(count(lit(1)).as("n_new"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pref = perDoc.join(newTypes, Seq("source", "doc_id"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .select(col("source"),
          sum(col("n_tok")).over(w).as("cn"), sum(col("n_new")).over(w).as("cv"))
        .filter(col("cn") >= 1 && col("cv") >= 1)
        .select(col("source"),
          round(log(col("cn").cast("double")), 9).as("x"),
          round(log(col("cv").cast("double")), 9).as("y"))
      val means = pref.groupBy("source").agg(
        (sum(col("x").cast("decimal(28,9)")).cast("double") / count(lit(1))).as("xbar"),
        (sum(col("y").cast("decimal(28,9)")).cast("double") / count(lit(1))).as("ybar"))
      pref.join(means, "source").groupBy("source").agg(
          sum(round((col("x") - col("xbar")) * (col("y") - col("ybar")), 9)
            .cast("decimal(28,9)")).cast("double").as("sxy"),
          sum(round((col("x") - col("xbar")) * (col("x") - col("xbar")), 9)
            .cast("decimal(28,9)")).cast("double").as("sxx"))
        .select(col("source"), round(col("sxy") / col("sxx"), 6).as("heaps_beta"))
        .orderBy("source")
    },
      s"""WITH tok AS (SELECT doc_id, source, unnest($toks) AS token FROM documents),
         |pd AS (SELECT source, doc_id, count(*) AS n_tok FROM tok GROUP BY source, doc_id),
         |fo AS (SELECT source, token, min(doc_id) AS doc_id FROM tok GROUP BY source, token),
         |nt AS (SELECT source, doc_id, count(*) AS n_new FROM fo GROUP BY source, doc_id),
         |pref AS (SELECT source,
         |    sum(n_tok) OVER w AS cn, sum(coalesce(n_new, 0)) OVER w AS cv
         |  FROM pd LEFT JOIN nt USING (source, doc_id)
         |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |v AS (SELECT source, round(ln(cn::DOUBLE), 9) AS x, round(ln(cv::DOUBLE), 9) AS y
         |      FROM pref WHERE cn >= 1 AND cv >= 1),
         |means AS (SELECT source,
         |    CAST(sum(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS xbar,
         |    CAST(sum(CAST(y AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS ybar
         |  FROM v GROUP BY source)
         |SELECT source, round(
         |  CAST(sum(CAST(round((x - xbar) * (y - ybar), 9) AS DECIMAL(28,9))) AS DOUBLE) /
         |  CAST(sum(CAST(round((x - xbar) * (x - xbar), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS heaps_beta
         |FROM v JOIN means USING (source) GROUP BY source ORDER BY source""".stripMargin),

    // --- nDCG@5 of the LSH index against the brute-force ranking —
    //     the graded-relevance retrieval metric (recall treats all
    //     true neighbors equally; nDCG weights getting the TOP ones).
    //     rel = 6 − true_rank; discounts use ln(pos+1) on BOTH engines
    //     (the log base cancels in DCG/IDCG), each term rounded to 9 dp
    //     before decimal summation per the determinism contract. ---
    QuerySpec("a_ann_ndcg", (s, dir) => {
      import graft.operators.Similarity
      val e = t(s, dir, "embeddings")
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), col("rk").as("trk"))
      val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5, planes = 8)
        .select(col("qid"), col("nid"), col("rk").as("pos"))
      val dcg = lsh.join(bf, Seq("qid", "nid"), "left")
        .withColumn("rel", coalesce(lit(6L) - col("trk"), lit(0L)))
        .groupBy("qid").agg(
          sum(round(col("rel").cast("double") / log(col("pos") + 1), 9)
            .cast("decimal(28,9)")).cast("double").as("dcg"))
      val idcg = bf.groupBy("qid").agg(
          sum(round((lit(6L) - col("trk")).cast("double") / log(col("trk") + 1), 9)
            .cast("decimal(28,9)")).cast("double").as("idcg"))
      idcg.join(dcg, Seq("qid"), "left")
        .select(col("qid"),
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
        .orderBy("qid")
    },
      s"""WITH ${OracleSamples.qsCte},
         |$bfCte,
         |$bucketCte,
         |lsh AS (
         |  SELECT qid, nid, rk FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM (SELECT q.vec_id AS qid, c.vec_id AS nid, $cosXY AS cos
         |          FROM bucket q JOIN bucket c ON q.bk = c.bk AND q.vec_id <> c.vec_id
         |          JOIN embeddings x ON x.vec_id = q.vec_id
         |          JOIN embeddings y ON y.vec_id = c.vec_id
         |          WHERE q.vec_id IN (SELECT vec_id FROM qs)))
         |  WHERE rk <= 5),
         |dcg AS (SELECT l.qid,
         |    sum(CAST(round(coalesce(6 - b.rk, 0)::DOUBLE / ln((l.rk + 1)::DOUBLE), 9)
         |        AS DECIMAL(28,9))) AS dcg
         |  FROM lsh l LEFT JOIN bf b ON b.qid = l.qid AND b.nid = l.nid GROUP BY l.qid),
         |idcg AS (SELECT qid,
         |    sum(CAST(round((6 - rk)::DOUBLE / ln((rk + 1)::DOUBLE), 9)
         |        AS DECIMAL(28,9))) AS idcg
         |  FROM bf GROUP BY qid)
         |SELECT i.qid, round(coalesce(d.dcg, 0)::DOUBLE / i.idcg::DOUBLE, 6) AS ndcg
         |FROM idcg i LEFT JOIN dcg d USING (qid) ORDER BY qid""".stripMargin),

    // --- multi-probe LSH recall vs brute force: the same index as
    //     a_ann_recall probed at Hamming distance ≤ 1 — measures the
    //     recall the extra probe volume buys (Lv et al. 2007). ---
    QuerySpec("a_ann_multiprobe", (s, dir) => {
      import graft.operators.Similarity
      val e = t(s, dir, "embeddings")
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("qid", "nid")
      val mp = Similarity.multiprobeLshTopK(e, q, "vec_id", "embedding",
          k = 5, planes = 8)
        .select(col("qid").as("mqid"), col("nid").as("mnid"))
      val hit = bf.join(mp,
        col("qid") === col("mqid") && col("nid") === col("mnid"), "left_semi")
      bf.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(hit.groupBy("qid").agg(count(lit(1)).as("n_hit")), Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_exact"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"), 6)
            .as("recall"))
        .orderBy("qid")
    },
      s"""WITH ${OracleSamples.qsCte},
         |$bfCte,
         |$bucketCte,
         |qp AS (SELECT vec_id AS qid, unnest(list_distinct([bk,
         |    xor(bk, 1::BIGINT), xor(bk, 2::BIGINT), xor(bk, 4::BIGINT),
         |    xor(bk, 8::BIGINT), xor(bk, 16::BIGINT), xor(bk, 32::BIGINT),
         |    xor(bk, 64::BIGINT), xor(bk, 128::BIGINT)])) AS pbk
         |  FROM bucket WHERE vec_id IN (SELECT vec_id FROM qs)),
         |mp AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM (SELECT q.qid, c.vec_id AS nid, $cosXY AS cos
         |          FROM qp q JOIN bucket c ON q.pbk = c.bk AND q.qid <> c.vec_id
         |          JOIN embeddings x ON x.vec_id = q.qid
         |          JOIN embeddings y ON y.vec_id = c.vec_id))
         |  WHERE rk <= 5)
         |SELECT qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit, n.n_exact,
         |  round(coalesce(h.n_hit, 0)::DOUBLE / n.n_exact, 6) AS recall
         |FROM (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY qid) n
         |LEFT JOIN (SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hit
         |           FROM bf JOIN mp ON bf.qid = mp.qid AND bf.nid = mp.nid
         |           GROUP BY bf.qid) h USING (qid)
         |ORDER BY qid""".stripMargin),

    // --- KMV sketch SET OPERATIONS between two sources: ONE k-minimum-
    //     values sketch of the token-set union answers |A∪B|, Jaccard,
    //     and |A∩B| together (Beyer et al. 2007) — the cross-corpus
    //     overlap audit that at 100 TB runs on mergeable k-row sketches
    //     instead of a token-level join. u = first 24 md5 bits (exact
    //     m/2²⁴ fraction — engine-portable); the global top-64 rank is
    //     WindowGroupLimit-pruned, so each partition forwards at most
    //     64 rows to the final sort. ---
    QuerySpec("t_kmv_setops", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions._
      val d = docs(s, dir).filter(col("source").isin("src0", "src1"))
      val tok = graft.functions.SafeExplode.explodeSelect(
        d.select(col("source"), tokens(col("text")).as("toks")),
        Seq(col("source")), col("toks"), "token")
      val dv = tok.groupBy("token").agg(
        max(when(col("source") === "src0", 1).otherwise(0)).as("in1"),
        max(when(col("source") === "src1", 1).otherwise(0)).as("in2"))
      val withU = dv.withColumn("u",
        conv(substring(md5(col("token")), 1, 6), 16, 10).cast("long"))
      val w = Window.orderBy(col("u").asc, col("token").asc)
      val sk = withU.withColumn("rn", row_number().over(w)).filter(col("rn") <= 64)
      val skAgg = sk.agg(
        count(lit(1)).as("n_sk"),
        max(when(col("rn") === 64, col("u"))).as("uk"),
        sum(when(col("in1") === 1 && col("in2") === 1, 1L).otherwise(0L)).as("n_both"))
      val est = lit(63.0) * 16777216.0 / col("uk")
      skAgg.crossJoin(dv.agg(count(lit(1)).as("n_union_exact")))
        .select(col("n_union_exact"),
          round(coalesce(est, col("n_union_exact").cast("double")), 4).as("kmv_union"),
          round(col("n_both").cast("double") / col("n_sk"), 6).as("kmv_jaccard"),
          round(coalesce(est, col("n_union_exact").cast("double"))
            * col("n_both") / col("n_sk"), 4).as("kmv_intersection"))
    },
      s"""WITH d AS (SELECT source, text FROM documents WHERE source IN ('src0', 'src1')),
         |tok AS (SELECT source, unnest($toks) AS token FROM d),
         |dv AS (SELECT token,
         |    max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS in1,
         |    max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS in2
         |  FROM tok GROUP BY token),
         |wu AS (SELECT token, in1, in2,
         |    ('0x' || substring(md5(token), 1, 6))::BIGINT AS u FROM dv),
         |sk AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (ORDER BY u, token) AS rn FROM wu)
         |  WHERE rn <= 64),
         |ska AS (SELECT CAST(count(*) AS BIGINT) AS n_sk,
         |    max(CASE WHEN rn = 64 THEN u END) AS uk,
         |    CAST(sum(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |  FROM sk),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_union_exact FROM dv)
         |SELECT n_union_exact,
         |  round(coalesce(63.0 * 16777216.0 / uk, n_union_exact::DOUBLE), 4) AS kmv_union,
         |  round(n_both::DOUBLE / n_sk, 6) AS kmv_jaccard,
         |  round(coalesce(63.0 * 16777216.0 / uk, n_union_exact::DOUBLE)
         |    * n_both / n_sk, 4) AS kmv_intersection
         |FROM ska CROSS JOIN tot""".stripMargin),

    // --- b-bit minhash resemblance over the LSH candidate pairs ---
    QuerySpec("d_bbit_minhash", (s, dir) =>
      graft.operators.Dedup.bbitMinhash(docs(s, dir), "doc_id", "text")
        .orderBy("d1", "d2"),
      {
        val bitEq = "(strpos('13579bdf', substring(x.mh, 1, 1)) > 0) = " +
          "(strpos('13579bdf', substring(y.mh, 1, 1)) > 0)"
        s"""WITH sh AS (
           |  SELECT doc_id, unnest($sh3) AS s
           |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
           |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
           |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
           |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
           |         FROM sig GROUP BY doc_id, h // 4),
           |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
           |SELECT d1, d2,
           |  CAST(count(*) FILTER (x.mh = y.mh) AS BIGINT) AS n_sig_match,
           |  CAST(count(*) FILTER ($bitEq) AS BIGINT) AS n_bit_match,
           |  round(count(*) FILTER (x.mh = y.mh)::DOUBLE / 16, 6) AS est_jaccard,
           |  round(2.0 * count(*) FILTER ($bitEq) / 16 - 1.0, 6) AS j_bbit
           |FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
           |GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin
      }),

    // --- SCD2 point-in-time (as-of) enrichment from a single change
    //     stream: signup events are the dimension's version history,
    //     purchases the facts; each purchase picks up the profile
    //     version in force at its timestamp. Runs as ONE union-sort
    //     pass (AsofJoin), not a range join. ---
    QuerySpec("q_scd2_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val versions = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin.asofJoin(purchases, versions, Seq("user_id"),
          "ts", "ts", Seq("ts", "value"))
        .orderBy("event_id")
    },
      """WITH sv AS (SELECT user_id, ts AS asof_ts, value AS asof_value,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vto
        |  FROM events WHERE event_type = 'signup'),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, sv.asof_ts, sv.asof_value
        |FROM p LEFT JOIN sv ON sv.user_id = p.user_id AND sv.asof_ts <= p.ts
        |  AND (sv.vto IS NULL OR p.ts < sv.vto)
        |ORDER BY event_id""".stripMargin),

    // --- FORWARD as-of join: each purchase picks up the next click at
    //     or after it (time-to-next-action enrichment) — the mirrored
    //     union-sort pass of AsofJoin, no range explosion ---
    QuerySpec("q_asof_forward", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsofJoin.asofJoinForward(purchases, clicks,
          Seq("user_id"), "ts", "ts", Seq("ts", "click_id"))
        .orderBy("event_id")
    },
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id, p.user_id, p.ts,
        |        c.ts AS next_ts, c.click_id AS next_click_id,
        |        row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts, c.click_id) AS rk
        |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts)
        |SELECT event_id, user_id, ts, next_ts, next_click_id
        |FROM j WHERE rk = 1 ORDER BY event_id""".stripMargin),

    // --- CDC keep-latest compaction (batch twin of the
    //     mapGroupsWithState streaming path; parity spec-asserted) ---
    QuerySpec("st_cdc_latest", (s, dir) =>
      graft.streaming.EventStream.latestPerKeyBatch(t(s, dir, "events"))
        .orderBy("user_id", "event_type"),
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    // --- interpolated Kneser–Ney bigram perplexity (train = even ids,
    //     score = odd ids) — the KenLM-default smoothing beside the
    //     Laplace model of t_perplexity, so the two filters are
    //     comparable on the same split ---
    QuerySpec("t_kneser_ney", (s, dir) => {
      val d = docs(s, dir)
      graft.operators.TextAnalysis.kneserNeyPerplexity(
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
         |ctx AS (SELECT w1 AS prev, CAST(sum(c2) AS BIGINT) AS cp,
         |               CAST(count(*) AS BIGINT) AS n1v FROM b GROUP BY w1),
         |cont AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS n1w FROM b GROUP BY w2),
         |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS nbb,
         |              (SELECT CAST(count(*) AS BIGINT) FROM u) AS v),
         |tok AS (SELECT doc_id, i, CASE WHEN i > 1 THEN t[i-1] END AS prev, t[i] AS w
         |        FROM tg, unnest(range(1, len(t) + 1)) AS x(i)),
         |ll AS (SELECT doc_id,
         |    CAST(round(ln(CASE WHEN i = 1 OR ctx.cp IS NULL
         |      THEN (coalesce(cont.n1w, 0) + 1)::DOUBLE / (st.nbb + st.v + 1)
         |      ELSE greatest(coalesce(b.c2, 0) - 0.75, 0) / ctx.cp
         |           + 0.75 * ctx.n1v / ctx.cp
         |             * ((coalesce(cont.n1w, 0) + 1)::DOUBLE / (st.nbb + st.v + 1))
         |      END), 9) AS DECIMAL(28,9)) AS l
         |  FROM tok CROSS JOIN st
         |  LEFT JOIN cont ON cont.w = tok.w
         |  LEFT JOIN ctx ON ctx.prev = tok.prev
         |  LEFT JOIN b ON b.w1 = tok.prev AND b.w2 = tok.w),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m, sum(l) AS s2
         |        FROM ll GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(m, 0)::BIGINT AS n_tokens,
         |  round(exp(-(s2::DOUBLE) / m), 6) AS ppl_kn
         |FROM tg t LEFT JOIN agg ON agg.doc_id = t.doc_id ORDER BY t.doc_id""".stripMargin),

    // --- dominant embedding axis by distributed power iteration (two
    //     one-pass corpus rounds; see Vectors.powerIterationPC) — the
    //     anisotropy diagnostic before whitening an embedding store ---
    QuerySpec("a_pca_power", (s, dir) => {
      val spark = s
      import spark.implicits._
      val v = graft.operators.Vectors.powerIterationPC(
        t(s, dir, "embeddings"), "embedding", dims = 64, iters = 2)
      v.zipWithIndex.map { case (x, d) => (d.toLong, x) }
        .toDF("dim", "loading")
        .select(col("dim"), round(col("loading"), 6).as("loading"))
        .orderBy("dim")
    },
      s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
         |v0 AS (SELECT unnest(range(64)) AS d, 0.125 AS val),
         |${pcaIter("v0", "v1")},
         |${pcaIter("v1", "v2")}
         |SELECT d::BIGINT AS dim, round(val, 6) AS loading FROM v2 ORDER BY d""".stripMargin),

    // --- bitmap-index distinct counting: per event type, users are
    //     OR-ed into 32-bit bitmap words keyed by user_id div 32, and
    //     the distinct count is Σ popcount(word) — the roaring-bitmap
    //     shape for dense integer domains. At 100 TB this replaces a
    //     shuffle of every (type, user) pair with a shuffle of at most
    //     |domain|/32 words per type (map-side bit_or combine), and the
    //     words themselves union across segments/epochs for free. The
    //     exact count rides along to certify the bitmap. ---
    QuerySpec("q_bitmap_distinct", (s, dir) => {
      val e = t(s, dir, "events")
      val bm = e.groupBy(col("event_type"), expr("user_id div 32").as("w"))
        .agg(expr("bit_or(shiftleft(1L, cast(user_id % 32 as int)))").as("m"))
        .groupBy("event_type")
        .agg(sum(expr("bit_count(m)")).cast("long").as("n_users"))
      val ex = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      bm.join(ex, "event_type").orderBy("event_type")
    },
      """WITH b AS (SELECT event_type, user_id // 32 AS w,
        |    bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS m
        |  FROM events GROUP BY event_type, user_id // 32),
        |bm AS (SELECT event_type, CAST(sum(bit_count(m)) AS BIGINT) AS n_users
        |       FROM b GROUP BY event_type),
        |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |       FROM events GROUP BY event_type)
        |SELECT event_type, n_users, n_exact FROM bm JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin),

    // --- train/test bigram coverage per language (even/odd doc split):
    //     the generalization-gap screen — what fraction of held-out
    //     bigram types the training half has seen. Distinct-set
    //     semi-join on the bigram key; exact integer ratio. ---
    QuerySpec("t_bigram_coverage", (s, dir) => {
      import graft.functions.TextFunctions._
      def bigrams(df: DataFrame) = graft.functions.SafeExplode.explodeSelect(
          df.select(col("lang"), tokens(col("text")).as("t")),
          Seq(col("lang")),
          when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              i => concat_ws(" ", element_at(col("t"), i),
                element_at(col("t"), i + 1))))
            .otherwise(array().cast("array<string>")), "bg")
        .distinct()
      val d = docs(s, dir)
      val tr = bigrams(d.filter(col("doc_id") % 2 === 0))
        .select(col("lang").as("langt"), col("bg").as("bgt"), lit(1L).as("seen"))
      bigrams(d.filter(col("doc_id") % 2 === 1))
        .join(tr, col("lang") === col("langt") && col("bg") === col("bgt"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_test_bigrams"),
          sum(coalesce(col("seen"), lit(0L))).as("n_covered"))
        .select(col("lang"), col("n_test_bigrams"), col("n_covered"),
          round(col("n_covered").cast("double") / col("n_test_bigrams"), 6)
            .as("coverage"))
        .orderBy("lang")
    },
      s"""WITH tt AS (SELECT lang, doc_id % 2 AS half, $toks AS t FROM documents),
         |bg AS (SELECT DISTINCT lang, half, t[i] || ' ' || t[i+1] AS bg
         |       FROM tt, unnest(range(1, len(t))) AS x(i)),
         |tr AS (SELECT lang, bg FROM bg WHERE half = 0),
         |te AS (SELECT lang, bg FROM bg WHERE half = 1)
         |SELECT te.lang, CAST(count(*) AS BIGINT) AS n_test_bigrams,
         |  CAST(sum(CASE WHEN tr.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  round(sum(CASE WHEN tr.bg IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS coverage
         |FROM te LEFT JOIN tr ON tr.lang = te.lang AND tr.bg = te.bg
         |GROUP BY te.lang ORDER BY te.lang""".stripMargin),

    // --- distinctive vocabulary between two sources: log-odds ratio
    //     with an informative Dirichlet prior from the full corpus
    //     (Monroe, Colaresi & Quinn 2008, "Fightin' Words") — the
    //     statistically-sound replacement for raw frequency diffs when
    //     auditing what makes a source's language different. Top-10 and
    //     bottom-10 tokens by z-score; every input to the floating
    //     expression is an integer count, the expression shape is
    //     pinned, and ordering uses the 6-dp-rounded score. ---
    QuerySpec("t_logodds", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions._
      val tok = graft.functions.SafeExplode.explodeSelect(
        docs(s, dir).select(col("source"), tokens(col("text")).as("t")),
        Seq(col("source")), col("t"), "w")
      val cw = tok.groupBy("w").agg(count(lit(1)).as("cw"))
      val ctot = tok.agg(count(lit(1)).as("ctot"))
      val y1 = tok.filter(col("source") === "src0").groupBy("w")
        .agg(count(lit(1)).as("y1"))
      val y2 = tok.filter(col("source") === "src1").groupBy("w")
        .agg(count(lit(1)).as("y2"))
      val n1 = tok.filter(col("source") === "src0").agg(count(lit(1)).as("n1"))
      val n2 = tok.filter(col("source") === "src1").agg(count(lit(1)).as("n2"))
      val aw = lit(100.0) * col("cw") / col("ctot")
      val l1 = round(log((coalesce(col("y1"), lit(0L)) + aw) /
        (col("n1") + 100.0 - coalesce(col("y1"), lit(0L)) - aw)), 9)
      val l2 = round(log((coalesce(col("y2"), lit(0L)) + aw) /
        (col("n2") + 100.0 - coalesce(col("y2"), lit(0L)) - aw)), 9)
      val z = round((l1 - l2) /
        sqrt(lit(1.0) / (coalesce(col("y1"), lit(0L)) + aw)
          + lit(1.0) / (coalesce(col("y2"), lit(0L)) + aw)), 6)
      val scored = cw.join(y1, Seq("w"), "left").join(y2, Seq("w"), "left")
        .crossJoin(broadcast(ctot)).crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("w"), coalesce(col("y1"), lit(0L)).as("y1"),
          coalesce(col("y2"), lit(0L)).as("y2"), z.as("z"))
      val top = scored.withColumn("rk",
          row_number().over(Window.orderBy(col("z").desc, col("w"))).cast("long"))
        .filter(col("rk") <= 10)
      val bottom = scored.withColumn("rk",
          (-row_number().over(Window.orderBy(col("z").asc, col("w")))).cast("long"))
        .filter(col("rk") >= -10)
      top.unionByName(bottom).orderBy("rk")
    },
      {
        def lterm(y: String, n: String) =
          s"round(ln((coalesce($y, 0) + 100.0 * cw.cw / ctot) / " +
            s"($n + 100.0 - coalesce($y, 0) - 100.0 * cw.cw / ctot)), 9)"
        s"""WITH tok AS (SELECT source, unnest($toks) AS w FROM documents),
           |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY w),
           |ct AS (SELECT CAST(count(*) AS BIGINT) AS ctot FROM tok),
           |y1 AS (SELECT w, CAST(count(*) AS BIGINT) AS y1 FROM tok WHERE source = 'src0' GROUP BY w),
           |y2 AS (SELECT w, CAST(count(*) AS BIGINT) AS y2 FROM tok WHERE source = 'src1' GROUP BY w),
           |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM tok WHERE source = 'src0'),
           |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM tok WHERE source = 'src1'),
           |sc AS (SELECT cw.w, coalesce(y1.y1, 0)::BIGINT AS y1, coalesce(y2.y2, 0)::BIGINT AS y2,
           |    round((${lterm("y1.y1", "n1")} - ${lterm("y2.y2", "n2")})
           |      / sqrt(1.0 / (coalesce(y1.y1, 0) + 100.0 * cw.cw / ctot)
           |           + 1.0 / (coalesce(y2.y2, 0) + 100.0 * cw.cw / ctot)), 6) AS z
           |  FROM cw LEFT JOIN y1 ON y1.w = cw.w LEFT JOIN y2 ON y2.w = cw.w
           |  CROSS JOIN ct CROSS JOIN n1 CROSS JOIN n2)
           |SELECT * FROM (
           |  SELECT w, y1, y2, z, CAST(rn AS BIGINT) AS rk
           |  FROM (SELECT *, row_number() OVER (ORDER BY z DESC, w) AS rn FROM sc)
           |  WHERE rn <= 10
           |  UNION ALL
           |  SELECT w, y1, y2, z, CAST(-rn AS BIGINT) AS rk
           |  FROM (SELECT *, row_number() OVER (ORDER BY z ASC, w) AS rn FROM sc)
           |  WHERE rn <= 10)
           |ORDER BY rk""".stripMargin
      }),

    // --- session path analysis: each session's first three event
    //     types as an ordered path string, counted across sessions —
    //     the "how do journeys start" funnel table. Session ids from
    //     the same gap rule as sessionizeBatch; the in-session rank
    //     and the path listagg share one user shuffle. ---
    QuerySpec("q_session_paths", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts")
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("ns",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 3600000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("ns")).over(running))
      val wS = Window.partitionBy("user_id", "sid").orderBy("ts")
      sess.withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= 3)
        .groupBy("user_id", "sid")
        .agg(expr("listagg(event_type, '>') WITHIN GROUP (ORDER BY ts)").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
    },
      """WITH s AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, event_type,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid ORDER BY ts) AS rk FROM g),
        |p AS (SELECT user_id, sid, string_agg(event_type, '>' ORDER BY ts) AS path
        |      FROM rk WHERE rk <= 3 GROUP BY user_id, sid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path""".stripMargin),

    // --- hour-of-day activity profile per event type, with each
    //     hour's share of the type's total — the load-shape table
    //     capacity planning reads ---
    QuerySpec("q_hour_profile", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("event_type")), 6))
        .select(col("event_type"), col("hr").cast("long").as("hr"),
          col("n"), col("share"))
        .orderBy("event_type", "hr"),
      """WITH h AS (SELECT event_type, date_part('hour', ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, date_part('hour', ts))
        |SELECT event_type, CAST(hr AS BIGINT) AS hr, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY event_type), 6) AS share
        |FROM h ORDER BY event_type, hr""".stripMargin),

    // --- code detection heuristic: symbol density + code-keyword hits
    //     over word tokens — the "is this prose or source code" routing
    //     signal of a text-curation pipeline (exact integer ratios) ---
    QuerySpec("t_code_detect", (s, dir) => {
      import graft.functions.TextFunctions._
      val kw = Seq("def", "class", "return", "import", "var", "val",
        "function", "if", "else", "for")
      val toksC = tokens(col("text"))
      val sym = size(regexp_extract_all(col("text"),
        lit("[{}();=\\[\\]<>]"), lit(0))).cast("long")
      val kwHits = size(filter(toksC, w => w.isin(kw: _*))).cast("long")
      docs(s, dir).select(col("doc_id"),
          size(toksC).cast("long").as("n_tok"), sym.as("n_sym"),
          kwHits.as("n_kw"))
        .select(col("doc_id"), col("n_tok"), col("n_sym"), col("n_kw"),
          when(col("n_tok") > 0,
            round(col("n_sym").cast("double") / col("n_tok"), 6))
            .otherwise(0.0).as("sym_ratio"),
          (col("n_sym") * 10 > col("n_tok") && col("n_kw") >= 2).as("is_code"))
        .orderBy("doc_id")
    },
      {
        val kwList = "['def','class','return','import','var','val','function','if','else','for']"
        s"""WITH b AS (SELECT doc_id,
           |    len($toks)::BIGINT AS n_tok,
           |    len(regexp_extract_all(text, '[{}();=\\[\\]<>]'))::BIGINT AS n_sym,
           |    len(list_filter($toks, w -> list_contains($kwList, w)))::BIGINT AS n_kw
           |  FROM documents)
           |SELECT doc_id, n_tok, n_sym, n_kw,
           |  CASE WHEN n_tok > 0 THEN round(n_sym::DOUBLE / n_tok, 6) ELSE 0.0 END AS sym_ratio,
           |  (n_sym * 10 > n_tok AND n_kw >= 2) AS is_code
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    // --- topic coherence (NPMI, Bouma 2009 — the BERTopic/topic-model
    //     eval): mean normalized PMI over the C(5,2) pairs of each
    //     source's top-5 c-TF-IDF terms, co-occurrence measured on
    //     document incidence corpus-wide. Zero-co-occurrence pairs
    //     score −1 by convention. Candidate pairs are tiny (10 per
    //     source); the incidence join touches only candidate terms. ---
    QuerySpec("t_topic_coherence", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions._
      val d = docs(s, dir)
      val tok = graft.functions.SafeExplode.explodeSelect(
        d.select(col("doc_id"), col("source"), tokens(col("text")).as("t")),
        Seq(col("doc_id"), col("source")), col("t"), "w")
      val inc = tok.select("doc_id", "w").distinct()
      val df = inc.groupBy("w").agg(count(lit(1)).as("df"))
      val nDocs = d.agg(count(lit(1)).as("nd"))
      // top-5 c-TF-IDF terms per source (same statistic as t_ctfidf).
      // tf/fw/aavg all derive from ONE (source, w) count frame — the
      // earlier form re-ran the token explode for each (4 corpus token
      // passes per action; now 2: this one + the distinct incidence).
      // Identical values: fw = sum of per-source counts, aavg = total
      // tokens / n_sources.
      // PERF RECORD (r11, the r10 verdict's item 6): the 2-pass shape
      // costs ~1.4x the r9 sf0.1 wall (1.6-1.7 s vs 1.19 s, two stable
      // re-measures) because the optimizer-dependent r9 plan sometimes
      // collapsed the explodes; the structural 2-pass form is ACCEPTED —
      // it is sf1-anchor-neutral and is the predictable shape at scale
      // (caching a corpus-sized exploded token frame to save the second
      // streaming pass would be the wrong trade at 100 TB).
      val tf = tok.groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val fw = tf.groupBy("w").agg(sum(col("tf")).as("fw"))
      val aavg = tf.agg((sum(col("tf")).cast("double") /
        countDistinct(col("source"))).as("aavg"))
      val scored = tf.join(fw, "w").crossJoin(broadcast(aavg))
        .select(col("source"), col("w"),
          round(col("tf") * round(log(lit(1.0) + col("aavg") / col("fw")), 9), 6)
            .as("ctfidf"))
      val top5 = scored.withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("ctfidf").desc, col("w"))))
        .filter(col("rk") <= 5).select("source", "w")
      val cand = top5.as("a").join(top5.as("b"),
          col("a.source") === col("b.source") && col("a.w") < col("b.w"))
        .select(col("a.source").as("source"), col("a.w").as("w1"),
          col("b.w").as("w2"))
      val co = cand
        .join(inc.select(col("w").as("w1"), col("doc_id")), "w1")
        .join(inc.select(col("w").as("w2"), col("doc_id")), Seq("w2", "doc_id"))
        .groupBy("source", "w1", "w2").agg(count(lit(1)).as("dfab"))
      val withNpmi = cand.join(co, Seq("source", "w1", "w2"), "left")
        .withColumn("dfab", coalesce(col("dfab"), lit(0L)))
        .join(df.select(col("w").as("w1"), col("df").as("dfa")), "w1")
        .join(df.select(col("w").as("w2"), col("df").as("dfb")), "w2")
        .crossJoin(broadcast(nDocs))
        .select(col("source"),
          when(col("dfab") === 0, lit(-1.0)).otherwise(
            round(log(col("dfab").cast("double") * col("nd") /
                (col("dfa") * col("dfb"))) /
              -log(col("dfab").cast("double") / col("nd")), 9)).as("npmi"))
      withNpmi.groupBy("source").agg(
          count(lit(1)).as("n_pairs"),
          round(sum(col("npmi").cast("decimal(28,9)")).cast("double") /
            count(lit(1)), 6).as("mean_npmi"))
        .orderBy("source")
    },
      s"""WITH tok AS (SELECT doc_id, source, unnest($toks) AS w FROM documents),
         |inc AS (SELECT DISTINCT doc_id, w FROM tok),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM inc GROUP BY w),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
         |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY source, w),
         |fw AS (SELECT w, CAST(count(*) AS BIGINT) AS fw FROM tok GROUP BY w),
         |a AS (SELECT count(*)::DOUBLE / count(DISTINCT source) AS aavg FROM tok),
         |sc AS (SELECT source, tf.w,
         |    round(tf * round(ln(1.0 + aavg / fw), 9), 6) AS ctfidf
         |  FROM tf JOIN fw ON fw.w = tf.w CROSS JOIN a),
         |top5 AS (SELECT source, w FROM (
         |    SELECT *, row_number() OVER (PARTITION BY source
         |      ORDER BY ctfidf DESC, w) AS rn FROM sc) WHERE rn <= 5),
         |cand AS (SELECT a.source, a.w AS w1, b.w AS w2
         |         FROM top5 a JOIN top5 b ON a.source = b.source AND a.w < b.w),
         |co AS (SELECT c.source, c.w1, c.w2, CAST(count(*) AS BIGINT) AS dfab
         |       FROM cand c JOIN inc i1 ON i1.w = c.w1
         |       JOIN inc i2 ON i2.w = c.w2 AND i2.doc_id = i1.doc_id
         |       GROUP BY c.source, c.w1, c.w2),
         |np AS (SELECT cand.source,
         |    CASE WHEN coalesce(co.dfab, 0) = 0 THEN -1.0
         |         ELSE round(ln(co.dfab::DOUBLE * nd / (da.df * db.df))
         |              / -ln(co.dfab::DOUBLE / nd), 9) END AS npmi
         |  FROM cand LEFT JOIN co USING (source, w1, w2)
         |  JOIN df da ON da.w = cand.w1 JOIN df db ON db.w = cand.w2
         |  CROSS JOIN nd)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(sum(CAST(npmi AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6)
         |    AS mean_npmi
         |FROM np GROUP BY source ORDER BY source""".stripMargin),

    // --- audience overlap: EXACT pairwise Jaccard of the user sets
    //     behind each event-type pair — distinct (type, user) incidence
    //     self-joined on user (equi-join; never user × user). ---
    QuerySpec("q_audience_overlap", (s, dir) => {
      val tu = t(s, dir, "events").select("event_type", "user_id").distinct()
      val n = tu.groupBy("event_type").agg(count(lit(1)).as("nu"))
      val inter = tu.as("a").join(tu.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
        .agg(count(lit(1)).as("n_inter"))
      val dom = n.select(col("event_type").as("t1"), col("nu").as("n1"))
        .crossJoin(n.select(col("event_type").as("t2"), col("nu").as("n2")))
        .filter(col("t1") < col("t2"))
      dom.join(inter, Seq("t1", "t2"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_inter"),
          round(col("n_inter").cast("double") /
            (col("n1") + col("n2") - col("n_inter")), 6).as("jaccard"))
        .orderBy("t1", "t2")
    },
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu FROM tu GROUP BY event_type),
        |inter AS (SELECT a.event_type AS t1, b.event_type AS t2,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type),
        |dom AS (SELECT a.event_type AS t1, a.nu AS n1, b.event_type AS t2, b.nu AS n2
        |        FROM n a CROSS JOIN n b WHERE a.event_type < b.event_type)
        |SELECT t1, t2, n1, n2, coalesce(n_inter, 0)::BIGINT AS n_inter,
        |  round(coalesce(n_inter, 0)::DOUBLE / (n1 + n2 - coalesce(n_inter, 0)), 6) AS jaccard
        |FROM dom LEFT JOIN inter USING (t1, t2) ORDER BY t1, t2""".stripMargin),

    // --- max-inner-product retrieval (MIPS — the recommender-scoring
    //     metric; unlike cosine it rewards magnitude, so the ranking
    //     genuinely differs): raw dot products via the same sequential
    //     fold, queries broadcast ---
    QuerySpec("a_ann_mips_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Vectors
      val e = t(s, dir, "embeddings")
      val q = broadcast(graft.operators.Similarity.fixedQuerySample(e, "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
      val sc = e.select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .join(q, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          round(Vectors.dot(col("qv"), col("nv")), 6).as("ip"))
      val w = Window.partitionBy("qid").orderBy(col("ip").desc, col("nid").asc)
      sc.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("qid", "rk")
    },
      s"""WITH ${OracleSamples.qsCte},
        |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS ip
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id IN (SELECT vec_id FROM qs) AND a.vec_id <> b.vec_id)
        |SELECT qid, nid, ip, CAST(rn AS BIGINT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY ip DESC, nid) AS rn
        |  FROM sc)
        |WHERE rn <= 5 ORDER BY qid, rk""".stripMargin),

    // --- ordered string aggregation (LISTAGG WITHIN GROUP — the SQL
    //     2016 surface; deterministic because the order is total) ---
    QuerySpec("q_listagg", (s, dir) =>
      t(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
          .as("nations"))
        .select(col("n_regionkey").cast("long").as("n_regionkey"), col("nations"))
        .orderBy("n_regionkey"),
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // --- ranking-function family in one frame: rank / dense_rank /
    //     percent_rank / cume_dist over order totals per priority —
    //     value-tied rows share ranks identically on both engines ---
    QuerySpec("q_rank_functions", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"))
      t(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin),

    // --- entity resolution END-TO-END: candidates from TWO blocking
    //     schemes (deletion-neighborhood edit-distance pairs ∪
    //     sorted-neighborhood Jaro–Winkler ≥ 0.93), normalized and
    //     clustered by hash-min connected components, each entity
    //     reporting its canonical cluster id and size — the full ER
    //     composition over operators that are each oracle-checked
    //     alone. ---
    QuerySpec("d_er_pipeline", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cust = t(s, dir, "customer").filter(col("c_custkey") < 300)
      val c = cust.select(col("c_custkey").as("id"), col("c_name").as("nm"))
      val fz = graft.operators.Dedup.fuzzyPairs(cust, "c_custkey", "c_name")
        .select(col("id1"), col("id2"))
      val r = c.withColumn("rn",
        row_number().over(Window.orderBy(col("nm"), col("id"))))
      val a = r.select(col("id").as("id1"), col("nm").as("n1"), col("rn"),
          explode(typedLit(Seq(1, 2))).as("k"))
        .select(col("id1"), col("n1"), (col("rn") + col("k")).as("rn2"))
      val jw = a.join(
          r.select(col("id").as("id2"), col("nm").as("n2"), col("rn").as("rn2")),
          "rn2")
        .filter(round(GraftFunctions.jaroWinkler(col("n1"), col("n2")), 6)
          >= 0.93)
        .select(col("id1"), col("id2"))
      val pairs = fz.unionByName(jw)
        .select(least(col("id1"), col("id2")).as("d1"),
          greatest(col("id1"), col("id2")).as("d2"))
        .distinct()
      val cc = graft.operators.ConnectedComponents.components(pairs, "d1", "d2")
        .select(col("v").as("id"), col("component").as("cluster_id"))
      cc.withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("id")
    },
      """WITH RECURSIVE v AS (SELECT c_custkey AS id, c_name AS s,
        |    unnest(list_prepend(c_name, list_transform(range(1, length(c_name) + 1),
        |      i -> left(c_name, i - 1) || substring(c_name, i + 1)))) AS variant
        |  FROM customer WHERE c_custkey < 300),
        |fz AS (SELECT DISTINCT a.id AS id1, b.id AS id2
        |       FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id
        |       WHERE levenshtein(a.s, b.s) <= 1),
        |c AS (SELECT c_custkey AS id, c_name AS nm FROM customer WHERE c_custkey < 300),
        |r AS (SELECT id, nm, row_number() OVER (ORDER BY nm, id) AS rn FROM c),
        |jw AS (SELECT a.id AS id1, b.id AS id2
        |       FROM r a, unnest([1, 2]) AS o(k)
        |       JOIN r b ON b.rn = a.rn + o.k
        |       WHERE round(jaro_winkler_similarity(a.nm, b.nm), 6) >= 0.93),
        |pairs AS (SELECT DISTINCT least(id1, id2) AS d1, greatest(id1, id2) AS d2
        |          FROM (SELECT * FROM fz UNION ALL SELECT * FROM jw)),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(vv, rt) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        |  UNION
        |  SELECT e.a, reach.rt FROM edges e JOIN reach ON e.b = reach.vv),
        |cc AS (SELECT vv AS id, CAST(min(rt) AS BIGINT) AS cluster_id
        |       FROM reach GROUP BY vv)
        |SELECT id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM cc ORDER BY id""".stripMargin),

    // --- deterministic bootstrap CI for the mean document length:
    //     B = 50 resamples whose draws are md5-derived (rep, slot) →
    //     index picks — the bootstrap is REPRODUCIBLE on any cluster
    //     (rand() resamples are not), and the whole procedure is two
    //     equi-joins + a rank (no driver loop). CI bounds = order
    //     statistics 2 and 49 of the replicate means (~95%). Scale
    //     note: the global row_number index is a total order; at
    //     100 TB the stable index is (partition_id, local rank) +
    //     broadcast per-partition offsets — the two-level prefix
    //     pattern of peakConcurrency — or simply a stored row id. ---
    QuerySpec("t_bootstrap_ci", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spark = s
      import spark.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
        .withColumn("idx",
          (row_number().over(Window.orderBy("doc_id")) - 1).cast("long"))
      val n = d.agg(count(lit(1)).as("n"))
      val draws = d.select(col("idx").as("j"))
        .crossJoin((0 until 50).toDF("r")).crossJoin(broadcast(n))
        .select(col("r"),
          (conv(substring(md5(concat_ws("_", col("r"), col("j"))), 1, 6), 16, 10)
            .cast("long") % col("n")).as("pick"))
      val means = draws
        .join(d.select(col("idx").as("pick"), col("n_chars")), "pick")
        .groupBy("r")
        .agg((sum(col("n_chars").cast("decimal(28,6)")).cast("double") /
          count(lit(1))).as("m"))
      val rm = means.withColumn("rk",
        row_number().over(Window.orderBy(col("m").asc, col("r").asc)))
      val full = d.agg(round(sum(col("n_chars").cast("decimal(28,6)"))
        .cast("double") / count(lit(1)), 6).as("mean_full"))
      n.crossJoin(full)
        .crossJoin(rm.filter(col("rk") === 2).select(round(col("m"), 6).as("ci_lo")))
        .crossJoin(rm.filter(col("rk") === 49).select(round(col("m"), 6).as("ci_hi")))
    },
      """WITH d AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS idx FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |draws AS (SELECT r,
        |    ('0x' || substring(md5(r::VARCHAR || '_' || idx::VARCHAR), 1, 6))::BIGINT % n AS pick
        |  FROM d CROSS JOIN (SELECT unnest(range(50)) AS r) CROSS JOIN n),
        |means AS (SELECT r,
        |    CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS m
        |  FROM draws JOIN d ON d.idx = draws.pick GROUP BY r),
        |rm AS (SELECT m, row_number() OVER (ORDER BY m, r) AS rk FROM means),
        |f AS (SELECT round(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
        |        / count(*), 6) AS mean_full FROM d)
        |SELECT n.n, f.mean_full,
        |  (SELECT round(m, 6) FROM rm WHERE rk = 2) AS ci_lo,
        |  (SELECT round(m, 6) FROM rm WHERE rk = 49) AS ci_hi
        |FROM n CROSS JOIN f""".stripMargin),

    // --- Benford first-digit screen over order totals: observed digit
    //     counts vs n·log10(1 + 1/d), with per-digit χ² contributions —
    //     the classic synthetic-data / fraud smell test. First digits
    //     come from INTEGER cents rendered as strings (no float log10
    //     at digit boundaries); expectations share one expression
    //     shape. ---
    QuerySpec("q_benford_test", (s, dir) => {
      val cents = expr("cast(round(o_totalprice * 100) as bigint)")
      val obs = t(s, dir, "orders")
        .select(substring(cents.cast("string"), 1, 1).cast("int").as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("n"))
      val expd = col("n") * (log(lit(1.0) + lit(1.0) / col("d")) / log(lit(10.0)))
      obs.crossJoin(broadcast(tot))
        .select(col("d"), col("n_obs"),
          round(expd, 6).as("expected"),
          round(pow(col("n_obs") - expd, 2) / expd, 6).as("chi2_contrib"))
        .orderBy("d")
    },
      """WITH obs AS (SELECT
        |    left(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1)::INT AS d,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
        |SELECT d, n_obs,
        |  round(n * (ln(1.0 + 1.0 / d) / ln(10.0)), 6) AS expected,
        |  round(power(n_obs - n * (ln(1.0 + 1.0 / d) / ln(10.0)), 2)
        |    / (n * (ln(1.0 + 1.0 / d) / ln(10.0))), 6) AS chi2_contrib
        |FROM obs CROSS JOIN tot ORDER BY d""".stripMargin),

    // --- RATIO_TO_REPORT shares: each (flag, status) revenue as a
    //     share of its flag group and of the grand total — the
    //     share-of-parent OLAP op, via two window sums over the SAME
    //     aggregated frame (6 rows; no second scan). Exact decimal
    //     revenue, identically-shaped double divisions. ---
    QuerySpec("q_ratio_to_report", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val agg = t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      val wf = Window.partitionBy("l_returnflag")
      val wg = Window.partitionBy()
      agg.select(col("l_returnflag"), col("l_linestatus"),
          col("rev").cast("double").as("revenue"),
          round(col("rev").cast("double") /
            sum(col("rev")).over(wf).cast("double"), 6).as("share_of_flag"),
          round(col("rev").cast("double") /
            sum(col("rev")).over(wg).cast("double"), 6).as("share_of_total"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """WITH a AS (SELECT l_returnflag, l_linestatus,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus, CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(rev AS DOUBLE) /
        |    CAST(sum(rev) OVER (PARTITION BY l_returnflag) AS DOUBLE), 6) AS share_of_flag,
        |  round(CAST(rev AS DOUBLE) /
        |    CAST(sum(rev) OVER () AS DOUBLE), 6) AS share_of_total
        |FROM a ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // --- cumulative distinct users per day in O(n): a user's FIRST
    //     day is a plain aggregate; the running count of first-days is
    //     the distinct curve — no per-day distinct rescan (the naive
    //     formulation is quadratic in days). Days without new users
    //     are absent by construction (the curve is flat there). ---
    QuerySpec("q_running_distinct", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perDay = t(s, dir, "events")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDay.select(col("day"), col("n_new"),
          sum(col("n_new")).over(w).as("cum_users"))
        .orderBy("day")
    },
      """WITH fd AS (SELECT user_id, min(ts::DATE) AS day FROM events GROUP BY user_id),
        |pd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM fd GROUP BY day)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM pd ORDER BY day""".stripMargin),

    // --- recall@k curve (k = 1, 3, 5) for the LSH index from ONE
    //     scored frame: both rank columns already exist, the k sweep
    //     is a literal fan-out with conditional aggregation — the
    //     index-tuning table, not three re-runs. ---
    QuerySpec("a_ann_recall_curve", (s, dir) => {
      import graft.operators.Similarity
      val spark = s
      import spark.implicits._
      val e = t(s, dir, "embeddings")
      val q = Similarity.fixedQuerySample(e, "vec_id")
      val bf = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), col("rk").as("trk"))
      val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5, planes = 8)
        .select(col("qid"), col("nid"), col("rk").as("pos"))
      val joined = bf.join(lsh, Seq("qid", "nid"))
      val nq = bf.agg(countDistinct(col("qid")).as("nq"))
      Seq(1, 3, 5).toDF("k").crossJoin(joined).groupBy("k")
        .agg(sum(when(col("trk") <= col("k") && col("pos") <= col("k"), 1L)
          .otherwise(0L)).as("n_hits"))
        .crossJoin(broadcast(nq))
        .select(col("k").cast("long").as("k"), col("n_hits"),
          round(col("n_hits").cast("double") / (col("k") * col("nq")), 6)
            .as("recall_at_k"))
        .orderBy("k")
    },
      s"""WITH ${OracleSamples.qsCte},
         |$bfCte,
         |$bucketCte,
         |lsh AS (
         |  SELECT qid, nid, rk AS pos FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM (SELECT q.vec_id AS qid, c.vec_id AS nid, $cosXY AS cos
         |          FROM bucket q JOIN bucket c ON q.bk = c.bk AND q.vec_id <> c.vec_id
         |          JOIN embeddings x ON x.vec_id = q.vec_id
         |          JOIN embeddings y ON y.vec_id = c.vec_id
         |          WHERE q.vec_id IN (SELECT vec_id FROM qs)))
         |  WHERE rk <= 5),
         |j AS (SELECT bf.qid, bf.rk AS trk, lsh.pos
         |      FROM bf JOIN lsh ON lsh.qid = bf.qid AND lsh.nid = bf.nid),
         |nq AS (SELECT CAST(count(DISTINCT qid) AS BIGINT) AS nq FROM bf),
         |ks AS (SELECT unnest([1, 3, 5]) AS k)
         |SELECT CAST(k AS BIGINT) AS k,
         |  CAST(sum(CASE WHEN trk <= k AND pos <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN trk <= k AND pos <= k THEN 1 ELSE 0 END)::DOUBLE
         |    / (k * nq), 6) AS recall_at_k
         |FROM ks CROSS JOIN j CROSS JOIN nq GROUP BY k, nq ORDER BY k""".stripMargin),

    // --- point-in-time feature backfill (the feature-store join): for
    //     every purchase, the user's event count and value-sum over the
    //     trailing hour STRICTLY BEFORE the purchase — computed as one
    //     RANGE-frame window over the whole stream (micros order), then
    //     filtered to label rows. No per-label subquery, no range join:
    //     one shuffle on user_id serves every feature. Leak-safe by
    //     construction (frame ends at −1 µs). ---
    QuerySpec("q_pit_features", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "events").withColumn("tsu", unix_micros(col("ts")))
      val w = Window.partitionBy("user_id").orderBy("tsu")
        .rangeBetween(-3600000000L, -1L)
      base
        .withColumn("n_prior_1h", count(lit(1)).over(w))
        .withColumn("v_prior_1h",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("n_prior_1h"), col("v_prior_1h"))
        .orderBy("event_id")
    },
      """WITH b AS (SELECT event_id, user_id, ts, event_type, value,
        |           epoch_us(ts) AS tsu FROM events),
        |f AS (SELECT event_id, user_id, ts, event_type,
        |    count(*) OVER w AS n_prior_1h,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS v_prior_1h
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |                      RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts, CAST(n_prior_1h AS BIGINT) AS n_prior_1h,
        |  v_prior_1h
        |FROM f WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),

    // --- partial-aggregate MERGE (incremental view maintenance): two
    //     disjoint epoch partials (count/sum/min/max per type) merged
    //     algebraically — the hash match against a direct full
    //     recompute PROVES merge ≡ recompute, the property every
    //     incremental pipeline (streaming state, backfill + delta,
    //     cube refresh) rests on. Decimal sums keep the merge exact. ---
    QuerySpec("q_partial_agg_merge", (s, dir) => {
      val ev = t(s, dir, "events")
      def part(f: DataFrame) = f.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      part(ev.filter(dayofmonth(col("ts")) <= 20))
        .unionByName(part(ev.filter(dayofmonth(col("ts")) > 20)))
        .groupBy("event_type").agg(
          sum(col("n")).as("n"),
          sum(col("sv")).cast("double").as("total_value"),
          min(col("mn")).as("min_value"), max(col("mx")).as("max_value"))
        .orderBy("event_type")
    },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- discrete percentiles (actual data values, no interpolation)
    //     beside q_percentile's continuous form — the tail-latency /
    //     budget-cutoff flavor where an interpolated value is not a
    //     real observation ---
    QuerySpec("q_percentile_disc", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("med_cont"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("med_disc"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p95_disc"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS med_cont,
        |  quantile_disc(o_totalprice, 0.5) AS med_disc,
        |  quantile_disc(o_totalprice, 0.95) AS p95_disc
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // --- margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    //     the LASER bitext-mining criterion): score(x, y) = cos(x, y)
    //     normalized by the mean cosine of each side's k-NN — absolute
    //     cosine thresholds don't transfer across query neighborhoods,
    //     margins do. Both k-NN averages come from the SAME scored-pair
    //     frame (two window ranks, no second scoring pass); exact
    //     decimal averaging of 6-dp cosines. ---
    QuerySpec("a_margin_mining", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Vectors
      val e = t(s, dir, "embeddings")
      val x = graft.operators.Similarity.fixedQuerySample(e, "vec_id")
        .select(col("vec_id").as("xid"), col("embedding").as("xv"))
      val y = e.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("yid"), col("embedding").as("yv"))
      val pairs = y.join(broadcast(x), col("xid") =!= col("yid"))
        .select(col("xid"), col("yid"),
          Vectors.cosineNative(col("xv"), col("yv")).as("cos"))
      val wx = Window.partitionBy("xid").orderBy(col("cos").desc, col("yid"))
      val wy = Window.partitionBy("yid").orderBy(col("cos").desc, col("xid"))
      val ranked = pairs
        .withColumn("rx", row_number().over(wx))
        .withColumn("ry", row_number().over(wy))
      val ax = ranked.filter(col("rx") <= 4).groupBy("xid")
        .agg((sum(col("cos").cast("decimal(18,6)")).cast("double") / 4).as("ax"))
      val ay = ranked.filter(col("ry") <= 4).groupBy("yid")
        .agg((sum(col("cos").cast("decimal(18,6)")).cast("double") / 4).as("ay"))
      ranked.filter(col("rx") <= 3)
        .join(ax, "xid").join(ay, "yid")
        .select(col("xid").as("qid"), col("yid").as("nid"), col("cos"),
          round(col("cos") / ((col("ax") + col("ay")) / 2.0), 6).as("margin"))
        .orderBy("qid", "nid")
    },
      s"""WITH ${OracleSamples.qsCte},
         |p AS (SELECT a.vec_id AS xid, b.vec_id AS yid, $cosAB AS cos
         |      FROM embeddings a JOIN embeddings b
         |        ON a.vec_id IN (SELECT vec_id FROM qs) AND b.vec_id % 3 = 0 AND a.vec_id <> b.vec_id),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY xid ORDER BY cos DESC, yid) AS rx,
         |    row_number() OVER (PARTITION BY yid ORDER BY cos DESC, xid) AS ry FROM p),
         |ax AS (SELECT xid, CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / 4 AS ax
         |       FROM r WHERE rx <= 4 GROUP BY xid),
         |ay AS (SELECT yid, CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / 4 AS ay
         |       FROM r WHERE ry <= 4 GROUP BY yid)
         |SELECT r.xid AS qid, r.yid AS nid, cos,
         |  round(cos / ((ax + ay) / 2.0), 6) AS margin
         |FROM r JOIN ax USING (xid) JOIN ay USING (yid)
         |WHERE rx <= 3 ORDER BY qid, nid""".stripMargin),

    // --- feature-hashing document embeddings (Weinberger et al. 2009,
    //     the hashing trick): tokens hash into 16 signed dimensions,
    //     L2-normalized — model-free dense vectors that make every
    //     embedding operator above usable on raw text. md5-derived dim
    //     and sign; integer accumulation, one sqrt. ---
    QuerySpec("a_feature_hash_embed", (s, dir) => {
      import graft.functions.TextFunctions._
      val tok = graft.functions.SafeExplode.explodeSelect(
        docs(s, dir).select(col("doc_id"), tokens(col("text")).as("t")),
        Seq(col("doc_id")), col("t"), "w")
      val hashed = tok.select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 1), 16, 10).cast("long").as("dim"),
        when(conv(substring(md5(col("w")), 2, 1), 16, 10).cast("long") % 2 === 0,
          1L).otherwise(-1L).as("sgn"))
      val v = hashed.groupBy("doc_id", "dim").agg(sum(col("sgn")).as("v"))
      val nrm = v.groupBy("doc_id").agg(sqrt(sum(col("v") * col("v"))
        .cast("double")).as("nrm"))
      v.join(nrm, "doc_id")
        .select(col("doc_id"), col("dim"),
          when(col("nrm") > 0, round(col("v") / col("nrm"), 6))
            .otherwise(0.0).as("val"))
        .orderBy("doc_id", "dim")
    },
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |h AS (SELECT doc_id,
         |    ('0x' || substring(md5(w), 1, 1))::BIGINT AS dim,
         |    CASE WHEN ('0x' || substring(md5(w), 2, 1))::BIGINT % 2 = 0
         |         THEN 1 ELSE -1 END AS sgn
         |  FROM tok),
         |v AS (SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS v
         |      FROM h GROUP BY doc_id, dim),
         |nrm AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm
         |        FROM v GROUP BY doc_id)
         |SELECT v.doc_id, dim,
         |  CASE WHEN nrm > 0 THEN round(v / nrm, 6) ELSE 0.0 END AS val
         |FROM v JOIN nrm USING (doc_id)
         |ORDER BY doc_id, dim""".stripMargin),

    // --- HLL register MERGE across strata: per-language sketches
    //     max-merge into ONE global register set whose estimate tracks
    //     the true union — THE mergeability property that lets 100 TB
    //     of per-partition/per-epoch sketches combine without ever
    //     touching raw values again. Exact union and langwise-sum ride
    //     along to show union < sum (shared shingles counted once). ---
    QuerySpec("t_hll_union", (s, dir) => {
      import graft.functions.TextFunctions._
      import graft.operators.Sketches
      val sh = graft.functions.SafeExplode.explodeSelect(
        docs(s, dir).select(col("lang"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3),
        Seq(col("lang")), shingles(col("toks"), 3), "s")
      val merged = Sketches.hllRegisters(sh, "lang", "s")
        .groupBy("j").agg(max(col("m_j")).as("m_j"))
        .withColumn("scope", lit("all"))
      val unionEst = Sketches.hllEstimate(merged, "scope")
      val exactUnion = sh.select("s").distinct()
        .agg(count(lit(1)).as("n_exact_union"))
      val sumLangwise = sh.select("lang", "s").distinct()
        .agg(count(lit(1)).as("n_sum_langwise"))
      unionEst.crossJoin(exactUnion).crossJoin(sumLangwise)
        .select(col("n_exact_union"), col("n_sum_langwise"),
          col("hll_estimate").as("hll_union_estimate"))
    },
      s"""WITH dv AS (SELECT DISTINCT lang, s AS v FROM (
         |    SELECT lang, unnest($sh3) AS s
         |    FROM (SELECT lang, $toks AS t FROM documents) WHERE len(t) >= 3)),
         |h AS (SELECT lang, v, ('0x' || substring(md5(v), 1, 15))::BIGINT AS hv FROM dv),
         |r AS (SELECT lang, hv & 63 AS j,
         |             CASE WHEN hv >> 6 = 0 THEN 55
         |                  ELSE 55 - length(bin(hv >> 6)) END AS rho FROM h),
         |regl AS (SELECT lang, j, max(rho) AS m_j FROM r GROUP BY lang, j),
         |reg AS (SELECT j, max(m_j) AS m_j FROM regl GROUP BY j),
         |agg AS (SELECT count(*) AS n_nz,
         |        sum(CAST(2 ** (55 - m_j) AS BIGINT)) AS s_present FROM reg),
         |est AS (SELECT 64 - n_nz AS v0,
         |        s_present + (64 - n_nz) * CAST(2 ** 55 AS BIGINT) AS s_tot FROM agg),
         |ex AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_exact_union FROM dv),
         |sl AS (SELECT CAST(count(*) AS BIGINT) AS n_sum_langwise FROM dv)
         |SELECT n_exact_union, n_sum_langwise,
         |  round(CASE WHEN 0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
         |                    / s_tot <= 160.0 AND v0 > 0
         |             THEN 64::DOUBLE * ln(64::DOUBLE / v0)
         |             ELSE 0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
         |                    / s_tot END, 4) AS hll_union_estimate
         |FROM ex CROSS JOIN sl CROSS JOIN est""".stripMargin),

    // --- binary-quantized ANN: sign-bit per dimension packs a 64-dim
    //     float vector into TWO 32-bit words (32× compression — the
    //     most aggressive tier of the flat/SQ8/PQ/BQ matrix); ranking
    //     is pure Hamming distance via popcount(xor) in-row. At 100 TB
    //     the corpus scan reads 8 bytes/vector and the distance is two
    //     instructions; queries broadcast as in the brute-force tier. ---
    QuerySpec("a_ann_bq_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val word = (off: Int) =>
        s"aggregate(zip_with(slice(embedding, ${off + 1}, 32), sequence(0, 31), " +
          "(x, d) -> IF(x > 0, shiftleft(1L, cast(d as int)), 0L)), 0L, (a, b) -> a + b)"
      val bq = t(s, dir, "embeddings").select(col("vec_id"),
        expr(word(0)).as("w0"), expr(word(32)).as("w1"))
      val q = broadcast(graft.operators.Similarity.fixedQuerySample(bq, "vec_id")
        .select(col("vec_id").as("qid"), col("w0").as("q0"), col("w1").as("q1")))
      val sc = bq.select(col("vec_id").as("nid"), col("w0"), col("w1"))
        .join(q, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          expr("cast(bit_count(w0 ^ q0) + bit_count(w1 ^ q1) as bigint)")
            .as("hamming"))
      val w = Window.partitionBy("qid").orderBy(col("hamming").asc, col("nid").asc)
      sc.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("qid", "rk")
    },
      s"""WITH ${OracleSamples.qsCte},
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |bq AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN d < 32 AND v[d+1] > 0 THEN (2**d)::BIGINT ELSE 0 END) AS BIGINT) AS w0,
        |    CAST(sum(CASE WHEN d >= 32 AND v[d+1] > 0 THEN (2**(d-32))::BIGINT ELSE 0 END) AS BIGINT) AS w1
        |  FROM e CROSS JOIN (SELECT unnest(range(64)) AS d) GROUP BY vec_id),
        |sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
        |  FROM bq q JOIN bq c ON q.vec_id IN (SELECT vec_id FROM qs) AND q.vec_id <> c.vec_id)
        |SELECT qid, nid, hamming, CAST(rn AS BIGINT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rn FROM sc)
        |WHERE rn <= 5 ORDER BY qid, rk""".stripMargin),

    // --- fuzzy record linkage, sorted-neighborhood blocking + native
    //     Jaro–Winkler verify: names sort once, each row meets only its
    //     2 forward neighbors (offset explode → EQUI-join on rank, no
    //     inequality BNLJ), pairs scored by the graft_jaro_winkler
    //     kernel and kept at ≥ 0.88 — the second blocking scheme beside
    //     d_fuzzy_pairs' deletion neighborhoods. Scale note: the global
    //     name sort is the textbook sorted-neighborhood cost; at 100 TB
    //     it becomes a range-partitioned sort (Spark's sort already is)
    //     with the window evaluated per range plus a boundary overlap of
    //     `window` rows replicated to the next partition. ---
    QuerySpec("d_jaro_linkage", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "customer").filter(col("c_custkey") < 500)
        .select(col("c_custkey").as("id"), col("c_name").as("nm"))
      val r = c.withColumn("rn",
        row_number().over(Window.orderBy(col("nm"), col("id"))))
      val a = r.select(col("id").as("id1"), col("nm").as("n1"), col("rn"),
          explode(typedLit(Seq(1, 2))).as("k"))
        .select(col("id1"), col("n1"), (col("rn") + col("k")).as("rn2"))
      val cand = a.join(
        r.select(col("id").as("id2"), col("nm").as("n2"), col("rn").as("rn2")),
        "rn2")
      cand.select(col("id1"), col("id2"), col("n1"), col("n2"),
          round(GraftFunctions.jaroWinkler(col("n1"), col("n2")), 6)
            .as("jw"))
        .filter(col("jw") >= 0.88)
        .orderBy("id1", "id2")
    },
      """WITH c AS (SELECT c_custkey AS id, c_name AS nm FROM customer
        |           WHERE c_custkey < 500),
        |r AS (SELECT id, nm, row_number() OVER (ORDER BY nm, id) AS rn FROM c),
        |cand AS (SELECT a.id AS id1, a.nm AS n1, b.id AS id2, b.nm AS n2
        |         FROM r a, unnest([1, 2]) AS o(k)
        |         JOIN r b ON b.rn = a.rn + o.k)
        |SELECT id1, id2, n1, n2, round(jaro_winkler_similarity(n1, n2), 6) AS jw
        |FROM cand WHERE round(jaro_winkler_similarity(n1, n2), 6) >= 0.88
        |ORDER BY id1, id2""".stripMargin),

    // --- one-row corpus profile ("dataset card" numbers): doc/token/
    //     vocab/lang/source counts, exact-dup count, average tokens per
    //     doc — the summary a curation run publishes with its output ---
    QuerySpec("t_corpus_profile", (s, dir) => {
      import graft.functions.TextFunctions._
      val d = docs(s, dir)
      val a = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"),
        sum(col("n_chars")).as("total_chars"))
      val tok = graft.functions.SafeExplode.explodeSelect(
        d.select(tokens(col("text")).as("t")), Seq.empty, col("t"), "w")
      val b = tok.agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("vocab"))
      a.crossJoin(b).select(col("n_docs"), col("n_langs"), col("n_sources"),
        col("n_dups"), col("total_chars"), col("n_tokens"), col("vocab"),
        round(col("n_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_tokens_per_doc"))
    },
      s"""WITH tok AS (SELECT unnest($toks) AS w FROM documents),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT w) AS BIGINT) AS vocab FROM tok)
         |SELECT n_docs, n_langs, n_sources, n_dups, total_chars, n_tokens, vocab,
         |  round(n_tokens::DOUBLE / n_docs, 6) AS avg_tokens_per_doc
         |FROM a CROSS JOIN b""".stripMargin),

    // --- half-over-half volume change per event type (simple drift
    //     screen beside PSI/JSD): first vs second half of the month,
    //     exact counts, one shaped percentage ---
    QuerySpec("q_wow_change", (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          sum(when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L)).as("n_first"),
          sum(when(dayofmonth(col("ts")) > 15, 1L).otherwise(0L)).as("n_second"))
        .select(col("event_type"), col("n_first"), col("n_second"),
          when(col("n_first") > 0,
            round((col("n_second") - col("n_first")) * 100.0 / col("n_first"), 6))
            .as("pct_change"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  CAST(sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  CAST(sum(CASE WHEN date_part('day', ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_second,
        |  CASE WHEN sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END) > 0
        |       THEN round((sum(CASE WHEN date_part('day', ts) > 15 THEN 1 ELSE 0 END)
        |             - sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END)) * 100.0
        |            / sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END), 6) END AS pct_change
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- decile lift table: rank docs by a score (token count), cut
    //     into deciles, lift = decile positive rate / base rate — the
    //     classifier-eval gains chart beside t_classifier_pr. Exact
    //     integer counts; two identically-shaped divisions. Scale note:
    //     the global ntile is a total order (single-partition window);
    //     at 100 TB deciles come from exact-percentile score cuts
    //     (one aggregate, broadcast back as a CASE — the
    //     t_quality_threshold shape) instead of a global sort. ---
    QuerySpec("t_lift_curve", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions._
      val f = docs(s, dir).select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val w = Window.orderBy(col("score").desc, col("doc_id"))
      val dec = f.withColumn("decile", ntile(10).over(w).cast("long"))
      val tot = f.agg(sum(col("y")).as("pos_tot"), count(lit(1)).as("n_tot"))
      dec.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n"), col("n_pos"),
          round((col("n_pos").cast("double") / col("n")) /
            (col("pos_tot").cast("double") / col("n_tot")), 6).as("lift"))
        .orderBy("decile")
    },
      s"""WITH f AS (SELECT doc_id, len($toks)::BIGINT AS score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         |dec AS (SELECT *, CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS decile
         |        FROM f),
         |tot AS (SELECT CAST(sum(y) AS BIGINT) AS pos_tot,
         |               CAST(count(*) AS BIGINT) AS n_tot FROM f)
         |SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |  round((sum(y)::DOUBLE / count(*)) / (pos_tot::DOUBLE / n_tot), 6) AS lift
         |FROM dec CROSS JOIN tot GROUP BY decile, pos_tot, n_tot
         |ORDER BY decile""".stripMargin),

    // --- bounce rate per day: single-event sessions / sessions, over
    //     the sessionization tier's output (operator composition) ---
    QuerySpec("q_bounce_rate", (s, dir) => {
      val sess = graft.streaming.EventStream.sessionizeBatch(t(s, dir, "events"))
      sess.groupBy(to_date(col("session_start")).as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .select(col("day"), col("n_sessions"), col("n_bounce"),
          round(col("n_bounce").cast("double") / col("n_sessions"), 6)
            .as("bounce_rate"))
        .orderBy("day")
    },
      """WITH s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |sess AS (SELECT user_id, sid, count(*) AS n, min(ts) AS session_start
        |         FROM g GROUP BY user_id, sid)
        |SELECT session_start::DATE AS day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS bounce_rate
        |FROM sess GROUP BY session_start::DATE ORDER BY day""".stripMargin),

    // --- length-distribution moments per language: mean, sd, skewness,
    //     kurtosis from EXACT integer power sums (the one-pass
    //     textbook identities; every float step is an identically-
    //     shaped expression over those integers) ---
    QuerySpec("t_moments", (s, dir) => {
      val x = col("n_chars")
      val mean = col("s1").cast("double") / col("n")
      val m2 = col("s2").cast("double") / col("n") - mean * mean
      val sd = sqrt(m2)
      docs(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
        .select(col("lang"), col("n"),
          round(mean, 6).as("mean"),
          round(sd, 6).as("sd"),
          round((col("s3").cast("double") / col("n")
              - lit(3.0) * mean * (col("s2").cast("double") / col("n"))
              + lit(2.0) * mean * mean * mean) / (sd * sd * sd), 6).as("skewness"),
          round((col("s4").cast("double") / col("n")
              - lit(4.0) * mean * (col("s3").cast("double") / col("n"))
              + lit(6.0) * mean * mean * (col("s2").cast("double") / col("n"))
              - lit(3.0) * mean * mean * mean * mean) / (m2 * m2) - lit(3.0), 6)
            .as("kurtosis"))
        .orderBy("lang")
    },
      {
        val mean = "(s1::DOUBLE / n)"
        val m2 = s"(s2::DOUBLE / n - $mean * $mean)"
        s"""WITH p AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(n_chars) AS BIGINT) AS s1,
           |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
           |    CAST(sum(n_chars * n_chars * n_chars) AS BIGINT) AS s3,
           |    CAST(sum(n_chars * n_chars * n_chars * n_chars) AS BIGINT) AS s4
           |  FROM documents GROUP BY lang)
           |SELECT lang, n,
           |  round($mean, 6) AS mean,
           |  round(sqrt($m2), 6) AS sd,
           |  round((s3::DOUBLE / n - 3.0 * $mean * (s2::DOUBLE / n)
           |      + 2.0 * $mean * $mean * $mean) / (sqrt($m2) * sqrt($m2) * sqrt($m2)), 6) AS skewness,
           |  round((s4::DOUBLE / n - 4.0 * $mean * (s3::DOUBLE / n)
           |      + 6.0 * $mean * $mean * (s2::DOUBLE / n)
           |      - 3.0 * $mean * $mean * $mean * $mean) / ($m2 * $m2) - 3.0, 6) AS kurtosis
           |FROM p ORDER BY lang""".stripMargin
      }),

    // --- class-based TF-IDF (the c-TF-IDF of BERTopic, Grootendorst
    //     2022): score(w, c) = tf(w, c) · ln(1 + A / f(w)) with A the
    //     average class token mass — topic-labeling terms per source,
    //     the complement of t_logodds' pairwise contrast. Top-5 terms
    //     per source, 6-dp scores, WindowGroupLimit-pruned rank. ---
    QuerySpec("t_ctfidf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions._
      val tok = graft.functions.SafeExplode.explodeSelect(
        docs(s, dir).select(col("source"), tokens(col("text")).as("t")),
        Seq(col("source")), col("t"), "w")
      val tf = tok.groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val fw = tok.groupBy("w").agg(count(lit(1)).as("fw"))
      val a = tok.agg((count(lit(1)).cast("double") /
        countDistinct(col("source"))).as("aavg"))
      val scored = tf.join(fw, "w").crossJoin(broadcast(a))
        .select(col("source"), col("w"),
          round(col("tf") * round(log(lit(1.0) + col("aavg") / col("fw")), 9), 6)
            .as("ctfidf"))
      val w = Window.partitionBy("source").orderBy(col("ctfidf").desc, col("w"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("source", "rk")
    },
      s"""WITH tok AS (SELECT source, unnest($toks) AS w FROM documents),
         |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY source, w),
         |fw AS (SELECT w, CAST(count(*) AS BIGINT) AS fw FROM tok GROUP BY w),
         |a AS (SELECT count(*)::DOUBLE / count(DISTINCT source) AS aavg FROM tok),
         |sc AS (SELECT source, tf.w,
         |    round(tf * round(ln(1.0 + aavg / fw), 9), 6) AS ctfidf
         |  FROM tf JOIN fw ON fw.w = tf.w CROSS JOIN a)
         |SELECT source, w, ctfidf, CAST(rn AS BIGINT) AS rk
         |FROM (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY ctfidf DESC, w) AS rn FROM sc)
         |WHERE rn <= 5 ORDER BY source, rk""".stripMargin),

    // --- outer union (schema-evolution append): two frames with
    //     partially-overlapping schemas unioned BY NAME, absent columns
    //     null-filled — the ingestion shape when upstream adds fields ---
    QuerySpec("q_outer_union", (s, dir) => {
      val a = t(s, dir, "orders")
        .select(col("o_orderkey").as("id"), col("o_totalprice").as("amount"),
          col("o_orderstatus").as("status"), lit("orders").as("src"))
      val b = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("id"), col("value").as("amount"),
          col("user_id"), lit("events").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy("src", "id")
    },
      """SELECT * FROM (
        |  SELECT o_orderkey AS id, o_totalprice AS amount, o_orderstatus AS status,
        |    'orders' AS src, NULL::BIGINT AS user_id FROM orders
        |  UNION ALL
        |  SELECT event_id, value, NULL, 'events', user_id
        |  FROM events WHERE event_type = 'purchase')
        |ORDER BY src, id""".stripMargin),

    // --- CUSUM changepoint screen per event type: the day where the
    //     cumulative deviation from the series mean peaks — level-shift
    //     detection over the daily value series. Prefix sums stay EXACT
    //     decimals; the only doubles are the mean division and the
    //     final |Sk − k·mean|, identically shaped on both engines. ---
    QuerySpec("q_cusum_changepoint", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("dv"))
      val wOrd = Window.partitionBy("event_type").orderBy("day")
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = daily.groupBy("event_type")
        .agg(sum(col("dv")).as("sn"), count(lit(1)).as("nd"))
      val sc = daily
        .withColumn("k", row_number().over(wOrd).cast("long"))
        .withColumn("sk", sum(col("dv")).over(wCum))
        .join(tot, "event_type")
        .select(col("event_type"), col("day"), col("nd"),
          round(abs(col("sk").cast("double")
            - col("k") * (col("sn").cast("double") / col("nd"))), 6).as("cusum"))
      val r = Window.partitionBy("event_type").orderBy(col("cusum").desc, col("day"))
      sc.withColumn("rk", row_number().over(r)).filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("peak_day"),
          col("cusum").as("peak_cusum"), col("nd").as("n_days"))
        .orderBy("event_type")
    },
      """WITH daily AS (SELECT event_type, ts::DATE AS day,
        |    sum(CAST(value AS DECIMAL(18,6))) AS dv
        |  FROM events GROUP BY event_type, ts::DATE),
        |tot AS (SELECT event_type, sum(dv) AS sn, CAST(count(*) AS BIGINT) AS nd
        |        FROM daily GROUP BY event_type),
        |cum AS (SELECT event_type, day,
        |    CAST(row_number() OVER w AS BIGINT) AS k,
        |    sum(dv) OVER (PARTITION BY event_type ORDER BY day
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |sc AS (SELECT c.event_type, day, nd,
        |    round(abs(sk::DOUBLE - k * (sn::DOUBLE / nd)), 6) AS cusum
        |  FROM cum c JOIN tot USING (event_type))
        |SELECT event_type, day AS peak_day, cusum AS peak_cusum, nd AS n_days
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY cusum DESC, day) AS rk FROM sc)
        |WHERE rk = 1 ORDER BY event_type""".stripMargin),

    // --- Hill tail-index estimator per language over document lengths:
    //     α̂ = (k−1) / Σᵢ₍ᵣₖ₌₁..ₖ₋₁₎ ln(xᵢ/xₖ) on the top-k order
    //     statistics (k = 20) — the heavy-tail audit that tells a
    //     packing/truncation policy how fat the length tail really is.
    //     The top-k rank is WindowGroupLimit-pruned; every ln argument
    //     is an integer length. ---
    QuerySpec("t_hill_tail", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = docs(s, dir).select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 20)
      val xk = ranked.filter(col("rk") === 20)
        .select(col("lang"), col("n_chars").as("xk"))
      ranked.filter(col("rk") < 20).join(xk, "lang")
        .groupBy("lang").agg(
          max(col("xk")).as("x_cutoff"),
          sum(round(log(col("n_chars").cast("double"))
              - log(col("xk").cast("double")), 9)
            .cast("decimal(28,9)")).cast("double").as("denom"))
        .select(col("lang"), col("x_cutoff"),
          when(col("denom") > 0, round(lit(19.0) / col("denom"), 6))
            .as("hill_alpha"))
        .orderBy("lang")
    },
      """WITH ranked AS (SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents),
        |xk AS (SELECT lang, n_chars AS xk FROM ranked WHERE rk = 20)
        |SELECT r.lang, CAST(max(xk) AS BIGINT) AS x_cutoff,
        |  CASE WHEN CAST(sum(CAST(round(ln(n_chars::DOUBLE) - ln(xk::DOUBLE), 9)
        |         AS DECIMAL(28,9))) AS DOUBLE) > 0
        |       THEN round(19.0 / CAST(sum(CAST(round(ln(n_chars::DOUBLE) - ln(xk::DOUBLE), 9)
        |         AS DECIMAL(28,9))) AS DOUBLE), 6) END AS hill_alpha
        |FROM ranked r JOIN xk USING (lang)
        |WHERE rk < 20 GROUP BY r.lang ORDER BY r.lang""".stripMargin),

    // --- dedup threshold curve: minhash-estimate S-curve — candidate
    //     pairs and docs-removed at each Jaccard threshold, in ONE pass
    //     over the LSH pairs (threshold fan-out is a literal-array
    //     explode, never a re-run of the banding stages). The tuning
    //     table that picks the threshold before a 100 TB dedup. ---
    QuerySpec("d_dedup_curve", (s, dir) => {
      val spark = s
      import spark.implicits._
      val pairs = graft.operators.Dedup.minhashLsh(
        docs(s, dir), "doc_id", "text", minEstJaccard = 0.0)
      val th = Seq(0.5, 0.625, 0.75, 0.875, 1.0).toDF("threshold")
      th.crossJoin(pairs).groupBy("threshold").agg(
          sum(when(col("est_jaccard") >= col("threshold"), 1L).otherwise(0L))
            .as("n_pairs"),
          countDistinct(when(col("est_jaccard") >= col("threshold"), col("d2")))
            .as("n_docs_removed"))
        .orderBy("threshold")
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
         |est AS (SELECT d1, d2, count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 AS est_jaccard
         |        FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |        GROUP BY d1, d2),
         |th AS (SELECT unnest([0.5, 0.625, 0.75, 0.875, 1.0]) AS threshold)
         |SELECT threshold,
         |  CAST(sum(CASE WHEN est_jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT CASE WHEN est_jaccard >= threshold THEN d2 END) AS BIGINT) AS n_docs_removed
         |FROM th CROSS JOIN est GROUP BY threshold ORDER BY threshold""".stripMargin),

    // --- bigram entropy rate per language: H(w|prev) of the corpus's
    //     own bigram distribution — the sequence-level repetitiveness
    //     signal (templated text collapses toward 0) beside the
    //     unigram char entropy. Every ln argument is an integer count;
    //     9-dp/decimal accumulation. ---
    QuerySpec("t_entropy_rate", (s, dir) => {
      import graft.functions.TextFunctions._
      val bi = graft.functions.SafeExplode.explodeSelect(
          docs(s, dir).select(col("lang"), tokens(col("text")).as("t")),
          Seq(col("lang")),
          when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              i => concat_ws(" ", element_at(col("t"), i),
                element_at(col("t"), i + 1))))
            .otherwise(array().cast("array<string>")), "bg")
        .select(col("lang"), split_part(col("bg"), lit(" "), lit(1)).as("w1"),
          col("bg"))
        .groupBy("lang", "w1", "bg").agg(count(lit(1)).as("c2"))
      val ctx = bi.groupBy("lang", "w1").agg(sum(col("c2")).as("cp"))
      bi.join(ctx, Seq("lang", "w1"))
        .groupBy("lang").agg(
          sum(col("c2")).as("n_bigrams"),
          sum(round(col("c2") * (log(col("cp").cast("double"))
              - log(col("c2").cast("double"))), 9)
            .cast("decimal(28,9)")).cast("double").as("num"))
        .select(col("lang"), col("n_bigrams"),
          round(col("num") / col("n_bigrams"), 6).as("entropy_rate"))
        .orderBy("lang")
    },
      s"""WITH bi AS (SELECT lang, t[i] AS w1, t[i] || ' ' || t[i+1] AS bg,
         |    CAST(count(*) AS BIGINT) AS c2
         |  FROM (SELECT lang, $toks AS t FROM documents),
         |       unnest(range(1, len(t))) AS x(i)
         |  GROUP BY lang, t[i], t[i] || ' ' || t[i+1]),
         |ctx AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS cp FROM bi GROUP BY lang, w1)
         |SELECT bi.lang, CAST(sum(c2) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(CAST(round(c2 * (ln(cp::DOUBLE) - ln(c2::DOUBLE)), 9)
         |      AS DECIMAL(28,9))) AS DOUBLE) / sum(c2), 6) AS entropy_rate
         |FROM bi JOIN ctx USING (lang, w1)
         |GROUP BY bi.lang ORDER BY lang""".stripMargin),

    // --- hopping (sliding) windowed counts: 1-day windows every 12 h —
    //     each event feeds two windows; same code runs readStream ---
    QuerySpec("st_hopping_window", (s, dir) =>
      graft.streaming.EventStream.hoppingWindowedCounts(t(s, dir, "events"))
        .orderBy("window_start", "event_type"),
      """WITH g AS (SELECT event_type, value,
        |    epoch_us(ts) // 43200000000 AS g1 FROM events),
        |w AS (SELECT event_type, value,
        |    unnest([g1 * 43200000000, (g1 - 1) * 43200000000]) AS ws FROM g)
        |SELECT make_timestamp(ws) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin),

    // --- whitened retrieval ("All-but-the-Top", Mu & Viswanath 2018):
    //     project the dominant PCA axis out of every embedding, then
    //     brute-force top-k on the whitened vectors — the anisotropy
    //     correction that typically sharpens cosine retrieval. The axis
    //     is the a_pca_power iterate (model-sized literal); the
    //     projection is one in-row zip_with, 9-dp pinned. ---
    QuerySpec("a_ann_whitened", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Vectors
      // widen: the whitening projection + brute-force cosine fan-out is
      // per-row O(dims²) map work — a compact single-file parquet scan
      // would serialize it into ONE task (measured 3.7 s of 6.8 s wall in
      // two single-task stages, r16 profile); the fan-out guard spreads
      // it across the cluster exactly like the Similarity operators do
      val e = graft.operators.Dedup.widen(t(s, dir, "embeddings"))
      val v = Vectors.powerIterationPC(e, "embedding", dims = 64, iters = 2)
      val vlit = typedLit(v)
      val dp = round(Vectors.dot(col("embedding"), vlit), 9)
      val wv = zip_with(col("embedding").cast("array<double>"), vlit,
        (x, vv) => round(x - col("__dp") * vv, 9))
      val tx = e.select(col("vec_id"), dp.as("__dp"), col("embedding"))
        .select(col("vec_id"), wv.as("wv"))
      // fixed-count query sample (see Similarity.fixedQuerySample): the
      // %-based sample made this eval's brute-force term quadratic in SF
      val q = graft.operators.Similarity.fixedQuerySample(tx, "vec_id")
        .select(col("vec_id").as("qid"), col("wv").as("qv"))
      val scored = tx.select(col("vec_id").as("nid"), col("wv").as("nv"))
        .join(broadcast(q), col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          Vectors.cosine(col("qv"), col("nv")).as("cos"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("qid", "rk")
    },
      s"""WITH ${OracleSamples.qsCte},
         |e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
         |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |v0 AS (SELECT unnest(range(64)) AS d, 0.125 AS val),
         |${pcaIter("v0", "v1")},
         |${pcaIter("v1", "v2")},
         |vl AS (SELECT list(val ORDER BY d) AS l FROM v2),
         |tx AS (SELECT vec_id,
         |    list_transform(range(64), i ->
         |      round(v[i+1] - round(list_dot_product(v, l), 9) * l[i+1], 9)) AS wv
         |  FROM e0 CROSS JOIN vl),
         |sc AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(list_dot_product(q.wv, c.wv) /
         |      (sqrt(list_dot_product(q.wv, q.wv)) * sqrt(list_dot_product(c.wv, c.wv))), 6) AS cos
         |  FROM tx q JOIN tx c ON q.vec_id IN (SELECT vec_id FROM qs) AND q.vec_id <> c.vec_id)
         |SELECT qid, nid, cos, CAST(rn AS BIGINT) AS rk
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM sc)
         |WHERE rn <= 5 ORDER BY qid, rk""".stripMargin),

    // --- ROUGE-2 between adjacent document pairs (doc 2k vs 2k+1):
    //     clipped bigram overlap precision/recall/F — the reference
    //     summarization/near-para metric as a distributed pairwise
    //     eval. Pair key = doc_id div 2 (equi-join, never all-pairs);
    //     all counts integer, three rounded divisions. ---
    QuerySpec("t_rouge_pairs", (s, dir) => {
      import graft.functions.TextFunctions._
      val bg = graft.functions.SafeExplode.explodeSelect(
          docs(s, dir).select(col("doc_id"), tokens(col("text")).as("t")),
          Seq(col("doc_id")),
          when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              i => concat_ws(" ", element_at(col("t"), i),
                element_at(col("t"), i + 1))))
            .otherwise(array().cast("array<string>")), "bg")
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      val a = bg.filter(col("doc_id") % 2 === 0)
        .select(expr("doc_id div 2").as("pair_id"),
          col("bg"), col("c").as("c1"))
      val b = bg.filter(col("doc_id") % 2 === 1)
        .select(expr("doc_id div 2").as("pair_id"), col("bg"), col("c").as("c2"))
      val tot1 = a.groupBy("pair_id").agg(sum(col("c1")).as("n1"))
      val tot2 = b.groupBy("pair_id").agg(sum(col("c2")).as("n2"))
      val ov = a.join(b, Seq("pair_id", "bg"))
        .groupBy("pair_id").agg(sum(least(col("c1"), col("c2"))).as("overlap"))
      val p = col("overlap").cast("double") / col("n2")
      val r = col("overlap").cast("double") / col("n1")
      tot1.join(tot2, Seq("pair_id"), "inner")
        .join(ov, Seq("pair_id"), "left")
        .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
        .select(col("pair_id"), col("n1"), col("n2"), col("overlap"),
          when(col("overlap") > 0, round(p, 6)).otherwise(0.0).as("rouge2_p"),
          when(col("overlap") > 0, round(r, 6)).otherwise(0.0).as("rouge2_r"),
          when(col("overlap") > 0,
            round(lit(2.0) * p * r / (p + r), 6)).otherwise(0.0).as("rouge2_f"))
        .orderBy("pair_id")
    },
      {
        val p = "(overlap::DOUBLE / n2)"
        val r = "(overlap::DOUBLE / n1)"
        s"""WITH bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, count(*) AS c
           |  FROM (SELECT doc_id, $toks AS t FROM documents),
           |       unnest(range(1, len(t))) AS x(i)
           |  GROUP BY doc_id, t[i] || ' ' || t[i+1]),
           |a AS (SELECT doc_id // 2 AS pair_id, bg, c AS c1 FROM bg WHERE doc_id % 2 = 0),
           |b AS (SELECT doc_id // 2 AS pair_id, bg, c AS c2 FROM bg WHERE doc_id % 2 = 1),
           |t1 AS (SELECT pair_id, CAST(sum(c1) AS BIGINT) AS n1 FROM a GROUP BY pair_id),
           |t2 AS (SELECT pair_id, CAST(sum(c2) AS BIGINT) AS n2 FROM b GROUP BY pair_id),
           |ov AS (SELECT a.pair_id, CAST(sum(least(c1, c2)) AS BIGINT) AS overlap
           |       FROM a JOIN b ON a.pair_id = b.pair_id AND a.bg = b.bg
           |       GROUP BY a.pair_id)
           |SELECT t1.pair_id, n1, n2, coalesce(overlap, 0)::BIGINT AS overlap,
           |  CASE WHEN coalesce(overlap, 0) > 0 THEN round($p, 6) ELSE 0.0 END AS rouge2_p,
           |  CASE WHEN coalesce(overlap, 0) > 0 THEN round($r, 6) ELSE 0.0 END AS rouge2_r,
           |  CASE WHEN coalesce(overlap, 0) > 0
           |       THEN round(2.0 * $p * $r / ($p + $r), 6) ELSE 0.0 END AS rouge2_f
           |FROM t1 JOIN t2 USING (pair_id) LEFT JOIN ov USING (pair_id)
           |ORDER BY pair_id""".stripMargin
      }),

    // --- tokenizer fertility per language: BPE-ish subtokens per word
    //     token — the budget planner's "how many model tokens does a
    //     word of language X cost" table (fertility rises on scripts
    //     the tokenizer splits hard). Exact integer counts, one rounded
    //     division. ---
    QuerySpec("t_fertility", (s, dir) => {
      import graft.functions.TextFunctions._
      docs(s, dir)
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("nw"),
          size(bpeishTokens(col("text"))).cast("long").as("nb"))
        .groupBy("lang")
        .agg(sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpeish"))
        .select(col("lang"), col("n_words"), col("n_bpeish"),
          when(col("n_words") > 0,
            round(col("n_bpeish").cast("double") / col("n_words"), 6))
            .as("fertility"))
        .orderBy("lang")
    },
      """SELECT lang,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_words,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_bpeish,
        |  CASE WHEN sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) > 0
        |       THEN round(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))::DOUBLE
        |            / sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 6) END AS fertility
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
  )
}
