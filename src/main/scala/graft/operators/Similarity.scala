package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.functions.TextFunctions.md5BitSql
import graft.operators.Dedup.widen

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two tiers, per the standard recall/cost trade:
  *   - [[bruteForceTopK]] — exact baseline: score every (query, corpus)
  *     pair. Correct at any scale only when the query set is small enough
  *     to broadcast; the corpus side streams, so it's a map-only pass
  *     (no shuffle of the corpus) followed by a per-query top-k.
  *   - [[lshTopK]] — the scale path: random-hyperplane LSH buckets both
  *     sides, candidates are bucket-equi-join matches only, then exact
  *     cosine rerank. Hyperplane j's component for dimension d is a
  *     deterministic ±1 from md5(j,"_",d) parity, so the index is
  *     reproducible with no stored model and both sides of a join build
  *     identical planes — the property that lets two independent 100 TB
  *     passes agree.
  */
object Similarity {

  /** Fixed-count deterministic query sample for recall/eval harnesses:
    * the `n` hash-minimal ids (order by md5(id), id — one TakeOrdered
    * scan, no full sort). THE scale-honest eval shape: a %-of-corpus
    * sample grows with the data, which makes the brute-force ground
    * truth O(N²/f) by construction (measured 10.1× for 10× data at the
    * sf1 anchor vs 1.8× for this fixed-count form — BASELINE.md); with
    * a fixed query count the ground truth is LINEAR in corpus size.
    * The hash-order pick is content-stable: the same ids are sampled on
    * any engine, any partitioning, any row order. */
  def fixedQuerySample(df: DataFrame, idCol: String, n: Int = 20): DataFrame = {
    require(!df.columns.contains("__ph"),
      "fixedQuerySample: column '__ph' collides with an internal name")
    df.withColumn("__ph", md5(col(idCol).cast("string")))
      .orderBy(col("__ph").asc, col(idCol).asc).limit(n)
      .drop("__ph")
  }

  /** Exact top-k by cosine for each query vector. `queries` should be
    * small (it is broadcast); corpus scans once. Deterministic tiebreak on
    * neighbor id. */
  def bruteForceTopK(corpus0: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int = 5): DataFrame = {
    val corpus = widen(corpus0)
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosineNative(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Two-stage retrieval with prefix-dimension pruning — the Matryoshka
    * recipe (Kusupati et al. 2022, "Matryoshka Representation Learning"):
    * stage 1 scores each (query, corpus) pair on only the FIRST
    * `prefixDims` components and keeps the `candidates` best per query;
    * stage 2 reranks that bounded pool by full-vector cosine and keeps
    * top-k. With MRL-trained embeddings the prefix is itself a faithful
    * low-dim embedding, so the coarse pass loses little recall while
    * doing dims/prefixDims less multiply work per pair.
    *
    * Scale shape: queries broadcast; stage 1 emits ONLY
    * (qid, nid, coarse score) — the per-query candidate rank (a
    * WindowGroupLimit-pruned window) shuffles 20-byte rows, never the
    * vectors. Full vectors re-enter by joining the candidate pool
    * (queries × candidates rows — tiny, AQE broadcasts it) back to the
    * corpus, so each corpus vector crosses the wire only if it made some
    * query's pool. At 100 TB the prefix would also be STORED as its own
    * column so the stage-1 scan reads prefixDims/dims of the bytes —
    * parquet column pruning does the rest.
    *
    * Output: (qid, nid, cos, rk), rk over full-vector cosine desc /
    * nid asc — same contract as [[bruteForceTopK]]. */
  def prefixRerankTopK(corpus0: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int = 5,
                       prefixDims: Int = 16, candidates: Int = 50): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be positive, got $prefixDims")
    require(candidates >= k, s"candidate pool $candidates smaller than k $k")
    val corpus = widen(corpus0)
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val coarse = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosineNative(slice(col("qv"), 1, prefixDims),
          slice(col("nv"), 1, prefixDims)).as("ccos"))
    val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("nid").asc)
    val pool = coarse.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= candidates)
      .select("qid", "nid")
    val rescored = pool
      .join(q, "qid")
      .join(corpus.select(col(idCol).as("nid"), col(vecCol).as("nv")), "nid")
      .select(col("qid"), col("nid"),
        Vectors.cosineNative(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    rescored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-`k` most-similar corpus vectors that sit in a DIFFERENT coarse
    * cluster — high-cosine neighbors the quantizer calls unrelated,
    * exactly the pairs embedding-model training wants as negatives
    * (in-cluster neighbors are presumed positives/duplicates and are
    * excluded). `centroids` is a (cid, cv) frame, normally the
    * [[graft.operators.Vectors.kmeansTrain]] model.
    *
    * Scale shape: the model collects to the driver (model-sized) and
    * BOTH sides take their cluster id as a pure in-row argmax against
    * the centroid literal — zero assignment shuffles (the
    * [[ivfTopKWithCentroids]] discipline); queries broadcast, the
    * corpus streams through one scoring pass, and the per-query top-k
    * is a WindowGroupLimit-pruned rank. For corpora too big to
    * brute-force score, swap the scored frame for any ANN candidate
    * stage — the cluster-exclusion filter composes unchanged. */
  def hardNegatives(corpus0: DataFrame, queries: DataFrame,
                    centroids: DataFrame, idCol: String, vecCol: String,
                    k: Int = 5): DataFrame = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    val corpus = widen(corpus0)
    val cents = centroids.select(col("cid"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    require(cents.nonEmpty, "hardNegatives needs a non-empty centroid model")
    val q = broadcast(queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("q_cid", Vectors.nearestCidExpr(col("qv"), cents)))
    val scored = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("n_cid", Vectors.nearestCidExpr(col("nv"), cents))
      .join(q, col("qid") =!= col("nid") && col("q_cid") =!= col("n_cid"))
      .select(col("qid"), col("nid"),
        Vectors.cosineNative(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Random-hyperplane LSH bucket id (one `planes`-bit integer per row).
    * dot(v, r_j) where r_jd = ±1 from md5(j,"_",d) parity; bit j = sign.
    *
    * One map-side projection through the native
    * [[graft.plans.HyperplaneBuckets]] kernel — zero shuffles, zero row
    * blowup, and no driver job to probe dims. (The earlier driver-unrolled
    * column form computed identical buckets but built a planes × dims
    * expression tree whose multi-second Janino compile was re-paid on
    * every generated-class cache eviction in multi-query workloads.) */
  def lshBuckets(df0: DataFrame, idCol: String, vecCol: String,
                 planes: Int = 8): DataFrame = {
    val df = widen(df0)
    df.select(col(idCol),
      GraftFunctions.hyperplaneBucket(col(vecCol), planes).as("bucket"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (every
    * `centroidEvery`-th vector serves as a centroid — at real scale,
    * k-means centroids slot in here) assigns each corpus vector to its
    * nearest centroid; a query probes its `nprobe` nearest centroids and
    * reranks only the vectors in those inverted lists by exact cosine.
    *
    * Scale shape: the centroid set is model-sized and ships as a plan
    * literal (assignment is a pure in-row argmax over the corpus — zero
    * joins, zero shuffles, zero row fan-out; see
    * [[Vectors.nearestCidExpr]]); the probe join is an equi-join on
    * centroid id with the (small) probe side broadcast, so the candidate
    * volume is nprobe/K of the corpus per query instead of all of it. */
  def ivfTopK(corpus0: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 5,
              nprobe: Int = 2, centroidEvery: Int = 100): DataFrame =
    ivfTopKWithCentroids(corpus0, queries,
      widen(corpus0).filter(col(idCol) % centroidEvery === 1)
        .select(col(idCol).as("cid"), col(vecCol).as("cv")),
      idCol, vecCol, k, nprobe)

  /** IVF ANN over a TRAINED coarse quantizer: `centroids` is a (cid, cv)
    * frame — in production the k-means model from
    * [[graft.operators.Vectors.kmeansTrain]] (`cents.toDF("cid", "cv")`).
    * Same plan shape as [[ivfTopK]]: the model collects to the driver
    * (model-sized, the same budget class as [[Vectors.kmeansTrain]]'s
    * centroid collect) and corpus assignment is a pure in-row argmax;
    * the probe join is a broadcast equi-join on centroid id. */
  def ivfTopKWithCentroids(corpus0: DataFrame, queries: DataFrame,
                           centroids: DataFrame,
                           idCol: String, vecCol: String, k: Int = 5,
                           nprobe: Int = 2): DataFrame = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    val corpus = widen(corpus0)
    val cents = centroids.select(col("cid"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    require(cents.nonEmpty, "ivfTopKWithCentroids needs a non-empty centroid model")
    // corpus side: in-row n=1 assignment (zero shuffle); query side:
    // in-row top-nprobe probe list, exploded to one row per probed list —
    // the fan-out is nprobe × |queries|, never k × |corpus|
    val assign = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("n_cid", Vectors.nearestCidExpr(col("nv"), cents))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("cid",
        explode_outer(Vectors.nearestCidsExpr(col("qv"), cents, nprobe)))
      .filter(col("cid").isNotNull) // outer+filter: see SafeExplode
    val scored = broadcast(probes).join(assign, col("cid") === col("n_cid") &&
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosineNative(col("qv"), col("nv")).as("cos"))
      .distinct() // a neighbor can surface via multiple probed centroids
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Zero-safe 6-dp cosine for the PQ family: a zero-norm side scores
    * 0.0 instead of dividing by zero. Residual quantization makes zero
    * vectors ROUTINE (a coarse centroid's own residual is exactly 0⃗,
    * and an all-zero-cluster codebook entry is too) — under ANSI mode
    * the plain quotient throws, and DuckDB's NaN ordering would diverge
    * from any non-throwing engine, so both sides pin the same defined
    * value: all-tie → lowest-cid assignment. Identical to
    * [[Vectors.cosine]] whenever both norms are nonzero. */
  /** Zero-safe nearest-codebook-entry id of `sv` against a LITERAL
    * per-subspace codebook, via the native kernel's `zeroSafe` mode: a
    * zero-norm side scores exactly 0.0 instead of dividing by zero.
    * Residual quantization makes zero vectors ROUTINE (a coarse
    * centroid's own residual is exactly 0⃗, and an all-zero-cluster
    * codebook entry is too); under ANSI mode the plain quotient would
    * throw, and NaN ordering diverges between engines, so both sides
    * pin the same defined value — all-tie → lowest-cid assignment.
    * Bit-identical to the `array_max(struct(cosineSafe, -cid))` column
    * form it replaced at the three PQ argmax sites, but constant
    * compile cost instead of an O(ks·sub) unrolled tree per subspace
    * per query. */
  private def bestCidZs(sv: Column, cb: Seq[(Long, Array[Float])]): Column =
    element_at(GraftFunctions.nearestCentroids(sv,
      typedLit(cb.map { case (cid, cv) => (cid, cv.toSeq) }), 1, zeroSafe = true), 1)

  /** Product-quantization codebooks (Jégou et al. 2011, TPAMI "Product
    * Quantization for Nearest Neighbor Search"): the vector space splits
    * into `m` contiguous subspaces and each gets its own `ks`-centroid
    * quantizer, trained with the deterministic
    * [[graft.operators.Vectors.kmeansTrain]] on the corpus subvectors
    * (raw vectors, not coarse residuals — faiss's by_residual=false
    * variant — which keeps the trained model independent of the coarse
    * quantizer and oracle-checkable on its own). Model size: m × ks ×
    * (dims/m) floats — driver/model-sized by construction. */
  def pqTrain(corpus0: DataFrame, idCol: String, vecCol: String,
              dims: Int, m: Int = 4, ks: Int = 4, iters: Int = 2)
      : Seq[Seq[(Long, Array[Float])]] = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    require(iters >= 1, s"pqTrain needs iters >= 1, got $iters")
    val sub = dims / m
    val spark = corpus0.sparkSession
    import spark.implicits._
    val corpus = widen(corpus0)
    // All m quantizers train FUSED — per Lloyd round, ONE corpus pass
    // computes every subspace's in-row argmax (6-dp cosine vs literal
    // centroids, lowest cid on ties — bit-identical to
    // [[Vectors.kmeansTrain]]'s crossJoin+window assignment) and one
    // keyed decimal-mean aggregate updates all m × ks centroids. m
    // separate kmeansTrain calls would scan the corpus m times per round
    // and schedule ~3m driver jobs; the fused pass costs the same
    // |corpus| × dims explode ONCE. Decimal sums keep the means
    // order-independent, so the trained model is unchanged.
    val seeds = corpus.select(col(idCol), col(vecCol).as("v"))
      .orderBy(col(idCol).asc).limit(ks)
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    var cbs: Seq[Seq[(Long, Array[Float])]] = (0 until m).map(s =>
      seeds.map { case (cid, v) => (cid, v.slice(s * sub, (s + 1) * sub)) })
    for (_ <- 1 until iters) {
      val assigns = (0 until m).map { s =>
        val sv = slice(col("v"), lit(s * sub + 1), lit(sub))
        bestCidZs(sv, cbs(s)).as(s"c$s")
      }
      // assigns materialize as plain columns BEFORE the array wrap:
      // array()'s type coercion strips struct field names, so the
      // argmax's getField must resolve in its own projection
      val means = corpus.select(col(vecCol).as("v"))
        .select(col("v") +: assigns: _*)
        .select(array((0 until m).map(s => col(s"c$s")): _*).as("cids"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .select((col("dim") / lit(sub)).cast("int").as("s"),
          element_at(col("cids"), (col("dim") / lit(sub)).cast("int") + 1).as("cid"),
          col("dim"), col("x"))
        .groupBy("s", "cid", "dim")
        .agg((sum(col("x").cast("double").cast("decimal(30,15)")).cast("double")
          / count(lit(1))).as("mv"))
        .as[(Int, Long, Int, Double)].collect()
      val bySub = means.groupBy(_._1)
      cbs = (0 until m).map { s =>
        val byCid = bySub.getOrElse(s, Array.empty).groupBy(_._2)
        cbs(s).map { case (cid, old) =>
          byCid.get(cid) match {
            case Some(rs) => (cid, rs.sortBy(_._3).map(_._4.toFloat).toArray)
            case None => (cid, old) // empty cluster keeps its centroid
          }
        }
      }
    }
    cbs
  }

  /** PQ code assignment — the artifact a 100 TB embedding store actually
    * persists: each vector compresses to m centroid ids (m × log2(ks)
    * bits instead of dims × 32). Pure in-row projection against the
    * LITERAL codebooks (no joins, no shuffle); same 6-dp-cosine /
    * lowest-cid argmax as [[pqRecon]], so decode(encode(v)) is exactly
    * the reconstruction the ADC scoring uses.
    * Output: (idCol, code_0 .. code_{m-1}). */
  def pqEncode(corpus0: DataFrame, idCol: String, vecCol: String,
               cbs: Seq[Seq[(Long, Array[Float])]], dims: Int): DataFrame = {
    widen(corpus0).select(col(idCol) +: pqCodeCols(vecCol, cbs, dims): _*)
  }

  /** PQ reconstruction expression: per subspace, the in-row argmax of
    * the subvector against the LITERAL codebook (6-dp cosine, lowest
    * centroid id on ties — the same contract as every assignment in the
    * ANN family), concatenated back to a dims-wide array. Codebooks are
    * literals, not a broadcast join: encoding is pure projection inside
    * whole-stage codegen — zero joins, zero shuffles on the corpus. */
  private def pqRecon(v: Column, cbs: Seq[Seq[(Long, Array[Float])]],
                      sub: Int): Column =
    concat(cbs.zipWithIndex.map { case (cb, s) =>
      val sv = slice(v, lit(s * sub + 1), lit(sub))
      // kernel argmax = highest zero-safe cosine, then LOWEST cid
      val best = bestCidZs(sv, cb)
      coalesce(cb.map { case (cid, cv) =>
        when(best === lit(cid), typedLit(cv.toSeq))
      }: _*)
    }: _*)

  /** PQ distortion: mean squared reconstruction error of the trained
    * codebooks over the corpus — the quantization-quality number read
    * BESIDE the recall evals (recall says whether ranking survives;
    * MSE says how much signal the 32–64× compression destroys, and is
    * the metric faiss tunes m/ks against). Per-subspace SSE is a fixed
    * left-to-right in-row fold rounded at 9 dp, subspace sums and the
    * corpus mean accumulate in DECIMAL — partitioning-invariant and
    * engine-portable. One corpus pass, codebooks as plan literals. */
  def pqDistortion(corpus0: DataFrame, idCol: String, vecCol: String,
                   cbs: Seq[Seq[(Long, Array[Float])]], dims: Int): DataFrame = {
    val m = cbs.length
    val sub = dims / m
    val rec = pqRecon(col(vecCol), cbs, sub)
    val sses = (0 until m).map { s =>
      val sv = slice(col(vecCol), lit(s * sub + 1), lit(sub))
      val rv = slice(rec, lit(s * sub + 1), lit(sub))
      round(aggregate(
        zip_with(sv, rv, (a, b) => {
          val d = a.cast("double") - b.cast("double"); d * d
        }),
        lit(0.0), (acc, x) => acc + x), 9).cast("decimal(28,9)").as(s"sse_$s")
    }
    widen(corpus0).select(sses: _*)
      .select(sses.indices.map(i => col(s"sse_$i")).reduce(_ + _).as("sse"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sse")).as("tot"))
      .select(col("n_vecs"),
        round(col("tot").cast("double") / col("n_vecs"), 6).as("mse"))
  }

  /** IVF-PQ ANN: the [[ivfTopK]] inverted-list probe with candidates
    * scored ASYMMETRICALLY — exact query vector against the candidate's
    * PQ reconstruction (cosine decomposes over subspaces, so this equals
    * the classic per-subspace ADC lookup-table sum; the reconstruction
    * form stays in one codegen'd expression). This is what makes a
    * 100 TB embedding store searchable: stored codes are m × log2(ks)
    * bits per vector instead of dims × 32, and scoring never touches the
    * original candidate vectors.
    *
    * Recall < 1 by construction (coarse probe misses + quantization
    * error) — a_ann_ivfpq_recall measures it against the brute-force
    * ground truth, the same harness the LSH and IVF paths carry. */
  def ivfPqTopK(corpus0: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int = 5,
                nprobe: Int = 2, centroidEvery: Int = 100,
                m: Int = 4, ks: Int = 4, iters: Int = 2): DataFrame = {
    val corpus = widen(corpus0)
    val dims = corpus.select(size(col(vecCol))).head.getInt(0)
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val cbs = pqTrain(corpus, idCol, vecCol, dims, m, ks, iters)
    val cents = coarseCentroids(corpus, idCol, vecCol, centroidEvery)
    require(cents.nonEmpty, "ivfPqTopK found no coarse centroids")
    ivfPqTopKWithModel(corpus, queries, idCol, vecCol, k, nprobe, cents, cbs)
  }

  /** The deterministic id-sampled coarse quantizer shared by the IVF
    * family — exposed so an eval harness (or a real deployment) trains
    * ONCE and reuses the model across probe and recall stages instead of
    * re-collecting per call. */
  def coarseCentroids(corpus0: DataFrame, idCol: String, vecCol: String,
                      centroidEvery: Int): Seq[(Long, Array[Float])] = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    widen(corpus0).filter(col(idCol) % centroidEvery === 1)
      .select(col(idCol), col(vecCol))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
  }

  /** [[ivfPqTopK]] probing with a PRE-TRAINED model (coarse centroids +
    * PQ codebooks) — the deployment shape: training is a bounded one-off,
    * the model persists, and every search/eval stage reuses it. The
    * recall eval trains once and shares the model with its top-k stage
    * instead of retraining inline (the round-9 verdict's structural
    * de-noise for a_ann_ivfpq_recall). */
  def ivfPqTopKWithModel(corpus0: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         nprobe: Int, cents: Seq[(Long, Array[Float])],
                         cbs: Seq[Seq[(Long, Array[Float])]]): DataFrame = {
    val corpus = widen(corpus0)
    val dims = cbs.map(_.head._2.length).sum
    val sub = dims / cbs.length
    // candidate side carries ONLY its reconstruction forward (at real
    // scale: only its codes) — the exact vector is dropped after encode.
    // Coarse assignment is the in-row literal-model argmax (zero shuffle).
    val assign = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .select(col("nid"),
        Vectors.nearestCidExpr(col("nv"), cents).as("n_cid"),
        pqRecon(col("nv"), cbs, sub).as("rv"))
    ivfPqServe(assign, queries, idCol, vecCol, k, nprobe, cents)
  }

  /** The ONE probe/score/rank stage both IVF-PQ serve paths share
    * ([[ivfPqTopKWithModel]] and [[ivfPqTopKFromCodes]]): the query side
    * explodes its in-row top-nprobe probe list, candidates are the
    * probed-cell equi-join matches scored by exact-query-vs-
    * reconstruction cosine, ranked (score desc, nid). Encoding the
    * family's scoring contract once is what keeps the stored gate
    * hash-aliased to the inline gate. `assign` = (nid, n_cid, rv). */
  private def ivfPqServe(assign: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int, nprobe: Int,
                         cents: Seq[(Long, Array[Float])]): DataFrame = {
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("cid",
        explode_outer(Vectors.nearestCidsExpr(col("qv"), cents, nprobe)))
      .filter(col("cid").isNotNull) // outer+filter: see SafeExplode
    val scored = broadcast(probes).join(assign, col("cid") === col("n_cid") &&
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosine(col("qv"), col("rv")).as("score_pq"))
      .distinct()
    val w = Window.partitionBy("qid").orderBy(col("score_pq").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Two-level IVF search under a [[Vectors.kmeansTwoLevel]] model: a
    * query probes its `n1` nearest level-1 cells, then the `n2` nearest
    * level-2 subcells WITHIN each probed cell — O(k1 + n1·k2) centroid
    * comparisons per query instead of the flat quantizer's O(k1·k2) for
    * the same leaf count (the IMI / IVF-tree probe shape). Candidates
    * are the (cell, subcell) equi-join matches, scored by exact cosine
    * with the usual (cos desc, nid) tiebreak. The candidate side is an
    * in-row (cell, subcell) projection — at deployment it is the stored
    * assignment index, like [[pqIndex]]. */
  def ivf2TopK(corpus0: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               n1: Int, n2: Int,
               cents1: Seq[(Long, Array[Float])],
               cbs: Map[Long, Seq[(Long, Array[Float])]]): DataFrame = {
    val corpus = widen(corpus0)
    val (gExpr, subOf) = Vectors.twoLevelAssignExprs(col("nv"), cents1, cbs)
    val assign = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("g", gExpr)
      .withColumn("sub", subOf(col("g")))
      .select("nid", "nv", "g", "sub")
    // perCellArgmax returns a SCALAR id for n == 1 (the assignment form)
    // and an array for n > 1 (the probe form) — wrap the scalar so the
    // n2 = 1 probe explodes a 1-element array instead of failing
    // analysis (a null scalar for an unmodeled cell becomes array(null),
    // whose exploded null row the isNotNull filter drops — the same
    // semantics as a null probe array)
    val subProbe = Vectors.perCellArgmax(col("qv"), col("g"), cbs, n2)
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("g",
        explode_outer(Vectors.nearestCidsExpr(col("qv"), cents1, n1)))
      .filter(col("g").isNotNull) // outer+filter: see SafeExplode
      .withColumn("sub", explode_outer(
        if (n2 == 1) array(subProbe) else subProbe))
      .filter(col("sub").isNotNull)
    val scored = broadcast(probes).join(assign,
        probes("g") === assign("g") && probes("sub") === assign("sub") &&
          col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosine(col("qv"), col("nv")).as("cos"))
      .distinct()
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** The persisted-index projection for an IVF-PQ store: one row per
    * vector with its coarse cell and its m subspace codes —
    * (idCol, cid, code_0 .. code_{m-1}). This is the ENTIRE candidate-
    * side artifact a deployment persists (m·log2(ks) bits + one cell id
    * per vector); serving never touches the original embeddings again
    * ([[ivfPqTopKFromCodes]]). Pure in-row projection against the
    * literal models — zero joins, zero shuffles. */
  def pqIndex(corpus0: DataFrame, idCol: String, vecCol: String,
              cents: Seq[(Long, Array[Float])],
              cbs: Seq[Seq[(Long, Array[Float])]], dims: Int): DataFrame = {
    require(cents.nonEmpty, "pqIndex needs a non-empty coarse model")
    widen(corpus0).select(
      col(idCol) +: Vectors.nearestCidExpr(col(vecCol), cents).as("cid")
        +: pqCodeCols(vecCol, cbs, dims): _*)
  }

  /** The ONE encode-expression builder the PQ family shares (pqEncode
    * and pqIndex): per subspace, the in-row argmax of the slice against
    * its literal codebook, emitted as `code_<s>` — keeping every encode
    * site bit-identical is what the decode(code) ≡ reconstruction
    * guarantee of the stored-serve gate rests on. Loud on a ragged
    * split: a non-divisible dims would silently truncate the encoding
    * and null out every downstream cosine. */
  private def pqCodeCols(vecCol: String, cbs: Seq[Seq[(Long, Array[Float])]],
                         dims: Int): Seq[Column] = {
    val m = cbs.length
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    (0 until m).map { s =>
      val sv = slice(col(vecCol), lit(s * sub + 1), lit(sub))
      bestCidZs(sv, cbs(s)).as(s"code_$s")
    }
  }

  /** [[ivfPqTopKWithModel]] serving from the PERSISTED artifacts alone:
    * candidates come from a stored [[pqIndex]] frame — the original
    * embedding column is read ONLY for the query vectors. Each subspace
    * code decodes via a literal codebook lookup (in-row, no join), and
    * decode(code) is bit-identical to the encode-side reconstruction
    * (same argmax produced the code), so results hash-match the
    * inline-encoded path. This is the faiss deployment shape: train
    * once, persist codebooks + centroids (model store) and the code
    * table (index store), and every query runs against the compressed
    * artifacts. */
  def ivfPqTopKFromCodes(codesIdx: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int, nprobe: Int,
                         cents: Seq[(Long, Array[Float])],
                         cbs: Seq[Seq[(Long, Array[Float])]]): DataFrame = {
    def decode(s: Int): Column = {
      val cb = cbs(s)
      cb.tail.foldLeft(
        when(col(s"code_$s") === cb.head._1, typedLit(cb.head._2))) {
        case (acc, (cid, cv)) => acc.when(col(s"code_$s") === cid, typedLit(cv))
      }
    }
    val assign = codesIdx.select(col(idCol).as("nid"), col("cid").as("n_cid"),
      concat(cbs.indices.map(decode): _*).as("rv"))
    ivfPqServe(assign, queries, idCol, vecCol, k, nprobe, cents)
  }

  /** Residual IVF-PQ (faiss's default `by_residual=true`): the PQ
    * codebooks quantize each vector's RESIDUAL from its coarse centroid
    * (v − c), and a candidate reconstructs as c + decode(codes). Residual
    * energy is much smaller than vector energy, so the same ks buys a
    * finer quantization grid — the faithful Jégou et al. construction,
    * alongside [[ivfPqTopK]]'s coarse-independent variant.
    *
    * Cross-engine exactness: the residual is a float32 subtract (Spark
    * `float − float → float`; DuckDB `FLOAT − FLOAT → FLOAT` — both IEEE
    * single ops, bit-identical), and the reconstruction is a float32 add
    * of the coarse centroid and codebook entries, so the whole model is
    * hash-checkable like the rest of the ANN family. Plan shape: in-row
    * literal-model coarse argmax + map-literal residual (pure projection),
    * fused residual codebook training ([[pqTrain]]), in-row encode,
    * inverted-list probe with the probe side broadcast. */
  def ivfPqResidualTopK(corpus0: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int = 5,
                        nprobe: Int = 2, centroidEvery: Int = 100,
                        m: Int = 4, ks: Int = 4, iters: Int = 2): DataFrame = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    val corpus = widen(corpus0)
    val dims = corpus.select(size(col(vecCol))).head.getInt(0)
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    val cents = corpus.filter(col(idCol) % centroidEvery === 1)
      .select(col(idCol), col(vecCol))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    require(cents.nonEmpty, "ivfPqResidualTopK found no coarse centroids")
    // residual frame: in-row literal-model argmax for the coarse id, then
    // an in-row map-literal lookup of the assigned centroid's vector and
    // a float32 subtract — a pure projection end to end, so the three
    // consumers (codebook seed collect, per-round means aggregate,
    // candidate scan) each RE-SCAN instead of caching: re-running a
    // map-side projection is the 100 TB-safe trade vs pinning the corpus
    // in executor memory. (The earlier crossJoin+window form cached here
    // to amortize its per-id ranking Exchange.)
    val cvMap = typedLit(cents.map { case (cid, cv) => (cid, cv.toSeq) }.toMap)
    val assigned = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("n_cid", Vectors.nearestCidExpr(col("nv"), cents))
      .withColumn("cv", element_at(cvMap, col("n_cid")))
      .select(col("nid"), col("n_cid"), col("nv"), col("cv"),
        zip_with(col("nv"), col("cv"), (x, y) => (x - y).cast("float")).as("rv"))
    val cbs = pqTrain(assigned.select(col("nid"), col("rv")), "nid", "rv",
      dims, m, ks, iters)
    // candidate carries c + decode(codes) forward — at real scale the
    // store holds (n_cid, codes); both are recoverable from that pair
    val cand = assigned.select(col("nid"), col("n_cid"),
      zip_with(col("cv"), pqRecon(col("rv"), cbs, sub),
        (x, y) => (x + y).cast("float")).as("recon"))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("cid",
        explode_outer(Vectors.nearestCidsExpr(col("qv"), cents, nprobe)))
      .filter(col("cid").isNotNull) // outer+filter: see SafeExplode
    val scored = broadcast(probes).join(cand, col("cid") === col("n_cid") &&
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosine(col("qv"), col("recon")).as("score_pq"))
      .distinct()
    val w = Window.partitionBy("qid").orderBy(col("score_pq").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Hybrid retrieval: lexical + dense scoring, the standard RAG-corpus
    * ranking. Candidates come from an inverted shingle index (a doc is a
    * candidate for a query iff they share a k-shingle — sparse for real
    * corpora); each candidate is scored
    * `wVec * cosine(q, d) + wLex * |Sh(q) ∩ Sh(d)| / |Sh(q)|` and the
    * top-k per query survive.
    *
    * Scale shape: the query side of retrieval is small by nature, so its
    * shingle postings broadcast (map-side candidate generation against
    * the corpus stream — no corpus shuffle); scoring touches only
    * candidates, with the fused native cosine and merge-walk intersect
    * kernels. `corpus` must carry (idCol, textCol, vecCol); `queryPred`
    * selects the query rows (they remain eligible as neighbors of other
    * queries). */
  def hybridTopK(corpus: DataFrame, queryPred: org.apache.spark.sql.Column,
                 idCol: String, textCol: String, vecCol: String,
                 k: Int = 5, wVec: Double = 0.6, wLex: Double = 0.4,
                 shingleK: Int = 3): DataFrame = {
    import graft.functions.TextFunctions._
    val df = Dedup.widen(corpus)
    // 8-byte hashed shingles through the index and intersect, as in
    // Dedup.ngramJaccard (see Dedup.shingleHash for the collision math).
    // queryPred is evaluated against the FULL corpus row (any column may
    // appear in it) and carried as a flag into the shingle index.
    val docSh = Dedup.hashedShingleSets(df, idCol, textCol, shingleK,
      keep = Seq(col(vecCol).as("vec"), queryPred.as("is_query")))
    val ex = graft.functions.SafeExplode.explodeSelect(
      docSh, Seq(col(idCol), col("is_query")), col("sh"), "s")
    val qSh = broadcast(ex.filter(col("is_query"))
      .select(col(idCol).as("qid"), col("s")))
    val cand = ex.join(qSh, "s")
      .filter(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"))
      .distinct()
    val scored = cand
      .join(docSh.select(col(idCol).as("qid"), col("sh").as("shq"),
        col("n").as("nq"), col("vec").as("qv")), "qid")
      .join(docSh.select(col(idCol).as("nid"), col("sh").as("shn"),
        col("vec").as("nv")), "nid")
      .select(col("qid"), col("nid"),
        (lit(wVec) * Vectors.cosineNative(col("qv"), col("nv")) +
          lit(wLex) * (GraftFunctions.sortedIntersectCount(col("shq"), col("shn"))
            .cast("double") / col("nq"))).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Reciprocal-rank fusion of the dense and lexical retrieval rankings
    * (Cormack, Clarke & Buettcher 2009): RRF(d) = Σ_lists 1/(k0 + rank)
    * over the per-list ranks, instead of [[hybridTopK]]'s weighted score
    * sum. Rank fusion is SCALE-FREE — cosine and containment live on
    * incomparable distributions, and RRF needs no calibration between
    * them, which is why it is the default fusion in search stacks.
    *
    * Same broadcast-shingle-index candidate generation and one scoring
    * pass as [[hybridTopK]]; both ranks come from the SAME scored frame
    * (two windows over one shuffle key), a candidate outside a list's
    * top-`poolK` contributes zero from that list. 1/(k0+rank) over
    * integer ranks is a single IEEE division — engines agree bitwise at
    * the 6-dp rounding. Output: (qid, nid, rrf, rk). */
  def rrfTopK(corpus: DataFrame, queryPred: org.apache.spark.sql.Column,
              idCol: String, textCol: String, vecCol: String,
              k: Int = 5, poolK: Int = 20, k0: Int = 60,
              shingleK: Int = 3): DataFrame = {
    val df = Dedup.widen(corpus)
    val docSh = Dedup.hashedShingleSets(df, idCol, textCol, shingleK,
      keep = Seq(col(vecCol).as("vec"), queryPred.as("is_query")))
    val ex = graft.functions.SafeExplode.explodeSelect(
      docSh, Seq(col(idCol), col("is_query")), col("sh"), "s")
    val qSh = broadcast(ex.filter(col("is_query"))
      .select(col(idCol).as("qid"), col("s")))
    val cand = ex.join(qSh, "s")
      .filter(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"))
      .distinct()
    val scored = cand
      .join(docSh.select(col(idCol).as("qid"), col("sh").as("shq"),
        col("n").as("nq"), col("vec").as("qv")), "qid")
      .join(docSh.select(col(idCol).as("nid"), col("sh").as("shn"),
        col("vec").as("nv")), "nid")
      .select(col("qid"), col("nid"),
        Vectors.cosineNative(col("qv"), col("nv"))
          .as("dcos"),
        (GraftFunctions.sortedIntersectCount(col("shq"), col("shn"))
          .cast("double") / col("nq")).as("lex"))
    val wd = Window.partitionBy("qid").orderBy(col("dcos").desc, col("nid").asc)
    val wl = Window.partitionBy("qid").orderBy(col("lex").desc, col("nid").asc)
    val fused = scored
      .withColumn("rkd", row_number().over(wd))
      .withColumn("rkl", row_number().over(wl))
      .withColumn("rrf", round(
        when(col("rkd") <= poolK, lit(1.0) / (lit(k0.toDouble) + col("rkd")))
          .otherwise(lit(0.0)) +
          when(col("rkl") <= poolK, lit(1.0) / (lit(k0.toDouble) + col("rkl")))
            .otherwise(lit(0.0)), 6))
      .filter(col("rrf") > 0)
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("nid").asc)
    fused.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("qid", "nid", "rrf", "rk")
  }

  /** BM25 (Okapi) ranking of the corpus against a fixed term set — the
    * lexical-retrieval baseline (and the sparse half a production hybrid
    * ranker weights against [[hybridTopK]]'s dense score).
    *
    * Scale shape: per-document term frequencies are IN-ROW `filter`
    * counts over the token array (the query term set is plan-time
    * constant — no token explode, no shuffle of the corpus); the corpus
    * statistics (N, avgdl, per-term document frequency) are ONE global
    * aggregate whose single row joins back by broadcast; scoring is
    * map-side arithmetic and the top-k is a TakeOrdered, so the whole
    * plan shuffles one stats row plus k results regardless of corpus
    * size.
    *
    * Cross-engine determinism: tf/dl/df are exact integers, avgdl
    * accumulates in decimal, idf = ln((N - df + 0.5)/(df + 0.5) + 1)
    * (the standard non-negative variant), per-term contributions sum
    * left-to-right in the fixed `terms` order, score rounds to 6 dp.
    *
    * Output: (idCol, dl, score, rk) for the top `k` docs. */
  def bm25TopK(corpus0: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    import graft.functions.TextFunctions.tokens
    val corpus = widen(corpus0)
    val base = corpus.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(
        col(idCol) +: size(col("toks")).cast("long").as("dl") +:
          terms.indices.map { i =>
            size(filter(col("toks"), x => x === terms(i)))
              .cast("long").as(s"tf_$i") }: _*)
    val statCols =
      count(lit(1)).as("n_docs") +:
        (sum(col("dl").cast("decimal(30,6)")).cast("double") / count(lit(1))).as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log((col("n_docs").cast("double") - col(s"df_$i") + 0.5) /
        (col(s"df_$i") + 0.5) + 1.0)
      // avgdl = 0 (every doc tokenizes empty) would make dl/avgdl 0/0 →
      // NaN scores driving the top-k; guard to 0 so token-free corpora
      // rank all-zero deterministically
      idf * (tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) +
          when(col("avgdl") > 0, lit(b) * col("dl").cast("double") / col("avgdl"))
            .otherwise(lit(0.0))))
    }.reduce(_ + _)
    base.join(broadcast(stats))
      .select(col(idCol), col("dl"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
  }

  /** LSH-bucketed ANN: candidates share a bucket with the query, reranked
    * by exact cosine. Recall < 1 by construction; `planes` trades bucket
    * occupancy (shuffle width) against recall. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int = 5,
              planes: Int = 8): DataFrame = {
    val cb = lshBuckets(corpus, idCol, vecCol, planes)
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
    val qb = lshBuckets(queries, idCol, vecCol, planes)
      .join(queries.select(col(idCol), col(vecCol)), idCol)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        col("bucket").as("qbucket"))
    val scored = cb.join(qb, col("qbucket") === col("bucket") && col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"),
        Vectors.cosineNative(col("qv"), col(vecCol)).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Multi-probe LSH ANN (Lv et al. 2007, "Multi-Probe LSH"): each query
    * probes its own hyperplane bucket PLUS the `planes` Hamming-distance-1
    * neighbors (one sign bit flipped) — the standard recall lever that
    * costs probes× more candidate volume but needs NO extra index
    * replicas (contrast: more tables). Probe codes are generated in-row
    * (a static XOR fan-out of the query's own code), so the corpus index
    * is touched only by the same bucket equi-join as [[lshTopK]]; each
    * (query, corpus) pair can match at most once because a corpus vector
    * owns exactly one bucket and the probe set is distinct — no dedup
    * shuffle needed before the rank. */
  def multiprobeLshTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int = 5,
                        planes: Int = 8): DataFrame = {
    val cb = lshBuckets(corpus, idCol, vecCol, planes)
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
    val probeSet = array_distinct(array(
      (col("bucket") +: (0 until planes).map(p =>
        col("bucket").bitwiseXOR(lit(1L << p)))): _*))
    val qb = lshBuckets(queries, idCol, vecCol, planes)
      .join(queries.select(col(idCol), col(vecCol)), idCol)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        explode(probeSet).as("qbucket"))
    val scored = cb.join(qb, col("qbucket") === col("bucket") && col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"),
        Vectors.cosineNative(col("qv"), col(vecCol)).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  // --- SQ8 scalar quantization (faiss ScalarQuantizer QT_8bit) ---------

  /** SQ8 training: per-dimension (min, max) over the corpus — the 4×
    * compression tier of an embedding store (uint8 per dimension vs
    * float32) above PQ's 32–64×; the store that wants cheap compression
    * WITHOUT codebook training uses this. ONE partial-aggregate-friendly
    * shuffle of per-task (dim, min, max) triples; float min/max is exact
    * and order-independent, so the model is partitioning-invariant and
    * engine-portable. Model = dims × 2 floats (model-budget collect). */
  def sqTrain(corpus0: DataFrame, vecCol: String, dims: Int): Seq[(Float, Float)] = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    val mm = widen(corpus0).select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .as[(Int, Float, Float)].collect()
    require(mm.length == dims,
      s"expected $dims dims in $vecCol, saw ${mm.length}")
    val byDim = mm.map(r => r._1 -> (r._2, r._3)).toMap
    (0 until dims).map(byDim)
  }

  /** Per-dimension uint8 code: floor((x - min) * 255 / (max - min))
    * clamped to [0, 255]; degenerate dimensions (max == min) code 0.
    * floor instead of faiss's round: floor of a double is unambiguous in
    * every engine, where round-half behavior on binary doubles is not —
    * the whole SQ8 surface stays bit-reproducible cross-engine. Pure
    * in-row projection against the LITERAL model — zero joins, zero
    * shuffles on the corpus. */
  private[operators] def sqCodeExpr(v: Column, model: Seq[(Float, Float)]): Column = {
    val mins = typedLit(model.map(_._1.toDouble))
    val maxs = typedLit(model.map(_._2.toDouble))
    zip_with(v, sequence(lit(0), lit(model.length - 1)), (x, d) => {
      val mn = element_at(mins, d + 1)
      val mx = element_at(maxs, d + 1)
      when(mx > mn,
        least(lit(255L), greatest(lit(0L),
          floor((x.cast("double") - mn) * lit(255.0) / (mx - mn)))).cast("int"))
        .otherwise(lit(0))
    })
  }

  /** SQ8 reconstruction from codes: min + (code + 0.5) * (max - min) /
    * 256 (the faiss QT_8bit midpoint decode); degenerate dims
    * reconstruct to min. Same in-row literal-model shape as the
    * encode. */
  private[operators] def sqReconExpr(codes: Column, model: Seq[(Float, Float)]): Column = {
    val mins = typedLit(model.map(_._1.toDouble))
    val maxs = typedLit(model.map(_._2.toDouble))
    zip_with(codes, sequence(lit(0), lit(model.length - 1)), (c, d) => {
      val mn = element_at(mins, d + 1)
      val mx = element_at(maxs, d + 1)
      when(mx > mn,
        mn + (c.cast("double") + lit(0.5)) * (mx - mn) / lit(256.0))
        .otherwise(mn)
    })
  }

  /** SQ8 distortion: mean squared reconstruction error of the trained
    * per-dimension quantizer — the 4×-tier companion of
    * [[pqDistortion]], completing the distortion-vs-compression matrix
    * (flat 0 / SQ8 / PQ / BQ). The per-row SSE is ONE left-to-right
    * in-row fold (the cosine contract's summation order) rounded 9 dp;
    * the corpus mean accumulates in DECIMAL. Map-only vs the literal
    * model. */
  def sqDistortion(corpus0: DataFrame, idCol: String, vecCol: String,
                   model: Seq[(Float, Float)]): DataFrame = {
    val recon = sqReconExpr(sqCodeExpr(col(vecCol), model), model)
    widen(corpus0)
      .select(round(aggregate(
        zip_with(col(vecCol), recon, (a, b) => {
          val d = a.cast("double") - b; d * d
        }),
        lit(0.0), (acc, x) => acc + x), 9).cast("decimal(28,9)").as("sse"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sse")).as("tot"))
      .select(col("n_vecs"),
        round(col("tot").cast("double") / col("n_vecs"), 6).as("mse"))
  }

  /** SQ8 code store — the persisted artifact: (idCol, dim, code), one
    * uint8 per dimension. Map-only projection + in-row explode. */
  def sqEncode(corpus0: DataFrame, idCol: String, vecCol: String,
               model: Seq[(Float, Float)]): DataFrame =
    widen(corpus0).select(col(idCol),
        posexplode_outer(sqCodeExpr(col(vecCol), model)).as(Seq("dim", "code")))
      .filter(col("dim").isNotNull) // outer+filter: see SafeExplode

  /** IVF-SQ ANN (the faiss IVFScalarQuantizer shape — the index most
    * stores actually run at the 4× tier): coarse assignment on the
    * ORIGINAL vectors against the trained centroid model (in-row native
    * kernel, zero shuffle), inverted-list probe exactly as
    * [[ivfTopKWithCentroids]], and candidates scored ASYMMETRICALLY —
    * exact query vector vs the candidate's SQ8 reconstruction, so the
    * probe never touches the original candidate vectors (what the
    * compressed store holds is all it reads). */
  def ivfSqTopK(corpus0: DataFrame, queries: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String, k: Int, nprobe: Int,
                model: Seq[(Float, Float)]): DataFrame = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    val corpus = widen(corpus0)
    val cents = centroids.select(col("cid"), col("cv"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    require(cents.nonEmpty, "ivfSqTopK needs a non-empty centroid model")
    val assign = corpus.select(col(idCol).as("nid"),
        Vectors.nearestCidExpr(col(vecCol), cents).as("n_cid"),
        sqReconExpr(sqCodeExpr(col(vecCol), model), model).as("rv"))
    val probes = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("cid",
        explode_outer(Vectors.nearestCidsExpr(col("qv"), cents, nprobe)))
      .filter(col("cid").isNotNull) // outer+filter: see SafeExplode
    val scored = broadcast(probes).join(assign, col("cid") === col("n_cid") &&
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosine(col("qv"), col("rv")).as("cos"))
      .distinct() // a neighbor can surface via multiple probed centroids
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** SQ8 ANN: brute-force top-k with candidates scored ASYMMETRICALLY —
    * exact query vector against the candidate's SQ8 reconstruction, so
    * scoring touches only what the compressed store holds (the
    * [[ivfPqTopK]] ADC discipline at the SQ tier). Queries broadcast;
    * encode∘decode is a pure in-row projection on the corpus side;
    * per-query top-k ranks (cosine desc, id asc) like every ANN
    * operator here. */
  def sqTopK(corpus0: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, model: Seq[(Float, Float)]): DataFrame = {
    val corpus = widen(corpus0)
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("nid"),
        sqReconExpr(sqCodeExpr(col(vecCol), model), model).as("rv"))
      .join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Vectors.cosine(col("qv"), col("rv")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }
}
