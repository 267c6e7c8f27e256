package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Dense-vector math over `array<float>` columns as pure Catalyst
  * expressions (`zip_with` + sequential `aggregate` fold — deterministic
  * evaluation order, so results are identical at any parallelism). Floats
  * are widened to double before multiplication (exact), and cosine is
  * rounded to 6 dp to pin a reproducible value.
  *
  * No UDFs and no linear-algebra library: the expressions live inside
  * whole-stage codegen, which at 100 TB matters more than SIMD on the
  * driver ever could.
  */
object Vectors {

  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity rounded to 6 dp (reproducibility contract).
    * A zero-norm side yields NaN EXPLICITLY (round passes NaN through):
    * the kernel form's bare JVM division gives 0/0 = NaN, but the column
    * form's SQL Divide THROWS under ANSI mode (Spark 4 default) when the
    * norm product is exactly 0 — the r15 vector fuzzer caught the two
    * forms diverging on planted zero vectors. The when-guard keeps the
    * divide unevaluated on that branch, so both forms agree: NaN, which
    * SQL orders greatest (zero vectors surface first under a desc rank,
    * the documented brute-force contract). */
  def cosine(a: Column, b: Column): Column = {
    val prod = norm(a) * norm(b)
    round(when(prod === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / prod), 6)
  }

  /** Native fused variant (graft.plans.CosineSimilarity — one codegen'd
    * loop, no intermediate array). Bit-identical to [[cosine]]. */
  def cosineNative(a: Column, b: Column): Column = round(GraftFunctions.cosine(a, b), 6)

  /** Centroid model as ONE plan literal: `array<struct<_1: cid, _2: cv>>`,
    * sorted by cid for a deterministic literal. One literal + higher-order
    * transforms keeps the expression tree O(1) in k (an unrolled
    * k-struct `array(...)` would Janino-compile O(k·dims) code), and the
    * model ships with the plan exactly like any broadcast model — the
    * driver-side budget is k × dims floats either way. */
  private def centroidsLit(cents: Seq[(Long, Array[Float])]): Column =
    typedLit(cents.sortBy(_._1).map { case (cid, cv) => (cid, cv.toSeq) })

  /** Nearest-centroid id of `v` as a pure in-row expression (zero joins,
    * zero shuffles, zero row fan-out), via the native
    * [[graft.plans.NearestCentroids]] kernel. 6-dp cosine, lowest cid on
    * ties — the assignment contract of the whole ANN family
    * ([[Similarity.pqTrain]] is the template). (The earlier column form
    * — transform + graft_cosine + array_max over the literal — computed
    * the same values but paid a fresh multi-second Janino compile per
    * query; the kernel is one compiled loop, constant compile cost.) */
  private[graft] def nearestCidExpr(v: Column, cents: Seq[(Long, Array[Float])]): Column =
    element_at(GraftFunctions.nearestCentroids(v, centroidsLit(cents), 1), 1)

  /** Top-`n` nearest-centroid ids of `v`, ordered (cosine desc, cid asc),
    * as a pure in-row expression (same native kernel). The row fan-out
    * downstream is the caller's explode — n rows per query, never k per
    * corpus row. */
  private[graft] def nearestCidsExpr(v: Column, cents: Seq[(Long, Array[Float])],
                                     n: Int): Column =
    GraftFunctions.nearestCentroids(v, centroidsLit(cents), n)

  /** Deterministic distributed k-means training (cosine metric) — the
    * trained coarse quantizer for
    * [[graft.operators.Similarity.ivfTopKWithCentroids]]. Returns the
    * final (cid, centroid) model after `iters` Lloyd rounds; cluster ids
    * are the init vector ids.
    *
    * Seeding: the k lowest-`idCol` rows (rank-based — `orderBy(id)
    * .limit(k)` is a distributed TakeOrdered). A value filter like
    * `id <= k` would assume dense 1-based ids and silently train with
    * fewer (or zero) centroids on a corpus keyed by content hash;
    * rank-based seeding takes exactly min(k, n) centroids from ANY id
    * space, and coincides with `id <= k` on dense ids (so existing
    * oracle hashes are unchanged).
    *
    * Scale shape: each round is one in-row argmax over the corpus
    * against the literal centroid model (a pure projection — no join,
    * no shuffle, no row fan-out; see [[nearestCidExpr]]) + one keyed
    * mean aggregate; only k×dims means ever reach the driver (config-
    * sized, like any trained-model broadcast).
    *
    * Cross-engine determinism (what makes even the TRAINED MODEL
    * oracle-checkable): assignment argmax uses the 6-dp-rounded cosine
    * with id tiebreak; per-dimension means accumulate in decimal(30,15)
    * (order-independent exact sums — a double sum would depend on
    * partition order) and divide in double; the new centroid rounds to
    * float exactly as any engine's double→float cast does. Empty
    * clusters keep their previous centroid. */
  def kmeansTrain(df: org.apache.spark.sql.DataFrame, idCol: String,
                  vecCol: String, k: Int = 4, iters: Int = 2)
      : Seq[(Long, Array[Float])] = {
    require(iters >= 1, s"kmeansTrain needs iters >= 1, got $iters")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol), col(vecCol).as("v"))
    var cents: Seq[(Long, Array[Float])] = base
      .orderBy(col(idCol).asc).limit(k)
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    // iters Lloyd rounds = (iters - 1) centroid updates; the final
    // assignment pass happens in assignToCentroids against this model.
    // Assignment is a pure in-row expression, so the round keeps v in the
    // same projection — no join back to recover the vectors.
    for (_ <- 1 until iters) {
      val assign = base.select(
        nearestCidExpr(col("v"), cents).as("cluster_id"), col("v"))
      val means = assign
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster_id"), col("dim"))
        .agg((sum(col("x").cast("double").cast("decimal(30,15)")).cast("double")
          / count(lit(1))).as("m"))
        .as[(Long, Int, Double)].collect()
        .groupBy(_._1)
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_._2).map(_._3.toFloat).toArray
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** In-row argmax of `df`'s vectors against the literal centroid model:
    * (idCol, cluster_id). A pure projection — zero joins, zero shuffles,
    * zero row fan-out; ONE pass over the corpus at any k. (The earlier
    * crossJoin+window form computed the same assignment but hash-
    * exchanged k copies of every corpus vector for the per-id ranking —
    * k × corpus of network for an argmax at 100 TB.) Same 6-dp-cosine /
    * lowest-cid contract, so assignments are bit-identical. */
  def assignToCentroids(df: org.apache.spark.sql.DataFrame, idCol: String,
                        vecCol: String, cents: Seq[(Long, Array[Float])])
      : org.apache.spark.sql.DataFrame = {
    // empty model (e.g. an empty training frame) assigns nothing — the
    // same zero-row result the crossJoin form produced
    if (cents.isEmpty)
      df.select(col(idCol), lit(null).cast("long").as("cluster_id")).limit(0)
    else df.select(col(idCol),
      nearestCidExpr(col(vecCol), cents).as("cluster_id"))
  }

  /** Train + final assignment: (id, cluster_id) after `iters` rounds —
    * see [[kmeansTrain]] for seeding/determinism/scale notes. */
  def kmeansAssign(df: org.apache.spark.sql.DataFrame, idCol: String,
                   vecCol: String, k: Int = 4, iters: Int = 2)
      : org.apache.spark.sql.DataFrame =
    assignToCentroids(df, idCol, vecCol, kmeansTrain(df, idCol, vecCol, k, iters))

  /** Two-level (hierarchical) coarse quantizer — the tier past
    * autoK = √N, where a FLAT quantizer's per-row assignment argmax
    * (O(k) per row) and per-round training cost stop scaling: level-1
    * k-means partitions the corpus into k1 cells, level-2 re-clusters
    * EACH cell into k2 subcells. Training and assignment cost
    * O(N·(k1 + k2)) per round instead of the flat O(N·k1·k2) for the
    * same k1·k2 leaf count, and a probe walks k1 then k2 centroids
    * instead of all k1·k2 (the IMI / faiss-IVF-tree shape).
    *
    * Level-2 trains FUSED across cells (one corpus pass per Lloyd
    * round, like pqTrain's fused subspaces): per-cell seeds are the k2
    * lowest ids IN the cell (rank within cell — deterministic on any id
    * space), assignment is a per-cell literal-model argmax selected by
    * a when-chain on the cell id, and one keyed decimal-mean aggregate
    * updates every (cell, subcell) centroid. Same 6-dp-cosine /
    * lowest-id / decimal-mean / empty-carry contract as [[kmeansTrain]],
    * so the WHOLE two-level model is oracle-replayable.
    *
    * Returns (level-1 model, per-cell level-2 models keyed by cell id). */
  def kmeansTwoLevel(df: org.apache.spark.sql.DataFrame, idCol: String,
                     vecCol: String, k1: Int = 4, k2: Int = 4,
                     iters: Int = 2)
      : (Seq[(Long, Array[Float])], Map[Long, Seq[(Long, Array[Float])]]) = {
    require(iters >= 1, s"kmeansTwoLevel needs iters >= 1, got $iters")
    val spark = df.sparkSession
    import spark.implicits._
    val cents1 = kmeansTrain(df, idCol, vecCol, k1, iters)
    val assigned = df.select(col(idCol).as("__id"), col(vecCol).as("v"))
      .withColumn("g", nearestCidExpr(col("v"), cents1))
    // per-cell seeds: the k2 lowest ids in each cell (model-budget
    // collect: at most k1·k2 rows)
    val seeds = assigned.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("g").orderBy(col("__id").asc)))
      .filter(col("rn") <= k2).select(col("g"), col("__id"), col("v"))
      .as[(Long, Long, Array[Float])].collect()
    var cbs: Map[Long, Seq[(Long, Array[Float])]] = seeds.groupBy(_._1)
      .map { case (g, rows) =>
        g -> rows.sortBy(_._2).map(r => (r._2, r._3)).toSeq
      }
    require(cbs.nonEmpty,
      "kmeansTwoLevel needs a non-empty corpus (no level-1 cells trained)")
    for (_ <- 1 until iters) {
      val means = assigned.withColumn("sub",
          perCellArgmax(col("v"), col("g"), cbs, 1))
        .select(col("g"), col("sub"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("g", "sub", "dim")
        .agg((sum(col("x").cast("double").cast("decimal(30,15)")).cast("double")
          / count(lit(1))).as("mv"))
        .as[(Long, Long, Int, Double)].collect()
      val byCell = means.groupBy(_._1)
      cbs = cbs.map { case (g, cb) =>
        val bySub = byCell.getOrElse(g, Array.empty).groupBy(_._2)
        g -> cb.map { case (sid, old) =>
          bySub.get(sid) match {
            case Some(rs) => (sid, rs.sortBy(_._3).map(_._4.toFloat).toArray)
            case None => (sid, old) // empty subcluster keeps its centroid
          }
        }
      }
    }
    (cents1, cbs)
  }

  /** THE per-cell argmax builder — the single place the two-level
    * assignment contract (6-dp cosine, lowest-id ties, per-cell literal
    * model selected by a when-chain on the cell id) is encoded; training
    * (`kmeansTwoLevel`), serve-time assignment ([[twoLevelAssignExprs]])
    * and probing (`ivf2TopK`) all call it, so they cannot silently
    * diverge. `n == 1` yields the single nearest subcell id; `n > 1` the
    * top-n array (probe form). Loud on an empty model — a when-chain
    * over zero cells has no meaningful value. */
  private[operators] def perCellArgmax(
      v: Column, gCol: Column, cbs: Map[Long, Seq[(Long, Array[Float])]], n: Int): Column = {
    require(cbs.nonEmpty, "perCellArgmax needs a non-empty per-cell model")
    val cells = cbs.toSeq.sortBy(_._1)
    def of(cb: Seq[(Long, Array[Float])]): Column =
      if (n == 1) nearestCidExpr(v, cb)
      else nearestCidsExpr(v, cb, n)
    cells.tail.foldLeft(when(gCol === cells.head._1, of(cells.head._2))) {
      case (acc, (cid, cb)) => acc.when(gCol === cid, of(cb))
    }
  }

  /** Per-row (cell, subcell) assignment under a trained two-level model:
    * level-1 argmax, then the argmax against THAT cell's level-2
    * codebook ([[perCellArgmax]]). Pure projection, zero shuffles. */
  def twoLevelAssignExprs(v: Column, cents1: Seq[(Long, Array[Float])],
                          cbs: Map[Long, Seq[(Long, Array[Float])]])
      : (Column, Column => Column) = {
    require(cents1.nonEmpty && cbs.nonEmpty,
      "twoLevelAssignExprs needs a non-empty two-level model")
    val g = nearestCidExpr(v, cents1)
    (g, gCol => perCellArgmax(v, gCol, cbs, 1))
  }

  /** Top principal direction of the (uncentered) embedding Gram matrix
    * via distributed power iteration — the dominant-axis diagnostic an
    * embedding store runs before whitening / anisotropy correction
    * (cf. Mu & Viswanath 2018, "All-but-the-Top"). Each round is ONE
    * corpus pass: the in-row dot dᵢ = ⟨xᵢ, v⟩ (sequential [[dot]] fold,
    * rounded to 9 dp), then Σᵢ dᵢ·xᵢ accumulated per dimension with
    * 12-dp/decimal terms — exact, order-independent, so the iterate is
    * partitioning-invariant and engine-portable. The collected model is
    * `dims` doubles per round (model-budget collect, like centroids).
    *
    * Determinism contract: v₀ = 1/√dims (exact binary for power-of-two
    * dims); normalization rounds each component to 9 dp with the same
    * HALF_UP-on-decimal-string rule Spark's `round` applies, so the
    * literal fed to round k+1 is bit-identical to what a SQL engine
    * replaying the same algebra computes. */
  def powerIterationPC(corpus: org.apache.spark.sql.DataFrame, vecCol: String,
                       dims: Int, iters: Int = 2): Seq[Double] = {
    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    var v: Seq[Double] = Seq.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (_ <- 1 to iters) {
      val s = corpus
        .select(col(vecCol).cast("array<double>").as("v"))
        .select(col("v"), round(dot(col("v"), typedLit(v)), 9).as("dp"))
        .select(posexplode(col("v")).as(Seq("d", "x")), col("dp"))
        .groupBy("d")
        .agg(sum(round(col("dp") * col("x"), 12).cast("decimal(38,12)"))
          .cast("double").as("sv"))
        .orderBy("d")
        .collect().map(_.getDouble(1))
      require(s.length == dims, s"expected $dims dims in $vecCol, saw ${s.length}")
      // norm via the same sequential sum-of-products fold as [[dot]]
      val nrm = math.sqrt(s.foldLeft(0.0)((acc, x) => acc + x * x))
      v = s.map(x => r9(x / nrm)).toSeq
    }
    v
  }
}
