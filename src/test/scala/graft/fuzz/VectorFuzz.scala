package graft.fuzz

import graft.operators._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded random-embedding fuzz for the similarity/vector tier (round-14
  * verdict item 1) — the [[CorpusFuzz]] discipline aimed at the ANN /
  * quantization / k-means family. DuckDB cannot twin in-row argmax
  * kernels or Lloyd rounds, so the second engine is a PLAIN-SCALA
  * reference model per operator: direct collections-code transcriptions
  * of each documented contract (sequential float→double cosine folds,
  * 6-dp HALF_UP rounding with NaN pass-through, SQL double ordering with
  * NaN greatest and -0.0 == 0.0, lowest-cid ties, decimal(30,15) Lloyd
  * means, md5-parity hyperplanes), sharing NOTHING with the Spark
  * implementations beyond the contract — the Spark side goes through the
  * native kernels ([[graft.plans.CosineSimilarity]],
  * [[graft.plans.NearestCentroids]], [[graft.plans.HyperplaneBuckets]])
  * and window-ranked joins, so a divergence is a real bug in one of
  * those layers. This is exactly the FP-boundary / tie / zero-norm risk
  * class that produced the r14 `ceilSafe` catch in the dedup tier.
  *
  * Embedding shapes planted per the verdict list: exact duplicate
  * vectors (cosine-1.0 top-k ties), scaled collinear copies (±1.0 ties
  * across magnitudes, including ±0.0f components from a −1× of a zero),
  * zero vectors (NaN cosine — must rank FIRST under SQL desc and take
  * the zero-safe branch in the PQ family), axis vectors and ±1 grids
  * (exact score ties broken only by id), permutations of earlier
  * vectors, shared-prefix/diverging-tail pairs (the prefix-rerank
  * adversary), and tiny 1e-20 magnitudes (the decimal(30,15) mean
  * rounds them to exactly 0 — both engines must agree they do).
  * Magnitudes stay ≤ ~1e7: the documented kmeans/PQ accumulation domain
  * is |x| < 1e15 (decimal(30,15) would overflow-to-null past it).
  *
  * The fast deterministic subset runs in VectorFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz vectors` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object VectorFuzz extends Surface {

  final case class Vec(id: Long, v: Array[Float])
  final case class VParams(dims: Int, k: Int, planes: Int, nprobe: Int,
                           kK: Int, iters: Int, prefixDims: Int,
                           candidates: Int, m: Int, ks: Int,
                           n1: Int, n2: Int, nq: Int)

  // ------------------------------------------------------------------
  // embedding-set generator
  // ------------------------------------------------------------------

  /** One seeded embedding set: 15-50 vectors over the adversarial shape
    * mix. Ids are dense (1..n) or gapped (3, 10, 17, …) per seed — the
    * rank-based seeding contracts must not care. */
  def vectorSet(r: Random): (Seq[Vec], VParams) = {
    val dims = Vector(4, 8, 16, 32)(r.nextInt(4))
    val n = 15 + r.nextInt(36)
    val gapped = r.nextBoolean()
    def idOf(i: Int): Long = if (gapped) 3L + 7L * i else 1L + i
    def randVec(): Array[Float] =
      Array.fill(dims)((r.nextInt(513) - 256) / 32.0f)
    val out = Vector.newBuilder[Vec]
    var prev = Vector.empty[Array[Float]]
    (0 until n).foreach { i =>
      val v: Array[Float] = r.nextInt(12) match {
        case 0 => Array.fill(dims)(0.0f)
        case 1 if prev.nonEmpty => prev(r.nextInt(prev.size)).clone()
        case 2 if prev.nonEmpty =>
          val f = Vector(2.0f, 0.5f, -1.0f, 1e6f, 1e-6f)(r.nextInt(5))
          prev(r.nextInt(prev.size)).map(_ * f)
        case 3 if prev.nonEmpty => prev(r.nextInt(prev.size)).reverse
        case 4 =>
          val a = Array.fill(dims)(0.0f)
          a(r.nextInt(dims)) = if (r.nextBoolean()) 1.0f else -1.0f
          a
        case 5 => Array.fill(dims)(if (r.nextBoolean()) 1.0f else -1.0f)
        case 6 if prev.nonEmpty =>
          val p = prev(r.nextInt(prev.size))
          p.take(dims / 2) ++ Array.fill(dims - dims / 2)((r.nextInt(65) - 32) / 8.0f)
        case 7 => Array.fill(dims)((r.nextInt(21) - 10) * 1e-20f)
        case _ =>
          val v0 = randVec(); prev :+= v0; v0
      }
      out += Vec(idOf(i), v)
    }
    val m = Vector(2, 4)(r.nextInt(2))
    val p = VParams(
      dims = dims,
      k = 3 + r.nextInt(4),
      planes = 4 + r.nextInt(7),
      nprobe = 1 + r.nextInt(3),
      kK = 2 + r.nextInt(4),
      iters = 2 + r.nextInt(2),
      prefixDims = 1 + r.nextInt(dims),
      candidates = 8 + r.nextInt(5),
      m = m, ks = 2 + r.nextInt(3),
      n1 = 1 + r.nextInt(2), n2 = 1 + r.nextInt(2),
      nq = 3 + r.nextInt(3))
    (out.result(), p)
  }

  // ------------------------------------------------------------------
  // plain-Scala reference models
  // ------------------------------------------------------------------

  /** Spark SQL double comparison: -0.0 == 0.0; NaN greatest. */
  private def cmpSql(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** SQL round(double, 6): NaN/Infinity pass through, else shortest-
    * decimal BigDecimal HALF_UP — what Spark's RoundBase generates. */
  private def r6(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def r9(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** double → decimal(·,15) cast twin: shortest-decimal string, HALF_UP. */
  private def dec15(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(15, java.math.RoundingMode.HALF_UP)

  /** twin of graft_cosine + round 6: sequential fold over min(len) dims,
    * floats widened to double. */
  def refCos6(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    r6(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** twin of NearestCentroids.topCids: per-centroid 6-dp cosine
    * (zero-safe mode pins prod == 0 → 0.0), selection (SQL double desc,
    * cid asc), min(n, k) ids. */
  def refTopCids(v: Array[Float], cents: Seq[(Long, Array[Float])], n: Int,
                 zeroSafe: Boolean = false): Seq[Long] = {
    val scored = cents.map { case (cid, cv) =>
      val len = math.min(v.length, cv.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < len) {
        val x = v(i).toDouble; val y = cv(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val prod = math.sqrt(na) * math.sqrt(nb)
      val cos = if (zeroSafe && prod == 0.0) 0.0 else r6(dot / prod)
      (cid, cos)
    }
    scored.sortWith { case ((c1, s1), (c2, s2)) =>
      val d = cmpSql(s1, s2); if (d != 0) d > 0 else c1 < c2
    }.take(n).map(_._1)
  }

  /** rank candidates (score desc under SQL ordering, nid asc), keep k. */
  private def rank(qid: Long, scored: Seq[(Long, Double)], k: Int)
      : Seq[(Long, Long, Double, Long)] =
    scored.sortWith { case ((n1, s1), (n2, s2)) =>
      val d = cmpSql(s1, s2); if (d != 0) d > 0 else n1 < n2
    }.take(k).zipWithIndex.map { case ((nid, cos), i) =>
      (qid, nid, cos, (i + 1).toLong)
    }

  /** twin of Similarity.fixedQuerySample: the n (md5(id-string), id)-
    * minimal ids. */
  def refQuerySample(vs: Seq[Vec], n: Int): Seq[Long] =
    vs.map(_.id).sortBy(id => (md5hex(id.toString), id)).take(n)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** twin of Similarity.bruteForceTopK. */
  def refBruteTopK(vs: Seq[Vec], qIds: Seq[Long], k: Int)
      : Seq[(Long, Long, Double, Long)] = {
    val byId = vs.map(v => v.id -> v.v).toMap
    qIds.sorted.flatMap { qid =>
      val qv = byId(qid)
      rank(qid, vs.filter(_.id != qid).map(n => (n.id, refCos6(qv, n.v))), k)
    }
  }

  /** twin of HyperplaneBuckets: sign(j, d) = parity of the high nibble of
    * md5("j_d") byte 0; bit j set iff the sequential ±1 dot > 0. */
  def refBucket(v: Array[Float], planes: Int): Long = {
    var bucket = 0L
    var j = 0
    while (j < planes) {
      var dot = 0.0; var i = 0
      while (i < v.length) {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${j}_$i".getBytes("UTF-8"))
        val sign = if ((((h(0) >> 4) & 0xf) % 2) == 1) 1.0 else -1.0
        dot += v(i).toDouble * sign
        i += 1
      }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** twin of Similarity.lshTopK: same-bucket candidates, exact rerank. */
  def refLshTopK(vs: Seq[Vec], qIds: Seq[Long], k: Int, planes: Int)
      : Seq[(Long, Long, Double, Long)] = {
    val b = vs.map(v => v.id -> refBucket(v.v, planes)).toMap
    val byId = vs.map(v => v.id -> v.v).toMap
    qIds.sorted.flatMap { qid =>
      val cand = vs.filter(n => n.id != qid && b(n.id) == b(qid))
      rank(qid, cand.map(n => (n.id, refCos6(byId(qid), n.v))), k)
    }
  }

  /** twin of Similarity.multiprobeLshTopK: probe set = own bucket plus
    * the `planes` 1-bit flips (distinct), candidates in any probed
    * bucket (at most one match per pair — a corpus vector owns one
    * bucket). */
  def refMultiprobeTopK(vs: Seq[Vec], qIds: Seq[Long], k: Int, planes: Int)
      : Seq[(Long, Long, Double, Long)] = {
    val b = vs.map(v => v.id -> refBucket(v.v, planes)).toMap
    val byId = vs.map(v => v.id -> v.v).toMap
    qIds.sorted.flatMap { qid =>
      val probes = (b(qid) +: (0 until planes).map(p => b(qid) ^ (1L << p))).distinct
      val cand = vs.filter(n => n.id != qid && probes.contains(b(n.id)))
      rank(qid, cand.map(n => (n.id, refCos6(byId(qid), n.v))), k)
    }
  }

  /** twin of Vectors.kmeansTrain: k lowest-id seeds; per round an
    * argmax assignment (refTopCids n=1) and per-(cid, dim) means
    * accumulated as exact decimal(·,15) sums divided in double, cast to
    * float; empty clusters keep their centroid. */
  def refKmeansTrain(vs: Seq[Vec], k: Int, iters: Int): Seq[(Long, Array[Float])] = {
    var cents: Seq[(Long, Array[Float])] =
      vs.sortBy(_.id).take(k).map(v => (v.id, v.v))
    for (_ <- 1 until iters) {
      val assign = vs.map(v => (refTopCids(v.v, cents, 1).head, v.v))
      val means = assign.groupBy(_._1).map { case (cid, rows) =>
        val dims = rows.head._2.length
        cid -> (0 until dims).map { d =>
          val sum = rows.map(r => dec15(r._2(d).toDouble))
            .reduce(_.add(_))
          (sum.doubleValue() / rows.size).toFloat
        }.toArray
      }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** twin of Vectors.assignToCentroids. */
  def refAssign(vs: Seq[Vec], cents: Seq[(Long, Array[Float])]): Map[Long, Long] =
    vs.map(v => v.id -> refTopCids(v.v, cents, 1).head).toMap

  /** twin of Similarity.ivfTopKWithCentroids: corpus argmax assignment,
    * query top-nprobe probes, candidates in probed cells (qid != nid),
    * distinct pairs, exact-cosine rank. */
  def refIvfTopK(vs: Seq[Vec], qIds: Seq[Long], cents: Seq[(Long, Array[Float])],
                 k: Int, nprobe: Int): Seq[(Long, Long, Double, Long)] = {
    val byId = vs.map(v => v.id -> v.v).toMap
    val assign = refAssign(vs, cents)
    qIds.sorted.flatMap { qid =>
      val probes = refTopCids(byId(qid), cents, nprobe).toSet
      val cand = vs.filter(n => n.id != qid && probes.contains(assign(n.id)))
      rank(qid, cand.map(n => (n.id, refCos6(byId(qid), n.v))), k)
    }
  }

  /** twin of Similarity.prefixRerankTopK: coarse 6-dp cosine on the
    * first prefixDims components, per-query candidate pool (ccos desc,
    * nid asc), full-vector rerank. */
  def refPrefixRerankTopK(vs: Seq[Vec], qIds: Seq[Long], k: Int,
                          prefixDims: Int, candidates: Int)
      : Seq[(Long, Long, Double, Long)] = {
    val byId = vs.map(v => v.id -> v.v).toMap
    qIds.sorted.flatMap { qid =>
      val qv = byId(qid)
      val coarse = vs.filter(_.id != qid)
        .map(n => (n.id, refCos6(qv.take(prefixDims), n.v.take(prefixDims))))
      val pool = coarse.sortWith { case ((n1, s1), (n2, s2)) =>
        val d = cmpSql(s1, s2); if (d != 0) d > 0 else n1 < n2
      }.take(candidates).map(_._1)
      rank(qid, pool.map(nid => (nid, refCos6(qv, byId(nid)))), k)
    }
  }

  /** twin of Similarity.pqTrain: ks lowest-id seed slices per subspace;
    * per round a zero-safe per-subspace argmax and per-(subspace, cid,
    * dim) decimal means; empty clusters keep their entry. */
  def refPqTrain(vs: Seq[Vec], dims: Int, m: Int, ks: Int, iters: Int)
      : Seq[Seq[(Long, Array[Float])]] = {
    val sub = dims / m
    val seeds = vs.sortBy(_.id).take(ks)
    var cbs: Seq[Seq[(Long, Array[Float])]] = (0 until m).map(s =>
      seeds.map(v => (v.id, v.v.slice(s * sub, (s + 1) * sub))))
    for (_ <- 1 until iters) {
      val assigns = vs.map { v =>
        (v.v, (0 until m).map(s =>
          refTopCids(v.v.slice(s * sub, (s + 1) * sub), cbs(s), 1,
            zeroSafe = true).head))
      }
      cbs = (0 until m).map { s =>
        val grp = assigns.groupBy(_._2(s))
        cbs(s).map { case (cid, old) =>
          grp.get(cid) match {
            case Some(rows) =>
              (cid, (0 until sub).map { d =>
                val sum = rows.map(r => dec15(r._1(s * sub + d).toDouble))
                  .reduce(_.add(_))
                (sum.doubleValue() / rows.size).toFloat
              }.toArray)
            case None => (cid, old)
          }
        }
      }
    }
    cbs
  }

  /** twin of Similarity.pqEncode: per-subspace zero-safe argmax codes. */
  def refPqEncode(vs: Seq[Vec], cbs: Seq[Seq[(Long, Array[Float])]],
                  dims: Int): Map[Long, Seq[Long]] = {
    val sub = dims / cbs.length
    vs.map(v => v.id -> cbs.indices.map(s =>
      refTopCids(v.v.slice(s * sub, (s + 1) * sub), cbs(s), 1,
        zeroSafe = true).head)).toMap
  }

  /** twin of Similarity.pqDistortion: per-subspace SSE = 9-dp-rounded
    * sequential fold → decimal(·,9); subspace sums and the corpus total
    * add in decimal; mse = round(tot/n, 6). */
  def refPqDistortion(vs: Seq[Vec], cbs: Seq[Seq[(Long, Array[Float])]],
                      dims: Int): (Long, Double) = {
    val m = cbs.length
    val sub = dims / m
    val codes = refPqEncode(vs, cbs, dims)
    val cbMap = cbs.map(cb => cb.toMap)
    val tot = vs.map { v =>
      (0 until m).map { s =>
        val rv = cbMap(s)(codes(v.id)(s))
        var acc = 0.0; var i = 0
        while (i < sub) {
          val d = v.v(s * sub + i).toDouble - rv(i); acc += d * d; i += 1
        }
        java.math.BigDecimal.valueOf(r9(acc))
          .setScale(9, java.math.RoundingMode.HALF_UP)
      }.reduce(_.add(_))
    }.reduce(_.add(_))
    (vs.size.toLong, r6(tot.doubleValue() / vs.size))
  }

  /** twin of Similarity.sqTrain: exact per-dimension float min/max. */
  def refSqTrain(vs: Seq[Vec], dims: Int): Seq[(Float, Float)] =
    (0 until dims).map { d =>
      val xs = vs.map(_.v(d))
      (xs.min, xs.max)
    }

  /** twin of sqCodeExpr ∘ sqReconExpr: floor-code in double against the
    * model's float bounds (as doubles), midpoint decode; degenerate dims
    * code 0 / reconstruct to min. */
  def refSqRecon(v: Array[Float], model: Seq[(Float, Float)]): Array[Double] =
    v.indices.map { d =>
      val mn = model(d)._1.toDouble; val mx = model(d)._2.toDouble
      if (mx > mn) {
        val code = math.min(255L, math.max(0L,
          math.floor((v(d).toDouble - mn) * 255.0 / (mx - mn)).toLong))
        mn + (code.toDouble + 0.5) * (mx - mn) / 256.0
      } else mn
    }.toArray

  /** cosine of a float query against a double reconstruction — the
    * sqTopK scoring expression (zip_with double fold, round 6). */
  private def refCosFD6(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    r6(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** twin of Similarity.sqTopK: exact query vs SQ8 reconstruction. */
  def refSqTopK(vs: Seq[Vec], qIds: Seq[Long], k: Int,
                model: Seq[(Float, Float)]): Seq[(Long, Long, Double, Long)] = {
    val byId = vs.map(v => v.id -> v.v).toMap
    qIds.sorted.flatMap { qid =>
      val cand = vs.filter(_.id != qid)
        .map(n => (n.id, refCosFD6(byId(qid), refSqRecon(n.v, model))))
      rank(qid, cand, k)
    }
  }

  /** twin of Similarity.sqDistortion: 9-dp-rounded per-row SSE fold,
    * decimal total, round(tot/n, 6). */
  def refSqDistortion(vs: Seq[Vec], model: Seq[(Float, Float)]): (Long, Double) = {
    val tot = vs.map { v =>
      val rec = refSqRecon(v.v, model)
      var acc = 0.0; var i = 0
      while (i < v.v.length) {
        val d = v.v(i).toDouble - rec(i); acc += d * d; i += 1
      }
      java.math.BigDecimal.valueOf(r9(acc))
        .setScale(9, java.math.RoundingMode.HALF_UP)
    }.reduce(_.add(_))
    (vs.size.toLong, r6(tot.doubleValue() / vs.size))
  }

  /** twin of Vectors.kmeansTwoLevel: level-1 refKmeansTrain; per-cell
    * seeds = k2 lowest ids IN the cell; fused level-2 rounds with
    * per-cell argmax and (cell, sub, dim) decimal means. */
  def refKmeansTwoLevel(vs: Seq[Vec], k1: Int, k2: Int, iters: Int)
      : (Seq[(Long, Array[Float])], Map[Long, Seq[(Long, Array[Float])]]) = {
    val cents1 = refKmeansTrain(vs, k1, iters)
    val assigned = vs.map(v => (v, refTopCids(v.v, cents1, 1).head))
    var cbs: Map[Long, Seq[(Long, Array[Float])]] = assigned.groupBy(_._2)
      .map { case (g, rows) =>
        g -> rows.map(_._1).sortBy(_.id).take(k2).map(v => (v.id, v.v))
      }
    for (_ <- 1 until iters) {
      val subAssign = assigned.map { case (v, g) =>
        (v, g, refTopCids(v.v, cbs(g), 1).head)
      }
      val byCell = subAssign.groupBy(_._2)
      cbs = cbs.map { case (g, cb) =>
        val bySub = byCell.getOrElse(g, Seq.empty).groupBy(_._3)
        g -> cb.map { case (sid, old) =>
          bySub.get(sid) match {
            case Some(rows) =>
              val dims = rows.head._1.v.length
              (sid, (0 until dims).map { d =>
                val sum = rows.map(r => dec15(r._1.v(d).toDouble)).reduce(_.add(_))
                (sum.doubleValue() / rows.size).toFloat
              }.toArray)
            case None => (sid, old)
          }
        }
      }
    }
    (cents1, cbs)
  }

  /** twin of Similarity.ivf2TopK: (cell, subcell) assignment, n1 × n2
    * probes (a probed cell absent from the level-2 model contributes no
    * candidates), distinct pairs, exact-cosine rank. */
  def refIvf2TopK(vs: Seq[Vec], qIds: Seq[Long], k: Int, n1: Int, n2: Int,
                  cents1: Seq[(Long, Array[Float])],
                  cbs: Map[Long, Seq[(Long, Array[Float])]])
      : Seq[(Long, Long, Double, Long)] = {
    val byId = vs.map(v => v.id -> v.v).toMap
    val assign = vs.map { v =>
      val g = refTopCids(v.v, cents1, 1).head
      v.id -> (g, refTopCids(v.v, cbs(g), 1).head)
    }.toMap
    qIds.sorted.flatMap { qid =>
      val qv = byId(qid)
      val probes = refTopCids(qv, cents1, n1).flatMap { g =>
        cbs.get(g).toSeq.flatMap(cb => refTopCids(qv, cb, n2).map(s => (g, s)))
      }.toSet
      val cand = vs.filter(n => n.id != qid && probes.contains(assign(n.id)))
      rank(qid, cand.map(n => (n.id, refCos6(qv, n.v))), k)
    }
  }

  // ------------------------------------------------------------------
  // differential runner
  // ------------------------------------------------------------------

  private def eqD(a: Double, b: Double): Boolean =
    a == b || (java.lang.Double.isNaN(a) && java.lang.Double.isNaN(b))

  private def eqRows(got: Seq[(Long, Long, Double, Long)],
                     want: Seq[(Long, Long, Double, Long)]): Boolean =
    got.size == want.size && got.sortBy(r => (r._1, r._4))
      .zip(want.sortBy(r => (r._1, r._4)))
      .forall { case (g, w) =>
        g._1 == w._1 && g._2 == w._2 && eqD(g._3, w._3) && g._4 == w._4
      }

  private def eqModel(got: Seq[(Long, Array[Float])],
                      want: Seq[(Long, Array[Float])]): Boolean =
    got.size == want.size && got.sortBy(_._1).zip(want.sortBy(_._1)).forall {
      case ((gc, gv), (wc, wv)) =>
        gc == wc && gv.length == wv.length && gv.zip(wv).forall(p => p._1 == p._2)
    }

  private def fmt(rows: Seq[(Long, Long, Double, Long)]): String =
    rows.sortBy(r => (r._1, r._4)).map(r => s"(${r._1},${r._2},${r._3},${r._4})")
      .mkString("[", " ", "]")

  /** Runs one embedding set through the Spark operators and diffs
    * against the reference models; returns human-readable divergences
    * (empty = ok). `deep` adds the two-level IVF family, the SQ/PQ
    * distortion aggregates and the partitioning-invariance check. */
  def runOne(spark: SparkSession, vs: Seq[Vec], p: VParams, deep: Boolean): List[String] = {
    import spark.implicits._
    val errs = List.newBuilder[String]
    val df = vs.map(v => (v.id, v.v)).toDF("vec_id", "emb")

    def topk(d: DataFrame, scoreCol: String): Seq[(Long, Long, Double, Long)] =
      d.select(col("qid"), col("nid"), col(scoreCol), col("rk"))
        .as[(Long, Long, Double, Long)].collect().toSeq

    // fixed query sample (hash-order pick)
    val gotQ = Similarity.fixedQuerySample(df, "vec_id", p.nq)
      .select("vec_id").as[Long].collect().toSeq.sorted
    val wantQ = refQuerySample(vs, p.nq).sorted
    if (gotQ != wantQ) errs += s"fixedQuerySample: got $gotQ want $wantQ"
    val qIds = wantQ
    val queries = df.filter(col("vec_id").isin(qIds: _*))

    // brute-force exact top-k (the tier everything else is graded against)
    val gotBrute = topk(Similarity.bruteForceTopK(df, queries, "vec_id", "emb", p.k), "cos")
    val wantBrute = refBruteTopK(vs, qIds, p.k)
    if (!eqRows(gotBrute, wantBrute))
      errs += s"bruteForceTopK(k=${p.k}): got ${fmt(gotBrute)} want ${fmt(wantBrute)}"

    // hyperplane buckets (the index key itself)
    val gotB = Similarity.lshBuckets(df, "vec_id", "emb", p.planes)
      .as[(Long, Long)].collect().toMap
    vs.foreach { v =>
      val want = refBucket(v.v, p.planes)
      if (gotB.get(v.id) != Some(want))
        errs += s"lshBuckets(planes=${p.planes}) id ${v.id}: got ${gotB.get(v.id)} want $want"
    }

    // LSH and multi-probe LSH top-k
    val gotLsh = topk(Similarity.lshTopK(df, queries, "vec_id", "emb", p.k, p.planes), "cos")
    val wantLsh = refLshTopK(vs, qIds, p.k, p.planes)
    if (!eqRows(gotLsh, wantLsh))
      errs += s"lshTopK(k=${p.k},planes=${p.planes}): got ${fmt(gotLsh)} want ${fmt(wantLsh)}"

    val gotMp = topk(Similarity.multiprobeLshTopK(df, queries, "vec_id", "emb", p.k, p.planes), "cos")
    val wantMp = refMultiprobeTopK(vs, qIds, p.k, p.planes)
    if (!eqRows(gotMp, wantMp))
      errs += s"multiprobeLshTopK(k=${p.k},planes=${p.planes}): got ${fmt(gotMp)} want ${fmt(wantMp)}"

    // k-means: trained model, assignment, and the IVF probe that reuses it
    val gotModel = Vectors.kmeansTrain(df, "vec_id", "emb", p.kK, p.iters)
    val wantModel = refKmeansTrain(vs, p.kK, p.iters)
    if (!eqModel(gotModel, wantModel))
      errs += s"kmeansTrain(k=${p.kK},iters=${p.iters}): got " +
        gotModel.sortBy(_._1).map { case (c, v) => s"$c:${v.mkString(",")}" }.mkString("; ") +
        " want " +
        wantModel.sortBy(_._1).map { case (c, v) => s"$c:${v.mkString(",")}" }.mkString("; ")
    else {
      val gotAsg = Vectors.assignToCentroids(df, "vec_id", "emb", gotModel)
        .as[(Long, Long)].collect().toMap
      val wantAsg = refAssign(vs, wantModel)
      if (gotAsg != wantAsg)
        errs += s"assignToCentroids: got $gotAsg want $wantAsg"

      val cDf = gotModel.toDF("cid", "cv")
      val gotIvf = topk(Similarity.ivfTopKWithCentroids(df, queries, cDf,
        "vec_id", "emb", p.k, p.nprobe), "cos")
      val wantIvf = refIvfTopK(vs, qIds, wantModel, p.k, p.nprobe)
      if (!eqRows(gotIvf, wantIvf))
        errs += s"ivfTopKWithCentroids(k=${p.k},nprobe=${p.nprobe}): " +
          s"got ${fmt(gotIvf)} want ${fmt(wantIvf)}"
    }

    // Matryoshka prefix-rerank
    val gotPre = topk(Similarity.prefixRerankTopK(df, queries, "vec_id", "emb",
      p.k, p.prefixDims, p.candidates), "cos")
    val wantPre = refPrefixRerankTopK(vs, qIds, p.k, p.prefixDims, p.candidates)
    if (!eqRows(gotPre, wantPre))
      errs += s"prefixRerankTopK(k=${p.k},prefix=${p.prefixDims},cand=${p.candidates}): " +
        s"got ${fmt(gotPre)} want ${fmt(wantPre)}"

    // PQ: trained codebooks, codes, distortion
    val gotCbs = Similarity.pqTrain(df, "vec_id", "emb", p.dims, p.m, p.ks, p.iters)
    val wantCbs = refPqTrain(vs, p.dims, p.m, p.ks, p.iters)
    val cbOk = gotCbs.size == wantCbs.size &&
      gotCbs.zip(wantCbs).forall { case (g, w) => eqModel(g, w) }
    if (!cbOk)
      errs += s"pqTrain(m=${p.m},ks=${p.ks},iters=${p.iters}): got " +
        gotCbs.map(cb => cb.sortBy(_._1).map { case (c, v) => s"$c:${v.mkString(",")}" }
          .mkString("{", "; ", "}")).mkString(" | ") + " want " +
        wantCbs.map(cb => cb.sortBy(_._1).map { case (c, v) => s"$c:${v.mkString(",")}" }
          .mkString("{", "; ", "}")).mkString(" | ")
    else {
      val gotCodes = Similarity.pqEncode(df, "vec_id", "emb", gotCbs, p.dims)
        .collect().map(r => r.getLong(0) ->
          (1 until r.length).map(r.getLong(_)).toSeq).toMap
      val wantCodes = refPqEncode(vs, wantCbs, p.dims)
      if (gotCodes != wantCodes)
        errs += s"pqEncode: got $gotCodes want $wantCodes"
      if (deep) {
        val gotDist = Similarity.pqDistortion(df, "vec_id", "emb", gotCbs, p.dims)
          .as[(Long, Double)].head()
        val wantDist = refPqDistortion(vs, wantCbs, p.dims)
        if (gotDist._1 != wantDist._1 || !eqD(gotDist._2, wantDist._2))
          errs += s"pqDistortion: got $gotDist want $wantDist"
      }
    }

    // SQ8: model, asymmetric top-k, distortion
    val gotSq = Similarity.sqTrain(df, "emb", p.dims)
    val wantSq = refSqTrain(vs, p.dims)
    val sqOk = gotSq.size == wantSq.size && gotSq.zip(wantSq).forall {
      case ((gm, gx), (wm, wx)) => gm == wm && gx == wx
    }
    if (!sqOk) errs += s"sqTrain: got $gotSq want $wantSq"
    else {
      val gotSqTk = topk(Similarity.sqTopK(df, queries, "vec_id", "emb", p.k, gotSq), "cos")
      val wantSqTk = refSqTopK(vs, qIds, p.k, wantSq)
      if (!eqRows(gotSqTk, wantSqTk))
        errs += s"sqTopK(k=${p.k}): got ${fmt(gotSqTk)} want ${fmt(wantSqTk)}"
      if (deep) {
        val gotSd = Similarity.sqDistortion(df, "vec_id", "emb", gotSq)
          .as[(Long, Double)].head()
        val wantSd = refSqDistortion(vs, wantSq)
        if (gotSd._1 != wantSd._1 || !eqD(gotSd._2, wantSd._2))
          errs += s"sqDistortion: got $gotSd want $wantSd"
      }
    }

    if (deep) {
      // two-level quantizer + IMI-style probe
      val (gotC1, gotCbs2) = Vectors.kmeansTwoLevel(df, "vec_id", "emb",
        p.kK, p.n2 + 1, p.iters)
      val (wantC1, wantCbs2) = refKmeansTwoLevel(vs, p.kK, p.n2 + 1, p.iters)
      val tlOk = eqModel(gotC1, wantC1) &&
        gotCbs2.keySet == wantCbs2.keySet &&
        gotCbs2.keySet.forall(g => eqModel(gotCbs2(g), wantCbs2(g)))
      if (!tlOk)
        errs += s"kmeansTwoLevel(k1=${p.kK},k2=${p.n2 + 1},iters=${p.iters}): " +
          s"model divergence (cells got=${gotCbs2.keySet.toSeq.sorted} " +
          s"want=${wantCbs2.keySet.toSeq.sorted})"
      else {
        val gotI2 = topk(Similarity.ivf2TopK(df, queries, "vec_id", "emb",
          p.k, p.n1, p.n2, gotC1, gotCbs2), "cos")
        val wantI2 = refIvf2TopK(vs, qIds, p.k, p.n1, p.n2, wantC1, wantCbs2)
        if (!eqRows(gotI2, wantI2))
          errs += s"ivf2TopK(k=${p.k},n1=${p.n1},n2=${p.n2}): " +
            s"got ${fmt(gotI2)} want ${fmt(wantI2)}"
      }

      // partitioning invariance: the exact tier must not depend on layout
      val one = topk(Similarity.bruteForceTopK(df.coalesce(1), queries,
        "vec_id", "emb", p.k), "cos")
      val many = topk(Similarity.bruteForceTopK(df.repartition(7), queries,
        "vec_id", "emb", p.k), "cos")
      if (!eqRows(one, many))
        errs += s"bruteForceTopK partition variance: coalesce(1)=${fmt(one)} " +
          s"repartition(7)=${fmt(many)}"
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = (Seq[Vec], VParams)
  val name = "vectors"
  val sets = 50
  private def deep(i: Int) = i % 5 == 0
  def draw(r: Random, seed: Long, i: Int): In = vectorSet(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in._1, in._2, deep(i))
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val (vs, p) = in
    val minimal = shrink(vs)(runOne(spark, _, p, deep(i)))
    s"(${minimal.size} vecs, $p): " +
      minimal.map(v => s"${v.id}=[${v.v.mkString(",")}]").mkString(" | ")
  }
}
