package graft.fuzz

import graft.operators._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded random-graph fuzz for the graph tier — the [[CorpusFuzz]] /
  * [[VectorFuzz]] discipline aimed at [[ConnectedComponents]] (plain
  * propagation, star-contraction fallback, incremental merge),
  * [[LabelPropagation]], [[PageRank]] and the [[GraphStats]] statistics
  * (k-core peel, triangle census, assortativity, modularity). DuckDB
  * cannot twin iterative keyed-join rounds, so the second engine is a
  * PLAIN-SCALA reference model per operator: union-find for reachability,
  * a literal synchronous neighbor-majority loop for LPA, a
  * rounding-mirrored power iteration for PageRank (9-dp HALF_UP
  * contributions, exact decimal accumulation — the documented
  * cross-engine contract), and direct combinatorial counting for the
  * statistics. The models share NOTHING with the Spark implementations
  * beyond the documented contracts, so a divergence is a real bug.
  *
  * Graph shapes planted per set: long chains whose diameter exceeds the
  * propagation budget (forcing the large-star/small-star fallback),
  * cliques and stars (the dedup-cluster motifs the stats diagnose),
  * even cycles (synchronous-LPA oscillation structure), self-loops,
  * parallel duplicate edges in BOTH orientations (multiplicity semantics
  * of the unioned degree counts), isolated self-loop-only vertices,
  * disconnected components, and non-contiguous 64-bit ids (min-label
  * determinism must not depend on density).
  *
  * The fast deterministic subset runs in GraphFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz graphs` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object GraphFuzz extends Surface {

  final case class GParams(lpaRounds: Int, prIters: Int, damping: Double,
                           ccMaxIter: Int, kcoreRounds: Int, kcoreK: Int,
                           nParts: Int)

  // ------------------------------------------------------------------
  // graph generator
  // ------------------------------------------------------------------

  /** One seeded graph: raw edge list (self-loops, duplicates, both
    * orientations allowed) + a total vertex→part membership. */
  def graphSet(r: Random): (Seq[(Long, Long)], Map[Long, String], GParams) = {
    val idStyle = r.nextInt(3)
    def idOf(i: Int): Long = idStyle match {
      case 0 => i.toLong
      case 1 => 5L + 13L * i
      case 2 => 1_000_000_000_000L + 997L * i
    }
    val edges = Vector.newBuilder[(Long, Long)]
    var maxV = 0
    def v(i: Int): Long = { if (i > maxV) maxV = i; idOf(i) }
    var base = 0
    val motifs = 1 + r.nextInt(4)
    for (_ <- 1 to motifs) {
      r.nextInt(7) match {
        case 0 => // chain — sometimes longer than the CC round budget
          val len = if (r.nextBoolean()) 3 + r.nextInt(8) else 26 + r.nextInt(10)
          for (i <- 0 until len) edges += ((v(base + i), v(base + i + 1)))
          base += len + 1
        case 1 => // clique
          val k = 3 + r.nextInt(5)
          for (i <- 0 until k; j <- i + 1 until k)
            edges += ((v(base + i), v(base + j)))
          base += k
        case 2 => // star
          val k = 3 + r.nextInt(6)
          for (i <- 1 to k) edges += ((v(base), v(base + i)))
          base += k + 1
        case 3 => // even cycle (bipartite: synchronous-LPA oscillation)
          val k = 2 * (2 + r.nextInt(4))
          for (i <- 0 until k) edges += ((v(base + i), v(base + (i + 1) % k)))
          base += k
        case 4 => // random edges over a fresh block
          val k = 3 + r.nextInt(10)
          val m = 2 + r.nextInt(2 * k)
          for (_ <- 0 until m)
            edges += ((v(base + r.nextInt(k)), v(base + r.nextInt(k))))
          base += k
        case 5 => // self-loop-only vertex
          val a = v(base); edges += ((a, a)); base += 1
        case 6 => // two blocks bridged by one edge
          val k = 2 + r.nextInt(4)
          for (i <- 0 until k) edges += ((v(base + i), v(base + i + 1)))
          for (i <- 0 until k) edges += ((v(base + k + 1 + i), v(base + k + 2 + i)))
          edges += ((v(base + k), v(base + k + 1)))
          base += 2 * k + 3
      }
    }
    // adversarial noise: duplicate edges, reversed copies, extra self-loops
    var es = edges.result()
    val dups = r.nextInt(1 + es.size / 4)
    for (_ <- 0 until dups) {
      val (a, b) = es(r.nextInt(es.size))
      es :+= (if (r.nextBoolean()) (a, b) else (b, a))
    }
    for (_ <- 0 until r.nextInt(3)) {
      val (a, _) = es(r.nextInt(es.size))
      es :+= ((a, a))
    }
    es = r.shuffle(es)
    val nParts = 2 + r.nextInt(3)
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    val membership = verts.map(x => x -> s"s${r.nextInt(nParts)}").toMap
    val p = GParams(
      lpaRounds = 1 + r.nextInt(4),
      prIters = 1 + r.nextInt(3),
      damping = Vector(0.85, 0.5)(r.nextInt(2)),
      ccMaxIter = if (r.nextInt(4) == 0) 2 else 25,
      kcoreRounds = 1 + r.nextInt(5),
      kcoreK = 2 + r.nextInt(2),
      nParts = nParts)
    (es, membership, p)
  }

  // ------------------------------------------------------------------
  // shared model helpers
  // ------------------------------------------------------------------

  /** Spark `round(x, n)` for doubles: BigDecimal.valueOf + HALF_UP. */
  private def rnd(x: Double, n: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** All vertices of the raw edge list (self-loop-only ones included). */
  def vertsOf(es: Seq[(Long, Long)]): Seq[Long] =
    es.flatMap(e => Seq(e._1, e._2)).distinct.sorted

  /** Canonical pair list (the MinHash-pair-frame contract GraphStats
    * takes): a<b, distinct, self-loops dropped. */
  def canonical(es: Seq[(Long, Long)]): Seq[(Long, Long)] =
    es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.sortBy(identity)

  // ------------------------------------------------------------------
  // reference models
  // ------------------------------------------------------------------

  /** Union-find min-label components over the raw edge list. */
  def refComponents(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertsOf(es).foreach(x => find(x))
    es.foreach { case (a, b) => union(a, b) }
    vertsOf(es).map(x => x -> find(x)).toMap
  }

  /** Literal synchronous LPA: vertices from non-self-loop edges only;
    * neighbor labels counted WITH multiplicity (duplicate raw edges vote
    * once per occurrence, matching the unioned-symmetrization counts);
    * argmax by (count desc, label asc); fixed round budget. */
  def refLpa(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = es.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = sym.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    var labels: Map[Long, Long] = adj.keys.map(x => x -> x).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (vx, nbrs) =>
        val counts = nbrs.groupBy(labels).map { case (l, xs) => (l, xs.size) }
        vx -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  /** Rounding-mirrored fixed-iteration PageRank: distinct symmetrized
    * edges (self-loops kept), 9-dp HALF_UP contributions accumulated as
    * exact scale-9 decimals, rank = round9((1−d)/n + d·sum). */
  def refPageRank(es: Seq[(Long, Long)], damping: Double, iters: Int)
      : Map[Long, Double] = {
    val sym = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = sym.groupBy(_._1).map { case (k, xs) => k -> xs.size }
    val n = deg.size
    if (n == 0) return Map.empty
    var rank: Map[Long, Double] = deg.keys.map(x => x -> rnd(1.0 / n, 9)).toMap
    for (_ <- 1 to iters) {
      val contribs = sym.map { case (u, vx) =>
        // round9 as double, then the exact decimal(28,9) representation
        vx -> BigDecimal(rnd(rank(u) / deg(u), 9))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      rank = contribs.groupBy(_._1).map { case (vx, cs) =>
        val s = cs.map(_._2).sum.toDouble
        vx -> rnd((1.0 - damping) / n + damping * s, 9)
      }
    }
    rank
  }

  /** Bounded peel on the canonical pair list: degree-with-multiplicity
    * per round (one count per incident surviving edge), keep deg >= k. */
  def refKcorePeel(pairs: Seq[(Long, Long)], rounds: Int, k: Int)
      : Set[(Long, Long)] = {
    var e = pairs
    for (_ <- 1 to rounds) {
      val deg = e.flatMap(x => Seq(x._1, x._2)).groupBy(identity)
        .map { case (kk, xs) => kk -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      e = e.filter(x => keep(x._1) && keep(x._2))
    }
    e.toSet
  }

  /** (n_edges, n_triangles, n_wedges, coeff) by direct enumeration. */
  def refTriangles(pairs: Seq[(Long, Long)])
      : (Long, Long, Long, Option[Double]) = {
    val s = pairs.toSet
    val tri = (for {
      (a, b) <- pairs
      (b2, c) <- pairs if b2 == b && s((a, c))
    } yield 1).size.toLong
    val deg = pairs.flatMap(x => Seq(x._1, x._2)).groupBy(identity)
      .map { case (_, xs) => xs.size.toLong }
    val wed = deg.map(d => d * (d - 1) / 2).sum
    val coeff = if (wed > 0) Some(rnd(3.0 * tri / wed, 6)) else None
    (pairs.size.toLong, tri, wed, coeff)
  }

  /** (n_edges, assortativity) from exact integer stub moments. */
  def refAssortativity(pairs: Seq[(Long, Long)])
      : (Long, Option[Double]) = {
    val deg = pairs.flatMap(x => Seq(x._1, x._2)).groupBy(identity)
      .map { case (k, xs) => k -> xs.size.toLong }
    val xy = pairs.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val m2 = xy.size.toLong
    val sx = xy.map(_._1).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val den = m2 * sxx - sx * sx
    val r = if (den > 0) Some(rnd((m2 * sxy - sx * sx).toDouble / den.toDouble, 6))
            else None
    (m2 / 2, r)
  }

  /** Per-part (m_in, d_sum, q_part) for a total membership. */
  def refModularity(pairs: Seq[(Long, Long)], mem: Map[Long, String])
      : Map[String, (Long, Long, Double)] = {
    val m = pairs.count(e => mem.contains(e._1) && mem.contains(e._2)).toLong
    val deg = pairs.flatMap(x => Seq(x._1, x._2)).groupBy(identity)
      .map { case (k, xs) => k -> xs.size.toLong }
    val dsum = deg.toSeq.flatMap { case (vx, d) => mem.get(vx).map(_ -> d) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val mIn = pairs.flatMap { case (a, b) =>
      (mem.get(a), mem.get(b)) match {
        case (Some(p1), Some(p2)) if p1 == p2 => Some(p1)
        case _ => None
      }
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    dsum.map { case (p, d) =>
      val mi = mIn.getOrElse(p, 0L)
      val q = rnd(mi.toDouble / m -
        (d.toDouble / (2L * m)) * (d.toDouble / (2L * m)), 6)
      p -> (mi, d, q)
    }
  }

  // ------------------------------------------------------------------
  // one-set differential run
  // ------------------------------------------------------------------

  private def deq(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) ||
      a == b // -0.0 == 0.0 under SQL equality; bit compare handles NaN

  def runOne(spark: SparkSession, es: Seq[(Long, Long)],
             mem: Map[Long, String], p: GParams, deep: Boolean): Seq[String] = {
    import spark.implicits._
    val errs = Vector.newBuilder[String]
    val edf = es.toDF("d1", "d2")
    val pairs = canonical(es)
    val pdf = pairs.toDF("d1", "d2")

    // 1. connected components (default budget)
    val ccGot = ConnectedComponents.components(edf, "d1", "d2", p.ccMaxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccWant = refComponents(es)
    if (ccGot != ccWant)
      errs += s"cc(maxIter=${p.ccMaxIter}): got $ccGot want $ccWant"

    // 2. incremental merge: labels over the first half + fold the rest
    if (es.size >= 2) {
      val (oldE, newE) = es.splitAt(es.size / 2)
      val labels = ConnectedComponents.components(
        oldE.toDF("d1", "d2"), "d1", "d2")
      val got = ConnectedComponents.merge(labels, newE.toDF("d1", "d2"),
        "d1", "d2").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = refComponents(es)
      if (got != want) errs += s"cc_merge: got $got want $want"
    }

    // 3. label propagation
    val lpaGot = LabelPropagation.propagate(edf, "d1", "d2", p.lpaRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpaWant = refLpa(es, p.lpaRounds)
    if (lpaGot != lpaWant)
      errs += s"lpa(rounds=${p.lpaRounds}): got $lpaGot want $lpaWant"

    // 4. pagerank
    val prGot = PageRank.ranks(edf, "d1", "d2", p.damping, p.prIters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prWant = refPageRank(es, p.damping, p.prIters)
    if (prGot.keySet != prWant.keySet ||
        prGot.exists { case (k, v) => !deq(v, prWant(k)) })
      errs += s"pagerank(d=${p.damping},iters=${p.prIters}): got $prGot want $prWant"

    if (pairs.nonEmpty) {
      // 5. k-core peel
      val kcGot = GraphStats.kcorePeel(pdf, p.kcoreRounds, p.kcoreK)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val kcWant = refKcorePeel(pairs, p.kcoreRounds, p.kcoreK)
      if (kcGot != kcWant)
        errs += s"kcore(rounds=${p.kcoreRounds},k=${p.kcoreK}): got $kcGot want $kcWant"

      // 6. triangle census
      val tcRow = GraphStats.triangleCensus(pdf).collect().head
      val (ne, nt, nw, cf) = refTriangles(pairs)
      val cfGot = if (tcRow.isNullAt(3)) None else Some(tcRow.getDouble(3))
      if (tcRow.getLong(0) != ne || tcRow.getLong(1) != nt ||
          tcRow.getLong(2) != nw ||
          !((cfGot, cf) match {
            case (Some(a), Some(b)) => deq(a, b)
            case (None, None) => true
            case _ => false
          }))
        errs += s"triangles: got $tcRow want ($ne,$nt,$nw,$cf)"

      // 7. assortativity
      val asRow = GraphStats.assortativity(pdf).collect().head
      val (ane, ar) = refAssortativity(pairs)
      val arGot = if (asRow.isNullAt(1)) None else Some(asRow.getDouble(1))
      if (asRow.getLong(0) != ane ||
          !((arGot, ar) match {
            case (Some(a), Some(b)) => deq(a, b)
            case (None, None) => true
            case _ => false
          }))
        errs += s"assortativity: got $asRow want ($ane,$ar)"

      // 8. modularity over the random total membership
      val mdf = mem.toSeq.toDF("v", "part")
      val mGot = GraphStats.modularity(pdf, mdf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
      val mWant = refModularity(pairs, mem)
      if (mGot.keySet != mWant.keySet || mGot.exists { case (k, (mi, d, q)) =>
          val (wmi, wd, wq) = mWant(k); mi != wmi || d != wd || !deq(q, wq) })
        errs += s"modularity: got $mGot want $mWant"
    }

    if (deep) {
      // 9. forced star-contraction fallback must agree with union-find
      val got = ConnectedComponents.components(edf, "d1", "d2", maxIter = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (got != ccWant) errs += s"cc(maxIter=1, star fallback): got $got want $ccWant"

      // 10. partitioning invariance: LPA over a repartitioned edge frame
      val got2 = LabelPropagation.propagate(edf.repartition(7), "d1", "d2",
        p.lpaRounds).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (got2 != lpaWant) errs += s"lpa repartition(7) drifted: got $got2 want $lpaWant"
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = (Seq[(Long, Long)], Map[Long, String], GParams)
  val name = "graphs"
  val sets = 50
  private def deep(i: Int) = i % 4 == 0
  def draw(r: Random, seed: Long, i: Int): In = graphSet(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in._1, in._2, in._3, deep(i))
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val (es, mem, p) = in
    val minimal = shrink(es)(runOne(spark, _, mem, p, deep(i)))
    s"(${minimal.size} edges, $p): " +
      minimal.map(e => s"${e._1}-${e._2}").mkString(" ")
  }
}
