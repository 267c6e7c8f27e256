package graft.fuzz

import graft.operators._

import graft.SparkSpec
import scala.util.Random

/** Fast deterministic subset of the graph-tier differential fuzz:
  * 2 seeds × 4 adversarial graphs (one deep: forced star-contraction +
  * partitioning invariance) through CC/merge/LPA/PageRank/GraphStats vs
  * the plain-Scala reference models. The full multi-seed sweep runs via
  * `graft.Fuzz graphs` (FUZZ_r<N>.json). */
@graft.SlowFuzz
class GraphFuzzSpec extends SparkSpec {

  test("same seed regenerates the identical graph stream") {
    def gen(seed: Long) = {
      val r = new Random(seed)
      (0 until 5).map(_ => GraphFuzz.graphSet(r))
    }
    val (a, b) = (gen(12L), gen(12L))
    assert(a.map(_._1) === b.map(_._1))
    assert(a.map(_._2) === b.map(_._2))
    assert(gen(12L).map(_._1) !== gen(13L).map(_._1))
  }

  test("the generator plants every adversarial shape across 60 graphs") {
    val r = new Random(7L)
    val sets = (0 until 60).map(_ => GraphFuzz.graphSet(r))
    val edges = sets.flatMap(_._1)
    assert(edges.exists(e => e._1 == e._2), "self-loops never drawn")
    assert(edges.size != edges.distinct.size, "duplicate edges never drawn")
    assert(sets.exists(_._1.size >= 26), "long chains never drawn")
    assert(sets.exists(_._3.ccMaxIter == 2), "small CC budget never drawn")
    assert(edges.exists(_._1 >= 1_000_000_000_000L), "big ids never drawn")
  }

  test("reference models: hand-checked micro-graph") {
    // path 1-2-3 plus isolated self-loop 9
    val es = Seq((1L, 2L), (2L, 3L), (9L, 9L))
    assert(GraphFuzz.refComponents(es) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    // triangle census of a closed triangle
    val (ne, nt, nw, cf) = GraphFuzz.refTriangles(Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert((ne, nt, nw) === (3L, 1L, 3L))
    assert(cf === Some(1.0))
    // LPA over one edge: both endpoints adopt the other's label, i.e.
    // swap on odd rounds
    assert(GraphFuzz.refLpa(Seq((5L, 8L)), 1) === Map(5L -> 8L, 8L -> 5L))
    assert(GraphFuzz.refLpa(Seq((5L, 8L)), 2) === Map(5L -> 5L, 8L -> 8L))
  }

  test("2 seeds x 4 graphs: Spark operators match the reference models") {
    val divergent = graft.Fuzz.sweep(spark, GraphFuzz, Seq(12L, 99L), 4)
    assert(divergent.isEmpty, divergent.mkString("\n"))
  }
}
