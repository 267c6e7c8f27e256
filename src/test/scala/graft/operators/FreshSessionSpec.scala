package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Public operators put the native kernels into their plans by type
  * (`graft.plans.GraftFunctions`), never by `graft_*` name, so they run on a
  * session where no such name resolves. Each check runs the same operator
  * over the same input on the shared session and on a `newSession()` whose
  * function registry has every `graft_*` name dropped, and wants the same
  * rows. */
class FreshSessionSpec extends SparkSpec {

  private lazy val fresh: SparkSession = {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val graftNames = registry.listFunction().filter(_.funcName.startsWith("graft_"))
    assert(graftNames.nonEmpty, "the shared session should carry the graft_* names")
    graftNames.foreach(registry.dropFunction)
    assert(!s.catalog.functionExists("graft_md5_prefix_long"))
    s
  }

  private def sameRows(input: SparkSession => DataFrame)(op: DataFrame => DataFrame): Unit = {
    def rows(s: SparkSession) = op(input(s)).collect().map(_.toString).sorted.toSeq
    val expected = rows(spark)
    assert(expected.nonEmpty)
    assert(rows(fresh) === expected)
  }

  private def keys(s: SparkSession): DataFrame =
    s.range(200).select(col("id"), (col("id") % 3).as("g"))

  private def vecs(s: SparkSession): DataFrame = {
    import s.implicits._
    (1L to 12L).map(i => (i, Array.tabulate(4)(d => ((i * 5 + d * 3) % 7).toFloat),
      Array.tabulate(4)(d => ((i + d) % 4).toFloat))).toDF("id", "v", "w")
  }

  private def docs(s: SparkSession): DataFrame = {
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    Seq(1L -> base, 2L -> base, 3L -> (base + " today"),
      4L -> "an unrelated line of text about spark sessions and plans")
      .toDF("doc_id", "text")
  }

  test("hashUnit and hashSample run on a session with no graft_* names") {
    sameRows(keys)(_.select(col("id"), Sampling.hashUnit(col("id"), "s").as("u")))
    sameRows(keys)(Sampling.hashSample(_, "id", 0.3))
  }

  test("km-positions sketches run on a session with no graft_* names") {
    sameRows(keys)(Sketches.bloomBuild(_, "id", mBits = 256))
    sameRows(keys)(Sketches.cmsBuild(_, "g", width = 64, depth = 3))
  }

  test("cosineNative and nearest-centroid assignment run on a session with no graft_* names") {
    sameRows(vecs)(_.select(col("id"), Vectors.cosineNative(col("v"), col("w")).as("cos")))
    sameRows(vecs)(Vectors.kmeansAssign(_, "id", "v", k = 3, iters = 2))
  }

  test("MinHash dedup runs on a session with no graft_* names") {
    sameRows(docs)(Dedup.minhashLsh(_, "doc_id", "text"))
  }
}
