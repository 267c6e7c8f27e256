package graft.plans

import scala.language.implicitConversions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.lit

/** graft's native Catalyst expressions, reachable two ways:
  *
  *   - DataFrame code builds them by type with the constructors below.
  *     The expression goes straight into the plan, so this works on any
  *     session with no set-up.
  *   - SQL text calls them by their `graft_*` name. The names resolve on
  *     sessions built with [[GraftExtensions]], which `graft.GraftSession`
  *     sets.
  *
  * Both ways give the same analyzed plan. */
object GraftFunctions {
  private implicit def expr(c: Column): Expression = GraftColumns.expression(c)
  private def native(e: Expression): Column = GraftColumns.column(e)

  def cosine(a: Column, b: Column): Column = native(CosineSimilarity(a, b))
  def sortedIntersectCount(a: Column, b: Column): Column = native(SortedIntersectCount(a, b))
  def hyperplaneBucket(vec: Column, planes: Int): Column =
    native(HyperplaneBuckets(vec, lit(planes)))
  def gramBucketShares(text: Column, n: Int, buckets: Int): Column =
    native(GramBucketShares(text, lit(n), lit(buckets)))
  def nearestCentroids(vec: Column, cents: Column, n: Int, zeroSafe: Boolean = false): Column =
    native(NearestCentroids(vec, cents, lit(n), zeroSafe))
  def hilbertKey(x: Column, y: Column, bits: Int): Column = native(HilbertKey(x, y, lit(bits)))
  def jaroWinkler(a: Column, b: Column): Column = native(JaroWinklerSimilarity(a, b))
  def bpeTokenSum(toks: Column, lhs: Column, rhs: Column): Column =
    native(BpeTokenSum(toks, lhs, rhs))
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    native(MinhashSignature(shingles, lit(numHashes)))
  def simhash(toks: Column, bits: Int): Column = native(SimhashFingerprint(toks, lit(bits)))
  def shingleHashSet(toks: Column, k: Int): Column = native(ShingleHashSet(toks, lit(k)))
  def winnowFingerprints(toks: Column, k: Int, window: Int): Column =
    native(WinnowFingerprints(toks, lit(k), lit(window)))
  def md5PrefixLong(key: Column, nChars: Int): Column = native(Md5PrefixLong(key, lit(nChars)))
  def kmPositions(key: Column, width: Int, k: Int): Column =
    native(KmPositions(key, lit(width), lit(k)))
  def charEntropyParts(text: Column): Column = native(CharEntropyParts(text))
  def jsonEscape(s: Column): Column = native(JsonEscape(s))

  private def fn[E <: Expression](name: String, cls: Class[E])(build: Seq[Expression] => E) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The SQL names, for [[GraftExtensions]]. */
  private[plans] val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_cosine", classOf[CosineSimilarity])(c => CosineSimilarity(c(0), c(1))),
    fn("graft_sorted_intersect_count", classOf[SortedIntersectCount])(
      c => SortedIntersectCount(c(0), c(1))),
    fn("graft_hyperplane_bucket", classOf[HyperplaneBuckets])(c => HyperplaneBuckets(c(0), c(1))),
    fn("graft_gram_bucket_shares", classOf[GramBucketShares])(
      c => GramBucketShares(c(0), c(1), c(2))),
    fn("graft_nearest_centroids", classOf[NearestCentroids])(
      c => NearestCentroids(c(0), c(1), c(2))),
    fn("graft_nearest_centroids_zs", classOf[NearestCentroids])(
      c => NearestCentroids(c(0), c(1), c(2), zeroSafe = true)),
    fn("graft_hilbert_key", classOf[HilbertKey])(c => HilbertKey(c(0), c(1), c(2))),
    fn("graft_jaro_winkler", classOf[JaroWinklerSimilarity])(c => JaroWinklerSimilarity(c(0), c(1))),
    fn("graft_bpe_token_count", classOf[BpeTokenCount])(c => BpeTokenCount(c(0), c(1), c(2))),
    fn("graft_bpe_token_sum", classOf[BpeTokenSum])(c => BpeTokenSum(c(0), c(1), c(2))),
    fn("graft_minhash_signature", classOf[MinhashSignature])(c => MinhashSignature(c(0), c(1))),
    fn("graft_simhash", classOf[SimhashFingerprint])(c => SimhashFingerprint(c(0), c(1))),
    fn("graft_shingle_hash_set", classOf[ShingleHashSet])(c => ShingleHashSet(c(0), c(1))),
    fn("graft_winnow_fps", classOf[WinnowFingerprints])(c => WinnowFingerprints(c(0), c(1), c(2))),
    fn("graft_md5_prefix_long", classOf[Md5PrefixLong])(c => Md5PrefixLong(c(0), c(1))),
    fn("graft_km_positions", classOf[KmPositions])(c => KmPositions(c(0), c(1), c(2))),
    fn("graft_char_entropy_parts", classOf[CharEntropyParts])(c => CharEntropyParts(c(0))),
    fn("graft_json_escape", classOf[JsonEscape])(c => JsonEscape(c(0))))
}

/** `SparkSessionExtensions` hook: inject the `graft_*` SQL names at session
  * build time (`spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
