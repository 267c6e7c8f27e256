package graft.fuzz

import graft.operators._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Composition fuzz for the curation-pipeline tier (round-14 verdict
  * item 3): random 2–4 stage chains — normalize / redact → quality or
  * C4/Gopher keep-filter → one dedup family → sampler / language filter
  * — applied to [[CorpusFuzz]]'s adversarial corpora, with the Spark
  * DataFrame chain diffed against the COMPOSED plain-Scala reference
  * models stage by stage. Per-operator fuzz (CorpusFuzz) proves each
  * stage alone; this machine catches INTER-STAGE contract drift — a
  * stage that nulls a column the next stage assumes non-null, a dedup
  * whose survivor set silently depends on a column an upstream filter
  * dropped, a text-rewriting stage whose output shape (null vs ''
  * propagation) the downstream hash disagrees on.
  *
  * The inter-stage contract pinned here: every stage consumes and
  * produces exactly (doc_id, text) — filters keep a subset of rows with
  * text unchanged; rewrites replace text (a rewrite maps null text to
  * the operator's documented null-shape, e.g. '' for the span-removal
  * family); the final comparison is the exact (doc_id, text) row set.
  *
  * The fast deterministic subset runs in ChainFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz chains` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object ChainFuzz extends Surface {
  import CorpusFuzz.Doc

  sealed trait Stage
  case object Normalize extends Stage
  case object RedactEmails extends Stage
  case object RedactPhones extends Stage
  case object C4Keep extends Stage
  case object GopherKeep extends Stage
  case object QualityKeep extends Stage
  case object ExactDedupKeep extends Stage
  final case class PrefixDedupKeep(k: Int) extends Stage
  final case class SegmentRemove(segLen: Int, minDocs: Int) extends Stage
  final case class SubstrRemove(n: Int) extends Stage
  final case class HashSample(rate: Double, seed: String) extends Stage
  final case class LangKeep(lang: String) extends Stage

  /** One seeded random chain: a text rewrite, then a quality filter,
    * then a dedup family, then a sampler/lang filter — each slot
    * present with probability ~3/4, at least two stages total (re-rolled
    * otherwise). Slot order matches the real curation recipe
    * (d_curation_pipeline), so the chains are realistic compositions,
    * not arbitrary operator soup. */
  def randomChain(r: Random): Seq[Stage] = {
    val rewrite = Vector(Normalize, RedactEmails, RedactPhones,
      SegmentRemove(2 + r.nextInt(4), 2 + r.nextInt(2)),
      SubstrRemove(3 + r.nextInt(4)))
    val quality = Vector(C4Keep, GopherKeep, QualityKeep)
    val dedup = Vector(ExactDedupKeep, PrefixDedupKeep(1 + r.nextInt(10)))
    val sample = Vector(
      HashSample(Vector(0.3, 0.6, 0.9)(r.nextInt(3)), r.nextInt(4).toString),
      LangKeep(Vector("en", "de", "fr", "und")(r.nextInt(4))))
    val picked = Seq(
      if (r.nextInt(4) < 3) Some(rewrite(r.nextInt(rewrite.size))) else None,
      if (r.nextInt(4) < 3) Some(quality(r.nextInt(quality.size))) else None,
      if (r.nextInt(4) < 3) Some(dedup(r.nextInt(dedup.size))) else None,
      if (r.nextInt(4) < 3) Some(sample(r.nextInt(sample.size))) else None
    ).flatten
    if (picked.size >= 2) picked else randomChain(r)
  }

  // ------------------------------------------------------------------
  // Spark side: each stage maps a (doc_id, text) frame to another
  // ------------------------------------------------------------------

  def applySpark(df: DataFrame, s: Stage): DataFrame = s match {
    case Normalize =>
      df.select(col("doc_id"), TextNormalize.normalize(col("text")).as("text"))
    case RedactEmails =>
      df.select(col("doc_id"), TextNormalize.redactEmails(col("text")).as("text"))
    case RedactPhones =>
      df.select(col("doc_id"), TextNormalize.redactPhones(col("text")).as("text"))
    case C4Keep =>
      df.join(TextAnalysis.c4Filters(df, "doc_id", "text")
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    case GopherKeep =>
      df.join(TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 8)
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    case QualityKeep =>
      df.join(TextAnalysis.qualityScore(df, "doc_id", "text")
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    case ExactDedupKeep =>
      df.join(Dedup.exactDedup(df, "doc_id", "text").select("doc_id"),
        Seq("doc_id"), "left_semi")
    case PrefixDedupKeep(k) =>
      df.join(Dedup.prefixDedup(df, "doc_id", "text", k).select("doc_id"),
        Seq("doc_id"), "left_semi")
    case SegmentRemove(segLen, minDocs) =>
      Dedup.commonSegmentRemoval(df, "doc_id", "text", segLen, minDocs)
        .select(col("doc_id"), col("kept_text").as("text"))
    case SubstrRemove(n) =>
      Dedup.exactSubstringDedup(df, "doc_id", "text", n)
        .select(col("doc_id"), col("kept_text").as("text"))
    case HashSample(rate, seed) =>
      Sampling.hashSample(df, "doc_id", rate, seed)
    case LangKeep(lang) =>
      df.join(TextAnalysis.langId(df, "doc_id", "text")
        .filter(col("pred_lang") === lang).select("doc_id"),
        Seq("doc_id"), "left_semi")
  }

  // ------------------------------------------------------------------
  // reference side: the composed plain-Scala models over Seq[Doc]
  // ------------------------------------------------------------------

  /** twin of TextNormalize.normalize: JVM lowercase (what Spark lower()
    * does for non-ASCII on the same JVM), Java-regex \s+ collapse, and
    * Spark trim — which strips SPACES only. */
  private def refNormalize(t: String): String = {
    val collapsed = t.toLowerCase.replaceAll("\\s+", " ")
    collapsed.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
  }

  /** twin of Sampling.hashUnit: first 6 md5 hex chars of (key ++ seed)
    * as a base-16 long over 2^24. */
  private def refHashUnit(key: String, seed: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest((key + seed).getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(6), 16).toDouble / 16777216.0
  }

  def applyRef(docs: Seq[Doc], s: Stage): Seq[Doc] = s match {
    case Normalize =>
      docs.map(d => d.copy(text = d.text.map(refNormalize)))
    case RedactEmails =>
      docs.map(d => d.copy(text = d.text.map(
        _.replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"))))
    case RedactPhones =>
      docs.map(d => d.copy(text = d.text.map(
        _.replaceAll("\\+?[0-9][0-9()\\-\\s]{5,}[0-9]", "[PHONE]"))))
    case C4Keep =>
      val keep = CorpusFuzz.refC4Filters(docs)
      docs.filter(d => keep(d.id)._6 == Some(true))
    case GopherKeep =>
      val keep = CorpusFuzz.refGopherRules(docs, minWords = 8, maxWords = 100000)
      docs.filter(d => keep(d.id)._9)
    case QualityKeep =>
      val keep = CorpusFuzz.refQualityScore(docs)
      docs.filter(d => keep(d.id)._10)
    case ExactDedupKeep =>
      val survivors = docs.groupBy(_.text).values.map(_.map(_.id).min).toSet
      docs.filter(d => survivors.contains(d.id))
    case PrefixDedupKeep(k) =>
      val survivors = docs
        .groupBy(d => d.text.map(CorpusFuzz.refTokens(_).take(k).mkString(" "))
          .getOrElse(""))
        .values.map(_.map(_.id).min).toSet
      docs.filter(d => survivors.contains(d.id))
    case SegmentRemove(segLen, minDocs) =>
      val kept = CorpusFuzz.refSegmentRemoval(docs, segLen, minDocs)
      docs.map(d => d.copy(text = Some(kept(d.id)._3)))
    case SubstrRemove(n) =>
      val kept = CorpusFuzz.refExactSubstringDedup(docs, n)
      docs.map(d => d.copy(text = Some(kept(d.id)._3)))
    case HashSample(rate, seed) =>
      docs.filter(d => refHashUnit(d.id.toString, seed) < rate)
    case LangKeep(lang) =>
      docs.filter(d => CorpusFuzz.refLangId(d) == lang)
  }

  // ------------------------------------------------------------------
  // differential runner
  // ------------------------------------------------------------------

  /** Runs one corpus through one chain on both engines; returns
    * human-readable divergences (empty = ok). The Spark side re-plans
    * from the PREVIOUS stage's collected result each stage (a fresh
    * DataFrame per stage) so a divergence names the exact stage it
    * first appeared at, not just the chain end. */
  def runOne(spark: SparkSession, docs0: Seq[Doc], chain: Seq[Stage]): List[String] = {
    import spark.implicits._
    val errs = List.newBuilder[String]
    var df = docs0.map(d => (d.id, d.text.orNull)).toDF("doc_id", "text")
    var ref = docs0
    chain.zipWithIndex.foreach { case (s, i) =>
      df = applySpark(df, s)
      ref = applyRef(ref, s)
      val got = df.as[(Long, Option[String])].collect()
        .map(x => x._1 -> x._2).toMap
      val want = ref.map(d => d.id -> d.text).toMap
      if (got != want && errs.result().isEmpty) {
        val bad = (got.keySet ++ want.keySet)
          .filter(id => got.get(id) != want.get(id)).toSeq.sorted.take(3)
        errs += s"stage $i (${s.toString.take(40)}) of [${chain.mkString(" → ")}]: " +
          bad.map(id => s"doc $id got=${got.get(id)} want=${want.get(id)}").mkString("; ")
      }
      // pin the verified stage output as the next stage's input so a
      // single divergence doesn't cascade into noise
      df = got.toSeq.map { case (id, t) => (id, t.orNull) }.toDF("doc_id", "text")
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = (Seq[Doc], Seq[Stage])
  val name = "chains"
  val sets = 40
  override val seeds = Seq(12L, 99L, 7L)
  def draw(r: Random, seed: Long, i: Int): In = {
    val (docs, _, _) = CorpusFuzz.corpus(r)
    (docs, randomChain(r))
  }
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in._1, in._2)
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val (docs, chain) = in
    val minimal = shrink(docs)(runOne(spark, _, chain))
    s"(${minimal.size} docs, chain=[${chain.mkString(" → ")}]): " +
      CorpusFuzz.show(minimal)
  }
}
