package graft.fuzz

import graft.operators.TextAnalysis

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded differential fuzz for the BPE trainer/encoder — the
  * [[CorpusFuzz]] discipline aimed at [[TextAnalysis.bpeTrainDistributed]]
  * (BOTH dispatch paths: the driver loop and the distributed keyed
  * rounds, forced via `driverDispatchMaxWords`) and
  * [[TextAnalysis.bpeEncode]] over the trained table. The second engine
  * is a plain-Scala replay of the Sennrich et al. contract: word
  * frequencies over `tokens()`, `minFreq` filter, `maxWords` rank cap by
  * (freq desc, word asc in UTF-8 BINARY order — FIXTURES §9 pin 4), then
  * per round pair counts summed over EVERY adjacent index (overlaps
  * included) weighted by word frequency, argmax tie-broken (cnt desc,
  * lhs asc, rhs asc) in the same byte order, greedy left-to-right
  * non-overlapping merge. Encode replays the merge rules in training
  * order per word.
  *
  * Adversarial shapes planted per corpus (on top of the CorpusFuzz
  * null/empty/unicode/boilerplate corpus): tie-heavy repeated-structure
  * words ("abab baba abab"), single-character and single-symbol-pair
  * words ("aaaa" — just-merged symbols must not re-match the round's
  * left side), `rounds` exceeding the possible merge count (early
  * exhaustion), `maxWords` caps SMALLER than the vocabulary (the
  * rank-cap boundary), and minFreq thresholds that drop exactly the
  * boundary words.
  *
  * The fast deterministic subset runs in BpeFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz bpe` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object BpeFuzz extends Surface {

  final case class BParams(rounds: Int, minFreq: Long, maxWords: Int)

  // ------------------------------------------------------------------
  // generator
  // ------------------------------------------------------------------

  /** A CorpusFuzz corpus plus planted tie/merge-degenerate docs. */
  def bpeCorpus(r: Random): (Seq[CorpusFuzz.Doc], BParams) = {
    val (base, _, _) = CorpusFuzz.corpus(r)
    val extra = Vector(
      "abab baba abab abba",          // pair ties across orientations
      "aaaa aaa aa a",                // self-pair (a,a): greedy non-overlap
      "xy xy xy yx",                  // equal-count (x,y) vs (y,x)
      "a b c d e f 0 1 2 3",          // single-symbol words: no pairs
      (1 to (2 + r.nextInt(4))).map(_ => "zq0zq0").mkString(" "))
      .zipWithIndex.collect {
        case (t, i) if r.nextInt(3) != 0 =>
          CorpusFuzz.Doc(90000L + i, Some(t))
      }
    val vocabGuess = 20 + r.nextInt(40)
    val p = BParams(
      rounds = 1 + r.nextInt(8),
      minFreq = 1L + r.nextInt(3),
      maxWords = r.nextInt(4) match {
        case 0 => 3 + r.nextInt(5)     // far below vocabulary
        case 1 => vocabGuess           // near the boundary
        case _ => 1 << 22              // pass-through default
      })
    (r.shuffle(base ++ extra), p)
  }

  // ------------------------------------------------------------------
  // reference model
  // ------------------------------------------------------------------

  private def utf8Key(s: String): Seq[Int] =
    s.getBytes("UTF-8").map(_ & 0xff).toSeq

  private val byteOrd: Ordering[Seq[Int]] = Ordering.Implicits.seqOrdering

  /** (merge table, final per-word segmentation) for the corpus. */
  def refBpeTrain(docs: Seq[CorpusFuzz.Doc], p: BParams)
      : (Seq[(Long, String, String, Long)], Map[String, Seq[String]]) = {
    val freq = docs.flatMap(_.text.toSeq.flatMap(CorpusFuzz.refTokens))
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      .filter(_._2 >= p.minFreq)
    val capped = freq.toSeq
      .sortBy { case (w, f) => (-f, utf8Key(w)) }(Ordering.Tuple2(
        Ordering.Long, byteOrd)).take(p.maxWords)
    var words: Seq[(Seq[String], Long)] = capped.map { case (w, f) =>
      (w.codePoints().toArray.toSeq.map(cp =>
        new String(Character.toChars(cp))), f)
    }
    val merges = Vector.newBuilder[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= p.rounds && !done) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((sy, f) <- words; i <- 0 until sy.length - 1)
        cnt.updateWith((sy(i), sy(i + 1)))(c => Some(c.getOrElse(0L) + f))
      if (cnt.isEmpty) done = true
      else {
        val ((a, b), c) = cnt.toSeq.sortBy { case ((l, rr), n) =>
          (-n, utf8Key(l), utf8Key(rr))
        }(Ordering.Tuple3(Ordering.Long, byteOrd, byteOrd)).head
        merges += ((r.toLong, a, b, c))
        words = words.map { case (sy, f) => (mergeOnce(sy, a, b), f) }
        r += 1
      }
    }
    (merges.result(), words.map { case (sy, f) => sy.mkString -> sy }.toMap)
  }

  /** One greedy left-to-right non-overlapping merge pass. */
  def mergeOnce(sy: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (x <- sy) {
      if (out.nonEmpty && out.last == a && x == b)
        out(out.length - 1) = a + b
      else out += x
    }
    out.toSeq
  }

  /** Twin of bpeEncode: per doc (n_words, n_bpe_tokens) applying the
    * merge rules in training order; null text → null counts. */
  def refBpeEncode(docs: Seq[CorpusFuzz.Doc],
                   merges: Seq[(String, String)])
      : Map[Long, (Option[Long], Option[Long])] =
    docs.map { d =>
      d.id -> (d.text match {
        case None => (None, None)
        case Some(t) =>
          val toks = CorpusFuzz.refTokens(t)
          val n = toks.map { w =>
            var sy: Seq[String] = w.codePoints().toArray.toSeq
              .map(cp => new String(Character.toChars(cp)))
            for ((a, b) <- merges) sy = mergeOnce(sy, a, b)
            sy.size.toLong
          }.sum
          (Some(toks.size.toLong), Some(n))
      })
    }.toMap

  // ------------------------------------------------------------------
  // one-corpus differential run
  // ------------------------------------------------------------------

  private def df(spark: SparkSession, docs: Seq[CorpusFuzz.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def runOne(spark: SparkSession, docs: Seq[CorpusFuzz.Doc], p: BParams,
             deep: Boolean): Seq[String] = {
    val errs = Vector.newBuilder[String]
    val d = df(spark, docs)
    val (wantM, _) = refBpeTrain(docs, p)

    // 1. driver-dispatch path (threshold far above any fuzz vocabulary)
    val gotDriver = TextAnalysis.bpeTrainDistributed(d, "text", p.rounds,
        p.minFreq, p.maxWords, driverDispatchMaxWords = 1L << 40)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    if (gotDriver != wantM)
      errs += s"bpe_train driver(${p}): got $gotDriver want $wantM"

    // 2. distributed keyed rounds (dispatch disabled)
    val gotDist = TextAnalysis.bpeTrainDistributed(d, "text", p.rounds,
        p.minFreq, p.maxWords, driverDispatchMaxWords = 0L)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    if (gotDist != wantM)
      errs += s"bpe_train distributed(${p}): got $gotDist want $wantM"

    // 3. encode under the trained table (map-only kernel vs fold replay)
    val merges = wantM.map(m => (m._2, m._3))
    val gotE = TextAnalysis.bpeEncode(d, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val wantE = refBpeEncode(docs, merges)
    if (gotE != wantE) errs += s"bpe_encode(${merges.size} rules): got $gotE want $wantE"

    if (deep) {
      // 4. partitioning invariance of the distributed trainer
      val got2 = TextAnalysis.bpeTrainDistributed(df(spark, docs).repartition(7),
          "text", p.rounds, p.minFreq, p.maxWords, driverDispatchMaxWords = 0L)
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
        .sortBy(_._1)
      if (got2 != wantM) errs += s"bpe_train distributed repartition(7) drifted"
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = (Seq[CorpusFuzz.Doc], BParams)
  val name = "bpe"
  val sets = 30
  private def deep(i: Int) = i % 4 == 0
  def draw(r: Random, seed: Long, i: Int): In = bpeCorpus(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in._1, in._2, deep(i))
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val (docs, p) = in
    val minimal = shrink(docs)(runOne(spark, _, p, deep(i)))
    s"(${minimal.size} docs, $p): ${CorpusFuzz.show(minimal)}"
  }
}
