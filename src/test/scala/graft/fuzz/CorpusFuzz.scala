package graft.fuzz

import graft.operators._

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Random

/** Seeded random-corpus fuzz for the text/dedup operators (round-13
  * verdict item 5) — the SqlFuzz discipline aimed at operators instead
  * of relational SQL. DuckDB cannot twin shingle/minhash pipelines, so
  * the second engine here is a PLAIN-SCALA reference model: direct
  * collections-code transcriptions of each operator's documented
  * contract (tokens → shingles → md5-head hashes → set jaccard; prefix
  * keys; stopword votes), sharing NOTHING with the Spark implementations
  * beyond the contract itself — the Spark side goes through Catalyst
  * expressions, codegen kernels (`graft_sorted_intersect_count`) and the
  * PPJoin prefix/length/position filters, so a divergence is a real bug
  * in one of those layers (the AllPairs filter is claimed LOSSLESS; this
  * is the machine that would catch it lying on adversarial shapes).
  *
  * Corpus shapes planted per the verdict list: empty docs, whitespace
  * docs, 1-token docs, NULL texts, exact duplicates, shared-prefix
  * near-duplicates, all-boilerplate docs (one sentence everywhere —
  * the maxDf cap's target), unicode incl. astral-plane emoji / CJK /
  * combining marks / Turkish İ (whose JVM lowercase expands to i +
  * U+0307), very long single tokens, and punctuation-only docs.
  *
  * The fast deterministic subset runs in CorpusFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz corpus` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object CorpusFuzz extends Surface {

  final case class Doc(id: Long, text: Option[String])
  final case class Params(k: Int, minJaccard: Double, maxDf: Long, prefixK: Int,
                          minContainment: Double, segLen: Int, minDocs: Int,
                          subN: Int, maxHamming: Int)

  // ------------------------------------------------------------------
  // corpus generator
  // ------------------------------------------------------------------

  private val words = Vector(
    "the", "and", "of", "to", "in", "is", "that", "for", // en stopwords
    "der", "die", "und", "ist", "nicht", // de
    "le", "la", "les", "et", "est", // fr (la shared with es)
    "el", "los", "y", "no", // es
    "alpha", "beta", "gamma", "delta", "data", "spark", "query", "row",
    "héllo", "née", "straße", "日本語", "テキスト", "中文", "😀", "🚀🔥",
    "éclair", // combining acute: NOT equal to é precomposed
    "İstanbul", // lowercases to i + U+0307
    "ΣΊΓΜΑ", "x_1", "a,b", "n/a", "!!!", "...", "42", "007",
    "x" * 500, "longtoken" + "y" * 200)

  private val boilerplate =
    "this boilerplate sentence repeats across many documents verbatim"

  private def randText(r: Random, nTok: Int): String = {
    val seps = Vector(" ", "  ", "\t", "\n", " , ", ". ")
    (0 until nTok).map(_ => words(r.nextInt(words.size)))
      .mkString(seps(r.nextInt(seps.size)))
  }

  /** One seeded corpus: 12-40 docs over the adversarial shape mix, plus
    * planted exact-duplicate and shared-prefix groups. Returns the docs
    * and the planted exact-dup id pairs (both sides ≥3 tokens) for the
    * minhash recall invariant. */
  def corpus(r: Random): (Seq[Doc], Params, Seq[(Long, Long)]) = {
    val n = 12 + r.nextInt(29)
    val docs = Vector.newBuilder[Doc]
    var dupPairs = Vector.empty[(Long, Long)]
    var id = 0L
    def add(t: Option[String]): Long = { val i = id; docs += Doc(i, t); id += 1; i }
    var prev = Vector.empty[(Long, String)]
    // multi-line web-shaped doc for the C4 line rules: ~5-word lines
    // with mixed terminal punctuation, occasional bad-phrase / brace /
    // lorem-ipsum plants
    def webDoc(): String = {
      val ends = Vector(".", "!", "?", "\"", "", " .", ". ")
      (0 until (2 + r.nextInt(6))).map { _ =>
        val base = (0 until (3 + r.nextInt(5)))
          .map(_ => words(r.nextInt(words.size))).mkString(" ")
        val plant = r.nextInt(12) match {
          case 0 => " cookie policy"
          case 1 => " javascript"
          case 2 => " {"
          case 3 => " Lorem Ipsum"
          case _ => ""
        }
        base + plant + ends(r.nextInt(ends.size))
      }.mkString("\n")
    }
    (0 until n).foreach { _ =>
      r.nextInt(12) match {
        case 0 => add(None)
        case 1 => add(Some(""))
        case 2 => add(Some(Vector(" ", "\t", "\n", "   ")(r.nextInt(4))))
        case 3 => add(Some(words(r.nextInt(words.size)))) // 1 token
        case 4 => add(Some(boilerplate + " " + randText(r, r.nextInt(4))))
        case 7 | 8 => add(Some(webDoc()))
        case 5 if prev.nonEmpty => // exact duplicate of an earlier doc
          val (pid, t) = prev(r.nextInt(prev.size))
          val nid = add(Some(t))
          if (refTokens(t).size >= 3) dupPairs :+= (pid, nid)
        case 6 if prev.nonEmpty => // shared prefix, diverging tail
          val (_, t) = prev(r.nextInt(prev.size))
          val toks = refTokens(t)
          add(Some(toks.take(10).mkString(" ") + " " + randText(r, 5 + r.nextInt(10))))
        case _ =>
          val t = randText(r, 4 + r.nextInt(40))
          val i = add(Some(t)); prev :+= (i, t)
      }
    }
    val p = Params(
      k = 2 + r.nextInt(3),
      minJaccard = Vector(0.2, 0.3, 0.5, 0.7)(r.nextInt(4)),
      maxDf = if (r.nextBoolean()) Long.MaxValue else 2L + r.nextInt(4),
      prefixK = 1 + r.nextInt(11),
      minContainment = Vector(0.25, 0.5, 0.8)(r.nextInt(3)),
      segLen = 2 + r.nextInt(5),
      minDocs = 2 + r.nextInt(2),
      subN = 3 + r.nextInt(4),
      // 4 pigeonhole chunks over 48 bits guarantee recall only to
      // hamming 3 = chunks - 1; the operator's contract tops out there
      maxHamming = 1 + r.nextInt(3))
    (docs.result(), p, dupPairs)
  }

  // ------------------------------------------------------------------
  // plain-Scala reference models
  // ------------------------------------------------------------------

  /** twin of TextFunctions.tokens: regexp_extract_all(lower(t),
    * "[a-z0-9]+") — Spark's lower() falls back to the JVM's toLowerCase
    * for non-ASCII, so the ref uses the same call (same JVM). */
  def refTokens(t: String): Vector[String] =
    "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector

  private def refBpeish(t: String): Vector[String] =
    "[a-z]+|[0-9]+|[^a-z0-9\\s]".r.findAllIn(t.toLowerCase).toVector

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** twin of Dedup.shingleHash: first 15 md5 hex chars as a base-16 long */
  def refShingleHash(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  /** per-doc distinct k-shingle STRING sets (docs with < k tokens drop) */
  def refShingleStrings(docs: Seq[Doc], k: Int): Map[Long, Set[String]] =
    docs.flatMap { d =>
      d.text.map(refTokens).filter(_.size >= k)
        .map(toks => d.id -> toks.sliding(k).map(_.mkString(" ")).toSet)
    }.toMap

  /** per-doc distinct hashed k-shingle sets (docs with < k tokens drop) */
  def refShingleSets(docs: Seq[Doc], k: Int): Map[Long, Set[Long]] =
    refShingleStrings(docs, k).map { case (id, ss) => id -> ss.map(refShingleHash) }

  /** brute-force twin of Dedup.ngramJaccard (± the maxDf posting cap) */
  def refNgramJaccard(docs: Seq[Doc], p: Params): Map[(Long, Long), Double] = {
    val sets0 = refShingleSets(docs, p.k)
    val sets =
      if (p.maxDf == Long.MaxValue) sets0
      else {
        val df = sets0.values.flatten.groupBy(identity).map { case (h, xs) => h -> xs.size }
        sets0.map { case (id, s) => id -> s.filter(h => df(h) <= p.maxDf) }
          .filter(_._2.nonEmpty)
      }
    val ids = sets.keys.toVector.sorted
    (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      a = sets(ids(i)); b = sets(ids(j))
      inter = (a & b).size
      jac = inter.toDouble / (a.size + b.size - inter)
      if jac >= p.minJaccard
    } yield (ids(i), ids(j)) -> jac).toMap
  }

  /** twin of Dedup.exactDedup: one (min id, copies) per distinct text;
    * null text is its own group (md5(null) = null key) */
  def refExactDedup(docs: Seq[Doc]): Set[(Long, Long)] =
    docs.groupBy(_.text).values
      .map(g => (g.map(_.id).min, g.size.toLong)).toSet

  /** twin of Dedup.prefixDedup: group by first min(k, len) tokens joined
    * by ' '; null text ⇒ '' prefix (concat_ws over a null slice) */
  def refPrefixDedup(docs: Seq[Doc], k: Int): Set[(Long, Long)] =
    docs.groupBy(d => d.text.map(refTokens(_).take(k).mkString(" ")).getOrElse(""))
      .values.map(g => (g.map(_.id).min, g.size.toLong)).toSet

  /** brute-force twin of Dedup.containment: ORDERED pairs (d1 contained
    * in d2), inter/|A| >= t, d1 != d2 — the ceilSafe boundary class */
  def refContainment(docs: Seq[Doc], k: Int, t: Double): Map[(Long, Long), Double] = {
    val sets = refShingleSets(docs, k)
    val ids = sets.keys.toVector.sorted
    (for {
      a <- ids.iterator; b <- ids
      if a != b
      inter = (sets(a) & sets(b)).size
      c = inter.toDouble / sets(a).size
      if c >= t
    } yield (a, b) -> c).toMap
  }

  /** full twin of Dedup.minhashLsh: per-component signature = lexicographic
    * min of md5(h + "|" + shingle) hex strings over the doc's distinct
    * shingle STRINGS; banding = md5 of the comma-joined band slice;
    * candidates share any (band, hash) bucket; est = matching components
    * / numHashes, kept at est >= minEst. The Spark side computes the
    * identical values entirely in-row (array_min over a transform). */
  def refMinhashLsh(docs: Seq[Doc], numHashes: Int = 16, bands: Int = 4,
                    minEst: Double = 0.5, k: Int = 3): Map[(Long, Long), Double] = {
    val sh = refShingleStrings(docs, k)
    val sig: Map[Long, Vector[String]] = sh.map { case (id, ss) =>
      id -> (0 until numHashes).map(h => ss.map(s => md5hex(s"$h|$s")).min).toVector
    }
    val rows = numHashes / bands
    def bandHashes(s: Vector[String]): Vector[String] =
      (0 until bands).map(b => md5hex(s.slice(b * rows, b * rows + rows).mkString(","))).toVector
    val bh = sig.map { case (id, s) => id -> bandHashes(s) }
    val ids = sig.keys.toVector.sorted
    (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      if (0 until bands).exists(x => bh(a)(x) == bh(b)(x))
      est = sig(a).zip(sig(b)).count { case (x, y) => x == y }.toDouble / numHashes
      if est >= minEst
    } yield (a, b) -> est).toMap
  }

  /** twin of Dedup.commonSegmentRemoval: fixed-length token segments,
    * a segment text shared by >= minDocs DISTINCT docs is dropped from
    * every doc; null/short texts yield zero segments */
  def refSegmentRemoval(docs: Seq[Doc], segLen: Int,
                        minDocs: Int): Map[Long, (Long, Long, String)] = {
    val segs: Map[Long, Vector[String]] = docs.map { d =>
      d.id -> d.text.map(refTokens(_).grouped(segLen).map(_.mkString(" ")).toVector)
        .getOrElse(Vector.empty)
    }.toMap
    val df = segs.toSeq.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.size }
    val dup = df.filter(_._2 >= minDocs).keySet
    segs.map { case (id, ss) =>
      val kept = ss.filterNot(dup.contains)
      id -> (ss.size.toLong, kept.size.toLong, kept.mkString(" "))
    }
  }

  /** twin of Dedup.exactSubstringDedup (Lee et al. ExactSubstr at token
    * granularity): every position whose n-gram occurs more than once in
    * the WHOLE corpus (total occurrences, intra-doc repeats count) marks
    * its n tokens covered; output (n_tokens, n_removed, kept_text).
    * Null text keeps the operator's null-propagation shape
    * (null sizes, '' kept_text). */
  def refExactSubstringDedup(docs: Seq[Doc], n: Int)
      : Map[Long, (Option[Long], Option[Long], String)] = {
    val toks: Map[Long, Option[Vector[String]]] =
      docs.map(d => d.id -> d.text.map(refTokens)).toMap
    val grams = toks.toSeq.flatMap {
      case (id, Some(t)) if t.size >= n =>
        (1 to t.size - n + 1).map(p => (id, p, t.slice(p - 1, p - 1 + n).mkString(" ")))
      case _ => Seq.empty
    }
    val cnt = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val starts: Map[Long, Seq[Int]] = grams.filter(x => cnt(x._3) > 1)
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2) }
    toks.map {
      case (id, None) => id -> (None, None, "")
      case (id, Some(t)) =>
        val ss = starts.getOrElse(id, Seq.empty)
        val kept = t.zipWithIndex.collect {
          case (tok, i) if !ss.exists(s => s <= i + 1 && i + 1 < s + n) => tok
        }
        id -> (Some(t.size.toLong), Some((t.size - kept.size).toLong), kept.mkString(" "))
    }
  }

  /** twin of Dedup.simhash (48-bit, token-frequency weighted ±1 votes
    * from md5 hex bits); docs with zero tokens drop */
  def refSimhash(docs: Seq[Doc], bits: Int = 48): Map[Long, Long] =
    docs.flatMap { d =>
      d.text.map(refTokens).filter(_.nonEmpty).map { toks =>
        val hs = toks.map(md5hex)
        val sim = (0 until bits).map { b =>
          val sum = hs.map { h =>
            val digit = Integer.parseInt(h.charAt(b / 4).toString, 16)
            if (((digit >> (b % 4)) & 1) == 1) 1L else -1L
          }.sum
          if (sum > 0) 1L << b else 0L
        }.sum
        d.id -> sim
      }
    }.toMap

  /** brute-force twin of Dedup.simhashNearDup: all pairs d1<d2 at
    * hamming <= maxHamming (for maxHamming <= 3 the 4-chunk pigeonhole
    * makes the blocked join's recall exact, so brute force IS the
    * contract) */
  def refSimhashNearDup(docs: Seq[Doc], maxHamming: Int): Map[(Long, Long), Long] = {
    val sh = refSimhash(docs)
    val ids = sh.keys.toVector.sorted
    (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      h = java.lang.Long.bitCount(sh(ids(i)) ^ sh(ids(j))).toLong
      if h <= maxHamming
    } yield (ids(i), ids(j)) -> h).toMap
  }

  /** twin of TextAnalysis.predLang's stopword vote (ties: en>de>fr>es) */
  def refPredLang(toks: Vector[String]): String = {
    def hits(l: String) =
      toks.count(graft.functions.TextFunctions.stopwords(l).contains)
    val (en, de, fr, es) = (hits("en"), hits("de"), hits("fr"), hits("es"))
    if (en >= de && en >= fr && en >= es && en > 0) "en"
    else if (de >= fr && de >= es && de > 0) "de"
    else if (fr >= es && fr > 0) "fr"
    else if (es > 0) "es"
    else "und"
  }

  def refLangId(d: Doc): String =
    d.text.map(t => refPredLang(refTokens(t))).getOrElse("und")

  /** twin of TextAnalysis.codeSwitch: per-line language votes, dominant
    * by (count desc, name asc), Shannon entropy via the decimal(30,15)
    * accumulation of c·ln c terms (bit-exact: same java.lang.Math.log,
    * same HALF_UP decimal casts). Null-text docs have no line rows and
    * are absent from the output. */
  def refCodeSwitch(docs: Seq[Doc]): Map[Long, (Long, Long, String, Double)] = {
    def dec15(v: Double) =
      BigDecimal(java.math.BigDecimal.valueOf(v).setScale(15, java.math.RoundingMode.HALF_UP))
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    docs.flatMap { d =>
      d.text.map { t =>
        val langs = t.split("\n", -1).toVector.map(l => refPredLang(refTokens(l)))
        val counts = langs.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
        val nLines = counts.values.sum
        val dominant = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        val sumcl = counts.values.map(c => dec15(c.toDouble * math.log(c.toDouble))).sum
        val entropy = r6(math.log(nLines.toDouble) - sumcl.toDouble / nLines)
        d.id -> (nLines, counts.size.toLong, dominant, entropy)
      }
    }.toMap
  }

  /** twin of TextAnalysis.qualityScore (code-point char counts, Java
    * regex char classes, stopword hits with multiplicity over the
    * combined list, when/otherwise-0.0 ratio guards, 3VL keep) */
  def refQualityScore(docs: Seq[Doc])
      : Map[Long, (Option[Long], Option[Long], Option[Long], Option[Long],
                   Option[Long], Option[Long], Double, Double, Double, Boolean)] = {
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val allStop = graft.functions.TextFunctions.stopwords.values.flatten.toSeq.distinct.sorted
    docs.map { d =>
      d.id -> (d.text match {
        case None =>
          (None, None, None, None, None, None, 0.0, 0.0, 0.0, false)
        case Some(t) =>
          val toks = refTokens(t)
          val nChars = t.codePointCount(0, t.length).toLong
          val nToks = toks.size.toLong
          val nTokChars = toks.map(w => w.codePointCount(0, w.length).toLong).sum
          val nPunct = "[^a-zA-Z0-9\\s]".r.findAllIn(t).size.toLong
          val nUpper = t.count(c => c >= 'A' && c <= 'Z').toLong
          val nStop = toks.count(allStop.contains).toLong
          val meanLen = if (nToks > 0) r6(nTokChars.toDouble / nToks) else 0.0
          val punctR = if (nChars > 0) r6(nPunct.toDouble / nChars) else 0.0
          val stopR = if (nToks > 0) r6(nStop.toDouble / nToks) else 0.0
          val keep = nToks >= 10 && meanLen >= 2 && meanLen <= 12 && punctR <= 0.2
          (Some(nChars), Some(nToks), Some(nTokChars), Some(nPunct),
            Some(nUpper), Some(nStop), meanLen, punctR, stopR, keep)
      })
    }.toMap
  }

  /** twin of TextAnalysis.repetitionMetrics (Gopher repetition half):
    * overlapping bigram/trigram counts with multiplicity over docs with
    * >= 3 tokens; fracs = round(x/y, 6) HALF_UP like Spark's round */
  def refRepetitionMetrics(docs: Seq[Doc], maxTopBi: Double = 0.1,
                           maxDupTri: Double = 0.2)
      : Map[Long, (Long, Long, Long, Long, Double, Double, Boolean)] = {
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    docs.flatMap { d =>
      d.text.map(refTokens).filter(_.size >= 3).map { toks =>
        def grams(n: Int) = toks.sliding(n).map(_.mkString(" ")).toVector
        val bi = grams(2); val tri = grams(3)
        val maxBi = bi.groupBy(identity).values.map(_.size).max.toLong
        val triCnt = tri.groupBy(identity).map { case (g, xs) => g -> xs.size }
        val dupTri = tri.count(g => triCnt(g) >= 2).toLong
        val tbf = r6(maxBi.toDouble / bi.size)
        val dtf = r6(dupTri.toDouble / tri.size)
        d.id -> (maxBi, bi.size.toLong, dupTri, tri.size.toLong, tbf, dtf,
          tbf <= maxTopBi && dtf <= maxDupTri)
      }
    }.toMap
  }

  /** twin of TextAnalysis.c4Filters: line-level keep rules (>= 5
    * whitespace words, terminal punctuation, no bad phrase), brace /
    * lorem flags, clean_md5 of kept lines, and the document keep flag */
  def refC4Filters(docs: Seq[Doc], minKeptLines: Int = 3)
      : Map[Long, (Option[Long], Option[Long], Option[Boolean], Option[Boolean], Option[String], Option[Boolean])] = {
    val badPhrases = Seq("javascript", "cookie policy", "privacy policy", "terms of use")
    def lineKeep(l: String): Boolean = {
      // Spark's rtrim strips trailing SPACES only (not tabs) — mirror it
      val r = l.reverse.dropWhile(_ == ' ').reverse
      val nw = l.split("\\s+", -1).count(_.nonEmpty)
      nw >= 5 &&
        (r.endsWith(".") || r.endsWith("!") || r.endsWith("?") || r.endsWith("\"")) &&
        badPhrases.forall(p => !l.toLowerCase.contains(p))
    }
    docs.map { d =>
      d.id -> (d.text match {
        case None => (None, None, None, None, None, None)
        case Some(t) =>
          val lines = t.split("\n", -1).toVector
          val kept = lines.filter(lineKeep)
          val hasBrace = t.contains("{")
          val hasLorem = t.toLowerCase.contains("lorem ipsum")
          (Some(lines.size.toLong), Some(kept.size.toLong), Some(hasBrace),
            Some(hasLorem), Some(md5hex(kept.mkString("\n"))),
            Some(!hasBrace && !hasLorem && kept.size >= minKeptLines))
      })
    }.toMap
  }

  /** twin of TextAnalysis.gopherRules (Rae et al. A1.1). Pins that
    * matter: Spark length() counts CODE POINTS (emoji = 1, not the
    * JVM's 2 UTF-16 units); ltrim/rtrim strip spaces only; "..." counts
    * non-overlapping matches; n_stop_hits is DISTINCT stopword
    * presence summed; null text propagates nulls except the
    * when/otherwise-0.0 columns, and keep collapses to false through
    * 3VL (null AND false = false). */
  def refGopherRules(docs: Seq[Doc], minWords: Int, maxWords: Int)
      : Map[Long, (Option[Long], Option[Long], Option[Double], Option[Double],
                   Double, Option[Long], Double, Double, Boolean)] = {
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    docs.map { d =>
      d.id -> (d.text match {
        case None =>
          (None, None, None, None, 0.0, None, 0.0, 0.0, false)
        case Some(t) =>
          val words = t.split("\\s+", -1).toVector.filter(_.nonEmpty)
          val lines = t.split("\n", -1).toVector
          val nWords = words.size.toLong
          val nWordChars = words.map(w => w.codePointCount(0, w.length).toLong).sum
          val nSymbols = t.count(_ == '#').toLong +
            "\\.\\.\\.".r.findAllIn(t).size.toLong
          def frac(n: Int, of: Int) = r6(n.toDouble / of)
          val bulletFrac = frac(lines.count { l =>
            val lt = l.dropWhile(_ == ' ')
            lt.startsWith("-") || lt.startsWith("*") || lt.startsWith("•")
          }, lines.size)
          val ellipsisFrac = frac(lines.count { l =>
            val rt = l.reverse.dropWhile(_ == ' ').reverse
            rt.endsWith("...") || rt.endsWith("…")
          }, lines.size)
          val alphaFrac =
            if (nWords > 0) frac(words.count(_.exists(c => c.isLetter && c < 128)), words.size)
            else 0.0
          val lowered = words.map(_.toLowerCase)
          val nStopHits = stops.count(lowered.contains).toLong
          val meanLen = if (nWords > 0) r6(nWordChars.toDouble / nWords) else 0.0
          val symRatio = if (nWords > 0) r6(nSymbols.toDouble / nWords) else 0.0
          val keep = nWords >= minWords && nWords <= maxWords &&
            meanLen >= 3.0 && meanLen <= 10.0 && symRatio <= 0.1 &&
            bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
            alphaFrac >= 0.8 && nStopHits >= 2
          (Some(nWords), Some(nSymbols), Some(bulletFrac), Some(ellipsisFrac),
            alphaFrac, Some(nStopHits), meanLen, symRatio, keep)
      })
    }.toMap
  }

  /** twin of TextAnalysis.tokenCounts (null text ⇒ null counts) */
  def refTokenCounts(d: Doc): (Option[Long], Option[Long]) =
    (d.text.map(refTokens(_).size.toLong), d.text.map(refBpeish(_).size.toLong))

  // ------------------------------------------------------------------
  // differential runner
  // ------------------------------------------------------------------

  /** Runs one corpus through the Spark operators and diffs against the
    * reference models; returns human-readable divergences (empty = ok).
    * `deep` additionally runs the minhash planted-recall and the
    * ngramJaccard partitioning-invariance checks (costlier). */
  def runOne(spark: SparkSession, docs: Seq[Doc], p: Params,
             dupPairs: Seq[(Long, Long)], deep: Boolean): List[String] = {
    import spark.implicits._
    val errs = List.newBuilder[String]
    val df = docs.map(d => (d.id, d.text.orNull)).toDF("doc_id", "text")

    // exact dedup
    val gotExact = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    val wantExact = refExactDedup(docs)
    if (gotExact != wantExact)
      errs += s"exactDedup: got $gotExact want $wantExact"

    // prefix dedup
    val gotPrefix = Dedup.prefixDedup(df, "doc_id", "text", p.prefixK)
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    val wantPrefix = refPrefixDedup(docs, p.prefixK)
    if (gotPrefix != wantPrefix)
      errs += s"prefixDedup(k=${p.prefixK}): got $gotPrefix want $wantPrefix"

    // ngram jaccard (exact or capped path per params)
    val gotJac = Dedup.ngramJaccard(df, "doc_id", "text", p.k, p.minJaccard, p.maxDf)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val wantJac = refNgramJaccard(docs, p)
    if (gotJac.keySet != wantJac.keySet)
      errs += s"ngramJaccard(k=${p.k},t=${p.minJaccard},maxDf=${p.maxDf}) pairs: " +
        s"spurious=${gotJac.keySet -- wantJac.keySet} missing=${wantJac.keySet -- gotJac.keySet}"
    else for ((pr, j) <- wantJac if math.abs(gotJac(pr) - j) > 1e-12)
      errs += s"ngramJaccard value at $pr: got ${gotJac(pr)} want $j"

    // langId + tokenCounts (map-only metrics, full-corpus differential)
    val gotLang = TextAnalysis.langId(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    docs.foreach { d =>
      val want = refLangId(d)
      if (gotLang.get(d.id) != Some(want))
        errs += s"langId doc ${d.id}: got ${gotLang.get(d.id)} want $want (text=${d.text})"
    }

    val gotCounts = TextAnalysis.tokenCounts(df, "doc_id", "text")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    docs.foreach { d =>
      val want = refTokenCounts(d)
      if (gotCounts.get(d.id) != Some(want))
        errs += s"tokenCounts doc ${d.id}: got ${gotCounts.get(d.id)} want $want"
    }

    // containment (ordered pairs, same hashed-shingle machinery +
    // ceilSafe prefix/length/position prunes as ngramJaccard)
    val gotCont = Dedup.containment(df, "doc_id", "text", p.k, p.minContainment)
      .select("d1", "d2", "containment").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val wantCont = refContainment(docs, p.k, p.minContainment)
    if (gotCont.keySet != wantCont.keySet)
      errs += s"containment(k=${p.k},t=${p.minContainment}) pairs: " +
        s"spurious=${gotCont.keySet -- wantCont.keySet} missing=${wantCont.keySet -- gotCont.keySet}"
    else for ((pr, c) <- wantCont if math.abs(gotCont(pr) - c) > 1e-12)
      errs += s"containment value at $pr: got ${gotCont(pr)} want $c"

    // common-segment removal (cross-doc boilerplate dropping)
    val gotSeg = Dedup.commonSegmentRemoval(df, "doc_id", "text",
        p.segLen, p.minDocs)
      .select("doc_id", "n_segments", "n_kept", "kept_text")
      .as[(Long, Long, Long, String)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    val wantSeg = refSegmentRemoval(docs, p.segLen, p.minDocs)
    if (gotSeg != wantSeg) {
      val bad = (gotSeg.keySet ++ wantSeg.keySet)
        .filter(id => gotSeg.get(id) != wantSeg.get(id)).take(3)
      errs += s"segmentRemoval(segLen=${p.segLen},minDocs=${p.minDocs}): " +
        bad.map(id => s"doc $id got=${gotSeg.get(id)} want=${wantSeg.get(id)}").mkString("; ")
    }

    // Gopher repetition metrics (in-row sorted-gram folds vs naive counts)
    val gotRep = TextAnalysis.repetitionMetrics(df, "doc_id", "text")
      .select("doc_id", "max_bi", "n_bi", "dup_tri", "n_tri",
        "top_bigram_frac", "dup_trigram_frac", "keep")
      .as[(Long, Long, Long, Long, Long, Double, Double, Boolean)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6, x._7, x._8)).toMap
    val wantRep = refRepetitionMetrics(docs)
    if (gotRep != wantRep) {
      val bad = (gotRep.keySet ++ wantRep.keySet)
        .filter(id => gotRep.get(id) != wantRep.get(id)).take(3)
      errs += "repetitionMetrics: " + bad.map(id =>
        s"doc $id got=${gotRep.get(id)} want=${wantRep.get(id)}").mkString("; ")
    }

    // C4 line filters (line keep rules, flags, clean_md5, doc keep)
    val gotC4 = TextAnalysis.c4Filters(df, "doc_id", "text")
      .select("doc_id", "n_lines", "n_kept", "has_brace", "has_lorem",
        "clean_md5", "keep")
      .as[(Long, Option[Long], Option[Long], Option[Boolean], Option[Boolean],
        Option[String], Option[Boolean])].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6, x._7)).toMap
    val wantC4 = refC4Filters(docs)
    if (gotC4 != wantC4) {
      val bad = (gotC4.keySet ++ wantC4.keySet)
        .filter(id => gotC4.get(id) != wantC4.get(id)).take(3)
      errs += "c4Filters: " + bad.map(id =>
        s"doc $id got=${gotC4.get(id)} want=${wantC4.get(id)}").mkString("; ")
    }

    // per-line language mix (codeSwitch): votes, dominant, decimal
    // entropy — bit-exact vs the reference
    val gotCs = TextAnalysis.codeSwitch(df, "doc_id", "text")
      .select("doc_id", "n_lines", "n_langs", "dominant", "lang_entropy")
      .as[(Long, Long, Long, String, Double)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    val wantCs = refCodeSwitch(docs)
    if (gotCs != wantCs) {
      val bad = (gotCs.keySet ++ wantCs.keySet)
        .filter(id => gotCs.get(id) != wantCs.get(id)).take(3)
      errs += "codeSwitch: " + bad.map(id =>
        s"doc $id got=${gotCs.get(id)} want=${wantCs.get(id)}").mkString("; ")
    }

    // generic quality metrics (code-point counts, regex char classes)
    val gotQs = TextAnalysis.qualityScore(df, "doc_id", "text")
      .select("doc_id", "n_chars", "n_tokens", "n_token_chars", "n_punct",
        "n_upper", "n_stop", "mean_token_len", "punct_ratio", "stop_ratio", "keep")
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long], Double, Double, Double, Boolean)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6, x._7, x._8, x._9, x._10, x._11)).toMap
    val wantQs = refQualityScore(docs)
    if (gotQs != wantQs) {
      val bad = (gotQs.keySet ++ wantQs.keySet)
        .filter(id => gotQs.get(id) != wantQs.get(id)).take(3)
      errs += "qualityScore: " + bad.map(id =>
        s"doc $id got=${gotQs.get(id)} want=${wantQs.get(id)}").mkString("; ")
    }

    // Gopher rule set (minWords lowered so the keep bar has teeth on
    // fuzz-sized docs)
    val gotGo = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 8)
      .select("doc_id", "n_words", "n_symbols", "bullet_frac", "ellipsis_frac",
        "alpha_word_frac", "n_stop_hits", "mean_word_len", "symbol_ratio", "keep")
      .as[(Long, Option[Long], Option[Long], Option[Double], Option[Double],
        Double, Option[Long], Double, Double, Boolean)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6, x._7, x._8, x._9, x._10)).toMap
    val wantGo = refGopherRules(docs, minWords = 8, maxWords = 100000)
    if (gotGo != wantGo) {
      val bad = (gotGo.keySet ++ wantGo.keySet)
        .filter(id => gotGo.get(id) != wantGo.get(id)).take(3)
      errs += "gopherRules: " + bad.map(id =>
        s"doc $id got=${gotGo.get(id)} want=${wantGo.get(id)}").mkString("; ")
    }

    // ExactSubstr (Lee et al.) — spans, coverage fold, text rebuild
    val gotSub = Dedup.exactSubstringDedup(df, "doc_id", "text", p.subN)
      .select("doc_id", "n_tokens", "n_removed", "kept_text")
      .as[(Long, Option[Long], Option[Long], String)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    val wantSub = refExactSubstringDedup(docs, p.subN)
    if (gotSub != wantSub) {
      val bad = (gotSub.keySet ++ wantSub.keySet)
        .filter(id => gotSub.get(id) != wantSub.get(id)).take(3)
      errs += s"exactSubstringDedup(n=${p.subN}): " +
        bad.map(id => s"doc $id got=${gotSub.get(id)} want=${wantSub.get(id)}").mkString("; ")
    }

    if (deep) {
      // SimHash fingerprints + chunk-blocked near-dup pairs (brute-force
      // reference is the contract for maxHamming <= chunks-1)
      val gotSh = Dedup.simhash(df, "doc_id", "text")
        .as[(Long, Long)].collect().toMap
      val wantSh = refSimhash(docs)
      if (gotSh != wantSh) {
        val bad = (gotSh.keySet ++ wantSh.keySet)
          .filter(id => gotSh.get(id) != wantSh.get(id)).take(3)
        errs += s"simhash: " + bad.map(id =>
          s"doc $id got=${gotSh.get(id)} want=${wantSh.get(id)}").mkString("; ")
      }
      val gotNd = Dedup.simhashNearDup(df, "doc_id", "text", p.maxHamming)
        .select("d1", "d2", "hamming").as[(Long, Long, Long)].collect()
        .map(x => (x._1, x._2) -> x._3).toMap
      val wantNd = refSimhashNearDup(docs, p.maxHamming)
      if (gotNd != wantNd)
        errs += s"simhashNearDup(maxHamming=${p.maxHamming}): " +
          s"spurious=${gotNd.keySet -- wantNd.keySet} missing=${wantNd.keySet -- gotNd.keySet}"

      // FULL minhash LSH differential: signatures, banding, candidate
      // buckets and estimates all re-derived by the reference model
      val got = Dedup.minhashLsh(df, "doc_id", "text")
        .select("d1", "d2", "est_jaccard").as[(Long, Long, Double)].collect()
        .map { case (a, b, e) => (a, b) -> e }.toMap
      val want = refMinhashLsh(docs)
      if (got.keySet != want.keySet)
        errs += s"minhashLsh pairs: spurious=${got.keySet -- want.keySet} " +
          s"missing=${want.keySet -- got.keySet}"
      else for ((pr, e) <- want if math.abs(got(pr) - e) > 1e-12)
        errs += s"minhashLsh est at $pr: got ${got(pr)} want $e"
      // planted exact duplicates must be recalled (identical text ⇒
      // identical signature ⇒ same buckets, est 1.0)
      for ((a, b) <- dupPairs if !got.contains((math.min(a, b), math.max(a, b))))
        errs += s"minhashLsh: planted exact dup ($a,$b) not recalled"

      // partitioning invariance: the jaccard decision must not depend on
      // physical layout (content-hash discipline)
      val one = Dedup.ngramJaccard(df.coalesce(1), "doc_id", "text",
        p.k, p.minJaccard, p.maxDf)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val many = Dedup.ngramJaccard(df.repartition(7), "doc_id", "text",
        p.k, p.minJaccard, p.maxDf)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      if (one != many)
        errs += s"ngramJaccard partition variance: coalesce(1)=$one repartition(7)=$many"
    }
    errs.result()
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = (Seq[Doc], Params, Seq[(Long, Long)])
  val name = "corpus"
  val sets = 50
  private def deep(i: Int) = i % 5 == 0
  def draw(r: Random, seed: Long, i: Int): In = corpus(r)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in._1, in._2, in._3, deep(i))
  /** Planted-dup recall is left out of the shrink: pair ids drop out of
    * subsets. */
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val (docs, p, _) = in
    val minimal = shrink(docs)(runOne(spark, _, p, Seq.empty, deep(i)))
    s"(${minimal.size} docs, $p): ${show(minimal)}"
  }

  def show(docs: Seq[Doc]): String =
    docs.map(d => s"${d.id}=${d.text}").mkString(" | ")
}
