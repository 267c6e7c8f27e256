package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the large-scale training-data pipeline operators
  * (dedup, language-ID, quality scoring, fingerprinting). Everything here
  * is a composable codegen'd `Column` builder — no UDFs — so expressions
  * stay inside whole-stage codegen and push down through Catalyst.
  *
  * Hash design: all content hashes are `md5` hex strings. md5 is
  * bit-identical across engines (and across JVM/cluster boundaries), and
  * lexicographic `min` over hex strings is a valid uniform min-hash
  * selector, which keeps every operator reproducible at any parallelism —
  * a shuffle or partitioning change can never alter results.
  */
object TextFunctions {

  /** Lowercased alphanumeric tokens. The `[a-z0-9]+` extraction (rather
    * than whitespace split) is stable w.r.t. punctuation and multi-space
    * runs. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** BPE-ish sub-token segmentation: letter runs, digit runs, and single
    * punctuation marks each count as one token (word-boundary superset of
    * what a byte-pair tokenizer would emit). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Distinct word k-shingles (k consecutive tokens joined by a space) —
    * the unit set for Jaccard/MinHash dedup. Caller must guarantee
    * `size(toks) >= k` (filter first) or sequence() underflows. */
  def shingles(toks: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))

  /** SQL fragment: bit `bit%4` of md5 hex digit `1 + bit/4` of column
    * `h` — the per-token bit source for SimHash. `bit` in [0, 64). Emitted
    * as a SQL string because nested lambda-variable arithmetic reads better
    * in SQL than through the Column API; it is the same Catalyst tree. */
  def md5BitSql(h: String, bit: String): String =
    s"((instr('0123456789abcdef', substring($h, 1 + cast($bit / 4 AS int), 1)) - 1) " +
      s"div cast(pow(2, $bit % 4) AS int)) % 2"

  /** UTF-8 char-class counts for quality scoring. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("long")

  def upperCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Z]"), lit(0))).cast("long")

  /** Count of tokens that appear in `words` (with multiplicity). */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val list = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(list, t))).cast("long")
  }

  /** Stopword lists for the n-gram-free language-ID heuristic. Tiny by
    * design: the discriminating closed-class words of each language. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "une"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "por", "una"))
}
