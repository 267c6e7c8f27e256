package graft.queries

/** DuckDB text fragments the oracles of several query modules share:
  * the tokenizer, word 3-shingles, the language-ID stop-word lists, the
  * 6-dp cosine and the md5-hex bit probe. One copy, so a fragment that
  * must match its engine twin cannot drift between modules (the
  * OracleSamples / OracleSketches discipline). */
private[queries] object OracleText {

  /** Lower-cased `[a-z0-9]+` tokens of `text` (TextAnalysis.tokenize). */
  val toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** Distinct word 3-shingles over a token list `t`. */
  val sh3 = "list_distinct(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"

  /** Stop-word lists of the four-language detector. */
  val stopEn = "['the','and','of','to','in','is','that','for']"
  val stopDe = "['der','die','das','und','ist','nicht','mit','ein']"
  val stopFr = "['le','la','les','et','est','pas','pour','une']"
  val stopEs = "['el','la','los','y','es','no','por','una']"

  /** Cosine of two FLOAT[] expressions as a sequential double fold,
    * rounded to 6 dp (Vectors.cosineNative + round 6). */
  def cosD(a: String, b: String): String =
    s"round(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * " +
      s"sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[]))), 6)"

  /** `cosD` over the `a`/`b`-aliased embeddings. */
  val cosAB: String = cosD("a.embedding", "b.embedding")

  /** Bit `b` of the md5 hex string `h` (least significant bit of each
    * nibble first). */
  val bit = "(strpos('0123456789abcdef', substring(h, 1 + (b // 4), 1)) - 1) // ((2 ** (b % 4))::INT) % 2"
}
