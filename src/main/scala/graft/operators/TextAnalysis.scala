package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.functions.TextFunctions._

/** Per-document text analysis for training-data curation: language ID,
  * quality scoring, token counting, and winnowing fingerprints. All
  * map-side expression work (one narrow pass per document; the only
  * shuffles are the final per-doc aggregations), so throughput is
  * scan-bound at any corpus size.
  */
object TextAnalysis {

  /** Stopword-vote language ID. Scores each candidate language by
    * closed-class-word hits (with multiplicity) and takes the argmax with
    * a fixed precedence order (en > de > fr > es) for ties; no hits at
    * all → "und" (undetermined), mirroring common lang-ID tooling. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), predLang(col("toks")).as("pred_lang"))

  /** The stopword-vote language decision over a token array — shared by
    * [[langId]] (whole documents) and [[codeSwitch]] (per line). */
  private def predLang(toks: Column): Column = {
    val hits = stopwords.toSeq.sortBy(_._1)
      .map { case (l, ws) => l -> stopwordHits(toks, ws) }.toMap
    val (en, de, fr, es) = (hits("en"), hits("de"), hits("fr"), hits("es"))
    when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }

  /** Code-switching / mixed-language detection: run the [[langId]] vote
    * per LINE, then summarize each document's line-language mix —
    * distinct languages seen, the dominant one (most lines, name
    * tiebreak), and the Shannon entropy of the line-language
    * distribution (0 = monolingual; ln 2 ≈ 0.69 = an even two-language
    * split). Mixed documents break per-document language routing
    * (tokenizer choice, per-language quality bars), which is why
    * curation pipelines flag them before stratifying.
    *
    * Determinism: every ln takes an INTEGER count (the [[charEntropy]]
    * discipline) and the per-language terms accumulate in decimal.
    * One line explode + two keyed aggregates.
    * Output: (id, n_lines, n_langs, dominant, lang_entropy). */
  def codeSwitch(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = graft.functions.SafeExplode.explodeSelect(
      Dedup.widen(df), Seq(col(idCol)), split(col(textCol), "\n"), "line")
    val counts = lines
      .select(col(idCol), predLang(tokens(col("line"))).as("pred"))
      .groupBy(col(idCol), col("pred")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("c").desc, col("pred").asc)
    val dom = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col(idCol), col("pred").as("dominant"))
    counts.groupBy(col(idCol)).agg(
        sum(col("c")).as("n_lines"),
        count(lit(1)).as("n_langs"),
        sum((col("c").cast("double") * log(col("c")))
          .cast("decimal(30,15)")).as("sumcl"))
      .withColumn("lang_entropy",
        round(log(col("n_lines").cast("double")) -
          col("sumcl").cast("double") / col("n_lines"), 6))
      .join(dom, idCol)
      .select(idCol, "n_lines", "n_langs", "dominant", "lang_entropy")
  }

  /** Quality metrics: length, token stats, punctuation/uppercase/stopword
    * ratios, and a composite keep/drop flag with the usual curation
    * thresholds (enough tokens, sane mean token length, not mostly
    * punctuation). Ratios are exact integer-count divisions in double.
    * `toksCol` optionally names a PRECOMPUTED token-array column so a
    * pipeline that tokenizes once (e.g. the curation pipeline, which
    * also feeds MinHash from the same tokens) avoids re-running the
    * regex extraction here. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   toksCol: Option[String] = None): DataFrame = {
    val t = col(textCol)
    val tk = toksCol.map(col).getOrElse(tokens(t))
    val allStop = stopwords.values.flatten.toSeq.distinct.sorted
    df.select(col(idCol),
        length(t).cast("long").as("n_chars"),
        size(tk).cast("long").as("n_tokens"),
        aggregate(tk, lit(0L), (a, x) => a + length(x)).as("n_token_chars"),
        punctCount(t).as("n_punct"),
        upperCount(t).as("n_upper"),
        stopwordHits(tk, allStop).as("n_stop"))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          round(col("n_token_chars").cast("double") / col("n_tokens"), 6))
          .otherwise(0.0))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, round(col("n_punct").cast("double") / col("n_chars"), 6))
          .otherwise(0.0))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, round(col("n_stop").cast("double") / col("n_tokens"), 6))
          .otherwise(0.0))
      .withColumn("keep",
        col("n_tokens") >= 10 && col("mean_token_len") >= 2 &&
          col("mean_token_len") <= 12 && col("punct_ratio") <= 0.2)
  }

  /** Token counts under two tokenizers: whitespace-ish word tokens and the
    * BPE-ish segmentation (letter runs / digit runs / single punctuation).
    * The BPE-ish count is the budget estimator training pipelines use for
    * context-length packing. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_word_tokens"),
      size(bpeishTokens(col(textCol))).cast("long").as("n_bpeish_tokens"))

  /** Gopher-style repetition metrics: the fraction of bigram occurrences
    * claimed by the single most frequent bigram, and the fraction of
    * trigram occurrences whose trigram repeats within the document —
    * the standard boilerplate/repetition quality gates for web text.
    *
    * Entirely MAP-ONLY, like [[fingerprints]]: n-gram counting happens
    * inside the row via folds over the SORTED in-row gram array (max run
    * length = max occurrence count; singleton-run count = values occurring
    * once), so per-document metrics never explode gram rows into a
    * shuffle. Zero exchanges; scan-bound at any corpus size.
    * Output: (id, max_bi, n_bi, dup_tri, n_tri, top_bigram_frac,
    * dup_trigram_frac, keep). */
  def repetitionMetrics(df0: DataFrame, idCol: String, textCol: String,
                        maxTopBigramFrac: Double = 0.1,
                        maxDupTrigramFrac: Double = 0.2): DataFrame = {
    val df = Dedup.widen(df0)
    def grams(n: Int) = transform(
      sequence(lit(0), size(col("toks")) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*))
    // max run length over the sorted gram array = count of the most
    // frequent gram. The "" sentinel can never equal a gram (grams are
    // non-empty), so the first element always starts a run.
    def maxRunLen(arr: Column) = aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    // count of singleton runs = number of grams occurring exactly once
    def singletonRuns(arr: Column) = aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("singles")),
      (acc, x) => {
        val isNew = x =!= acc.getField("prev")
        struct(x.as("prev"),
          when(isNew, lit(1L)).otherwise(acc.getField("run") + 1).as("run"),
          (acc.getField("singles") +
            when(isNew && acc.getField("run") === 1, 1L).otherwise(0L)).as("singles"))
      },
      acc => acc.getField("singles") +
        when(acc.getField("run") === 1, 1L).otherwise(0L))
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(idCol),
        maxRunLen(grams(2)).as("max_bi"),
        size(grams(2)).cast("long").as("n_bi"),
        (size(grams(3)).cast("long") - singletonRuns(grams(3))).as("dup_tri"),
        size(grams(3)).cast("long").as("n_tri"))
      .withColumn("top_bigram_frac",
        round(col("max_bi").cast("double") / col("n_bi"), 6))
      .withColumn("dup_trigram_frac",
        round(col("dup_tri").cast("double") / col("n_tri"), 6))
      .withColumn("keep",
        col("top_bigram_frac") <= maxTopBigramFrac &&
          col("dup_trigram_frac") <= maxDupTrigramFrac)
  }

  /** The Gopher document-quality rule set (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", Appendix A1.1) as explicit per-rule
    * metrics plus the conjunction `keep` flag: word count in
    * [minWords, maxWords]; mean word length in [3, 10]; symbol-to-word
    * ratio (# and "..." occurrences) <= 0.1; bullet-started lines
    * <= 90%; ellipsis-ended lines <= 30%; >= 80% of words contain an
    * alphabetic character; >= 2 distinct English stopwords present.
    * Complements [[qualityScore]] (generic ratios) and
    * [[repetitionMetrics]] (the Gopher repetition half): this is the
    * named filter bar web-scale curation pipelines quote.
    *
    * MAP-ONLY like the rest of the scoring tier: words and lines are
    * in-row arrays, every metric an `aggregate`/`filter` fold — zero
    * shuffles, scan-bound at any corpus size. Words here are WHITESPACE
    * tokens (the rule set inspects raw words, e.g. "word has an
    * alphabetic char" — the lowercase-alnum `tokens` would erase what
    * the rules measure). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, "\\s+"), w => w =!= "")
    val lines = split(t, "\n")
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    def fracOf(arr: Column, pred: Column => Column): Column =
      size(filter(arr, pred)).cast("double") / size(arr)
    val nSymbols =
      (length(t) - length(regexp_replace(t, "#", ""))) +
        (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    df.select(col(idCol),
        size(words).cast("long").as("n_words"),
        aggregate(words, lit(0L), (a, w) => a + length(w)).as("n_word_chars"),
        nSymbols.cast("long").as("n_symbols"),
        round(fracOf(lines, l => ltrim(l).startsWith("-") ||
          ltrim(l).startsWith("*") || ltrim(l).startsWith("•")), 6)
          .as("bullet_frac"),
        round(fracOf(lines, l => rtrim(l).endsWith("...") ||
          rtrim(l).endsWith("…")), 6).as("ellipsis_frac"),
        when(size(words) > 0,
          round(fracOf(words, w => w.rlike("[a-zA-Z]")), 6))
          .otherwise(0.0).as("alpha_word_frac"),
        stops.map(sw => array_contains(transform(words, w => lower(w)), sw)
          .cast("long")).reduce(_ + _).as("n_stop_hits"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          round(col("n_word_chars").cast("double") / col("n_words"), 6))
          .otherwise(0.0))
      .withColumn("symbol_ratio",
        when(col("n_words") > 0,
          round(col("n_symbols").cast("double") / col("n_words"), 6))
          .otherwise(0.0))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_frac") <= 0.9 && col("ellipsis_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 && col("n_stop_hits") >= 2)
      .drop("n_word_chars")
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, §2.2): keep only
    * lines that end in terminal punctuation (. ! ? ") and have >= 5
    * words, drop lines mentioning javascript or cookie/privacy/terms
    * boilerplate; drop the whole document if it contains "{" (code) or
    * "lorem ipsum", or fewer than `minKeptLines` lines survive. Emits
    * the retained line counts, the doc-drop triggers, and the md5 of the
    * cleaned text (kept lines re-joined with newlines) — the compact
    * cross-engine witness that the reconstruction is byte-identical.
    *
    * MAP-ONLY: one in-row line split + filter folds; the cleaned text
    * never leaves the row. */
  def c4Filters(df: DataFrame, idCol: String, textCol: String,
                minKeptLines: Int = 3): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val badPhrases = Seq("javascript", "cookie policy", "privacy policy",
      "terms of use")
    def lineKeep(l: Column): Column = {
      val r = rtrim(l)
      val nw = size(filter(split(l, "\\s+"), w => w =!= ""))
      nw >= 5 &&
        (r.endsWith(".") || r.endsWith("!") || r.endsWith("?") ||
          r.endsWith("\"")) &&
        badPhrases.map(p => !lower(l).contains(p)).reduce(_ && _)
    }
    df.select(col(idCol),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, lineKeep _)).cast("long").as("n_kept"),
        t.contains("{").as("has_brace"),
        lower(t).contains("lorem ipsum").as("has_lorem"),
        md5(array_join(filter(lines, lineKeep _), "\n")).as("clean_md5"))
      .withColumn("keep",
        !col("has_brace") && !col("has_lorem") &&
          col("n_kept") >= minKeptLines)
  }

  /** Jensen-Shannon divergence between two document subsets' hashed
    * vocabulary distributions (Laplace-smoothed over 2^8 md5 buckets) —
    * the bounded (≤ ln 2), symmetric drift metric for epoch-over-epoch
    * corpus monitoring: 0 = identical token mixes, ln 2 = disjoint.
    * Subsets are `pred` vs its complement over the SAME frame, so one
    * token pass feeds both sides. Every probability is built from
    * integer counts by identical expressions; the final sum
    * accumulates in decimal. Output: one row (n_p, n_q, jsd). */
  def jsdDrift(df: DataFrame, textCol: String, pred: Column): DataFrame = {
    val spark = df.sparkSession
    val toks = graft.functions.SafeExplode.explodeSelect(
      df, Seq(pred.as("is_p")), tokens(col(textCol)), "w")
    val counts = toks
      .select(col("is_p"),
        (GraftFunctions.md5PrefixLong(col("w"), 2) % 256)
          .as("b"))
      .groupBy("b").agg(
        sum(when(col("is_p"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("is_p"), 1L).otherwise(0L)).as("cq"))
    val full = spark.range(256).select(col("id").as("b"))
      .join(counts, Seq("b"), "left")
      .select(col("b"), coalesce(col("cp"), lit(0L)).as("cp"),
        coalesce(col("cq"), lit(0L)).as("cq"))
    val tot = full.agg(sum("cp").as("np"), sum("cq").as("nq"))
    full.crossJoin(broadcast(tot))
      .withColumn("p", (col("cp") + 1).cast("double") / (col("np") + 256))
      .withColumn("q", (col("cq") + 1).cast("double") / (col("nq") + 256))
      .withColumn("m", (col("p") + col("q")) / 2)
      .agg(max(col("np")).as("n_p"), max(col("nq")).as("n_q"),
        sum(((col("p") * log(col("p") / col("m"))) / 2 +
          (col("q") * log(col("q") / col("m"))) / 2)
          .cast("decimal(38,18)")).cast("double").as("jsd_raw"))
      .select(col("n_p"), col("n_q"), round(col("jsd_raw"), 6).as("jsd"))
  }

  /** Top-k bigram collocations by pointwise mutual information —
    * PMI(w1,w2) = ln(N·c(w1w2) / (c(w1)·c(w2))) with a minimum-frequency
    * floor (Church & Hanks 1990), the standard phrase-mining statistic
    * (PMI surfaces "los angeles"; raw frequency surfaces "of the").
    * The ln takes one division of exact integer products, so both
    * engines agree bitwise at 6 dp.
    *
    * Two map-side-combined count aggregates (adjacent pairs, unigrams)
    * + two equi-joins back; the minFreq filter shrinks the ranked set
    * BEFORE the global top-k (WindowGroupLimit prunes the sort). The
    * corpus-total N rides as a 1-row cross join, never a driver value.
    * Output: (w1, w2, c12, c1, c2, pmi, rk). */
  def pmiCollocations(df0: DataFrame, textCol: String,
                      minFreq: Long = 5, topK: Int = 50): DataFrame = {
    val df = Dedup.widen(df0)
    val toks = df.select(tokens(col(textCol)).as("toks"))
    val bi = graft.functions.SafeExplode.explodeSelect(
        toks.filter(size(col("toks")) >= 2), Seq.empty,
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2"))), "bg")
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uc = graft.functions.SafeExplode.explodeSelect(
        toks, Seq.empty, col("toks"), "w")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nf = bc.agg(sum(col("c12")).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    bc.join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(nf)
      .filter(col("c12") >= minFreq)
      .withColumn("pmi",
        round(log((col("nn") * col("c12")).cast("double") /
          (col("c1") * col("c2"))), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select("w1", "w2", "c12", "c1", "c2", "pmi", "rk")
  }

  /** Per-stratum vocabulary induction: the `topK` most frequent word
    * tokens per stratum (language), with occurrence counts — the corpus
    * statistic tokenizer training starts from. One token-explode +
    * one (stratum, token) count + a group-limited rank (Spark's
    * WindowGroupLimit prunes to top-k before the sort).
    * Output: (stratum, token, cnt, rk); ties rank by token asc. */
  def vocabTopK(df: DataFrame, strataCol: String, textCol: String,
                topK: Int = 20): DataFrame = {
    // all explodes of COMPUTED arrays below go through SafeExplode
    // (outer + null-filter) — plain explode would re-run the generator
    // expression (often the tokenize regex) inside an inferred filter
    val counts = graft.functions.SafeExplode.explodeSelect(
        Dedup.widen(df), Seq(col(strataCol)), tokens(col(textCol)), "token")
      .groupBy(col(strataCol), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("cnt").desc, col("token").asc)
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
  }

  /** Per-stratum top-`topK` word n-grams WITH multiplicity (every
    * occurrence counts — unlike the distinct shingle sets the dedup
    * family uses) — the collocation table between [[vocabTopK]]'s
    * unigrams and [[bpeMergePairs]]'s character pairs. Same shape: in-row
    * gram fan-out, one keyed count, WindowGroupLimit-pruned rank.
    * Output: (stratum, gram, cnt, rk); ties rank by gram asc. */
  def ngramTopK(df: DataFrame, strataCol: String, textCol: String,
                n: Int = 2, topK: Int = 10): DataFrame = {
    require(n >= 2, s"ngramTopK needs n >= 2 (use vocabTopK for unigrams), got $n")
    val grams = transform(
      sequence(lit(0), size(col("toks")) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*))
    val counts = graft.functions.SafeExplode.explodeSelect(
        Dedup.widen(df)
          .select(col(strataCol), tokens(col(textCol)).as("toks"))
          .filter(size(col("toks")) >= n),
        Seq(col(strataCol)), grams, "gram")
      .groupBy(col(strataCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("cnt").desc, col("gram").asc)
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
  }

  /** BPE first-merge statistics: counts of ADJACENT CHARACTER pairs
    * inside word tokens, per stratum — the pair-frequency table byte-pair
    * encoding chooses its first merge from (tokenizer-training prep,
    * complementing [[vocabTopK]]'s word-level table). Top `topK` pairs by
    * count with a lexicographic tiebreak.
    *
    * Shape: map-only token explode → in-row pair fan-out → ONE keyed
    * aggregate on (stratum, pair); pair keys are 2 chars, so the shuffle
    * is bounded by the alphabet², not the corpus. Top-k prunes via
    * WindowGroupLimit (filter on row_number, not a global sort). */
  def bpeMergePairs(df: DataFrame, strataCol: String, textCol: String,
                    topK: Int = 10): DataFrame = {
    val counts = graft.functions.SafeExplode.explodeSelect(
        graft.functions.SafeExplode.explodeSelect(
            Dedup.widen(df), Seq(col(strataCol)), tokens(col(textCol)), "w")
          .filter(length(col("w")) >= 2),
        Seq(col(strataCol)),
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2))), "pair")
      .groupBy(col(strataCol), col("pair"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("cnt").desc, col("pair").asc)
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
  }

  /** Iterative BPE merge training (Sennrich et al. 2016, arXiv:1508.07909):
    * `rounds` rounds of (count adjacent symbol pairs weighted by word
    * frequency → take the most frequent pair, ties broken
    * lexicographically → greedily merge its non-overlapping occurrences
    * left-to-right in every word). Completes the tokenizer-prep story
    * [[bpeMergePairs]] (first merge only) gestures at.
    *
    * Scale shape: the corpus collapses ONCE to the distinct
    * word-frequency table (one shuffle keyed by word — the same reduction
    * every real BPE trainer performs, since merge decisions depend only
    * on (word, freq)). That table is DISTINCT-WORD-sized, NOT vocab-sized
    * — distinct `[a-z0-9]+` tokens grow with the corpus (Heaps' law; web
    * corpora carry 10^8+ distinct alphanumeric strings: typos, ids,
    * hashes, urls) — so it is bounded BEFORE it reaches the driver, the
    * same discipline real trainers apply at exactly this step:
    * `minFreq` drops sub-threshold words inside the distributed
    * aggregate, and `maxWords` rank-caps the survivors (freq desc, word
    * asc — a distributed TakeOrdered, the fingerprintOverlap maxDf
    * discipline). The collect is then min(surviving words, maxWords)
    * rows ≤ ~100 MB at the 2^22 default — a model-budget collect like
    * the k-means/PQ trainers, and the knobs default so the historical
    * unbounded behavior (and its oracle hashes) are unchanged wherever
    * the corpus fits the cap. Every merge round runs driver-side on the
    * bounded table — ONE Spark job total, where the per-round Spark form
    * scheduled 3 jobs and a localCheckpoint materialization per merge
    * (~100k jobs at a real 32k vocab).
    * The driver loop reproduces the distributed rounds exactly:
    * pair counts sum word frequencies over every adjacent index
    * (overlaps included), the argmax tie-breaks (cnt desc, lhs asc,
    * rhs asc) with UTF-8-byte string order (what `orderBy` on a string
    * column compares), and each merge applies greedily left-to-right —
    * a just-merged symbol a||b can never re-match the round's left side
    * a (a||b = a would need b empty).
    *
    * Output: (rk, lhs, rhs, cnt) — merge table in training order,
    * rk 1-based; may stop short of `rounds` if no pair repeats. */
  private[operators] def bpeTrain(df0: DataFrame, textCol: String, rounds: Int = 5,
               minFreq: Long = 1, maxWords: Int = 1 << 22): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    require(minFreq >= 1, s"minFreq must be >= 1, got $minFreq")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val spark = df0.sparkSession
    import spark.implicits._
    // minFreq rides the aggregate (map-side combined, so the filter sees
    // exact totals); the cap is a distributed TakeOrdered — only the top
    // maxWords rows by (freq desc, w asc: Spark's binary-UTF8 string
    // order) ever reach the driver. Defaults pass everything through.
    val wordFreq = graft.functions.SafeExplode.explodeSelect(
        Dedup.widen(df0), Seq.empty, tokens(col(textCol)), "w")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("w").asc).limit(maxWords)
      .as[(String, Long)].collect()
    // UTF-8-byte ordering = Spark's UTF8String/DuckDB string comparison;
    // Java String.compareTo differs on supplementary characters
    def utf8Lt(x: String, y: String): Boolean = {
      val (a, b) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    var words: Array[(Array[String], Long)] =
      wordFreq.map { case (w, f) =>
        // symbols = Unicode CODE POINTS (what SQL substr(i, 1) yields),
        // not UTF-16 code units — tokens() is [a-z0-9]+ today so the two
        // coincide, but iterating code points keeps the invariant true
        // if tokens() ever widens past the BMP
        (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f)
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((sy, f) <- words; i <- 0 until sy.length - 1)
        cnt.updateWith((sy(i), sy(i + 1)))(c => Some(c.getOrElse(0L) + f))
      if (cnt.isEmpty) exhausted = true
      else {
        val ((a, b), c) = cnt.reduceLeft { (x, y) =>
          if (y._2 > x._2 ||
            (y._2 == x._2 && (utf8Lt(y._1._1, x._1._1) ||
              (y._1._1 == x._1._1 && utf8Lt(y._1._2, x._1._2))))) y else x
        }
        merges += ((r.toLong, a, b, c))
        words = words.map { case (sy, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          for (x <- sy) {
            if (out.nonEmpty && out.last == a && x == b)
              out(out.length - 1) = a + b
            else out += x
          }
          (out.toArray, f)
        }
        r += 1
      }
    }
    merges.toSeq.toDF("rk", "lhs", "rhs", "cnt")
  }

  /** Test-only observability for the dispatch in [[bpeTrainDistributed]]:
    * which path the last call on this JVM took. */
  @volatile private[operators] var lastBpeTrainPath: String = ""

  /** [[bpeTrain]] with the merge rounds DISTRIBUTED — the word table
    * never leaves the executors. Per round (the ConnectedComponents
    * keyed-rounds discipline): one pair-count aggregate over the
    * symbolized word-frequency table (shuffle keyed by pair — bounded
    * by the live symbol vocabulary, not the corpus), a ONE-ROW argmax
    * collect (cnt desc, lhs asc, rhs asc — Spark string order is UTF-8
    * binary, the exact driver-loop comparator), then the winning pair
    * broadcast back as two literals and applied with an in-row greedy
    * left-to-right fold. `localCheckpoint` truncates lineage each round
    * so plan depth stays constant at 32k-merge vocabularies.
    *
    * Same (rounds, minFreq, maxWords) contract and BIT-IDENTICAL output
    * to the driver trainer (`BpeTrainEquivalenceSpec` proves it on the
    * gate corpus): the driver loop IS this algorithm run on a collected
    * table. Prefer this path when distinct words × avg word length won't
    * comfortably collect (web corpora: 10^8+ distinct tokens); the
    * driver path wins on small vocabs by skipping per-round job
    * scheduling. The maxWords rank-cap is the one global-order stage
    * (TakeOrdered-shaped limit); at the default 2^22 it passes
    * everything through.
    *
    * This is the SINGLE public trainer. `driverDispatchMaxWords` is a
    * count-based dispatch to the driver fast-path: when an
    * approx-count-distinct over the raw token stream (one extra
    * map-combined pass, ±5% rsd) is at or under the threshold, the
    * bounded word table is collected and the merge rounds run
    * driver-side — the SAME algorithm on the collected table, proved
    * BIT-IDENTICAL by `BpeTrainEquivalenceSpec`, so which path ran is
    * unobservable in the output. A near-threshold approx misdispatch is
    * therefore harmless. Default 2^16: ≤65k word strings is a
    * model-sized collect (the k-means/PQ-trainer budget); a web-corpus
    * vocabulary (10^8+ distinct tokens) always goes distributed, closing
    * the old footgun where calling the driver trainer directly on a big
    * corpus collected up to 2^22 strings. Pass 0 to pin the distributed
    * rounds (the gate queries do, so the scale path stays exercised on
    * the small fixtures).
    *
    * Output: (rk, lhs, rhs, cnt) — merge table in training order. */
  def bpeTrainDistributed(df0: DataFrame, textCol: String, rounds: Int = 5,
                          minFreq: Long = 1, maxWords: Int = 1 << 22,
                          driverDispatchMaxWords: Long = 1L << 16): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    require(minFreq >= 1, s"minFreq must be >= 1, got $minFreq")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val spark = df0.sparkSession
    import spark.implicits._
    if (driverDispatchMaxWords > 0) {
      val approxVocab = graft.functions.SafeExplode.explodeSelect(
          Dedup.widen(df0), Seq.empty, tokens(col(textCol)), "w")
        .agg(approx_count_distinct(col("w")).as("n")).head().getLong(0)
      if (approxVocab <= driverDispatchMaxWords) {
        lastBpeTrainPath = "driver"
        return bpeTrain(df0, textCol, rounds, minFreq, maxWords)
      }
    }
    lastBpeTrainPath = "distributed"
    // per-round checkpoints with DETERMINISTIC block release — see
    // LocalCheckpoints for why Dataset.unpersist cannot do this. At a
    // 32k-round vocabulary, unreleased rounds are unbounded
    // block-manager pressure.
    // symbols = per-character split; tokens() is [a-z0-9]+ (ASCII), so
    // characters ≡ code points ≡ what the driver trainer symbolizes
    var (words, liveBlocks) = LocalCheckpoints.tracked(
      graft.functions.SafeExplode.explodeSelect(
          Dedup.widen(df0), Seq.empty, tokens(col(textCol)), "w")
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= minFreq)
        .orderBy(col("freq").desc, col("w").asc).limit(maxWords)
        .select(filter(split(col("w"), ""), x => x =!= "").as("sy"), col("freq"))
        .repartition(spark.sparkContext.defaultParallelism))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = words.filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("sy")) - 1),
          i => struct(element_at(col("sy"), i).as("lhs"),
            element_at(col("sy"), i + 1).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = top.head
        merges += ((r.toLong, a, b, c))
        // greedy left-to-right merge: the just-built a||b at the fold
        // tail can never re-match the round's lhs a (b is non-empty),
        // mirroring the driver loop exactly. try_element_at: null on the
        // empty accumulator (never equals a), keeping the fold ANSI-safe.
        val (la, lb) = (lit(a), lit(b))
        val prevBlocks = liveBlocks
        val (next, nextBlocks) = LocalCheckpoints.tracked(words.select(
          aggregate(col("sy"),
            array().cast("array<string>"),
            (acc, x) => when(
              try_element_at(acc, lit(-1)) === la && x === lb,
              concat(slice(acc, lit(1), size(acc) - 1), array(concat(la, lb))))
              .otherwise(concat(acc, array(x)))).as("sy"),
          col("freq")))
        words = next
        liveBlocks = nextBlocks
        // the new checkpoint is materialized; release the old round's blocks
        LocalCheckpoints.release(prevBlocks)
        r += 1
      }
    }
    val out = merges.toSeq.toDF("rk", "lhs", "rhs", "cnt")
    LocalCheckpoints.release(liveBlocks) // output is driver-local — safe
    out
  }

  /** BPE encoding with a trained merge table ([[bpeTrain]]'s output,
    * collected driver-side — model-sized): per document, the word count
    * and the BPE token count after applying the merges in training order,
    * each application the same greedy left-to-right fold the trainer
    * used — so encode(corpus) under the trained table reproduces the
    * trainer's final segmentation exactly.
    *
    * Entirely MAP-ONLY: per word, ONE call into the native
    * [[graft.plans.BpeTokenCount]] kernel (all merge rules applied
    * in-place in a single compiled method — the round-9 form nested one
    * interpreted `aggregate()` HOF per rule per word, the documented
    * 16x interpreted-lambda trap, and was the slowest query on the
    * board); per doc, one in-row sum over words. Zero shuffles —
    * tokenizer application at 100 TB is a pure scan, which is the whole
    * point of shipping a merge TABLE instead of a tokenizer service.
    * Output: (idCol, n_words, n_bpe_tokens). */
  def bpeEncode(df0: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    // the merge table rides the plan as two foldable array literals
    // (training order) — model-sized, evaluated once, codegen'd into a
    // single per-word loop
    val lhsLit = typedLit(merges.map(_._1))
    val rhsLit = typedLit(merges.map(_._2))
    Dedup.widen(df0)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_words"),
        // one native call per DOCUMENT (graft.plans.BpeTokenSum): the
        // transform+aggregate wrapper was interpreted HOF dispatch per
        // word plus an intermediate long array, around an already-native
        // per-word kernel (guide §4)
        GraftFunctions.bpeTokenSum(col("toks"), lhsLit, rhsLit)
          .as("n_bpe_tokens"))
  }

  /** Corpus-relative novelty: the fraction of a document's distinct
    * k-shingles that appear in NO other document — high novelty marks
    * original content, low novelty marks boilerplate/template text (the
    * inverse of the repetition gates, but measured against the corpus
    * rather than within the document).
    *
    * Shape: one hashed-shingle explode (8-byte keys, see
    * [[Dedup.shingleHash]]) and one keyed aggregate. A df = 1 shingle
    * has exactly ONE owning document, so ownership rides the frequency
    * aggregate as `min(id)` and the per-doc unique count is a second,
    * doc-keyed aggregate over just the df = 1 survivors — the exploded
    * corpus is never joined back to itself (the earlier form re-shuffled
    * every exploded shingle row through an `ex JOIN dfreq` plus a
    * doc-keyed aggregate over the fan-out; per-doc totals are in-row:
    * n_shingles = size(sh)).
    * Output: (id, n_shingles, n_unique, novelty). */
  def noveltyScore(df0: DataFrame, idCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    val docSh = Dedup.hashedShingleSets(Dedup.widen(df0), idCol, textCol, k)
    val uniq = graft.functions.SafeExplode
      .explodeSelect(docSh, Seq(col(idCol)), col("sh"), "s")
      .groupBy("s")
      .agg(count(lit(1)).as("df"), min(col(idCol)).as("owner"))
      .filter(col("df") === 1)
      .groupBy("owner").agg(count(lit(1)).as("n_unique"))
    docSh.select(col(idCol), col("n").as("n_shingles"))
      .join(uniq, col(idCol) === col("owner"), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(coalesce(col("n_unique"), lit(0L)).cast("double")
          / col("n_shingles"), 6).as("novelty"))
  }

  /** Fixed-size token-window chunking with overlap — the context-prep
    * step before embedding or training on long documents. Chunk i covers
    * tokens [i*stride, i*stride + chunkSize); the last chunk may be
    * short; a doc shorter than one chunk yields a single chunk. MAP-ONLY
    * (per-row transform + explode, no shuffle); chunk ids are
    * deterministic (doc_id, chunk_idx).
    * Output: (id, chunk_idx, chunk_text, n_chunk_tokens). */
  def chunk(df0: DataFrame, idCol: String, textCol: String,
            chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      "need 0 < stride <= chunkSize (overlapping or adjacent windows)")
    val df = Dedup.widen(df0)
    // number of chunks: 1 + ceil(max(0, n - chunkSize) / stride)
    val n = size(col("toks"))
    val nChunks = lit(1) + ceil(greatest(n - chunkSize, lit(0)).cast("double") / stride).cast("int")
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(n > 0)
      .select(col(idCol), col("toks"),
        explode_outer(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .filter(col("chunk_idx").isNotNull) // outer+filter: see SafeExplode
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunkSize)).as("ct"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ", col("ct")).as("chunk_text"),
        size(col("ct")).cast("long").as("n_chunk_tokens"))
  }

  /** Winnowing document fingerprints: hash every k-shingle (md5), slide a
    * window of `window` consecutive shingle positions, keep the minimum
    * hash per window, and emit the distinct selected hashes per document.
    * This is the standard MOSS-style local fingerprinting scheme: any
    * shared substring of length >= window+k-1 tokens yields a shared
    * fingerprint, so overlap detection needs only an equi-join on `fp`.
    * Output: (id, n_fingerprints, min_fingerprint).
    *
    * Entirely MAP-ONLY: the shingle-hash array never leaves its row —
    * the per-window minimum is `array_min(slice(...))` over the in-row
    * array (O(n·window) comparisons inside codegen'd higher-order
    * functions) instead of posexplode → window-function shuffle of every
    * shingle, which shuffled ~|tokens| rows per document. Zero exchanges;
    * throughput is scan-bound at any corpus size. (`slice` clamps at the
    * array end, matching the old `rowsBetween(currentRow, window-1)`
    * frame that shortened at the partition tail.) */
  def fingerprints(df0: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, window: Int = 4): DataFrame =
    winnowed(df0, idCol, textCol, k, window)
      .select(col(idCol),
        size(array_distinct(col("fps"))).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"))

  /** Shared winnowing core: (id, fps) with the per-window min-hash array
    * still in-row — see [[fingerprints]] for the scheme and the map-only
    * shape rationale. */
  private def winnowed(df0: DataFrame, idCol: String, textCol: String,
                       k: Int, window: Int): DataFrame = {
    val df = Dedup.widen(df0)
    // per-window minima from the native WinnowFingerprints kernel — one
    // digest pass + an O(m) monotonic-deque sliding min, instead of the
    // per-position slice + array_min over a materialized hex array
    // (bit-identical; see the kernel scaladoc for the equivalence)
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
      .withColumn("fps",
        GraftFunctions.winnowFingerprints(col("toks"), k, window))
  }

  /** Unigram-LM surprise (perplexity proxy): the corpus's own token
    * frequencies are the language model; a document's score is the mean
    * negative log-likelihood of its tokens under that model. Low surprise
    * = stereotypical text (boilerplate, repeated templates), high
    * surprise = rare-token-heavy text (noise, non-language) — CCNet-style
    * curation keeps the middle of this distribution.
    *
    * Shape: one token explode + one vocab-keyed count, then a vocab-keyed
    * join back and a per-doc aggregate — the standard LM-scoring plan
    * (the frequency table is vocabulary-sized, so the join is AQE-
    * broadcastable when the vocab is small, a plain shuffle join when it
    * is not; neither side is ever O(corpus × vocab)).
    *
    * Cross-engine determinism: per-token surprise = -ln(cnt/total)
    * rounded to 9 dp, accumulated as decimal (order-independent), mean
    * rounded to 6 dp. Output: (id, n_tokens, mean_surprise). */
  def unigramSurprise(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = Dedup.widen(df0)
    val tok = graft.functions.SafeExplode.explodeSelect(
      df, Seq(col(idCol)), tokens(col(textCol)), "w")
    val freq = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("n_total"))
    tok.join(freq, "w").crossJoin(broadcast(total))
      .withColumn("s",
        round(-log(col("cnt").cast("double") / col("n_total")), 9)
          .cast("decimal(28,9)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("sum_s"))
      .select(col(idCol), col("n_tokens"),
        round(col("sum_s").cast("double") / col("n_tokens"), 6).as("mean_surprise"))
  }

  /** Bigram-LM surprise — the CONDITIONAL upgrade of [[unigramSurprise]]
    * and the scalable sketch of CCNet's KenLM-perplexity filter: a
    * document's score is the mean negative log-likelihood of its bigrams
    * under the corpus's own add-k-smoothed bigram model,
    * P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V), with c(w1) the token's
    * corpus occurrence count and V the corpus vocabulary size.
    *
    * Shape: one in-row bigram fan-out (with multiplicity — not the
    * distinct shingle set), one bigram-keyed count, one unigram-keyed
    * count, a two-key join back and a per-doc aggregate; the two scalar
    * frames (V) broadcast. Same keyed-equi-join-only discipline as the
    * unigram version — nothing is O(corpus × vocab).
    *
    * Cross-engine determinism: per-bigram surprise rounded to 9 dp,
    * decimal accumulation, mean rounded to 6 dp (the
    * [[unigramSurprise]] contract). Output: (id, n_bigrams, mean_surprise). */
  def bigramSurprise(df0: DataFrame, idCol: String, textCol: String,
                     k: Double = 0.5): DataFrame = {
    require(k > 0, s"add-k smoothing needs k > 0, got $k")
    val df = Dedup.widen(df0)
    val toks = df.select(col(idCol), tokens(col(textCol)).as("toks"))
    val bg = graft.functions.SafeExplode.explodeSelect(
        toks.filter(size(col("toks")) >= 2), Seq(col(idCol)),
        transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"))), "b")
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val tok = graft.functions.SafeExplode.explodeSelect(
      toks, Seq(col(idCol)), col("toks"), "w")
    // Pre-aggregate the bigram stream to (id, w1, w2, c) BEFORE anything
    // joins it (guide §2.3 "aggregate before you shuffle" / §2.4): the
    // occurrence-level form shuffled every bigram occurrence into the
    // c2 join AND recomputed the explode under the c2 aggregate (no
    // exchange reuse between the two different keyings). With the
    // (id, w1, w2) count as the shared base, c2 derives from it (its
    // exchange is REUSED, so the token explode runs once for the bigram
    // side), the joins carry distinct per-doc bigrams instead of
    // occurrences, and the per-doc aggregate weights each bigram's
    // 9-dp-rounded surprise by its exact integer multiplicity — decimal
    // arithmetic, so Σ_occurrences s ≡ Σ_distinct c·s bit-for-bit.
    val bgc = bg.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    // corpus bigram count as a WINDOW sum over bgc (one bigram-explode
    // pass total) — the aggregate+join form computed bgc twice with no
    // exchange reuse; sum(c) over (partition by w1, w2) ≡ the joined c2
    val wBg = org.apache.spark.sql.expressions.Window.partitionBy("w1", "w2")
    val c1 = tok.groupBy("w").agg(count(lit(1)).as("c1"))
    val v = broadcast(c1.agg(count(lit(1)).as("v")))
    bgc.withColumn("c2", sum(col("c")).over(wBg))
      .join(c1.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(v)
      .withColumn("s",
        round(-log((col("c2").cast("double") + lit(k)) /
          (col("c1").cast("double") + lit(k) * col("v"))), 9)
          .cast("decimal(28,9)"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        // c < 10^9 by construction (a doc's bigram count); decimal(28,9)
        // × decimal(9,0) = decimal(38,9) — EXACT, no precision loss
        sum(col("s") * col("c").cast("decimal(9,0)")).as("sum_s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("sum_s").cast("double") / col("n_bigrams"), 6).as("mean_surprise"))
  }

  /** Per-document top-`topK` TF-IDF terms — the classic keyword/feature
    * extraction pass (tf × ln(N/df), raw counts). One token explode, one
    * (doc, token) count, one vocab-keyed document-frequency join, and a
    * WindowGroupLimit-pruned per-doc rank — no driver-side vocabulary.
    * Ties rank by token asc. Output: (id, token, tf, score, rk). */
  def tfidfTopK(df0: DataFrame, idCol: String, textCol: String,
                topK: Int = 3): DataFrame = {
    val df = Dedup.widen(df0)
    val tf = graft.functions.SafeExplode.explodeSelect(
        df, Seq(col(idCol)), tokens(col(textCol)), "token")
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    // document frequency as a WINDOW count over the tf frame, not a
    // second aggregate joined back (guide §2.4 "window functions
    // partitioned by the same key as a preceding aggregation"): the
    // groupBy+join form computed the token-explode/tf subtree TWICE
    // (once under dfreq, once as the join's left — no exchange reuse)
    // and paid a join shuffle; the window shares the single tf pass.
    // df = count(*) over (partition by token) ≡ dfreq's count, and the
    // inner join kept every tf row (df >= 1 always) — identical rows.
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("token")
    val nDocs = broadcast(df.agg(count_distinct(col(idCol)).as("n_docs")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("token").asc)
    tf.withColumn("df", count(lit(1)).over(wDf)).crossJoin(nDocs)
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col(idCol), col("token"), col("tf"), col("score"), col("rk"))
  }

  /** Fingerprint-overlap candidate pairs: documents sharing >= `minShared`
    * DISTINCT winnowing fingerprints. By the winnowing guarantee, any
    * shared run of >= window+k-1 tokens yields a shared fingerprint, so
    * this surfaces SUBSTRING-level overlap (quotation, template reuse,
    * partial copies) that whole-document MinHash misses when the rest of
    * the documents differ.
    *
    * Scale shape: same inverted-index discipline as the shingle dedup
    * family — fingerprint selection is map-only ([[fingerprints]]), the
    * pair space comes from an equi-join on the fingerprint hash (sparse
    * by winnowing's density guarantee: ~2/(window+1) of positions), and
    * only (id, 32-char fp) pairs ever shuffle.
    *
    * The self-join on `fp` is quadratic in a fingerprint's document
    * frequency — a boilerplate fingerprint shared by 10^5 docs would
    * yield 10^10 candidate pairs. `maxDf` is the CCNet-style posting-list
    * cap that kills that blow-up: fingerprints with corpus df > maxDf
    * (by definition boilerplate, not meaningful overlap signal) are
    * dropped from the index BEFORE the join, mirroring the corpus-hot
    * shingle exclusion of [[Dedup.rankedPostings]]. The default keeps
    * every posting (exact semantics); any 100 TB run should set it.
    *
    * Output: (d1, d2, n_shared) with d1 < d2. */
  def fingerprintOverlap(df0: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, window: Int = 4,
                         minShared: Int = 2,
                         maxDf: Long = Long.MaxValue): DataFrame = {
    val fps = fingerprintPostings(df0, idCol, textCol, k, window, maxDf)
    fps.select(col(idCol).as("d1"), col("fp"))
      .join(fps.select(col(idCol).as("d2"), col("fp")), "fp")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** (id, fp) posting list feeding [[fingerprintOverlap]], after the
    * `maxDf` hot-fingerprint cap. Exposed for the planted hot-fp spec,
    * which machine-checks that a boilerplate fingerprint present in half
    * the corpus is excluded from the candidate join. */
  private[graft] def fingerprintPostings(df0: DataFrame, idCol: String,
                                         textCol: String, k: Int, window: Int,
                                         maxDf: Long): DataFrame = {
    val fps = graft.functions.SafeExplode.explodeSelect(
      winnowed(df0, idCol, textCol, k, window),
      Seq(col(idCol)), array_distinct(col("fps")), "fp")
    if (maxDf == Long.MaxValue) fps
    else fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp"), "fp")
  }

  /** CCNet-style n-gram LM perplexity scoring (Wenzek et al. 2020): train
    * a Laplace-smoothed bigram language model on a reference corpus, then
    * score each target document by its perplexity under that model — the
    * classic "does this crawl text read like the clean corpus" quality
    * filter (low perplexity = in-distribution; the curation decision
    * thresholds or buckets on it).
    *
    * Model (add-one smoothing, V = train unigram vocabulary size,
    * N = train token count; all counts exact integers):
    *   p(w_1)          = (c1(w_1) + 1) / (N + V + 1)
    *   p(w_i | w_i-1)  = (c2(w_i-1, w_i) + 1) / (c1(w_i-1) + V + 1)
    *   ppl(doc)        = exp(-(1/M) * sum_i ln p_i)   over M = doc tokens
    *
    * Cross-engine determinism: each per-token log-likelihood is
    * round(·, 9) then summed as DECIMAL — order-invariant exact
    * arithmetic, so partitioning cannot perturb the sum (the "aggregate
    * over decimals, cast at the end" float discipline). ln is applied
    * only to integer-derived doubles, where engines agree bitwise.
    *
    * Scale shape: the model is two count AGGREGATES over the train
    * corpus (map-side combined; at real scale trained once and stored).
    * Scoring explodes targets to narrow (id, pos, prev, w) rows — token
    * arrays never shuffle — and equi-joins the model frames (AQE
    * broadcasts them when small; the N/V scalars ride an explicit
    * 1-row broadcast). One doc-keyed aggregate closes.
    *
    * Output: (idCol, n_tokens, ppl), ppl NULL for empty docs. */
  def ngramLmPerplexity(train: DataFrame, target: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val trTok = train.select(tokens(col(textCol)).as("t"))
    val uni = graft.functions.SafeExplode
      .explodeSelect(trTok, Seq.empty, col("t"), "w")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = graft.functions.SafeExplode.explodeSelect(
        trTok, Seq.empty,
        when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")), "g")
      .select(col("g.w1"), col("g.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val stats = uni.agg(count(lit(1)).as("v"), sum(col("c1")).as("n"))
    val tok = graft.functions.SafeExplode.posexplodeSelect(
        target.select(col(idCol), tokens(col(textCol)).as("t")),
        Seq(col(idCol), col("t")), col("t"))
      .select(col(idCol), col("pos"),
        when(col("pos") > 0, element_at(col("t"), col("pos"))).as("prev"),
        col("col").as("w"))
    val ll = tok
      .join(uni.select(col("w"), col("c1").as("cw")), Seq("w"), "left")
      .join(uni.select(col("w").as("prev"), col("c1").as("cp")), Seq("prev"), "left")
      .join(bi.select(col("w1").as("prev"), col("w2").as("w"), col("c2")),
        Seq("prev", "w"), "left")
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        round(when(col("pos") === 0,
            log(coalesce(col("cw"), lit(0L)) + 1) - log(col("n") + col("v") + 1))
          .otherwise(
            log(coalesce(col("c2"), lit(0L)) + 1)
              - log(coalesce(col("cp"), lit(0L)) + col("v") + 1)), 9)
          .cast("decimal(28,9)").as("l"))
    val agg = ll.groupBy(col(idCol))
      .agg(count(lit(1)).as("m"), sum(col("l")).as("s"))
    target.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("m"), lit(0L)).as("n_tokens"),
        round(exp(-(col("s").cast("double")) / col("m")), 6).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995; the
    * smoothing KenLM defaults to — one step up in fidelity from
    * [[ngramLmPerplexity]]'s Laplace model for the CCNet-style quality
    * filter). Fixed discount D = 0.75 (binary-exact in double):
    *
    *   p(w|v) = max(c(vw) − D, 0)/c(v)  +  D·N₁₊(v,·)/c(v) · p_cont(w)
    *   p_cont(w) = (N₁₊(·,w) + 1) / (N_bb + V + 1)
    *
    * where N₁₊(v,·)/N₁₊(·,w) are distinct-continuation counts, N_bb the
    * distinct-bigram total, V the train vocabulary. The +1/+V+1 Laplace
    * floor on the continuation distribution keeps OOV probability finite
    * (exact KN assigns unseen words zero); first tokens and unseen
    * contexts score p_cont alone. Every probability is a fixed-shape
    * double expression over INTEGER counts, so both engines produce
    * bit-identical inputs to ln; per-token log-probs ride the
    * 9-dp/decimal accumulation contract.
    *
    * Scale shape: identical to the Laplace model — two train-side
    * map-combined aggregates (bigram counts + their two distinct-
    * continuation rollups), target tokens join the model on (prev, w)
    * equi-keys, scalar totals broadcast. */
  def kneserNeyPerplexity(train: DataFrame, target: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    val trTok = train.select(tokens(col(textCol)).as("t"))
    val uni = graft.functions.SafeExplode
      .explodeSelect(trTok, Seq.empty, col("t"), "w")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = graft.functions.SafeExplode.explodeSelect(
        trTok, Seq.empty,
        when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")), "g")
      .select(col("g.w1"), col("g.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // context rollup: c(v) and N1+(v,·); continuation rollup: N1+(·,w)
    val ctx = bi.groupBy(col("w1").as("prev"))
      .agg(sum(col("c2")).as("cp"), count(lit(1)).as("n1v"))
    val cont = bi.groupBy(col("w2").as("w")).agg(count(lit(1)).as("n1w"))
    val stats = bi.agg(count(lit(1)).as("nbb"))
      .crossJoin(uni.agg(count(lit(1)).as("v")))
    val tok = graft.functions.SafeExplode.posexplodeSelect(
        target.select(col(idCol), tokens(col(textCol)).as("t")),
        Seq(col(idCol), col("t")), col("t"))
      .select(col(idCol), col("pos"),
        when(col("pos") > 0, element_at(col("t"), col("pos"))).as("prev"),
        col("col").as("w"))
    val pc = (coalesce(col("n1w"), lit(0L)) + 1).cast("double") /
      (col("nbb") + col("v") + 1)
    val pkn = when(col("pos") === 0 || col("cp").isNull, pc)
      .otherwise(
        greatest(coalesce(col("c2"), lit(0L)) - 0.75, lit(0.0)) / col("cp")
          + lit(0.75) * col("n1v") / col("cp") * pc)
    val ll = tok
      .join(cont, Seq("w"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(bi.select(col("w1").as("prev"), col("w2").as("w"), col("c2")),
        Seq("prev", "w"), "left")
      .crossJoin(broadcast(stats))
      .select(col(idCol), round(log(pkn), 9).cast("decimal(28,9)").as("l"))
    val agg = ll.groupBy(col(idCol))
      .agg(count(lit(1)).as("m"), sum(col("l")).as("s"))
    target.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("m"), lit(0L)).as("n_tokens"),
        round(exp(-(col("s").cast("double")) / col("m")), 6).as("ppl_kn"))
  }

  /** Per-document Shannon entropy of the (lowercased) character
    * distribution — the classic gibberish/binary-noise quality signal:
    * natural text sits in a narrow entropy band; base64 blobs and
    * binary-as-text score high, single-char padding scores near zero.
    *
    * Computed as H = ln(n) − (Σ c·ln c)/n over per-char counts c — the
    * algebraic form keeps every ln over an INTEGER argument (engines
    * agree bitwise) and the sum rides the 9-dp/decimal accumulation
    * contract. Shape: a pure scan, one native in-row pass per document
    * ([[graft.plans.CharEntropyParts]]), no exchange.
    *
    * Output: one row per INPUT row, (idCol, n_chars, entropy), computed
    * from that row's own text; NULL entropy for empty docs. Rows that
    * share an id are not pooled: two rows with id 7 give two output rows
    * with id 7, each with its own row's entropy. Callers that want one
    * value per id aggregate or dedupe the text first. */
  def charEntropy(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = Dedup.widen(df0)
    // The aggregation is DOC-LOCAL: the old form exploded every character
    // of every document and shuffled them twice (groupBy (id, ch), then
    // groupBy id) just to count within rows. The native kernel
    // (graft.plans.CharEntropyParts) computes the same (n, s) parts in
    // one in-row pass — zero exchanges, pure scan (guide §2.4); the
    // closing expression reproduces the old null shape exactly (n = 0 →
    // log(0) = null → entropy null, matching the left-join-miss rows).
    df.select(col(idCol), lower(col(textCol)).as("txt"))
      .select(col(idCol),
        GraftFunctions.charEntropyParts(col("txt")).as("p"))
      .select(col(idCol),
        col("p.n").as("n_chars"),
        round(log(when(col("p.n") > 0, col("p.n")).cast("double"))
          - col("p.s") / when(col("p.n") > 0, col("p.n")), 6)
          .as("entropy"))
  }

  /** CCNet's head/middle/tail split over a perplexity-scored frame
    * (Wenzek et al. 2020 §4.3): docs at or below the `lo` quantile of
    * `pplCol` are "head" (most in-distribution), between `lo` and `hi`
    * "middle", above "tail"; NULL scores (empty docs) bucket as "empty".
    * CCNet trains on the middle (head is boilerplate-like, tail noise) —
    * downstream sampling keys on this label.
    *
    * The two boundaries are ONE exact-percentile aggregate (interpolated,
    * nulls skipped — the q_percentile-proven cross-engine idiom)
    * broadcast back over the frame; the label is a map-side CASE. Exact
    * percentile sorts the score column at 100 TB — swap in stored
    * boundaries from a sample epoch there; the label pass itself is
    * shuffle-free either way.
    *
    * Output: input columns + `bucket`. */
  def perplexityBuckets(scored: DataFrame, pplCol: String = "ppl",
                        lo: Double = 1.0 / 3, hi: Double = 2.0 / 3): DataFrame = {
    require(0 < lo && lo < hi && hi < 1, s"need 0 < lo < hi < 1, got ($lo, $hi)")
    val bounds = scored.agg(
      expr(s"percentile($pplCol, $lo)").as("b_lo"),
      expr(s"percentile($pplCol, $hi)").as("b_hi"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col(pplCol).isNull, "empty")
          .when(col(pplCol) <= col("b_lo"), "head")
          .when(col(pplCol) <= col("b_hi"), "middle")
          .otherwise("tail"))
      .drop("b_lo", "b_hi")
  }
}
