package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime: no operator ever materializes the O(n²) pair space —
  * candidates come from equi-join blocking (shared shingle, LSH band,
  * SimHash chunk), so the shuffles are keyed joins Catalyst can plan with
  * AQE skew handling, and every hash is deterministic (md5-derived, see
  * [[graft.functions.TextFunctions]]) so results are partitioning-invariant.
  *
  * Reference scope note: the reference engine's only dedup is a per-bundle
  * first-seen `HashSet` (`/root/reference/src/main/java/com/mercari/solution/
  * transforms/StructToAvroTransform.java:87-90`, an approximation). These
  * operators are the exact + near-dup generalizations a data-curation user
  * of that pipeline needs.
  */
object Dedup {

  /** Fan-out guard for small-input/heavy-compute stages: a compact
    * parquet file can arrive as one split, serializing the shingle/md5
    * fan-out into a single task. If the input has fewer partitions than
    * the cluster's parallelism, spread it; at real scale (input splits >>
    * cores) this is a no-op — no shuffle is added. */
  def widen(df: DataFrame): DataFrame = { // public: query-level pipelines share the guard
    // inputFiles is metadata-only — the previous rdd.getNumPartitions
    // probe forced a physical plan + RDD conversion per invocation and
    // pinned that branch outside AQE. File count under-estimates split
    // count (one big file splits by maxPartitionBytes), so this only
    // fires on genuinely few-file inputs — exactly the compact-parquet
    // case it guards; non-file inputs (in-memory test frames) skip it.
    val target = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    if (files > 0 && files < target) df.repartition(target) else df
  }

  /** Exact dedup by content hash: one surviving `idCol` (the minimum) per
    * distinct `textCol`. A single hash-shuffle on md5(text); at scale the
    * 32-hex-char key keeps the shuffle narrow regardless of document size.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol),
        count(lit(1)).as("n_copies"))
      .select(idCol, "content_hash", "n_copies")

  /** Prefix-key dedup: one surviving `idCol` (the minimum) per distinct
    * FIRST-`k`-token prefix — the boilerplate-header / title / lede
    * family of duplicates that whole-content hashing misses (same page
    * head, diverging tails: syndicated articles, templated landing
    * pages, scraped mirrors with injected footers). The prefix is the
    * first min(k, len) lowercased alphanumeric tokens joined by single
    * spaces (null text = no tokens = the '' prefix group, same as
    * empty/whitespace-only docs — mirrored by the oracle's coalesce);
    * md5 of that string keeps the shuffle key 32 hex chars
    * regardless of document size — same single hash-shuffle shape as
    * [[exactDedup]], and like it the decision is partitioning-invariant.
    * Output: (idCol, prefix_hash, n_copies). */
  def prefixDedup(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 10): DataFrame = {
    require(k >= 1, s"prefix length must be >= 1, got $k")
    df.groupBy(
        md5(concat_ws(" ",
          slice(graft.functions.TextFunctions.tokens(col(textCol)), 1, k)))
          .as("prefix_hash"))
      .agg(min(col(idCol)).as(idCol),
        count(lit(1)).as("n_copies"))
      .select(idCol, "prefix_hash", "n_copies")
  }

  /** Corpus snapshot diff by content hash — the version-management step
    * every re-crawled / re-curated corpus needs before deciding what to
    * reprocess: one row per doc id present in EITHER snapshot, with
    * status ∈ added | removed | changed | unchanged. One hash-shuffle
    * full-outer join of narrow (id, md5) projections — document text
    * never crosses the shuffle, so the cost is id-cardinality, not
    * corpus bytes. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val h1 = oldDf.select(col(idCol).as("old_id"), md5(col(textCol)).as("old_h"))
    val h2 = newDf.select(col(idCol).as("new_id"), md5(col(textCol)).as("new_h"))
    h1.join(h2, col("old_id") === col("new_id"), "full_outer")
      .select(coalesce(col("old_id"), col("new_id")).as(idCol),
        when(col("old_id").isNull, "added")
          .when(col("new_id").isNull, "removed")
          .when(col("old_h") =!= col("new_h"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Per-document MinHash signature as ONE array column (component i at
    * position i+1) — the layout banding and estimation consume without
    * further shuffles. `toksCol` optionally names a precomputed token
    * array (e.g. one CACHED alongside the input by a pipeline that also
    * quality-scores from it) so the regex tokenization is not re-run.
    *
    * Shape: ENTIRELY IN-ROW — component h is `array_min` over the
    * md5-transformed shingle array, so signatures are a map-only
    * projection with ZERO exchanges (the earlier explode + 16-way `min`
    * aggregate shuffled every (doc, shingle) row to compute the exact
    * same values; measured 1.35× slower at sf0.1 on `d_minhash_lsh`).
    * Same md5 work per shingle, same values, same oracle hashes. */
  def minhashSignatureArray(df0: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 16, k: Int = 3,
                            toksCol: Option[String] = None): DataFrame = {
    val df = widen(df0)
    // signature components come from the native MinhashSignature kernel —
    // ONE codegen'd pass over the shingle array instead of numHashes
    // stacked transform+array_min HOFs (bit-identical hex values; see the
    // kernel scaladoc for the equivalence argument)
    df.select(col(idCol),
        toksCol.map(col).getOrElse(tokens(col(textCol))).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(idCol), shingles(col("toks"), k).as("sh"))
      .select(col(idCol),
        GraftFunctions.minhashSignature(col("sh"), numHashes).as("sig"))
  }

  /** MinHash + LSH near-duplicate pairs. Signature arrays are banded
    * (`bands` bands of `numHashes/bands` components, band hash = md5 of
    * the concatenated slice); documents sharing any (band, hash) bucket
    * are candidates; candidates are re-scored by component agreement
    * (estimated Jaccard = matching components / numHashes) computed as an
    * array `zip_with` — banding and estimation add NO shuffles beyond the
    * band-bucket equi-join itself. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 16, bands: Int = 4,
                 minEstJaccard: Double = 0.5, k: Int = 3): DataFrame =
    minhashLshFromSignatures(
      minhashSignatureArray(df, idCol, textCol, numHashes, k).cache(),
      idCol, numHashes, bands, minEstJaccard)

  /** Banding + estimation stage of [[minhashLsh]] over PRECOMPUTED
    * signatures (`sig`: the (id, sig array) layout of
    * [[minhashSignatureArray]]). Exposed so pipelines that already
    * materialized signatures — e.g. the curation pipeline, which holds a
    * cached curated intermediate — feed banding directly instead of
    * re-tokenizing the corpus a second time. */
  def minhashLshFromSignatures(sig: DataFrame, idCol: String,
                               numHashes: Int = 16, bands: Int = 4,
                               minEstJaccard: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    val band = sig.select(col(idCol), col("sig"),
        explode_outer(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            md5(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))).as("bh"))))
          .as("bb"))
      .filter(col("bb").isNotNull) // outer+filter: see SafeExplode
      .select(col(idCol), col("sig"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = band.as("a").join(band.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("d1", "d2")
    cand.select(col("d1"), col("d2"),
        (size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** b-bit minhash (Li & König 2010, "b-Bit Minwise Hashing", b = 1):
    * each signature component is compressed to its lowest bit (parity of
    * the md5 hex head), and resemblance is re-estimated from the
    * bit-agreement fraction m as Ĵ = 2m − 1 — the unbiased b=1 estimator
    * in the small-resemblance regime. The point at 100 TB: a stored
    * signature shrinks 128× (16 md5 strings → 16 bits), so the
    * candidate-verification pass streams bit-vectors instead of hash
    * arrays; candidates still come from the same LSH banding equi-join
    * (never all-pairs). Emitted beside the full-signature estimate so
    * the compression error is measurable per pair. */
  def bbitMinhash(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 16, bands: Int = 4, k: Int = 3): DataFrame = {
    val rows = numHashes / bands
    val sig = minhashSignatureArray(df, idCol, textCol, numHashes, k)
    val band = sig.select(col(idCol), col("sig"),
        explode_outer(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            md5(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))).as("bh"))))
          .as("bb"))
      .filter(col("bb").isNotNull) // outer+filter: see SafeExplode
      .select(col(idCol), col("sig"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = band.as("a").join(band.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("d1", "d2")
    // lowest bit of a minhash value = parity of its first hex digit
    def bitOf(c: Column): Column = lit("13579bdf").contains(substring(c, 1, 1))
    cand.select(col("d1"), col("d2"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("long").as("n_sig_match"),
        size(filter(zip_with(col("sa"), col("sb"),
          (x, y) => bitOf(x) === bitOf(y)), b => b)).cast("long").as("n_bit_match"))
      .select(col("d1"), col("d2"), col("n_sig_match"), col("n_bit_match"),
        round(col("n_sig_match").cast("double") / numHashes, 6).as("est_jaccard"),
        round(lit(2.0) * col("n_bit_match") / numHashes - 1.0, 6).as("j_bbit"))
  }

  /** Cross-corpus near-duplicates: MinHash+LSH pairs BETWEEN a new batch
    * and an existing corpus — the shape every INCREMENTAL ingest needs
    * (is this new document a near-dup of anything already kept?). The
    * band-bucket join is restricted to (batch × corpus): no corpus ×
    * corpus pair ever forms, so ingesting B docs against an N-doc corpus
    * costs O(B + N) signature work and a keyed join, not a full-corpus
    * dedup rerun. Returns (batch_id, corpus_id, est_jaccard).
    *
    * At real scale the corpus side's signatures are computed once and
    * STORED (they are 16 longs/doc); pass them via [[minhashLshAgainstSignatures]]
    * and only the batch pays tokenization. */
  def minhashLshAgainst(corpus: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        numHashes: Int = 16, bands: Int = 4,
                        minEstJaccard: Double = 0.5, k: Int = 3): DataFrame =
    minhashLshAgainstSignatures(
      minhashSignatureArray(corpus, idCol, textCol, numHashes, k),
      minhashSignatureArray(batch, idCol, textCol, numHashes, k),
      idCol, numHashes, bands, minEstJaccard)

  /** Banding + estimation of [[minhashLshAgainst]] over precomputed
    * signature frames (the stored-corpus path). */
  def minhashLshAgainstSignatures(corpusSig: DataFrame, batchSig: DataFrame,
                                  idCol: String, numHashes: Int = 16,
                                  bands: Int = 4,
                                  minEstJaccard: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    def banded(sig: DataFrame): DataFrame =
      sig.select(col(idCol), col("sig"),
          explode_outer(transform(sequence(lit(0), lit(bands - 1)),
            b => struct(b.as("band"),
              md5(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))).as("bh"))))
            .as("bb"))
        .filter(col("bb").isNotNull) // outer+filter: see SafeExplode
        .select(col(idCol), col("sig"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = banded(batchSig).as("a").join(banded(corpusSig).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("batch_id"), col(s"b.$idCol").as("corpus_id"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .dropDuplicates("batch_id", "corpus_id")
    cand.select(col("batch_id"), col("corpus_id"),
        (size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Per-document SimHash (`bits`-bit, default 48 so the value and all
    * 2^b terms fit a signed long). Token-frequency weighted: bit b of the
    * fingerprint is the sign of Σ_tokens cnt * (±1) where the ±1 is bit b
    * of the token's md5.
    *
    * Shape: ENTIRELY IN-ROW — md5 once per token instance (`transform`),
    * then one fold per bit over the in-row hash array. Folding ±1 over
    * token INSTANCES equals the frequency-weighted sum over distinct
    * tokens (cnt·(±1) is just ±1 repeated cnt times, and integer sums
    * are order-free), so the values are bit-identical to the earlier
    * (doc, token) count + 48-way sum aggregate while shuffling NOTHING
    * (that form exchanged every distinct token row; same per-token bit
    * arithmetic either way). */
  def simhash(df0: DataFrame, idCol: String, textCol: String,
              bits: Int = 48): DataFrame = {
    require(bits <= 48, "bits must fit pigeonhole chunks in a signed long")
    val df = widen(df0)
    // fingerprint comes from the native SimhashFingerprint kernel — one
    // md5-digest pass per token updating all `bits` counters, instead of
    // `bits` separate aggregate folds over a materialized hex array
    // (bit-identical; see the kernel scaladoc for the equivalence). The
    // size() filter is unchanged: transform preserved length, so
    // size(hs) > 0 ⇔ size(toks) > 0.
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        GraftFunctions.simhash(col("toks"), bits).as("simhash"))
  }

  /** SimHash near-duplicate pairs with chunk blocking: a 48-bit hash is
    * split into 4 chunks of 12 bits; by pigeonhole, any pair within
    * Hamming distance 3 shares at least one exact chunk, so candidates
    * come from an equi-join on (chunk_idx, chunk_value) and only those
    * pairs pay the popcount. This is the standard web-scale SimHash
    * sharding scheme — no cross join at any size. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame = {
    val bits = 48; val chunks = 4; val w = bits / chunks // 12-bit chunks
    val sh = simhash(df, idCol, textCol, bits).cache()
    val chunked = sh.crossJoin(df.sparkSession.range(chunks).toDF("c"))
      .withColumn("ck", (col("simhash") / pow(lit(2), col("c") * w).cast("long"))
        .cast("long") % (1L << w))
    val cand = chunked.as("a").join(chunked.as("b"),
        col("a.c") === col("b.c") && col("a.ck") === col("b.ck") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col("a.simhash").as("s1"),
        col(s"b.$idCol").as("d2"), col("b.simhash").as("s2"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }

  /** 60-bit md5-derived shingle hash (first 15 hex digits). At corpus
    * scale the shingle STRINGS are the dominant bytes of the inverted-
    * index shuffle; 8-byte hashes cut that ~2.5× and make every index
    * compare one instruction. Collisions merge two distinct shingles —
    * P ≈ |shingles|²/2^61, immaterial below ~10^8 distinct shingles per
    * comparison universe, and deterministic (both engines would agree on
    * the collision if one occurred). */
  private[operators] def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Per-doc sorted distinct hashed-shingle sets, the shared index layout
    * of every set-overlap operator (jaccard, containment, hybrid
    * retrieval): `keep` extra columns + `sh` (sorted array<long>, see
    * [[shingleHash]]) + `n` (set size). CACHED by default — each operator
    * consumes it from several join branches; the cache lives until
    * session end (bench clears between queries; long-lived pipelines
    * should `unpersist()` the returned frame when done). Callers that
    * consume the frame exactly ONCE (e.g. [[ngramJaccard]]'s capped mode,
    * which immediately rebuilds a capped twin) pass `cache = false` —
    * caching a frame with a single consumer is pure materialization cost
    * plus corpus-sized memory held for the session (ADVICE r13). */
  private[operators] def hashedShingleSets(df: DataFrame, idCol: String,
                                           textCol: String, k: Int,
                                           keep: Seq[Column] = Nil,
                                           cache: Boolean = true): DataFrame = {
    val base = df.select(col(idCol) +: keep :+ tokens(col(textCol)).as("toks"): _*)
      .filter(size(col("toks")) >= k)
    // keep expressions were evaluated in the select above; from here on
    // reference them by their OUTPUT names only
    val carried = base.columns.filter(_ != "toks").map(col).toSeq
    // sorted distinct hashed-shingle set from the native ShingleHashSet
    // kernel — one pass over the token array instead of shingle-string /
    // hex-string / conv / array_distinct / sort_array intermediates
    // (bit-identical; see the kernel scaladoc for the equivalence)
    val out = base.select(carried :+ GraftFunctions.shingleHashSet(
        col("toks"), k).as("sh"): _*)
      .withColumn("n", size(col("sh")).cast("long"))
    if (cache) out.cache() else out
  }

  /** Exact n-gram Jaccard similarity for all pairs with jaccard >=
    * `minJaccard`, via AllPairs/PPJoin-style **prefix filtering** — the
    * property that makes this viable at 100 TB:
    *
    * Order each document's shingles by ascending global document
    * frequency; for Jaccard >= t a matching pair must share a shingle in
    * each other's first `n - ceil(t*n) + 1` shingles (the prefix), so the
    * candidate join runs only over prefixes. High-frequency shingles sort
    * to the END of every document and drop out of the prefixes entirely,
    * which caps the inverted-index join at Σ_s df_prefix(s)² instead of
    * Σ_s df(s)² — a naive shared-shingle join is quadratic in hot-shingle
    * frequency and measured 20× slower on the benchmark corpus. The
    * filter is lossless (standard AllPairs guarantee), so results equal
    * the brute-force join. Exact intersections are then computed per
    * candidate from the collected shingle arrays — no second explode.
    *
    * The index carries SORTED long hashes: shuffles and compares touch
    * 8-byte keys (see [[shingleHash]]), and verification uses the native
    * merge-walk intersect (graft_sorted_intersect_count) — zero
    * allocation vs array_intersect's per-row hash set, on the
    * millions-of-candidates hot path. */
  /** Global-df-ranked postings of a [[hashedShingleSets]] frame:
    * (id, s, rn, n) with `rn` = the shingle's 1-based rank within its doc
    * by ascending corpus document frequency (ties by hash). The PREFIX of
    * a doc under threshold `t` is `rn <= n - ceil(t*n) + 1`; with
    * `prefixOnly = true` only prefix rows survive — the filter that drops
    * corpus-hot shingles (max df ⇒ last rank) out of the candidate join
    * entirely whenever ceil(t*n) > 1. Exposed for the planted-skew spec,
    * which machine-checks that exclusion. */
  /** ceil with a one-sided FP guard for threshold bounds. `t` is a
    * double, so products like t·n or t/(1+t)·(na+nb) can land a hair
    * ABOVE an exact integer (0.2/1.2 · 42 = 7.000000000000001), and a
    * raw ceil then overstates the bound by 1 — pruning TRUE pairs whose
    * jaccard/containment is exactly the threshold. Found by the
    * round-14 corpus fuzzer (CorpusFuzzSpec seed=99: two jac = t = 0.2
    * pairs vanished), breaking the AllPairs losslessness claim at the
    * boundary. The relative+absolute epsilon biases the only safe way:
    * an understated bound merely admits extra candidates, which the
    * exact verification join re-scores and filters. */
  private def ceilSafe(c: Column): Column = ceil(c - c * 1e-12 - 1e-9)

  private[operators] def rankedPostings(docSh: DataFrame, idCol: String,
                                        t: Double, prefixOnly: Boolean): DataFrame = {
    val ex = graft.functions.SafeExplode.explodeSelect(
      docSh, Seq(col(idCol), col("n")), col("sh"), "s")
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("df"), col("s"))
    val ranked = ex.join(dfreq, "s")
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col(idCol), col("s"), col("rn"), col("n"))
    if (prefixOnly) ranked.filter(col("rn") <= col("n") - ceilSafe(col("n") * t) + 1)
    else ranked
  }

  /** `maxDf`: optional CCNet-style hot-shingle cap (the knob
    * [[graft.operators.TextAnalysis.fingerprintOverlap]] already has).
    * Shingles with corpus document frequency > maxDf are removed from
    * every shingle SET before anything else, so both candidate
    * generation and the Jaccard itself run on the capped sets — a
    * consistent approximation that trades boilerplate-shingle signal
    * (by definition not meaningful overlap evidence) for a hard bound
    * on posting-list length. The prefix filter already excludes
    * corpus-hot shingles from the candidate JOIN losslessly; what it
    * cannot bound is true-pair volume itself when hot shingles make
    * whole near-dup families (the sf10 83× head, BASELINE.md) — the cap
    * can, at the cost of exactness. Default keeps every shingle (exact
    * semantics, equivalence spec-pinned); a 100 TB boilerplate-heavy
    * crawl should set it. */
  def ngramJaccard(df0: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, minJaccard: Double = 0.2,
                   maxDf: Long = Long.MaxValue): DataFrame = {
    val df = widen(df0)
    val t = minJaccard
    // capped mode consumes the uncapped frame exactly once (the explode
    // below), so its session-lifetime cache would be pure cost — cache
    // only when the frame IS the operator's working index (ADVICE r13)
    val docShAll = hashedShingleSets(df, idCol, textCol, k,
      cache = maxDf == Long.MaxValue)
    val docSh = if (maxDf == Long.MaxValue) docShAll else {
      val ex = graft.functions.SafeExplode.explodeSelect(
        docShAll, Seq(col(idCol)), col("sh"), "s")
      val hot = ex.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select(col("s").as("hot_s"))
      // left-anti drop of hot postings, then regroup the (still
      // distinct) hashes into sorted arrays — the shape every
      // downstream step expects (sorted-merge intersect, prefix ranks)
      ex.join(hot, col("s") === col("hot_s"), "left_anti")
        .groupBy(idCol).agg(sort_array(collect_list(col("s"))).as("sh"))
        .withColumn("n", size(col("sh")).cast("long"))
        .filter(col("n") >= 1)
        // same rationale as hashedShingleSets' cache: three consumers
        // (the prefix index + both verification joins) would otherwise
        // each re-run the explode + df aggregate + anti-join + regroup —
        // multiple extra corpus-sized shuffles in exactly the mode the
        // cap exists to make cheap. Same lifetime contract too: lives
        // until session end (bench clears between queries; long-lived
        // pipelines should unpersist via spark.catalog.clearCache() or
        // track the frame) — the ONE shingle-index cache of this call,
        // since docShAll above is deliberately uncached in this mode
        .cache()
    }
    val prefix = rankedPostings(docSh, idCol, t, prefixOnly = true)
    // PPJoin candidate join: equi-join on prefix shingles plus the two
    // LOSSLESS pruning conditions — length filter (|B| >= t|A|) and
    // position filter (a match at ranks (i,j) can contribute at most
    // 1 + min(na-i, nb-j) overlap, which must reach the required
    // α = ceil(t/(1+t) * (na+nb))).
    // shuffle_hash hint: the prefix index is corpus-sized — broadcasting
    // it (Catalyst's pick when stats squeeze under the threshold) builds
    // a driver-side hash relation of the whole index, which is exactly
    // the non-scalable plan; partition-by-shingle hash join is the shape
    // that survives 100 TB.
    val cand = prefix.as("a").hint("shuffle_hash").join(prefix.as("b"),
        col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol") &&
          col("b.n") >= col("a.n") * t && col("a.n") >= col("b.n") * t &&
          (lit(1L) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))) >=
            ceilSafe(lit(t / (1 + t)) * (col("a.n") + col("b.n"))))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      // distinct() is load-bearing beyond dedup: it REBALANCES. The
      // candidate join's output is partitioned by shingle hash, so hot
      // shingles concentrate their pairs in few partitions; the (d1,d2)
      // exchange here spreads the verification merge-walks uniformly.
      // Measured: dropping it (dedup after verify instead) is 7× slower at
      // sf0.1 — the skewed partitions serialize the verify stage. Likewise
      // do NOT cache `prefix`: physical-plan exchange reuse already shares
      // the window shuffle between the two join sides, and an
      // InMemoryRelation here is an AQE barrier that costs more than it
      // saves (measured 8.0 s vs 6.1 s).
      .distinct()
    cand
      .join(docSh.select(col(idCol).as("d1"), col("sh").as("sha"), col("n").as("na")), "d1")
      .join(docSh.select(col(idCol).as("d2"), col("sh").as("shb"), col("n").as("nb")), "d2")
      .withColumn("inter",
        GraftFunctions.sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("d1", "d2", "jaccard")
  }

  /** Asymmetric near-CONTAINMENT pairs: (d1, d2) with
    * |Sh(d1) ∩ Sh(d2)| / |Sh(d1)| >= `minContainment` — d1's shingle set
    * is (nearly) inside d2's. Catches documents quoted or embedded in
    * larger ones, which symmetric Jaccard structurally misses: a
    * 50-shingle doc fully contained in a 500-shingle doc has Jaccard
    * ~0.1 but containment 1.0.
    *
    * Prefix filtering adapts to the asymmetry: only the CONTAINED side
    * carries a prefix (first n - ceil(t·n) + 1 shingles in ascending
    * global-df order — if a true pair had no common shingle there, the
    * overlap could not reach ceil(t·n)); the container side joins with
    * its full ranked postings, since no upper length bound exists. The
    * length (nb >= ceil(t·na)) and first-match position
    * (1 + min(na-rna, nb-rnb) >= ceil(t·na)) prunes are lossless by the
    * same consistent-global-order argument as [[ngramJaccard]]. */
  /** Fuzzy record linkage at edit distance 1 via deletion-neighborhood
    * blocking (the FastSS / SymSpell scheme): two strings are within
    * Levenshtein distance 1 iff their deletion neighborhoods — the
    * string itself plus every single-character deletion — intersect, so
    * candidate generation is an EQUI-join on neighborhood variants
    * (never a cross join or a prefix scan), and `levenshtein` verifies
    * the survivors exactly. This is the entity-matching face of dedup:
    * typo'd names/ids that content hashing can never unify.
    *
    * Scale shape: the variant explode is length+1 rows per record
    * (in-row, map-side); the join key is a short string; verification
    * runs only on candidates. At larger d the neighborhood grows
    * O(len^d) — d = 1 is the deployed sweet spot (SymSpell's default),
    * and higher distances usually want q-gram filtering instead.
    * Output: (id1, id2, s1, s2, dist) with id1 < id2. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val v = graft.functions.SafeExplode.explodeSelect(
      widen(df).select(col(idCol).as("fid"), col(strCol).as("fs")),
      Seq(col("fid"), col("fs")),
      expr("concat(array(fs), transform(sequence(1, length(fs)), " +
        "i -> concat(left(fs, i-1), substring(fs, i+1))))"),
      "variant")
    val cand = v.select(col("fid").as("id1"), col("fs").as("s1"), col("variant"))
      .join(v.select(col("fid").as("id2"), col("fs").as("s2"), col("variant")),
        Seq("variant"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "s1", "s2")
      .distinct()
    cand.withColumn("dist", levenshtein(col("s1"), col("s2")).cast("long"))
      .filter(col("dist") <= 1)
  }

  def containment(df0: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, minContainment: Double = 0.8): DataFrame = {
    val df = widen(df0)
    val t = minContainment
    val docSh = hashedShingleSets(df, idCol, textCol, k)
    // ranked is consumed by both join sides (prefix slice on a, full on
    // b) — exchange reuse shares the window shuffle; do not cache (see
    // ngramJaccard's note).
    val ranked = rankedPostings(docSh, idCol, t, prefixOnly = false)
    val prefixA = ranked.filter(col("rn") <= col("n") - ceilSafe(col("n") * t) + 1)
    val cand = prefixA.as("a").hint("shuffle_hash").join(ranked.as("b"),
        col("a.s") === col("b.s") && col(s"a.$idCol") =!= col(s"b.$idCol") &&
          col("b.n") >= ceilSafe(col("a.n") * t) &&
          (lit(1L) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))) >=
            ceilSafe(col("a.n") * t))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct() // rebalances skewed join output (see ngramJaccard)
    cand
      .join(docSh.select(col(idCol).as("d1"), col("sh").as("sha"), col("n").as("na")), "d1")
      .join(docSh.select(col(idCol).as("d2"), col("sh").as("shb")), "d2")
      .withColumn("inter",
        GraftFunctions.sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .filter(col("containment") >= minContainment)
      .select("d1", "d2", "containment")
  }

  /** Embedding near-duplicate pairs: cosine >= `minCosine`, blocked by
    * `blockCol` (a coarse cluster id — here the label column plays the
    * IVF-centroid role; at scale substitute k-means assignments). Cosine is
    * a sequential double fold (deterministic order), rounded to 6 dp so the
    * value is reproducible across engines and partitionings.
    *
    * SCALE RULE (measured at the sf1 anchor, BASELINE.md): within-block
    * pairs are quadratic in block SIZE, so the blocking granularity must
    * grow with the corpus — hold per-block cardinality roughly constant
    * (k-means blocks with k ∝ N, re-trained as the corpus grows). A
    * fixed-cardinality blockCol (like a label) is only safe when its
    * block sizes are bounded. */
  def embeddingNearDup(df0: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, minCosine: Double = 0.45): DataFrame = {
    val df = widen(df0)
    val pairs = df.as("a").join(df.as("b"),
      col(s"a.$blockCol") === col(s"b.$blockCol") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
    pairs.select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        Vectors.cosineNative(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Deterministic blocking granularity for the quadratic-within-block
    * dedup stages: k = max(kMin, ceil(√N)). Derived from a COUNT (one
    * cheap metadata-or-scan job), not a sample or a config constant, so
    * the model is oracle-replayable — an independent engine recomputes
    * the identical k from the same table.
    *
    * Why √N and not k ∝ N: blocking has TWO corpus-sized terms — the
    * per-row assignment argmax O(N·k) and the within-block pair stage
    * O(k·(N/k)²) = O(N²/k). A fixed k leaves the pair term quadratic
    * (measured at the sf1 anchor: semanticDedup k=4 ran 16.7× for 10×
    * data); k ∝ N fixes the pair term but makes the ASSIGNMENT term
    * quadratic instead — and the collected centroid model grows with the
    * corpus (10⁹ vectors → ~16M centroids ≈ 4 GB of plan literal: driver
    * OOM, broadcast blowup). k = √N balances the two at O(N^1.5) total
    * with a √N-sized model that stays model-budget at any realistic N
    * (10⁹ rows → ~32k centroids ≈ 8 MB — the size every IVF index ships);
    * past that, a hierarchical (two-level) quantizer is the next tier. */
  def autoK(df: DataFrame, kMin: Int = 4): Int = {
    require(kMin >= 1, s"autoK kMin must be >= 1: $kMin")
    val n = df.count()
    math.max(kMin.toLong, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
  }

  /** [[embeddingNearDup]] with a TRAINED blocking column: deterministic
    * k-means ([[Vectors.kmeansAssign]]) plays the IVF-coarse-quantizer
    * role, with k defaulting to [[autoK]] (k = √N) so the assignment and
    * within-block pair stages stay balanced as the corpus grows. `k <= 0`
    * means auto; pass an explicit k only to pin a model (e.g. for a
    * value-stable oracle gate). Cached once: the assignment (the corpus
    * scan + argmax projection) feeds both sides of the pair self-join —
    * uncached it would execute twice per action. */
  def embeddingNearDupKmeans(df0: DataFrame, idCol: String, vecCol: String,
                             minCosine: Double = 0.45, k: Int = 0,
                             iters: Int = 2): DataFrame = {
    val kk = if (k <= 0) autoK(df0) else k
    val cents = Vectors.kmeansTrain(df0, idCol, vecCol, kk, iters)
    // assignment is a pure in-row argmax against the broadcast-literal
    // model — NOT a join back onto the corpus; the pair equi-join below
    // is the only shuffle this operator pays
    // cache lifetime: session end or catalog.clearCache() — the returned
    // frame is lazy, so the cache cannot be unpersisted here without
    // un-caching the very self-join it exists for (same convention as
    // semanticDedup's assignment cache, documented there)
    val assigned = widen(df0).withColumn("cluster_id",
      Vectors.nearestCidExpr(col(vecCol), cents))
      .cache()
    embeddingNearDup(assigned, idCol, vecCol, "cluster_id", minCosine)
  }

  /** LSH index health report: per band, the bucket count, occupancy, the
    * largest bucket, and the candidate-pair volume the band generates
    * (sum over buckets of c·(c−1)/2). THE tuning metric for the
    * bands/rows trade at scale: candidate volume is the actual cost of
    * the downstream verify join, and a hot bucket here is tomorrow's
    * skewed task — operators read this report before running the O(n²)-
    * risk stage, exactly like a query planner reads cardinality stats.
    * One banding pass + two keyed aggregates; nothing corpus-sized
    * leaves the executors. Output: (band, n_buckets, n_docs, max_bucket,
    * n_cand_pairs). */
  def lshBandStats(df0: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a ragged split " +
        "would band on empty/partial slices and report garbage candidate volumes")
    val sig = minhashSignatureArray(df0, idCol, textCol, numHashes)
    val rows = numHashes / bands
    val band = sig.select(col(idCol),
        explode_outer(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.cast("long").as("band"),
            md5(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))).as("bh"))))
          .as("bb"))
      .filter(col("bb").isNotNull) // outer+filter: see SafeExplode
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
    band.groupBy("band", "bh").agg(count(lit(1)).as("c"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_docs"),
        max(col("c")).as("max_bucket"),
        // c·(c−1) is even; shiftright keeps the arithmetic in longs
        // (Spark's `/` would widen to double)
        sum(shiftright(col("c") * (col("c") - 1), 1)).as("n_cand_pairs"))
  }

  /** CCNet-style common-segment removal: documents are cut into
    * non-overlapping `segLen`-token segments; any segment whose hash
    * occurs in >= `minDocs` DISTINCT documents is boilerplate and is
    * dropped from every document that carries it; the survivors are
    * re-joined in order. This is the line/paragraph-level dedup pass web
    * curation runs before document-level near-dup (boilerplate headers,
    * navigation, license blocks repeat across pages that are otherwise
    * distinct documents).
    *
    * Scale shape: segmenting is in-row (`transform` over the token
    * array — no explode of text); the corpus-wide frequency count and
    * the dropped-index lookup shuffle only (id, idx, 32-char hash)
    * triples, never segment text; the rebuild is an in-row `filter` over
    * the original segment array keyed by the small per-doc dropped-index
    * set. No assumption that the duplicated-segment set fits in memory —
    * everything is equi-joins.
    *
    * Output: (idCol, n_segments, n_kept, kept_text). */
  def commonSegmentRemoval(df0: DataFrame, idCol: String, textCol: String,
                           segLen: Int = 10, minDocs: Int = 2): DataFrame = {
    require(segLen > 0, s"segLen must be positive, got $segLen")
    require(minDocs >= 2, s"minDocs < 2 would drop every segment, got $minDocs")
    val df = widen(df0)
    val segs = df.select(col(idCol), tokens(col(textCol)).as("t"))
      .select(col(idCol),
        // sequence(0, n-1) is DESCENDING for n = 0 (step defaults to -1),
        // so empty docs need the explicit empty-array branch
        when(size(col("t")) > 0,
          transform(
            sequence(lit(0), ceil(size(col("t")).cast("double") / segLen).cast("int") - 1),
            i => struct(i.cast("long").as("idx"),
              concat_ws(" ", slice(col("t"), i * segLen + 1, lit(segLen))).as("txt"))))
          .otherwise(array().cast("array<struct<idx:bigint,txt:string>>"))
          .as("segs"))
    val ex = graft.functions.SafeExplode
      .explodeSelect(segs, Seq(col(idCol)), col("segs"), "sg")
      .select(col(idCol), col("sg.idx").as("idx"), md5(col("sg.txt")).as("h"))
    // distinct (doc, hash) first so a segment repeated WITHIN one doc
    // counts that doc once toward the cross-document threshold
    val dup = ex.select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val dropped = ex.join(dup, "h")
      .groupBy(col(idCol)).agg(collect_set(col("idx")).as("dropped"))
    segs.join(dropped, Seq(idCol), "left")
      .select(col(idCol),
        size(col("segs")).cast("long").as("n_segments"),
        filter(col("segs"), s =>
          !coalesce(array_contains(col("dropped"), s.getField("idx")), lit(false)))
          .as("kept"))
      .select(col(idCol), col("n_segments"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", transform(col("kept"), s => s.getField("txt"))).as("kept_text"))
  }

  /** Exact substring dedup (Lee et al. 2022, arXiv:2107.06499 §ExactSubstr)
    * at token granularity via the n-gram formulation: any repeated span of
    * >= `n` tokens contains a repeated n-gram at every offset, and a
    * repeated n-gram IS a repeated n-token span — so removing every token
    * covered by an n-gram whose TOTAL corpus occurrence count exceeds 1
    * (within-doc repeats included, as in the paper) removes exactly the
    * corpus-wide repeated >= n-token spans. The paper builds a suffix
    * array; on Spark the equivalent is keyed shuffles that shard
    * naturally:
    *  - n-gram hashing is IN-ROW (`transform` over the token array);
    *  - the corpus-wide occurrence count is a window over the gram hash
    *    — ONE shuffle of (id, pos, hash) triples, never text, and the
    *    gram stage is computed once (a groupBy+join-back form would
    *    plan it as two subtrees);
    *  - coverage + rebuild are in-row folds over the per-doc start list
    *    (`filter((tok, i) => !exists(starts, ...))` — no token explode).
    * No assumption that the repeated-gram set fits in memory.
    *
    * Output: (idCol, n_tokens, n_removed, kept_text) — kept_text is the
    * surviving tokens re-joined (normalized token stream, as with
    * [[commonSegmentRemoval]]).
    *
    * `skewSafe` selects the candidate-stage physical shape (results are
    * hash-identical; spec-asserted on the gate corpus):
    *  - false (default): corpus-wide gram counts ride a WINDOW over the
    *    gram key — one shuffle, one physical subtree for the md5 gram
    *    fan-out. Fastest when gram frequencies are benign, but AQE
    *    cannot split window partitions, so a pathologically hot gram
    *    (boilerplate repeated millions of times) lands whole in one task.
    *  - true: two-level count AGGREGATE + semi-join back — partial
    *    aggregation absorbs hot grams map-side and AQE can split both
    *    the aggregate and the join, at the cost of materializing the
    *    gram fan-out once (persist) to keep it a single computation.
    *    Choose this on boilerplate-heavy corpora (or pre-strip with
    *    [[commonSegmentRemoval]]). */
  def exactSubstringDedup(df0: DataFrame, idCol: String, textCol: String,
                          n: Int = 50, skewSafe: Boolean = false): DataFrame =
    dedupFromStarts(substringStarts(df0, idCol, textCol, n, skewSafe), idCol, n)

  /** Coverage fold + rebuild shared by the ExactSubstr variants: from
    * (idCol, t, ss) — token array + sorted repeated-gram start
    * positions — to (idCol, n_tokens, n_removed, kept_text). */
  private def dedupFromStarts(withStarts: DataFrame, idCol: String,
                              n: Int): DataFrame =
    withStarts
      // token at 1-based q is covered iff some repeated gram starts in
      // (q-n, q] — i.e. exists s: s <= q < s + n
      .withColumn("kept", filter(col("t"),
        (tok, i) => !exists(col("ss"),
          s => s <= i + 1 && i + 1 < s + n)))
      .select(col(idCol),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("kept_text"))

  /** Incremental ExactSubstr — the INGEST-time variant (the
    * [[minhashLshAgainst]] shape for substring dedup): rebuild only the
    * BATCH documents, removing tokens covered by an n-gram whose total
    * occurrence count across batch + corpus exceeds 1 — exactly the
    * "repeated" definition [[exactSubstringDedup]] applies to the union,
    * without rescanning or rebuilding the corpus per ingest.
    *
    * Scale shape: the corpus contributes ONE map-side-combined gram-count
    * aggregate (shuffles partial counts per distinct gram, never (id,
    * pos) rows — and at real scale that aggregate is computed once and
    * STORED as the gram index, so an ingest pays batch-sized work plus
    * one join against it). The batch gram frame is persisted — it feeds
    * both its own count and the coverage semi-join, and the persist
    * keeps the md5 fan-out a single physical computation (the
    * double-subtree trap substringStarts' window avoids). */
  def exactSubstringDedupAgainst(corpus: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int = 50): DataFrame = {
    require(n > 0, s"span length must be positive, got $n")
    def gramExplode(base: DataFrame, keep: Seq[Column]): DataFrame =
      graft.functions.SafeExplode.explodeSelect(
          base.select(keep :+ (when(size(col("t")) >= n,
            transform(sequence(lit(1), size(col("t")) - n + 1),
              p => struct(p.as("pos"),
                md5(concat_ws(" ", slice(col("t"), p, lit(n)))).as("m"))))
            .otherwise(array().cast("array<struct<pos:int,m:string>>"))
            .as("gs")): _*),
          keep, col("gs"), "g")
        .select(keep ++ Seq(col("g.pos").as("pos"),
          conv(substring(col("g.m"), 1, 15), 16, 10).cast("long").as("h1"),
          conv(substring(col("g.m"), 16, 15), 16, 10).cast("long").as("h2")): _*)
    val bBase = widen(batch).select(col(idCol), tokens(col(textCol)).as("t"))
    val cBase = widen(corpus).select(tokens(col(textCol)).as("t"))
    val bg = gramExplode(bBase, Seq(col(idCol))).persist()
    val cCnt = gramExplode(cBase, Seq.empty)
      .groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("cc"))
    val bCnt = bg.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("bc"))
    val dup = bCnt.join(cCnt, Seq("h1", "h2"), "left")
      .filter(col("bc") + coalesce(col("cc"), lit(0L)) > 1)
      .select(col("h1"), col("h2"))
    val starts = bg.join(dup, Seq("h1", "h2"), "leftsemi")
      .groupBy(col(idCol)).agg(sort_array(collect_set(col("pos"))).as("starts"))
    val withStarts = bBase.join(starts, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        coalesce(col("starts"), array().cast("array<int>")).as("ss"))
    dedupFromStarts(withStarts, idCol, n)
  }

  /** Shared candidate stage of the ExactSubstr family: per doc, the token
    * array `t` plus the SORTED 1-based start positions `ss` of every
    * corpus-wide repeated n-gram in it (empty array when none).
    *
    * The corpus-wide occurrence count rides a WINDOW over the gram hash
    * rather than a groupBy+join-back: the earlier `ex JOIN dup` form
    * planned the md5 gram fan-out as TWO physical subtrees (one per join
    * branch) — the entire slice+md5 stage computed twice per action
    * (measured 2× the stage cost on every unpruned consumer). The window
    * shuffles the same (id, pos, key) tuples once, keyed exactly like
    * the join's build side would have been. Skew caveat, honestly: AQE's
    * skew mitigation splits JOIN and AGGREGATE partitions only, never
    * window partitions, so a pathologically hot gram (boilerplate
    * repeated millions of times) lands whole in one task under this
    * form — whereas a two-level count aggregate is splittable. That
    * aggregate shape is available via `skewSafe = true`: it persists the
    * gram fan-out (keeping it ONE physical computation — the property
    * the unpersisted join-back form lost, measured 2× stage cost) and
    * counts via groupBy + leftsemi join-back, both AQE-splittable. The
    * doc-keyed aggregate after either branch is unchanged. */
  private[graft] def substringStarts(df0: DataFrame, idCol: String, textCol: String,
                              n: Int, skewSafe: Boolean = false): DataFrame = {
    require(n > 0, s"span length must be positive, got $n")
    val df = widen(df0)
    val base = df.select(col(idCol), tokens(col(textCol)).as("t"))
    // 120-bit gram keys — TWO longs from md5 hex halves (chars 1-15 and
    // 16-30). ExactSubstr (Lee et al.) is an EXACT algorithm: the 60-bit
    // shingleHash discipline the approximate operators use would reach
    // its birthday bound near ~1.5B grams — well inside a 100 TB corpus
    // — and a collision falsely marks two distinct n-grams as repeated,
    // silently deleting non-duplicate spans. At 120 bits the expected
    // collision count stays <<1 past 10^15 grams. md5 is computed ONCE
    // per gram (the hex rides the map-side explode; the longs are
    // projected out before the shuffle, which carries fixed-width ints,
    // not 32-char hex strings). The key never surfaces in output, so
    // oracles keep joining on gram text with identical results.
    val grams = base.select(col(idCol),
      when(size(col("t")) >= n,
        transform(sequence(lit(1), size(col("t")) - n + 1),
          p => struct(p.as("pos"),
            md5(concat_ws(" ", slice(col("t"), p, lit(n)))).as("m"))))
        .otherwise(array().cast("array<struct<pos:int,m:string>>"))
        .as("gs"))
    // explode_outer + null-filter, NOT explode: see SafeExplode — the
    // inferred size()>0 filter would re-evaluate the whole gram fan-out
    // (with the tokenize regex inlined per element) below the Generate.
    val ex = graft.functions.SafeExplode
      .explodeSelect(grams, Seq(col(idCol)), col("gs"), "g")
      .select(col(idCol), col("g.pos").as("pos"),
        conv(substring(col("g.m"), 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(col("g.m"), 16, 15), 16, 10).cast("long").as("h2"))
    // total occurrences, NOT distinct docs: a passage repeated inside one
    // document is a repeated span too (Lee et al. remove those as well)
    val starts = if (skewSafe) {
      val exP = ex.persist()
      val dup = exP.groupBy(col("h1"), col("h2"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .select(col("h1"), col("h2"))
      exP.join(dup, Seq("h1", "h2"), "leftsemi")
        .groupBy(col(idCol)).agg(sort_array(collect_set(col("pos"))).as("starts"))
    } else ex
      .withColumn("c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")))
      .filter(col("c") > 1)
      .groupBy(col(idCol)).agg(sort_array(collect_set(col("pos"))).as("starts"))
    base.join(starts, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        coalesce(col("starts"), array().cast("array<int>")).as("ss"))
  }

  /** [[exactSubstringDedup]] with the doc-drop policy knob from Lee et
    * al.'s deployed tool: a document whose duplicate-token coverage
    * reaches `dropPct` percent dies whole (kept_text = "", every token
    * counted removed) instead of being stitched back together from the
    * fragments between repeated spans — a 90%-duplicate doc's survivors
    * are rarely coherent text. The threshold compares in exact integer
    * arithmetic (`n_removed * 100 >= dropPct * n_tokens`), so the
    * decision is partitioning- and engine-independent; empty docs are
    * never dropped (nothing was removed from them).
    *
    * Output: (idCol, n_tokens, n_removed, dropped, kept_text) — one row
    * per input doc, `dropped` marking the policy kills. */
  def exactSubstringDedupPolicy(df0: DataFrame, idCol: String, textCol: String,
                                n: Int = 50, dropPct: Int = 80): DataFrame = {
    require(dropPct >= 0 && dropPct <= 100,
      s"dropPct must be a percentage in [0, 100], got $dropPct")
    val raw = exactSubstringDedup(df0, idCol, textCol, n)
    raw
      .withColumn("dropped",
        col("n_tokens") > 0 &&
          col("n_removed") * 100 >= lit(dropPct.toLong) * col("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        when(col("dropped"), col("n_tokens")).otherwise(col("n_removed"))
          .as("n_removed"),
        col("dropped"),
        when(col("dropped"), lit("")).otherwise(col("kept_text"))
          .as("kept_text"))
  }

  /** Maximal repeated spans per document (the other deployed ExactSubstr
    * variant): the per-token coverage intervals of repeated n-grams
    * ([s, s+n-1] per start) merged into maximal contiguous spans — the
    * span inventory a user inspects (span length distribution, worst
    * offenders) before picking `n` or a drop threshold. The merge is
    * in-row over the sorted start list: every interval is n wide, so
    * span ends are monotone and a start opens a NEW span iff it exceeds
    * its predecessor by more than n; each span then closes at the last
    * start before the next opener. Two O(|starts|) array filters zipped
    * pairwise — NOT a fold that rebuilds the accumulator array per
    * element (O(|starts|²) copying on a heavily-duplicated doc), and
    * each filter is referenced exactly once so projection collapse
    * cannot duplicate it into a per-element lambda. No token explode,
    * no extra shuffle beyond the shared candidate stage (whose unpruned
    * cost dominates this query end-to-end — see substringStarts).
    *
    * Output: (idCol, span_start, span_end, n_span_tokens, span_text) —
    * one row per maximal span (docs without repeats emit nothing),
    * positions 1-based inclusive. */
  def substringSpans(df0: DataFrame, idCol: String, textCol: String,
                     n: Int = 50): DataFrame = {
    // openers/closers are each referenced EXACTLY once (zip_with), so
    // Catalyst's projection collapse cannot duplicate the O(|ss|) filter
    // into a per-element lambda (which would be O(|ss|²) per row again,
    // from the other direction). sequence(1, 0) is DESCENDING — the
    // outer when() guards the no-repeats case.
    def spansOf(ss: Column): Column = {
      val idxs = sequence(lit(1), size(ss))
      val opens = filter(idxs, i =>
        when(i === 1, lit(true))
          .otherwise(element_at(ss, i) > element_at(ss, i - 1) + n))
      val closes = filter(idxs, i =>
        when(i === size(ss), lit(true))
          .otherwise(element_at(ss, i + 1) > element_at(ss, i) + n))
      zip_with(opens, closes, (o, c) =>
        struct(element_at(ss, o).as("st"),
          (element_at(ss, c) + n - 1).as("en")))
    }
    substringStarts(df0, idCol, textCol, n)
      .select(col(idCol), col("t"),
        when(size(col("ss")) > 0, spansOf(col("ss")))
          .otherwise(array().cast("array<struct<st:int,en:int>>"))
          .as("spans"))
      .select(col(idCol), col("t"), explode_outer(col("spans")).as("sp"))
      .filter(col("sp").isNotNull) // outer+filter: see SafeExplode
      .select(col(idCol),
        col("sp.st").as("span_start"),
        col("sp.en").as("span_end"),
        (col("sp.en") - col("sp.st") + 1).cast("long").as("n_span_tokens"),
        concat_ws(" ",
          slice(col("t"), col("sp.st"), col("sp.en") - col("sp.st") + 1))
          .as("span_text"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup over
    * an embedding column — k-means clusters the corpus, then a vector is
    * dropped iff some LOWER-id vector in the SAME cluster has cosine >=
    * `tau` (near-identical meaning, different surface form). Pairwise
    * comparison happens only within a cluster: k grows with the corpus so
    * the per-cluster candidate block stays bounded — the same
    * blocked-candidate discipline as every other operator here (the paper
    * runs exactly this shape at web scale). MEASURED at the sf1 anchor
    * (BASELINE.md): holding k=4 fixed made the within-cluster pair stage
    * 16.7× for 10× data, while k=40 on the same data ran 4.1× faster —
    * k ∝ N is the scale knob, not a tuning nicety.
    *
    * The quantizer is the deterministic [[Vectors.kmeansTrain]] (decimal-
    * exact means, 6-dp cosine argmax), so the WHOLE operator — model,
    * assignment, and keep/drop decisions — is reproducible across engines
    * and partitionings.
    *
    * `k <= 0` (the DEFAULT) derives k from the corpus via [[autoK]] —
    * the scale-safe path; pass an explicit k only to pin a model for a
    * value-stable oracle gate.
    *
    * Output: (idCol, cluster_id, kept) — one row per input vector. */
  def semanticDedup(df0: DataFrame, idCol: String, vecCol: String,
                    k: Int = 0, iters: Int = 2, tau: Double = 0.45): DataFrame = {
    val kk = if (k <= 0) autoK(df0) else k
    val cents = Vectors.kmeansTrain(df0, idCol, vecCol, kk, iters)
    // cached: the assignment projection feeds three consumers (both
    // self-join sides and the final output) — uncached it would run
    // three times per action. Cache lifetime: until session end or
    // catalog.clearCache(), as with hashedShingleSets. Assignment is a
    // pure in-row argmax against the broadcast-literal model — no join
    // back onto the corpus (the former kmeansAssign-join shape paid a
    // corpus-sized shuffle for what is a projection).
    val withC = widen(df0).select(col(idCol), col(vecCol).as("v"))
      .withColumn("cluster_id", Vectors.nearestCidExpr(col("v"), cents))
      .cache()
    val dropped = withC.select(col("cluster_id"), col(idCol).as("d1"), col("v").as("v1"))
      .join(withC.select(col("cluster_id"), col(idCol).as("d2"), col("v").as("v2")),
        "cluster_id")
      .filter(col("d1") < col("d2"))
      .filter(Vectors.cosineNative(col("v1"), col("v2")) >= tau)
      .select(col("d2").as(idCol)).distinct()
      .withColumn("is_dropped", lit(true))
    withC.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"), col("is_dropped").isNull.as("kept"))
  }

  /** Golden-record survivorship — the field-level merge step after
    * entity clustering (the MDM "survivorship" contract; contrast
    * `d_cluster_best`, which keeps one whole ROW per cluster): per
    * cluster, each `majorityCols` field takes the most frequent value
    * (ties to the minimum value — deterministic at any partitioning;
    * null values vote like any other group), each `maxCols` field takes
    * the cluster maximum, plus member count. One row per cluster.
    *
    * Scale shape: one keyed join (records ⋈ cluster labels) + one
    * grouped aggregate per max/count field set + one (cluster, value)
    * count + WindowGroupLimit argmax per majority field — everything
    * keyed on cluster ids, nothing pairwise, no driver state. At 100 TB
    * the cluster labels come from [[ConnectedComponents.components]]
    * over the blocking-join pair evidence, exactly as gated here. */
  def goldenRecord(df: DataFrame, idCol: String, clusters: DataFrame,
                   clusterCol: String, majorityCols: Seq[String],
                   maxCols: Seq[String]): DataFrame = {
    require(majorityCols.nonEmpty || maxCols.nonEmpty,
      "at least one survivorship field required")
    val allCols = df.columns ++ clusters.columns
    for (c <- Seq("__gr_cnt", "__gr_rn"))
      require(!allCols.contains(c), s"column '$c' collides with an internal name")
    // project to the survivorship fields BEFORE caching: the cluster
    // join would otherwise materialize every df column (at corpus scale,
    // the text payload) for aggregates that read three small fields
    val needed = (idCol +: (majorityCols ++ maxCols)).distinct
    val joined = df.select(needed.map(col): _*)
      .join(clusters, Seq(idCol)).cache()
    val base = joined.groupBy(clusterCol)
      .agg(count(lit(1)).as("n_members"),
        maxCols.map(c => max(col(c)).as(s"${c}_max")): _*)
    val w = org.apache.spark.sql.expressions.Window
    val merged = majorityCols.foldLeft(base) { (acc, c) =>
      val argmax = w.partitionBy(clusterCol)
        .orderBy(col("__gr_cnt").desc, col(c).asc_nulls_first)
      val winner = joined.groupBy(col(clusterCol), col(c))
        .agg(count(lit(1)).as("__gr_cnt"))
        .withColumn("__gr_rn", row_number().over(argmax))
        .filter(col("__gr_rn") === 1)
        .select(col(clusterCol), col(c).as(s"${c}_golden"))
      acc.join(winner, clusterCol)
    }
    merged
  }
}
