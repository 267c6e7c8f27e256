package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.catalog.TableCatalog
import graft.formats.RowFormats
import graft.operators.{Decontamination, Sampling, TextAnalysis}

/** Machine-checked physical-plan shape for the scale claims the operator
  * Scaladocs make: where a doc says "broadcast", the plan must contain a
  * BroadcastHashJoin; where it says "zero exchanges", the plan must have
  * no Exchange. Guards against a Catalyst upgrade or stats change
  * silently degrading the 100 TB shape. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val docs = (1L to 200L)
    .map(i => (i, s"alpha w$i beta w${i + 1} gamma w${i + 2} delta epsilon zeta", s"src${i % 5}"))
    .toDF("doc_id", "text", "source")

  test("decontamination joins the eval shingle set as a broadcast (map-side vs corpus)") {
    val plan = physicalPlan(Decontamination.flagContaminated(
      docs, "doc_id", "text", evalPred = col("doc_id") % 10 === 0))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("repetitionMetrics is exchange-free (per-doc metrics never shuffle gram rows)") {
    val plan = physicalPlan(TextAnalysis.repetitionMetrics(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"))
  }

  test("fingerprints is exchange-free (winnowing stays in-row)") {
    val plan = physicalPlan(TextAnalysis.fingerprints(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"))
  }

  test("temperatureSample touches the corpus with one broadcast-joined filtered pass") {
    val plan = physicalPlan(Sampling.temperatureSample(docs, "doc_id", "source"))
    assert(plan.contains("BroadcastHashJoin"))
    // the corpus side itself must not be exchanged for the rate join
    assert(!plan.contains("SortMergeJoin"))
  }

  test("hybridTopK joins the query postings as a broadcast (map-side vs corpus)") {
    val corpus = spark.range(1, 201).select(col("id").as("doc_id"),
      concat_ws(" ", lit("alpha"), col("id").cast("string"), lit("beta gamma delta epsilon")).as("text"),
      transform(sequence(lit(1), lit(8)), i => (col("id") % i).cast("float")).as("embedding"))
    val plan = physicalPlan(graft.operators.Similarity.hybridTopK(
      corpus, col("doc_id") % 50 === 0, "doc_id", "text", "embedding"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("kmeans assignment is a pure in-row projection — no Exchange, no join, at any k") {
    val vecs = spark.range(1, 101).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i => (col("id") % i).cast("float")).as("embedding"))
    val df = graft.operators.Vectors.kmeansAssign(
      vecs, "vec_id", "embedding", k = 2, iters = 1)
    val rows = df.collect() // drive the SAME QueryExecution the assertion reads
    assert(rows.length === 100)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "centroid assignment must not shuffle the corpus (k× vectors through a window Exchange)")
    assert(!plan.contains("Join"), "centroid model is a plan literal, not a joined frame")
  }

  test("ivf probe side is an in-row literal-model top-n (explode fan-out is nprobe×queries, not k×corpus)") {
    val vecs = spark.range(1, 101).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i => (col("id") % i).cast("float")).as("embedding"))
    val cents = (1L to 5L).map(c =>
      (c, (1 to 8).map(d => (c % d).toFloat).toArray)).toSeq
    val probes = vecs.select(col("vec_id"),
      explode(graft.operators.Vectors.nearestCidsExpr(
        col("embedding"), cents, 2)).as("cid"))
    val plan = physicalPlan(probes)
    assert(!plan.contains("Exchange") && !plan.contains("Join"))
    assert(plan.contains("Generate")) // the nprobe explode, nothing wider
  }

  test("ivfTopKWithCentroids: corpus assignment subplan has no window over nid and the probe join broadcasts") {
    import spark.implicits._
    val vecs = spark.range(1, 101).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(8)), i => (col("id") % i).cast("float")).as("embedding"))
    val cents = (1L to 5L).map(c =>
      (c, (1 to 8).map(d => (c % d).toFloat).toArray)).toDF("cid", "cv")
    val df = graft.operators.Similarity.ivfTopKWithCentroids(
      vecs, vecs.filter(col("vec_id") % 20 === 0), cents,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val rows = df.collect() // drive the SAME QueryExecution the assertion reads
    assert(rows.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // the only permissible window is the final per-QUERY top-k rerank;
    // a window partitioned by the corpus id is the k×corpus Exchange
    assert(!"windowspecdefinition\\(nid".r.findFirstIn(plan).isDefined,
      "no per-corpus-row window — assignment must be in-row")
    assert(plan.contains("BroadcastHashJoin"), "probe join must broadcast the probe side")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("lshBuckets is a single map-side projection (no shuffle, no driver job)") {
    // range-based source: a Seq-backed LocalRelation would be constant-
    // folded straight to LocalTableScan (the expression evaluates at
    // optimization time), hiding the projection this test asserts on.
    val vecs = spark.range(1, 51).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        i => (col("id") % i).cast("float")).as("embedding"))
    val plan = physicalPlan(
      graft.operators.Similarity.lshBuckets(vecs, "vec_id", "embedding"))
    assert(!plan.contains("Exchange"))
    assert(plan.contains("graft_hyperplane_bucket"))
  }

  test("minhash signatures are exchange-free (in-row array_min folds)") {
    val plan = physicalPlan(
      graft.operators.Dedup.minhashSignatureArray(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"))
  }

  test("simhash is exchange-free (in-row per-bit folds)") {
    val plan = physicalPlan(
      graft.operators.Dedup.simhash(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"))
  }

  test("bm25TopK: broadcast stats row + TakeOrdered top-k, no corpus shuffle join") {
    val corpus = spark.range(1, 201).select(col("id").as("doc_id"),
      concat_ws(" ", lit("alpha"), col("id").cast("string"),
        lit("beta gamma delta")).as("text"))
    val plan = physicalPlan(graft.operators.Similarity.bm25TopK(
      corpus, "doc_id", "text", terms = Seq("alpha", "beta")))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  test("stream-static enrichment broadcasts the dimension (no stream-side shuffle for the join)") {
    val events = spark.range(1, 201).select(
      (lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).as("ts"),
      col("id").as("user_id"), (col("id") % 7.0).as("value"))
    val dim = spark.range(1, 51).select(col("id").as("c_custkey"),
      concat(lit("seg"), (col("id") % 3).cast("string")).as("c_mktsegment"))
    val plan = physicalPlan(
      graft.streaming.EventStream.enrichedWindowedCounts(events, dim))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("peakConcurrency's day-start base is a delta aggregate, not a days×sessions nested loop") {
    val ts = (h: Long) => new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + h * 3600 * 1000L)
    val sessions = (1L to 50L)
      .map(i => (i, ts(i), ts(i + 30))) // 30h sessions straddle day starts
      .toDF("user_id", "session_start", "session_end")
    val df = graft.queries.CoreQueries.peakConcurrency(sessions)
    val rows = df.collect() // drive the SAME QueryExecution the assertion reads
    assert(rows.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), "base must not plan as a BNLJ")
    // semantic anchor: with 30h sessions starting hourly, day 2 opens
    // with sessions 1..24 minus those ended before hour 24 (+30h ends ⇒
    // none) — base correctness is fully oracle-gated; here we just pin
    // that straddlers are counted at all
    assert(rows.map(_.getAs[Long]("peak")).max >= 24L)
  }

  test("fingerprintOverlap's maxDf cap drops a boilerplate fingerprint shared by half the corpus") {
    // half the docs open with the same 7-token boilerplate run (>=
    // window+k-1 = 6 tokens guarantees a shared winnowing fingerprint);
    // unguarded, that fingerprint alone would contribute ~50² candidate
    // pairs to the self-join
    val boiler = (1 to 7).map(i => s"b$i").mkString(" ")
    val hotDocs = (1 to 100).map { i =>
      val filler = (1 to 12).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, if (i % 2 == 0) s"$boiler $filler" else filler)
    }.toDF("doc_id", "text")
    val full = TextAnalysis.fingerprintPostings(
      hotDocs, "doc_id", "text", k = 3, window = 4, maxDf = Long.MaxValue)
    val hotDf = full.groupBy("fp").count().agg(max("count")).as[Long].head()
    assert(hotDf >= 50L, "planted boilerplate fingerprint must be corpus-hot")
    val capped = TextAnalysis.fingerprintPostings(
      hotDocs, "doc_id", "text", k = 3, window = 4, maxDf = 10L)
    val cappedMax = capped.groupBy("fp").count().agg(max("count")).as[Long].head()
    assert(cappedMax <= 10L, "no posting list may exceed maxDf after the cap")
    // candidate volume Σ df(fp)² is now bounded by maxDf · |postings|;
    // with the boilerplate fps gone the overlap join yields no pairs
    // among the planted docs (their filler is unique)
    assert(TextAnalysis.fingerprintOverlap(
      hotDocs, "doc_id", "text", maxDf = 10L).isEmpty)
  }

  test("hashedCharNgramFeatures is exchange-free (gram hash + bucket counts fold in-row)") {
    val df = graft.operators.Classifier.hashedCharNgramFeatures(
      docs, "doc_id", "text",
      keep = Seq((col("doc_id") % 2).cast("double").as("y")))
    val plan = physicalPlan(df)
    assert(!plan.contains("Exchange"), "feature extraction must not shuffle the corpus")
    assert(!plan.contains("Generate"), "no explode may survive the in-row fold")
  }

  test("logregScore is exchange-free (scoring under a trained model is a pure scan)") {
    val feats = docs.select(col("doc_id"),
      array(lit(1.0), (col("doc_id") % 7).cast("double")).as("x"),
      (col("doc_id") % 2).cast("double").as("y"))
    val plan = physicalPlan(graft.operators.Classifier.logregScore(
      feats, "doc_id", "x", "y", Seq(0.1, -0.2)))
    assert(!plan.contains("Exchange"))
  }

  test("bpeEncode is exchange-free (tokenizer application is a pure scan)") {
    val plan = physicalPlan(TextAnalysis.bpeEncode(
      docs, "doc_id", "text", Seq("a" -> "l", "al" -> "p")))
    assert(!plan.contains("Exchange"))
  }

  test("exactSubstringDedup is equi-joins only (no nested loop, no cartesian) and grams stay in-row") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val many = (1L to 100L).map(i =>
      (i, s"${(1 to 12).map(j => s"u${i}x$j").mkString(" ")} ${if (i % 3 == 0) passage else ""}"))
      .toDF("doc_id", "text")
    val df = graft.operators.Dedup.exactSubstringDedup(many, "doc_id", "text", n = 8)
    val rows = df.collect() // drive the SAME QueryExecution the assertion reads
    assert(rows.length === 100)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      "substring dedup must stay keyed equi-joins at any corpus size")
  }

  test("substringSpans and the drop policy inherit the equi-joins-only candidate stage") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val many = (1L to 60L).map(i =>
      (i, s"${(1 to 12).map(j => s"u${i}x$j").mkString(" ")} ${if (i % 3 == 0) passage else ""}"))
      .toDF("doc_id", "text")
    for (df <- Seq(
      graft.operators.Dedup.substringSpans(many, "doc_id", "text", n = 8),
      graft.operators.Dedup.exactSubstringDedupPolicy(many, "doc_id", "text",
        n = 8, dropPct = 50))) {
      df.collect() // drive the SAME QueryExecution the assertion reads
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
        "policy variants must not change the join discipline")
      // the only Window is the gram-hash occurrence count shared with
      // exactSubstringDedup; span merging itself is an in-row zip
      assert("Window".r.findAllIn(plan.split("== Initial Plan ==").head)
        .size <= 1, "span merging must not add a window rank")
    }
  }

  test("noveltyScore never joins the exploded corpus back to itself") {
    val df = TextAnalysis.noveltyScore(docs, "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"))
    // the shingle-keyed aggregate feeds a doc-keyed aggregate; the only
    // join is doc-table vs per-doc counts — shingle-keyed joins are gone.
    // An adaptive plan prints Final AND Initial sections; count the
    // final one only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(finalPlan).size
    assert(joins === 1, s"exactly one doc-level join expected, saw $joins")
  }

  test("media decode pipelines are map-only around the codec seam (no Exchange)") {
    val media = docs.select(col("doc_id").as("media_id"),
      col("text").cast("binary").as("bytes"))
    val bmp = graft.operators.Multimodal.decodeBmp(
      graft.operators.Multimodal.encodeBmp(media, width = 4), bands = 4)
    val wav = graft.operators.Multimodal.decodeWav(
      graft.operators.Multimodal.encodeWav(media), segs = 4)
    val avi = graft.operators.Multimodal.decodeAvi(
      graft.operators.Multimodal.encodeAvi(media, width = 4, frameRows = 4), bands = 2)
    for (df <- Seq(bmp, wav, avi)) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "payload bytes must never cross a shuffle in the decode path")
    }
  }

  test("zOrderCluster is exactly one range exchange (the global-sort cost, nothing more)") {
    val df = spark.range(0, 1000).select(
      (col("id") % 32).as("x"), (col("id") / 32).as("y"))
    val plan = physicalPlan(graft.functions.Layout.zOrderCluster(
      df, Seq(col("x"), col("y")), bits = 8, numRanges = 4))
    assert("rangepartitioning".r.findAllIn(plan.toLowerCase).size === 1)
    assert(!plan.contains("hashpartitioning"))
  }

  test("explode stages never re-evaluate their generator in an inferred filter (SafeExplode guard)") {
    // InferFiltersFromGenerate + pushdown + projection collapse used to
    // substitute the whole gram fan-out (with the tokenize regex inlined
    // PER ARRAY ELEMENT) into a filter below each Generate — measured
    // 16x on the ExactSubstr gram stage. The tokenize regex appearing
    // exactly once per source branch in the optimized plan is the
    // machine check that the explode_outer rewrite holds.
    def regexCount(df: DataFrame): Int =
      "regexp_extract_all".r
        .findAllIn(df.queryExecution.optimizedPlan.toString).size
    // repartition barrier keeps ConvertToLocalRelation from folding the
    // projection into the local fixture (which would hide the regex)
    val d = docs.repartition(2)
    // spans has two deliberate branches (doc rebuild + gram window),
    // one tokenize each; the inferred-filter bug made it 3-4
    assert(regexCount(graft.operators.Dedup.substringSpans(d, "doc_id", "text", n = 3)) === 2)
    // one tf branch: document frequency is a window over the tf frame,
    // not a second tokenize branch; the bug added a second/third occurrence
    assert(regexCount(graft.operators.TextAnalysis.tfidfTopK(d, "doc_id", "text")) === 1)
    assert(regexCount(graft.operators.TextAnalysis.unigramSurprise(d, "doc_id", "text")) === 3) // tok + freq + total branches
    // minhash LSH: tokenize once per candidate-join side
    assert(regexCount(graft.operators.Dedup.minhashLsh(d, "doc_id", "text")) <= 4)
  }

  test("multiprobeLshTopK candidates come from an equi-join, never a nested loop") {
    val e = (1L to 60L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat))).toDF("vec_id", "embedding")
    val plan = physicalPlan(graft.operators.Similarity.multiprobeLshTopK(
      e, e.filter($"vec_id" % 10 === 0), "vec_id", "embedding", k = 3, planes = 4))
    assert(!plan.contains("NestedLoopJoin"),
      "probe fan-out must stay an equi-join on the bucket key")
  }

  test("bbitMinhash pairs come from the banding equi-join, never a nested loop") {
    val plan = physicalPlan(graft.operators.Dedup.bbitMinhash(docs, "doc_id", "text"))
    assert(!plan.contains("NestedLoopJoin"))
  }

  test("asofJoinForward is a single union-sort pass — no join operator at all") {
    val l = (1L to 50L).map(i => (i % 5, i * 100L, i)).toDF("k", "ts", "lid")
    val r = (1L to 30L).map(i => (i % 5, i * 150L, i)).toDF("k", "ts", "rid")
    val out = graft.operators.AsofJoin.asofJoinForward(
      l, r, Seq("k"), "ts", "ts", Seq("rid"))
    val plan = physicalPlan(out)
    assert(!plan.contains("Join"), "forward as-of must not plan any join")
    assert("hashpartitioning".r.findAllIn(plan.toLowerCase).size === 1,
      "one shuffle on the key carries both window passes")
    assert(out.count() === 50L)
  }

  test("asofJoinNearest: both direction carries share one shuffle, no join operator") {
    val l = (1L to 50L).map(i => (i % 5, i * 100L, i)).toDF("k", "ts", "lid")
    val r = (1L to 30L).map(i => (i % 5, i * 150L, i)).toDF("k", "ts", "rid")
    val out = graft.operators.AsofJoin.asofJoinNearest(
      l, r, Seq("k"), "ts", "ts", Seq("rid"))
    val plan = physicalPlan(out)
    assert(!plan.contains("Join"), "nearest as-of must not plan any join")
    assert("hashpartitioning".r.findAllIn(plan.toLowerCase).size === 1,
      "one shuffle on the key carries backward AND forward window passes")
    assert(out.count() === 50L)
    // nearest beats both directional answers: |Δ| <= each side's |Δ|
    val back = graft.operators.AsofJoin.asofJoin(
      l, r, Seq("k"), "ts", "ts", Seq("ts"))
    val fwd = graft.operators.AsofJoin.asofJoinForward(
      l, r, Seq("k"), "ts", "ts", Seq("ts"))
    val nearTs = graft.operators.AsofJoin.asofJoinNearest(
      l, r, Seq("k"), "ts", "ts", Seq("ts"))
    val joined = nearTs.select(col("k"), col("lid"), col("ts"),
        col("nearest_ts"))
      .join(back.select(col("lid"), col("asof_ts")), "lid")
      .join(fwd.select(col("lid"), col("next_ts")), "lid")
    val bad = joined.filter(
      (col("asof_ts").isNotNull &&
        abs(col("nearest_ts") - col("ts")) > abs(col("ts") - col("asof_ts"))) ||
      (col("next_ts").isNotNull &&
        abs(col("nearest_ts") - col("ts")) > abs(col("next_ts") - col("ts"))))
    assert(bad.count() === 0L)
  }

  test("StableIds.assign: no single-partition funnel; ids invariant to input partitioning") {
    val base = (1L to 500L).map(i => (i, s"doc $i payload"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("h"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      graft.operators.StableIds.assign(df, Seq(col("h"), col("doc_id")))
        .orderBy("doc_id").select("doc_id", "stable_id").collect().toSeq
    val a = ids(base)
    val b = ids(base.repartition(17))
    assert(a === b, "stable ids must not depend on input partitioning")
    // dense 0..n-1
    val got = a.map(_.getLong(1)).sorted
    assert(got === (0L until 500L).toSeq)
    val plan = physicalPlan(graft.operators.StableIds.assign(
      base, Seq(col("h"), col("doc_id"))))
    assert(!plan.contains("SinglePartition"),
      "global id assignment must never funnel through one partition")
  }

  test("latestPerKeyBatch compacts with exactly one shuffle on the compaction key") {
    val ev = (1L to 40L).map(i => (i % 4, s"t${i % 2}", i,
      new java.sql.Timestamp(i * 1000L), i.toDouble))
      .toDF("user_id", "event_type", "event_id", "ts", "value")
    val plan = physicalPlan(graft.streaming.EventStream.latestPerKeyBatch(ev))
    assert("hashpartitioning".r.findAllIn(plan.toLowerCase).size === 1)
  }

  test("the JSON text sink's wide-row stage compiles within the method limit (no regex escapes)") {
    // the query-to-text JSON step's shape: lineitem ⋈ orders ⋈ customer ⋈
    // nation, 20 columns (7 strings, 2 timestamps), split key + JSON line
    // as DynamicFileSink projects them. A regex escape per string column
    // grew this stage's method past 64 KB, and Spark fell back from codegen.
    def t(name: String) = TableCatalog.load(spark, "/root/testdata/sf0.001", name)
    val (l, o, c, n) = (t("lineitem"), t("orders"), t("customer"), t("nation"))
    val df = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .select((l.columns.map(l(_)) ++ o.columns.map(o(_)) ++
        Seq(c("c_name"), c("c_mktsegment"), n("n_name"))).toIndexedSeq: _*)
    assert(df.columns.length === 20)
    val lines = df.withColumn("__split", coalesce(col("o_orderpriority"), lit("")))
      .select(col("__split"), RowFormats.line(df, "json").as("value"))
    val optimized = lines.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!optimized.contains("regexp_replace") && !optimized.contains("rlike"))
    assert(lines.collect().nonEmpty) // settles the adaptive plan
    val stages = new AdaptiveSparkPlanHelper {}
      .collect(lines.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.find {
      case p: ProjectExec => p.output.exists(_.name == "value")
      case _ => false
    }.isDefined), "the JSON line projection must sit inside a codegen stage")
    val limit = spark.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
    for (w <- stages) {
      val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2) // throws past 64 KB
      assert(stats.maxMethodCodeSize <= limit, w.simpleString(5))
    }
  }
}
