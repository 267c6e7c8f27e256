package graft.queries

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec}

/** Hand-computed semantics for the statistics tier: these queries' DuckDB
  * oracles mirror the implementation algebra, so the semantic pin is a
  * constructed corpus with a known closed-form answer. Fixtures are
  * written as parquet tables and the REAL query functions run over them
  * (the same (spark, dir) path the driver uses).
  */
class StatSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Write fixture tables and return the dir. */
  private def fixture(tables: (String, DataFrame)*): String = {
    val dir = tmpDir("stat")
    tables.foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  /** events rows for (day offset from 2026-01-05, events that day). */
  private def eventsByDay(counts: Seq[(Int, Int)],
                          eventType: Int => String = _ => "view"): DataFrame = {
    var id = 0L
    counts.flatMap { case (day, n) =>
      (0 until n).map { i =>
        id += 1
        (id, Timestamp.valueOf(f"2026-01-${5 + day}%02d 12:${i % 60}%02d:00"),
          (i % 3).toLong, eventType(i), 1.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("ACF: an alternating series has acf(1) = -1 and acf(2) = +1 exactly") {
    // counts alternate 10,2 over 10 consecutive days: x_{t+1} is an affine
    // function of x_t (y = 12 - x), so lag-1 r is exactly -1; lag-2 pairs
    // satisfy y = x, so r is exactly +1.
    val d = fixture("events" -> eventsByDay((0 until 10).map(i => (i, if (i % 2 == 0) 10 else 2))))
    val acf = SparkEntry.queries("q_acf")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(acf(1L) === -1.0)
    assert(acf(2L) === 1.0)
  }

  test("seasonal decomposition: constant + weekly spike decomposes with zero residual") {
    // 100 events/day, +7 on days where day_n % 7 == 0. Every full 7-day
    // window holds exactly one spike: trend = 101 everywhere, seasonal =
    // +6 on the spike weekday and -1 elsewhere, residual identically 0.
    val base = java.time.LocalDate.parse("2026-01-05").toEpochDay
    val off = (7 - (base % 7).toInt) % 7 // first fixture day with day_n % 7 == 0
    val d = fixture("events" -> eventsByDay(
      (0 until 21).map(i => (i, if ((i - off) % 7 == 0) 107 else 100))))
    val rows = SparkEntry.queries("q_seasonal_decomp")(spark, d).collect()
    assert(rows.length === 21 - 6)
    rows.foreach { r =>
      assert(r.getAs[Double]("trend") === 101.0)
      val expSeasonal = if (r.getAs[Long]("cnt") == 107L) 6.0 else -1.0
      assert(r.getAs[Double]("seasonal") === expSeasonal)
      assert(r.getAs[Double]("residual") === 0.0)
    }
  }

  test("Mann-Kendall: strictly increasing series hits the closed-form z") {
    // cnt = 1..10 ascending, no ties: S = 45, varnum = 10*9*25 = 2250,
    // z = (45-1)/sqrt(2250/18).
    val d = fixture("events" -> eventsByDay((0 until 10).map(i => (i, i + 1))))
    val r = SparkEntry.queries("q_mann_kendall")(spark, d).collect().head
    assert(r.getAs[Long]("s") === 45L)
    assert(r.getAs[Long]("varnum") === 2250L)
    val expZ = BigDecimal(44.0 / math.sqrt(2250.0 / 18.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("mk_z") === expZ)
  }

  test("Kaplan-Meier: censoring enters risk sets; S hits 0 when the last at-risk dies") {
    // user 10: events at 12:00 and 12:05 (death gap 5 min, then censored
    // at the horizon, 5 min later). user 20: events at 12:00 and 12:10
    // (death gap 10, censored at 0). Grid: t=0 (0 deaths, 1 censor,
    // risk 4) -> S=1; t=5 (1 death, 1 censor, risk 3) -> S=2/3;
    // t=10 (1 death, risk 1) -> S=0.
    val ev = Seq(
      (1L, ts("2026-01-05 12:00:00"), 10L, "view", 1.0, "{}"),
      (2L, ts("2026-01-05 12:05:00"), 10L, "view", 1.0, "{}"),
      (3L, ts("2026-01-05 12:00:00"), 20L, "view", 1.0, "{}"),
      (4L, ts("2026-01-05 12:10:00"), 20L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val rows = SparkEntry.queries("q_survival_km")(spark, d).collect()
      .map(r => (r.getAs[Long]("t_min"),
        (r.getAs[Long]("n_risk"), r.getAs[Long]("n_death"),
          r.getAs[Long]("n_censor"), r.getAs[Double]("survival")))).toMap
    assert(rows(0L) === ((4L, 0L, 1L, 1.0)))
    assert(rows(5L) === ((3L, 1L, 1L, 0.666667)))
    assert(rows(10L) === ((1L, 1L, 0L, 0.0)))
  }

  test("DP counts: noise is reproducible, bounded, and matches the inverse-CDF closed form") {
    val d = fixture("events" -> eventsByDay(Seq((0, 50), (1, 50)), i => if (i % 2 == 0) "view" else "click"))
    val out = SparkEntry.queries("q_dp_counts")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 2)
    out.foreach { case (etype, nTrue, nNoisy) =>
      // Laplace(1) from a 24-bit uniform: |noise| <= 24 ln 2 ~ 16.64
      assert(math.abs(nNoisy - nTrue) < 17.0, s"$etype noise out of range")
      // replay the draw in plain Scala
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dp1|$etype".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(6), 16)
      val m = 2 * h + 1 - (1L << 24)
      def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val noise = -math.signum(m.toDouble) * (r9(math.log((1L << 24) - math.abs(m))) - 24.0 * r9(math.log(2.0)))
      val exp = BigDecimal(nTrue.toDouble + BigDecimal(noise).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(nNoisy === exp)
    }
    // reproducibility: a second run yields the identical frame
    val again = SparkEntry.queries("q_dp_counts")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === again.toSeq)
  }

  test("Luhn: the canonical test number validates and its successor does not") {
    val cust = Seq(
      (79927398713L, "ok", 1, 100.0, "BUILDING"),   // canonical valid Luhn
      (79927398714L, "bad", 1, 100.0, "BUILDING")   // off-by-one checksum
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val d = fixture("customer" -> cust)
    val r = SparkEntry.queries("q_luhn_check")(spark, d).collect().head
    assert(r.getAs[Long]("n_total") === 2L)
    assert(r.getAs[Long]("n_valid") === 1L)
  }

  test("corr matrix: exact +1 for linearly dependent columns, null for a constant") {
    val li = Seq.tabulate(8) { i =>
      (i.toLong, i.toLong, i.toLong, i, (i + 1).toDouble, 2.0 * (i + 1), 0.05,
        (8 - i).toDouble, "N", "O", ts("2026-01-05 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val d = fixture("lineitem" -> li)
    val m = SparkEntry.queries("q_corr_matrix")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> Option(r.get(2))).toMap
    assert(m(("l_extendedprice", "l_quantity")) === Some(1.0)) // e = 2q
    assert(m(("l_quantity", "l_tax")) === Some(-1.0))          // t = 9 - q
    assert(m(("l_discount", "l_quantity")) === None)           // constant col
  }

  test("AUC: perfectly separating score gives 1.0; anti-separating gives 0.0") {
    // en docs loaded with stopwords, others with none -> en scores strictly
    // higher -> AUC = 1. Swapping the labels inverts it to 0.
    val docsDf = Seq(
      (1L, "the and of to in is that for", "en", "src0", 10L),
      (2L, "the and of to", "en", "src0", 10L),
      (3L, "table scan merge join", "de", "src0", 10L),
      (4L, "spark window batch", "fr", "src0", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val r = SparkEntry.queries("t_classifier_auc")(spark, d).collect().head
    assert(r.getAs[Long]("n1") === 2L)
    assert(r.getAs[Long]("n0") === 2L)
    assert(r.getAs[Double]("auc") === 1.0)
  }

  test("Cohen's kappa: perfect agreement is 1; the integer identity matches a hand case") {
    // all four languages predicted correctly (texts are pure stopwords)
    val agree = Seq(
      (1L, "the and of to in is that for", "en", "src0", 10L),
      (2L, "der die das und ist nicht mit ein", "de", "src0", 10L),
      (3L, "le les et est pas pour une", "fr", "src0", 10L),
      (4L, "el los y es no por una", "es", "src0", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> agree)
    val r = SparkEntry.queries("t_cohens_kappa")(spark, d).collect().head
    assert(r.getAs[Long]("ndiag") === 4L)
    assert(r.getAs[Double]("kappa") === 1.0)
  }

  test("blocklist: leetspeak obfuscation canonicalizes onto the same entry") {
    val docsDf = Seq(
      (1L, "this pipeline is sp4m really", "en", "srcA", 10L), // 4 -> a
      (2L, "totally clean document text", "en", "srcA", 10L),
      (3L, "a slow and 5low query", "en", "srcB", 10L)          // 5 -> s
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val rows = SparkEntry.queries("t_blocklist")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_flagged"), r.getAs[Long]("total_hits")))).toMap
    assert(rows("srcA") === ((1L, 1L))) // sp4m counted, clean doc not
    assert(rows("srcB") === ((1L, 2L))) // slow + 5low both hit
  }

  test("k-anonymity: a singleton quasi-identifier combo is flagged at risk") {
    val cust = (
      Seq.tabulate(6)(i => (i.toLong, s"bulk$i", 1, 500.0, "BUILDING")) :+
        ((99L, "loner", 2, 9500.0, "MACHINERY"))
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val d = fixture("customer" -> cust)
    val r = SparkEntry.queries("q_k_anonymity")(spark, d).collect().head
    assert(r.getAs[Long]("n_rows") === 7L)
    assert(r.getAs[Long]("n_groups") === 2L)
    assert(r.getAs[Long]("n_small_groups") === 1L)
    assert(r.getAs[Long]("n_rows_at_risk") === 1L)
  }

  test("l-diversity and t-closeness: constructed corpus with hand-computed answers") {
    // 3 QI groups, 10 rows: A = 4×F (uniform → l=1), B = 1×F + 3×O
    // (l=2), C = 2×P (l=1). Global dist = (F .5, O .3, P .2).
    // TV: A = ½(|1−.5|+|0−.3|+|0−.2|) = .5; B = ½(.25+.45+.2) = .45;
    // C = ½(.5+.3+.8) = .8.
    def row(k: Long, st: String, prio: String) =
      (k, 1L, st, 100.0, ts("1995-03-05 00:00:00"), prio)
    val ord = (
      (1L to 4L).map(k => row(k, "F", "1-A")) ++
        Seq(row(5L, "F", "2-B"), row(6L, "O", "2-B"),
          row(7L, "O", "2-B"), row(8L, "O", "2-B")) ++
        Seq(row(9L, "P", "3-C"), row(10L, "P", "3-C"))
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val d = fixture("orders" -> ord)
    val l = SparkEntry.queries("q_l_diversity")(spark, d).collect().head
    assert(l.getAs[Long]("n_rows") === 10L)
    assert(l.getAs[Long]("n_groups") === 3L)
    assert(l.getAs[Long]("min_l") === 1L)
    assert(l.getAs[Long]("n_disclosed_groups") === 2L)
    assert(l.getAs[Long]("n_rows_disclosed") === 6L)
    assert(l.getAs[Double]("disclosed_share") === 0.6)
    val t = SparkEntry.queries("q_t_closeness")(spark, d).collect().head
    assert(t.getAs[Long]("n_groups") === 3L)
    assert(t.getAs[Double]("max_tv") === 0.8)
    assert(t.getAs[Long]("n_groups_above") === 3L)
  }

  test("FK orphan audit: a planted dangling key is counted in exactly its relation") {
    val ord = Seq(
      (1L, 10L, "O", 100.0, ts("2026-01-05 00:00:00"), "1-URGENT"),
      (2L, 11L, "O", 100.0, ts("2026-01-05 00:00:00"), "1-URGENT"), // orphan cust
      (3L, 10L, "O", 100.0, ts("2026-01-05 00:00:00"), "1-URGENT")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val cust = Seq((10L, "c", 1, 0.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val li = Seq(
      (1L, 100L, 200L, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", ts("2026-01-05 00:00:00")),
      (9L, 100L, 200L, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", ts("2026-01-05 00:00:00")) // orphan order
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val part = Seq((100L, "p")).toDF("p_partkey", "p_name")
    val supp = Seq((200L, "s")).toDF("s_suppkey", "s_name")
    val d = fixture("orders" -> ord, "customer" -> cust, "lineitem" -> li,
      "part" -> part, "supplier" -> supp)
    val rows = SparkEntry.queries("q_fk_orphans")(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_orphan")).toMap
    assert(rows === Map(
      "lineitem->orders" -> 1L, "lineitem->part" -> 0L,
      "lineitem->supplier" -> 0L, "orders->customer" -> 1L))
  }

  test("embed diagnostics: identical vectors give anisotropy exactly 1") {
    val v = Array.fill(8)(0.5f)
    val emb = Seq.tabulate(6)(i => (i.toLong, v, 0))
      .toDF("vec_id", "embedding", "label")
    val d = fixture("embeddings" -> emb)
    val r = SparkEntry.queries("a_embed_diagnostics")(spark, d).collect().head
    assert(r.getAs[Long]("n_vecs") === 6L)
    assert(r.getAs[Double]("mean_sq_norm") === 2.0) // 8 * 0.25
    assert(r.getAs[Double]("centroid_sq_norm") === 2.0)
    assert(r.getAs[Double]("anisotropy") === 1.0)
  }

  test("nprobe curve: recall is monotone in nprobe and exact at nprobe = K") {
    // 60 vectors in 4 well-separated direction clusters; queries are
    // vec_id 0 and 50 (the % 50 convention).
    val rnd = new scala.util.Random(7)
    val emb = Seq.tabulate(60) { i =>
      val axis = i % 4
      val v = Array.tabulate(8)(j =>
        (if (j == axis * 2) 1.0f else 0.0f) + rnd.nextFloat() * 0.05f)
      (i.toLong, v, axis)
    }.toDF("vec_id", "embedding", "label")
    val d = fixture("embeddings" -> emb)
    val rows = SparkEntry.queries("a_ivf_nprobe_curve")(spark, d).collect()
      .map(r => r.getAs[Long]("nprobe") -> r.getAs[Double]("mean_recall")).toMap
    assert(rows.keySet === Set(1L, 2L, 4L))
    assert(rows(1L) <= rows(2L) && rows(2L) <= rows(4L))
    assert(rows(4L) === 1.0) // probing every list IS the exact scan
  }

  test("assortativity: a uniform-degree clique has zero degree variance -> null") {
    val copy = "identical duplicated content repeated across the whole clique " * 4
    val docsDf = (Seq.tabulate(4)(i => ((i + 1).toLong, copy, "en", "src0", 50L)) ++ Seq(
      (10L, "completely unrelated first text about catalyst and tungsten internals", "en", "src0", 50L),
      (11L, "another unrelated second text about shuffle partitions and skew handling", "en", "src0", 50L)
    )).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val r = SparkEntry.queries("g_assortativity")(spark, d).collect().head
    assert(r.getAs[Long]("n_edges") === 6L) // the 4-clique
    assert(r.isNullAt(r.fieldIndex("assortativity"))) // all degrees equal
  }

  test("rate limit: quota of 3 per (user, hour) splits kept/dropped at the boundary") {
    val ev = (
      Seq.tabulate(5)(i => ((i + 1).toLong, ts(s"2026-01-05 10:0$i:00"), 1L, "view", 1.0, "{}")) ++
        Seq.tabulate(2)(i => ((10 + i).toLong, ts(s"2026-01-05 11:0$i:00"), 1L, "view", 1.0, "{}"))
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val r = SparkEntry.queries("q_rate_limit")(spark, d).collect().head
    assert(r.getAs[Long]("n_events") === 7L)
    assert(r.getAs[Long]("n_kept") === 5L)   // 3 in hour one, 2 in hour two
    assert(r.getAs[Long]("n_dropped") === 2L)
  }

  test("window family: full-frame last/nth vs running lag/lead on a hand case") {
    val ev = Seq(
      (1L, ts("2026-01-05 10:00:00"), 100L, "view", 1.0, "{}"),
      (2L, ts("2026-01-05 10:01:00"), 100L, "click", 2.0, "{}"),
      (3L, ts("2026-01-05 10:02:00"), 100L, "purchase", 3.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val rows = SparkEntry.queries("q_window_family")(spark, d).collect()
      .map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(rows(1L).getAs[String]("first_et") === "view")
    assert(rows(1L).getAs[String]("last_et") === "purchase") // full frame, not running
    assert(rows(1L).getAs[String]("second_et") === "click")
    assert(rows(1L).getAs[Double]("prev_val") === -1.0)      // lag default
    assert(rows(2L).getAs[Double]("prev_val") === 1.0)
    assert(rows(3L).getAs[Double]("next_val") === -1.0)      // lead default
  }

  test("grouped OLS: an exactly linear series fits slope with R-squared 1") {
    // 2 + 3/day starting 2026-01-05: slope 3, R2 = 1. Intercept is in
    // epoch-day coordinates: y = slope*x + b with x = epoch day.
    val base = java.time.LocalDate.parse("2026-01-05").toEpochDay
    val d = fixture("events" -> eventsByDay((0 until 8).map(i => (i, 2 + 3 * i))))
    val r = SparkEntry.queries("q_grouped_ols")(spark, d).collect().head
    assert(r.getAs[Long]("n") === 8L)
    assert(r.getAs[Double]("slope") === 3.0)
    assert(r.getAs[Double]("r2") === 1.0)
    assert(r.getAs[Double]("intercept") === 2.0 - 3.0 * base)
  }

  test("PQ distortion: a corpus living exactly on its codebook has zero MSE") {
    import graft.operators.Similarity
    // 4 distinct direction patterns replicated 10x: k-means (ks = 4 per
    // subspace, seeded by the 4 lowest ids = one of each pattern)
    // converges to exactly those patterns -> reconstruction is lossless.
    val patterns = Array.tabulate(4)(p => Array.tabulate(64)(j =>
      if (j % 4 == p) 1.0f else 0.0f))
    val emb = Seq.tabulate(40)(i => (i.toLong, patterns(i % 4), i % 4))
      .toDF("vec_id", "embedding", "label")
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
      dims = 64, m = 4, ks = 4, iters = 2)
    val r = Similarity.pqDistortion(emb, "vec_id", "embedding", cbs, dims = 64)
      .collect().head
    assert(r.getAs[Long]("n_vecs") === 40L)
    assert(r.getAs[Double]("mse") === 0.0)
    // and a perturbed corpus must pay a strictly positive distortion
    val noisy = Seq.tabulate(40) { i =>
      val v = patterns(i % 4).clone(); v(i % 64) += 0.5f; (i.toLong, v, i % 4)
    }.toDF("vec_id", "embedding", "label")
    val cbs2 = Similarity.pqTrain(noisy, "vec_id", "embedding",
      dims = 64, m = 4, ks = 4, iters = 2)
    val mse2 = Similarity.pqDistortion(noisy, "vec_id", "embedding", cbs2, dims = 64)
      .collect().head.getAs[Double]("mse")
    assert(mse2 > 0.0)
  }

  test("bloom FPR: a saturated filter false-positives but never false-negatives") {
    import graft.operators.Sketches
    import spark.implicits._
    // 200 keys into a 64-bit filter: load ~1 -> almost every probe flags.
    val m = 64
    val build = (0 until 200).map(i => s"member_$i").toDF("text")
    val words = Sketches.bloomCollect(
      Sketches.bloomBuild(build, "text", m, numHashes = 3), m)
    // members: all flagged (the Bloom contract)
    val memberHits = Sketches.bloomProbe(build, "text", words, m, numHashes = 3)
      .filter(!col("maybe_present")).count()
    assert(memberHits === 0L)
    // disjoint probes: the saturated filter must show false positives
    val probes = (0 until 100).map(i => s"outsider_$i").toDF("text")
    val fp = Sketches.bloomProbe(probes, "text", words, m, numHashes = 3)
      .filter(col("maybe_present")).count()
    assert(fp > 0L)
  }

  test("PRF expansion: a feedback term recalls a doc the seed query scores zero") {
    // Feedback docs pair the seeds with "zzz"; doc 99 contains ONLY zzz,
    // so the seed pass scores it 0 — after expansion it must rank.
    val docsDf = (Seq.tabulate(10)(i =>
      ((i + 1).toLong, "spark join zzz zzz pipeline stage number " + i, "en", "src0", 40L)) :+
      ((99L, "zzz zzz zzz and nothing else here", "en", "src0", 30L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val rows = SparkEntry.queries("a_prf_expansion")(spark, d).collect()
    val doc99 = rows.find(_.getAs[Long]("doc_id") == 99L)
    assert(doc99.isDefined, "expansion must surface the zzz-only doc")
    assert(doc99.get.getAs[Double]("score") > 0.0)
  }

  test("MATTR: all-distinct text scores 1; a one-word loop scores 1/20 per window") {
    val distinct44 = (1 to 44).map(i => s"w$i").mkString(" ")
    val docsDf = Seq(
      (1L, distinct44, "en", "src0", 100L),      // every window 20 distinct -> 1.0
      (2L, "echo " * 40, "de", "src0", 100L),    // every window 1 distinct -> 0.05
      (3L, "short text", "fr", "src0", 10L)      // <= 20 tokens: plain TTR = 1.0
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val rows = SparkEntry.queries("t_mattr")(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("mean_mattr")).toMap
    assert(rows("en") === 1.0)
    assert(rows("de") === 0.05)
    assert(rows("fr") === 1.0)
  }

  test("new vs returning: a user's first day is new, every later day returning") {
    val ev = Seq(
      (1L, ts("2026-01-05 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2026-01-05 11:00:00"), 1L, "view", 1.0, "{}"), // same day dup
      (3L, ts("2026-01-06 10:00:00"), 1L, "view", 1.0, "{}"),
      (4L, ts("2026-01-06 10:00:00"), 2L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val rows = SparkEntry.queries("q_new_vs_returning")(spark, d).collect()
      .map(r => (r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_returning")))
    assert(rows.toSeq === Seq((1L, 1L, 0L), (2L, 1L, 1L)))
  }

  test("method agreement: identical copies are found by both detectors -> Jaccard 1") {
    val copy = "the quick brown fox jumps over the lazy dog again and again " * 4
    val docsDf = Seq(
      (1L, copy, "en", "src0", 100L),
      (2L, copy, "en", "src0", 100L), // exact copy: both methods must pair (1,2)
      (3L, "completely different text about catalyst optimizer internals here", "en", "src0", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val r = SparkEntry.queries("d_method_agreement")(spark, d).collect().head
    assert(r.getAs[Long]("n_minhash") === 1L)
    assert(r.getAs[Long]("n_simhash") === 1L)
    assert(r.getAs[Long]("n_both") === 1L)
    assert(r.getAs[Double]("agreement_jaccard") === 1.0)
  }

  test("conversion latency: pre-view purchases don't count; first-at-or-after does") {
    val ev = Seq(
      (1L, ts("2026-01-05 09:00:00"), 1L, "purchase", 1.0, "{}"), // BEFORE view: ignored
      (2L, ts("2026-01-05 10:00:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2026-01-05 10:10:00"), 1L, "purchase", 1.0, "{}"), // +10 min
      (4L, ts("2026-01-05 10:00:00"), 2L, "view", 1.0, "{}"),
      (5L, ts("2026-01-05 10:30:00"), 2L, "purchase", 1.0, "{}"), // +30 min
      (6L, ts("2026-01-05 10:00:00"), 3L, "view", 1.0, "{}")      // never converts
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val r = SparkEntry.queries("q_conversion_latency")(spark, d).collect().head
    assert(r.getAs[Long]("n_converters") === 2L)
    assert(r.getAs[Double]("p50_us") === 20 * 60 * 1e6) // median of {10, 30} min
  }

  test("k-core: a clique survives the peel; an exact-dup PAIR (degree 1) peels away") {
    val copyA = "identical duplicated clique content repeated again and again " * 4
    val copyB = "a totally different pairwise duplicate body of text here now " * 4
    val docsDf = (
      Seq.tabulate(3)(i => ((i + 1).toLong, copyA, "en", "src0", 100L)) ++ // triangle
        Seq((10L, copyB, "en", "src0", 100L), (11L, copyB, "en", "src0", 100L)) // pair: degree 1 each
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val r = SparkEntry.queries("g_kcore")(spark, d).collect().head
    assert(r.getAs[Long]("n_edges") === 4L)      // 3 clique edges + 1 pair edge
    assert(r.getAs[Long]("n_core_edges") === 3L) // the pair peels (deg < 2)
    assert(r.getAs[Long]("n_core_nodes") === 3L)
  }

  test("cross-source dups: a group spanning sources counts; a within-source one doesn't") {
    val docsDf = Seq(
      (1L, "mirrored syndicated body", "en", "srcA", 20L),
      (2L, "mirrored syndicated body", "en", "srcB", 20L), // cross-source group
      (3L, "crawler artifact body", "en", "srcC", 20L),
      (4L, "crawler artifact body", "en", "srcC", 20L),    // within-source group
      (5L, "unique document", "en", "srcA", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val r = SparkEntry.queries("d_cross_source_dups")(spark, d).collect().head
    assert(r.getAs[Long]("n_dup_groups") === 2L)
    assert(r.getAs[Long]("n_cross_source") === 1L)
    assert(r.getAs[Long]("n_dup_docs") === 4L)
    assert(r.getAs[Double]("cross_share") === 0.5)
  }

  test("burstiness: a constant series has Fano 0; a spike train exceeds 1") {
    val flat = fixture("events" -> eventsByDay((0 until 6).map(i => (i, 10))))
    val rf = SparkEntry.queries("t_burstiness")(spark, flat).collect().head
    assert(rf.getAs[Double]("fano") === 0.0)
    // days (1,1,1,1,1,25): mean 5, var = (6*630-900)/30 = 96 -> fano 19.2
    val bursty = fixture("events" -> eventsByDay(
      Seq((0, 1), (1, 1), (2, 1), (3, 1), (4, 1), (5, 25))))
    val rb = SparkEntry.queries("t_burstiness")(spark, bursty).collect().head
    assert(rb.getAs[Double]("fano") === 19.2)
  }

  test("pareto 80/20: one whale among five users owns its quintile's share exactly") {
    // user 0 fires 80 events, users 1..4 fire 5 each -> top-20% = the whale
    val ev = (0 until 5).flatMap { u =>
      val n = if (u == 0) 80 else 5
      (0 until n).map(i => ((u * 1000 + i).toLong,
        ts(f"2026-01-05 ${10 + u}%02d:${i % 60}%02d:00"), u.toLong, "view", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val r = SparkEntry.queries("q_pareto_8020")(spark, d).collect().head
    assert(r.getAs[Long]("n_users") === 5L)
    assert(r.getAs[Long]("top20_events") === 80L)
    assert(r.getAs[Double]("top20_share") === 0.8)
  }

  test("source vocab overlap: identical vocab -> 1.0, disjoint -> absent or interpolated") {
    val docsDf = Seq(
      (1L, "alpha beta gamma", "en", "srcA", 20L),
      (2L, "alpha beta gamma", "en", "srcB", 20L),  // identical vocab to A
      (3L, "delta epsilon", "en", "srcC", 20L)      // disjoint from both
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val rows = SparkEntry.queries("t_source_vocab_overlap")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(rows(("srcA", "srcB")) === 1.0)
    assert(!rows.contains(("srcA", "srcC"))) // zero intersection never joins
  }

  test("filtered ANN: post-filter returns nothing when the query's label is crowded out") {
    // query 0 (label 9): its 5 same-label docs point AWAY from it while 5
    // label-1 docs point WITH it -> global top-5 is all label 1 -> post = 0.
    def vec(axis: Int, sign: Float) =
      Array.tabulate(8)(j => if (j == axis) sign else 0.001f * (j + 1))
    val emb = (
      Seq((0L, vec(0, 1.0f), 9)) ++                       // the query
        (1 to 5).map(i => (i.toLong, vec(0, -1.0f), 9)) ++ // same label, opposite direction
        (6 to 10).map(i => (i.toLong, vec(0, 1.0f), 1))    // near, wrong label
      ).toDF("vec_id", "embedding", "label")
    val d = fixture("embeddings" -> emb)
    val r = SparkEntry.queries("a_ann_prefilter")(spark, d).collect()
      .find(_.getAs[Long]("qid") == 0L).get
    assert(r.getAs[Long]("n_pre") === 5L)    // pre-filter still finds 5
    assert(r.getAs[Long]("n_post") === 0L)   // post-filter finds none
    assert(r.getAs[Double]("post_recall") === 0.0)
  }

  test("RFM: jointly-ordered users land on the quintile diagonal") {
    // user i: last active day i, i events, value i each -> user 5 is
    // (1,1,1), user 1 is (5,5,5); every user owns its diagonal cell.
    val ev = (1 to 5).flatMap { u =>
      (0 until u).map(i => ((u * 100 + i).toLong,
        ts(f"2026-01-${4 + u}%02d 10:0$i:00"), u.toLong, "view", u.toDouble, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val rows = SparkEntry.queries("q_rfm_segmentation")(spark, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getAs[Long]("n_users")).toMap
    assert(rows === (1 to 5).map(q => (q, q, q) -> 1L).toMap)
  }

  test("centroid drift: identical halves drift 0 with cosine 1; shifted halves drift exactly") {
    val v = Array.fill(4)(1.0f)
    val same = Seq.tabulate(8)(i => (i.toLong, v, 0))
      .toDF("vec_id", "embedding", "label")
    val d1 = fixture("embeddings" -> same)
    val r1 = SparkEntry.queries("a_centroid_drift")(spark, d1).collect().head
    assert(r1.getAs[Double]("l2_drift") === 0.0)
    assert(r1.getAs[Double]("centroid_cosine") === 1.0)
    // odd ids shifted by +1 in every dim: drift = sqrt(4*1) = 2
    val shifted = Seq.tabulate(8) { i =>
      val w = if (i % 2 == 0) v else v.map(_ + 1.0f); (i.toLong, w, 0)
    }.toDF("vec_id", "embedding", "label")
    val d2 = fixture("embeddings" -> shifted)
    val r2 = SparkEntry.queries("a_centroid_drift")(spark, d2).collect().head
    assert(r2.getAs[Double]("l2_drift") === 2.0)
  }

  test("active-days histogram: day-level dedup before counting") {
    val ev = Seq(
      (1L, ts("2026-01-05 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2026-01-05 11:00:00"), 1L, "view", 1.0, "{}"), // same day: 1 active day
      (3L, ts("2026-01-06 10:00:00"), 1L, "view", 1.0, "{}"),
      (4L, ts("2026-01-05 10:00:00"), 2L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val rows = SparkEntry.queries("q_active_days_histogram")(spark, d).collect()
      .map(r => r.getAs[Long]("active_days") -> r.getAs[Long]("n_users")).toMap
    assert(rows === Map(1L -> 1L, 2L -> 1L))
  }

  test("MRR: sign-identical corpus ranks the true neighbor first -> MRR 1") {
    // all vectors strictly positive -> identical sign words -> Hamming all
    // 0 -> BQ ranks by nid; truth top-1 for query 0 is its closest, which
    // with these magnitudes is also the lowest nid -> rr = 1.
    val emb = Seq.tabulate(8) { i =>
      (i.toLong, Array.tabulate(64)(j => 1.0f + 0.01f * ((i + j) % 3)), 0)
    }.toDF("vec_id", "embedding", "label")
    val d = fixture("embeddings" -> emb)
    val r = SparkEntry.queries("a_ann_mrr")(spark, d).collect().head
    // fixed-count query sample (20 hash-minimal ids): with 8 fixture
    // vectors, every vector is a query
    assert(r.getAs[Long]("n_queries") === 8L)
    val mrr = r.getAs[Double]("mrr")
    assert(mrr > 0.0 && mrr <= 1.0)
    // deterministic across runs
    val again = SparkEntry.queries("a_ann_mrr")(spark, d).collect().head
    assert(again.getAs[Double]("mrr") === mrr)
  }

  test("basket affinity: a perfectly co-occurring pair has lift n_baskets/n") {
    // 4 baskets: 2 with {view, click} (always together), 2 with {purchase}.
    val ev = Seq(
      (1L, ts("2026-01-05 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2026-01-05 11:00:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2026-01-06 10:00:00"), 1L, "view", 1.0, "{}"),
      (4L, ts("2026-01-06 11:00:00"), 1L, "click", 1.0, "{}"),
      (5L, ts("2026-01-05 10:00:00"), 2L, "purchase", 1.0, "{}"),
      (6L, ts("2026-01-06 10:00:00"), 2L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val rows = SparkEntry.queries("q_basket_affinity")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_both"), r.getAs[Double]("confidence"), r.getAs[Double]("lift")))).toMap
    // click < view lexicographically: pair is (click, view)
    assert(rows(("click", "view")) === ((2L, 1.0, 2.0))) // lift = 2*4/(2*2)
    assert(rows.size === 1) // purchase never co-occurs
  }

  test("dedup funnel: exact then near-dup tiers remove in the right order") {
    val copy = "repeated body of near duplicate content here again and again " * 4
    val docsDf = Seq(
      (1L, copy, "en", "src0", 100L),
      (2L, copy, "en", "src0", 100L),            // exact dup of 1 (dies at tier 1)
      (3L, copy + " tail", "en", "src0", 100L),  // near-dup of 1 (dies at tier 2)
      (4L, "an entirely different document about something else entirely", "en", "src0", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val r = SparkEntry.queries("d_dedup_funnel")(spark, d).collect().head
    assert(r.getAs[Long]("n_raw") === 4L)
    assert(r.getAs[Long]("n_after_exact") === 3L)
    assert(r.getAs[Long]("n_after_neardup") === 2L)
    assert(r.getAs[Double]("removed_share") === 0.5)
  }

  test("SQ8 distortion: degenerate dims reconstruct exactly; spread dims stay under the half-step bound") {
    import graft.operators.Similarity
    import spark.implicits._
    val const = Seq.tabulate(6)(i => (i.toLong, Array.fill(8)(0.7f), 0))
      .toDF("vec_id", "embedding", "label")
    val m1 = Similarity.sqTrain(const, "embedding", dims = 8)
    val r1 = Similarity.sqDistortion(const, "vec_id", "embedding", m1).collect().head
    assert(r1.getAs[Double]("mse") === 0.0) // max == min -> recon = min exactly
    // values spread over [0,1]: per-dim error <= (1/256)/2 + encode floor slack
    val spread = Seq.tabulate(32)(i => (i.toLong, Array.fill(8)(i / 31.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val m2 = Similarity.sqTrain(spread, "embedding", dims = 8)
    val r2 = Similarity.sqDistortion(spread, "vec_id", "embedding", m2).collect().head
    val mse = r2.getAs[Double]("mse")
    assert(mse > 0.0)
    assert(mse <= 8 * math.pow(1.0 / 256, 2), s"mse $mse above the per-dim step bound")
  }

  test("disorder profile: a planted out-of-order event is counted with exact lateness") {
    val ev = Seq(
      (1L, ts("2026-01-05 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2026-01-05 10:10:00"), 1L, "view", 1.0, "{}"),
      (3L, ts("2026-01-05 10:04:00"), 1L, "view", 1.0, "{}"), // 6 min late vs hwm
      (4L, ts("2026-01-05 10:00:00"), 2L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d = fixture("events" -> ev)
    val r = SparkEntry.queries("q_disorder_profile")(spark, d).collect().head
    assert(r.getAs[Long]("n_events") === 4L)
    assert(r.getAs[Long]("n_late") === 1L)
    assert(r.getAs[Long]("max_late_us") === 6L * 60 * 1000000)
  }

  test("gopher ablation: a planted sole-blocker doc is attributed to exactly its rule") {
    // base passes every rule; the second doc fails ONLY the stopword rule.
    val good = ("the data to be of and that have with pipeline " * 6).trim
    val noStops = ("data pipeline quality filter corpus token metric " * 8).trim
    val docsDf = Seq(
      (1L, good, "en", "src0", 100L),
      (2L, noStops, "en", "src0", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val rows = SparkEntry.queries("t_gopher_ablation")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_fail"), r.getAs[Long]("n_sole_fail")))).toMap
    assert(rows("stopwords") === ((1L, 1L))) // doc 2, and only rule stopwords
    assert(rows("words") === ((0L, 0L)))
    assert(rows("alpha") === ((0L, 0L)))
  }

  test("banding sweep: candidate volume is monotone in bands and the planted pair is found") {
    val copy = "the quick brown fox jumps over the lazy dog once more here " * 4
    val docsDf = (Seq(
      (2L, copy, "en", "src0", 100L),
      (4L, copy + " coda", "en", "src0", 100L)) ++ // near-dup pair (even ids: in sample)
      Seq.tabulate(6)(i => ((10 + 2 * i).toLong,
        s"unrelated filler document number $i about catalyst shuffle internals and parquet footers",
        "en", "src0", 80L))
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val rows = SparkEntry.queries("d_banding_sweep")(spark, d).collect()
      .map(r => r.getAs[Long]("bands") -> ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_both"))))
      .toMap
    assert(rows.keySet === Set(2L, 4L, 8L))
    assert(rows(2L)._1 <= rows(4L)._1 && rows(4L)._1 <= rows(8L)._1) // more bands, more candidates
    assert(rows(8L)._2 >= 1L) // the planted pair survives the finest banding
  }

  test("contrastive pairs: negative is outside the near-dup cluster and deterministic") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val docsDf = Seq(
      (1L, base + "alpha", "en", "src0", 100L),
      (2L, base + "beta", "en", "src0", 100L), // near-dup of 1
      (3L, "completely different text about spark catalyst optimizer internals and shuffles here", "en", "src0", 80L),
      (4L, "another unrelated document discussing parquet encodings and column pruning strategies", "en", "src0", 80L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = fixture("documents" -> docsDf)
    val rows = SparkEntry.queries("a_contrastive_pairs")(spark, d).collect()
    assert(rows.nonEmpty, "planted near-dup pair must surface")
    rows.foreach { r =>
      val (a, p, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(Set(a, p) === Set(1L, 2L))
      assert(n === 3L || n === 4L)
    }
    val again = SparkEntry.queries("a_contrastive_pairs")(spark, d).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }
}
