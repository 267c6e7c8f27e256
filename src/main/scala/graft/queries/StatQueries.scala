package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog

/** Round-9 time-series / distribution-statistics tier: the monitoring
  * mathematics a 100 TB ingest runs over its OWN telemetry — seasonality
  * and autocorrelation of arrival volumes, nonparametric trend tests,
  * planner-grade equi-depth histograms, correlation matrices, survival
  * curves of user activity, and privacy-preserving reporting.
  *
  * Scale shape shared by every entry here: the corpus-sized pass is a
  * single pre-aggregation to a MODEL-SIZED frame (days, buckets, tie
  * groups — thousands of rows at any corpus size), and all the
  * statistical algebra runs over that small frame. At 1000 executors the
  * cost is one map-side-combined aggregate; the windows/self-joins below
  * never touch raw rows.
  *
  * Same determinism contract as [[PipelineQueries]]: integer or decimal
  * arithmetic until a final float step whose expression shape is
  * identical in both engines (ln only ever takes an INTEGER argument,
  * 9-dp rounding before decimal accumulation, 6-dp final rounding).
  */
object StatQueries {

  import OracleText.{bit, cosAB, cosD, sh3, stopDe, stopEn, stopEs, stopFr, toks}

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.load(s, dir, name)
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  /** Daily event totals — the shared pre-aggregate of the series tier.
    * `dayN` is the epoch-day INTEGER (date arithmetic via plain int64
    * subtraction is engine-proof; named weekday functions disagree on
    * 0-vs-1-based and week-start conventions across engines). */
  private def daily(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("day_n"))
      .agg(count(lit(1)).as("cnt"))

  // TextAnalysis.langId replayed in SQL: one predicted language per
  // document
  private val predLang =
    s"""SELECT doc_id, lang, CASE
       |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
       |  WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
       |  WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |  WHEN s_es > 0 THEN 'es' ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id, lang,
       |  len(list_filter($toks, x -> list_contains($stopEn, x)))::BIGINT AS s_en,
       |  len(list_filter($toks, x -> list_contains($stopDe, x)))::BIGINT AS s_de,
       |  len(list_filter($toks, x -> list_contains($stopFr, x)))::BIGINT AS s_fr,
       |  len(list_filter($toks, x -> list_contains($stopEs, x)))::BIGINT AS s_es
       |  FROM documents)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // --- Autocorrelation function of daily volume at lags 1..7: the
    //     "is load periodic?" number behind capacity planning and
    //     anomaly baselines (a weekly cycle shows as a lag-7 peak).
    //     Pearson r over (x_t, x_{t+l}) pairs with EXACT integer
    //     moment sums (counts are int64; n·Σxy − Σx·Σy never leaves
    //     integer land) and one sqrt/division at the end. The lag
    //     fan-out is a 7-row literal cross join against the day-grain
    //     frame — never against raw events. ---
    QuerySpec("q_acf", (s, dir) => {
      val d = daily(s, dir)
      val lags = s.range(1, 8).select(col("id").as("lag"))
      d.as("a").crossJoin(lags)
        .join(d.as("b"), col("b.day_n") === col("a.day_n") + col("lag"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a.cnt")).as("sx"), sum(col("b.cnt")).as("sy"),
          sum(col("a.cnt") * col("b.cnt")).as("sxy"),
          sum(col("a.cnt") * col("a.cnt")).as("sxx"),
          sum(col("b.cnt") * col("b.cnt")).as("syy"))
        .select(col("lag"), col("n_pairs"),
          when(
            (col("n_pairs") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n_pairs") * col("syy") - col("sy") * col("sy")) > 0,
            round(
              (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
                sqrt(((col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
                  (col("n_pairs") * col("syy") - col("sy") * col("sy"))).cast("double")),
              6)).as("acf"))
        .orderBy("lag")
    },
      """WITH d AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_n,
        |    count(*) AS cnt FROM events GROUP BY 1),
        |lags AS (SELECT CAST(unnest([1,2,3,4,5,6,7]) AS BIGINT) AS lag),
        |p AS (SELECT lag, a.cnt AS x, b.cnt AS y
        |  FROM d a CROSS JOIN lags JOIN d b ON b.day_n = a.day_n + lag),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM p GROUP BY lag)
        |SELECT lag, n_pairs,
        |  CASE WHEN n_pairs*sxx - sx*sx > 0 AND n_pairs*syy - sy*sy > 0 THEN
        |    round(CAST(n_pairs*sxy - sx*sy AS DOUBLE) /
        |      sqrt(CAST((n_pairs*sxx - sx*sx) * (n_pairs*syy - sy*sy) AS DOUBLE)), 6)
        |  END AS acf
        |FROM m ORDER BY lag""".stripMargin),

    // --- Classical seasonal decomposition of daily volume:
    //     trend = centered 7-day moving average (full windows only),
    //     seasonal = per-weekday mean of the detrended series,
    //     residual = observed − trend − seasonal. The alerting
    //     decomposition: a residual spike is real news even when raw
    //     volume is inside its weekly swing. Weekday = day_n mod 7
    //     (pure integer — see `daily`). Detrended values stay exact
    //     rationals with denominator 7 (7x − Σwindow), so the seasonal
    //     mean is Σ integers / (7n); classical estimator: the seasonal
    //     indices are RE-CENTERED to sum to (rounded) zero by
    //     subtracting their mean — without it, trend+seasonal carries
    //     the mean of the weekday means as a systematic offset into the
    //     residual. The centering mean accumulates the 6-dp-rounded
    //     indices in DECIMAL (exact sum, order-independent) before the
    //     one double division — identical shape in both engines. ---
    QuerySpec("q_seasonal_decomp", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("day_n").rowsBetween(-3, 3)
      val wd = daily(s, dir)
        .withColumn("wsum", sum(col("cnt")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .filter(col("wn") === 7)
        .withColumn("weekday", pmod(col("day_n"), lit(7L)))
      val seasonalRaw = wd.groupBy("weekday")
        .agg(sum(lit(7L) * col("cnt") - col("wsum")).as("snum"),
          (count(lit(1)) * 7L).as("sden"))
        .select(col("weekday"),
          round(col("snum").cast("double") / col("sden"), 6).as("sraw"))
      val adj = seasonalRaw.agg(
        round(sum(col("sraw").cast("decimal(20,6)")).cast("double") /
          count(lit(1)), 6).as("adj"))
      val seasonal = seasonalRaw.crossJoin(adj)
        .select(col("weekday"), round(col("sraw") - col("adj"), 6).as("seasonal"))
      wd.join(seasonal, "weekday")
        .select(col("day_n"), col("cnt"),
          round(col("wsum").cast("double") / 7.0, 6).as("trend"),
          col("seasonal"),
          round(col("cnt").cast("double") - col("wsum").cast("double") / 7.0 -
            col("seasonal"), 6).as("residual"))
        .orderBy("day_n")
    },
      """WITH d AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_n,
        |    count(*) AS cnt FROM events GROUP BY 1),
        |w AS (SELECT day_n, cnt,
        |    sum(cnt) OVER win AS wsum, count(*) OVER win AS wn
        |  FROM d WINDOW win AS (ORDER BY day_n ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT *, day_n % 7 AS weekday FROM w WHERE wn = 7),
        |sr AS (SELECT weekday,
        |    round(CAST(sum(7*cnt - wsum) AS DOUBLE) / (count(*) * 7), 6) AS sraw
        |  FROM f GROUP BY weekday),
        |aj AS (SELECT round(CAST(sum(CAST(sraw AS DECIMAL(20,6))) AS DOUBLE)
        |    / count(*), 6) AS adj FROM sr),
        |se AS (SELECT weekday, round(sraw - adj, 6) AS seasonal FROM sr, aj)
        |SELECT day_n, cnt, round(CAST(wsum AS DOUBLE) / 7.0, 6) AS trend, seasonal,
        |  round(CAST(cnt AS DOUBLE) - CAST(wsum AS DOUBLE) / 7.0 - seasonal, 6) AS residual
        |FROM f JOIN se USING (weekday) ORDER BY day_n""".stripMargin),

    // --- Mann–Kendall trend test per event type: the nonparametric
    //     "is volume drifting?" screen (no linearity or normality
    //     assumption — complements the OLS slope and CUSUM entries).
    //     S = Σ_{i<j} sign(x_j − x_i) over the day-grain series with
    //     the tie-corrected variance
    //     Var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 and the
    //     continuity-corrected z. Every quantity up to the final
    //     division is an int64; the pairwise join runs over the
    //     day-grain frame (≤ a few thousand rows per type at ANY
    //     corpus size), never over events. ---
    QuerySpec("q_mann_kendall", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day_n"))
        .agg(count(lit(1)).as("cnt"))
      // extracted operator (r16): the fuzzer and this gate drive ONE body
      graft.operators.StatTests.mannKendall(d, "event_type", "day_n", "cnt")
        .orderBy("event_type")
    },
      """WITH d AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_n,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |s AS (SELECT a.event_type, CAST(sum(sign(b.cnt - a.cnt)) AS BIGINT) AS s
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day_n < b.day_n
        |  GROUP BY a.event_type),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY event_type),
        |tg AS (SELECT event_type, cnt, count(*) AS tie FROM d GROUP BY event_type, cnt),
        |tt AS (SELECT event_type,
        |    CAST(sum(tie * (tie - 1) * (2*tie + 5)) AS BIGINT) AS tsum
        |  FROM tg GROUP BY event_type),
        |v AS (SELECT event_type, s, n, n*(n-1)*(2*n+5) - tsum AS varnum
        |  FROM s JOIN n USING (event_type) JOIN tt USING (event_type))
        |SELECT event_type, s, n, varnum,
        |  CASE WHEN varnum > 0 THEN round(
        |    (CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
        |          WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) ELSE 0.0 END) /
        |    sqrt(CAST(varnum AS DOUBLE) / 18.0), 6) END AS mk_z
        |FROM v ORDER BY event_type""".stripMargin),

    // --- Equi-depth histogram of order totals: 8 equal-frequency
    //     buckets with exact boundaries and counts — what an
    //     optimizer's column statistics actually store (equi-WIDTH
    //     histograms lie under skew; equi-depth boundaries are the
    //     selectivity-estimation primitive). ntile over a FULLY
    //     tie-broken order (value, key) is deterministic in both
    //     engines; one shuffle on the window order. Scale note: the
    //     global ntile is a total order (single-partition window); at
    //     100 TB the boundaries come from exact-percentile cuts (one
    //     aggregate, broadcast back as a CASE — the t_quality_threshold
    //     shape) or the hash-rank sample sketch (t_quantile_sample). ---
    QuerySpec("q_equidepth_hist", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "orders")
        .withColumn("bucket",
          ntile(8).over(Window.orderBy(col("o_totalprice"), col("o_orderkey"))))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("bucket")
    },
      """WITH b AS (SELECT o_totalprice,
        |    ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket FROM orders)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // --- Pearson correlation matrix over the lineitem measures: the
    //     multicollinearity screen run before any of these columns
    //     becomes a model feature or a CUPED covariate. ONE pass
    //     computes every moment (Σx, Σx², Σxy for all 4 columns = 14
    //     decimal-exact sums, map-side combined); the 6 pairwise r
    //     values are algebra over that single row, melted to
    //     (col_a, col_b, r). Inputs are 2-dp-scale currency/ratio
    //     values, so DECIMAL(14,2) casts make every product and sum
    //     EXACT; the only float steps are the final decimal→double
    //     conversions and one identically-shaped formula. ---
    QuerySpec("q_corr_matrix", (s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val dec = cols.map(c => col(c).cast("decimal(14,2)").as(c))
      val li = t(s, dir, "lineitem").select(dec: _*)
      val sums =
        Seq(count(lit(1)).as("n")) ++
          cols.map(c => sum(col(c)).as(s"s_$c")) ++
          (for (a <- cols; b <- cols if a <= b)
            yield sum(col(a) * col(b)).as(s"p_${a}_$b"))
      val m = li.agg(sums.head, sums.tail: _*)
      def r(a: String, b: String) = {
        val (x, y) = if (a <= b) (a, b) else (b, a)
        val num = col("n").cast("double") * col(s"p_${x}_$y").cast("double") -
          col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
        val dx = col("n").cast("double") * col(s"p_${a}_$a").cast("double") -
          col(s"s_$a").cast("double") * col(s"s_$a").cast("double")
        val dy = col("n").cast("double") * col(s"p_${b}_$b").cast("double") -
          col(s"s_$b").cast("double") * col(s"s_$b").cast("double")
        when(dx > 0 && dy > 0, round(num / sqrt(dx * dy), 6))
      }
      val pairs = (for (i <- cols.indices; j <- cols.indices if i < j)
        yield { val (a, b) = (cols(i), cols(j)); if (a <= b) (a, b) else (b, a) }).sorted
      // ONE aggregate subtree STRUCTURALLY: the six pairs melt out of the
      // single moment row via explode(array(struct...)) — the earlier
      // union-of-six-selects form was single-pass only if exchange reuse
      // happened to deduplicate six identical aggregate subtrees
      m.select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("col_a"), lit(b).as("col_b"), r(a, b).as("r"))
        }: _*)).as("p"))
        .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
          col("p.r").as("r"))
        .orderBy("col_a", "col_b")
    },
      """WITH li AS (SELECT CAST(l_quantity AS DECIMAL(14,2)) AS q,
        |    CAST(l_extendedprice AS DECIMAL(14,2)) AS e,
        |    CAST(l_discount AS DECIMAL(14,2)) AS d,
        |    CAST(l_tax AS DECIMAL(14,2)) AS t FROM lineitem),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(e) AS DOUBLE) AS se,
        |    CAST(sum(d) AS DOUBLE) AS sd, CAST(sum(t) AS DOUBLE) AS st,
        |    CAST(sum(q*q) AS DOUBLE) AS pqq, CAST(sum(q*e) AS DOUBLE) AS pqe,
        |    CAST(sum(q*d) AS DOUBLE) AS pqd, CAST(sum(q*t) AS DOUBLE) AS pqt,
        |    CAST(sum(e*e) AS DOUBLE) AS pee, CAST(sum(e*d) AS DOUBLE) AS ped,
        |    CAST(sum(e*t) AS DOUBLE) AS pet, CAST(sum(d*d) AS DOUBLE) AS pdd,
        |    CAST(sum(d*t) AS DOUBLE) AS pdt, CAST(sum(t*t) AS DOUBLE) AS ptt
        |  FROM li)
        |SELECT col_a, col_b,
        |  CASE WHEN n*paa - sa*sa > 0 AND n*pbb - sb*sb > 0 THEN
        |    round((n*pab - sa*sb) / sqrt((n*paa - sa*sa) * (n*pbb - sb*sb)), 6)
        |  END AS r
        |FROM (
        |  SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
        |    sd AS sa, se AS sb, pdd AS paa, pee AS pbb, ped AS pab, n FROM m
        |  UNION ALL SELECT 'l_discount', 'l_quantity', sd, sq, pdd, pqq, pqd, n FROM m
        |  UNION ALL SELECT 'l_discount', 'l_tax', sd, st, pdd, ptt, pdt, n FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_quantity', se, sq, pee, pqq, pqe, n FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', se, st, pee, ptt, pet, n FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_tax', sq, st, pqq, ptt, pqt, n FROM m)
        |ORDER BY col_a, col_b""".stripMargin),

    // --- Kaplan–Meier survival curve of user inactivity gaps: the
    //     "how long until the next event?" curve behind churn and
    //     session-timeout tuning. Observations = per-user inter-event
    //     gaps in whole minutes (death = next event arrived); the LAST
    //     event of every user is RIGHT-CENSORED at the corpus horizon
    //     (max ts) — exactly the case a naive gap histogram silently
    //     drops, biasing the tail down. Estimator:
    //     S(t) = Π_{tᵢ ≤ t} (nᵢ − dᵢ)/nᵢ, computed as exp of a decimal
    //     sum of ln(nᵢ−dᵢ) − ln(nᵢ) — every ln takes an INTEGER, so
    //     both engines agree at 9 dp. At-risk nᵢ = one reverse
    //     cumulative sum over the minute-grain frame; the only
    //     corpus-sized work is the lead() pass over events. Scale
    //     note: both global windows run over the MINUTE-GRAIN frame
    //     (rows ≤ the largest observed gap in minutes — time-grain
    //     bounded at any corpus size), not over events. ---
    QuerySpec("q_survival_km", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      val wu = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val horizon = ev.agg(max(col("us")).as("hus"))
      val obs = ev.withColumn("nus", lead(col("us"), 1).over(wu))
        .crossJoin(horizon)
        .select(
          when(col("nus").isNotNull, floor((col("nus") - col("us")) / 60000000L))
            .otherwise(floor((col("hus") - col("us")) / 60000000L)).as("t_min"),
          when(col("nus").isNotNull, 1L).otherwise(0L).as("death"))
      // extracted operator (r16): the fuzzer and this gate drive ONE body
      graft.operators.StatTests.kaplanMeier(obs, "t_min", "death")
        .filter(col("t_min") <= 180)
        .orderBy("t_min")
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
        |h AS (SELECT max(us) AS hus FROM ev),
        |o AS (SELECT
        |    CASE WHEN nus IS NOT NULL THEN (nus - us) // 60000000
        |         ELSE (hus - us) // 60000000 END AS t_min,
        |    CASE WHEN nus IS NOT NULL THEN 1 ELSE 0 END AS death
        |  FROM (SELECT us, lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nus
        |        FROM ev) CROSS JOIN h),
        |g AS (SELECT t_min, CAST(sum(death) AS BIGINT) AS n_death,
        |    CAST(sum(1 - death) AS BIGINT) AS n_censor FROM o GROUP BY t_min),
        |rk AS (SELECT *, CAST(sum(n_death + n_censor) OVER (ORDER BY t_min DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM g),
        |tm AS (SELECT *,
        |    CAST(CASE WHEN n_death > 0 AND n_risk > n_death
        |      THEN round(ln(n_risk - n_death) - ln(n_risk), 9) ELSE 0 END
        |      AS DECIMAL(28,9)) AS term,
        |    CASE WHEN n_death > 0 AND n_risk = n_death THEN 1 ELSE 0 END AS zf
        |  FROM rk),
        |cum AS (SELECT *, sum(term) OVER w AS cumterm, sum(zf) OVER w AS cumzf FROM tm
        |  WINDOW w AS (ORDER BY t_min ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(t_min AS BIGINT) AS t_min, n_risk, n_death, n_censor,
        |  CASE WHEN cumzf > 0 THEN 0.0
        |       ELSE round(exp(CAST(cumterm AS DOUBLE)), 6) END AS survival
        |FROM cum WHERE t_min <= 180 ORDER BY t_min""".stripMargin),

    // --- Differentially-private counts with REPRODUCIBLE seeded
    //     noise: per-type event counts + Laplace(1/ε) noise (ε = 1)
    //     drawn by inverse CDF from an md5-derived uniform — the
    //     privacy-preserving reporting shape, made deterministic so
    //     two engines (and re-runs on any cluster) publish the SAME
    //     noisy number. u = (h + ½)/2²⁴ from the first 6 md5 hex
    //     digits of the seeded key; ln(1 − 2|u−½|) decomposes as
    //     ln(2²⁴ − |2h+1−2²⁴|) − 24·ln 2 — both ln arguments are
    //     INTEGERS, so the draw is bitwise cross-engine. Map-only
    //     over the model-sized per-type frame. ---
    QuerySpec("q_dp_counts", (s, dir) => {
      val counts = t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n_true"))
      counts
        .withColumn("h",
          conv(substring(md5(concat(lit("dp1|"), col("event_type"))), 1, 6), 16, 10)
            .cast("long"))
        .withColumn("m", lit(2L) * col("h") + 1 - lit(1L << 24))
        .withColumn("lnarg", lit(1L << 24) - abs(col("m")))
        .withColumn("noise",
          round(-signum(col("m").cast("double")) *
            (round(log(col("lnarg")), 9) - lit(24.0) * round(log(lit(2L)), 9)), 6))
        .select(col("event_type"), col("n_true"),
          round(col("n_true").cast("double") + col("noise"), 6).as("n_noisy"))
        .orderBy("event_type")
    },
      """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
        |  FROM events GROUP BY event_type),
        |n AS (SELECT *,
        |    ('0x' || substring(md5('dp1|' || event_type), 1, 6))::BIGINT AS h FROM c),
        |m AS (SELECT *, 2*h + 1 - 16777216 AS mm, 16777216 - abs(2*h + 1 - 16777216) AS lnarg FROM n)
        |SELECT event_type, n_true,
        |  round(CAST(n_true AS DOUBLE) +
        |    round(-sign(mm) * (round(ln(lnarg), 9) - 24.0 * round(ln(2), 9)), 6), 6) AS n_noisy
        |FROM m ORDER BY event_type""".stripMargin),

    // --- Luhn checksum screen over zero-padded numeric identifiers:
    //     the transposition/typo detector behind every card-number,
    //     IMEI, and national-id validity check — here run as a
    //     data-quality audit over the customer key space (share of
    //     16-digit-normalized ids passing the mod-10 check ≈ 1/10 on
    //     clean sequential data; a drift from that flags corrupt
    //     ingest). Pure in-row integer fold over the 16 digit
    //     positions — map-only, one count aggregate. ---
    QuerySpec("q_luhn_check", (s, dir) =>
      t(s, dir, "customer")
        .withColumn("pan", lpad(col("c_custkey").cast("string"), 16, "0"))
        .withColumn("luhn", expr(
          """aggregate(sequence(1, 16), 0, (acc, i) ->
            |  acc + CASE WHEN i % 2 = 1
            |    THEN CASE WHEN 2 * CAST(substring(pan, i, 1) AS INT) > 9
            |      THEN 2 * CAST(substring(pan, i, 1) AS INT) - 9
            |      ELSE 2 * CAST(substring(pan, i, 1) AS INT) END
            |    ELSE CAST(substring(pan, i, 1) AS INT) END)""".stripMargin))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("luhn") % 10 === 0, 1L).otherwise(0L)).as("n_valid"))
        .select(col("n_total"), col("n_valid"),
          round(col("n_valid").cast("double") / col("n_total"), 6).as("valid_share")),
      """WITH p AS (SELECT lpad(CAST(c_custkey AS VARCHAR), 16, '0') AS pan FROM customer),
        |l AS (SELECT list_sum([CASE WHEN i % 2 = 1
        |    THEN CASE WHEN 2 * CAST(substring(pan, i, 1) AS INT) > 9
        |      THEN 2 * CAST(substring(pan, i, 1) AS INT) - 9
        |      ELSE 2 * CAST(substring(pan, i, 1) AS INT) END
        |    ELSE CAST(substring(pan, i, 1) AS INT) END
        |    FOR i IN range(1, 17)]) AS luhn FROM p)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN luhn % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  round(sum(CASE WHEN luhn % 10 = 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS valid_share
        |FROM l""".stripMargin),

    // --- Contrastive training pairs from the near-dup graph: each
    //     MinHash-LSH pair becomes (anchor, positive); the negative is
    //     mined per anchor from a FIXED 64-doc candidate pool (the
    //     globally hash-minimal doc ids — one distributed TakeOrdered
    //     over the corpus) as the anchor-salted-hash-minimal pool member
    //     that is neither the anchor nor any of its near-dups — the
    //     standard (a, p, n) triplet export, fully deterministic (md5
    //     ranks ⇒ partitioning- and growth-stable choice), and the
    //     per-anchor salt keeps negatives DIVERSE across anchors. Scale
    //     shape: the corpus contributes one scan (pool TakeOrdered);
    //     candidates are anchors × 64, both broadcast — the sf1 anchor
    //     measured the previous anchors × CORPUS cross join at 9.2×
    //     growth for 10× data (both factors grow with the corpus), where
    //     this pool form is linear. Pool-exhaustion (an anchor with all
    //     64 pool docs as near-dups) would drop that anchor's triplets;
    //     degree ≥ 64 inside a 64-doc uniform sample is vanishing at any
    //     real dup rate. Swap the pool for an ANN candidate stage to
    //     make these HARD negatives (see Similarity.hardNegatives). ---
    QuerySpec("a_contrastive_pairs", (s, dir) => {
      val d = docs(s, dir)
      val pairs = graft.operators.Dedup.minhashLsh(d, "doc_id", "text")
        .select(col("d1"), col("d2"))
      val anchors = pairs.select(col("d1").as("anchor")).distinct()
      val excl = pairs.select(col("d1").as("anchor"), col("d2").as("other"))
        .union(pairs.select(col("d2").as("anchor"), col("d1").as("other")))
        .distinct()
      val pool = d.select(col("doc_id"),
          md5(col("doc_id").cast("string")).as("ph"))
        .orderBy(col("ph").asc, col("doc_id").asc).limit(64)
        .select("doc_id")
      val cand = broadcast(anchors)
        .crossJoin(broadcast(pool))
        .filter(col("doc_id") =!= col("anchor"))
        .join(excl.withColumnRenamed("other", "doc_id"),
          Seq("anchor", "doc_id"), "left_anti")
      val negatives = cand
        .withColumn("hk",
          md5(concat(col("anchor").cast("string"), lit("#"),
            col("doc_id").cast("string"))))
        .groupBy("anchor")
        .agg(min(struct(col("hk"), col("doc_id"))).as("mn"))
        .select(col("anchor"), col("mn.doc_id").as("negative"))
      pairs.join(negatives, col("d1") === col("anchor"))
        .select(col("d1").as("anchor"), col("d2").as("positive"), col("negative"))
        .orderBy("anchor", "positive")
    },
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand0 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |          FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |pairs AS (SELECT d1, d2
         |  FROM cand0 JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |  GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |anch AS (SELECT DISTINCT d1 AS anchor FROM pairs),
         |excl AS (SELECT d1 AS anchor, d2 AS other FROM pairs
         |         UNION SELECT d2, d1 FROM pairs),
         |pool AS (SELECT doc_id FROM (SELECT doc_id, md5(doc_id::VARCHAR) AS ph
         |         FROM documents ORDER BY ph, doc_id LIMIT 64)),
         |cand AS (SELECT anchor, doc_id FROM anch CROSS JOIN pool
         |  WHERE doc_id <> anchor
         |    AND NOT EXISTS (SELECT 1 FROM excl e WHERE e.anchor = anch.anchor AND e.other = doc_id)),
         |neg AS (SELECT anchor, doc_id AS negative, row_number() OVER (PARTITION BY anchor
         |    ORDER BY md5(anchor::VARCHAR || '#' || doc_id::VARCHAR), doc_id) AS rn FROM cand)
         |SELECT d1 AS anchor, d2 AS positive, negative
         |FROM pairs JOIN (SELECT anchor, negative FROM neg WHERE rn = 1) n ON d1 = n.anchor
         |ORDER BY anchor, positive""".stripMargin),

    // --- Exact ROC AUC of a scalar quality signal as a classifier
    //     (EN-stopword share predicting lang = 'en'): AUC = the
    //     Mann–Whitney U identity (R₁ − n₁(n₁+1)/2)/(n₁n₀) over
    //     TIE-AVERAGED ranks — the threshold-free companion to the
    //     precision/recall sweep (t_classifier_pr). Ranks come from
    //     the per-distinct-score frame (cumulative counts + (c+1)/2
    //     averages, decimal-accumulated) — one score pass over docs,
    //     algebra over the distinct-score frame (the q_ranksum shape:
    //     the global window never sees raw rows, only distinct score
    //     values, bounded by the score's value grain). ---
    QuerySpec("t_classifier_auc", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stopEn = array(Seq("the", "and", "of", "to", "in", "is", "that", "for").map(lit): _*)
      val scored = docs(s, dir).select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("tk"))
        .select(col("y"),
          when(size(col("tk")) > 0,
            round(size(filter(col("tk"), x => array_contains(stopEn, x)))
              .cast("double") / size(col("tk")), 9)).otherwise(lit(0.0)).as("score"))
      val byv = scored.groupBy("score").agg(
        count(lit(1)).as("c"), sum(col("y")).as("c1"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ar = byv
        .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
        .withColumn("avgrank",
          col("below").cast("double") + (col("c") + 1).cast("double") / 2)
      ar.agg(
          sum(col("c1")).as("n1"), sum(col("c") - col("c1")).as("n0"),
          sum((col("c1").cast("double") * col("avgrank")).cast("decimal(38,6)"))
            .as("r1"))
        .select(col("n1"), col("n0"),
          round((col("r1").cast("double") -
            (col("n1") * (col("n1") + 1)).cast("double") / 2) /
            (col("n1") * col("n0")).cast("double"), 6).as("auc"))
    },
      s"""WITH sc AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN len($toks) > 0 THEN
         |      round(len(list_filter($toks, x -> list_contains($stopEn, x)))::DOUBLE
         |            / len($toks), 9)
         |    ELSE 0.0 END AS score
         |  FROM documents),
         |byv AS (SELECT score, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(y) AS BIGINT) AS c1 FROM sc GROUP BY score),
         |rk AS (SELECT *, coalesce(sum(c) OVER (ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM byv),
         |ar AS (SELECT c, c1, below::DOUBLE + (c + 1)::DOUBLE / 2 AS avgrank FROM rk),
         |st AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c - c1) AS BIGINT) AS n0,
         |    CAST(sum(CAST(c1::DOUBLE * avgrank AS DECIMAL(38,6))) AS DOUBLE) AS r1
         |  FROM ar)
         |SELECT n1, n0,
         |  round((r1 - (n1 * (n1 + 1))::DOUBLE / 2) / (n1 * n0)::DOUBLE, 6) AS auc
         |FROM st""".stripMargin),

    // --- Cohen's kappa between the n-gram language-ID prediction and
    //     the labeled language: chance-corrected agreement — the
    //     number that says whether the router is better than the
    //     label prior (raw accuracy can't). κ = (N·Σdiag − Σ r_c·s_c)
    //     / (N² − Σ r_c·s_c) over exact integer marginals of the
    //     confusion matrix — fully integer until ONE division. The
    //     'und' abstain column has no matching label, so its product
    //     term is zero by construction. ---
    QuerySpec("t_cohens_kappa", (s, dir) => {
      val d = docs(s, dir)
      val pred = graft.operators.TextAnalysis.langId(d, "doc_id", "text")
        .join(d.select("doc_id", "lang"), "doc_id")
      val n = pred.agg(count(lit(1)).as("n"))
      val diag = pred.agg(
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L)).as("ndiag"))
      val rowm = pred.groupBy(col("lang").as("cat")).agg(count(lit(1)).as("r"))
      val colm = pred.groupBy(col("pred_lang").as("cat")).agg(count(lit(1)).as("c"))
      val cross = rowm.join(colm, "cat")
        .agg(sum(col("r") * col("c")).as("rc"))
      n.crossJoin(diag).crossJoin(cross)
        .select(col("n"), col("ndiag"), col("rc"),
          round((col("n") * col("ndiag") - col("rc")).cast("double") /
            (col("n") * col("n") - col("rc")).cast("double"), 6).as("kappa"))
    },
      s"""WITH pred AS ($predLang),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS ndiag
         |  FROM pred),
         |rm AS (SELECT lang AS cat, CAST(count(*) AS BIGINT) AS r FROM pred GROUP BY lang),
         |cm AS (SELECT pred_lang AS cat, CAST(count(*) AS BIGINT) AS c FROM pred GROUP BY pred_lang),
         |x AS (SELECT CAST(sum(r * c) AS BIGINT) AS rc FROM rm JOIN cm USING (cat))
         |SELECT n, ndiag, rc,
         |  round((n * ndiag - rc)::DOUBLE / (n * n - rc)::DOUBLE, 6) AS kappa
         |FROM n CROSS JOIN x""".stripMargin),

    // --- Blocklist screen with obfuscation canonicalization: terms
    //     are matched AFTER a leetspeak fold (4→a, 3→e, 0→o, 1→l,
    //     !→i, 7→t, $→s, 5→s) so "sp4m" and "spam" hit the same
    //     entry — the wordlist-filter stage of C4/RefinedWeb-style
    //     curation, which breaks trivially without canonicalization.
    //     Map-only: translate + tokenize + in-row membership count,
    //     one per-source aggregate. ---
    QuerySpec("t_blocklist", (s, dir) => {
      val terms = array(Seq("slow", "dup", "spam").map(lit): _*)
      docs(s, dir)
        .withColumn("tk", expr(
          "regexp_extract_all(translate(lower(text), '4@301!7$5', 'aaeoliits'), '[a-z]+', 0)"))
        .withColumn("hits",
          size(filter(col("tk"), x => array_contains(terms, x))).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("hits")).as("total_hits"))
        .select(col("source"), col("n_docs"), col("n_flagged"), col("total_hits"),
          round(col("n_flagged").cast("double") / col("n_docs"), 6).as("flag_share"))
        .orderBy("source")
    },
      """WITH d AS (SELECT source,
        |    len(list_filter(
        |      regexp_extract_all(translate(lower(text), '4@301!7$5', 'aaeoliits'), '[a-z]+'),
        |      x -> list_contains(['slow','dup','spam'], x)))::BIGINT AS hits
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(hits) AS BIGINT) AS total_hits,
        |  round(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS flag_share
        |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // --- k-anonymity audit (k = 5) over customer quasi-identifiers
    //     (nation, market segment, balance band): how many
    //     quasi-identifier combinations isolate fewer than k people,
    //     and what share of rows they expose — the release gate run
    //     before any per-group table leaves the pipeline (the DP
    //     counts entry is the mitigation; this is the detector).
    //     One groupBy + one aggregate over the group frame. ---
    QuerySpec("q_k_anonymity", (s, dir) => {
      val g = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_band"))
        .agg(count(lit(1)).as("gn"))
      g.agg(
          sum(col("gn")).as("n_rows"),
          count(lit(1)).as("n_groups"),
          sum(when(col("gn") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("gn") < 5, col("gn")).otherwise(0L)).as("n_rows_at_risk"))
        .select(col("n_rows"), col("n_groups"), col("n_small_groups"),
          col("n_rows_at_risk"),
          round(col("n_rows_at_risk").cast("double") / col("n_rows"), 6)
            .as("risk_share"))
    },
      """WITH g AS (SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS bal_band,
        |    CAST(count(*) AS BIGINT) AS gn
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(sum(gn) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN gn < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
        |  CAST(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  round(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END)::DOUBLE / sum(gn), 6) AS risk_share
        |FROM g""".stripMargin),

    // --- l-diversity audit (Machanavajjhala et al. 2007): k-anonymity's
    //     blind spot — a large group whose SENSITIVE attribute is
    //     uniform still discloses it. Per quasi-identifier group, l =
    //     distinct sensitive values; report the minimum and the rows in
    //     fully-disclosed (l=1) groups. One groupBy + one summary. ---
    QuerySpec("q_l_diversity", (s, dir) => {
      val g = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          year(to_date(col("o_orderdate"))).as("o_year"))
        .agg(count(lit(1)).as("gn"),
          count_distinct(col("o_orderstatus")).as("l"))
      g.agg(
          sum(col("gn")).as("n_rows"),
          count(lit(1)).as("n_groups"),
          min(col("l")).as("min_l"),
          sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_disclosed_groups"),
          sum(when(col("l") === 1, col("gn")).otherwise(0L)).as("n_rows_disclosed"))
        .select(col("n_rows"), col("n_groups"), col("min_l"),
          col("n_disclosed_groups"), col("n_rows_disclosed"),
          round(col("n_rows_disclosed").cast("double") / col("n_rows"), 6)
            .as("disclosed_share"))
    },
      """WITH g AS (SELECT o_orderpriority, year(o_orderdate::DATE) AS o_year,
        |    CAST(count(*) AS BIGINT) AS gn,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(sum(gn) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(min(l) AS BIGINT) AS min_l,
        |  CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_disclosed_groups,
        |  CAST(sum(CASE WHEN l = 1 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_disclosed,
        |  round(sum(CASE WHEN l = 1 THEN gn ELSE 0 END)::DOUBLE / sum(gn), 6) AS disclosed_share
        |FROM g""".stripMargin),

    // --- t-closeness audit (Li, Li & Venkatasubramanian 2007):
    //     l-diversity's blind spot — a group can be diverse yet still
    //     SKEWED far from the global sensitive distribution. Per QI
    //     group, TV distance = ½·Σ_s |p_group(s) − p_global(s)| over a
    //     dense group×status grid (absent statuses contribute p_global);
    //     terms 9-dp-rounded and decimal-summed (order-independent,
    //     engine-portable). All frames are group/status-sized models;
    //     only the base counts touch the corpus. ---
    QuerySpec("q_t_closeness", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority"),
        year(to_date(col("o_orderdate"))).as("o_year"),
        col("o_orderstatus").as("st"))
      // ONE corpus scan: the (group, status) count frame; total, global
      // and per-group counts are exact integer roll-ups of it (the
      // q_k_anonymity discipline — model-sized frames from here on)
      val gs = o.groupBy("o_orderpriority", "o_year", "st")
        .agg(count(lit(1)).as("gns"))
        .cache()
      val tot = gs.agg(sum(col("gns")).as("n"))
      val global = gs.groupBy("st").agg(sum(col("gns")).as("ns"))
      val groups = gs.groupBy("o_orderpriority", "o_year")
        .agg(sum(col("gns")).as("gn"))
      val terms = groups.crossJoin(global)
        .join(gs, Seq("o_orderpriority", "o_year", "st"), "left")
        .crossJoin(tot)
        .withColumn("term",
          round(abs(coalesce(col("gns"), lit(0L)).cast("double") / col("gn") -
            col("ns").cast("double") / col("n")), 9).cast("decimal(28,9)"))
      val tv = terms.groupBy("o_orderpriority", "o_year")
        .agg(round(sum(col("term")).cast("double") * 0.5, 6).as("tv"))
      tv.agg(count(lit(1)).as("n_groups"),
          round(max(col("tv")), 6).as("max_tv"),
          sum(when(col("tv") > 0.2, 1L).otherwise(0L)).as("n_groups_above"))
    },
      """WITH o AS (SELECT o_orderpriority, year(o_orderdate::DATE) AS o_year,
        |    o_orderstatus AS st FROM orders),
        |gs AS (SELECT o_orderpriority, o_year, st, CAST(count(*) AS BIGINT) AS gns
        |       FROM o GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(sum(gns) AS BIGINT) AS n FROM gs),
        |gdist AS (SELECT st, CAST(sum(gns) AS BIGINT) AS ns FROM gs GROUP BY st),
        |grp AS (SELECT o_orderpriority, o_year, CAST(sum(gns) AS BIGINT) AS gn
        |        FROM gs GROUP BY 1, 2),
        |grid AS (SELECT g.o_orderpriority, g.o_year, g.gn, gl.st, gl.ns
        |         FROM grp g CROSS JOIN gdist gl),
        |terms AS (SELECT grid.o_orderpriority, grid.o_year,
        |    CAST(round(abs(COALESCE(gs.gns, 0)::DOUBLE / grid.gn - grid.ns::DOUBLE / tot.n), 9)
        |      AS DECIMAL(28,9)) AS term
        |  FROM grid CROSS JOIN tot
        |  LEFT JOIN gs ON gs.o_orderpriority = grid.o_orderpriority
        |    AND gs.o_year = grid.o_year AND gs.st = grid.st),
        |tv AS (SELECT o_orderpriority, o_year,
        |         round(CAST(sum(term) AS DOUBLE) * 0.5, 6) AS tv
        |       FROM terms GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups, round(max(tv), 6) AS max_tv,
        |  CAST(sum(CASE WHEN tv > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_above
        |FROM tv""".stripMargin),

    // --- Referential-integrity audit across the star schema: orphan
    //     counts for every foreign key (lineitem→orders/part/supplier,
    //     orders→customer) in one report — the ingest data-quality
    //     gate before any join-based metric is trusted (an orphan
    //     silently DROPS rows from inner-join aggregates). Each
    //     relation is a LEFT ANTI join on its key — broadcast or
    //     shuffle-hash as the dim size dictates; counts only, no
    //     payload movement. ---
    QuerySpec("q_fk_orphans", (s, dir) => {
      def audit(child: DataFrame, key: String, parent: DataFrame,
                pkey: String, rel: String): DataFrame = {
        val nC = child.agg(count(lit(1)).as("n_child"))
        val nO = child.join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
          .agg(count(lit(1)).as("n_orphan"))
        nC.crossJoin(nO).select(lit(rel).as("relation"), col("n_child"),
          col("n_orphan"),
          round(col("n_orphan").cast("double") / col("n_child"), 6).as("orphan_share"))
      }
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      Seq(
        audit(li, "l_orderkey", ord, "o_orderkey", "lineitem->orders"),
        audit(li, "l_partkey", t(s, dir, "part"), "p_partkey", "lineitem->part"),
        audit(li, "l_suppkey", t(s, dir, "supplier"), "s_suppkey", "lineitem->supplier"),
        audit(ord, "o_custkey", t(s, dir, "customer"), "c_custkey", "orders->customer")
      ).reduce(_ unionAll _).orderBy("relation")
    },
      """SELECT 'lineitem->orders' AS relation,
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
        |  CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)) AS BIGINT) AS n_orphan,
        |  round((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders))::DOUBLE /
        |    (SELECT count(*) FROM lineitem), 6) AS orphan_share
        |UNION ALL SELECT 'lineitem->part',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part)) AS BIGINT),
        |  round((SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part))::DOUBLE /
        |    (SELECT count(*) FROM lineitem), 6)
        |UNION ALL SELECT 'lineitem->supplier',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier)) AS BIGINT),
        |  round((SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier))::DOUBLE /
        |    (SELECT count(*) FROM lineitem), 6)
        |UNION ALL SELECT 'orders->customer',
        |  CAST((SELECT count(*) FROM orders) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)) AS BIGINT),
        |  round((SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer))::DOUBLE /
        |    (SELECT count(*) FROM orders), 6)
        |ORDER BY relation""".stripMargin),

    // --- Embedding-space health card: mean squared norm, centroid
    //     norm, and the anisotropy share ‖μ‖²/E‖v‖² — the one-row
    //     diagnostic read before ANY cosine-based stage (a large
    //     common-mean component compresses cosine spread; the
    //     All-but-the-Top entry `a_ann_whitened` is the fix, this is
    //     the detector). One corpus pass for both row norms (in-row
    //     dot, 9 dp) and per-dim centroid sums (decimal-accumulated);
    //     the final algebra runs over the 64-row dim frame. ---
    QuerySpec("a_embed_diagnostics", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val sq = e.select(expr(
        """round(aggregate(embedding, cast(0.0 as double),
          |  (acc, x) -> acc + cast(x as double) * cast(x as double)), 9)""".stripMargin)
        .as("sq"))
      val tot = sq.agg(count(lit(1)).as("n"),
        sum(col("sq").cast("decimal(28,9)")).as("ssq"))
      val dims = e.select(posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("d")
        .agg(sum(round(col("x").cast("double"), 12).cast("decimal(30,12)")).as("sx"))
      val cent = dims.crossJoin(broadcast(tot))
        .select(round(col("sx").cast("double") / col("n"), 9).as("md"))
        .agg(sum(round(col("md") * col("md"), 9).cast("decimal(28,9)")).as("csq"))
      tot.crossJoin(cent).select(
        col("n").as("n_vecs"),
        round(col("ssq").cast("double") / col("n"), 6).as("mean_sq_norm"),
        round(col("csq").cast("double"), 6).as("centroid_sq_norm"),
        round(col("csq").cast("double") / (col("ssq").cast("double") / col("n")), 6)
          .as("anisotropy"))
    },
      """WITH e AS (SELECT embedding FROM embeddings),
        |sq AS (SELECT round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 9) AS sq
        |       FROM e),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(sq AS DECIMAL(28,9))) AS DOUBLE) AS ssq FROM sq),
        |dims AS (SELECT d.dim,
        |    CAST(sum(CAST(round(CAST(embedding[d.dim + 1] AS DOUBLE), 12) AS DECIMAL(30,12))) AS DOUBLE) AS sx
        |  FROM e, unnest(range(len(embedding))) AS d(dim) GROUP BY d.dim),
        |cent AS (SELECT CAST(sum(CAST(round(md * md, 9) AS DECIMAL(28,9))) AS DOUBLE) AS csq
        |  FROM (SELECT round(sx / n, 9) AS md FROM dims CROSS JOIN tot))
        |SELECT n AS n_vecs, round(ssq / n, 6) AS mean_sq_norm,
        |  round(csq, 6) AS centroid_sq_norm,
        |  round(csq / (ssq / n), 6) AS anisotropy
        |FROM tot CROSS JOIN cent""".stripMargin),

    // --- IVF recall-vs-nprobe curve from ONE scored frame: every
    //     candidate carries the MINIMUM probe rank that reaches it, so
    //     recall at nprobe ∈ {1,2,4} is three filters over the same
    //     candidates — not three index probes (the tuning sweep that
    //     prices probe cost against recall before fixing nprobe for a
    //     100 TB corpus; nprobe = K degenerates to the exact scan, so
    //     the curve must end at 1.0). Trained quantizer, broadcast
    //     probe side, candidate volume bounded by the largest swept
    //     nprobe. ---
    QuerySpec("a_ivf_nprobe_curve", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spark = s
      import spark.implicits._
      val e = t(s, dir, "embeddings")
      val q = graft.operators.Similarity.fixedQuerySample(e, "vec_id")
      val bf = graft.operators.Similarity
        .bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select("qid", "nid")
      val cents = graft.operators.Vectors
        .kmeansTrain(e, "vec_id", "embedding", k = 4, iters = 2)
      val assign = e.select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .withColumn("n_cid",
          graft.operators.Vectors.nearestCidExpr(col("nv"), cents))
      val probes = q.select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .select(col("qid"), col("qv"), posexplode(
          graft.operators.Vectors.nearestCidsExpr(col("qv"), cents, 4))
          .as(Seq("p0", "cid")))
        .withColumn("crk", col("p0") + 1)
      val cand = broadcast(probes)
        .join(assign, col("cid") === col("n_cid") && col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), col("crk"),
          graft.operators.Vectors.cosineNative(col("qv"), col("nv")).as("cos"))
        .groupBy("qid", "nid")
        .agg(min(col("crk")).as("mincrk"), max(col("cos")).as("cos"))
      val nps = Seq(1, 2, 4).toDF("nprobe")
      val ivf = cand.crossJoin(broadcast(nps))
        .filter(col("mincrk") <= col("nprobe"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("nprobe", "qid").orderBy(col("cos").desc, col("nid"))))
        .filter(col("rk") <= 5)
        .select("nprobe", "qid", "nid")
      val ex = bf.agg(count(lit(1)).as("nx"),
        countDistinct(col("qid")).as("n_queries"))
      val hits = ivf.join(bf, Seq("qid", "nid"))
        .groupBy("nprobe").agg(count(lit(1)).as("nh"))
      nps.join(hits, Seq("nprobe"), "left").crossJoin(broadcast(ex))
        .select(col("nprobe").cast("long").as("nprobe"), col("n_queries"),
          round(coalesce(col("nh"), lit(0L)).cast("double") / col("nx"), 6)
            .as("mean_recall"))
        .orderBy("nprobe")
    },
      s"""WITH ${graft.queries.OracleSamples.qsCte},
         |bf AS (
         |  SELECT qid, nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosAB DESC, b.vec_id) AS rk
         |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |    WHERE a.vec_id IN (SELECT vec_id FROM qs))
         |  WHERE rk <= 5),
         |c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 4),
         |a1 AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosD("e.embedding", "c.cv")} DESC, c.cid) AS rk
         |  FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
         |m1 AS (SELECT a1.cid, d.dim,
         |         CAST(sum(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
         |           / count(*) AS mv
         |       FROM a1 JOIN embeddings e USING (vec_id),
         |            unnest(range(1, len(e.embedding) + 1)) AS d(dim)
         |       GROUP BY a1.cid, d.dim),
         |c1 AS (SELECT c0.cid,
         |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
         |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
         |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
         |       GROUP BY c0.cid),
         |assign AS (SELECT nid, cid FROM (
         |  SELECT nid, cid, row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT e.vec_id AS nid, c.cid, ${cosD("e.embedding", "c.cv")} AS ccos
         |        FROM embeddings e CROSS JOIN c1 c)) WHERE crk = 1),
         |probes AS (SELECT qid, cid, crk FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
         |  FROM (SELECT q.vec_id AS qid, c.cid, ${cosD("q.embedding", "c.cv")} AS ccos
         |        FROM embeddings q CROSS JOIN c1 c WHERE q.vec_id IN (SELECT vec_id FROM qs))) WHERE crk <= 4),
         |cand AS (SELECT p.qid, a.nid, min(p.crk) AS mincrk,
         |         min(${cosD("x.embedding", "y.embedding")}) AS cos
         |       FROM probes p JOIN assign a ON p.cid = a.cid AND a.nid <> p.qid
         |       JOIN embeddings x ON x.vec_id = p.qid
         |       JOIN embeddings y ON y.vec_id = a.nid
         |       GROUP BY p.qid, a.nid),
         |nps AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
         |ivf AS (SELECT nprobe, qid, nid FROM (
         |  SELECT nprobe, qid, nid,
         |    row_number() OVER (PARTITION BY nprobe, qid ORDER BY cos DESC, nid) AS rk
         |  FROM cand JOIN nps ON mincrk <= nprobe) WHERE rk <= 5),
         |hit AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS nh
         |        FROM ivf JOIN bf USING (qid, nid) GROUP BY nprobe),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS nx,
         |       CAST(count(DISTINCT qid) AS BIGINT) AS n_queries FROM bf)
         |SELECT nprobe, n_queries,
         |  round(coalesce(nh, 0)::DOUBLE / nx, 6) AS mean_recall
         |FROM nps LEFT JOIN hit USING (nprobe) CROSS JOIN ex ORDER BY nprobe""".stripMargin),

    // --- Degree assortativity of the near-dup graph: Pearson r over
    //     stub-endpoint degrees (each edge counted in both
    //     orientations) — positive means hub docs duplicate hubs
    //     (boilerplate families), negative means star shapes (one
    //     template, many one-off copies). With the triangle census
    //     this is the structural diagnosis read before choosing the
    //     cluster-collapse policy. Exact integer moment sums over the
    //     edge list; degrees from one aggregate of the pair frame. ---
    QuerySpec("g_assortativity", (s, dir) => {
      // moment algebra lives in GraphStats.assortativity (differentially
      // fuzzed on adversarial random graphs by GraphFuzz)
      val pairs = graft.operators.Dedup
        .minhashLsh(docs(s, dir), "doc_id", "text")
        .select(col("d1"), col("d2"))
      graft.operators.GraphStats.assortativity(pairs)
    },
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |pairs AS (SELECT d1, d2
         |  FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |  GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT d1 AS v FROM pairs UNION ALL SELECT d2 FROM pairs) GROUP BY v),
         |stubs AS (SELECT ka.deg AS x, kb.deg AS y FROM pairs
         |  JOIN deg ka ON ka.v = d1 JOIN deg kb ON kb.v = d2),
         |sym AS (SELECT x, y FROM stubs UNION ALL SELECT y, x FROM stubs),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m2, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy FROM sym)
         |SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
         |  CASE WHEN m2*sxx - sx*sx > 0 THEN
         |    round((m2*sxy - sx*sx)::DOUBLE / (m2*sxx - sx*sx)::DOUBLE, 6) END AS assortativity
         |FROM m""".stripMargin),

    // --- Cumulative HLL ledger: per day, the RUNNING distinct-user
    //     estimate from register-max merges (the HLL union law applied
    //     over time) beside the exact running count — the incremental
    //     corpus/audience tracker shape: a stored (day, j, m_j) ledger
    //     answers "distinct as of ANY day" with per-register max, no
    //     re-scan of history. The dense day×register grid is day-grain ×
    //     64 rows — model-sized at any corpus scale; the only
    //     corpus-sized pass is the daily register build. ---
    QuerySpec("t_hll_ledger", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_n"),
        col("user_id"))
      val daily = graft.operators.Sketches.hllRegisters(ev, "day_n", "user_id")
      val days = ev.select("day_n").distinct()
      val grid = days.crossJoin(daily.select("j").distinct())
      val cum = grid.join(daily, Seq("day_n", "j"), "left")
        .withColumn("cm", max(col("m_j")).over(
          Window.partitionBy("j").orderBy("day_n")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cm").isNotNull)
        .select(col("day_n"), col("j"), col("cm").as("m_j"))
      val est = graft.operators.Sketches.hllEstimate(cum, "day_n")
      val firstDay = ev.groupBy("user_id").agg(min(col("day_n")).as("d0"))
        .groupBy("d0").agg(count(lit(1)).as("n_new"))
      val exact = days.join(firstDay, col("d0") <= col("day_n"))
        .groupBy("day_n").agg(sum(col("n_new")).as("n_exact_cum"))
      exact.join(est, "day_n")
        .select("day_n", "n_exact_cum", "hll_estimate")
        .orderBy("day_n")
    },
      """WITH ev AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_n,
        |    user_id FROM events),
        |h AS (SELECT DISTINCT day_n,
        |    ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv FROM ev),
        |r AS (SELECT day_n, hv & 63 AS j,
        |    CASE WHEN hv >> 6 = 0 THEN 55 ELSE 55 - length(bin(hv >> 6)) END AS rho FROM h),
        |reg AS (SELECT day_n, j, max(rho) AS m_j FROM r GROUP BY day_n, j),
        |days AS (SELECT DISTINCT day_n FROM ev),
        |grid AS (SELECT day_n, j FROM days CROSS JOIN (SELECT DISTINCT j FROM reg)),
        |cum AS (SELECT g.day_n, g.j,
        |    max(reg.m_j) OVER (PARTITION BY g.j ORDER BY g.day_n
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |  FROM grid g LEFT JOIN reg ON reg.day_n = g.day_n AND reg.j = g.j),
        |agg AS (SELECT day_n, count(*) AS n_nz,
        |    sum(CAST(2 ** (55 - cm) AS BIGINT)) AS s_present
        |  FROM cum WHERE cm IS NOT NULL GROUP BY day_n),
        |est AS (SELECT day_n, 64 - n_nz AS v0,
        |    s_present + (64 - n_nz) * CAST(2 ** 55 AS BIGINT) AS s_tot FROM agg),
        |fd AS (SELECT user_id, min(day_n) AS d0 FROM ev GROUP BY user_id),
        |nn AS (SELECT d0, count(*) AS n_new FROM fd GROUP BY d0),
        |ex AS (SELECT d.day_n, CAST(sum(n_new) AS BIGINT) AS n_exact_cum
        |       FROM days d JOIN nn ON nn.d0 <= d.day_n GROUP BY d.day_n)
        |SELECT day_n, n_exact_cum,
        |  round(CASE WHEN 0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
        |                  / s_tot <= 160.0 AND v0 > 0
        |             THEN 64::DOUBLE * ln(64::DOUBLE / v0)
        |             ELSE 0.709::DOUBLE * 4096::DOUBLE * 36028797018963968::DOUBLE
        |                  / s_tot END, 4) AS hll_estimate
        |FROM ex JOIN est USING (day_n) ORDER BY day_n""".stripMargin),

    // --- Cumulative DDSketch ledger: per day, the RUNNING p50/p99 of
    //     event value from bucket-count sums over a stored
    //     (day, bucket, cnt) ledger — quantiles as of ANY day with no
    //     history re-scan (the t_hll_ledger shape for quantiles; the
    //     oracle RE-SCANS the union per day, so the gate hash-proves
    //     ledger merge ≡ whole-history build). Grid is day-grain ×
    //     observed buckets — model-sized at any corpus scale. ---
    QuerySpec("t_ddsketch_ledger", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_n"),
        col("value"))
      val daily = graft.operators.Sketches.ddSketchBuild(ev, "day_n", "value")
      val days = ev.select("day_n").distinct()
      val grid = days.crossJoin(daily.select("bucket").distinct())
      val cum = grid.join(daily, Seq("day_n", "bucket"), "left")
        .withColumn("ccnt", sum(coalesce(col("cnt"), lit(0L))).over(
          Window.partitionBy("bucket").orderBy("day_n")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("ccnt") > 0)
        .select(col("day_n"), col("bucket"), col("ccnt").as("cnt"))
      graft.operators.Sketches.ddSketchQuantiles(cum, "day_n", Seq(0.5, 0.99))
        .orderBy("day_n")
    },
      // the ledger contract stated directly: per day, RE-SCAN the union of
      // all days <= d through the t_ddsketch bucket/walk algebra — the
      // Spark side must reproduce this from cumulative ledger sums alone
      {
        import OracleSketches._
        s"""WITH ev AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_n,
           |    value FROM events),
           |days AS (SELECT DISTINCT day_n FROM ev),
           |b AS (SELECT d.day_n,
           |    ${ddBucketSql("e.value")} AS bucket
           |  FROM days d JOIN ev e ON e.day_n <= d.day_n AND e.value > 0),
           |a AS (SELECT day_n, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
           |c AS (SELECT day_n, bucket,
           |    sum(cnt) OVER (PARTITION BY day_n ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
           |    sum(cnt) OVER (PARTITION BY day_n) AS n
           |  FROM a),
           |p AS (SELECT day_n, CAST(n AS BIGINT) AS n_rows,
           |    ${ddPickSql("0.5", "b50")},
           |    ${ddPickSql("0.99", "b99")}
           |  FROM c GROUP BY 1, 2)
           |SELECT day_n, n_rows,
           |  ${ddMidpointSql("b50", "p50_dd")},
           |  ${ddMidpointSql("b99", "p99_dd")}
           |FROM p ORDER BY day_n""".stripMargin
      }),

    // --- Modularity of the SOURCE partition over the near-dup graph
    //     (Newman 2006): Q_c = m_in/m − (d_c/2m)² per source — do
    //     near-duplicates concentrate within sources (high Q: dup
    //     removal can shard by source) or cross them (Q ≈ 0: global
    //     dedup required)? Edges = MinHash-LSH pairs; all quantities are
    //     exact integers until the final per-source division, and the
    //     pair frame is the same keyed equi-join every graph statistic
    //     here reads — no new corpus-sized work. ---
    QuerySpec("g_modularity", (s, dir) => {
      // partition-score algebra lives in GraphStats.modularity
      // (differentially fuzzed on adversarial random graphs by GraphFuzz)
      val d = docs(s, dir)
      val pairs = graft.operators.Dedup.minhashLsh(d, "doc_id", "text")
        .select(col("d1"), col("d2"))
      graft.operators.GraphStats.modularity(pairs,
          d.select(col("doc_id").as("v"), col("source").as("part")))
        .withColumnRenamed("part", "source")
    },
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |pairs AS (SELECT d1, d2
         |  FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |  GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |e AS (SELECT d1, d2, sa.source AS src1, sb.source AS src2 FROM pairs
         |  JOIN documents sa ON sa.doc_id = d1 JOIN documents sb ON sb.doc_id = d2),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT d1 AS v FROM pairs UNION ALL SELECT d2 FROM pairs) GROUP BY v),
         |ds AS (SELECT source, CAST(sum(deg) AS BIGINT) AS d_sum
         |       FROM deg JOIN documents ON doc_id = v GROUP BY source),
         |wi AS (SELECT src1 AS source, CAST(count(*) AS BIGINT) AS m_in
         |       FROM e WHERE src1 = src2 GROUP BY src1)
         |SELECT source, coalesce(m_in, 0)::BIGINT AS m_in, d_sum,
         |  round(coalesce(m_in, 0)::DOUBLE / m -
         |    (d_sum::DOUBLE / (2*m)) * (d_sum::DOUBLE / (2*m)), 6) AS q_part
         |FROM ds LEFT JOIN wi USING (source) CROSS JOIN m
         |ORDER BY source""".stripMargin),

    // --- community detection: synchronous label propagation over the
    //     near-dup LSH graph — the structure tier between components
    //     ("reachable at all", d_dedup_clusters) and modularity
    //     ("score a given partition", g_modularity): densely-connected
    //     groups, deterministically (neighbor-majority, min-label
    //     ties, fixed 4 synchronous rounds) ---
    QuerySpec("g_label_prop", (s, dir) => {
      val pairs = graft.operators.Dedup
        .minhashLsh(docs(s, dir), "doc_id", "text")
        .select(col("d1"), col("d2"))
      graft.operators.LabelPropagation.propagate(pairs, "d1", "d2", rounds = 4)
        .select(col("v").as("doc_id"), col("label").as("community"))
        .orderBy("doc_id")
    },
      // synchronous LPA replay: same LSH pair chain as d_dedup_clusters,
      // then 4 materialized neighbor-majority rounds (count desc, min
      // label) — mirror of LabelPropagation.propagate's window argmax
      {
        def lpaRound(i: Int) =
          s"""l$i AS MATERIALIZED (SELECT v, label FROM (
             |  SELECT e.v, p.label,
             |    row_number() OVER (PARTITION BY e.v ORDER BY count(*) DESC, p.label) AS rn
             |  FROM e JOIN l${i - 1} p ON p.v = e.u GROUP BY e.v, p.label)
             |  WHERE rn = 1)""".stripMargin
        s"""WITH sh AS (
           |  SELECT doc_id, unnest($sh3) AS s
           |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
           |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
           |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
           |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
           |         FROM sig GROUP BY doc_id, h // 4),
           |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |est AS (SELECT d1, d2 FROM cand JOIN sig x ON x.doc_id = d1
           |        JOIN sig y ON y.doc_id = d2 AND y.h = x.h
           |        GROUP BY d1, d2
           |        HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
           |e AS (SELECT d1 AS v, d2 AS u FROM est UNION ALL SELECT d2, d1 FROM est),
           |l0 AS (SELECT DISTINCT v, v AS label FROM e),
           |${lpaRound(1)},
           |${lpaRound(2)},
           |${lpaRound(3)},
           |${lpaRound(4)}
           |SELECT v AS doc_id, label AS community
           |FROM l4 ORDER BY doc_id""".stripMargin
      }),

    // --- Per-key quota enforcement (batch formulation of rate
    //     limiting): keep the first 3 events per (user, hour), report
    //     kept/dropped per event type — the ingestion-throttle audit
    //     (a runaway producer shows as a high drop share on one
    //     type). One window shuffle on (user, hour); fully tie-broken
    //     order makes the kept set replay-deterministic, which is
    //     what lets a backfill reproduce the online decision. ---
    QuerySpec("q_rate_limit", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").withColumn("hr",
        // exact-integer FLOOR division (pmod adjustment) — matches the
        // oracle's `//` on both sides of the epoch, with no double
        // quotient to misround at exact hour boundaries
        graft.streaming.EventStream.hourBucket("ts"))
      val ranked = ev.withColumn("rk", row_number().over(
        Window.partitionBy("user_id", "hr").orderBy(col("ts"), col("event_id"))))
      ranked.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("rk") <= 3, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rk") > 3, 1L).otherwise(0L)).as("n_dropped"))
        .select(col("event_type"), col("n_events"), col("n_kept"), col("n_dropped"),
          round(col("n_dropped").cast("double") / col("n_events"), 6).as("drop_share"))
        .orderBy("event_type")
    },
      """WITH r AS (SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
        |      ORDER BY ts, event_id) AS rk
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rk > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  round(sum(CASE WHEN rk > 3 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS drop_share
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    // --- Navigation window-function family over per-user event
    //     streams: first_value / last_value (explicit full frame —
    //     the default running frame silently truncates last_value),
    //     nth_value(2), and defaulted lag/lead in ONE window pass —
    //     the SQL-surface row that proves frame semantics match the
    //     oracle engine exactly. Restricted to the user_id % 100
    //     sample to keep the gate frame bounded; the window shuffles
    //     once on user. ---
    QuerySpec("q_window_family", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").filter(col("user_id") % 100 === 0)
        .select(col("user_id"), col("event_id"),
          first(col("event_type")).over(full).as("first_et"),
          last(col("event_type")).over(full).as("last_et"),
          nth_value(col("event_type"), 2).over(full).as("second_et"),
          lag(col("value"), 1, -1.0).over(run).as("prev_val"),
          lead(col("value"), 1, -1.0).over(run).as("next_val"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        |  first_value(event_type) OVER fw AS first_et,
        |  last_value(event_type) OVER fw AS last_et,
        |  nth_value(event_type, 2) OVER fw AS second_et,
        |  lag(value, 1, -1.0) OVER rw AS prev_val,
        |  lead(value, 1, -1.0) OVER rw AS next_val
        |FROM events WHERE user_id % 100 = 0
        |WINDOW fw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |  rw AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin),

    // --- Per-group OLS trend (slope, intercept, R²) of daily volume
    //     by event type: the effect-size companion to the
    //     Mann-Kendall significance screen (MK says WHETHER volume
    //     drifts; this says HOW FAST and how linear). Every moment is
    //     an exact int64 over the day-grain frame; slope/intercept/R²
    //     take identically-shaped double steps at the end. ---
    QuerySpec("q_grouped_ols", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("deny", col("n") * col("syy") - col("sy") * col("sy"))
        .select(col("event_type"), col("n"),
          when(col("den") > 0,
            round(col("num").cast("double") / col("den").cast("double"), 6)).as("slope"),
          when(col("den") > 0,
            round((col("sy").cast("double") -
              col("num").cast("double") / col("den").cast("double") *
                col("sx").cast("double")) / col("n"), 6)).as("intercept"),
          when(col("den") > 0 && col("deny") > 0,
            round(col("num").cast("double") * col("num").cast("double") /
              (col("den").cast("double") * col("deny").cast("double")), 6)).as("r2"))
        .orderBy("event_type")
    },
      """WITH d AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
        |    CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM d GROUP BY event_type),
        |v AS (SELECT *, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
        |    n*syy - sy*sy AS deny FROM m)
        |SELECT event_type, n,
        |  CASE WHEN den > 0 THEN round(num::DOUBLE / den::DOUBLE, 6) END AS slope,
        |  CASE WHEN den > 0 THEN
        |    round((sy::DOUBLE - num::DOUBLE / den::DOUBLE * sx::DOUBLE) / n, 6) END AS intercept,
        |  CASE WHEN den > 0 AND deny > 0 THEN
        |    round(num::DOUBLE * num::DOUBLE / (den::DOUBLE * deny::DOUBLE), 6) END AS r2
        |FROM v ORDER BY event_type""".stripMargin),

    // --- Quota accounting per (user, hour) — the batch face of the
    //     streaming mapGroupsWithState counter (EventStream.quotaCounts,
    //     MemoryStream parity spec-asserted): totals vs the first-3
    //     budget as a pure function of the COUNT, which is exactly the
    //     property that makes the streaming twin order-insensitive and
    //     replay-deterministic. One map-side-combined aggregate. ---
    QuerySpec("st_quota_counts", (s, dir) =>
      graft.streaming.EventStream
        .quotaCountsBatch(t(s, dir, "events"), n = 3)
        .orderBy("user_id", "hr"),
      """SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(least(count(*), 3) AS BIGINT) AS n_kept,
        |  CAST(greatest(count(*) - 3, 0) AS BIGINT) AS n_dropped
        |FROM events GROUP BY 1, 2 ORDER BY user_id, hr""".stripMargin),

    // --- Bloom filter FPR calibration: build on the even-id corpus
    //     half, probe the odd half, and MEASURE the false-positive
    //     rate against exact membership (md5 anti-join ground truth) —
    //     the eval that decides m/k before a Bloom pre-filter fronts a
    //     100 TB ingest join (d_bloom_ingest is the deployment; this
    //     prices it). Also reports the exact bit load Σpopcount/m —
    //     the saturation number the theoretical FPR curve keys on.
    //     True members must ALL be flagged (no false negatives — the
    //     Bloom contract, spec-asserted). ---
    QuerySpec("t_bloom_fpr", (s, dir) => {
      val d = docs(s, dir)
      val m = 1 << 16
      val build = d.filter(col("doc_id") % 2 === 0)
      val words = graft.operators.Sketches.bloomCollect(
        graft.operators.Sketches.bloomBuild(build, "text", m, numHashes = 5), m)
      val bitsSet = words.map(java.lang.Long.bitCount).sum.toLong
      val probes = graft.operators.Sketches.bloomProbe(
          d.filter(col("doc_id") % 2 =!= 0), "text", words, m, numHashes = 5)
        .join(build.select(md5(col("text")).as("bh")).distinct()
            .select(col("bh"), lit(1L).as("is_member")),
          md5(col("text")) === col("bh"), "left")
      probes.agg(
          count(lit(1)).as("n_probes"),
          sum(coalesce(col("is_member"), lit(0L))).as("n_true_members"),
          sum(when(col("maybe_present"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(col("maybe_present") && col("is_member").isNull, 1L)
            .otherwise(0L)).as("n_false_pos"))
        .select(col("n_probes"), col("n_true_members"), col("n_flagged"),
          col("n_false_pos"),
          round(col("n_false_pos").cast("double") /
            (col("n_probes") - col("n_true_members")), 6).as("measured_fpr"),
          lit(bitsSet).as("bits_set"),
          round(lit(bitsSet).cast("double") / m, 6).as("bit_load"))
    },
      """WITH ck AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |chh AS (SELECT ('0x' || substring(h, 1, 15))::BIGINT % 65536 AS h1,
        |               ('0x' || substring(h, 16, 15))::BIGINT % 65536 AS h2r FROM ck),
        |bloom AS (SELECT pos // 32 AS word_idx,
        |            bit_or(CAST(2 ** (pos % 32) AS BIGINT)) AS bits
        |          FROM (SELECT (h1 + i * (h2r + 1 - (h2r % 2))) % 65536 AS pos
        |                FROM chh, range(0, 5) t(i))
        |          GROUP BY word_idx),
        |load AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set FROM bloom),
        |bhh AS (SELECT doc_id, h,
        |          ('0x' || substring(h, 1, 15))::BIGINT % 65536 AS h1,
        |          ('0x' || substring(h, 16, 15))::BIGINT % 65536 AS h2r
        |        FROM (SELECT doc_id, md5(text) AS h FROM documents
        |              WHERE doc_id % 2 <> 0)),
        |bp AS (SELECT doc_id, h, (h1 + i * (h2r + 1 - (h2r % 2))) % 65536 AS pos
        |       FROM bhh, range(0, 5) t(i)),
        |probe AS (SELECT doc_id, any_value(h) AS h,
        |            bool_and((coalesce(b.bits, 0) & CAST(2 ** (bp.pos % 32) AS BIGINT)) <> 0) AS hit
        |          FROM bp LEFT JOIN bloom b ON b.word_idx = bp.pos // 32
        |          GROUP BY doc_id),
        |mem AS (SELECT DISTINCT h, 1 AS is_member FROM ck),
        |j AS (SELECT p.doc_id, p.hit, m.is_member FROM probe p
        |      LEFT JOIN mem m ON m.h = p.h),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |    CAST(sum(coalesce(is_member, 0)) AS BIGINT) AS n_true_members,
        |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |    CAST(sum(CASE WHEN hit AND is_member IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        |  FROM j)
        |SELECT n_probes, n_true_members, n_flagged, n_false_pos,
        |  round(n_false_pos::DOUBLE / (n_probes - n_true_members), 6) AS measured_fpr,
        |  bits_set, round(bits_set::DOUBLE / 65536, 6) AS bit_load
        |FROM agg CROSS JOIN load""".stripMargin),

    // --- Pseudo-relevance-feedback query expansion (RM3-lite): seed
    //     BM25 pass → top-10 feedback docs → top-3 expansion terms by
    //     feedback frequency (seeds excluded, count-desc/term-asc
    //     tiebreak) → re-rank with the expanded term set. The
    //     recall-raising retrieval stage between lexical search and
    //     the dense tier. Expansion terms are a 3-row MODEL collect
    //     (the centroid/codebook budget class); the rerank sums
    //     per-term contributions ROUNDED AT 9 DP INTO DECIMAL, so the
    //     cross-term addition is order-free — which is what lets the
    //     oracle compute the same score via a generic term JOIN while
    //     Spark unrolls plan-time columns. ---
    QuerySpec("a_prf_expansion", (s, dir) => {
      import graft.functions.TextFunctions.tokens
      val seed = Seq("spark", "join")
      val d = docs(s, dir)
      val fb = graft.operators.Similarity
        .bm25TopK(d, "doc_id", "text", seed, k = 10).select("doc_id")
      val expansion = d.join(fb, "doc_id")
        .select(explode(tokens(col("text"))).as("term"))
        .filter(!col("term").isin(seed: _*))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term").asc).limit(3)
        .collect().map(_.getString(0)).toSeq
      val all = seed ++ expansion
      val base = d.select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id") +: size(col("t")).cast("long").as("dl") +:
          all.indices.map(i => size(filter(col("t"), x => x === all(i)))
            .cast("long").as(s"tf_$i")): _*)
      val statCols = count(lit(1)).as("n_docs") +:
        (sum(col("dl").cast("decimal(30,6)")).cast("double") / count(lit(1)))
          .as("avgdl") +:
        all.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      val contribs = all.indices.map { i =>
        val tf = col(s"tf_$i").cast("double")
        val idf = log((col("n_docs").cast("double") - col(s"df_$i") + 0.5) /
          (col(s"df_$i") + 0.5) + 1.0)
        round(idf * (tf * 2.2) /
          (tf + lit(1.2) * (lit(0.25) +
            when(col("avgdl") > 0, lit(0.75) * col("dl").cast("double") / col("avgdl"))
              .otherwise(lit(0.0)))), 9).cast("decimal(28,9)")
      }
      import org.apache.spark.sql.expressions.Window
      base.join(broadcast(stats))
        .select(col("doc_id"), col("dl"),
          round(contribs.reduce(_ + _).cast("double"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .orderBy("rk")
    },
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |f AS (SELECT doc_id, len(t)::BIGINT AS dl,
         |        len(list_filter(t, x -> x = 'spark'))::BIGINT AS tf_0,
         |        len(list_filter(t, x -> x = 'join'))::BIGINT AS tf_1
         |      FROM base),
         |s AS (SELECT count(*) AS n_docs,
         |        CAST(sum(CAST(dl AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avgdl,
         |        sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
         |        sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1
         |      FROM f),
         |seedscore AS (SELECT doc_id, round(
         |    ln((n_docs::DOUBLE - df_0 + 0.5) / (df_0 + 0.5) + 1.0) * (tf_0::DOUBLE * (1.2 + 1.0)) / (tf_0::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / avgdl))
         |  + ln((n_docs::DOUBLE - df_1 + 0.5) / (df_1 + 0.5) + 1.0) * (tf_1::DOUBLE * (1.2 + 1.0)) / (tf_1::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE / avgdl)), 6) AS score
         |  FROM f CROSS JOIN s),
         |fb AS (SELECT doc_id FROM seedscore ORDER BY score DESC, doc_id LIMIT 10),
         |ft AS (SELECT term, count(*) AS c
         |  FROM (SELECT unnest(t) AS term FROM base JOIN fb USING (doc_id))
         |  WHERE term NOT IN ('spark', 'join')
         |  GROUP BY term ORDER BY c DESC, term LIMIT 3),
         |terms AS (SELECT 'spark' AS term UNION ALL SELECT 'join'
         |  UNION ALL SELECT term FROM ft),
         |tf2 AS (SELECT b.doc_id, len(b.t)::BIGINT AS dl, tm.term,
         |    len(list_filter(b.t, x -> x = tm.term))::BIGINT AS tf
         |  FROM base b CROSS JOIN terms tm),
         |df2 AS (SELECT term, CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
         |  FROM tf2 GROUP BY term),
         |sc2 AS (SELECT doc_id, dl, round(CAST(sum(
         |    CAST(round(ln((n_docs::DOUBLE - df + 0.5) / (df + 0.5) + 1.0)
         |      * (tf::DOUBLE * 2.2) /
         |      (tf::DOUBLE + 1.2 * (0.25 + CASE WHEN avgdl > 0
         |        THEN 0.75 * dl::DOUBLE / avgdl ELSE 0.0 END)), 9) AS DECIMAL(28,9))
         |  ) AS DOUBLE), 6) AS score
         |  FROM tf2 JOIN df2 USING (term) CROSS JOIN s
         |  GROUP BY doc_id, dl)
         |SELECT doc_id, dl, score,
         |  row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rk
         |FROM sc2 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // --- Moving-average type-token ratio (MATTR, Covington & McFall
    //     2010): lexical diversity that — unlike raw TTR — does not
    //     collapse with document length (TTR of a long doc is low
    //     even for rich text, so cross-length comparisons lie).
    //     Mean over all 20-token windows of distinct/20, as an IN-ROW
    //     fold (window starts → array_distinct of each slice) — zero
    //     shuffles beyond the per-language mean; short docs fall back
    //     to plain TTR. Integer numerators, one division per doc
    //     rounded 6 dp, per-language decimal mean. ---
    QuerySpec("t_mattr", (s, dir) => {
      import graft.functions.TextFunctions.tokens
      val w = 20
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        tokens(col("text")).as("t"))
      val scored = d.select(col("doc_id"), col("lang"),
        when(size(col("t")) === 0, lit(null).cast("double"))
          .when(size(col("t")) <= w,
            round(size(array_distinct(col("t"))).cast("double") / size(col("t")), 6))
          .otherwise(round(
            expr(s"""aggregate(sequence(1, size(t) - $w + 1), 0L,
                    |  (acc, i) -> acc + size(array_distinct(slice(t, i, $w))))""".stripMargin)
              .cast("double") / ((size(col("t")) - w + 1) * w), 6)).as("mattr"))
      scored.groupBy("lang")
        .agg(count(col("mattr")).as("n_docs"),
          sum(col("mattr").cast("decimal(18,6)")).as("msum"))
        .select(col("lang"), col("n_docs"),
          round(col("msum").cast("double") / col("n_docs"), 6).as("mean_mattr"))
        .orderBy("lang")
    },
      s"""WITH d AS (SELECT doc_id, lang, $toks AS t FROM documents),
         |sc AS (SELECT doc_id, lang, CASE
         |    WHEN len(t) = 0 THEN NULL
         |    WHEN len(t) <= 20 THEN round(len(list_distinct(t))::DOUBLE / len(t), 6)
         |    ELSE round(list_sum(list_transform(range(1, len(t) - 20 + 2),
         |        i -> len(list_distinct(t[i:i+19]))))::DOUBLE
         |      / ((len(t) - 20 + 1) * 20), 6) END AS mattr
         |  FROM d)
         |SELECT lang, CAST(count(mattr) AS BIGINT) AS n_docs,
         |  round(CAST(sum(CAST(mattr AS DECIMAL(18,6))) AS DOUBLE) / count(mattr), 6) AS mean_mattr
         |FROM sc GROUP BY lang ORDER BY lang""".stripMargin),

    // --- New vs returning users per day: the growth dashboard's
    //     first split (is today's traffic acquisition or retention?).
    //     First-seen day from ONE min-aggregate over events; each
    //     day's actives split by comparing against it — no per-day
    //     distinct rescans (the O(n) discipline of
    //     q_running_distinct). ---
    QuerySpec("q_new_vs_returning", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_n"))
      val active = ev.distinct()
      val firstSeen = active.groupBy("user_id").agg(min(col("day_n")).as("d0"))
      active.join(firstSeen, "user_id")
        .groupBy("day_n")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day_n") === col("d0"), 1L).otherwise(0L)).as("n_new"))
        .select(col("day_n"), col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"),
          round(col("n_new").cast("double") / col("n_active"), 6).as("new_share"))
        .orderBy("day_n")
    },
      """WITH ev AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_n FROM events),
        |fs AS (SELECT user_id, min(day_n) AS d0 FROM ev GROUP BY user_id)
        |SELECT day_n, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN day_n = d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(count(*) - sum(CASE WHEN day_n = d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |  round(sum(CASE WHEN day_n = d0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS new_share
        |FROM ev JOIN fs USING (user_id)
        |GROUP BY day_n ORDER BY day_n""".stripMargin),

    // --- Cross-method near-dup agreement: Jaccard between the
    //     MinHash-LSH pair set and the SimHash-pigeonhole pair set —
    //     the audit run before trusting EITHER detector's threshold
    //     (high agreement = robust dup signal; low = the corpus sits
    //     near one method's blind spot: MinHash sees shingle overlap,
    //     SimHash weighted token profiles). Both pair frames already
    //     exist as operators; the agreement is two counts + one join
    //     over pair keys. ---
    QuerySpec("d_method_agreement", (s, dir) => {
      val d = docs(s, dir)
      val mh = graft.operators.Dedup.minhashLsh(d, "doc_id", "text")
        .select(col("d1"), col("d2"))
      val sh = graft.operators.Dedup.simhashNearDup(d, "doc_id", "text")
        .select(col("d1"), col("d2"))
      val nm = mh.agg(count(lit(1)).as("n_minhash"))
      val ns = sh.agg(count(lit(1)).as("n_simhash"))
      val nb = mh.join(sh, Seq("d1", "d2")).agg(count(lit(1)).as("n_both"))
      nm.crossJoin(ns).crossJoin(nb).select(
        col("n_minhash"), col("n_simhash"), col("n_both"),
        when(col("n_minhash") + col("n_simhash") - col("n_both") > 0,
          round(col("n_both").cast("double") /
            (col("n_minhash") + col("n_simhash") - col("n_both")), 6))
          .as("agreement_jaccard"))
    },
        s"""WITH sh0 AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh0 CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |mhp AS (SELECT d1, d2
         |  FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |  GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |th AS (SELECT doc_id, w, count(*) AS cnt, md5(w) AS h FROM tok GROUP BY doc_id, w),
         |bits AS (SELECT doc_id, b,
         |    sum(CASE WHEN $bit = 1 THEN cnt ELSE -cnt END) AS score
         |  FROM th CROSS JOIN (SELECT unnest(range(48)) AS b) GROUP BY doc_id, b),
         |shh AS (SELECT doc_id, sum(CASE WHEN score > 0 THEN (2 ** b)::BIGINT ELSE 0 END)::BIGINT AS s
         |       FROM bits GROUP BY doc_id),
         |chunked AS (SELECT doc_id, s, c, (s // (2 ** (c * 12))::BIGINT) % 4096 AS ck
         |            FROM shh CROSS JOIN (SELECT unnest(range(4)) AS c)),
         |scand AS (SELECT DISTINCT a.doc_id AS d1, a.s AS s1, b.doc_id AS d2, b.s AS s2
         |         FROM chunked a JOIN chunked b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id),
         |shp AS (SELECT d1, d2 FROM scand WHERE bit_count(xor(s1, s2)) <= 3),
         |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_minhash FROM mhp),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_simhash FROM shp),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_both FROM mhp JOIN shp USING (d1, d2))
         |SELECT n_minhash, n_simhash, n_both,
         |  CASE WHEN n_minhash + n_simhash - n_both > 0 THEN
         |    round(n_both::DOUBLE / (n_minhash + n_simhash - n_both), 6) END AS agreement_jaccard
         |FROM nm CROSS JOIN ns CROSS JOIN nb""".stripMargin),

    // --- Funnel conversion latency: per converting user, micros from
    //     FIRST view to the first purchase at-or-after it (the funnel
    //     entry's ordered-stage rule), summarized as exact interpolated
    //     p50/p90 — the "how long does conversion take" number beside
    //     q_funnel's "how many convert". Two keyed min-aggregates and
    //     one model-sized percentile pass; int64 micros throughout. ---
    QuerySpec("q_conversion_latency", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("t_view"))
      val p = ev.filter(col("event_type") === "purchase").join(v, "user_id")
        .filter(col("us") >= col("t_view"))
        .groupBy("user_id").agg(min(col("us") - col("t_view")).as("lat_us"))
      p.agg(count(lit(1)).as("n_converters"),
        round(expr("percentile(lat_us, 0.5)"), 6).as("p50_us"),
        round(expr("percentile(lat_us, 0.9)"), 6).as("p90_us"))
    },
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t_view FROM ev WHERE event_type = 'view'
        |      GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.us - v.t_view) AS lat_us
        |      FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.us >= v.t_view
        |      GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converters,
        |  round(quantile_cont(lat_us, 0.5), 6) AS p50_us,
        |  round(quantile_cont(lat_us, 0.9), 6) AS p90_us
        |FROM p""".stripMargin),

    // --- 2-core of the near-dup graph (5 bounded peel rounds): strip
    //     degree-<2 nodes repeatedly until only cyclic structure
    //     remains — isolates boilerplate CLIQUE families from benign
    //     star shapes (one template + one-off copies), the structural
    //     split that decides collapse-whole-cluster vs keep-canonical.
    //     Each round is a keyed degree aggregate + two semi-joins;
    //     rounds are FIXED (5), so the plan is static — the
    //     ConnectedComponents discipline. 5 rounds suffice for any
    //     graph whose peel depth ≤ 5; deeper peels converge in the
    //     large-star/small-star tier. ---
    QuerySpec("g_kcore", (s, dir) => {
      // peel algebra lives in GraphStats.kcorePeel (differentially
      // fuzzed on adversarial random graphs by GraphFuzz) — the gate
      // adds the before/after summary shape.
      val pairs = graft.operators.Dedup
        .minhashLsh(docs(s, dir), "doc_id", "text")
        .select(col("d1"), col("d2")).localCheckpoint()
      val edges = graft.operators.GraphStats.kcorePeel(pairs, rounds = 5, k = 2)
      val n0 = pairs.agg(count(lit(1)).as("n_edges"))
      val core = edges.agg(count(lit(1)).as("n_core_edges"))
      val nodes = edges.select(col("d1").as("v"))
        .union(edges.select(col("d2").as("v"))).distinct()
        .agg(count(lit(1)).as("n_core_nodes"))
      n0.crossJoin(core).crossJoin(nodes)
    },
      {
        def round(i: Int): String = {
          val (prev, cur) = (s"e${i - 1}", s"e$i")
          s"""k$i AS MATERIALIZED (SELECT v FROM (
             |  SELECT v, count(*) AS deg FROM (
             |    SELECT d1 AS v FROM $prev UNION ALL SELECT d2 FROM $prev) GROUP BY v)
             |  WHERE deg >= 2),
             |$cur AS MATERIALIZED (SELECT d1, d2 FROM $prev
             |  JOIN k$i a ON a.v = d1 JOIN k$i b ON b.v = d2)""".stripMargin
        }
        s"""WITH sh AS (
           |  SELECT doc_id, unnest($sh3) AS s
           |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
           |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
           |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
           |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
           |         FROM sig GROUP BY doc_id, h // 4),
           |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |e0 AS MATERIALIZED (SELECT d1, d2
           |  FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
           |  GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
           |${(1 to 5).map(round).mkString(",\n")},
           |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0),
           |ce AS (SELECT CAST(count(*) AS BIGINT) AS n_core_edges FROM e5),
           |cn AS (SELECT CAST(count(*) AS BIGINT) AS n_core_nodes FROM (
           |  SELECT DISTINCT v FROM (SELECT d1 AS v FROM e5 UNION SELECT d2 FROM e5)))
           |SELECT n_edges, n_core_edges, n_core_nodes FROM n0 CROSS JOIN ce CROSS JOIN cn""".stripMargin
      }),

    // --- Cross-source duplicate provenance: of the exact-dup groups,
    //     how many span MORE THAN ONE source — the contamination-path
    //     audit (a dup group inside one source is a crawler artifact;
    //     across sources it's syndication/mirroring, and dedup policy
    //     may differ). One md5 groupBy + one distinct-source rollup. ---
    QuerySpec("d_cross_source_dups", (s, dir) => {
      val g = docs(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .filter(col("n_docs") > 1)
      g.agg(count(lit(1)).as("n_dup_groups"),
          sum(when(col("n_sources") > 1, 1L).otherwise(0L)).as("n_cross_source"),
          sum(col("n_docs")).as("n_dup_docs"))
        .select(col("n_dup_groups"), col("n_cross_source"), col("n_dup_docs"),
          when(col("n_dup_groups") > 0,
            round(col("n_cross_source").cast("double") / col("n_dup_groups"), 6))
            .as("cross_share"))
    },
      """WITH g AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |  FROM documents GROUP BY md5(text) HAVING count(*) > 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
        |  CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source,
        |  CAST(sum(n_docs) AS BIGINT) AS n_dup_docs,
        |  CASE WHEN count(*) > 0 THEN
        |    round(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) END AS cross_share
        |FROM g""".stripMargin),

    // --- Burstiness (index of dispersion / Fano factor) of daily
    //     volume per event type: var/mean of the day-grain counts —
    //     ≈1 is Poisson-regular arrival, >>1 is bursty ingest (retry
    //     storms, batch replays) that invalidates Poisson capacity
    //     math. Sample variance from exact int64 moments
    //     (n·Σx²−(Σx)²)/(n(n−1)); identically-shaped double steps. ---
    QuerySpec("t_burstiness", (s, dir) => {
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day_n"))
        .agg(count(lit(1)).as("x"))
      d.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          round(col("sx").cast("double") / col("n"), 6).as("mean_daily"),
          when(col("n") > 1 && col("sx") > 0,
            round(((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
              (col("n") * (col("n") - 1)).cast("double")) /
              (col("sx").cast("double") / col("n")), 6)).as("fano"))
        .orderBy("event_type")
    },
      """WITH d AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_n,
        |    count(*) AS x FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx
        |  FROM d GROUP BY event_type)
        |SELECT event_type, n, round(sx::DOUBLE / n, 6) AS mean_daily,
        |  CASE WHEN n > 1 AND sx > 0 THEN
        |    round(((n*sxx - sx*sx)::DOUBLE / (n*(n-1))::DOUBLE) / (sx::DOUBLE / n), 6)
        |  END AS fano
        |FROM m ORDER BY event_type""".stripMargin),

    // --- Pareto concentration (the 80/20 point): share of all events
    //     generated by the top-20% most active users — the
    //     concentration number beside the Gini coefficient
    //     (t_gini_concentration gives the whole curve's area; this is
    //     the point product teams quote). ntile(5) runs over the
    //     USER-grain frame (fully tie-broken), never over events. ---
    QuerySpec("q_pareto_8020", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
      u.withColumn("q", ntile(5).over(
          Window.orderBy(col("cnt").desc, col("user_id"))))
        .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("total_events"),
          sum(when(col("q") === 1, col("cnt")).otherwise(0L)).as("top20_events"))
        .select(col("n_users"), col("total_events"), col("top20_events"),
          round(col("top20_events").cast("double") / col("total_events"), 6)
            .as("top20_share"))
    },
      """WITH u AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |q AS (SELECT cnt, ntile(5) OVER (ORDER BY cnt DESC, user_id) AS q FROM u)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cnt) AS BIGINT) AS total_events,
        |  CAST(sum(CASE WHEN q = 1 THEN cnt ELSE 0 END) AS BIGINT) AS top20_events,
        |  round(sum(CASE WHEN q = 1 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt), 6) AS top20_share
        |FROM q""".stripMargin),

    // --- Cross-source vocabulary overlap matrix: exact pairwise
    //     Jaccard of the distinct-token sets of every source pair —
    //     the mixing diagnostic read before weighting sources in a
    //     training mixture (near-identical vocabularies mean the
    //     sources are redundant, not complementary). Incidence
    //     self-join on TOKEN (never source × source × docs); the pair
    //     frame is sources²-bounded. ---
    QuerySpec("t_source_vocab_overlap", (s, dir) => {
      import graft.functions.TextFunctions.tokens
      val inc = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .distinct()
      val sizes = inc.groupBy("source").agg(count(lit(1)).as("nv"))
      val inter = inc.as("a").join(inc.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.select(col("source").as("s1"), col("nv").as("v1")), "s1")
        .join(sizes.select(col("source").as("s2"), col("nv").as("v2")), "s2")
        .select(col("s1"), col("s2"), col("n_common"),
          round(col("n_common").cast("double") /
            (col("v1") + col("v2") - col("n_common")), 6).as("jaccard"))
        .orderBy("s1", "s2")
    },
      s"""WITH inc AS (SELECT DISTINCT source, unnest($toks) AS w FROM documents),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM inc GROUP BY source),
         |inter AS (SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS n_common
         |  FROM inc a JOIN inc b ON a.w = b.w AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT s1, s2, n_common,
         |  round(n_common::DOUBLE / (v1.nv + v2.nv - n_common), 6) AS jaccard
         |FROM inter JOIN sizes v1 ON v1.source = s1 JOIN sizes v2 ON v2.source = s2
         |ORDER BY s1, s2""".stripMargin),

    // --- Filtered ANN: pre-filter vs post-filter recall. Metadata-
    //     constrained retrieval (label = query's label) answered two
    //     ways: PRE-filter (top-k among matching docs — exact for the
    //     constraint) vs POST-filter (global top-k, then filter — the
    //     cheap path every vector store is tempted by, which silently
    //     returns FEWER than k when the label is rare). n_post/n_pre
    //     is the measured cost of post-filtering; every post survivor
    //     is provably in the pre answer, so the ratio IS its recall.
    //     ONE scored frame (broadcast queries), two ranks. ---
    QuerySpec("a_ann_prefilter", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val q = graft.operators.Similarity.fixedQuerySample(e, "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val scored = broadcast(q)
        .join(e.select(col("vec_id").as("nid"), col("embedding").as("nv"),
          col("label").as("nlabel")), col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (col("nlabel") === col("qlabel")).as("label_match"),
          graft.operators.Vectors.cosineNative(col("qv"), col("nv")).as("cos"))
      val pre = scored.filter(col("label_match"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))))
        .filter(col("rk") <= 5)
        .groupBy("qid").agg(count(lit(1)).as("n_pre"))
      val post = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))))
        .filter(col("rk") <= 5 && col("label_match"))
        .groupBy("qid").agg(count(lit(1)).as("n_post"))
      pre.join(post, Seq("qid"), "left")
        .select(col("qid"), col("n_pre"),
          coalesce(col("n_post"), lit(0L)).as("n_post"),
          round(coalesce(col("n_post"), lit(0L)).cast("double") / col("n_pre"), 6)
            .as("post_recall"))
        .orderBy("qid")
    },
      s"""WITH ${graft.queries.OracleSamples.qsCte},
         |q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
         |  FROM embeddings WHERE vec_id IN (SELECT vec_id FROM qs)),
         |sc AS (SELECT qid, e.vec_id AS nid, e.label = qlabel AS label_match,
         |    round(list_dot_product(qv::DOUBLE[], e.embedding::DOUBLE[]) /
         |      (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) *
         |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cos
         |  FROM q JOIN embeddings e ON e.vec_id <> qid),
         |pre AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_pre FROM (
         |  SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM sc WHERE label_match) WHERE rk <= 5 GROUP BY qid),
         |post AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_post FROM (
         |  SELECT qid, label_match, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM sc) WHERE rk <= 5 AND label_match GROUP BY qid)
         |SELECT pre.qid, n_pre, CAST(coalesce(n_post, 0) AS BIGINT) AS n_post,
         |  round(coalesce(n_post, 0)::DOUBLE / n_pre, 6) AS post_recall
         |FROM pre LEFT JOIN post USING (qid) ORDER BY qid""".stripMargin),

    // --- RFM segmentation: users cut into recency / frequency /
    //     monetary quintiles (the classic lifecycle segmentation
    //     behind retention targeting); output is the populated
    //     (r,f,m) cell counts. All three ntiles run over the
    //     USER-grain frame with full tiebreaks; recency is int64
    //     epoch-day, monetary an exact decimal sum. ---
    QuerySpec("q_rfm_segmentation", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = t(s, dir, "events").groupBy("user_id").agg(
        max(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("value").cast("decimal(18,6)")).as("monetary"))
      u.withColumn("r", ntile(5).over(
          Window.orderBy(col("last_day").desc, col("user_id"))))
        .withColumn("f", ntile(5).over(
          Window.orderBy(col("freq").desc, col("user_id"))))
        .withColumn("m", ntile(5).over(
          Window.orderBy(col("monetary").desc, col("user_id"))))
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r", "f", "m")
    },
      """WITH u AS (SELECT user_id,
        |    max(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)) AS last_day,
        |    count(*) AS freq, sum(CAST(value AS DECIMAL(18,6))) AS monetary
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    ntile(5) OVER (ORDER BY last_day DESC, user_id) AS r,
        |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
        |    ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m
        |  FROM u)
        |SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_users
        |FROM c GROUP BY r, f, m ORDER BY r, f, m""".stripMargin),

    // --- Embedding centroid drift between corpus halves (epoch
    //     stand-in: vec_id parity): per-dim decimal means for each
    //     half, then the L2 distance and cosine between the two
    //     centroids — the embedding-space counterpart of the JSD
    //     vocabulary-drift monitor (a moved centroid means the NEW
    //     data occupies a different region: re-train quantizers,
    //     re-evaluate ANN recall). Two grouped per-dim aggregates
    //     over one posexplode pass; all cross-dim sums decimal. ---
    QuerySpec("a_centroid_drift", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select((col("vec_id") % 2 === 0).as("epoch0"),
          posexplode(col("embedding")).as(Seq("d", "x")))
      val cents = e.groupBy("d").agg(
        (sum(when(col("epoch0"), round(col("x").cast("double"), 12)
          .cast("decimal(30,12)"))).cast("double") /
          sum(when(col("epoch0"), 1L).otherwise(0L))).as("m0raw"),
        (sum(when(!col("epoch0"), round(col("x").cast("double"), 12)
          .cast("decimal(30,12)"))).cast("double") /
          sum(when(!col("epoch0"), 1L).otherwise(0L))).as("m1raw"))
        .select(round(col("m0raw"), 9).as("m0"), round(col("m1raw"), 9).as("m1"))
      cents.agg(
          sum(round((col("m0") - col("m1")) * (col("m0") - col("m1")), 9)
            .cast("decimal(28,9)")).as("d2"),
          sum(round(col("m0") * col("m1"), 9).cast("decimal(28,9)")).as("dot"),
          sum(round(col("m0") * col("m0"), 9).cast("decimal(28,9)")).as("n0"),
          sum(round(col("m1") * col("m1"), 9).cast("decimal(28,9)")).as("n1"))
        .select(
          round(sqrt(col("d2").cast("double")), 6).as("l2_drift"),
          when(col("n0") > 0 && col("n1") > 0,
            round(col("dot").cast("double") /
              (sqrt(col("n0").cast("double")) * sqrt(col("n1").cast("double"))), 6))
            .as("centroid_cosine"))
    },
      """WITH e AS (SELECT vec_id % 2 = 0 AS epoch0, d.dim,
        |    CAST(embedding[d.dim] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS d(dim)),
        |c AS (SELECT dim,
        |    round(CAST(sum(CASE WHEN epoch0 THEN CAST(round(x, 12) AS DECIMAL(30,12)) END) AS DOUBLE)
        |      / sum(CASE WHEN epoch0 THEN 1 ELSE 0 END), 9) AS m0,
        |    round(CAST(sum(CASE WHEN NOT epoch0 THEN CAST(round(x, 12) AS DECIMAL(30,12)) END) AS DOUBLE)
        |      / sum(CASE WHEN NOT epoch0 THEN 1 ELSE 0 END), 9) AS m1
        |  FROM e GROUP BY dim),
        |s AS (SELECT
        |    CAST(sum(CAST(round((m0 - m1) * (m0 - m1), 9) AS DECIMAL(28,9))) AS DOUBLE) AS d2,
        |    CAST(sum(CAST(round(m0 * m1, 9) AS DECIMAL(28,9))) AS DOUBLE) AS dot,
        |    CAST(sum(CAST(round(m0 * m0, 9) AS DECIMAL(28,9))) AS DOUBLE) AS n0,
        |    CAST(sum(CAST(round(m1 * m1, 9) AS DECIMAL(28,9))) AS DOUBLE) AS n1
        |  FROM c)
        |SELECT round(sqrt(d2), 6) AS l2_drift,
        |  CASE WHEN n0 > 0 AND n1 > 0 THEN round(dot / (sqrt(n0) * sqrt(n1)), 6) END
        |    AS centroid_cosine
        |FROM s""".stripMargin),

    // --- Engagement-depth histogram: users by number of distinct
    //     active days — the "how sticky is the population" read
    //     behind every retention target (a spike at 1 is drive-by
    //     traffic; mass in the tail is a habit product). Two keyed
    //     aggregates, day-grain first. ---
    QuerySpec("q_active_days_histogram", (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("d"))
        .distinct()
        .groupBy("user_id").agg(count(lit(1)).as("active_days"))
        .groupBy("active_days").agg(count(lit(1)).as("n_users"))
        .orderBy("active_days"),
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS d FROM events),
        |ad AS (SELECT user_id, CAST(count(*) AS BIGINT) AS active_days
        |  FROM ud GROUP BY user_id)
        |SELECT active_days, CAST(count(*) AS BIGINT) AS n_users
        |FROM ad GROUP BY active_days ORDER BY active_days""".stripMargin),

    // --- Mean Reciprocal Rank of the binary-quantized ANN tier
    //     against the exact nearest neighbor: MRR is the
    //     first-relevant-hit eval (what a retrieval-augmented reader
    //     feels) beside recall@k (set overlap) and nDCG (graded) —
    //     completing the retrieval-eval family. Relevant = brute-force
    //     top-1; system = 32×-compressed sign-bit Hamming top-5;
    //     1/rank is an exact rational rounded 9 dp, decimal-summed. ---
    QuerySpec("a_ann_mrr", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val q = graft.operators.Similarity.fixedQuerySample(e, "vec_id")
      val truth = graft.operators.Similarity
        .bruteForceTopK(e, q, "vec_id", "embedding", k = 1)
        .select(col("qid"), col("nid").as("rel"))
      val word = (off: Int) =>
        s"aggregate(zip_with(slice(embedding, ${off + 1}, 32), sequence(0, 31), " +
          "(x, d) -> IF(x > 0, shiftleft(1L, cast(d as int)), 0L)), 0L, (a, b) -> a + b)"
      val bq = e.select(col("vec_id"), expr(word(0)).as("w0"), expr(word(32)).as("w1"))
      val qb = broadcast(graft.operators.Similarity.fixedQuerySample(bq, "vec_id")
        .select(col("vec_id").as("qid"), col("w0").as("q0"), col("w1").as("q1")))
      val sys = bq.select(col("vec_id").as("nid"), col("w0"), col("w1"))
        .join(qb, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          expr("cast(bit_count(w0 ^ q0) + bit_count(w1 ^ q1) as bigint)").as("hamming"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("hamming").asc, col("nid").asc))
          .cast("long"))
        .filter(col("rk") <= 5)
      truth.join(sys, truth("qid") === sys("qid") && col("rel") === col("nid"), "left")
        .select(truth("qid"),
          coalesce(round(lit(1.0) / col("rk"), 9), lit(0.0))
            .cast("decimal(28,9)").as("rr"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("rr")).as("rrsum"))
        .select(col("n_queries"),
          round(col("rrsum").cast("double") / col("n_queries"), 6).as("mrr"))
    },
      s"""WITH ${graft.queries.OracleSamples.qsCte},
         |bf AS (SELECT qid, nid AS rel FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         |          (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         |           sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
         |        DESC, b.vec_id) AS rk
         |    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |    WHERE a.vec_id IN (SELECT vec_id FROM qs)) WHERE rk = 1),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bq AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN d < 32 AND v[d+1] > 0 THEN (2**d)::BIGINT ELSE 0 END) AS BIGINT) AS w0,
         |    CAST(sum(CASE WHEN d >= 32 AND v[d+1] > 0 THEN (2**(d-32))::BIGINT ELSE 0 END) AS BIGINT) AS w1
         |  FROM e CROSS JOIN (SELECT unnest(range(64)) AS d) GROUP BY vec_id),
         |sys AS (SELECT qid, nid, rk FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)), c.vec_id) AS rk
         |  FROM bq q JOIN bq c ON q.vec_id IN (SELECT vec_id FROM qs) AND q.vec_id <> c.vec_id)
         |  WHERE rk <= 5),
         |rr AS (SELECT bf.qid,
         |    CAST(coalesce(round(1.0 / sys.rk, 9), 0.0) AS DECIMAL(28,9)) AS rr
         |  FROM bf LEFT JOIN sys ON sys.qid = bf.qid AND sys.nid = bf.rel)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  round(CAST(sum(rr) AS DOUBLE) / count(*), 6) AS mrr
         |FROM rr""".stripMargin),

    // --- Market-basket affinity over (user, day) baskets of event
    //     types: support / confidence / lift per type pair — the
    //     association-rule screen ("do viewers click the same day?")
    //     whose word-level face is PMI collocations. Baskets come
    //     from one distinct pass; the pair join runs on the basket
    //     INCIDENCE frame (basket × its ≤5 types), never on events. ---
    QuerySpec("q_basket_affinity", (s, dir) => {
      val b = t(s, dir, "events").select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("d"),
          col("event_type")).distinct()
      val nB = b.select("user_id", "d").distinct().agg(count(lit(1)).as("n_baskets"))
      val per = b.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pairs = b.as("x").join(b.as("y"),
          col("x.user_id") === col("y.user_id") && col("x.d") === col("y.d") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("t1"), col("y.event_type").as("t2"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(per.select(col("event_type").as("t1"), col("n_t").as("n1")), "t1")
        .join(per.select(col("event_type").as("t2"), col("n_t").as("n2")), "t2")
        .crossJoin(broadcast(nB))
        .select(col("t1"), col("t2"), col("n_both"), col("n1"), col("n2"),
          round(col("n_both").cast("double") / col("n1"), 6).as("confidence"),
          round(col("n_both").cast("double") * col("n_baskets") /
            (col("n1") * col("n2")), 6).as("lift"))
        .orderBy("t1", "t2")
    },
      """WITH b AS (SELECT DISTINCT user_id,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS d, event_type FROM events),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM
        |  (SELECT DISTINCT user_id, d FROM b)),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM b GROUP BY event_type),
        |p AS (SELECT x.event_type AS t1, y.event_type AS t2, CAST(count(*) AS BIGINT) AS n_both
        |  FROM b x JOIN b y ON x.user_id = y.user_id AND x.d = y.d
        |    AND x.event_type < y.event_type
        |  GROUP BY x.event_type, y.event_type)
        |SELECT t1, t2, n_both, a.n_t AS n1, c.n_t AS n2,
        |  round(n_both::DOUBLE / a.n_t, 6) AS confidence,
        |  round(n_both::DOUBLE * n_baskets / (a.n_t * c.n_t), 6) AS lift
        |FROM p JOIN per a ON a.event_type = t1 JOIN per c ON c.event_type = t2
        |CROSS JOIN nb ORDER BY t1, t2""".stripMargin),

    // --- Dedup funnel report: documents surviving each curation tier
    //     (raw → exact dedup → near-dup removal) in one row — the
    //     before/after accounting every curation run publishes. Exact
    //     survivors = min-id per md5 group; near-dup removal applies
    //     the lowest-id-survivor policy (a doc dies when it appears
    //     as the larger id of a MinHash pair — semanticDedup's rule).
    //     One md5 aggregate + one pair-frame anti-join. ---
    QuerySpec("d_dedup_funnel", (s, dir) => {
      val d = docs(s, dir)
      val n0 = d.agg(count(lit(1)).as("n_raw"))
      val exactSurv = d.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      val n1 = exactSurv.agg(count(lit(1)).as("n_after_exact"))
      val killed = graft.operators.Dedup.minhashLsh(d, "doc_id", "text")
        .select(col("d2").as("doc_id")).distinct()
      val n2 = exactSurv.join(killed, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_after_neardup"))
      n0.crossJoin(n1).crossJoin(n2).select(
        col("n_raw"), col("n_after_exact"), col("n_after_neardup"),
        round(lit(1.0) - col("n_after_neardup").cast("double") / col("n_raw"), 6)
          .as("removed_share"))
    },
      s"""WITH n0 AS (SELECT CAST(count(*) AS BIGINT) AS n_raw FROM documents),
         |es AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_after_exact FROM es),
         |sh AS (
         |  SELECT doc_id, unnest($sh3) AS s
         |  FROM (SELECT doc_id, $toks AS t FROM documents) WHERE len(t) >= 3),
         |sig AS (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
         |band AS (SELECT doc_id, h // 4 AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
         |         FROM sig GROUP BY doc_id, h // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |pairs AS (SELECT d1, d2
         |  FROM cand JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
         |  GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
         |killed AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
         |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n_after_neardup
         |  FROM es WHERE doc_id NOT IN (SELECT doc_id FROM killed))
         |SELECT n_raw, n_after_exact, n_after_neardup,
         |  round(1.0 - n_after_neardup::DOUBLE / n_raw, 6) AS removed_share
         |FROM n0 CROSS JOIN n1 CROSS JOIN n2""".stripMargin),

    // --- Event-time disorder profile: per-user-stream lateness of
    //     each event vs the running event-time high-water mark (in
    //     ingest order = event_id), summarized as late share, max, and
    //     exact p99 — THE empirical input to choosing a watermark
    //     delay (`withWatermark("ts", X)` drops everything later than
    //     X; this measures what X must be to lose <1%). One window
    //     pass keyed by user; percentile over the lateness frame. ---
    QuerySpec("q_disorder_profile", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val lat = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("hwm", max(col("us")).over(w))
        .select(greatest(col("hwm") - col("us"), lit(0L)).as("late_us"))
      lat.agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
          max(col("late_us")).as("max_late_us"),
          round(expr("percentile(late_us, 0.99)"), 6).as("p99_late_us"))
        .select(col("n_events"), col("n_late"),
          round(col("n_late").cast("double") / col("n_events"), 6).as("late_share"),
          col("max_late_us"), col("p99_late_us"))
    },
      """WITH l AS (SELECT greatest(coalesce(max(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    - epoch_us(ts), 0) AS late_us
        |  FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS late_share,
        |  CAST(max(late_us) AS BIGINT) AS max_late_us,
        |  round(quantile_cont(late_us, 0.99), 6) AS p99_late_us
        |FROM l""".stripMargin),

    // --- Gopher rule ablation: per rule, how many docs FAIL it and —
    //     the actionable number — how many fail ONLY it (the sole
    //     blocker whose threshold a relaxation would admit). Rule
    //     attribution is what separates tuning a quality bar from
    //     guessing at it. ONE aggregate (14 conditional sums) over the
    //     map-only gopherRules frame, melted to 7 rows. ---
    QuerySpec("t_gopher_ablation", (s, dir) => {
      val g = graft.operators.TextAnalysis.gopherRules(docs(s, dir), "doc_id", "text")
      val pass: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "alpha" -> (col("alpha_word_frac") >= 0.8),
        "bullet" -> (col("bullet_frac") <= 0.9),
        "ellipsis" -> (col("ellipsis_frac") <= 0.3),
        "stopwords" -> (col("n_stop_hits") >= 2),
        "symbol" -> (col("symbol_ratio") <= 0.1),
        "word_len" -> (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0),
        "words" -> (col("n_words") >= 50 && col("n_words") <= 100000))
      val sums = Seq(count(lit(1)).as("n_docs")) ++ pass.flatMap { case (name, p) =>
        val others = pass.filter(_._1 != name).map(_._2).reduce(_ && _)
        Seq(sum(when(!p, 1L).otherwise(0L)).as(s"fail_$name"),
          sum(when(!p && others, 1L).otherwise(0L)).as(s"sole_$name"))
      }
      val m = g.agg(sums.head, sums.tail: _*)
      pass.map { case (name, _) =>
        m.select(lit(name).as("rule"), col(s"fail_$name").as("n_fail"),
          col(s"sole_$name").as("n_sole_fail"),
          round(col(s"fail_$name").cast("double") / col("n_docs"), 6)
            .as("fail_share"))
      }.reduce(_ unionAll _).orderBy("rule")
    },
      {
        val rules = Seq(
          "alpha" -> "alpha_word_frac >= 0.8",
          "bullet" -> "bullet_frac <= 0.9",
          "ellipsis" -> "ellipsis_frac <= 0.3",
          "stopwords" -> "n_stop_hits >= 2",
          "symbol" -> "symbol_ratio <= 0.1",
          "word_len" -> "(mean_word_len >= 3.0 AND mean_word_len <= 10.0)",
          "words" -> "(n_words >= 50 AND n_words <= 100000)")
        val melt = rules.map { case (name, p) =>
          val others = rules.filter(_._1 != name).map(_._2).mkString(" AND ")
          s"""SELECT '$name' AS rule,
             |  CAST(sum(CASE WHEN NOT ($p) THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
             |  CAST(sum(CASE WHEN NOT ($p) AND $others THEN 1 ELSE 0 END) AS BIGINT) AS n_sole_fail,
             |  round(sum(CASE WHEN NOT ($p) THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS fail_share
             |FROM m""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH w AS (SELECT doc_id, text,
           |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words,
           |    string_split(text, chr(10)) AS lines FROM documents),
           |m0 AS (SELECT doc_id,
           |  CAST(len(words) AS BIGINT) AS n_words,
           |  CAST((length(text) - length(replace(text, '#', ''))) +
           |       (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
           |  round(len(list_filter(lines, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'
           |      OR ltrim(l) LIKE '•%'))::DOUBLE / len(lines), 6) AS bullet_frac,
           |  round(len(list_filter(lines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))::DOUBLE
           |      / len(lines), 6) AS ellipsis_frac,
           |  CASE WHEN len(words) > 0 THEN round(len(list_filter(words,
           |      x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(words), 6)
           |    ELSE 0.0 END AS alpha_word_frac,
           |  (list_contains(list_transform(words, x -> lower(x)), 'the')::BIGINT +
           |   list_contains(list_transform(words, x -> lower(x)), 'be')::BIGINT +
           |   list_contains(list_transform(words, x -> lower(x)), 'to')::BIGINT +
           |   list_contains(list_transform(words, x -> lower(x)), 'of')::BIGINT +
           |   list_contains(list_transform(words, x -> lower(x)), 'and')::BIGINT +
           |   list_contains(list_transform(words, x -> lower(x)), 'that')::BIGINT +
           |   list_contains(list_transform(words, x -> lower(x)), 'have')::BIGINT +
           |   list_contains(list_transform(words, x -> lower(x)), 'with')::BIGINT) AS n_stop_hits,
           |  CASE WHEN len(words) > 0 THEN
           |      round(list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words), 6)
           |    ELSE 0.0 END AS mean_word_len
           |  FROM w),
           |m AS (SELECT *, CASE WHEN n_words > 0 THEN round(n_symbols::DOUBLE / n_words, 6)
           |    ELSE 0.0 END AS symbol_ratio FROM m0)
           |SELECT * FROM ($melt) ORDER BY rule""".stripMargin
      }),

    // --- LSH banding sweep: precision/recall at bands ∈ {2, 4, 8}
    //     from ONE signature frame (signatures are the expensive
    //     stage; banding is a cheap regroup of the same 16 hashes) —
    //     the bands/rows tuning curve behind the single-point
    //     d_lsh_eval (more bands = more candidates = recall up,
    //     precision down; the sweep prices the trade before fixing
    //     the index). Same deterministic half-sample + exact-Jaccard
    //     ground truth discipline as d_lsh_eval. ---
    QuerySpec("d_banding_sweep", (s, dir) => {
      val d = docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0)
      val sig = graft.operators.Dedup
        .minhashSignatureArray(d, "doc_id", "text", 16, 3).localCheckpoint()
      val exact = graft.operators.Dedup
        .ngramJaccard(d, "doc_id", "text", minJaccard = 0.5)
        .select("d1", "d2").localCheckpoint()
      val nExact = exact.count()
      Seq(2, 4, 8).map { b =>
        val pairs = graft.operators.Dedup
          .minhashLshFromSignatures(sig, "doc_id", 16, b, 0.5)
          .select("d1", "d2").localCheckpoint()
        val nP = pairs.count()
        val nB = pairs.join(exact, Seq("d1", "d2"), "left_semi").count()
        import s.implicits._
        Seq((b.toLong, nP, nExact, nB)).toDF("bands", "n_pairs", "n_exact", "n_both")
      }.reduce(_ unionAll _)
        .select(col("bands"), col("n_pairs"), col("n_exact"), col("n_both"),
          when(col("n_pairs") > 0,
            round(col("n_both").cast("double") / col("n_pairs"), 6)).as("precision"),
          when(col("n_exact") > 0,
            round(col("n_both").cast("double") / col("n_exact"), 6)).as("recall"))
        .orderBy("bands")
    },
      {
        def branch(b: Int): String = {
          val r = 16 / b
          s"""cand$b AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM
             |  (SELECT doc_id, h // $r AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
             |   FROM sig GROUP BY doc_id, h // $r) a
             |  JOIN (SELECT doc_id, h // $r AS band, md5(string_agg(mh, ',' ORDER BY h)) AS bh
             |   FROM sig GROUP BY doc_id, h // $r) b
             |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
             |p$b AS (SELECT d1, d2
             |  FROM cand$b JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2 AND y.h = x.h
             |  GROUP BY d1, d2 HAVING count(*) FILTER (x.mh = y.mh)::DOUBLE / 16 >= 0.5),
             |s$b AS (SELECT $b AS bands,
             |    (SELECT count(*) FROM p$b) AS n_pairs,
             |    (SELECT count(*) FROM exact) AS n_exact,
             |    (SELECT count(*) FROM p$b JOIN exact USING (d1, d2)) AS n_both)""".stripMargin
        }
        s"""WITH d2s AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
           |sh AS (
           |  SELECT doc_id, unnest($sh3) AS s
           |  FROM (SELECT doc_id, $toks AS t FROM d2s) WHERE len(t) >= 3),
           |sig AS MATERIALIZED (SELECT doc_id, h, min(md5(h::VARCHAR || '|' || s)) AS mh
           |        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) GROUP BY doc_id, h),
           |jsh AS (SELECT doc_id, len($sh3)::BIGINT AS n, unnest($sh3) AS s
           |        FROM (SELECT doc_id, $toks AS t FROM d2s) WHERE len(t) >= 3),
           |exact AS MATERIALIZED (SELECT a.doc_id AS d1, b.doc_id AS d2
           |          FROM jsh a JOIN jsh b ON a.s = b.s AND a.doc_id < b.doc_id
           |          GROUP BY a.doc_id, b.doc_id
           |          HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.5),
           |${Seq(2, 4, 8).map(branch).mkString(",\n")}
           |SELECT CAST(bands AS BIGINT) AS bands, CAST(n_pairs AS BIGINT) AS n_pairs,
           |  CAST(n_exact AS BIGINT) AS n_exact, CAST(n_both AS BIGINT) AS n_both,
           |  CASE WHEN n_pairs > 0 THEN round(n_both::DOUBLE / n_pairs, 6) END AS precision,
           |  CASE WHEN n_exact > 0 THEN round(n_both::DOUBLE / n_exact, 6) END AS recall
           |FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s8)
           |ORDER BY bands""".stripMargin
      }),

    // --- Modal value per group with a deterministic tiebreak: the
    //     MODE() aggregate (most common order priority per market
    //     segment) — engines disagree on which mode survives a tie,
    //     so the tiebreak (lowest value) is explicit. Two keyed
    //     aggregates + a WindowGroupLimit-pruned rank over the tiny
    //     (segment × priority) frame. ---
    QuerySpec("q_mode", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      counts.withColumn("rk",
          row_number().over(Window.partitionBy("c_mktsegment")
            .orderBy(col("cnt").desc, col("o_orderpriority"))))
        .filter(col("rk") === 1)
        .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"),
          col("cnt").as("mode_count"))
        .orderBy("c_mktsegment")
    },
      """WITH c AS (SELECT c_mktsegment, o_orderpriority, count(*) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, o_orderpriority),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY cnt DESC, o_orderpriority) AS rk FROM c)
        |SELECT c_mktsegment, o_orderpriority AS mode_priority,
        |  CAST(cnt AS BIGINT) AS mode_count
        |FROM r WHERE rk = 1 ORDER BY c_mktsegment""".stripMargin)
  )
}
