package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.operators.Multimodal

/** Multimodal pipeline as a driver-contract query. Media payloads are
  * synthesized from the documents table (text bytes become REAL BMP
  * images via [[Multimodal.encodeBmp]] — no media files exist in the
  * test data, but the container bytes are genuine, public-format BMP),
  * then run through the full plumbing: content stats (expressions) →
  * REAL header+pixel decode (mapPartitions batch fn → banded channel
  * features) → frame sampling.
  *
  * Every entry here is oracle-checked: the BMP layout is deterministic
  * (payload byte j = pixel-channel byte j in top-down row-major order,
  * width 4 → 12-byte stride, zero pixel padding in the last row), so
  * DuckDB reproduces the decoded dimensions and band means with integer
  * arithmetic over the same text bytes.
  */
object MediaQueries {

  import OracleText.cosD

  /** documents → (media_id, bytes, bmp): the shared real-media source. */
  private def bmpMedia(s: SparkSession, dir: String): DataFrame =
    Multimodal.encodeBmp(
      TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes")),
      width = 4)

  /** Banded channel-mean feature CTEs shared by the real-decode oracles:
    * the BMP layout is payload byte (p-1) → image row (p-1)/12, channel
    * (p-1)%3; band = row*4/h; per-(band, channel) count = 4 bytes per
    * row over ALL h rows (zero pixel padding included, exactly as the
    * decoder sees it). */
  private val featureCtes: String =
    """d AS (SELECT doc_id AS media_id, text, strlen(text) AS len,
      |       -- ::INT inside AND out: DuckDB's greatest() promotes to BIGINT
      |       greatest(1, CAST(ceil(strlen(text) / 12.0) AS INT))::INT AS h
      |     FROM documents),
      |bybyte AS (SELECT media_id, h, (((p - 1) // 12) * 4) // h AS band,
      |        (p - 1) % 3 AS ch, ord(substring(text, p, 1)) AS v
      |      FROM d, unnest(range(1, len + 1)) AS u(p)),
      |bs AS (SELECT media_id, band, ch, sum(v) AS s
      |       FROM bybyte GROUP BY media_id, band, ch),
      |rc AS (SELECT media_id, (r * 4) // h AS band, 4 * count(*) AS cnt
      |       FROM d, unnest(range(0, h)) AS u(r)
      |       GROUP BY media_id, (r * 4) // h),
      |f AS (SELECT rc.media_id, rc.band, c.ch,
      |        round(CAST(coalesce(bs.s, 0) AS DOUBLE) / rc.cnt, 6) AS fv
      |      FROM rc CROSS JOIN (SELECT unnest(range(0, 3)) AS ch) c
      |      LEFT JOIN bs ON bs.media_id = rc.media_id
      |        AND bs.band = rc.band AND bs.ch = c.ch)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // quarantine path: every 13th payload gets its magic byte corrupted;
    // the lenient decoder must CLASSIFY those rows (stable reason code,
    // null decode columns) and decode the rest — one corrupt file can
    // never kill a 100 TB scan, it lands in a quarantine partition
    QuerySpec("m_media_quarantine", (s, dir) => {
      val corrupted = bmpMedia(s, dir).withColumn("bmp",
        when(col("media_id") % 13 === 0,
          concat(lit(Array('X'.toByte)),
            expr("substring(bmp, 2, length(bmp) - 1)")))
          .otherwise(col("bmp")))
      Multimodal.decodeBmpLenient(corrupted)
        .select(col("media_id"), col("bmp_status"),
          col("img_w").cast("long").as("img_w"),
          col("img_h").cast("long").as("img_h"))
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'not a BMP payload' ELSE 'ok' END AS bmp_status,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 4 END::BIGINT AS img_w,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE greatest(1, CAST(ceil(strlen(text) / 12.0) AS BIGINT))
        |  END::BIGINT AS img_h
        |FROM documents ORDER BY media_id""".stripMargin),

    // the audio quarantine twin: corrupt every 13th RIFF magic; the
    // lenient WAV decoder classifies those rows (stable reason code,
    // null decode columns) and decodes the rest
    QuerySpec("m_media_quarantine_wav", (s, dir) => {
      val media = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes"))
      val corrupted = Multimodal.encodeWav(media, sampleRate = 8000)
        .withColumn("wav", when(col("media_id") % 13 === 0,
          concat(lit(Array('X'.toByte)),
            expr("substring(wav, 2, length(wav) - 1)")))
          .otherwise(col("wav")))
      Multimodal.decodeWavLenient(corrupted)
        .select(col("media_id"), col("wav_status"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"))
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'not a RIFF/WAVE payload' ELSE 'ok' END AS wav_status,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 8000 END::BIGINT AS sample_rate,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE strlen(text) END::BIGINT AS n_samples
        |FROM documents ORDER BY media_id""".stripMargin),

    // the video quarantine twin: same contract over the nested-LIST AVI
    // walk — magic damage classifies, valid frames decode
    QuerySpec("m_media_quarantine_avi", (s, dir) => {
      val media = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes"))
      val corrupted = Multimodal.encodeAvi(media, width = 4, frameRows = 4)
        .withColumn("avi", when(col("media_id") % 13 === 0,
          concat(lit(Array('X'.toByte)),
            expr("substring(avi, 2, length(avi) - 1)")))
          .otherwise(col("avi")))
      Multimodal.decodeAviLenient(corrupted)
        .select(col("media_id"), col("avi_status"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_w").cast("long").as("frame_w"),
          col("frame_h").cast("long").as("frame_h"))
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'not a RIFF/AVI payload' ELSE 'ok' END AS avi_status,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE greatest(1, CAST(ceil(strlen(text) / 48.0) AS BIGINT)) END::BIGINT AS n_frames,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 4 END::BIGINT AS frame_w,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 4 END::BIGINT AS frame_h
        |FROM documents ORDER BY media_id""".stripMargin),

    // payload stats (expressions) + decoded image dimensions (REAL BMP
    // header parse) — the media-catalog row a curation run starts from
    QuerySpec("m_media_stats", (s, dir) => {
      Multimodal.decodeBmp(Multimodal.withContentStats(bmpMedia(s, dir)))
        .select("media_id", "n_bytes", "content_sha", "img_w", "img_h")
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes,
        |  sha256(text) AS content_sha, 4 AS img_w,
        |  greatest(1, CAST(ceil(strlen(text) / 12.0) AS INT))::INT AS img_h
        |FROM documents ORDER BY media_id""".stripMargin),

    // binary-payload exact dedup: Dedup.exactDedup works unchanged on a
    // binary column (md5 accepts binary), so media dedup is the same
    // one-hash-shuffle operator as text dedup. Duplicates are planted
    // (an id-shifted copy of every payload) since the corpus has none.
    QuerySpec("m_media_dedup", (s, dir) => {
      val media = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
      val copies = media.select((col("media_id") + 1000000L).as("media_id"),
        col("bytes"))
      graft.operators.Dedup.exactDedup(
          media.unionByName(copies), "media_id", "bytes")
        .orderBy("media_id")
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(media_id) AS media_id, md5(text) AS content_hash,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM m GROUP BY md5(text) ORDER BY media_id""".stripMargin),

    // multimodal → similarity composition: REAL BMP decode → banded
    // channel-mean feature vectors (4 bands × 3 channels) → ANN top-k.
    // The features are integer pixel sums / counts rounded at 6 dp, so
    // DuckDB replicates them exactly and the composition is fully
    // hash-checked end to end.
    QuerySpec("m_media_ann", (s, dir) => {
      val feats = Multimodal.decodeBmp(bmpMedia(s, dir), bands = 4)
        .select(col("media_id"),
          Multimodal.bandMeanFeatures(col("band_sums"), col("band_counts"))
            .cast("array<float>").as("features"))
      graft.operators.Similarity.bruteForceTopK(
          feats, graft.operators.Similarity.fixedQuerySample(feats, "media_id"),
          "media_id", "features", k = 3)
        .select("qid", "nid", "cos", "rk")
        .orderBy("qid", "rk")
    },
      {
        val cos = "round(list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) / " +
          "(sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) * " +
          "sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))), 6)"
        s"""WITH $featureCtes,
           |fl AS (SELECT media_id, list(CAST(fv AS FLOAT) ORDER BY band, ch) AS v
           |       FROM f GROUP BY media_id),
           |${OracleSamples.sampleCte("mqs", "fl", "media_id")},
           |sc AS (SELECT a.media_id AS qid, b.media_id AS nid, $cos AS cos
           |       FROM fl a JOIN fl b ON b.media_id <> a.media_id
           |       WHERE a.media_id IN (SELECT media_id FROM mqs))
           |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
           |  FROM sc)
           |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
      }),

    // full near-dup composition for media: REAL BMP decode → trained
    // k-means quantizer → SemDeDup. Exact copies (planted, id-shifted)
    // have identical feature vectors, co-cluster by construction, and
    // the higher id drops at tau = 0.99 — the whole image-dedup pipeline
    // shape, hash-checked end to end because the band-mean features are
    // integer arithmetic over the payload bytes.
    QuerySpec("m_media_semantic_dedup", (s, dir) => {
      // Pinned k=4 SemDeDup (oracle-value pin; the scale-safe auto-k twin
      // is m_media_semantic_dedup_auto). Because the pin makes per-cluster
      // pair volume O(N²/4), the GATE runs on the 5000 hash-minimal docs
      // (= the full table at both gate SFs, so committed oracle values are
      // unchanged; at sf1+ only the linear TakeOrdered scan grows — decode
      // and dedup run on a fixed-size slice). Oracle replays the slice.
      // repartition after the slice: a mid-plan ORDER BY + LIMIT leaves
      // ONE partition, which would serialize the per-row BMP work onto a
      // single task (the round-2 fan-out-guard lesson)
      val media = graft.operators.Similarity.fixedQuerySample(
        TableCatalog.load(s, dir, "documents")
          .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes")),
        "media_id", 5000)
        .repartition(col("media_id"))
      val all = media.unionByName(media.select(
        (col("media_id") + 1000000L).as("media_id"), col("bytes")))
      // cached: kmeansTrain + assignment re-scan their input per pass —
      // uncached, each pass would re-run the slice TakeOrdered and the
      // full BMP decode. The cached frame is 2×5000 (id, 12 floats) rows.
      val feats = Multimodal.decodeBmp(
          Multimodal.encodeBmp(all, width = 4), bands = 4)
        .select(col("media_id"),
          Multimodal.bandMeanFeatures(col("band_sums"), col("band_counts"))
            .cast("array<float>").as("features"))
        .cache()
      val deduped = graft.operators.Dedup.semanticDedup(
          feats, "media_id", "features", k = 4, iters = 2, tau = 0.99)
        .orderBy("media_id")
      // the k-means passes above ran EAGERLY (driver-side centroid
      // updates), so the cache has served its purpose once the result —
      // model-sized by construction: one row per kept media id, at most
      // 2×5000 at every SF thanks to the fixed-count slice — is
      // materialized. Collect-and-rebuild releases the cache entry
      // immediately instead of leaking one cached plan per fixture dir
      // for JVM lifetime (ADVICE r12), and later bench re-
      // materializations read the driver-local rows rather than
      // re-running the decode. The limit+check makes the fixed-count
      // invariant EXPLICIT (ADVICE r13): a future change to the slice or
      // to semanticDedup's output fails here instead of silently turning
      // this into an unbounded driver collect.
      val driverBound = 2 * 5000
      val rows = deduped.limit(driverBound + 1).collect()
      require(rows.length <= driverBound,
        s"m_media_semantic_dedup driver collect exceeded its fixed-count " +
          s"bound ($driverBound): the 5000-row slice invariant broke")
      feats.unpersist()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), deduped.schema)
    },
      {
        // band-mean features over originals + planted id-shifted copies
        // (identical bytes -> identical vectors), then the d_semantic_dedup
        // kmeans/drop logic over them
        s"""WITH $featureCtes,
           |fl0 AS (SELECT media_id, list(CAST(fv AS FLOAT) ORDER BY band, ch) AS v
           |       FROM f GROUP BY media_id),
           |-- content-hash fixed-count corpus slice, lockstep with the Spark
           |-- gate (5000 hash-minimal ids = the full table at gate SFs)
           |${OracleSamples.sliceCte("fl", "fl0", "media_id", 5000)},
           |fm AS (SELECT media_id, v FROM fl
           |       UNION ALL
           |       SELECT media_id + 1000000, v FROM fl),
           |c0 AS (SELECT media_id AS cid, v AS cv FROM fm ORDER BY media_id LIMIT 4),
           |a1 AS (SELECT media_id, cid FROM (
           |  SELECT e.media_id, c.cid,
           |    row_number() OVER (PARTITION BY e.media_id ORDER BY ${cosD("e.v", "c.cv")} DESC, c.cid) AS rk
           |  FROM fm e CROSS JOIN c0 c) WHERE rk = 1),
           |m1 AS (SELECT a1.cid, dm.dim,
           |         CAST(sum(CAST(CAST(e.v[dm.dim] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
           |           / count(*) AS mv
           |       FROM a1 JOIN fm e USING (media_id),
           |            unnest(range(1, len(e.v) + 1)) AS dm(dim)
           |       GROUP BY a1.cid, dm.dim),
           |c1 AS (SELECT c0.cid,
           |         CASE WHEN count(m1.mv) = 0 THEN any_value(c0.cv)
           |              ELSE list(CAST(m1.mv AS FLOAT) ORDER BY m1.dim) END AS cv
           |       FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid
           |       GROUP BY c0.cid),
           |assign AS (SELECT media_id, cid FROM (
           |  SELECT e.media_id, c.cid,
           |    row_number() OVER (PARTITION BY e.media_id ORDER BY ${cosD("e.v", "c.cv")} DESC, c.cid) AS crk
           |  FROM fm e CROSS JOIN c1 c) WHERE crk = 1),
           |dropped AS (SELECT DISTINCT b.media_id
           |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.media_id < b.media_id
           |  JOIN fm x ON x.media_id = a.media_id
           |  JOIN fm y ON y.media_id = b.media_id
           |  WHERE ${cosD("x.v", "y.v")} >= 0.99)
           |SELECT a.media_id, a.cid AS cluster_id, dr.media_id IS NULL AS kept
           |FROM assign a LEFT JOIN dropped dr USING (media_id)
           |ORDER BY a.media_id""".stripMargin
      }),

    // the audio flavor: payload → real RIFF/WAVE container → real chunk-
    // walking decode → per-segment RMS loudness profile (the
    // silence-trim / loudness-filter shape of an audio curation pass)
    QuerySpec("m_media_wav", (s, dir) => {
      val media = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes"))
      val decoded = Multimodal.decodeWav(
        Multimodal.encodeWav(media, sampleRate = 8000), segs = 4)
      val rms = (0 until 4).map(i =>
        element_at(Multimodal.segRmsFeatures(
          col("seg_sumsq"), col("seg_counts")), i + 1).as(s"rms$i"))
      decoded.select(Seq(col("media_id"), col("sample_rate"),
          col("n_samples")) ++ rms: _*)
        .orderBy("media_id")
    },
      // 8-bit PCM: sample value = text byte, amplitude = value - 128;
      // segment of (1-based) sample p = ((p-1) * 4) // n
      {
        val rmsCols = (0 until 4).map { i =>
          s"coalesce(max(CASE WHEN seg = $i THEN rms END), 0.0) AS rms$i"
        }.mkString(",\n  ")
        s"""WITH d AS (SELECT doc_id AS media_id, text, strlen(text) AS n FROM documents),
           |sq AS (SELECT media_id, ((p - 1) * 4) // n AS seg,
           |         sum((ord(substring(text, p, 1)) - 128)
           |           * (ord(substring(text, p, 1)) - 128)) AS ss,
           |         count(*) AS cnt
           |       FROM d, unnest(range(1, n + 1)) AS u(p)
           |       GROUP BY media_id, ((p - 1) * 4) // n),
           |r AS (SELECT media_id, seg,
           |        round(sqrt(CAST(ss AS DOUBLE) / cnt), 6) AS rms FROM sq)
           |SELECT d.media_id, 8000 AS sample_rate, n::BIGINT AS n_samples,
           |  $rmsCols
           |FROM d LEFT JOIN r USING (media_id)
           |GROUP BY d.media_id, n ORDER BY d.media_id""".stripMargin
      }),

    // audio feature extraction beyond RMS: per-segment MEAN-LINE zero
    // crossing counts (voicing/silence screen; integer-exact via the
    // n·amp − S sign test) over the same real WAV round-trip.
    QuerySpec("m_media_audio", (s, dir) => {
      val media = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes"))
      val decoded = Multimodal.decodeWav(
        Multimodal.encodeWav(media, sampleRate = 8000), segs = 4)
      val zc = (0 until 4).map(i =>
        element_at(col("seg_zcs"), i + 1).as(s"zc$i"))
      decoded.select(Seq(col("media_id"), col("n_samples")) ++ zc: _*)
        .orderBy("media_id")
    },
      {
        val amp = "(ord(substring(text, p, 1)) - 128)"
        val ampPrev = "(ord(substring(text, p - 1, 1)) - 128)"
        val zcCols = (0 until 4).map { i =>
          s"coalesce(max(CASE WHEN seg = $i THEN z END), 0)::BIGINT AS zc$i"
        }.mkString(",\n  ")
        s"""WITH d AS (SELECT doc_id AS media_id, text, strlen(text) AS n FROM documents),
           |s AS (SELECT media_id, CAST(sum($amp) AS BIGINT) AS amp_sum
           |      FROM d, unnest(range(1, n + 1)) AS u(p) GROUP BY media_id),
           |zc AS (SELECT d.media_id, ((p - 1) * 4) // n AS seg,
           |    CAST(sum(CASE WHEN (n * $amp < amp_sum) <> (n * $ampPrev < amp_sum)
           |             THEN 1 ELSE 0 END) AS BIGINT) AS z
           |  FROM d JOIN s USING (media_id), unnest(range(2, n + 1)) AS u(p)
           |  GROUP BY d.media_id, ((p - 1) * 4) // n)
           |SELECT d.media_id, n::BIGINT AS n_samples,
           |  $zcCols
           |FROM d LEFT JOIN zc USING (media_id)
           |GROUP BY d.media_id, n ORDER BY d.media_id""".stripMargin
      }),

    // video scene-cut detection over the real AVI decode: per-frame
    // total brightness (integer sum over the frame's band sums), cuts
    // where the inter-frame delta exceeds a fixed integer threshold
    // (48 bytes/frame × avg byte delta 32) — all-integer, so the cut
    // count is bit-reproducible; the frame window is per-media.
    QuerySpec("m_media_scene_cuts", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val media = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes"))
      val decoded = Multimodal.decodeAvi(
        Multimodal.encodeAvi(media, width = 4, frameRows = 4), bands = 2)
      val fs = decoded
        .select(col("media_id"), col("n_frames"),
          posexplode(col("frame_sums")).as(Seq("fidx", "sums")))
        .select(col("media_id"), col("n_frames"), col("fidx"),
          aggregate(col("sums"), lit(0L), (a, x) => a + x).as("sf"))
      val w = Window.partitionBy("media_id").orderBy("fidx")
      fs.withColumn("delta", abs(col("sf") - lag(col("sf"), 1).over(w)))
        .groupBy("media_id")
        .agg(max(col("n_frames")).as("n_frames"),
          sum(when(col("delta") > 1536, 1L).otherwise(0L)).as("n_cuts"),
          coalesce(max(col("delta")), lit(0L)).as("max_delta"))
        .orderBy("media_id")
    },
      """WITH d AS (SELECT doc_id AS media_id, text, strlen(text) AS len,
        |       greatest(1, CAST(ceil(strlen(text) / 48.0) AS INT))::INT AS nf
        |     FROM documents),
        |bybyte AS (SELECT media_id, (p - 1) // 48 AS fidx,
        |        ord(substring(text, p, 1)) AS v
        |      FROM d, unnest(range(1, len + 1)) AS u(p)),
        |sf AS (SELECT media_id, fidx, CAST(sum(v) AS BIGINT) AS s
        |       FROM bybyte GROUP BY media_id, fidx),
        |dd AS (SELECT media_id, fidx, s,
        |       lag(s) OVER (PARTITION BY media_id ORDER BY fidx) AS prev FROM sf)
        |SELECT d.media_id, nf AS n_frames,
        |  CAST(sum(CASE WHEN abs(s - prev) > 1536 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |  CAST(coalesce(max(abs(s - prev)), 0) AS BIGINT) AS max_delta
        |FROM d JOIN dd USING (media_id)
        |GROUP BY d.media_id, nf ORDER BY media_id""".stripMargin),

    // perceptual average-hash near-dup blocking: bit j = band-channel
    // mean j above the image's overall mean — decided by EXACT integer
    // cross-multiplication (s_j·ctot > stot·c_j), so the 12-bit hash is
    // bit-reproducible on any engine; equal-hash pairs are the blocking
    // candidates (the image-side analogue of LSH banding).
    QuerySpec("m_media_phash", (s, dir) => {
      val decoded = Multimodal.decodeBmp(bmpMedia(s, dir))
      val withTot = decoded
        .withColumn("__st", aggregate(col("band_sums"), lit(0L), (a, x) => a + x))
        .withColumn("__ct", aggregate(col("band_counts"), lit(0L), (a, x) => a + x))
        .withColumn("bits", zip_with(col("band_sums"), col("band_counts"),
          (sj, cj) => when(sj * col("__ct") > col("__st") * cj, 1L).otherwise(0L)))
      val ah = graft.functions.SafeExplode.posexplodeSelect(
          withTot, Seq(col("media_id")), col("bits"))
        .groupBy("media_id")
        .agg(sum(expr("shiftleft(col, cast(pos as int))")).as("ahash"))
      ah.as("a").join(ah.as("b"),
          col("a.ahash") === col("b.ahash") && col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("m1"), col("b.media_id").as("m2"),
          col("a.ahash").as("ahash"))
        .orderBy("m1", "m2")
    },
      s"""WITH $featureCtes,
         |slot AS (SELECT rc.media_id, rc.band, c.ch,
         |        coalesce(bs.s, 0) AS s, rc.cnt
         |      FROM rc CROSS JOIN (SELECT unnest(range(0, 3)) AS ch) c
         |      LEFT JOIN bs ON bs.media_id = rc.media_id
         |        AND bs.band = rc.band AND bs.ch = c.ch),
         |tot AS (SELECT media_id, sum(s) AS st, sum(cnt) AS ct
         |        FROM slot GROUP BY media_id),
         |ah AS (SELECT s.media_id,
         |    CAST(sum(CASE WHEN s.s * t.ct > t.st * s.cnt
         |         THEN (2 ** (s.band * 3 + s.ch))::BIGINT ELSE 0 END) AS BIGINT) AS ahash
         |  FROM slot s JOIN tot t USING (media_id) GROUP BY s.media_id)
         |SELECT a.media_id AS m1, b.media_id AS m2, a.ahash
         |FROM ah a JOIN ah b ON a.ahash = b.ahash AND a.media_id < b.media_id
         |ORDER BY m1, m2""".stripMargin),

    // the video flavor: payload → real RIFF/AVI container (uncompressed
    // 24-bpp DIB frames in a movi LIST) → real nested-LIST chunk walk →
    // PER-FRAME banded channel means. Frame f covers payload bytes
    // [f*48, f*48+48) (width 4 × 4 rows × 3 channels); 2 bands × 3
    // channels, 8 bytes per slot (zero padding counted, exactly as the
    // decoder sees the stored frame) — all integer arithmetic, fully
    // hash-checked.
    QuerySpec("m_media_video", (s, dir) => {
      val media = TableCatalog.load(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes"))
      val decoded = Multimodal.decodeAvi(
        Multimodal.encodeAvi(media, width = 4, frameRows = 4), bands = 2)
      val ex = decoded.select(col("media_id"), col("n_frames"),
        col("frame_counts"), posexplode(col("frame_sums")).as(Seq("fidx", "sums")))
      val feats = (0 until 6).map(i =>
        element_at(Multimodal.bandMeanFeatures(col("sums"),
          element_at(col("frame_counts"), col("fidx") + 1)), i + 1).as(s"f$i"))
      ex.select(Seq(col("media_id"), col("n_frames"),
          col("fidx").cast("int").as("fidx")) ++ feats: _*)
        .orderBy("media_id", "fidx")
    },
      // payload byte p (1-based, q = p-1): frame q//48, row-in-frame
      // (q//12)%4, band = row//2 (2 bands over 4 rows), channel q%3;
      // every (frame, band, ch) slot counts exactly 8 stored bytes
      {
        val fcols = (0 until 6).map { i =>
          s"coalesce(max(CASE WHEN band = ${i / 3} AND ch = ${i % 3} THEN fv END), 0.0) AS f$i"
        }.mkString(",\n  ")
        s"""WITH d AS (SELECT doc_id AS media_id, text, strlen(text) AS len,
           |       greatest(1, CAST(ceil(strlen(text) / 48.0) AS INT))::INT AS nf
           |     FROM documents),
           |bybyte AS (SELECT media_id, (p - 1) // 48 AS fidx,
           |        (((p - 1) // 12) % 4) // 2 AS band, (p - 1) % 3 AS ch,
           |        ord(substring(text, p, 1)) AS v
           |      FROM d, unnest(range(1, len + 1)) AS u(p)),
           |slots AS (SELECT d.media_id, d.nf, fr.fidx, bd.band, c.ch
           |      FROM d, unnest(range(0, d.nf)) AS fr(fidx),
           |           unnest(range(0, 2)) AS bd(band),
           |           unnest(range(0, 3)) AS c(ch)),
           |bs AS (SELECT media_id, fidx, band, ch, sum(v) AS sv
           |       FROM bybyte GROUP BY media_id, fidx, band, ch),
           |f AS (SELECT sl.media_id, sl.nf, sl.fidx, sl.band, sl.ch,
           |        round(CAST(coalesce(bs.sv, 0) AS DOUBLE) / 8, 6) AS fv
           |      FROM slots sl LEFT JOIN bs ON bs.media_id = sl.media_id
           |        AND bs.fidx = sl.fidx AND bs.band = sl.band AND bs.ch = sl.ch)
           |SELECT media_id, nf AS n_frames, fidx::INT AS fidx,
           |  $fcols
           |FROM f GROUP BY media_id, nf, fidx ORDER BY media_id, fidx""".stripMargin
      }),

    // the full pipeline: encode → content stats → REAL decode → frame
    // sampling, every emitted value DuckDB-replicable (n_bytes is the
    // BMP file size 54 + 12·h; f0..f11 the banded channel means)
    QuerySpec("m_media_pipeline", (s, dir) => {
      val decoded = Multimodal.decodeBmp(
        Multimodal.withContentStats(bmpMedia(s, dir), bytesCol = "bmp"),
        bands = 4)
      val sampled = Multimodal.frameSample(decoded, n = 4, frameLen = 16,
        bytesCol = "bmp")
      val feats = (0 until 12).map(i =>
        element_at(Multimodal.bandMeanFeatures(
          col("band_sums"), col("band_counts")), i + 1).as(s"f$i"))
      sampled.select(Seq(col("media_id"), col("n_bytes"), col("img_w"),
          col("img_h")) ++ feats :+ size(col("frames")).as("n_frames"): _*)
        .orderBy("media_id")
    },
      {
        val fcols = (0 until 12).map { i =>
          s"coalesce(max(CASE WHEN band = ${i / 3} AND ch = ${i % 3} THEN fv END), 0.0) AS f$i"
        }.mkString(",\n  ")
        s"""WITH $featureCtes
           |SELECT d.media_id, (54 + 12 * d.h)::BIGINT AS n_bytes,
           |  4 AS img_w, d.h AS img_h,
           |  $fcols,
           |  4 AS n_frames
           |FROM d JOIN f USING (media_id)
           |GROUP BY d.media_id, d.h ORDER BY d.media_id""".stripMargin
      })
  )
}
