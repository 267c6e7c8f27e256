package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-8 operators: codec bounds hardening (overflow-crafted headers
  * must reject loudly, never mis-parse silently) and the native
  * GramBucketShares kernel behind hashedCharNgramFeatures. */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference bucket-share computation, straight from the documented
    * contract: k leading md5 hex digits of each n-code-point gram of the
    * lowercased text, % buckets, count-normalized. */
  private def refShares(text: String, n: Int, buckets: Int): Seq[Double] = {
    val t = text.toLowerCase
    val cps = t.codePoints().toArray
    val k = graft.plans.GramBucketShares.hexDigits(buckets)
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = (0 to cps.length - n).map { i =>
      new String(cps, i, n).getBytes("UTF-8")
    }
    val counts = new Array[Long](buckets)
    grams.foreach { g =>
      val hex = md.digest(g).map(b => f"$b%02x").mkString
      val v = java.lang.Long.parseLong(hex.take(k), 16)
      counts((v % buckets).toInt) += 1
    }
    if (grams.isEmpty) Seq.fill(buckets)(0.0)
    else counts.map(_.toDouble / grams.length).toSeq
  }

  test("hashedCharNgramFeatures at B=256 matches the documented k-hex-digit contract") {
    val texts = Seq((1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "abcdefgh"), (3L, ""), (4L, "ab"))
    val f = Classifier.hashedCharNgramFeatures(
      texts.toDF("doc_id", "text"), "doc_id", "text", n = 3, buckets = 256)
      .orderBy("doc_id").as[(Long, Seq[Double])].collect()
    texts.zip(f).foreach { case ((_, t), (_, x)) =>
      assert(x.length === 257 && x.head === 1.0)
      assert(x.tail === refShares(t, 3, 256))
    }
  }

  test("hashedCharNgramFeatures at wide B (2^16) keeps the single-kernel plan") {
    val docs = Seq((1L, "wide bucket spaces must not blow up the plan")).toDF("doc_id", "text")
    val df = Classifier.hashedCharNgramFeatures(docs, "doc_id", "text", buckets = 1 << 16)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"))
    val x = df.as[(Long, Seq[Double])].collect().head._2
    assert(x.length === (1 << 16) + 1)
    assert(math.abs(x.tail.sum - 1.0) < 1e-9, "shares still sum to 1")
  }

  test("GramBucketShares slides grams by code point, not UTF-16 unit or byte") {
    // 𝐀 (U+1D400, 4 UTF-8 bytes, 2 UTF-16 units) between ASCII letters:
    // "a𝐀b" has exactly one 3-code-point gram
    val docs = Seq((1L, "a𝐀b")).toDF("doc_id", "text")
    val x = Classifier.hashedCharNgramFeatures(docs, "doc_id", "text", n = 3, buckets = 16)
      .as[(Long, Seq[Double])].collect().head._2
    assert(x.tail.sum === 1.0, "exactly one gram -> one bucket holds share 1.0")
    assert(x.tail === refShares("a𝐀b", 3, 16))
  }

  private def le32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  test("parseBmp rejects overflow-crafted header dimensions instead of zero-iterating") {
    // width near Int.MaxValue: 3*w overflows Int to a negative stride —
    // pre-fix the pixel loop ran zero iterations and returned all-zero
    // sums for a "valid" parse
    val b1 = Multimodal.bmpBytes(Array.fill(24)(1.toByte), width = 4)
    le32(b1, 18, Int.MaxValue - 2)
    val e1 = intercept[IllegalArgumentException] { Multimodal.parseBmp(b1, 4) }
    assert(e1.getMessage.contains("exceed"), s"got: ${e1.getMessage}")

    // hRaw = Int.MinValue survives math.abs as a negative Int
    val b2 = Multimodal.bmpBytes(Array.fill(24)(1.toByte), width = 4)
    le32(b2, 22, Int.MinValue)
    intercept[IllegalArgumentException] { Multimodal.parseBmp(b2, 4) }

    // adversarial PAIR whose stride*height product overflows even Long
    // back past the extent check
    val b3 = Multimodal.bmpBytes(Array.fill(24)(1.toByte), width = 4)
    le32(b3, 18, Int.MaxValue - 2); le32(b3, 22, Int.MinValue)
    intercept[IllegalArgumentException] { Multimodal.parseBmp(b3, 4) }
  }

  test("graft_nearest_centroids is bit-identical to the column form it replaced") {
    // the round-7 column form: transform over the centroid literal to
    // struct(round(graft_cosine, 6), -cid), array_max / sort_array desc
    // — rebuilt here verbatim as the parity reference
    val cents: Seq[(Long, Array[Float])] = (0L until 7L).map { c =>
      c -> Array.tabulate(16)(d =>
        (math.sin(c * 31 + d * 7) * (1 + (c % 3))).toFloat)
    }
    val centsLit = typedLit(cents.map { case (cid, cv) => (cid, cv.toSeq) })
    def columnScores(v: org.apache.spark.sql.Column) =
      transform(centsLit, c =>
        struct(round(call_function("graft_cosine", v, c.getField("_2")), 6).as("c"),
          (-c.getField("_1")).as("nc")))
    val vecs = (1L to 500L).map { i =>
      i -> Array.tabulate(16)(d => (math.cos(i * 13 + d * 3) * (i % 5 + 1)).toFloat).toSeq
    }.toDF("id", "v").select(col("id"), col("v").cast("array<float>").as("v"))
    val both = vecs.select(col("id"),
      (-array_max(columnScores(col("v"))).getField("nc")).cast("long").as("old1"),
      transform(slice(sort_array(columnScores(col("v")), asc = false), 1, 3),
        s => (-s.getField("nc")).cast("long")).as("old3"),
      element_at(call_function("graft_nearest_centroids", col("v"), centsLit, lit(1)), 1).as("new1"),
      call_function("graft_nearest_centroids", col("v"), centsLit, lit(3)).as("new3"))
      .collect()
    both.foreach { r =>
      assert(r.getAs[Long]("old1") === r.getAs[Long]("new1"))
      assert(r.getSeq[Long](r.fieldIndex("old3")).toList
        === r.getSeq[Long](r.fieldIndex("new3")).toList)
    }
  }

  test("graft_nearest_centroids handles ties (lowest cid), zero-norm vectors, and n > k") {
    // duplicate centroids -> identical 6-dp scores -> lowest cid wins
    val cv = Array.tabulate(4)(_.toFloat + 1f).toSeq
    val dupLit = typedLit(Seq((5L, cv), (2L, cv), (9L, cv)))
    val df = Seq((1L, cv)).toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val r = df.select(
      call_function("graft_nearest_centroids", col("v"), dupLit, lit(5)).as("top"))
      .as[Seq[Long]].collect().head
    assert(r === Seq(2L, 5L, 9L), "ties break to lowest cid; n > k returns all k")
    // zero-norm vector: cosine NaN, which SQL ordering puts ABOVE any
    // finite score — parity with the column form's struct array_max
    val zdf = Seq((1L, Seq(0f, 0f, 0f, 0f))).toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val mixLit = typedLit(Seq((1L, cv), (3L, Seq(0f, 0f, 0f, 0f))))
    val z = zdf.select(
      element_at(call_function("graft_nearest_centroids", col("v"), mixLit, lit(1)), 1).as("c"),
      (-array_max(transform(mixLit, c =>
        struct(round(call_function("graft_cosine", col("v"), c.getField("_2")), 6).as("c"),
          (-c.getField("_1")).as("nc")))).getField("nc")).cast("long").as("old"))
      .collect().head
    assert(z.getAs[Long]("c") === z.getAs[Long]("old"), "NaN ordering parity")
  }

  test("parseWav rejects a chunk length that wraps the Int extent check") {
    // len near Int.MaxValue: off + 8 + len wraps negative in Int
    // arithmetic and passed the bound pre-fix; the sample loop then blew
    // up with AIOOBE instead of the documented loud reject
    val b = Multimodal.wavBytes(Array[Byte](1, 2, 3, 4), sampleRate = 8000)
    le32(b, 40, Int.MaxValue - 4) // data chunk claims ~2^31 bytes
    val e = intercept[IllegalArgumentException] { Multimodal.parseWav(b, 4) }
    assert(e.getMessage.contains("overruns"), s"got: ${e.getMessage}")
  }

  // --- real AVI video container ---------------------------------------

  test("aviBytes writes a canonical RIFF/AVI container, golden structure") {
    // 50 payload bytes, 48 per frame -> 2 frames, second zero-padded
    val payload = (1 to 50).map(_.toByte).toArray
    val b = Multimodal.aviBytes(payload, width = 4, frameRows = 4)
    assert(new String(b.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(b.slice(8, 12), "US-ASCII") === "AVI ")
    assert(new String(b.slice(12, 16), "US-ASCII") === "LIST")
    assert(new String(b.slice(20, 24), "US-ASCII") === "hdrl")
    assert(new String(b.slice(24, 28), "US-ASCII") === "avih")
    // dwTotalFrames at avih body + 16
    assert((b(32 + 16) & 0xff) === 2, "two frames")
    // file size: 12 + LIST hdrl (8 + 4+64+8+56+48... ) — trust the RIFF
    // length field to equal the remaining byte count
    val riffLen = (b(4) & 0xff) | ((b(5) & 0xff) << 8) |
      ((b(6) & 0xff) << 16) | ((b(7) & 0xff) << 24)
    assert(riffLen === b.length - 8)
    // payload byte 0 (value 1) is frame 0, top row, first channel —
    // bottom-up storage puts it at the LAST stored row of frame 0
    val moviData = b.indexOfSlice("00db".getBytes("US-ASCII"))
    assert(moviData > 0)
    assert(b(moviData + 8 + 3 * 12) === 1.toByte)
  }

  test("encodeAvi -> decodeAvi distributed round-trip matches local parse") {
    val docs = Seq((1L, "a video payload long enough to span multiple frames!"),
      (2L, "x"), (3L, ""))
      .toDF("media_id", "text")
      .select(col("media_id"), col("text").cast("binary").as("bytes"))
    val r = Multimodal.decodeAvi(Multimodal.encodeAvi(docs, width = 4, frameRows = 4),
        bands = 2)
      .select("media_id", "n_frames", "frame_w", "frame_h", "frame_sums", "frame_counts")
      .orderBy("media_id")
      .as[(Long, Int, Int, Int, Seq[Seq[Long]], Seq[Seq[Long]])].collect()
    val local = Multimodal.parseAvi(
      Multimodal.aviBytes(
        "a video payload long enough to span multiple frames!".getBytes("UTF-8"), 4, 4), 2)
    assert(r(0)._2 === 2 && r(0)._3 === 4 && r(0)._4 === 4, "53 bytes -> 2 frames of 4x4")
    assert(r(0)._5 === local._3.map(_.toSeq).toSeq)
    assert(r(0)._6 === local._4.map(_.toSeq).toSeq)
    assert(r(0)._6.forall(_.forall(_ === 8L)), "every (band, ch) slot counts 8 stored bytes")
    assert(r(2)._2 === 1 && r(2)._5.head.forall(_ === 0L),
      "empty payload still encodes one all-zero frame")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged by content hash") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val v2 = Seq((1L, "a"), (2L, "B!"), (4L, "d")).toDF("doc_id", "text")
    val r = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(r.toSeq === Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
  }

  test("exactSubstringDedupAgainst: corpus passages die in the batch, corpus is never rebuilt") {
    // an 8-token passage lives in corpus doc 100; batch doc 1 embeds it
    // once (batch-internally unique — only the corpus makes it repeated);
    // batch doc 3 has a batch-internal repeat; batch doc 5 is clean
    val passage = "one two three four five six seven eight"
    val corpus = Seq((100L, s"corpus prefix $passage corpus suffix")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"alpha $passage omega"),
      (3L, s"x1 x2 x3 x4 x5 x6 x7 x8 mid x1 x2 x3 x4 x5 x6 x7 x8"),
      (5L, "totally unique words nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val r = Dedup.exactSubstringDedupAgainst(corpus, batch, "doc_id", "text", n = 8)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(r.map(_._1).toSeq === Seq(1L, 3L, 5L), "only batch docs are rebuilt")
    assert(r(0)._3 === 8L && r(0)._4 === "alpha omega",
      "the corpus-repeated passage dies in the batch doc")
    assert(r(1)._3 === 16L, "batch-internal repeats die too")
    assert(r(2)._3 === 0L && r(2)._4.startsWith("totally"),
      "clean batch docs pass through untouched")
  }

  // --- SQ8 scalar quantization ----------------------------------------

  test("SQ8: codes hit the planted extremes, recon stays in [min, max], model is partitioning-invariant") {
    // dim 0 spans [0, 10], dim 1 spans [-4, 4], dim 2 degenerate (all 7)
    val vecs = Seq(
      (1L, Seq(0f, -4f, 7f)), (2L, Seq(10f, 4f, 7f)),
      (3L, Seq(5f, 0f, 7f)), (4L, Seq(2.5f, 2f, 7f)))
    val df = vecs.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<float>").as("v"))
    val m = Similarity.sqTrain(df, "v", dims = 3)
    assert(m === Seq((0f, 10f), (-4f, 4f), (7f, 7f)))
    val m2 = Similarity.sqTrain(df.repartition(3), "v", dims = 3)
    assert(m2 === m, "float min/max is exact and order-independent")
    val codes = Similarity.sqEncode(df, "vec_id", "v", m)
      .orderBy("vec_id", "dim")
      .as[(Long, Int, Int)].collect()
    val byVec = codes.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byVec(1L) === Seq(0, 0, 0), "min maps to code 0; degenerate dim codes 0")
    assert(byVec(2L) === Seq(255, 255, 0), "max maps to code 255")
    assert(byVec(3L)(0) === 127, "midpoint: floor(5*255/10)")
    // reconstruction: midpoint decode stays strictly inside (min, max)
    // for interior codes, and degenerate dims decode to min
    val recon = df.select(col("vec_id"),
        Similarity.sqReconExpr(Similarity.sqCodeExpr(col("v"), m), m).as("r"))
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    recon.foreach { case (_, r) =>
      assert(r(0) >= 0.0 && r(0) <= 10.0 && r(1) >= -4.0 && r(1) <= 4.0)
      assert(r(2) === 7.0, "degenerate dim reconstructs to min")
    }
    // quantization error bound: half a quantization step
    val step0 = 10.0 / 256.0
    vecs.zip(recon).foreach { case ((_, v), (_, r)) =>
      assert(math.abs(v(0) - r(0)) <= step0 / 2 + 1e-9,
        s"recon error ${math.abs(v(0) - r(0))} exceeds half-step ${step0 / 2}")
    }
  }

  test("sqTopK ranks the SQ8-reconstructed neighbors; identical vectors tie to lowest id") {
    val base = Seq.tabulate(8)(d => math.sin(d * 3).toFloat)
    val vecs = (1L to 40L).map { i =>
      val scale = 1f + (i % 4)
      (i, base.zipWithIndex.map { case (x, d) =>
        if (i % 2 == 0) x * scale else (if (d % 2 == 0) x else -x) * scale })
    }
    val df = vecs.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<float>").as("v"))
    val m = Similarity.sqTrain(df, "v", dims = 8)
    val top = Similarity.sqTopK(df, df.filter(col("vec_id") === 2L), "vec_id", "v", 5, m)
      .orderBy("rk").as[(Long, Long, Double, Long)].collect()
    assert(top.length === 5)
    // even ids share vector DIRECTION with the query (id 2); top
    // neighbors must all be even despite SQ8 quantization
    assert(top.forall(_._2 % 2 == 0), s"odd-direction id leaked into ${top.toSeq}")
  }

  test("ivfSqTopK: probed-list candidates ranked by SQ8 reconstruction stay in the query's direction cluster") {
    // two DIRECTION clusters (the ivfPqTopK spec's corpus shape): even
    // ids spike even dims, odd ids flip sign on odd dims; scale jitter
    val vecs = (1L to 60L).map { i =>
      val scale = 1f + (i % 3)
      (i, Seq.tabulate(8)(d =>
        (if (i % 2 == 0) math.sin(d * 3) else (if (d % 2 == 0) math.sin(d * 3) else -math.sin(d * 3)))
          .toFloat * scale))
    }
    val df = vecs.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<float>").as("v"))
    val cents = graft.operators.Vectors.kmeansTrain(df, "vec_id", "v", k = 2, iters = 2)
    val m = Similarity.sqTrain(df, "v", dims = 8)
    val top = Similarity.ivfSqTopK(df, df.filter(col("vec_id") === 4L),
        cents.toDF("cid", "cv"), "vec_id", "v", k = 5, nprobe = 1, m)
      .orderBy("rk").as[(Long, Long, Double, Long)].collect()
    assert(top.length === 5)
    assert(top.forall(_._2 % 2 == 0),
      s"SQ8 quantization must not leak the opposite direction cluster into ${top.toSeq}")
  }

  test("parseAvi rejects garbage, bad compression, and overflow-crafted headers") {
    intercept[IllegalArgumentException] {
      Multimodal.parseAvi("not an avi container".getBytes("UTF-8"), 2)
    }
    val good = Multimodal.aviBytes((1 to 50).map(_.toByte).toArray, 4, 4)
    // strf biCompression lives at strf body + 16; find strf
    val strf = good.indexOfSlice("strf".getBytes("US-ASCII"))
    val bad1 = good.clone(); bad1(strf + 8 + 16) = 1 // BI_RLE8
    intercept[IllegalArgumentException] { Multimodal.parseAvi(bad1, 2) }
    // width near Int.MaxValue: stride math must reject in Long, not wrap
    val bad2 = good.clone(); le32(bad2, strf + 8 + 4, Int.MaxValue - 2)
    val e2 = intercept[IllegalArgumentException] { Multimodal.parseAvi(bad2, 2) }
    assert(e2.getMessage.contains("exceed"), s"got: ${e2.getMessage}")
    // frame chunk length that disagrees with stride*h
    val f0 = good.indexOfSlice("00db".getBytes("US-ASCII"))
    val bad3 = good.clone(); le32(bad3, f0 + 4, 47)
    intercept[IllegalArgumentException] { Multimodal.parseAvi(bad3, 2) }
    // truncated mid-frame
    intercept[IllegalArgumentException] {
      Multimodal.parseAvi(good.dropRight(4), 2)
    }
  }
}
