package graft.fuzz

import graft.operators.Multimodal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Seeded adversarial-bytes differential fuzz for the multimodal codecs —
  * the [[SampleFuzz]] discipline aimed at parsers over UNTRUSTED BINARY
  * (`Multimodal.parseBmp`/`parseWav`/`parseAvi` and their lenient
  * quarantine twins), the classic fuzz target the r15 verdict flagged as
  * the one family without randomized second-engine coverage.
  *
  * The second engine is an independent plain-Scala decoder model written
  * from the container specs (BMP file+info header, RIFF chunk grammar)
  * with a deliberately different shape: `java.nio.ByteBuffer` little-
  * endian reads instead of hand-rolled shift-or, absolute-position pixel
  * walks instead of nested row loops, recursive RIFF descent instead of
  * an imperative cursor, and BigInt extent arithmetic so the MODEL can
  * never itself overflow. Verdicts are `Either[reasonCode, features]`
  * where the reason code is the documented quarantine code (message text
  * up to the first parenthesized detail) in the documented validation
  * order — so the differential pins the full contract: WHAT is rejected,
  * WHY (stable code), and what the decoded features are when accepted.
  *
  * Payload generators per set:
  *  - valid containers from the PIPELINE encoders (`bmpBytes`/`wavBytes`/
  *    `aviBytes`) — the encode→decode round-trip, feature values checked
  *    against the model's independent byte→(row,channel) layout math;
  *  - valid containers from the MODEL's own builders exercising format
  *    freedom the pipeline never emits: top-down BMPs (negative height),
  *    pixel arrays at offsets past 54, trailing bytes, WAV `fact`/`LIST`
  *    chunks before `data` (odd-length, to hit RIFF word-alignment),
  *    chunks after `data`, AVI `JUNK` top-level chunks and non-`00db`
  *    chunks inside `movi`, 1×1 frames, odd strides;
  *  - byte-level MUTATIONS of valid containers: truncations at random
  *    offsets, flipped chunk-length fields (including the exact
  *    Int-overflow shapes the parsers defend against: lengths near
  *    2^31, dimensions whose stride·h product wraps Long), wrong magics,
  *    corrupted nested-LIST lengths, zeroed/negated dims, wrong
  *    codec/channels/bits/compression tags, random single-byte flips,
  *    and empty/tiny payloads.
  *
  * Checks per payload: (1) strict parser accepts ⇔ model accepts;
  * (2) on accept, features bit-equal; (3) on reject, reason CODES equal
  * and the parser threw IllegalArgumentException — any other throwable
  * (AIOOBE, NegativeArraySize, OOM from a crafted allocation) is a
  * divergence, i.e. a crash bug; (4) the lenient DataFrame twin never
  * fails the job, its status equals the model verdict, and its decode
  * columns equal the strict features on 'ok' rows — asserted through the
  * REAL mapPartitions seam in one batch per set.
  *
  * The fast deterministic subset runs in MediaFuzzSpec; the full
  * multi-seed sweep runs via `graft.Fuzz media` and is recorded in
  * FUZZ_r<N>.json per round.
  */
object MediaFuzz extends Surface {

  final case class MPayload(id: Long, kind: String, bytes: Array[Byte],
                            desc: String) {
    override def toString: String =
      s"MPayload($id, $kind, ${bytes.length}B, $desc, " +
        s"hex=${bytes.take(96).map("%02x".format(_)).mkString}" +
        (if (bytes.length > 96) "..." else "") + ")"
  }

  // ------------------------------------------------------------------
  // model verdicts
  // ------------------------------------------------------------------

  /** BMP features: (w, h, sums, counts). */
  type BmpFeat = (Int, Int, Seq[Long], Seq[Long])
  /** WAV features: (rate, nSamples, sumsq, counts, zcs). */
  type WavFeat = (Int, Long, Seq[Long], Seq[Long], Seq[Long])
  /** AVI features: (w, h, frameSums, frameCounts). */
  type AviFeat = (Int, Int, Seq[Seq[Long]], Seq[Seq[Long]])

  private def le32(b: Array[Byte], off: Int): Int =
    java.nio.ByteBuffer.wrap(b, off, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
  private def le16(b: Array[Byte], off: Int): Int =
    java.nio.ByteBuffer.wrap(b, off, 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort & 0xffff
  private def tag4(b: Array[Byte], off: Int): String =
    if (off + 4 <= b.length)
      new String(b, off, 4, "US-ASCII")
    else new String(b, off, math.max(0, b.length - off), "US-ASCII")

  /** Model BMP decode: the documented validation order, independent
    * arithmetic (BigInt extents, absolute-position pixel walk). */
  def modelBmp(b: Array[Byte], bands: Int): Either[String, BmpFeat] = {
    if (b.length < 54 || b(0) != 'B'.toByte || b(1) != 'M'.toByte)
      return Left("not a BMP payload")
    val off = le32(b, 10); val dib = le32(b, 14)
    val w = le32(b, 18); val hRaw = le32(b, 22)
    val bpp = le16(b, 28); val comp = le32(b, 30)
    if (dib < 40) return Left("unsupported DIB header size")
    if (!(bpp == 24 && comp == 0))
      return Left("only uncompressed 24-bpp supported")
    if (!(w > 0 && hRaw != 0)) return Left("bad dimensions")
    val topDown = hRaw < 0
    val h = BigInt(hRaw.toLong).abs
    val stride = (BigInt(3) * w + 3) / 4 * 4
    if (!(stride <= b.length && h <= b.length))
      return Left("dimensions exceed payload")
    if (!(off >= 54 && BigInt(off) + stride * h <= b.length))
      return Left("truncated pixel array")
    val hi = h.toInt; val strideI = stride.toInt; val rowBytes = 3 * w
    val sums = new Array[Long](bands * 3)
    val cnts = new Array[Long](bands * 3)
    // absolute-position walk over the pixel array; pad bytes skipped
    var p = 0
    val total = strideI * hi
    while (p < total) {
      val fileRow = p / strideI; val oo = p % strideI
      if (oo < rowBytes) {
        val ir = if (topDown) fileRow else hi - 1 - fileRow
        val band = (BigInt(ir) * bands / hi).toInt
        val k = band * 3 + oo % 3
        sums(k) += (b(off + p) & 0xff); cnts(k) += 1
      }
      p += 1
    }
    Right((w, hi, sums.toSeq, cnts.toSeq))
  }

  /** Model WAV decode: recursive RIFF walk with the documented
    * found-both early stop, fmt validation, mean-line ZCR in BigInt. */
  def modelWav(b: Array[Byte], segs: Int): Either[String, WavFeat] = {
    if (b.length < 12 || tag4(b, 0) != "RIFF" || tag4(b, 8) != "WAVE")
      return Left("not a RIFF/WAVE payload")
    @annotation.tailrec
    def walk(off: Int, rate: Option[Int], data: Option[(Int, Int)])
        : Either[String, (Int, Int, Int)] =
      if (off + 8 > b.length || (rate.nonEmpty && data.nonEmpty)) {
        if (rate.isEmpty) Left("missing fmt chunk")
        else if (data.isEmpty) Left("missing data chunk")
        else Right((rate.get, data.get._1, data.get._2))
      } else {
        val id = tag4(b, off); val len = le32(b, off + 4)
        if (len < 0 || BigInt(off) + 8 + len > b.length)
          Left("chunk overruns the file")
        else if (id == "fmt ") {
          if (len < 16) Left("fmt chunk too short")
          else {
            val codec = le16(b, off + 8); val ch = le16(b, off + 10)
            val bits = le16(b, off + 22)
            if (!(codec == 1 && ch == 1 && bits == 8))
              Left("only 8-bit mono PCM supported")
            else {
              val r0 = le32(b, off + 12)
              if (r0 <= 0) Left("bad sample rate")
              else walk(off + 8 + len + (len % 2), Some(r0), data)
            }
          }
        } else if (id == "data")
          walk(off + 8 + len + (len % 2), rate, Some((off + 8, len)))
        else walk(off + 8 + len + (len % 2), rate, data)
      }
    walk(12, None, None).map { case (rate, dataOff, n) =>
      val amps = Array.tabulate(n)(i => (b(dataOff + i) & 0xff) - 128)
      val sumsq = new Array[Long](segs); val cnts = new Array[Long](segs)
      val zcs = new Array[Long](segs)
      val ampSum = BigInt(amps.map(_.toLong).sum)
      def segOf(i: Int): Int = (BigInt(i) * segs / n).toInt
      def below(i: Int): Boolean = BigInt(n) * amps(i) < ampSum
      for (i <- 0 until n) {
        sumsq(segOf(i)) += amps(i).toLong * amps(i); cnts(segOf(i)) += 1
        if (i > 0 && below(i) != below(i - 1)) zcs(segOf(i)) += 1
      }
      (rate, n.toLong, sumsq.toSeq, cnts.toSeq, zcs.toSeq)
    }
  }

  /** Model AVI decode: recursive RIFF descent mirroring the documented
    * sequential header state (later strf overrides; frames validate
    * against the strf seen so far). */
  def modelAvi(b: Array[Byte], bands: Int): Either[String, AviFeat] = {
    if (b.length < 12 || tag4(b, 0) != "RIFF" || tag4(b, 8) != "AVI ")
      return Left("not a RIFF/AVI payload")
    // sequential chunk state, threaded through the recursion
    final case class St(w: Int, h: Int, stride: Int, frames: Vector[Int])
    def walk(off0: Int, end: Int, st0: St): Either[String, St] = {
      var off = off0; var st = st0
      while (off + 8 <= end) {
        val id = tag4(b, off); val len = le32(b, off + 4)
        if (len < 0 || BigInt(off) + 8 + len > end)
          return Left("chunk overruns its parent")
        if (id == "LIST") {
          if (len < 4) return Left("LIST chunk too short")
          walk(off + 12, off + 8 + len, st) match {
            case Left(e) => return Left(e)
            case Right(s2) => st = s2
          }
        } else if (id == "strf") {
          if (st.stride > 0) return Left("duplicate strf header")
          if (len < 40) return Left("strf chunk too short")
          val base = off + 8
          val ww = le32(b, base + 4); val hh = le32(b, base + 8)
          val bpp = le16(b, base + 14); val comp = le32(b, base + 16)
          if (!(bpp == 24 && comp == 0))
            return Left("only uncompressed 24-bpp supported")
          if (!(ww > 0 && hh > 0)) return Left("bad frame dimensions")
          val stride = (BigInt(3) * ww + 3) / 4 * 4
          if (!(stride <= b.length && hh <= b.length))
            return Left("frame dimensions exceed payload")
          if (stride * hh > b.length)
            return Left("frame extent exceeds payload")
          st = St(ww, hh, stride.toInt, st.frames)
        } else if (id == "00db") {
          if (st.stride <= 0) return Left("frame chunk before the strf header")
          if (len != st.stride * st.h)
            return Left("frame chunk length mismatch")
          st = st.copy(frames = st.frames :+ (off + 8))
        }
        off += 8 + len + (len % 2)
      }
      Right(st)
    }
    walk(12, b.length, St(-1, -1, -1, Vector.empty)).flatMap { st =>
      if (st.w <= 0) Left("missing strf header")
      else if (st.frames.isEmpty) Left("missing movi frames")
      else {
        val rowBytes = 3 * st.w
        val out = st.frames.map { base0 =>
          val sums = new Array[Long](bands * 3)
          val cnts = new Array[Long](bands * 3)
          // absolute-position walk, bottom-up rows (DIB frames are
          // always bottom-up here — no height sign in strf semantics)
          var p = 0
          val total = st.stride * st.h
          while (p < total) {
            val fileRow = p / st.stride; val oo = p % st.stride
            if (oo < rowBytes) {
              val ir = st.h - 1 - fileRow
              val band = (BigInt(ir) * bands / st.h).toInt
              sums(band * 3 + oo % 3) += (b(base0 + p) & 0xff)
              cnts(band * 3 + oo % 3) += 1
            }
            p += 1
          }
          (sums.toSeq, cnts.toSeq)
        }
        Right((st.w, st.h, out.map(_._1), out.map(_._2)))
      }
    }
  }

  // ------------------------------------------------------------------
  // model container builders — format freedom the pipeline never emits
  // ------------------------------------------------------------------

  private def w32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def w16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def wTag(out: java.io.ByteArrayOutputStream, s: String): Unit =
    out.write(s.getBytes("US-ASCII"))

  /** Independent BMP builder: top-down option, pixel array at 54+gap,
    * trailing bytes after the pixel array. */
  def buildBmp(payload: Array[Byte], width: Int, topDown: Boolean,
               gap: Int, trailing: Int): Array[Byte] = {
    val rowBytes = 3 * width
    val stride = ((rowBytes + 3) / 4) * 4
    val h = math.max(1, (payload.length + rowBytes - 1) / rowBytes)
    val off = 54 + gap
    val size = off + stride * h + trailing
    val o = new java.io.ByteArrayOutputStream(size)
    wTag(o, "BM"); w32(o, size); w32(o, 0); w32(o, off)
    w32(o, 40); w32(o, width); w32(o, if (topDown) -h else h)
    w16(o, 1); w16(o, 24); w32(o, 0); w32(o, stride * h)
    w32(o, 2835); w32(o, 2835); w32(o, 0); w32(o, 0)
    val px = new Array[Byte](gap + stride * h + trailing)
    var j = 0
    while (j < payload.length) {
      val ir = j / rowBytes
      val fileRow = if (topDown) ir else h - 1 - ir
      px(gap + fileRow * stride + j % rowBytes) = payload(j)
      j += 1
    }
    o.write(px, 0, px.length)
    o.toByteArray
  }

  /** Independent WAV builder: arbitrary chunks before and after `data`
    * (odd-length bodies take the RIFF pad byte). */
  def buildWav(payload: Array[Byte], rate: Int,
               pre: Seq[(String, Array[Byte])],
               post: Seq[(String, Array[Byte])]): Array[Byte] = {
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(8 + body.length + 1)
      wTag(o, id); w32(o, body.length); o.write(body, 0, body.length)
      if (body.length % 2 == 1) o.write(0)
      o.toByteArray
    }
    val fmt = {
      val o = new java.io.ByteArrayOutputStream(16)
      w16(o, 1); w16(o, 1); w32(o, rate); w32(o, rate); w16(o, 1); w16(o, 8)
      o.toByteArray
    }
    val body = pre.map { case (id, c) => chunk(id, c) } ++
      Seq(chunk("fmt ", fmt), chunk("data", payload)) ++
      post.map { case (id, c) => chunk(id, c) }
    val riffLen = 4 + body.map(_.length).sum
    val o = new java.io.ByteArrayOutputStream(8 + riffLen)
    wTag(o, "RIFF"); w32(o, riffLen); wTag(o, "WAVE")
    body.foreach(c => o.write(c, 0, c.length))
    o.toByteArray
  }

  /** Independent AVI builder: minimal header tree (no avih/strh — the
    * decode contract needs only strf + movi frames), optional JUNK
    * top-level chunk and non-frame chunk inside movi. */
  def buildAvi(payload: Array[Byte], width: Int, frameRows: Int,
               junkTop: Boolean, junkInMovi: Boolean,
               dupStrf: Boolean = false): Array[Byte] = {
    val rowBytes = 3 * width
    val stride = ((rowBytes + 3) / 4) * 4
    val frameBytes = rowBytes * frameRows
    val frameChunk = stride * frameRows
    val nFrames = math.max(1, (payload.length + frameBytes - 1) / frameBytes)
    def list(typ: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(12 + body.length)
      wTag(o, "LIST"); w32(o, 4 + body.length); wTag(o, typ)
      o.write(body, 0, body.length)
      o.toByteArray
    }
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(8 + body.length + 1)
      wTag(o, id); w32(o, body.length); o.write(body, 0, body.length)
      if (body.length % 2 == 1) o.write(0)
      o.toByteArray
    }
    val strf = {
      val o = new java.io.ByteArrayOutputStream(40)
      w32(o, 40); w32(o, width); w32(o, frameRows); w16(o, 1); w16(o, 24)
      w32(o, 0); w32(o, frameChunk); w32(o, 0); w32(o, 0); w32(o, 0); w32(o, 0)
      o.toByteArray
    }
    // a second strf (re-dimensioned) must reject loudly — frames already
    // recorded under the first header would otherwise walk out of bounds
    val strf2 = {
      val o = new java.io.ByteArrayOutputStream(40)
      w32(o, 40); w32(o, width * 2 + 1); w32(o, frameRows + 1)
      w16(o, 1); w16(o, 24); w32(o, 0); w32(o, 0)
      w32(o, 0); w32(o, 0); w32(o, 0); w32(o, 0)
      o.toByteArray
    }
    val strlBody = chunk("strf", strf) ++
      (if (dupStrf) chunk("strf", strf2) else Array.empty[Byte])
    val hdrl = list("hdrl", list("strl", strlBody))
    val frames = (0 until nFrames).map { fr =>
      val body = new Array[Byte](frameChunk)
      var j = 0
      while (j < frameBytes) {
        val p = fr * frameBytes + j
        if (p < payload.length) {
          val ir = j / rowBytes
          body((frameRows - 1 - ir) * stride + j % rowBytes) = payload(p)
        }
        j += 1
      }
      chunk("00db", body)
    }
    val moviParts =
      (if (junkInMovi) Seq(chunk("01wb", Array[Byte](1, 2, 3))) else Nil) ++
        frames
    val movi = list("movi", moviParts.flatten.toArray)
    val junk = if (junkTop) chunk("JUNK", Array[Byte](9, 9, 9, 9, 9)) else
      Array.empty[Byte]
    val body = hdrl ++ junk ++ movi
    val o = new java.io.ByteArrayOutputStream(12 + body.length)
    wTag(o, "RIFF"); w32(o, 4 + body.length); wTag(o, "AVI ")
    o.write(body, 0, body.length)
    o.toByteArray
  }

  // ------------------------------------------------------------------
  // generators
  // ------------------------------------------------------------------

  private def randPayload(r: Random): Array[Byte] = {
    val n = r.nextInt(5) match {
      case 0 => 0
      case 1 => r.nextInt(4)           // tiny: degenerate rows/frames
      case 2 => r.nextInt(40)
      case 3 => 40 + r.nextInt(200)
      case _ => 240 + r.nextInt(400)
    }
    val a = new Array[Byte](n); r.nextBytes(a); a
  }

  private val widths = Seq(1, 2, 3, 4, 5, 7, 8, 11, 16, 33)

  /** One set: valid containers (pipeline + model builders) and byte-level
    * mutations of them, all three codecs. */
  def mediaSet(r: Random, setIdx: Long): Seq[MPayload] = {
    var id = setIdx * 10000L
    def nid(): Long = { id += 1; id }
    val out = Seq.newBuilder[MPayload]

    // --- valid: pipeline encoders (encode→decode round trip)
    for (_ <- 0 until 3) {
      val p = randPayload(r)
      val w = widths(r.nextInt(widths.length))
      out += MPayload(nid(), "bmp", Multimodal.bmpBytes(p, w),
        s"pipeline bmp w=$w n=${p.length}")
      out += MPayload(nid(), "wav", Multimodal.wavBytes(p, 1 + r.nextInt(48000)),
        s"pipeline wav n=${p.length}")
      val fr = 1 + r.nextInt(5)
      out += MPayload(nid(), "avi", Multimodal.aviBytes(p, w, fr),
        s"pipeline avi w=$w fr=$fr n=${p.length}")
    }

    // --- valid: model builders (format freedom)
    for (_ <- 0 until 3) {
      val p = randPayload(r)
      val w = widths(r.nextInt(widths.length))
      out += MPayload(nid(), "bmp",
        buildBmp(p, w, topDown = r.nextBoolean(), gap = r.nextInt(3) * 7,
          trailing = r.nextInt(3) * 5),
        s"built bmp w=$w n=${p.length}")
      val pre = r.nextInt(3) match {
        case 0 => Nil
        case 1 => Seq(("fact", Array[Byte](1, 0, 0, 0)))
        case _ => Seq(("LIST", "INFOIART".getBytes("US-ASCII") ++
          Array[Byte](3, 0, 0, 0, 'a', 'b', 'c'))) // odd-length body
      }
      val post = if (r.nextBoolean())
        Seq(("cue ", Array.fill[Byte](r.nextInt(7))(5))) else Nil
      out += MPayload(nid(), "wav", buildWav(p, 1 + r.nextInt(96000), pre, post),
        s"built wav n=${p.length} pre=${pre.size} post=${post.size}")
      out += MPayload(nid(), "avi",
        buildAvi(p, w, 1 + r.nextInt(5), junkTop = r.nextBoolean(),
          junkInMovi = r.nextBoolean()),
        s"built avi w=$w n=${p.length}")
    }
    // duplicate-strf adversarial shape: must reject with a stable code,
    // never walk frames with the re-dimensioned header
    locally {
      val p = randPayload(r)
      out += MPayload(nid(), "avi",
        buildAvi(p, widths(r.nextInt(widths.length)), 1 + r.nextInt(4),
          junkTop = false, junkInMovi = false, dupStrf = true),
        s"avi dup-strf n=${p.length}")
    }

    // --- mutations over fresh valid bases
    def le32At(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def idxOf(b: Array[Byte], tag: String): Int =
      b.indexOfSlice(tag.getBytes("US-ASCII"))

    for (m <- 0 until 15) {
      val p = randPayload(r)
      val w = widths(r.nextInt(widths.length))
      val kind = m % 3 match { case 0 => "bmp" case 1 => "wav" case _ => "avi" }
      val base = kind match {
        case "bmp" => Multimodal.bmpBytes(p, w)
        case "wav" => buildWav(p, 8000,
          if (r.nextBoolean()) Seq(("fact", Array[Byte](1, 0, 0, 0))) else Nil, Nil)
        case _ => buildAvi(p, w, 1 + r.nextInt(4), junkTop = false,
          junkInMovi = r.nextBoolean())
      }
      val b = base.clone()
      val what = r.nextInt(8) match {
        case 0 => // truncate
          val k = r.nextInt(b.length + 1)
          out += MPayload(nid(), kind, b.take(k), s"$kind truncate@$k")
          "done"
        case 1 => // wrong magic
          b(r.nextInt(math.min(12, b.length))) = 'X'.toByte; "magic flip"
        case 2 if kind == "bmp" => // crafted dims
          r.nextInt(4) match {
            case 0 => le32At(b, 18, 0x7ffffff0)          // stride wrap
            case 1 => le32At(b, 22, Int.MinValue)        // |h| overflow bait
            case 2 => le32At(b, 18, 0); le32At(b, 22, 0) // zero dims
            case _ => le32At(b, 18, 0x20000000); le32At(b, 22, 0x20000000) // Long wrap
          }
          "bmp dims"
        case 2 => // chunk length near 2^31 (the Int-wrap defense)
          val off = idxOf(b, if (kind == "wav") "data" else "00db")
          if (off >= 0) le32At(b, off + 4, Int.MaxValue - r.nextInt(16))
          "len 2^31"
        case 3 => // length field off-by-one / negative
          val tags = kind match {
            case "bmp" => Seq(10, 14) // offset, dib-size fields
            case "wav" => Seq(idxOf(b, "fmt ") + 4, idxOf(b, "data") + 4)
            case _ => Seq(idxOf(b, "LIST") + 4, idxOf(b, "strf") + 4)
          }
          val t = tags(r.nextInt(tags.length))
          if (t >= 4 && t + 4 <= b.length)
            le32At(b, t, if (r.nextBoolean()) -1 else le32(b, t) + 1 + r.nextInt(9))
          "len field"
        case 4 => // wrong format tags
          kind match {
            case "bmp" =>
              if (r.nextBoolean()) { b(28) = 8; b(29) = 0 } // bpp=8
              else le32At(b, 30, 1 + r.nextInt(3))          // BI_RLE
            case "wav" =>
              val f = idxOf(b, "fmt ")
              if (f >= 0) r.nextInt(4) match {
                case 0 => b(f + 8) = 2          // codec
                case 1 => b(f + 10) = 2         // channels
                case 2 => b(f + 22) = 16        // bits (fmt body + 14)
                case _ => le32At(b, f + 12, -r.nextInt(2)) // rate 0/-0
              }
            case _ =>
              val s = idxOf(b, "strf")
              if (s >= 0) {
                if (r.nextBoolean()) b(s + 8 + 14) = 8 // bpp
                else le32At(b, s + 8 + 16, 1)           // compression
              }
          }
          "format tags"
        case 5 if kind == "avi" => // nested LIST corruption
          val l2 = b.indexOfSlice("LIST".getBytes("US-ASCII"),
            idxOf(b, "LIST") + 1)
          val l = if (l2 >= 0 && r.nextBoolean()) l2 else idxOf(b, "LIST")
          if (l >= 0) le32At(b, l + 4,
            r.nextInt(3) match { case 0 => 1; case 1 => b.length; case _ => Int.MaxValue - 7 })
          "nested LIST"
        case 5 => // garbage / tiny
          val n = r.nextInt(14)
          val g = new Array[Byte](n); r.nextBytes(g)
          out += MPayload(nid(), kind, g, s"$kind garbage n=$n")
          "done"
        case _ => // random byte flips (may stay valid — model decides)
          for (_ <- 0 to r.nextInt(3))
            if (b.length > 0) {
              val at = r.nextInt(b.length)
              b(at) = (b(at) ^ (1 << r.nextInt(8))).toByte
            }
          "byte flips"
      }
      if (what != "done") out += MPayload(nid(), kind, b, s"$kind $what")
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // differential checks
  // ------------------------------------------------------------------

  private val BANDS = 3
  private val SEGS = 3

  /** Strict-parser verdict through the same Either lens as the model;
    * non-IAE throwables surface as Left("CRASH: ..."). */
  private def strictVerdict[T](run: => T): Either[String, T] =
    try Right(run)
    catch {
      case e: IllegalArgumentException => Left(Multimodal.reasonCode(e))
      case e: Throwable =>
        Left(s"CRASH: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Driver-side strict differential for one payload; returns errors. */
  def checkStrict(p: MPayload): Seq[String] = {
    p.kind match {
      case "bmp" =>
        val model = modelBmp(p.bytes, BANDS)
        val got = strictVerdict {
          val (w, h, s, c) = Multimodal.parseBmp(p.bytes, BANDS)
          (w, h, s.toSeq, c.toSeq)
        }
        diff(p, model, got)
      case "wav" =>
        val model = modelWav(p.bytes, SEGS)
        val got = strictVerdict {
          val (r0, n, sq, c, z) = Multimodal.parseWav(p.bytes, SEGS)
          (r0, n, sq.toSeq, c.toSeq, z.toSeq)
        }
        diff(p, model, got)
      case "avi" =>
        val model = modelAvi(p.bytes, BANDS)
        val got = strictVerdict {
          val (w, h, s, c) = Multimodal.parseAvi(p.bytes, BANDS)
          (w, h, s.map(_.toSeq).toSeq, c.map(_.toSeq).toSeq)
        }
        diff(p, model, got)
    }
  }

  private def diff[T](p: MPayload, model: Either[String, T],
                      got: Either[String, T]): Seq[String] =
    (model, got) match {
      case (Left(mc), Left(gc)) if mc == gc => Nil
      case (Left(mc), Left(gc)) =>
        Seq(s"$p: reason code mismatch model='$mc' strict='$gc'")
      case (Left(mc), Right(v)) =>
        Seq(s"$p: model rejects ('$mc') but strict accepts ($v)")
      case (Right(v), Left(gc)) =>
        Seq(s"$p: model accepts ($v) but strict rejects ('$gc')")
      case (Right(mv), Right(gv)) if mv == gv => Nil
      case (Right(mv), Right(gv)) =>
        Seq(s"$p: feature mismatch model=$mv strict=$gv")
    }

  /** Batch the lenient DataFrame twins over the whole set — the real
    * mapPartitions seam: the job must never fail, statuses must equal
    * the model verdicts, decode columns the model features. */
  def checkLenient(spark: SparkSession, set: Seq[MPayload]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val byKind = set.groupBy(_.kind)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    def df(ps: Seq[MPayload]) = spark.createDataFrame(
      java.util.Arrays.asList(ps.map(p => Row(p.id, p.bytes)): _*), schema)
      .repartition(4)

    for (ps <- byKind.get("bmp")) {
      val got = Multimodal.decodeBmpLenient(df(ps), "payload", BANDS)
        .collect().map(r => r.getLong(0) -> r).toMap
      for (p <- ps) {
        val r = got(p.id)
        modelBmp(p.bytes, BANDS) match {
          case Left(code) =>
            if (r.getString(2) != code || !r.isNullAt(3))
              errs += s"$p: lenient bmp status='${r.getString(2)}' expected reject '$code'"
          case Right((w, h, s, c)) =>
            if (r.getString(2) != "ok" || r.getInt(3) != w || r.getInt(4) != h ||
              r.getSeq[Long](5) != s || r.getSeq[Long](6) != c)
              errs += s"$p: lenient bmp row=$r expected ok ($w,$h,$s,$c)"
        }
      }
    }
    for (ps <- byKind.get("wav")) {
      val got = Multimodal.decodeWavLenient(df(ps), "payload", SEGS)
        .collect().map(r => r.getLong(0) -> r).toMap
      for (p <- ps) {
        val r = got(p.id)
        modelWav(p.bytes, SEGS) match {
          case Left(code) =>
            if (r.getString(2) != code || !r.isNullAt(3))
              errs += s"$p: lenient wav status='${r.getString(2)}' expected reject '$code'"
          case Right((rate, n, sq, c, z)) =>
            if (r.getString(2) != "ok" || r.getInt(3) != rate ||
              r.getLong(4) != n || r.getSeq[Long](5) != sq ||
              r.getSeq[Long](6) != c || r.getSeq[Long](7) != z)
              errs += s"$p: lenient wav row=$r expected ok ($rate,$n,$sq,$c,$z)"
        }
      }
    }
    for (ps <- byKind.get("avi")) {
      val got = Multimodal.decodeAviLenient(df(ps), "payload", BANDS)
        .collect().map(r => r.getLong(0) -> r).toMap
      for (p <- ps) {
        val r = got(p.id)
        modelAvi(p.bytes, BANDS) match {
          case Left(code) =>
            if (r.getString(2) != code || !r.isNullAt(3))
              errs += s"$p: lenient avi status='${r.getString(2)}' expected reject '$code'"
          case Right((w, h, s, c)) =>
            val gs = r.getSeq[scala.collection.Seq[Long]](6).map(_.toSeq)
            val gc = r.getSeq[scala.collection.Seq[Long]](7).map(_.toSeq)
            if (r.getString(2) != "ok" || r.getInt(3) != s.length ||
              r.getInt(4) != w || r.getInt(5) != h || gs != s || gc != c)
              errs += s"$p: lenient avi row=$r expected ok ($w,$h,$s,$c)"
        }
      }
    }
    errs.result()
  }

  /** Deep check: encode→decode round-trip layout math. The model computes
    * expected features STRAIGHT FROM THE PAYLOAD (documented byte→
    * (row,channel) layout), not by re-parsing the container. */
  def checkRoundTrip(r: Random): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val p = randPayload(r)
    val w = widths(r.nextInt(widths.length))
    // BMP: payload byte j → image row j/(3w), channel j%3; short last row
    // zero-pads; pad bytes and full pad rows count toward band counts
    val h = math.max(1, (p.length + 3 * w - 1) / (3 * w))
    val sums = new Array[Long](BANDS * 3)
    for (j <- p.indices) {
      val band = (BigInt(j / (3 * w)) * BANDS / h).toInt
      sums(band * 3 + j % 3) += (p(j) & 0xff)
    }
    val cnts = new Array[Long](BANDS * 3)
    for (ir <- 0 until h; ch <- 0 until 3)
      cnts((BigInt(ir) * BANDS / h).toInt * 3 + ch) += w
    val (gw, gh, gs, gc) = Multimodal.parseBmp(Multimodal.bmpBytes(p, w), BANDS)
    if (gw != w || gh != h || gs.toSeq != sums.toSeq || gc.toSeq != cnts.toSeq)
      errs += s"bmp roundtrip w=$w n=${p.length}: got ($gw,$gh,${gs.toSeq},${gc.toSeq}) expected ($w,$h,${sums.toSeq},${cnts.toSeq})"
    // WAV: sample i = payload byte i
    val (rr, n, _, wc, _) = Multimodal.parseWav(Multimodal.wavBytes(p, 8000), SEGS)
    val expC = new Array[Long](SEGS)
    for (i <- p.indices) expC((BigInt(i) * SEGS / p.length).toInt) += 1
    if (rr != 8000 || n != p.length ||
      (p.nonEmpty && wc.toSeq != expC.toSeq))
      errs += s"wav roundtrip n=${p.length}: got ($rr,$n,${wc.toSeq}) expected (8000,${p.length},${expC.toSeq})"
    errs.result()
  }

  /** Run the full differential for one set; returns error strings. */
  def runOne(spark: SparkSession, set: Seq[MPayload], deep: Boolean,
             rng: Random): Seq[String] = {
    val strictErrs = set.flatMap(checkStrict)
    val lenientErrs = checkLenient(spark, set)
    val deepErrs = if (deep) checkRoundTrip(rng) else Nil
    strictErrs ++ lenientErrs ++ deepErrs
  }

  // ------------------------------------------------------------------
  // surface
  // ------------------------------------------------------------------

  type In = Seq[MPayload]
  val name = "media"
  val sets = 40
  def draw(r: Random, seed: Long, i: Int): In = mediaSet(r, seed * 100000L + i)
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String] =
    runOne(spark, in, deep = i % 4 == 0, r)
  /** Shrinks without the deep round trip, which reads only `rng`. */
  def repro(spark: SparkSession, in: In, i: Int): String = {
    val minimal = shrink(in)(runOne(spark, _, deep = false, new Random(0L)))
    s"(${minimal.size} payloads): " + minimal.mkString(" | ")
  }
}
