package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with a
  * type tag, decoded partition-wise.
  *
  * GIF payloads get a REAL frame walk ([[GifHeaders.gifInfo]]: logical
  * screen, per-frame geometry, delays and each frame's own data bytes;
  * pure-JVM, no codec dependency). Other payloads fall back to a
  * deterministic md5-derived stand-in, which keeps the feature values
  * oracle-reproducible on the synthetic (text-byte) test corpus.
  *
  * At scale: payloads dominate row size, so feature extraction runs before
  * any wide shuffle, the codec (here the MessageDigest) is allocated once
  * per partition (not per row), and outputs drop the payload column so
  * downstream stages never shuffle raw media bytes.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Wrap a text table as fake media payloads (binary column + type tag). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"))

  case class FrameFeature(
      doc_id: Long,
      frame_idx: Int,
      frame_checksum: String,
      brightness: Int)

  /** Frame sampling for video-typed payloads: one row per frame. GIF
    * payloads get a REAL frame walk ([[GifHeaders.gifInfo]] — one row per
    * image descriptor, checksum/brightness over that frame's OWN data
    * bytes); other formats fall back to the deterministic md5-derived
    * stand-in (n = len%7+1 pseudo-frames hashed from payload || idx),
    * which is what the oracle-gated `q_mm_frames` pins on the text-byte
    * corpus. The plumbing is the part that matters at scale: the explode
    * happens AFTER feature extraction inside the partition — one codec per
    * partition, payload bytes never duplicated per frame, and the output
    * rows carry only features, so the per-frame fan-out (x n_frames rows)
    * multiplies small rows, not media blobs. */
  def sampleFrames(spark: SparkSession, media: DataFrame): Dataset[FrameFeature] = {
    import spark.implicits._
    media.filter(col("media_type") === "video").as[MediaRecord].mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5") // per-partition "codec"
      def hexOf(bytes: Array[Byte]): String = {
        val digest = md.digest(bytes)
        md.reset()
        digest.map(b => f"${b & 0xff}%02x").mkString
      }
      it.flatMap { r =>
        GifHeaders.gifInfo(r.payload) match {
          case Some(info) =>
            // real path: each frame's checksum covers its own image data
            // (LZW-min-code byte + data sub-blocks), not the whole payload
            info.frames.iterator.zipWithIndex.map { case (f, i) =>
              val hex = hexOf(java.util.Arrays.copyOfRange(
                r.payload, f.dataStart, f.dataEnd))
              FrameFeature(r.doc_id, i, hex, Integer.parseInt(hex.substring(0, 2), 16))
            }
          case None =>
            val n = (r.payload.length % 7 + 1).toInt
            (0 until n).iterator.map { i =>
              val hex = hexOf(
                r.payload ++ i.toString.getBytes(StandardCharsets.UTF_8))
              FrameFeature(r.doc_id, i, hex, Integer.parseInt(hex.substring(0, 2), 16))
            }
        }
      }
    }
  }

  case class GifFrameMeta(
      doc_id: Long,
      frame_idx: Int,
      n_frames: Int,
      screen_w: Int,
      screen_h: Int,
      frame_left: Int,
      frame_top: Int,
      frame_w: Int,
      frame_h: Int,
      delay_cs: Int)

  /** Real GIF frame-metadata decode: one row per image descriptor with the
    * logical-screen dimensions, per-frame placement/size, and the
    * preceding graphic-control delay. Non-GIF payloads are dropped (this
    * is the typed decode surface; [[sampleFrames]] is the fall-back-aware
    * one). Same partition shape as every decoder here: parse inside the
    * partition, explode features only. */
  def decodeGifFrames(spark: SparkSession, media: DataFrame): Dataset[GifFrameMeta] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.flatMap { r =>
        GifHeaders.gifInfo(r.payload).iterator.flatMap { info =>
          info.frames.iterator.zipWithIndex.map { case (f, i) =>
            GifFrameMeta(r.doc_id, i, info.frames.length,
              info.width, info.height,
              f.left, f.top, f.width, f.height, f.delayCs)
          }
        }
      }
    }
  }
}

/** Pure-JVM GIF (87a/89a) frame decoding: header + logical screen
  * descriptor, then a block walk — extensions (0x21: label, then length-
  * prefixed data sub-blocks to a 0 terminator; the 0xF9 graphic-control
  * extension carries the next frame's delay in centiseconds), image
  * descriptors (0x2C: left/top/width/height as LE16 + optional local
  * color table, then the LZW-min-code byte and the image data sub-blocks),
  * trailer (0x3B). All sizes are explicit, so frame count, per-frame
  * geometry, delays, and each frame's own data byte-range fall out of the
  * walk without touching the LZW bitstream. */
object GifHeaders {

  /** One image descriptor: geometry, the delay from the preceding
    * graphic-control extension (0 if none), the [start, end) byte range
    * of this frame's image data (LZW-min-code byte + sub-blocks), the
    * local color table position/entry-count (-1/0 when absent), and the
    * interlace flag (rows stored in 8/8/4/2 pass order when set). */
  case class GifFrame(left: Int, top: Int, width: Int, height: Int,
                      delayCs: Int, dataStart: Int, dataEnd: Int,
                      lctStart: Int = -1, lctSize: Int = 0,
                      interlaced: Boolean = false)

  /** Logical screen size + the frames in stream order, with the global
    * color table position/entry-count (-1/0 when absent). */
  case class GifInfo(width: Int, height: Int, frames: Vector[GifFrame],
                     gctStart: Int = -1, gctSize: Int = 0)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Skip length-prefixed data sub-blocks starting at `i`; returns the
    * offset just past the 0 terminator, or -1 on truncation. */
  private def skipSubBlocks(b: Array[Byte], start: Int): Int = {
    var i = start
    while (i < b.length) {
      val len = b(i) & 0xff
      if (len == 0) return i + 1
      i += 1 + len
    }
    -1
  }

  /** Full frame walk, or None if the payload is not a (plausible) GIF. */
  def gifInfo(b: Array[Byte]): Option[GifInfo] = {
    if (b.length < 13 ||
        b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
        (b(4) != '7' && b(4) != '9') || b(5) != 'a')
      return None
    val screenW = le16(b, 6)
    val screenH = le16(b, 8)
    val packed = b(10) & 0xff
    var i = 13
    // global color table: 3 * 2^(N+1) bytes when the high flag bit is set
    val gctSize = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
    val gctStart = if (gctSize > 0) i else -1
    i += 3 * gctSize
    var frames = Vector.empty[GifFrame]
    var pendingDelay = 0
    while (i < b.length) {
      (b(i) & 0xff) match {
        case 0x3b => // trailer
          return Some(GifInfo(screenW, screenH, frames, gctStart, gctSize))
        case 0x21 => // extension: label, then sub-blocks
          if (i + 2 > b.length) return None
          val label = b(i + 1) & 0xff
          if (label == 0xf9 && i + 7 < b.length && (b(i + 2) & 0xff) == 4)
            pendingDelay = le16(b, i + 4) // graphic control: delay LE16
          i = skipSubBlocks(b, i + 2)
          if (i < 0) return None
        case 0x2c => // image descriptor
          if (i + 10 > b.length) return None
          val left = le16(b, i + 1)
          val top = le16(b, i + 3)
          val w = le16(b, i + 5)
          val h = le16(b, i + 7)
          val ipacked = b(i + 9) & 0xff
          var j = i + 10
          val lctSize = if ((ipacked & 0x80) != 0) 1 << ((ipacked & 0x07) + 1) else 0
          val lctStart = if (lctSize > 0) j else -1
          j += 3 * lctSize
          if (j >= b.length) return None
          val dataStart = j // LZW-min-code byte + data sub-blocks
          j = skipSubBlocks(b, j + 1)
          if (j < 0) return None
          frames :+= GifFrame(left, top, w, h, pendingDelay, dataStart, j,
            lctStart, lctSize, (ipacked & 0x40) != 0)
          pendingDelay = 0
          i = j
        case _ => return None // lost block sync: not a well-formed GIF
      }
    }
    None // ran off the end without a trailer
  }
}

/** Deterministic GIF fixture encoder — the ENCODING side of the
  * `q_mm_gif` oracle gate. Writes a structurally varied, well-formed GIF
  * whose every metadata field is a pure integer function of `docId`; the
  * DuckDB oracle predicts those fields from the same formulas, so the row
  * hash-matches only if [[GifHeaders.gifInfo]] walks real GIF bytes
  * correctly (global/local color tables, comment extensions, graphic
  * control, multi-sub-block image data are all exercised). Encoder and
  * parser share no code — one writes structure, the other rediscovers it. */
private[graft] object GifFixtures {

  def frameCount(docId: Long): Int = (docId % 3).toInt + 1
  def screenW(docId: Long): Int = (docId % 300).toInt + 20
  def screenH(docId: Long): Int = (docId % 200).toInt + 20
  def left(docId: Long, i: Int): Int = ((docId + 3 * i) % 10).toInt
  def top(docId: Long, i: Int): Int = ((docId + 5 * i) % 8).toInt
  def frameW(docId: Long, i: Int): Int = ((docId + 11 * i) % 64).toInt + 1
  def frameH(docId: Long, i: Int): Int = ((docId + 7 * i) % 48).toInt + 1
  def delayCs(docId: Long, i: Int): Int = ((docId + i) % 500).toInt

  def synthGif(docId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    out.write("GIF89a".getBytes(StandardCharsets.US_ASCII))
    u16(screenW(docId)); u16(screenH(docId))
    val gctN = (docId % 3).toInt // table of 2^(N+1) entries when present
    val hasGct = docId % 2 == 0
    u8(if (hasGct) 0x80 | gctN else 0x22) // packed (0x22: color-res bits only)
    u8(0); u8(0) // background index, aspect
    if (hasGct) (0 until 3 * (1 << (gctN + 1))).foreach(k => u8(k * 7))
    if (docId % 5 == 0) { // comment extension in the stream
      u8(0x21); u8(0xfe); u8(5)
      out.write("graft".getBytes(StandardCharsets.US_ASCII)); u8(0)
    }
    (0 until frameCount(docId)).foreach { i =>
      u8(0x21); u8(0xf9); u8(4); u8(0x04) // graphic control
      u16(delayCs(docId, i)); u8(0); u8(0)
      u8(0x2c) // image descriptor
      u16(left(docId, i)); u16(top(docId, i))
      u16(frameW(docId, i)); u16(frameH(docId, i))
      val hasLct = i == 1 && docId % 4 == 0
      u8(if (hasLct) 0x81 else 0x00) // local color table of 4 entries
      if (hasLct) (0 until 12).foreach(k => u8(255 - k))
      u8(2) // LZW minimum code size
      // image data: two sub-blocks for even frames, one for odd — the
      // walk must handle both shapes
      val blocks = if (i % 2 == 0) Seq(3, 2) else Seq(4)
      blocks.foreach { len => u8(len); (0 until len).foreach(k => u8(docId.toInt + k)) }
      u8(0) // sub-block terminator
    }
    u8(0x3b) // trailer
    out.toByteArray
  }
}

/** Deterministic PIXEL-level GIF fixture encoder: a 4-color image whose
  * every pixel is a pure integer function of `docId`, compressed with an
  * independent GIF-LZW implementation (variable code width, clear/end
  * codes, 12-bit cap — shares no code with [[GifLzw]], which is what
  * makes the `q_mm_phash` oracle a real gate on the decode chain).
  *
  * Image sizes and pattern depend only on `docId % 7` (the "base"), so
  * same-base docs are pixel-identical up to the palette offset
  * (`docId % 40`, which shifts all lumas equally and thus cannot change
  * a dHash comparison) — giving the near-dup detector planted clusters.
  * Docs with `docId % 29 == 0` get the diagonal perturbed by one palette
  * step: a genuine near-duplicate at small hamming distance. */
private[graft] object GifPixelFixtures {

  def base(docId: Long): Int = (docId % 7).toInt
  def width(docId: Long): Int = 9 * (base(docId) % 3 + 2) // 18 | 27 | 36
  def height(docId: Long): Int = 8 * (base(docId) % 4 + 2) // 16..40
  def palOffset(docId: Long): Int = (docId % 40).toInt
  def perturbed(docId: Long): Boolean = docId % 29 == 0
  def nFrames(docId: Long): Int = (docId % 2).toInt + 1
  /** Every 11th doc is written INTERLACED (rows in GIF 8/8/4/2 pass
    * order + the 0x40 descriptor flag). The pixel FORMULA describes the
    * displayed image either way, so the unchanged oracle only matches if
    * the decoder really de-interlaces. */
  def interlaced(docId: Long): Boolean = docId % 11 == 0

  /** Palette index of pixel (x, y) in frame `frame`: a base-scaled
    * bilinear-ish pattern mod 4 (the multiplier advances per frame), with
    * the diagonal bumped one step on perturbed docs. */
  def pixel(docId: Long, frame: Int, x: Int, y: Int): Int = {
    val p = ((base(docId) + frame) % 7 + 1) * (3 * x + 7 * y + x * y + 1) +
      (if (perturbed(docId) && x == y) 1 else 0)
    p % 4
  }

  /** Achromatic palette entry value for index k (0..3). */
  def palValue(docId: Long, k: Int): Int = 40 * k + palOffset(docId)

  def synthPixelGif(docId: Long): Array[Byte] = {
    val w = width(docId)
    val h = height(docId)
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    out.write("GIF89a".getBytes(StandardCharsets.US_ASCII))
    u16(w); u16(h)
    u8(0x80 | 0x01) // global color table, 4 entries
    u8(0); u8(0)
    (0 until 4).foreach { k =>
      val v = palValue(docId, k); u8(v); u8(v); u8(v)
    }
    (0 until nFrames(docId)).foreach { fr =>
      u8(0x2c) // image descriptor: full-frame, no LCT
      u16(0); u16(0); u16(w); u16(h)
      u8(if (interlaced(docId)) 0x40 else 0x00)
      u8(2) // LZW minimum code size (4-color)
      // row emission order: display order, or the 8/8/4/2 interlace passes
      val rowOrder: Seq[Int] =
        if (!interlaced(docId)) 0 until h
        else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap {
          case (start, step) => start until h by step
        }
      val indices = new Array[Byte](w * h)
      var i = 0
      rowOrder.foreach { y =>
        var x = 0
        while (x < w) { indices(i) = pixel(docId, fr, x, y).toByte; i += 1; x += 1 }
      }
      val lzw = compress(indices, minCodeSize = 2)
      // sub-block the compressed stream at <=255 bytes
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        u8(n); out.write(lzw, off, n); off += n
      }
      u8(0) // terminator
    }
    u8(0x3b) // trailer
    out.toByteArray
  }

  /** Standard GIF-LZW compressor: dict of (prefixCode, byte) -> code,
    * emitted codes packed LSB-first at the current width; width bumps
    * when the next free code reaches 2^width, dict resets via a clear
    * code at 4096. */
  private[graft] def compress(data: Array[Byte], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val end = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L // bit accumulator
    var nbits = 0
    var width = minCodeSize + 1
    def put(code: Int): Unit = {
      cur |= code.toLong << nbits
      nbits += width
      while (nbits >= 8) { out.write((cur & 0xff).toInt); cur >>= 8; nbits -= 8 }
    }
    var dict = Map.empty[(Int, Byte), Int]
    var nextCode = end + 1
    def reset(): Unit = { dict = Map.empty; nextCode = end + 1; width = minCodeSize + 1 }
    put(clear)
    var prev = data(0) & 0xff
    var i = 1
    while (i < data.length) {
      val c = data(i)
      dict.get((prev, c)) match {
        case Some(code) => prev = code
        case None =>
          put(prev)
          if (nextCode >= 4096) { put(clear); reset() }
          else {
            // width bump AFTER the emit at the old width (decoder mirrors)
            if (nextCode >= (1 << width) && width < 12) width += 1
            dict += ((prev, c) -> nextCode)
            nextCode += 1
          }
          prev = c & 0xff
      }
      i += 1
    }
    put(prev)
    put(end)
    if (nbits > 0) out.write((cur & 0xff).toInt)
    out.toByteArray
  }
}
