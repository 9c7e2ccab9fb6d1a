package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Real GIF pixel decoding (LZW) + perceptual hashing (dHash) + image
  * near-duplicate detection — the pixel-level multimodal path.
  *
  * The pipeline: [[GifHeaders.gifInfo]] walks the container, [[GifLzw]]
  * decompresses the first frame's index stream, the color table maps
  * indices to ITU-R 601 luma, [[ImageHash.dhash]] box-downscales to a
  * 9x8 grid and emits the 64 adjacent-cell comparisons as FOUR 16-bit
  * bands (the repo's standard sign-safe fingerprint shape — same as the
  * 64-bit SimHash), and near-dup pairs come from a banded equi-join +
  * hamming verify, never an all-pairs scan.
  *
  * Every arithmetic step (integer luma, floor-div cell assignment,
  * cross-multiplied sum comparison) is exact integer math, so the DuckDB
  * oracle replays the whole pixel->hash pipeline from the fixture
  * formulas (`q_mm_phash`): a hash match proves the independent
  * encode -> LZW decode -> downscale -> hash chain end to end.
  *
  * Scale shape: decode runs inside `mapPartitions` (one decoder per
  * partition, payload bytes never leave the row), output rows carry only
  * the 4 band ints + summary stats, and the pair join buckets on
  * (band_idx, band_value) exactly like the text SimHash64 detector.
  *
  * Reference analog: the reference pipeline has no media path at all
  * (its map UI links to external photo URLs, `master_map2.html`); this
  * is the builder-brief multimodal slice done with real codecs.
  */
object ImageHash {

  /** Decoded first frame: geometry + luma plane row-major. */
  case class GrayImage(width: Int, height: Int, gray: Array[Int])

  case class PhashRecord(
      doc_id: Long,
      width: Int,
      height: Int,
      n_pixels: Long,
      gray_sum: Long,
      p0: Int, p1: Int, p2: Int, p3: Int)

  /** ITU-R 601 integer luma; exact for achromatic palettes
    * ((299+587+114) = 1000, so r=g=b=v yields v). */
  private def luma(r: Int, g: Int, b: Int): Int =
    (299 * r + 587 * g + 114 * b) / 1000

  /** Decode ONE frame of a parsed GIF to a luma plane: LZW-decompress its
    * index stream and map indices through the frame's local color table
    * (global when absent). None on malformed data. */
  def decodeFrame(b: Array[Byte], info: GifHeaders.GifInfo,
                  f: GifHeaders.GifFrame): Option[GrayImage] = {
    val (palStart, palSize) =
      if (f.lctSize > 0) (f.lctStart, f.lctSize)
      else (info.gctStart, info.gctSize)
    if (palSize <= 0 || f.width <= 0 || f.height <= 0) None
    else {
      val minCode = b(f.dataStart) & 0xff
      val data = GifLzw.deSubBlock(b, f.dataStart + 1, f.dataEnd)
      GifLzw.decode(data, minCode, f.width * f.height).map { raw =>
        // interlaced frames store rows in the GIF 8/8/4/2 pass order —
        // map stored row s back to its display row
        val idx =
          if (!f.interlaced) raw
          else {
            val out = new Array[Byte](raw.length)
            var s = 0
            for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                 y <- start until f.height by step) {
              System.arraycopy(raw, s * f.width, out, y * f.width, f.width)
              s += 1
            }
            out
          }
        val gray = new Array[Int](f.width * f.height)
        var i = 0
        while (i < gray.length) {
          val k = palStart + 3 * ((idx(i) & 0xff) % palSize)
          gray(i) = luma(b(k) & 0xff, b(k + 1) & 0xff, b(k + 2) & 0xff)
          i += 1
        }
        GrayImage(f.width, f.height, gray)
      }
    }
  }

  /** Decode the first frame of a GIF payload, or None if the payload
    * isn't a well-formed GIF. */
  def decodeFirstFrame(b: Array[Byte]): Option[GrayImage] =
    GifHeaders.gifInfo(b).flatMap(info =>
      info.frames.headOption.flatMap(decodeFrame(b, info, _)))

  case class FrameLuma(
      doc_id: Long,
      frame_idx: Int,
      width: Int,
      height: Int,
      n_pixels: Long,
      gray_sum: Long)

  /** Real frame sampling with pixel decode: every frame of every GIF
    * payload is LZW-decoded and summarized (geometry + exact luma sum).
    * The per-frame fan-out happens after decode inside the partition —
    * rows carry 6 numbers, never pixels. Non-GIF payloads are dropped. */
  def frameLumas(spark: SparkSession, media: DataFrame): Dataset[FrameLuma] = {
    import spark.implicits._
    media.as[Multimodal.MediaRecord].mapPartitions { it =>
      it.flatMap { r =>
        GifHeaders.gifInfo(r.payload).iterator.flatMap { info =>
          info.frames.iterator.zipWithIndex.flatMap { case (f, i) =>
            decodeFrame(r.payload, info, f).map { img =>
              FrameLuma(r.doc_id, i, img.width, img.height,
                img.gray.length.toLong, img.gray.map(_.toLong).sum)
            }
          }
        }
      }
    }
  }

  /** dHash over a 9x8 grid: pixel (x, y) belongs to cell
    * (y*8 div h, x*9 div w); bit r*8+c is set when cell (r, c)'s mean
    * luma < cell (r, c+1)'s — compared as cross-multiplied integer sums
    * so unequal cell sizes stay exact. Returns the 64 bits as four
    * 16-bit ints (band j = bits [16j, 16j+16)). */
  def dhash(img: GrayImage): (Int, Int, Int, Int) = {
    val sums = Array.ofDim[Long](8, 9)
    val counts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < img.height) {
      val r = y * 8 / img.height
      var x = 0
      while (x < img.width) {
        val c = x * 9 / img.width
        sums(r)(c) += img.gray(y * img.width + x)
        counts(r)(c) += 1
        x += 1
      }
      y += 1
    }
    val bands = new Array[Int](4)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val bit =
          sums(r)(c) * counts(r)(c + 1) < sums(r)(c + 1) * counts(r)(c)
        if (bit) {
          val idx = r * 8 + c
          bands(idx / 16) |= 1 << (idx % 16)
        }
        c += 1
      }
      r += 1
    }
    (bands(0), bands(1), bands(2), bands(3))
  }

  /** Per-image perceptual hash over a media frame: decode + dHash inside
    * the partition, emit only the bands and summary stats. Non-GIF
    * payloads are dropped (typed decode surface). */
  def phash(spark: SparkSession, media: DataFrame): Dataset[PhashRecord] = {
    import spark.implicits._
    media.as[Multimodal.MediaRecord].mapPartitions { it =>
      it.flatMap { r =>
        decodeFirstFrame(r.payload).map { img =>
          val (p0, p1, p2, p3) = dhash(img)
          PhashRecord(r.doc_id, img.width, img.height,
            img.gray.length.toLong, img.gray.map(_.toLong).sum,
            p0, p1, p2, p3)
        }
      }
    }
  }

  /** Incremental fingerprint near-dup: the pairs a NEW batch introduces
    * against a persisted fingerprint index — batch-vs-index plus
    * batch-vs-batch per band, never index x index (the [[graft.ops.Dedup
    * .incrementalSimhashPairs]] shape for the image detector; any
    * frame with doc_id + p0..p3 works). Per-batch cost is
    * O(batch x band collision rate); the result equals the full banded
    * join restricted to batch-touching pairs (fingerprints are per-doc,
    * so the restriction is exact — law-tested in ImageHashSpec,
    * oracle-gated via `q_mm_phash_incr`). */
  def incrementalPhashPairs(fpOld: DataFrame, fpNew: DataFrame,
                            maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding is exhaustive only for hamming <= 3")
    val bs = Seq("p0", "p1", "p2", "p3")
    def tagged(df: DataFrame, tag: String, b: String): DataFrame =
      df.select(col("doc_id").as(s"${tag}_id") +:
        bs.map(c => col(c).as(s"${tag}_$c")) :+ col(b).as("bk"): _*)
    val perBand = bs.map { b =>
      val newNew = tagged(fpNew, "x", b).join(tagged(fpNew, "y", b), Seq("bk"))
        .filter(col("x_id") < col("y_id"))
      // guard against overlapping id sets (a doc present in both index
      // and batch must not pair with itself)
      val oldNew = tagged(fpOld, "x", b).join(tagged(fpNew, "y", b), Seq("bk"))
        .filter(col("x_id") =!= col("y_id"))
      newNew.unionByName(oldNew)
    }.reduce(_ unionByName _)
    val ham = bs.map(c =>
      bit_count(col(s"x_$c").bitwiseXOR(col(s"y_$c"))).cast("int"))
      .reduce(_ + _)
    perBand
      .select(
        least(col("x_id"), col("y_id")).as("doc_a"),
        greatest(col("x_id"), col("y_id")).as("doc_b"),
        ham.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate image pairs from the phash frame: candidates share at
    * least one of the 4 bands (stacked (band_idx, band_value) equi-join —
    * one shuffle, the SimHash64 shape), then the exact hamming distance
    * over all 64 bits verifies. At a 100 TB image corpus the band join is
    * the only pair generator; a hash collision within a band is the
    * candidate budget, never n^2. */
  def phashPairs(phash: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding is exhaustive only for hamming <= 3")
    val bands = Seq("p0", "p1", "p2", "p3")
    val stacked = phash.select(
      col("doc_id"), col("p0"), col("p1"), col("p2"), col("p3"),
      explode(array(bands.zipWithIndex.map { case (b, i) =>
        struct(lit(i).as("band_idx"), col(b).as("band_val"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("p0"), col("p1"), col("p2"), col("p3"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
    val a = bands.foldLeft(stacked)((d, b) => d.withColumnRenamed(b, s"a_$b"))
      .withColumnRenamed("doc_id", "doc_a")
    val b = bands.foldLeft(stacked)((d, c) => d.withColumnRenamed(c, s"b_$c"))
      .withColumnRenamed("doc_id", "doc_b")
    val ham = bands.map(c =>
      bit_count(col(s"a_$c").bitwiseXOR(col(s"b_$c"))).cast("int"))
      .reduce(_ + _)
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), ham.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}

/** GIF-variant LZW codec — the DECODING side only (the fixture encoder in
  * [[GifPixelFixtures]] is an independent implementation; they share no
  * code, which is what makes the oracle round-trip a real gate).
  *
  * Variable code width starting at minCodeSize+1, LSB-first bit packing,
  * clear/end codes at 2^min and 2^min+1, dictionary grown one entry per
  * emitted code, width bumped when the next free code reaches 2^width
  * (capped at 12 bits), KwKwK special case handled. */
object GifLzw {

  /** Concatenate GIF data sub-blocks ([len, bytes]* 0) in [from, to). */
  def deSubBlock(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = from
    while (i < to) {
      val len = b(i) & 0xff
      if (len == 0) return out.toByteArray
      out.write(b, i + 1, math.min(len, to - i - 1))
      i += 1 + len
    }
    out.toByteArray
  }

  /** Decode an LZW stream to at most `maxPixels` palette indices; None on
    * a malformed stream (bad code, truncation before enough pixels). */
  def decode(data: Array[Byte], minCodeSize: Int, maxPixels: Int): Option[Array[Byte]] = {
    if (minCodeSize < 1 || minCodeSize > 11) return None
    val clear = 1 << minCodeSize
    val end = clear + 1
    // dictionary as (prefix code, appended byte); roots are -1-prefixed
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new java.io.ByteArrayOutputStream(maxPixels)
    var nextCode = end + 1
    var width = minCodeSize + 1
    var prev = -1
    var bitPos = 0
    val totalBits = data.length * 8

    def readCode(): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0
      var k = 0
      while (k < width) {
        val p = bitPos + k
        if ((data(p >> 3) & (1 << (p & 7))) != 0) v |= 1 << k
        k += 1
      }
      bitPos += width
      v
    }

    // expand a code to bytes (walk the prefix chain, reverse)
    val stack = new Array[Byte](4096)
    def emit(code: Int): Byte = {
      var top = 0
      var c = code
      while (c >= clear) { // composite entry
        stack(top) = suffix(c); top += 1; c = prefix(c)
      }
      val first = c.toByte // root: the literal index
      out.write(c)
      while (top > 0) { top -= 1; out.write(stack(top)) }
      first
    }

    while (out.size < maxPixels) {
      val code = readCode()
      if (code < 0) return None
      if (code == clear) {
        nextCode = end + 1; width = minCodeSize + 1; prev = -1
      } else if (code == end) {
        return if (out.size >= maxPixels) Some(out.toByteArray) else None
      } else if (prev == -1) {
        if (code >= clear) return None
        emit(code)
        prev = code
      } else {
        var firstByte: Byte = 0
        if (code < nextCode) {
          firstByte = emit(code)
        } else if (code == nextCode) {
          // KwKwK: prev's expansion + its own first byte
          val f = firstOf(prev, clear, prefix)
          stackEmit(prev, f, clear, prefix, suffix, out)
          firstByte = f
        } else return None
        if (nextCode < 4096) {
          prefix(nextCode) = prev
          suffix(nextCode) = firstByte
          nextCode += 1
          if (nextCode >= (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    Some(out.toByteArray)
  }

  private def firstOf(code: Int, clear: Int, prefix: Array[Int]): Byte = {
    var c = code
    while (c >= clear) c = prefix(c)
    c.toByte
  }

  /** Emit `code`'s expansion followed by one extra byte (KwKwK case). */
  private def stackEmit(code: Int, extra: Byte, clear: Int,
                        prefix: Array[Int], suffix: Array[Byte],
                        out: java.io.ByteArrayOutputStream): Unit = {
    val stack = new Array[Byte](4096)
    var top = 0
    var c = code
    while (c >= clear) { stack(top) = suffix(c); top += 1; c = prefix(c) }
    out.write(c)
    while (top > 0) { top -= 1; out.write(stack(top)) }
    out.write(extra)
  }
}
