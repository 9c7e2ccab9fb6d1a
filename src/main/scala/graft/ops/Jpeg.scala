package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** REAL baseline JPEG (ITU-T T.81) pixel decode — the second
  * real-pixel decoder (next to GIF/LZW) for the image-dedup pipeline.
  * Pure JVM, implemented from the public spec: marker walk,
  * DQT/DHT/SOF0/DRI/SOS parsing, canonical Huffman decode with
  * byte-stuffing removal and restart-marker handling, run-length AC
  * decode, dequantization in zigzag order, naive double-precision IDCT
  * (exact for the fixture family; the AAN fast transform is the
  * production swap — same interface, per-block cost
  * only), level shift + clamp, edge-block crop.
  *
  * Supported: baseline sequential DCT, 8-bit, 1..4 components with all
  * sampling factors 1x1 (grayscale fixtures use 1 component; for YCbCr
  * the luma plane is what the perceptual-hash pipeline consumes).
  * Progressive scans, subsampling, arithmetic coding -> None (the same
  * honest-refusal contract as the other format parsers).
  *
  * Scale shape: decoding runs per-partition exactly like the GIF
  * path — payload bytes are parsed where they sit; only dims, sums and
  * dHash bands leave the executor.
  */
object Jpeg {

  /** Zigzag index -> (row, col) of the 8x8 coefficient matrix. */
  private[graft] val Zigzag: Array[(Int, Int)] = {
    val out = new Array[(Int, Int)](64)
    var r = 0; var c = 0
    for (i <- 0 until 64) {
      out(i) = (r, c)
      if ((r + c) % 2 == 0) { // moving up-right
        if (c == 7) r += 1 else if (r == 0) c += 1 else { r -= 1; c += 1 }
      } else { // moving down-left
        if (r == 7) c += 1 else if (c == 0) r += 1 else { r += 1; c -= 1 }
      }
    }
    out
  }

  private val CosTable: Array[Double] =
    Array.tabulate(8, 8) { (x, u) =>
      math.cos((2 * x + 1) * u * math.Pi / 16)
    }.flatten
  @inline private def cosv(x: Int, u: Int): Double = CosTable(x * 8 + u)
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  /** Canonical Huffman decode table from the DHT (BITS, HUFFVAL) form. */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    // (length -> (firstCode, firstIndex)), spec F.2.2.3 canonical order
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17) // -1 = no codes of this length
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        if (bits(l - 1) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
      }
    }
    def decode(br: BitReader): Int = {
      var l = 1; var code = br.bit()
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | br.bit(); l += 1
      }
      if (l > 16) throw new IllegalArgumentException("bad Huffman code")
      vals(valPtr(l) + (code - minCode(l))) & 0xff
    }
  }

  /** MSB-first entropy-segment reader: strips 0xFF00 stuffing, stops at
    * markers; restart markers are consumed explicitly by [[restart]]. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    var atMarker: Int = -1
    def bit(): Int = {
      if (nbits == 0) {
        if (atMarker >= 0) throw new IllegalArgumentException("read past marker")
        var by = b(pos) & 0xff; pos += 1
        if (by == 0xff) {
          val nx = b(pos) & 0xff
          if (nx == 0x00) { pos += 1 } // stuffed data byte
          else { atMarker = nx; pos += 1; throw new IllegalArgumentException("marker in stream") }
        }
        cur = by; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Byte-align and consume an expected RSTn marker. */
    def restart(): Unit = {
      nbits = 0
      val m0 = b(pos) & 0xff; val m1 = b(pos + 1) & 0xff
      require(m0 == 0xff && m1 >= 0xd0 && m1 <= 0xd7, "expected RSTn")
      pos += 2
    }
  }

  @inline private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  case class JpegImage(width: Int, height: Int, nComp: Int, gray: Array[Int])

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** Decode a baseline JPEG to its luma raster (component 0), cropped to
    * the declared dimensions. */
  def decode(b: Array[Byte]): Option[JpegImage] = try {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    val qt = new Array[Array[Int]](4) // zigzag order, per spec storage
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var w = 0; var h = 0; var nComp = 0
    var compQ: Array[Int] = null
    var compId: Array[Int] = null
    var dri = 0
    var plane: Array[Int] = null // luma plane, padded dims
    var bw = 0; var bh = 0
    while (i + 2 <= b.length) {
      if ((b(i) & 0xff) != 0xff) return None
      val marker = b(i + 1) & 0xff
      if (marker == 0xd9) { // EOI
        return if (plane == null) None else {
          val gray = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            System.arraycopy(plane, y * bw * 8, gray, y * w, w); y += 1
          }
          Some(JpegImage(w, h, nComp, gray))
        }
      }
      if (i + 4 > b.length) return None
      val len = be16(b, i + 2)
      val seg = i + 4
      marker match {
        case 0xdb => // DQT: one or more tables
          var p = seg
          while (p < seg + len - 2) {
            val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
            if (pq != 0) return None // 16-bit tables unsupported
            qt(tq) = Array.tabulate(64)(k => b(p + 1 + k) & 0xff)
            p += 65
          }
        case 0xc0 => // SOF0 baseline
          h = be16(b, seg + 1); w = be16(b, seg + 3)
          nComp = b(seg + 5) & 0xff
          compQ = new Array[Int](nComp); compId = new Array[Int](nComp)
          for (c <- 0 until nComp) {
            compId(c) = b(seg + 6 + 3 * c) & 0xff
            val hv = b(seg + 7 + 3 * c) & 0xff
            if (hv != 0x11) return None // sampling 1x1 only
            compQ(c) = b(seg + 8 + 3 * c) & 0xff
          }
          bw = (w + 7) / 8; bh = (h + 7) / 8
          plane = new Array[Int](bw * 8 * bh * 8)
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
             0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return None // non-baseline SOF
        case 0xc4 => // DHT: one or more tables
          var p = seg
          while (p < seg + len - 2) {
            val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
            val bits = Array.tabulate(16)(k => b(p + 1 + k) & 0xff)
            val n = bits.sum
            val vals = java.util.Arrays.copyOfRange(b, p + 17, p + 17 + n)
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            p += 17 + n
          }
        case 0xdd => dri = be16(b, seg)
        case 0xda => // SOS + entropy-coded data
          val ns = b(seg) & 0xff
          val scanDc = new Array[HuffTable](ns)
          val scanAc = new Array[HuffTable](ns)
          for (c <- 0 until ns) {
            val tdta = b(seg + 2 + 2 * c) & 0xff
            scanDc(c) = dcTabs(tdta >> 4); scanAc(c) = acTabs(tdta & 0x0f)
          }
          val br = new BitReader(b, seg + 2 * ns + 4)
          val pred = new Array[Int](ns)
          val coefZ = new Array[Int](64)
          val block = Array.ofDim[Double](8, 8)
          var mcu = 0
          val nMcu = bw * bh // sampling 1x1: one block per component
          while (mcu < nMcu) {
            if (dri > 0 && mcu > 0 && mcu % dri == 0) {
              br.restart(); java.util.Arrays.fill(pred, 0)
            }
            val mx = mcu % bw; val my = mcu / bw
            for (c <- 0 until ns) {
              java.util.Arrays.fill(coefZ, 0)
              val t = scanDc(c).decode(br)
              pred(c) += extend(br.receive(t), t)
              coefZ(0) = pred(c)
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = scanAc(c).decode(br)
                val r = rs >> 4; val s = rs & 0x0f
                if (s == 0) { if (r == 15) k += 16 else eob = true }
                else {
                  k += r
                  coefZ(k) = extend(br.receive(s), s)
                  k += 1
                }
              }
              if (c == 0) { // luma plane only (what the hash consumes)
                val q = qt(compQ(c))
                // dequantize in zigzag storage order, place via Zigzag
                val f = Array.ofDim[Double](8, 8)
                var z = 0
                while (z < 64) {
                  val (rr, cc) = Zigzag(z)
                  f(rr)(cc) = (coefZ(z) * q(z)).toDouble
                  z += 1
                }
                // naive IDCT (spec A.3.3)
                var y = 0
                while (y < 8) {
                  var x = 0
                  while (x < 8) {
                    var sum = 0.0
                    var v = 0
                    while (v < 8) {
                      val cv = if (v == 0) InvSqrt2 else 1.0
                      var u = 0
                      while (u < 8) {
                        val cu = if (u == 0) InvSqrt2 else 1.0
                        sum += cv * cu * f(v)(u) * cosv(y, v) * cosv(x, u)
                        u += 1
                      }
                      v += 1
                    }
                    block(y)(x) = sum / 4.0
                    x += 1
                  }
                  y += 1
                }
                var yy = 0
                while (yy < 8) {
                  var xx = 0
                  while (xx < 8) {
                    val p = math.round(block(yy)(xx)).toInt + 128
                    plane((my * 8 + yy) * bw * 8 + mx * 8 + xx) =
                      math.max(0, math.min(255, p))
                    xx += 1
                  }
                  yy += 1
                }
              }
            }
            mcu += 1
          }
          // skip to next marker (EOI expected)
          i = br.pos
          while (i + 1 < b.length &&
            !((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) != 0x00)) i += 1
        case _ => () // APPn / COM / others skipped
      }
      if (marker != 0xda) i = seg + len - 2 // next marker after this segment
    }
    None
  } catch { case _: Exception => None }

  case class JpegRecord(
      doc_id: Long,
      width: Int,
      height: Int,
      n_pixels: Long,
      gray_sum: Long,
      p0: Int, p1: Int, p2: Int, p3: Int)

  /** Decode + dHash per partition (the same shape as [[ImageHash.phash]]). */
  def phash(spark: SparkSession, media: DataFrame): Dataset[JpegRecord] = {
    import spark.implicits._
    media.as[Multimodal.MediaRecord].mapPartitions { it =>
      it.flatMap { r =>
        decode(r.payload).map { img =>
          val gi = ImageHash.GrayImage(img.width, img.height, img.gray)
          val (p0, p1, p2, p3) = ImageHash.dhash(gi)
          JpegRecord(r.doc_id, img.width, img.height,
            img.gray.length.toLong, img.gray.map(_.toLong).sum,
            p0, p1, p2, p3)
        }
      }
    }
  }
}

/** INDEPENDENT JPEG ENCODER for fixtures — its own bit-writer (with byte
  * stuffing), its own canonical-code assignment from the spec Annex K
  * tables, its own FDCT. The oracle-gated family is 8x8-BLOCK-CONSTANT
  * grayscale images: a constant block has only a DC coefficient, whose
  * quantize -> dequantize -> IDCT round-trip is pure integer arithmetic
  * ( decoded = clamp(v + v%2) at q_DC=16 ), so the SQL oracle replays
  * the LOSSY codec exactly — the trick that makes a lossy format
  * hash-gateable. The general AC path is exercised by JpegSpec's
  * full-FDCT round-trip with an error bound. */
private[graft] object JpegFixtures {

  // Annex K.1 luminance quantization table, zigzag order. Element 0
  // (DC) = 16, which the fixture arithmetic depends on.
  val QLum: Array[Int] = Array(
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99)

  // Annex K.3 luminance DC table (BITS, HUFFVAL)
  val DcBits: Array[Int] = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  val DcVals: Array[Int] = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)

  // Annex K.5 luminance AC table (BITS, HUFFVAL)
  val AcBits: Array[Int] = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  val AcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Canonical (code, length) per symbol from a (BITS, HUFFVAL) pair. */
  private def codesOf(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    val out = Map.newBuilder[Int, (Int, Int)]
    var code = 0; var k = 0
    for (l <- 1 to 16) {
      for (_ <- 0 until bits(l - 1)) {
        out += vals(k) -> (code, l); code += 1; k += 1
      }
      code <<= 1
    }
    out.result()
  }
  private val DcCodes = codesOf(DcBits, DcVals)
  private val AcCodes = codesOf(AcBits, AcVals)

  /** MSB-first bit writer with 0xFF00 stuffing and 1-fill alignment. */
  private final class BitWriter(out: ByteArrayOutputStream) {
    private var cur = 0
    private var n = 0
    def put(v: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1); n += 1
        if (n == 8) {
          out.write(cur)
          if (cur == 0xff) out.write(0x00)
          cur = 0; n = 0
        }
        i -= 1
      }
    }
    def align(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  private def category(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a > 0) { a >>= 1; s += 1 }
    s
  }

  private def putCoef(bwr: BitWriter, codes: Map[Int, (Int, Int)],
                      sym: Int, v: Int, s: Int): Unit = {
    val (code, len) = codes(sym)
    bwr.put(code, len)
    if (s > 0) bwr.put(if (v < 0) v + (1 << s) - 1 else v, s)
  }

  private def seg(out: ByteArrayOutputStream, marker: Int, body: Array[Int]): Unit = {
    out.write(0xff); out.write(marker)
    val len = body.length + 2
    out.write(len >> 8); out.write(len & 0xff)
    body.foreach(out.write)
  }

  /** Fixture geometry/content formulas (the oracle mirrors these). */
  def blocksW(id: Long): Int = 2 + (id % 3).toInt
  def blocksH(id: Long): Int = 2 + (id % 4).toInt
  def width(id: Long): Int = blocksW(id) * 8 - (id % 3).toInt
  def height(id: Long): Int = blocksH(id) * 8 - (id % 5).toInt
  def blockV(id: Long, bx: Int, by: Int): Int =
    ((11 * id + 23 * bx + 37 * by + bx.toLong * by) % 256).toInt
  /** Expected decoded value: DC quantized at q=16 (see object doc). */
  def expectedV(id: Long, bx: Int, by: Int): Int = {
    val v = blockV(id, bx, by)
    math.min(255, v + (v % 2))
  }

  /** Write the shared header segments (quant table, SOF0, both Huffman
    * tables, restart interval) for a 1-component baseline image. */
  private def header(out: ByteArrayOutputStream, w: Int, h: Int, dri: Int): Unit = {
    seg(out, 0xdb, 0 +: QLum.toArray)
    seg(out, 0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0))
    seg(out, 0xc4, (0x00 +: DcBits) ++ DcVals)
    seg(out, 0xc4, (0x10 +: AcBits) ++ AcVals)
    if (dri > 0) seg(out, 0xdd, Array(dri >> 8, dri & 0xff))
  }

  /** Block-constant grayscale fixture with restart markers every two MCU
    * rows — the oracle-gated family. */
  def synthJpeg(id: Long): Array[Byte] = {
    val bw = blocksW(id); val bh = blocksH(id)
    val w = width(id); val h = height(id)
    val dri = bw * 2
    val out = new ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    header(out, w, h, dri)
    seg(out, 0xda, Array(1, 1, 0x00, 0, 63, 0))
    val bwr = new BitWriter(out)
    var pred = 0
    var rst = 0
    for (mcu <- 0 until bw * bh) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        bwr.align()
        out.write(0xff); out.write(0xd0 + rst)
        rst = (rst + 1) % 8
        pred = 0
      }
      val bx = mcu % bw; val by = mcu / bw
      val v = blockV(id, bx, by)
      // DC = (v-128)*8 quantized by 16 with floor(x+0.5)
      val qdc = math.floor((v - 128) / 2.0 + 0.5).toInt
      val diff = qdc - pred
      pred = qdc
      val s = category(diff)
      putCoef(bwr, DcCodes, s, diff, s)
      putCoef(bwr, AcCodes, 0x00, 0, 0) // EOB: all AC zero
    }
    bwr.align()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** 3-component (YCbCr, 1x1 sampling) block-constant fixture — the
    * interleaved-MCU layout color JPEGs use: per MCU one block PER
    * component with per-component DC predictors. Y carries the same
    * block formula as the grayscale family; Cb/Cr sit at the neutral
    * 128 (quantized DC 0). The decoder must interleave correctly and
    * extract the luma plane. */
  def synthJpegColor(id: Long): Array[Byte] = {
    val bw = blocksW(id); val bh = blocksH(id)
    val w = width(id); val h = height(id)
    val out = new ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    seg(out, 0xdb, 0 +: QLum.toArray)
    seg(out, 0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3,
      1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0))
    seg(out, 0xc4, (0x00 +: DcBits) ++ DcVals)
    seg(out, 0xc4, (0x10 +: AcBits) ++ AcVals)
    seg(out, 0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    val bwr = new BitWriter(out)
    val pred = Array(0, 0, 0)
    for (mcu <- 0 until bw * bh; c <- 0 until 3) {
      val v = if (c == 0) blockV(id, mcu % bw, mcu / bw) else 128
      val qdc = math.floor((v - 128) / 2.0 + 0.5).toInt
      val diff = qdc - pred(c)
      pred(c) = qdc
      val s = category(diff)
      putCoef(bwr, DcCodes, s, diff, s)
      putCoef(bwr, AcCodes, 0x00, 0, 0)
    }
    bwr.align()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** General-path fixture for JpegSpec: arbitrary gray pixels through a
    * full FDCT + RLE AC encode with a FLAT quant table (all qv) — not
    * oracle-gated (lossy), bounded-error tested instead. */
  def synthJpegFull(pix: Array[Array[Int]], qv: Int): Array[Byte] = {
    val h = pix.length; val w = pix(0).length
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val out = new ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    seg(out, 0xdb, 0 +: Array.fill(64)(qv))
    seg(out, 0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0))
    seg(out, 0xc4, (0x00 +: DcBits) ++ DcVals)
    seg(out, 0xc4, (0x10 +: AcBits) ++ AcVals)
    seg(out, 0xda, Array(1, 1, 0x00, 0, 63, 0))
    val bwr = new BitWriter(out)
    val invSqrt2 = 1.0 / math.sqrt(2.0)
    var pred = 0
    for (mcu <- 0 until bw * bh) {
      val bx = mcu % bw; val by = mcu / bw
      // forward DCT of the (edge-replicated) block
      val f = Array.ofDim[Double](8, 8)
      for (v <- 0 until 8; u <- 0 until 8) {
        var sum = 0.0
        for (y <- 0 until 8; x <- 0 until 8) {
          val py = math.min(h - 1, by * 8 + y); val px = math.min(w - 1, bx * 8 + x)
          sum += (pix(py)(px) - 128) *
            math.cos((2 * y + 1) * v * math.Pi / 16) *
            math.cos((2 * x + 1) * u * math.Pi / 16)
        }
        val cv = if (v == 0) invSqrt2 else 1.0
        val cu = if (u == 0) invSqrt2 else 1.0
        f(v)(u) = sum * cv * cu / 4.0
      }
      val coefZ = Jpeg.Zigzag.map { case (r, c) =>
        math.floor(f(r)(c) / qv + 0.5).toInt
      }
      val diff = coefZ(0) - pred
      pred = coefZ(0)
      val s = category(diff)
      putCoef(bwr, DcCodes, s, diff, s)
      // RLE AC encode
      var k = 1
      while (k < 64) {
        var run = 0
        while (k < 64 && coefZ(k) == 0) { run += 1; k += 1 }
        if (k == 64) putCoef(bwr, AcCodes, 0x00, 0, 0) // EOB
        else {
          while (run > 15) { putCoef(bwr, AcCodes, 0xf0, 0, 0); run -= 16 }
          val sz = category(coefZ(k))
          putCoef(bwr, AcCodes, (run << 4) | sz, coefZ(k), sz)
          k += 1
        }
      }
    }
    bwr.align()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }
}
