package graft

import java.nio.charset.StandardCharsets

import graft.ops.{GifFixtures, GifHeaders, Multimodal}

/** Real GIF block walk on hand-built and fixture bytes, plus the two
  * partition-wise decoders over it: [[Multimodal.sampleFrames]] (real
  * frames for GIF, the md5 stand-in the oracle-gated q_mm_frames pins
  * otherwise) and [[Multimodal.decodeGifFrames]] (typed metadata rows).
  */
class MultimodalSpec extends SparkSuite {

  /** Hand-assembled 2-frame GIF89a (independent of GifFixtures): global
    * color table (4 entries), a comment extension, per-frame graphic
    * control with distinct delays, a local color table on frame 2, and
    * multi-sub-block image data. */
  private def gifBytes(): Array[Byte] = {
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val header = "GIF89a".getBytes(StandardCharsets.US_ASCII) ++
      le16(320) ++ le16(200) ++
      Array[Byte](0x81.toByte, 0, 0) ++ // GCT flag, size N=1 -> 4 entries
      Array.fill[Byte](12)(0x33) // global color table
    val comment = Array[Byte](0x21, 0xfe.toByte, 3, 'h', 'i', '!', 0)
    def gce(delay: Int) =
      Array[Byte](0x21, 0xf9.toByte, 4, 0x04) ++ le16(delay) ++ Array[Byte](0, 0)
    val frame1 = gce(25) ++
      Array[Byte](0x2c) ++ le16(10) ++ le16(20) ++ le16(100) ++ le16(50) ++
      Array[Byte](0x00) ++ // no local color table
      Array[Byte](2, 3, 1, 2, 3, 2, 9, 8, 0) // lzw-min 2, blocks [3][2], term
    val frame2 = gce(50) ++
      Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(320) ++ le16(200) ++
      Array[Byte](0x80.toByte) ++ Array.fill[Byte](6)(0x44) ++ // LCT 2 entries
      Array[Byte](3, 2, 5, 6, 0) // lzw-min 3, one block [2], term
    header ++ comment ++ frame1 ++ frame2 ++ Array[Byte](0x3b)
  }

  test("GIF block walk: frames, geometry, delays, per-frame data ranges") {
    val b = gifBytes()
    val info = GifHeaders.gifInfo(b).get
    assert((info.width, info.height) === (320, 200))
    assert(info.frames.length === 2)
    val f1 = info.frames(0)
    assert((f1.left, f1.top, f1.width, f1.height, f1.delayCs) ===
      (10, 20, 100, 50, 25))
    val f2 = info.frames(1)
    assert((f2.left, f2.top, f2.width, f2.height, f2.delayCs) ===
      (0, 0, 320, 200, 50))
    // frame 1's data range covers exactly lzw-min + [3-block][2-block][0]
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(b, f1.dataStart, f1.dataEnd),
      Array[Byte](2, 3, 1, 2, 3, 2, 9, 8, 0)))
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(b, f2.dataStart, f2.dataEnd),
      Array[Byte](3, 2, 5, 6, 0)))
  }

  test("non-GIF and truncated payloads are rejected by the block walk") {
    assert(GifHeaders.gifInfo("GIF8 but not really".getBytes) === None)
    assert(GifHeaders.gifInfo("plain text payload".getBytes) === None)
    assert(GifHeaders.gifInfo(Array.emptyByteArray) === None)
    val good = gifBytes()
    assert(GifHeaders.gifInfo(good.take(good.length - 1)) === None) // no trailer
    assert(GifHeaders.gifInfo(good.take(30)) === None) // cut mid-stream
  }

  test("GifFixtures round-trip: parser rediscovers the encoded metadata") {
    for (docId <- 0L to 40L) {
      val info = GifHeaders.gifInfo(GifFixtures.synthGif(docId))
        .getOrElse(fail(s"doc $docId did not parse"))
      assert(info.width === GifFixtures.screenW(docId))
      assert(info.height === GifFixtures.screenH(docId))
      assert(info.frames.length === GifFixtures.frameCount(docId))
      info.frames.zipWithIndex.foreach { case (f, i) =>
        assert(f.left === GifFixtures.left(docId, i))
        assert(f.top === GifFixtures.top(docId, i))
        assert(f.width === GifFixtures.frameW(docId, i))
        assert(f.height === GifFixtures.frameH(docId, i))
        assert(f.delayCs === GifFixtures.delayCs(docId, i))
      }
    }
  }

  test("sampleFrames: real per-frame rows for GIF, md5 stand-in otherwise") {
    import spark.implicits._
    val gif = gifBytes()
    val rows = Seq(
      (1L, gif, "video"),
      (2L, "not a gif at all".getBytes(StandardCharsets.UTF_8), "video"))
      .toDF("doc_id", "payload", "media_type")
    val out = Multimodal.sampleFrames(spark, rows)
      .collect().groupBy(_.doc_id)
    // real path: one row per image descriptor, checksum over the frame's
    // OWN data bytes (not the whole payload)
    assert(out(1L).length === 2)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(Array[Byte](2, 3, 1, 2, 3, 2, 9, 8, 0))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(out(1L).minBy(_.frame_idx).frame_checksum === expected)
    // stand-in path: n = len % 7 + 1 pseudo-frames
    assert(out(2L).length === "not a gif at all".length % 7 + 1)
  }

  test("decodeGifFrames: typed metadata rows, non-GIF payloads dropped") {
    import spark.implicits._
    val rows = Seq(
      (7L, GifFixtures.synthGif(7L), "image"),
      (8L, "nope".getBytes(StandardCharsets.UTF_8), "image"))
      .toDF("doc_id", "payload", "media_type")
    val out = Multimodal.decodeGifFrames(spark, rows).collect()
    assert(out.map(_.doc_id).toSet === Set(7L))
    assert(out.length === GifFixtures.frameCount(7L))
    assert(out.forall(_.n_frames === GifFixtures.frameCount(7L)))
  }
}
