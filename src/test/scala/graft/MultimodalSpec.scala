package graft

import graft.ops.Multimodal

/** The BMP codec q55 runs: a golden hand-built file, the top-down row
  * order, and encode -> decode round-trips across every row-padding class.
  */
class MultimodalSpec extends SparkSpec {

  test("BMP decode: golden hand-built 3x2 bottom-up file with row padding") {
    // built byte-by-byte, independent of the encoder: 3px rows = 9 bytes
    // + 3 padding; pixels (r,g,b) row0(top)=[(1,2,3),(4,5,6),(7,8,9)],
    // row1(bottom)=[(10,20,30),(40,50,60),(70,80,90)]. Bottom-up storage
    // writes row1 FIRST; in-file channel order is B,G,R.
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val pixelData = Array[Int](
      30, 20, 10, 60, 50, 40, 90, 80, 70, 0, 0, 0, // bottom row + pad
      3, 2, 1, 6, 5, 4, 9, 8, 7, 0, 0, 0           // top row + pad
    ).map(_.toByte)
    val golden = Array[Byte]('B', 'M') ++ le32(54 + 24) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(3) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(24) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ pixelData
    val m = Multimodal.decodeBmp24(7L, golden)
    assert(m.width === 3 && m.height === 2 && m.bpp === 24 && m.n_bytes === 78)
    assert(m.mean_r === (1 + 4 + 7 + 10 + 40 + 70) / 6.0)
    assert(m.mean_g === (2 + 5 + 8 + 20 + 50 + 80) / 6.0)
    assert(m.mean_b === (3 + 6 + 9 + 30 + 60 + 90) / 6.0)
    val expXor = Seq((1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 20, 30), (40, 50, 60), (70, 80, 90))
      .map { case (r, g, b) => (r.toLong << 16) | (g << 8) | b }.reduce(_ ^ _)
    assert(m.xor_pixels === expXor)
  }

  test("BMP decode: top-down (negative height) variant parses identically") {
    val solid = Multimodal.encodeBmp24(5, 3, 200, 100, 50)
    // flip the height field to -3 (top-down): means/xor are row-order-free
    val bb = java.nio.ByteBuffer.wrap(solid).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -3)
    val m = Multimodal.decodeBmp24(1L, solid)
    assert(m.width === 5 && m.height === 3)
    assert(m.mean_r === 200.0 && m.mean_g === 100.0 && m.mean_b === 50.0)
  }

  test("BMP encode -> decode round-trips across padding classes") {
    for (w <- 1 to 8; h <- Seq(1, 3); (r, g, b) <- Seq((0, 0, 0), (255, 17, 128))) {
      val m = Multimodal.decodeBmp24(0L, Multimodal.encodeBmp24(w, h, r, g, b))
      assert((m.width, m.height) === (w, h), s"dims ${w}x$h")
      assert((m.mean_r, m.mean_g, m.mean_b) === (r.toDouble, g.toDouble, b.toDouble),
        s"solid color ($r,$g,$b) at ${w}x$h (pad=${(4 - w * 3 % 4) % 4})")
      val expXor = if (w * h % 2 == 1) (r.toLong << 16) | (g << 8) | b else 0L
      assert(m.xor_pixels === expXor, s"xor at ${w}x$h")
      assert(m.n_bytes === 54 + (w * 3 + (4 - w * 3 % 4) % 4) * h)
    }
    // non-BMP payloads and malformed headers are rejected loudly, naming
    // the doc id: (header offset, field value) patches of a valid 4x2 file
    def patched(edits: (Int, Int)*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.wrap(Multimodal.encodeBmp24(4, 2, 1, 2, 3))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      edits.foreach { case (at, v) => bb.putInt(at, v) }
      bb.array()
    }
    val bad = Seq(
      "not an image" -> "not an image".getBytes,
      "zero width" -> patched(18 -> 0),
      "zero height" -> patched(22 -> 0),
      "negative width" -> patched(18 -> -4),
      "height Int.MinValue" -> patched(22 -> Int.MinValue), // abs stays negative
      "width Int.MaxValue" -> patched(18 -> Int.MaxValue), // w * 3 overflows an Int
      "stride * h past Int" -> patched(18 -> 0x20000000, 22 -> 8),
      "data inside the headers" -> patched(10 -> 0),
      "data past the end" -> patched(10 -> 60))
    bad.zipWithIndex.foreach { case ((what, payload), i) =>
      val e = withClue(s"$what: ") {
        intercept[IllegalArgumentException](Multimodal.decodeBmp24(4242L + i, payload))
      }
      assert(e.getMessage.contains(s"doc ${4242L + i}"), s"$what: ${e.getMessage}")
    }
  }
}
