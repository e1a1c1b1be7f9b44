package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** GIF codec proof. LZW is lossless, so unlike JPEG every round-trip must
  * be bit-exact; what needs targeted coverage is the LZW machinery itself —
  * dictionary growth across width bumps, the KwKwK self-reference case,
  * CLEAR resync after a full dictionary, interlaced row order — plus a
  * hand-assembled fixture whose code stream is derived on paper.
  */
class GifSpec extends AnyFunSuite {

  import GifCodec._
  import Multimodal.Decoded

  private def checksum(w: Int, h: Int, pal: Array[(Int, Int, Int)],
                       idx: (Int, Int) => Int): Long = {
    var cs = 0L; var k = 0L
    for (y <- 0 until h; x <- 0 until w) {
      k += 1
      val (r, g, b) = pal(idx(x, y))
      cs += k * (r + 2 * g + 3 * b)
    }
    cs
  }

  private val pal8: Array[(Int, Int, Int)] =
    Array.tabulate(8)(i => (i * 31 % 256, i * 57 % 256, i * 11 % 256))

  test("round-trip: textured image, sequential and interlaced, checksums equal closed form") {
    val (w, h) = (23, 17) // non-power-of-two, odd dims
    val idx = (x: Int, y: Int) => (x * 3 + y * 5 + (x * y) % 7) % 8
    val expect = checksum(w, h, pal8, idx)
    assert(decodePixels(encode(w, h, pal8, idx)) === Some(Decoded(w, h, 3, expect)))
    // interlaced: same pixels, four-pass storage order — checksum must be
    // over PRESENTATION order, so it is identical
    assert(decodePixels(encode(w, h, pal8, idx, interlaced = true)) ===
      Some(Decoded(w, h, 3, expect)))
  }

  test("width growth and CLEAR resync: high-entropy image overflows the dictionary") {
    // 128x64 = 8192 pixels of pseudo-random 64-color noise: the dictionary
    // hits 4096 entries and resets mid-stream, and code widths walk 7->12
    val pal = Array.tabulate(64)(i => (i * 4, 255 - i * 4, (i * 37) % 256))
    val rnd = new scala.util.Random(42)
    val pix = Array.fill(64, 128)(rnd.nextInt(64))
    val img = encode(128, 64, pal, (x, y) => pix(y)(x))
    assert(decodePixels(img) ===
      Some(Decoded(128, 64, 3, checksum(128, 64, pal, (x, y) => pix(y)(x)))))
  }

  test("KwKwK case: runs of a repeated byte force the code==next path") {
    // long constant runs make the encoder emit a code the decoder has not
    // yet defined (cScSc pattern from the spec's appendix-F discussion)
    val pal = Array((10, 20, 30), (200, 100, 50))
    val img = encode(40, 8, pal, (x, y) => if (y == 7 && x > 35) 1 else 0)
    assert(decodePixels(img) ===
      Some(Decoded(40, 8, 3, checksum(40, 8, pal, (x, y) => if (y == 7 && x > 35) 1 else 0))))
  }

  test("hand-assembled fixture: code stream derived on paper decodes exactly") {
    // 4x1 image, 4-color palette, pixels [1,1,2,0]. minCode=2: clear=4,
    // eoi=5, width starts 3. Decoder walk, derived on paper:
    //   CLEAR(4)@3; 1@3 (root, prev=-1, no entry); 1@3 (adds entry6=(1,1),
    //   next=7); 2@3 (adds entry7=(1,2), next=8 == 1<<3 -> width=4);
    //   0@4 (adds entry8); EOI(5)@4.
    // The codec must agree with this width schedule bit-for-bit; pack the
    // schedule with a tiny local packer (the dictionary/width reasoning is
    // the hand part).
    var acc = 0L; var nb = 0
    val bytes = new java.io.ByteArrayOutputStream()
    def put(code: Int, width: Int): Unit = {
      acc |= code.toLong << nb; nb += width
      while (nb >= 8) { bytes.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
    }
    put(4, 3); put(1, 3); put(1, 3); put(2, 3); put(0, 4); put(5, 4)
    if (nb > 0) bytes.write((acc & 0xff).toInt)
    val lzw = bytes.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8) }
    le16(4); le16(1)
    out.write(0x80 | 0x11); out.write(0); out.write(0) // GCT, 4 entries
    val pal = Array((0, 0, 1), (0, 0, 2), (0, 0, 4), (0, 0, 8))
    for ((r, g, b) <- pal) { out.write(r); out.write(g); out.write(b) }
    out.write(0x2c); le16(0); le16(0); le16(4); le16(1); out.write(0)
    out.write(2) // LZW min code size
    out.write(lzw.length); out.write(lzw, 0, lzw.length); out.write(0)
    out.write(0x3b)
    // pixels [1,1,2,0] -> blue values [2,2,4,1], checksum = sum (k)*(3*B)
    val expect = 1L * 6 + 2L * 6 + 3L * 12 + 4L * 3
    assert(decodePixels(out.toByteArray) === Some(Decoded(4, 1, 3, expect)))
  }

  test("rejects: truncation, missing color table, bad codes, animation mismatch, garbage") {
    val good = encode(16, 16, pal8, (x, y) => (x + y) % 8)
    assert(decodePixels(good).isDefined)
    for (cut <- Seq(5, 12, 20, good.length / 2, good.length - 2))
      assert(decodePixels(good.take(cut)) === None, s"cut=$cut")
    // strip the GCT flag: no palette anywhere -> None
    val noPal = good.clone(); noPal(10) = (noPal(10) & 0x7f).toByte
    assert(decodePixels(noPal) === None)
    // corrupt the LZW stream start (first data byte after min-code + len)
    val corrupt = good.clone()
    // find image descriptor, skip 10 bytes (0x2c + 9), then minCode, len
    val at = corrupt.indices.find(i => (corrupt(i) & 0xff) == 0x2c).get
    corrupt(at + 12) = 0xff.toByte // max-value codes early -> beyond dict
    assert(decodePixels(corrupt) === None)
    assert(decodePixels("GIF89a then nonsense".getBytes("UTF-8")) === None)
    assert(decodePixels(Array.emptyByteArray) === None)
  }

  test("decoder never throws on arbitrary bytes after the GIF magic (fuzz)") {
    val rnd = new scala.util.Random(20260816L)
    for (_ <- 1 to 300) {
      val body = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(body)
      decodePixels("GIF89a".getBytes("US-ASCII") ++ body)
    }
    val good = encode(12, 12, pal8, (x, y) => (x * y) % 8)
    for (_ <- 1 to 300) {
      val m = good.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      decodePixels(m)
    }
  }
}
