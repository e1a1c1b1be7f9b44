package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** Baseline JPEG codec proof, three independent angles:
  *
  *  1. DC-exact closed form — constant 8x8 blocks at even offsets from 128
  *     survive Annex-K quantization losslessly (DC step 16 divides
  *     8*(v-128)), so the decoded checksum is predictable without running
  *     any codec code (the same argument the DuckDB oracle uses);
  *  2. a HAND-ASSEMBLED single-block fixture whose entropy bits are derived
  *     on paper from the spec's canonical code construction (DC cat-1 code
  *     010, value bit 1, EOB 1010 → one byte 0x5A) — the decoder must parse
  *     bytes no encoder produced — plus assertions that the canonical
  *     Huffman construction lands on published code values;
  *  3. the general AC path vs an independently-written reference pipeline
  *     (forward DCT → quantize → dequant → IDCT, straight from A.3.3)
  *     that never touches the codec's bitstream machinery.
  */
class JpegSpec extends AnyFunSuite {

  import JpegCodec._
  import Multimodal.Decoded

  private def closedFormGray(w: Int, h: Int, px: (Int, Int) => Int): Long = {
    var cs = 0L; var k = 0L
    for (y <- 0 until h; x <- 0 until w) { k += 1; cs += k * px(x, y) }
    cs
  }

  test("DC-exact grayscale: constant even-offset blocks decode bit-exactly") {
    // 24x16 = 3x2 blocks, block (bx,by) constant at 128 + 2*((3bx+5by) mod 64 - 32)
    def v(bx: Int, by: Int) = 128 + 2 * (math.floorMod(3 * bx + 5 * by, 64) - 32)
    val img = encode(24, 16, 1, (x, y, _) => v(x / 8, y / 8))
    val expected = closedFormGray(24, 16, (x, y) => v(x / 8, y / 8))
    assert(decodePixels(img) === Some(Decoded(24, 16, 1, expected)))
  }

  test("DC-exact RGB: grayscale-valued color rides YCbCr 4:4:4 bit-exactly") {
    // R=G=B=v gives Y=v, Cb=Cr=128 exactly; chroma blocks quantize to all-
    // zero; decode returns R=G=B=Y. Checksum weight per pixel = 6v.
    def v(bx: Int, by: Int) = 128 + 2 * (math.floorMod(7 * bx + 11 * by + 3, 64) - 32)
    val img = encode(16, 16, 3, (x, y, _) => v(x / 8, y / 8))
    var cs = 0L; var k = 0L
    for (y <- 0 until 16; x <- 0 until 16) { k += 1; cs += k * 6L * v(x / 8, y / 8) }
    assert(decodePixels(img) === Some(Decoded(16, 16, 3, cs)))
  }

  test("DC-exact with edge padding: non-multiple-of-8 dims crop correctly") {
    // 13x10: padded to 16x16 by edge replication; constant image is its own
    // padding, so every block is DC-only and the crop is the whole proof
    val img = encode(13, 10, 1, (_, _, _) => 180) // 180 = 128 + 2*26
    assert(decodePixels(img) === Some(Decoded(13, 10, 1, closedFormGray(13, 10, (_, _) => 180))))
  }

  test("canonical Huffman construction reproduces published code values") {
    val dcL = encTable(DcLumaBits, DcLumaVals)
    assert(dcL(0) === (0x0, 2), "DC luma cat 0 = 00")
    assert(dcL(1) === (0x2, 3), "DC luma cat 1 = 010")
    assert(dcL(2) === (0x3, 3), "DC luma cat 2 = 011")
    assert(dcL(6) === (0xe, 4), "DC luma cat 6 = 1110")
    val acL = encTable(AcLumaBits, AcLumaVals)
    assert(acL(0x00) === (0xa, 4), "AC luma EOB = 1010")
    assert(acL(0x01) === (0x0, 2), "AC luma (0,1) = 00")
    assert(acL(0xf0) === (0x7f9, 11), "AC luma ZRL = 11111111001")
    val acC = encTable(AcChromaBits, AcChromaVals)
    assert(acC(0x00) === (0x0, 2), "AC chroma EOB = 00")
    assert(acC(0xf0) === (0x3fa, 10), "AC chroma ZRL = 1111111010")
  }

  test("hand-assembled single-block fixture decodes: entropy byte derived on paper") {
    // 8x8 grayscale, constant 130. Quantized DC = round(8*(130-128)/16) = 1.
    // Bits: DC cat-1 code 010, value bit 1 (positive 1), EOB 1010 →
    // 0101_1010 = 0x5A, exactly one byte, no padding needed.
    val out = new java.io.ByteArrayOutputStream()
    def seg(m: Int, body: Array[Byte]): Unit = {
      out.write(0xff); out.write(m)
      out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
      out.write(body, 0, body.length)
    }
    out.write(0xff); out.write(0xd8) // SOI
    seg(0xdb, Array(0.toByte) ++ ZigZag.map(n => QLuma(n).toByte))
    seg(0xc0, Array[Byte](8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    seg(0xc4, Array(0x00.toByte) ++ DcLumaBits.map(_.toByte) ++ DcLumaVals.map(_.toByte))
    seg(0xc4, Array(0x10.toByte) ++ AcLumaBits.map(_.toByte) ++ AcLumaVals.map(_.toByte))
    seg(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))
    out.write(0x5a) // the hand-derived entropy stream
    out.write(0xff); out.write(0xd9) // EOI
    val expected = closedFormGray(8, 8, (_, _) => 130)
    assert(decodePixels(out.toByteArray) === Some(Decoded(8, 8, 1, expected)))
  }

  test("general AC path matches an independent reference pipeline bit-exactly") {
    // a gradient + texture image with real nonzero ACs in most blocks
    val (w, h) = (24, 16)
    def px(x: Int, y: Int) = (x * 7 + y * 13 + ((x * y) % 5) * 20) % 256
    val img = encode(w, h, 1, (x, y, _) => px(x, y))
    // reference: the spec pipeline re-implemented here, no bitstream code.
    // Loop nesting mirrors A.3.3's summation so double accumulation is
    // bit-identical (skipping exact-zero terms cannot change a double sum).
    val cos = Array.tabulate(8, 8)((u, x) => math.cos((2 * x + 1) * u * math.Pi / 16))
    val isq2 = 1.0 / math.sqrt(2.0)
    var cs = 0L
    var k = 0L
    val dec = Array.ofDim[Int](h + 8, w + 8)
    for (by <- 0 until h / 8; bx <- 0 until w / 8) {
      val f = Array.ofDim[Int](8, 8)
      for (u <- 0 until 8; v <- 0 until 8) {
        var s = 0.0
        for (y <- 0 until 8; x <- 0 until 8)
          s += (px(bx * 8 + x, by * 8 + y) - 128) * cos(v)(x) * cos(u)(y)
        val cu = if (u == 0) isq2 else 1.0
        val cv = if (v == 0) isq2 else 1.0
        val q = QLuma(u * 8 + v)
        f(u)(v) = math.round(0.25 * cu * cv * s / q).toInt * q
      }
      for (y <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (u <- 0 until 8; v <- 0 until 8) {
          val cu = if (u == 0) isq2 else 1.0
          val cv = if (v == 0) isq2 else 1.0
          s += cu * cv * f(u)(v) * cos(v)(x) * cos(u)(y)
        }
        dec(by * 8 + y)(bx * 8 + x) =
          math.max(0L, math.min(255L, math.round(0.25 * s) + 128)).toInt
      }
    }
    for (y <- 0 until h; x <- 0 until w) { k += 1; cs += k * dec(y)(x) }
    assert(decodePixels(img) === Some(Decoded(w, h, 1, cs)))
    // and the lossy error is JPEG-sized, not garbage: the ((x*y)%5)*20 term
    // is deliberately high-frequency, so quality-50 quantization costs real
    // peak error — what must hold is a sane peak and a small mean
    var maxErr = 0
    var sumErr = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val e = math.abs(dec(y)(x) - px(x, y))
      maxErr = math.max(maxErr, e); sumErr += e
    }
    assert(maxErr <= 100, s"peak reconstruction error $maxErr looks broken")
    assert(sumErr.toDouble / (w * h) <= 25, s"mean error ${sumErr.toDouble / (w * h)} looks broken")
  }

  test("restart markers: DRI/RSTn round-trip with DC predictor resets") {
    def v(bx: Int, by: Int) = 128 + 2 * (math.floorMod(9 * bx + by, 64) - 32)
    val plain = encode(40, 24, 1, (x, y, _) => v(x / 8, y / 8))
    val restarted = encode(40, 24, 1, (x, y, _) => v(x / 8, y / 8), restartInterval = 2)
    assert(restarted.length > plain.length, "RST markers should be present")
    // count real RST markers in the entropy stream
    val rsts = restarted.sliding(2).count(a =>
      (a(0) & 0xff) == 0xff && (a(1) & 0xff) >= 0xd0 && (a(1) & 0xff) <= 0xd7)
    assert(rsts === (15 - 1) / 2, s"expected 7 restarts for 15 MCUs at interval 2, got $rsts")
    assert(decodePixels(restarted) === decodePixels(plain))
    assert(decodePixels(plain).get.checksum ===
      closedFormGray(40, 24, (x, y) => v(x / 8, y / 8)))
  }

  test("rejects: truncation, progressive SOF, subsampling, missing EOI, garbage") {
    val good = encode(16, 8, 3, (x, y, c) => (x * 11 + y * 5 + c * 17) % 256)
    assert(decodePixels(good).isDefined)
    // truncation at every interesting boundary
    for (cut <- Seq(2, 10, good.length / 2, good.length - 3))
      assert(decodePixels(good.take(cut)) === None, s"cut=$cut")
    // SOF0 -> SOF2 (progressive): locate the marker and flip it
    val sofAt = good.indices.dropWhile(i =>
      !((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0)).head
    val prog = good.clone(); prog(sofAt + 1) = 0xc2.toByte
    assert(decodePixels(prog) === None)
    // 2x1 subsampled luma: SOF comp-0 sampling byte 0x11 -> 0x21
    val sub = good.clone(); sub(sofAt + 12) = 0x21.toByte
    assert(decodePixels(sub) === None)
    // EOI clipped off entirely
    assert(decodePixels(good.dropRight(2)) === None)
    // garbage and wrong magic
    assert(decodePixels("definitely not a jpeg".getBytes("UTF-8")) === None)
    assert(decodePixels(Array.emptyByteArray) === None)
    assert(decodePixels(Array[Byte](0xff.toByte, 0xd8.toByte)) === None)
  }

  test("decoder never throws on arbitrary bytes after the SOI magic (fuzz)") {
    val rnd = new scala.util.Random(20260816L)
    for (_ <- 1 to 300) {
      val body = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(body)
      val p = Array(0xff.toByte, 0xd8.toByte) ++ body
      decodePixels(p) // must simply not throw; usually None
    }
    // and mutated valid images never throw either
    val good = encode(16, 16, 1, (x, y, _) => (x * 31 + y * 3) % 256)
    for (_ <- 1 to 300) {
      val m = good.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      decodePixels(m)
    }
  }
}
