package graft.llm

import ByteReader.be16
import Multimodal.Decoded

/** Baseline JPEG pixel codec with no codec library — the JVM ships everything
  * a baseline (SOF0) JPEG needs: it is canonical Huffman coding + integer
  * quantization + an 8x8 DCT, all plain arithmetic. This closes the last
  * declared multimodal stub (JPEG was "out of reach offline" only while we
  * assumed a codec library was required; like the PNG path, the published
  * spec — ITU T.81 — is the only input). Scope: baseline sequential DCT,
  * 8-bit precision, 1 (grayscale) or 3 (YCbCr 4:4:4) components, standard
  * or custom DQT/DHT, DRI/RSTn restart markers. Progressive (SOF2),
  * hierarchical, arithmetic coding, 12-bit, and subsampled chroma return
  * None and fall through to the header-only path ([[Multimodal.HeaderDecoder]]
  * already reads SOFn dimensions for ANY JPEG flavor).
  *
  * Oracle strategy (the reason decode can be proven BIT-EXACTLY despite JPEG
  * being lossy): an image whose 8x8 blocks are each constant at value
  * v = 128 + 2k has a DC-only DCT — F(0,0) = 8(v-128) = 16k, every AC ~ 0 —
  * and the luma quantizer's DC step is exactly 16 (Annex K, quality 50), so
  * quantization is lossless on these blocks: the decoded block is again
  * exactly v. The full machinery still runs for real — per-block DC deltas
  * exercise multi-length Huffman DC codes, every block emits a real EOB, the
  * bitstream is stuffed/unstuffed, chroma planes ride through the color
  * transform — but the end-to-end result is closed-form predictable, so the
  * DuckDB oracle can recompute the per-pixel checksum from doc_id alone
  * (q_multimodal_jpeg). The general AC path is locked by unit tests against
  * an independently-written reference pipeline (JpegSpec).
  */
object JpegCodec {

  // ---- spec tables (ITU T.81 Annex K) --------------------------------------

  /** zigzag scan order: zigzag index -> natural (row-major) index */
  private[llm] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** luminance quantization table (natural order) — Annex K table K.1,
    * i.e. "quality 50". QLuma(0) = 16 is the DC step the oracle's
    * even-offset exactness argument rests on. */
  private[llm] val QLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** chrominance quantization table (natural order) — Annex K table K.2 */
  private[llm] val QChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Huffman table spec: counts(i) = #codes of length i+1 (16 entries),
    * then the symbol values in code order (Annex K tables K.3-K.6). */
  private[llm] val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[llm] val DcLumaVals: Array[Int] = (0 to 11).toArray
  private[llm] val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private[llm] val DcChromaVals: Array[Int] = (0 to 11).toArray

  private[llm] val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private[llm] val AcLumaVals: Array[Int] = Array(
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
  private[llm] val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private[llm] val AcChromaVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** cos((2x+1) u pi / 16) — shared by the forward and inverse transforms
    * (it's the same basis; the directions differ in summation order). */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    math.cos((2 * x + 1) * u * math.Pi / 16)
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  // ---- canonical Huffman (C.2): codes assigned in value order, shortest
  // first, each length's first code = (prev first + prev count) << 1 --------

  /** encoder view: value -> (code, length); zero length = value absent */
  private[llm] def encTable(bits: Array[Int], vals: Array[Int]): Array[(Int, Int)] = {
    val t = Array.fill(256)((0, 0))
    var code = 0
    var k = 0
    for (len <- 1 to 16) {
      for (_ <- 0 until bits(len - 1)) {
        t(vals(k)) = (code, len)
        code += 1
        k += 1
      }
      code <<= 1
    }
    t
  }

  /** decoder view (F.2.2.3): per length, the first code value and an index
    * into vals — decode walks lengths accumulating bits. */
  private final class DecTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    private var code = 0
    private var k = 0
    for (len <- 1 to 16) {
      if (bits(len - 1) > 0) {
        valPtr(len) = k
        minCode(len) = code
        code += bits(len - 1)
        k += bits(len - 1)
        maxCode(len) = code - 1
      }
      code <<= 1
    }
    def value(len: Int, c: Int): Int = vals(valPtr(len) + (c - minCode(len)))
  }

  // ---- bit IO with JPEG byte stuffing --------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def write(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // stuffing: FF in data -> FF 00
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    /** pad the tail with 1-bits (F.1.2.3) and flush */
    def flush(): Unit = if (nbits > 0) write(0xff, 8 - nbits)
  }

  /** Entropy-segment bit reader: un-stuffs FF 00, stops at any real marker.
    * `hitMarker` flags the boundary so the MCU loop can verify RSTn. */
  private final class BitReader(p: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var hitMarker = false
    var truncated = false
    def readBit(): Int = {
      if (nbits == 0) {
        if (pos >= p.length) { truncated = true; return 0 }
        var b = p(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          if (pos >= p.length) { truncated = true; return 0 }
          val b2 = p(pos) & 0xff
          if (b2 == 0x00) pos += 1 // stuffed data byte
          else { hitMarker = true; pos -= 1; b = 0 } // real marker: stop
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** drop partial byte and consume an expected RSTn marker (E.2.4) */
    def consumeRestart(n: Int): Boolean = {
      acc = 0; nbits = 0; hitMarker = false
      if (pos + 2 > p.length || (p(pos) & 0xff) != 0xff ||
        (p(pos + 1) & 0xff) != (0xd0 + n)) return false
      pos += 2
      true
    }
    def decode(t: DecTable): Int = {
      var code = readBit()
      var len = 1
      while (code > t.maxCode(len) || t.maxCode(len) < 0) {
        len += 1
        if (len > 16 || truncated) return -1
        code = (code << 1) | readBit()
      }
      t.value(len, code)
    }
  }

  private lazy val EncDcTables =
    Array(encTable(DcLumaBits, DcLumaVals), encTable(DcChromaBits, DcChromaVals))
  private lazy val EncAcTables =
    Array(encTable(AcLumaBits, AcLumaVals), encTable(AcChromaBits, AcChromaVals))

  /** DC/AC magnitude category (F.1.2.1.1): bits needed for |v| */
  private def category(v: Int): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { n += 1; a >>= 1 }
    n
  }

  /** F.2.1.1: low-order `t` bits back to a signed value */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  // ---- encoder -------------------------------------------------------------

  /** Encode an 8-bit image as a complete baseline JPEG: real forward DCT,
    * Annex K quantizers and Huffman tables, stuffed entropy stream, optional
    * restart markers. `channels` 1 = grayscale (single-component scan) or
    * 3 = RGB input converted to YCbCr 4:4:4. Partial edge blocks are padded
    * by edge replication (the decoder crops, so padding never shows).
    * `px(x, y, c)` supplies channel c at (x, y), top-down. */
  def encode(w: Int, h: Int, channels: Int, px: (Int, Int, Int) => Int,
             restartInterval: Int = 0): Array[Byte] = {
    require(channels == 1 || channels == 3, s"grayscale/RGB only, got $channels")
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, body: Array[Byte]): Unit = {
      marker(m)
      out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
      out.write(body, 0, body.length)
    }
    marker(0xd8) // SOI
    // DQT: table 0 = luma, table 1 = chroma (zigzag order on the wire)
    def dqt(id: Int, q: Array[Int]) =
      Array(id.toByte) ++ ZigZag.map(n => q(n).toByte)
    seg(0xdb, dqt(0, QLuma))
    if (channels == 3) seg(0xdb, dqt(1, QChroma))
    // SOF0: 8-bit, all sampling factors 1x1 (4:4:4)
    val sofBody = new java.io.ByteArrayOutputStream()
    sofBody.write(8); sofBody.write(h >> 8); sofBody.write(h & 0xff)
    sofBody.write(w >> 8); sofBody.write(w & 0xff); sofBody.write(channels)
    for (c <- 0 until channels) {
      sofBody.write(c + 1); sofBody.write(0x11); sofBody.write(if (c == 0) 0 else 1)
    }
    seg(0xc0, sofBody.toByteArray)
    // DHT
    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]) =
      Array(((tc << 4) | th).toByte) ++ bits.map(_.toByte) ++ vals.map(_.toByte)
    seg(0xc4, dht(0, 0, DcLumaBits, DcLumaVals))
    seg(0xc4, dht(1, 0, AcLumaBits, AcLumaVals))
    if (channels == 3) {
      seg(0xc4, dht(0, 1, DcChromaBits, DcChromaVals))
      seg(0xc4, dht(1, 1, AcChromaBits, AcChromaVals))
    }
    if (restartInterval > 0)
      seg(0xdd, Array((restartInterval >> 8).toByte, (restartInterval & 0xff).toByte))
    // SOS
    val sos = new java.io.ByteArrayOutputStream()
    sos.write(channels)
    for (c <- 0 until channels) {
      sos.write(c + 1); sos.write(if (c == 0) 0x00 else 0x11)
    }
    sos.write(0); sos.write(63); sos.write(0) // Ss, Se, Ah/Al (baseline fixed)
    seg(0xda, sos.toByteArray)

    // component planes, padded to whole blocks by edge replication
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    def clamp255(v: Long): Int = math.max(0L, math.min(255L, v)).toInt
    def plane(c: Int): (Int, Int) => Int = {
      if (channels == 1) (x, y) => px(math.min(x, w - 1), math.min(y, h - 1), 0) & 0xff
      else (x, y) => {
        val xx = math.min(x, w - 1); val yy = math.min(y, h - 1)
        val r = px(xx, yy, 0) & 0xff; val g = px(xx, yy, 1) & 0xff; val b = px(xx, yy, 2) & 0xff
        c match {
          case 0 => clamp255(math.round(0.299 * r + 0.587 * g + 0.114 * b))
          case 1 => clamp255(math.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b))
          case _ => clamp255(math.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b))
        }
      }
    }
    val planes = (0 until channels).map(plane)
    val qFor = (c: Int) => if (c == 0) QLuma else QChroma
    // the Annex-K encoder Huffman tables are constants — built once per JVM
    // (EncDcTables/EncAcTables), not once per encode call; per-image table
    // construction was a measurable share of small-image encode cost
    val encDc = EncDcTables
    val encAc = EncAcTables

    val bits = new BitWriter(out)
    val lastDc = new Array[Int](channels)
    var mcu = 0
    var rst = 0
    val coef = new Array[Int](64)
    for (by <- 0 until bh; bx <- 0 until bw) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bits.flush()
        marker(0xd0 + rst) // RSTn, n cycles 0..7
        rst = (rst + 1) % 8
        java.util.Arrays.fill(lastDc, 0)
      }
      for (c <- 0 until channels) {
        val pl = planes(c)
        val q = qFor(c)
        // constant-block fast path: flat regions (backgrounds, padded
        // edges, synthetic fixtures) are DC-only analytically — F(0,0) =
        // 8*(v-128), every AC exactly 0 — so the 4096-multiply DCT reduces
        // to one division. Even offsets from 128 land off every rounding
        // boundary, so the shortcut is bit-identical to the general path
        // there (odd offsets sit ON a .5 boundary where either rounding is
        // a valid quantizer — the decoder sees whatever was written).
        val v00 = pl(bx * 8, by * 8)
        var flat = true
        var fy = 0
        while (flat && fy < 8) {
          var fx = 0
          while (flat && fx < 8) {
            if (pl(bx * 8 + fx, by * 8 + fy) != v00) flat = false
            fx += 1
          }
          fy += 1
        }
        if (flat) {
          java.util.Arrays.fill(coef, 0)
          coef(0) = math.round(8.0 * (v00 - 128) / q(0)).toInt
        } else {
          // forward DCT (A.3.3) of the level-shifted block, then quantize
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              var s = 0.0
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  s += (pl(bx * 8 + x, by * 8 + y) - 128) * Cos(v)(x) * Cos(u)(y)
                  x += 1
                }
                y += 1
              }
              val cu = if (u == 0) InvSqrt2 else 1.0
              val cv = if (v == 0) InvSqrt2 else 1.0
              val n = u * 8 + v
              coef(n) = math.round(0.25 * cu * cv * s / q(n)).toInt
              v += 1
            }
            u += 1
          }
        }
        val tsel = if (c == 0) 0 else 1
        // DC delta
        val diff = coef(0) - lastDc(c)
        lastDc(c) = coef(0)
        val dcat = category(diff)
        val (dcode, dlen) = encDc(tsel)(dcat)
        bits.write(dcode, dlen)
        if (dcat > 0)
          bits.write(if (diff < 0) diff + (1 << dcat) - 1 else diff, dcat)
        // AC run-length in zigzag order
        var run = 0
        var k = 1
        while (k < 64) {
          val a = coef(ZigZag(k))
          if (a == 0) run += 1
          else {
            while (run > 15) {
              val (zc, zl) = encAc(tsel)(0xf0); bits.write(zc, zl); run -= 16
            }
            val cat = category(a)
            val (acode, alen) = encAc(tsel)((run << 4) | cat)
            bits.write(acode, alen)
            bits.write(if (a < 0) a + (1 << cat) - 1 else a, cat)
            run = 0
          }
          k += 1
        }
        if (run > 0) { val (ec, el) = encAc(tsel)(0x00); bits.write(ec, el) } // EOB
      }
      mcu += 1
    }
    bits.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // ---- decoder -------------------------------------------------------------

  private val Soi = Array(0xff.toByte, 0xd8.toByte)

  /** Full baseline JPEG pixel decode: marker walk, canonical Huffman decode,
    * dequant, IDCT, YCbCr→RGB; the [[Decoded]] checksum is cropped to the
    * true image dims (block padding excluded). None (never throws) for
    * anything malformed, truncated, or outside the baseline 8-bit 4:4:4
    * scope. */
  def decodePixels(p: Array[Byte]): Option[Decoded] = {
    try decodeImpl(p)
    catch { case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None }
  }

  private def decodeImpl(p: Array[Byte]): Option[Decoded] = {
    if (p.length < 4 || p(0) != Soi(0) || p(1) != Soi(1)) return None
    var i = 2
    var w = 0; var h = 0; var ncomp = 0
    val qtabs = new Array[Array[Int]](4)
    val dcTabs = new Array[DecTable](4)
    val acTabs = new Array[DecTable](4)
    var compQ: Array[Int] = null
    var restartInterval = 0
    var sofSeen = false
    var scanAt = -1
    var compDcSel: Array[Int] = null
    var compAcSel: Array[Int] = null

    while (scanAt < 0) {
      // a marker (with optional FF fill bytes, B.1.1.2) must follow a segment
      if (i < p.length && (p(i) & 0xff) != 0xff) return None
      while (i < p.length && (p(i) & 0xff) == 0xff) i += 1
      if (i >= p.length) return None
      val m = p(i) & 0xff; i += 1
      m match {
        case 0xd9 => return None // EOI before any scan
        case 0x01 => () // TEM, standalone
        case n if n >= 0xd0 && n <= 0xd7 => () // stray RST, standalone
        case 0xc0 | 0xc1 => // baseline / extended-sequential Huffman SOF
          if (i + 2 > p.length) return None
          val len = be16(p, i)
          if (i + len > p.length || len < 8) return None
          val prec = p(i + 2) & 0xff
          h = be16(p, i + 3)
          w = be16(p, i + 5)
          ncomp = p(i + 7) & 0xff
          if (prec != 8 || (ncomp != 1 && ncomp != 3)) return None
          if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
          if (len != 8 + 3 * ncomp) return None
          compQ = new Array[Int](ncomp)
          for (c <- 0 until ncomp) {
            val samp = p(i + 9 + 3 * c) & 0xff
            if (samp != 0x11) return None // 4:4:4 only
            compQ(c) = p(i + 10 + 3 * c) & 0xff
            if (compQ(c) > 3) return None
          }
          sofSeen = true
          i += len
        case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return None // progressive / hierarchical / arithmetic: out of scope
        case 0xdb => // DQT (possibly several tables per segment)
          if (i + 2 > p.length) return None
          val len = be16(p, i)
          if (i + len > p.length) return None
          var j = i + 2
          while (j < i + len) {
            val pq = (p(j) & 0xff) >> 4
            val tq = p(j) & 0x0f
            if (pq != 0 || tq > 3 || j + 65 > i + len) return None // 8-bit only
            val q = new Array[Int](64)
            for (z <- 0 until 64) q(ZigZag(z)) = p(j + 1 + z) & 0xff
            if (q.exists(_ == 0)) return None
            qtabs(tq) = q
            j += 65
          }
          i += len
        case 0xc4 => // DHT (possibly several tables per segment)
          if (i + 2 > p.length) return None
          val len = be16(p, i)
          if (i + len > p.length) return None
          var j = i + 2
          while (j < i + len) {
            if (j + 17 > i + len) return None
            val tc = (p(j) & 0xff) >> 4
            val th = p(j) & 0x0f
            if (tc > 1 || th > 3) return None
            val bits = (0 until 16).map(k => p(j + 1 + k) & 0xff).toArray
            val n = bits.sum
            if (n > 256 || j + 17 + n > i + len) return None
            val vals = (0 until n).map(k => p(j + 17 + k) & 0xff).toArray
            val t = new DecTable(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            j += 17 + n
          }
          i += len
        case 0xdd => // DRI
          if (i + 4 > p.length) return None
          restartInterval = be16(p, i + 2)
          i += 4
        case 0xda => // SOS
          if (!sofSeen || i + 2 > p.length) return None
          val len = be16(p, i)
          if (i + len > p.length) return None
          val ns = p(i + 2) & 0xff
          if (ns != ncomp || len != 6 + 2 * ns) return None
          compDcSel = new Array[Int](ns)
          compAcSel = new Array[Int](ns)
          for (c <- 0 until ns) {
            compDcSel(c) = (p(i + 4 + 2 * c) & 0xff) >> 4
            compAcSel(c) = p(i + 4 + 2 * c) & 0x0f
          }
          // baseline spectral params fixed: Ss=0 Se=63 Ah=Al=0
          if ((p(i + 3 + 2 * ns) & 0xff) != 0 || (p(i + 4 + 2 * ns) & 0xff) != 63 ||
            (p(i + 5 + 2 * ns) & 0xff) != 0) return None
          scanAt = i + len
        case _ => // APPn / COM / anything else with a length: skip
          if (i + 2 > p.length) return None
          val len = be16(p, i)
          if (len < 2 || i + len > p.length) return None
          i += len
      }
    }
    for (c <- 0 until ncomp) {
      if (qtabs(compQ(c)) == null) return None
      if (dcTabs(compDcSel(c)) == null || acTabs(compAcSel(c)) == null) return None
    }

    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    val planes = Array.ofDim[Byte](ncomp, bw * 8 * bh * 8)
    val br = new BitReader(p, scanAt)
    val lastDc = new Array[Int](ncomp)
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    // nonzero-coefficient walk for the IDCT: indices in (u,v)-ascending order
    // with the cu·cv·f prefactor folded in. Bit-identical to the full 64-term
    // scan — same terms, same summation order, same multiply association
    // (((cu*cv)*f)*Cos)*Cos — but per-pixel cost drops from 64 probes to the
    // block's nonzero count (1 for flat blocks, typically ≪64 elsewhere).
    val nzIdx = new Array[Int](64)
    val nzG = new Array[Double](64)
    var mcu = 0
    var rst = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          if (!br.consumeRestart(rst)) return None
          rst = (rst + 1) % 8
          java.util.Arrays.fill(lastDc, 0)
        }
        var c = 0
        while (c < ncomp) {
          val q = qtabs(compQ(c))
          java.util.Arrays.fill(coef, 0)
          // DC
          val dcat = br.decode(dcTabs(compDcSel(c)))
          if (dcat < 0 || dcat > 11) return None
          lastDc(c) += extend(br.readBits(dcat), dcat)
          coef(0) = lastDc(c) * q(0)
          // AC
          var k = 1
          var eob = false
          while (k < 64 && !eob) {
            val sym = br.decode(acTabs(compAcSel(c)))
            if (sym < 0) return None
            val r = sym >> 4
            val s = sym & 0x0f
            if (s == 0) {
              if (r == 15) k += 16 // ZRL
              else eob = true
            } else {
              k += r
              if (k > 63) return None
              coef(ZigZag(k)) = extend(br.readBits(s), s) * q(ZigZag(k))
              k += 1
            }
          }
          if (br.truncated || br.hitMarker) return None
          // IDCT (A.3.3), nonzero-coefficient form (see nzIdx/nzG above)
          var nnz = 0
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              val f = coef(u * 8 + v)
              if (f != 0) {
                val cu = if (u == 0) InvSqrt2 else 1.0
                val cv = if (v == 0) InvSqrt2 else 1.0
                nzIdx(nnz) = u * 8 + v
                nzG(nnz) = cu * cv * f
                nnz += 1
              }
              v += 1
            }
            u += 1
          }
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              var s2 = 0.0
              var t2 = 0
              while (t2 < nnz) {
                val idx = nzIdx(t2)
                s2 += nzG(t2) * Cos(idx & 7)(x) * Cos(idx >> 3)(y)
                t2 += 1
              }
              block(y * 8 + x) =
                math.max(0L, math.min(255L, math.round(0.25 * s2) + 128)).toInt
              x += 1
            }
            y += 1
          }
          val pl = planes(c)
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              pl((by * 8 + yy) * bw * 8 + bx * 8 + xx) = block(yy * 8 + xx).toByte
              xx += 1
            }
            yy += 1
          }
          c += 1
        }
        mcu += 1
        bx += 1
      }
      by += 1
    }
    // after the last MCU the only valid continuation is (optional fill) EOI
    var e = br.pos
    while (e < p.length && (p(e) & 0xff) == 0xff &&
      e + 1 < p.length && (p(e + 1) & 0xff) == 0xff) e += 1
    if (e + 2 > p.length || (p(e) & 0xff) != 0xff || (p(e + 1) & 0xff) != 0xd9)
      return None

    val stride = bw * 8
    var cs = 0L
    var k2 = 0L
    val nOut = if (ncomp == 1) 1 else 3
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        k2 += 1
        if (ncomp == 1) cs += k2 * (planes(0)(y * stride + x) & 0xff)
        else {
          val yv = planes(0)(y * stride + x) & 0xff
          val cb = (planes(1)(y * stride + x) & 0xff) - 128
          val cr = (planes(2)(y * stride + x) & 0xff) - 128
          val r = math.max(0L, math.min(255L, math.round(yv + 1.402 * cr)))
          val g = math.max(0L, math.min(255L, math.round(yv - 0.344136 * cb - 0.714136 * cr)))
          val b = math.max(0L, math.min(255L, math.round(yv + 1.772 * cb)))
          cs += k2 * (r + 2 * g + 3 * b)
        }
        x += 1
      }
      y += 1
    }
    Some(Decoded(w, h, nOut, cs))
  }
}
