package graft.llm

import ByteReader.{le16, u8}
import Multimodal.Decoded

/** GIF pixel codec with no codec library — GIF's only compression is LZW
  * (GIF89a spec, appendix F), which is dictionary arithmetic the JVM needs
  * no help with, and unlike JPEG it is LOSSLESS: a round-trip is bit-exact
  * for every image, so the oracle needs no special input family — any
  * palette-indexed image decodes to exactly the pixels that went in
  * (q_multimodal_gif recomputes the checksum in closed form).
  *
  * Scope: GIF87a/GIF89a, global or local color table, interlaced or
  * sequential row order, extensions skipped structurally (a graphic-control
  * block changes rendering, not pixel indices), FIRST image frame only
  * (the reference data model treats media as single images; animation
  * frames after the first are ignored, not mis-decoded). Anything
  * malformed — bad LZW code stream, truncated sub-blocks, missing color
  * table, out-of-range palette index — returns None, never throws.
  */
object GifCodec {

  // ---- encoder -------------------------------------------------------------

  /** Real LZW compression (hash-dictionary, growing code widths, CLEAR at
    * dictionary capacity) — not the literal-codes-only shortcut, so
    * round-trip tests exercise the decoder's dictionary growth, width
    * bumps, and post-clear resync for real. */
  private def lzwEncode(minCodeSize: Int, data: Array[Byte]): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    var width = minCodeSize + 1
    def put(code: Int): Unit = {
      acc |= code.toLong << nbits // GIF packs codes little-endian
      nbits += width
      while (nbits >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
    }
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var next = eoi + 1
    put(clear)
    var prev = -1
    for (b <- data) {
      val s = b & 0xff
      if (prev < 0) prev = s
      else dict.get((prev, s)) match {
        case Some(code) => prev = code
        case None =>
          put(prev)
          dict((prev, s)) = next
          next += 1
          // width grows when the NEXT code to assign would not fit
          if (next == (1 << width) + 1 && width < 12) width += 1
          if (next >= 4096) { // dictionary full: reset
            put(clear)
            dict = scala.collection.mutable.HashMap.empty
            next = eoi + 1
            width = minCodeSize + 1
          }
          prev = s
      }
    }
    if (prev >= 0) put(prev)
    put(eoi)
    if (nbits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  /** interlace pass row order (GIF89a §20): pass starts 0,4,2,1 / steps 8,8,4,2 */
  private val InterlaceStarts = Array(0, 4, 2, 1)
  private val InterlaceSteps = Array(8, 8, 4, 2)

  /** Encode a palette-indexed image as a complete GIF89a: logical screen +
    * global color table + image descriptor + real LZW-compressed index
    * stream in 255-byte sub-blocks. `palette` is up to 256 RGB triples
    * (padded to a power of two); `idx(x, y)` supplies the palette index,
    * top-down. `interlaced` writes the four-pass row order. */
  def encode(w: Int, h: Int, palette: Array[(Int, Int, Int)],
             idx: (Int, Int) => Int, interlaced: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    require(palette.nonEmpty && palette.length <= 256, s"bad palette ${palette.length}")
    var bits = 1 // color table size is a power of two, min 2 entries
    while ((1 << bits) < palette.length) bits += 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(w); le16(h)
    out.write(0x80 | ((bits - 1) << 4) | (bits - 1)) // GCT present, size bits
    out.write(0); out.write(0) // background index, aspect
    for (i <- 0 until (1 << bits)) {
      val (r, g, b) = if (i < palette.length) palette(i) else (0, 0, 0)
      out.write(r & 0xff); out.write(g & 0xff); out.write(b & 0xff)
    }
    // a graphic-control extension, so decoders must handle extension skip
    out.write(0x21); out.write(0xf9); out.write(4)
    out.write(0); le16(0); out.write(0); out.write(0)
    out.write(0x2c) // image descriptor
    le16(0); le16(0); le16(w); le16(h)
    out.write(if (interlaced) 0x40 else 0x00) // no LCT
    val rows =
      if (!interlaced) (0 until h).toArray
      else InterlaceStarts.indices.flatMap(p =>
        InterlaceStarts(p) until h by InterlaceSteps(p)).toArray
    val data = new Array[Byte](w * h)
    var n = 0
    for (y <- rows; x <- 0 until w) {
      val v = idx(x, y)
      require(v >= 0 && v < palette.length, s"index $v out of palette at ($x,$y)")
      data(n) = v.toByte
      n += 1
    }
    val minCode = math.max(2, bits) // spec: LZW min code size >= 2
    out.write(minCode)
    val lzw = lzwEncode(minCode, data)
    var off = 0
    while (off < lzw.length) {
      val len = math.min(255, lzw.length - off)
      out.write(len)
      out.write(lzw, off, len)
      off += len
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  // ---- decoder -------------------------------------------------------------

  /** Full GIF pixel decode of the first image frame: LZW decompression
    * (growing widths, KwKwK case, CLEAR resync), palette mapping,
    * de-interlacing — the [[Decoded]] checksum is over PRESENTATION row
    * order, 3 RGB channels. None for anything malformed or truncated. */
  def decodePixels(p: Array[Byte]): Option[Decoded] = {
    try decodeImpl(p)
    catch { case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None }
  }

  private def decodeImpl(p: Array[Byte]): Option[Decoded] = {
    if (p.length < 14) return None
    val sig = new String(p, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val sw = le16(p, 6)
    val sh = le16(p, 8)
    val packed = u8(p, 10)
    var i = 13
    var gct: Array[Int] = null // packed RGB
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 7) + 1)
      if (i + 3 * n > p.length) return None
      gct = Array.tabulate(n)(k =>
        (u8(p, i + 3 * k) << 16) | (u8(p, i + 3 * k + 1) << 8) | u8(p, i + 3 * k + 2))
      i += 3 * n
    }
    // block walk to the first image descriptor
    while (true) {
      if (i >= p.length) return None
      u8(p, i) match {
        case 0x3b => return None // trailer before any image
        case 0x21 => // extension: label + sub-blocks
          i += 2
          if (i >= p.length) return None
          while (u8(p, i) != 0) {
            i += 1 + u8(p, i)
            if (i >= p.length) return None
          }
          i += 1
        case 0x2c =>
          return decodeImage(p, i + 1, sw, sh, gct)
        case _ => return None
      }
    }
    None
  }

  private def decodeImage(p: Array[Byte], start: Int, sw: Int, sh: Int,
                          gct: Array[Int]): Option[Decoded] = {
    var i = start
    if (i + 9 > p.length) return None
    val left = le16(p, i); val top = le16(p, i + 2)
    val w = le16(p, i + 4); val h = le16(p, i + 6)
    val ipacked = u8(p, i + 8)
    i += 9
    // single-frame model: the frame must BE the logical screen
    if (w <= 0 || h <= 0 || left != 0 || top != 0 || w != sw || h != sh) return None
    if (w.toLong * h > (1L << 26)) return None
    val interlaced = (ipacked & 0x40) != 0
    var pal = gct
    if ((ipacked & 0x80) != 0) { // local color table wins
      val n = 1 << ((ipacked & 7) + 1)
      if (i + 3 * n > p.length) return None
      pal = Array.tabulate(n)(k =>
        (u8(p, i + 3 * k) << 16) | (u8(p, i + 3 * k + 1) << 8) | u8(p, i + 3 * k + 2))
      i += 3 * n
    }
    if (pal == null) return None
    if (i >= p.length) return None
    val minCode = u8(p, i)
    i += 1
    if (minCode < 2 || minCode > 11) return None
    // concatenate the sub-blocks
    val lzw = new java.io.ByteArrayOutputStream()
    while (u8(p, i) != 0) {
      val len = u8(p, i)
      if (i + 1 + len > p.length) return None
      lzw.write(p, i + 1, len)
      i += 1 + len
      if (i >= p.length) return None
    }
    i += 1
    // more frames / extensions may follow (ignored by the single-frame
    // model) — but SOMETHING must: a stream ending at the data is truncated
    if (i >= p.length) return None

    // LZW decode (GIF89a appendix F): little-endian packing, dict entries
    // appended per code, widths grow at capacity, CLEAR resets
    val clear = 1 << minCode
    val eoi = clear + 1
    val data = lzw.toByteArray
    val npx = w * h
    val out = new Array[Byte](npx)
    var nout = 0
    // dictionary as (prefix code, appended byte); roots are implicit
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    val firstByte = new Array[Byte](4096) // first byte of each sequence
    var next = eoi + 1
    var width = minCode + 1
    var acc = 0L
    var nbits = 0
    var pos = 0
    var prev = -1
    def emit(code: Int): Boolean = { // write sequence for `code`; false = overflow
      // expand by walking the prefix chain (bounded: chains only shrink
      // toward roots, max 4096)
      var stack = List.empty[Byte]
      var c = code
      while (c >= clear) { // non-root
        stack = append(c) :: stack
        c = prefix(c)
      }
      stack = c.toByte :: stack
      for (b <- stack) {
        if (nout >= npx) return false
        out(nout) = b
        nout += 1
      }
      true
    }
    var done = false
    while (!done) {
      while (nbits < width && pos < data.length) {
        acc |= (data(pos) & 0xffL) << nbits
        nbits += 8
        pos += 1
      }
      if (nbits < width) return None // ran out of bits before EOI
      val code = (acc & ((1L << width) - 1)).toInt
      acc >>= width
      nbits -= width
      if (code == clear) {
        next = eoi + 1
        width = minCode + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else if (code < clear) { // root
        firstByte(code) = code.toByte
        if (!emit(code)) return None
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; append(next) = code.toByte
          firstByte(next) = firstByte(prev)
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      } else if (code < next) { // known sequence
        if (!emit(code)) return None
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; append(next) = firstByte(code)
          firstByte(next) = firstByte(prev)
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      } else if (code == next && prev >= 0 && next < 4096) { // KwKwK
        prefix(next) = prev; append(next) = firstByte(prev)
        firstByte(next) = firstByte(prev)
        next += 1
        if (!emit(code)) return None // the just-created entry
        if (next == (1 << width) && width < 12) width += 1
        prev = code
      } else return None // code beyond dictionary: corrupt
    }
    if (nout != npx) return None

    // palette map + de-interlace + checksum in presentation order
    val rowOf: Int => Int =
      if (!interlaced) identity
      else {
        val order = InterlaceStarts.indices.flatMap(pp =>
          InterlaceStarts(pp) until h by InterlaceSteps(pp)).toArray
        val inv = new Array[Int](h)
        for (k <- order.indices) inv(order(k)) = k // stored row k shows at order(k)
        y => inv(y) // presentation row y was stored at position inv(y)
      }
    var cs = 0L
    var k = 0L
    var y = 0
    while (y < h) {
      val srcRow = rowOf(y)
      var x = 0
      while (x < w) {
        k += 1
        val v = out(srcRow * w + x) & 0xff
        if (v >= pal.length) return None
        val rgb = pal(v)
        cs += k * (((rgb >> 16) & 0xff) + 2 * ((rgb >> 8) & 0xff) + 3 * (rgb & 0xff))
        x += 1
      }
      y += 1
    }
    Some(Decoded(w, h, 3, cs))
  }
}
