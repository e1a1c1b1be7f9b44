package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

import ByteReader._

/** The one byte reader of the multimodal tier: unsigned and fixed-width
  * integer reads in either byte order, and the bounds check every container
  * walk makes before it trusts a length read from the payload. */
private[llm] object ByteReader {
  def u8(p: Array[Byte], i: Int): Int = p(i) & 0xff
  def be16(p: Array[Byte], i: Int): Int = (u8(p, i) << 8) | u8(p, i + 1)
  def le16(p: Array[Byte], i: Int): Int = (u8(p, i + 1) << 8) | u8(p, i)
  def be32(p: Array[Byte], i: Int): Int = (be16(p, i) << 16) | be16(p, i + 2)
  def le32(p: Array[Byte], i: Int): Int = (le16(p, i + 2) << 16) | le16(p, i)

  /** True when a chunk at offset `at` — `head` header bytes, then `len`
    * payload bytes — lies wholly inside `p`. Long arithmetic, so a hostile
    * length near `Int.MaxValue` cannot wrap negative past the check. */
  def fits(p: Array[Byte], at: Int, head: Int, len: Int): Boolean =
    len >= 0 && at.toLong + head + len <= p.length
}

/** The multimodal tier: media payloads ride as opaque `binary` columns
  * ([[MediaRow]]) and ONE extractor loop decodes them into typed rows that
  * downstream relational ops consume like any other table.
  *
  * One extractor: [[perRow]] is the tier's only `mapPartitions` pass. It
  * backs [[extractPixels]] (any image decoder, one [[PixelMeta]] row type),
  * [[extractAudio]] ([[AudioMeta]]) and [[extractMeta]] ([[MediaMeta]]).
  *
  * Five decoders, all pure JVM (no codec library; the published format
  * specs are the only input), each total — None on anything malformed,
  * truncated or out of scope, never an exception:
  *  - BMP: [[HeaderDecoder.decodePixels]], uncompressed 24-bpp BI_RGB;
  *  - PNG: [[PngCodec.decodePixels]], 8-bit RGB/RGBA non-interlaced (IDAT
  *    inflated by `java.util.zip.Inflater`, the five scanline filters);
  *  - GIF: [[GifCodec.decodePixels]], LZW + palette, first frame;
  *  - JPEG: [[JpegCodec.decodePixels]], baseline 8-bit 1- or 3-component
  *    4:4:4;
  *  - WAV: [[WavCodec.decode]], 8/16-bit PCM.
  * The four image decoders return one [[Decoded]]. [[HeaderDecoder.decode]]
  * reads container dimensions of any PNG/GIF/BMP/JPEG flavor without
  * touching pixels, and [[StubDecoder]] gives payloads with no container
  * magic (the testdata's text stand-ins) deterministic dimensions. The
  * container walks read multi-byte integers and check chunk bounds
  * through [[ByteReader]].
  */
object Multimodal {

  /** Input row: id + opaque payload (what an image/audio column looks like). */
  final case class MediaRow(id: Long, payload: Array[Byte])

  /** Extracted metadata: byte size, content digest, checksum, container
    * format (`png`/`gif`/`bmp`/`jpeg`/`unknown`), decoded dimensions. */
  final case class MediaMeta(id: Long, n_bytes: Int, digest: String,
                             checksum: Long, format: String, width: Int, height: Int)

  /** What each image decoder returns: dims, channel count, and the
    * order-sensitive checksum Σ k·Σ_c (c+1)·P_c over the 1-based top-down
    * row-major pixel index k and channel c in the decoded channel order
    * (B,G,R for BMP; R,G,B[,A] for PNG, GIF and RGB JPEG) — any stride,
    * row-order, filter or channel-order bug changes the value. */
  final case class Decoded(width: Int, height: Int, channels: Int, checksum: Long)

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Container-header parsing by direct byte slicing — the part of "decode"
    * that needs no codec, only the published file-format layouts:
    * PNG (ISO 15948 §5.3/§11.2.2), GIF87a/89a logical screen descriptor,
    * BMP BITMAPINFOHEADER, JPEG (ITU T.81) SOFn frame headers. */
  object HeaderDecoder {

    /** (format, width, height) when the payload opens with a recognized
      * container; None otherwise. Never throws on truncated/garbage input. */
    def decode(p: Array[Byte]): Option[(String, Int, Int)] = {
      if (p.length >= 24 && p.startsWith(PngSig) &&
          p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R') {
        // 8-byte signature, 4-byte chunk length, "IHDR", then width/height
        // as big-endian 32-bit at offsets 16/20
        Some(("png", be32(p, 16), be32(p, 20)))
      } else if (p.length >= 10 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
                 p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a') {
        // logical screen descriptor: little-endian 16-bit width/height at 6/8
        Some(("gif", le16(p, 6), le16(p, 8)))
      } else if (p.length >= 26 && p(0) == 'B' && p(1) == 'M') {
        // BITMAPINFOHEADER at offset 14: biWidth LE32 at 18, biHeight LE32
        // at 22 (negative = top-down row order; magnitude is the height)
        Some(("bmp", le32(p, 18), math.abs(le32(p, 22))))
      } else if (p.length >= 4 && u8(p, 0) == 0xff && u8(p, 1) == 0xd8) {
        decodeJpeg(p)
      } else None
    }

    /** PIXEL decode for the one container that needs no codec: uncompressed
      * 24-bpp BI_RGB BMP (the Windows DIB layout: pixel array at the
      * BITMAPFILEHEADER's bfOffBits, rows padded to 4-byte boundaries,
      * POSITIVE biHeight = bottom-up row order, channels stored B,G,R).
      * The [[Decoded]] checksum is Σ k·(B + 2·G + 3·R) over the LOGICAL
      * top-down pixel index k, so the bottom-up storage and the row padding
      * are both under test. None for anything that isn't a complete
      * uncompressed 24-bpp BMP. */
    def decodePixels(p: Array[Byte]): Option[Decoded] = {
      if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
      val off = le32(p, 10)
      val w = le32(p, 18)
      val hRaw = le32(p, 22)
      val bpp = le16(p, 28)
      val comp = le32(p, 30)
      // dimension bounds guard the Int arithmetic below: a hostile header
      // can claim w = 2^30 (3*w overflows to a negative stride, defeating
      // the size check) or hRaw = Int.MinValue (abs stays negative). Any
      // honest dimension is bounded by the payload size anyway — a 24-bpp
      // row needs 3 bytes per pixel — so reject first, never throw.
      if (bpp != 24 || comp != 0) return None
      if (w <= 0 || w > (p.length - 54) / 3) return None
      if (hRaw == 0 || hRaw == Int.MinValue) return None
      val h = math.abs(hRaw)
      val topDown = hRaw < 0
      val stride = (3 * w + 3) & ~3 // w <= len/3 keeps 3*w well inside Int
      if (off < 54 || off.toLong + stride.toLong * h > p.length) return None
      var cs = 0L
      var k = 0L
      var y = 0
      while (y < h) {
        val base = off + (if (topDown) y else h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val b = u8(p, base + 3 * x)
          val g = u8(p, base + 3 * x + 1)
          val r = u8(p, base + 3 * x + 2)
          k += 1
          cs += k * (b + 2L * g + 3L * r)
          x += 1
        }
        y += 1
      }
      Some(Decoded(w, h, 3, cs))
    }

    /** Walk JPEG marker segments to the first SOFn frame header (T.81
      * §B.2.2): height BE16 at segment offset +5, width at +7. SOF markers
      * are 0xC0-0xCF minus 0xC4 (DHT), 0xC8 (JPG), 0xCC (DAC). */
    private def decodeJpeg(p: Array[Byte]): Option[(String, Int, Int)] = {
      var i = 2
      while (i + 3 < p.length && u8(p, i) == 0xff) {
        val marker = u8(p, i + 1)
        if (marker == 0xff) { i += 1 } // fill byte
        else if (marker >= 0xd0 && marker <= 0xd9) { i += 2 } // standalone
        else {
          val len = be16(p, i + 2)
          if (len < 2) return None
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) {
            return if (i + 8 < p.length) Some(("jpeg", be16(p, i + 7), be16(p, i + 5)))
              else None
          }
          i += 2 + len
        }
      }
      None
    }
  }

  /** Real PNG pixel codec — no image library: PNG's IDAT is zlib DEFLATE and
    * `java.util.zip.{Inflater, Deflater, CRC32}` ship in the JVM, so the only
    * format-specific work is the published spec (ISO 15948): chunk layout
    * with CRC-32 (§5.3), scanline serialization (§7.2), and the five filter
    * types None/Sub/Up/Average/Paeth (§9.2). Scope: 8-bit truecolor
    * (colorType 2 = RGB, 6 = RGBA), non-interlaced — the dominant PNG shape
    * in a scraped corpus; palette/interlace/16-bit return None and fall
    * through to the header-only path. */
  object PngCodec {

    /** Paeth predictor (§9.4): closest of left/up/up-left to a+b-c, ties
      * broken left, up, up-left. */
    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    private def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val t = tpe.getBytes("US-ASCII")
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(t).put(data)
      val c = new java.util.zip.CRC32(); c.update(t); c.update(data)
      out.putInt(c.getValue.toInt)
      out.array()
    }

    /** Encode an 8-bit RGB(A) image as a complete PNG: IHDR/IDAT/IEND with
      * real CRCs, per-row scanline filters, zlib-deflated pixel stream.
      * `px(x, y, c)` supplies channel c of the pixel at (x, y) top-down;
      * `filterForRow` picks the filter type (0-4) per row so fixtures can
      * exercise every unfilter path in [[decodePixels]]. */
    def encode(w: Int, h: Int, channels: Int, px: (Int, Int, Int) => Int,
               filterForRow: Int => Int = _ => 0): Array[Byte] = {
      require(channels == 3 || channels == 4, s"RGB/RGBA only, got $channels channels")
      require(w > 0 && h > 0, s"bad dims ${w}x$h")
      val rowLen = w * channels
      val raw = new Array[Byte]((1 + rowLen) * h)
      val cur = new Array[Int](rowLen)
      val prior = new Array[Int](rowLen)
      var y = 0
      while (y < h) {
        var i = 0
        while (i < rowLen) { cur(i) = px(i / channels, y, i % channels) & 0xff; i += 1 }
        val ft = math.floorMod(filterForRow(y), 5)
        val ro = y * (1 + rowLen)
        raw(ro) = ft.toByte
        i = 0
        while (i < rowLen) {
          val a = if (i >= channels) cur(i - channels) else 0
          val b = if (y > 0) prior(i) else 0
          val c = if (y > 0 && i >= channels) prior(i - channels) else 0
          val v = ft match {
            case 0 => cur(i)
            case 1 => cur(i) - a
            case 2 => cur(i) - b
            case 3 => cur(i) - (a + b) / 2
            case _ => cur(i) - paeth(a, b, c)
          }
          raw(ro + 1 + i) = (v & 0xff).toByte
          i += 1
        }
        Array.copy(cur, 0, prior, 0, rowLen)
        y += 1
      }
      val defl = new java.util.zip.Deflater()
      val zipped = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
      try {
        defl.setInput(raw); defl.finish()
        val buf = new Array[Byte](8192)
        while (!defl.finished()) zipped.write(buf, 0, defl.deflate(buf))
      } finally defl.end()
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(8.toByte)
        .put((if (channels == 3) 2 else 6).toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      PngSig ++ chunk("IHDR", ihdr.array()) ++ chunk("IDAT", zipped.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }

    /** Full PNG pixel decode: chunk walk with CRC-32 verification, zlib
      * inflate of the concatenated IDAT stream, per-row unfilter of all five
      * filter types. None (never throws) for anything malformed, truncated,
      * checksum-corrupt, or outside the 8-bit RGB/RGBA non-interlaced scope. */
    def decodePixels(p: Array[Byte]): Option[Decoded] = {
      if (p.length < 45 || !p.startsWith(PngSig)) return None
      var i = 8
      var w = 0; var h = 0; var channels = 0; var seenIhdr = false
      val idat = new java.io.ByteArrayOutputStream()
      var end = false
      while (!end && i + 12 <= p.length) {
        val len = be32(p, i)
        if (!fits(p, i, 12, len)) return None
        val crc = new java.util.zip.CRC32(); crc.update(p, i + 4, 4 + len)
        if (crc.getValue.toInt != be32(p, i + 8 + len)) return None
        new String(p, i + 4, 4, "US-ASCII") match {
          case "IHDR" =>
            if (len != 13 || seenIhdr) return None
            w = be32(p, i + 8); h = be32(p, i + 12)
            val (depth, color) = (u8(p, i + 16), u8(p, i + 17))
            val (comp, filt, inter) = (u8(p, i + 18), u8(p, i + 19), u8(p, i + 20))
            if (depth != 8 || (color != 2 && color != 6) ||
                comp != 0 || filt != 0 || inter != 0) return None
            // size guard: a hostile header must not provision gigabytes
            if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
            channels = if (color == 2) 3 else 4
            seenIhdr = true
          case "IDAT" => if (!seenIhdr) return None else idat.write(p, i + 8, len)
          case "IEND" => end = true
          case _      => () // ancillary chunks skipped
        }
        i += 12 + len
      }
      if (!seenIhdr || !end || idat.size == 0) return None
      val rowLen = w * channels
      val raw = new Array[Byte]((1 + rowLen) * h)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var off = 0
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          if (n == 0 && inf.needsInput()) return None // truncated stream
          off += n
        }
        if (off != raw.length) return None
        // drive the inflater over the zlib trailer so the Adler-32 is
        // actually verified (DataFormatException -> None), and reject
        // streams carrying MORE pixel data than the header promised
        if (!inf.finished() && inf.inflate(new Array[Byte](1)) != 0) return None
        if (!inf.finished()) return None
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      // unfilter in place, top-down — each row's predictors read the
      // already-reconstructed bytes of this and the prior row
      val stride = 1 + rowLen
      var y = 0
      while (y < h) {
        val ro = y * stride
        val ft = u8(raw, ro)
        if (ft > 4) return None
        var j = 0
        while (j < rowLen) {
          val x = u8(raw, ro + 1 + j)
          val a = if (j >= channels) u8(raw, ro + 1 + j - channels) else 0
          val b = if (y > 0) u8(raw, ro + 1 + j - stride) else 0
          val c = if (y > 0 && j >= channels) u8(raw, ro + 1 + j - channels - stride) else 0
          val v = ft match {
            case 0 => x
            case 1 => x + a
            case 2 => x + b
            case 3 => x + (a + b) / 2
            case _ => x + paeth(a, b, c)
          }
          raw(ro + 1 + j) = (v & 0xff).toByte
          j += 1
        }
        y += 1
      }
      var cs = 0L
      var k = 0L
      y = 0
      while (y < h) {
        val ro = y * stride
        var x = 0
        while (x < w) {
          k += 1
          var c = 0
          while (c < channels) {
            cs += k * (c + 1).toLong * u8(raw, ro + 1 + x * channels + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Some(Decoded(w, h, channels, cs))
    }
  }

  /** One decoded image row of [[extractPixels]]: `format` names the codec
    * on a successful decode, `unknown` otherwise (zero dims, checksum -1). */
  final case class PixelMeta(id: Long, format: String, width: Int, height: Int,
                             channels: Int, pix_checksum: Long)

  /** One decoded audio row of [[extractAudio]] ([[WavCodec.decode]]):
    * `format` is `wav` on success, `unknown` otherwise (checksum -1). */
  final case class AudioMeta(id: Long, format: String, sample_rate: Int,
                             channels: Int, bits: Int, frames: Long,
                             pcm_checksum: Long)

  /** The tier's one decode loop: `f` runs over each partition's rows in a
    * single `mapPartitions` pass — bytes in, typed rows out, no driver
    * collect. */
  private def perRow[T: Encoder](rows: Dataset[MediaRow])(f: MediaRow => T): Dataset[T] =
    rows.mapPartitions(_.map(f))

  /** Distributed pixel extraction through one image decoder
    * ([[HeaderDecoder.decodePixels]], [[PngCodec.decodePixels]],
    * [[GifCodec.decodePixels]], [[JpegCodec.decodePixels]]): a decoded row
    * is tagged `format`, a rejected one `unknown`. */
  def extractPixels(rows: Dataset[MediaRow], format: String,
                    decode: Array[Byte] => Option[Decoded]): Dataset[PixelMeta] = {
    import rows.sparkSession.implicits._
    perRow(rows) { r =>
      decode(r.payload) match {
        case Some(d) => PixelMeta(r.id, format, d.width, d.height, d.channels, d.checksum)
        case None    => PixelMeta(r.id, "unknown", 0, 0, 0, -1L)
      }
    }
  }

  /** Distributed PCM audio extraction: chunk walk + sample checksum per
    * payload through the same loop as the images. */
  def extractAudio(rows: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import rows.sparkSession.implicits._
    perRow(rows) { r =>
      WavCodec.decode(r.payload) match {
        case Some(d) =>
          AudioMeta(r.id, "wav", d.sampleRate, d.channels, d.bits, d.frames, d.checksum)
        case None => AudioMeta(r.id, "unknown", 0, 0, 0, 0L, -1L)
      }
    }
  }

  /** The clearly-marked PIXEL-decode stand-in for payloads with no known
    * container magic (the testdata's text payloads): derives dimensions
    * deterministically from size/checksum so the plumbing stays
    * oracle-verifiable. */
  object StubDecoder {
    def decode(payload: Array[Byte]): (Int, Int) = {
      val checksum = byteSum997(payload)
      val width = 64 + (checksum % 576L).toInt
      val height = 64 + (payload.length % 416)
      (width, height)
    }
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  private def md5Hex(bytes: Array[Byte]): String = {
    // per-row hot path (one digest per payload): thread-local digest reuse +
    // table-driven hex, identical output to the per-byte format form
    val d = md5Digest.get().digest(bytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) & 0xf0) >>> 4)
      out(2 * i + 1) = hexChars(d(i) & 0x0f)
      i += 1
    }
    new String(out)
  }

  private def byteSum997(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc += bytes(i) & 0xff; i += 1 }
    acc % 997L
  }

  /** Distributed metadata extraction: byte size, MD5 digest, byte checksum,
    * and the real header parse, with stub dimensions only for unrecognized
    * payloads. */
  def extractMeta(rows: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import rows.sparkSession.implicits._
    perRow(rows) { r =>
      val (fmt, w, h) = HeaderDecoder.decode(r.payload).getOrElse {
        val (sw, sh) = StubDecoder.decode(r.payload)
        ("unknown", sw, sh)
      }
      MediaMeta(r.id, r.payload.length, md5Hex(r.payload), byteSum997(r.payload), fmt, w, h)
    }
  }

  /** Wrap a string column as a binary media payload (the testdata has no real
    * media blobs; UTF-8 text bytes stand in — the plumbing is identical). */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("id"),
      col(payloadCol).cast("binary").as("payload")).as[MediaRow]
  }
}
