package graft.llm

import ByteReader.{fits, le16, le32, u8}

/** WAV/PCM audio codec — the audio twin of the image pixel walkers, and the
  * simplest honest decode in the whole multimodal family: RIFF is a length-
  * prefixed chunk container and PCM samples are just little-endian integers,
  * so "decode" is chunk walking + sign handling, bit-exact by construction.
  * Audio payloads ride the same opaque-binary column + `mapPartitions`
  * plumbing as images; this gives the corpus an audio modality whose
  * metadata (rate, channels, duration) and content digest (an
  * order-sensitive sample checksum) are oracle-checkable in closed form.
  *
  * Scope: RIFF/WAVE, PCM format 1, 8-bit unsigned or 16-bit signed LE,
  * any channel count, unknown chunks (LIST, fact, ...) skipped
  * structurally. Float PCM (format 3) and compressed formats return None.
  */
object WavCodec {

  /** Decoded stream: format params + frame count + the order-sensitive
    * checksum Σ frame·(c+1)·s over 1-based frame index and 0-based channel
    * c — 16-bit samples contribute SIGNED values, 8-bit their unsigned
    * byte, so byte-order, interleave, and sign bugs all change the value. */
  final case class Decoded(sampleRate: Int, channels: Int, bits: Int,
                           frames: Long, checksum: Long)

  /** Encode interleaved PCM: `sample(frame, channel)` in the signed 16-bit
    * range for bits=16, 0..255 for bits=8. */
  def encode(sampleRate: Int, channels: Int, bits: Int, frames: Int,
             sample: (Int, Int) => Int): Array[Byte] = {
    require(bits == 8 || bits == 16, s"PCM 8/16 only, got $bits")
    require(channels > 0 && frames >= 0 && sampleRate > 0, "bad params")
    val bytesPer = bits / 8
    val dataLen = frames * channels * bytesPer
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * bytesPer)
      .putShort((channels * bytesPer).toShort).putShort(bits.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var f = 0
    while (f < frames) {
      var c = 0
      while (c < channels) {
        val s = sample(f, c)
        if (bits == 16) buf.putShort(s.toShort) else buf.put((s & 0xff).toByte)
        c += 1
      }
      f += 1
    }
    buf.array()
  }

  /** Chunk-walking PCM decode; None for anything malformed, truncated,
    * or non-PCM. Never throws. */
  def decode(p: Array[Byte]): Option[Decoded] = {
    if (p.length < 44) return None
    if (new String(p, 0, 4, "US-ASCII") != "RIFF" ||
      new String(p, 8, 4, "US-ASCII") != "WAVE") return None
    var i = 12
    var rate = 0; var channels = 0; var bits = 0
    var fmtSeen = false
    while (i + 8 <= p.length) {
      val cid = new String(p, i, 4, "US-ASCII")
      val len = le32(p, i + 4)
      if (!fits(p, i, 8, len)) return None
      cid match {
        case "fmt " =>
          if (len < 16) return None
          val audioFormat = le16(p, i + 8)
          channels = le16(p, i + 10)
          rate = le32(p, i + 12)
          bits = le16(p, i + 22)
          if (audioFormat != 1 || (bits != 8 && bits != 16) ||
            channels <= 0 || channels > 64 || rate <= 0) return None
          fmtSeen = true
        case "data" =>
          if (!fmtSeen) return None
          val bytesPer = bits / 8
          val frameBytes = channels * bytesPer
          if (len % frameBytes != 0) return None
          val frames = len / frameBytes
          var cs = 0L
          var f = 0
          var off = i + 8
          while (f < frames) {
            var c = 0
            while (c < channels) {
              val s =
                if (bits == 16) le16(p, off).toShort.toInt // signed
                else u8(p, off) // 8-bit WAV is unsigned
              cs += (f + 1).toLong * (c + 1) * s
              off += bytesPer
              c += 1
            }
            f += 1
          }
          return Some(Decoded(rate, channels, bits, frames.toLong, cs))
        case _ => () // LIST / fact / cue / anything else: skip
      }
      i += 8 + len + (len & 1) // chunks are word-aligned (padding byte)
    }
    None // no data chunk
  }
}
