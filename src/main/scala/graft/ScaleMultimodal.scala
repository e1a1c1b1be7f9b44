package graft

import org.apache.spark.sql.Dataset

import graft.llm.{GifCodec, JpegCodec, Multimodal, WavCodec}
import graft.llm.Multimodal.{Decoded, MediaRow}

/** Off-toy scale proof for the multimodal codec tier: the oracle queries
  * prove CORRECTNESS on ~60k tiny images; this measures decode THROUGHPUT
  * on realistic payload sizes — `SCALE_MM_IMAGES` images per format at
  * 64x64 (PNG/GIF/JPEG) and one second of 16 kHz stereo PCM per WAV doc —
  * so the 100 TB question ("does a binary-column decode pass scale like a
  * scan, i.e. embarrassingly parallel with no shuffle?") has a measured
  * answer: rows/s, MB/s, and per-stage straggler for each codec.
  *
  * The corpus is generated distributed (encode inside mapPartitions — the
  * encoders are themselves part of the measurement surface, reported
  * separately), checkpointed, then each decode phase is a single
  * mapPartitions pass counted via a full-decode checksum aggregate, so
  * nothing is driver-side and no decode can be dead-code-eliminated.
  *
  * Record: metric `scale_multimodal` (merged by tools/scale_bench.py).
  */
object ScaleMultimodal {

  def main(args: Array[String]): Unit = {
    val nImages = sys.env.getOrElse("SCALE_MM_IMAGES", "100000").toInt
    val spark = Harness.session()
    import spark.implicits._
    val rec = new Harness.Recorder(spark)

    // --- corpora: 64x64 payloads with per-doc content, generated once ------
    val ids = spark.range(nImages).as[Long]
    def pixels(format: String, decode: Array[Byte] => Option[Decoded]): Dataset[MediaRow] => Dataset[Long] =
      ds => Multimodal.extractPixels(ds, format, decode)
        .map(m => { require(m.format == format); m.pix_checksum })
    val formats = Seq[(String, Long => Array[Byte], Dataset[MediaRow] => Dataset[Long])](
      ("png", d => Multimodal.PngCodec.encode(64, 64, 3,
          (x, y, c) => ((d + x * (c + 3) + y * (7 - c)) % 256).toInt,
          y => ((d + y) % 5).toInt),
        pixels("png", Multimodal.PngCodec.decodePixels)),
      ("gif", { val pal = Array.tabulate(64)(i => (i * 4, 255 - i * 4, (i * 37) % 256))
          d => GifCodec.encode(64, 64, pal,
            (x, y) => ((d + x * 3 + y * 5 + x * y) % 64).toInt, interlaced = d % 2 == 1) },
        pixels("gif", GifCodec.decodePixels)),
      ("jpeg", d => JpegCodec.encode(64, 64, 3, (x, y, c) => ((d + x * 7 + y * 13 + c * 41) % 256).toInt),
        pixels("jpeg", JpegCodec.decodePixels)),
      ("wav", d => WavCodec.encode(16000, 2, 16, 16000,
          (f, c) => (((d * 31 + f * 7 + c * 13) % 65536) - 32768).toInt),
        ds => Multimodal.extractAudio(ds).map(m => { require(m.format == "wav"); m.pcm_checksum })))

    // every corpus is encoded (one timed sample each) before any decode phase
    val corpora = formats.map { case (tag, enc, _) =>
      rec.phase(s"${tag}_gen", k = 1) {
        val ds = ids.map(d => MediaRow(d, enc(d))).localCheckpoint(true)
        (ds, ds.map(_.payload.length.toLong).reduce(_ + _))
      }
    }
    // --- decode phases: one mapPartitions pass each, checksum-reduced ------
    val records = formats.zip(corpora).map { case ((tag, _, decode), gen) =>
      val (ds, bytes) = gen.value
      val dec = rec.phase(s"${tag}_decode", same = identity)(decode(ds).reduce(_ + _))
      def mb(x: Double): Double = f"${x / 1e6}%.1f".toDouble
      tag -> Harness.obj("n" -> nImages, "mb" -> mb(bytes.toDouble), "gen_sec" -> gen.sec,
        "decode_sec" -> dec.sec, "rows_per_sec" -> (nImages / dec.sec).toLong,
        "mb_per_sec" -> mb(bytes / dec.sec), "straggler" -> dec.straggler, "checksum" -> dec.value)
    }
    Harness.emit("scale_multimodal", ("images_per_format" -> nImages) +: records :+
      ("phase_loads" -> rec.loads): _*)
    spark.stop()
  }
}
