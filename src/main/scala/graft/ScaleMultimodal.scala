package graft

import graft.Harness.bestOf
import graft.llm.{GifCodec, JpegCodec, Multimodal, WavCodec}

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
    val ledger = new Harness.Ledger(spark)

    val phaseLoads = scala.collection.mutable.LinkedHashMap[String, Double]()
    def best(tag: String)(body: => Long): (Long, Double, Double) = {
      val runs = bestOf(tag, ledger)(body)
      require(runs.map(_.value).distinct.size == 1,
        s"$tag checksum varies across samples: ${runs.map(_.value)}")
      phaseLoads(tag) = runs.head.load
      (runs.head.value, runs.head.sec, runs.head.straggler)
    }

    // --- corpora: 64x64 payloads with per-doc content, generated once ------
    val ids = spark.range(nImages).as[Long]

    def gen(tag: String, enc: Long => Array[Byte]) = {
      val t = System.nanoTime()
      val ds = ids.map(d => Multimodal.MediaRow(d, enc(d))).localCheckpoint(true)
      val bytes = ds.map(_.payload.length.toLong).reduce(_ + _)
      val sec = (System.nanoTime() - t) / 1e9
      System.err.println(f"[scale_mm] gen $tag: ${bytes / 1e6}%.1f MB in $sec%.1fs")
      (ds, bytes, sec)
    }

    val (pngDs, pngBytes, pngGenSec) = gen("png", d =>
      graft.llm.Multimodal.PngCodec.encode(64, 64, 3,
        (x, y, c) => ((d + x * (c + 3) + y * (7 - c)) % 256).toInt,
        y => ((d + y) % 5).toInt))
    val (gifDs, gifBytes, gifGenSec) = {
      val pal = Array.tabulate(64)(i => (i * 4, 255 - i * 4, (i * 37) % 256))
      gen("gif", d => GifCodec.encode(64, 64, pal,
        (x, y) => ((d + x * 3 + y * 5 + x * y) % 64).toInt, interlaced = d % 2 == 1))
    }
    val (jpgDs, jpgBytes, jpgGenSec) = gen("jpeg", d =>
      JpegCodec.encode(64, 64, 3, (x, y, c) => ((d + x * 7 + y * 13 + c * 41) % 256).toInt))
    val (wavDs, wavBytes, wavGenSec) = gen("wav", d =>
      WavCodec.encode(16000, 2, 16, 16000,
        (f, c) => (((d * 31 + f * 7 + c * 13) % 65536) - 32768).toInt))

    // --- decode phases: one mapPartitions pass each, checksum-reduced ------
    val (pngCs, pngSec, pngStr) = best("png_decode") {
      Multimodal.extractPngPixels(pngDs)
        .map(m => { require(m.format == "png"); m.pix_checksum })
        .reduce(_ + _)
    }
    val (gifCs, gifSec, gifStr) = best("gif_decode") {
      Multimodal.extractGifPixels(gifDs)
        .map(m => { require(m.format == "gif"); m.pix_checksum })
        .reduce(_ + _)
    }
    val (jpgCs, jpgSec, jpgStr) = best("jpeg_decode") {
      Multimodal.extractJpegPixels(jpgDs)
        .map(m => { require(m.format == "jpeg"); m.pix_checksum })
        .reduce(_ + _)
    }
    val (wavCs, wavSec, wavStr) = best("wav_decode") {
      Multimodal.extractAudio(wavDs)
        .map(m => { require(m.format == "wav"); m.pcm_checksum })
        .reduce(_ + _)
    }

    def phase(tag: String, n: Int, bytes: Long, genSec: Double, sec: Double,
              str: Double, cs: Long) =
      f""""$tag":{"n":$n,"mb":${bytes / 1e6}%.1f,"gen_sec":$genSec,""" +
        f""""decode_sec":$sec,"rows_per_sec":${(n / sec).toLong},""" +
        f""""mb_per_sec":${bytes / 1e6 / sec}%.1f,"straggler":$str,"checksum":$cs}"""
    val loadsJson = phaseLoads.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_multimodal","images_per_format":$nImages,""" +
      phase("png", nImages, pngBytes, pngGenSec, pngSec, pngStr, pngCs) + "," +
      phase("gif", nImages, gifBytes, gifGenSec, gifSec, gifStr, gifCs) + "," +
      phase("jpeg", nImages, jpgBytes, jpgGenSec, jpgSec, jpgStr, jpgCs) + "," +
      phase("wav", nImages, wavBytes, wavGenSec, wavSec, wavStr, wavCs) + "," +
      s""""phase_loads":$loadsJson}""")
    spark.stop()
  }
}
