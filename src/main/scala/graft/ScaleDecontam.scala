package graft

import org.apache.spark.sql.functions._

/** Off-toy scale proof for the decontamination family: does the Bloom gate
  * actually deliver its claimed shuffle reduction when the training corpus is
  * 1M+ documents and the benchmark is small?
  *
  * Workload: [[ScaleCorpus]] replicas of the sf documents table (copy 0
  * original, 1-in-10 copies a one-token mutant, the rest digest-perturbed) —
  * the benchmark is the ORIGINAL text of the first `SCALE_BENCH_DOCS` base
  * documents, so contamination is real (every benchmark doc has `copies`-1
  * siblings in training sharing most of its grams) but rare (the other base
  * documents' copies dominate the posting stream), mirroring the TB-corpus /
  * MB-benchmark shape of production decontamination.
  *
  * Measured:
  *  - `train_postings` / `gated_postings` — training gram postings total vs
  *    surviving the narrow `bloom_contains` prefilter: `postings_pruned_frac`
  *    is THE claim under test (TextAnalysis.contaminationFlags docs say
  *    "for a benchmark measured in MB against a corpus measured in TB that is
  *    a >99% shuffle reduction");
  *  - `bloom_sec` — the production operator ([[graft.llm.TextAnalysis.contaminationFlags]],
  *    Bloom-gated equi-join) end to end;
  *  - `nogate_sec` — the identical exact equi-join WITHOUT the gate, so the
  *    delta is exactly what the pruned postings buy;
  *  - `outputs_equal` — both paths' flagged sets compared (Bloom false
  *    positives are discarded by the confirming join, so they must match);
  *  - per-phase straggler ratio and 1-min loadavg, min-of-K per phase — the
  *    same measurement discipline as [[ScaleAnn]].
  */
object ScaleDecontam {

  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SCALE_COPIES", "250").toInt
    val benchBases = sys.env.getOrElse("SCALE_BENCH_DOCS", "250").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // n = 8: the production gram width (GPT-3 appendix C uses 13-grams, the
    // Pile 13, CCNet-family 8+) — short grams over-flag, and on THIS corpus
    // they collide by construction: the synthetic documents draw from a ~40
    // word vocabulary, so at n = 3 a 250-doc benchmark already covers 39% of
    // all training postings (measured: 80.5% pruned, 90% of docs flagged —
    // saturation, not contamination). At n = 8 the gram space is vocab^8 and
    // only true near-copies share grams, which is the TB-corpus/MB-benchmark
    // shape the Bloom gate's >99% claim is about.
    val gramN = sys.env.getOrElse("SCALE_GRAM_N", "8").toInt
    val minHits = 3
    val spark = Harness.session()
    val rec = new Harness.Recorder(spark)

    // --- scaled corpus, materialized and re-read like a real input table
    val work = Harness.workDir("graft_scale_decontam")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    ScaleCorpus.build(spark, sfDir, copies, n)
      .write.mode("overwrite").parquet(s"$work/docs.parquet")
    val corpus = spark.read.parquet(s"$work/docs.parquet")
    // ScaleCorpus ids are base*1000 + copy: copy 0 of the first benchBases
    // base documents is the benchmark; everything else trains
    val isBench = col("doc_id") % 1000 === 0 && col("doc_id") < benchBases.toLong * 1000L
    val bench = corpus.filter(isBench)
    val train = corpus.filter(!isBench)
    val nDocs = corpus.count()
    val benchBytes = bench.agg(sum(length(col("text")))).head.getLong(0)

    import graft.llm.TextAnalysis

    // --- the pruning claim, measured directly on the posting stream
    // (untimed diagnostics — counts, not wall times)
    val dGrams = train.select(col("doc_id"), explode(TextAnalysis.wordGrams("text", gramN)).as("g"))
    val bGrams = bench.select(explode(TextAnalysis.wordGrams("text", gramN)).as("g"))
      .distinct().localCheckpoint(true)
    val benchGrams = bGrams.count()
    val bloomBin = bGrams
      .agg(call_function("bloom_agg", xxhash64(col("g")),
        lit(math.max(1024L, 2L * benchGrams))).as("bf"))
      .head.getAs[Array[Byte]](0)
    val trainPostings = dGrams.count()
    val gatedPostings = dGrams
      .filter(call_function("bloom_contains", lit(bloomBin), xxhash64(col("g"))))
      .count()
    val prunedFrac = 1.0 - gatedPostings.toDouble / trainPostings.toDouble

    // --- timed: the production operator (Bloom-gated exact equi-join)
    val bloom = rec.phase("bloom") {
      val out = TextAnalysis.contaminationFlags(train, bench, "text", "doc_id",
        n = gramN, minHits = minHits).localCheckpoint(true)
      out.count()
      out
    }
    val flaggedRows = bloom.value.count()

    // --- timed: the identical exact equi-join WITHOUT the gate — every
    // training posting crosses the join shuffle just to (mostly) miss
    val nogate = rec.phase("nogate") {
      val out = dGrams.join(bGrams, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minHits)
        .localCheckpoint(true)
      out.count()
      out
    }

    // Bloom false positives are discarded by the confirming join, so the two
    // flagged sets must be identical
    val (b, g) = (bloom.value, nogate.value)
    val outputsEqual = b.except(g).isEmpty && g.except(b).isEmpty

    Harness.emit("scale_decontam", "docs" -> nDocs, "copies" -> copies,
      "bench_docs" -> benchBases, "bench_bytes" -> benchBytes, "bench_grams" -> benchGrams,
      "gram_n" -> gramN, "min_hits" -> minHits,
      "train_postings" -> trainPostings, "gated_postings" -> gatedPostings,
      "postings_pruned_frac" -> prunedFrac,
      "bloom_sec" -> bloom.sec, "nogate_sec" -> nogate.sec, "flagged_rows" -> flaggedRows,
      "outputs_equal" -> outputsEqual,
      "stragglers" -> rec.stragglers, "loads" -> rec.loads)
    spark.stop()
  }
}
