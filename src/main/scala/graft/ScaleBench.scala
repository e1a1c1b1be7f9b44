package graft

/** Off-toy scale proof for the dedup cascade (round-3 verdict stretch item):
  * synthesize a corpus `SCALE_COPIES`× the sf0.1 documents table with a
  * controlled near-dup rate, run MinHash+LSH+CC end-to-end, and report wall
  * times plus a straggler ratio (max/median task duration over non-trivial
  * tasks) — the bucket caps and partitioning hold only if no task runs away.
  *
  * Corpus construction (pure SQL, distributed): copy 0 is the original; one
  * copy in ten mutates a single token (a true near-dup the cascade must
  * recall); all other copies replace every fifth token with a digest (unique
  * documents — they must NOT pair). Run with e.g.:
  *   SCALE_COPIES=20  → 100k docs;  SCALE_COPIES=100 → 500k docs.
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SCALE_COPIES", "20").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val rec = new Harness.Recorder(spark)

    // --- build the scaled corpus and persist it like a real input table ---
    val work = Harness.workDir("graft_scale")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val scaled = ScaleCorpus.build(spark, sfDir, copies, n)
    scaled.write.mode("overwrite").parquet(s"$work/documents.parquet")
    val docs = spark.read.parquet(s"$work/documents.parquet")
    val nDocs = docs.count()

    // Scale parameterization, measured on this corpus at 100k docs:
    //  - the toy 8-hash/2-row-band setup (the sf0.1 oracle config) collides
    //    bands with probability J^2 - ordinary vocabulary overlap (J~0.5)
    //    produced stop-shingle buckets of up to 7476 docs and 419M candidate
    //    pair-rows; 16 hashes with 4-row bands (J^4) keeps buckets sharp;
    //  - maxBucketSize is the skew backstop for whatever hot keys remain.
    val numHashes = sys.env.getOrElse("SCALE_HASHES", "16").toInt
    val cap = sys.env.getOrElse("SCALE_BUCKET_CAP", "64").toInt
    // checkpoint the pair set so the CC timing below measures CC alone, not a
    // second run of the cascade
    val pairs = rec.phase("pairs", k = 1) {
      val p = graft.llm.Dedup.minhashNearDups(docs, "text", "doc_id",
        k = 5, numHashes = numHashes, bands = 4, threshold = 0.9, maxBucketSize = cap)
        .localCheckpoint(true)
      (p, p.count())
    }
    val cc = rec.phase("cc", k = 1) {
      graft.er.ConnectedComponents.clusterMapping(pairs.value._1.select("a", "b")).count()
    }

    Harness.emit("scale_dedup", "copies" -> copies, "docs" -> nDocs, "pairs" -> pairs.value._2,
      "clustered_docs" -> cc.value, "pairs_sec" -> pairs.sec, "cc_sec" -> cc.sec,
      "tasks" -> (pairs.tasks + cc.tasks), "straggler_ratio" -> (pairs.straggler max cc.straggler),
      "loads" -> rec.loads)
    spark.stop()
  }
}
