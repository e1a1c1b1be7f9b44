package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LlmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank todaz"), // 1-char near-dup of 1
    (3L, "completely different content about spark engines and distributed joins"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val out = Dedup.exact(corpus, "text", "doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 2L), (2L, 1L), (3L, 1L))) // (keep_id, dup_cnt)
  }

  test("minhash LSH finds the near-duplicate pair and skips unrelated docs") {
    val pairs = Dedup.minhashNearDups(corpus, "text", "doc_id",
      k = 5, numHashes = 8, bands = 4, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // near-dup recalled and verified
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L))) // exact dup too
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc excluded
  }

  test("minhash cascade: zero false positives, exact jaccard, recalls seeded clone pairs") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => f"tok$i%02d")
    // 8 clusters of (base, one-token-mutated clone): true J ~ 0.9 per pair
    val texts = (0 until 8).flatMap { c =>
      val base = Vector.fill(30)(vocab(rnd.nextInt(vocab.size)))
      Seq(base, base.updated(5 + c, s"zz$c")).map(_.mkString(" "))
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = Dedup.minhashNearDups(docs, "text", "doc_id",
      k = 5, numHashes = 8, bands = 4, threshold = 0.6)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
    val sets = texts.map(_.sliding(5).toSet)
    def jac(a: Long, b: Long): Double = {
      val (sa, sb) = (sets(a.toInt), sets(b.toInt))
      (sa & sb).size.toDouble / (sa | sb).size.toDouble
    }
    // the verify stage is exact set arithmetic: every emitted pair must carry
    // the TRUE jaccard (bit-identical: same int counts, same division) and
    // clear the threshold — LSH can lose borderline pairs, never invent them
    out.foreach { case (a, b, j) =>
      assert(j === jac(a, b), s"pair ($a,$b) jaccard mismatch")
      assert(j >= 0.6)
    }
    // near-identical clones (J ~ 0.9) must survive banding + estimate + verify
    for (c <- 0 until 8; a = 2L * c; b = 2L * c + 1) {
      assert(jac(a, b) >= 0.8, s"fixture drift: clone pair ($a,$b) J=${jac(a, b)}")
      assert(out.exists(p => p._1 == a && p._2 == b), s"cascade missed clone pair ($a,$b)")
    }
  }

  test("incremental near-dup equals the full cascade restricted to batch pairs") {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 40).map(i => f"tok$i%02d")
    // clone clusters engineered to span the batch boundary: ids 0..23,
    // batch = ids % 4 == 0, so some clone pairs are new-old, some new-new
    // (cluster of 4: 4c..4c+3 -> 4c is new, rest old), none old-only missed
    val texts = (0 until 6).flatMap { c =>
      val base = Vector.fill(30)(vocab(rnd.nextInt(vocab.size)))
      (0 until 4).map(m => (if (m == 0) base else base.updated(5 + m, s"zz$c$m")).mkString(" "))
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 4 =!= 0)
    val newBatch = docs.filter(col("doc_id") % 4 === 0)
    val idxSets = Dedup.shingleSets(existing, "text", "doc_id", 5)
    val idxSig = Dedup.minhashSignatures(idxSets, "doc_id", 8).drop("shs")
    val inc = Dedup.incrementalNearDups(
      newBatch, "text", "doc_id", idxSets, idxSig,
      k = 5, numHashes = 8, bands = 4, threshold = 0.6)
    val full = Dedup.minhashNearDups(docs, "text", "doc_id",
      k = 5, numHashes = 8, bands = 4, threshold = 0.6)
      .filter(col("a") % 4 === 0 || col("b") % 4 === 0)
    assert(TestSpark.rows(inc.select("a", "b", "jaccard"))
      === TestSpark.rows(full.select("a", "b", "jaccard")))
    assert(inc.count() > 0, "fixture produced no batch-side near-dup pairs")
  }

  test("maxBucketSize drops oversized band buckets on the full and incremental paths") {
    // three identical docs put all three in every band bucket; the
    // unrelated doc shares no bucket with them
    val dup = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq((1L, dup), (2L, dup), (3L, dup),
      (4L, "completely different content about spark engines and distributed joins")
    ).toDF("doc_id", "text")
    val existing = docs.filter(col("doc_id") =!= 3L)
    val newBatch = docs.filter(col("doc_id") === 3L)
    val idxSets = Dedup.shingleSets(existing, "text", "doc_id", 5)
    val idxSig = Dedup.minhashSignatures(idxSets, "doc_id", 8).drop("shs")
    def full(cap: Int) = TestSpark.rows(Dedup.minhashNearDups(docs, "text", "doc_id",
      k = 5, numHashes = 8, bands = 4, threshold = 0.9, maxBucketSize = cap).select("a", "b"))
    def inc(cap: Int) = TestSpark.rows(Dedup.incrementalNearDups(newBatch, "text", "doc_id",
      idxSets, idxSig, k = 5, numHashes = 8, bands = 4, threshold = 0.9,
      maxBucketSize = cap).select("a", "b"))
    assert(full(2) === Set.empty[Seq[Any]])
    assert(inc(2) === Set.empty[Seq[Any]])
    assert(full(0) === Set(Seq(1L, 2L), Seq(1L, 3L), Seq(2L, 3L)))
    assert(inc(0) === Set(Seq(1L, 3L), Seq(2L, 3L)))
    // a cap at the bucket size keeps the bucket
    assert(full(3) === full(0))
  }

  test("incremental rewrite: a better keeper arriving in the batch replaces the cached survivor") {
    // v1 corpus survives its own rewrite untouched (no near-dups), then the
    // batch brings a HIGHER-QUALITY near-dup of a cached doc — keep-best
    // over cache ∪ batch must crown the batch doc and excise the cached one
    val pad = "and the story continues with more of the detail in the longer richer version"
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val cached = Seq(
      (1L, a),
      (2L, "completely different content about spark engines and distributed joins")
    ).toDF("doc_id", "text")
    val batch = Seq((10L, s"$a $pad $pad")).toDF("doc_id", "text")
    // self-checking fixture: the batch doc really does score higher
    val q = (cached.unionByName(batch))
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(10L) > q(1L), s"fixture: batch doc must out-score the cached keeper ($q)")

    val idxSets = Dedup.shingleSets(cached, "text", "doc_id", 5)
    val idxSig = Dedup.minhashSignatures(idxSets, "doc_id", 8).drop("shs")
    val pairs = Dedup.incrementalNearDups(
      batch, "text", "doc_id", idxSets, idxSig,
      k = 5, numHashes = 8, bands = 4, threshold = 0.4)
    assert(TestSpark.rows(pairs.select("a", "b")).map(_.take(2)) === Set(Seq(1L, 10L)))

    // keep-best over the union, then the anti-join excision (the same chain
    // as q_dedup_rewrite, against the merged corpus)
    val all = cached.unionByName(batch)
    val losers = Dedup.keepBest(all, pairs)
      .filter(col("doc_id") =!= col("keep_id")).select("doc_id")
    val corpusOut = all.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(corpusOut === Set(2L, 10L), "cached loser must be excised, batch keeper retained")
  }

  test("verified jaccard is exact set arithmetic") {
    val sets = Dedup.shingleSets(corpus, "text", "doc_id", 5)
    val cand = Seq((1L, 4L)).toDF("a", "b")
    val j = Dedup.verifiedJaccard(cand, sets, "doc_id").select("jaccard").as[Double].head()
    assert(j === 1.0) // identical texts -> identical shingle sets
  }

  test("simhash: identical texts hash identically; near-dups land within small hamming distance") {
    val hs = Dedup.simhash(corpus, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) === hs(4L))
    val hamming = java.lang.Long.bitCount(hs(1L) ^ hs(2L))
    assert(hamming <= 4, s"near-dup hamming $hamming")
  }

  test("blocked token jaccard finds near-dups inside blocks only") {
    val out = Dedup.tokenJaccardPairs(corpus, "text", "doc_id",
      blockKey = expr("size(split(text, ' ')) div 20"), threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 4L)))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix-filtered token jaccard is exhaustive: matches brute force on seeded random docs") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 25).map(i => s"w$i")
    // clusters of mutated clones so pairs straddle the threshold both ways
    val texts = (0 until 12).flatMap { c =>
      val base = Seq.fill(10 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      (0 until 3).map { k =>
        val mutated = base.map(t => if (rnd.nextInt(10) < k * 2) vocab(rnd.nextInt(vocab.size)) else t)
        mutated.mkString(" ")
      }
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.75, 0.95)) {
      val got = Dedup.tokenJaccardPairs(docs, "text", "doc_id", blockKey = lit(0), threshold = t)
        .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b, math.round(j * 1e9)) }.toSet
      val sets = texts.zipWithIndex.map { case (s, i) => i.toLong -> s.split(" ").distinct.toSet }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        j = (sa & sb).size.toDouble / (sa | sb).size.toDouble if j >= t
      } yield (a, b, math.round(j * 1e9))).toSet
      assert(got === want, s"threshold $t")
    }
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f))  // opposite to 0
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
      .orderBy(desc("cos")).select("match_id").as[Long].collect().toSeq
    assert(out === Seq(1L, 2L, 3L)) // similar, orthogonal, opposite
  }

  test("multi-probe recalls across one flipped hyperplane; candidates are a superset of probe-1") {
    // stored planes = the three axis normals: 0 and 1 agree on every axis
    // sign; 4 differs from 0 only in the sign of dim 2 (one hyperplane) ->
    // missed by probe-1, recalled by multi-probe
    val axes = Array(Array(1000L, 0L, 0L), Array(0L, 1000L, 0L), Array(0L, 0L, 1000L))
    val withBoundary = vecs.union(Seq((4L, Array(0.9f, 0.1f, -0.05f))).toDF("vec_id", "embedding"))
    val queries = withBoundary.filter(col("vec_id") === 0)
    def matches(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("match_id").as[Long].collect().toSet
    val probe1 = matches(Similarity.bucketTopK(withBoundary, queries, "vec_id", "embedding", axes, k = 5))
    val multi = matches(Similarity.multiProbeTopK(withBoundary, queries, "vec_id", "embedding", axes, k = 5))
    assert(probe1.subsetOf(multi), "multi-probe must never lose a probe-1 match")
    assert(!probe1.contains(4L) && multi.contains(4L), "1-bit neighbor recalled only by multi-probe")
  }

  test("IVF nProbe widens recall monotonically toward brute force") {
    // 8 vectors, 4 seed lists; queries = vec 0. nProbe=4 (all lists) must
    // equal brute force; nProbe=1 candidates must be a subset of nProbe=2's.
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f, 0.0f)),
      (4L, Array(0.9f, 0.4f, 0.0f)), (5L, Array(0.8f, -0.5f, 0.1f)),
      (6L, Array(0.7f, 0.1f, 0.7f)), (7L, Array(0.95f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0)
    val seeds = Similarity.untrainedSeeds(corpus, "vec_id", "embedding", 4)
    val lists = Similarity.assignToLists(corpus, "vec_id", "embedding", seeds, "match_id")
    def matches(p: Int): Set[Long] =
      Similarity.ivfTopK(queries, "vec_id", "embedding", seeds, lists, k = 8, nProbe = p)
        .select("match_id").as[Long].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 8)
      .select("match_id").as[Long].collect().toSet
    val p1 = matches(1); val p2 = matches(2); val p4 = matches(4)
    assert(p1.subsetOf(p2) && p2.subsetOf(p4), "candidates must grow with nProbe")
    assert(p4 === brute, "probing every list is exact search")
  }

  test("PQ encode assigns each subspace's L2-nearest code (codebook = first seeds' sub-slices)") {
    // 4 dims, m=2 subspaces of 2 dims; codebook seeds are vecs 0 and 1:
    //   subspace 0 centroids: [1,0] (code 0), [0,1] (code 1)
    //   subspace 1 centroids: [0,1] (code 0), [1,0] (code 1)
    val data = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.9f)), // near seed 0 in both subspaces
      (3L, Array(0.1f, 0.9f, 0.9f, 0.1f)), // near seed 1 in both
      (4L, Array(0.9f, 0.1f, 0.9f, 0.1f))  // mixed: sub0 -> code 0, sub1 -> code 1
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(data, "vec_id", "embedding", m = 2, nCodes = 2)
    assert(cb.length === 2 && cb(0).length === 2 && cb(0)(0).length === 2)
    assert(cb(0)(0).toSeq === Seq(1000L, 0L) && cb(1)(0).toSeq === Seq(0L, 1000L))
    val codes = Similarity.pqEncode(data, "vec_id", "embedding", cb, "id")
      .select(col("id"), col("codes")).as[(Long, Seq[Int])].collect().toMap
    assert(codes(2L) === Seq(0, 0))
    assert(codes(3L) === Seq(1, 1))
    assert(codes(4L) === Seq(0, 1))
    assert(codes.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 2)))
  }

  test("PQ Lloyd training converges centroids to cluster means and never raises quantization error") {
    // two tight clusters per subspace whose means are NOT any data point:
    // untrained codebook (first 2 vectors) sits at cluster EDGES; trained
    // centroids must move to the per-cluster means
    val data = Seq(
      (0L, Array(0.9f, 0.0f, 0.0f, 0.9f)),
      (1L, Array(0.0f, 0.9f, 0.9f, 0.0f)),
      (2L, Array(1.1f, 0.0f, 0.0f, 1.1f)),
      (3L, Array(0.0f, 1.1f, 1.1f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (5L, Array(0.0f, 1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cb0 = Similarity.pqCodebook(data, "vec_id", "embedding", m = 2, nCodes = 2)
    val cb1 = Similarity.pqCodebookTrained(data, "vec_id", "embedding", m = 2, nCodes = 2, iters = 2)
    // cluster means: (900+1100+1000)/3 = 1000 exactly, 0 for the off dims
    assert(cb1(0)(0).toSeq === Seq(1000L, 0L))
    assert(cb1(0)(1).toSeq === Seq(0L, 1000L))
    assert(cb1(1)(0).toSeq === Seq(0L, 1000L))
    assert(cb1(1)(1).toSeq === Seq(1000L, 0L))
    val err0 = Similarity.pqQuantErr(data, "vec_id", "embedding", cb0)
    val err1 = Similarity.pqQuantErr(data, "vec_id", "embedding", cb1)
    assert(err1 <= err0, s"training must not raise quantization error: $err1 > $err0")
    assert(err1 < err0 * 0.75, s"training should measurably reduce error here: $err1 vs $err0")
    // trained codebook flows through the same encode/search path
    val enc1 = Similarity.pqEncode(data, "vec_id", "embedding", cb1, "match_id")
    val out = Similarity.pqTopK(data.filter(col("vec_id") < 2), "vec_id", "embedding", cb1, enc1, k = 2)
    assert(out.count() === 4)
  }

  test("PQ with full-coverage re-rank equals brute force; pure ADC ranks clusters sanely") {
    // 24 vectors in 3 clean clusters along axes of a 4-dim space, with small
    // deterministic jitter so every vector is distinct
    val data = (0 until 24).map { i =>
      val c = i % 3
      val base = Array.fill(4)(0.05f * ((i * 7 + 3) % 5))
      base(c) = 1.0f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = data.filter(col("vec_id") < 3)
    val cb = Similarity.pqCodebook(data, "vec_id", "embedding", m = 2, nCodes = 4)
    val enc = Similarity.pqEncode(data, "vec_id", "embedding", cb, "match_id")
    // shortlist >= corpus => the exact re-rank sees every candidate, so the
    // two-stage PQ search must reproduce brute force bit-for-bit
    val pq = Similarity.pqTopK(queries, "vec_id", "embedding", cb, enc, k = 5, rerank = 24)
      .select("query_id", "match_id", "cos").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(data, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "match_id", "cos").as[(Long, Long, Double)].collect().toSet
    assert(pq === brute)
    // pure ADC: integer scores, k rows per query, and the top ADC match for
    // each query lives in the query's own cluster (codes separate the axes)
    val adc = Similarity.pqTopK(queries, "vec_id", "embedding", cb, enc, k = 5)
      .select("query_id", "match_id", "adc").as[(Long, Long, Long)].collect()
    assert(adc.groupBy(_._1).forall(_._2.length == 5))
    val top = adc.groupBy(_._1).map { case (q, rows) => q -> rows.maxBy(_._3)._2 }
    top.foreach { case (q, m) => assert(m % 3 === q % 3, s"query $q top ADC match $m off-cluster") }
  }

  test("IVF×PQ: full-probe full-shortlist equals brute force; probe-1 scans own list only") {
    // same 3-axis-cluster corpus as the flat-PQ test
    val data = (0 until 24).map { i =>
      val c = i % 3
      val base = Array.fill(4)(0.05f * ((i * 7 + 3) % 5))
      base(c) = 1.0f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = data.filter(col("vec_id") < 3)
    val seeds = Similarity.untrainedSeeds(data, "vec_id", "embedding", 4)
    val cb = Similarity.pqCodebook(data, "vec_id", "embedding", m = 2, nCodes = 4)
    val enc = Similarity.ivfPqEncode(data, "vec_id", "embedding", seeds, cb, "match_id")
    // nProbe = nLists and shortlist >= corpus: nothing is pruned, so the
    // composed index must reproduce brute force bit-for-bit
    val full = Similarity.ivfPqTopK(queries, "vec_id", "embedding", seeds, cb, enc,
      k = 5, nProbe = 4, rerank = 24)
      .select("query_id", "match_id", "cos").as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(data, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "match_id", "cos").as[(Long, Long, Double)].collect().toSet
    assert(full === brute)
    // probe-1 ADC: candidates come only from the query's own inverted list
    val lists = Similarity.assignToLists(data, "vec_id", "embedding", seeds, "id")
      .select(col("id"), col("list_id")).as[(Long, Long)].collect().toMap
    val p1 = Similarity.ivfPqTopK(queries, "vec_id", "embedding", seeds, cb, enc, k = 5)
      .select("query_id", "match_id", "adc").as[(Long, Long, Long)].collect()
    assert(p1.nonEmpty)
    p1.foreach { case (q, m, _) =>
      assert(lists(m) === lists(q), s"probe-1 match $m outside query $q's list")
    }
  }

  test("sign-bucket keys fail fast outside 1 to 64 planes") {
    // the key is one 64-bit long: a 65th plane would wrap onto bit 0
    val tooMany = Similarity.randomHyperplanes(3, 65, seed = 7L)
    val e = intercept[IllegalArgumentException](
      Similarity.signBucketPlanes(Similarity.quantize(col("embedding")), tooMany))
    assert(e.getMessage.contains("1 to 64 planes"))
    intercept[IllegalArgumentException](
      Similarity.multiProbeTopK(vecs, vecs, "vec_id", "embedding", tooMany, k = 1))
    intercept[IllegalArgumentException](
      Similarity.bucketTopK(vecs, vecs, "vec_id", "embedding", Array.empty[Array[Long]], k = 1))
    // 64 planes is the widest key and still builds
    Similarity.signBucketPlanes(Similarity.quantize(col("embedding")), tooMany.take(64))
  }

  test("stored hyperplanes: deterministic, co-bucket near-dups, complement opposites") {
    val p1 = Similarity.randomHyperplanes(8, 4, seed = 7L)
    val p2 = Similarity.randomHyperplanes(8, 4, seed = 7L)
    assert(p1.map(_.toSeq).toSeq === p2.map(_.toSeq).toSeq, "same seed must reproduce the artifact")
    assert(p1.length === 4 && p1.head.length === 8)
    assert(Similarity.randomHyperplanes(8, 4, seed = 8L).map(_.toSeq).toSeq !== p1.map(_.toSeq).toSeq)

    val base = Array(0.9f, -0.4f, 0.3f, -0.8f, 0.2f, 0.6f, -0.1f, 0.5f)
    val data = Seq(
      (0L, base),
      (1L, base.map(x => x * 1.01f)),      // near-dup: same side of every plane
      (2L, base.map(x => -x))              // opposite: flips every plane sign
    ).toDF("vec_id", "embedding")
    val buckets = data
      .select(col("vec_id"),
        Similarity.signBucketPlanes(Similarity.quantize(col("embedding")), p1).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(buckets(0L) === buckets(1L), "scaled copy must co-bucket")
    // a sign flip complements every bit (no zero dots on this vector)
    assert(buckets(2L) === (~buckets(0L) & 0xfL))

    // stored-plane near-dup pairs finds the in-bucket pair only
    val pairs = Similarity.nearDupPairs(data, "vec_id", "embedding", p1, threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("incremental IVF maintenance: existing ∪ delta assignments equal a full rebuild") {
    val emb = (0L until 40L)
      .map(i => (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val existing = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    val seeds = Similarity.untrainedSeeds(existing, "vec_id", "embedding", 8)
    def assignments(df: org.apache.spark.sql.DataFrame) =
      Similarity.assignToLists(df, "vec_id", "embedding", seeds, "id")
        .select("id", "list_id").as[(Long, Long)].collect().toSet
    // per-row assignment is seed-deterministic, so maintaining the index by
    // assigning only the new batch loses nothing vs rescanning everything
    assert(assignments(existing) ++ assignments(batch) === assignments(emb))
  }

  test("semantic prune: within a monotone chain exactly the most prototypical member survives") {
    def v(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(64 - xs.size)(0.0)).map(_.toFloat).toArray
    val emb = Seq(
      0L -> v(1.0), 1L -> v(0, 1.0),           // the two (untrained) seeds
      2L -> v(0.98, 0.2),                      // cluster 0, cos(0,2) ≈ .980
      3L -> v(0.9, 0.42),                      // cluster 0, cos(0,3) ≈ .906, cos(2,3) ≈ .972
      4L -> v(0, 0.9, 0.44)                    // cluster 1, cos(1,4) ≈ .898
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semanticPrune(emb, "vec_id", "embedding",
      nClusters = 2, trainIters = 0, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    // cluster 0: 2 is pruned by the more prototypical 0; 3's ONLY ≥.95
    // witness is 2 — itself pruned — yet 3 goes too (the rule needs a more
    // prototypical near-dup, not a surviving one): exactly the chain's most
    // prototypical member survives. cluster 1 has no pair above threshold.
    assert(kept === Set(0L, 1L, 4L))
  }

  test("semantic prune: a non-monotone chain keeps BOTH endpoints (at-least-one guarantee)") {
    // The documented limit of the witness rule: chain a-b-c where
    // cos(a,c) < threshold and ccos(a) > ccos(c) > ccos(b). b is pruned by
    // both a and c, but c's only near-dup witness (b) is LESS prototypical
    // than c, so c survives alongside a — two survivors from one chain.
    def v(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(64 - xs.size)(0.0)).map(_.toFloat).toArray
    val emb = Seq(
      0L -> v(1.0),                       // the single (untrained) seed = centroid
      1L -> v(0.6, 0.8),                  // a: ccos .60
      2L -> v(0.4, 0.72, 0.33, 0.4612),   // b: ccos .40; cos(a,b) ≈ .816, cos(b,c) ≈ .817
      3L -> v(0.5, 0.55, 0.669)           // c: ccos .50; cos(a,c) ≈ .74 < threshold
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semanticPrune(emb, "vec_id", "embedding",
      nClusters = 1, trainIters = 0, threshold = 0.8)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 1L, 3L))
  }

  test("TextClassifier: score equals an independent JVM md5 recomputation; keep thresholds exactly") {
    val dim = 16
    val weights: Seq[Long] = (0 until dim).map(i => (i * 13 - 90).toLong)
    val model = LinearTextModel(dim, weights.toArray, biasMilli = -5L, thresholdMilli = 0L)
    // independent recomputation: java MessageDigest, not Spark's md5
    def bucket(tok: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(4), 16) % dim
    }
    def expected(text: String): Long =
      -5L + text.split(" ", -1).map(t => weights(bucket(t))).sum
    val docs = Seq((1L, "alpha beta alpha"), (2L, "zzz"), (3L, "beta  beta")).toDF("doc_id", "text")
    val out = TextClassifier.classify(docs, "text", "doc_id", model)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    for ((id, text) <- Seq(1L -> "alpha beta alpha", 2L -> "zzz", 3L -> "beta  beta")) {
      val e = expected(text)
      assert(out(id) === ((e, e >= 0L)), s"doc $id")
    }
    // repeated tokens count per occurrence: doc 1 scores alpha twice
    assert(out(1L)._1 === -5L + 2 * weights(bucket("alpha")) + weights(bucket("beta")))
  }

  test("LinearTextModel.fromJson round-trips and fails loudly on malformed documents") {
    val m = LinearTextModel.fromJson(
      """{"dim": 4, "bias_milli": -7, "threshold_milli": 3, "weights_milli": [1, -2, 3, -4]}""")
    assert(m === LinearTextModel(4, Array(1L, -2L, 3L, -4L), -7L, 3L) ||
      (m.dim === 4 && m.weightsMilli.toSeq === Seq(1L, -2L, 3L, -4L) &&
        m.biasMilli === -7L && m.thresholdMilli === 3L))
    def bad(j: String): Unit = { intercept[IllegalArgumentException](LinearTextModel.fromJson(j)); () }
    bad("""{"dim": 4, "bias_milli": 0, "threshold_milli": 0, "weights_milli": [1, 2]}""") // wrong len
    bad("""{"dim": 4, "threshold_milli": 0, "weights_milli": [1, 2, 3, 4]}""") // missing bias
    bad("""{"dim": 4, "bias_milli": 0.5, "threshold_milli": 0, "weights_milli": [1, 2, 3, 4]}""") // non-integer
    bad("""[]""")
  }

  test("docFrequencyScore: exact df mass over distinct tokens, repeated tokens counted once") {
    val docs = Seq(
      (1L, "the cat sat"),          // the:3 cat:2 sat:1 -> sum 6, n 3
      (2L, "the cat ran ran"),      // repeated 'ran' counts once: the:3 cat:2 ran:1 -> sum 6, n 3
      (3L, "the zzz")               // the:3 zzz:1 -> sum 4, n 2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.docFrequencyScore(docs, "text", "doc_id")
      .select("doc_id", "n_distinct_tokens", "sum_df", "avg_df")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((3L, 6L, 2.0)))
    assert(out(2L) === ((3L, 6L, 2.0)))
    assert(out(3L) === ((2L, 4L, 2.0)))
    // boilerplate (all common tokens) out-scores gibberish (all rare) —
    // the two-tail filter signal
    val mixed = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "alpha beta gamma"),
      (4L, "qxz jkw vbn")
    ).toDF("doc_id", "text")
    val avg = TextAnalysis.docFrequencyScore(mixed, "text", "doc_id")
      .select("doc_id", "avg_df").as[(Long, Double)].collect().toMap
    assert(avg(1L) === 3.0 && avg(4L) === 1.0)
  }

  test("quality score is bounded and orders richer docs higher") {
    val df = Seq(
      (1L, "the cat is on the mat and the dog is in the house of the man"),
      (2L, "x")
    ).toDF("doc_id", "text")
    val q = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L))
  }

  test("repetition stats: duplicate bigrams and top-token dominance, exact fractions") {
    val df = Seq(
      (1L, "a b a b a b"),   // bigrams: ab ba ab ba ab -> 5 total, 2 distinct; top token a: 3/6
      (2L, "w x y z")        // all unique bigrams; every token 1/4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((5L, 3.0 / 5.0, 3.0 / 6.0)))
    assert(out(2L) === ((3L, 0.0, 1.0 / 4.0)))
  }

  test("scrub redacts urls before emails before digit runs") {
    val df = Seq(
      (1L, "visit https://example.com/a?id=12345678 or mail bob.smith+x@mail.example.org now"),
      (2L, "call 5551234567 ext 42"),          // long run redacted, short '42' kept
      (3L, "ftp://not-http stays, 123456 too") // 6 digits: below the 7+ threshold
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.scrub(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "visit <URL> or mail <EMAIL> now") // url digits eaten by <URL>
    assert(out(2L) === "call <NUM> ext 42")
    assert(out(3L) === "ftp://not-http stays, 123456 too")
  }

  test("contamination flags docs sharing enough distinct trigrams with the benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta other words here"),   // shares 2 distinct trigrams... compute: a-b-g, b-g-d = 2
      (2L, "alpha beta gamma delta epsilon more text"),  // shares 3: abg, bgd, gde
      (3L, "completely unrelated text with no overlap"),
      (4L, "xx")                                         // shorter than n: contributes nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.contaminationFlags(docs, bench, "text", "doc_id", n = 3, minHits = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(2L -> 3L))
  }

  test("contamination flags reject minHits < 1 (a zero threshold would emit every doc)") {
    val df = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.contaminationFlags(df, df, "text", "doc_id", n = 3, minHits = 0)
    }
    ()
  }

  test("bloom-gated contamination flags equal the ungated exact join on random docs") {
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 25).map(i => f"w$i%02d")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bench = (100L until 110L).map(i => (i, doc(12))).toDF("doc_id", "text")
    val docs = (0L until 60L).map(i => (i, doc(20))).toDF("doc_id", "text")
    // the UNGATED exact equi-join, built from the same public gram pass —
    // the Bloom gate is a prefilter whose false positives the confirming
    // join discards, so the flagged sets must be identical
    val plain = docs
      .select(col("doc_id"), explode(TextAnalysis.wordGrams("text", 3)).as("g"))
      .join(bench.select(explode(TextAnalysis.wordGrams("text", 3)).as("g")).distinct(), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    val bloom = TextAnalysis.contaminationFlagsBloom(docs, bench, "text", "doc_id", n = 3, minHits = 2)
    assert(TestSpark.rows(bloom) === TestSpark.rows(plain))
  }

  test("oversized-benchmark fallback (bloom skipped) matches the bloom-gated output") {
    // when the benchmark gram estimate exceeds graft.decontam.maxBloomGrams,
    // the operator must skip the filter build (no driver-held binary) and run
    // the plain exact equi-join — identical flagged set either way
    val rnd = new scala.util.Random(47)
    val vocab = (0 until 25).map(i => f"w$i%02d")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bench = (100L until 110L).map(i => (i, doc(12))).toDF("doc_id", "text")
    val docs = (0L until 60L).map(i => (i, doc(20))).toDF("doc_id", "text")
    val gated = TextAnalysis.contaminationFlags(docs, bench, "text", "doc_id", n = 3, minHits = 2)
    val gatedRows = TestSpark.rows(gated)
    System.setProperty("graft.decontam.maxBloomGrams", "1")
    try {
      val fallback = TextAnalysis.contaminationFlags(docs, bench, "text", "doc_id", n = 3, minHits = 2)
      assert(TestSpark.rows(fallback) === gatedRows)
    } finally System.clearProperty("graft.decontam.maxBloomGrams")
  }

  test("langId picks the profile with the most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog in the house"),
      (2L, "le chat est dans la maison et le chien")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df, "text", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "fr")
  }

  test("span dedup: repeated spans report min owning doc and its earliest position") {
    val boiler = "this exact legal boilerplate sentence repeats everywhere"
    val docs = Seq(
      (7L, s"unique seven opening sentence here. $boiler. tail seven"),
      (3L, s"$boiler. unique three sentence content here. $boiler"),
      (9L, s"unique nine sentence content here. $boiler")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "text", "doc_id", minLen = 20).collect()
    val row = out.find(_.getAs[Long]("span_cnt") == 4L).get
    assert(row.getAs[Long]("keep_id") === 3L)   // min doc id owning the span
    assert(row.getAs[Long]("keep_pos") === 0L)  // earliest occurrence within doc 3
    assert(row.getAs[Long]("doc_cnt") === 3L)
    // the other >=20-char spans are unique -> only the boilerplate row remains
    assert(out.count(_.getAs[Long]("span_cnt") > 1) === 1)
  }

  test("kmeans-trained IVF: centroids converge onto the clusters and recall brute-force top-1") {
    // Two tight clusters; both initial seeds (ids 0, 1) lean toward cluster A,
    // with seed 1 tilted enough that Lloyd rounds pull it onto cluster B.
    val data = (Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.7f, 0.714f, 0.0f, 0.0f))) ++
      (2L to 4L).map(i => (i, Array(0.995f, 0.01f * i, 0.0f, 0.0f))) ++
      (5L to 9L).map(i => (i, Array(0.01f * (i - 5), 1.0f, 0.0f, 0.0f)))
    ).toDF("vec_id", "embedding")

    val seeds = Similarity.kmeansSeeds(data, "vec_id", "embedding", nLists = 2, iters = 3)
      .orderBy("list_id").collect().map(r => r.getSeq[Long](1))
    assert(seeds.length === 2)
    assert(seeds.forall(_.length === 4))
    // one centroid dominated by dim 1 (cluster A), the other by dim 2 (cluster B)
    assert(seeds(0)(0) > seeds(0)(1))
    assert(seeds(1)(1) > seeds(1)(0))
    // deterministic: retraining yields bit-identical centroids
    val again = Similarity.kmeansSeeds(data, "vec_id", "embedding", nLists = 2, iters = 3)
      .orderBy("list_id").collect().map(r => r.getSeq[Long](1))
    assert(seeds.toSeq.map(_.toSeq) === again.toSeq.map(_.toSeq))

    // with separated centroids, probe-1 IVF recalls the exact top-1 everywhere
    val seedTable = Similarity.kmeansSeeds(data, "vec_id", "embedding", nLists = 2, iters = 3)
    val lists = Similarity.assignToLists(data, "vec_id", "embedding", seedTable, "match_id")
    val trained = Similarity.ivfTopK(data, "vec_id", "embedding", seedTable, lists, k = 1)
      .select("query_id", "match_id").as[(Long, Long)].collect().toMap
    val exact = Similarity.bruteForceTopK(data, data, "vec_id", "embedding", k = 1)
      .select("query_id", "match_id").as[(Long, Long)].collect().toMap
    assert(trained === exact)
  }

  test("multimodal stub decode extracts deterministic metadata distributed") {
    val media = Multimodal.asMedia(corpus, "doc_id", "text")
    val meta = Multimodal.extractMeta(media).collect().map(m => m.id -> m).toMap
    assert(meta(1L).digest === meta(4L).digest) // same payload -> same digest
    assert(meta(1L).digest !== meta(3L).digest)
    assert(meta(1L).n_bytes === corpus.filter(col("doc_id") === 1).select(length(col("text"))).as[Int].head())
    assert(meta(1L).width >= 64 && meta(1L).height >= 64)
    assert(meta(1L).format === "unknown") // text payload: no container magic
  }

  test("header decoder parses PNG/GIF/BMP/JPEG byte fixtures") {
    import Multimodal.HeaderDecoder.decode
    def bytes(hex: String): Array[Byte] =
      hex.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

    // PNG: signature + IHDR, width 800 (0x320), height 600 (0x258), BE32
    val png = bytes("89504E470D0A1A0A 0000000D 49484452 00000320 00000258 08 06 00 00 00")
    assert(decode(png) === Some(("png", 800, 600)))

    // GIF89a + GIF87a: logical screen 320x200, LE16 (0x0140, 0x00C8)
    assert(decode(bytes("474946383961 4001 C800 00")) === Some(("gif", 320, 200)))
    assert(decode(bytes("474946383761 4001 C800 00")) === Some(("gif", 320, 200)))

    // BMP: BITMAPINFOHEADER, width 1024 (0x400 LE), height 768 (0x300 LE)
    val bmp = bytes("424D 00000000 00000000 36000000 28000000 00040000 00030000")
    assert(decode(bmp) === Some(("bmp", 1024, 768)))
    // top-down BMP: negative height (-768 = 0xFFFFFD00 LE) → magnitude
    val bmpTopDown = bytes("424D 00000000 00000000 36000000 28000000 00040000 00FDFFFF")
    assert(decode(bmpTopDown) === Some(("bmp", 1024, 768)))

    // JPEG: SOI + APP0 (skipped) + SOF0 with height 480 (0x01E0), width 640
    // (0x0280) — the parser must walk past non-SOF segments
    val jpeg = bytes("FFD8 FFE0 0010 4A46494600 0101 00 0001 0001 00 00" +
      " FFC0 000B 08 01E0 0280 01")
    assert(decode(jpeg) === Some(("jpeg", 640, 480)))
    // progressive JPEG (SOF2) parses the same frame header layout
    val jpegProg = bytes("FFD8 FFC2 000B 08 01E0 0280 01")
    assert(decode(jpegProg) === Some(("jpeg", 640, 480)))

    // non-containers and truncations fall through to None, never throw
    assert(decode("plain text".getBytes("UTF-8")) === None)
    assert(decode(Array.empty[Byte]) === None)
    assert(decode(bytes("89504E470D0A1A0A 0000")) === None) // truncated PNG
    assert(decode(bytes("FFD8 FFC0 0001")) === None) // corrupt JPEG length
    assert(decode(bytes("FFD8 FFDA 0004 0000")) === None) // JPEG with no SOF
    assert(decode(bytes("474946383961 40")) === None) // GIF cut mid-dimension
    assert(decode(bytes("424D 0000")) === None) // BMP cut before header size
    assert(decode(bytes("FFD8 FFC0 000B 08 01E0")) === None) // SOF length beyond data
  }

  test("BMP pixel decoder: padded bottom-up walk, top-down variant, non-BMP rejection") {
    import Multimodal.HeaderDecoder.decodePixels
    // hand-build a 2x2 24-bpp BMP: stride = (3*2+3)&~3 = 8 (2 pad bytes/row),
    // bottom-up storage. Logical pixels (x,y) -> (B,G,R):
    //   (0,0)=(1,2,3) (1,0)=(4,5,6) (0,1)=(7,8,9) (1,1)=(10,11,12)
    // storage: row0 = logical y=1 [7,8,9, 10,11,12, pad,pad],
    //          row1 = logical y=0 [1,2,3, 4,5,6, pad,pad]
    def le32(v: Int) = Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
    def le16(v: Int) = Array(v, v >> 8).map(x => (x & 0xff).toByte)
    def header(h: Int) =
      "BM".getBytes("US-ASCII") ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(2) ++ le32(h) ++ le16(1) ++ le16(24) ++ le32(0) ++
        le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val rowY1 = Array(7, 8, 9, 10, 11, 12, 0, 0).map(_.toByte)
    val rowY0 = Array(1, 2, 3, 4, 5, 6, 0, 0).map(_.toByte)
    // checksum over logical top-down k: k=1 (0,0), k=2 (1,0), k=3 (0,1), k=4 (1,1)
    val expected = 1L * (1 + 2 * 2 + 3 * 3) + 2L * (4 + 2 * 5 + 3 * 6) +
      3L * (7 + 2 * 8 + 3 * 9) + 4L * (10 + 2 * 11 + 3 * 12)
    assert(decodePixels(header(2) ++ rowY1 ++ rowY0) === Some((2, 2, expected)))
    // top-down (negative height): rows stored in logical order
    assert(decodePixels(header(-2) ++ rowY0 ++ rowY1) === Some((2, 2, expected)))
    // truncated pixel array, wrong bpp, non-BMP: None, never throw
    assert(decodePixels(header(2) ++ rowY1) === None)
    assert(decodePixels("plain text".getBytes("UTF-8")) === None)
    val bpp8 = header(2).clone(); bpp8(28) = 8
    assert(decodePixels(bpp8 ++ rowY1 ++ rowY0) === None)
    // hostile dimensions must reject, not overflow: w=2^30 makes 3*w wrap
    // negative (stride -2^30 defeated the old Long size check and indexed
    // out of bounds); hRaw=Int.MinValue survives math.abs still negative
    val wide = header(2).clone()
    System.arraycopy(le32(1 << 30), 0, wide, 18, 4)
    assert(decodePixels(wide ++ rowY1 ++ rowY0) === None)
    val minH = header(2).clone()
    System.arraycopy(le32(Int.MinValue), 0, minH, 22, 4)
    assert(decodePixels(minH ++ rowY1 ++ rowY0) === None)
  }

  test("PNG codec round-trip: every filter type, RGB and RGBA, checksum matches closed form") {
    import Multimodal.PngCodec
    def closedForm(w: Int, h: Int, ch: Int, px: (Int, Int, Int) => Int): Long = {
      var cs = 0L; var k = 0L
      for (y <- 0 until h; x <- 0 until w) {
        k += 1
        for (c <- 0 until ch) cs += k * (c + 1) * (px(x, y, c) & 0xff)
      }
      cs
    }
    // each single-filter image isolates one unfilter path end-to-end
    for (ft <- 0 to 4) {
      val px = (x: Int, y: Int, c: Int) => (31 * x + 17 * y + 53 * c + ft) % 256
      val img = PngCodec.encode(6, 5, 3, px, _ => ft)
      assert(PngCodec.decodePixels(img) ===
        Some(PngCodec.Decoded(6, 5, 3, closedForm(6, 5, 3, px))), s"filter $ft")
    }
    // RGBA with mixed filters per row
    val px4 = (x: Int, y: Int, c: Int) => (7 * x + 11 * y + 3 * c + 1) % 256
    val rgba = PngCodec.encode(4, 7, 4, px4, y => y % 5)
    assert(PngCodec.decodePixels(rgba) === Some(PngCodec.Decoded(4, 7, 4, closedForm(4, 7, 4, px4))))
    // 1x1 edge
    val one = PngCodec.encode(1, 1, 3, (_, _, c) => c * 80, _ => 4)
    assert(PngCodec.decodePixels(one) === Some(PngCodec.Decoded(1, 1, 3, 1L * 0 + 2 * 80 + 3 * 160)))
  }

  test("PNG decoder agrees with an EXTERNAL encoder (Python zlib fixtures, all five filters)") {
    import Multimodal.PngCodec
    def hexBytes(hex: String): Array[Byte] =
      hex.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // Generated by CPython's zlib + an independently written filter pass
    // (test fixture provenance: stdlib-only script in this test's comment
    // history): a shared symmetric bug between PngCodec.encode and
    // .decodePixels cannot survive this — the DEFLATE stream and the
    // filtered scanlines here were produced by foreign code.
    // F1: 5x4 RGB, px = (11x + 23y + 41c + 7) % 256, row filters [4,0,1,2]
    val f1 = hexBytes(
      "89504e470d0a1a0a0000000d4948445200000005000000040802000000c95162170000002849444154789c6361" +
      "3788e446020c72ee059a41d526b16df61913bd8ae7309ac6b523cb3389a302004bd309865584ef49000000004945" +
      "4e44ae426082")
    assert(Multimodal.PngCodec.decodePixels(f1) === Some(PngCodec.Decoded(5, 4, 3, 168780L)))
    // F2: 3x5 RGBA, px = (97x + 13y + 29c + 3) % 256, row filters [0,1,2,3,4]
    val f2 = hexBytes(
      "89504e470d0a1a0a0000000d4948445200000003000000050806000000807156a20000002d49444154789c6360" +
      "56b08d4a699cb7fbe8a3ff328c02ba5ee98950c0c48b049865b42cddcdc160fb76166419004f9e0e7152299d5b00" +
      "00000049454e44ae426082")
    assert(Multimodal.PngCodec.decodePixels(f2) === Some(PngCodec.Decoded(3, 5, 4, 150040L)))
    // and OUR encoder reproduces the same pixels under the same parameters
    val ours = PngCodec.encode(5, 4, 3,
      (x, y, c) => (11 * x + 23 * y + 41 * c + 7) % 256, y => (y + 4) % 5)
    assert(PngCodec.decodePixels(ours) === Some(PngCodec.Decoded(5, 4, 3, 168780L)))
  }

  test("PNG decoder rejects corruption: bad chunk CRC, bad Adler-32, truncation, bad scope") {
    import Multimodal.PngCodec
    val good = PngCodec.encode(3, 3, 3, (x, y, c) => x + y + c, y => y % 5)
    assert(PngCodec.decodePixels(good).isDefined)
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    // flip one IDAT payload byte -> chunk CRC mismatch -> None (never throws)
    val crcBad = good.clone(); crcBad(45) = (crcBad(45) ^ 0x41).toByte
    assert(PngCodec.decodePixels(crcBad) === None)
    // corrupt the zlib Adler-32 (last 4 IDAT data bytes) but REPAIR the chunk
    // CRC: the chunk walk passes, the inflater's checksum must still catch it
    val idatLen = ((good(33) & 0xff) << 24) | ((good(34) & 0xff) << 16) |
      ((good(35) & 0xff) << 8) | (good(36) & 0xff)
    val adlerBad = good.clone()
    val adlerPos = 41 + idatLen - 4 // IDAT data starts at 41 (sig 8 + IHDR 25 + len/type 8)
    adlerBad(adlerPos) = (adlerBad(adlerPos) ^ 0x7f).toByte
    val crc = new java.util.zip.CRC32(); crc.update(adlerBad, 37, 4 + idatLen)
    System.arraycopy(be32(crc.getValue), 0, adlerBad, 41 + idatLen, 4)
    assert(PngCodec.decodePixels(adlerBad) === None)
    // truncation mid-IDAT
    assert(PngCodec.decodePixels(good.take(good.length - 20)) === None)
    // out-of-scope shapes: palette color type, 16-bit depth (CRC repaired)
    for ((off, v) <- Seq((25, 3.toByte), (24, 16.toByte))) {
      val bad = good.clone(); bad(off) = v
      val c2 = new java.util.zip.CRC32(); c2.update(bad, 12, 17)
      System.arraycopy(be32(c2.getValue), 0, bad, 29, 4)
      assert(PngCodec.decodePixels(bad) === None, s"offset $off")
    }
    // garbage and empty
    assert(PngCodec.decodePixels("not a png at all, just text".getBytes("UTF-8")) === None)
    assert(PngCodec.decodePixels(Array.emptyByteArray) === None)
  }

  test("header decoder never throws on arbitrary bytes (fuzz with magic prefixes)") {
    import Multimodal.HeaderDecoder.decode
    val magics = Seq(
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte),
      "GIF89a".getBytes("US-ASCII"), "GIF87a".getBytes("US-ASCII"),
      "BM".getBytes("US-ASCII"),
      Array(0xFF, 0xD8).map(_.toByte),
      Array.empty[Byte])
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 300) {
      val tail = Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)
      val b = magics(rnd.nextInt(magics.length)) ++ tail
      decode(b) // promise under test: total function, Option out, no throw
    }
  }
}
