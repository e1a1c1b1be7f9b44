package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data deduplication operators, designed for the 100 TB case: every
  * pairwise step is bucket/block-bounded (LSH bands, sign buckets, token
  * blocks) — there is no O(n²) cross join anywhere. Hashing uses MD5 (a fixed
  * public digest available in every engine), so signatures are reproducible
  * cross-engine — unlike engine-native hash() whose bit patterns differ
  * (SURVEY §7.4).
  */
object Dedup {

  /** Exact dedup: hash-group on the text, keep the min id as canonical
    * representative. One shuffle on the digest; at scale this is the plain
    * map-side-combinable group-by. Output: (digest, keep_id, dup_cnt). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Per-document distinct shingle SET as ONE array column — no explode, no
    * shuffle: `transform(sequence(...))` enumerates the k-gram positions and
    * `array_distinct` dedups, all narrow per-row work. This replaces three
    * full shuffles of the ~100×-exploded shingle rows (distinct, signature
    * group-by, verify collect_set) with zero; only doc-level rows ever move.
    * Documents shorter than k produce no row. The input is still
    * repartitioned by id first: a document table arrives in a handful of
    * parquet splits and the per-row hashing downstream would otherwise grind
    * in those few tasks. Output: (id, shs: array<string>). */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    // explicit partition count pins the exchange: AQE would coalesce a
    // few-MB text shuffle to 1 partition and serialize the CPU-heavy
    // per-row shingling/hashing that runs above it
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.filter(length(col(textCol)) >= k)
      .repartition(n, col(idCol))
      .select(col(idCol),
        array_distinct(expr(
          s"transform(sequence(1, length($textCol) - ${k - 1}), i -> substring($textCol, i, $k))")).as("shs"))
  }

  /** MinHash signature via One-Permutation Hashing (Li, Owen, Zhang,
    * "One Permutation Hashing", NIPS 2012): ONE digest per shingle — the hash
    * space is partitioned into `numHashes` bins by the digest's first nibble
    * and the signature is the per-bin minimum, instead of the classic k
    * salted re-hashes. At 100 TB this is the difference between hashing the
    * corpus once and hashing it k times, with the same collision-probability
    * estimator. Empty bins (short documents) are densified by rotation —
    * borrow the next non-empty bin's minimum, the standard fix from the
    * follow-up densification literature — so signatures stay total.
    * Input: the [[shingleSets]] shape (idCol, shs: array<string>).
    * Output: (id, shs, h0..h{numHashes-1}). The shingle-set array is CARRIED
    * THROUGH, so one materialization of this table serves both the LSH
    * banding (signature columns) and the exact-Jaccard verify (shs): one
    * materialization job and one storage pass for rows that always travel
    * together, not two. Callers that want the signature alone drop `shs`. */
  def minhashSignatures(sets: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    // NARROW per-document fold: digest the doc's shingle array once, then
    // take each bin's minimum with filter+transform+array_min inside the
    // same projection — no explode, no exchange, no aggregate. The earlier
    // explode + groupBy(min) formulation planned a SortAggregate (min over
    // a var-length string buffer is not hash-aggregable), i.e. a full sort
    // of the exploded shingle table (~1.5k rows/doc) behind a shuffle;
    // per-doc array minima are the same values without moving a row.
    // Semantics are bit-identical to the DuckDB oracle mirror: bin by the
    // digest's first nibble mod numHashes, min over the remaining 31 hex
    // chars, rotation densification for empty bins.
    val ds = sets.select(col(idCol), col("shs"), expr("transform(shs, s -> md5(s))").as("ds"))
    val raw = ds.select(col(idCol) +: col("shs") +: (0 until numHashes).map { j =>
      array_min(expr(
        s"""transform(
           |  filter(ds, d -> (instr('0123456789abcdef', substring(d, 1, 1)) - 1) % $numHashes = $j),
           |  d -> substring(d, 2, 31))""".stripMargin)).as(s"r$j")
    }: _*)
    raw.select(col(idCol) +: col("shs") +: (0 until numHashes).map(j =>
      coalesce((0 until numHashes).map(i => col(s"r${(j + i) % numHashes}")): _*).as(s"h$j")): _*)
  }

  /** Signature-agreement prefilter of the cascade: a candidate survives only
    * if at least this many of its `numHashes` signature positions agree — the
    * Jaccard estimate at `threshold` minus 0.15 of slack for estimator
    * variance. It only prunes; exact Jaccard ≥ `threshold` decides. */
  private def minEstimateMatches(threshold: Double, numHashes: Int): Int =
    math.ceil((threshold - 0.15) * numHashes).toInt

  /** LSH band table: split the signature into `bands` bands of `rowsPerBand`
    * consecutive hashes; band value = concatenation. The whole signature
    * rides each band row as one array, so the bucket join computes the
    * estimate prefilter inline — no separate re-joins of the signature
    * table. That is `numHashes` fixed-width strings (~250 bytes) per band
    * row: constant weight per row, safe in the bucket shuffle at scale.
    * Output: (id, sig, band, bv). */
  private def bandTable(sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val bv = concat((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), bv.as("bv"))
    }
    sig.select(col(idCol),
      array((0 until bands * rowsPerBand).map(j => col(s"h$j")): _*).as("sig"),
      explode(array(bandStructs: _*)).as("x"))
      .select(col(idCol), col("sig"), col("x.band").as("band"), col("x.bv").as("bv"))
  }

  /** Bucket-join cost is Σ_bucket |bucket|²; a hot bucket (stop-shingle band
    * value) is quadratic in that bucket, so `maxBucketSize` > 0 drops
    * oversized buckets, the same defense as ER blocking's maxBlockSize —
    * near-dup *clusters* that big are recalled anyway through their other,
    * more selective bands. 0 keeps every bucket. */
  private def capBuckets(bandRows: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) bandRows
    else {
      val ok = bandRows.groupBy("band", "bv").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize).drop("__n")
      bandRows.join(ok, Seq("band", "bv"), "left_semi")
    }

  /** Candidate pairs (a from `left`, b from `right`): docs agreeing on a full
    * band — an equi-join on (band, bv), never a cross join — that satisfy
    * `pair` and agree on at least `minMatches` signature positions. Not yet
    * normalized or distinct: a pair meets once per shared band. */
  private def bucketJoin(left: DataFrame, right: DataFrame, idCol: String,
                         pair: Column, minMatches: Int): DataFrame = {
    val l = left.select(col("band"), col("bv"), col(idCol).as("a"), col("sig").as("sa"))
    val r = right.select(col("band"), col("bv"), col(idCol).as("b"), col("sig").as("sb"))
    val matches = expr("aggregate(zip_with(sa, sb, (x, y) -> CAST(x = y AS INT)), 0, (acc, v) -> acc + v)")
    l.join(r, Seq("band", "bv")).filter(pair && matches >= lit(minMatches))
  }

  /** Verify candidates with the true shingle Jaccard (LSH recalls candidates;
    * the verify pass removes false positives) over per-doc shingle-set arrays
    * ([[shingleSets]] shape: (id, shs)). Each doc's set rides as one array,
    * so per-candidate cost is O(|set_a| + |set_b|) in a single row — NOT an
    * exploded join (candidates × shingles would be 10⁸ intermediate rows at
    * sf0.1 and worse at scale). Output: (a, b, jaccard). */
  def verifiedJaccard(cand: DataFrame, docSets: DataFrame, idCol: String): DataFrame = {
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand
      .join(docSets.select(col(idCol).as("a"), col("shs").as("sa")), "a")
      .join(docSets.select(col(idCol).as("b"), col("shs").as("sb")), "b")
      .select(col("a"), col("b"),
        (inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter).cast("double")).as("jaccard"))
  }

  /** Full MinHash+LSH near-dup pipeline:
    * shingle → sign → band → bucket-join with estimate prune → exact verify.
    * Exact Jaccard ≥ `threshold` decides; output (a, b, jaccard), a < b. */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 5, numHashes: Int = 8, bands: Int = 4,
                      threshold: Double = 0.9, maxBucketSize: Int = 0): DataFrame =
  // statistics-gated static planning (same gate as tokenJaccardPairs): the
  // cascade is ~10 exchanges deep, and on a small corpus AQE's per-stage
  // driver re-planning dominates the actual work (measured at sf0.1: the
  // whole cascade is ~4s of which the shingle/hash compute is well under
  // 1s); at real scale the gate stays open and AQE keeps its skew/coalesce
  // duties. The localCheckpoints below are eager, and materialize() pins
  // the returned plan inside the scope — the soundness rule holds.
  graft.ops.StaticScope.materialize(df) {
    // EXPLICIT materialization of the multiply-consumed intermediate, eager
    // so every consumer reads stored blocks. An earlier formulation
    // relied on Catalyst ReuseExchange to share `sets` via its pinned
    // shuffle — but two of its three consumers reach it through the
    // BROADCAST side of the verify joins, and a broadcast exchange
    // re-executes its entire subplan from the scan (it never reads another
    // exchange's shuffle files), so the shingle+digest pipeline ran up to
    // 6× per query (measured round 8 at 100k docs: 143s one-job vs 26s
    // staged — `.explain` showed 6 scans, 0 ReusedExchange). localCheckpoint
    // stores MEMORY_AND_DISK on executors: the shingle arrays spill rather
    // than pressure the heap, and the truncated lineage is a non-issue for
    // a bounded two-stage pipeline consumed immediately downstream.
    // ONE combined (id, shs, h0..h{n-1}) checkpoint replaces the former
    // separate sets + signatures materializations (r19: one fewer
    // materialization job and storage pass; values bit-identical).
    // Trade-off (r19 advice): checkpoint block reads are ROW-oriented, so
    // the signature-only band-table consumer below deserializes the heavy
    // shingle arrays it immediately discards — a measured win at bench
    // scale (the saved materialization job dominates), but where shingle
    // arrays dominate row size at large corpora the slim separate signature
    // checkpoint can win back; columnar stores don't have this tension (see
    // q_dedup_incremental's fused PARQUET index, which prunes shs at the
    // scan).
    val ss = minhashSignatures(shingleSets(df, textCol, idCol, k), idCol, numHashes)
      .localCheckpoint(true)
    val buckets = capBuckets(bandTable(ss, idCol, bands, numHashes / bands), maxBucketSize)
    // the candidate set is tiny (pairs that agree on a band and the
    // signature estimate) — materializing it lets the verify joins broadcast
    // it against the stored shingle sets instead of replanning the whole
    // candidate pipeline as a join input
    val pruned = bucketJoin(buckets, buckets, idCol, col("a") < col("b"),
      minEstimateMatches(threshold, numHashes))
      .select("a", "b")
      .distinct()
      .localCheckpoint(true)
    verifiedJaccard(pruned, ss.select(col(idCol), col("shs")), idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** INCREMENTAL near-dup check: a new batch against a corpus whose shingle
    * sets and signatures were persisted by a previous run (the reference's
    * cache/incremental pattern applied to the dedup pillar). Only the NEW
    * documents are shingled and signed; the existing corpus contributes its
    * stored index rows, never its text. The band bucket join puts new-doc
    * rows on the LEFT and the whole index on the RIGHT, so candidates only
    * form in buckets a new document touches — cost scales with the BATCH
    * (× bucket density), not with corpus², which is the entire point of
    * keeping the index: a daily crawl increment dedups in minutes against a
    * 100 TB corpus that is never re-read.
    *
    * Emits exactly the pairs with at least one new side (new-new pairs
    * once, normalized a < b) — equal to running the full cascade on the
    * whole corpus and keeping pairs touching the batch, which is how the
    * oracle replays it. Callers persist `existing ∪ new` as the next run's
    * index ([[graft.engine.Catalog]] cache snapshots in the DAG formulation,
    * q_dedup_incremental).
    */
  def incrementalNearDups(newDocs: DataFrame, textCol: String, idCol: String,
                          existingSets: DataFrame, existingSig: DataFrame,
                          k: Int = 5, numHashes: Int = 8, bands: Int = 4,
                          threshold: Double = 0.9, maxBucketSize: Int = 0): DataFrame =
    // the same statistics gate as minhashNearDups, taken on the summed size
    // of all three inputs
    graft.ops.StaticScope.materialize(newDocs, more = Seq(existingSets, existingSig)) {
      val rowsPerBand = numHashes / bands
      // one combined batch checkpoint (id, shs, h*), same fusion as
      // minhashNearDups — the sets/sig views below are cheap projections
      val newSS = minhashSignatures(
        shingleSets(newDocs, textCol, idCol, k), idCol, numHashes).localCheckpoint(true)
      val all = capBuckets(
        bandTable(existingSig.unionByName(newSS.drop("shs")), idCol, bands, rowsPerBand),
        maxBucketSize)
      // a new-new pair meets twice (each side once as the left row) — the
      // least/greatest normalization + distinct collapses it; new-old pairs
      // meet only through the new side
      val pruned = bucketJoin(bandTable(newSS, idCol, bands, rowsPerBand), all, idCol,
        col("a") =!= col("b"), minEstimateMatches(threshold, numHashes))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
        .localCheckpoint(true)
      verifiedJaccard(pruned,
        existingSets.unionByName(newSS.select(col(idCol), col("shs"))), idCol)
        .filter(col("jaccard") >= threshold)
    }

  /** Near-dup clusters: connected components over the pair edges (a, b),
    * each labelled by its min doc id. Output: (doc_id, cluster_id) for every
    * doc with at least one near-dup. */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    graft.er.ConnectedComponents.clusterMapping(pairs.select("a", "b"))
      .select(col("messy_id").as("doc_id"), col("cluster_id"))

  /** The production keep policy: cluster the near-dup `pairs`, then keep the
    * HIGHEST-QUALITY copy per cluster ([[TextAnalysis.qualityScore]], ties to
    * the smaller doc_id), not the min id. `docs` carries (doc_id, text).
    * Output: (doc_id, keep_id) for every clustered doc; a keeper maps to
    * itself, so the docs to excise are those with doc_id ≠ keep_id. */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val scored = nearDupClusters(pairs).join(
      docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q")), "doc_id")
    val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id").asc)
    val keep = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("cluster_id"), col("doc_id").as("keep_id"))
    scored.join(keep, "cluster_id").select("doc_id", "keep_id")
  }

  /** Span-level exact dedup (the C4/RefinedWeb-style pass: drop sentence
    * spans repeated across the corpus, independent of whole-document dedup).
    * Documents explode into '. '-delimited spans; spans shorter than
    * `minLen` characters are noise (abbreviations, list bullets) and are
    * skipped. One map-side-combinable shuffle on the span digest — the same
    * shape as [[exact]], so it scales identically. Output per repeated span:
    * (digest, keep_id = min owning doc, keep_pos = the span's first position
    * within keep_id, span_cnt, doc_cnt); a downstream rewrite pass keeps the
    * span only at (keep_id, keep_pos) and excises every other occurrence.
    *
    * The canonical (keep_id, keep_pos) rides the aggregate as one
    * `min(struct(id, pos))` — lexicographic struct ordering picks the
    * smallest doc id, then the earliest position within it, deterministic
    * and map-side combinable like the counts. */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                minLen: Int = 20): DataFrame =
    df.repartition(col(idCol))
      .select(col(idCol), posexplode(split(col(textCol), "\\. ")).as(Seq("pos", "span")))
      .filter(length(col("span")) >= minLen)
      .groupBy(md5(col("span")).as("digest"))
      .agg(min(struct(col(idCol).as("id"), col("pos").as("pos"))).as("keep"),
        count(lit(1)).as("span_cnt"),
        countDistinct(col(idCol)).as("doc_cnt"))
      .filter(col("span_cnt") > 1)
      .select(col("digest"), col("keep.id").as("keep_id"),
        col("keep.pos").cast("long").as("keep_pos"),
        col("span_cnt"), col("doc_cnt"))

  /** 16-bit SimHash over whitespace tokens: per bit, majority vote of the
    * token-hash bits (nibbles of md5 hex). Fingerprints with small hamming
    * distance ⇒ similar token distributions. Output: (id, simhash).
    *
    * ONE shuffle: each token row carries all 16 bit indicators as columns
    * (the md5 is computed once per token, narrow), and the per-doc majority
    * rides a single groupBy with 16 conditional sums + a count — map-side
    * partials are 17 longs per doc per partition. The alternative explode of
    * a (token × bit) row set shuffles 16× the rows through TWO aggregates;
    * at 100 TB that is 16× the exchange bytes for the same answer. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.repartition(col(idCol))
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .withColumn("d", md5(col("w")))
    val bitSums = (0 until 16).map { b =>
      val nibble = s"(instr('0123456789abcdef', substring(d, ${1 + b / 4}, 1)) - 1)"
      sum(expr(s"shiftright($nibble, ${3 - b % 4}) & 1")).as(s"b$b")
    }
    val aggs = bitSums :+ count(lit(1)).as("n")
    toks.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        (0 until 16).map(b => expr(s"CASE WHEN 2*b$b > n THEN shiftleft(1L, $b) ELSE 0L END"))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** Blocked n-gram (distinct-token) Jaccard near-dup: candidate pairs are
    * generated only within a block (caller-supplied key, e.g. language +
    * length bucket — near-dups rarely differ much in either), then token-set
    * Jaccard-verified. The classic "block, don't cross-join" shape; block
    * granularity bounds the quadratic term.
    *
    * Candidates come from PREFIX FILTERING (the AllPairs/PPJoin family,
    * Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW 2007):
    * order each doc's tokens by a global pseudo-random key (xxhash64 — a
    * frequency-decorrelated total order, so stopwords land in prefixes no
    * more often than any other token), and index only the first
    * n − ⌈t·n⌉ + 1 tokens. Any pair with J ≥ t must share a prefix token,
    * so grouping the (block, token) prefix postings and expanding each
    * sorted id-list via `slice(ids, i+2, …)` emits a superset of the true
    * pairs — each unordered pair once, already (a < b) — at ~t̄²≈0.25% of
    * the full inverted index's pair volume at t = 0.95. A size-ratio
    * prefilter (J ≤ min/max, so J ≥ t needs min ≥ t·max) prunes further
    * before the dedup; the epsilon keeps the double comparison from
    * false-rejecting exact-boundary pairs.
    *
    * The verify is then exact and per-candidate: join the handful of
    * surviving pairs back to the token arrays and take
    * `size(array_intersect)` — O(na+nb) per pair on pairs that are almost
    * all true positives, instead of a quadratic expand of every frequent
    * token's posting list. All three consumers of `docs` share one
    * repartition exchange (ReuseExchange), so the text is tokenized once. */
  def tokenJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockKey: Column, threshold: Double): DataFrame = {
    // Tokenize BELOW the repartition exchange: `docs` has three consumers
    // (prefix postings + both verify joins), and an exchange is the unit
    // Catalyst's ReuseExchange dedupes on — with the projection under it,
    // the scan + split + array_distinct run once and all three consumers
    // read the shuffled token arrays (measured at sf0.1: 3× tokenize was
    // ~2s of a 3s query). The exchange also spreads the explode work off
    // the handful of parquet splits the table arrives in.
    val docs = df.select(col(idCol).as("id"), blockKey.as("blk"),
        array_distinct(split(col(textCol), " ")).as("tw"))
      .repartition(col("id"))
    // Prefix ordering works on the HASHES alone: sorting a bigint array is
    // far cheaper than sorting (hash, token) structs (no per-comparison
    // string tiebreak, no InternalRow boxing), and the posting key shrinks
    // to (blk, h). A 64-bit collision merely merges two postings lists —
    // extra candidates the exact verify prunes; the prefix bound still
    // holds because the array keeps one entry per token, so k shared tokens
    // still occupy k suffix slots in the containment argument.
    val hashOrdered = array_sort(transform(col("tw"), t => xxhash64(t)))
    // ⌈t·n⌉ with a downward epsilon: 0.95·n is not exact in binary, and an
    // upward-rounded product would shorten the prefix below the safe bound
    // (a too-LONG prefix only adds candidates, never loses a pair)
    val prefLen = (size(col("tw"))
      - ceil(lit(threshold) * size(col("tw")) - lit(1e-9)) + lit(1)).cast("int")
    val pref = docs.select(col("id"), col("blk"), size(col("tw")).as("n"),
      explode(slice(hashOrdered, lit(1), prefLen)).as("h"))
    val grouped = pref.groupBy(col("blk"), col("h"))
      .agg(array_sort(collect_list(struct(col("id"), col("n")))).as("ids"))
      .filter(size(col("ids")) > 1)
    val sizeRatioOk =
      least(col("na"), col("nb")).cast("double") >=
        lit(threshold - 1e-9) * greatest(col("na"), col("nb")).cast("double")
    val cand = grouped
      .select(col("ids"), posexplode(col("ids")))
      .select(col("col").as("x"),
        explode(slice(col("ids"), col("pos") + lit(2),
          size(col("ids")) - col("pos") - lit(1))).as("y"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      // a=b only if two of a doc's own tokens hash-collide (both prefix
      // copies land in one posting); drop the degenerate self-pair
      .filter(col("a") =!= col("b") && sizeRatioOk)
      .distinct()
    val pairs = cand
      .join(docs.select(col("id").as("a"), col("tw").as("ta")), "a")
      .join(docs.select(col("id").as("b"), col("tw").as("tb")), "b")
      .select(col("a"), col("b"), size(array_intersect(col("ta"), col("tb"))).as("i"),
        col("na"), col("nb"))
      .select(col("a"), col("b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // this plan is 7 exchanges deep — on a small corpus AQE's per-stage
    // driver re-planning costs more than the whole query (measured 3.1s vs
    // 1.4s at sf0.1); see StaticScope for the gate semantics
    graft.ops.StaticScope.materialize(df)(pairs)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the embeddings with the deterministic Lloyd-trained coarse
    * quantizer ([[Similarity.kmeansSeeds]]), then within each cluster DROP
    * every document that has a more prototypical semantic near-duplicate — a
    * cluster-mate at cosine ≥ `threshold` whose own centroid-cosine is higher
    * (exact ties break to the smaller id, so the witness rule is a strict
    * total order). Guarantee: AT LEAST one member of every near-dup chain
    * survives (the chain's most prototypical member has no more-prototypical
    * witness), and within a MUTUALLY-near-dup clique exactly the most
    * prototypical member survives. A non-clique chain a-b-c with
    * cos(a,c) < threshold and ccos(a) > ccos(c) > ccos(b) keeps both a and c:
    * c's only near-dup witness b is less prototypical than c, so nothing
    * prunes c. Output: the KEPT rows (idCol, list_id, ccos), ccos = cosine to
    * the cluster centroid.
    *
    * Scale shape — this is the member of the dedup family built for
    * embedding-space dedup at corpus scale: the quadratic term is bounded by
    * the CLUSTER, not the corpus (SemDeDup's trick; nClusters grows with the
    * corpus so cluster sizes stay bounded), the centroid table is bounded
    * driver state (the MLlib-centers contract), assignment is a narrow
    * zero-shuffle map, and the prune is ONE anti self-join shuffled on
    * list_id. Train/assign once per corpus snapshot (`seedTable`/
    * `assignedTable`, same artifact lifecycle as the IVF index — the ann
    * queries' `ivfk_seeds`/`ivfk_lists` artifacts are directly reusable);
    * per-batch cost is then the within-cluster pair scan alone. Every step is
    * integer-exact or fixed-order IEEE, so the whole cluster→prune pipeline
    * is oracle-verifiable. */
  def semanticPrune(emb: DataFrame, idCol: String, embCol: String,
                    nClusters: Int, trainIters: Int, threshold: Double,
                    seedTable: Option[DataFrame] = None,
                    assignedTable: Option[DataFrame] = None): DataFrame = {
    val seeds = seedTable.getOrElse(
      Similarity.kmeansSeeds(emb, idCol, embCol, nClusters, trainIters))
    val assigned = assignedTable.getOrElse(
      Similarity.assignToLists(emb, idCol, embCol, seeds, idCol))
    // prototypicality = cosine to the own-cluster centroid; the seed side is
    // nClusters rows, so this is a broadcast join by construction
    val seedNorms = seeds.select(col("list_id").cast("long").as("list_id"),
      col("sv"), Similarity.qdot(col("sv"), col("sv")).as("sn"))
    val scored = assigned.join(broadcast(seedNorms), "list_id")
      .select(col(idCol), col("list_id"), col("v"), col("vn"),
        Similarity.normedCos(Similarity.qdot(col("v"), col("sv")), col("vn"), col("sn")).as("ccos"))
    val witness = scored.select(col("list_id").as("u_list"), col(idCol).as("u_id"),
      col("v").as("uv"), col("vn").as("un"), col("ccos").as("u_ccos"))
    scored.join(witness,
      col("u_list") === col("list_id") &&
        col("u_id") =!= col(idCol) &&
        Similarity.normedCos(Similarity.qdot(col("uv"), col("v")), col("un"), col("vn"))
          >= threshold &&
        (col("u_ccos") > col("ccos") ||
          (col("u_ccos") === col("ccos") && col("u_id") < col(idCol))),
      "left_anti")
      .select(col(idCol), col("list_id"), col("ccos"))
  }
}
