package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.llm.{Corpus, Dedup, GifCodec, JpegCodec, Multimodal, Similarity, TextAnalysis, WavCodec}
import graft.llm.Multimodal.{MediaRow, PngCodec}
import graft.ops.Spread

/** Large-scale training-data pipeline queries (dedup, similarity search,
  * text analysis, multimodal plumbing) over `documents` / `embeddings`.
  *
  * Cross-engine determinism: content hashing uses MD5 (identical in Spark and
  * DuckDB), similarity arithmetic is integer-quantized (order-independent) with
  * IEEE sqrt/divide (correctly rounded ⇒ bit-identical), and all ratio scores
  * are single divisions of exact integers.
  */
object LlmQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** The codec round-trip of the `q_multimodal_*` encode/decode queries:
    * each doc_id, spread across the cores (the codec cost is per row and
    * invisible to the planner's size estimate), becomes one payload by
    * `encode`; `extract` decodes it back in one `mapPartitions` pass, and
    * every Int column of its rows is widened to BIGINT, the oracle's type. */
  private def codecRoundTrip(s: SparkSession, dir: String,
                             extract: Dataset[MediaRow] => Dataset[_])(
                             encode: Long => Array[Byte]): DataFrame = {
    import s.implicits._
    val ids = Spread.full(
      t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id")), "doc_id").as[Long]
    val out = extract(ids.map(d => MediaRow(d, encode(d)))).toDF()
    out.select(out.schema.fields.toIndexedSeq.map(f =>
      if (f.dataType == IntegerType) col(f.name).cast("long").as(f.name) else col(f.name)): _*)
  }

  /** The near-dup cascade every MinHash dedup query runs: 5-char shingles,
    * 8 hashes in 4 bands, exact Jaccard >= 0.9 (the oracle's parameters). */
  private def minhashPairs(docs: DataFrame): DataFrame =
    Dedup.minhashNearDups(docs, "text", "doc_id", k = 5, numHashes = 8, bands = 4, threshold = 0.9)

  /** Untrained IVF top-5 for the first 10 vectors: 16 first-id seeds, their
    * inverted lists built in the query (not cached), `nProbe` lists probed. */
  private def untrainedIvf(emb: DataFrame, nProbe: Int): DataFrame = {
    val seeds = Similarity.untrainedSeeds(emb, "vec_id", "embedding", 16)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 10), "vec_id", "embedding", seeds,
      Similarity.assignToLists(emb, "vec_id", "embedding", seeds, "match_id"), k = 5, nProbe = nProbe)
  }

  /** The untrained PQ codebook (8 subspaces × 16 first-id codes) the flat-PQ
    * and IVF×PQ queries share, from the [[AnnIndex]] cache. */
  private def untrainedPqCodebook(s: SparkSession, dir: String, emb: DataFrame): Array[Array[Array[Long]]] =
    AnnIndex.codebook(s, dir, "pq_cb")(
      Similarity.pqCodebook(emb, "vec_id", "embedding", m = 8, nCodes = 16))

  /** Flat-PQ top-5 for the first 10 vectors over the cached untrained
    * codebook and codes; `rerank` as in [[Similarity.pqTopK]]. */
  private def untrainedPq(s: SparkSession, dir: String, rerank: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = untrainedPqCodebook(s, dir, emb)
    val enc = AnnIndex.table(s, dir, "pq_enc")(
      Similarity.pqEncode(emb, "vec_id", "embedding", cb, "match_id"))
    Similarity.pqTopK(emb.filter(col("vec_id") < 10), "vec_id", "embedding", cb, enc,
      k = 5, rerank = rerank)
  }

  /** Per-JVM ANN index-artifact cache. The production ANN lifecycle builds
    * the index ONCE per corpus snapshot — kmeans seeds, inverted lists, PQ
    * codes: exactly the `seeds`/`lists`/`codebook`/`encTable` arguments of
    * the [[graft.llm.Similarity]] searches — and amortizes it
    * across every query batch. The ANN registrations model that lifecycle:
    * the first run of a query in a JVM builds and materializes the index
    * (the bench's un-timed warm-up pass), later runs measure the marginal
    * per-batch search cost, which is the number that scales. A fresh JVM
    * (the correctness Verify) rebuilds from scratch, and every build is
    * deterministic (integer-exact), so results are identical either way.
    */
  private object AnnIndex {
    private lazy val root: java.nio.file.Path = {
      val d = java.nio.file.Files.createTempDirectory("graft_ann_index")
      graft.TempCleanup.deleteOnExit(d)
      d
    }
    // ConcurrentHashMap.computeIfAbsent, NOT TrieMap.getOrElseUpdate: the
    // builds are side-effecting (they write parquet), and TrieMap may run a
    // racing getOrElseUpdate body twice — two overwrite-writes to the same
    // path. computeIfAbsent locks the bin, so the build runs at most once.
    private val tables =
      new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()
    private val codebooks =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Long]]]]()
    /** Cache key: artifact name + the sf dir + the [[Tables.fingerprint]]
      * of the embeddings table every ANN artifact derives from, so
      * regenerating the parquet under `dir` within the JVM misses the cache
      * instead of silently serving an index built over the old data. None
      * when the table cannot be statted: the artifact is then built per
      * query and never cached. */
    private def key(s: SparkSession, dir: String, name: String): Option[String] =
      Tables.fingerprint(s, s"$dir/embeddings.parquet").map { fp =>
        name + "_" + java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(dir).toLong << 32 |
            (scala.util.hashing.MurmurHash3.stringHash(fp).toLong & 0xffffffffL))
      }
    def table(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
      key(s, dir, name).fold(build) { k =>
        // schema memoized WITH the path (same rule as Tables' memo): a bare
        // s.read.parquet would run a one-task footer-inference job in every
        // fresh session that touches the artifact — pure per-query floor for
        // the whole ANN family under the bench's session isolation
        val (path, schema) = tables.computeIfAbsent(k, _ => {
          val p = s"$root/$k.parquet"
          build.write.mode("overwrite").parquet(p)
          // memoize the INFERRED read schema (one footer job, at build time
          // only) — the written df.schema can differ in nullability from what
          // a parquet read reports, and a mismatched user schema would
          // silently change downstream plan shapes
          (p, s.read.parquet(p).schema)
        })
        s.read.schema(schema).parquet(path)
      }
    def codebook(s: SparkSession, dir: String, name: String)(
        build: => Array[Array[Array[Long]]]): Array[Array[Array[Long]]] =
      key(s, dir, name).fold(build)(codebooks.computeIfAbsent(_, _ => build))
  }

  // ---- shared oracle fragments ----

  private val sqlShingles5 =
    """SELECT DISTINCT doc_id, substr(text, i, 5) AS sh
      |FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-4)) AS i) gs
      |WHERE length(text) >= 5""".stripMargin

  // One-Permutation Hashing mirror of Dedup.minhashSignatures: one md5 per
  // shingle, binned by first nibble mod 8, per-bin min, rotation densification
  private val sqlSig8 = {
    val mins = (0 to 7).map(j => s"min(CASE WHEN bin = $j THEN hv END) AS r$j").mkString(",\n  ")
    val dense = (0 to 7).map(j =>
      (0 to 7).map(i => s"r${(j + i) % 8}").mkString("coalesce(", ", ", s") AS h$j")).mkString(",\n  ")
    s"""SELECT doc_id, $dense FROM (
       |  SELECT doc_id, $mins
       |  FROM (
       |    SELECT doc_id,
       |      (strpos('0123456789abcdef', substr(md5(sh), 1, 1)) - 1) % 8 AS bin,
       |      substr(md5(sh), 2, 31) AS hv
       |    FROM shingles) b
       |  GROUP BY doc_id) r""".stripMargin
  }

  private val sqlBands =
    """SELECT doc_id, 0 AS band, h0||h1 AS bv FROM sig UNION ALL
      |SELECT doc_id, 1 AS band, h2||h3 AS bv FROM sig UNION ALL
      |SELECT doc_id, 2 AS band, h4||h5 AS bv FROM sig UNION ALL
      |SELECT doc_id, 3 AS band, h6||h7 AS bv FROM sig""".stripMargin

  private val sqlCand =
    """SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id""".stripMargin

  // The MinHash near-dup cascade's CTEs (Dedup.minhashNearDups step for
  // step), shared by the five MinHash dedup entries: shingles → sig → bands →
  // cand → pruned (≥ 6 of 8 signature positions agree) → per-doc shingle
  // counts (sets) → shared-shingle counts per candidate (inter).
  private val sqlNearDupCtes = {
    val estSum = (0 to 7).map(j => s"CAST(sa.h$j = sb.h$j AS INT)").mkString(" + ")
    s"""shingles AS ($sqlShingles5),
       |sig AS ($sqlSig8),
       |bands AS ($sqlBands),
       |cand AS ($sqlCand),
       |pruned AS (
       |  SELECT c.a, c.b FROM cand c
       |  JOIN sig sa ON c.a = sa.doc_id JOIN sig sb ON c.b = sb.doc_id
       |  WHERE $estSum >= 6),
       |sets AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS i
       |  FROM pruned c JOIN shingles sa ON c.a = sa.doc_id
       |  JOIN shingles sb ON c.b = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY c.a, c.b)""".stripMargin
  }

  /** The verified pairs (a, b, jaccard ≥ 0.9) over [[sqlNearDupCtes]]. */
  private val sqlNearDupPairs =
    """SELECT a, b, jaccard FROM (
      |  SELECT i.a, i.b,
      |    CAST(i.i AS DOUBLE) / CAST(na.n + nb.n - i.i AS DOUBLE) AS jaccard
      |  FROM inter i JOIN sets na ON i.a = na.doc_id JOIN sets nb ON i.b = nb.doc_id) j
      |WHERE jaccard >= 0.9""".stripMargin

  /** Near-dup clusters over [[sqlNearDupCtes]] (needs WITH RECURSIVE): the
    * verified pairs (nd) as symmetric edges, walked to each doc's min
    * reachable id (comp). */
  private val sqlClusterCtes =
    """nd AS (
      |  SELECT a, b FROM (
      |    SELECT i.a, i.b,
      |      CAST(i.i AS DOUBLE) / CAST(na.n + nb.n - i.i AS DOUBLE) AS jaccard
      |    FROM inter i JOIN sets na ON i.a = na.doc_id JOIN sets nb ON i.b = nb.doc_id) j
      |  WHERE jaccard >= 0.9),
      |edges AS (SELECT a, b FROM nd UNION SELECT b AS a, a AS b FROM nd),
      |walk AS (
      |  SELECT DISTINCT a AS id, a AS comp FROM edges
      |  UNION
      |  SELECT e.b AS id, w.comp FROM walk w JOIN edges e ON w.id = e.a)""".stripMargin

  private val stopSql = "('the', 'a', 'of', 'and', 'to', 'in', 'is')"

  /** Keep-best ranking over [[sqlClusterCtes]], mirroring Dedup.keepBest:
    * highest quality per cluster first (tie: min doc_id) — the same float
    * quality formula as q_text_quality, bit-identical across engines. */
  private val sqlKeepBestCtes =
    s"""clusters AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id),
       |quality AS (
       |  SELECT doc_id,
       |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
       |    + least((CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 5.0, 1.0) * 0.25
       |    + least(CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopSql)) AS DOUBLE)
       |            / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0) * 0.25 AS q
       |  FROM documents),
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, q.q,
       |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.q DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN quality q ON c.doc_id = q.doc_id)""".stripMargin

  private val sqlQuantize =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"

  /** The quantized corpus (vec_id, qv) as CTE `v`. */
  private val sqlV = s"v AS (SELECT vec_id, $sqlQuantize AS qv FROM embeddings)"

  private def sqlQdot(a: String, b: String) =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS DOUBLE)"

  /** Integer dot product kept exact (BIGINT) — the PQ ADC scores rank on
    * integers, mirroring the Spark side's long arithmetic bit-for-bit. */
  private def sqlQdotInt(a: String, b: String) =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS BIGINT)"

  private def sqlQcos(a: String, b: String) =
    s"${sqlQdot(a, b)} / (sqrt(${sqlQdot(a, a)}) * sqrt(${sqlQdot(b, b)}))"

  // ---- ANN oracle fragments: each mirrors one Similarity step, so every
  // ANN entry (oracleSql, oracleSetupSql, oracleBenchSql) composes the same
  // assignment, codebook, encode, ADC and top-k SQL ----

  /** The untrained seed rule (Similarity.untrainedSeeds): the vectors of
    * `from` that `where` selects, as (list_id, sv). */
  private def sqlSeeds(from: String, where: String = "vec_id < 16") =
    s"SELECT vec_id AS list_id, qv AS sv FROM $from WHERE $where"

  /** Seed-list assignment (Similarity.assignToLists, and probeAssign when
    * `keep` is rn <= p): each vector x of `from` (after `filter`) ranks the
    * seed lists s of `seeds` by cosine, ties to the smaller list id, and
    * keeps the ranks `keep` admits. `out` is the outer select list; the
    * ranked rows carry x.qv only when `out` does. */
  private def sqlAssign(out: String, from: String, seeds: String, filter: String = "",
                        keep: String = "rn = 1", alias: String = "a") = {
    val ranked = if (out.contains("qv")) "x.vec_id, x.qv, s.list_id" else "x.vec_id, s.list_id"
    val where = if (filter.isEmpty) "" else s" WHERE $filter"
    s"""  SELECT $out FROM (
       |    SELECT $ranked,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${sqlQcos("x.qv", "s.sv")} DESC, s.list_id) AS rn
       |    FROM $from x CROSS JOIN $seeds s$where) $alias
       |  WHERE $keep""".stripMargin
  }

  /** One Lloyd round over a seed CTE `sIn` → `sOut` (expects a `v` CTE of
    * (vec_id, qv)): assign all vectors to their argmax-cosine seed, rebuild
    * each centroid as the element-wise floor(sum/count); lists that empty
    * out keep their previous centroid. Mirrors [[Similarity.kmeansSeeds]]'
    * integer arithmetic exactly. */
  private def sqlLloydRound(sIn: String, sOut: String) =
    s"""a_$sOut AS (
       |${sqlAssign("vec_id, qv, list_id", "v", sIn, alias = "t")}),
       |u_$sOut AS (
       |  SELECT list_id, i, SUM(qv[i]) AS sm, COUNT(*) AS n
       |  FROM a_$sOut, UNNEST(generate_series(1, 64)) AS t(i)
       |  GROUP BY list_id, i),
       |g_$sOut AS (
       |  SELECT list_id, list(CAST(floor(CAST(sm AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS sv
       |  FROM u_$sOut GROUP BY list_id),
       |$sOut AS (
       |  SELECT s.list_id, COALESCE(g.sv, s.sv) AS sv
       |  FROM $sIn s LEFT JOIN g_$sOut g USING (list_id))""".stripMargin

  /** The untrained PQ codebook (Similarity.pqCodebook): the first 16
    * vectors' 8 sub-slices of 8 dims, as (code, j, cv). */
  private def sqlPqCodebook(from: String) =
    s"""  SELECT s.vec_id AS code, t.j AS j,
       |    list_slice(s.qv, t.j * 8 + 1, t.j * 8 + 8) AS cv
       |  FROM $from s, UNNEST(generate_series(0, 7)) AS t(j)
       |  WHERE s.vec_id < 16""".stripMargin

  /** PQ code assignment (Similarity.pqEncode): per (vector x of `from`,
    * subspace j), the code of codebook `cb` (aliased `c`) with the largest
    * 2·x_j·c − c·c, ties to the smaller code. `withXj` also carries the
    * sub-vector xj (the Lloyd round's update input). */
  private def sqlPqAssign(from: String, cb: String, c: String = "cb", withXj: Boolean = false) = {
    val xj = s"list_slice(x.qv, $c.j * 8 + 1, $c.j * 8 + 8)"
    val (out, carried) = if (withXj) ("vec_id, j, code, xj", s"\n      $xj AS xj,") else ("vec_id, j, code", "")
    val ref = if (cb == c) cb else s"$cb $c"
    s"""  SELECT $out FROM (
       |    SELECT x.vec_id, $c.j, $c.code,$carried
       |      row_number() OVER (PARTITION BY x.vec_id, $c.j
       |        ORDER BY 2 * ${sqlQdotInt(xj, s"$c.cv")}
       |          - ${sqlQdotInt(s"$c.cv", s"$c.cv")} DESC, $c.code) AS rn
       |    FROM $from x CROSS JOIN $ref) a
       |  WHERE rn = 1""".stripMargin
  }

  /** One per-subspace PQ Lloyd round over a codebook CTE `cIn` → `cOut`
    * (expects a `v` CTE of (vec_id, qv)): assign every (vector, subspace)
    * pair to its argmax-(2·x·c − c·c) code, rebuild each code's centroid as
    * the element-wise floor(sum/count) of its assigned sub-vectors; codes
    * that empty out keep their previous centroid. Mirrors
    * [[graft.llm.Similarity.pqCodebookTrained]]'s integer arithmetic
    * exactly (subspace width 8 = 64 dims / m 8). */
  private def sqlPqLloydRound(cIn: String, cOut: String) =
    s"""e_$cOut AS (
       |${sqlPqAssign("v", cIn, c = "c", withXj = true)}),
       |u_$cOut AS (
       |  SELECT j, code, i, SUM(xj[i]) AS sm, COUNT(*) AS n
       |  FROM e_$cOut, UNNEST(generate_series(1, 8)) AS t(i)
       |  GROUP BY j, code, i),
       |g_$cOut AS (
       |  SELECT j, code, list(CAST(floor(CAST(sm AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
       |  FROM u_$cOut GROUP BY j, code),
       |$cOut AS (
       |  SELECT c.code, c.j, COALESCE(g.cv, c.cv) AS cv
       |  FROM $cIn c LEFT JOIN g_$cOut g ON g.j = c.j AND g.code = c.code)""".stripMargin

  /** Lloyd-trained IVF seeds `s2` (Similarity.kmeansSeeds, 16 lists, 2
    * rounds from the first 16 vectors; expects a `v` CTE). */
  private val sqlKmeansCtes =
    s"""s0 AS (${sqlSeeds("v")}),
       |${sqlLloydRound("s0", "s1")},
       |${sqlLloydRound("s1", "s2")}""".stripMargin

  /** Lloyd-trained PQ codebook `cb2` (Similarity.pqCodebookTrained, 2
    * rounds from the untrained codebook; expects a `v` CTE). */
  private val sqlPqTrainedCtes =
    s"""cb0 AS (
       |${sqlPqCodebook("v")}),
       |${sqlPqLloydRound("cb0", "cb1")},
       |${sqlPqLloydRound("cb1", "cb2")}""".stripMargin

  /** The `adc` CTE (Similarity.pqTopK's scores): per (query, candidate e),
    * the sum over the 8 subspaces of the query sub-slice's integer dot with
    * e's code centroid in codebook `cb`. `ids` selects (query_id,
    * match_id); `from` joins the query side (vector `qv`) to e. */
  private def sqlAdc(ids: String, qv: String, from: String, cb: String) =
    s"""adc AS (
       |  SELECT $ids,
       |    CAST(SUM(${sqlQdotInt(s"list_slice($qv, c.j * 8 + 1, c.j * 8 + 8)", "c.cv")}) AS BIGINT) AS adc
       |  FROM $from
       |  JOIN $cb c ON c.j = e.j AND c.code = e.code
       |  GROUP BY 1, 2)""".stripMargin

  /** Flat ADC: query rows `q` (vec_id, qv; `queryFilter` restricts them)
    * against every encoded vector of `enc`. */
  private def sqlFlatAdc(q: String, enc: String, cb: String, queryFilter: String = "") =
    sqlAdc("q.vec_id AS query_id, e.vec_id AS match_id", "q.qv",
      s"$q\n  JOIN $enc e ON ${queryFilter}q.vec_id <> e.vec_id", cb)

  /** IVF×PQ ADC (Similarity.ivfPqTopK): each `probes` row (query_id, qv,
    * list_id) against the encoded members of its list in `assigned`. */
  private def sqlIvfAdc(assigned: String, enc: String, cb: String) =
    sqlAdc("p.query_id, a.vec_id AS match_id", "p.qv",
      s"""probes p
         |  JOIN $assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
         |  JOIN $enc e ON e.vec_id = a.vec_id""".stripMargin, cb)

  /** The flat-PQ pipeline CTEs over the codebook `cb` that `cbCtes` defines
    * (after `v`): every vector's codes (`enc`) and the first 10 queries'
    * ADC scores — Similarity.pqEncode/pqTopK step for step. */
  private def sqlPqAdc(cbCtes: String, cb: String) =
    s"""WITH $sqlV,
       |$cbCtes,
       |enc AS (
       |${sqlPqAssign("v", cb)}),
       |${sqlFlatAdc("v q", "enc", cb, "q.vec_id < 10 AND ")}""".stripMargin

  /** The top `k` per query by ADC (score desc, match_id asc) over the `adc`
    * CTE, selecting `cols`. */
  private def sqlAdcTopK(cols: String, k: Int) =
    s"""SELECT $cols FROM (
       |  SELECT $cols,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, match_id) AS rn
       |  FROM adc) z
       |WHERE rn <= $k""".stripMargin

  /** The cosine top-5 (score desc, match id asc) over candidate pairs
    * `from`: `qid`/`mid` are the query and match id columns (aliased to
    * query_id/match_id unless already so named), `qv` the query vector and
    * c.qv the candidate's. */
  private def sqlCosTopK(qid: String, mid: String, qv: String, from: String,
                         alias: String = "s") = {
    def named(e: String, name: String) = if (e.endsWith(s".$name")) e else s"$e AS $name"
    s"""SELECT query_id, match_id, cos FROM (
       |  SELECT ${named(qid, "query_id")}, ${named(mid, "match_id")}, ${sqlQcos(qv, "c.qv")} AS cos,
       |    row_number() OVER (PARTITION BY $qid ORDER BY ${sqlQcos(qv, "c.qv")} DESC, $mid) AS rn
       |  FROM $from) $alias
       |WHERE rn <= 5""".stripMargin
  }

  /** The 50 → 5 re-rank tail over the `adc` CTE: the top-50 ADC short-list
    * `sl`, re-scored by exact cosine with query vectors from `q` and
    * candidate vectors from `c` (Similarity.pqTopK's re-rank). */
  private def sqlRerankTail(q: String, c: String) =
    s"""sl AS (
       |${sqlAdcTopK("query_id, match_id", 50)})
       |${sqlCosTopK("s.query_id", "s.match_id", "q.qv",
         s"sl s JOIN $q ON q.vec_id = s.query_id\n    JOIN $c c ON c.vec_id = s.match_id", "z")}""".stripMargin

  /** Probe-1 IVF top-5 for the first 10 vectors, every vector assigned to
    * its nearest list of `seeds`, which `seedCtes` defines after `v`. */
  private def sqlIvfProbe1(seedCtes: String, seeds: String) =
    s"""WITH $sqlV,
       |$seedCtes,
       |assigned AS (
       |${sqlAssign("vec_id, qv, list_id", "v", seeds)})
       |${sqlCosTopK("q.vec_id", "c.vec_id", "q.qv",
         "assigned q JOIN assigned c ON q.list_id = c.list_id\n    AND q.vec_id < 10 AND q.vec_id <> c.vec_id")}""".stripMargin

  /** The SemDeDup prune over a `scored` CTE (vec_id, qv, list_id, ccos): a
    * row survives unless a same-cluster near-dup (cos >= 0.35) is strictly
    * more prototypical (higher centroid-cosine, ties to smaller id). */
  private val sqlSemanticPrune =
    s"""pruned AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM scored x JOIN scored u ON u.list_id = x.list_id AND u.vec_id <> x.vec_id
       |  WHERE ${sqlQcos("u.qv", "x.qv")} >= 0.35
       |    AND (u.ccos > x.ccos OR (u.ccos = x.ccos AND u.vec_id < x.vec_id)))
       |SELECT s.vec_id, s.list_id, s.ccos FROM scored s
       |ANTI JOIN pruned p ON p.vec_id = s.vec_id""".stripMargin

  /** Stored LSH hyperplanes for the bucketed ANN/near-dup queries: 8 real
    * sampled planes over the 64-dim embeddings, deterministic from the seed
    * (the index-artifact contract — generate once, store, probe against the
    * stored copy). Spark buckets via integer dots against these constants;
    * the oracle embeds the SAME constants as SQL literals, so the whole
    * bucket function is cross-engine exact. */
  private val lshPlanes = graft.llm.Similarity.randomHyperplanes(64, 8, seed = 42L)

  /** DuckDB bucket expression over a quantized-vector column: bit i =
    * (qv · plane_i >= 0), planes inlined as integer literals. */
  private def sqlPlanesBucket(qvCol: String): String =
    lshPlanes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"""(CASE WHEN list_sum(list_transform(generate_series(1, ${p.length}),
         |    i -> $qvCol[i] * ($arr)[i])) >= 0 THEN ${1L << i} ELSE 0 END)""".stripMargin
    }.mkString("CAST((", "\n + ", ") AS BIGINT)")

  /** Shared (vec_id, qv, bucket) CTE body under the stored planes. */
  private val sqlPlanesV =
    s"""v0 AS (SELECT vec_id, $sqlQuantize AS qv FROM embeddings),
       |v AS (SELECT vec_id, qv, ${sqlPlanesBucket("qv")} AS bucket FROM v0)""".stripMargin

  /** The scrub regex chain over a SQL column expression — identical patterns
    * and pass order to [[TextAnalysis.scrub]] ('g' flag: DuckDB replaces
    * first-match-only by default, Spark replaces all). */
  private def sqlScrub(c: String) =
    "regexp_replace(regexp_replace(regexp_replace(" + c +
      ", 'https?://[^ ]+', '<URL>', 'g')" +
      ", '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')" +
      ", '[0-9]{7,}', '<NUM>', 'g')"

  /** Per-language stopword-profile scores (one SELECT per language,
    * UNION ALL) over any table with (doc_id, text). */
  private def sqlLangProfiles(table: String) =
    TextAnalysis.langProfiles.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""SELECT doc_id, '$lang' AS lang,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x IN $set)) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The imported text-classifier model (q_text_classifier): 64 hash
    * buckets with deterministic mixed-sign milliweights, bias −400,
    * keep-threshold 0 — a stand-in for any trainer's JSON export (see
    * [[graft.llm.LinearTextModel]]). Both engines consume the SAME weight
    * list: Spark through fromJson, the oracle as an inline SQL list
    * literal, generated from one Seq so they cannot drift. */
  private val tcDim = 64
  private val tcWeights: Seq[Long] = (0 until tcDim).map(i => (((i * 37) % 211) - 105).toLong)
  private val tcModelJson =
    s"""{"dim": $tcDim, "bias_milli": -400, "threshold_milli": 0,
       | "weights_milli": [${tcWeights.mkString(", ")}]}""".stripMargin

  // ---- queries ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: hash-group, min-id representative
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),

    // MinHash + LSH banding + bucket join + signature-estimate prune (>= 6/8)
    // + true-Jaccard verify (>= 0.9)
    "q_dedup_minhash" -> ((s, dir) => minhashPairs(t(s, dir, "documents"))),

    // the dedup deliverable: near-dup pairs -> connected components ->
    // canonical doc per cluster (keep the min doc_id)
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(minhashPairs(t(s, dir, "documents")))
        .select(col("doc_id"), col("cluster_id").as("canonical_id"))),

    // the production dedup policy: cluster near-dups, keep the HIGHEST-
    // QUALITY copy per cluster (not the min id) — clusters x quality
    // scoring x top-1-per-group composed into one mapping (doc -> keeper)
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepBest(docs, minhashPairs(docs))
    }),

    // the EXCISION step on top of keep-best: rewrite the corpus with every
    // non-keeper dropped, composed as an EtlGroup DAG through the Catalog
    // (mapping node -> anti-join rewrite node) with an incremental-cache
    // snapshot of the rewritten corpus — the reference's crawl cache shape
    // (crawl.py:117-153): the NEXT run would keep-first-merge against
    // rw_corpus_cache instead of recomputing. Result is read back THROUGH
    // the cache, so the snapshot is load-bearing, not decorative.
    "q_dedup_rewrite" -> ((s, dir) => {
      import graft.engine.{Catalog, DfNode, EtlGroup}
      val work = java.nio.file.Files.createTempDirectory("graft_dedup_rw")
      graft.TempCleanup.deleteOnExit(work)
      val cat = new Catalog(s, work.toString)
      cat.link("rw_docs", s"$dir/documents.parquet")
      val mapping = new DfNode("rw_mapping", Seq("rw_docs"), Seq("rw_mapping"),
        fn = { case Seq(docs) => Seq(Dedup.keepBest(docs, minhashPairs(docs))) })
      val rewrite = new DfNode("rw_rewrite", Seq("rw_docs", "rw_mapping"), Seq("rw_corpus"),
        fn = { case Seq(docs, m) =>
          val losers = m.filter(col("doc_id") =!= col("keep_id")).select("doc_id")
          Seq(docs.join(losers, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), md5(col("text").cast("binary")).as("digest")))
        })
      // rw_mapping composes into the anti-join (EtlGroup.lazyIds); rw_corpus
      // is the group output, durable parquet that the snapshot below reads
      new EtlGroup("dedup_rewrite", Seq(mapping, rewrite))
        .execute(cat, maxActiveRun = 2)
      cat.snapshot("rw_corpus")
      cat.loadCache("rw_corpus")
    }),

    // INCREMENTAL near-dup: the previous run's shingle sets + signatures are
    // PERSISTED through the catalog (write + read-back, the stored-index
    // contract), then a new batch (doc_id % 4 == 0) is checked against them —
    // the reference's cache/incremental pattern applied to the dedup pillar.
    // Equals the full cascade filtered to pairs touching the batch.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 4 =!= 0)
      val newBatch = docs.filter(col("doc_id") % 4 === 0)
      val work = java.nio.file.Files.createTempDirectory("graft_inc_dedup")
      graft.TempCleanup.deleteOnExit(work)
      val cat = new graft.engine.Catalog(s, work.toString)
      // the whole query is materializations (two index writes, then the
      // gated cascade's eager result), so the static scope is sound for
      // the setup writes too — on a small corpus their AQE stage
      // re-planning was most of the remaining wall time
      graft.ops.StaticScope.scoped(docs) {
        // ONE fused (id, shs, h0..h7) index artifact (r20, the same fusion
        // discipline as the in-memory cascade): the r19 shape wrote shingle
        // sets, read them back, computed signatures, and wrote those too —
        // two write+read cycles and an extra scan for rows that always
        // travel together. The artifact is PARQUET, so each consumer prunes
        // to its columns at the scan (the sig read never deserializes the
        // heavy shs arrays — unlike a fused localCheckpoint block read).
        // Same signature values (same fold), same pairs out.
        cat.write(Dedup.minhashSignatures(
          Dedup.shingleSets(existing, "text", "doc_id", k = 5), "doc_id", numHashes = 8), "idx")
        val idx = cat.read("idx")
        Dedup.incrementalNearDups(
          newBatch, "text", "doc_id",
          existingSets = idx.select(col("doc_id"), col("shs")),
          existingSig = idx.drop("shs"),
          k = 5, numHashes = 8, bands = 4, threshold = 0.9)
      }
    }),

    // 16-bit SimHash fingerprints (majority vote of token-hash bits)
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id")),

    // C4-style span dedup: sentence spans repeated across the corpus
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.spanDedup(t(s, dir, "documents"), "text", "doc_id", minLen = 20)),

    // blocked distinct-token Jaccard (block = lang + length bucket)
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.tokenJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        blockKey = concat_ws(":", col("lang"), expr("size(split(text, ' ')) div 20")),
        threshold = 0.95)),

    // embedding near-dup: stored-plane sign-bucket LSH + quantized cosine >= 0.25
    "q_dedup_embedding" -> ((s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        lshPlanes, threshold = 0.25)),

    // SemDeDup semantic dedup: Lloyd-clustered embeddings, prune the less
    // prototypical member of every within-cluster near-dup pair. Reuses the
    // trained-IVF index artifacts (seeds + inverted lists) — clustering is
    // once-per-snapshot; the measured query is the within-cluster prune.
    "q_dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = AnnIndex.table(s, dir, "ivfk_seeds")(
        Similarity.kmeansSeeds(emb, "vec_id", "embedding", nLists = 16, iters = 2))
      val lists = AnnIndex.table(s, dir, "ivfk_lists")(
        Similarity.assignToLists(emb, "vec_id", "embedding", seeds, "match_id"))
      Dedup.semanticPrune(emb, "vec_id", "embedding", nClusters = 16,
        trainIters = 2, threshold = 0.35, seedTable = Some(seeds),
        assignedTable = Some(lists.withColumnRenamed("match_id", "vec_id")))
    }),

    // brute-force cosine top-5 for the first 10 query vectors
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    }),

    // LSH-bucketed top-5 (the scale path; same queries, bucket-bounded)
    // against the STORED random hyperplanes — the production bucket
    // function (axis planes degrade silently on basis-correlated embeddings)
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bucketTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        lshPlanes, k = 5)
    }),

    // multi-probe LSH top-5: own bucket + all 1-bit-flip neighbor buckets,
    // stored planes
    "q_ann_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.multiProbeTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        lshPlanes, k = 5)
    }),

    // IVF-style top-5: 16 seed centroids -> inverted lists -> probe own list
    "q_ann_ivf" -> ((s, dir) => untrainedIvf(t(s, dir, "embeddings"), nProbe = 1)),

    // IVF multi-probe: each query searches its 4 nearest inverted lists
    // (the IVF recall knob; candidates strictly superset probe-1's)
    "q_ann_ivf_multiprobe" -> ((s, dir) => untrainedIvf(t(s, dir, "embeddings"), nProbe = 4)),

    // IVF with a TRAINED coarse quantizer: 2 deterministic Lloyd rounds
    // refine the seed centroids before the lists are built (the oracle
    // mirrors the exact integer-arithmetic rounds in SQL)
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // trained-IVF lifecycle: the Lloyd-refined seeds and the inverted
      // lists are once-per-snapshot index artifacts (built on first use in
      // this JVM — see AnnIndex); the measured query is the per-batch probe
      val seeds = AnnIndex.table(s, dir, "ivfk_seeds")(
        Similarity.kmeansSeeds(emb, "vec_id", "embedding", nLists = 16, iters = 2))
      val lists = AnnIndex.table(s, dir, "ivfk_lists")(
        Similarity.assignToLists(emb, "vec_id", "embedding", seeds, "match_id"))
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        seeds, lists, k = 5)
    }),

    // Product-quantization top-5 by integer ADC score: 8 subspaces x 16
    // codes, candidates scored via the per-query lookup table over 8-byte
    // codes (32x memory compression; exact BIGINT scores — the whole
    // codebook/encode/search path is oracle-checked)
    // NOTE: q_ann_pq / q_ann_pq_rerank are the FLAT-ADC baselines — every
    // code is scanned per query. The recommended scale path is the composed
    // q_ann_ivfpq below, which prunes the ADC scan to the probed lists.
    "q_ann_pq" -> ((s, dir) => untrainedPq(s, dir, rerank = 0)),

    // PQ over a TRAINED codebook: 2 deterministic per-subspace Lloyd rounds
    // refine the first-16-vectors seeds before encode (the oracle replays
    // the identical integer rounds in SQL). Same flat-ADC search as
    // q_ann_pq — only the codebook differs.
    "q_ann_pq_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = AnnIndex.codebook(s, dir, "pq_cb_t2")(
        Similarity.pqCodebookTrained(emb, "vec_id", "embedding", m = 8, nCodes = 16, iters = 2))
      val enc = AnnIndex.table(s, dir, "pq_enc_t2")(
        Similarity.pqEncode(emb, "vec_id", "embedding", cb, "match_id"))
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), "vec_id", "embedding", cb, enc, k = 5)
    }),

    // PQ with exact re-rank: ADC short-list of 50, then full-precision
    // cosine re-ranking to top-5 (the standard two-stage PQ recall fix)
    "q_ann_pq_rerank" -> ((s, dir) => untrainedPq(s, dir, rerank = 50)),

    // Composed IVF×PQ (the FAISS IndexIVFPQ shape): 16 inverted lists prune
    // the scan to each query's 4 nearest lists, PQ ADC scores the survivors,
    // exact cosine re-ranks the top-50 short-list to top-5
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // seeds re-derive per run (a pushed-down `vec_id < 16` scan — cheap);
      // the codebook and the two-level (list_id, codes) table are the
      // once-per-snapshot artifacts and come from the AnnIndex cache
      val seeds = Similarity.untrainedSeeds(emb, "vec_id", "embedding", 16)
      val cb = untrainedPqCodebook(s, dir, emb)
      val enc = AnnIndex.table(s, dir, "ivfpq_enc")(
        Similarity.ivfPqEncode(emb, "vec_id", "embedding", seeds, cb, "match_id"))
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        seeds, cb, enc, k = 5, nProbe = 4, rerank = 50)
    }),

    // INCREMENTAL ANN index maintenance (the ANN twin of q_dedup_incremental):
    // the seed centroids and the existing corpus' inverted lists are
    // PERSISTED through the catalog at build time; a new batch
    // (vec_id % 4 == 0) is assigned against the STORED seeds only, and the
    // stored-∪-delta lists serve the probe. Per-row assignment is
    // deterministic given fixed seeds, so the maintained index is
    // row-identical to a full rebuild — which is exactly what the oracle
    // runs, proving the maintenance path loses nothing.
    "q_ann_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val existing = emb.filter(col("vec_id") % 4 =!= 0)
      val newBatch = emb.filter(col("vec_id") % 4 === 0)
      // build time (before the batch exists): 16 seeds from the existing
      // corpus (vec_ids 1..21 minus the multiples of 4 held out as the
      // future batch) and the existing corpus' list assignments — stored
      // index artifacts with the usual AnnIndex lifecycle
      val storedSeeds = AnnIndex.table(s, dir, "inc_seeds")(
        Similarity.untrainedSeeds(existing, "vec_id", "embedding", 22))
      val storedLists = AnnIndex.table(s, dir, "inc_lists")(
        Similarity.assignToLists(existing, "vec_id", "embedding",
          storedSeeds, "match_id"))
      // the maintenance work: assign ONLY the new batch against the stored
      // seeds — the existing corpus is never rescanned — and probe the
      // stored ∪ delta lists
      val delta = Similarity.assignToLists(newBatch, "vec_id", "embedding",
        storedSeeds, "match_id")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        storedSeeds, storedLists.unionByName(delta), k = 5)
    }),

    // token counting: whitespace + BPE-ish regex subword count
    "q_text_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))),

    // corpus document-frequency quality signal: per-doc distinct-token df
    // mass (both tails — rare-token gibberish and common-token boilerplate —
    // are the filter targets)
    "q_text_docfreq" -> ((s, dir) =>
      TextAnalysis.docFrequencyScore(t(s, dir, "documents"), "text", "doc_id")),

    // quality scoring (length / word-shape / stopword-ratio mix)
    "q_text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    // imported hashed-BoW linear classifier (fastText/CCNet quality-gate
    // shape): the JSON-exported model applied as one codegen'd expression,
    // integer-exact (md5-bucket hash, milliunit weights, BIGINT sum)
    "q_text_classifier" -> ((s, dir) => {
      val model = graft.llm.LinearTextModel.fromJson(tcModelJson)
      graft.llm.TextClassifier.classify(t(s, dir, "documents"), "text", "doc_id", model)
    }),

    // language-ID heuristic (stopword-profile argmax)
    "q_text_langid" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "text", Seq("doc_id"))),

    // document fingerprint (min MD5 over char 8-grams)
    "q_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "text", "doc_id")),

    // benchmark decontamination: flag docs sharing >= 3 distinct word
    // trigrams with the "benchmark" slice (doc_id < 50) of the corpus
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminationFlags(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "text", "doc_id", n = 3, minHits = 3)
    }),

    // C4-style scrubbing: URL -> email -> long-digit-run redaction
    "q_text_scrub" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.scrub(col("text")).as("clean_text"))),

    // the composed preprocessing pipeline as ONE declarative plan: exact-dup
    // winners only (min doc_id per content digest), token-count bounds,
    // quality floor, inline language-ID, scrubbed text — one shuffle total
    // (the dedup-winner aggregate; everything else is narrow codegen)
    "q_clean_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keep = docs.groupBy(md5(col("text")).as("digest"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val best = TextAnalysis.langIdBest(col("text"))
      docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(TextAnalysis.tokenCount(col("text")).between(10, 10000))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
        .select(col("doc_id"), best.getField("lang").as("pred_lang"),
          col("quality"), TextAnalysis.scrub(col("text")).as("clean_text"))
    }),

    // Gopher-style repetition filters: dup-bigram + top-token fractions
    "q_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "text", "doc_id")),

    // deterministic stratified subsample: 50% of English by content hash,
    // 20% of every other language — reproducible corpus mixing (hash-gated,
    // not rand(), so the subsample is stable across runs and engines)
    "q_sample_stratified" -> ((s, dir) =>
      Corpus.stratifiedSample(t(s, dir, "documents"), "cast(doc_id AS string)",
        "lang", Map("en" -> 50), defaultRate = 20)
        .select(col("doc_id"), col("lang"))),

    // token-budget sequence packing: per-language streams ordered by doc_id,
    // chunked into 512-token training sequences (seq_id + offset per doc)
    "q_pack_sequences" -> ((s, dir) =>
      Corpus.packSequences(t(s, dir, "documents"),
        TextAnalysis.tokenCount(col("text")), partCols = Seq("lang"),
        orderCol = "doc_id", maxTokens = 512)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))),

    // vocabulary build: top-100 whitespace tokens with deterministic rank
    "q_vocab_top" -> ((s, dir) =>
      Corpus.vocabulary(t(s, dir, "documents"), "text", topN = 100)),

    // token-budget mixture: per-source keep-rates derived from token
    // budgets (basis points, exact integer arithmetic), applied via the
    // portable md5 gate — deterministic corpus mixing the oracle replays
    "q_mix_budget" -> ((s, dir) => {
      Corpus.mixByTokenBudget(t(s, dir, "documents"),
        idCol = "cast(doc_id AS string)", sourceCol = "source",
        tokenCol = size(split(col("text"), " ")),
        budgets = Map("src0" -> 200L, "src1" -> 500L, "src2" -> 0L, "src3" -> 100000L))
        .select(col("doc_id"), col("source"))
    }),

    // context-window chunking: 128-token windows with 32-token overlap,
    // entirely narrow (no shuffle) — long docs into model-sized pieces
    "q_chunk_documents" -> ((s, dir) =>
      Corpus.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 128, overlap = 32)),

    // heavy hitters from BOUNDED state: per-language top-10 words via the
    // Misra-Gries freq_topk aggregate — capacity 1024 exceeds the sf
    // vocabulary, so counts are exact and the oracle is the exact group-count
    // (at 100 TB the same plan runs with O(capacity) state per group while
    // exact counting would hold the full vocabulary)
    "q_heavy_hitters" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      words.groupBy("lang")
        .agg(graft.expr.FreqSketch(col("word"), k = 10, capacity = 1024).as("hh"))
        .select(col("lang"), explode(col("hh")).as("e"))
        .select(col("lang"), col("e.value").as("word"), col("e.cnt").as("cnt"))
    }),

    // multimodal plumbing: binary payload -> distributed (stub) decode -> meta
    "q_multimodal_meta" -> ((s, dir) => {
      // size-clamped spread (not full width): the meta pass is per-BYTE
      // bound over the real payload column, and r19's full-width spread
      // cost more than it bought on the ~600 KB input (guide §2, r19
      // verdict) — Spread.bySize leaves inputs this small unspread
      val media = Multimodal.asMedia(
        Spread.bySize(t(s, dir, "documents"), "doc_id"), "doc_id", "text")
      Multimodal.extractMeta(media).toDF()
        .select(col("id"), col("n_bytes").cast("long").as("n_bytes"), col("digest"),
          col("checksum"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),

    // REAL header decode, oracle-checked end to end: synthesize genuine
    // PNG/GIF/BMP/JPEG container headers per document (width/height packed
    // from doc_id with the format's own endianness, all codegen'd hex/unhex
    // — no UDF), run them through HeaderDecoder's byte-slicing parse, and
    // let the oracle recompute the dimensions in closed form from doc_id.
    // Any bit-order, offset, or endianness bug in either the packer or the
    // parser breaks the hash match.
    "q_multimodal_decode" -> ((s, dir) => {
      val wh4 = "lpad(hex(1 + doc_id % 1000), 4, '0')" // width, BE16 hex
      val hh4 = "lpad(hex(1 + doc_id % 600), 4, '0')" // height, BE16 hex
      def le2(be4: String) = s"concat(substr($be4, 3, 2), substr($be4, 1, 2))"
      val w8 = "lpad(hex(1 + doc_id % 1000), 8, '0')"
      val h8 = "lpad(hex(1 + doc_id % 600), 8, '0')"
      def le4(be8: String) =
        s"concat(substr($be8, 7, 2), substr($be8, 5, 2), substr($be8, 3, 2), substr($be8, 1, 2))"
      val payloadHex =
        s"""CASE CAST(doc_id % 4 AS INT)
           |  WHEN 0 THEN concat('89504E470D0A1A0A0000000D49484452', $w8, $h8, '0806000000')
           |  WHEN 1 THEN concat('474946383961', ${le2(wh4)}, ${le2(hh4)}, '00')
           |  WHEN 2 THEN concat('424D0000000000000000360000002800'
           |              || '0000', ${le4(w8)}, ${le4(h8)})
           |  ELSE concat('FFD8FFC0000B08', $hh4, $wh4, '01')
           |END""".stripMargin
      val media = Multimodal.asMedia(
        Spread.full(t(s, dir, "documents"), "doc_id")
          .select(col("doc_id"), unhex(expr(payloadHex)).as("payload")),
        "doc_id", "payload")
      Multimodal.extractMeta(media).toDF()
        .select(col("id"), col("format"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),

    // REAL PIXEL decode, oracle-checked per pixel: synthesize a complete
    // uncompressed 24-bpp BMP per document (4-byte-padded rows, BOTTOM-UP
    // storage order, B,G,R channel order — all built with codegen'd
    // hex/concat, no UDF), walk its pixel array with
    // HeaderDecoder.decodePixels, and emit the rolling per-pixel checksum
    // Σ (k+1)·(B + 2·G + 3·R) over the logical top-down index k. The oracle
    // recomputes the checksum in closed form from doc_id without touching
    // bytes, so any stride/padding/row-order/channel-order bug in either
    // the packer or the parser breaks the hash match.
    "q_multimodal_pixels" -> ((s, dir) => {
      val d = "doc_id"
      val w = s"(1 + $d % 4)" // 1..4: strides 4,8,12,12 — pads 1,2,3,0
      val h = s"(1 + $d % 3)" // 1..3 rows
      val pad = s"((4 - (3 * $w) % 4) % 4)"
      val stride = s"(3 * $w + $pad)"
      def le4(v: String) = {
        val be8 = s"lpad(hex($v), 8, '0')"
        s"concat(substr($be8, 7, 2), substr($be8, 5, 2), substr($be8, 3, 2), substr($be8, 1, 2))"
      }
      val headerHex =
        s"""concat('424D', ${le4(s"(54 + $stride * $h)")}, '00000000', '36000000',
           |  '28000000', ${le4(w)}, ${le4(h)}, '0100', '1800', '00000000',
           |  ${le4(s"($stride * $h)")}, '00000000', '00000000', '00000000', '00000000')""".stripMargin
      // storage rows bottom-up: stored row sr holds logical row y = h-1-sr
      val pixelsHex =
        s"""array_join(transform(sequence(0, $h - 1), sr -> concat(
           |  array_join(transform(sequence(0, $w - 1), x -> concat(
           |    lpad(hex(($d + 3 * x + 7 * ($h - 1 - sr)) % 256), 2, '0'),
           |    lpad(hex((2 * $d + 5 * x + ($h - 1 - sr)) % 256), 2, '0'),
           |    lpad(hex((x * ($h - 1 - sr) + $d) % 256), 2, '0'))), ''),
           |  repeat('00', $pad))), '')""".stripMargin
      val media = Multimodal.asMedia(
        Spread.full(t(s, dir, "documents"), "doc_id")
          .select(col("doc_id"),
            unhex(expr(s"concat($headerHex, $pixelsHex)")).as("payload")),
        "doc_id", "payload")
      Multimodal.extractPixels(media, "bmp", Multimodal.HeaderDecoder.decodePixels).toDF()
        .select(col("id"), col("format"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pix_checksum"))
    }),

    // REAL PNG pixel decode, oracle-checked per pixel: encode a complete PNG
    // per document (real zlib DEFLATE via java.util.zip.Deflater, real
    // chunk CRCs, scanline filter type cycling (doc_id + y) % 5 so every
    // unfilter path — None/Sub/Up/Average/Paeth — is exercised across the
    // corpus), then decode it back through the full inflate + unfilter walk.
    // The oracle recomputes the checksum in closed form from doc_id without
    // touching a byte, so the pixels must survive the real compression
    // round-trip bit-exactly; a known-good external fixture in
    // LlmSpec rules out a symmetric encoder/decoder filter bug.
    "q_multimodal_png" -> ((s, dir) =>
      codecRoundTrip(s, dir, Multimodal.extractPixels(_, "png", PngCodec.decodePixels)) { d =>
        PngCodec.encode((1 + d % 5).toInt, (1 + d % 4).toInt, 3,
          (x, y, c) => c match {
            case 0 => ((d + 3L * x + 7L * y) % 256).toInt
            case 1 => ((2L * d + 5L * x + y) % 256).toInt
            case _ => ((x.toLong * y + d) % 256).toInt
          },
          y => ((d + y) % 5).toInt)
      }),

    // REAL baseline-JPEG pixel decode, oracle-checked bit-exactly despite
    // JPEG being lossy: each 8x8 block is constant at an even offset from
    // 128, so its DCT is DC-only and the Annex-K luma DC quantizer (16)
    // divides 8*(v-128) exactly — quantization is lossless on this family
    // while the full machinery (forward DCT, per-block DC-delta Huffman,
    // EOB codes, byte stuffing, 3-component YCbCr scan, inverse DCT, color
    // conversion) runs for real. The oracle recomputes the checksum in
    // closed form from doc_id; JpegSpec's hand-derived fixture and
    // independent-pipeline test cover the general AC path.
    "q_multimodal_jpeg" -> ((s, dir) =>
      codecRoundTrip(s, dir, Multimodal.extractPixels(_, "jpeg", JpegCodec.decodePixels)) { d =>
        JpegCodec.encode(8 * (1 + d % 3).toInt, 8 * (1 + d % 2).toInt, 3, (x, y, _) =>
          (128 + 2 * (((d + 3L * (x / 8) + 5L * (y / 8)) % 64) - 32)).toInt)
      }),

    // REAL GIF pixel decode, oracle-checked per pixel: LZW is lossless, so
    // any palette-indexed image must round-trip bit-exactly — the per-doc
    // image runs real LZW compression (dictionary growth, width bumps) and
    // a graphic-control extension the decoder must skip structurally. Odd
    // docs are written INTERLACED, so the four-pass row reorder is under
    // oracle too (the checksum is over presentation order, where the
    // closed form is interlace-invariant only because the decoder
    // de-interlaces correctly... the pixel function depends on y, so a
    // pass-order bug changes the checksum).
    "q_multimodal_gif" -> ((s, dir) => {
      val pal = Array.tabulate(8)(i => (i * 31 % 256, i * 57 % 256, i * 11 % 256))
      codecRoundTrip(s, dir, Multimodal.extractPixels(_, "gif", GifCodec.decodePixels)) { d =>
        GifCodec.encode((3 + d % 14).toInt, (3 + d % 11).toInt, pal,
          (x, y) => ((d + 3L * x + 5L * y) % 8).toInt, interlaced = d % 2 == 1)
      }
    }),

    // REAL audio decode: WAV/PCM is uncompressed, so the sample checksum is
    // exact by construction — what the oracle locks is the RIFF chunk walk,
    // 16-bit-signed vs 8-bit-unsigned handling, and channel interleave
    // (even docs are 16-bit stereo with signed samples, odd docs 8-bit
    // mono), per document from doc_id alone.
    "q_multimodal_wav" -> ((s, dir) =>
      codecRoundTrip(s, dir, Multimodal.extractAudio) { d =>
        val frames = (40 + d % 60).toInt
        if (d % 2 == 0)
          WavCodec.encode(16000, 2, 16, frames,
            (f, c) => (((d * 31 + f * 7 + c * 13) % 65536) - 32768).toInt)
        else
          WavCodec.encode(8000, 1, 8, frames, (f, _) => ((d * 31 + f * 7) % 256).toInt)
      })
  )

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      "SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents GROUP BY 1",

    "q_dedup_minhash" ->
      s"""WITH $sqlNearDupCtes
         |$sqlNearDupPairs""".stripMargin,

    // the full cascade restricted to pairs with at least one batch-side doc —
    // what the incremental index path must reproduce exactly
    "q_dedup_incremental" ->
      s"""WITH $sqlNearDupCtes
         |$sqlNearDupPairs AND (a % 4 = 0 OR b % 4 = 0)""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlNearDupCtes,
         |$sqlClusterCtes
         |SELECT id AS doc_id, min(comp) AS canonical_id FROM walk GROUP BY id""".stripMargin,

    // clusters via the same recursive CTE, then highest quality per cluster
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $sqlNearDupCtes,
         |$sqlClusterCtes,
         |$sqlKeepBestCtes
         |SELECT r.doc_id, k.doc_id AS keep_id
         |FROM ranked r JOIN ranked k ON r.cluster_id = k.cluster_id AND k.rn = 1""".stripMargin,

    // keep-best mapping extended one step: the corpus with every non-keeper
    // excised (same CTE chain, final anti-join against the losers)
    "q_dedup_rewrite" ->
      s"""WITH RECURSIVE $sqlNearDupCtes,
         |$sqlClusterCtes,
         |$sqlKeepBestCtes
         |SELECT d.doc_id, md5(d.text) AS digest
         |FROM documents d
         |WHERE d.doc_id NOT IN (
         |  SELECT r.doc_id FROM ranked r
         |  JOIN ranked k ON r.cluster_id = k.cluster_id AND k.rn = 1
         |  WHERE r.doc_id <> k.doc_id)""".stripMargin,

    "q_dedup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, '. ') AS sl FROM documents),
        |s AS (
        |  SELECT doc_id, i - 1 AS pos, sl[i] AS span
        |  FROM d, UNNEST(generate_series(1, len(sl))) AS t(i))
        |SELECT digest, keep.id AS keep_id, keep.pos AS keep_pos, span_cnt, doc_cnt FROM (
        |  SELECT md5(span) AS digest, min({'id': doc_id, 'pos': pos}) AS keep,
        |    count(*) AS span_cnt, count(DISTINCT doc_id) AS doc_cnt
        |  FROM s WHERE length(span) >= 20
        |  GROUP BY 1 HAVING count(*) > 1) g""".stripMargin,

    "q_dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |bits AS (
        |  SELECT doc_id, b.bit,
        |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), 1 + b.bit // 4, 1)) - 1)
        |                   >> (3 - (b.bit % 4))) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
        |    count(*) AS n
        |  FROM tok, LATERAL (SELECT unnest(generate_series(0, 15)) AS bit) b
        |  GROUP BY doc_id, b.bit)
        |SELECT doc_id, CAST(sum(CASE WHEN 2*ones > n THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,

    "q_dedup_ngram" ->
      """WITH docs AS (
        |  SELECT doc_id, lang || ':' || CAST(len(string_split(text, ' ')) // 20 AS VARCHAR) AS blk,
        |    list_distinct(string_split(text, ' ')) AS tw
        |  FROM documents)
        |SELECT a, b, jaccard FROM (
        |  SELECT l.doc_id AS a, r.doc_id AS b,
        |    CAST(len(list_filter(l.tw, x -> list_contains(r.tw, x))) AS DOUBLE)
        |      / CAST(len(l.tw) + len(r.tw) - len(list_filter(l.tw, x -> list_contains(r.tw, x))) AS DOUBLE) AS jaccard
        |  FROM docs l JOIN docs r ON l.blk = r.blk AND l.doc_id < r.doc_id) p
        |WHERE jaccard >= 0.95""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH $sqlPlanesV
         |SELECT a, b, cos FROM (
         |  SELECT l.vec_id AS a, r.vec_id AS b, ${sqlQcos("l.qv", "r.qv")} AS cos
         |  FROM v l JOIN v r ON l.bucket = r.bucket AND l.vec_id < r.vec_id) p
         |WHERE cos >= 0.25""".stripMargin,

    // same Lloyd rounds + assignment as q_ann_ivf_kmeans, then the SemDeDup
    // prune
    "q_dedup_semantic" ->
      s"""WITH $sqlV,
         |$sqlKmeansCtes,
         |assigned AS (
         |${sqlAssign("vec_id, qv, list_id", "v", "s2")}),
         |scored AS (
         |  SELECT a.vec_id, a.qv, a.list_id, ${sqlQcos("a.qv", "s.sv")} AS ccos
         |  FROM assigned a JOIN s2 s USING (list_id)),
         |$sqlSemanticPrune""".stripMargin,

    "q_ann_topk" ->
      s"""WITH $sqlV
         |${sqlCosTopK("q.vec_id", "c.vec_id", "q.qv",
           "v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id")}""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH $sqlPlanesV
         |${sqlCosTopK("q.vec_id", "c.vec_id", "q.qv",
           "v q JOIN v c ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id")}""".stripMargin,

    "q_ann_multiprobe" ->
      s"""WITH $sqlPlanesV,
         |probes AS (
         |  SELECT vec_id AS query_id, qv,
         |    unnest([bucket] || list_transform(generate_series(0, 7), i -> xor(bucket, 1::BIGINT << i))) AS bucket
         |  FROM v WHERE vec_id < 10)
         |${sqlCosTopK("q.query_id", "c.vec_id", "q.qv",
           "probes q JOIN v c ON q.bucket = c.bucket AND q.query_id <> c.vec_id")}""".stripMargin,

    "q_ann_ivf" -> sqlIvfProbe1(s"seeds AS (${sqlSeeds("v")})", "seeds"),

    "q_ann_ivf_kmeans" -> sqlIvfProbe1(sqlKmeansCtes, "s2"),

    // full rebuild with the SAME seed rule the Spark side persisted — equal
    // to stored ∪ delta because per-row assignment is seed-deterministic
    "q_ann_incremental" ->
      sqlIvfProbe1(s"seeds AS (${sqlSeeds("v", "vec_id % 4 <> 0 AND vec_id < 22")})", "seeds"),

    "q_ann_pq" ->
      s"""${sqlPqAdc(s"cb AS (\n${sqlPqCodebook("v")})", "cb")}
         |${sqlAdcTopK("query_id, match_id, adc", 5)}""".stripMargin,

    "q_ann_pq_trained" ->
      s"""${sqlPqAdc(sqlPqTrainedCtes, "cb2")}
         |${sqlAdcTopK("query_id, match_id, adc", 5)}""".stripMargin,

    "q_ann_pq_rerank" ->
      s"""${sqlPqAdc(s"cb AS (\n${sqlPqCodebook("v")})", "cb")},
         |${sqlRerankTail("v q", "v")}""".stripMargin,

    // IVF pruning + PQ ADC + exact re-rank: the probes/assigned CTEs are
    // q_ann_ivf_multiprobe's, the cb/enc CTEs are q_ann_pq's — composed so
    // only vectors in probed lists are ADC-scored
    "q_ann_ivfpq" ->
      s"""WITH $sqlV,
         |seeds AS (${sqlSeeds("v")}),
         |assigned AS (
         |${sqlAssign("vec_id, list_id", "v", "seeds")}),
         |probes AS (
         |${sqlAssign("vec_id AS query_id, qv, list_id", "v", "seeds", "x.vec_id < 10", "rn <= 4")}),
         |cb AS (
         |${sqlPqCodebook("v")}),
         |enc AS (
         |${sqlPqAssign("v", "cb")}),
         |${sqlIvfAdc("assigned", "enc", "cb")},
         |${sqlRerankTail("v q", "v")}""".stripMargin,

    "q_ann_ivf_multiprobe" ->
      s"""WITH $sqlV,
         |seeds AS (${sqlSeeds("v")}),
         |assigned AS (
         |${sqlAssign("vec_id, qv, list_id", "v", "seeds")}),
         |probes AS (
         |${sqlAssign("vec_id AS query_id, qv, list_id", "v", "seeds", "x.vec_id < 10", "rn <= 4")})
         |${sqlCosTopK("q.query_id", "c.vec_id", "q.qv",
           "probes q JOIN assigned c ON q.list_id = c.list_id\n    AND q.query_id <> c.vec_id")}""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "q_text_docfreq" ->
      """WITH postings AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |    FROM documents) p
        |  WHERE tok <> ''),
        |dft AS (SELECT tok, count(*) AS df FROM postings GROUP BY tok)
        |SELECT p.doc_id,
        |  count(*) AS n_distinct_tokens,
        |  CAST(sum(d.df) AS BIGINT) AS sum_df,
        |  CAST(sum(d.df) AS DOUBLE) / count(*) AS avg_df
        |FROM postings p JOIN dft d USING (tok)
        |GROUP BY p.doc_id""".stripMargin,

    "q_text_quality" ->
      s"""SELECT doc_id,
         |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |  + least((CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 5.0, 1.0) * 0.25
         |  + least(CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopSql)) AS DOUBLE)
         |          / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0) * 0.25 AS quality
         |FROM documents""".stripMargin,

    // same md5-nibble bucket, same milliweight list (one shared Seq), same
    // exact BIGINT sum — term order is irrelevant for integers
    "q_text_classifier" -> {
      def nib(i: Int) =
        s"(ascii(substr(md5(t), $i, 1)) - 48 - CASE WHEN ascii(substr(md5(t), $i, 1)) >= 97 THEN 39 ELSE 0 END)"
      val bucket = s"((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % $tcDim)"
      s"""SELECT doc_id, score_milli, score_milli >= 0 AS keep FROM (
         |  SELECT doc_id,
         |    CAST(-400 + list_sum(list_transform(string_split(text, ' '),
         |      t -> [${tcWeights.mkString(", ")}][$bucket + 1])) AS BIGINT) AS score_milli
         |  FROM documents) d""".stripMargin
    },

    "q_text_langid" -> {
      val profiles = sqlLangProfiles("documents")
      s"""WITH s AS ($profiles)
         |SELECT doc_id, lang AS pred_lang, score AS lang_score FROM (
         |  SELECT doc_id, lang, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
         |  FROM s) r WHERE rn = 1""".stripMargin
    },

    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tw FROM documents),
        |dg AS (SELECT DISTINCT doc_id, array_to_string(tw[i:i+2], ' ') AS g
        |       FROM t, UNNEST(generate_series(1, len(tw) - 2)) AS s(i)
        |       WHERE doc_id >= 50),
        |bg AS (SELECT DISTINCT array_to_string(tw[i:i+2], ' ') AS g
        |       FROM t, UNNEST(generate_series(1, len(tw) - 2)) AS s(i)
        |       WHERE doc_id < 50)
        |SELECT doc_id, count(*) AS n_shared
        |FROM dg JOIN bg USING (g)
        |GROUP BY doc_id HAVING count(*) >= 3""".stripMargin,

    "q_text_scrub" ->
      s"""SELECT doc_id, ${sqlScrub("text")} AS clean_text FROM documents""",

    "q_clean_corpus" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |d AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keep)
         |    AND len(string_split(text, ' ')) BETWEEN 10 AND 10000),
         |q AS (
         |  SELECT doc_id, text,
         |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |    + least((CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 5.0, 1.0) * 0.25
         |    + least(CAST(len(list_filter(string_split(text, ' '), x -> x IN $stopSql)) AS DOUBLE)
         |            / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0) * 0.25 AS quality
         |  FROM d),
         |s AS (${sqlLangProfiles("d")}),
         |l AS (
         |  SELECT doc_id, lang AS pred_lang FROM (
         |    SELECT doc_id, lang,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
         |    FROM s) r WHERE rn = 1)
         |SELECT q.doc_id, l.pred_lang, q.quality, ${sqlScrub("q.text")} AS clean_text
         |FROM q JOIN l USING (doc_id) WHERE q.quality >= 0.5""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, min(md5(sh)) AS fingerprint FROM (
        |  SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-7)) AS i) gs
        |  WHERE length(text) >= 8) s
        |GROUP BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b AS (
        |  SELECT doc_id, toks,
        |    list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1]) AS bg
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(bg) AS BIGINT) AS n_bigrams,
        |  CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE) AS dup_bigram_frac,
        |  CAST(list_max(list_transform(list_distinct(toks), d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS top_token_frac
        |FROM b""".stripMargin,

    "q_sample_stratified" -> {
      def nib(i: Int) = s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE (${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 100
         |  < CASE WHEN lang = 'en' THEN 50 ELSE 20 END""".stripMargin
    },

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) - n_tokens AS st
        |  FROM t)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(st // 512 AS BIGINT) AS seq_id,
        |  CAST(st % 512 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,

    // the mixture replayed declaratively: per-source token totals, budget ->
    // basis-point threshold in exact integer arithmetic, the same md5 gate
    "q_mix_budget" -> {
      def nib(i: Int) = s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      s"""WITH t AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n FROM documents),
         |tot AS (SELECT source, sum(n) AS tot FROM t GROUP BY source),
         |th AS (
         |  SELECT source,
         |    CASE source
         |      WHEN 'src0' THEN CASE WHEN 200 < tot THEN 200 * 10000 // tot ELSE 10000 END
         |      WHEN 'src1' THEN CASE WHEN 500 < tot THEN 500 * 10000 // tot ELSE 10000 END
         |      WHEN 'src2' THEN CASE WHEN 0 < tot THEN 0 ELSE 10000 END
         |      WHEN 'src3' THEN CASE WHEN 100000 < tot THEN 100000 * 10000 // tot ELSE 10000 END
         |      ELSE 10000 END AS th
         |  FROM tot)
         |SELECT t.doc_id, t.source
         |FROM t JOIN th ON t.source = th.source
         |WHERE (${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 10000 < th.th""".stripMargin
    },

    // same windows via DuckDB list slicing (1-based inclusive bounds =
    // Spark's slice(start, length) with clamping on both engines)
    "q_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    greatest(1, CAST(ceil((n - 32) / 96.0) AS INT)) AS nc
        |  FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(toks, i*96 + 1, i*96 + 128), ' ') AS chunk_text,
        |  CAST(len(list_slice(toks, i*96 + 1, i*96 + 128)) AS BIGINT) AS n_tokens
        |FROM c, UNNEST(generate_series(0, nc - 1)) AS u(i)""".stripMargin,

    // exact regime: sketch capacity >= per-language vocabulary at this sf,
    // so the sketch's counts equal the exact group-count
    "q_heavy_hitters" ->
      """WITH words AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |counts AS (
        |  SELECT lang, word, count(*) AS cnt FROM words GROUP BY 1, 2),
        |ranked AS (
        |  SELECT lang, word, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rn
        |  FROM counts)
        |SELECT lang, word, cnt FROM ranked WHERE rn <= 10""".stripMargin,

    "q_vocab_top" ->
      """SELECT token, cnt, rank FROM (
        |  SELECT token, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
        |  FROM (
        |    SELECT token, count(*) AS cnt
        |    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
        |    GROUP BY token) c) r
        |WHERE rank <= 100""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT id, n_bytes, digest, checksum,
        |  64 + (checksum % 576) AS width, 64 + (n_bytes % 416) AS height
        |FROM (
        |  SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS digest,
        |    CAST(list_sum(list_transform(generate_series(1, length(text)), i -> ord(substr(text, i, 1)))) % 997 AS BIGINT) AS checksum
        |  FROM documents) m""".stripMargin,

    // closed-form twin of the header-packing arithmetic: the Spark side must
    // round-trip these dimensions through real container bytes and the
    // byte-slicing parser to land on the same values
    "q_multimodal_decode" ->
      """SELECT doc_id AS id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
        |  1 + doc_id % 1000 AS width,
        |  1 + doc_id % 600 AS height
        |FROM documents""".stripMargin,

    // closed-form twin of the per-pixel checksum: the Spark side must
    // round-trip these channel values through real padded bottom-up BMP
    // bytes and the pixel walker to land on the same sums — the oracle
    // never touches a byte
    "q_multimodal_pixels" ->
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 4 AS w, 1 + doc_id % 3 AS h FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    (ys.y * d.w + xs.x + 1) * (
        |        ((d.doc_id + 3 * xs.x + 7 * ys.y) % 256)
        |      + 2 * ((2 * d.doc_id + 5 * xs.x + ys.y) % 256)
        |      + 3 * ((xs.x * ys.y + d.doc_id) % 256)) AS t
        |  FROM dims d,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.w AS INT) - 1)) AS x) xs,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.h AS INT) - 1)) AS y) ys)
        |SELECT doc_id AS id, 'bmp' AS format, w AS width, h AS height,
        |  CAST(sum(t) AS BIGINT) AS pix_checksum
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // closed-form twin of the PNG per-pixel checksum: the Spark side must
    // round-trip these channel values through a real zlib-deflated, CRC'd,
    // per-row-filtered PNG and the inflate + unfilter walk to land on the
    // same sums — the oracle never touches a byte
    "q_multimodal_png" ->
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 5 AS w, 1 + doc_id % 4 AS h FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    (ys.y * d.w + xs.x + 1) * (
        |        ((d.doc_id + 3 * xs.x + 7 * ys.y) % 256)
        |      + 2 * ((2 * d.doc_id + 5 * xs.x + ys.y) % 256)
        |      + 3 * ((xs.x * ys.y + d.doc_id) % 256)) AS t
        |  FROM dims d,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.w AS INT) - 1)) AS x) xs,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.h AS INT) - 1)) AS y) ys)
        |SELECT doc_id AS id, 'png' AS format, w AS width, h AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(sum(t) AS BIGINT) AS pix_checksum
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // closed-form twin of the JPEG checksum: per-block-constant pixel value
    // v = 128 + 2*(((doc_id + 3*bx + 5*by) % 64) - 32) decodes bit-exactly
    // (DC-only blocks, lossless under the Annex-K DC quantizer), R=G=B=v so
    // the channel-weighted sum is 6v — the oracle never encodes a byte
    "q_multimodal_jpeg" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    (ys.y * d.w + xs.x + 1) * 6 *
        |      (128 + 2 * (((d.doc_id + 3 * (xs.x // 8) + 5 * (ys.y // 8)) % 64) - 32)) AS t
        |  FROM dims d,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.w AS INT) - 1)) AS x) xs,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.h AS INT) - 1)) AS y) ys)
        |SELECT doc_id AS id, 'jpeg' AS format, w AS width, h AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(sum(t) AS BIGINT) AS pix_checksum
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // closed-form twin of the GIF checksum: palette entry i =
    // (31i%256, 57i%256, 11i%256), pixel index = (doc_id+3x+5y)%8 — LZW is
    // lossless so the decode must land on these values exactly, through
    // real compression and (odd docs) the interlaced row reorder
    "q_multimodal_gif" ->
      """WITH dims AS (
        |  SELECT doc_id, 3 + doc_id % 14 AS w, 3 + doc_id % 11 AS h FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    (ys.y * d.w + xs.x + 1) * (
        |        ((d.doc_id + 3 * xs.x + 5 * ys.y) % 8) * 31 % 256
        |      + 2 * (((d.doc_id + 3 * xs.x + 5 * ys.y) % 8) * 57 % 256)
        |      + 3 * (((d.doc_id + 3 * xs.x + 5 * ys.y) % 8) * 11 % 256)) AS t
        |  FROM dims d,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.w AS INT) - 1)) AS x) xs,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.h AS INT) - 1)) AS y) ys)
        |SELECT doc_id AS id, 'gif' AS format, w AS width, h AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(sum(t) AS BIGINT) AS pix_checksum
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // closed-form twin of the PCM checksum: Σ frame·(c+1)·s over 1-based
    // frames — 16-bit docs use the signed value ((...)%65536)-32768, 8-bit
    // docs the raw byte, exactly what a correct sign/interleave walk yields
    "q_multimodal_wav" ->
      """WITH dims AS (
        |  SELECT doc_id, 40 + doc_id % 60 AS frames, doc_id % 2 AS odd FROM documents),
        |samp AS (
        |  SELECT d.doc_id, d.frames, d.odd,
        |    CASE WHEN d.odd = 0 THEN
        |      (fs.f + 1) * (1 * (((d.doc_id * 31 + fs.f * 7) % 65536) - 32768)
        |                  + 2 * (((d.doc_id * 31 + fs.f * 7 + 13) % 65536) - 32768))
        |    ELSE (fs.f + 1) * ((d.doc_id * 31 + fs.f * 7) % 256) END AS t
        |  FROM dims d,
        |    LATERAL (SELECT unnest(generate_series(0, CAST(d.frames AS INT) - 1)) AS f) fs)
        |SELECT doc_id AS id, 'wav' AS format,
        |  CAST(CASE WHEN odd = 0 THEN 16000 ELSE 8000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN odd = 0 THEN 2 ELSE 1 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN odd = 0 THEN 16 ELSE 8 END AS BIGINT) AS bits,
        |  CAST(frames AS BIGINT) AS frames, CAST(sum(t) AS BIGINT) AS pcm_checksum
        |FROM samp GROUP BY doc_id, odd, frames""".stripMargin
  )

  // -------------------------------------------------------------------
  // Bench-only oracle symmetrization (round-14 advice): the Spark bench
  // amortizes ANN index artifacts across samples through the per-JVM
  // AnnIndex cache (trained seeds, inverted lists, PQ codebook, codes —
  // the production index lifecycle), while the standalone `oracleSql`
  // statements rebuild those artifacts INSIDE the timed statement. These
  // setup statements materialize the SAME artifacts as DuckDB temp tables
  // once per bench run (untimed), and `oracleBenchSql` re-expresses the
  // four index-bearing ANN queries against them — so the bench compares
  // marginal probe to marginal probe. Correctness is untouched: Verify and
  // the driver's gate still run `oracleSql`, which rebuilds from scratch.
  // Each override returns exactly the rows of its `oracleSql` counterpart
  // (pinned by tools/check.py --bench-sql).
  // -------------------------------------------------------------------

  /** Ordered (temp table, SELECT body) pairs; later entries may reference
    * earlier tables. Mirrors the AnnIndex artifact set: quantized corpus
    * vectors (stored as `v`/`vn` in every Spark-side index table), trained
    * IVF seeds + inverted lists, PQ codebook + codes, untrained IVF×PQ
    * list assignment. */
  val oracleSetupSql: Seq[(String, String)] = Seq(
    "ann_qv" -> s"SELECT vec_id, $sqlQuantize AS qv FROM embeddings",

    "ann_ivfk_seeds" ->
      s"""WITH v AS (SELECT vec_id, qv FROM ann_qv),
         |$sqlKmeansCtes
         |SELECT list_id, sv FROM s2""".stripMargin,

    "ann_ivfk_lists" -> sqlAssign("vec_id, list_id", "ann_qv", "ann_ivfk_seeds"),

    "ann_pq_cb" -> sqlPqCodebook("ann_qv"),

    "ann_pq_enc" -> sqlPqAssign("ann_qv", "ann_pq_cb"),

    "ann_pq_cb_t" ->
      s"""WITH v AS (SELECT vec_id, qv FROM ann_qv),
         |$sqlPqTrainedCtes
         |SELECT code, j, cv FROM cb2""".stripMargin,

    "ann_pq_enc_t" -> sqlPqAssign("ann_qv", "ann_pq_cb_t"),

    "ann_ivfpq_assigned" ->
      s"""WITH seeds AS (${sqlSeeds("ann_qv")})
         |${sqlAssign("vec_id, list_id", "ann_qv", "seeds")}""".stripMargin,

    "ann_inc_seeds" -> sqlSeeds("ann_qv", "vec_id % 4 <> 0 AND vec_id < 22"),

    "ann_inc_lists" -> sqlAssign("vec_id, list_id", "ann_qv", "ann_inc_seeds", "x.vec_id % 4 <> 0"))

  /** The bench's query batch: the first 10 vectors, quantized, as CTE `q`. */
  private val sqlBenchQ = s"q AS (SELECT vec_id, $sqlQuantize AS qv FROM embeddings WHERE vec_id < 10)"

  /** Probe-1 IVF over stored artifacts: each `q` row's nearest list of
    * `seeds`, scored against that list's members in `lists`. */
  private def sqlBenchProbe1(seeds: String, lists: String) =
    s"""probes AS (
       |${sqlAssign("vec_id AS query_id, qv, list_id", "q", seeds)})
       |${sqlCosTopK("p.query_id", "l.vec_id", "p.qv",
         s"probes p\n  JOIN $lists l ON l.list_id = p.list_id AND l.vec_id <> p.query_id\n  JOIN ann_qv c ON c.vec_id = l.vec_id")}""".stripMargin

  /** Timed statements for the symmetrized bench, keyed like `oracleSql`.
    * What stays inside the timer matches the Spark side exactly: query
    * quantization, probe assignment (and the IVF×PQ per-run seed scan),
    * candidate scoring, top-k — candidate vectors and codes come from the
    * pre-materialized artifact tables, as they come from AnnIndex there. */
  val oracleBenchSql: Map[String, String] = Map(
    "q_ann_ivf_kmeans" ->
      s"""WITH $sqlBenchQ,
         |${sqlBenchProbe1("ann_ivfk_seeds", "ann_ivfk_lists")}""".stripMargin,

    "q_ann_pq" ->
      s"""WITH $sqlBenchQ,
         |${sqlFlatAdc("q", "ann_pq_enc", "ann_pq_cb")}
         |${sqlAdcTopK("query_id, match_id, adc", 5)}""".stripMargin,

    "q_ann_pq_trained" ->
      s"""WITH $sqlBenchQ,
         |${sqlFlatAdc("q", "ann_pq_enc_t", "ann_pq_cb_t")}
         |${sqlAdcTopK("query_id, match_id, adc", 5)}""".stripMargin,

    "q_ann_pq_rerank" ->
      s"""WITH $sqlBenchQ,
         |${sqlFlatAdc("q", "ann_pq_enc", "ann_pq_cb")},
         |${sqlRerankTail("q", "ann_qv")}""".stripMargin,

    "q_ann_ivfpq" ->
      s"""WITH v16 AS (SELECT vec_id, $sqlQuantize AS qv FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id, qv FROM v16 WHERE vec_id < 10),
         |seeds AS (SELECT vec_id AS list_id, qv AS sv FROM v16),
         |probes AS (
         |${sqlAssign("vec_id AS query_id, qv, list_id", "q", "seeds", keep = "rn <= 4")}),
         |${sqlIvfAdc("ann_ivfpq_assigned", "ann_pq_enc", "ann_pq_cb")},
         |${sqlRerankTail("q", "ann_qv")}""".stripMargin,

    // the timer holds exactly the Spark side's maintenance work: the NEW
    // batch's assignment, the union with the stored lists, the probe
    "q_ann_incremental" ->
      s"""WITH delta AS (
         |${sqlAssign("vec_id, list_id", "ann_qv", "ann_inc_seeds", "x.vec_id % 4 = 0")}),
         |lists AS (
         |  SELECT vec_id, list_id FROM ann_inc_lists
         |  UNION ALL SELECT vec_id, list_id FROM delta),
         |q AS (SELECT vec_id, qv FROM ann_qv WHERE vec_id < 10),
         |${sqlBenchProbe1("ann_inc_seeds", "lists")}""".stripMargin,

    // the timer holds the SemDeDup marginal work: centroid-cosine scoring +
    // the within-cluster prune (clustering comes from the stored artifacts,
    // as it comes from AnnIndex on the Spark side)
    "q_dedup_semantic" ->
      s"""WITH scored AS (
         |  SELECT l.vec_id, q.qv, l.list_id, ${sqlQcos("q.qv", "s.sv")} AS ccos
         |  FROM ann_ivfk_lists l
         |  JOIN ann_qv q ON q.vec_id = l.vec_id
         |  JOIN ann_ivfk_seeds s ON s.list_id = l.list_id),
         |$sqlSemanticPrune""".stripMargin)
}
