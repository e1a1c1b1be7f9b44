package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines: deterministic
  * stratified subsampling, token-budget sequence packing, and vocabulary
  * construction. All three are hash/window/aggregate shapes — no driver-side
  * loops, no cross joins — and all are deterministic so the DuckDB oracle
  * checks them bit-exactly.
  */
object Corpus {

  /** Deterministic stratified subsample: keep a row iff its portable content
    * hash lands below the stratum's percentage — the reproducible "take X%
    * of English, Y% of the rest" mixing step every corpus recipe needs.
    * Sampling by hash (not rand()) means the subsample is stable across
    * runs, engines, and partitionings, and composes with incremental
    * pipelines (a re-crawled doc keeps its in/out fate).
    *
    * Scale shape: a narrow filter — no shuffle at all; the hash is computed
    * per row and compared to the stratum rate.
    *
    * @param idCol    SQL expression string for the identity to hash (cast to
    *                 string; e.g. "cast(doc_id AS string)")
    * @param stratumCol column whose value selects the rate
    * @param rates    stratum value -> keep percentage in [0, 100]
    * @param defaultRate keep percentage for strata not in `rates` */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultRate: Int): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 100),
      "rates must be percentages in [0, 100]")
    val bucket = graft.ops.PortableHash.md5Mod(idCol, 100)
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Token-budget sequence packing: concatenate each partition's documents
    * in a deterministic order and chunk the token stream into fixed
    * `maxTokens` windows — the "pack documents into training sequences"
    * step. Each document is assigned the sequence its FIRST token lands in
    * (`seq_id`) plus its offset within that sequence (`seq_offset`); a
    * document straddling a boundary spills into the next window, which is
    * exactly what a sequence writer needs to know to place it.
    *
    * Scale shape: ONE shuffle on `partCols` and a linear window scan (the
    * same cost as the sessionize operator); no state beyond the running sum.
    *
    * @param tokenCol  token count per row (any integral expression)
    * @param partCols  independent packing streams (e.g. language)
    * @param orderCol  deterministic order within a stream (e.g. doc id) */
  def packSequences(df: DataFrame, tokenCol: Column, partCols: Seq[String],
                    orderCol: String, maxTokens: Int): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = tokenCol.cast("long")
    val start = sum(toks).over(w) - toks
    // exact floor division past 2^53: start - pmod is an exact multiple of
    // maxTokens, so the decimal quotient is exact; bare `/` on longs is
    // DOUBLE division and would mis-chunk there
    val seqId = ((start - pmod(start, lit(maxTokens.toLong))).cast("decimal(38,0)")
      / lit(maxTokens.toLong)).cast("long")
    df.withColumn("n_tokens", toks)
      .withColumn("seq_id", seqId)
      .withColumn("seq_offset", pmod(start, lit(maxTokens.toLong)).cast("long"))
  }

  /** Token-budget corpus mixing: derive each source's keep-rate from a
    * TOKEN budget and apply it with the same portable hash gate as
    * [[stratifiedSample]] — "30B tokens of web, 5B of code, all of
    * wikipedia" declared as budgets instead of hand-tuned percentages,
    * which is how mixture recipes are actually written.
    *
    * The expected kept token count per source is ~min(budget, total); the
    * hash gate makes membership deterministic and stable under
    * re-partitioning, engine changes, and incremental reruns.
    *
    * Scale shape: one map-combinable totals agg (driver state = one row per
    * SOURCE — the same bounded statistics pass as IVF seeding and the
    * z-order min/max scan), then a narrow filter. Rates use pure integer
    * arithmetic (basis points via long division), so an independent engine
    * reproduces the exact row set.
    *
    * @param idCol   SQL expression string for the identity to hash
    * @param budgets source value -> token budget; sources absent from the
    *                map keep everything (budget = unlimited) */
  def mixByTokenBudget(df: DataFrame, idCol: String, sourceCol: String,
                       tokenCol: Column, budgets: Map[String, Long]): DataFrame = {
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    val totals = df.groupBy(col(sourceCol)).agg(sum(tokenCol.cast("long")).as("__tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val threshold = totals.foldLeft(lit(10000L)) { case (acc, (src, tot)) =>
      val th = budgets.get(src) match {
        case Some(b) if b < tot => b * 10000L / tot // bp, exact long arithmetic
        case _ => 10000L
      }
      when(col(sourceCol) === src, lit(th)).otherwise(acc)
    }
    df.filter(graft.ops.PortableHash.md5Mod(idCol, 10000) < threshold)
  }

  /** Context-window chunking: split each document's token stream into
    * fixed-size overlapping chunks — the "long document into model-sized
    * windows" step of every embedding/pretraining pipeline. Chunk `i`
    * covers tokens `[i*stride, i*stride + chunkTokens)` with
    * `stride = chunkTokens - overlap`; every document yields at least one
    * chunk (short docs come through whole), and consecutive chunks share
    * `overlap` tokens so no span is ever split without context.
    *
    * Scale shape: entirely NARROW — split + sequence/transform/slice HOFs +
    * posexplode, zero shuffles; output size is input tokens x (1 +
    * overlap/stride), known in advance. Deterministic, so the DuckDB list-
    * slicing formulation oracle-checks it bit-exactly.
    *
    * @param chunkTokens window size in whitespace tokens
    * @param overlap    tokens shared between consecutive chunks */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    val toks = split(col(textCol), " ")
    val nChunks = greatest(lit(1),
      ceil((size(toks) - lit(overlap)).cast("double") / lit(stride.toDouble)).cast("int"))
    df.withColumn("__toks", toks)
      .withColumn("__nc", nChunks)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => slice(col("__toks"), i * stride + 1, lit(chunkTokens)))).as(Seq("chunk_id", "__ct")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        array_join(col("__ct"), " ").as("chunk_text"),
        size(col("__ct")).cast("long").as("n_tokens"))
  }

  /** Vocabulary build: the `topN` most frequent whitespace tokens with
    * counts and a deterministic rank (count desc, token asc) — the
    * tokenizer-training prep step.
    *
    * Scale shape: explode + map-side-combinable count (one shuffle), then a
    * distributed take-ordered for the top N (Spark's TakeOrdered — each
    * partition contributes its local top N, no global sort); the rank is
    * the position in ONE sorted array of those N rows, since an
    * unpartitioned rank window would pull them through WindowExec's
    * single-partition fallback (and its "No Partition Defined" warning). */
  def vocabulary(df: DataFrame, textCol: String, topN: Int,
                 minCount: Long = 1L): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topN)
      // ascending (-cnt, token) = cnt desc, token asc
      .agg(sort_array(collect_list(struct((-col("cnt")).as("k"), col("token")))).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.token").as("token"), (-col("t.k")).as("cnt"),
        (col("pos") + 1).cast("long").as("rank"))
}
