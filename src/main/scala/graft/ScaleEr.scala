package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.er.{Blocking, DedupeField, Gazetteer, Pairing}

/** Off-toy scale proof for the ER blocking→pair→score path (round-18 verdict
  * item 6): the MinHash cascade has its 1.25 M-doc point (scale_dedup), but
  * the q_er_gazetteer-shaped gazetteer match and the blocking pair generator
  * had no measurement past the 60 k-row oracle tables. This harness builds a
  * ~1 M-record messy universe against a ~100 k-record canon table whose
  * predicate set contains a DELIBERATE stop-token: ~1 % of records on both
  * sides share one first-token block, so the ungated pair join funnels a
  * quadratic candidate set through a single join key — the skew shape a real
  * gazetteer hits on "inc"/"ltd"-style tokens. Measured both ways:
  *
  *  - gazetteer match ungated vs `maxBlockPairs`-gated
  *    ([[Gazetteer.matchTables]]): candidate rows, matched messy records
  *    (the cap's recall trade, recorded not hidden), wall, per-stage
  *    straggler;
  *  - dedupe-path pair generation ungated vs `maxBlockSize`-gated
  *    ([[Pairing.candidatePairs]]) over the same messy block table.
  *
  * Record: metric `scale_er` (merged by tools/scale_bench.py).
  */
object ScaleEr {

  def main(args: Array[String]): Unit = {
    val nMessy = sys.env.getOrElse("SCALE_MESSY", "1000000").toLong
    val nCanon = sys.env.getOrElse("SCALE_CANON", "100000").toLong
    val spark = Harness.session()
    val rec = new Harness.Recorder(spark)

    // --- the messy universe -------------------------------------------------
    // ~2000 ordinary first tokens + ONE stop token: canon entity c carries
    // first token "acme" when c % 97 == 0 (~1.0k canon records), messy rows
    // derive from entity e = id % nCanon (~10 messy per entity), so the
    // "0:acme"-style whole-token blocks pair ~10.3k messy × ~1.0k canon ≈
    // 10.6 M candidates through ONE key ungated. Names differ per record
    // (" ltd"/" co" suffix thirds), so scoring does real string work.
    def tok1(e: org.apache.spark.sql.Column) =
      when(e % 97 === 0, lit("acme")).otherwise(concat(lit("n"), e % 2000))
    val canon = spark.range(nCanon).select(
      concat(lit("c"), col("id")).as("rec_id"),
      concat(tok1(col("id")), lit(" corp "), col("id")).as("name"),
      concat(lit("city"), col("id") % 500).as("city"))
      .localCheckpoint(true)
    val messy = spark.range(nMessy).select(
      concat(lit("m"), col("id")).as("rec_id"),
      concat(tok1(col("id") % nCanon), lit(" corp "), col("id") % nCanon,
        when(col("id") % 3 === 0, lit(" ltd"))
          .when(col("id") % 3 === 1, lit(" co")).otherwise(lit(""))).as("name"),
      concat(lit("city"), (col("id") % nCanon) % 500).as("city"))
      .localCheckpoint(true)
    val (mCnt, cCnt) = (messy.count(), canon.count())

    val fields = Seq(DedupeField("name", DedupeField.StringDist, 2.0),
      DedupeField("city", DedupeField.Exact, 1.0))
    val preds = Blocking.defaultPredicates(col("name"))
    val messyBlocks = Blocking.blockTable(messy, "rec_id", preds).localCheckpoint(true)
    val canonBlocks = Blocking.blockTable(canon, "rec_id", preds).localCheckpoint(true)
    val (mbCnt, cbCnt) = (messyBlocks.count(), canonBlocks.count())
    System.err.println(s"[scale_er] messy=$mCnt canon=$cCnt blocks=$mbCnt/$cbCnt")

    val gatePairs = sys.env.getOrElse("SCALE_GAZ_MAX_PAIRS", "250000").toLong
    def gazetteer(cap: Long): DataFrame =
      Gazetteer.matchTables(messyBlocks, canonBlocks, messy, canon,
        "rec_id", fields, threshold = 0.5, maxBlockPairs = cap)

    // candidate volumes first (cheap counts — document the skew the match
    // phases then traverse)
    val canonB = canonBlocks.withColumnRenamed("messy_id", "canon_id")
    val candNogate = messyBlocks.join(canonB, Seq("block_key"))
      .select("messy_id", "canon_id").distinct().count()
    val hotKeys = messyBlocks.groupBy("block_key").agg(count(lit(1)).as("__m"))
      .join(canonB.groupBy("block_key").agg(count(lit(1)).as("__c")), Seq("block_key"))
      .filter(col("__m") * col("__c") > gatePairs).count()

    // row counts are deterministic: every sample of a phase must agree
    val gazNogate = rec.phase("gaz_nogate", same = identity)(gazetteer(0L).count())
    val gazGated = rec.phase("gaz_gated", same = identity)(gazetteer(gatePairs).count())
    // dropping blocks can only shrink the set of matched messy records — a
    // violation means the cap changed semantics, not just recall
    require(gazGated.value <= gazNogate.value,
      s"gated gazetteer matched MORE messy records: ${gazGated.value} > ${gazNogate.value}")

    // dedupe-path pair generation over the same messy block table
    val gateBlock = sys.env.getOrElse("SCALE_PAIR_MAX_BLOCK", "1000").toInt
    val pairsNogate =
      rec.phase("pairs_nogate", same = identity)(Pairing.candidatePairs(messyBlocks, 0).count())
    val pairsGated =
      rec.phase("pairs_gated", same = identity)(Pairing.candidatePairs(messyBlocks, gateBlock).count())
    require(pairsGated.value <= pairsNogate.value,
      s"gated pairing produced MORE pairs: ${pairsGated.value} > ${pairsNogate.value}")

    Harness.emit("scale_er", "messy" -> mCnt, "canon" -> cCnt,
      "messy_block_rows" -> mbCnt, "canon_block_rows" -> cbCnt,
      "cand_nogate" -> candNogate, "hot_keys_over_gate" -> hotKeys,
      "gaz_max_pairs" -> gatePairs, "pair_max_block" -> gateBlock,
      "phase_loads" -> rec.loads,
      "gaz_nogate_sec" -> gazNogate.sec, "gaz_nogate_matched" -> gazNogate.value,
      "gaz_gated_sec" -> gazGated.sec, "gaz_gated_matched" -> gazGated.value,
      "pairs_nogate_sec" -> pairsNogate.sec, "pairs_nogate" -> pairsNogate.value,
      "pairs_gated_sec" -> pairsGated.sec, "pairs_gated" -> pairsGated.value,
      "stragglers" -> rec.stragglers)
    spark.stop()
  }
}
