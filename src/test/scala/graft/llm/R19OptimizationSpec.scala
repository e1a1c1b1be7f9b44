package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Focused equivalence locks for the round-19 optimization rewrites: each
  * test pins an optimized internal against the formulation it replaced, so
  * a future change that drifts the values (rather than just the speed)
  * trips here instead of at the oracle gate. */
class R19OptimizationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank todaz"),
    (3L, "completely different content about spark engines and distributed joins"),
    (4L, "a b"), // shorter than k: produces no shingles
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today")
  ).toDF("doc_id", "text")

  test("minhashSignatures carries shs beside the h0..h7 signature columns") {
    val sets = Dedup.shingleSets(corpus, "text", "doc_id", 5)
    val sig = Dedup.minhashSignatures(sets, "doc_id", 8)
    assert(sig.columns.toSeq ===
      ("doc_id" +: "shs" +: (0 until 8).map(j => s"h$j")))
    // the carried shs column is the shingle-set table's, untouched
    val shsA = sets.orderBy("doc_id").collect().map(_.getSeq[String](1))
    val shsB = sig.orderBy("doc_id").collect().map(_.getSeq[String](1))
    assert(shsA.toSeq === shsB.toSeq)
  }

  test("scoreMilli (digest bound once) matches the inline-md5 reference formulation") {
    val model = LinearTextModel(16, Array.tabulate(16)(i => ((i * 37) % 211 - 105).toLong),
      biasMilli = -400L, thresholdMilli = 0L)
    val weightsLit = typedLit(model.weightsMilli.toSeq)
    // the pre-r19 formulation: md5 re-evaluated inside the lambda per nibble
    def nib(h: org.apache.spark.sql.Column, i: Int) = {
      val a = ascii(substring(h, i, 1))
      a - lit(48) - when(a >= lit(97), lit(39)).otherwise(lit(0))
    }
    def bits16Inline(c: org.apache.spark.sql.Column) =
      nib(md5(c), 1) * lit(4096) + nib(md5(c), 2) * lit(256) +
        nib(md5(c), 3) * lit(16) + nib(md5(c), 4)
    val reference = aggregate(
      transform(split(col("text"), " "),
        t => element_at(weightsLit, (pmod(bits16Inline(t), lit(model.dim)) + lit(1)).cast("int"))),
      lit(model.biasMilli), (acc, w) => acc + w)
    val got = corpus.select(col("doc_id"),
        TextClassifier.scoreMilli(col("text"), model).as("s"),
        reference.as("ref"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (id, s, ref) => assert(s === ref, s"doc $id") }
  }

  test("CC skips the re-checkpoint for materialized inputs with identical labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L)).toDF("src", "dst")
    // a repartition is NOT a materialized scan — this input takes the
    // defensive-checkpoint branch (a bare LocalRelation would be detected)
    val viaLive = graft.er.ConnectedComponents.run(edges.repartition(2))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // a checkpointed (materialized) input takes the skip path
    val viaCkpt = graft.er.ConnectedComponents.run(edges.localCheckpoint(true))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // a projection over the checkpoint still detects as materialized
    val viaProj = graft.er.ConnectedComponents.run(
        edges.localCheckpoint(true).select(col("src"), col("dst")))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaLive === viaCkpt)
    assert(viaLive === viaProj)
  }
}
