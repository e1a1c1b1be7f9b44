package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared scaled-corpus builder for the off-toy text harnesses
  * ([[ScaleBench]]'s dedup cascade, [[ScaleDecontam]]'s decontamination) —
  * one recipe, so both measure the same corpus shape.
  *
  * Copy 0 is the original document; one copy in ten mutates a single token (a
  * true near-dup the cascade must recall); all other copies replace every
  * fifth token with a digest (unique documents — they must NOT pair). Pure
  * SQL, fully distributed.
  */
object ScaleCorpus {

  /** `copies`× the sf documents table as (doc_id, text), spread over `n`
    * partitions. */
  def build(spark: SparkSession, sfDir: String, copies: Int, n: Int): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .crossJoin(spark.range(copies).select(col("id").as("i")))
      .repartition(n, col("doc_id"), col("i"))
      .select(
        (col("doc_id") * 1000 + col("i")).as("doc_id"),
        expr("""CASE
             |  WHEN i = 0 THEN text
             |  WHEN i % 10 = 1 THEN concat('m', i, substring(text, 2))
             |  ELSE concat_ws(' ', transform(split(text, ' '),
             |         (w, j) -> CASE WHEN (j + i) % 5 = 0
             |                        THEN substring(md5(concat(w, '_', i)), 1, 6)
             |                        ELSE w END))
             |END""".stripMargin).as("text"))
}
