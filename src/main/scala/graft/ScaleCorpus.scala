package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared synthetic inputs of the off-toy harnesses — one recipe per shape,
  * so every harness that reads a shape measures the same rows. Pure SQL,
  * fully distributed.
  */
object ScaleCorpus {

  /** `copies`× the sf documents table as (doc_id, text), spread over `n`
    * partitions — [[ScaleBench]]'s dedup cascade and [[ScaleDecontam]]'s
    * decontamination. Copy 0 is the original document; one copy in ten
    * mutates a single token (a true near-dup the cascade must recall); all
    * other copies replace every fifth token with a digest (unique documents —
    * they must NOT pair). */
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

  /** A power-law random graph of `edges` draws over `nodes` ids
    * (`floor(N·u^2.5)` endpoints, u uniform, self-loops dropped): node 0
    * collects ~0.3% of all endpoint draws, the hub skew [[ScaleGraph]]'s
    * `cc_dist` phase stresses. Written to `dir`/edges.parquet and re-read
    * like a real input table. */
  def powerLawEdges(spark: SparkSession, edges: Long, nodes: Long, dir: String): DataFrame = {
    spark.range(edges).select(
        floor(pow(rand(7), 2.5) * nodes).cast("long").as("src"),
        floor(pow(rand(11), 2.5) * nodes).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .write.mode("overwrite").parquet(s"$dir/edges.parquet")
    spark.read.parquet(s"$dir/edges.parquet")
  }

  /** Microseconds in the 30 days [[events]] timestamps scatter over. */
  val TsRangeUs = 2592000000000L

  /** `n` events as (event_id, user_id, ts_us, event_type, value): user,
    * timestamp, click/view type and value each hash-scattered from the id
    * (xxhash64 seeds 2, 3, 4, 5). With `hotUser`, ~1% of events (seed 1) land
    * on user 0, the skew [[ScaleJoins]] probes. Callers select or rename. */
  def events(spark: SparkSession, n: Long, users: Long, hotUser: Boolean = false): DataFrame = {
    def h(seed: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed)), lit(m))
    spark.range(n).select(
      col("id").as("event_id"),
      (if (hotUser) when(h(1, 100) === 0, lit(0L)).otherwise(h(2, users)) else h(2, users)).as("user_id"),
      h(3, TsRangeUs).as("ts_us"),
      when(h(4, 2) === 0, lit("click")).otherwise(lit("view")).as("event_type"),
      (h(5, 1000) / lit(100.0)).as("value"))
  }
}
