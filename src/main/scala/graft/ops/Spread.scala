package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Conditional cross-core spread for CPU-heavy per-row consumers above a
  * narrow scan (the one helper behind `Tables.readSpread` and the
  * multimodal codec queries).
  *
  * The sf-scale testdata tables are single-row-group parquet, so a scan —
  * and every narrow stage above it (Expand, partial aggregation, per-row
  * digest/codec work) — otherwise runs in ONE task. Hash-partitioning on a
  * high-cardinality column is deterministic under task retry (guide §2.5,
  * no rand-derived keys) and moves the narrow work across cores; a
  * production many-split scan is left untouched — the gate, not the
  * spread, is the scale story.
  *
  * Two cost classes (r19 verdict: full core width oversizes small inputs —
  * the 32-way KMV partial-merge fan-in cost more than the spread bought,
  * q_distinct_sketch ran 3× slower at 32 cores than at 8):
  *
  *  - [[bySize]]: per-BYTE-bound consumers (aggregates, digests over the
  *    row payload). Width derives from the planner's size estimate at
  *    `bytesPerTask` per task, clamped to core width, so a 2.6 MB input
  *    fans out to ~8 tasks instead of 32 and a 600 KB one is not spread
  *    at all.
  *  - [[full]]: per-ROW-bound consumers whose cost the planner cannot see
  *    (image/audio codec encode+decode synthesised FROM a pruned id
  *    column — the size estimate is a few KB while the work is seconds).
  *    Width stays the core count; the split-count gate alone decides.
  *
  * Contract (r19 advice): the input must be a SHUFFLE-FREE SCAN — the
  * split-count probe goes through `df.rdd`, which on a plan containing its
  * own exchanges would execute query stages at plan-build time. Guarded
  * here: a plan with an exchange is returned unchanged.
  */
object Spread {

  /** Default per-task byte target for [[bySize]]. Chosen by A/B at sf0.1
    * (see OPTIMIZATION_r20.md): orders (2.6 MB) → ~8 tasks matches the
    * measured KMV sweet spot; lineitem (11 MB) still saturates 32 cores,
    * keeping the r19 Expand-aggregate wins intact. Never affects results
    * (aggregates are order-independent). */
  val DefaultBytesPerTask: Long = 320L * 1024

  private def hasOwnShuffle(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])

  private def spreadTo(df: DataFrame, keyCol: String, want: Int): DataFrame =
    if (want < 2 || hasOwnShuffle(df) || df.rdd.getNumPartitions * 2 >= want) df
    else df.repartition(want, col(keyCol))

  /** Spread a per-byte-bound consumer: width = planner size estimate /
    * `bytesPerTask`, clamped to [2, cores]. Small inputs stay narrow. */
  def bySize(df: DataFrame, keyCol: String,
             bytesPerTask: Long = DefaultBytesPerTask): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (est / bytesPerTask + 1).min(BigInt(cores)).max(2).toInt
    spreadTo(df, keyCol, want)
  }

  /** Spread a per-row-bound consumer to full core width (the planner's
    * size estimate says nothing about codec cost per row). */
  def full(df: DataFrame, keyCol: String): DataFrame =
    spreadTo(df, keyCol, df.sparkSession.sparkContext.defaultParallelism)
}
