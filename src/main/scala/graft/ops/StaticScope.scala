package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Statistics-gated static planning for small-input multi-exchange plans.
  *
  * AQE materializes every exchange as a separate query stage with driver
  * re-planning in between (~0.15-0.25s per stage on this class of machine).
  * For a plan that is 5-10 exchanges deep over a few MB of input, that fixed
  * cost dwarfs the actual work (measured: token-Jaccard 3.1s with AQE vs
  * 1.4s static at sf0.1) — while at real scale the same re-planning is what
  * provides skew-join splitting and partition coalescing, and its cost
  * amortizes into multi-minute stages. So the physical strategy is picked
  * from the planner's own size estimate of the input — parquet file
  * statistics, free, no extra scan — the same statistics-driven dispatch as
  * Spark's broadcast threshold and this engine's CC driver-path gate.
  *
  * Soundness rule: lazily returned plans execute under whatever session conf
  * is active LATER, so a gated scope is only correct if everything it
  * returns is materialized INSIDE the scope. [[materialize]] enforces that
  * for single-plan callers ([[scoped]] is for iterative callers that manage
  * their own eager materialization per round, e.g. Lloyd training loops).
  * Confs are restored in `finally` by [[withConf]]; the engine runs one
  * query at a time per session (the DagExecutor contract), so the temporary
  * session-global mutation cannot interleave with another query's execution.
  */
object StaticScope {

  /** Default input-size gate: below this, static planning wins. */
  val DefaultThresholdBytes: Long = 256L << 20

  /** Static stand-in for AQE's partition coalescing: ~8MB of input per
    * shuffle partition, clamped to [cores, session setting]. The CPU floor
    * matters as much as the bytes ceiling: a text corpus is tiny on disk but
    * CPU-heavy per row (tokenize/hash/sort), and sizing purely by bytes
    * serialized a 7-exchange pipeline onto ONE partition (measured: the
    * token-Jaccard query at sf0.1 spent ~3s of its 4.5s single-threaded;
    * flooring at defaultParallelism cut it to ~2s). Scheduling a few dozen
    * near-empty tasks per stage costs milliseconds; losing 31 of 32 cores
    * costs the whole query. */
  val BytesPerPartition: Long = 8L << 20

  /** Planner-estimated input size (parquet stats — free, no extra scan). */
  def inputBytes(input: DataFrame): BigInt =
    input.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Planner-estimated bytes a plan reads: the sum of its leaf relations'
    * estimates, blind to what the operators above them claim (a join's
    * estimate is the product of its children's sizes). A leaf the planner
    * cannot size (a relation over a bare RDD) reports
    * `spark.sql.defaultSizeInBytes`, which no gate passes; a checkpoint
    * carries the estimate of the plan it checkpointed. */
  def readBytes(plan: DataFrame): BigInt =
    plan.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** Run `body` under static planning (AQE off, shuffle partitions sized to
    * the input) iff the input estimate is below the threshold; otherwise run
    * it untouched. `body` MUST materialize everything it returns — see the
    * soundness rule above. `estimate` sizes `input`: [[inputBytes]] by
    * default, [[readBytes]] for a plan whose own estimate a join inflates.
    *
    * `minParts`: the partition floor. Default (0) floors at the executor
    * parallelism — right for CPU-bound per-row work (see BytesPerPartition).
    * An I/O-light plan over a handful of rows (e.g. an incremental-crawl
    * merge) passes an explicit small floor instead: near-empty tasks buy it
    * nothing and every output part file is a downstream copy cost. */
  def scoped[T](input: DataFrame, thresholdBytes: Long = DefaultThresholdBytes,
                minParts: Int = 0, estimate: DataFrame => BigInt = inputBytes)
               (body: => T): T = {
    val size = estimate(input)
    if (size >= thresholdBytes) body else staticPlanning(input.sparkSession, size, minParts)(body)
  }

  /** Gate a plan over `input` and `more`, sized by their summed estimates:
    * small ⇒ evaluate eagerly (localCheckpoint) under static planning;
    * large ⇒ return the lazy plan for AQE. */
  def materialize(input: DataFrame, thresholdBytes: Long = DefaultThresholdBytes,
                  more: Seq[DataFrame] = Nil)(plan: => DataFrame): DataFrame = {
    val size = (input +: more).map(inputBytes).sum
    if (size >= thresholdBytes) plan
    else staticPlanning(input.sparkSession, size, 0)(plan.localCheckpoint(true))
  }

  /** `body` with AQE off and shuffle partitions sized to `size` bytes. */
  private def staticPlanning[T](spark: SparkSession, size: BigInt, minParts: Int)(body: => T): T = {
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val floor = math.min(confParts,
      if (minParts > 0) minParts.toLong else spark.sparkContext.defaultParallelism.toLong)
    val parts = math.max(floor, math.min(confParts, (size / BytesPerPartition).toLong + 1L))
    withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> parts.toString)(body)
  }

  /** Run `body` with each `kv` set in `spark`'s session conf, then restore
    * every key exactly: its old value, or unset again when it was unset
    * (`conf.getOption` would report a default as if it had been set). The
    * one way `src/main` changes a session's conf; a node's own child
    * session is configured once where it is made (`SqlNode.nodeSession`). */
  private[graft] def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val was = spark.conf.getAll
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally kv.foreach { case (k, _) => was.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
