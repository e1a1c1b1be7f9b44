package graft.ops

import org.apache.spark.sql.DataFrame

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
  * Confs are restored in `finally`; the engine runs one query at a time per
  * session (the DagExecutor contract), so the temporary session-global
  * mutation cannot interleave with another query's execution.
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

  /** Run `body` under static planning (AQE off, shuffle partitions sized to
    * the input) iff the input estimate is below the threshold; otherwise run
    * it untouched. `body` MUST materialize everything it returns — see the
    * soundness rule above.
    *
    * `minParts`: the partition floor. Default (0) floors at the executor
    * parallelism — right for CPU-bound per-row work (see BytesPerPartition).
    * An I/O-light plan over a handful of rows (e.g. an incremental-crawl
    * merge) passes an explicit small floor instead: near-empty tasks buy it
    * nothing and every output part file is a downstream copy cost. */
  def scoped[T](input: DataFrame, thresholdBytes: Long = DefaultThresholdBytes,
                minParts: Int = 0)
               (body: => T): T = {
    val size = inputBytes(input)
    if (size >= thresholdBytes) body
    else {
      val spark = input.sparkSession
      val scopedKeys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      val was = spark.conf.getAll
      val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val floor = math.min(confParts.toLong,
        if (minParts > 0) minParts.toLong else spark.sparkContext.defaultParallelism.toLong)
      val parts = math.max(floor, math.min(confParts.toLong,
        (size / BytesPerPartition).toLong + 1L)).toInt
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      // restore each key as it was: unset again when it was unset, so the
      // scope leaves no conf residue in the session
      try body
      finally scopedKeys.foreach(k => was.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
    }
  }

  /** Gate a single plan: small input ⇒ evaluate eagerly (localCheckpoint)
    * under static planning; large input ⇒ return the lazy plan for AQE. */
  def materialize(input: DataFrame, thresholdBytes: Long = DefaultThresholdBytes)
                 (plan: => DataFrame): DataFrame =
    if (inputBytes(input) >= thresholdBytes) plan
    else scoped(input, thresholdBytes)(plan.localCheckpoint(true))
}
