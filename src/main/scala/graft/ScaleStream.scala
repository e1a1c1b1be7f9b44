package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Off-toy scale proof for the Structured Streaming pillar: drain a 10 M-event
  * backlog through the SAME transforms the oracle-checked queries use
  * ([[graft.streaming.Streams.windowedAggPlan]] / `sessionWindowPlan` /
  * the stream-stream interval join shape) and record what a capacity
  * planner needs:
  *
  *  - `rows_per_sec` — end-to-end drain throughput per stateful operator;
  *  - `batches` — the windowed/session phases run with `maxFilesPerTrigger`
  *    so the backlog crosses SEVERAL micro-batches: state merging across
  *    commits is exercised, not just the one-shot drain;
  *  - `state_rows_peak` — peak `numRowsTotal` across state operators, read
  *    from the progress events: the bounded-state claims
  *    (watermark-evicted windows, one open session per active chain,
  *    interval-bounded join buffers) as measured numbers;
  *  - exactness cross-checks against the BATCH execution of the identical
  *    plan: the windowed aggregate must match exactly (complete mode
  *    aggregates late rows regardless of arrival batch); the interval join
  *    runs MULTI-batch and must still equal the batch range join exactly —
  *    the feed is time-ordered and the join window (60 s) is far inside the
  *    watermark delay (1 h), so no cross-batch match can be evicted before
  *    its partner arrives, while state older than the horizon IS evicted
  *    between commits (the bounded-state claim, measured); the
  *    append-mode session phase reports emitted vs batch-total rows (the
  *    difference is the watermark-open tail, reported, not hidden);
  *  - the two heavy stateful phases run under BOTH state-store providers
  *    (default in-heap vs RocksDB) with emission required identical, so the
  *    provider trade is a measured record, not folklore (see the inline
  *    note at the session phase for the result and the crossover).
  */
object ScaleStream {

  private def peakState(q: StreamingQuery): Long =
    q.recentProgress.flatMap(p => p.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)

  private def batches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SCALE_EVENTS", "10000000").toLong
    val nUsers = sys.env.getOrElse("SCALE_USERS", "50000").toLong
    val nFiles = 64
    val filesPerTrigger = 16 // => 4 micro-batches for the multi-batch phases
    val spark = Harness.session()
    val rec = new Harness.Recorder(spark)

    val work = Harness.workDir("graft_scale_stream")
    val events = ScaleCorpus.events(spark, nEvents, nUsers).select(col("event_id"),
      col("ts_us").as("ts"), col("user_id"), col("event_type"), col("value"), lit("{}").as("props"))
    // TIME-ORDERED replay (range-partitioned files + mtime stamp): a
    // CORRECTNESS requirement for the multi-batch stateful phases — see
    // writeTimeOrderedFeed's scaladoc; without the stamp, 45% of the
    // interval-join matches were silently dropped below the watermark.
    graft.streaming.Streams.writeTimeOrderedFeed(events, "ts", s"$work/events", nFiles)
    val batchEvents = spark.read.schema(graft.streaming.Streams.eventsSchema)
      .parquet(s"$work/events")
    val total = batchEvents.count()

    def readStreamEvents(maxFiles: Option[Int]): DataFrame = {
      val r = spark.readStream.schema(graft.streaming.Streams.eventsSchema)
      maxFiles.foreach(m => r.option("maxFilesPerTrigger", m))
      r.parquet(s"$work/events")
    }

    // Per-phase min-of-K: co-tenant load bursts (1-min load 20-30 for
    // minutes at a time) outlast the phase gate — observed 312s vs 31s for
    // the SAME phase in back-to-back runs. Output counts are deterministic
    // and asserted equal across samples; only the clock varies. phase_loads
    // keeps the load of the sample that WON.
    def drain(name: String, out: => DataFrame, mode: String): (Double, StreamingQuery, Long) = {
      val win = rec.phase(name, same = { case (_, sink) => sink }) {
        var sink = 0L
        val q = out.writeStream
          .outputMode(mode)
          .foreachBatch { (df: DataFrame, _: Long) =>
            // count + consume: measures the full pipeline, keeps the driver
            // from holding 10M result rows (complete mode REPLACES per batch,
            // so only the final batch's count stands)
            val n = df.count()
            if (mode == "complete") sink = n else sink += n
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.streams.resetTerminated()
        (q, sink)
      }
      (win.sec, win.value._1, win.value._2)
    }

    // 1) watermarked tumbling-window aggregate, 4 micro-batches
    val (winSec, winQ, winRows) = drain("windowed",
      graft.streaming.Streams.windowedAggPlan(readStreamEvents(Some(filesPerTrigger))),
      "complete")
    val winBatchRows = graft.streaming.Streams.windowedAggPlan(batchEvents).count()
    require(winRows == winBatchRows,
      s"windowed agg diverged from batch: $winRows vs $winBatchRows rows")

    // On a time-ordered feed the sessionizer's state FULLY TURNS OVER every
    // micro-batch (watermark advances ~7.5 days per commit: ~2.2M sessions
    // close and ~2.5M open each batch). Both state-store providers are
    // measured with emission required identical — the provider is pure
    // physical state management. Measured result (r16 tune, per-phase
    // min-of-2, same-run comparison): the TUNED RocksDB provider now WINS
    // the put-dominated sessionizer (14.5s vs the default's 20.2s — it was
    // 1.4× slower before trackTotalNumberOfRows=false removed the
    // read-before-every-write) but stays ~2.3× behind on the stream-stream
    // interval join (67.6s vs 29.2s). The join gap is structural, not a
    // tuning residue: a stream-stream join keeps FOUR stores per partition
    // (keyToNumValues / keyWithIndexToValue per side) and pays several
    // GETS per input row probing the other side, and a RocksDB get is a
    // JNI crossing + block decode (~µs) where the in-heap map's is a
    // hash lookup (~ns) — no knob removes reads from the access pattern.
    // The crossover is when state outgrows executor memory or
    // checkpointing goes remote: the default's per-commit cost scales with
    // STATE SIZE, RocksDB's with the STATE DELTA (and state lives
    // off-heap). Recording both keeps the trade auditable instead of
    // folklore.
    def withStateProvider[A](rocks: Boolean)(body: => A): A = {
      // The RocksDB side runs TUNED (r15, after the r14 54.8s-vs-17.6s gap;
      // widened r16 against the 66s-vs-34s interval join):
      // changelog checkpointing uploads per-commit deltas instead of
      // snapshotting the full store every commit — the dominant cost when
      // state turns over ~2.2M rows per batch — a larger write buffer cuts
      // memtable flush churn, trackTotalNumberOfRows=false removes the
      // read-before-write RocksDB otherwise pays on EVERY put/remove just to
      // maintain the numRowsTotal metric (the peak-state numbers recorded in
      // the JSON come from the default-provider runs, which keep tracking),
      // and a 256MB block cache holds the join-probe working set. Emission
      // equality vs the default provider is still asserted below, so the
      // tune cannot change results.
      val confs =
        if (rocks) Seq(
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
          "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB" -> "128",
          "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
          "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB" -> "256")
        else Nil
      graft.ops.StaticScope.withConf(spark, confs: _*)(body)
    }

    // 2) native session_window sessionization (30 min gap), 4 micro-batches,
    // append mode: emitted = sessions the final watermark closed
    def sessionsOnce(rocks: Boolean): (Double, StreamingQuery, Long) =
      withStateProvider(rocks)(drain(s"sessions(rocks=$rocks)",
        graft.streaming.Streams.sessionWindowPlan(readStreamEvents(Some(filesPerTrigger)), 30),
        "append"))
    val (sesSec, sesQ, sesRows) = sessionsOnce(rocks = false)
    val (sesRocksSec, _, sesRocksRows) = sessionsOnce(rocks = true)
    val sesBatchRows = graft.streaming.Streams.sessionWindowPlan(batchEvents, 30).count()
    require(sesRows <= sesBatchRows,
      s"session stream emitted MORE than batch: $sesRows vs $sesBatchRows")
    require(sesRows == sesRocksRows,
      s"session emission depends on state provider: default $sesRows vs rocksdb $sesRocksRows")

    // 3) stream-stream interval join (clicks to 60s post-view windows),
    // 8 micro-batches: the time-ordered feed + 1h watermark vs a 60s join
    // window means every cross-batch partner is still in state when its
    // match arrives (emission stays exact vs the batch range join), while
    // state behind the horizon is evicted at each commit — state_rows_peak
    // records ~a batch of rows, not the whole backlog
    def sided(tpe: String): DataFrame = readStreamEvents(Some(8))
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(s"${tpe}_id"), col("user_id").as(s"${tpe}_user"),
        expr("timestamp_micros(ts)").as(s"${tpe}_ts"))
      .withWatermark(s"${tpe}_ts", "1 hour")
    val joined = sided("click").join(sided("view"),
      col("click_user") === col("view_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 60 seconds"))
    val (joinSec, joinQ, joinRows) =
      withStateProvider(rocks = false)(drain("interval_join(rocks=false)", joined, "append"))
    val (joinRocksSec, _, joinRocksRows) =
      withStateProvider(rocks = true)(drain("interval_join(rocks=true)", joined, "append"))
    require(joinRows == joinRocksRows,
      s"interval join emission depends on state provider: default $joinRows vs rocksdb $joinRocksRows")
    val batchJoinRows = graft.plans.RangeJoinExec.pointInRange(
      batchEvents.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts")),
      batchEvents.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("w_start"), (col("ts") + 60L * 1000000L).as("w_end")),
      keys = Seq("user_id"), ptCol = "ts", startCol = "w_start", endCol = "w_end",
      valCols = Seq("view_id")).count()
    require(joinRows == batchJoinRows,
      s"stream interval join diverged from batch range join: $joinRows vs $batchJoinRows")

    def rate(sec: Double): Long = math.round(total / sec)
    Harness.emit("scale_stream", "events" -> total, "users" -> nUsers, "phase_loads" -> rec.loads,
      "windowed" -> Harness.obj("drain_sec" -> winSec, "batches" -> batches(winQ),
        "rows_per_sec" -> rate(winSec), "state_rows_peak" -> peakState(winQ),
        "result_rows" -> winRows),
      "sessions" -> Harness.obj("drain_sec" -> sesSec, "rocksdb_drain_sec" -> sesRocksSec,
        "batches" -> batches(sesQ),
        "rows_per_sec" -> rate(sesSec), "state_rows_peak" -> peakState(sesQ),
        "emitted" -> sesRows, "batch_total" -> sesBatchRows,
        "open_tail" -> (sesBatchRows - sesRows)),
      "interval_join" -> Harness.obj("drain_sec" -> joinSec, "rocksdb_drain_sec" -> joinRocksSec,
        "batches" -> batches(joinQ),
        "rows_per_sec" -> rate(joinSec), "state_rows_peak" -> peakState(joinQ),
        "joined_rows" -> joinRows))
    spark.stop()
  }
}
