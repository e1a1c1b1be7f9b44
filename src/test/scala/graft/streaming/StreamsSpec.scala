package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("batch sessionize splits on gaps with deterministic numbering") {
    val min = 60L * 1000000L
    val events = Seq(
      (1L, 1L, 0L), (2L, 1L, 10 * min), (3L, 1L, 120 * min), // user 1: 2 sessions
      (4L, 2L, 0L)                                           // user 2: 1 session
    ).toDF("event_id", "user_id", "us")
      .withColumn("event_ts", expr("timestamp_micros(us)"))
    val out = Sessionize.batch(events, gapMinutes = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("streaming dedup emits each key once, including duplicates across files") {
    val dir = TestSpark.tempDir("graft_sdedup")
    def file(n: Int, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/b$n.tmp")
    // two parquet files with overlapping keys (the file stream lists both)
    file(1, Seq((1L, 0L, 10L, "click", 1.0, "{}"), (2L, 1L, 10L, "click", 2.0, "{}"),
      (3L, 2L, 11L, "view", 3.0, "{}")))
    file(2, Seq((4L, 3L, 10L, "click", 4.0, "{}"), (5L, 4L, 12L, "view", 5.0, "{}")))
    val flat = new java.io.File(dir.toString)
    // flatten: move part files up as plain files the stream source lists
    for (sub <- flat.listFiles() if sub.isDirectory) {
      val part = sub.listFiles().find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        dir.resolve(sub.getName.stripSuffix(".tmp") + ".parquet"))
      sub.listFiles().foreach(_.delete()); sub.delete()
    }
    val out = Streams.streamDedupKeys(spark, dir.toString, Seq("user_id", "event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((10L, "click"), (11L, "view"), (12L, "view")))
  }

  test("streaming sessionizer carries open sessions across micro-batch runs via state") {
    val dir = TestSpark.tempDir("graft_sess").toString
    val ckpt = TestSpark.tempDir("graft_sess_ck").toString
    val min = 60L * 1000000L

    // file sink (memory sink cannot recover from a checkpoint across runs)
    val outDir = TestSpark.tempDir("graft_sess_out").toString
    def runBatch(): Unit = {
      val q = Sessionize.streamingSessions(
        spark.readStream.schema("user_id LONG, event_id LONG, ts_micros LONG")
          .parquet(dir).as[Sessionize.Event],
        gapMinutes = 30)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sessionsSoFar(): Seq[Sessionize.Session] =
      spark.read.schema("user_id LONG, start_micros LONG, end_micros LONG, n_events LONG")
        .parquet(outDir).as[Sessionize.Session].collect().toSeq

    // the file source lists plain files in the watched dir — drop each batch
    // in as a single flat parquet file
    def addFile(n: Int, rows: Seq[Sessionize.Event]): Unit = {
      val tmp = TestSpark.tempDir("graft_sess_w").toString
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"b$n.parquet"))
      ()
    }

    // batch 1: one open session for user 7 — nothing emitted yet
    addFile(1, Seq(Sessionize.Event(7L, 1L, 0L), Sessionize.Event(7L, 2L, 5 * min)))
    runBatch()
    assert(sessionsSoFar().isEmpty)

    // batch 2: an event far beyond the gap closes the session held in state
    addFile(2, Seq(Sessionize.Event(7L, 3L, 500 * min)))
    runBatch()
    assert(sessionsSoFar() === Seq(Sessionize.Session(7L, 0L, 5 * min, 2L)))
  }

  test("session_window stream: gap merges, exact-gap boundary still merges (inclusive end)") {
    val dir = TestSpark.tempDir("graft_sw").toString
    val min = 60L * 1000000L
    val t0 = 86400L * 1000000L // clear of the initial watermark
    Seq(
      (1L, t0, 1L, "click", 0.0, "{}"),
      (2L, t0 + 10 * min, 1L, "click", 0.0, "{}"),  // within gap: same session
      (3L, t0 + 40 * min, 1L, "click", 0.0, "{}"),  // exactly 30min after #2: merges
      (4L, t0 + 100 * min, 1L, "click", 0.0, "{}"), // far out: new session
      (5L, t0, 2L, "click", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val out = Streams.sessionWindowCounts(spark, dir, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // document the boundary: event #3 at exactly gap from #2 MERGES — the
    // session end (last event + gap) is inclusive, matching the lag-based
    // batch formulation's "break only when gap exceeded"
    assert(out === Set(
      (1L, t0, 3L),
      (1L, t0 + 100 * min, 1L),
      (2L, t0, 1L)))
  }

  test("stream-stream interval join matches at both inclusive window bounds") {
    val dir = TestSpark.tempDir("graft_sjoin").toString
    val sec = 1000000L
    // base offset keeps event times clear of the initial watermark (epoch 0):
    // a row AT the watermark is dropped as late by the join's state filter
    val t0 = 86400L * sec
    Seq(
      (10L, t0, 1L, "view", 0.0, "{}"),
      (11L, t0, 1L, "click", 0.0, "{}"),             // boundary: click at view time
      (12L, t0 + 60L * sec, 1L, "click", 0.0, "{}"), // boundary: end is inclusive
      (13L, t0 + 61L * sec, 1L, "click", 0.0, "{}"), // one second past the window
      (14L, t0 + 30L * sec, 2L, "click", 0.0, "{}")  // same time, different user
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val out = Streams.streamIntervalJoin(spark, dir, windowSec = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((11L, 10L), (12L, 10L)))
  }

  test("stream-stream interval join leaves no conf residue, whether the no-data toggle was set or unset") {
    val dir = TestSpark.tempDir("graft_sjoin_conf").toString
    val t0 = 86400L * 1000000L
    Seq((10L, t0, 1L, "view", 0.0, "{}"), (11L, t0, 1L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(!before.contains(key))
    assert(Streams.streamIntervalJoin(s, dir, windowSec = 60).count() === 1)
    assert(s.conf.getAll === before)
    s.conf.set(key, "true")
    val set = s.conf.getAll
    Streams.streamIntervalJoin(s, dir, windowSec = 60).count()
    assert(s.conf.getAll === set)
  }

  test("a drain whose stream fails throws and leaves no temp view and no conf change") {
    // `ts` written as STRING against eventsSchema's LONG: the stream starts,
    // registers its memory-sink view, then fails reading the file
    val dir = TestSpark.tempDir("graft_sfail")
    Seq((10L, "86400000000", 1L, "view", 0.0, "{}"), (11L, "86400000000", 1L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir.toString)
    val s = spark.newSession()
    def views() = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val (confBefore, viewsBefore) = (s.conf.getAll, views())
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.streamIntervalJoin(s, dir.toString, windowSec = 60)
    }
    val confAfter = s.conf.getAll.toSet
    assert(confAfter.diff(confBefore.toSet) === Set.empty, "set or changed by the run")
    assert(confBefore.toSet.diff(confAfter) === Set.empty, "unset or changed by the run")
    assert(views() === viewsBefore)
    assert(s.streams.active.isEmpty)
  }

  test("streamed windowed aggregation equals the batch equivalent on the same files") {
    val dir = TestSpark.tempDir("graft_stream").toString
    // two hours of events, ts in µs (as the driver's events table stores them)
    def us(h: Int, m: Int): Long = (h * 3600L + m * 60L) * 1000000L
    Seq(
      (1L, us(0, 5), 1L, "click", 1.0, "{}"),
      (2L, us(0, 40), 1L, "click", 2.0, "{}"),
      (3L, us(0, 50), 2L, "view", 3.0, "{}"),
      (4L, us(1, 10), 2L, "click", 4.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)

    val streamed = Streams.windowedEventCounts(spark, dir)
      .select(col("window_start").cast("long").as("w"), col("event_type"), col("cnt"), col("sum_value"))

    val batch = spark.read.schema(Streams.eventsSchema).parquet(dir)
      .withColumn("event_ts", Streams.eventTime)
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").cast("long").as("w"), col("event_type"), col("cnt"), col("sum_value"))

    assert(TestSpark.rows(streamed) === TestSpark.rows(batch))
    assert(streamed.count() === 3) // (h0,click), (h0,view), (h1,click)
  }

  // ---- continuous-feed smoke: the same stateful plans driven across THREE
  // micro-batches (files dropped between batches, ProcessingTime trigger),
  // final state asserted equal to the one-drain AvailableNow result. This is
  // the state-store path a real feed exercises: windows/sessions must merge
  // counts across batch boundaries, not just within one backlog drain.

  /** Write `rows` as one plain parquet FILE `name.parquet` inside `dir`
    * (the file stream source lists files, not subdirectories). */
  private def dropFile(dir: java.nio.file.Path, name: String,
                       rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    val tmp = dir.resolve(name + ".tmp")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.move(part.toPath, dir.resolve(name + ".parquet"))
    new java.io.File(tmp.toString).listFiles().foreach(_.delete())
    java.nio.file.Files.delete(tmp)
  }

  private def us(h: Int, m: Int): Long = (h * 3600L + m * 60L) * 1000000L

  // three batches: batch 2 extends batch 1's open window/session, batch 3
  // adds a new hour and a second user — cross-batch state merging in both
  private val batch1 = Seq(
    (1L, us(0, 5), 1L, "click", 1.0, "{}"),
    (2L, us(0, 10), 1L, "view", 2.0, "{}"))
  private val batch2 = Seq(
    (3L, us(0, 40), 1L, "click", 3.0, "{}"), // same hour + extends session
    (4L, us(1, 5), 2L, "click", 4.0, "{}"))
  private val batch3 = Seq(
    (5L, us(1, 30), 2L, "click", 5.0, "{}"), // extends user 2's session
    (6L, us(3, 0), 1L, "view", 6.0, "{}")) // new hour, new session for user 1

  /** Start `plan` on a file stream over `dir` with a ProcessingTime trigger,
    * drop the three batches with `processAllAvailable` barriers between them
    * (each drop is observed as at least one separate micro-batch), and
    * return the final complete-mode state. */
  private def runThreeBatches(dir: java.nio.file.Path,
                              plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    dropFile(dir, "b1", batch1)
    val name = s"graft_feed_${System.nanoTime()}"
    val q = plan(spark.readStream.schema(Streams.eventsSchema).parquet(dir.toString))
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      dropFile(dir, "b2", batch2)
      q.processAllAvailable()
      dropFile(dir, "b3", batch3)
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "expected the three file drops to arrive in at least three micro-batches")
      spark.table(name).localCheckpoint(true)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
      spark.streams.resetTerminated()
    }
  }

  test("windowed agg state merges across a 3-micro-batch continuous feed") {
    val dir = TestSpark.tempDir("graft_feed_win")
    val fed = runThreeBatches(dir, Streams.windowedAggPlan)
    // reference: the identical backlog drained in ONE AvailableNow pass
    val oneShot = Streams.windowedEventCounts(spark, dir.toString)
    assert(TestSpark.rows(fed) === TestSpark.rows(oneShot))
    // and the cross-batch merges actually happened: hour-0 click count is 2
    // (events 1 and 3 arrived in DIFFERENT batches)
    val h0clicks = fed.filter(col("event_type") === "click" &&
      col("window_start").cast("long") === 0L).select("cnt").collect()
    assert(h0clicks.map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("session_window state merges across a 3-micro-batch continuous feed") {
    val dir = TestSpark.tempDir("graft_feed_sess")
    val fed = runThreeBatches(dir, Streams.sessionWindowPlan(_, gapMinutes = 45))
    val oneShot = Streams.sessionWindowCounts(spark, dir.toString, gapMinutes = 45)
    assert(TestSpark.rows(fed) === TestSpark.rows(oneShot))
    // user 1: events at 0:05/0:10/0:40 chain into ONE session (gaps <= 45min)
    // across batches 1-2, plus a separate session at 3:00; user 2: 1:05+1:30
    // merge into one session across batches 2-3
    val sessions = fed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sessions === Set(
      (1L, us(0, 5), 3L), (1L, us(3, 0), 1L), (2L, us(1, 5), 2L)))
  }

  test("writeTimeOrderedFeed replays files in event-time order (mtime = path = ts order)") {
    val dir = TestSpark.tempDir("graft_feed_order")
    val path = s"$dir/events"
    // deliberately scrambled input partitioning: the writer must range-sort it
    val events = spark.range(1000).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(1000000L)).as("ts"),
      (col("id") % 7).as("user_id"),
      lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
      .repartition(6)
    val n = Streams.writeTimeOrderedFeed(events, "ts", path, nFiles = 6)
    assert(n === 6)
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // mtimes strictly increase in path order
    assert(parts.map(_.lastModified()).sliding(2).forall { case Array(a, b) => a < b })
    // path order IS ts order: file i's max ts <= file i+1's min ts
    val ranges = parts.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min("ts"), max("ts")).head()
      (r.getLong(0), r.getLong(1))
    }
    ranges.sliding(2).foreach { case Array((_, maxA), (minB, _)) => assert(maxA <= minB) }
    // end-to-end: a 3-batch drain sees non-decreasing event time across batches
    val batchMax = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(Streams.eventsSchema)
      .option("maxFilesPerTrigger", 2).parquet(path)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val r = df.agg(min("ts"), max("ts")).head()
        batchMax.synchronized {
          assert(batchMax.lastOption.forall(_ <= r.getLong(0)),
            s"batch starts before the previous batch's max ts")
          batchMax += r.getLong(1)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.streams.resetTerminated()
    assert(batchMax.size === 3)
  }
}
