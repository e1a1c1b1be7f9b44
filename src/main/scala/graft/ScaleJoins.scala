package graft

import org.apache.spark.sql.functions._

/** Off-toy scale proof for the time-series join operators: synthesize
  * `SCALE_EVENTS` click/view events over `SCALE_USERS` users with a
  * deterministic hash-derived timeline, then measure:
  *
  *  - `asof_sec`  — [[graft.ops.AsofJoin.asofLeft]] (union-window, ONE
  *    shuffle on the key) enriching every click with the latest prior view;
  *  - `range_sec` — [[graft.ops.RangeJoin.pointInRange]] (bucketized
  *    equi-join) attributing clicks to 60s post-view windows;
  *  - per-phase straggler ratio — hot-user skew would show here;
  *  - row counts, so a plan change that silently alters semantics is visible.
  *
  * Run with e.g. SCALE_EVENTS=10000000 SCALE_USERS=50000 → 10M events, and
  * a deliberately skewed user 0 holding ~1% of all traffic.
  */
object ScaleJoins {

  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SCALE_EVENTS", "10000000").toLong
    val nUsers = sys.env.getOrElse("SCALE_USERS", "50000").toLong
    val spark = Harness.session()
    val ledger = new Harness.Ledger(spark)

    // deterministic event stream: ~1% of events land on hot user 0 (skew
    // probe), timestamps hash-scattered over ~30 days of microseconds
    val work = Harness.workDir("graft_scale_joins")
    spark.range(nEvents)
      .select(
        col("id").as("event_id"),
        when(pmod(xxhash64(col("id"), lit(1)), lit(100)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(nUsers))).as("user_id"),
        pmod(xxhash64(col("id"), lit(3)), lit(2592000000000L)).as("ts_us"),
        when(pmod(xxhash64(col("id"), lit(4)), lit(2)) === 0, lit("click"))
          .otherwise(lit("view")).as("event_type"),
        (pmod(xxhash64(col("id"), lit(5)), lit(1000)) / lit(100.0)).as("value"))
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    val events = spark.read.parquet(s"$work/events.parquet")
    val total = events.count()
    ledger.reset()

    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    val views = events.filter(col("event_type") === "view")

    val t0 = System.nanoTime()
    val asof = graft.ops.AsofJoin.asofLeft(
      clicks.withColumnRenamed("click_id", "event_id"),
      views.groupBy("user_id", "ts_us").agg(max("value").as("view_value")),
      keys = Seq("user_id"), tsCol = "ts_us", valCols = Seq("view_value"))
    val asofRows = asof.count()
    val asofMatched = asof.filter(col("view_value").isNotNull).count()
    val asofSec = (System.nanoTime() - t0) / 1e9
    val asofStraggler = ledger.straggler()

    // the same enrichment through the NATIVE sort-merge operator
    // (AsofJoinExec): identical semantics, so the row counts must agree —
    // the measured delta is pure execution-shape (no union padding, no
    // carry struct, no window buffer)
    val tExec = System.nanoTime()
    val asofExec = graft.plans.AsofJoinExec.asofLeft(
      clicks.withColumnRenamed("click_id", "event_id"),
      views.groupBy("user_id", "ts_us").agg(max("value").as("view_value")),
      keys = Seq("user_id"), tsCol = "ts_us", valCols = Seq("view_value"))
    val asofExecRows = asofExec.count()
    val asofExecMatched = asofExec.filter(col("view_value").isNotNull).count()
    val asofExecSec = (System.nanoTime() - tExec) / 1e9
    val asofExecStraggler = ledger.straggler()
    require(asofExecRows == asofRows && asofExecMatched == asofMatched,
      s"native as-of diverged: $asofExecRows/$asofExecMatched vs $asofRows/$asofMatched")

    // top-5 events per user: the bounded-heap TopK aggregate vs the window
    // row_number idiom — same rows out; both are shuffle-bounded (the
    // window via WindowGroupLimit), so this measures the constant factors
    // (heap folds + interpreted struct eval vs codegen'd map-side sort)
    val tTopkW = System.nanoTime()
    val topkWindow = events
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("value").desc, col("event_id").desc)))
      .filter(col("rn") <= 5).select("user_id", "value", "event_id")
    val topkWindowRows = topkWindow.count()
    val topkWindowSec = (System.nanoTime() - tTopkW) / 1e9
    val topkWindowStraggler = ledger.straggler()

    val tTopkA = System.nanoTime()
    val topkAgg = events.groupBy("user_id")
      .agg(graft.expr.TopK(struct(col("value"), col("event_id")), 5).as("top"))
      .select(col("user_id"), explode(col("top")).as("t"))
      .select(col("user_id"), col("t.value"), col("t.event_id"))
    val topkAggRows = topkAgg.count()
    val topkAggSec = (System.nanoTime() - tTopkA) / 1e9
    val topkAggStraggler = ledger.straggler()
    require(topkAggRows == topkWindowRows,
      s"topk agg diverged: $topkAggRows vs $topkWindowRows rows")

    val t1 = System.nanoTime()
    val ranged = graft.ops.RangeJoin.pointInRange(
      clicks,
      views.select(col("event_id").as("view_id"), col("user_id"),
        col("ts_us").as("w_start"), (col("ts_us") + 60L * 1000000L).as("w_end")),
      keys = Seq("user_id"), ptCol = "ts_us", startCol = "w_start", endCol = "w_end",
      binWidth = 60L * 1000000L)
    val rangeRows = ranged.count()
    val rangeSec = (System.nanoTime() - t1) / 1e9
    val rangeStraggler = ledger.straggler()

    // the same attribution through the NATIVE active-set sort-merge
    // operator (RangeJoinExec): identical row set required — the delta is
    // execution shape (no interval expansion vs sweep-state merge)
    val t2 = System.nanoTime()
    val rangedExec = graft.plans.RangeJoinExec.pointInRange(
      clicks,
      views.select(col("event_id").as("view_id"), col("user_id"),
        col("ts_us").as("w_start"), (col("ts_us") + 60L * 1000000L).as("w_end")),
      keys = Seq("user_id"), ptCol = "ts_us", startCol = "w_start", endCol = "w_end",
      valCols = Seq("view_id"))
    val rangeExecRows = rangedExec.count()
    val rangeExecSec = (System.nanoTime() - t2) / 1e9
    val rangeExecStraggler = ledger.straggler()
    require(rangeExecRows == rangeRows,
      s"native range join diverged: $rangeExecRows vs $rangeRows rows")

    println(s"""{"metric":"scale_joins","events":$total,"users":$nUsers,""" +
      s""""asof_sec":$asofSec,"asof_rows":$asofRows,"asof_matched":$asofMatched,""" +
      s""""asof_exec_sec":$asofExecSec,""" +
      s""""range_sec":$rangeSec,"range_rows":$rangeRows,""" +
      s""""range_exec_sec":$rangeExecSec,""" +
      s""""topk_window_sec":$topkWindowSec,"topk_agg_sec":$topkAggSec,"topk_rows":$topkAggRows,""" +
      s""""stragglers":{"asof":$asofStraggler,"asof_exec":$asofExecStraggler,"range":$rangeStraggler,""" +
      s""""range_exec":$rangeExecStraggler,""" +
      s""""topk_window":$topkWindowStraggler,"topk_agg":$topkAggStraggler}}""")
    spark.stop()
  }
}
