package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
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
    val rec = new Harness.Recorder(spark)

    // deterministic event stream: ~1% of events land on hot user 0 (skew
    // probe), timestamps hash-scattered over ~30 days of microseconds
    val work = Harness.workDir("graft_scale_joins")
    ScaleCorpus.events(spark, nEvents, nUsers, hotUser = true)
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    val events = spark.read.parquet(s"$work/events.parquet")
    val total = events.count()

    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    val views = events.filter(col("event_type") === "view")
    def viewValues = views.groupBy("user_id", "ts_us").agg(max("value").as("view_value"))
    // (rows, rows with a prior view) of an as-of enrichment
    def matched(df: DataFrame): (Long, Long) = (df.count(), df.filter(col("view_value").isNotNull).count())

    val asof = rec.phase("asof", k = 1)(matched(graft.ops.AsofJoin.asofLeft(
      clicks.withColumnRenamed("click_id", "event_id"), viewValues,
      keys = Seq("user_id"), tsCol = "ts_us", valCols = Seq("view_value"))))

    // the same enrichment through the NATIVE sort-merge operator
    // (AsofJoinExec): identical semantics, so the row counts must agree —
    // the measured delta is pure execution-shape (no union padding, no
    // carry struct, no window buffer)
    val asofExec = rec.phase("asof_exec", k = 1)(matched(graft.plans.AsofJoinExec.asofLeft(
      clicks.withColumnRenamed("click_id", "event_id"), viewValues,
      keys = Seq("user_id"), tsCol = "ts_us", valCols = Seq("view_value"))))
    require(asofExec.value == asof.value, s"native as-of diverged: ${asofExec.value} vs ${asof.value}")

    // top-5 events per user: the bounded-heap TopK aggregate vs the window
    // row_number idiom — same rows out; both are shuffle-bounded (the
    // window via WindowGroupLimit), so this measures the constant factors
    // (heap folds + interpreted struct eval vs codegen'd map-side sort)
    val topkWindow = rec.phase("topk_window", k = 1) {
      events
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").desc)))
        .filter(col("rn") <= 5).select("user_id", "value", "event_id")
        .count()
    }
    val topkAgg = rec.phase("topk_agg", k = 1) {
      events.groupBy("user_id")
        .agg(graft.expr.TopK(struct(col("value"), col("event_id")), 5).as("top"))
        .select(col("user_id"), explode(col("top")).as("t"))
        .select(col("user_id"), col("t.value"), col("t.event_id"))
        .count()
    }
    require(topkAgg.value == topkWindow.value,
      s"topk agg diverged: ${topkAgg.value} vs ${topkWindow.value} rows")

    def windows = views.select(col("event_id").as("view_id"), col("user_id"),
      col("ts_us").as("w_start"), (col("ts_us") + 60L * 1000000L).as("w_end"))
    val range = rec.phase("range", k = 1) {
      graft.ops.RangeJoin.pointInRange(clicks, windows,
        keys = Seq("user_id"), ptCol = "ts_us", startCol = "w_start", endCol = "w_end",
        binWidth = 60L * 1000000L).count()
    }

    // the same attribution through the NATIVE active-set sort-merge
    // operator (RangeJoinExec): identical row set required — the delta is
    // execution shape (no interval expansion vs sweep-state merge)
    val rangeExec = rec.phase("range_exec", k = 1) {
      graft.plans.RangeJoinExec.pointInRange(clicks, windows,
        keys = Seq("user_id"), ptCol = "ts_us", startCol = "w_start", endCol = "w_end",
        valCols = Seq("view_id")).count()
    }
    require(rangeExec.value == range.value,
      s"native range join diverged: ${rangeExec.value} vs ${range.value} rows")

    Harness.emit("scale_joins", "events" -> total, "users" -> nUsers,
      "asof_sec" -> asof.sec, "asof_rows" -> asof.value._1, "asof_matched" -> asof.value._2,
      "asof_exec_sec" -> asofExec.sec, "range_sec" -> range.sec, "range_rows" -> range.value,
      "range_exec_sec" -> rangeExec.sec, "topk_window_sec" -> topkWindow.sec,
      "topk_agg_sec" -> topkAgg.sec, "topk_rows" -> topkAgg.value,
      "stragglers" -> rec.stragglers, "loads" -> rec.loads)
    spark.stop()
  }
}
