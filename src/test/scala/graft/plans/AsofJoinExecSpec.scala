package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The sort-merge as-of operator on every contract point: hand-written
  * cases, plus random fixtures checked against a driver-side brute force
  * (the oracle gate pins the same semantics to DuckDB's ASOF JOIN). */
class AsofJoinExecSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def canon(df: DataFrame): Set[Seq[Any]] = TestSpark.rows(df)

  /** Driver-side as-of over the collected fixture: each left
    * (event_id, user_id, ts) with the `v` of the same user's latest right
    * row at or before `ts` (earliest at or after, forward), else null.
    * Right rows are unique on (user_id, ts). */
  private def bruteAsof(left: DataFrame, right: DataFrame, forward: Boolean): Set[Seq[Any]] = {
    val byUser = right.select("user_id", "ts", "v").as[(Long, Long, Double)].collect()
      .groupBy(_._1)
    left.select("event_id", "user_id", "ts").as[(Long, Long, Long)].collect().map {
      case (id, user, ts) =>
        val seen = byUser.getOrElse(user, Array.empty[(Long, Long, Double)])
          .filter(r => if (forward) r._2 >= ts else r._2 <= ts)
        val hit = if (seen.isEmpty) None
          else Some(if (forward) seen.minBy(_._2) else seen.maxBy(_._2))
        Seq[Any](id, user, ts, hit.map(_._3).orNull)
    }.toSet
  }

  test("physical plan contains AsofJoinExec with shuffles planned by EnsureRequirements") {
    val left = Seq((1L, 10L, 5L)).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 1L, 1.0)).toDF("user_id", "ts", "v")
    val out = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"))
    val executed = out.queryExecution.executedPlan
    assert(collectWithSubqueries(executed) { case e: AsofJoinExec => e }.nonEmpty,
      s"expected AsofJoinExec in:\n$executed")
    // the operator declares distribution requirements; the planner must
    // have inserted hash exchanges for both unsorted in-memory sides
    val exchanges = collectWithSubqueries(executed) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size === 2, s"expected 2 shuffles in:\n$executed")
  }

  test("latest at-or-before match per key; null before first right row; keys isolated") {
    val left = Seq(
      (1L, 10L, 5L),    // u10 @5: before any view -> null
      (2L, 10L, 15L),   // u10 @15: view@10 wins over nothing later
      (3L, 10L, 20L),   // u10 @20: ties with view@20 -> inclusive match
      (4L, 11L, 100L),  // u11 @100: only u11's views are visible
      (5L, 12L, 50L)    // u12: key with no right rows at all
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 10L, 1.0),
      (10L, 20L, 2.0),
      (11L, 90L, 9.0),
      (11L, 10L, 8.0)
    ).toDF("user_id", "ts", "v")
    val out = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out === Map(
      1L -> None, 2L -> Some(1.0), 3L -> Some(2.0), 4L -> Some(9.0), 5L -> None))
  }

  test("forward mode: earliest at-or-after match; null after the last right row") {
    val left = Seq(
      (1L, 10L, 5L),   // next view @10
      (2L, 10L, 10L),  // ties with view@10 -> inclusive match
      (3L, 10L, 15L),  // next view @20
      (4L, 10L, 25L)   // nothing after -> null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 10L, 1.0), (10L, 20L, 2.0)).toDF("user_id", "ts", "v")
    val out = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"),
      forward = true)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out === Map(
      1L -> Some(1.0), 2L -> Some(1.0), 3L -> Some(2.0), 4L -> None))
  }

  test("key or ts type mismatch fails at build time, naming the column and both types") {
    val right = Seq((10L, 1L, 1.0)).toDF("user_id", "ts", "v")
    // a STRING key against a BIGINT key would match nothing; an INT ts
    // against a BIGINT ts would fail inside a task
    val stringKey = Seq((1L, "10", 5L)).toDF("event_id", "user_id", "ts")
    val intTs = Seq((1L, 10L, 5)).toDF("event_id", "user_id", "ts")
    for ((left, name, lType) <- Seq((stringKey, "user_id", "STRING"), (intTs, "ts", "INT"))) {
      val e = intercept[IllegalArgumentException] {
        AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"))
      }
      assert(e.getMessage.contains(s"left column $name is $lType") &&
        e.getMessage.contains(s"right column $name is BIGINT"), e.getMessage)
    }
  }

  test("agrees with a driver-side brute force on dense random data (backward)") {
    val left = spark.range(0, 2000).selectExpr(
      "id AS event_id", "id % 37 AS user_id",
      "(xxhash64(id) % 1000 + 1000) AS ts")
    val right = spark.range(0, 800).selectExpr(
      "id % 41 AS user_id", "(xxhash64(id, 7) % 900 + 1000) AS ts",
      "CAST(id AS DOUBLE) AS v")
      .groupBy("user_id", "ts").agg(org.apache.spark.sql.functions.max("v").as("v"))
    val viaExec = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"))
    assert(viaExec.columns.toSeq === Seq("event_id", "user_id", "ts", "v"))
    assert(canon(viaExec) === bruteAsof(left, right, forward = false))
  }

  test("agrees with a driver-side brute force forward, including keys with no right rows") {
    val left = spark.range(0, 1500).selectExpr(
      "id AS event_id", "id % 53 AS user_id",
      "(xxhash64(id, 3) % 1000) AS ts")
    val right = spark.range(0, 600).selectExpr(
      "id % 29 AS user_id", "(xxhash64(id, 11) % 800) AS ts",
      "CAST(id AS DOUBLE) AS v")
      .groupBy("user_id", "ts").agg(org.apache.spark.sql.functions.max("v").as("v"))
    val viaExec = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"),
      forward = true)
    assert(canon(viaExec) === bruteAsof(left, right, forward = true))
  }

  test("matched row's NULL value stays NULL and columns stay row-consistent") {
    val left = Seq((1L, 10L, 25L)).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 10L, Some(1.0), Some("a")),
      (10L, 20L, None, Some("b")) // the as-of match: v is legitimately NULL
    ).toDF("user_id", "ts", "v", "tag")
    val row = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v", "tag"))
      .collect().head
    assert(row.isNullAt(3) && row.getString(4) === "b")
  }

  test("tieBreak: max-by wins among equal (keys, ts) right rows") {
    val left = Seq((1L, 10L, 20L), (2L, 10L, 5L)).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 20L, 100L, 1.0),
      (10L, 20L, 300L, 3.0), // same ts, max seq -> must win
      (10L, 20L, 200L, 2.0)
    ).toDF("user_id", "ts", "seq", "v")
    val out = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"),
      tieBreak = Some("seq"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out === Map(1L -> Some(3.0), 2L -> None))
  }

  test("empty right side: all left rows survive with null values") {
    val left = Seq((1L, 10L, 5L), (2L, 11L, 6L)).toDF("event_id", "user_id", "ts")
    val right = Seq.empty[(Long, Long, Double)].toDF("user_id", "ts", "v")
    val out = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"))
    assert(out.count() === 2 && out.filter(col("v").isNotNull).count() === 0)
  }

  test("self-as-of (left and right from the same plan) resolves unambiguously") {
    val events = Seq((1L, 10L, 5L, 1.0), (2L, 10L, 9L, 2.0), (3L, 10L, 12L, 3.0))
      .toDF("event_id", "user_id", "ts", "score")
    val left = events.select("event_id", "user_id", "ts")
    val right = events.select(col("user_id"), (col("ts") - 1L).as("ts"),
      col("score").as("prev_score"))
    val out = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("prev_score"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out === Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> Some(3.0)))
  }

  test("AsofJoinPruning: a select above the node prunes unused left columns and values") {
    val left = Seq((1L, 10L, 5L, "wide1", "wide2", 3.14))
      .toDF("event_id", "user_id", "ts", "w1", "w2", "w3")
    val right = Seq((10L, 1L, 1.0, 2.0)).toDF("user_id", "ts", "va", "vb")
    val out = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("va", "vb"))
      .select("event_id", "va")
    val node = out.queryExecution.optimizedPlan.collect { case a: AsofJoinNode => a }.head
    // left child pruned to event_id + the node's own user_id/ts references
    assert(node.left.output.map(_.name).toSet === Set("event_id", "user_id", "ts"))
    // unreferenced carried value vb dropped
    assert(node.rightVals.map(_.name) === Seq("va"))
    assert(out.collect().map(_.toSeq).toSeq === Seq(Seq(1L, 1.0)))
  }

  test("skewed keys: one key holding half the rows still agrees with the brute force") {
    val left = spark.range(0, 3000).selectExpr(
      "id AS event_id",
      "CASE WHEN id % 2 = 0 THEN 7 ELSE id % 23 END AS user_id", // key 7 ~ 52%
      "(xxhash64(id, 5) % 500) AS ts")
    val right = spark.range(0, 900).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 7 ELSE id % 19 END AS user_id",
      "(xxhash64(id, 13) % 450) AS ts", "CAST(id AS DOUBLE) AS v")
      .groupBy("user_id", "ts").agg(org.apache.spark.sql.functions.max("v").as("v"))
    val viaExec = AsofJoinExec.asofLeft(left, right, Seq("user_id"), "ts", Seq("v"))
    assert(canon(viaExec) === bruteAsof(left, right, forward = false))
  }

  test("composite keys and left column order preserved") {
    val left = Seq((1L, 10L, 2L, 7L, "x")).toDF("event_id", "a", "b", "ts", "extra")
    val right = Seq((10L, 2L, 5L, 42.0), (10L, 3L, 5L, 41.0))
      .toDF("a", "b", "ts", "v")
    val out = AsofJoinExec.asofLeft(left, right, Seq("a", "b"), "ts", Seq("v"))
    assert(out.columns.toSeq === Seq("event_id", "a", "b", "ts", "extra", "v"))
    val row = out.collect().head
    assert(row.getString(4) === "x" && row.getDouble(5) === 42.0)
  }
}
