package graft.plans

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The active-set sort-merge range operator on every contract point:
  * hand-written edge cases, plus a random fixture checked against a
  * driver-side brute force (the oracle gate pins the same semantics to
  * DuckDB's IEJoin). */
class RangeJoinExecSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("physical plan contains RangeJoinExec with planner-inserted shuffles") {
    val points = Seq((1L, 7L, 5L)).toDF("pid", "k", "pt")
    val ranges = Seq((10L, 7L, 0L, 10L, 1.0)).toDF("rid", "k", "s", "e", "v")
    val out = RangeJoinExec.pointInRange(points, ranges,
      keys = Seq("k"), ptCol = "pt", startCol = "s", endCol = "e", valCols = Seq("rid"))
    val executed = out.queryExecution.executedPlan
    assert(collectWithSubqueries(executed) { case e: RangeJoinExec => e }.nonEmpty,
      s"expected RangeJoinExec in:\n$executed")
    val exchanges = collectWithSubqueries(executed) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size === 2, s"expected 2 shuffles in:\n$executed")
  }

  test("edge semantics: inclusive bounds, inverted and other-key intervals, duplicates") {
    val points = Seq(
      (1L, 7L, 0L), (2L, 7L, 99L), (3L, 7L, 100L), (4L, 7L, 101L),
      (5L, 7L, -1L), (6L, 7L, -100L), (7L, 8L, 50L), (8L, 7L, 250L),
      (9L, 7L, 99L)) // duplicate point value
    val ranges = Seq(
      (10L, 7L, 0L, 100L),
      (11L, 7L, 95L, 105L),
      (12L, 7L, -150L, -50L),
      (13L, 8L, 0L, 60L),
      (14L, 7L, 300L, 200L)) // inverted: matches nothing
    val brute = (for {
      (pid, pk, pt) <- points
      (rid, rk, s, e) <- ranges
      if pk == rk && pt >= s && pt <= e
    } yield (pid, rid)).toSet
    val out = RangeJoinExec.pointInRange(
      points.toDF("pid", "k", "pt"), ranges.toDF("rid", "k", "s", "e"),
      keys = Seq("k"), ptCol = "pt", startCol = "s", endCol = "e", valCols = Seq("rid"))
      .select("pid", "rid").as[(Long, Long)].collect()
    assert(out.length === out.toSet.size, "each pair exactly once")
    assert(out.toSet === brute)
  }

  test("agrees with a driver-side brute force on dense random data, many keys") {
    val points = spark.range(0, 3000).selectExpr(
      "id AS pid", "id % 23 AS k", "xxhash64(id) % 2000 AS pt")
    val ranges = spark.range(0, 1200).selectExpr(
      "id + 100000 AS rid", "id % 23 AS k",
      "xxhash64(id + 7) % 2000 AS s")
      .selectExpr("rid", "k", "s", "s + (rid % 150) AS e")
    val native = RangeJoinExec.pointInRange(points, ranges,
      keys = Seq("k"), ptCol = "pt", startCol = "s", endCol = "e", valCols = Seq("rid"))
      .select("pid", "rid")
    val rs = ranges.as[(Long, Long, Long, Long)].collect().groupBy(_._2)
    val brute = (for {
      (pid, k, pt) <- points.as[(Long, Long, Long)].collect().toSeq
      (rid, _, s, e) <- rs.getOrElse(k, Array.empty[(Long, Long, Long, Long)])
      if pt >= s && pt <= e
    } yield Seq[Any](pid, rid)).toSet
    assert(TestSpark.rows(native) === brute)
    assert(brute.size > 1000, "fixture produced too few matches to be meaningful")
  }

  test("RangeJoinPruning: a select above the node prunes unused left columns and values") {
    val points = Seq((1L, 7L, 5L, "wide1", "wide2"))
      .toDF("pid", "k", "pt", "w1", "w2")
    val ranges = Seq((10L, 7L, 0L, 10L, 1.0)).toDF("rid", "k", "s", "e", "v")
    val out = RangeJoinExec.pointInRange(points, ranges,
      keys = Seq("k"), ptCol = "pt", startCol = "s", endCol = "e",
      valCols = Seq("rid", "v"))
      .select("pid", "rid")
    val node = out.queryExecution.optimizedPlan.collect { case n: RangeJoinNode => n }.head
    assert(node.left.output.map(_.name).toSet === Set("pid", "k", "pt"))
    assert(node.rightVals.map(_.name) === Seq("rid"))
    assert(out.collect().map(_.toSeq).toSeq === Seq(Seq(1L, 10L)))
  }

  test("null point and null bounds match nothing") {
    val points = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 7L, null), (2L, 7L, 50L)).toDF("pid", "k", "pt")
    val ranges = Seq[(java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Long)](
      (10L, 7L, null, 100L), (11L, 7L, 0L, null), (12L, 7L, 0L, 100L))
      .toDF("rid", "k", "s", "e")
    val out = RangeJoinExec.pointInRange(points, ranges,
      keys = Seq("k"), ptCol = "pt", startCol = "s", endCol = "e", valCols = Seq("rid"))
      .select("pid", "rid").as[(Long, Long)].collect().toSet
    assert(out === Set((2L, 12L)))
  }
}
