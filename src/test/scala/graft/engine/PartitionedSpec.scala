package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Mirrors the reference's MapReduce identity test (examples/test_parallel.py:
  * 77-121): a partitioned map flow must equal the direct computation. */
class PartitionedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")

  test("mapReduce(transform) equals the direct transform (identity + derived flow)") {
    val direct = base.withColumn("twice", col("id") * 2)
    val mapped = Partitioned.mapReduce(base, 8)(_.withColumn("twice", col("id") * 2))
    assert(TestSpark.rows(mapped) === TestSpark.rows(direct))
  }

  test("divide splits by partition value and merge reassembles the whole table") {
    val withKey = Partitioned.partitionKeyByHash(base, col("id"), 4)
    val parts = Partitioned.divide(withKey, 4)
    assert(parts.length === 4)
    assert(parts.map(_.count()).sum === 100)
    val merged = Partitioned.merge(parts)
    assert(TestSpark.rows(merged) === TestSpark.rows(base))
  }

  test("addPartitionKey numbers rows deterministically by the given order (parity op)") {
    val out = Partitioned.addPartitionKey(base.limit(5), col("id"), 2)
      .select("id", "row_id", "partition").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 1L, 1L), (2L, 2L, 0L), (3L, 3L, 1L), (4L, 4L, 0L), (5L, 5L, 1L)))
  }

  test("partitionKeyByHash values are stable and bounded") {
    val p1 = Partitioned.partitionKeyByHash(base, col("id"), 8).select("id", "partition")
    val p2 = Partitioned.partitionKeyByHash(base, col("id"), 8).select("id", "partition")
    assert(TestSpark.rows(p1) === TestSpark.rows(p2))
    assert(p1.agg(min("partition"), max("partition")).head().toSeq match {
      case Seq(lo: Long, hi: Long) => lo >= 0 && hi <= 7
      case other => fail(s"unexpected $other")
    })
  }
}
