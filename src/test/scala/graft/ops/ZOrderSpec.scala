package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference interleave on the driver, bit by bit. */
  private def morton(vals: Seq[Long], bits: Int): Long = {
    var out = 0L
    for (j <- vals.indices; i <- 0 until bits)
      out |= ((vals(j) >> i) & 1L) << (i * vals.length + j)
    out
  }

  test("zkey matches a bit-by-bit reference interleave, including edge values") {
    val bits = 10
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1023L),
      (512L, 1L), (123L, 987L), (1023L, 0L))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zkey(Seq(col("a"), col("b")), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (a, b) =>
      assert(got((a, b)) === morton(Seq(a, b), bits), s"interleave($a, $b)")
    }
  }

  test("zkey is monotone per dimension when the other bits are fixed") {
    // along one axis with the other fixed at 0, the curve is ordered
    val bits = 8
    val z = (0L until 256L).toDF("a")
      .select(ZOrder.zkey(Seq(col("a"), lit(0L)), bits).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(z === z.sorted)
  }

  test("zkey is a bijection: output bits deinterleave back to the inputs") {
    val bits = 10
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(200)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zkey(Seq(col("a"), col("b")), bits).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var da = 0L; var db = 0L
      for (i <- 0 until bits) {
        da |= ((z >> (2 * i)) & 1L) << i
        db |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert((da, db) === ((a, b)), s"z=$z did not round-trip")
    }
  }

  test("scaled maps min/max to first/last bucket and never overflows the width") {
    val df = Seq(-100L, -1L, 0L, 57L, 899L).toDF("v")
      .select(ZOrder.scaled(col("v"), -100L, 899L, 4).as("b"))
    val bs = df.collect().map(_.getLong(0))
    assert(bs.head === 0L)
    assert(bs.last === 15L)
    assert(bs.forall(b => b >= 0 && b < 16))
  }

  test("equi-depth scaling spreads a power-law column where equal-width collapses it") {
    // power law with (almost) all-distinct values: v = 1e12 / id^2 — most
    // mass tiny relative to the max, a long heavy tail, no large ties (a
    // repeated value is an unsplittable atom for ANY equi-depth scheme)
    val df = spark.range(1, 10001)
      .selectExpr("CAST(floor(1e12 / (id * id)) AS LONG) AS v")
    val eqWidth = df.select(ZOrder.scaled(col("v"), 0L, 1000000000000L, 8).as("b"))
      .groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eqDepth = df.select(ZOrder.quantileScaled(df, Seq("v"), 8).head.as("b"))
      .groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // equal-width: nearly everything lands in the first cell
    assert(eqWidth(0L).toDouble / 10000 > 0.95)
    // equi-depth: no cell dominates
    assert(eqDepth.values.max.toDouble / 10000 < 0.10)
    // both are total maps over the same rows
    assert(eqDepth.values.sum === 10000L)
  }

  test("equi-depth clustered write round-trips rows") {
    val dir = TestSpark.tempDir("graft_zorder_ed").toString
    val df = spark.range(1, 4097)
      .selectExpr("id", "CAST(floor(1e7 / id) AS LONG) AS a", "(id * 37) % 64 AS b")
    ZOrder.clusteredWriteEquiDepth(df, Seq("a", "b"), s"$dir/z", numFiles = 4)
    val back = spark.read.parquet(s"$dir/z")
    assert(graft.TestSpark.rows(back) === graft.TestSpark.rows(df))
  }

  test("clustered write gives tighter per-file envelopes on BOTH dims than a linear sort") {
    val dir = TestSpark.tempDir("graft_zorder").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")

    ZOrder.clusteredWrite(li, Seq("l_partkey", "l_suppkey"), s"$dir/z", numFiles = 8)
    li.repartitionByRange(8, col("l_orderkey")).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/linear")

    // normalized min/max envelope width per file, summed over both dims —
    // the quantity parquet scan pruning actually depends on
    def meanEnvelope(path: String): Double = {
      val global = li.agg(
        (max("l_partkey") - min("l_partkey")).cast("double"),
        (max("l_suppkey") - min("l_suppkey")).cast("double")).collect()(0)
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      assert(files.length >= 4, s"expected several files, got ${files.length}")
      val per = files.map { f =>
        val r = spark.read.parquet(f).agg(
          (max("l_partkey") - min("l_partkey")).cast("double"),
          (max("l_suppkey") - min("l_suppkey")).cast("double")).collect()(0)
        r.getDouble(0) / global.getDouble(0) + r.getDouble(1) / global.getDouble(1)
      }
      per.sum / per.length
    }

    val z = meanEnvelope(s"$dir/z")
    val linear = meanEnvelope(s"$dir/linear")
    // a linear sort on an uncorrelated key leaves ~full-range envelopes on
    // both clustered dims (≈2.0); the curve must do strictly better
    assert(z < 0.8 * linear, f"zorder envelope $z%.3f vs linear $linear%.3f")
  }
}
