package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared measurement core ([[Harness]]) every main runs through. */
class HarnessSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("the session carries every bench conf key") {
    Harness.benchConf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(spark.sparkContext.master === "local[4]")
  }

  test("GraftExtensions SQL functions resolve in a harness session") {
    val r = spark.sql("SELECT sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L))").head()
    assert(r.getAs[Number](0).longValue === 2L)
  }

  test("consume digest is independent of row order and partitioning") {
    val df = (1 to 200).map(i => (i.toLong, s"v$i", i % 7 == 0)).toDF("id", "s", "b")
    val base = Harness.consume(df)
    assert(base._1 === 200L)
    assert(Harness.consume(df.orderBy(desc("id"))) === base)
    assert(Harness.consume(df.repartition(5, col("s"))) === base)
    assert(Harness.consume(df.filter(col("id") =!= 1L))._2 !== base._2)
    assert(Harness.consume(df.filter(lit(false))) === ((0L, 0L)))
  }

  test("straggler rule: stages with >= 8 tasks of >= 200 ms, worst max/median") {
    def stage(id: Int, ms: Long*): Seq[(Int, Long)] = ms.map(id -> _)
    // 8 qualifying tasks, median (index 4 of sorted) 300, max 900 -> 3.0
    val skewed = stage(1, 200, 200, 300, 300, 300, 300, 300, 900)
    assert(Harness.straggler(skewed) === 3.0)
    // sub-200 ms tasks never count: 7 qualifying tasks is below the floor
    assert(Harness.straggler(stage(2, 100, 200, 200, 200, 200, 200, 200, 5000)) === 1.0)
    // the worst stage wins; an even stage reads 1.0
    assert(Harness.straggler(skewed ++ stage(3, Seq.fill(10)(400L): _*)) === 3.0)
    assert(Harness.straggler(Seq.empty) === 1.0)
  }

  test("oracle dump escapes tab, CR and other control characters") {
    assert(Harness.jsonString("a\"b\\c\nd\re\tf\u0001g") ===
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    val out = Files.createTempDirectory("graft_oracle_dump")
    Harness.dumpOracleSql(out.toFile)
    Seq("oracle_sql.json", "oracle_bench_sql.json").foreach { f =>
      val json = new String(Files.readAllBytes(Paths.get(s"$out/$f")), StandardCharsets.UTF_8)
      // every raw control char left is a separator newline between entries
      assert(!json.exists(c => c < ' ' && c != '\n'), f)
      assert(json.startsWith("{") && json.endsWith("}"), f)
    }
    TempCleanup.deleteNow(out)
  }
}
