package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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

  test("record renderer: nested objects, escapes and scalar types parse back in order") {
    val rec = Harness.obj("metric" -> "scale_x", "n" -> 12345678901L, "i" -> 7, "sec" -> 1.5,
      "ok" -> true, "name" -> "a\"b\\c\td", "loads" -> Harness.obj("z" -> 0.25, "a" -> -1.0),
      "points" -> Seq(Harness.obj("copies" -> 2), Harness.obj("copies" -> 3)))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Harness.json(rec))
    assert(node.fieldNames().asScala.toSeq === rec.keys.toSeq)
    assert(node.get("n").isLong && node.get("n").asLong === 12345678901L)
    assert(node.get("i").asInt === 7)
    assert(node.get("sec").isDouble && node.get("sec").asDouble === 1.5)
    assert(node.get("ok").isBoolean && node.get("ok").asBoolean)
    assert(node.get("name").asText === "a\"b\\c\td")
    assert(node.get("loads").fieldNames().asScala.toSeq === Seq("z", "a"))
    assert(node.get("loads").get("a").asDouble === -1.0)
    assert(node.get("points").get(1).get("copies").asInt === 3)
    assert(Harness.json(Harness.obj("none" -> None, "raw" -> Harness.Raw("""{"x":[1,2]}"""))) ===
      """{"none":null,"raw":{"x":[1,2]}}""")
    intercept[IllegalArgumentException](Harness.json(Harness.obj("bad" -> Some(1))))
  }

  test("driver gap: wall time minus the union of job spans, overlapping jobs counted once") {
    def job(id: Int, start: Long, end: Long) = Harness.Job(id, start, end, Seq.empty, "")
    assert(Harness.driverGapMs(1000, Seq.empty) === 1000)
    // [100, 400] and [300, 600] overlap: together they cover 500 ms, not 600
    assert(Harness.driverGapMs(1000, Seq(job(1, 100, 400), job(2, 300, 600))) === 500)
    // a span inside another adds nothing; a disjoint one adds its length
    assert(Harness.driverGapMs(1000,
      Seq(job(1, 100, 600), job(2, 200, 300), job(3, 800, 900))) === 400)
    // order does not matter, and a job that has not ended covers nothing
    assert(Harness.driverGapMs(1000, Seq(job(3, 800, 900), job(1, 100, 600), job(4, 700, -1L))) === 400)
  }

  /** Run `f` with the load gate's wait budget spent, so a busy test box
    * measures at once instead of napping. */
  private def ungated[A](f: => A): A = {
    val budget = Harness.waitBudgetMs.getAndSet(0L)
    try f finally Harness.waitBudgetMs.set(budget)
  }

  test("a phase whose samples disagree fails fast and names its tag") {
    ungated {
      val rec = new Harness.Recorder(spark)
      var n = 0L
      val e = intercept[IllegalArgumentException] {
        rec.phase("drifting_phase", k = 2, same = identity) { n += 1; n }
      }
      assert(e.getMessage.contains("drifting_phase"))
      // agreeing samples pass, and the record holds the fastest under the tag
      val ok = rec.phase("steady_phase", k = 2, same = identity)(Seq(1, 2, 3).toDF("x").count())
      assert(ok.value === 3L && ok.tasks >= 0)
      assert(rec.stragglers.keySet === Set("steady_phase"))
      assert(rec.loads("steady_phase") === ok.load && rec.sec("steady_phase") === ok.sec)
    }
  }

  test("a phase releases its losing samples' localCheckpoint blocks and keeps the winner's") {
    ungated {
      val rec = new Harness.Recorder(spark)
      def blocks(df: org.apache.spark.sql.DataFrame): Int = {
        val rdd = df.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
        spark.sparkContext.getRDDStorageInfo.filter(_.id == rdd.id).map(_.numCachedPartitions).sum
      }
      val outs = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
      val won = rec.phase("checkpointed", k = 2) {
        val out = spark.range(1000).toDF().repartition(4).localCheckpoint(true)
        outs += out
        out
      }
      val lost = outs.filterNot(_ eq won.value)
      assert(outs.size === 2 && lost.size === 1)
      assert(blocks(won.value) === 4 && won.value.count() === 1000L)
      // the release is asynchronous: poll for it
      val deadline = System.currentTimeMillis() + 10000L
      while (blocks(lost.head) > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(blocks(lost.head) === 0)
    }
  }

  test("a one-sample phase runs its body exactly once") {
    ungated {
      val rec = new Harness.Recorder(spark)
      var runs = 0
      val s = rec.phase("once", k = 1) { runs += 1; runs }
      assert(runs === 1 && s.value === 1)
      assert(rec.secs.keySet === Set("once"))
    }
  }

  test("steal share: stolen ticks over all ticks between two /proc/stat cpu lines") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val before = "cpu  1000 0 500 8000 100 0 50 350 0 0"
    val after = "cpu  1600 0 700 8800 100 0 100 750 40 0"
    // delta: 600 + 200 + 800 + 50 + 400 = 2050 ticks, 400 of them stolen;
    // guest time is already inside user and is not counted twice
    assert(Harness.stealShare(before, after) === 400.0 / 2050.0)
    assert(Harness.stealShare(before, before) === 0.0)
    assert(Harness.stealShare("", after) === -1.0)
    assert(Harness.stealShare(before, "cpu0 1 2 3") === -1.0)
  }
}
