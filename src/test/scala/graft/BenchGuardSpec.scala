package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the full-record guard and the record renderer of [[Bench]]. Each
  * core count has its own full record (`BENCH_FULL_c{cpus}.json`; round 20's
  * 8-core run replaced the 32-core record). An unfiltered run replaces it
  * unless it was taken over another SF dir (a full-suite sf0.001 run
  * clobbered the sf0.1 record in round 15); a SPARK_GRAFT_ONLY run never
  * does (a 1-query run clobbered the 93-query record in round 10). The
  * rendered record and stdout line keep the keys, order and number format
  * that `tools/bench_table.py` and the driver's tail capture read.
  */
class BenchGuardSpec extends AnyFunSuite {

  private val prior =
    """{"metric":"total","value":87.285,"unit":"sec","sf":"/root/testdata/sf0.1",""" +
      """"ratio":0.718,"failed":0,"n_queries":99}"""

  private def withQueries(n: Int) = prior.replace(""""n_queries":99""", s""""n_queries":$n""")

  test("same SF: accepted") {
    assert(Bench.fullRecordAccepts(prior, "/root/testdata/sf0.1"))
  }

  test("an unfiltered 105-query run replaces a 109-query record") {
    // the committed full records hold a 109-query suite that has since
    // shrunk to 105; an unfiltered run covers the whole current suite
    val records = Map("BENCH_FULL_c32.json" -> withQueries(109))
    assert(Bench.recordPath(32, "/root/testdata/sf0.1", records.getOrElse(_, "")) === "BENCH_FULL_c32.json")
    // the round-10 case, a 1-query investigation, is a filtered run
    assert(Bench.recordPath(32, "/root/testdata/sf0.1", records.getOrElse(_, ""), filtered = true) ===
      "BENCH_PARTIAL.json")
  }

  test("different SF dir: rejected even at full query count (round-15 postmortem)") {
    assert(!Bench.fullRecordAccepts(prior, "/root/testdata/sf0.001"))
    assert(!Bench.fullRecordAccepts(withQueries(200), "/root/testdata/sf1"))
  }

  test("SF change accepted only under the explicit override (wrong-SF first write is recoverable)") {
    assert(Bench.fullRecordAccepts(prior, "/root/testdata/sf1", allowSfChange = true))
    assert(!Bench.fullRecordAccepts(prior, "/root/testdata/sf1", allowSfChange = false))
  }

  test("no prior record: anything accepted (first write wins)") {
    assert(Bench.fullRecordAccepts("", "/root/testdata/sf0.001"))
  }

  test("an 8-core run writes its own record, never the 32-core one") {
    val records = Map("BENCH_FULL_c32.json" -> withQueries(120))
    assert(Bench.recordPath(8, "/root/testdata/sf0.1", records.getOrElse(_, "")) === "BENCH_FULL_c8.json")
  }

  test("a 32-core run is narrow-guarded by the 32-core record only") {
    val records = Map("BENCH_FULL_c32.json" -> prior,
      "BENCH_FULL_c8.json" -> prior.replace("/root/testdata/sf0.1", "/root/testdata/sf1"))
    assert(Bench.recordPath(32, "/root/testdata/sf0.1", records) === "BENCH_FULL_c32.json")
    assert(Bench.recordPath(32, "/root/testdata/sf1", records) === "BENCH_PARTIAL.json")
  }

  test("a SPARK_GRAFT_ONLY run writes BENCH_PARTIAL.json, even where its core count has no record") {
    assert(Bench.recordPath(4, "/root/testdata/sf0.001", _ => "", filtered = true) === "BENCH_PARTIAL.json")
    assert(Bench.recordPath(32, "/root/testdata/sf0.1", _ => prior, filtered = true) === "BENCH_PARTIAL.json")
    assert(Bench.recordPath(4, "/root/testdata/sf0.001", _ => "") === "BENCH_FULL_c4.json")
  }

  test("unparsable prior: accepted rather than wedging the artifact") {
    assert(Bench.fullRecordAccepts("not json at all", "/root/testdata/sf0.1"))
  }

  private val oracleLine =
    """{"metric":"oracle_total","value":0.8,"queries":{"q_a":0.1,"q_b":0.7}}"""

  /** Fixed inputs: two measured queries and one that failed every sample.
    * Each query's samples are in the order taken; q_b's fastest is its last. */
  private def render(oracle: Option[(Double, String)]): (String, String) =
    Bench.render("/data/sf0.1", 4.0, Seq("cpus" -> 8, "git" -> "abc", "spark" -> "4.0.0", "jvm" -> "17"),
      Seq("q_b" -> Seq(Bench.Timed(1.5, 3.0, (4, 6), 0.02), Bench.Timed(1.2344, 2.3, (3, 5), 0.01234)),
        "q_a" -> Seq(Bench.Timed(0.5, 0.1, (1, 2), 0.0)),
        "q_fail" -> Seq.fill(3)(Bench.Timed(-1.0, 0.5, (0, 0), 0.0))), oracle)

  private def keys(line: String): Seq[String] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line).fieldNames().asScala.toSeq

  test("record keys: full and compact in the order readers rely on") {
    val (full, compact) = render(Some((0.8, oracleLine)))
    assert(keys(full) === Seq("metric", "value", "unit", "sf", "load_gate", "cpus", "git", "spark", "jvm",
      "samples", "oracle", "jobs", "steal", "ratios", "queries", "slowest", "worst_ratio", "worst_jobs",
      "geomean_ratio", "spark_wins", "spark_total_sec", "oracle_total_sec", "ratio", "failed", "n_queries"))
    // the compact line is the full record's summary, in the same order, and
    // ends with the totals the driver's tail capture grades
    assert(keys(compact) === keys(full).filter(keys(compact).toSet))
    assert(keys(compact).takeRight(7) === Seq("geomean_ratio", "spark_wins",
      "spark_total_sec", "oracle_total_sec", "ratio", "failed", "n_queries"))
  }

  test("rendered record from fixed inputs: values and number format") {
    val (full, compact) = render(Some((0.8, oracleLine)))
    assert(compact === """{"metric":"total","value":1.734,"unit":"sec","sf":"/data/sf0.1","load_gate":4.0,""" +
      """"queries":{"q_b":[1.234,2.3],"q_a":[0.5,0.1],"q_fail":[-1.0,-1.0]},"slowest":{"q_b":1.234,"q_a":0.5},""" +
      """"worst_ratio":{"q_a":5.0,"q_b":1.76},"worst_jobs":{"q_a":[1,2],"q_b":[3,5]},""" +
      """"geomean_ratio":2.969,"spark_wins":0,"spark_total_sec":1.734,"oracle_total_sec":0.8,"ratio":2.168,"failed":1,"n_queries":3}""")
    assert(full.contains(""""cpus":8,"git":"abc","spark":"4.0.0","jvm":"17",""" +
      """"samples":{"q_a":[[0.5,0.1]],"q_b":[[1.5,3.0],[1.234,2.3]]},"oracle":""" + oracleLine + "," +
      """"jobs":{"q_a":[1,2],"q_b":[3,5]},"steal":{"q_a":0.0,"q_b":0.012},""" +
      """"ratios":{"q_b":[1.234,0.7,1.76],"q_a":[0.5,0.1,5.0]},"queries":"""))
  }

  test("no oracle: null oracle fields and no embedded oracle line") {
    val (full, compact) = render(None)
    Seq(full, compact).foreach { line =>
      assert(line.endsWith(""""geomean_ratio":null,"spark_wins":null,"spark_total_sec":1.734,"oracle_total_sec":null,"ratio":null,"failed":1,"n_queries":3}"""))
    }
    assert(!keys(full).contains("oracle"))
    assert(full.contains(""""ratios":{},"""))
    assert(compact.contains(""""worst_ratio":{},"worst_jobs":{},"""))
  }

  private def tree(line: String) = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  /** A fake measure: seconds per (pass, query), a missing pair fails; every
    * call is logged, and load, jobs and steal name the pass that took it. */
  private def passes(names: Seq[String], secs: Map[(Int, String), Double]) = {
    val calls = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    val runs = Bench.timedPasses(names) { (pass, name) =>
      calls += pass -> name
      Bench.Timed(secs.getOrElse((pass, name), -1.0), pass.toDouble, (pass, 10 * pass), pass / 100.0)
    }
    (calls.toSeq, runs)
  }

  test("every query is attempted exactly three times, all of pass 1 before pass 2") {
    val (calls, runs) = passes(Seq("q_a", "q_b"), Map.empty.withDefaultValue(1.0))
    assert(Bench.Passes === 3)
    assert(calls === Seq(1 -> "q_a", 1 -> "q_b", 2 -> "q_a", 2 -> "q_b", 3 -> "q_a", 3 -> "q_b"))
    assert(runs.map { case (k, ts) => k -> ts.map(_.load) } === Seq("q_a" -> Seq(1.0, 2.0, 3.0), "q_b" -> Seq(1.0, 2.0, 3.0)))
  }

  test("the best entry is the fastest successful sample, with that sample's load, jobs and steal") {
    val (_, runs) = passes(Seq("q_a"), Map((1, "q_a") -> 0.9, (2, "q_a") -> 0.4, (3, "q_a") -> 0.6))
    val full = tree(Bench.render("/d", 4.0, Nil, runs, None)._1)
    assert(full.get("queries").get("q_a").toString === "[0.4,2.0]")
    assert(full.get("jobs").get("q_a").toString === "[2,20]")
    assert(full.get("steal").get("q_a").asDouble === 0.02)
    assert(full.get("samples").get("q_a").toString === "[[0.9,1.0],[0.4,2.0],[0.6,3.0]]")
  }

  test("a query that fails all three samples records -1 after three attempts") {
    val (calls, runs) = passes(Seq("q_fail"), Map.empty)
    assert(calls.size === 3)
    val full = tree(Bench.render("/d", 4.0, Nil, runs, None)._1)
    assert(full.get("queries").get("q_fail").toString === "[-1.0,-1.0]")
    assert(full.get("failed").asInt === 1)
    Seq("samples", "jobs", "steal").foreach(k => assert(!full.get(k).has("q_fail")))
  }

  test("a query that fails one sample keeps the other two") {
    val (_, runs) = passes(Seq("q_a"), Map((1, "q_a") -> 0.7, (3, "q_a") -> 0.8))
    val full = tree(Bench.render("/d", 4.0, Nil, runs, None)._1)
    assert(full.get("samples").get("q_a").toString === "[[0.7,1.0],[0.8,3.0]]")
    assert(full.get("queries").get("q_a").toString === "[0.7,1.0]")
    assert(full.get("failed").asInt === 0)
  }

  test("a throw out of measure ends the suite and keeps the samples taken before it") {
    val runs = Bench.timedPasses(Seq("q_a", "q_b")) { (pass, name) =>
      if (pass == 2 && name == "q_b") throw new IllegalStateException("session rebuild failed")
      Bench.Timed(1.0, 0.0, (1, 1), 0.0)
    }
    assert(runs.map { case (k, ts) => k -> ts.size } === Seq("q_a" -> 2, "q_b" -> 1))
  }

  test("geomean ratio and win count: over the queries both engines measured") {
    val oracle = """{"metric":"oracle_total","value":2.5,"queries":{"q_a":2.0,"q_b":0.5,"q_c":0.0}}"""
    val runs = Seq("q_a" -> Seq(Bench.Timed(0.5, 0.0, (1, 1), 0.0)), "q_b" -> Seq(Bench.Timed(2.0, 0.0, (1, 1), 0.0)),
      "q_c" -> Seq(Bench.Timed(0.3, 0.0, (1, 1), 0.0)), "q_d" -> Seq(Bench.Timed(-1.0, 0.0, (0, 0), 0.0)))
    val compact = tree(Bench.render("/d", 4.0, Nil, runs, Some((2.5, oracle)))._2)
    // q_a 0.25 and q_b 4.0: geomean 1.0, and Spark wins q_a only; q_c has no
    // oracle time and q_d no Spark time
    assert(compact.get("geomean_ratio").asDouble === 1.0)
    assert(compact.get("spark_wins").asInt === 1)
  }
}
