package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the full-record guard and the record renderer of [[Bench]]. Each
  * core count has its own full record (`BENCH_FULL_c{cpus}.json`; round 20's
  * 8-core run replaced the 32-core record), and it only accepts runs that
  * cover at least as many queries and the same SF dir as the record they
  * would replace (a 1-query run clobbered the 93-query record in round 10; a
  * full-count sf0.001 run clobbered the sf0.1 record in round 15). The
  * rendered record and stdout line keep the keys, order and number format
  * that `tools/bench_table.py` and the driver's tail capture read.
  */
class BenchGuardSpec extends AnyFunSuite {

  private val prior =
    """{"metric":"total","value":87.285,"unit":"sec","sf":"/root/testdata/sf0.1",""" +
      """"ratio":0.718,"failed":0,"n_queries":99}"""

  test("same SF, same or more queries: accepted") {
    assert(Bench.fullRecordAccepts(prior, 99, "/root/testdata/sf0.1"))
    assert(Bench.fullRecordAccepts(prior, 120, "/root/testdata/sf0.1"))
  }

  test("fewer queries: rejected (round-10 postmortem)") {
    assert(!Bench.fullRecordAccepts(prior, 1, "/root/testdata/sf0.1"))
    assert(!Bench.fullRecordAccepts(prior, 98, "/root/testdata/sf0.1"))
  }

  test("different SF dir: rejected even at full query count (round-15 postmortem)") {
    assert(!Bench.fullRecordAccepts(prior, 99, "/root/testdata/sf0.001"))
    assert(!Bench.fullRecordAccepts(prior, 200, "/root/testdata/sf1"))
  }

  test("SF change accepted only under the explicit override (wrong-SF first write is recoverable)") {
    assert(Bench.fullRecordAccepts(prior, 99, "/root/testdata/sf1", allowSfChange = true))
    assert(!Bench.fullRecordAccepts(prior, 99, "/root/testdata/sf1", allowSfChange = false))
    // the override relaxes only the SF clause, never the narrowing guard
    assert(!Bench.fullRecordAccepts(prior, 98, "/root/testdata/sf1", allowSfChange = true))
  }

  test("no prior record: anything accepted (first write wins)") {
    assert(Bench.fullRecordAccepts("", 1, "/root/testdata/sf0.001"))
  }

  test("an 8-core run writes its own record, never the 32-core one") {
    val records = Map("BENCH_FULL_c32.json" -> prior.replace(""""n_queries":99""", """"n_queries":120"""))
    assert(Bench.recordPath(8, 99, "/root/testdata/sf0.1", records.getOrElse(_, "")) === "BENCH_FULL_c8.json")
  }

  test("a 32-core run is narrow-guarded by the 32-core record only") {
    val records = Map("BENCH_FULL_c32.json" -> prior,
      "BENCH_FULL_c8.json" -> prior.replace(""""n_queries":99""", """"n_queries":120"""))
    assert(Bench.recordPath(32, 99, "/root/testdata/sf0.1", records) === "BENCH_FULL_c32.json")
    assert(Bench.recordPath(32, 98, "/root/testdata/sf0.1", records) === "BENCH_PARTIAL.json")
  }

  test("a SPARK_GRAFT_ONLY run writes BENCH_PARTIAL.json, even where its core count has no record") {
    assert(Bench.recordPath(4, 2, "/root/testdata/sf0.001", _ => "", filtered = true) === "BENCH_PARTIAL.json")
    assert(Bench.recordPath(32, 120, "/root/testdata/sf0.1", _ => prior, filtered = true) === "BENCH_PARTIAL.json")
    assert(Bench.recordPath(4, 2, "/root/testdata/sf0.001", _ => "") === "BENCH_FULL_c4.json")
  }

  test("unparsable prior: accepted rather than wedging the artifact") {
    assert(Bench.fullRecordAccepts("not json at all", 5, "/root/testdata/sf0.1"))
  }

  private val oracleLine =
    """{"metric":"oracle_total","value":0.8,"queries":{"q_a":0.1,"q_b":0.7}}"""

  /** Fixed inputs: two measured queries and one that failed every sample. */
  private def render(oracle: Option[(Double, String)]): (String, String) =
    Bench.render("/data/sf0.1", 4.0, Seq("cpus" -> 8, "git" -> "abc", "spark" -> "4.0.0", "jvm" -> "17"),
      best = Seq("q_b" -> ((1.2344, 2.3)), "q_a" -> ((0.5, 0.1)), "q_fail" -> ((-1.0, -1.0))),
      samples = Map("q_b" -> List((1.2344, 2.3), (1.5, 3.0)), "q_a" -> List((0.5, 0.1))),
      jobsOf = Map("q_b" -> ((3, 5)), "q_a" -> ((1, 2))),
      stealOf = Map("q_b" -> 0.01234, "q_a" -> 0.0), oracle)

  private def keys(line: String): Seq[String] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line).fieldNames().asScala.toSeq

  test("record keys: full and compact in the order readers rely on") {
    val (full, compact) = render(Some((0.8, oracleLine)))
    assert(keys(full) === Seq("metric", "value", "unit", "sf", "load_gate", "cpus", "git", "spark", "jvm",
      "samples", "oracle", "jobs", "steal", "ratios", "queries", "slowest", "worst_ratio", "worst_jobs",
      "spark_total_sec", "oracle_total_sec", "ratio", "failed", "n_queries"))
    // the compact line is the full record's summary, in the same order, and
    // ends with the totals the driver's tail capture grades
    assert(keys(compact) === keys(full).filter(keys(compact).toSet))
    assert(keys(compact).takeRight(5) === Seq("spark_total_sec", "oracle_total_sec", "ratio", "failed", "n_queries"))
  }

  test("rendered record from fixed inputs: values and number format") {
    val (full, compact) = render(Some((0.8, oracleLine)))
    assert(compact === """{"metric":"total","value":1.734,"unit":"sec","sf":"/data/sf0.1","load_gate":4.0,""" +
      """"queries":{"q_b":[1.234,2.3],"q_a":[0.5,0.1],"q_fail":[-1.0,-1.0]},"slowest":{"q_b":1.234,"q_a":0.5},""" +
      """"worst_ratio":{"q_a":5.0,"q_b":1.76},"worst_jobs":{"q_a":[1,2],"q_b":[3,5]},""" +
      """"spark_total_sec":1.734,"oracle_total_sec":0.8,"ratio":2.168,"failed":1,"n_queries":3}""")
    assert(full.contains(""""cpus":8,"git":"abc","spark":"4.0.0","jvm":"17",""" +
      """"samples":{"q_a":[[0.5,0.1]],"q_b":[[1.5,3.0],[1.234,2.3]]},"oracle":""" + oracleLine + "," +
      """"jobs":{"q_a":[1,2],"q_b":[3,5]},"steal":{"q_a":0.0,"q_b":0.012},""" +
      """"ratios":{"q_b":[1.234,0.7,1.76],"q_a":[0.5,0.1,5.0]},"queries":"""))
  }

  test("no oracle: null oracle fields and no embedded oracle line") {
    val (full, compact) = render(None)
    Seq(full, compact).foreach { line =>
      assert(line.endsWith(""""spark_total_sec":1.734,"oracle_total_sec":null,"ratio":null,"failed":1,"n_queries":3}"""))
    }
    assert(!keys(full).contains("oracle"))
    assert(full.contains(""""ratios":{},"""))
    assert(compact.contains(""""worst_ratio":{},"worst_jobs":{},"""))
  }
}
