package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BENCH_FULL narrowing guard ([[Bench.fullRecordAccepts]]): the
  * full-suite artifact only accepts runs that cover at least as many queries,
  * the same SF dir AND the same core count as the record they would replace
  * — each clause is a postmortem (a 1-query run clobbered the 93-query record
  * in round 10; a full-count sf0.001 run clobbered the sf0.1 record in round
  * 15; an 8-core run replaced the 32-core record in round 20).
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

  test("core-count change: rejected against a cpus-stamped prior (round-20 8-core overwrite)") {
    val stamped = prior.replace(""""unit":"sec",""", """"unit":"sec","cpus":32,""")
    assert(Bench.fullRecordAccepts(stamped, 99, "/root/testdata/sf0.1", cpus = 32))
    assert(!Bench.fullRecordAccepts(stamped, 99, "/root/testdata/sf0.1", cpus = 8))
    assert(!Bench.fullRecordAccepts(stamped, 120, "/root/testdata/sf0.1", cpus = 8, allowSfChange = true))
  }

  test("unstamped prior: any core count accepted") {
    assert(Bench.fullRecordAccepts(prior, 99, "/root/testdata/sf0.1", cpus = 8))
    assert(Bench.fullRecordAccepts(prior, 99, "/root/testdata/sf0.1", cpus = 32))
  }

  test("unparsable prior: accepted rather than wedging the artifact") {
    assert(Bench.fullRecordAccepts("not json at all", 5, "/root/testdata/sf0.1"))
  }
}
