package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** S11: the bulk-load invocation contract (reference run_ingest.py:4-16) —
  * command assembly over the S7 CSV export layout, runner injected. */
class BulkLoadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def touch(dir: Path, name: String): Unit = {
    Files.write(dir.resolve(name), "x".getBytes(StandardCharsets.UTF_8))
    ()
  }

  test("command discovers node_/link_ files sorted and carries the reference flags") {
    val dir = TestSpark.tempDir("graft_rg")
    touch(dir, "node_customer")
    touch(dir, "link_has_license")
    touch(dir, "node_license")
    touch(dir, "ignored.txt")
    val cmd = RedisGraphBulkLoad.command(dir.toString, "redis://localhost:9001", "PYPI")
    assert(cmd.take(7) === Seq("redisgraph-bulk-insert", "-u", "redis://localhost:9001", "PYPI",
      "--enforce-schema", "--skip-invalid-nodes", "--skip-invalid-edges"))
    assert(cmd.drop(7) === Seq(
      "--nodes", s"$dir/node_customer",
      "--nodes", s"$dir/node_license",
      "--relations", s"$dir/link_has_license"))
  }

  test("run hands the argv to the injected runner and enforces exit code 0") {
    val dir = TestSpark.tempDir("graft_rg")
    touch(dir, "node_a")
    var seen: Seq[String] = Seq.empty
    val rc = RedisGraphBulkLoad.run(dir.toString, "redis://h:1", "G") { argv =>
      seen = argv; 0
    }
    assert(rc === 0)
    assert(seen.containsSlice(Seq("--nodes", s"$dir/node_a")))
    intercept[IllegalArgumentException] {
      RedisGraphBulkLoad.run(dir.toString, "redis://h:1", "G")(_ => 1)
    }
  }

  test("multi-part dirs merge to one CSV; header-only parts are dropped") {
    val dir = TestSpark.tempDir("graft_rg_parts")
    val sub = Files.createDirectory(dir.resolve("node_pkg"))
    def part(name: String, lines: String*): Unit = {
      Files.write(sub.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      ()
    }
    val hdr = "\":ID(pkg)\",\"name:STRING\""
    part("part-00000", hdr, "\"p1\",\"a\"")
    part("part-00001", hdr) // empty Spark partition: header only
    part("part-00002", hdr, "\"p2\",\"b\"", "\"p3\",\"c\"")
    part("part-00003", hdr, "") // header + trailing blank line: NOT data-bearing
    val cmd = RedisGraphBulkLoad.command(dir.toString, "redis://h:1", "G")
    // exactly ONE descriptor for the label, pointing at the merged file
    assert(cmd.count(_ == "--nodes-with-label") === 1)
    val merged = cmd(cmd.indexOf("--nodes-with-label") + 2)
    // merged into a staging dir, NEVER into the export artifact
    assert(merged.endsWith("/merged.csv"))
    assert(!merged.startsWith(dir.toString))
    assert(Option(sub.toFile.list()).get.toSet ===
      Set("part-00000", "part-00001", "part-00002", "part-00003"))
    val lines = scala.io.Source.fromFile(merged).getLines().toSeq
    assert(lines === Seq(hdr, "\"p1\",\"a\"", "\"p2\",\"b\"", "\"p3\",\"c\""))
  }

  test("a dir whose every part is header-only contributes nothing") {
    val dir = TestSpark.tempDir("graft_rg_empty")
    val sub = Files.createDirectory(dir.resolve("node_ghost"))
    Files.write(sub.resolve("part-00000"),
      "\":ID(ghost)\"".getBytes(StandardCharsets.UTF_8))
    val cmd = RedisGraphBulkLoad.command(dir.toString, "redis://h:1", "G")
    assert(!cmd.exists(_.contains("ghost")))
  }

  test("end-to-end: S7 CSV export of a real DataFrame feeds the S11 command") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_rg_e2e")
    val nodes = Seq(("n1", "alpha", 3L), ("n2", "be\"ta", 5L)).toDF("node_id", "name", "cnt")
    // write under the node_ prefix the loader scan expects
    RedisGraphCsv.writeNodes(nodes, "customer", s"$dir/node_customer")
    val cmd = RedisGraphBulkLoad.command(dir.toString, "redis://localhost:9001", "G")
    // a Spark output DIRECTORY is resolved to its part file(s) with an
    // explicit label — the loader opens each argument as a CSV file
    // basename match only: Spark also writes hidden .part-*.crc checksums,
    // and Files.list order is filesystem-dependent
    val part = Files.list(dir.resolve("node_customer")).toArray.map(_.toString)
      .filter(p => new java.io.File(p).getName.startsWith("part-")).head
    assert(cmd.containsSlice(Seq("--nodes-with-label", "customer", part)))
    assert(!cmd.contains(s"$dir/node_customer"), "must not pass the bare directory")
    // the exported part file leads with the typed header and quotes strings
    val lines = scala.io.Source.fromFile(part).getLines().toSeq
    assert(lines.head === "\":ID(customer)\",\"name:STRING\",\"cnt:INTEGER\"")
    assert(lines.exists(_.contains("\"be\\\"ta\"")))
  }
}
