package graft.graph

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.RedisGraphCsv

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val meta = MetaGraph(
    subgraphs = Map(
      "has_requirement" -> (("package", "requirement")),
      "has_license" -> (("package", "license"))),
    nodeGrouping = Map("package" -> Seq("package", "requirement")),
    linkGrouping = Map.empty,
    inputIds = Seq("latest"),
    nodeSqls = Map(
      "package" -> "SELECT md5(name) AS node_id, name FROM latest",
      "requirement" -> "SELECT md5(req) AS node_id, req AS name FROM latest",
      "license" -> "SELECT md5(license) AS node_id, license FROM latest"),
    linkSqls = Map(
      "has_requirement" -> "SELECT md5(name) AS from_id, md5(req) AS to_id FROM latest",
      "has_license" -> "SELECT md5(name) AS from_id, md5(license) AS to_id FROM latest"))

  test("MetaGraph derives nodes/links and completes singleton groupings (metagraph.py)") {
    assert(meta.nodes === Seq("license", "package", "requirement"))
    assert(meta.links === Seq("has_license", "has_requirement"))
    assert(meta.fullNodeGrouping("license") === Seq("license"))
    assert(meta.fullLinkGrouping("has_license") === Seq("has_license"))
  }

  test("MetaGraph.triplets maps links to grouped endpoints (metagraph.py triplets)") {
    assert(meta.triplets("has_requirement") === (("package", "package")))
    assert(meta.triplets("has_license") === (("package", "license")))
  }

  test("MetaGraph rejects groupings/sqls that reference undefined items") {
    intercept[IllegalArgumentException] {
      meta.copy(nodeGrouping = Map("x" -> Seq("nope")))
    }
    intercept[IllegalArgumentException] {
      meta.copy(nodeSqls = meta.nodeSqls - "license")
    }
  }

  test("Grouping builder emits pop-union + N-way left join (group/meta.py:10-38)") {
    val sql = Grouping.nodeJoinSql("t0.node_id, t1.a, t2.b", Seq("n1", "n2"))
    assert(sql.contains("SELECT DISTINCT node_id"))
    assert(sql.contains("LEFT JOIN n1 AS t1 ON t0.node_id = t1.node_id"))
    assert(sql.contains("LEFT JOIN n2 AS t2 ON t0.node_id = t2.node_id"))
    // and it actually runs
    Seq(("a", 1)).toDF("node_id", "a").createOrReplaceTempView("n1")
    Seq(("b", 2)).toDF("node_id", "b").createOrReplaceTempView("n2")
    val out = spark.sql(Grouping.nodeJoinSql("t0.node_id, t1.a, t2.b", Seq("n1", "n2")))
    assert(TestSpark.rows(out) === Set(Seq("a", 1, null), Seq("b", null, 2)))
  }

  test("Validate.violations finds dangling link endpoints (validate.py:33-43)") {
    val nodes = Seq(1L, 2L).toDF("node_id")
    val links = Seq((1L, 2L), (1L, 99L)).toDF("from_id", "to_id")
    assert(Validate.violations(links, nodes, "to_id").as[Long].collect().toSeq === Seq(99L))
    assert(Validate.violations(links, nodes, "from_id").count() === 0)
  }

  test("Batched link-id validator: one action, per-check messages, all checks evaluated") {
    val cat = new graft.engine.Catalog(spark,
      Files.createTempDirectory("val_batch").toString)
    cat.write(Seq(1L, 2L).toDF("node_id"), "gn_a")
    cat.write(Seq(10L, 20L).toDF("node_id"), "gn_b")
    cat.write(Seq((1L, 10L), (2L, 99L)).toDF("from_id", "to_id"), "gl_x")
    // clean check set: passes silently
    Validate.linkIdValidators(Seq(("gl_x", "gn_a", "from_id")))
      .run(cat)
    // dirty to_id: fails with the same message shape as the per-check node
    val ex = intercept[Exception] {
      Validate.linkIdValidators(Seq(
        ("gl_x", "gn_a", "from_id"), ("gl_x", "gn_b", "to_id"))).run(cat)
    }
    // DfNode wraps node failures; the per-check message rides the cause
    assert(ex.getCause.getMessage.contains("1 to_id values in 'gl_x' missing from 'gn_b'"))
  }

  test("Batched link-id validator rejects an empty check set up front") {
    val ex = intercept[IllegalArgumentException](Validate.linkIdValidators(Seq.empty))
    assert(ex.getMessage.contains("at least one"))
  }

  test("RedisGraph node CSV: typed headers, quote-nonnumeric, backslash escapes (redisgraph.py:36-50)") {
    val nodes = Seq(
      (11L, "plain", 1.5),
      (12L, "has \"quote\" and \\slash", 2.0)
    ).toDF("node_id", "name", "score")
    val dir = Files.createTempDirectory("rg").toString + "/node_pkg"
    RedisGraphCsv.writeNodes(nodes, "pkg", dir)
    val part = Files.list(Paths.get(dir)).toArray.map(_.toString).filter(_.endsWith(".txt")).head
    val lines = Files.readAllLines(Paths.get(part)).toArray.map(_.toString).toSeq
    assert(lines.head === "\":ID(pkg)\",\"name:STRING\",\"score:FLOAT\"")
    assert(lines.contains("11,\"plain\",1.5"))
    assert(lines.contains("12,\"has \\\"quote\\\" and \\\\slash\",2.0"))
  }

  test("RedisGraph link CSV: START/END typed headers (redisgraph.py:74-94)") {
    val links = Seq((1L, 2L, "dep")).toDF("from_id", "to_id", "kind")
    val dir = Files.createTempDirectory("rg").toString + "/link_req"
    RedisGraphCsv.writeLinks(links, "pkg", "req", dir)
    val part = Files.list(Paths.get(dir)).toArray.map(_.toString).filter(_.endsWith(".txt")).head
    val lines = Files.readAllLines(Paths.get(part)).toArray.map(_.toString).toSeq
    assert(lines.head === "\":START_ID(pkg)\",\":END_ID(req)\",\"kind:STRING\"")
    assert(lines(1) === "1,2,\"dep\"")
  }

  test("PageRank: star center dominates, symmetric spokes tie, cycle is uniform, mass bounded") {
    def ranks(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Analytics.pageRank(edges.toDF("src", "dst"), iters = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // star 1,2,3 -> 0: the sink out-ranks the spokes, spokes identical
    val star = ranks(Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    assert(star(0L) > star(1L))
    assert(star(1L) === star(2L) && star(2L) === star(3L))
    // 2-cycle: symmetric, equal ranks; nothing dangles so mass holds to
    // within the per-round floor rounding (10 rounds x 2 nodes x 2 floors)
    val cyc = ranks(Seq((0L, 1L), (1L, 0L)))
    assert(cyc(0L) === cyc(1L))
    assert(math.abs(cyc.values.sum - 1000000000L) < 100L)
    // dangling sink (node 0 has no out-edges): its unredistributed mass
    // leaks, so total mass is strictly below 1.0 — the documented semantics
    assert(star.values.sum < 1000000000L)
  }

  test("PageRank: broadcast (RDD-loop) path agrees with shuffle path, rank for rank") {
    // the broadcast path's rounds now run as raw-RDD aggregates (r20); the
    // shuffle path is untouched Catalyst SQL — bit-equal integer ranks on
    // random graphs pin the arithmetic (div rounding, absent-s default,
    // dangling leak) across the rewrite
    val rnd = new scala.util.Random(193)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(15)
      val edges = (for (a <- 0 until n; b <- 0 until n
                        if a != b && rnd.nextDouble() < 0.15) yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val viaBroadcast = Analytics.pageRankBroadcast(edges.toDF("src", "dst"), iters = 10)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaShuffle = Analytics.pageRankShuffle(edges.toDF("src", "dst"), iters = 10)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(viaBroadcast === viaShuffle, s"trial $trial")
      }
    }
  }

  test("Triangle count: K4, hub wedges, direction/duplicate/self-loop invariance") {
    def tri(edges: Seq[(Long, Long)]): Long =
      Analytics.triangleCount(edges.toDF("src", "dst")).collect().head.getLong(0)
    // K4 has exactly C(4,3) = 4 triangles
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(tri(k4) === 4L)
    // a star (hub 0 -> 1..5) has wedges but no closing edge: zero triangles
    assert(tri((1L to 5L).map(i => (0L, i))) === 0L)
    // close one spoke pair: exactly one triangle
    assert(tri((1L to 5L).map(i => (0L, i)) :+ (2L, 3L)) === 1L)
    // reversed duplicates, repeated rows, and self-loops must not change the
    // count (the operator canonicalizes to undirected distinct edges)
    val noisy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (0L, 2L),
      (0L, 2L), (2L, 2L), (1L, 1L))
    assert(tri(noisy) === 1L)
    // two triangles sharing an edge
    assert(tri(Seq((0L, 1L), (1L, 2L), (0L, 2L), (1L, 3L), (2L, 3L))) === 2L)
    // degenerate graphs (self-loops only / nothing survives canonicalization)
    // must report 0, not NULL — the broadcast path's sum over zero rows used
    // to return a NULL row where the shuffle path counted 0
    val selfLoops = Analytics.triangleCount(Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")).collect()
    assert(selfLoops.length === 1 && !selfLoops.head.isNullAt(0))
    assert(selfLoops.head.getLong(0) === 0L)
  }

  test("Triangle count: shuffle path agrees with broadcast path on noisy input") {
    // run the far side of the broadcast gate and replay the invariance
    // cases: the wedge formulation counts multiplicities, so its
    // unconditional dedup is what this protects
    def tri(edges: Seq[(Long, Long)]): Long =
      Analytics.triangleCountShuffle(edges.toDF("src", "dst")).collect().head.getLong(0)
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(tri(k4) === 4L)
    val noisy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (0L, 2L),
      (0L, 2L), (2L, 2L), (1L, 1L))
    assert(tri(noisy) === 1L)
    // duplicates under assumeCanonical must not over-count either
    val dupCanon = Seq((0L, 1L), (0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    assert(Analytics.triangleCountShuffle(dupCanon, assumeCanonical = true)
      .collect().head.getLong(0) === 1L)
  }

  test("Triangle count: distributed-degree branch agrees with local-relation branch") {
    // the broadcast path ships degrees as a driver-local relation only under
    // a vertex sub-gate; force the distributed-degree branch (sub-gate 0)
    // and require the identical count — this is the branch ScaleGraph runs
    // at 1.9M vertices, pinned here at unit size
    def k4Plus = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L), (3L, 5L))
    val local = Analytics.triangleCount(k4Plus.toDF("src", "dst"))
      .collect().head.getLong(0)
    val dist = Analytics.triangleCountBroadcast(k4Plus.toDF("src", "dst"), localDegreeMaxVertices = 0L)
      .collect().head.getLong(0)
    assert(dist === local)
    assert(dist === 5L) // K4 has 4 triangles + the (3,4,5) triangle
  }

  test("Triangle count matches driver-side brute force on random graphs, both paths") {
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 4) {
      val n = 12 + rnd.nextInt(10)
      // random undirected graph, emitted as noisy directed rows (random
      // direction, occasional duplicates) — the operator must canonicalize
      val undirected = (for (a <- 0 until n; b <- a + 1 until n
                             if rnd.nextDouble() < 0.35) yield (a.toLong, b.toLong)).toSeq
      val noisy = undirected.flatMap { case (a, b) =>
        val base = if (rnd.nextBoolean()) Seq((a, b)) else Seq((b, a))
        if (rnd.nextDouble() < 0.2) base ++ base else base
      }
      val adj = undirected.toSet
      def conn(x: Long, y: Long) = adj.contains((math.min(x, y), math.max(x, y)))
      val expected = (for (a <- 0 until n; b <- a + 1 until n; c <- b + 1 until n
                           if conn(a, b) && conn(b, c) && conn(a, c)) yield 1).sum.toLong
      val broadcastPath = Analytics.triangleCount(noisy.toDF("src", "dst"))
        .collect().head.getLong(0)
      assert(broadcastPath === expected, s"broadcast path, trial $trial")
      val shufflePath = Analytics.triangleCountShuffle(noisy.toDF("src", "dst"))
        .collect().head.getLong(0)
      assert(shufflePath === expected, s"shuffle path, trial $trial")
    }
  }

  test("PageRank rejects iters < 1 (the two strategies disagreed on 0)") {
    intercept[IllegalArgumentException] {
      Analytics.pageRank(Seq((0L, 1L)).toDF("src", "dst"), iters = 0)
    }
    ()
  }

  test("RedisGraph CSV multi-file write: the header leads EVERY part file") {
    val nodes = (1 to 40).map(i => (i.toLong, s"n$i")).toDF("node_id", "name").repartition(4)
    val dir = Files.createTempDirectory("rg").toString + "/multi"
    RedisGraphCsv.write(RedisGraphCsv.nodeHeader(nodes, "pkg"), dir, singleFile = false)
    val parts = Files.list(Paths.get(dir)).toArray.map(_.toString).filter(_.endsWith(".txt"))
    assert(parts.length > 1, "expected a multi-part write")
    val header = "\":ID(pkg)\",\"name:STRING\""
    parts.foreach { p =>
      val lines = Files.readAllLines(Paths.get(p)).toArray.map(_.toString).toSeq
      assert(lines.head === header, s"part $p does not lead with the header")
    }
    // and the union of bodies is the full table, once
    val all = parts.flatMap(p => Files.readAllLines(Paths.get(p)).toArray.map(_.toString).toSeq.tail)
    assert(all.length === 40)
  }
}
