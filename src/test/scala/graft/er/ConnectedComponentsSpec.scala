package graft.er

import scala.util.Random

import org.apache.spark.sql.functions.{col, min}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property-style check of the iterative min-label propagation against a
  * brute-force union-find, on fixed shapes + seeded random graphs
  * (SURVEY §5.2's CC-vs-brute-force requirement). */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Brute-force union-find; components labeled by min member id. */
  private def bruteForce(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Both physical paths must agree with brute force: `distributedPath` runs
    * the distributed label-propagation loop; `run` routes graphs this small
    * through the driver union-find fast path. */
  private def sparkCC(edges: Seq[(Long, Long)], distributed: Boolean): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    (if (distributed) ConnectedComponents.distributedPath(df) else ConnectedComponents.run(df))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  for (distributed <- Seq(false, true)) {
    val path = if (distributed) "distributed loop" else "driver union-find"

    test(s"two disjoint triangles [$path]") {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
      assert(sparkCC(edges, distributed) === bruteForce(edges))
    }

    test(s"a long chain (worst-case diameter for label propagation) [$path]") {
      val edges = (1L until 20L).map(i => (i, i + 1))
      val cc = sparkCC(edges, distributed)
      assert(cc === bruteForce(edges))
      assert(cc.values.toSet === Set(1L))
    }

    test(s"self-loops and duplicate/reversed edges are harmless [$path]") {
      val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L))
      val cc = sparkCC(edges, distributed)
      assert(cc === bruteForce(edges))
    }

    test(s"seeded random graphs match brute force [$path]") {
      val rnd = new Random(42)
      for (trial <- 1 to 5) {
        val n = 8 + rnd.nextInt(18)
        val m = 4 + rnd.nextInt(2 * n)
        val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        assert(sparkCC(edges, distributed) === bruteForce(edges), s"trial $trial failed: $edges")
      }
    }
  }

  test("skew-safe distributed path (forced) matches brute force, incl. string ids") {
    // skewSafeMinEdges = 0 forces the hot-label census + broadcast +
    // salted-jump plan that production only engages past 1M edges; a star
    // graph guarantees a hot label (every row converges to component 1).
    def skewSafe(df: org.apache.spark.sql.DataFrame) =
      ConnectedComponents.distributedPath(df, skewSafeMinEdges = 0L).collect()
    val star = (2L to 400L).map(i => (1L, i)) ++ Seq((500L, 501L), (501L, 502L))
    assert(skewSafe(star.toDF("src", "dst")).map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      bruteForce(star))
    val rnd = new Random(7)
    val edges = Seq.fill(800)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    assert(skewSafe(edges.toDF("src", "dst")).map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      bruteForce(edges))
    val sEdges = Seq(("b_x", "a_y"), ("a_y", "c_z"), ("d_1", "d_2")).toDF("src", "dst")
    val dist = skewSafe(sEdges).map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === Map("a_y" -> "a_y", "b_x" -> "a_y", "c_z" -> "a_y",
      "d_1" -> "d_1", "d_2" -> "d_1"))
  }

  test("salted hot-label jump ENGAGES (lowered floor) and its shuffle keys carry the salt") {
    // Regression lock for the de-skew plan shape: correct skew-spreading
    // depends on Catalyst NOT simplifying pmod(xxhash64(__pid), 1) to a
    // foldable 0 — an optimizer upgrade adding `x mod 1 -> 0` would rewrite
    // `__salt = __pz` into a post-join condition, drop the salt from the
    // equi keys, and silently reinstate the one-task straggler with no
    // functional failure. Lowering the hot floor makes the star's label
    // actually classify hot on a toy graph (at the default 50k floor the
    // skew-safe test above only covers the census + empty-hot fallback), and
    // the captured physical plan must show the salt inside BOTH the join
    // keys and the exchange partitioning — not demoted to a filter.
    // rowsPerPartition = 50 raises loopParts on the toy graph (fair-share =
    // total/loopParts would otherwise equal the whole table at loopParts=1
    // and nothing is ever hot)
    var plan = ""
    val star = (2L to 400L).map(i => (1L, i)) ++ Seq((500L, 501L), (501L, 502L))
    val cc = ConnectedComponents.distributedPath(star.toDF("src", "dst"),
        skewSafeMinEdges = 0L, hotFloor = 10L, rowsPerPartition = 50L,
        onSaltedJump = jump => plan = jump.queryExecution.executedPlan.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === bruteForce(star))
    assert(plan.nonEmpty, "salted-jump plan was never captured: hot branch did not engage")
    // the shuffled join's equi keys must pair (component, __salt) with
    // (__pid, __pz) — two key pairs, salt as a genuine key on both sides
    assert("(?s)Join [^\n]*__salt#\\d+[^\n]*__pz#\\d+".r.findFirstIn(plan).isDefined,
      s"salt/__pz not in the join keys — equi keys collapsed?\n$plan")
    // and the exchange feeding it must hash-partition on the salt too
    assert("hashpartitioning\\([^)]*__salt#\\d+".r.findFirstIn(plan).isDefined,
      s"__salt missing from hashpartitioning — shuffle collapsed to hash(component)\n$plan")
    // the failure mode: salt demoted out of the equi keys into a residual
    // condition `(__salt = 0)` (how the collapse manifested when lit(0)
    // was constant-propagated)
    assert("\\(__salt#\\d+ = 0\\)".r.findFirstIn(plan).isEmpty,
      s"salt was folded into a post-join condition — skew spreading is dead\n$plan")
  }

  test("distributed path on a 2000-node random graph matches brute force") {
    val rnd = new Random(99)
    val n = 2000
    val edges = Seq.fill(3000)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
      (0L until 200L).map(i => (10 * i, 10 * i + 5)) // guaranteed extra structure
    val cc = ConnectedComponents.distributedPath(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === bruteForce(edges))
  }

  test("string ids: both paths agree (flagship uses md5 hash ids)") {
    val edges = Seq(("b_x", "a_y"), ("a_y", "c_z"), ("d_1", "d_2")).toDF("src", "dst")
    val fast = ConnectedComponents.run(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = ConnectedComponents.distributedPath(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fast === dist)
    assert(fast === Map("a_y" -> "a_y", "b_x" -> "a_y", "c_z" -> "a_y", "d_1" -> "d_1", "d_2" -> "d_1"))
  }

  test("string ids: both paths label by Spark's min (UTF-8 byte order, not UTF-16)") {
    // U+FF61 sorts AFTER the surrogate pair of U+1F600 in UTF-16 (0xFF61 >
    // 0xD83D) but BEFORE it in UTF-8 bytes / code points (EF BD A1 < F0 9F
    // 98 80), which is the order Spark's min() uses
    val (halfwidth, emoji) = ("\uFF61", new String(Character.toChars(0x1F600)))
    assert(emoji.compareTo(halfwidth) < 0) // the orders really disagree
    val edges = Seq((emoji, "\uFF70"), ("\uFF70", halfwidth), ("y_1", "y_2")).toDF("src", "dst")
    assert(Seq(emoji, halfwidth, "\uFF70").toDF("id").select(min(col("id"))).head.getString(0) === halfwidth)
    val expected = Map(halfwidth -> halfwidth, emoji -> halfwidth, "\uFF70" -> halfwidth,
      "y_1" -> "y_1", "y_2" -> "y_1")
    for ((path, cc) <- Seq("driver" -> ConnectedComponents.driverPath(edges),
                           "distributed" -> ConnectedComponents.distributedPath(edges)))
      assert(cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap === expected, path)
  }

  test("both paths agree on schema (id type preserved)") {
    val intEdges = Seq((1, 2), (2, 3)).toDF("src", "dst")
    val fast = ConnectedComponents.run(intEdges)
    val dist = ConnectedComponents.distributedPath(intEdges)
    assert(fast.schema.map(f => (f.name, f.dataType)) === dist.schema.map(f => (f.name, f.dataType)))
    assert(fast.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ===
      dist.collect().map(r => (r.getInt(0), r.getInt(1))).toSet)
  }

  test("distributed path leaves no session residue: confs unset before are unset after") {
    // a fresh session has spark.sql.adaptive.enabled unset; the loop turns
    // AQE off and must unset it again, not pin the default explicitly
    val s = spark.newSession()
    def views() = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val (confBefore, viewsBefore) = (s.conf.getAll, views())
    val edges = s.createDataFrame(Seq((1L, 2L), (2L, 3L), (10L, 11L))).toDF("src", "dst")
    assert(ConnectedComponents.distributedPath(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === bruteForce(Seq((1L, 2L), (2L, 3L), (10L, 11L))))
    val confAfter = s.conf.getAll.toSet
    assert(confAfter.diff(confBefore.toSet) === Set.empty, "set or changed by the run")
    assert(confBefore.toSet.diff(confAfter) === Set.empty, "unset or changed by the run")
    assert(views() === viewsBefore)
  }

  test("clusterMapping hashed=false emits min-id cluster ids; hashed=true stable hashes") {
    val edges = Seq((7L, 3L), (3L, 9L), (20L, 21L)).toDF("from", "to")
    val plain = ConnectedComponents.clusterMapping(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain === Map(3L -> 3L, 7L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
    val hashed = ConnectedComponents.clusterMapping(edges, hashed = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed.keySet === plain.keySet)
    assert(hashed(3L) === hashed(7L) && hashed(7L) === hashed(9L))
    assert(hashed(20L) === hashed(21L))
    assert(hashed(3L) !== hashed(20L))
  }
}
