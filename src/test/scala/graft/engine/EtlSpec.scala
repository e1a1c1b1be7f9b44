package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSql
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.StaticScope

// top-level so spark.implicits can derive encoders (local case classes can't)
case class TypedIn(id: Long, s: String)
case class TypedOut(id: Long, len: Int)

/** Mirrors the reference's executor/processor/etl suites
  * (tests/test_executor.py:11-93, test_processor.py:17-113, test_etl.py:65-106):
  * SQL nodes end-to-end, transform validation, DAG wiring, cycle detection,
  * concurrent execution, incremental cache merge. */
class EtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat() =
    new Catalog(spark, TestSpark.tempDir("graft_etl").toString)

  test("SqlNode registers inputs and materializes one output per SQL (UNION shape of test_executor.py:26-32)") {
    val cat = freshCat()
    cat.write(Seq(1, 2).toDF("v"), "in1")
    cat.write(Seq(2, 3).toDF("v"), "in2")
    val node = new SqlNode("u", Seq("in1", "in2"),
      Map("out" -> "SELECT v FROM in1 UNION SELECT v FROM in2"))
    node.execute(cat)
    assert(TestSpark.rows(cat.read("out")) === Set(Seq(1), Seq(2), Seq(3)))
  }

  test("SqlNode temp views do not leak into the shared session") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "leaky_in")
    new SqlNode("iso", Seq("leaky_in"), Map("leaky_out" -> "SELECT * FROM leaky_in")).execute(cat)
    assert(!spark.catalog.tableExists("leaky_in"))
  }

  test("SqlNode failure carries node name and SQL text (reference etl.py:218-232)") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "in1")
    val node = new SqlNode("bad_sql", Seq("in1"), Map("out" -> "SELECT nope FROM in1"))
    val e = intercept[RuntimeException](node.execute(cat))
    assert(e.getMessage.contains("bad_sql"))
    assert(e.getMessage.contains("SELECT nope FROM in1"))
  }

  test("node broadcast ceiling is 64MB") {
    assert(SqlNode.broadcastThreshold === (64L << 20).toString)
  }

  test("DfNode validates transform arity (reference etl.py:445-449)") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "a")
    val node = new DfNode("wrong_arity", Seq("a"), Seq("o1", "o2"),
      fn = dfs => Seq(dfs.head))
    val e = intercept[Exception](node.execute(cat))
    assert(e.getMessage.contains("1 tables for 2 output ids"))
  }

  test("a node that does not materialize its declared outputs fails") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "a")
    val node = new DfNode("noop", Seq("a"), Seq("never_written"),
      fn = dfs => dfs) { // write to the wrong id on purpose
      override def run(c: Catalog): Unit = ()
    }
    val e = intercept[IllegalArgumentException](node.execute(cat))
    assert(e.getMessage.contains("never_written"))
  }

  test("EtlGroup derives external inputs/outputs/intermediates from shared ids (test_etl.py:65-80)") {
    val n1 = new SqlNode("n1", Seq("raw"), Map("mid" -> "SELECT * FROM raw"))
    val n2 = new SqlNode("n2", Seq("mid"), Map("fin" -> "SELECT * FROM mid"))
    val g = new EtlGroup("g", Seq(n1, n2))
    assert(g.inputIds === Seq("raw"))
    assert(g.outputIds === Seq("fin"))
    assert(g.intermediateIds === Seq("mid"))
  }

  test("duplicate producers for one id are rejected") {
    val n1 = new SqlNode("n1", Seq("raw"), Map("dup" -> "SELECT 1"))
    val n2 = new SqlNode("n2", Seq("raw"), Map("dup" -> "SELECT 2"))
    val e = intercept[IllegalArgumentException](new EtlGroup("g", Seq(n1, n2)))
    assert(e.getMessage.contains("dup"))
  }

  test("dependency cycles are detected at construction (DAGVertexNotFound analogue)") {
    val n1 = new SqlNode("n1", Seq("b"), Map("a" -> "SELECT * FROM b"))
    val n2 = new SqlNode("n2", Seq("a"), Map("b" -> "SELECT * FROM a"))
    val e = intercept[IllegalArgumentException](new EtlGroup("g", Seq(n1, n2)))
    assert(e.getMessage.contains("cycle"))
  }

  test("sequential and concurrent execution produce identical results") {
    def pipeline(): Seq[EtlNode] = Seq(
      new SqlNode("s1", Seq("base"), Map("t1" -> "SELECT v * 2 AS v FROM base")),
      new SqlNode("s2", Seq("base"), Map("t2" -> "SELECT v + 1 AS v FROM base")),
      new SqlNode("s3", Seq("t1", "t2"),
        Map("merged" -> "SELECT v FROM t1 UNION ALL SELECT v FROM t2")))

    val seqCat = freshCat()
    seqCat.write(Seq(1, 2, 3).toDF("v"), "base")
    new EtlGroup("gseq", pipeline()).execute(seqCat, maxActiveRun = 1)

    val conCat = freshCat()
    conCat.write(Seq(1, 2, 3).toDF("v"), "base")
    new EtlGroup("gcon", pipeline()).execute(conCat, maxActiveRun = 4)

    assert(cmp(seqCat.read("merged")) === cmp(conCat.read("merged")))
    assert(cmp(conCat.read("merged")) === Seq(2, 2, 3, 4, 4, 6))
  }
  private def cmp(df: DataFrame): Seq[Int] = df.collect().map(_.getInt(0)).toSeq.sorted

  test("an empty group completes immediately in concurrent mode (no latch hang)") {
    val cat = freshCat()
    val t0 = System.nanoTime()
    new EtlGroup("empty", Seq.empty).execute(cat, maxActiveRun = 8)
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
  }

  test("a failing node aborts the group and surfaces the cause") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "base")
    val ok = new SqlNode("ok", Seq("base"), Map("fine" -> "SELECT * FROM base"))
    val boom = new SqlNode("boom", Seq("base"), Map("broken" -> "SELECT no_such FROM base"))
    val after = new SqlNode("after", Seq("broken"), Map("downstream" -> "SELECT * FROM broken"))
    val e = intercept[RuntimeException](
      new EtlGroup("g", Seq(ok, boom, after)).execute(cat, maxActiveRun = 2))
    assert(e.getMessage.contains("boom"))
    assert(!cat.exists("downstream"))
  }

  test("dropIntermediates GCs ids that are neither group inputs nor outputs (etl.py:288-314)") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "raw")
    val g = new EtlGroup("g", Seq(
      new SqlNode("n1", Seq("raw"), Map("mid" -> "SELECT * FROM raw")),
      new SqlNode("n2", Seq("mid"), Map("fin" -> "SELECT * FROM mid"))),
      dropIntermediates = true)
    g.execute(cat, maxActiveRun = 1)
    assert(cat.exists("fin"))
    assert(!cat.exists("mid"))
  }

  test("DAG-internal hand-offs never hit the filesystem and results stay identical") {
    val cat = freshCat()
    cat.write(Seq((1, "a"), (2, "b"), (3, "a")).toDF("k", "tag"), "src")
    val g = new EtlGroup("g_indb", Seq(
      new SqlNode("n1", Seq("src"), Map("mid1" -> "SELECT k, tag FROM src WHERE k > 1")),
      new DfNode("n2", Seq("mid1"), Seq("mid2"),
        fn = { case Seq(m) => Seq(m.filter(col("tag") === "a")) }),
      new SqlNode("n3", Seq("mid2"), Map("fin_indb" -> "SELECT k FROM mid2"))))
    g.execute(cat, maxActiveRun = 2)
    assert(TestSpark.rows(cat.read("fin_indb")) === Set(Seq(3)))
    // intermediates exist as in-session tables, not as parquet datasets
    assert(cat.exists("mid1") && cat.exists("mid2"))
    assert(!new java.io.File(s"${cat.baseDir}/mid1.parquet").exists(),
      "in-db intermediate must not be written to the filesystem")
    assert(!new java.io.File(s"${cat.baseDir}/mid2.parquet").exists())
    // the group output IS durable parquet
    assert(new java.io.File(s"${cat.baseDir}/fin_indb.parquet").exists())
    // nothing is published JVM-wide: another session reads a composed
    // intermediate through its plan, and no global temp view is left behind
    assert(spark.catalog.listTables("global_temp").collect().forall(!_.name.startsWith("graft_")),
      "a composed run must leave no global temp view")
    assert(TestSpark.rows(cat.readAny("mid2", spark.newSession())) === Set(Seq(3, "a")))
    // the mark is per-RUN: after the group returns, a write of the same id
    // by any other producer is durable parquet again
    cat.write(Seq((9, "z")).toDF("k", "tag"), "mid1")
    assert(new java.io.File(s"${cat.baseDir}/mid1.parquet").exists(),
      "inDb mark must not outlive the group run")
  }

  test("inDb marks survive a CONCURRENT group's earlier finish (refcounted, not flat)") {
    // two groups over ONE catalog, both marking the intermediate id 'mid'.
    // Group A runs to completion (and unmarks) while group B is still
    // mid-DAG; B's subsequent write of 'mid' must STILL be in-session — a
    // flat mark set would have been cleared by A's finally-unmark.
    val cat = freshCat()
    cat.write(Seq(1).toDF("k"), "src")
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val aFinished = new java.util.concurrent.CountDownLatch(1)
    val gA = new EtlGroup("gA", Seq(
      new SqlNode("a1", Seq("src"), Map("mid" -> "SELECT k FROM src")),
      new SqlNode("a2", Seq("mid"), Map("out_a" -> "SELECT k FROM mid"))))
    val gB = new EtlGroup("gB", Seq(
      new DfNode("b1", Seq("src"), Seq("b_gate"), fn = { case Seq(s) =>
        bStarted.countDown()
        assert(aFinished.await(60, java.util.concurrent.TimeUnit.SECONDS))
        Seq(s)
      }),
      new SqlNode("b2", Seq("b_gate"), Map("mid" -> "SELECT k + 1 AS k FROM b_gate")),
      new SqlNode("b3", Seq("mid"), Map("out_b" -> "SELECT k FROM mid"))))
    val bErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val bThread = new Thread(() =>
      try gB.execute(cat, maxActiveRun = 2)
      catch { case t: Throwable => bErr.set(t) })
    bThread.start()
    assert(bStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
    gA.execute(cat, maxActiveRun = 2) // marks, runs, unmarks
    aFinished.countDown()
    bThread.join(120000)
    assert(!bThread.isAlive && bErr.get() == null, s"group B failed: ${bErr.get()}")
    assert(TestSpark.rows(cat.read("out_a")) === Set(Seq(1)))
    assert(TestSpark.rows(cat.read("out_b")) === Set(Seq(2)))
    // B wrote 'mid' AFTER A's unmark — refcounting must have kept it lazy
    assert(!new java.io.File(s"${cat.baseDir}/mid.parquet").exists(),
      "the second run's intermediate write must not be demoted to durable parquet")
    // with both runs over, the id is durable again
    cat.write(Seq(9).toDF("k"), "mid")
    assert(new java.io.File(s"${cat.baseDir}/mid.parquet").exists())
  }

  test("a mid-DAG failure in a concurrent inDb run releases the marks (next run durable)") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "base")
    val g = new EtlGroup("g_fail_indb", Seq(
      new SqlNode("n1", Seq("base"), Map("mid" -> "SELECT v FROM base")),
      new SqlNode("n2", Seq("mid"), Map("out_f" -> "SELECT no_such FROM mid"))))
    intercept[RuntimeException](
      g.execute(cat, maxActiveRun = 2))
    // the finally-unmark ran: the same catalog is durable for the next run
    assert(!cat.isInDb("mid"))
    cat.write(Seq(7).toDF("v"), "mid")
    assert(new java.io.File(s"${cat.baseDir}/mid.parquet").exists(),
      "a failed inDb run must not leave its marks behind")
    assert(TestSpark.rows(spark.read.parquet(cat.path("mid"))) === Set(Seq(7)))
  }

  test("concurrency cap is respected") {
    val cat = freshCat()
    val active = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    def probe(i: Int): EtlNode = new EtlNode {
      override val name = s"p$i"
      val inputIds = Seq.empty[String]
      val outputIds = Seq(s"o$i")
      def run(c: Catalog): Unit = {
        val now = active.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, now))
        Thread.sleep(150)
        active.decrementAndGet()
        c.write(spark.range(1).toDF("v"), s"o$i")
      }
    }
    new EtlGroup("cap", (1 to 6).map(probe)).execute(cat, maxActiveRun = 2)
    assert(maxSeen.get() <= 2)
    assert((1 to 6).forall(i => cat.exists(s"o$i")))
  }

  test("ready units run longest remaining chain first, equal ranks in declaration order") {
    val cat = freshCat()
    val ran = new ConcurrentLinkedQueue[String]()
    def unit(id: String, in: Seq[String]): EtlNode = new EtlNode {
      override val name = id
      val inputIds = in
      val outputIds = Seq(id)
      def run(c: Catalog): Unit = {
        ran.add(id)
        c.write(spark.range(1).toDF("v"), id)
      }
    }
    // three independent leaves declared before the head of a three-unit chain
    val units = Seq(unit("leaf1", Nil), unit("leaf2", Nil), unit("leaf3", Nil),
      unit("head", Nil), unit("mid", Seq("head")), unit("tail", Seq("mid")))
    new EtlGroup("order", units).execute(cat, maxActiveRun = 1)
    // the chain runs while it is the longest; its last unit ties the leaves
    // (rank 1) and, declared after them, runs after them
    assert(ran.toArray.toSeq === Seq("head", "mid", "leaf1", "leaf2", "leaf3", "tail"))
  }

  test("a node write gates static planning on the bytes it reads, not a join's product estimate") {
    val cat = freshCat()
    (1 to 4).foreach(i => cat.write((1 to 200).map(k => (k, k % 7)).toDF("k", s"v$i"), s"j$i"))
    val fileBytes = (1 to 4).map(i => new java.io.File(cat.path(s"j$i")).listFiles().map(_.length).sum)
    assert(fileBytes.forall(_ < 8192), s"inputs must be a few KB: $fileBytes")
    // the link_ordered_material shape: a DISTINCT over a 4-way join
    val sql = "SELECT DISTINCT j1.k, v1, v2, v3, v4 FROM j1 JOIN j2 ON j1.k = j2.k " +
      "JOIN j3 ON j1.k = j3.k JOIN j4 ON j1.k = j4.k"
    val joined = Seq("j2", "j3", "j4").foldLeft(cat.read("j1"))((l, id) => l.join(cat.read(id), "k"))
      .select(col("k"), col("v1"), col("v2"), col("v3"), col("v4")).distinct()
    assert(StaticScope.inputBytes(joined) > StaticScope.DefaultThresholdBytes,
      "the join's own estimate must claim more than the gate")

    val tag = s"gate-${System.nanoTime()}"
    val aqe = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.tag") == tag)
          aqe.add(String.valueOf(e.properties.getProperty("spark.sql.adaptive.enabled")))
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.test.tag", tag)
    try new SqlNode("material", Seq("j1", "j2", "j3", "j4"), Map("material" -> sql)).execute(cat)
    finally {
      spark.sparkContext.setLocalProperty("graft.test.tag", null)
      GraftSql.drainListenerBus(spark.sparkContext, 10000L)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(!aqe.isEmpty && aqe.toArray.forall(_ == "false"), s"the write must run with AQE off: $aqe")
    val parts = new java.io.File(cat.path("material")).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts === 4, "a static write lands minParts part files")
    assert(cat.read("material").count() === 200L)
  }

  test("an intermediate composes lazily iff exactly one materializing action reads it") {
    def unit(id: String, in: Seq[String], out: Seq[String]): EtlNode = new EtlNode {
      override val name = id
      val inputIds = in
      val outputIds = out
      def run(c: Catalog): Unit = ()
    }
    def lazyIds(units: EtlNode*) = new EtlGroup("g", units).lazyIds.toSet
    val chain = Seq(unit("a", Seq("src"), Seq("m1")), unit("b", Seq("m1"), Seq("m2")),
      unit("c", Seq("m2"), Seq("fin")))
    assert(lazyIds(chain: _*) === Set("m1", "m2"))
    // the as-of DAG shape: two outputs, both readers of both, one result write
    assert(lazyIds(
      unit("extract", Seq("src"), Seq("clicks", "views")),
      unit("enrich", Seq("clicks", "views"), Seq("enriched")),
      unit("attrib", Seq("clicks", "views"), Seq("attribution")),
      unit("result", Seq("enriched", "attribution"), Seq("fin"))) ===
      Set("clicks", "views", "enriched", "attribution"))
    // one id read by two actions: a durable write and a sink
    assert(lazyIds(
      unit("a", Seq("src"), Seq("m")), unit("b", Seq("m"), Seq("fin")),
      unit("sink", Seq("m"), Seq.empty)) === Set.empty)
    // one consumer writing two durable outputs runs two actions over its input
    assert(lazyIds(
      unit("a", Seq("src"), Seq("m")), unit("b", Seq("m"), Seq("fin1", "fin2"))) === Set.empty)
  }

  test("the flagship DAG composes every intermediate but the four that two actions read") {
    val g = new EtlGroup("flagship", graft.Flagship.stages.flatMap(_._2))
    assert(g.intermediateIds.size === 13)
    val durable = Set("er_mapping", "gnode_customer", "gnode_product", "glink_ordered_material")
    assert(g.lazyIds === g.intermediateIds.filterNot(durable))
  }

  test("a sink unioning two anti-joins over one composed id reads the producer's input once per branch") {
    // the validate_link_ids shape: one union'd action checks both endpoints
    // of a lazy link table, so the producer's plan appears in two branches.
    // Catalyst pushes each branch's anti-join below the producer's DISTINCT,
    // so the branches differ and no exchange of the producer is reused
    val cat = freshCat()
    val rawRows = 1000
    cat.write((0 until rawRows).map(i => (i % 10, (i + 1) % 10)).toDF("from_id", "to_id"), "raw_links")
    cat.write((0 until 10).toDF("node_id"), "nodes")
    val links = new SqlNode("dedup_links", Seq("raw_links"),
      Map("links" -> "SELECT DISTINCT from_id, to_id FROM raw_links"))
    val check = graft.graph.Validate.linkIdValidators(
      Seq(("links", "nodes", "from_id"), ("links", "nodes", "to_id")))
    val g = new EtlGroup("g_union", Seq(links, check))
    assert(g.lazyIds === Seq("links"))
    val recordsRead = new AtomicInteger()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead.toInt)
    }
    spark.sparkContext.addSparkListener(listener)
    try g.execute(cat, maxActiveRun = 1)
    finally {
      GraftSql.drainListenerBus(spark.sparkContext, 10000L)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(!new java.io.File(cat.path("links")).exists())
    // both branches scan raw_links; the 10 node ids are read once or twice
    assert(recordsRead.get >= 2 * rawRows && recordsRead.get <= 2 * rawRows + 20,
      s"records read: ${recordsRead.get}")
  }

  test("execute rejects a non-positive maxActiveRun, naming the group and the value") {
    val e = intercept[IllegalArgumentException](
      new EtlGroup("g_cap0", Seq.empty).execute(freshCat(), maxActiveRun = 0))
    assert(e.getMessage.contains("g_cap0") && e.getMessage.contains("got 0"))
  }

  test("RDB-only SqlNode chain: outputs live as cached tables, never on disk (test_executor.py RDB config / S4)") {
    val cat = freshCat()
    cat.write(Seq(1, 2, 3).toDF("v"), "base")
    val mid = new SqlNode("mid", Seq("base"), Map("doubled" -> "SELECT v * 2 AS v FROM base"))
    val fin = new SqlNode("fin", Seq("doubled"), Map("final_out" -> "SELECT sum(v) AS s FROM doubled"))
    new EtlGroup("rdb", Seq(mid, fin)).execute(cat, maxActiveRun = 1)
    assert(cat.exists("doubled"))
    assert(!new java.io.File(cat.path("doubled")).exists()) // in-db only, no parquet
    assert(cat.read("final_out").as[Long].head() === 12L)
    cat.drop("doubled")
    assert(!cat.exists("doubled"))
  }

  test("TypedNode transforms with compile-time schemas (etl.py:438-457 analogue)") {
    val cat = freshCat()
    cat.write(Seq((1L, "a"), (2L, "bb")).toDF("id", "s"), "typed_in")
    val node = new TypedNode[TypedIn, TypedOut]("typed", "typed_in", "typed_out",
      fn = ds => ds.map(r => TypedOut(r.id, r.s.length)))
    node.execute(cat)
    assert(TestSpark.rows(cat.read("typed_out")) === Set(Seq(1L, 1), Seq(2L, 2)))
  }

  test("writePartitioned lays out hive-style partitions and reads prune by value") {
    val cat = freshCat()
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "part_key")
    cat.writePartitioned(df, "pt", Seq("part_key"))
    assert(new java.io.File(cat.path("pt") + "/part_key=a").exists())
    val back = cat.read("pt").filter(col("part_key") === "a")
    assert(back.select("v").as[Int].collect().toSet === Set(1, 3))
  }

  test("IncrementalDfNode transforms only the key-diff on re-run and merges the snapshot (crawl.py:117-153)") {
    val cat = freshCat()
    val transformed = new AtomicInteger(0)
    def node() = new IncrementalDfNode("inc", "inc_src", "inc_out", Seq("id"),
      fn = df => {
        transformed.addAndGet(df.count().toInt)
        df.withColumn("processed", col("id") * 10)
      })

    cat.write(Seq(1, 2).toDF("id"), "inc_src")
    node().execute(cat)
    assert(transformed.get() === 2)
    assert(cat.existsCache("inc_out"))

    // second run: one new key; only it goes through fn, old rows come from cache
    cat.write(Seq(1, 2, 3).toDF("id"), "inc_src")
    node().execute(cat)
    assert(transformed.get() === 3) // +1, not +3
    assert(TestSpark.rows(cat.read("inc_out")) ===
      Set(Seq(1, 10), Seq(2, 20), Seq(3, 30)))
  }

  test("doCache snapshots inputs and outputs after a successful run; next run can merge (crawl.py:117-153 pattern)") {
    val cat = freshCat()
    cat.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), "src")
    val node = new SqlNode("cached", Seq("src"), Map("res" -> "SELECT * FROM src"), doCache = true)
    node.execute(cat)
    assert(cat.existsCache("src") && cat.existsCache("res"))

    // incremental merge: new run sees new src rows, merges cache keep-first
    cat.write(Seq((2, "B2"), (3, "c")).toDF("id", "s"), "src")
    val merged = graft.ops.DistinctOn.distinctOn(
      cat.read("src").unionByName(cat.loadCache("res")), Seq("id"))
    assert(merged.count() === 3) // ids 1 (cache), 2 (kept once), 3 (new)
  }
}
