package graft.engine

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Mirrors the reference's storage round-trip suite (tests/test_storage.py:21-53):
  * upload/download equality incl. timestamp columns, JSON objects, snapshots. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat() =
    new Catalog(spark, Files.createTempDirectory("graft_cat").toString)

  /** A catalog whose filesystem reports no atomic rename, as an object
    * store does: snapshots publish through a pointer file. */
  private def pointerCat() =
    new Catalog(spark, Files.createTempDirectory("graft_cat").toString) {
      override protected def atomicRename(f: org.apache.hadoop.fs.FileSystem): Boolean = false
    }

  test("parquet round-trip preserves rows and schema incl. timestamp") {
    val cat = freshCat()
    val df = Seq(
      (1L, "a", Timestamp.valueOf("2023-01-02 03:04:05")),
      (2L, "b", Timestamp.valueOf("2024-11-30 23:59:59"))
    ).toDF("id", "name", "ts")
    cat.write(df, "t1")
    val back = cat.read("t1")
    assert(back.schema.map(f => (f.name, f.dataType)) === df.schema.map(f => (f.name, f.dataType)))
    assert(TestSpark.rows(back) === TestSpark.rows(df))
  }

  test("exists / drop lifecycle") {
    val cat = freshCat()
    assert(!cat.exists("x"))
    cat.write(Seq(1).toDF("v"), "x")
    assert(cat.exists("x"))
    cat.drop("x")
    assert(!cat.exists("x"))
  }

  test("copy duplicates a dataset") {
    val cat = freshCat()
    cat.write(Seq(1, 2, 3).toDF("v"), "src")
    cat.copy("src", "dst")
    assert(TestSpark.rows(cat.read("dst")) === TestSpark.rows(cat.read("src")))
  }

  test("JSON object round-trip (reference storage.py:87-100)") {
    val cat = freshCat()
    val payload = """{"model":"v1","threshold":0.5}"""
    cat.writeJson("model_cfg", payload)
    assert(cat.readJson("model_cfg") === payload)
  }

  test("snapshot creates a readable cache that survives source overwrite") {
    val cat = freshCat()
    cat.write(Seq(1, 2).toDF("v"), "d")
    cat.snapshot("d")
    assert(cat.existsCache("d"))
    cat.write(Seq(9).toDF("v"), "d") // new run overwrites the live dataset
    assert(TestSpark.rows(cat.loadCache("d")) === Set(Seq(1), Seq(2)))
    assert(TestSpark.rows(cat.read("d")) === Set(Seq(9)))
  }

  test("bucketed tables equi-join without a shuffle (co-located join layout)") {
    val cat = freshCat()
    val facts = (1L to 500L).map(i => (i, i * 2)).toDF("k", "a")
    val dims = (1L to 500L).map(i => (i, s"d$i")).toDF("k", "b")
    cat.writeBucketed(facts, "bkt_facts", Seq("k"), 4)
    cat.writeBucketed(dims, "bkt_dims", Seq("k"), 4)
    // disable broadcast so the planner takes the (scale-relevant) merge path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = cat.readTable("bkt_facts").join(cat.readTable("bkt_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z-ordered write round-trips rows and produces several curve-ordered files") {
    val cat = freshCat()
    val df = spark.range(0, 4096)
      .selectExpr("id", "id % 64 AS a", "(id * 37) % 64 AS b")
    cat.writeZOrdered(df, "tz", Seq("a", "b"), numFiles = 4)
    val back = cat.read("tz")
    assert(TestSpark.rows(back) === TestSpark.rows(df))
    assert(back.schema.fieldNames.toSeq === df.schema.fieldNames.toSeq) // layout col dropped
    val files = new java.io.File(cat.path("tz")).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files === 4)
  }

  test("memoized read schema: write-then-read needs no inference, stays correct after overwrite") {
    val cat = freshCat()
    // write a non-nullable column: the memoized schema must come back in the
    // all-nullable form a schemaless parquet read would report, so plans are
    // identical either way
    cat.write(spark.range(3).select(col("id"), lit("k").as("s")), "m1")
    val back = cat.read("m1")
    assert(back.schema.fields.forall(_.nullable), s"memoized schema must be all-nullable: ${back.schema}")
    assert(TestSpark.rows(back) === Set(Seq(0L, "k"), Seq(1L, "k"), Seq(2L, "k")))
    // overwrite with a DIFFERENT schema: the memo must follow the write
    cat.write(Seq((1, 2.5)).toDF("a", "b"), "m1")
    assert(cat.read("m1").schema.fieldNames.toSeq === Seq("a", "b"))
    // reads from a different session reuse the memo (the SqlNode newSession path)
    val s2 = spark.newSession()
    assert(TestSpark.rows(cat.readAny("m1", s2)) === Set(Seq(1, 2.5)))
    // copy and snapshot carry the schema with the data
    cat.copy("m1", "m2")
    assert(cat.read("m2").schema.fieldNames.toSeq === Seq("a", "b"))
    cat.snapshot("m1")
    assert(cat.loadCache("m1").schema.fieldNames.toSeq === Seq("a", "b"))
  }

  test("layout overwrites invalidate the schema memo instead of serving it stale") {
    val cat = freshCat()
    cat.write(spark.range(4).select(col("id"), lit("t").as("s")), "m3")
    assert(cat.read("m3").schema.fieldNames.toSeq === Seq("id", "s")) // memoized
    // partitioned overwrite with a DIFFERENT schema: read must see the new one
    cat.writePartitioned(
      Seq((1, "x", 2.0), (2, "y", 3.0)).toDF("k", "part", "v"), "m3", Seq("part"))
    assert(cat.read("m3").schema.fieldNames.toSet === Set("k", "part", "v"))
    assert(TestSpark.rows(cat.read("m3").select("k", "part", "v")) ===
      Set(Seq(1, "x", 2.0), Seq(2, "y", 3.0)))
    // z-ordered overwrite changes the schema again
    cat.writeZOrdered(Seq((5L, 6L, "z")).toDF("x", "y", "tag"), "m3",
      Seq("x", "y"), numFiles = 1)
    assert(cat.read("m3").schema.fieldNames.toSet === Set("x", "y", "tag"))
    assert(TestSpark.rows(cat.read("m3")) === Set(Seq(5L, 6L, "z")))
  }

  test("write over a registered table evicts the cached table, not serves it stale") {
    val cat = freshCat()
    cat.markInDb(Seq("m4"))
    cat.write(Seq((1, "old")).toDF("k", "v"), "m4")
    assert(TestSpark.rows(cat.read("m4")) === Set(Seq(1, "old")))
    cat.unmarkInDb(Seq("m4"))
    cat.write(Seq((2, "new")).toDF("k", "v"), "m4")
    assert(TestSpark.rows(cat.read("m4")) === Set(Seq(2, "new")))
  }

  test("copy clears the destination's stale memo when the source has none") {
    val cat = freshCat()
    cat.write(Seq((1, 1.0)).toDF("a", "b"), "dst") // memoizes (a, b) for dst
    // a source the catalog has never read or written: no memo for it
    val extDir = Files.createTempDirectory("graft_ext_copy").toString
    spark.range(2).select(col("id"), lit("s").as("txt"))
      .write.mode("overwrite").parquet(s"$extDir/src.parquet")
    cat.link("srcx", s"$extDir/src.parquet")
    cat.copy("srcx", "dst")
    assert(cat.read("dst").schema.fieldNames.toSeq === Seq("id", "txt"))
    assert(TestSpark.rows(cat.read("dst")) === Set(Seq(0L, "s"), Seq(1L, "s")))
  }

  test("drop of a linked id unlinks without deleting the external files") {
    val cat = freshCat()
    val extDir = Files.createTempDirectory("graft_ext_drop").toString
    spark.range(3).write.mode("overwrite").parquet(s"$extDir/keep.parquet")
    cat.link("lnk", s"$extDir/keep.parquet")
    assert(cat.read("lnk").count() === 3)
    cat.drop("lnk")
    // external data untouched; the id no longer resolves to it
    assert(spark.read.parquet(s"$extDir/keep.parquet").count() === 3)
    assert(!cat.exists("lnk"))
  }

  test("copy onto a LINKED id lands in the catalog namespace, external data untouched") {
    val cat = freshCat()
    val extDir = Files.createTempDirectory("graft_ext_copy_dst").toString
    Seq((9, "keep")).toDF("id", "s").write.parquet(s"$extDir/linked.parquet")
    cat.link("dst", s"$extDir/linked.parquet")
    cat.write(Seq((1, "src")).toDF("id", "s"), "src")
    cat.copy("src", "dst")
    // the copy must NOT have deleted or overwritten the external dataset
    assert(TestSpark.rows(spark.read.parquet(s"$extDir/linked.parquet")) === Set(Seq(9, "keep")))
    // the id now resolves to the copied data in the catalog's own namespace
    assert(TestSpark.rows(cat.read("dst")) === Set(Seq(1, "src")))
    assert(cat.path("dst") === s"${cat.baseDir}/dst.parquet")
  }

  test("snapshot without atomic rename publishes via pointer; readers see whole versions") {
    // simulate an object store: force the capability check to false
    val cat = pointerCat()
    cat.write(Seq(1, 2).toDF("v"), "d")
    cat.snapshot("d")
    assert(cat.existsCache("d"))
    assert(TestSpark.rows(cat.loadCache("d")) === Set(Seq(1), Seq(2)))
    // the snapshot lives in a versioned dir named by the pointer file, not
    // at the fixed rename destination
    val ptr = new java.io.File(s"${cat.baseDir}/d_cache.ptr")
    assert(ptr.exists(), "pointer file must exist in non-atomic-rename mode")
    val ver1 = scala.io.Source.fromFile(ptr).mkString.trim
    assert(new java.io.File(ver1.stripPrefix("file:")).exists(), s"version dir missing: $ver1")
    // re-snapshot swaps the pointer to a new version and retires the old one
    cat.write(Seq(7).toDF("v"), "d")
    cat.snapshot("d")
    val ver2 = scala.io.Source.fromFile(ptr).mkString.trim
    assert(ver2 !== ver1)
    assert(TestSpark.rows(cat.loadCache("d")) === Set(Seq(7)))
    assert(!new java.io.File(ver1.stripPrefix("file:")).exists(),
      "superseded snapshot version must be deleted")
    // drop removes pointer + version
    cat.drop(cat.cacheId("d"))
    assert(!ptr.exists())
    assert(!cat.existsCache("d"))
  }

  test("snapshot of an in-session (InDb) table writes the cached rows") {
    val cat = freshCat()
    cat.markInDb(Seq("mem"))
    cat.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), "mem")
    cat.snapshot("mem")
    assert(cat.existsCache("mem"))
    assert(TestSpark.rows(cat.loadCache("mem")) === Set(Seq(1, "a"), Seq(2, "b")))
  }

  test("in-session snapshot in pointer mode publishes a version and retires the old one") {
    // the in-session branch must follow the SAME publication discipline as
    // the file-copy branch: pointer publish on the non-atomic-rename store,
    // superseded version deleted (not orphaned)
    val cat = pointerCat()
    cat.markInDb(Seq("mem"))
    cat.write(Seq(1, 2).toDF("v"), "mem")
    cat.snapshot("mem")
    val ptr = new java.io.File(s"${cat.baseDir}/mem_cache.ptr")
    assert(ptr.exists(), "in-session snapshot must pointer-publish on a non-atomic store")
    val ver1 = scala.io.Source.fromFile(ptr).mkString.trim
    cat.write(Seq(9).toDF("v"), "mem")
    cat.snapshot("mem")
    assert(TestSpark.rows(cat.loadCache("mem")) === Set(Seq(9)))
    assert(!new java.io.File(ver1.stripPrefix("file:")).exists(),
      "superseded in-session snapshot version must be deleted")
  }

  test("copy of an in-session (InDb) table writes the cached rows durably") {
    val cat = freshCat()
    cat.markInDb(Seq("a"))
    cat.write(Seq((1, "x")).toDF("k", "v"), "a")
    cat.copy("a", "b")
    assert(TestSpark.rows(spark.read.parquet(cat.path("b"))) === Set(Seq(1, "x")))
  }

  test("inDb write deletes a stale durable dataset; unmark restores durability") {
    val cat = freshCat()
    cat.write(Seq(1).toDF("v"), "x") // durable files from an earlier run
    cat.markInDb(Seq("x"))
    cat.write(Seq(2).toDF("v"), "x") // lazy table only
    assert(TestSpark.rows(cat.read("x")) === Set(Seq(2)))
    // the stale run-1 parquet must be GONE: a future catalog over the same
    // baseDir would otherwise silently serve v=1
    assert(!new java.io.File(cat.path("x").stripPrefix("file:")).exists(),
      "stale durable dataset must not shadow the in-session overwrite")
    cat.unmarkInDb(Seq("x"))
    cat.write(Seq(3).toDF("v"), "x") // durable again
    assert(TestSpark.rows(spark.read.parquet(cat.path("x"))) === Set(Seq(3)))
  }

  test("inDb marks are refcounted: an id stays lazy until the LAST marker unmarks") {
    val cat = freshCat()
    // two concurrent runs (EtlGroups) each mark the same intermediate id;
    // the first run's unmark must not demote the id while the second still
    // holds its mark
    cat.markInDb(Seq("m"))
    cat.markInDb(Seq("m"))
    cat.unmarkInDb(Seq("m")) // first run ends
    assert(cat.isInDb("m"), "id must stay marked while another marker holds it")
    cat.write(Seq(1).toDF("v"), "m")
    assert(!new java.io.File(s"${cat.baseDir}/m.parquet").exists(),
      "write under a surviving mark must stay in-session")
    cat.unmarkInDb(Seq("m")) // last marker ends
    assert(!cat.isInDb("m"))
    cat.write(Seq(2).toDF("v"), "m")
    assert(new java.io.File(s"${cat.baseDir}/m.parquet").exists(),
      "after the last unmark, writes are durable parquet again")
    // unbalanced extra unmark is a no-op, not a negative count
    cat.unmarkInDb(Seq("m"))
    assert(!cat.isInDb("m"))
  }

  test("pointer-mode publish GCs orphaned version directories, sparing young ones") {
    // orphans arise from a crash between materialize and the pointer PUT, or
    // from the loser of a concurrent publish race; the next successful
    // publish must collect them — except directories younger than the grace
    // window, which may be a concurrent snapshot still materializing
    val cat = pointerCat()
    val base = new java.io.File(cat.baseDir)
    val expiredMtime = System.currentTimeMillis() - 16L * 60 * 1000 // > 15 min grace
    // a crash orphan with a legacy nano-only name: the name parses as birth
    // 0, but birth is judged by the STORE-side mtime — age it past grace
    val legacyOrphan = new java.io.File(base, ".d_cache.v12345")
    assert(legacyOrphan.mkdir() && legacyOrphan.setLastModified(expiredMtime))
    // an expired wall-clock-stamped orphan, store-side old as well
    val oldOrphan = new java.io.File(base, ".d_cache.v1000_1")
    assert(oldOrphan.mkdir() && oldOrphan.setLastModified(expiredMtime))
    // a freshly-CREATED directory with a legacy name — a still-running
    // pre-millis writer mid-materialize. The old name-only rule parsed its
    // birth as 0 and deleted it immediately (the r17-advice hazard: its
    // later pointer PUT would publish a dangling target); the store mtime
    // now protects it for a grace window.
    val freshLegacy = new java.io.File(base, ".d_cache.v99")
    assert(freshLegacy.mkdir())
    // a YOUNG directory — stands in for a concurrent snapshot mid-write
    val young = new java.io.File(base, s".d_cache.v${System.currentTimeMillis()}_1")
    assert(young.mkdir())
    cat.write(Seq(1).toDF("v"), "d")
    cat.snapshot("d")
    assert(!legacyOrphan.exists(), "store-side-expired legacy orphan must be GCed on publish")
    assert(!oldOrphan.exists(), "expired orphan version must be GCed on publish")
    assert(freshLegacy.exists(),
      "a store-side-young directory must survive whatever its name stamp says")
    assert(young.exists(), "a version younger than the grace window must survive")
    // the published version itself survives, of course
    val ptr = new java.io.File(s"${cat.baseDir}/d_cache.ptr")
    val ver = scala.io.Source.fromFile(ptr).mkString.trim
    assert(new java.io.File(ver.stripPrefix("file:")).exists())
    assert(TestSpark.rows(cat.loadCache("d")) === Set(Seq(1)))
    // drop is explicit destruction: every version goes, grace or not
    cat.drop(cat.cacheId("d"))
    assert(!ptr.exists() && !young.exists() && !freshLegacy.exists(),
      "drop must GC all version directories including young ones")
  }

  test("concurrent first reads of one linked id infer its schema once") {
    val cat = freshCat()
    val ext = s"${Files.createTempDirectory("graft_ext")}/linked.parquet"
    spark.range(8).select(col("id"), lit("k").as("s")).write.parquet(ext)
    cat.link("linked", ext)
    val tag = s"infer-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.tag") == tag) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val reads = (1 to 4).map { _ =>
        pool.submit(new Callable[StructType] {
          def call(): StructType = {
            spark.sparkContext.setLocalProperty("graft.test.tag", tag)
            val s = spark.newSession()
            go.await()
            cat.readAny("linked", s).schema
          }
        })
      }
      go.countDown()
      val schemas = reads.map(_.get(60, TimeUnit.SECONDS))
      GraftSql.drainListenerBus(spark.sparkContext, 10000L)
      assert(jobs.get() === 1, "four concurrent first readers must share one footer-inference job")
      assert(schemas.distinct.size === 1)
    } finally {
      pool.shutdownNow()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("link reads an external dataset without copying; write stays internal") {
    val cat = freshCat()
    val extDir = Files.createTempDirectory("graft_ext").toString
    Seq((1, "x")).toDF("id", "s").write.parquet(s"$extDir/ext.parquet")
    cat.link("ext", s"$extDir/ext.parquet")
    assert(cat.exists("ext"))
    assert(TestSpark.rows(cat.read("ext")) === Set(Seq(1, "x")))
    // overwriting a linked id must write to the catalog namespace, not the source
    cat.write(Seq((2, "y")).toDF("id", "s"), "ext")
    assert(TestSpark.rows(cat.read("ext")) === Set(Seq(2, "y")))
    assert(TestSpark.rows(spark.read.parquet(s"$extDir/ext.parquet")) === Set(Seq(1, "x")))
  }
}
