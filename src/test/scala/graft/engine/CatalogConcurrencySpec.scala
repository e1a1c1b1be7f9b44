package graft.engine

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ScalaCheck property over random CONCURRENT interleavings of the Catalog
  * lifecycle in pointer-publication (object-store) mode — the surface the
  * directed CatalogSpec/ObjectStoreFsSpec cases cover one interleaving at a
  * time.
  *
  * Concurrency contract exercised (the one the engine actually relies on):
  * ONE writer per id (DagExecutor serializes an id's producer before its
  * consumers), arbitrarily many concurrent readers of the id's cache during
  * publishes, and cross-thread refcounted inDb marks. Within that contract
  * the properties are SAFETY, not outcome determinism:
  *
  *  1. no torn read — a successful `loadCache` returns rows of exactly ONE
  *     write-tag, with that tag's full row count (pointer PUT visibility is
  *     atomic; the GC grace window keeps a superseded version alive for
  *     readers that already resolved the old pointer);
  *  2. allowed failures only — a read racing the very first publish may find
  *     nothing; it must fail with a missing-dataset error, never return a
  *     partial dataset;
  *  3. quiescent consistency — after all threads join, the cache reads back
  *     as the writer's LAST published tag, whole, and balanced mark/unmark
  *     scripts leave the marked id durable again.
  */
class CatalogConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val RowsPerTag = 3

  private def tagged(tag: Long) =
    (0 until RowsPerTag).map(i => (tag, i)).toDF("tag", "i")

  /** Missing-dataset failures are the only failures the contract allows. */
  private def allowedMiss(t: Throwable): Boolean = {
    val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(e => e.getClass.getName + ": " + String.valueOf(e.getMessage)).mkString(" | ")
    msgs.contains("FileNotFoundException") || msgs.contains("PATH_NOT_FOUND") ||
      msgs.contains("does not exist") || msgs.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      msgs.contains("no snapshot")
  }

  sealed trait ReaderOp
  case object LoadCache extends ReaderOp    // torn-read check on the shared id
  case object ExistsCache extends ReaderOp
  case object CopyCacheToOwn extends ReaderOp // copy() racing publishes
  case object MarkUnmark extends ReaderOp   // refcounted marks on a side id

  private val genReaderOp: Gen[ReaderOp] =
    Gen.frequency(4 -> Gen.const(LoadCache), 1 -> Gen.const(ExistsCache),
      2 -> Gen.const(CopyCacheToOwn), 2 -> Gen.const(MarkUnmark))

  private val genScenario: Gen[(Int, List[List[ReaderOp]])] = for {
    writes <- Gen.choose(2, 4)                    // writer publish rounds
    readers <- Gen.listOfN(2, Gen.listOfN(5, genReaderOp))
  } yield (writes, readers)

  private val nextTag = new AtomicLong(1)

  /** A catalog over `baseDir` whose filesystem reports no atomic rename, as
    * an object store does: snapshots publish through a pointer file. */
  private def pointerCat(baseDir: String): Catalog = new Catalog(spark, baseDir) {
    override protected def atomicRename(f: org.apache.hadoop.fs.FileSystem): Boolean = false
  }

  private def runScenario(writes: Int, readerScripts: List[List[ReaderOp]],
                          mkCat: () => Catalog = () =>
                            pointerCat(Files.createTempDirectory("graft_cat_prop").toString)): Prop = {
    val cat = mkCat()
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val publishedTags = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var lastTag = -1L

    val writer = new Thread(() => {
      try {
        (1 to writes).foreach { _ =>
          val tag = nextTag.getAndIncrement()
          cat.write(tagged(tag), "s")
          // register BEFORE publishing: a reader can resolve the new pointer
          // the instant snapshot() lands, and an add() racing after it would
          // make that correct read report a spurious "phantom tag". Readers
          // cannot observe the tag pre-publish, so early registration never
          // masks a real phantom.
          publishedTags.add(tag)
          cat.snapshot("s")
          lastTag = tag
        }
      } catch { case t: Throwable => violations.add(s"writer failed: $t") }
    })

    def readOnce(): Unit =
      try {
        val rows = cat.loadCache("s").collect()
        val tags = rows.map(_.getLong(0)).distinct
        if (tags.length != 1 || rows.length != RowsPerTag)
          violations.add(s"torn read: tags=${tags.mkString(",")} rows=${rows.length}")
        else if (!publishedTags.contains(tags.head))
          violations.add(s"phantom tag ${tags.head} (never published)")
      } catch { case t: Throwable => if (!allowedMiss(t)) violations.add(s"loadCache: $t") }

    val readers = readerScripts.zipWithIndex.map { case (script, ri) =>
      new Thread(() => script.foreach {
        case LoadCache => readOnce()
        case ExistsCache =>
          try { cat.existsCache("s"); () }
          catch { case t: Throwable => violations.add(s"existsCache: $t") }
        case CopyCacheToOwn =>
          try {
            cat.copy(cat.cacheId("s"), s"own_$ri")
            val rows = cat.read(s"own_$ri").collect()
            if (rows.map(_.getLong(0)).distinct.length != 1 || rows.length != RowsPerTag)
              violations.add(s"torn copy: ${rows.length} rows")
          } catch { case t: Throwable => if (!allowedMiss(t)) violations.add(s"copy: $t") }
        case MarkUnmark =>
          try { cat.markInDb(Seq("m")); cat.unmarkInDb(Seq("m")) }
          catch { case t: Throwable => violations.add(s"mark/unmark: $t") }
      })
    }

    (writer :: readers).foreach(_.start())
    (writer :: readers).foreach { t =>
      t.join(120000)
      // join(timeout) returns silently on expiry — a hung thread would
      // otherwise let the quiescent checks below race live writers
      if (t.isAlive) violations.add(s"thread ${t.getName} still alive after 120s join")
    }
    // quiescent state: last published tag is what the cache now reads
    val finalRows = cat.loadCache("s").collect()
    val finalTags = finalRows.map(_.getLong(0)).distinct
    if (finalTags.toSeq != Seq(lastTag) || finalRows.length != RowsPerTag)
      violations.add(s"final read: tags=${finalTags.mkString(",")} want=$lastTag")
    if (cat.isInDb("m")) violations.add("unbalanced inDb refcount survived join")

    val vs = violations.toArray(Array.empty[String])
    if (vs.isEmpty) Prop.passed else Prop.falsified :| vs.mkString("; ")
  }

  test("random concurrent snapshot/loadCache/copy/markInDb interleavings hold the safety properties") {
    val prop = Prop.forAll(genScenario) { case (writes, readers) =>
      runScenario(writes, readers)
    }
    val params = ScTest.Parameters.default
      .withMinSuccessfulTests(4)
      .withInitialSeed(Seed(20260816L)) // deterministic scenarios in CI
    val result = ScTest.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  /** The same safety properties under INJECTED object-store failure modes
    * (round-18 verdict item 5): transient IOExceptions on pointer GETs
    * (absorbed by the Catalog's bounded idempotent-read retry — a leak
    * would surface as a non-allowed loadCache failure) and delayed
    * list-after-write visibility of the catalog's metadata namespace
    * (freshly published pointer/version entries invisible to LIST for a
    * window; the GC sweep must err toward keeping, never delete a live
    * version it cannot yet see superseding).
    *
    * Documented contract NARROWING: the lag is injected for the base-dir
    * LISTING (the only namespace the protocol itself lists — the GC sweep),
    * while per-object GET/HEAD and the listing INSIDE a published version
    * directory stay consistent. Readers never list the base dir (they
    * resolve the single pointer object and then read one version
    * directory), and every major store today — S3 since Dec 2020, GCS,
    * ABFS — gives strongly consistent listings anyway; the pre-2020-S3
    * regime where a version directory's own file listing could lag is out
    * of contract (it would need a manifest-based committer, which is
    * Iceberg/Delta territory, not a cache snapshot's). */
  test("safety properties hold under injected transient pointer faults + delayed metadata listings") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftflaky.impl", classOf[FlakyObjectFs].getName)
    def flakyCat(): Catalog = {
      val base = Files.createTempDirectory("graft_cat_flaky").toString
      FlakyObjectFs.delayedNamespace.add(base)
      pointerCat(s"graftflaky:$base")
    }
    val prop = Prop.forAll(genScenario) { case (writes, readers) =>
      runScenario(writes, readers, mkCat = flakyCat _)
    }
    val params = ScTest.Parameters.default
      .withMinSuccessfulTests(4)
      .withInitialSeed(Seed(20260817L))
    val before = FlakyObjectFs.faultsInjected.get()
    val result = ScTest.check(params, prop)
    assert(result.passed, result.status.toString)
    // the run must have actually exercised the fault path, not skated past it
    assert(FlakyObjectFs.faultsInjected.get() > before,
      "no transient fault was ever injected — the property proved nothing")
  }
}
