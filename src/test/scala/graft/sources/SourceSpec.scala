package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.Catalog

/** Serializable counting wrapper: records every fetch outcome per key in a
  * JVM-static map (valid in local mode — executors share the JVM). Top-level
  * because the closure ships to executors. */
class RecordingSource(inner: Source) extends Source {
  def list(): Seq[String] = inner.list()
  def fetch(key: String, etag: Option[String]): Fetch = {
    val r = inner.fetch(key, etag)
    val tag = r match {
      case _: Fetch.Ok => "ok"
      case Fetch.NotModified => "304"
      case Fetch.Gone => "404"
      case _: Fetch.TransientError => "err"
    }
    RecordingSource.counts.computeIfAbsent(s"$key:$tag", _ => new AtomicInteger).incrementAndGet()
    r
  }
}
object RecordingSource {
  val counts = new ConcurrentHashMap[String, AtomicInteger]()
  def reset(): Unit = counts.clear()
  def n(key: String, tag: String): Int =
    Option(counts.get(s"$key:$tag")).map(_.get).getOrElse(0)
}

/** Fails the first `failures` fetches of every key with a TransientError —
  * the connection-error path of the reference's retry loop. */
class FlakySource(inner: Source, failures: Int) extends Source {
  def list(): Seq[String] = inner.list()
  def fetch(key: String, etag: Option[String]): Fetch = {
    val seen = FlakySource.attempts.computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
    if (seen <= failures) Fetch.TransientError(s"connection refused (attempt $seen)")
    else inner.fetch(key, etag)
  }
}
object FlakySource {
  val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  def reset(): Unit = attempts.clear()
}

/** S8/S9: the ETag/200/304/404+retry crawl contract over a local-FS mock
  * (reference crawl.py:57-91,117-153,195-227, trigger.py:28-52). */
class SourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def write(dir: Path, key: String, content: String): Unit = {
    Files.write(dir.resolve(key + ".json"), content.getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def snapshot(cat: Catalog, id: String): Map[String, (String, String)] =
    cat.read(id).collect().map(r =>
      r.getAs[String]("name") -> ((r.getAs[String]("latest"), r.getAs[String]("etag")))).toMap

  test("LocalFsSource lists keys and serves content ETags") {
    val dir = TestSpark.tempDir("graft_src")
    write(dir, "b", """{"v":2}""")
    write(dir, "a", """{"v":1}""")
    val src = LocalFsSource(dir.toString)
    assert(src.list() === Seq("a", "b"))
    val Fetch.Ok(content, etag) = src.fetch("a", None): @unchecked
    assert(content === """{"v":1}""")
    assert(src.fetch("a", Some(etag)) === Fetch.NotModified)
    assert(src.fetch("missing", None) === Fetch.Gone)
  }

  test("incremental crawl: first run fetches all, unchanged keys skip re-download, changes re-crawl") {
    val dir = TestSpark.tempDir("graft_src")
    write(dir, "a", """{"v":"a1"}""")
    write(dir, "b", """{"v":"b1"}""")
    RecordingSource.reset()
    val src = new RecordingSource(LocalFsSource(dir.toString))
    val cat = new Catalog(spark, TestSpark.tempDir("graft_crawl").toString)
    val node = new CrawlNode("crawl", src, "latest")

    // run 1: both keys are new -> two unconditional 200s
    node.execute(cat)
    val s1 = snapshot(cat, "latest")
    assert(s1.keySet === Set("a", "b"))
    assert(s1("a")._1 === """{"v":"a1"}""")
    assert(RecordingSource.n("a", "ok") === 1 && RecordingSource.n("b", "ok") === 1)

    // run 2: nothing changed -> conditional GETs answer 304, zero new content
    node.execute(cat)
    val s2 = snapshot(cat, "latest")
    assert(s2 === s1)
    assert(RecordingSource.n("a", "ok") === 1, "unchanged key was re-downloaded")
    assert(RecordingSource.n("a", "304") === 1)

    // run 3: b changed, c added, a deleted upstream
    write(dir, "b", """{"v":"b2"}""")
    write(dir, "c", """{"v":"c1"}""")
    Files.delete(dir.resolve("a.json"))
    node.execute(cat)
    val s3 = snapshot(cat, "latest")
    assert(s3.keySet === Set("a", "b", "c"), "404'd key must keep its cached row")
    assert(s3("a") === s1("a"))
    assert(s3("b")._1 === """{"v":"b2"}""")
    assert(s3("b")._2 !== s1("b")._2, "changed content must get a fresh etag")
    assert(s3("c")._1 === """{"v":"c1"}""")
    assert(RecordingSource.n("b", "ok") === 2 && RecordingSource.n("c", "ok") === 1)
    assert(RecordingSource.n("a", "404") === 1)
  }

  test("transient errors retry up to maxAttempts, then fail the run") {
    val dir = TestSpark.tempDir("graft_src")
    write(dir, "x", """{"v":1}""")

    FlakySource.reset()
    val flaky2 = new FlakySource(LocalFsSource(dir.toString), failures = 2)
    val ok = Crawl.fetchNew(Crawl.trigger(spark, flaky2), flaky2, maxAttempts = 3)
    assert(ok.collect().map(_.getAs[String]("name")).toSeq === Seq("x"))
    assert(FlakySource.attempts.get("x").get === 3, "two failures + one success")

    FlakySource.reset()
    val flaky9 = new FlakySource(LocalFsSource(dir.toString), failures = 9)
    val ex = intercept[Exception] {
      Crawl.fetchNew(Crawl.trigger(spark, flaky9), flaky9, maxAttempts = 3).collect()
    }
    assert(ex.getMessage != null)
  }
}
