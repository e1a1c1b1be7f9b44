package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql

/** The measurement core every main shares (Bench, Verify, Smoke, Explain,
  * the `Scale*` harnesses) and the test session: one session factory, one
  * result reduction, one load gate, one task/job ledger, one timed sample,
  * one phase recorder, one JSON renderer and one oracle-SQL dump —
  * so plan dumps, scale records and bench samples are all taken under the
  * conditions the bench measures.
  */
object Harness {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the JVM's processor count. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The bench config for a `local[cpus]` session. */
  private[graft] def benchConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // many-group TypedImperativeAggregates (top_k, kmv) must hash, not
    // sort: the 128-group default silently degrades them (see graft.expr.TopK)
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session under the bench config, plus `confs` (only
    * ScaleBuckets passes any: broadcast off and its warehouse dir). */
  def session(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    (benchConf(cpus) ++ confs).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def session(): SparkSession = session(cpus)

  /** Stop `spark` (and its streams) so the next [[session]] builds fresh. */
  def stop(spark: SparkSession): Unit =
    try {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

  /** Compute every output column and reduce the result to (rows, digest).
    * The digest is a bit_xor of per-row xxhash64 over all columns: order-
    * independent and overflow-free under ANSI mode. A bare `count()` would
    * let Catalyst prune unreferenced projections and measure only scans. */
  def consume(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => col(s"`$c`").cast("string"))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** 1-min loadavg above which a timed sample waits: half the worker
    * threads (at least 2). Our own just-finished work leaves a small decaying
    * load; genuinely competing work shows up as tens. */
  lazy val loadGate: Double = sys.env.get("SPARK_GRAFT_LOAD_GATE").map(_.toDouble)
    .getOrElse(math.max(2.0, 0.5 * cpus))

  private[graft] val waitBudgetMs = new AtomicLong(
    sys.env.get("SPARK_GRAFT_LOAD_WAIT_BUDGET_MS").map(_.toLong).getOrElse(900000L))

  /** Wait (at most 10 naps, and within one JVM-wide budget) until the 1-min
    * loadavg drops to [[loadGate]]; returns the load the sample starts
    * under, which callers record so an inflated sample identifies itself.
    * A busy box degrades to "measure anyway, record the load". */
  private def gateOnLoad(tag: String): Double = {
    var l = loadavg()
    var tries = 0
    while (l > loadGate && tries < 10 && waitBudgetMs.get > 0) {
      val napMs = math.min(30000L, waitBudgetMs.get)
      System.err.println(f"[gate] $tag load=$l%.2f > $loadGate%.1f, waiting ${napMs / 1000}s " +
        f"(budget ${waitBudgetMs.get / 1000}s left)")
      Thread.sleep(napMs)
      waitBudgetMs.addAndGet(-napMs)
      tries += 1
      l = loadavg()
    }
    l
  }

  /** Worst per-stage max/median task duration (ms), over stages with at
    * least 8 tasks of at least 200 ms; 1.0 when no stage qualifies. Skew is
    * judged within one stage: a cross-stage ratio compares unlike work. */
  def straggler(durations: Iterable[(Int, Long)]): Double = {
    val byStage = durations.groupBy(_._1).values
      .map(_.map(_._2).filter(_ >= 200).toVector.sorted)
      .filter(_.length >= 8)
    if (byStage.isEmpty) 1.0
    else byStage.map(ts => ts.last.toDouble / ts(ts.length / 2).toDouble).max
  }

  /** One finished task as the ledger saw it (times in ms). */
  final case class Task(stage: Int, ms: Long, gcMs: Long, inputRecs: Long,
                        shuffleReadRecs: Long, shuffleWriteRecs: Long)
  final case class Stage(id: Int, tasks: Int, name: String)
  /** One Spark job as the ledger saw it (event times, epoch ms; `site` is
    * its SQL execution id and any user-set call site). */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Seq[Stage], site: String)

  /** The task/job listener of one session: per-stage task durations for
    * [[straggler]] and per-job records for attribution. Listener events are
    * delivered asynchronously, so every read drains the bus first. */
  final class Ledger(spark: SparkSession) extends SparkListener {
    private val tasks = new ConcurrentLinkedQueue[Task]()
    private val jobs = new ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(this)

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = Option(te.taskMetrics)
      tasks.add(Task(te.stageId, te.taskInfo.duration, m.fold(-1L)(_.jvmGCTime),
        m.fold(-1L)(_.inputMetrics.recordsRead), m.fold(-1L)(_.shuffleReadMetrics.recordsRead),
        m.fold(-1L)(_.shuffleWriteMetrics.recordsWritten)))
      ()
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      val site = (prop("spark.sql.execution.id").map("exec=" + _) ++ prop("callSite.short")).mkString(" ")
      val stages = js.stageInfos.sortBy(_.stageId).map(si => Stage(si.stageId, si.numTasks, si.name))
      jobs.put(js.jobId, Job(js.jobId, js.time, -1L, stages, site)); ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(je.jobId, (_, j) => j.copy(endMs = je.time)); ()
    }

    /** Block until every event posted so far has been delivered. */
    def drain(): Unit =
      try GraftSql.drainListenerBus(spark.sparkContext, 10000L)
      catch { case _: TimeoutException => System.err.println("[ledger] listener bus drain timed out") }

    def reset(): Unit = { drain(); tasks.clear(); jobs.clear() }

    /** Tasks finished since the last reset. */
    def taskLog(): Seq[Task] = { drain(); tasks.asScala.toSeq }

    /** Jobs started since the last reset, by id. */
    def jobLog(): Seq[Job] = { drain(); jobs.values.asScala.toSeq.sortBy(_.id) }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** Wall time outside every job: `wallMs` minus the union of the `jobs`'
    * spans, so concurrent jobs (an EtlGroup's DAG nodes) count once. A job
    * that has not ended covers nothing. */
  def driverGapMs(wallMs: Long, jobs: Seq[Job]): Long = {
    val spans = jobs.filter(j => j.endMs >= j.startMs).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    val (covered, _) = spans.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
    }
    wallMs - covered
  }

  /** The aggregate `cpu` line of `/proc/stat`; "" when unreadable. */
  private def cpuLine(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next() finally src.close()
    } catch { case _: Throwable => "" }

  /** Share of all CPU time between two `/proc/stat` `cpu` lines that the
    * host stole (the `steal` column over user..steal); -1 when either line
    * is unreadable. A co-tenant on the host shows here, not in loadavg,
    * which counts only this machine's own runnable tasks. */
  private[graft] def stealShare(before: String, after: String): Double = {
    def ticks(line: String): Option[Seq[Long]] = line.trim.split("\\s+").toSeq match {
      case "cpu" +: xs if xs.length >= 8 && xs.take(8).forall(_.forall(_.isDigit)) =>
        Some(xs.take(8).map(_.toLong))
      case _ => None
    }
    (ticks(before), ticks(after)) match {
      case (Some(a), Some(b)) =>
        val total = b.sum - a.sum
        if (total > 0) (b(7) - a(7)).toDouble / total else 0.0
      case _ => -1.0
    }
  }

  /** One timed sample: its straggler ratio, the load it started under, the
    * stolen CPU share of its window and the tasks it ran. */
  final case class Sample[+A](value: A, sec: Double, straggler: Double, load: Double,
                              steal: Double, tasks: Int)

  /** One gated, timed sample of `body`: wait on the load gate, reset the
    * ledger, time `body`, then read the straggler ratio of its tasks and the
    * CPU share the host stole while it ran. */
  def sample[A](tag: String, ledger: Ledger)(body: => A): Sample[A] = {
    val load = gateOnLoad(tag)
    ledger.reset()
    val cpu0 = cpuLine()
    val t = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t) / 1e9
    val steal = stealShare(cpu0, cpuLine())
    val tasks = ledger.taskLog()
    val st = straggler(tasks.map(t => (t.stage, t.ms)))
    System.err.println(f"[sample] $tag $sec%.1fs straggler=$st%.2f load=$load%.2f steal=$steal%.3f")
    Sample(a, sec, st, load, steal, tasks.size)
  }

  private lazy val phaseSamples: Int = {
    val k = sys.env.get("SCALE_PHASE_SAMPLES").map(_.toInt).getOrElse(2)
    require(k >= 1, s"SCALE_PHASE_SAMPLES must be >= 1, got $k")
    k
  }

  /** One harness run's phases, each the fastest of its samples, by tag — the
    * one way a `Scale*` main times a phase and the source of its record's
    * straggler and load maps. `before` runs untimed ahead of every sample. */
  final class Recorder(spark: SparkSession, before: () => Unit = () => ()) {
    private val ledger = new Ledger(spark)
    private val won = mutable.LinkedHashMap[String, Sample[Any]]()

    /** Min-of-`k` [[sample]]s of `body` (default `SCALE_PHASE_SAMPLES`, 2):
      * co-tenant bursts outlast a phase-start gate, and phase outputs are
      * deterministic, so the fastest sample is the clean-window estimate.
      * `same` keys each sample's value; the keys must all agree. Losing
      * samples' Datasets are released so they pin no block-manager memory:
      * a localCheckpoint's blocks belong to its RDD, which
      * `Dataset.unpersist` (the cache manager's entry) leaves in place.
      * Records and returns the fastest sample under `tag`. */
    def phase[A](tag: String, k: Int = phaseSamples, same: Any => Any = _ => ())(body: => A): Sample[A] = {
      val runs = (1 to k).map { _ => before(); sample(tag, ledger)(body) }.sortBy(_.sec)
      val keys = runs.map(r => same(r.value))
      require(keys.distinct.size == 1, s"$tag output varies across samples: ${keys.mkString(", ")}")
      runs.tail.map(_.value).foreach {
        case ds: Dataset[_] if ds != runs.head.value =>
          ds.unpersist()
          ds.queryExecution.logical match {
            case r: LogicalRDD => r.rdd.unpersist(blocking = false)
            case _ => ()
          }
        case _ => ()
      }
      won(tag) = runs.head
      runs.head
    }

    /** Seconds of `tag`'s fastest sample; 0.0 for a phase that did not run. */
    def sec(tag: String): Double = won.get(tag).fold(0.0)(_.sec)
    def secs: VectorMap[String, Double] = of(_.sec)
    def stragglers: VectorMap[String, Double] = of(_.straggler)
    def loads: VectorMap[String, Double] = of(_.load)
    private def of(f: Sample[Any] => Double) = VectorMap.from(won.view.mapValues(f))
  }

  /** A fresh temp work dir, deleted at JVM exit. */
  def workDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    TempCleanup.deleteOnExit(dir)
    dir
  }

  /** JSON string literal: quote, backslash and every control char below
    * 0x20 escaped — one raw tab or CR in query SQL would otherwise make the
    * checker's json.load fail and silently zero the correctness gate. */
  private[graft] def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 16).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** An insertion-ordered JSON object for [[json]]. */
  def obj(fields: (String, Any)*): VectorMap[String, Any] = VectorMap(fields: _*)

  /** Already-rendered JSON text that [[json]] embeds as it is. */
  final case class Raw(text: String)

  /** JSON text of nested maps (insertion order kept) and sequences of Long,
    * Int, Double, Boolean and String; `None` is `null` and a [[Raw]] is its
    * own text. */
  def json(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jsonString(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case s: String => jsonString(s)
    case x @ (_: Long | _: Int | _: Double | _: Boolean) => x.toString
    case None => "null"
    case Raw(text) => text
    case x => throw new IllegalArgumentException(s"json: unsupported value $x")
  }

  /** Print one scale record: a `{"metric": metric, ...fields}` line on stdout. */
  def emit(metric: String, fields: (String, Any)*): Unit =
    println(json(obj(("metric" -> metric) +: fields: _*)))

  /** Dump [[SparkEntry.oracleSql]] to `outDir/oracle_sql.json`, and its bench
    * companion (untimed setup tables, ordered, plus per-query timed
    * overrides; see [[SparkEntry.oracleSetupSql]]) to
    * `outDir/oracle_bench_sql.json`. */
  def dumpOracleSql(outDir: java.io.File): Unit = {
    outDir.mkdirs()
    def obj(m: Map[String, String]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",\n", "}")
    def write(name: String, json: String): Unit = {
      java.nio.file.Files.write(outDir.toPath.resolve(name), json.getBytes(StandardCharsets.UTF_8))
      ()
    }
    write("oracle_sql.json", obj(SparkEntry.oracleSql))
    val setup = SparkEntry.oracleSetupSql
      .map { case (t, sql) => s"[${jsonString(t)}, ${jsonString(sql)}]" }.mkString("[", ",\n", "]")
    write("oracle_bench_sql.json", s"""{"setup": $setup,\n"timed": ${obj(SparkEntry.oracleBenchSql)}}""")
  }
}
