package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Catalog, EtlNode}

/** In-memory trace of one benchmark process: named spans with start, end,
  * parent span and operation id, plus per-operation counters fed by the
  * Spark, plan and streaming listeners. Everything is gated by [[on]]
  * (off during setup and in untraced runs); nothing is written until the
  * run ends. */
object Trace {
  @volatile var on: Boolean = false
  @volatile var opId: Int = -1

  final case class Span(id: Long, parent: Long, op: Int, kind: String, name: String,
                        startNs: Long, endNs: Long, attrs: Map[String, Any])

  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  /** Times `body` as a span. The parent is `parent` when given (work handed
    * to another thread), else the innermost open span of this thread. */
  def span[A](kind: String, name: String, parent: Long = 0L,
              attrs: => Map[String, Any] = Map.empty)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val p = if (parent != 0L) parent else stack.get.headOption.getOrElse(0L)
      val op = opId
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, p, op, kind, name, t0, t1, attrs))
      }
    }

  def currentSpan: Long = stack.get.headOption.getOrElse(0L)

  /** Counters of the current operation, reset by [[harvest]]. */
  object Counters {
    val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, start ms, end ms
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val c: Map[String, LongAdder] = Seq(
      "stages", "tasks", "task_run_ms", "task_cpu_ns", "task_gc_ms", "shuffle_write_bytes",
      "shuffle_read_bytes", "spill_bytes", "plans", "plan_ms", "scan_rows", "join_rows",
      "stream_batches", "stream_add_batch_ms", "stream_wal_commit_ms")
      .map(_ -> new LongAdder).toMap
    def add(k: String, v: Long): Unit = c(k).add(v)
    def jobStarted(id: Int, t: Long): Unit = { jobStart.put(id, t); () }
    def jobEnded(id: Int, t: Long): Unit =
      Option(jobStart.remove(id)).foreach(s => jobs.add((id, s, t)))
  }

  /** Current counter values and job intervals; resets them. */
  def harvest(): (Map[String, Long], Seq[(Long, Long)]) = {
    val vals = Counters.c.map { case (k, a) => k -> a.sumThenReset() }
    val js = Iterator.continually(Counters.jobs.poll()).takeWhile(_ != null)
      .map(j => (j._2, j._3)).toSeq
    (vals, js)
  }
}

/** Jobs, stages and task metrics (scheduler, executor and shuffle layers). */
class SchedulerListener extends SparkListener {
  import Trace.Counters._
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) jobStarted(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Trace.on) jobEnded(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (Trace.on) add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.on && e.taskMetrics != null) {
    val m = e.taskMetrics
    add("tasks", 1)
    add("task_run_ms", m.executorRunTime)
    add("task_cpu_ns", m.executorCpuTime)
    add("task_gc_ms", m.jvmGCTime)
    add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
    add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** Catalyst phases and executed-plan row counts of every query execution,
  * in every session (installed through `spark.sql.queryExecutionListeners`). */
class PlanListener extends QueryExecutionListener {
  import Trace.Counters._

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def record(qe: QueryExecution): Unit = if (Trace.on) {
    add("plans", 1)
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
    val ns = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    add("scan_rows", ns.collect { case l: LeafExecNode => rows(l) }.sum)
    add("join_rows", ns.filter(_.nodeName.contains("Join")).map(rows).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch phases of every streaming query (installed through
  * `spark.sql.streaming.streamingQueryListeners`). */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  import Trace.Counters._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Trace.on) {
    val d = e.progress.durationMs
    add("stream_batches", 1)
    add("stream_add_batch_ms", Option(d.get("addBatch")).map(_.longValue).getOrElse(0L))
    add("stream_wal_commit_ms", Option(d.get("walCommit")).map(_.longValue).getOrElse(0L))
  }
}

/** Catalog whose writes and reads are spans; a write span records the bytes
  * and files it left on disk. */
class TracedCatalog(s: SparkSession, dir: String) extends Catalog(s, dir) {
  override def write(df: DataFrame, id: String): Unit = {
    var attrs = Map.empty[String, Any] // read when the span closes, after the write
    Trace.span("catalog", s"write:$id", attrs = attrs) {
      super.write(df, id)
      attrs = Files.usage(path(id))
    }
  }
  override def readAny(id: String, sess: SparkSession): DataFrame =
    Trace.span("catalog", s"read:$id")(super.readAny(id, sess))
}

/** An EtlGroup unit run as one span under the operation's span. */
class TracedNode(inner: EtlNode, stage: String, opSpan: Long) extends EtlNode {
  override def name: String = inner.name
  def inputIds: Seq[String] = inner.inputIds
  def outputIds: Seq[String] = inner.outputIds
  override def doCache: Boolean = inner.doCache
  def run(cat: Catalog): Unit =
    Trace.span("node", inner.name, parent = opSpan,
      attrs = Map("stage" -> stage, "inputs" -> inputIds, "outputs" -> outputIds)) {
      inner.start(cat); inner.run(cat); inner.end(cat)
    }
}

object Files {
  /** bytes and data files under a path (0 when absent). */
  def usage(p: String): Map[String, Any] = {
    val f = new java.io.File(p)
    def walk(x: java.io.File): Iterator[java.io.File] =
      if (x.isDirectory) Option(x.listFiles()).iterator.flatten.flatMap(walk) else Iterator(x)
    val files = if (!f.exists) Nil
      else walk(f).filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_")).toSeq
    Map("bytes" -> files.map(_.length).sum, "files" -> files.size)
  }

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }
}

object SpansJson {
  def all(): Seq[Map[String, Any]] = Trace.spans.asScala.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs
  }
}
