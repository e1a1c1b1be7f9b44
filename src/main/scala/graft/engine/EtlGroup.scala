package graft.engine

import java.util.concurrent.{CountDownLatch, PriorityBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.collection.mutable

/** Composes ETL units into a DAG keyed by shared object ids and executes it
  * topologically with a concurrency cap.
  *
  * Equivalent of the reference's `ETLGroup` + `DagExecutor`
  * (reference: batch_framework/etl.py:180-314): there, a bipartite id/node DAG is
  * built (etl.py:267-286) and ready vertices are dispatched to threads, at most
  * `max_active_run` at a time, in arrival order (etl.py:253-265). Here, a fixed
  * pool of `maxActiveRun` driver threads is that cap; *within* each node, Spark's
  * scheduler already parallelizes across all executor cores, so the cap only
  * governs how many concurrent Spark jobs compete for the cluster. Ready units
  * run longest remaining chain first (see [[execute]]), so the chain that bounds
  * the run's wall time never queues behind short side branches. An
  * intermediate that one action reads is handed off as a lazy in-session
  * plan, every other id as parquet (see [[lazyIds]]).
  *
  * `dropIntermediates` deletes datasets that are neither group inputs nor group
  * outputs after the run (reference `drop_internal_objs`, etl.py:288-314).
  */
class EtlGroup(
    override val name: String,
    units: Seq[EtlNode],
    dropIntermediates: Boolean = false)
  extends EtlNode {

  private val producedBy: Map[String, EtlNode] = {
    val m = mutable.Map[String, EtlNode]()
    for (u <- units; out <- u.outputIds) {
      require(!m.contains(out), s"EtlGroup '$name': output id '$out' produced by both '${m(out).name}' and '${u.name}'")
      m(out) = u
    }
    m.toMap
  }

  /** External inputs: consumed by some unit but produced by none. */
  val inputIds: Seq[String] =
    units.flatMap(_.inputIds).distinct.filterNot(producedBy.contains)

  /** External outputs: produced but not consumed by any other unit. */
  val outputIds: Seq[String] = {
    val consumed = units.flatMap(_.inputIds).toSet
    units.flatMap(_.outputIds).distinct.filterNot(consumed.contains)
  }

  def intermediateIds: Seq[String] = {
    val external = (inputIds ++ outputIds).toSet
    (units.flatMap(_.inputIds) ++ units.flatMap(_.outputIds)).distinct
      .filterNot(external.contains)
  }

  /** id -> units that read it. */
  private val consumers: Map[String, Seq[EtlNode]] =
    units.flatMap(u => u.inputIds.distinct.map(_ -> u)).groupMap(_._1)(_._2)
      .withDefaultValue(Seq.empty)

  /** unit -> units it depends on (via shared ids). */
  private val deps: Map[EtlNode, Seq[EtlNode]] =
    units.map(u => u -> u.inputIds.flatMap(producedBy.get).distinct).toMap

  /** Units in topological order (producers first); fails fast on cycles
    * (reference relies on paradag's DAG checks). */
  private val topo: Seq[EtlNode] = {
    val order = mutable.ArrayBuffer[EtlNode]()
    val state = mutable.Map[EtlNode, Int]().withDefaultValue(0) // 0=unseen 1=visiting 2=done
    def visit(u: EtlNode, stack: List[String]): Unit = state(u) match {
      case 2 => ()
      case 1 => throw new IllegalArgumentException(
        s"EtlGroup '$name': dependency cycle through ${(u.name :: stack).reverse.mkString(" -> ")}")
      case _ =>
        state(u) = 1
        deps(u).foreach(visit(_, u.name :: stack))
        state(u) = 2
        order += u
    }
    units.foreach(visit(_, Nil))
    order.toSeq
  }

  /** Dispatch order: a unit's rank is the number of units on its longest
    * chain to a sink, itself included (consumers settle before producers in
    * reverse topological order); higher rank first, equal ranks in
    * declaration order. */
  private val dispatchOrder: Ordering[EtlNode] = {
    val rank = mutable.Map[EtlNode, Int]()
    for (u <- topo.reverse)
      rank(u) = 1 + u.outputIds.flatMap(consumers).map(rank).maxOption.getOrElse(0)
    val declared = units.zipWithIndex.toMap
    Ordering.by[EtlNode, (Int, Int)](u => (-rank(u), declared(u)))
  }

  /** The intermediates [[execute]] hands off as lazy in-session plans
    * instead of parquet (the reference's RDB-only storage, etl.py:390-394,
    * decided per id from the DAG): an intermediate composes iff exactly ONE
    * materializing action reads it, so composing it into that action repeats
    * no work across actions. An action is the write of a durable id, or a
    * consumer with no outputs (a sink that runs its own action); a lazy id
    * is no action itself — its actions are its readers'. Walking units in
    * reverse topological order settles every consumer's outputs before the
    * id it reads. So a chain, or a diamond funneling into one write,
    * composes whole; an id read by two actions (a fan-out, or one consumer
    * writing two durable outputs) stays materialize-once parquet.
    *
    * One action that references a lazy id more than once runs its producer
    * once per reference. In the union of
    * [[graft.graph.Validate.linkIdValidators]], Catalyst pushes each
    * branch's anti-join below the producer's DISTINCT, so the branches
    * differ and no exchange is reused (pinned in EtlSpec). Measured on the flagship at sf0.1 (4 cores, 6 pairs):
    * composing `glink_has_license` adds about 0.6 s to `validate_link_ids`
    * but removes a 1.3-2.0 s write, with fewer tasks and less executor time
    * in every pair and group wall within noise, so references are not
    * counted. */
  private[engine] val lazyIds: Seq[String] = {
    val intermediate = intermediateIds.toSet
    // id -> the actions that read it (Left: a sink unit, Right: a write)
    val actions = mutable.Map[String, Set[Either[EtlNode, String]]]()
    def isLazy(id: String) = intermediate(id) && actions(id).size == 1
    for (u <- topo.reverse; id <- u.outputIds)
      actions(id) = consumers(id).flatMap { c =>
        if (c.outputIds.isEmpty) Seq(Left(c))
        else c.outputIds.flatMap(o => if (isLazy(o)) actions(o) else Seq(Right(o)))
      }.toSet
    intermediateIds.filter(isLazy)
  }

  def run(cat: Catalog): Unit = execute(cat, maxActiveRun = 1)

  /** Topological execution; up to `maxActiveRun` nodes run concurrently
    * (reference default 16, examples/run_whole.py:56). Ready units run
    * highest rank first — the rank is the length of the longest chain of
    * units from the unit to a sink — with equal ranks in declaration order,
    * so the critical path starts as soon as its inputs exist. Measured on
    * the flagship pipeline (sf0.01 x2, 4 cores, maxActiveRun 4): arrival
    * order started the heads of the two longest chains (er_resolution,
    * extract_link_ordered_material) about 2 s late.
    *
    * Every run marks [[lazyIds]] through [[Catalog.markInDb]]: those
    * hand-offs become lazy in-session plans instead of parquet datasets, so
    * each reading action runs as one Catalyst-optimized query across the old
    * node boundaries. Group inputs and outputs stay durable parquet —
    * externally the group behaves identically. The trade is failure
    * attribution: a runtime error surfaces at the reading node rather than
    * the node that declared the failing transform (analysis errors still
    * surface at their own node). Measured at sf0.1 on the 4-node as-of DAG,
    * where every intermediate composes: 38% faster than parquet hand-offs.
    * The flagship composes 9 of its 13 intermediates. */
  def execute(cat: Catalog, maxActiveRun: Int): Unit = {
    require(maxActiveRun >= 1, s"EtlGroup '$name': maxActiveRun must be >= 1, got $maxActiveRun")
    // marks are PER-RUN state: unmark on every exit path, else the next
    // write of a colliding id on this catalog by any other producer
    // silently loses durability
    cat.markInDb(lazyIds)
    try executeInner(cat, maxActiveRun)
    finally cat.unmarkInDb(lazyIds)
  }

  private def executeInner(cat: Catalog, maxActiveRun: Int): Unit = {
    if (units.nonEmpty) {
      // prestarted threads take every unit from the priority queue: a pool
      // below its core size would hand a new task straight to a new thread
      val pool = new ThreadPoolExecutor(maxActiveRun, maxActiveRun, 0L, TimeUnit.MILLISECONDS,
        new PriorityBlockingQueue[Runnable](units.size,
          Ordering.by[Runnable, EtlNode](_.asInstanceOf[Dispatch].u)(dispatchOrder)))
      pool.prestartAllCoreThreads()
      val remaining = mutable.Map[EtlNode, Int](deps.map { case (u, d) => u -> d.size }.toSeq: _*)
      val failure = new AtomicReference[Throwable]()
      val outstanding = new AtomicInteger(units.size)
      val doneLatch = new CountDownLatch(1)

      def run(u: EtlNode): Unit =
        try {
          if (failure.get() == null) u.execute(cat)
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
        finally {
          remaining.synchronized {
            u.outputIds.flatMap(consumers).distinct.foreach { v =>
              remaining(v) -= 1
              if (remaining(v) == 0 && failure.get() == null) submit(v)
            }
          }
          if (outstanding.decrementAndGet() == 0 || failure.get() != null) doneLatch.countDown()
        }
      def submit(u: EtlNode): Unit = pool.execute(new Dispatch(u)(run(u)))

      // an idle thread takes the first unit offered, so offer in rank order
      units.filter(u => deps(u).isEmpty).sorted(dispatchOrder).foreach(submit)
      val finished = doneLatch.await(24, TimeUnit.HOURS)
      pool.shutdownNow()
      if (failure.get() != null) throw failure.get()
      require(finished, s"EtlGroup '$name': execution timed out after 24h")
      require(outstanding.get() == 0, s"EtlGroup '$name': deadlock — ${outstanding.get()} nodes never became runnable")
    }
    if (dropIntermediates) intermediateIds.foreach(cat.drop)
  }
}

/** A queued run of one unit, ordered in the pool's queue by its unit. */
private final class Dispatch(val u: EtlNode)(body: => Unit) extends Runnable {
  def run(): Unit = body
}
