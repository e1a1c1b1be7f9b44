package graft.engine

import java.util.concurrent.{Executors, Semaphore, TimeUnit}
import scala.collection.mutable

/** Composes ETL units into a DAG keyed by shared object ids and executes it
  * topologically with a concurrency cap.
  *
  * Equivalent of the reference's `ETLGroup` + `DagExecutor`
  * (reference: batch_framework/etl.py:180-314): there, a bipartite id/node DAG is
  * built (etl.py:267-286) and ready vertices are dispatched to threads behind a
  * `Semaphore(max_active_run)` (etl.py:253-265). Here, node-level parallelism uses a
  * fixed thread pool + semaphore on the driver; *within* each node, Spark's scheduler
  * already parallelizes across all executor cores, so the cap only governs how many
  * concurrent Spark jobs compete for the cluster (spark.scheduler.mode=FAIR friendly).
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

  /** DAG-internal ids consumed by exactly ONE unit (r20): lazily composing
    * such an id into its single consumer duplicates no work ACROSS units —
    * the recompute-per-consumer trade that makes all-in [[execute]]
    * `inDbIntermediates` wrong for fan-out DAGs does not exist here. This is
    * the safe InDb subset for DAGs that mix single-consumer hand-offs
    * (extraction → grouping) with multi-consumer ones (grouping → validators
    * + export + result), e.g. the metagraph pipeline.
    *
    * Caveat: this counts consuming UNITS, not plan references. A sole
    * consumer whose one action references the input more than once (a
    * self-join, or a multi-branch union such as
    * [[graft.graph.Validate.linkIdValidators]]) recomputes the producer's
    * subtree per reference. Results are unaffected; only the cost is. */
  def singleConsumerIntermediateIds: Seq[String] = {
    val consumerCount = units.flatMap(_.inputIds.distinct)
      .groupBy(identity).map { case (id, xs) => id -> xs.size }
    intermediateIds.filter(id => consumerCount.getOrElse(id, 0) == 1)
  }

  /** unit -> units it depends on (via shared ids). */
  private val deps: Map[EtlNode, Seq[EtlNode]] =
    units.map(u => u -> u.inputIds.flatMap(producedBy.get).distinct).toMap

  // fail fast on cycles (reference relies on paradag's DAG checks)
  locally {
    val state = mutable.Map[EtlNode, Int]().withDefaultValue(0) // 0=unseen 1=visiting 2=done
    def visit(u: EtlNode, stack: List[String]): Unit = state(u) match {
      case 2 => ()
      case 1 => throw new IllegalArgumentException(
        s"EtlGroup '$name': dependency cycle through ${(u.name :: stack).reverse.mkString(" -> ")}")
      case _ =>
        state(u) = 1
        deps(u).foreach(visit(_, u.name :: stack))
        state(u) = 2
    }
    units.foreach(visit(_, Nil))
  }

  def run(cat: Catalog): Unit = execute(cat, maxActiveRun = 1)

  /** Topological execution; up to `maxActiveRun` nodes run concurrently
    * (reference default 16, examples/run_whole.py:56).
    *
    * `inDbIntermediates = true` routes every DAG-INTERNAL id (produced and
    * consumed inside the group, never visible outside it) through
    * [[Catalog.markInDb]]: node hand-offs become LAZY in-session plans
    * instead of parquet datasets, so the group's terminal actions each run
    * as one Catalyst-optimized end-to-end query (pushdown and pruning cross
    * the old node boundaries). Group inputs and outputs are untouched —
    * externally the group behaves identically. The trade: an intermediate
    * consumed by k actions is recomputed k times, and a runtime error
    * surfaces at the terminal node rather than the node that declared the
    * failing transform (analysis errors still surface at their own node).
    * Use for DAGs funneling into few terminal outputs whose intermediates
    * are cheap to recompute (measured at sf0.1: the 4-node as-of DAG runs
    * 38% faster composed); leave off — materialize-once — for expensive
    * multi-consumer intermediates or restartable long pipelines.
    *
    * `inDbSingleConsumer = true` marks only [[singleConsumerIntermediateIds]]
    * — the subset where lazy composition is a pure win (no recompute
    * possible); multi-consumer intermediates stay materialize-once parquet.
    * Subsumed by `inDbIntermediates` when both are set. */
  def execute(cat: Catalog, maxActiveRun: Int, inDbIntermediates: Boolean = false,
              inDbSingleConsumer: Boolean = false): Unit = {
    require(maxActiveRun >= 1)
    // mark is PER-RUN state: unmark on every exit path, else the next run of
    // any group writing a colliding id on this catalog — including this
    // group re-run with the default flag — silently loses durability
    val marked =
      if (inDbIntermediates) intermediateIds
      else if (inDbSingleConsumer) singleConsumerIntermediateIds
      else Seq.empty
    if (marked.nonEmpty) cat.markInDb(marked)
    try executeInner(cat, maxActiveRun)
    finally if (marked.nonEmpty) cat.unmarkInDb(marked)
  }

  private def executeInner(cat: Catalog, maxActiveRun: Int): Unit = {
    if (maxActiveRun == 1) {
      // deterministic sequential topo order
      val done = mutable.Set[EtlNode]()
      val pending = mutable.Queue[EtlNode](units: _*)
      while (pending.nonEmpty) {
        val ready = pending.dequeueAll(u => deps(u).forall(done.contains))
        require(ready.nonEmpty, s"EtlGroup '$name': no runnable node (unsatisfied external inputs?)")
        ready.foreach { u => u.execute(cat); done += u }
      }
    } else if (units.nonEmpty) {
      val pool = Executors.newFixedThreadPool(maxActiveRun)
      val gate = new Semaphore(maxActiveRun)
      val remaining = mutable.Map[EtlNode, Int](deps.map { case (u, d) => u -> d.size }.toSeq: _*)
      val dependents: Map[EtlNode, Seq[EtlNode]] =
        units.map(u => u -> units.filter(v => deps(v).contains(u))).toMap
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val outstanding = new java.util.concurrent.atomic.AtomicInteger(units.size)
      val doneLatch = new java.util.concurrent.CountDownLatch(1)

      def submit(u: EtlNode): Unit = pool.submit(new Runnable {
        def run(): Unit = {
          gate.acquire()
          try {
            if (failure.get() == null) u.execute(cat)
          } catch { case e: Throwable => failure.compareAndSet(null, e) }
          finally {
            gate.release()
            remaining.synchronized {
              dependents(u).foreach { v =>
                remaining(v) -= 1
                if (remaining(v) == 0 && failure.get() == null) submit(v)
              }
            }
            if (outstanding.decrementAndGet() == 0 || failure.get() != null) doneLatch.countDown()
          }
        }
      })

      units.filter(u => deps(u).isEmpty).foreach(submit)
      val finished = doneLatch.await(24, TimeUnit.HOURS)
      pool.shutdownNow()
      if (failure.get() != null) throw failure.get()
      require(finished, s"EtlGroup '$name': execution timed out after 24h")
      require(outstanding.get() == 0, s"EtlGroup '$name': deadlock — ${outstanding.get()} nodes never became runnable")
    }
    if (dropIntermediates) intermediateIds.foreach(cat.drop)
  }
}
