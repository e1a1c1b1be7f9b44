package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, JoinedRow,
  NamedExpression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSql

/** The range (interval-containment) join as a native Catalyst operator —
  * the engine's one range join and its second full custom-plan-tier
  * operator after [[AsofJoinNode]]: points matched to the `[start, end]`
  * intervals containing them (sensor readings to maintenance windows,
  * clicks to attribution windows, positions to genomic regions). Spark
  * plans a raw `p BETWEEN start AND end` join condition as a
  * broadcast-nested-loop (every point × every range).
  *
  * Each side is hash-partitioned on the keys and SORTED — points by
  * (keys, p), intervals by (keys, start) — requirements declared to the
  * planner so EnsureRequirements plans the exchanges and sorts; then one
  * forward merge per partition sweeps points in order, pulling intervals
  * into an ACTIVE set (a min-heap on `end`) when their start passes and
  * evicting them forever once their end falls behind the sweep point.
  * No interval expansion and no bin width to tune; per-partition state is
  * the maximum number of CONCURRENTLY OPEN intervals, not the interval
  * count.
  *
  * Semantics (pinned to DuckDB's IEJoin by the oracle gate): inclusive
  * `start <= p <= end`; inverted intervals (start > end) match nothing;
  * NULL point or bounds match nothing (SQL BETWEEN). Output rows stream in
  * left order; the per-point match order is heap order — row-set
  * deterministic, row-order not (same as any join).
  *
  * Scale: one shuffle per unsorted side, linear merge. A hot
  * (key, time-overlap) region is quadratic in ANY formulation and lands in
  * the partition owning the key; the 10M-event record with a user holding
  * ~1% of the events still runs faster here than through a bucketized
  * equi-join.
  */
case class RangeJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    pt: Expression,
    start: Expression,
    end: Expression,
    rightVals: Seq[NamedExpression]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ rightVals.map(_.toAttribute)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Column pruning THROUGH the custom node (same cooperation as
  * [[AsofJoinPruning]]): a Project above a [[RangeJoinNode]] pushes a
  * left-side Project keeping only (referenced left columns + the node's own
  * key/point references) and drops carried right values the Project never
  * reads. The right side is pre-pruned by the builder. */
object RangeJoinPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, n: RangeJoinNode) =>
      val needed = p.references ++ n.references
      val neededLeft = n.left.output.filter(needed.contains)
      val neededVals = n.rightVals.filter(v => p.references.contains(v.toAttribute))
      val pruneLeft = neededLeft.length < n.left.output.length
      val pruneVals = neededVals.length < n.rightVals.length
      if (pruneLeft || pruneVals) {
        val newLeft = if (pruneLeft) Project(neededLeft, n.left) else n.left
        p.copy(child = n.copy(left = newLeft, rightVals = neededVals))
      } else p
  }
}

/** Planner strategy mapping [[RangeJoinNode]] to [[RangeJoinExec]].
  * Registered by [[graft.GraftExtensions]]. */
object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinNode(l, r, lk, rk, p, s, e, vals) =>
      RangeJoinExec(lk, rk, p, s, e, vals, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge interval-containment join (see [[RangeJoinNode]]). */
case class RangeJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    pt: Expression,
    start: Expression,
    end: Expression,
    rightVals: Seq[NamedExpression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ rightVals.map(_.toAttribute)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    // SQLMetrics merge per-task values by SUMMING on the driver, so this
    // reads as the sum of per-task peaks, not a global max — named accordingly
    "maxActive" -> SQLMetrics.createMetric(sparkContext, "sum of per-task peak open intervals"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(pt, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(start, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val outRows = longMetric("numOutputRows")
    val maxActive = longMetric("maxActive")
    val (lOut, rOut) = (left.output, right.output)
    val (lKeyExprs, rKeyExprs) = (leftKeys, rightKeys)
    val (ptExpr, startExpr, endExpr) = (pt, start, end)
    val valExprs = rightVals
    val keyTypes = leftKeys.map(_.dataType)
    val ptType = pt.dataType
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val valProj = UnsafeProjection.create(valExprs, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val ptBound = BindReferences.bindReference(ptExpr, lOut)
      val startBound = BindReferences.bindReference(startExpr, rOut)
      val endBound = BindReferences.bindReference(endExpr, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val ptOrd = TypeUtils.getInterpretedOrdering(ptType).asInstanceOf[Ordering[Any]]

      val rBuf = rIter.buffered
      // active = intervals of the CURRENT key whose start has passed and
      // whose end has not: min-heap on end, so eviction pops the heap head
      val active = new java.util.PriorityQueue[(Any, UnsafeRow)](
        11, (a: (Any, UnsafeRow), b: (Any, UnsafeRow)) => ptOrd.compare(a._1, b._1))
      var curKey: UnsafeRow = null
      val joined = new JoinedRow

      lIter.flatMap { lRow =>
        val lKey = lKeyProj(lRow)
        if (curKey == null || keyOrd.compare(curKey, lKey) != 0) {
          active.clear()
          curKey = lKey.copy()
        }
        val p = ptBound.eval(lRow)
        if (p == null) Iterator.empty
        else {
          // pull intervals of this key whose start has passed the sweep
          var pulling = true
          while (pulling && rBuf.hasNext) {
            val rRow = rBuf.head
            val kc = keyOrd.compare(rKeyProj(rRow), lKey)
            if (kc < 0) { rBuf.next(); () } // earlier key: gone forever
            else if (kc > 0) pulling = false // later key: stop
            else {
              val st = startBound.eval(rRow)
              // null start sorts first under Ascending and can never match
              if (st == null) { rBuf.next(); () }
              else if (ptOrd.compare(st, p) <= 0) {
                val en = endBound.eval(rRow)
                // dead on arrival if end < p (also covers inverted/null)
                if (en != null && ptOrd.compare(en, p) >= 0) {
                  active.add((en, valProj(rRow).copy())); ()
                }
                rBuf.next(); ()
              } else pulling = false // start beyond sweep: future points only
            }
          }
          // evict intervals the sweep has passed
          while (!active.isEmpty && ptOrd.compare(active.peek()._1, p) < 0)
            active.poll()
          if (active.size() > maxActive.value) maxActive.set(active.size())
          if (active.isEmpty) Iterator.empty
          else {
            val lCopy = lRow.copy()
            val it = active.iterator()
            new Iterator[InternalRow] {
              override def hasNext: Boolean = it.hasNext
              override def next(): InternalRow = {
                outRows += 1
                resultProj(joined(lCopy, it.next()._2))
              }
            }
          }
        }
      }
    }
  }
}

object RangeJoinExec {

  /** @param points   point rows (all columns preserved, in order)
    * @param ranges   interval rows
    * @param keys     equi-join key columns, same name and type on both sides
    * @param ptCol    point column on `points`
    * @param startCol,endCol inclusive interval bounds on `ranges`, of the
    *                 point's type
    * @param valCols  interval-side columns carried to the output, after the
    *                 point columns
    *
    * The builder prunes the right scan to keys + bounds + values and mints
    * fresh attribute ids, same discipline as [[AsofJoinExec.asofLeft]]. */
  def pointInRange(points: DataFrame, ranges: DataFrame, keys: Seq[String],
                   ptCol: String, startCol: String, endCol: String,
                   valCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "range exec needs at least one key column")
    require(valCols.nonEmpty, "range exec needs at least one carried value column")
    val rCols = (keys ++ Seq(startCol, endCol) ++ valCols).distinct
    val rightPruned = ranges.select(rCols.map(c => col(c).as(c)): _*)
    val lPlan = points.queryExecution.analyzed
    val rPlan = rightPruned.queryExecution.analyzed
    import JoinArgs.{attr, requireSameType}

    val lKeys = keys.map(attr(lPlan, _))
    val rKeys = keys.map(attr(rPlan, _))
    val ptAttr = attr(lPlan, ptCol)
    val startAttr = attr(rPlan, startCol)
    val endAttr = attr(rPlan, endCol)
    lKeys.zip(rKeys).foreach { case (l, r) => requireSameType("range exec", l, r) }
    requireSameType("range exec", ptAttr, startAttr)
    requireSameType("range exec", ptAttr, endAttr)

    val node = RangeJoinNode(
      left = lPlan, right = rPlan,
      leftKeys = lKeys, rightKeys = rKeys,
      pt = ptAttr,
      start = startAttr, end = endAttr,
      rightVals = valCols.map(attr(rPlan, _)))
    GraftSql.ofRows(points.sparkSession, node)
  }
}
