package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, BindReferences, Descending, Expression,
  GenericInternalRow, JoinedRow, NamedExpression, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSql

/** The as-of join as a WHOLE-OPERATOR Catalyst extension: a custom logical
  * node, a planner strategy, and a sort-merge physical operator — the
  * engine's one as-of join. Each left row picks up the value columns of the
  * LATEST right row with `right.ts <= left.ts` within the same key, the
  * canonical time-series enrichment (market data, feature stores, session
  * attribution) that Spark has no operator for: a range-condition join
  * would plan as a broadcast nested loop, quadratic per key.
  *
  * Each side is hash-partitioned on the keys and sorted by (keys, ts) —
  * requirements DECLARED to the planner via `requiredChildDistribution` /
  * `requiredChildOrdering`, so EnsureRequirements plans the exchanges and
  * sorts and AQE still manages them — then a single forward pass per
  * partition pairs each left row with the latest eligible right row,
  * holding exactly ONE buffered match at a time; right rows stream through
  * instead of riding every left row.
  *
  * Semantics (pinned to DuckDB's ASOF JOIN by the oracle gate): backward
  * mode matches the LATEST right row with `right.ts <= left.ts` per key,
  * forward mode the EARLIEST with `right.ts >= left.ts`, both inclusive;
  * ties on (keys, ts) resolve to the LARGEST `tieBreak` value; unmatched
  * left rows keep nulls. NULL value columns of the matched row stay NULL
  * (row-consistent, true ASOF semantics).
  *
  * Scale: one shuffle per unsorted side, linear merge, O(1) state per
  * partition. AQE's skew-join splitting does not know this operator (it
  * targets SMJ/SHJ), so a hot key stays in one task; the 10M-event record
  * with a user holding ~1% of the events still runs faster here than
  * through a union + window composition.
  */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightVals: Seq[NamedExpression],
    tieBreak: Option[Expression],
    forward: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.toAttribute.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Column pruning THROUGH the custom node: Catalyst's ColumnPruning rule
  * only knows built-in operators, so without help a `select` above an
  * [[AsofJoinNode]] would leave the left scan reading every column. This
  * rule (registered by [[graft.GraftExtensions]] via `injectOptimizerRule`)
  * restores the cooperation: a Project above the node pushes a left-side
  * Project keeping only (referenced left columns + the node's own keys/ts
  * references), and drops carried value columns the Project never reads.
  * The right side needs no help — the builder pre-prunes it to
  * keys + ts + values. */
object AsofJoinPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, a: AsofJoinNode) =>
      val needed = p.references ++ a.references
      val neededLeft = a.left.output.filter(needed.contains)
      val neededVals = a.rightVals.filter(v => p.references.contains(v.toAttribute))
      val pruneLeft = neededLeft.length < a.left.output.length
      val pruneVals = neededVals.length < a.rightVals.length
      if (pruneLeft || pruneVals) {
        val newLeft = if (pruneLeft) Project(neededLeft, a.left) else a.left
        p.copy(child = a.copy(left = newLeft, rightVals = neededVals))
      } else p
  }
}

/** Planner strategy mapping [[AsofJoinNode]] to [[AsofJoinExec]].
  * Registered by [[graft.GraftExtensions]] via `injectPlannerStrategy`. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lts, rts, vals, tie, fwd) =>
      AsofJoinExec(lk, rk, lts, rts, vals, tie, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join. Children arrive co-partitioned on the keys and
  * sorted by (keys, scan-ordered ts [, tieBreak asc]) — `scan order` is ts
  * ascending for backward as-of, descending for forward, so in BOTH modes
  * the merge walks eligible right rows first and the last one consumed is
  * the match (latest-at-or-before, or earliest-at-or-after with max
  * tie-break). */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightVals: Seq[NamedExpression],
    tieBreak: Option[Expression],
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.toAttribute.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def tsDirection = if (forward) Descending else Ascending

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, tsDirection),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTs, tsDirection) +:
        tieBreak.map(SortOrder(_, Ascending)).toSeq))

  // rows stream out in left-child order, one partition to one partition
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val outRows = longMetric("numOutputRows")
    val matched = longMetric("numMatched")
    val fwd = forward
    val nValCols = rightVals.length
    // capture what closures need; SparkPlan itself must not be serialized
    val (lOut, rOut) = (left.output, right.output)
    val (lKeyExprs, rKeyExprs) = (leftKeys, rightKeys)
    val (lTsExpr, rTsExpr) = (leftTs, rightTs)
    val valExprs = rightVals
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val valProj = UnsafeProjection.create(valExprs, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val lTsBound = BindReferences.bindReference(lTsExpr, lOut)
      val rTsBound = BindReferences.bindReference(rTsExpr, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      // position of a ts value in the child sort: backward sorts asc
      // NullsFirst, forward desc NullsLast — in scan order a null is
      // smallest backward and greatest forward. A right row is eligible
      // iff its ts does not come after the left row's in scan order
      // (covers rts <= lts backward / rts >= lts forward, inclusive).
      def scanCmp(a: Any, b: Any): Int =
        if (a == null && b == null) 0
        else if (a == null) { if (fwd) 1 else -1 }
        else if (b == null) { if (fwd) -1 else 1 }
        else { val c = tsOrd.compare(a, b); if (fwd) -c else c }

      val rBuf = rIter.buffered
      val nullVals = new GenericInternalRow(nValCols)
      val joined = new JoinedRow
      var matchKey: UnsafeRow = null
      var matchVals: UnsafeRow = null
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTs = lTsBound.eval(lRow)
        var scanning = true
        while (scanning && rBuf.hasNext) {
          val rRow = rBuf.head
          val kc = keyOrd.compare(rKeyProj(rRow), lKey)
          if (kc < 0) { rBuf.next(); () } // right side behind on key: discard
          else if (kc == 0 && scanCmp(rTsBound.eval(rRow), lTs) <= 0) {
            // eligible: remember it and keep scanning — the LAST eligible
            // row in scan order is the as-of match (ties resolved by the
            // tieBreak component of the child ordering)
            matchKey = rKeyProj(rRow).copy()
            matchVals = valProj(rRow).copy()
            rBuf.next(); ()
          } else scanning = false // right row is for a later key or later ts
        }
        val vals =
          if (matchKey != null && keyOrd.compare(matchKey, lKey) == 0) {
            matched += 1; matchVals
          } else nullVals
        outRows += 1
        resultProj(joined(lRow, vals))
      }
    }
  }
}

object AsofJoinExec {

  /** @param left     rows to enrich (all columns preserved, in order)
    * @param right    timestamped source of `valCols`
    * @param keys     equi-join key columns, same name and type on both sides
    * @param tsCol    timestamp column, same name and type on both sides
    * @param valCols  right columns carried onto each left row, after the
    *                 left columns
    * @param tieBreak right column ordering rows that tie on (keys, ts): the
    *                 row with the max value wins, deterministic whenever
    *                 (keys, ts, tieBreak) is unique; without it the caller
    *                 pre-aggregates equal-timestamp right rows
    * @param forward  false: backward as-of (latest `right.ts <= left.ts`);
    *                 true: forward as-of (earliest `right.ts >= left.ts`)
    *
    * The right side is pruned and re-aliased before the node is built:
    * pruning keeps column pruning working below a node the optimizer does
    * not know (the scan reads only keys + ts + values), and the aliases
    * mint fresh attribute ids so self-as-of (left and right derived from
    * the same plan) never produces ambiguous references. */
  def asofLeft(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, valCols: Seq[String],
               tieBreak: Option[String] = None,
               forward: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "asof exec needs at least one key column")
    require(valCols.nonEmpty, "asof exec needs at least one value column")
    val leftOnly = left.columns.filterNot(c => keys.contains(c) || c == tsCol)
    require(leftOnly.intersect(valCols).isEmpty,
      s"left already has columns ${leftOnly.intersect(valCols).mkString(", ")}")

    val rCols = (keys ++ Seq(tsCol) ++ valCols ++ tieBreak.toSeq).distinct
    val rightPruned = right.select(rCols.map(c => col(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightPruned.queryExecution.analyzed
    import JoinArgs.{attr, requireSameType}

    val lKeys = keys.map(attr(lPlan, _))
    val rKeys = keys.map(attr(rPlan, _))
    val (lTs, rTs) = (attr(lPlan, tsCol), attr(rPlan, tsCol))
    lKeys.zip(rKeys).foreach { case (l, r) => requireSameType("asof exec", l, r) }
    requireSameType("asof exec", lTs, rTs)

    val node = AsofJoinNode(
      left = lPlan, right = rPlan,
      leftKeys = lKeys, rightKeys = rKeys,
      leftTs = lTs, rightTs = rTs,
      rightVals = valCols.map(attr(rPlan, _)),
      tieBreak = tieBreak.map(attr(rPlan, _)),
      forward = forward)
    GraftSql.ofRows(left.sparkSession, node)
  }
}

/** Argument resolution shared by the join builders ([[AsofJoinExec.asofLeft]],
  * [[RangeJoinExec.pointInRange]]). */
private[plans] object JoinArgs {

  def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      sys.error(s"column $name not found among ${plan.output.map(_.name).mkString(", ")}"))

  /** The execs build their interpreted orderings from one side's types and
    * apply them to both sides' values, so a type mismatch (STRING vs BIGINT
    * keys, INT vs BIGINT timestamps, DATE point vs TIMESTAMP bounds) would
    * silently match nothing, read fields at the wrong width, or die in a
    * task with a ClassCastException: it must fail here, when the plan is
    * built. */
  def requireSameType(op: String, left: Attribute, right: Attribute): Unit =
    require(left.dataType == right.dataType,
      s"$op: left column ${left.name} is ${left.dataType.sql} but right column " +
        s"${right.name} is ${right.dataType.sql}; cast one side to match")
}
