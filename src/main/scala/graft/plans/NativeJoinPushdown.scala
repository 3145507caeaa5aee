package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Predicate pushdown through the native join nodes. Catalyst's own
  * PushDownPredicates only understands built-in operators — a Filter above
  * an [[AsOfJoinPlan]] / [[IntervalJoinPlan]] would otherwise sit ABOVE the
  * join forever, forcing a full scan + shuffle of rows the query then
  * throws away. This rule splits the filter's conjuncts and moves every
  * deterministic conjunct that references only one side's output below the
  * node, where the stock rules then carry it all the way into the parquet
  * scan (`PushedFilters`) and partition pruning. At 100 TB this is the
  * difference between shuffling a week's slice and shuffling the table.
  *
  * Side-correctness:
  * - as-of join is LEFT OUTER over left rows (each left row exactly once):
  *   left-only conjuncts commute with the join. Right-only conjuncts do
  *   NOT (they'd have to distinguish null-extension from match values and
  *   could change WHICH right row is "latest"), so they stay put.
  * - interval join is INNER with no duplication of matches: conjuncts
  *   referencing only one side commute; each side pushes to its child.
  *
  * The rule reaches fixpoint in one effective pass: what remains above the
  * node is exactly the non-pushable residue, which it never touches again.
  */
object NativeJoinPushdown extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (leftOnly, rest) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (leftOnly.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(leftOnly.reduce(And), j.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
    case f @ Filter(cond, j: IntervalJoinPlan) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val leftOnly = conjuncts.filter(p =>
        p.deterministic && p.references.subsetOf(j.left.outputSet))
      val rightOnly = conjuncts.filter(p =>
        p.deterministic && !p.references.subsetOf(j.left.outputSet) &&
          p.references.subsetOf(j.right.outputSet))
      if (leftOnly.isEmpty && rightOnly.isEmpty) f
      else {
        val rest = conjuncts.filterNot(p =>
          leftOnly.contains(p) || rightOnly.contains(p))
        def guard(child: LogicalPlan, ps: Seq[Expression]) =
          ps.reduceOption(And).map(Filter(_, child)).getOrElse(child)
        val pushed = j.copy(left = guard(j.left, leftOnly),
          right = guard(j.right, rightOnly))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Column pruning through the native join nodes — the projection twin of
  * [[NativeJoinPushdown]]. Stock ColumnPruning stops at unknown operators,
  * so `asOfJoin(wideLeft, wideRight).select(threeCols)` would scan and
  * SHUFFLE every column of both sides. This rule intersects a parent
  * Project's references (plus the join's own keys/times) with each child's
  * output and inserts a narrowing Project below the node; the stock rules
  * then carry the pruning into the scan's ReadSchema. On a 100 TB columnar
  * table this is the difference between shuffling 3 columns and 50.
  *
  * Fixpoint-stable: once children emit exactly the required attributes the
  * inserted Project would be a no-op and the rule leaves the plan alone.
  */
object NativeJoinColumnPruning extends Rule[LogicalPlan] {

  private def prune(child: LogicalPlan, required: AttributeSet): LogicalPlan = {
    val keep = child.output.filter(required.contains)
    if (keep.size == child.output.size || keep.isEmpty) child
    else Project(keep, child)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projectList, j: AsOfJoinPlan) =>
      val required = AttributeSet(projectList.flatMap(_.references)) ++
        AttributeSet(j.leftKeys.flatMap(_.references)) ++
        AttributeSet(j.rightKeys.flatMap(_.references)) ++
        j.leftTime.references ++ j.rightTime.references
      val (nl, nr) = (prune(j.left, required), prune(j.right, required))
      if (nl.eq(j.left) && nr.eq(j.right)) p
      else p.copy(child = j.copy(left = nl, right = nr))
    case p @ Project(projectList, j: IntervalJoinPlan) =>
      val required = AttributeSet(projectList.flatMap(_.references)) ++
        AttributeSet(j.leftKeys.flatMap(_.references)) ++
        AttributeSet(j.rightKeys.flatMap(_.references)) ++
        j.pointTime.references ++ j.start.references ++ j.end.references
      val (nl, nr) = (prune(j.left, required), prune(j.right, required))
      if (nl.eq(j.left) && nr.eq(j.right)) p
      else p.copy(child = j.copy(left = nl, right = nr))
  }
}
