package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (injected by [[graft.GraftExtensions]]): under the
  * universal top-k-per-group idiom
  *
  * {{{
  *   df.withColumn("rn", row_number().over(Window.partitionBy(g).orderBy(o)))
  *     .filter($"rn" <= k)
  * }}}
  *
  * insert the per-partition [[TopKPerGroup]] pre-aggregation below the
  * window (and below Spark's `WindowGroupLimit`, if one is there):
  *
  * {{{
  *   Filter(rn <= k, Window(row_number, [WindowGroupLimit,] TopKPerGroup(g, o, k, child)))
  * }}}
  *
  * The window still computes `rn` and groups by normalized keys; it just
  * shuffles and sorts k rows per group per partition instead of the whole
  * input. Fires only when:
  *  - the Window computes exactly one expression: `row_number()` with the
  *    standard (UNBOUNDED PRECEDING, CURRENT ROW) row frame over a
  *    non-empty partitionSpec and orderSpec (rank/dense_rank keep ties and
  *    can need more than k rows per group, so they are NOT eligible);
  *  - the filter condition constrains ONLY the row-number attribute to a
  *    positive literal bound (`rn <= k`, `rn < k`, `rn = 1` and mirror
  *    forms);
  *  - k is at most [[TopKRewrite.MaxK]] — beyond that a per-group heap is
  *    no better than the sort it feeds;
  *  - no partial node is there yet: the optimizer batch re-applies its
  *    rules, and [[TopK.perGroup]] builds this shape itself.
  *
  * Row_number's tie choice among order-equal rows is nondeterministic in
  * both formulations, so the rewrite preserves semantics, not accidental
  * tie outcomes.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  /** Heaps hold k rows per group per task; past this the window sort wins. */
  val MaxK = 100000

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k - 1)
    case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k)
    case GreaterThan(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  private def rowNumberAlias(w: Window): Option[Alias] = w.windowExpressions match {
    case Seq(a @ Alias(WindowExpression(_: RowNumber,
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)) =>
      Some(a)
    case _ => None
  }

  private def hasPartial(p: LogicalPlan): Boolean = p match {
    case _: TopKPerGroup => true
    case g: WindowGroupLimit => hasPartial(g.child)
    case Project(_, c) => hasPartial(c)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, w: Window)
        if w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty && !hasPartial(w.child) =>
      rowNumberAlias(w).flatMap(a => limitOf(cond, a.toAttribute))
        .filter(k => k > 0 && k <= MaxK)
        .fold(f: LogicalPlan) { k =>
          def partial(c: LogicalPlan) = TopKPerGroup(w.partitionSpec, w.orderSpec, k, c)
          val below = w.child match {
            case g: WindowGroupLimit => g.withNewChildren(Seq(partial(g.child)))
            case c => partial(c)
          }
          f.copy(child = w.copy(child = below))
        }
  }
}
