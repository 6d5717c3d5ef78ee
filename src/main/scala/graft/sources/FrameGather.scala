package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, BinaryComparison, CreateNamedStruct, EqualNullSafe, Expression, Literal, PredicateHelper, SortArray}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, Complete}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{BooleanType, FloatType, IntegerType}

/** Plans the per-frame gather over a [[FrameGatherScan]] as the scan's
  * frame-wide form, so no atom row, shuffle or sort is built:
  *
  * {{{
  * Aggregate [frame_id], [frame_id, sort_array(collect_list(struct(atom_id, f…)), true) AS a]
  *   Filter? / Project-of-attributes?
  *     DataSourceV2ScanRelation(scan: FrameGatherScan)
  * }}}
  *
  * is planned as `Filter?(DataSourceV2ScanRelation(scan.gathered(f…)))` with
  * the same `frame_id` attribute and `a` attribute (name, exprId and
  * type). Conjuncts on `frame_id` alone stay in the Filter. `atom_id`
  * compared (`<`, `<=`, `>`, `>=`, `=`) with an Int literal is dropped:
  * the scan was handed it as a pushed filter, and its atom bound
  * captures exactly that set. Anything else — another predicate, `IN`,
  * a struct not led by `atom_id`, descending order, a DISTINCT or
  * FILTER clause, another aggregate — keeps the aggregate.
  *
  * A planner strategy: it plans the optimized plan, where V2 scan
  * pushdown has already built the scan and its atom bound (an optimizer
  * rule injected with `injectOptimizerRule` runs before that pushdown
  * and never sees the scan). Installed by
  * [[graft.functions.GraftFunctions.register]] (an extra strategy) and
  * by [[graft.GraftExtensions]] (`injectPlannerStrategy`). */
object FrameGather extends SparkStrategy with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case agg: Aggregate => rewrite(agg).map(planLater).toSeq
    case _ => Nil
  }

  private val coordinates = Set("x", "y", "z")

  /** The scan under Projects of attributes and Filters, with the
    * Filters' conjuncts. */
  private def scanUnder(p: LogicalPlan)
      : Option[(DataSourceV2ScanRelation, Seq[Expression])] = p match {
    case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) =>
      scanUnder(child)
    case Filter(cond, child) =>
      scanUnder(child).map { case (r, cs) => (r, splitConjunctivePredicates(cond) ++ cs) }
    case r @ DataSourceV2ScanRelation(_, _: FrameGatherScan, _, None, None) =>
      Some((r, Nil))
    case _ => None
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = for {
    (rel, conds) <- scanUnder(agg.child)
    scan = rel.scan.asInstanceOf[FrameGatherScan]
    column = (n: String) => rel.output.find(_.name == n)
    frame <- column("frame_id")
    atom <- column("atom_id")
    if agg.groupingExpressions.length == 1 &&
      agg.groupingExpressions.head.semanticEquals(frame)
    (a, fields) <- gatherOf(agg, frame, atom, rel.output)
    kept <- residual(conds, frame, atom)
  } yield {
    val out = DataSourceV2ScanRelation(rel.relation, scan.gathered(fields),
      Seq(frame, a))
    val filtered = kept.reduceOption(And).fold[LogicalPlan](out)(Filter(_, out))
    if (agg.output == out.output) filtered else Project(agg.output, filtered)
  }

  /** The `a` attribute and the struct's columns after `atom_id`, when
    * the aggregate outputs one ascending `sort_array(collect_list(
    * struct(atom_id, coordinates…)))` and nothing else but `frame_id`. */
  private def gatherOf(agg: Aggregate, frame: Attribute, atom: Attribute,
      output: Seq[AttributeReference]): Option[(AttributeReference, Seq[String])] =
    agg.aggregateExpressions.filterNot(_.semanticEquals(frame)) match {
      case Seq(a @ Alias(SortArray(AggregateExpression(c: CollectList, Complete,
          false, None, _), Literal(true, BooleanType)), _)) =>
        val values = c.child match {
          case s: CreateNamedStruct => s.valExprs
          case _ => Nil
        }
        val cols = values.flatMap {
          case r: AttributeReference => output.find(_.exprId == r.exprId)
          case _ => None
        }
        if (cols.nonEmpty && cols.length == values.length &&
            cols.head.exprId == atom.exprId &&
            cols.tail.forall(f => coordinates(f.name) && f.dataType == FloatType))
          Some((a.toAttribute.asInstanceOf[AttributeReference], cols.tail.map(_.name)))
        else None
      case _ => None
    }

  /** The conjuncts to keep above the gathered scan, or None when one
    * of them is neither on `frame_id` alone nor an exact atom bound. */
  private def residual(conds: Seq[Expression], frame: Attribute,
      atom: Attribute): Option[Seq[Expression]] = {
    val frameOnly = AttributeSet(frame)
    def intLiteral(e: Expression) = e match {
      case Literal(_: Int, IntegerType) => true
      case _ => false
    }
    // the comparisons the shell's scan builder pushes: all but <=>
    def atomBound(c: Expression): Boolean = c match {
      case _: EqualNullSafe => false
      case b: BinaryComparison =>
        (b.left.semanticEquals(atom) && intLiteral(b.right)) ||
          (intLiteral(b.left) && b.right.semanticEquals(atom))
      case _ => false
    }
    val kept = conds.filterNot(atomBound)
    if (kept.forall(c => c.deterministic && c.references.subsetOf(frameOnly))) Some(kept)
    else None
  }
}
