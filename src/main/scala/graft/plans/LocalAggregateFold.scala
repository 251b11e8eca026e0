package graft.plans

import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, MutableProjection, RowOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, LOCAL_RELATION}
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructType}
import graft.table.EqualityDeletes

/** Folds an `Aggregate` over a LocalRelation of at most
  * [[EqualityDeletes.EqKeyCacheMaxRows]] rows into a LocalRelation of its
  * result: Spark's `ConvertToLocalRelation` folds only Project, Filter and
  * Limit, so an aggregate over held rows (a watermark `max`, key bounds,
  * `distinct`, `dropDuplicates`) would still run two jobs. It runs Spark's
  * own `SortBasedAggregationIterator` (`Complete` mode, the planner's
  * `PhysicalAggregation` split) over the rows stably sorted by the grouping
  * keys, so `first` keeps the first row in input order. Left unchanged:
  * over the cap, distinct or FILTERed aggregates, functions neither
  * declarative nor typed imperative, nondeterministic or unevaluable
  * expressions, streaming relations, unorderable grouping keys, keys
  * holding FLOAT or DOUBLE (`NormalizeFloatingNumbers` runs later, so
  * `-0.0`/`0.0` and NaN bit patterns would split groups), and an
  * evaluation error, which then surfaces when the query runs. As an
  * operator-optimization rule it runs before Spark's LocalRelation batch,
  * which folds what sits above the result; the Projects and Filters that
  * ColumnPruning and filter pushdown put under the Aggregate it folds
  * first, with `ConvertToLocalRelation`. Off switch:
  * `spark.sql.optimizer.excludedRules`.
  */
object LocalAggregateFold extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(AGGREGATE, LOCAL_RELATION)) {
      case a: Aggregate if overLocal(a.child) => fold(a).getOrElse(a)
    }

  private def fold(a: Aggregate): Option[LocalRelation] = a match {
    case PhysicalAggregation(grouping, aggs, results, child)
        if aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
          (ae.aggregateFunction.isInstanceOf[DeclarativeAggregate] ||
            ae.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]]) &&
          ae.aggregateFunction.children.forall(evaluable)) &&
          (grouping ++ results).forall(evaluable) &&
          grouping.forall(g => RowOrdering.isOrderable(g.dataType) && !floating(g.dataType)) =>
      try {
        // the Projects and Filters over the relation, folded by Spark's rule
        val in = child.transformUp { case p => ConvertToLocalRelation(p) }.asInstanceOf[LocalRelation]
        val key = UnsafeProjection.create(grouping, in.output)
        val sorted = in.data.map(r => (key(r).copy(): InternalRow, r))
          .sortBy(_._1)(RowOrdering.createNaturalAscendingOrdering(grouping.map(_.dataType)))
          .map(_._2)
        val complete = aggs.map(_.copy(mode = Complete))
        val it = new SortBasedAggregationIterator(0, grouping, in.output, sorted.iterator,
          complete, complete.map(_.resultAttribute), 0, results,
          MutableProjection.create(_, _), new SQLMetric("sum", 0L))
        Some(LocalRelation(a.output,
          if (sorted.isEmpty && grouping.isEmpty) Seq(it.outputForEmptyGroupingKeyWithoutInput())
          else it.map(_.copy()).toSeq))
      } catch { case NonFatal(_) => None }
    case _ => None
  }

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e)

  // a type NormalizeFloatingNumbers would normalize (maps are unorderable)
  private def floating(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case a: ArrayType => floating(a.elementType)
    case _ => false
  }

  // a small batch LocalRelation, under at most evaluable deterministic
  // Projects and Filters (ColumnPruning and filter pushdown put them under
  // the Aggregate): a check that folds nothing, so an aggregate over any
  // other plan costs no more than this walk
  private def overLocal(plan: LogicalPlan): Boolean = plan match {
    case l: LocalRelation => !l.isStreaming && l.data.length <= EqualityDeletes.EqKeyCacheMaxRows
    case p @ (_: Project | _: Filter) => p.expressions.forall(evaluable) && overLocal(p.children.head)
    case _ => false
  }
}
