package graft.plans

import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, CodegenObjectFactoryMode, Expression, GenericInternalRow, Generator, Inline, JoinedRow, MutableProjection, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructType}
import graft.table.EqualityDeletes

/** Folds small plans over LocalRelations into a LocalRelation of their
  * result, on the driver: Spark's `ConvertToLocalRelation` folds only
  * Project, Filter and Limit, so an aggregate, a union or an `exceptAll`
  * over held rows would still run Spark jobs. It folds, over
  * LocalRelations of at most [[EqualityDeletes.EqKeyCacheMaxRows]] rows
  * each:
  *  - an `Aggregate` (also `distinct`/`dropDuplicates`), with Spark's own
  *    `SortBasedAggregationIterator` (`Complete` mode, the planner's
  *    `PhysicalAggregation` split) over the rows stably sorted by the
  *    grouping keys, so `first` keeps the first row in input order;
  *  - a `Union`, its children's rows in order, when they total at most the
  *    cap;
  *  - a `Generate`, with the generator evaluated row by row as
  *    `GenerateExec` does (outer joins a null row to an empty output),
  *    when the output holds at most the cap. With Union this covers what
  *    `RewriteExceptAll` and `RewriteIntersectAll` leave (a Generate of
  *    `replicate_rows` over an Aggregate over a Union).
  * A driver read of Icebox files ([[IceboxFileIndex.scan]]) is a
  * LocalRelation of row arrays under an `inline` ([[packed]]), one array
  * per scan partition, so that a write of the rows keeps the file scan's
  * partitions: it is not folded on its own, but every fold above looks
  * through it.
  *
  * Left unchanged: over the cap, distinct or FILTERed aggregates,
  * functions neither declarative nor typed imperative, nondeterministic or
  * unevaluable expressions, streaming relations, unorderable grouping
  * keys, keys holding FLOAT or DOUBLE (`NormalizeFloatingNumbers` runs
  * later, so `-0.0`/`0.0` and NaN bit patterns would split groups), and an
  * evaluation error, which then surfaces when the query runs. As an
  * operator-optimization rule it runs before Spark's LocalRelation batch,
  * which folds what sits above the result; the Projects and Filters that
  * ColumnPruning and filter pushdown put under a folded node it folds
  * first, with `ConvertToLocalRelation`. Off switch:
  * `spark.sql.optimizer.excludedRules`.
  */
object LocalAggregateFold extends Rule[LogicalPlan] {

  private val Cap = EqualityDeletes.EqKeyCacheMaxRows

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case a: Aggregate if overLocal(a.child) => interpreted(fold(a)).getOrElse(a)
      case u: Union if !u.byName && !u.allowMissingCol && u.children.forall(overLocal) =>
        interpreted(fold(u)).getOrElse(u)
      case g: Generate if !packed(g) && overLocal(g.child) => interpreted(fold(g)).getOrElse(g)
    }

  // projections and aggregation buffers evaluated interpreted, as
  // `ConvertToLocalRelation` evaluates its own: compiling code for a few
  // hundred driver-held rows costs more than running it saves
  private def interpreted[T](body: => T): T = {
    val conf = SQLConf.get.clone()
    conf.setConf(SQLConf.CODEGEN_FACTORY_MODE, CodegenObjectFactoryMode.NO_CODEGEN)
    SQLConf.withExistingConf(conf)(body)
  }

  /** Row arrays unpacked by `inline`: how [[IceboxFileIndex.scan]] holds
    * a driver read, one array per scan partition. Any other `inline` is
    * likewise only folded under a node that folds.
    */
  private[plans] def packed(g: Generate): Boolean =
    g.generator.isInstanceOf[Inline] && !g.outer

  private def fold(a: Aggregate): Option[LocalRelation] = a match {
    case PhysicalAggregation(grouping, aggs, results, child)
        if aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
          (ae.aggregateFunction.isInstanceOf[DeclarativeAggregate] ||
            ae.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]]) &&
          ae.aggregateFunction.children.forall(evaluable)) &&
          (grouping ++ results).forall(evaluable) &&
          grouping.forall(g => RowOrdering.isOrderable(g.dataType) && !floating(g.dataType)) =>
      try {
        val in = local(child).get
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

  private def fold(u: Union): Option[LocalRelation] = {
    val in = u.children.flatMap(local)
    Option.when(in.size == u.children.size && in.map(_.data.length).sum <= Cap)(
      LocalRelation(u.output, in.flatMap(_.data)))
  }

  private def fold(g: Generate): Option[LocalRelation] =
    if (!evaluable(g.generator)) None
    else try {
      val in = local(g.child).get
      val gen = BindReferences.bindReference(g.generator: Expression, in.output)
        .asInstanceOf[Generator]
      val kept = UnsafeProjection.create(g.requiredChildOutput, in.output)
      val toRow = UnsafeProjection.create(g.output.map(_.dataType).toArray)
      val nulls = new GenericInternalRow(g.generatorOutput.size)
      val joined = new JoinedRow()
      val out = in.data.iterator.flatMap { r =>
        val left = kept(r).copy()
        val gs = gen.eval(r).iterator
        if (g.outer && !gs.hasNext) Iterator(toRow(joined(left, nulls)).copy())
        else gs.map {
          // a packed read's rows, unpacked as they are (never mutated)
          case o: UnsafeRow if left.numFields == 0 && o.numFields == g.output.size => o
          case o => toRow(joined(left, o)).copy()
        }
      }.take(Cap + 1).toVector
      Option.when(out.length <= Cap)(LocalRelation(g.output, out))
    } catch { case NonFatal(_) => None }

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
  // the node to fold), or a packed driver read: a check that folds
  // nothing, so a node over any other plan costs no more than this walk
  private def overLocal(plan: LogicalPlan): Boolean = plan match {
    case l: LocalRelation => !l.isStreaming && l.data.length <= Cap
    case p @ (_: Project | _: Filter) => p.expressions.forall(evaluable) && overLocal(p.children.head)
    case g: Generate if packed(g) => overLocal(g.child)
    case _ => false
  }

  // an `overLocal` plan as the LocalRelation of its rows: packed reads
  // unpacked, Projects and Filters folded by Spark's rule; None on an
  // evaluation error
  private def local(plan: LogicalPlan): Option[LocalRelation] =
    try Some(plan.transformUp {
      case g: Generate if packed(g) => fold(g).get
      case p => ConvertToLocalRelation(p)
    }.asInstanceOf[LocalRelation])
    catch { case NonFatal(_) => None }
}
