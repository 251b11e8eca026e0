package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, Expression, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, max, min, sum}
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}
import graft.operators.MaterializedView
import graft.plans.IceboxFileIndex
import graft.table.Icebox

/** Transparent materialized-view rewrite as a CATALYST OPTIMIZER RULE —
  * `spark.sql("SELECT k, sum(v) FROM t GROUP BY k")` over a registered
  * Icebox table is answered from a FRESH subsuming materialized view
  * with no query change at all (the planner-integrated flavor of
  * [[MvSql.answer]]; Calcite's materialized-view substitution on
  * Spark's own extension point).
  *
  * Install per session with [[MvRewrite.install]] (or cluster-wide via
  * `spark.sql.extensions=graft.GraftExtensions`); disable any time with
  * `SET spark.graft.mv.rewrite.enabled=false`.
  *
  * The rule fires only on plans it can CERTIFY as a plain aggregate of
  * one Icebox table read at one pinned snapshot:
  *
  *  - the scan subtree must be `[Project(attr/alias-only)] ⇄ [Filter]`
  *    over a single `LogicalRelation(IceboxFileIndex)` — the shape
  *    [[graft.plans.IceboxFileIndex.readSnapshot]] emits when no
  *    merge-on-read deletes are pending (pending-delete plans carry
  *    anti-joins and are conservatively left alone);
  *  - grouping keys are plain columns ⊆ the view's keys (a strict
  *    subset ROLLS UP: Σrow_count, Σsum, Σnn, re-extremized min/max,
  *    AVG re-derived as Σsum/Σnn — for DECIMAL inputs the rolled-up
  *    sum is cast back to SUM's own result type before the divide so
  *    the division scale, and therefore the rounding, matches
  *    Spark's Average exactly);
  *  - aggregates are COUNT(*)/COUNT(c)/SUM(c)/MIN(c)/MAX(c)/AVG(c) /
  *    COUNT(DISTINCT c) (exact key set only) over bare columns, no
  *    FILTER clauses;
  *  - any residual Filter references view KEY columns only (it then
  *    filters the view's rows);
  *  - FRESHNESS, doubly pinned: the relation's snapshot must BE the
  *    source's current head, and the view's exactly-once cursor must
  *    sit at that same head — a stale view or a time-travel read is
  *    never rewritten.
  *
  * The replacement keeps the original output exactly: each column is
  * cast to the original attribute's type and re-aliased under the
  * original name AND exprId, so parent operators are untouched. Sum
  * types stay consistent under ANSI: the stored `sum_c` already carries
  * SUM's widened type, and the rollup's re-widening casts back to the
  * exact type the original aggregate would have produced (overflow
  * throws in precisely the cases the original would throw).
  *
  * At 100 TB the rewrite turns a full-table aggregate into a k-row read
  * of the view — and because it sits in the optimizer, EVERY surface
  * (spark.sql, notebooks, BI dashboards emitting SQL) gets it for free.
  */
final class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (spark.conf.get("spark.graft.mv.rewrite.enabled", "true") != "true") return plan
    val wh = DmlSql.currentWarehouse.getOrElse(return plan)
    plan.transformDown {
      case agg: Aggregate =>
        tryRewrite(agg, wh).orElse(tryJoinRewrite(agg, wh))
          .orElse(tryStarRewrite(agg, wh)).getOrElse(agg)
    }
  }

  /** One supported output column of the aggregate: the original output
    * attribute, how to compute it from the view (exact-key form and
    * rollup form), and which canonical view columns it needs.
    */
  private final case class OutSpec(orig: Attribute, exact: Column,
      rollup: Option[Column], isKey: Boolean, needs: Seq[String])

  private def tryRewrite(agg: Aggregate, warehouse: String): Option[LogicalPlan] = {
    val (filters, projList, index) = unwrapScan(agg.child).getOrElse(return None)
    // physical→logical name map from the snapshot schema (project aliases
    // re-map too, but a filter pushed below a pruned projection can
    // reference relation attrs the projection no longer carries)
    val snapSchema = DataType.fromJson(index.schemaJson).asInstanceOf[StructType]
    val physToLogical = snapSchema.fields.map(f => Icebox.physicalName(f) -> f.name).toMap
    val idToLogical: Map[Long, String] = projList.flatMap {
      case a @ Alias(ar: AttributeReference, n) => Seq(ar.exprId.id -> n, a.exprId.id -> n)
      case ar: AttributeReference => Seq(ar.exprId.id -> logicalOf(ar.name, physToLogical))
      case _ => Nil
    }.toMap
    def nameOf(a: AttributeReference): Option[String] =
      idToLogical.get(a.exprId.id).orElse(Some(logicalOf(a.name, physToLogical)))

    // filters must reference key columns only (checked against the view below)
    val filterNames = filters.flatMap(_.collect { case ar: AttributeReference =>
      nameOf(ar).getOrElse(return None) })

    val (keys, specs, hasDistinct) = classify(agg, nameOf).getOrElse(return None)

    // find a fresh subsuming view over this exact table+snapshot (registry:
    // one mtime probe per aggregate; listStatus only when _mv changed)
    MvRewrite.mvDirs(spark, warehouse)
      .view.flatMap { d =>
        try serveFrom(Icebox(d), index, keys, filterNames, specs,
          hasDistinct, filters, idToLogical, physToLogical)
        catch { case scala.util.control.NonFatal(_) => None } // racing DROP
      }.headOption
  }

  /** Group keys + output specs of a supported aggregate, resolved through
    * `nameOf` (shared by the single-table and join paths). None on any
    * unsupported expression shape.
    */
  private def classify(agg: Aggregate, nameOf: AttributeReference => Option[String])
      : Option[(Seq[String], Seq[OutSpec], Boolean)] = {
    val keys = agg.groupingExpressions.map {
      case ar: AttributeReference => nameOf(ar).getOrElse(return None)
      case _ => return None
    }
    var hasDistinct = false
    val specs: Seq[OutSpec] = agg.aggregateExpressions.map {
      case ar: AttributeReference =>
        val k = nameOf(ar).getOrElse(return None)
        if (!keys.contains(k)) return None
        OutSpec(ar, col(k), None, isKey = true, Nil)
      case al @ Alias(ae: AggregateExpression, _) =>
        if (ae.filter.isDefined) return None
        def c0(e: Expression): Option[String] = e match {
          case ar: AttributeReference => nameOf(ar)
          case _ => None
        }
        val (exact, rollup, needs): (Column, Option[Column], Seq[String]) =
          ae.aggregateFunction match {
            case Count(Seq(_: Literal)) if !ae.isDistinct =>
              (col("row_count"), Some(sum(col("row_count"))), Seq("row_count"))
            case Count(Seq(e)) if !ae.isDistinct =>
              val n = c0(e).getOrElse(return None)
              (col(s"nn_$n"), Some(sum(col(s"nn_$n"))), Seq(s"nn_$n"))
            case Count(Seq(e)) if ae.isDistinct =>
              hasDistinct = true
              val n = c0(e).getOrElse(return None)
              (col(s"nd_$n"), None, Seq(s"nd_$n")) // exact keys only
            case Sum(e, _) =>
              val n = c0(e).getOrElse(return None)
              (col(s"sum_$n"), Some(sum(col(s"sum_$n"))), Seq(s"sum_$n"))
            case Min(e) =>
              val n = c0(e).getOrElse(return None)
              (col(s"min_$n"), Some(min(col(s"min_$n"))), Seq(s"min_$n"))
            case Max(e) =>
              val n = c0(e).getOrElse(return None)
              (col(s"max_$n"), Some(max(col(s"max_$n"))), Seq(s"max_$n"))
            case Average(e, _) =>
              val n = c0(e).getOrElse(return None)
              val rolledSum: Column = e.dataType match {
                // Decimal AVG: Average divides SUM's result type
                // (DecimalType.bounded(p+10, s)) by the long count, and the
                // DIVISION's result scale derives from the operand types. A
                // rollup re-sum widens the sum again (p+20), which would
                // change the division scale — and with it the rounding ulp —
                // so cast the re-summed total back to SUM's original result
                // type first: the true total fit in p+10 in the original
                // plan, so the cast overflows exactly when the original
                // aggregate would have.
                case dt: DecimalType => // Sum.resultType = bounded(p+10, s)
                  sum(col(s"sum_$n")).cast(DecimalType(math.min(38, dt.precision + 10), dt.scale))
                case _ => sum(col(s"sum_$n"))
              }
              ((col(s"sum_$n") / col(s"nn_$n")),
                Some(rolledSum / sum(col(s"nn_$n"))),
                Seq(s"sum_$n", s"nn_$n"))
            case _ => return None
          }
        OutSpec(al.toAttribute, exact, rollup, isKey = false, needs)
      case _ => return None
    }
    Some((keys, specs, hasDistinct))
  }

  /** The JOIN flavor: an aggregate over `[Project] Join(Inner, a.x = b.y)`
    * of two certifiable pinned-snapshot Icebox scans is answered from a
    * fresh JOIN materialized view whose sources, join condition, and
    * column coverage subsume the query. Post-pushdown reality the
    * certification must absorb: the optimizer has already pushed the
    * query's WHERE into the join sides and planted `isnotnull` on the
    * join keys — so side filters are accepted iff each conjunct is (a) an
    * IsNotNull on a join-key column (implied by the inner join the view
    * already performed — dropped), or (b) a predicate over view KEY
    * columns only (re-applied on the view's rows). Freshness is the
    * two-source cursor: both scans pinned at their sources' heads AND the
    * view's last refresh processed exactly that head pair.
    */
  private def tryJoinRewrite(agg: Aggregate, warehouse: String): Option[LogicalPlan] = {
    val (projAbove, joinPlan) = agg.child match {
      case Project(pl, j: Join) if attrsOnly(pl) => (pl, j)
      case j: Join => (Seq.empty[NamedExpression], j)
      case _ => return None
    }
    if (joinPlan.joinType != Inner) return None
    val cond = joinPlan.condition.getOrElse(return None)
    val (lFilters, lProj, lIndex) = unwrapScan(joinPlan.left).getOrElse(return None)
    val (rFilters, rProj, rIndex) = unwrapScan(joinPlan.right).getOrElse(return None)

    def sideMaps(index: IceboxFileIndex, proj: Seq[NamedExpression])
        : (Map[Long, String], Map[String, String]) = {
      val snapSchema = DataType.fromJson(index.schemaJson).asInstanceOf[StructType]
      val physToLogical = snapSchema.fields.map(f => Icebox.physicalName(f) -> f.name).toMap
      val idTo: Map[Long, String] = proj.flatMap {
        case a @ Alias(ar: AttributeReference, n) => Seq(ar.exprId.id -> n, a.exprId.id -> n)
        case ar: AttributeReference =>
          Seq(ar.exprId.id -> physToLogical.getOrElse(ar.name, ar.name))
        case _ => Nil
      }.toMap
      (idTo, physToLogical)
    }
    val (lIds, lPhys) = sideMaps(lIndex, lProj)
    val (rIds, rPhys) = sideMaps(rIndex, rProj)
    // disjoint logical namespaces (the join-MV DDL contract) — a collision
    // would make name-based resolution ambiguous, so refuse
    if (lPhys.values.toSet.intersect(rPhys.values.toSet).nonEmpty) return None
    val lOut = joinPlan.left.outputSet
    val rOut = joinPlan.right.outputSet
    def sideNameOf(ar: AttributeReference): Option[(String, Boolean)] =
      if (lOut.contains(ar))
        Some((lIds.getOrElse(ar.exprId.id, lPhys.getOrElse(ar.name, ar.name)), true))
      else if (rOut.contains(ar))
        Some((rIds.getOrElse(ar.exprId.id, rPhys.getOrElse(ar.name, ar.name)), false))
      else None
    def nameOf(ar: AttributeReference): Option[String] = sideNameOf(ar).map(_._1)

    // join condition: conjunction of left-col = right-col pairs only
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    val joinPairs: Set[(String, String)] = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (sideNameOf(a), sideNameOf(b)) match {
          case (Some((an, true)), Some((bn, false))) => (an, bn)
          case (Some((an, false)), Some((bn, true))) => (bn, an)
          case _ => return None
        }
      case _ => return None
    }.toSet
    val lJoinCols = joinPairs.map(_._1)
    val rJoinCols = joinPairs.map(_._2)

    val (keys, specs, hasDistinct) = classify(agg, nameOf).getOrElse(return None)
    if (hasDistinct) return None // join views carry no nd_ columns

    // side filters: drop implied isnotnull(joinkey); the rest must be
    // view-key-only predicates, re-applied on the view's rows
    def splitSide(filters: Seq[Expression], joinCols: Set[String]): Seq[Expression] =
      filters.flatMap(conjuncts).flatMap {
        case IsNotNull(ar: AttributeReference)
            if nameOf(ar).exists(joinCols.contains) => None
        case other => Some(other)
      }
    val residual = splitSide(lFilters, lJoinCols) ++ splitSide(rFilters, rJoinCols)
    val filterNames = residual.flatMap(_.collect { case ar: AttributeReference =>
      nameOf(ar).getOrElse(return None) })

    val mergedIds = lIds ++ rIds
    val mergedPhys = lPhys ++ rPhys

    MvRewrite.mvDirs(spark, warehouse)
      .view.flatMap { d =>
        try serveJoinFrom(Icebox(d), lIndex, rIndex, joinPairs, keys,
          filterNames, specs, residual, mergedIds, mergedPhys)
        catch { case scala.util.control.NonFatal(_) => None } // racing DROP
      }.headOption
  }

  private def serveJoinFrom(target: Icebox, lIndex: IceboxFileIndex,
      rIndex: IceboxFileIndex, joinPairs: Set[(String, String)],
      keys: Seq[String], filterNames: Seq[String], specs: Seq[OutSpec],
      filters: Seq[Expression], idToLogical: Map[Long, String],
      physToLogical: Map[String, String]): Option[LogicalPlan] = {
    val props = target.properties
    val src1 = props.get("mv.source.dir").getOrElse(return None)
    val src2 = props.get("mv.source2.dir").getOrElse(return None)
    if (props.get("mv.where").exists(_.nonEmpty)) return None
    // orient the query's sides onto the view's (source, source2)
    val (qs1, qs2, pairsOriented) =
      if (lIndex.tableDirString == src1 && rIndex.tableDirString == src2)
        (lIndex, rIndex, joinPairs)
      else if (lIndex.tableDirString == src2 && rIndex.tableDirString == src1)
        (rIndex, lIndex, joinPairs.map(_.swap))
      else return None
    def list(k: String) = props.get(k).map(_.split(',').filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val vPairs = list("mv.join.on").map { pair =>
      val Array(l, r) = pair.split('='); (l, r) }.toSet
    if (pairsOriented != vPairs) return None
    val vKeys = props.get("mv.keys").map(_.split(',').toSeq).getOrElse(return None)
    val vSums = list("mv.sums")
    val exactKeys = keys.toSet == vKeys.toSet
    if (!keys.toSet.subsetOf(vKeys.toSet)) return None
    if (!filterNames.forall(vKeys.contains)) return None
    def covered(cn: String): Boolean =
      cn == "row_count" ||
        (cn.startsWith("sum_") && vSums.contains(cn.stripPrefix("sum_"))) ||
        (cn.startsWith("nn_") && vSums.contains(cn.stripPrefix("nn_")))
    if (!specs.flatMap(_.needs).forall(covered)) return None
    if (!exactKeys && specs.exists(s => !s.isKey && s.rollup.isEmpty)) return None
    // freshness: both scans pinned at their sources' heads, and the view's
    // two-source cursor sits exactly on that pair
    val id = props.get("mv.id").getOrElse(return None)
    val (h1, h2) = (Icebox(src1).currentSnapshotId, Icebox(src2).currentSnapshotId)
    if (!qs1.snapshotId.contains(h1) || !qs2.snapshotId.contains(h2)) return None
    if (!MaterializedView.lastRefreshedSources(target, id).contains((h1, h2))) return None

    Some(buildReplacement(target, translate(filters, idToLogical, physToLogical),
      specs, keys, exactKeys))
  }

  /** One leaf of a flattened join tree: its pushed filters, scan-level
    * projection, file index, and output attribute set (side identity).
    */
  private final case class Leaf(filters: Seq[Expression],
      proj: Seq[NamedExpression], index: IceboxFileIndex,
      out: org.apache.spark.sql.catalyst.expressions.AttributeSet)

  /** The STAR flavor: an aggregate over an arbitrary tree of INNER joins
    * whose leaves are 3+ certifiable pinned-snapshot Icebox scans is
    * answered from a fresh STAR materialized view. Shape-INDEPENDENT:
    * leaves match the view's (fact, dims) by TABLE DIR, and every join
    * conjunct must pair a fact column with one dim's column exactly as
    * the view's `mv.star.on` records — so the optimizer's join reorder
    * can't defeat the match. Intermediate projections must be bare
    * attributes (what column pruning plants); side filters absorb the
    * planted `isnotnull(joinkey)`s and otherwise must reference view
    * KEYS only. Freshness gates on the N-part cursor at every source's
    * head.
    */
  private def tryStarRewrite(agg: Aggregate, warehouse: String): Option[LogicalPlan] = {
    def conjunctsOf(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjunctsOf(a) ++ conjunctsOf(b)
      case x => Seq(x)
    }
    // flatten Inner-join trees; attr-only Projects pass through (bare
    // attributes preserve exprIds, so leaf-level name maps stay valid)
    def flatten(p: LogicalPlan): Option[(Seq[Leaf], Seq[Expression])] = p match {
      case Join(l, r, Inner, Some(cond), _) =>
        for { (ll, lc) <- flatten(l); (rl, rc) <- flatten(r) }
          yield (ll ++ rl, lc ++ rc ++ conjunctsOf(cond))
      case Project(pl, inner: Join) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        flatten(inner)
      case other => unwrapScan(other).map { case (f, pl, i) =>
        (Seq(Leaf(f, pl, i, other.outputSet)), Nil) }
    }
    val (leaves, pairConds) = (agg.child match {
      case Project(pl, j: Join) if attrsOnly(pl) => flatten(j)
      case j: Join => flatten(j)
      case _ => None
    }).getOrElse(return None)
    if (leaves.size < 3) return None // 2-leaf plans go through tryJoinRewrite

    // per-leaf logical-name maps; all leaves' namespaces must be disjoint
    val maps = leaves.map { lf =>
      val snapSchema = DataType.fromJson(lf.index.schemaJson).asInstanceOf[StructType]
      val physToLogical = snapSchema.fields.map(f => Icebox.physicalName(f) -> f.name).toMap
      val idTo: Map[Long, String] = lf.proj.flatMap {
        case a @ Alias(ar: AttributeReference, n) => Seq(ar.exprId.id -> n, a.exprId.id -> n)
        case ar: AttributeReference =>
          Seq(ar.exprId.id -> physToLogical.getOrElse(ar.name, ar.name))
        case _ => Nil
      }.toMap
      (idTo, physToLogical)
    }
    val allLogical = maps.map(_._2.values.toSet)
    if (allLogical.combinations(2).exists(p => p(0).intersect(p(1)).nonEmpty)) return None

    def leafNameOf(ar: AttributeReference): Option[(Int, String)] =
      leaves.indexWhere(_.out.contains(ar)) match {
        case -1 => None
        case i =>
          val (idTo, phys) = maps(i)
          Some((i, idTo.getOrElse(ar.exprId.id, phys.getOrElse(ar.name, ar.name))))
      }
    def nameOf(ar: AttributeReference): Option[String] = leafNameOf(ar).map(_._2)

    // every join conjunct: leafA.col = leafB.col
    val pairs: Seq[((Int, String), (Int, String))] = pairConds.map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (leafNameOf(a).getOrElse(return None), leafNameOf(b).getOrElse(return None))
      case _ => return None
    }
    val (keys, specs, hasDistinct) = classify(agg, nameOf).getOrElse(return None)
    if (hasDistinct) return None // star views carry no nd_ columns

    MvRewrite.mvDirs(spark, warehouse)
      .view.flatMap { d =>
        try serveStarFrom(Icebox(d), leaves, maps, pairs, keys, specs, nameOf)
        catch { case scala.util.control.NonFatal(_) => None } // racing DROP
      }.headOption
  }

  private def serveStarFrom(target: Icebox, leaves: Seq[Leaf],
      maps: Seq[(Map[Long, String], Map[String, String])],
      pairs: Seq[((Int, String), (Int, String))], keys: Seq[String],
      specs: Seq[OutSpec],
      nameOf: AttributeReference => Option[String]): Option[LogicalPlan] = {
    val props = target.properties
    val factDir = props.get("mv.source.dir").getOrElse(return None)
    val dimDirs = props.get("mv.star.dims")
      .map(_.split(';').filter(_.nonEmpty).toSeq).getOrElse(return None)
    if (props.get("mv.where").exists(_.nonEmpty)) return None
    // leaves ↔ (fact, dims) by table dir, each exactly once
    val byDir = leaves.zipWithIndex.map { case (lf, i) => lf.index.tableDirString -> i }
    if (byDir.map(_._1).distinct.size != leaves.size) return None // self-join: refuse
    val dirToLeaf = byDir.toMap
    val factLeaf = dirToLeaf.getOrElse(factDir, return None)
    val dimLeaves = dimDirs.map(d => dirToLeaf.getOrElse(d, return None))
    if ((factLeaf +: dimLeaves).toSet.size != leaves.size) return None
    // each dim's PARENT leaf: the fact for plain stars, an earlier dim for
    // snowflake chains (`mv.star.parents`: ';'-joined indexes, -1 = fact,
    // absent = all fact — the same convention refreshStar maintains by)
    val parents: Seq[Int] = props.get("mv.star.parents")
      .map(_.split(';').filter(_.nonEmpty).toSeq.map(_.toInt))
      .getOrElse(dimDirs.map(_ => -1))
    if (parents.length != dimDirs.length) return None // corrupt properties
    // a parent is the fact (-1) or a STRICTLY EARLIER dim — the convention
    // refreshStar writes. p >= d admits self-reference (p == d) and cycles
    // (A->B->A): a corrupt/hand-edited non-tree join graph must be refused
    // up front, not depended on to fail closed downstream
    if (parents.zipWithIndex.exists { case (p, d) => p < -1 || p >= d }) return None
    val parentLeafOf: Seq[Int] =
      parents.map(p => if (p == -1) factLeaf else dimLeaves(p))
    // pairs: each conjunct must relate some dim's PARENT leaf to that dim's
    // leaf (the dim leaf identifies the dim uniquely — leaves are distinct)
    val perDim = scala.collection.mutable.Map.empty[Int, Set[(String, String)]]
      .withDefaultValue(Set.empty)
    pairs.foreach { case ((la, ca), (lb, cb)) =>
      dimLeaves.indexOf(lb) match {
        case d if d >= 0 && parentLeafOf(d) == la =>
          perDim(lb) = perDim(lb) + ((ca, cb))
        case _ => dimLeaves.indexOf(la) match {
          case d if d >= 0 && parentLeafOf(d) == lb =>
            perDim(la) = perDim(la) + ((cb, ca))
          case _ => return None // doesn't follow this view's join graph
        }
      }
    }
    val vOn = props.get("mv.star.on").map(_.split(';').filter(_.nonEmpty).toSeq)
      .getOrElse(return None)
      .map(_.split(',').filter(_.nonEmpty).toSeq.map { pr =>
        val Array(l, r) = pr.split('='); (l, r) }.toSet)
    if (dimLeaves.size != vOn.size) return None
    if (dimLeaves.zip(vOn).exists { case (dl, on) => perDim(dl) != on }) return None

    // side filters: drop isnotnull on any join-key column; residuals must
    // be over view KEY columns only
    val joinKeyCols: Set[String] = vOn.flatten.flatMap(p => Seq(p._1, p._2)).toSet
    def conjunctsOf(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjunctsOf(a) ++ conjunctsOf(b)
      case x => Seq(x)
    }
    val residual = leaves.flatMap(_.filters).flatMap(conjunctsOf).flatMap {
      case IsNotNull(ar: AttributeReference)
          if nameOf(ar).exists(joinKeyCols.contains) => None
      case other => Some(other)
    }
    val vKeys = props.get("mv.keys").map(_.split(',').toSeq).getOrElse(return None)
    val filterNames = residual.flatMap(_.collect { case ar: AttributeReference =>
      nameOf(ar).getOrElse(return None) })
    if (!filterNames.forall(vKeys.contains)) return None
    val vSums = props.get("mv.sums").map(_.split(',').filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exactKeys = keys.toSet == vKeys.toSet
    if (!keys.toSet.subsetOf(vKeys.toSet)) return None
    def covered(cn: String): Boolean =
      cn == "row_count" ||
        (cn.startsWith("sum_") && vSums.contains(cn.stripPrefix("sum_"))) ||
        (cn.startsWith("nn_") && vSums.contains(cn.stripPrefix("nn_")))
    if (!specs.flatMap(_.needs).forall(covered)) return None
    if (!exactKeys && specs.exists(s => !s.isKey && s.rollup.isEmpty)) return None
    // freshness: every leaf pinned at its source's head, N-part cursor there
    val id = props.get("mv.id").getOrElse(return None)
    val srcHeads = (factDir +: dimDirs).map(Icebox(_).currentSnapshotId)
    val leafSnaps = (factLeaf +: dimLeaves).map(i => leaves(i).index.snapshotId)
    if (leafSnaps != srcHeads.map(Some(_))) return None
    if (!MaterializedView.lastRefreshedStar(target, id, dimDirs.size)
      .contains(srcHeads)) return None

    val mergedIds = maps.flatMap(_._1).toMap
    val mergedPhys = maps.flatMap(_._2).toMap
    Some(buildReplacement(target, translate(residual, mergedIds, mergedPhys),
      specs, keys, exactKeys))
  }

  /** `[Project(attrs/aliases)] ⇄ [Filter]` over one Icebox relation —
    * the certifiable no-pending-deletes read shape. Returns (filters,
    * projection list, index).
    */
  private def unwrapScan(plan: LogicalPlan)
      : Option[(Seq[Expression], Seq[NamedExpression], IceboxFileIndex)] = {
    def relOf(p: LogicalPlan): Option[IceboxFileIndex] = p match {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case i: IceboxFileIndex => Some(i)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
    plan match {
      case Project(pl, Filter(cond, r)) if attrsOnly(pl) =>
        relOf(r).map(i => (Seq(cond), pl, i))
      case Filter(cond, Project(pl, r)) if attrsOnly(pl) =>
        relOf(r).map(i => (Seq(cond), pl, i))
      case Project(pl, r) if attrsOnly(pl) => relOf(r).map(i => (Nil, pl, i))
      case Filter(cond, r) => relOf(r).map(i => (Seq(cond), Nil, i))
      case r => relOf(r).map(i => (Nil, Nil, i))
    }
  }

  private def logicalOf(name: String, physToLogical: Map[String, String]): String =
    physToLogical.getOrElse(name, name)

  private def attrsOnly(pl: Seq[NamedExpression]): Boolean = pl.forall {
    case _: AttributeReference => true
    case Alias(_: AttributeReference, _) => true
    case _ => false
  }

  /** Re-express pushed-down predicates over the view's LOGICAL column
    * names and round-trip through SQL text (Column-from-Expression is not
    * a public surface; the text path re-analyzes against the view read).
    */
  private def translate(filters: Seq[Expression], idToLogical: Map[Long, String],
      physToLogical: Map[String, String]): Seq[Column] =
    filters.map { cond =>
      val translated = cond.transform {
        case ar: AttributeReference => UnresolvedAttribute(
          idToLogical.getOrElse(ar.exprId.id, logicalOf(ar.name, physToLogical)))
      }
      org.apache.spark.sql.functions.expr(translated.sql)
    }

  /** The substituted plan: the view read, optional key filters, then
    * either the exact-key projection or the rollup aggregate — each
    * output cast to the ORIGINAL attribute's type and re-aliased under
    * the original name AND exprId, so parent operators are untouched.
    */
  private def buildReplacement(target: Icebox, viewFilters: Seq[Column],
      specs: Seq[OutSpec], keys: Seq[String], exactKeys: Boolean): LogicalPlan = {
    var df = target.read(spark)
    viewFilters.foreach(f => df = df.filter(f))
    val tmp = specs.indices.map(i => s"__mvr_$i")
    val projected: DataFrame =
      if (exactKeys)
        df.select(specs.zip(tmp).map { case (s, t) =>
          s.exact.cast(s.orig.dataType).as(t) }: _*)
      else {
        val aggCols = specs.zip(tmp).collect { case (s, t) if !s.isKey =>
          s.rollup.get.as(t) }
        val grouped =
          if (aggCols.isEmpty) df.select(keys.map(col): _*).distinct()
          else df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        grouped.select(specs.zip(tmp).map { case (s, t) =>
          (if (s.isKey) s.exact else col(t)).cast(s.orig.dataType).as(t) }: _*)
      }
    // the rule runs in extraOptimizations, AFTER the main optimizer
    // batches — a merely-ANALYZED subtree spliced in here still carries
    // operators the planner requires the optimizer to have replaced
    // (ResolvedHint and Deduplicate both appear in the view read when the
    // backing table has an equality-delete key set too large to hold on
    // the driver: applyDeletes then broadcast-joins the dropDuplicates'd
    // keys) and planning dies with an INTERNAL_ERROR. Splice the fully
    // OPTIMIZED subtree instead; the optimizer preserves output
    // attributes, so the exprId re-alias below still lines the parent
    // plan up. (Re-entering the optimizer from a
    // rule is safe — rules are stateless — and an MV-over-MV chain
    // terminates because each nesting level moves strictly up the chain.)
    val optimized = projected.queryExecution.optimizedPlan
    Project(optimized.output.zip(specs).map { case (na, s) =>
      Alias(na, s.orig.name)(exprId = s.orig.exprId) }, optimized)
  }

  private def serveFrom(target: Icebox, index: IceboxFileIndex,
      keys: Seq[String], filterNames: Seq[String], specs: Seq[OutSpec],
      hasDistinct: Boolean, filters: Seq[Expression],
      idToLogical: Map[Long, String],
      physToLogical: Map[String, String]): Option[LogicalPlan] = {
    val props = target.properties
    val vdSourceDir = props.get("mv.source.dir").getOrElse(return None)
    if (props.contains("mv.source2.dir")) return None // join views: text surface only
    if (props.get("mv.where").exists(_.nonEmpty)) return None // filtered views: ditto
    if (vdSourceDir != index.tableDirString) return None
    def list(k: String) = props.get(k).map(_.split(',').filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val vKeys = props.get("mv.keys").map(_.split(',').toSeq).getOrElse(return None)
    val vSums = list("mv.sums"); val vMm = list("mv.minmaxs"); val vNd = list("mv.distincts")
    val exactKeys = keys.toSet == vKeys.toSet
    if (!keys.toSet.subsetOf(vKeys.toSet)) return None
    if (hasDistinct && !exactKeys) return None
    if (!filterNames.forall(vKeys.contains)) return None
    // column coverage: every canonical column the specs reference must exist
    def covered(cn: String): Boolean =
      cn == "row_count" ||
        (cn.startsWith("sum_") && vSums.contains(cn.stripPrefix("sum_"))) ||
        (cn.startsWith("nn_") && vSums.contains(cn.stripPrefix("nn_"))) ||
        (cn.startsWith("min_") && vMm.contains(cn.stripPrefix("min_"))) ||
        (cn.startsWith("max_") && vMm.contains(cn.stripPrefix("max_"))) ||
        (cn.startsWith("nd_") && vNd.contains(cn.stripPrefix("nd_")))
    val referenced = specs.flatMap(_.needs)
    if (!referenced.forall(covered)) return None
    if (!exactKeys && specs.exists(s => !s.isKey && s.rollup.isEmpty)) return None
    // freshness: the scanned snapshot IS the source head, and the cursor
    // sits exactly there
    val id = props.get("mv.id").getOrElse(return None)
    val srcHead = Icebox(vdSourceDir).currentSnapshotId
    if (!index.snapshotId.contains(srcHead)) return None
    if (!MaterializedView.lastRefreshedSource(target, id).contains(srcHead)) return None

    // build the replacement through the DataFrame API (analysis handles
    // type coercion), then re-align names/exprIds for the parent plan
    Some(buildReplacement(target, translate(filters, idToLogical, physToLogical),
      specs, keys, exactKeys))
  }
}

object MvRewrite {

  /** MV discovery registry: the candidate view directories under
    * `<warehouse>/_mv`, cached against the `_mv` directory's modification
    * time. The rewrite rule consults this once per Aggregate node on the
    * PLANNING hot path — at tens of views × BI-dashboard query volume a
    * full `listStatus` per aggregate is driver-side FS chatter, while a
    * single `getFileStatus` (mtime probe) is one cheap RPC. CREATE/DROP
    * MATERIALIZED VIEW add/remove a child directory, which bumps the
    * parent's mtime on every Hadoop filesystem — so the registry
    * invalidates itself across processes with no explicit hook. In-process
    * DDL additionally calls [[invalidateRegistry]] directly (MvSql
    * create/drop): a CREATE landing in the same mtime granule as a cached
    * listing would otherwise be missed FOREVER (no later DDL ⇒ no later
    * mtime tick), which on coarse-granularity (1 s) filesystems is a real
    * window, not a millisecond one.
    */
  private val dirCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Seq[String])]()

  /** Count of actual `listStatus` calls — spec instrumentation proving the
    * registry serves repeated rewrites from one listing.
    */
  private[graft] val mvListings = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def invalidateRegistry(): Unit = dirCache.clear()

  private[sql] def mvDirs(spark: SparkSession, warehouse: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(warehouse, "_mv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtime =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException =>
        dirCache.remove(warehouse); return Nil
      }
    val hit = dirCache.get(warehouse)
    if (hit != null && hit._1 == mtime) hit._2
    else {
      mvListings.incrementAndGet()
      val dirs = fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.toString).sorted
      dirCache.put(warehouse, (mtime, dirs))
      dirs
    }
  }
  /** Install the rewrite rule into `spark`'s optimizer (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewriteRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new MvRewriteRule(spark)

  /** Remove the rule again (scoped installs — e.g. a test or a single
    * job step that shares a long-lived session).
    */
  def uninstall(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[MvRewriteRule])
}
