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
import graft.operators.{MaterializedView, MvDefinition}
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
  * one Icebox table read at one pinned snapshot, or of an inner
  * equi-join of such reads served from a join view (see
  * `tryStarRewrite`; a join view never answers a single-table query):
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
        tryRewrite(agg, wh).orElse(tryStarRewrite(agg, wh)).getOrElse(agg)
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

  /** One leaf of a flattened join tree: its pushed filters, scan-level
    * projection, file index, and output attribute set (side identity).
    */
  private final case class Leaf(filters: Seq[Expression],
      proj: Seq[NamedExpression], index: IceboxFileIndex,
      out: org.apache.spark.sql.catalyst.expressions.AttributeSet)

  /** The JOIN flavor: an aggregate over an arbitrary tree of INNER joins
    * whose leaves are 2+ certifiable pinned-snapshot Icebox scans is
    * answered from a fresh join materialized view (a star: a two-table
    * join is a star with one dim). Shape-INDEPENDENT: leaves match the
    * view's (fact, dims) by TABLE DIR, and every join conjunct must pair
    * a dim's parent column with that dim's column exactly as the view's
    * definition records — so the optimizer's join reorder can't defeat
    * the match. Intermediate projections must be bare attributes (what
    * column pruning plants); side filters absorb the planted
    * `isnotnull(joinkey)`s (implied by the inner join the view already
    * performed) and otherwise must reference view KEYS only. Freshness
    * gates on the N-part cursor at every source's head.
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
    // the codec refuses (throws on) a corrupt definition: dim, parent and
    // join lists out of sync, or parents that are not a tree
    val (id, d) = MvDefinition.read(target.properties).getOrElse(return None)
    if (d.where.isDefined || d.dims.size + 1 != leaves.size) return None
    // leaves ↔ (fact, dims) by table dir, each exactly once
    val byDir = leaves.zipWithIndex.map { case (lf, i) => lf.index.tableDirString -> i }
    if (byDir.map(_._1).distinct.size != leaves.size) return None // self-join: refuse
    val dirToLeaf = byDir.toMap
    val factLeaf = dirToLeaf.getOrElse(d.sourceDir, return None)
    val dimLeaves = d.dims.map(dm => dirToLeaf.getOrElse(dm.dir, return None))
    if ((factLeaf +: dimLeaves).toSet.size != leaves.size) return None
    // each dim's PARENT leaf: the fact for plain stars, an earlier dim for
    // snowflake chains
    val parentLeafOf: Seq[Int] =
      d.dims.map(dm => if (dm.parent == -1) factLeaf else dimLeaves(dm.parent))
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
    val vOn = d.dims.map(_.on.toSet)
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
    val filterNames = residual.flatMap(_.collect { case ar: AttributeReference =>
      nameOf(ar).getOrElse(return None) })
    if (!filterNames.forall(d.keys.contains)) return None
    val exactKeys = keys.toSet == d.keys.toSet
    if (!keys.toSet.subsetOf(d.keys.toSet)) return None
    if (!specs.flatMap(_.needs).forall(covers(d))) return None
    if (!exactKeys && specs.exists(s => !s.isKey && s.rollup.isEmpty)) return None
    // freshness: every leaf pinned at its source's head, N-part cursor there
    val srcHeads = (d.sourceDir +: d.dims.map(_.dir)).map(Icebox(_).currentSnapshotId)
    val leafSnaps = (factLeaf +: dimLeaves).map(i => leaves(i).index.snapshotId)
    if (leafSnaps != srcHeads.map(Some(_))) return None
    if (!MaterializedView.lastRefreshCursor(target, id)
      .contains(srcHeads.mkString(":"))) return None

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

  /** Whether the view of definition `d` stores canonical column `cn`. */
  private def covers(d: MvDefinition)(cn: String): Boolean =
    cn == "row_count" ||
      (cn.startsWith("sum_") && d.sums.contains(cn.stripPrefix("sum_"))) ||
      (cn.startsWith("nn_") && d.sums.contains(cn.stripPrefix("nn_"))) ||
      (cn.startsWith("min_") && d.minmaxs.contains(cn.stripPrefix("min_"))) ||
      (cn.startsWith("max_") && d.minmaxs.contains(cn.stripPrefix("max_"))) ||
      (cn.startsWith("nd_") && d.distincts.contains(cn.stripPrefix("nd_")))

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
    val (id, d) = MvDefinition.read(target.properties).getOrElse(return None)
    // a join view never serves a single-table query: its inner join
    // dropped the fact rows without a dim partner
    if (d.dims.nonEmpty) return None
    if (d.where.isDefined) return None // filtered views: text surface only
    if (d.sourceDir != index.tableDirString) return None
    val exactKeys = keys.toSet == d.keys.toSet
    if (!keys.toSet.subsetOf(d.keys.toSet)) return None
    if (hasDistinct && !exactKeys) return None
    if (!filterNames.forall(d.keys.contains)) return None
    if (!specs.flatMap(_.needs).forall(covers(d))) return None
    if (!exactKeys && specs.exists(s => !s.isKey && s.rollup.isEmpty)) return None
    // freshness: the scanned snapshot IS the source head, and the cursor
    // sits exactly there
    val srcHead = Icebox(d.sourceDir).currentSnapshotId
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
