package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, max, min, sum}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, SubqueryAlias}
import graft.operators.{MaterializedView, MvDefinition, MvDim}
import graft.table.Icebox

/** SQL-text surface for incrementally maintained materialized views
  * (the Materialize/Snowflake DDL spelling over the engine's own
  * [[graft.operators.MaterializedView]] delta-maintenance):
  *
  * {{{
  * CREATE MATERIALIZED VIEW daily AS
  *   SELECT g, count(*), sum(v) FROM src GROUP BY g
  * REFRESH MATERIALIZED VIEW daily
  * DROP MATERIALIZED VIEW daily
  * }}}
  *
  * The SELECT is parsed by SPARK'S OWN PARSER (accepted syntax is exactly
  * Spark's), then validated against the incremental-maintenance contract:
  * one `GROUP BY` over one registered Icebox table OR over an INNER
  * EQUI-JOIN of a fact and its dims (`FROM f JOIN d1 ON f.x = d1.y JOIN
  * d2 ON f.z = d2.w`, each ON relating the newly joined dim to exactly
  * one earlier table: the fact for a star, an earlier dim for a snowflake
  * chain). Every join view, a two-table join included (a star with one
  * dim), is maintained by the telescoped delta rule,
  * [[graft.operators.MaterializedView.refreshStar]]. Apart from the join
  * pairs all sides' column names must be disjoint, and keys/aggregates/
  * WHERE reference them unqualified. The FROM may be optionally
  * filtered by a subquery-free `WHERE` — the delta arithmetic filters
  * the change diff with the same predicate — with aggregates drawn from
  * `COUNT(*)` / `SUM(c)` / `COUNT(c)` / `AVG(c)` / `MIN(c)` / `MAX(c)`.
  * AVG rides as sum/nn and the registered view exposes the derived
  * `avg_<c>`; MIN/MAX and COUNT(DISTINCT c) (single-table only) are
  * maintained by bounded touched-group recompute (stats/bloom-pruned
  * source re-read of only the changed groups — see
  * [[graft.operators.MaterializedView]]).
  * Anything else (outer joins, HAVING, DISTINCT, other aggregates)
  * errors LOUDLY at CREATE time rather than silently degrading to full
  * recomputation. The view's columns are the canonical maintenance
  * schema: `<keys>, row_count, sum_<c>, nn_<c>, min_<c>, max_<c>`
  * (AVG = sum/nn).
  *
  * The backing table lives at `<warehouse>/_mv/<name>` (warehouse from
  * [[DmlSql.setWarehouse]]); its definition persists in TABLE PROPERTIES
  * through [[graft.operators.MvDefinition]], so `REFRESH MATERIALIZED VIEW`
  * from a FRESH session needs only the warehouse — no in-memory state.
  * Refresh cost and exactly-once semantics are the operator's: O(changed
  * rows) from the manifest change diff, cursor atomic with the data
  * commit, merge-on-read target updates.
  */
object MvSql {

  private[sql] val CreateRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+(.+?)\s*;?\s*""".r
  private[sql] val RefreshRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*;?\s*""".r
  private[sql] val DropRe =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*""".r
  private[sql] val ShowRe =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*""".r

  private def mvTable(warehouse: String, name: String): Icebox =
    Icebox.table(warehouse, "_mv", name.toLowerCase)

  /** Validate `selectText` against the incremental-maintenance contract
    * and extract its definition, table dirs unresolved (AVG columns ride
    * as sum/nn; MIN/MAX and COUNT(DISTINCT) by touched-group recompute).
    * Errors name the offending clause.
    */
  private[graft] def parseDefinition(spark: SparkSession, selectText: String): MvDefinition =
    parseDefinitionPlan(spark, spark.sessionState.sqlParser.parsePlan(selectText))

  private[graft] def parseDefinitionPlan(spark: SparkSession,
      parsedPlan: LogicalPlan): MvDefinition = {
    def fail(what: String): Nothing = sys.error(
      s"materialized views maintain one GROUP BY over one registered table " +
      s"or an INNER equi-join star of them (optionally WHERE-filtered, no " +
      s"subqueries) with COUNT(*)/SUM(c)/COUNT(c)/AVG(c)/MIN(c)/MAX(c) " +
      s"aggregates only; $what")

    def sourceOf(child: LogicalPlan): String = child match {
      case r: UnresolvedRelation =>
        if (r.multipartIdentifier.length != 1) fail(s"qualified source '${r.tableName}'")
        r.multipartIdentifier.head
      case SubqueryAlias(_, inner) => sourceOf(inner)
      case other => fail(s"unsupported source ${other.getClass.getSimpleName} " +
        "(subqueries are not incrementally maintainable here)")
    }
    // (table, qualifier) of one join side: the alias if given, else the name
    def relationOf(p: LogicalPlan): (String, String) = p match {
      case r: UnresolvedRelation =>
        if (r.multipartIdentifier.length != 1) fail(s"qualified source '${r.tableName}'")
        (r.multipartIdentifier.head, r.multipartIdentifier.head)
      case SubqueryAlias(ident, inner) => (relationOf(inner)._1, ident.name)
      case other => fail(s"join side ${other.getClass.getSimpleName} " +
        "(each side must be one registered table)")
    }
    def attrName(e: Expression): String = e match {
      case a: UnresolvedAttribute =>
        if (a.nameParts.length != 1) fail(s"qualified column '${a.name}'")
        a.nameParts.head
      case other => fail(s"group key must be a plain column, got $other")
    }
    // an aggregate call: Some(fn, argColumn or None-for-star/literal,
    // isDistinct). Only COUNT supports DISTINCT (maintained as nd_c by
    // touched-group recompute).
    def aggCall(e: Expression): Option[(String, Option[String], Boolean)] = e match {
      case f: UnresolvedFunction if f.nameParts.length == 1 =>
        val fn = f.nameParts.head.toLowerCase
        if (f.isDistinct && fn != "count")
          fail(s"DISTINCT $fn (only COUNT(DISTINCT c) is maintainable, " +
            "via touched-group recompute)")
        f.arguments match {
          case Seq(_: UnresolvedStar) => Some((fn, None, f.isDistinct))
          case Seq(_: Literal) => Some((fn, None, f.isDistinct))
          case Seq(a: UnresolvedAttribute) => Some((fn, Some(attrName(a)), f.isDistinct))
          case _ => fail(s"unsupported aggregate arguments in ${f.nameParts.head}")
        }
      case _ => None
    }
    def strip(e: Expression): Expression = e match {
      case Alias(inner, _) => inner
      case UnresolvedAlias(inner, _) => inner
      case other => other
    }

    parsedPlan match {
      case Aggregate(groupingExprs, aggExprs, child0, _) =>
        // WHERE parses as a Filter between the Aggregate and the relation;
        // keep the predicate's SQL text (re-applied to change diffs at
        // refresh). Subqueries would make the predicate's value depend on
        // OTHER tables' state — not delta-maintainable — so refuse them.
        val (where, child) = child0 match {
          case Filter(cond, inner) =>
            if (cond.exists(_.isInstanceOf[SubqueryExpression]))
              fail("subquery in WHERE")
            // the predicate re-applies over the bare-column change diff at
            // refresh, where a table-qualified reference cannot resolve
            cond.foreach {
              case a: UnresolvedAttribute if a.nameParts.length != 1 =>
                fail(s"qualified column '${a.name}' in WHERE")
              case _ => ()
            }
            (Some(cond.sql), inner)
          case other => (None, other)
        }
        // an INNER equi-join is a left-deep STAR or SNOWFLAKE chain (two
        // tables: a star with one dim), maintained by refreshStar: every
        // ON must relate the newly joined table to exactly ONE
        // already-joined table (the fact → star dim, an earlier dim →
        // snowflake chain). The ON clauses must be ANDs of
        // qualifier.col = qualifier.col pairs; outer joins, joins without
        // ON, and ONs spanning several earlier tables (a non-tree join
        // graph) refuse.
        def side(x: UnresolvedAttribute): (String, String) = x.nameParts match {
          case Seq(q, c) => (q, c)
          case _ => fail(s"join column '${x.name}' must be qualified (t.col)")
        }
        /** (parent qualifier, parentCol=dimCol pairs) of `rq`'s ON. */
        def pairsFor(e: Expression, earlier: Seq[String],
            rq: String): (String, Seq[(String, String)]) = {
          def walk(e: Expression): Seq[(String, (String, String))] = e match {
            case And(a, b) => walk(a) ++ walk(b)
            case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
              val (qa, ca) = side(a); val (qb, cb) = side(b)
              if (earlier.contains(qa) && qb == rq) Seq((qa, (ca, cb)))
              else if (earlier.contains(qb) && qa == rq) Seq((qb, (cb, ca)))
              else fail(s"join condition must relate an already-joined table " +
                s"to $rq, got ${a.name} = ${b.name}")
            case other => fail(s"join condition must be an AND of column " +
              s"equalities, got ${other.sql}")
          }
          val ps = walk(e)
          val parents = ps.map(_._1).distinct
          if (parents.size != 1) fail(s"'$rq' joins ${parents.mkString(" AND ")}: " +
            "each table must join exactly ONE earlier table (tree-shaped " +
            "star/snowflake; a cyclic join graph is not incrementally maintained)")
          (parents.head, ps.map(_._2))
        }
        // flatten a left-deep Inner-join chain to (leftmost, [(dim, cond)])
        def flatten(p: LogicalPlan): (LogicalPlan, Seq[(LogicalPlan, Expression)]) =
          p match {
            case Join(l, r, Inner, Some(cond), _) =>
              val (root, rest) = flatten(l)
              (root, rest :+ (r, cond))
            case j: Join => fail(if (j.condition.isEmpty) "join without ON"
              else s"${j.joinType.sql} join (only INNER equi-joins maintain incrementally)")
            case other => (other, Nil)
          }
        val (source, dims) = child match {
          case j: Join =>
            val (factPlan, dimPlans) = flatten(j)
            val (ft, fq) = relationOf(factPlan)
            var quals = Seq(fq)
            (ft, dimPlans.map { case (dp, cond) =>
              val (dt, dq) = relationOf(dp)
              if (quals.contains(dq)) fail(
                s"join side '$dq' collides with an earlier table (alias one)")
              val (parentQ, on) = pairsFor(cond, quals, dq)
              quals = quals :+ dq
              // parent index: -1 for the fact, else the dim's position
              MvDim(dt, "", on, quals.indexOf(parentQ) - 1)
            })
          case _ => (sourceOf(child), Nil)
        }
        val keys = groupingExprs.map(attrName)
        if (keys.isEmpty) fail("GROUP BY is required")
        val sums = scala.collection.mutable.ListBuffer[String]()
        val avgs = scala.collection.mutable.ListBuffer[String]()
        val minmaxs = scala.collection.mutable.ListBuffer[String]()
        val distincts = scala.collection.mutable.ListBuffer[String]()
        val counts = scala.collection.mutable.ListBuffer[String]()
        aggExprs.map(strip).foreach {
          case a: UnresolvedAttribute =>
            if (!keys.contains(attrName(a))) fail(
              s"non-aggregate column '${a.name}' not in GROUP BY")
          case e => aggCall(e) match {
            case Some(("count", Some(c), true)) =>
              if (!distincts.contains(c)) distincts += c // touched-group recompute
            case Some(("count", None, true)) => fail("COUNT(DISTINCT *)")
            case Some(("count", Some(c), false)) =>
              if (!counts.contains(c)) counts += c // nn_c (rides with sums)
            case Some(("count", None, false)) => () // row_count: always maintained
            case Some(("sum", Some(c), _)) => if (!sums.contains(c)) sums += c
            case Some(("avg" | "mean", Some(c), _)) =>
              if (!sums.contains(c)) sums += c // AVG = sum_c / nn_c
              if (!avgs.contains(c)) avgs += c
            case Some(("min" | "max", Some(c), _)) =>
              if (!minmaxs.contains(c)) minmaxs += c // touched-group recompute
            case Some((fn @ ("sum" | "avg" | "mean" | "min" | "max"), None, _)) => fail(s"$fn(*)")
            case Some((fn, _, _)) => fail(s"aggregate $fn (not incrementally " +
              "maintainable under deletes without re-reading groups)")
            case None => fail(s"unsupported select expression $e")
          }
        }
        if (dims.nonEmpty && (minmaxs.nonEmpty || distincts.nonEmpty)) fail(
          "MIN/MAX or COUNT(DISTINCT) over a join (the recompute would " +
          "re-join; materialize the join first, then a single-table view)")
        MvDefinition(source, "", dims, keys, sums.toList, avgs.toList, counts.toList,
          minmaxs.toList, distincts.toList, where)
      case other => fail(s"top-level ${other.getClass.getSimpleName} is not an aggregate")
    }
  }

  /** `CREATE MATERIALIZED VIEW name AS select`: validate, full-build the
    * backing table at `<warehouse>/_mv/<name>`, persist the definition in
    * table properties, register `name` for SELECT/refresh.
    */
  def create(spark: SparkSession, name: String, selectText: String,
      warehouse: String): DataFrame = {
    val parsed = parseDefinition(spark, selectText)
    val src = MergeSql.lookup(parsed.source).getOrElse(sys.error(
      s"materialized-view source '${parsed.source}' is not a registered Icebox table"))
    val dimTables = parsed.dims.map(dm => MergeSql.lookup(dm.name).getOrElse(sys.error(
      s"materialized-view join source '${dm.name}' is not a registered Icebox table")))
    val d = parsed.copy(sourceDir = src.tableDir, dims = parsed.dims.zip(dimTables)
      .map { case (dm, t) => dm.copy(dir = t.tableDir) })
    val whereCols = d.where.toSeq.flatMap(w =>
      spark.sessionState.sqlParser.parseExpression(w).collect {
        case a: UnresolvedAttribute => a.nameParts.head
      })
    // the maintained row's column set: the fact's columns plus each dim's
    // non-join columns — which must not collide with the fact's or each
    // other's (every downstream reference is unqualified)
    val visibleCols = d.dims.zip(dimTables).foldLeft(src.read(spark).columns.toSeq) {
      case (acc, (dm, t)) =>
        val rCols = t.read(spark).columns.toSeq
        // the parent side of a pair may be the fact OR an earlier dim
        // (snowflake chain) — check against everything joined so far
        val badL = dm.on.map(_._1).filterNot(acc.contains)
        val badR = dm.on.map(_._2).filterNot(rCols.contains)
        if (badL.nonEmpty || badR.nonEmpty) sys.error(
          s"join columns ${(badL ++ badR).mkString(", ")} not in their side")
        val rExposed = rCols.diff(dm.on.map(_._2))
        val overlap = acc.intersect(rExposed)
        if (overlap.nonEmpty) sys.error(
          s"ambiguous columns ${overlap.mkString(", ")}: apart from the join " +
          s"pairs, '${dm.name}' must not repeat earlier sides' column names")
        acc ++ rExposed
    }
    val badKeys = (d.keys ++ d.sums ++ d.minmaxs ++ d.distincts ++ whereCols)
      .distinct.filterNot(visibleCols.contains)
    if (badKeys.nonEmpty) sys.error(
      s"columns ${badKeys.mkString(", ")} not in source '${d.source}'" +
      d.dims.map(dm => s" JOIN '${dm.name}'").mkString)
    val target = mvTable(warehouse, name)
    val props = target.properties
    val existing = MvDefinition.read(props).map(_._2)
    require(existing.isEmpty || existing.contains(d),
      s"materialized view '$name' already exists with a different definition " +
      "(DROP MATERIALIZED VIEW first)")
    // marker identity for this LIFE of the view: name + drop-epoch
    val id = s"${name.toLowerCase}#${MvDefinition.epoch(props)}"
    target.setProperties(MvDefinition.write(id, d))
    val mode = MaterializedView.refreshDefinition(spark, target, id, d)
    registerMvView(spark, name, target, d)
    MergeSql.register(name, target)
    // In-process CREATE must be visible to the rewrite immediately: if it
    // lands within the same mtime granule as a cached `_mv` listing,
    // nothing ever bumps the parent's mtime again and the registry would
    // silently miss this view forever. The mtime probe still covers
    // cross-process DDL.
    MvRewrite.invalidateRegistry()
    summary(spark, s"create-mv:$mode", target)
  }

  /** `REFRESH MATERIALIZED VIEW name`: reload the persisted definition
    * from the backing table's properties (works from a fresh session) and
    * run a delta refresh.
    */
  def refresh(spark: SparkSession, name: String, warehouse: String): DataFrame = {
    val target = mvTable(warehouse, name)
    val (id, d) = MvDefinition.read(target.properties).getOrElse(sys.error(
      s"no materialized view '$name' under $warehouse"))
    val mode = MaterializedView.refreshDefinition(spark, target, id, d)
    registerMvView(spark, name, target, d)
    MergeSql.register(name, target)
    summary(spark, s"refresh-mv:$mode", target)
  }

  /** `DROP MATERIALIZED VIEW name`: drop the registration and the session
    * view; the backing table's data stays (Iceberg DROP without PURGE —
    * consistent with [[graft.table.Catalog.drop]]).
    */
  def drop(spark: SparkSession, name: String, warehouse: String): DataFrame = {
    val target = mvTable(warehouse, name)
    // Advance the epoch so a later re-CREATE (possibly with a different
    // definition) mints a fresh mvId: refresh-cursor markers from THIS
    // life of the view can never match the next one's — without the
    // epoch, stale markers in the backing table's history would wrongly
    // route the re-created view onto the incremental path over a base it
    // never built.
    val props = target.properties
    target.replaceProperties(MvDefinition.definitionKeys(props),
      if (target.exists) MvDefinition.nextEpoch(props) else Map.empty)
    spark.catalog.dropTempView(name)
    // same-mtime-granule blindness as in create(): a drop landing in the
    // cached listing's granule must not leave the rewrite serving a dead view
    MvRewrite.invalidateRegistry()
    spark.createDataFrame(Seq(("drop-mv", -1L))).toDF("operation", "snapshot_id")
  }

  /** `SHOW MATERIALIZED VIEWS`: every live definition under the
    * warehouse's `_mv` namespace — name, source, keys, sums, and the last
    * refreshed source snapshot (None until the first refresh commits).
    * Metadata-only: reads properties files and snapshot op strings, no
    * data. Dropped views (properties cleared) are excluded.
    */
  def list(spark: SparkSession, warehouse: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(warehouse, "_mv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .sortBy(_.getName).flatMap { d =>
          val t = Icebox(d.toString)
          MvDefinition.read(t.properties).map { case (id, df) =>
            (d.getName, (df.source +: df.dims.map(_.name)).mkString(" JOIN "),
              df.keys.mkString(","), df.sums.mkString(","),
              MaterializedView.lastRefreshCursor(t, id).orNull)
          }
        }
    rows.toDF("name", "source", "keys", "sums", "refreshed_source_snapshot")
  }

  /** The session view over the backing table: raw maintenance columns
    * plus derived `avg_<c> = sum_<c> / nn_<c>` for AVG definitions (null
    * when the group holds no non-null c — sum is null there).
    */
  private def registerMvView(spark: SparkSession, name: String, target: Icebox,
      d: MvDefinition): Unit = {
    val base = target.read(spark)
    val withAvgs = d.avgs.foldLeft(base)((df, c) =>
      df.withColumn(s"avg_$c", col(s"sum_$c") / col(s"nn_$c")))
    withAvgs.createOrReplaceTempView(name)
  }

  /** Transparent AGGREGATE REWRITE (the Calcite/Materialize move): answer
    * a `SELECT ... GROUP BY` over a base table (or inner equi-join) from
    * a registered materialized view instead of scanning the source, when
    * a FRESH view subsumes the query. Subsumption:
    *
    *  - same source shape (table, or identical join pair set);
    *  - query group keys ⊆ view keys — a strict subset ROLLS UP: counts
    *    and sums re-sum, min/max re-extremize, AVG re-derives as
    *    Σsum/Σnn (COUNT(DISTINCT) cannot roll up, so it requires the
    *    exact key set);
    *  - query WHERE either textually equals the view's, or (unfiltered
    *    view) references view KEY columns only — then it filters the
    *    view's rows, never the source;
    *  - HAVING subsumes too: its aggregate calls map to the canonical
    *    columns (count(*) → row_count, sum(c) → sum_c, ...) and the
    *    predicate filters the answered rows;
    *  - FRESHNESS: the view's exactly-once cursor must sit at every
    *    source's CURRENT snapshot head — a stale view is never silently
    *    served; the caller falls back to the source (and can REFRESH
    *    first to re-enable the rewrite).
    *
    * Returns the serving view's name and the result in the canonical
    * maintenance schema (`<keys>, row_count, sum_c, nn_c, avg_c, min_c,
    * max_c, nd_c` as requested), or None when no registered view can
    * answer — the query then runs against the base table as usual. At
    * 100 TB this is the difference between a metadata-read + k-row scan
    * of the view and a full aggregate of the source.
    */
  def answer(spark: SparkSession, selectText: String,
      warehouse: String): Option[(String, DataFrame)] = {
    // HAVING parses as UnresolvedHaving over the Aggregate; its predicate
    // filters the ANSWERED result (aggregate calls map to the canonical
    // columns), so it subsumes like the aggregates themselves do
    val (qd, having) = try {
      spark.sessionState.sqlParser.parsePlan(selectText) match {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedHaving(cond, agg: Aggregate) =>
          if (cond.exists(_.isInstanceOf[SubqueryExpression])) return None
          (parseDefinitionPlan(spark, agg), Some(cond))
        case plan => (parseDefinitionPlan(spark, plan), None)
      }
    } catch { case _: Exception => return None } // not MV-shaped: no rewrite
    val p = new org.apache.hadoop.fs.Path(warehouse, "_mv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
      .view.flatMap { d =>
        val t = Icebox(d.toString)
        MvDefinition.read(t.properties).flatMap { case (id, vd) =>
          rewriteWith(spark, d.getName, t, id, vd, qd, having) }
      }.headOption
  }

  private def rewriteWith(spark: SparkSession, name: String, target: Icebox,
      id: String, vd: MvDefinition, qd: MvDefinition,
      having: Option[Expression] = None): Option[(String, DataFrame)] = {
    // source identity — including the join shape — must match exactly
    // (star dims as a set of (table, pair-set): FROM-order is irrelevant)
    def shape(d: MvDefinition) = d.dims.map(m => (m.name, m.on.toSet, m.parent))
    if (vd.source != qd.source || shape(vd).toSet != shape(qd).toSet) return None
    // snowflake chains: parent indexes are declaration-order-dependent, so
    // require the orders (and parents) to match exactly — conservative
    if (shape(vd).exists(_._3 >= 0) && shape(vd) != shape(qd)) return None
    val exactKeys = vd.keys.toSet == qd.keys.toSet
    if (!qd.keys.toSet.subsetOf(vd.keys.toSet)) return None
    if (!qd.sums.toSet.subsetOf(vd.sums.toSet)) return None
    if (!qd.avgs.toSet.subsetOf(vd.sums.toSet)) return None // avg = Σsum/Σnn
    if (!qd.counts.toSet.subsetOf(vd.sums.toSet)) return None // nn_c rides with sums
    if (!qd.minmaxs.toSet.subsetOf(vd.minmaxs.toSet)) return None
    if (!qd.distincts.toSet.subsetOf(vd.distincts.toSet)) return None
    if (qd.distincts.nonEmpty && !exactKeys) return None // nd can't roll up
    // WHERE: identical text, or a view-key-only predicate over an
    // unfiltered view (applied to the view's rows)
    val extraFilter: Option[String] = (vd.where, qd.where) match {
      case (vw, qw) if vw == qw => None
      case (None, Some(qw)) =>
        val cols = spark.sessionState.sqlParser.parseExpression(qw).collect {
          case a: UnresolvedAttribute => a.nameParts.head }
        if (cols.forall(vd.keys.contains)) Some(qw) else return None
      case _ => return None
    }
    val extraCounts = qd.counts.filterNot(qd.sums.contains)
    // freshness: the cursor sits at every source's current head
    val heads = (vd.sourceDir +: vd.dims.map(_.dir)).map(Icebox(_).currentSnapshotId)
    if (!MaterializedView.lastRefreshCursor(target, id).contains(heads.mkString(":")))
      return None
    val base0 = target.read(spark)
    val base = extraFilter.map(f => base0.filter(expr(f))).getOrElse(base0)
    val grouped =
      if (exactKeys) base // one row per group already
      else {
        val aggs = sum(col("row_count")).as("row_count") +:
          ((qd.sums ++ extraCounts).distinct.flatMap(c => Seq(
            sum(col(s"sum_$c")).as(s"sum_$c"),
            sum(col(s"nn_$c")).as(s"nn_$c"))) ++
           qd.minmaxs.flatMap(c => Seq(min(col(s"min_$c")).as(s"min_$c"),
             max(col(s"max_$c")).as(s"max_$c"))))
        base.groupBy(qd.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    val outCols = qd.keys.map(col) ++ Seq(col("row_count")) ++
      qd.sums.flatMap(c => Seq(col(s"sum_$c"), col(s"nn_$c"))) ++
      extraCounts.map(c => col(s"nn_$c")) ++
      qd.avgs.map(c => (col(s"sum_$c") / col(s"nn_$c")).as(s"avg_$c")) ++
      qd.minmaxs.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))) ++
      qd.distincts.map(c => col(s"nd_$c"))
    val projected = grouped.select(outCols: _*)
    // HAVING: aggregate calls become their canonical columns (count(*) →
    // row_count, sum(c) → sum_c, ...), then the predicate filters the
    // answered rows; anything unmappable or unresolvable refuses
    having match {
      case None => Some((name, projected))
      case Some(cond) =>
        val mapped = cond.transformUp {
          case f: UnresolvedFunction if f.nameParts.length == 1 =>
            val fn = f.nameParts.head.toLowerCase
            val arg = f.arguments match {
              case Seq(_: UnresolvedStar) | Seq(_: Literal) => None
              case Seq(a: UnresolvedAttribute) if a.nameParts.length == 1 =>
                Some(a.nameParts.head)
              case _ => return None
            }
            (fn, arg, f.isDistinct) match {
              case ("count", None, false) => UnresolvedAttribute("row_count")
              case ("count", Some(c), false) => UnresolvedAttribute(s"nn_$c")
              case ("count", Some(c), true) => UnresolvedAttribute(s"nd_$c")
              case ("sum", Some(c), false) => UnresolvedAttribute(s"sum_$c")
              case ("min", Some(c), false) => UnresolvedAttribute(s"min_$c")
              case ("max", Some(c), false) => UnresolvedAttribute(s"max_$c")
              case ("avg" | "mean", Some(c), false) => UnresolvedAttribute(s"avg_$c")
              case _ => return None
            }
        }
        scala.util.Try(projected.filter(expr(mapped.sql)))
          .toOption.map(f => (name, f))
    }
  }

  private def summary(spark: SparkSession, op: String, t: Icebox): DataFrame =
    spark.createDataFrame(Seq((op, t.currentSnapshotId))).toDF("operation", "snapshot_id")
}
