package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import graft.plans.IceboxFileIndex
import graft.table.{Icebox, IceboxCommit, Snapshot}

/** SQL-text `MERGE INTO` over Icebox tables (SURVEY §4 nice-to-have).
  *
  * The statement is parsed by SPARK'S OWN parser
  * (`sessionState.sqlParser.parsePlan` → catalyst `MergeIntoTable`), so the
  * accepted syntax — multiple conditional WHEN clauses, `UPDATE SET *`,
  * `INSERT *`, `WHEN NOT MATCHED BY SOURCE` — is exactly Spark's, and the
  * parsed catalyst expressions are executed verbatim (re-rendered via
  * `Expression.sql` onto aliased DataFrames). Execution is copy-on-write
  * against the Icebox snapshot log: one join pass over the candidate files
  * computes their merged rows, one atomic `rewriteFiles` commit pinned to
  * the head the merge read replaces them (readers only ever see the pre-
  * or post-merge snapshot; a commit landing mid-merge re-runs the merge).
  *
  * Why not a DSv2 `SupportsRowLevelOperations` catalog: Spark's analyzer
  * rewrite for v2 MERGE requires the table to supply a full DataSourceV2
  * scan + replace-data write; the builtin parquet DSv2 machinery is
  * `private[sql]`, so that route means hand-rolling a parquet reader. The
  * parser-level route reuses Catalyst end to end and keeps the engine's
  * single write path (Icebox commits) — same trade the programmatic
  * `Upsert` face already makes.
  *
  * Matched-action semantics follow the SQL standard as Spark/Delta
  * implement it: actions apply first-match-wins in clause order; a target
  * row matched by MORE THAN ONE source row errors when any matched action
  * exists (non-deterministic merge), matching Delta's cardinality check.
  *
  * Scale: the merge is one shuffle join (target × source on the ON
  * condition) plus broadcast-size action predicates; the cardinality check
  * is a count over the joined keys, piggybacking the same shuffle shape. At
  * 100 TB the dominant cost is the copy-on-write rewrite itself — the same
  * cost profile as `Upsert.intoTable`: with an equi ON clause and no BY
  * SOURCE clause only the files that may hold a source key are rewritten.
  *
  * Source references: a table/temp-view name (optionally aliased), or an
  * inline `USING (SELECT ...)` subquery — the subquery is re-run from its
  * parser-captured SQL text (every parsed node carries its origin slice),
  * so the full MERGE source syntax works without pre-registering views.
  */
object MergeSql {

  /** name → Icebox handle; targets of MERGE statements must be registered. */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Icebox]()

  def register(name: String, table: Icebox): Unit = registry.put(name.toLowerCase, table)

  def lookup(name: String): Option[Icebox] = Option(registry.get(name.toLowerCase))

  /** Execute a `MERGE INTO` statement; returns the committed snapshot. */
  def merge(spark: SparkSession, sqlText: String): Snapshot =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case m: MergeIntoTable => execute(spark, m)
      case other => sys.error(s"not a MERGE INTO statement: ${other.getClass.getSimpleName}")
    }

  // ------------------------------------------------------------------ exec

  private def execute(spark: SparkSession, m: MergeIntoTable): Snapshot =
      IceboxCommit.retryingStaleHead {
    val (targetName, targetAlias) = ref(m.targetTable)
    val (srcDf, sourceAlias) = sourceRef(spark, m.sourceTable)
    val icebox = lookup(targetName).getOrElse(
      sys.error(s"MERGE target '$targetName' is not a registered Icebox table " +
        s"(MergeSql.register(name, table) first)"))
    // the head the merge reads; the copy-on-write commit is pinned to it
    val head = icebox.currentSnapshot
      .getOrElse(sys.error(s"MERGE target '$targetName' is empty"))
    val targetSchema = org.apache.spark.sql.types.DataType.fromJson(head.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val targetCols = targetSchema.fieldNames.toSeq

    val src = srcDf.alias(sourceAlias)
    val cond = asColumn(m.mergeCondition)
    validateAssignmentKeys(m, targetCols)

    // pure target=source equality conjunction, when the ON shape admits one
    // (drives both the cheap cardinality check and the merge-on-read path)
    val equiPairs = equiKeys(m.mergeCondition, targetAlias, sourceAlias)

    // TARGET PRUNING (equi ON, no BY SOURCE clause): a file PROVEN to hold
    // none of the source's keys contributes no matched row, no anti-join
    // hit, and no cardinality group — so the target scan reads only the
    // candidate files that might hold source keys (stats + manifest-bloom
    // pruned), and copy-on-write rewrites only those. A point-MERGE into a
    // huge clustered or bloom-indexed table costs O(holding files), not
    // O(table). Any other shape makes every file a candidate.
    val candidates = equiPairs match {
      case Some(pairs) if m.notMatchedBySourceActions.isEmpty =>
        // one source column per target column: ON t.k = s.a AND t.k = s.b
        // matches only where t.k = s.a, and a repeated name is ambiguous
        icebox.splitByKeys(srcDf.select(pairs.distinctBy(_._1)
          .map { case (tc, sc) => col(sc).as(tc) }: _*), head)._1
      case _ => head.files
    }
    val tgt = IceboxFileIndex.scan(spark, icebox, candidates, head.schemaJson).alias(targetAlias)

    val matched = tgt.join(src, cond, "inner")
    // the fast path renames source keys to target-side names; an ON clause
    // repeating a target column (t.k = s.a AND t.k = s.b) would make that
    // frame ambiguous — valid statement, so fall through to the generic check
    if (m.matchedActions.nonEmpty) equiPairs.filter(p => p.map(_._1).distinct.size == p.size) match {
      case Some(pairs) =>
        // EQUI fast path: a target row matches >1 source row iff some
        // source key tuple repeats AND exists in the target — one
        // aggregation over the (small) SOURCE, and only on repeated keys a
        // semi-probe of the target. The generic check below aggregates the
        // FULL target twice; at 100 TB that is the difference between a
        // broadcast-sized check and two table-wide shuffles.
        val keyCols = pairs.map { case (_, sc) => col(s"$sourceAlias.$sc") }
        val dupKeys = src.groupBy(keyCols: _*).agg(count(lit(1)).as("__m"))
          .filter(col("__m") > 1).drop("__m")
          .toDF(pairs.map(_._1): _*) // rename to target-side names
          .na.drop("any") // NULL keys never join-match, so they can't double-match
        if (!dupKeys.isEmpty) {
          val hit = tgt.join(broadcast(dupKeys),
            pairs.map { case (tc, _) => col(s"$targetAlias.$tc") === dupKeys(tc) }
              .reduce(_ && _), "left_semi").limit(1).count()
          require(hit == 0L,
            "MERGE cardinality violation: a target row matches more than one source row")
        }
      case None => cardinalityCheck(matched, tgt, targetAlias, targetCols)
    }

    // first-match-wins action index; 0 = no clause applies (keep row as-is)
    def actionIndex(actions: Seq[MergeAction]): Column =
      actions.zipWithIndex.foldRight(lit(0)) { case ((a, i), rest) =>
        when(a.condition.map(asColumn).getOrElse(lit(true)), lit(i + 1)).otherwise(rest)
      }

    // per-column value under each action (UPDATE assigns, DELETE filtered later)
    def applyActions(df: DataFrame, actions: Seq[MergeAction]): DataFrame = {
      val withIdx = df.withColumn("__act", actionIndex(actions))
      val deletes = actions.zipWithIndex.collect { case (_: DeleteAction, i) => i + 1 }
      val kept = withIdx.filter(!col("__act").isin(deletes.map(Integer.valueOf): _*) ||
        lit(deletes.isEmpty))
      val outCols = targetCols.map { c =>
        val perAction = actions.zipWithIndex.foldLeft(col(s"$targetAlias.$c")) {
          case (acc, (u: UpdateAction, i)) =>
            when(col("__act") === (i + 1), assignedValue(u.assignments, c)
              .getOrElse(col(s"$targetAlias.$c"))).otherwise(acc)
          case (acc, (_: UpdateStarAction, i)) =>
            when(col("__act") === (i + 1), col(s"$sourceAlias.$c")).otherwise(acc)
          case (acc, _) => acc
        }
        perAction.as(c)
      }
      kept.select(outCols: _*)
    }

    lazy val mergedMatched =
      if (m.matchedActions.isEmpty)
        // left_semi, NOT the inner join: with no matched action each matched
        // target row passes through exactly once, however many source rows
        // hit it (the inner join would emit one copy per source match)
        tgt.join(src, cond, "left_semi").select(targetCols.map(c => col(s"$targetAlias.$c")): _*)
      else applyActions(matched, m.matchedActions)

    // the candidates' unmatched rows — only the copy-on-write path pays for it
    lazy val mergedUnmatched = {
      val unmatchedTarget = tgt.join(src, cond, "left_anti")
      if (m.notMatchedBySourceActions.isEmpty)
        unmatchedTarget.select(targetCols.map(c => col(s"$targetAlias.$c")): _*)
      else applyActions(unmatchedTarget, m.notMatchedBySourceActions)
    }

    val inserts: Option[DataFrame] =
      if (m.notMatchedActions.isEmpty) None
      else {
        val unmatchedSource = src.join(tgt, cond, "left_anti")
          .withColumn("__act", actionIndex(m.notMatchedActions))
          .filter(col("__act") > 0)
        val outCols = targetCols.map { c =>
          val typedNull = lit(null).cast(targetSchema(c).dataType)
          val perAction = m.notMatchedActions.zipWithIndex.foldLeft(typedNull) {
            case (acc, (ins: InsertAction, i)) =>
              when(col("__act") === (i + 1), assignedValue(ins.assignments, c)
                .getOrElse(typedNull)).otherwise(acc)
            case (acc, (_: InsertStarAction, i)) =>
              when(col("__act") === (i + 1), col(s"$sourceAlias.$c")).otherwise(acc)
            case (acc, _) => acc
          }
          perAction.as(c)
        }
        Some(unmatchedSource.select(outCols: _*))
      }

    // MERGE-ON-READ mode (`write.merge.mode = merge-on-read`): instead of
    // rewriting the table copy-on-write, commit ONE equality-delete file
    // (the source's key tuples — deleting an absent key is a no-op, so the
    // distinct source keys stand in for "matched keys" without an extra
    // join) plus the post-action images of matched rows and the inserts, in
    // one atomic snapshot. Write cost is O(matched + inserted) regardless
    // of table size — the reference's documented upsert contract
    // (README.md:509-510) at CDC-batch cost. Falls back to copy-on-write
    // when the ON condition is not a pure target=source equality
    // conjunction (no key columns to delete by) or when WHEN NOT MATCHED BY
    // SOURCE is present (that clause edits the unmatched-target side, which
    // only a rewrite can express).
    val mergeMode = props(icebox)
    val morKeys: Option[DataFrame] =
      if (mergeMode != "merge-on-read" || m.notMatchedBySourceActions.nonEmpty ||
          m.matchedActions.isEmpty) None
      else equiPairs.map { pairs =>
        src.select(pairs.map { case (tc, sc) => col(s"$sourceAlias.$sc").as(tc) }: _*)
          .dropDuplicates()
      }
    val insertOnlyMor = mergeMode == "merge-on-read" && m.matchedActions.isEmpty &&
      m.notMatchedBySourceActions.isEmpty && inserts.isDefined
    val snap = morKeys match {
      case _ if insertOnlyMor =>
        // no matched/by-source action → matched target rows stay in place;
        // the merge degenerates to an append of the unmatched source rows
        icebox.append(inserts.get, icebox.currentPartitionSpec)
      case Some(keys) =>
        val newData = inserts.foldLeft(mergedMatched)(_ unionByName _)
        icebox.commitEqualityDeletes("merge-mor", keys, Some(newData),
          icebox.currentPartitionSpec)
      case None =>
        val result = inserts.foldLeft(mergedMatched.unionByName(mergedUnmatched))(_ unionByName _)
        icebox.rewriteFiles("merge", candidates, result, icebox.currentPartitionSpec,
          expectHeadId = head.id)
    }
    // a registerView temp view is pinned to the pre-merge snapshot's file
    // set — repoint it so SELECT → MERGE → SELECT composes on one name
    if (spark.catalog.tableExists(targetName)) icebox.registerView(spark, targetName)
    snap
  }

  private def props(icebox: Icebox): String = {
    val mode = icebox.properties.getOrElse("write.merge.mode", "copy-on-write")
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"write.merge.mode=$mode (expected copy-on-write | merge-on-read)")
    mode
  }

  /** Extract `(targetCol, sourceCol)` pairs from an ON condition that is a
    * pure conjunction of `target.c = source.c` equalities (either operand
    * order); None for any other shape — the merge-on-read path needs exact
    * key columns to delete by, so anything fancier falls back to
    * copy-on-write.
    */
  private def equiKeys(cond: Expression, targetAlias: String,
      sourceAlias: String): Option[Seq[(String, String)]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    def attr(e: Expression): Option[(String, String)] = e match {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, c) => Some((q, c))
        case _ => None
      }
      case _ => None
    }
    def go(e: Expression): Option[Seq[(String, String)]] = e match {
      case And(l, r) => for { a <- go(l); b <- go(r) } yield a ++ b
      case EqualTo(l, r) => (attr(l), attr(r)) match {
        case (Some((ql, cl)), Some((qr, cr)))
            if ql.equalsIgnoreCase(targetAlias) && qr.equalsIgnoreCase(sourceAlias) =>
          Some(Seq((cl, cr)))
        case (Some((ql, cl)), Some((qr, cr)))
            if qr.equalsIgnoreCase(targetAlias) && ql.equalsIgnoreCase(sourceAlias) =>
          Some(Seq((cr, cl)))
        case _ => None
      }
      case _ => None
    }
    go(cond)
  }

  /** Reject merges where a target row matches more than one source row
    * (non-deterministic UPDATE/DELETE) — Delta's cardinality check, done
    * WITHOUT materializing the target or minting row ids: a group of
    * identical target rows of size n matched by m source rows contributes
    * n×m joined rows, so "some row matches twice" ⟺ some group's joined
    * count exceeds its target count. Two aggregations + a join of the
    * (small) grouped results; the target is never checkpointed, so the
    * check stays a metadata-free streaming shuffle at any table size.
    */
  private def cardinalityCheck(matched: DataFrame, tgt: DataFrame,
      targetAlias: String, targetCols: Seq[String]): Unit = {
    val tCols = targetCols.map(c => col(s"$targetAlias.$c"))
    val n = tgt.groupBy(tCols: _*).agg(count(lit(1)).as("__n"))
    val j = matched.groupBy(tCols: _*).agg(count(lit(1)).as("__j"))
    val on = targetCols.map(c => n(c) <=> j(c)).reduce(_ && _)
    val violations = n.join(j, on).filter(col("__j") > col("__n")).limit(1).count()
    require(violations == 0L,
      "MERGE cardinality violation: a target row matches more than one source row")
  }

  // --------------------------------------------------------------- helpers

  /** Every UPDATE SET / INSERT assignment key must name a target column —
    * this executor re-resolves expressions outside the analyzer, so without
    * the check a typo'd column silently no-ops instead of failing analysis.
    */
  private def validateAssignmentKeys(m: MergeIntoTable, targetCols: Seq[String]): Unit = {
    val actions = m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions
    val keys = actions.flatMap {
      case u: UpdateAction => u.assignments.map(_.key.sql)
      case i: InsertAction => i.assignments.map(_.key.sql)
      case _ => Nil
    }
    val bad = keys.filterNot(k => targetCols.exists(
      _.equalsIgnoreCase(k.split('.').last.stripPrefix("`").stripSuffix("`"))))
    require(bad.isEmpty,
      s"MERGE assignment key(s) ${bad.mkString(", ")} do not resolve to target columns " +
        s"(${targetCols.mkString(", ")})")
  }

  /** (table name, alias) of a parsed TARGET reference — must be a name. */
  private[sql] def ref(plan: LogicalPlan): (String, String) = plan match {
    case SubqueryAlias(id, child) => (ref(child)._1, id.name)
    case UnresolvedRelation(parts, _, _) => (parts.mkString("."), parts.last)
    case other =>
      sys.error(s"MERGE target must be a registered table name " +
        s"(got ${other.getClass.getSimpleName})")
  }

  /** (DataFrame, alias) of a parsed SOURCE reference. Names resolve through
    * the session catalog; an inline `USING (SELECT ...)` subquery is re-run
    * from the SQL text its parsed plan's origin points at — the public
    * route to execute a parsed-but-unresolved plan (Dataset.ofRows is
    * private[sql]).
    */
  private def sourceRef(spark: SparkSession, plan: LogicalPlan): (DataFrame, String) = plan match {
    case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
      (spark.table(parts.mkString(".")), id.name)
    case UnresolvedRelation(parts, _, _) => (spark.table(parts.mkString(".")), parts.last)
    case SubqueryAlias(id, child) => (spark.sql(subqueryText(child)), id.name)
    case other => (spark.sql(subqueryText(other)), "__src")
  }

  private[sql] def subqueryText(p: LogicalPlan): String =
    (for { t <- p.origin.sqlText; a <- p.origin.startIndex; b <- p.origin.stopIndex }
      yield t.substring(a, b + 1)).getOrElse(sys.error(
      "MERGE subquery source carries no SQL origin text; register a temp view instead"))

  /** Parsed catalyst expression → Column, via its SQL rendering (the public
    * route — the `Column(Expression)` constructor is gone in Spark 4).
    */
  private def asColumn(e: Expression): Column = expr(e.sql)

  /** The value assigned to target column `c`, if any assignment names it
    * (qualified or not, case-insensitive).
    */
  private def assignedValue(assignments: Seq[Assignment], c: String): Option[Column] =
    assignments.collectFirst {
      case a if a.key.sql.split('.').last.stripPrefix("`").stripSuffix("`")
        .equalsIgnoreCase(c) => asColumn(a.value)
    }
}
