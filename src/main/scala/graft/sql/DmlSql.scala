package graft.sql

import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{FieldName, UnresolvedFieldName, UnresolvedIdentifier, UnresolvedTable}
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns, Assignment, CreateTableAsSelect, DeleteFromTable, DropColumns, InsertIntoStatement, LogicalPlan, MergeIntoTable, RenameColumn, ReplaceTableAsSelect, UpdateTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.table.{DataFile, Icebox, IceboxCommit, Snapshot}

/** SQL-text row-level `DELETE FROM` / `UPDATE` over Icebox tables, executed
  * as FILE-PRUNED copy-on-write — the Iceberg copy-on-write model:
  *
  *  1. Spark's own parser produces the catalyst `DeleteFromTable` /
  *     `UpdateTable` plan (so accepted syntax is exactly Spark's, including
  *     target aliases and arbitrary predicates).
  *  2. The predicate's conjuncts are classified against the target's
  *     MANIFEST (partition values + per-file min/max stats,
  *     [[graft.plans.IceboxFileIndex.splitByPredicate]]): files whose
  *     metadata cannot contain a matching row are carried into the new
  *     snapshot BY REFERENCE; only possibly-matching files are rewritten.
  *  3. One atomic commit publishes the rewrite (readers see pre- or
  *     post-DML state, never partial).
  *
  * At 100 TB a `DELETE ... WHERE day = X` on a stats-tracked or partitioned
  * table rewrites O(matching files), not the table. A predicate over a
  * column with no stats degrades to a full rewrite — correct, just
  * unpruned (same contract as Iceberg copy-on-write without metrics).
  *
  * NULL semantics are SQL's: DELETE removes rows where the predicate is
  * TRUE (not null/false); UPDATE assigns where TRUE, preserves otherwise.
  * Assigned values are cast back to the target column's type, so the table
  * schema is stable under UPDATE (`int_col = int_col + 1` stays int).
  *
  * Targets resolve through the same registry as [[MergeSql]]
  * (`Icebox.registerView` or `MergeSql.register`); after the commit the
  * temp view (if any) is repointed so SELECT → DML → SELECT composes.
  */
object DmlSql {

  /** Outcome of a DML statement: the committed snapshot plus the file-level
    * rewrite footprint (pruning evidence — `keptFiles` carried over by
    * reference, `rewrittenFiles` read+rewritten).
    */
  final case class DmlResult(snapshot: Snapshot, rewrittenFiles: Int, keptFiles: Int)

  private val warehouseRef = new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Warehouse root for CTAS targets issued through [[run]]. */
  def setWarehouse(dir: String): Unit = warehouseRef.set(dir)

  /** The session-global MV warehouse, if one was set — consulted by the
    * optimizer-level materialized-view rewrite ([[MvRewriteRule]]).
    */
  def currentWarehouse: Option[String] = Option(warehouseRef.get)

  private def mvWarehouse(): String = Option(warehouseRef.get).getOrElse(
    sys.error("materialized-view DDL through run() needs DmlSql.setWarehouse(dir) first"))

  /** ONE entry point for the whole SQL-text surface: writes (MERGE, DELETE,
    * UPDATE, INSERT, CTAS) route to the Icebox executors and return a
    * one-row `(operation, snapshot_id)` summary; everything else (SELECT
    * over registered views, SHOW, VALUES, ...) runs through `spark.sql`
    * unchanged. CTAS requires [[setWarehouse]] first.
    */
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(\w+)(?:\s+ZORDER\s+BY\s*\(\s*([\w\s,]+?)\s*\))?\s*;?\s*""".r
  private val CreateRefRe =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+CREATE\s+(BRANCH|TAG)\s+(\w+)\s*;?\s*""".r
  private val DropRefRe =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+(?:BRANCH|TAG)\s+(\w+)\s*;?\s*""".r
  private val FastForwardRe =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+FAST\s+FORWARD\s+TO\s+(\w+)\s*;?\s*""".r
  private val DescribeHistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*""".r
  private val ShowTblPropsRe =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+(\w+)\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+(\w+)\s*;?\s*""".r
  private val AnalyzeRe =
    """(?is)\s*ANALYZE\s+TABLE\s+(\w+)\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s+([\w\s,]+?)\s*;?\s*""".r
  // Delta's CDF table-valued-function spelling, registered as a temp view
  // before the parser sees the query so it composes with any SELECT
  private val TableChangesRe =
    """(?is)\btable_changes\s*\(\s*'(\w+)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r
  private val ShowStatsRe =
    """(?is)\s*SHOW\s+STATS\s+FOR\s+(\w+)\s*;?\s*""".r
  private val SetTblPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*;?\s*""".r
  private val UnsetTblPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*;?\s*""".r
  private val PropPairRe = """'([^']+)'\s*=\s*'([^']*)'""".r
  // catalog listings over a warehouse URI (quoted-path form, so Spark's
  // own `SHOW TABLES [IN db]` over session views is never shadowed)
  private val ShowTablesRe =
    """(?is)\s*SHOW\s+TABLES\s+IN\s+'([^']+)'\s*;?\s*""".r
  private val ShowNamespacesRe =
    """(?is)\s*SHOW\s+NAMESPACES\s+IN\s+'([^']+)'\s*;?\s*""".r

  /** `t VERSION AS OF n` / `t VERSION AS OF 'ref'` (branch/tag — Iceberg's
    * ref-read spelling) / `t TIMESTAMP AS OF ts` (and the `FOR
    * SYSTEM_VERSION` / `FOR SYSTEM_TIME` spellings) on a registered Icebox
    * table, anywhere in a query. Group layout: (1,2,3) = version form
    * (numeric snapshot id or quoted ref name), (4,5,6) = timestamp form
    * (quoted literal or epoch millis).
    */
  private val TimeTravelRe =
    ("""(?is)\b(\w+)\s+(?:FOR\s+SYSTEM_VERSION\s+AS\s+OF|VERSION\s+AS\s+OF)\s+(?:(\d+)|'(\w+)')""" +
     """|\b(\w+)\s+(?:FOR\s+SYSTEM_TIME\s+AS\s+OF|TIMESTAMP\s+AS\s+OF)\s+(?:'([^']+)'|(\d+))""").r

  def run(spark: SparkSession, sqlText0: String): DataFrame = {
  val sqlText = rewriteTableChanges(spark, rewriteTimeTravel(spark, sqlText0))
  sqlText match {
    // maintenance verbs (Delta-style syntax; not in Spark's grammar, so
    // matched on the text before the parser sees it)
    case VacuumRe(name, hours) =>
      val t = MergeSql.lookup(name).getOrElse(
        sys.error(s"VACUUM target '$name' is not a registered Icebox table"))
      val retainMs = Option(hours).map(_.toLong).getOrElse(168L) * 3600L * 1000L
      val expired = t.expireSnapshots(System.currentTimeMillis() - retainMs)
      if (spark.catalog.tableExists(name)) t.registerView(spark, name)
      spark.createDataFrame(Seq(("vacuum", expired.size.toLong)))
        .toDF("operation", "snapshot_id")
    case OptimizeRe(name, zorder) =>
      val t = MergeSql.lookup(name).getOrElse(
        sys.error(s"OPTIMIZE target '$name' is not a registered Icebox table"))
      val snap = Option(zorder) match {
        case Some(cols) =>
          t.compactSorted(spark, cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        case None => t.compact(spark)
      }
      if (spark.catalog.tableExists(name)) t.registerView(spark, name)
      summary(spark, snap)
    // snapshot refs (Iceberg's ALTER TABLE extension grammar, text-matched)
    case CreateRefRe(name, kind, ref) =>
      val t = lookupRegistered(name, "ALTER")
      if (kind.equalsIgnoreCase("branch")) t.createBranch(ref) else t.createTag(ref)
      spark.createDataFrame(Seq((s"create-${kind.toLowerCase}", t.refs(ref).snapshotId)))
        .toDF("operation", "snapshot_id")
    case DropRefRe(name, ref) =>
      val t = lookupRegistered(name, "ALTER")
      t.dropRef(ref)
      spark.createDataFrame(Seq(("drop-ref", t.currentSnapshotId)))
        .toDF("operation", "snapshot_id")
    case FastForwardRe(name, ref) =>
      val t = lookupRegistered(name, "ALTER")
      val snap = t.fastForward(ref)
      if (spark.catalog.tableExists(name)) t.registerView(spark, name)
      spark.createDataFrame(Seq(("fast-forward", snap.id))).toDF("operation", "snapshot_id")
    // table-property DDL (Spark's spelling; the cross-process-locked
    // property update underneath — a user's write.* config lands here)
    case SetTblPropsRe(name, pairs) =>
      val t = lookupRegistered(name, "ALTER")
      val kv = PropPairRe.findAllMatchIn(pairs).map(m => m.group(1) -> m.group(2)).toMap
      require(kv.nonEmpty, s"no 'k'='v' pairs in SET TBLPROPERTIES ($pairs)")
      t.setProperties(kv)
      spark.createDataFrame(Seq(("set-properties", kv.size.toLong)))
        .toDF("operation", "snapshot_id")
    case UnsetTblPropsRe(name, keys) =>
      val t = lookupRegistered(name, "ALTER")
      val ks = """'([^']+)'""".r.findAllMatchIn(keys).map(_.group(1)).toSeq
      require(ks.nonEmpty, s"no 'k' keys in UNSET TBLPROPERTIES ($keys)")
      t.removeProperties(ks)
      spark.createDataFrame(Seq(("unset-properties", ks.size.toLong)))
        .toDF("operation", "snapshot_id")
    // metadata verbs (Delta's DESCRIBE HISTORY / Spark's SHOW TBLPROPERTIES
    // spelling, answered from the snapshot log / properties file — no scan)
    case DescribeHistoryRe(name) =>
      lookupRegistered(name, "DESCRIBE HISTORY").snapshotsDf(spark)
    case ShowTblPropsRe(name) =>
      val t = lookupRegistered(name, "SHOW TBLPROPERTIES")
      import spark.implicits._
      t.properties.toSeq.sortBy(_._1).toDF("key", "value")
    case ShowPartitionsRe(name) =>
      lookupRegistered(name, "SHOW PARTITIONS").partitionsDf(spark)
    // manifest NDV index (Trino's ANALYZE / SHOW STATS spelling): builds
    // per-file HLL sketches for the named columns (sticky — later commits
    // keep sketching their new files) and answers approximate
    // COUNT(DISTINCT) from metadata alone
    case AnalyzeRe(name, cols) =>
      val t = lookupRegistered(name, "ANALYZE")
      val columns = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      t.analyze(spark, columns)
      // Spark's own conf semantics (spark.sql.statistics.histogram.enabled):
      // when the graft analog is on, ANALYZE also builds the exact
      // equi-width histograms the CBO bridge serves to FilterEstimation.
      // Columns whose metadata min/max can't anchor the bounds (no footer
      // stats, non-numeric) are skipped, as Spark skips unsupported types.
      if (spark.conf.get("spark.graft.stats.histogram.enabled", "false").toBoolean) {
        val bins = spark.conf.get("spark.graft.stats.histogram.numBins", "32").toInt
        columns.foreach(c =>
          try t.analyzeHistogram(spark, c, bins)
          catch { case scala.util.control.NonFatal(_) => () })
      }
      spark.createDataFrame(Seq(("analyze", columns.size.toLong)))
        .toDF("operation", "snapshot_id")
    case ShowStatsRe(name) =>
      lookupRegistered(name, "SHOW STATS").ndvStatsDf(spark)
    // persistent catalog listings (the reference's REST-catalog listing
    // surface, catalog_manager.py:29-69, at the engine's path-rooted
    // design point): answered from the warehouse's registry table
    case ShowTablesRe(wh)     => graft.table.Catalog(wh).tables(spark)
    case ShowNamespacesRe(wh) => graft.table.Catalog(wh).namespaces(spark)
    // materialized-view DDL (Materialize/Snowflake spelling; backing
    // table under <warehouse>/_mv, incremental maintenance in MvSql)
    case MvSql.CreateRe(name, select) => MvSql.create(spark, name, select, mvWarehouse())
    case MvSql.RefreshRe(name)        => MvSql.refresh(spark, name, mvWarehouse())
    case MvSql.DropRe(name)           => MvSql.drop(spark, name, mvWarehouse())
    case MvSql.ShowRe()               => MvSql.list(spark, mvWarehouse())
    case _ => runParsed(spark, sqlText)
  }
  }

  /** SQL time travel (the first Iceberg-SQL idiom a user types; the
    * reference reads snapshots only via operator —
    * maintenance/iceberg_snapshot_operator.py:130-156): each `t VERSION AS
    * OF n` / `t TIMESTAMP AS OF ts` span over a REGISTERED Icebox table is
    * replaced by a temp view pinned to [[Icebox.readSnapshotId]] /
    * [[Icebox.readAsOf]] — so the pinned read composes with any
    * surrounding SELECT (joins, aggregates, CTEs) and still plans through
    * the manifest-backed FileIndex. Unregistered names pass through
    * untouched (Spark's own error surfaces them).
    */
  /** `table_changes('t', from[, to])` (Delta's CDF spelling) anywhere in a
    * query over a REGISTERED Icebox table: replaced by a temp view over
    * [[Icebox.changeDiff]] — rows + `_change_type`, manifest-pruned to the
    * files the commits actually changed — so the row-level change feed
    * composes with any surrounding SELECT. `to` defaults to the current
    * snapshot. Unregistered names pass through untouched.
    *
    * Caveats (shared with [[rewriteTimeTravel]]): the rewrite is textual —
    * a `table_changes(...)` spelling inside a string literal or comment is
    * rewritten too (same caveat as Spark's own SQL-comment stripping lives
    * with; don't put the call text in literals). Temp views are
    * deterministic per (table, from, to) and REUSED — per-table older
    * ranges are dropped on each new registration so the catalog holds at
    * most a handful of `__tc_*` views per table, not one per range ever
    * queried.
    */
  private def rewriteTableChanges(spark: SparkSession, sqlText: String): String =
    TableChangesRe.replaceAllIn(sqlText, m => {
      val name = m.group(1)
      MergeSql.lookup(name) match {
        case None => scala.util.matching.Regex.quoteReplacement(m.matched)
        case Some(t) =>
          val from = m.group(2).toLong
          val to = Option(m.group(3)).map(_.toLong).getOrElse(t.currentSnapshotId)
          val view = s"__tc_${name}_${from}_$to"
          val cat = spark.catalog
          if (!cat.tableExists(view)) {
            // evict this table's views for OTHER ranges before registering:
            // bounded catalog footprint under varying (from, to). The suffix
            // after the table name must be exactly `<from>_<to>` (two number
            // groups) — a bare prefix test would also match views of tables
            // whose name extends `name` with an underscore (`orders` vs
            // `orders_archive`) and evict another table's live range.
            val prefix = s"__tc_${name}_"
            val rangeSuffix = "^\\d+_\\d+$".r
            spark.sessionState.catalog.listLocalTempViews(s"__tc_${name}_*")
              .map(_.table)
              .filter(v => v.startsWith(prefix) && v != view &&
                rangeSuffix.findFirstIn(v.stripPrefix(prefix)).isDefined)
              .foreach(cat.dropTempView)
            t.changeDiff(spark, from, to).createOrReplaceTempView(view)
          }
          view
      }
    })

  private def rewriteTimeTravel(spark: SparkSession, sqlText: String): String =
    TimeTravelRe.replaceAllIn(sqlText, m => {
      // pin: Left(snapshotId) | Left via ref resolution | Right(epochMs)
      val name = if (m.group(1) != null) m.group(1) else m.group(4)
      MergeSql.lookup(name) match {
        case None => scala.util.matching.Regex.quoteReplacement(m.matched)
        case Some(t) =>
          val (df, tag) =
            if (m.group(2) != null)
              (t.readSnapshotId(spark, m.group(2).toLong), s"v${m.group(2)}")
            else if (m.group(3) != null) // quoted ref: branch or tag
              (t.readRef(spark, m.group(3)), s"r${m.group(3)}")
            else {
              val ms = Option(m.group(5)).map(parseTsMillis(spark, _))
                .getOrElse(m.group(6).toLong)
              (t.readAsOf(spark, ms), s"t$ms")
            }
          val view = s"${name}__asof_$tag"
          df.createOrReplaceTempView(view)
          view
      }
    })

  /** Parse a time-travel timestamp literal in the session time zone:
    * `yyyy-MM-dd[ HH:mm:ss[.f]]` or ISO instant.
    */
  private def parseTsMillis(spark: SparkSession, s: String): Long = {
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    scala.util.Try(java.time.LocalDateTime.parse(s.replaceFirst(" ", "T")))
      .map(_.atZone(zone).toInstant)
      .orElse(scala.util.Try(java.time.LocalDate.parse(s).atStartOfDay(zone).toInstant))
      .orElse(scala.util.Try(java.time.Instant.parse(s)))
      .getOrElse(sys.error(s"cannot parse time-travel timestamp '$s'"))
      .toEpochMilli
  }

  private def lookupRegistered(name: String, verb: String): Icebox =
    MergeSql.lookup(name).getOrElse(
      sys.error(s"$verb target '$name' is not a registered Icebox table"))

  private def runParsed(spark: SparkSession, sqlText: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case _: MergeIntoTable | _: DeleteFromTable | _: UpdateTable | _: InsertIntoStatement |
           _: RenameColumn | _: DropColumns | _: AddColumns | _: AlterColumns =>
        summary(spark, sql(spark, sqlText))
      case _: CreateTableAsSelect | _: ReplaceTableAsSelect =>
        val wh = Option(warehouseRef.get).getOrElse(
          sys.error("CTAS through run() needs DmlSql.setWarehouse(dir) first"))
        summary(spark, createTable(spark, sqlText, wh).currentSnapshot.get)
      case _ => spark.sql(sqlText)
    }

  private def summary(spark: SparkSession, s: Snapshot): DataFrame =
    spark.createDataset(Seq((s.operation, s.id)))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
      .toDF("operation", "snapshot_id")

  /** Execute any supported SQL-text statement: MERGE INTO (delegated to
    * [[MergeSql]]), DELETE FROM, or UPDATE.
    */
  def sql(spark: SparkSession, sqlText: String): Snapshot =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case _: MergeIntoTable => MergeSql.merge(spark, sqlText)
      case d: DeleteFromTable => executeDelete(spark, d).snapshot
      case u: UpdateTable => executeUpdate(spark, u).snapshot
      case i: InsertIntoStatement => executeInsert(spark, i)
      case a @ (_: RenameColumn | _: DropColumns | _: AddColumns | _: AlterColumns) =>
        executeAlter(spark, a)
      case other => sys.error(s"unsupported statement: ${other.getClass.getSimpleName}")
    }

  /** Execute `ALTER TABLE ... RENAME COLUMN / DROP COLUMN(S) / ADD
    * COLUMN(S) / ALTER COLUMN ... TYPE` against a registered Icebox table —
    * all METADATA-ONLY commits (column-mapping evolution; see
    * [[graft.table.Icebox.renameColumn]]).
    */
  def alter(spark: SparkSession, sqlText: String): Snapshot =
    executeAlter(spark, spark.sessionState.sqlParser.parsePlan(sqlText))

  private def executeAlter(spark: SparkSession, plan: LogicalPlan): Snapshot = {
    def tableOf(child: LogicalPlan): (String, Icebox) = child match {
      case u: UnresolvedTable =>
        val name = u.multipartIdentifier.last
        name -> MergeSql.lookup(name).getOrElse(
          sys.error(s"ALTER target '$name' is not a registered Icebox table " +
            s"(Icebox.registerView / MergeSql.register first)"))
      case other => sys.error(s"unsupported ALTER target: $other")
    }
    def fieldName(f: FieldName): String = f match {
      case UnresolvedFieldName(parts) =>
        require(parts.length == 1, s"nested fields unsupported: ${parts.mkString(".")}")
        parts.head
      case other => sys.error(s"unsupported field reference: $other")
    }
    val (name, icebox, snap) = plan match {
      case r: RenameColumn =>
        val (n, t) = tableOf(r.table)
        (n, t, t.renameColumn(fieldName(r.column), r.newName))
      case d: DropColumns =>
        val (n, t) = tableOf(d.table)
        val last = d.columnsToDrop.map(fieldName).foldLeft(
          null: Snapshot)((_, c) => t.dropColumn(c))
        (n, t, last)
      case a: AddColumns =>
        val (n, t) = tableOf(a.table)
        val last = a.columnsToAdd.foldLeft(null: Snapshot) { (_, qc) =>
          require(qc.path.isEmpty, "nested ADD COLUMN unsupported")
          t.addColumn(qc.colName, qc.dataType)
        }
        (n, t, last)
      case a: AlterColumns =>
        val (n, t) = tableOf(a.table)
        val last = a.specs.foldLeft(null: Snapshot) { (_, sp) =>
          val dt = sp.newDataType.getOrElse(
            sys.error("only ALTER COLUMN ... TYPE is supported"))
          t.widenColumn(fieldName(sp.column), dt)
        }
        (n, t, last)
      case other => sys.error(s"unsupported ALTER statement: ${other.getClass.getSimpleName}")
    }
    if (spark.catalog.tableExists(name)) icebox.registerView(spark, name)
    snap
  }

  /** Execute an `INSERT INTO` / `INSERT OVERWRITE` statement (SELECT or
    * VALUES source, optional column list, BY NAME, static PARTITION spec).
    */
  def insert(spark: SparkSession, sqlText: String): Snapshot =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case i: InsertIntoStatement => executeInsert(spark, i)
      case other => sys.error(s"not an INSERT statement: ${other.getClass.getSimpleName}")
    }

  /** Execute a `DELETE FROM` statement. */
  def delete(spark: SparkSession, sqlText: String): DmlResult =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case d: DeleteFromTable => executeDelete(spark, d)
      case other => sys.error(s"not a DELETE statement: ${other.getClass.getSimpleName}")
    }

  /** Execute an `UPDATE` statement. */
  def update(spark: SparkSession, sqlText: String): DmlResult =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case u: UpdateTable => executeUpdate(spark, u)
      case other => sys.error(s"not an UPDATE statement: ${other.getClass.getSimpleName}")
    }

  // ------------------------------------------------------------------ exec

  /** SET values re-render through `Expression.sql`; a subquery there does
    * not survive that round-trip, so reject with an actionable message.
    * (DELETE/UPDATE *conditions* with subqueries ARE supported — they run
    * through the full analyzer, see [[subqueryPredicate]].)
    */
  private def noSubquery(e: org.apache.spark.sql.catalyst.expressions.Expression,
      stmt: String): Unit =
    require(!hasSubquery(e),
      s"$stmt with subqueries is not supported — rewrite as MERGE INTO " +
        s"with the subquery as the USING source")

  private def hasSubquery(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])

  /** A predicate containing IN / NOT IN / EXISTS subqueries cannot go
    * through `expr(e.sql)` (subqueries don't survive the text round-trip).
    * Instead the candidate files register as a temp view under the target's
    * alias and the predicate's ORIGINAL text (recovered from its parser
    * Origin) re-analyzes through `spark.sql`, so the subquery resolves
    * against the session's registered views — including correlated EXISTS,
    * which correlates to the aliased view. Returns the candidate rows
    * extended with one boolean `hitCol` = predicate IS TRUE.
    */
  private def subqueryPredicate(spark: SparkSession, icebox: Icebox,
      candidates: Seq[DataFile], alias: String,
      condText: String, hitCol: String): DataFrame = {
    val view = s"__dml_cand_${UUID.randomUUID().toString.replace("-", "").take(12)}"
    icebox.readDataFiles(spark, candidates).createOrReplaceTempView(view)
    try spark.sql(
      s"SELECT `$alias`.*, coalesce(($condText), false) AS $hitCol FROM $view AS `$alias`")
    finally spark.catalog.dropTempView(view)
  }

  /** File pruning under a predicate with subqueries: prune on the
    * subquery-free conjuncts only (dropping conjuncts can only WIDEN the
    * candidate set — a correct superset). All-subquery predicates prune
    * nothing (full candidate set).
    */
  private def pruneConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Column = {
    def conjuncts(x: org.apache.spark.sql.catalyst.expressions.Expression):
        Seq[org.apache.spark.sql.catalyst.expressions.Expression] = x match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val clean = conjuncts(e).filterNot(hasSubquery)
    if (clean.isEmpty) lit(true) else clean.map(c => expr(c.sql)).reduce(_ && _)
  }

  /** The condition's original SQL text. Expression Origins are too coarse
    * to slice (e.g. an `InSubquery` origin starts at `IN`, dropping the
    * left operand; `Exists` spans the whole statement), but in DELETE and
    * UPDATE grammar the WHERE clause is always the FINAL top-level clause —
    * so recover it from the statement text: everything after the first
    * `WHERE` keyword at paren depth 0 outside quoted strings/identifiers.
    */
  private def conditionText(
      e: org.apache.spark.sql.catalyst.expressions.Expression): String = {
    val stmt = e.origin.sqlText.getOrElse(sys.error(
      "DML subquery predicate carries no SQL origin text"))
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var i = 0; var depth = 0
    val n = stmt.length
    while (i < n) {
      stmt.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case q @ ('\'' | '"' | '`') =>
          i += 1; while (i < n && stmt.charAt(i) != q) i += 1; i += 1
        case c if depth == 0 && (c == 'w' || c == 'W') && i + 5 <= n &&
            stmt.regionMatches(true, i, "WHERE", 0, 5) &&
            (i == 0 || !isWordChar(stmt.charAt(i - 1))) &&
            (i + 5 == n || !isWordChar(stmt.charAt(i + 5))) =>
          return stmt.substring(i + 5)
        case _ => i += 1
      }
    }
    sys.error(s"no top-level WHERE clause found in: $stmt")
  }

  // ------------------------------------------------- merge-on-read support

  /** DML write mode for a table, from its properties (Iceberg's
    * `write.delete.mode` / `write.update.mode`): `copy-on-write` (default,
    * rewrite candidate files), `merge-on-read` (always position-delete), or
    * `auto` (position-delete when the matched rows are a small fraction —
    * [[morThreshold]] — of the candidate files' rows, else copy-on-write).
    * At 100 TB `auto` makes a single-row DELETE cost one tiny delete file
    * instead of a 512 MB file rewrite.
    */
  private def dmlMode(icebox: Icebox, prop: String): String =
    icebox.properties.getOrElse(prop, "copy-on-write") match {
      case m @ ("copy-on-write" | "merge-on-read" | "auto") => m
      case other => sys.error(s"unsupported $prop '$other' " +
        "(expected copy-on-write | merge-on-read | auto)")
    }

  private def morThreshold(icebox: Icebox): Double =
    icebox.properties.get("write.merge-on-read.threshold").map(_.toDouble).getOrElse(0.1)

  /** Candidate rows matching `cond` (TRUE only), with their physical
    * positions as `__dml_fp`/`__dml_pos`, existing position deletes
    * already applied (an UPDATE must never resurrect a deleted row).
    */
  private def matchedWithPos(spark: SparkSession, icebox: Icebox,
      candidates: Seq[DataFile], alias: String,
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression]): DataFrame = {
    val withPos = icebox.readDataFilesWithPos(spark, candidates, "__dml_fp", "__dml_pos")
    cond match {
      case None => withPos.alias(alias)
      case Some(c) if !hasSubquery(c) =>
        withPos.alias(alias).filter(coalesce(expr(c.sql), lit(false)))
      case Some(c) =>
        val view = s"__dml_cand_${UUID.randomUUID().toString.replace("-", "").take(12)}"
        withPos.createOrReplaceTempView(view)
        try spark.sql(
          s"SELECT `$alias`.* FROM $view AS `$alias` WHERE (${conditionText(c)})")
        finally spark.catalog.dropTempView(view)
    }
  }

  /** `auto` decision: merge-on-read only when every candidate file has a
    * recorded row count and the matched fraction is under the threshold.
    */
  private def morChosen(mode: String, icebox: Icebox, candidates: Seq[DataFile],
      matchedCount: => Long): Boolean =
    mode == "merge-on-read" || {
      val rows = candidates.map(_.rows)
      rows.nonEmpty && rows.forall(_ >= 0) &&
        matchedCount <= morThreshold(icebox) * rows.sum
    }

  private def executeDelete(spark: SparkSession, d: DeleteFromTable): DmlResult =
      IceboxCommit.retryingStaleHead {
    val (name, alias, icebox, snap, schema) = target(spark, d.table)
    val deleteMode = dmlMode(icebox, "write.delete.mode")
    if (deleteMode != "copy-on-write") {
      val pruneCol =
        if (hasSubquery(d.condition)) pruneConjuncts(d.condition) else expr(d.condition.sql)
      val (candidates, untouched) = split(spark, icebox, snap, alias, pruneCol)
      val matched = matchedWithPos(spark, icebox, candidates, alias, Some(d.condition))
        .select(col("__dml_fp").as("file_path"), col("__dml_pos").as("pos")).persist()
      try {
        if (morChosen(deleteMode, icebox, candidates, matched.count())) {
          val s2 = icebox.commitPositionDeletes(spark, "delete", matched)
          if (spark.catalog.tableExists(name)) icebox.registerView(spark, name)
          return DmlResult(s2, 0, candidates.size + untouched.size)
        }
      } finally matched.unpersist()
      // `auto` fell through: copy-on-write below
    }
    if (hasSubquery(d.condition)) {
      val (candidates, untouched) =
        split(spark, icebox, snap, alias, pruneConjuncts(d.condition))
      val marked = subqueryPredicate(spark, icebox, candidates, alias,
        conditionText(d.condition), "__dml_hit")
      // keep rows where the predicate is NOT TRUE (false or null)
      val survivors = marked.filter(!col("__dml_hit")).drop("__dml_hit")
      return commitAndRepoint(spark, name, icebox, "delete", candidates, untouched, survivors, snap.id)
    }
    val cond = expr(d.condition.sql)
    val (candidates, untouched) = split(spark, icebox, snap, alias, cond)
    // keep rows where the predicate is NOT TRUE (false or null)
    val survivors = icebox.readDataFiles(spark, candidates).alias(alias)
      .filter(!coalesce(cond, lit(false)))
    commitAndRepoint(spark, name, icebox, "delete", candidates, untouched, survivors, snap.id)
  }

  private def executeUpdate(spark: SparkSession, u: UpdateTable): DmlResult =
      IceboxCommit.retryingStaleHead {
    val (name, alias, icebox, snap, schema) = target(spark, u.table)
    u.assignments.foreach(a => noSubquery(a.value, "UPDATE SET"))
    validateAssignments(u.assignments, schema)
    val updateMode = dmlMode(icebox, "write.update.mode")
    if (updateMode != "copy-on-write") {
      val pruneColM = u.condition match {
        case Some(c) if hasSubquery(c) => pruneConjuncts(c)
        case Some(c)                   => expr(c.sql)
        case None                      => lit(true)
      }
      val (candidates, untouched) = split(spark, icebox, snap, alias, pruneColM)
      val matched = matchedWithPos(spark, icebox, candidates, alias, u.condition).persist()
      try {
        if (morChosen(updateMode, icebox, candidates, matched.count())) {
          val positions = matched.select(col("__dml_fp").as("file_path"),
            col("__dml_pos").as("pos"))
          // every matched row is a hit: assignments apply unconditionally
          val newRows = matched.select(schema.fields.toSeq.map { f =>
            assigned(u.assignments, f.name) match {
              case Some(v) => v.cast(f.dataType).as(f.name)
              case None    => col(s"$alias.${f.name}").as(f.name)
            }
          }: _*)
          val s2 = icebox.commitPositionDeletesWithData("update", positions, newRows,
            icebox.currentPartitionSpec)
          if (spark.catalog.tableExists(name)) icebox.registerView(spark, name)
          return DmlResult(s2, 0, candidates.size + untouched.size)
        }
      } finally matched.unpersist()
      // `auto` fell through: copy-on-write below
    }
    val condHasSubq = u.condition.exists(hasSubquery)
    val pruneCol =
      if (condHasSubq) pruneConjuncts(u.condition.get)
      else u.condition.map(c => expr(c.sql)).getOrElse(lit(true))
    val (candidates, untouched) = split(spark, icebox, snap, alias, pruneCol)
    val (source, hit) =
      if (condHasSubq)
        (subqueryPredicate(spark, icebox, candidates, alias,
          conditionText(u.condition.get), "__dml_hit"), col("__dml_hit"))
      else {
        val cond = u.condition.map(c => expr(c.sql)).getOrElse(lit(true))
        (icebox.readDataFiles(spark, candidates).alias(alias), coalesce(cond, lit(false)))
      }
    val outCols = schema.fields.toSeq.map { f =>
      assigned(u.assignments, f.name) match {
        case Some(v) => when(hit, v.cast(f.dataType))
          .otherwise(col(s"$alias.${f.name}")).as(f.name)
        case None => col(s"$alias.${f.name}").as(f.name)
      }
    }
    val rewritten = source.select(outCols: _*)
    commitAndRepoint(spark, name, icebox, "update", candidates, untouched, rewritten, snap.id)
  }

  /** `CREATE [OR REPLACE] TABLE <name> [PARTITIONED BY (cols)] AS SELECT`
    * — the table materializes as an Icebox at `<warehouseDir>/<name parts>`
    * and registers on the session (view + DML target), so CTAS → INSERT →
    * MERGE → SELECT composes on one name. Identity partitioning only
    * (bucket/days transforms would need a partition-function layer);
    * `IF NOT EXISTS` no-ops onto the existing table.
    */
  def createTable(spark: SparkSession, sqlText: String, warehouseDir: String): Icebox =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case c: CreateTableAsSelect =>
        ctas(spark, warehouseDir, c.name, c.partitioning, c.query,
          replace = false, ifNotExists = c.ignoreIfExists)
      case r: ReplaceTableAsSelect =>
        ctas(spark, warehouseDir, r.name, r.partitioning, r.query,
          replace = true, ifNotExists = false)
      case other => sys.error(s"not a CREATE TABLE AS SELECT: ${other.getClass.getSimpleName}")
    }

  private def ctas(spark: SparkSession, warehouseDir: String, namePlan: LogicalPlan,
      partitioning: Seq[Transform], query: LogicalPlan,
      replace: Boolean, ifNotExists: Boolean): Icebox = {
    val parts = namePlan match {
      case UnresolvedIdentifier(ps, _) => ps
      case other => sys.error(s"unsupported CTAS target: ${other.getClass.getSimpleName}")
    }
    val name = parts.mkString(".")
    val icebox = Icebox((warehouseDir +: parts).mkString("/"))
    if (icebox.exists && !replace) {
      if (ifNotExists) { icebox.registerView(spark, name); return icebox }
      sys.error(s"CTAS target '$name' already exists (use CREATE OR REPLACE)")
    }
    val partCols = partitioning.map { t =>
      require(t.name == "identity",
        s"only identity PARTITIONED BY supported, got ${t.describe}")
      t.references.head.fieldNames.mkString(".")
    }
    icebox.overwrite(spark.sql(MergeSql.subqueryText(query)), partCols)
    icebox.registerView(spark, name)
    icebox
  }

  /** INSERT: the source query re-runs from its parser origin text (VALUES
    * parses to a plan whose origin is the VALUES clause — `spark.sql` runs
    * both shapes). Position-mapped by default (SQL standard), name-mapped
    * under `BY NAME`, column-list subsets null-fill the rest; every value
    * casts to the target column type. Static `PARTITION (p='x')` values
    * become literal columns. `INSERT OVERWRITE` maps to dynamic partition
    * overwrite on partitioned tables (only touched partitions rewrite —
    * the 100 TB-sane semantics), full overwrite otherwise.
    */
  private def executeInsert(spark: SparkSession, ins: InsertIntoStatement): Snapshot = {
    val (name, _, icebox, _, schema) = target(spark, ins.table)
    val statics = ins.partitionSpec.toSeq.collect { case (k, Some(v)) => k -> v }
    val src = spark.sql(MergeSql.subqueryText(ins.query))
    val destNames: Seq[String] =
      if (ins.byName) src.columns.toSeq
      else if (ins.userSpecifiedCols.nonEmpty) ins.userSpecifiedCols
      else schema.fieldNames.toSeq.filterNot(c => statics.exists(_._1.equalsIgnoreCase(c)))
    require(src.columns.length == destNames.length,
      s"INSERT supplies ${src.columns.length} columns but ${destNames.length} are expected " +
        s"(${destNames.mkString(", ")})")
    val bad = destNames.filterNot(d => schema.fieldNames.exists(_.equalsIgnoreCase(d)))
    require(bad.isEmpty, s"INSERT column(s) ${bad.mkString(", ")} do not resolve to target " +
      s"columns (${schema.fieldNames.mkString(", ")})")
    val badStatics = statics.map(_._1)
      .filterNot(k => schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    require(badStatics.isEmpty, s"INSERT PARTITION column(s) ${badStatics.mkString(", ")} " +
      s"do not resolve to target columns (${schema.fieldNames.mkString(", ")})")
    val renamed = src.toDF(destNames: _*)
    val withStatics = statics.foldLeft(renamed) { case (df, (k, v)) =>
      df.withColumn(k, lit(v))
    }
    val out = withStatics.select(schema.fields.toSeq.map { f =>
      if (withStatics.columns.exists(_.equalsIgnoreCase(f.name)))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val parts = icebox.currentPartitionSpec
    val snap =
      if (!ins.overwrite) icebox.append(out, parts)
      else if (parts.nonEmpty) icebox.overwritePartitions(out, parts)
      else icebox.overwrite(out)
    if (spark.catalog.tableExists(name)) icebox.registerView(spark, name)
    snap
  }

  // --------------------------------------------------------------- helpers

  private def target(spark: SparkSession, plan: LogicalPlan):
      (String, String, Icebox, Snapshot, StructType) = {
    val (name, alias) = MergeSql.ref(plan)
    val icebox = MergeSql.lookup(name).getOrElse(
      sys.error(s"DML target '$name' is not a registered Icebox table " +
        s"(Icebox.registerView / MergeSql.register first)"))
    val snap = icebox.currentSnapshot.getOrElse(sys.error(s"DML target '$name' is empty"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType]
    (name, alias, icebox, snap, schema)
  }

  private def split(spark: SparkSession, icebox: Icebox, snap: Snapshot,
      alias: String, cond: Column): (Seq[DataFile], Seq[DataFile]) = {
    val filtered = graft.plans.IceboxFileIndex.readSnapshot(spark, icebox, snap)
      .alias(alias).filter(cond)
    graft.plans.IceboxFileIndex.splitByPredicate(spark, icebox, snap, filtered)
  }

  private def commitAndRepoint(spark: SparkSession, name: String, icebox: Icebox,
      op: String, candidates: Seq[DataFile], untouched: Seq[DataFile],
      replacement: DataFrame, classifiedHeadId: Long): DmlResult = {
    // pass the head the classification ran against: a cross-process commit
    // landing mid-DML makes rewriteFiles throw StaleCommitState, and the
    // executeDelete/executeUpdate retry loop re-classifies from scratch
    val snap = icebox.rewriteFiles(op, candidates, replacement, icebox.currentPartitionSpec,
      expectHeadId = classifiedHeadId)
    if (spark.catalog.tableExists(name)) icebox.registerView(spark, name)
    DmlResult(snap, candidates.size, untouched.size)
  }

  /** Same guard as MergeSql: this executor re-resolves expressions outside
    * the analyzer, so a typo'd SET column must fail loudly, not no-op.
    */
  private def validateAssignments(assignments: Seq[Assignment], schema: StructType): Unit = {
    val bad = assignments.map(_.key.sql).filterNot(k => schema.fieldNames.exists(
      _.equalsIgnoreCase(k.split('.').last.stripPrefix("`").stripSuffix("`"))))
    require(bad.isEmpty,
      s"UPDATE assignment key(s) ${bad.mkString(", ")} do not resolve to target columns " +
        s"(${schema.fieldNames.mkString(", ")})")
  }

  private def assigned(assignments: Seq[Assignment], c: String): Option[Column] =
    assignments.collectFirst {
      case a if a.key.sql.split('.').last.stripPrefix("`").stripSuffix("`")
        .equalsIgnoreCase(c) => expr(a.value.sql)
    }
}
