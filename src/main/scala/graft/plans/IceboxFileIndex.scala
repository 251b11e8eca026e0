package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftDatasets, SparkSession}
import org.apache.spark.sql.functions.{col, inline}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, ExpressionSet, GenericInternalRow, IsNotNull, JoinedRow, Literal, Predicate => CatalystPredicate, Size, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, FilePartition, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.table.{DataFile, EqualityDeletes, Icebox, Snapshot}

/** Manifest-backed `FileIndex` for Icebox tables — the integration layer
  * Iceberg itself uses to plug into Spark's scan planning. With this index:
  *
  *  - '''partition pruning''' happens against the manifest's partition
  *    values (no directory listing at all — `listFiles` never touches
  *    storage), and
  *  - '''file skipping''' happens automatically for any pushed-down data
  *    filter over a stats-covered column (min/max ranges from the
  *    manifest), with no caller opt-in — `table.readIndexed(spark)
  *    .filter(...)` prunes by itself.
  *
  * Conservative everywhere: unparseable filters or missing stats keep the
  * file. The exact predicate still runs on the scan output, so pruning can
  * never change results.
  */
final class IceboxFileIndex(
    spark: SparkSession,
    table: Icebox,
    files: Seq[DataFile],
    private[graft] val schemaJson: String,
    private[graft] val snapshotId: Option[Long],
    val partitionSchema: StructType) extends FileIndex {

  /** Manifest entries backing this relation — the CBO stats bridge
    * ([[IceboxStats]]) folds row counts / min-max / NDV pointers from
    * these without any data scan.
    */
  private[graft] def manifestFiles: Seq[DataFile] = files

  /** Identity for plan-level matching (CBO stats, the MV rewrite rule):
    * which table this relation reads and, when it holds a snapshot's
    * WHOLE file set, which snapshot. A file subset (an incremental read,
    * a key-pruned read, one layout generation of a mixed snapshot) has
    * `snapshotId = None`: no snapshot-level stats describe it, and no
    * view over a snapshot may replace it.
    */
  private[graft] def tableDirString: String = table.tableDir

  override def rootPaths: Seq[HPath] = Seq(new HPath(s"${table.tableDir}/data"))

  override def refresh(): Unit = ()

  override def inputFiles: Array[String] = files.map(_.path).toArray

  override def sizeInBytes: Long = files.map(_.sizeBytes).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val byPartition = files.groupBy(_.partition)
    byPartition.toSeq.flatMap { case (pvals, fs) =>
      val row = partitionRow(pvals)
      if (!partitionMatches(partitionFilters, row)) None
      else {
        val kept = fs.filter(f => statsAdmit(dataFilters, f))
        if (kept.isEmpty) None
        else Some(PartitionDirectory(row, kept.map(toStatus).toArray))
      }
    }
  }

  private def toStatus(f: DataFile): FileStatus =
    new FileStatus(f.sizeBytes, false, 1, 128L * 1024 * 1024, 0L, new HPath(f.path))

  /** Partition values cast to the partition schema's types via Catalyst
    * `Cast` — the same string→type semantics Spark's own partition-value
    * inference uses, so Date/Timestamp/Decimal partitions round-trip
    * correctly (this row is BOTH the predicate input and the partition
    * values appended to scan output). A null value's directory segment
    * (the hive default partition name) reads back as NULL, of any type.
    * Unsupported or unparseable values fail loudly instead of silently
    * mistyping the row.
    */
  private[plans] def partitionRow(pvals: Map[String, String]): InternalRow = {
    val values = partitionSchema.fields.map { f =>
      val raw = pvals.get(f.name).orNull
      if (raw == null || raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else f.dataType match {
        case StringType => UTF8String.fromString(raw)
        case dt =>
          require(Cast.canCast(StringType, dt),
            s"unsupported partition type $dt for column ${f.name}")
          val v = Cast(Literal(UTF8String.fromString(raw), StringType), dt,
            Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(InternalRow.empty)
          if (v == null) throw new IllegalArgumentException(
            s"cannot parse partition value '$raw' as $dt for column ${f.name}")
          v
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  /** Evaluate partition filters against the partition-value row (filters
    * reference the relation's partition attributes; bind by name).
    */
  private def partitionMatches(filters: Seq[Expression], row: InternalRow): Boolean =
    filters.forall { f =>
      val bound = f.transform {
        case a: Attribute =>
          val idx = partitionSchema.fieldIndex(a.name)
          BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
      }
      try CatalystPredicate.create(bound).eval(row)
      catch { case _: Exception => true } // unbindable → keep (conservative)
    }

  /** Range-intersect simple comparison filters with the file's stats, and
    * prune HIDDEN partitions through the table's transform spec.
    */
  private def statsAdmit(filters: Seq[Expression], f: DataFile): Boolean =
    filters.forall { e => admit(e, f) && transformAdmit(e, f) }

  /** Hidden-partition pruning: a predicate on a transform's SOURCE column
    * maps the literal through the transform ([[PartitionTransform
    * .literalDirValue]]) and compares against the file's partition-dir
    * value. Equality/IN prune any transform; ranges prune only
    * order-preserving ones (days/hours/truncate). A file holds ONE dir
    * value pv per transform, and order preservation gives x ◇ lit ⇒
    * t(x) ◇ t(lit) weakly — so `a > lit` admits iff pv >= t(lit), etc.
    * Unmapped literals, missing dir values, or an unloadable spec keep the
    * file (conservative).
    */
  private lazy val transforms: Seq[graft.table.PartitionTransform] =
    try graft.table.PartitionTransform.parseSpec(
        table.properties.getOrElse("partition.spec", ""))
      .filterNot(_.isInstanceOf[graft.table.IdentityTransform])
    catch { case _: Exception => Nil }

  private def transformAdmit(e: Expression, f: DataFile): Boolean = {
    if (transforms.isEmpty) return true
    def byName(a: Attribute) = transforms.filter(_.source.equalsIgnoreCase(a.name))
    def eq(a: Attribute, l: Literal): Boolean = byName(a).forall { t =>
      (f.partition.get(t.name), t.literalDirValue(l)) match {
        case (Some(pv), Some(ev)) => pv == ev
        case _ => true
      }
    }
    // admit iff compare(pv, t(lit)) satisfies `ok`; compare is numeric when
    // the mode is "auto" and both sides parse as long, else UTF8 binary
    // order (the order the writer's lexically-sortable dir formats use)
    def rng(a: Attribute, l: Literal, ok: Int => Boolean): Boolean = byName(a).forall { t =>
      t.ordering match {
        case None => true
        case Some(mode) =>
          (f.partition.get(t.name), t.literalDirValue(l)) match {
            case (Some(pv), Some(ev)) =>
              val c =
                if (mode != "lex" && pv.toLongOption.isDefined && ev.toLongOption.isDefined)
                  java.lang.Long.compare(pv.toLong, ev.toLong)
                else UTF8String.fromString(pv).compareTo(UTF8String.fromString(ev))
              ok(c)
            case _ => true
          }
      }
    }
    e match {
      case EqualTo(a: Attribute, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a: Attribute) => eq(a, l)
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => eq(a, v.asInstanceOf[Literal]))
      case GreaterThan(a: Attribute, l: Literal)         => rng(a, l, _ >= 0)
      case GreaterThanOrEqual(a: Attribute, l: Literal)  => rng(a, l, _ >= 0)
      case LessThan(a: Attribute, l: Literal)            => rng(a, l, _ <= 0)
      case LessThanOrEqual(a: Attribute, l: Literal)     => rng(a, l, _ <= 0)
      case GreaterThan(l: Literal, a: Attribute)         => rng(a, l, _ <= 0)
      case GreaterThanOrEqual(l: Literal, a: Attribute)  => rng(a, l, _ <= 0)
      case LessThan(l: Literal, a: Attribute)            => rng(a, l, _ >= 0)
      case LessThanOrEqual(l: Literal, a: Attribute)     => rng(a, l, _ >= 0)
      case _ => true
    }
  }

  private def admit(e: Expression, f: DataFile): Boolean = {
    // numeric literals compare as exact BigDecimal against the stat strings
    // (Double would lose precision above 2^53 and wrongly skip files whose
    // long stats round together); string literals compare in UTF8String
    // order — Spark's min/max over strings is UTF8 binary order, which
    // disagrees with java.lang.String UTF-16 order for supplementary-plane
    // characters. Date and TIMESTAMP_NTZ literals compare on the epoch
    // scale after parsing the ISO stat strings — both types are ZONE-FREE,
    // so the string round-trip (LocalDate / LocalDateTime toString on the
    // stats side, days / micros in the catalyst literal) is exact; zoned
    // TimestampType stats keep the file (its stat string carries JVM-zone
    // rendering, and a cross-zone misparse would prune WRONG files, not
    // just fewer). A null literal keeps the file (conservative).
    def cmp(a: Attribute, l: Literal)(numeric: (BigDecimal, BigDecimal, BigDecimal) => Boolean)(
        str: (UTF8String, UTF8String, UTF8String) => Boolean): Boolean =
      f.stats.get(a.name) match {
        case None => true
        case _ if l.value == null => true
        case Some((mn, mx)) =>
          def ntzMicros(s: String): BigDecimal = {
            val ldt = java.time.LocalDateTime.parse(
              // scan-path stats render java.sql.Timestamp/LocalDateTime; the
              // former uses "yyyy-MM-dd HH:mm:ss[.f]", ISO wants a 'T'
              if (s.contains('T')) s else s.replaceFirst(" ", "T"))
            BigDecimal(ldt.toEpochSecond(java.time.ZoneOffset.UTC)) * 1000000 +
              BigDecimal(ldt.getNano / 1000)
          }
          l.dataType match {
            case _: NumericType =>
              try numeric(BigDecimal(mn), BigDecimal(mx), BigDecimal(l.value.toString))
              catch { case _: Exception => true }
            case StringType =>
              str(UTF8String.fromString(mn), UTF8String.fromString(mx),
                UTF8String.fromString(l.value.toString))
            case DateType =>
              try numeric(BigDecimal(java.time.LocalDate.parse(mn).toEpochDay),
                BigDecimal(java.time.LocalDate.parse(mx).toEpochDay),
                BigDecimal(l.value.asInstanceOf[Int]))
              catch { case _: Exception => true }
            case TimestampNTZType =>
              try numeric(ntzMicros(mn), ntzMicros(mx), BigDecimal(l.value.asInstanceOf[Long]))
              catch { case _: Exception => true }
            case _ => true
          }
      }
    e match {
      case GreaterThan(a: Attribute, l: Literal) =>
        cmp(a, l)((_, mx, v) => mx > v)((_, mx, v) => mx.compareTo(v) > 0)
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        cmp(a, l)((_, mx, v) => mx >= v)((_, mx, v) => mx.compareTo(v) >= 0)
      case LessThan(a: Attribute, l: Literal) =>
        cmp(a, l)((mn, _, v) => mn < v)((mn, _, v) => mn.compareTo(v) < 0)
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        cmp(a, l)((mn, _, v) => mn <= v)((mn, _, v) => mn.compareTo(v) <= 0)
      case EqualTo(a: Attribute, l: Literal) =>
        cmp(a, l)((mn, mx, v) => mn <= v && mx >= v)(
          (mn, mx, v) => mn.compareTo(v) <= 0 && mx.compareTo(v) >= 0) &&
          bloomAdmit(a, l, f)
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => admit(EqualTo(a, v.asInstanceOf[Literal]), f))
      // mirrored literal-on-left forms
      case GreaterThan(l: Literal, a: Attribute)        => admit(LessThan(a, l), f)
      case GreaterThanOrEqual(l: Literal, a: Attribute) => admit(LessThanOrEqual(a, l), f)
      case LessThan(l: Literal, a: Attribute)           => admit(GreaterThan(a, l), f)
      case LessThanOrEqual(l: Literal, a: Attribute)    => admit(GreaterThanOrEqual(a, l), f)
      case EqualTo(l: Literal, a: Attribute)            => admit(EqualTo(a, l), f)
      case _ => true // unsupported shape → keep the file
    }
  }

  /** Plan-time probe budget: each UNCACHED side-file load is one driver
    * metadata read, and on a table where min/max admits everything a point
    * lookup would probe EVERY file — O(files) object-store requests inside
    * query planning. The budget (table property `bloom.plan.max-probes`,
    * default 10k ≈ 5 TB of 512 MB files) bounds COLD loads per index
    * instance; past it, unprobed files are admitted conservatively —
    * planning stays fast and the filter still runs row-level. Cache hits
    * are free and don't consume budget, so steady-state repeated lookups
    * probe the full table once warm.
    */
  private lazy val bloomProbeBudget = new java.util.concurrent.atomic.AtomicLong(
    try table.properties.get("bloom.plan.max-probes").map(_.toLong).getOrElse(10000L)
    catch { case _: Exception => 10000L })

  /** Manifest-level bloom probe for a point lookup: a pushed
    * `col = literal` (or each IN literal) tests the file's bloom side
    * file — no false negatives, so a miss EXCLUDES the file exactly;
    * min/max can't do this for high-cardinality unsorted columns, where
    * every file's range spans the whole domain. The literal is hashed
    * with the same `xxhash64` (seed 42) the writer's build job applied to
    * the column values, on the same physical type (the pushed filter was
    * planned against the stored schema, so the types agree by
    * construction). Missing blooms, null literals, or any load failure
    * keep the file (conservative).
    */
  private def bloomAdmit(a: Attribute, l: Literal, f: DataFile): Boolean = {
    if (l.value == null) return true
    f.blooms.get(a.name) match {
      case None => true
      case Some(sha) =>
        try {
          val cached = Icebox.cachedBloom(sha)
          val bf =
            if (cached.isDefined) cached
            else if (bloomProbeBudget.getAndDecrement() > 0) table.loadBloom(sha)
            else None // budget exhausted: admit conservatively
          bf match {
            case Some(b) =>
              val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(l))
                .eval(InternalRow.empty).asInstanceOf[Long]
              b.mightContainLong(h)
            case None => true
          }
        } catch { case _: Exception => true }
    }
  }
}

object IceboxFileIndex {

  private def nullable(st: StructType): StructType =
    StructType(st.fields.map { f =>
      f.dataType match {
        case s: StructType => f.copy(dataType = nullable(s), nullable = true)
        case a: ArrayType  => f.copy(dataType = a.copy(containsNull = true), nullable = true)
        case m: MapType    => f.copy(dataType = m.copy(valueContainsNull = true), nullable = true)
        case _             => f.copy(nullable = true)
      }
    })

  /** A DataFrame over the table's current snapshot through the manifest
    * index: every filter gets partition pruning + stats skipping in the
    * planner, like a native table format.
    */
  def readIndexed(spark: SparkSession, table: Icebox): DataFrame =
    readSnapshot(spark, table,
      table.currentSnapshot.getOrElse(sys.error(s"no table at ${table.tableDir}")))

  /** Same, pinned to an arbitrary snapshot (time travel reads plan through
    * the same index). Partition columns come from the snapshot's own files,
    * so an old snapshot with a different layout still reads correctly.
    */
  def readSnapshot(spark: SparkSession, table: Icebox, snap: Snapshot): DataFrame =
    scan(spark, table, snap.files, snap.schemaJson, Some(snap.id))

  /** Position hook of [[scan]]: each row's `_metadata.file_path` and
    * `_metadata.row_index` are kept as `fpCol`/`posCol` next to the logical
    * columns, and `before` runs per layout generation over the still
    * physically named rows, before the files' own deletes apply — the
    * place for a caller's own extra delete logic (e.g. keeping only the
    * rows that newly attached delete files remove). A selective hook runs
    * first, so the deletes are tested only on the rows it keeps; row
    * filters commute, so the rows are the same either way.
    */
  private[graft] final case class Positions(fpCol: String, posCol: String,
      before: (DataFrame, Seq[DataFile]) => DataFrame = (df, _) => df)

  /** `files` grouped by directory-layout generation, each with its
    * partition schema taken from `full` (physical names). Partition-spec
    * evolution leaves files of several generations live at once, each
    * generation with its own partition keys; hidden (transform-derived)
    * partition dirs are not schema columns and stay out of the partition
    * schema. No files is one empty generation.
    */
  private def generations(files: Seq[DataFile],
      full: StructType): Seq[(Seq[DataFile], StructType)] = {
    val gens = if (files.isEmpty) Seq(files) else files.groupBy(_.partition.keys.toSet).values.toSeq
    gens.map { g =>
      val partCols = g.headOption.toSeq.flatMap(_.partition.keys).sorted
        .filter(full.fieldNames.contains)
      (g, StructType(partCols.map(c => full(c))))
    }
  }

  /** The one way Icebox opens its data files: any file set of the table —
    * a whole snapshot, an incremental delta, a key-pruned subset, DML
    * candidates — read with `schemaJson` (the snapshot schema the files
    * belong to). One relation per layout generation (so each keeps its
    * own partition pruning; the generation count is the number of spec
    * changes since the last full compaction, i.e. small), position and
    * equality deletes applied per generation, physical names aliased back
    * to logical ones, generations unioned. Opening the data files lists no
    * storage and runs no Spark job; only delete files, when any are
    * attached, are read while the plan is built.
    *
    * `snapshotId` names the snapshot when `files` is its whole file set;
    * the relation then carries that identity (CBO stats, MV rewrite) and
    * may declare a bucketed scan. Only a relation that holds every file
    * of the snapshot carries it — one generation of a mixed snapshot is a
    * subset like any other.
    *
    * '''Small subsets are read on the driver.''' A file subset
    * (`snapshotId = None`: both sides of a change diff and its
    * delete-growth pairs, `readForKeysAt`, copy-on-write and MERGE
    * candidates, `changesSince`, compaction's hot files) is read while the
    * plan is built, one generation at a time, when the manifest proves the
    * generation small ([[readOnDriver]]). Its rows become a
    * LocalRelation, so the delete filters above fold into it, and an
    * aggregate, union or except over it folds on the driver
    * ([[LocalAggregateFold]]) instead of running Spark jobs for a few
    * hundred rows. The bound adds no knob; it is two limits that already
    * exist:
    *  - at most [[EqualityDeletes.EqKeyCacheMaxRows]] rows by the
    *    manifest's counts, the cap on every relation the engine holds on
    *    the driver (a file with no recorded count never qualifies);
    *  - at most one scan partition of bytes by Spark's own split cost:
    *    Σ(file bytes + `spark.sql.files.openCostInBytes`) ≤
    *    `spark.sql.files.maxPartitionBytes`, about 31 small files at the
    *    defaults: no more than Spark packs into one scan partition. Past
    *    that, one driver thread reading every file costs more than the
    *    job it saves.
    * The rows are read by the relation's own format reader, with the same
    * partition values and the same `_metadata.file_path` / `row_index`
    * rendering, so deletes and positions match either way. The rows keep
    * the file scan's partitions ([[readOnDriver]]), so a write fed by the
    * read lays out the files the scan would have; the fold rule looks
    * through that packing. A snapshot read never goes to the driver: the CBO stats
    * ([[IceboxStats]]) and the view rewrite (`MvRewriteRule`) match its
    * `HadoopFsRelation`.
    */
  private[graft] def scan(spark: SparkSession, table: Icebox, files: Seq[DataFile],
      schemaJson: String, snapshotId: Option[Long] = None,
      positions: Option[Positions] = None): DataFrame = {
    // nullable-normalize like DataFrameReader does to user schemas — files
    // written before a column was added must read as nulls, not fail. The
    // RELATION uses physical names (files and partition dirs store those);
    // the final projection aliases back to the logical names, and Catalyst
    // rewrites pushed filters through the aliases — pruning below sees
    // physical names only.
    val logical = nullable(DataType.fromJson(schemaJson).asInstanceOf[StructType])
    val full = Icebox.physicalSchema(logical)
    val gens = generations(files, full)
    val (fp, pos) = positions.fold(("__icx_fp", "__icx_pos"))(p => (p.fpCol, p.posCol))
    val out = logical.fields.toSeq.map(f => col(Icebox.physicalName(f)).as(f.name)) ++
      positions.toSeq.flatMap(_ => Seq(col(fp), col(pos)))
    gens.map { case (g, partSchema) =>
      val dataSchema = StructType(full.fields.filterNot(f => partSchema.fieldNames.contains(f.name)))
      val index = new IceboxFileIndex(spark, table, g, schemaJson,
        if (gens.size == 1) snapshotId else None, partSchema)
      // merge-on-read: position- and equality-deleted rows go away here
      // (no extra plan when no file carries a delete and no caller asked
      // for positions)
      val withDeletes = positions.nonEmpty || g.exists(f => f.deletes.nonEmpty || f.eqDeletes.nonEmpty)
      val local = if (snapshotId.isEmpty) readOnDriver(spark, index, g, dataSchema,
        Option.when(withDeletes)((fp, pos))) else None
      val base = local.getOrElse(relation(spark, index, dataSchema,
        if (snapshotId.isDefined) bucketSpecFor(table, g, dataSchema) else None))
      val live =
        if (!withDeletes) base
        else {
          val withPos = if (local.isDefined) base
            else base.select(col("*"), col("_metadata.file_path").as(fp),
              col("_metadata.row_index").as(pos))
          Icebox.applyDeletes(spark, positions.fold(withPos)(_.before(withPos, g)), g, fp, pos)
        }
      live.select(out: _*)
    }.reduce(_.unionByName(_))
  }

  /** `files` (one layout generation, `index`'s) read on the driver when
    * the manifest proves them small (see [[scan]]): the `dataSchema`
    * columns, the partition columns and, when `posCols` names them, each
    * row's file path and row index, rendered as `_metadata.file_path` and
    * `_metadata.row_index` render them. The rows sit in a LocalRelation
    * packed one array per partition the file scan would have, in its
    * order, under an `inline` ([[LocalAggregateFold.packed]]), so a plan
    * that does not fold runs each scan partition's rows as one task, as
    * the scan would. None over the bound.
    */
  private def readOnDriver(spark: SparkSession, index: IceboxFileIndex, files: Seq[DataFile],
      dataSchema: StructType, posCols: Option[(String, String)]): Option[DataFrame] = {
    val conf = spark.sessionState.conf
    if (files.exists(_.rows < 0) || files.map(_.rows).sum > EqualityDeletes.EqKeyCacheMaxRows ||
        files.map(_.sizeBytes + conf.filesOpenCostInBytes).sum > conf.filesMaxPartitionBytes)
      return None
    val partSchema = index.partitionSchema
    lazy val reader = new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
      partSchema, dataSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val schema = StructType(dataSchema.fields ++ partSchema.fields ++ posCols.toSeq.flatMap {
      case (fp, pos) => Seq(StructField(fp, StringType, nullable = false),
        StructField(pos, LongType, nullable = false)) })
    val toRow = UnsafeProjection.create(schema)
    def rowsOf(pf: PartitionedFile): Iterator[InternalRow] = {
      val extra = new GenericInternalRow(Array[Any](UTF8String.fromString(pf.filePath.toString), 0L))
      val joined = new JoinedRow()
      var i = -1L
      reader(pf).map { r =>
        i += 1
        if (posCols.isEmpty) toRow(r).copy()
        else { extra.setLong(1, i); toRow(joined(r, extra)).copy() }
      }
    }
    // whole files, largest first, packed into partitions as the file scan
    // packs them
    val split = files.map(f => PartitionedFile(index.partitionRow(f.partition),
      SparkPath.fromPath(new HPath(f.path)), 0L, f.sizeBytes, Array.empty[String], 0L, f.sizeBytes))
      .sortBy(-_.length)
    val partitions = if (split.isEmpty) Nil else FilePartition.getFilePartitions(spark, split,
      FilePartition.maxSplitBytes(spark, index.listFiles(Nil, Nil)))
    val packed = AttributeReference("rows", ArrayType(schema, containsNull = false),
      nullable = false)()
    val data = partitions.map(_.files.iterator.flatMap(rowsOf).toArray[Any]).filter(_.nonEmpty)
      .map(rows => InternalRow(new GenericArrayData(rows)))
    Some(GraftDatasets.ofRows(spark, new DriverRead(Seq(packed), data)(files.map(_.path)))
      .select(inline(col("rows"))))
  }

  /** The packed rows of a driver read ([[readOnDriver]]): a LocalRelation
    * that reports the files it holds as a file scan does (`Dataset.inputFiles`,
    * e.g. to audit pruning), and declares that each packed array is
    * non-null and non-empty, so Spark infers no filter above it that would
    * fold it into a plain LocalRelation. A plan the fold rule folds reads
    * no file when it runs, and reports none.
    */
  private final class DriverRead(output: Seq[Attribute], data: Seq[InternalRow],
      isStreaming: Boolean = false, stream: Option[SparkDataStream] = None)(val files: Seq[String])
      extends LocalRelation(output, data, isStreaming, stream) with FileRelation {
    override def inputFiles: Array[String] = files.toArray
    override protected def otherCopyArgs: Seq[AnyRef] = files :: Nil
    override lazy val validConstraints: ExpressionSet = ExpressionSet(
      output.flatMap(a => Seq(IsNotNull(a), GreaterThan(Size(a), Literal(0)))))
  }

  /** `files` as stored: the physical columns of `schemaJson` that the
    * files hold (every column but their partition keys), with no
    * partition columns and no deletes applied. Like [[scan]], it lists no
    * storage and infers no schema: the manifest knows both.
    */
  private[graft] def rawScan(spark: SparkSession, table: Icebox, files: Seq[DataFile],
      schemaJson: String): DataFrame = {
    val partCols = files.flatMap(_.partition.keys).map(_.toLowerCase).toSet
    val full = Icebox.physicalSchema(nullable(DataType.fromJson(schemaJson).asInstanceOf[StructType]))
    relation(spark, new IceboxFileIndex(spark, table, files, schemaJson, None, StructType(Nil)),
      StructType(full.fields.filterNot(f => partCols(f.name.toLowerCase))), None)
  }

  private def relation(spark: SparkSession, index: IceboxFileIndex, dataSchema: StructType,
      bucketSpec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark))

  /** Split `snap`'s files by whether they may hold rows matching the filter
    * in `filtered` (a DataFrame whose plan contains the predicate over this
    * snapshot's read): returns `(candidates, untouched)`. Classification
    * reuses the index's own planning logic, per layout generation —
    * conjuncts referencing only that generation's partition columns prune
    * via manifest partition values, the rest via manifest min/max stats;
    * unparseable conjuncts or missing stats keep the file in `candidates`
    * (conservative, so a copy-on-write DELETE / UPDATE that rewrites only
    * `candidates` is always correct).
    */
  def splitByPredicate(spark: SparkSession, table: Icebox, snap: Snapshot,
      filtered: DataFrame): (Seq[DataFile], Seq[DataFile]) = {
    import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CatalystAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val preds = filtered.queryExecution.optimizedPlan.collect {
      case f: LogicalFilter => conjuncts(f.condition)
    }.flatten
    val full = Icebox.physicalSchema(
      nullable(DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]))
    val kept = generations(snap.files, full).flatMap { case (g, partSchema) =>
      val index = new IceboxFileIndex(spark, table, g, snap.schemaJson, None, partSchema)
      val (partFilters, dataFilters) = preds.partition(p => p.references.nonEmpty &&
        p.references.forall(a => partSchema.fieldNames.contains(a.name)))
      index.listFiles(partFilters, dataFilters).flatMap(_.files.map(_.getPath.toString))
    }.toSet
    snap.files.partition(f => kept(new HPath(f.path).toString))
  }

  /** BUCKETED (shuffle-free) reads: when the table's spec carries exactly
    * one `bucket(n, col)` transform and EVERY live data file's name parses
    * that file's bucket id (named so at creation — see
    * `DataFileCommitter`), the relation declares a V1
    * `BucketSpec(n, col)`. The scan then reports
    * `HashPartitioning(col, n)` — bit-identical to the dir derivation
    * `pmod(hash(col), n)` — so a join of two tables co-bucketed on the
    * join key, or a `groupBy(col)`, plans with NO Exchange on this side:
    * the shuffle that dominates a 100 TB join simply disappears. Any
    * doubt (multiple transforms, a file whose name or dir doesn't parse,
    * mixed generations, `read.bucketed.enabled=false`) falls back to a
    * plain scan — the gate can only withhold the optimization, never
    * produce a wrong plan. Bucket pruning on `col = lit` filters comes
    * free from Spark's own bucketed-scan machinery.
    */
  private def bucketSpecFor(table: Icebox, files: Seq[DataFile],
      dataSchema: StructType): Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    if (table.properties.get("read.bucketed.enabled").contains("false")) return None
    val bts =
      try table.partitionSpec.collect { case b: graft.table.BucketTransform => b }
      catch { case _: Exception => Nil }
    if (bts.size != 1) return None
    val b = bts.head
    val phys = table.toPhysical(b.source)
    if (!dataSchema.fieldNames.contains(phys)) return None
    val allStamped = files.nonEmpty && files.forall { f =>
      f.partition.get(b.name).flatMap(_.toIntOption).exists(dirId =>
        dirId >= 0 && dirId < b.n &&
          Icebox.bucketIdFromName(new HPath(f.path).getName).contains(dirId))
    }
    if (allStamped) {
      // SORTED buckets: `write.sort.columns` sorts every task's output
      // before the write and compaction honors the declared order, so each
      // data FILE is individually sorted. Declaring the sort here lets a
      // merge join skip its SortExec entirely — but only when Spark's own
      // guards hold: at most ONE file per bucket (compact first) and the
      // user's explicit opt-in conf
      // `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (the
      // double opt-in mirrors Hive sorted-bucketed tables; with >1 file
      // per bucket Spark ignores the ordering and sorts as usual).
      val sortCols = table.properties.get("write.sort.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        .map(table.toPhysical).filter(dataSchema.fieldNames.contains)
      Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(b.n, Seq(phys), sortCols))
    } else None
  }
}
