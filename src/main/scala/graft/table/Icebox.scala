package graft.table

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StringType, StructField, StructType}
import graft.plans.IceboxFileIndex

/** One committed table state: an immutable file manifest + lineage.
  *
  * The Spark-native analog of an Iceberg snapshot
  * (reference walks the snapshot parent chain the same way:
  * airflow-plugins/maintenance/iceberg_snapshot_operator.py:130-156).
  *
  * `files` is LAZY: on disk each commit stores only its delta
  * (added files + removed paths) against the parent, and the live file set
  * is reconstructed on first access by replaying the delta chain from the
  * nearest full manifest (then cached in the owning [[Icebox]] handle).
  * Metadata-only consumers (`snapshotsDf`, lineage walks) should use
  * `fileCount`/`totalBytes`, which are recorded in every manifest and never
  * force reconstruction.
  */
final class Snapshot private[table] (
    val id: Long,
    val parentId: Long,                     // -1 = root
    val timestampMs: Long,
    val operation: String,                  // append | overwrite | upsert | compact | rollback | cherrypick
    val schemaJson: String,
    val fileCount: Long,
    val totalBytes: Long,
    filesThunk: () => Seq[DataFile]) {
  lazy val files: Seq[DataFile] = filesThunk()
  override def toString: String =
    s"Snapshot(id=$id, parent=$parentId, op=$operation, files=$fileCount)"
}

object Snapshot {
  def apply(id: Long, parentId: Long, timestampMs: Long, operation: String,
      files: Seq[DataFile], schemaJson: String): Snapshot =
    new Snapshot(id, parentId, timestampMs, operation, schemaJson,
      files.size.toLong, files.map(_.sizeBytes).sum, () => files)
}

/** One data file plus its identity-partition values and optional per-column
  * min/max statistics (Iceberg-style file-level metadata — enables manifest
  * pruning and file skipping without touching storage).
  * `stats` values are stored as strings and compared numerically by
  * `prunedFilesByStats` (numeric columns only).
  * `deletes` lists POSITION-DELETE files (Iceberg v2 merge-on-read analog)
  * applying to this data file: each is a parquet file of
  * `(file_path, pos)` rows; readers anti-join them away.
  * `eqDeletes` lists EQUALITY-DELETE files (Iceberg v2's other delete
  * type): each is a parquet file whose SCHEMA names the equality columns
  * and whose rows are the deleted key tuples. Applicability is the attach
  * list itself — a delete file committed at snapshot N is attached only to
  * files that already existed at N (minus stats-pruned ones), so rows
  * appended later — including by the same upsert commit — are never
  * affected (Iceberg's sequence-number semantics, carried per file).
  * Stats/row counts describe the BASE file (a superset — still
  * conservative for pruning).
  */
final case class DataFile(path: String, sizeBytes: Long, partition: Map[String, String],
    stats: Map[String, (String, String)] = Map.empty, rows: Long = -1L,
    deletes: Seq[String] = Nil, eqDeletes: Seq[String] = Nil,
    blooms: Map[String, String] = Map.empty,
    sketches: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty,
    // exact count of this file's rows removed by its attached position-
    // delete files (positions are per-file distinct at write; in-process
    // commits serialize on the handle). -1 = unknown (manifest written
    // before counts were recorded) — consumers refuse, never estimate.
    // Always 0 when `deletes` is empty; equality deletes are NOT counted
    // here (their matched cardinality genuinely needs a scan).
    deleteRows: Long = 0L)

/** "Icebox" — a minimal snapshot-logged table format over plain parquet.
  *
  * The environment ships no `iceberg-spark-runtime` jar, so the reference's
  * Iceberg capabilities (append/overwrite writes W1-W4, snapshot listing M3/M4,
  * rollback M5, cherry-pick M6, expiry M2, compaction M1, time-travel reads
  * P6/C3) are re-implemented as a thin driver-side metadata layer:
  *
  * {{{
  * tableDir/
  *   _snapshots/<id>.json                 one manifest per commit (append-only)
  *   _current                             text file holding the current snapshot id
  *   data/graft_commit=<id>/[k=v/...]part-*.parquet
  *   deletes/<delete|eqdelete>-<id>/part-*.parquet   one merge-on-read delete file
  * }}}
  *
  * '''O(delta) manifests.''' A commit's manifest stores only the files it
  * ADDED and the paths it REMOVED relative to its parent (plus a running
  * `fileCount`/`totalBytes` so listings never force reconstruction); the
  * live file set is rebuilt lazily by replaying the chain from the nearest
  * FULL manifest and cached per handle. A full manifest is written whenever
  * the delta would not be smaller than the full list (overwrite, compact,
  * rollback of a small table) and, Delta-Lake-checkpoint-style, at least
  * every `MaxDeltaChain` commits (`checkpoint.interval`), which bounds
  * reconstruction at O(MaxDeltaChain) manifest reads. Without this, a
  * 5-minute CDC cadence on a ~200k-file table would re-serialize tens of
  * MB of JSON per commit and every history walk would re-parse all of it —
  * commit cost must scale with the CHANGE, not the table.
  *
  * '''Sharded checkpoints''' (Iceberg's manifest-list move): above
  * `checkpoint.shard.threshold` live files a full checkpoint is written as
  * per-partition shard files under `_snapshots/shards/<sha256>.json`,
  * content-addressed — an untouched partition serializes to the same bytes,
  * so its shard is re-REFERENCED, not rewritten. On a 100 TB / 200k-file
  * table a checkpoint after a few-partition commit writes O(touched
  * partitions) shard bytes instead of the full list, and a cold
  * partition-scoped read ([[prunedFiles]]/[[readPartitions]]) parses only
  * the matching shards plus the delta chain. Shards shared across
  * checkpoints are GC'd by [[expireSnapshots]] only when NO surviving
  * manifest references them.
  *
  * '''Atomic commit''' ([[IceboxCommit]]; SURVEY §7.4 highest-risk component): data files are
  * written to a fresh `data/graft_commit=<id>/` dir, the snapshot JSON is
  * written, and only then is `_current` flipped via write-temp + atomic rename.
  * A crash at any earlier point leaves the table at its previous snapshot;
  * manifests not reachable from `_current` via the parent chain are treated as
  * uncommitted garbage (never read) and collected by [[IceboxCommit.reclaim]]
  * (`expireSnapshots`, `removeOrphans`). (On a
  * real cluster `_current` lives on HDFS where rename is equally atomic; S3
  * deployments would swap this for a conditional-PUT — driver-side metadata is
  * tiny either way, data files are never rewritten in place.)
  *
  * '''One manifest-backed scan for every file set.''' Full reads, time
  * travel, incremental reads, diffs, key-pruned reads and DML candidate reads
  * all open their files through [[graft.plans.IceboxFileIndex.scan]]: the
  * relation lists exactly the manifest's files (no storage listing, no Spark
  * job to build it), so files from thousands of commits still plan a single
  * scan node per layout generation. Partition values come from the manifest
  * and are typed by the snapshot's recorded schema (no re-inference: a
  * string partition value "01" stays "01"), and that schema is the read
  * schema, so files missing a newly added column read as nulls. The
  * `graft_commit=<id>` dir segment only keeps commits' files apart on
  * storage; no read sees it as a column.
  *
  * Scale note: the reconstructed manifest lists file paths only; a 100 TB
  * table at 512 MB/file is ~200k entries — a few MB on the driver (held in
  * a small LRU, not per snapshot), and `prunedFiles` prunes by partition
  * before Spark ever lists storage.
  */
final class Icebox(val tableDir: String) {

  import Icebox.{CommitCol, unescapePathSegment}

  private[table] val mapper = new ObjectMapper()

  /** All metadata/maintenance I/O resolves through the Hadoop FileSystem
    * API from the table URI ([[TableStore]]): `tableDir` may be a plain
    * local path, `file://`, `hdfs://`, `s3a://`, or any registered scheme.
    * Lazy — resolved once per handle against the active session's Hadoop
    * conf (so `spark.hadoop.*` settings and runtime-registered schemes
    * apply).
    */
  private[table] lazy val store: TableStore = new TableStore(new HPath(tableDir),
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  private[table] def snapshotsDir: HPath = store.child("_snapshots")
  private[table] def currentPtr: HPath = store.child("_current")
  private[table] def dataDir: HPath = store.child("data")
  private[table] def deletesDir: HPath = store.child("deletes")
  private[table] def manifestPath(id: Long): HPath = new HPath(snapshotsDir, s"$id.json")
  private[table] def shardsDir: HPath = new HPath(snapshotsDir, "shards")
  private def shardPath(sha: String): HPath = new HPath(shardsDir, s"$sha.json")
  private[table] def bloomsDir: HPath = new HPath(snapshotsDir, "blooms")
  private def bloomPath(sha: String): HPath = new HPath(bloomsDir, s"$sha.bloom")
  private[table] def sketchesDir: HPath = new HPath(snapshotsDir, "sketches")
  private def sketchPath(sha: String): HPath = new HPath(sketchesDir, s"$sha.hll")

  /** Parsed manifests, keyed by snapshot id. Manifests are immutable once
    * committed (CREATE_NEW; the expiry rebase replaces a manifest with a
    * content-equivalent full form), so caching across the handle's lifetime
    * is safe and makes chain walks O(1) parse after first touch.
    */
  private[table] val manifestCache = new java.util.concurrent.ConcurrentHashMap[Long, Icebox.Manifest]()

  /** Reconstructed live file sets, small access-order LRU: the head is hit
    * on every commit/read; history walks (expiry, time travel) churn the
    * tail. Bounded so a long history never holds O(snapshots × files).
    */
  private[table] val filesCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Long, Seq[DataFile]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Seq[DataFile]]): Boolean =
        size > 4
    })

  /** Parsed checkpoint shards, keyed by content hash (immutable by
    * construction — content addressing means a sha never changes meaning).
    * Consecutive checkpoints share most shards, so this turns the common
    * "resolve head after a small commit" into O(touched shards) reads.
    */
  private val shardCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[DataFile]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Seq[DataFile]]): Boolean =
        size > 256
    })

  // ---------------------------------------------------------------- metadata

  private[table] def propsPath: HPath = store.child("_properties.json")

  /** The commit unit: every metadata mutation of this table goes through it. */
  private[table] lazy val commits = new IceboxCommit(this)

  /** Iceberg-style table properties (flat string map). Recognized keys:
    * `write.bloom.columns` — comma-separated columns for which every data
    * write records a parquet BLOOM FILTER (footer-level; Spark's reader
    * then skips row groups on pushed equality predicates over those
    * columns — the point-lookup complement to min/max stats, which are
    * useless for high-cardinality unsorted columns at 100 TB);
    * `manifest.bloom.columns` — comma-separated columns for which every
    * commit ALSO records a per-file bloom filter as a content-addressed
    * side file under `_snapshots/blooms/` (pointer in the manifest entry).
    * Parquet footer blooms still require opening every file's footer at
    * scan time; the manifest index prunes files at PLANNING time with no
    * data-file I/O at all — point lookups and equality-delete attach
    * lists on unsorted keys go from O(files) to O(matching files) (Hudi's
    * metadata-table bloom index is the same trade). Sticky per column
    * like stats. `manifest.bloom.fpp` — false-positive rate (default
    * 0.03 ≈ 0.9 bytes/row/column of side-file metadata);
    * `write.compression` — parquet codec (default zstd).
    */
  def properties: Map[String, String] = {
    if (!store.exists(propsPath)) return Map.empty
    val node = mapper.readTree(store.readBytes(propsPath))
    val out = Map.newBuilder[String, String]
    node.properties().iterator().asScala.foreach(e => out += e.getKey -> e.getValue.asText)
    out.result()
  }

  /** Merge `kv` into the table properties. Concurrency-safe ACROSS handles
    * and processes, not just within one: the read-merge-write runs under
    * the table lock ([[IceboxCommit.updateProperties]]), so two concurrent
    * setProperties calls serialize instead of losing one's update.
    */
  def setProperties(kv: Map[String, String]): Unit = commits.updateProperties(_ ++ kv)

  /** Remove table properties (no-op for absent keys). Same locking as
    * [[setProperties]].
    */
  def removeProperties(keys: Seq[String]): Unit = commits.updateProperties(_ -- keys)

  /** Remove `remove` and merge `set` in ONE locked read-merge-write — for
    * key-set swaps (e.g. re-recording an index's residual references)
    * where a crash between a separate remove and set would leave a
    * half-cleared state that reads as "never recorded".
    */
  def replaceProperties(remove: Seq[String], set: Map[String, String]): Unit =
    commits.updateProperties(p => (p -- remove) ++ set)

  /** Count of fsync-bearing publication events performed THROUGH THIS
    * HANDLE: successful snapshot publications and fast-forwards (each = a
    * lock claim + head CAS, plus a manifest write for a new snapshot) and
    * standalone property writes (each = a lock claim + props replace). Diagnostic — specs assert commit budgets
    * (e.g. the dedup ingest's ≤2-commits-per-wave contract) against it;
    * never persisted, never read by any operator.
    */
  private[graft] val commitEvents = new java.util.concurrent.atomic.AtomicLong(0L)

  def exists: Boolean = store.exists(currentPtr)

  /** Metadata-only COUNT(*): the sum of per-file row counts recorded in the
    * manifest at write time (parquet footer block counts — exact, not an
    * estimate). `None` when any live file predates row-count recording
    * (pre-round-6 manifests); callers fall back to a scan. At 100 TB this
    * answers the most common query ever issued without touching a byte of
    * data — Iceberg's metadata-query behavior.
    */
  def rowCount: Option[Long] = currentSnapshot.map(_.files).flatMap { fs =>
    // equality deletes make the manifest count an upper bound (matched
    // cardinality needs a scan) — fall back. POSITION deletes subtract
    // exactly: manifests record per-file attached-position counts
    // (DataFile.deleteRows); only legacy manifests (deleteRows = -1,
    // written before counts were recorded) still fall back.
    if (fs.forall(_.rows >= 0L) && fs.forall(_.eqDeletes.isEmpty) &&
        fs.forall(_.deleteRows >= 0L))
      Some(fs.map(f => f.rows - f.deleteRows).sum)
    else None
  }

  /** Metadata-only MIN/MAX (the [[rowCount]] analog for extrema): folds
    * the per-file min/max recorded in the manifest — zero data I/O.
    * `None` unless EVERY live file carries a numeric stat for the column
    * and no file has pending position/equality deletes (a delete may
    * remove the extremum — callers fall back to a scan, conservative).
    * Stats skip nulls at collection, matching SQL MIN/MAX semantics. At
    * 100 TB this answers a full-table MIN/MAX from manifests alone.
    */
  def columnMinMaxMeta(column: String): Option[(Double, Double)] =
    minMaxMeta(column)(s => scala.util.Try(s.toDouble).toOption)(_ min _, _ max _)

  // ----------------------------------------------------- NDV sketch index

  private def rollupProp(physCol: String) = s"sketch.ndv.rollup.$physCol"

  /** `ANALYZE TABLE`'s engine: build per-file NDV (HyperLogLog) sketches
    * for `columns` — side files under `_snapshots/sketches/`, pointers in
    * the manifest — then fold them into ONE table-level rollup sketch per
    * column, cached as a side file keyed to the snapshot it describes.
    *
    * O(delta) everywhere: only files MISSING a sketch are read (a second
    * ANALYZE after an append scans just the new files — and commits made
    * after the first ANALYZE sketch their own files inline, making the
    * re-ANALYZE metadata-only), and the rollup refresh reuses the previous
    * rollup when the old snapshot's files all survive (pure appends),
    * folding only the new files' sketches. Compaction rewrites rows
    * unchanged, so surviving rollups stay valid; copy-on-write DELETE
    * rewrites files, which invalidates the subset check and forces a full
    * per-file re-fold — never a stale estimate.
    */
  def analyze(spark: SparkSession, columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "ANALYZE needs at least one column")
    val existing = properties.get("sketch.ndv.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val phys = columns.map(toPhysical)
    val merged = (existing ++ phys).distinct
    setProperties(Map("sketch.ndv.columns" -> merged.mkString(",")))
    val snap = currentSnapshot.getOrElse(return) // empty table: sticky property only
    val missing = snap.files.filter(f => phys.exists(c => !f.sketches.contains(c)))
    if (missing.nonEmpty) {
      val sketched = sideData(spark, missing, snap.schemaJson, properties, Nil, Nil, phys)
      // schema rides the RESOLVED parent, not the pre-scan snapshot: an
      // ALTER TABLE landing during the (potentially long) sketch pass must
      // not be reverted by this metadata-only commit
      commits.publish("analyze", parent => parent.map(_.files).getOrElse(Nil).map(sketched),
        parent => parent.map(_.schemaJson).getOrElse(snap.schemaJson))
    }
    phys.foreach(refreshRollup)
    // the sketch build's reads cached pre-NDV stats for this snapshot
    graft.plans.IceboxStats.invalidate(tableDir)
  }

  /** Fold the current snapshot's per-file sketches for `physCol` into a
    * table-level rollup side file + `sketch.ndv.rollup.<col>` property
    * (`<snapshotId>:<sha>`), reusing the previous rollup incrementally
    * when every file it covered is still live.
    */
  private def refreshRollup(physCol: String): Unit = {
    val snap = currentSnapshot.getOrElse(return)
    val fs = snap.files
    if (fs.exists(f => !f.sketches.contains(physCol))) return // not fully covered
    val prev = properties.get(rollupProp(physCol)).flatMap { v =>
      v.split(':') match {
        case Array(sid, sha) => scala.util.Try(sid.toLong).toOption.map(_ -> sha)
        case _ => None
      }
    }
    if (prev.exists(_._1 == snap.id)) return // already current
    def fold(shas: Seq[String], seed: Option[Array[Byte]]): Option[Array[Byte]] = {
      val loaded = shas.map(loadSketch)
      if (loaded.exists(_.isEmpty)) None
      else if (loaded.isEmpty) seed.map(_.clone())
      else {
        val init = seed.getOrElse(loaded.head.get).clone() // never mutate cached bytes
        // mixed sketch.ndv.precision across commits → no rollup (None),
        // same refusal contract as a missing sketch — never a throw
        if ((loaded.flatten :+ init).map(graft.functions.Hll.precision).distinct.size != 1)
          None
        else Some(loaded.flatten.foldLeft(init)(graft.functions.Hll.merge))
      }
    }
    val mergedOpt = prev match {
      case Some((oldId, oldSha)) =>
        // incremental when the old snapshot's files all survive (appends /
        // metadata commits since); otherwise full re-fold
        val oldPaths = scala.util.Try(snapshot(oldId).files.map(_.path).toSet).toOption
        val curPaths = fs.map(_.path).toSet
        oldPaths match {
          case Some(op) if op.subsetOf(curPaths) =>
            val newShas = fs.filterNot(f => op(f.path)).flatMap(_.sketches.get(physCol))
            loadSketch(oldSha).map(_.clone()).flatMap(seed => fold(newShas, Some(seed)))
              .orElse(fold(fs.flatMap(_.sketches.get(physCol)), None))
          case _ => fold(fs.flatMap(_.sketches.get(physCol)), None)
        }
      case None => fold(fs.flatMap(_.sketches.get(physCol)), None)
    }
    mergedOpt.foreach { bytes =>
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
      store.mkdirs(sketchesDir)
      // content-addressed: racing writers produce identical bytes, so a
      // plain atomic replace needs no claim ceremony
      if (!store.exists(sketchPath(sha))) store.atomicReplace(sketchPath(sha), bytes)
      setProperties(Map(rollupProp(physCol) -> s"${snap.id}:$sha"))
    }
  }

  /** Approximate COUNT(DISTINCT `column`) from the manifest NDV index with
    * ZERO data-file I/O: one rollup side-file read when the cached rollup
    * matches the current snapshot, else a fold over the per-file sketch
    * side files. None when the index can't answer soundly: a file without
    * a sketch, or pending merge-on-read deletes (a removed value would
    * still be counted — same refusal contract as [[columnMinMaxMeta]]).
    * Standard error 1.04/sqrt(2^p) ≈ 1.6% at the default p=12.
    */
  def approxCountDistinctMeta(column: String): Option[Long] = {
    val key = toPhysical(column)
    currentSnapshot.flatMap { snap =>
      val fs = snap.files
      if (fs.exists(f => f.deletes.nonEmpty || f.eqDeletes.nonEmpty)) None
      else if (fs.isEmpty) Some(0L)
      else properties.get(rollupProp(key)) match {
        case Some(v) if v.split(':').headOption.flatMap(s =>
            scala.util.Try(s.toLong).toOption).contains(snap.id) =>
          loadSketch(v.split(':')(1)).map(graft.functions.Hll.estimate)
        case _ =>
          val shas = fs.map(_.sketches.get(key))
          if (shas.exists(_.isEmpty)) None
          else {
            val loaded = shas.flatten.map(loadSketch)
            if (loaded.exists(_.isEmpty)) None
            else {
              // files sketched under different sketch.ndv.precision values
              // (property changed between commits) can't be merged — treat
              // mixed-precision coverage like a missing sketch, not a crash
              val ps = loaded.flatten.map(graft.functions.Hll.precision).distinct
              if (ps.size != 1) None
              else Some(graft.functions.Hll.estimate(
                loaded.flatten.foldLeft(graft.functions.Hll.empty(ps.head))(
                  graft.functions.Hll.merge)))
            }
          }
      }
    }
  }

  /** Equi-width HISTOGRAM stats for a numeric column: bucket bounds are
    * FIXED from the manifest's min/max (so the arithmetic is exact and
    * data-independent — bucket counts are plain integers any engine can
    * replicate), one scan counts rows per bucket, and the result persists
    * in table properties keyed to the snapshot it describes
    * (`hist.<col>` = `<snapshotId>:<lo>:<hi>:<c0>,<c1>,...`). Nulls are
    * excluded; values at the upper bound clamp into the last bucket.
    * Refuses (loudly) when metadata min/max can't answer — run with
    * `collectStats` on the column first.
    */
  def analyzeHistogram(spark: SparkSession, column: String, buckets: Int = 32): Unit = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val key = toPhysical(column)
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val (lo, hi) = columnMinMaxMeta(column).getOrElse(sys.error(
      s"histogram needs metadata min/max for '$column' (collectStats it)"))
    import org.apache.spark.sql.functions.{col => fcol, count => fcount, floor, least, greatest, lit}
    val counts: Map[Long, Long] =
      if (hi == lo) Map(0L -> read(spark).filter(fcol(column).isNotNull).count())
      else {
        val w = (hi - lo) / buckets
        read(spark).filter(fcol(column).isNotNull)
          .select(greatest(least(floor((fcol(column).cast("double") - lo) / w),
            lit(buckets - 1L)), lit(0L)).as("__bk"))
          .groupBy(fcol("__bk")).agg(fcount(lit(1)).as("__c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val arr = (0 until buckets).map(b => counts.getOrElse(b.toLong, 0L))
    setProperties(Map(s"hist.$key" ->
      s"${snap.id}:$lo:$hi:${arr.mkString(",")}"))
    // the bucket-count read above planned through the CBO stats rule and
    // cached a pre-histogram entry for this very snapshot — drop it
    graft.plans.IceboxStats.invalidate(tableDir)
  }

  /** The persisted histogram for `column`, metadata-only — None when none
    * was analyzed or the table has advanced past the snapshot it
    * describes (a stale histogram is never silently served; re-ANALYZE
    * refreshes it). Returns (lo, hi, bucket counts).
    */
  def histogramMeta(column: String): Option[(Double, Double, Seq[Long])] = {
    val key = toPhysical(column)
    for {
      snap <- currentSnapshot
      v <- properties.get(s"hist.$key")
      parts = v.split(':')
      if parts.length == 4 && scala.util.Try(parts(0).toLong).toOption.contains(snap.id)
    } yield (parts(1).toDouble, parts(2).toDouble,
      parts(3).split(',').map(_.toLong).toSeq)
  }

  /** Discrete percentiles (percentile_disc: the smallest value whose
    * cumulative count reaches ceil(p·n), exact decimal arithmetic; nulls
    * excluded, as in the histogram) served ENTIRELY from the persisted
    * histogram — zero data I/O, zero Spark jobs. EXACT or refused (None),
    * per the metadata refusal contract: served only when the histogram is
    * readable as an exact FREQUENCY TABLE — integral column type AND
    * bucket width ≤ 1, so consecutive integers land ≥ 1 bucket apart and
    * every bucket holds at most one distinct value (cross-checked: the
    * reconstructed frequencies must re-sum to the histogram's total, so a
    * histogram this reading cannot explain refuses instead of mis-serving).
    * [[histogramMeta]]'s staleness gate applies — a histogram past its
    * snapshot refuses rather than serves. At 100 TB: "what is the p99 of
    * this column" costs one properties read; the scan was paid once at
    * ANALYZE and stays valid until the table moves.
    */
  def percentileMeta(column: String, ps: Seq[Double]): Option[Seq[Long]] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must lie in [0,1], got $ps")
    val key = toPhysical(column)
    for {
      snap <- currentSnapshot
      field <- DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
        .fields.find(_.name.equalsIgnoreCase(key))
      if Seq(ByteType, ShortType, IntegerType, LongType).contains(field.dataType)
      hist <- histogramMeta(column)
      out <- {
        val (lo, hi, counts) = hist
        val n = counts.sum
        val buckets = counts.size
        if (n == 0L) None
        else if (hi == lo) Some(ps.map(_ => lo.toLong))
        else {
          val w = (hi - lo) / buckets
          if (w > 1.0) None
          else {
            val valueCounts = (lo.toLong to hi.toLong).map { v =>
              val b = math.min(buckets - 1L,
                math.max(0L, math.floor((v - lo) / w).toLong)).toInt
              v -> counts(b)
            }
            if (valueCounts.map(_._2).sum != n) None // bucket not uniquely claimed
            else {
              val cum = valueCounts.scanLeft(0L)(_ + _._2).tail
              Some(ps.map { p =>
                val r = math.max(1L, (BigDecimal(p.toString) * n)
                  .setScale(0, BigDecimal.RoundingMode.CEILING).toLong)
                valueCounts(cum.indexWhere(_ >= r))._1
              })
            }
          }
        }
      }
    } yield out
  }

  /** `SHOW STATS FOR t`: one row per stats-covered column — everything
    * the CBO bridge serves, all metadata-only: approximate NDV (HLL
    * rollup), exact null count (commit-time footer pass, only when every
    * file recorded one), min/max (folded manifest stats), and whether a
    * CURRENT (snapshot-keyed) histogram exists. Columns whose index can't
    * answer a field (missing sketches, pending deletes, partial coverage)
    * surface null there rather than a silent scan.
    */
  def ndvStatsDf(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val logical = currentSchemaStruct.map(_.fields.toSeq).getOrElse(Nil)
    val fs = currentSnapshot.map(_.files).getOrElse(Nil)
    val covered = fs.flatMap(f => f.sketches.keys ++ f.stats.keys ++ f.nullCounts.keys)
      .distinct.toSet
    logical.filter(f => covered.contains(Icebox.physicalName(f)))
      .map { f =>
        val phys = Icebox.physicalName(f)
        val nulls: Option[Long] = {
          val perFile = fs.map(_.nullCounts.get(phys))
          if (perFile.isEmpty || perFile.exists(_.isEmpty)) None
          else Some(perFile.flatten.sum)
        }
        val mm = columnMinMaxMetaRendered(f.name)
        (f.name, approxCountDistinctMeta(f.name), nulls,
          mm.map(_._1), mm.map(_._2), histogramMeta(f.name).isDefined)
      }
      .toDF("column", "ndv", "null_count", "min", "max", "has_histogram")
  }

  /** Metadata min/max as display strings in the column's natural order —
    * numeric fold for numeric types, UTF8 fold for strings, raw
    * first-file rendering otherwise refused (None).
    */
  private def columnMinMaxMetaRendered(column: String): Option[(String, String)] = {
    val dt = currentSchemaStruct.flatMap(
      _.fields.find(_.name.equalsIgnoreCase(column)).map(_.dataType))
    dt match {
      case Some(ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType) =>
        columnMinMaxMeta(column).map { case (lo, hi) =>
          // integral columns render without the .0 the double fold adds
          def r(v: Double) =
            if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
          (r(lo), r(hi))
        }
      case Some(StringType) => columnMinMaxMetaString(column)
      case _ => None
    }
  }

  /** String variant of [[columnMinMaxMeta]] — unsigned-byte UTF8 order,
    * the order Spark string min/max and parquet footer stats use.
    */
  def columnMinMaxMetaString(column: String): Option[(String, String)] = {
    def utf8Min(a: String, b: String) =
      if (org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0) a else b
    def utf8Max(a: String, b: String) = if (utf8Min(a, b) == a) b else a
    minMaxMeta(column)(Some(_))(utf8Min, utf8Max)
  }

  private def minMaxMeta[T](column: String)(parse: String => Option[T])(
      lower: (T, T) => T, upper: (T, T) => T): Option[(T, T)] = {
    val key = toPhysical(column)
    currentSnapshot.map(_.files).flatMap { fs =>
      if (fs.isEmpty || fs.exists(f => f.deletes.nonEmpty || f.eqDeletes.nonEmpty)) None
      else {
        val perFile = fs.map(f =>
          for { (mn, mx) <- f.stats.get(key); lo <- parse(mn); hi <- parse(mx) }
          yield (lo, hi))
        if (perFile.exists(_.isEmpty)) None // a stats-less file could hide the extremum
        else Some((perFile.flatten.map(_._1).reduce(lower),
          perFile.flatten.map(_._2).reduce(upper)))
      }
    }
  }

  // -------------------------------------------------------- refs (branches/tags)

  private val TagPrefix = "ref.tag."
  private[table] val BranchPrefix = "ref.branch."

  /** Named snapshot refs (Iceberg branches/tags): `name → Ref(kind, id)`.
    * TAGS are immutable bookmarks; BRANCHES accept [[appendToBranch]]
    * commits that advance the branch pointer without moving the main head.
    * Stored as reserved `ref.*` table properties — same cross-process
    * locking as any property update; snapshot expiry and orphan cleanup
    * treat every ref-rooted chain as live.
    */
  def refs: Map[String, Icebox.Ref] = properties.collect {
    case (k, v) if k.startsWith(TagPrefix) =>
      k.stripPrefix(TagPrefix) -> Icebox.Ref("tag", v.toLong)
    case (k, v) if k.startsWith(BranchPrefix) =>
      k.stripPrefix(BranchPrefix) -> Icebox.Ref("branch", v.toLong)
  }

  private def requireRefFree(name: String): Unit =
    require(!refs.contains(name), s"ref '$name' already exists")

  private def requireSnapshotExists(id: Long): Unit =
    require(snapshotExists(id), s"no snapshot $id")

  /** Whether snapshot `id` is still readable — false once expiry removed
    * it (an incremental consumer's cursor then has to start over).
    */
  def snapshotExists(id: Long): Boolean = store.exists(manifestPath(id))

  /** Metadata table of refs: `(name, kind, snapshot_id)` — the
    * `t.refs` listing analog of [[snapshotsDf]]/[[filesDf]].
    */
  def refsDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Encoders
    spark.createDataset(refs.toSeq.map { case (n, r) => (n, r.kind, r.snapshotId) })(
        Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
      .toDF("name", "kind", "snapshot_id")
  }

  /** Create an immutable tag at `snapshotId` (default: current head). */
  def createTag(name: String, snapshotId: Long = -1L): Unit = this.synchronized {
    val id = if (snapshotId >= 0) snapshotId else currentSnapshotId
    requireRefFree(name); requireSnapshotExists(id)
    setProperties(Map(s"$TagPrefix$name" -> id.toString))
  }

  /** Create a writable branch at `snapshotId` (default: current head). */
  def createBranch(name: String, snapshotId: Long = -1L): Unit = this.synchronized {
    val id = if (snapshotId >= 0) snapshotId else currentSnapshotId
    requireRefFree(name); requireSnapshotExists(id)
    setProperties(Map(s"$BranchPrefix$name" -> id.toString))
  }

  /** Drop a tag or branch (its snapshots become expirable unless reachable
    * from another ref or the main chain).
    */
  def dropRef(name: String): Unit =
    removeProperties(Seq(s"$TagPrefix$name", s"$BranchPrefix$name"))

  /** Read the table as of a ref (either kind). */
  def readRef(spark: SparkSession, name: String): DataFrame = {
    val r = refs.getOrElse(name, sys.error(s"no such ref: $name"))
    readSnapshotId(spark, r.snapshotId)
  }

  /** The snapshot a branch points at. */
  def branchSnapshot(name: String): Snapshot = {
    val r = refs.getOrElse(name, sys.error(s"no such ref: $name"))
    require(r.kind == "branch", s"'$name' is a ${r.kind}, not a branch")
    readSnapshot(r.snapshotId)
  }

  /** Append to a BRANCH: a data commit whose parent is the branch head and
    * whose publication advances the branch pointer — the main head never
    * moves (Iceberg's write-audit-publish pattern: land risky data on a
    * branch, validate, then [[fastForward]]). Snapshot ids stay globally
    * unique across lineages.
    */
  def appendToBranch(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      collectStats: Seq[String] = Nil): Snapshot = {
    require(refs.get(name).exists(_.kind == "branch"),
      s"'$name' is not a branch (tags are immutable)")
    // same partitionBy defaulting as append(): the evolved spec or the
    // BRANCH head's own layout applies when the caller passes Nil — without
    // this, appending to a branch of a partitioned table trips the
    // append-layout require instead of inheriting the layout
    val parts =
      if (partitionBy.nonEmpty) partitionBy
      else properties.get("partition.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(layoutColumns(Some(branchSnapshot(name))))
    commit(df, parts, "append", collectStats, onBranch = Some(name)) {
      (parent, newFiles) => parent.map(_.files).getOrElse(Nil) ++ newFiles
    }
  }

  /** True iff `ancestorId` is on `descendantId`'s parent chain (or equal). */
  def isAncestor(ancestorId: Long, descendantId: Long): Boolean = {
    var id = descendantId
    while (id >= 0 && store.exists(manifestPath(id))) {
      if (id == ancestorId) return true
      id = readSnapshot(id).parentId
    }
    false
  }

  /** Fast-forward the MAIN head to a branch's head. Requires the current
    * head to be an ancestor of the branch head (no history is discarded —
    * the branch's commits extend the main chain linearly).
    */
  def fastForward(name: String): Snapshot = IceboxCommit.retryingStaleHead {
    val target = branchSnapshot(name)
    val cur = currentSnapshotId
    require(cur < 0 || isAncestor(cur, target.id),
      s"cannot fast-forward: current head $cur is not an ancestor of branch '$name' head ${target.id}")
    commits.moveHead(Some(cur).filter(_ >= 0), target.id)
    target
  }

  def currentSnapshotId: Long = {
    if (!exists) -1L
    else new String(store.readBytes(currentPtr), StandardCharsets.UTF_8).trim.toLong
  }

  def snapshot(id: Long): Snapshot = readSnapshot(id)

  def currentSnapshot: Option[Snapshot] = {
    val id = currentSnapshotId
    if (id < 0) None else Some(readSnapshot(id))
  }

  /** All *committed* snapshots, newest first, by walking the parent chain from
    * `_current` (M3 — iceberg_snapshot_operator.py:130-156 does the same
    * walk). Manifests not reachable from the chain (a crash between writing
    * the snapshot JSON and flipping the pointer) are uncommitted garbage and
    * are deliberately invisible here — time-travel can never surface data
    * that was never committed.
    */
  def allSnapshots: Seq[Snapshot] = chainFrom(currentSnapshotId)

  /** The parent chain from `startId` down, newest first, stopping at the
    * first expired (deleted) manifest — history below it is gone.
    */
  private def chainFrom(startId: Long): Seq[Snapshot] = {
    val out = Seq.newBuilder[Snapshot]
    var id = startId
    while (id >= 0 && store.exists(manifestPath(id))) {
      val s = readSnapshot(id)
      out += s
      id = s.parentId
    }
    out.result()
  }

  /** Snapshot listing as a DataFrame (Iceberg's `table.snapshots` analog).
    * Reads only manifest metadata — a 10k-commit history lists without
    * reconstructing a single file set.
    */
  def snapshotsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allSnapshots
      .map(s => (s.id, s.parentId, s.timestampMs, s.operation, s.fileCount, s.totalBytes))
      .toDF("snapshot_id", "parent_id", "timestamp_ms", "operation", "file_count", "total_bytes")
  }

  /** Files metadata table (Iceberg's `<table>.files` analog): one row per
    * live data file of the current snapshot — path, size, row count (-1 if
    * unrecorded), partition values, and recorded min/max stats. Pure
    * manifest read; inspect layout health (file sizes, skew, stats
    * coverage) without touching data.
    */
  def filesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.map(_.files).getOrElse(Nil)
      .map(f => (f.path, f.sizeBytes, f.rows, f.partition,
        f.stats.map { case (c, (mn, mx)) => c -> s"[$mn, $mx]" }, f.deletes.size))
      .toDF("path", "size_bytes", "rows", "partition", "stats", "delete_files")
  }

  /** Partitions metadata table (Iceberg's `<table>.partitions` analog): one
    * row per live partition of the current snapshot — hive-rendered
    * partition path, file count, row count (−1 when any file lacks a
    * recorded count), total bytes. Pure manifest read: partition health
    * (skew, small-file pressure) is inspectable without touching data.
    * Merge-on-read deletes make recorded base-file row counts a superset;
    * delete-carrying partitions report −1 rather than an overcount.
    */
  def partitionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.map(_.files).getOrElse(Nil)
      .groupBy(_.partition).toSeq
      .map { case (part, fs) =>
        val partStr = part.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("/")
        val exact = fs.forall(f =>
          f.rows >= 0 && f.deletes.isEmpty && f.eqDeletes.isEmpty)
        val rows = if (exact) fs.map(_.rows).sum else -1L
        (partStr, fs.size.toLong, rows, fs.map(_.sizeBytes).sum)
      }
      .sortBy(_._1)
      .toDF("partition", "file_count", "row_count", "total_bytes")
  }

  /** Row-level change diff between two snapshots (change-data-feed audit
    * face): rows only in `toId` tagged `insert`, rows only in `fromId`
    * tagged `delete` (an update appears as its delete+insert pair).
    * MANIFEST-PRUNED: only files that differ between the snapshots are
    * read — carried-over files cannot contribute to the multiset
    * difference — so a small commit against a 100 TB table diffs O(changed
    * files), not two table scans. `exceptAll` keeps duplicate multiplicity
    * exact.
    */
  def changeDiff(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    val from = readSnapshot(fromId)
    val to = readSnapshot(toId)
    // ENTRY-identity diff, not path diff: a merge-on-read DELETE keeps the
    // data file path but attaches a delete file — the changed entry lands
    // on BOTH sides. Path-identical unchanged entries never read.
    val fromSet = from.files.toSet
    val toSet = to.files.toSet
    val removedEntries = from.files.filterNot(toSet)
    val addedEntries = to.files.filterNot(fromSet)
    // SAME-PATH PAIRING: two entry changes keep the data file itself
    // intact — a merge-on-read delete ATTACH (delete sets grow) and a
    // metadata-only manifest change (ANALYZE sketches, bloom attach, stat
    // refresh: delete sets equal ⇒ content identical). Handling those
    // pairs directly keeps their full file contents OUT of the multiset
    // net-out below: a delete-growth pair contributes exactly its
    // newly-deleted rows ([[growthDeleteRows]] — one read, no exceptAll),
    // a metadata-only pair contributes nothing with ZERO I/O. Divergent
    // same-path pairs (a delete set shrank — not produced by any current
    // writer) conservatively fall through to the net-out.
    val removedByPath = removedEntries.map(f => pathOnly(f.path) -> f).toMap
    val addedByPath = addedEntries.map(f => pathOnly(f.path) -> f).toMap
    val pairedPaths = removedByPath.keySet intersect addedByPath.keySet
    def isGrowth(o: DataFile, n: DataFile): Boolean =
      o.deletes.toSet.subsetOf(n.deletes.toSet) &&
        o.eqDeletes.toSet.subsetOf(n.eqDeletes.toSet)
    val growthPairs = pairedPaths.toSeq.sorted
      .map(p => (removedByPath(p), addedByPath(p)))
      .filter { case (o, n) => isGrowth(o, n) }
    val growthPaths = growthPairs.map { case (o, _) => pathOnly(o.path) }.toSet
    val strictGrowth = growthPairs.filter { case (o, n) =>
      o.deletes.toSet != n.deletes.toSet || o.eqDeletes.toSet != n.eqDeletes.toSet }
    val removedRest = removedEntries.filterNot(f => growthPaths(pathOnly(f.path)))
    val addedRest = addedEntries.filterNot(f => growthPaths(pathOnly(f.path)))
    // read each side with ITS OWN schema (diff requires matching columns:
    // use the newer snapshot's column set; evolution-added columns read as
    // nulls from older files)
    val delFromRest =
      if (removedRest.nonEmpty)
        Some(IceboxFileIndex.scan(spark, this, removedRest, to.schemaJson))
      else None
    val delFromGrowth = growthDeleteRows(spark, strictGrowth, to.schemaJson)
    val delSide = (delFromRest, delFromGrowth) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
    val insSide =
      if (addedRest.nonEmpty)
        Some(IceboxFileIndex.scan(spark, this, addedRest, to.schemaJson))
      else None
    def tag(df: DataFrame, t: String) = df.withColumn("_change_type", lit(t))
    (insSide, delSide) match {
      case (None, None) => tag(IceboxFileIndex.scan(spark, this, Nil, to.schemaJson), "insert")
      // one-sided ranges (the steady-state CDC shapes: pure append, pure
      // delete) skip the net-out entirely — exceptAll(X, ∅) = X
      case (Some(i), None) => tag(i, "insert")
      case (None, Some(d)) => tag(d, "delete")
      // both sides present (compaction rewrites, mixed commits): net the
      // multisets so rewritten-but-unchanged rows cancel — inputs are now
      // O(true delta + compacted bytes), never O(all changed entries × 2)
      case (Some(i), Some(d)) =>
        tag(i.exceptAll(d), "insert").unionByName(tag(d.exceptAll(i), "delete"))
    }
  }

  /** Rows removed by a merge-on-read delete ATTACH between two snapshots:
    * for each same-path entry pair whose delete sets strictly grew, the
    * rows visible under the OLD delete sets that the NEWLY attached
    * position/equality delete files match. One read of the paired files,
    * flag-joined against only the new delete files — the exceptAll-free
    * complement of [[changeDiff]]'s net-out, exact as a multiset because
    * position deletes address physical rows and equality flags mirror
    * [[Icebox.applyEqualityDeletes]]'s hit∧attached semantics.
    */
  private def growthDeleteRows(spark: SparkSession, pairs: Seq[(DataFile, DataFile)],
      schemaJson: String): Option[DataFrame] = {
    if (pairs.isEmpty) return None
    val byOld = pairs.map(p => p._1.path -> p).toMap
    val fp = "__icx_gfp"; val pos = "__icx_gpos"
    // per layout generation: keep the rows the newly attached delete files
    // remove; the scan then applies the old delete sets, so what is left
    // was visible at the FROM snapshot
    def newlyDeleted(rows: DataFrame, olds: Seq[DataFile]): DataFrame = {
      val genPairs = olds.map(f => byOld(f.path))
      var flagged = rows
      val flags = scala.collection.mutable.ArrayBuffer.empty[Column]
      val newPos = genPairs.flatMap { case (o, n) =>
        n.deletes.filterNot(o.deletes.toSet) }.distinct
      if (newPos.nonEmpty) {
        val dels = Icebox.readPositionDeletes(spark, newPos)
          .select(Icebox.normPathCol(col("file_path")).as("__gd_fp"),
            col("pos").as("__gd_pos"))
          .dropDuplicates() // a position listed twice must not duplicate its row
        flagged = flagged.join(broadcast(dels),
          Icebox.normPathCol(flagged(fp)) === col("__gd_fp") &&
            flagged(pos) === col("__gd_pos"), "left")
        flags += col("__gd_fp").isNotNull
      }
      val newEq = genPairs.flatMap { case (o, n) =>
        n.eqDeletes.filterNot(o.eqDeletes.toSet) }.distinct
      newEq.zipWithIndex.foreach { case (del, i) =>
        // attach semantics mirror applyEqualityDeletes: a row is removed by
        // this delete iff its key tuple matches AND its file newly attaches it
        val attached = genPairs.collect { case (o, n)
          if n.eqDeletes.contains(del) && !o.eqDeletes.contains(del) => o.path }
        val (joined, hit) = EqualityDeletes.deletedBy(spark, flagged, del, attached,
          olds.map(_.path), fp, s"__g_hit$i")
        flagged = joined
        flags += hit
      }
      flagged.filter(flags.reduce(_ || _))
    }
    Some(IceboxFileIndex.scan(spark, this, pairs.map(_._1), schemaJson,
      positions = Some(IceboxFileIndex.Positions(fp, pos, newlyDeleted)))
      .drop(fp, pos))
  }

  /** Partition column names of the current snapshot, as LOGICAL names
    * (partition dirs store physical names; callers speak logical). Empty if
    * unpartitioned or the table is empty.
    */
  def partitionColumns: Seq[String] = layoutColumns(currentSnapshot)

  /** Partition columns of `snap`'s file layout in LOGICAL names, resolved
    * through that snapshot's own schema mapping (branch heads may differ
    * from the main head).
    */
  private def layoutColumns(snap: Option[Snapshot]): Seq[String] = {
    val physToLogical = snap.map(s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType].fields.map(f =>
        Icebox.physicalName(f) -> f.name).toMap).getOrElse(Map.empty[String, String])
    snap.flatMap(_.files.headOption)
      .map(_.partition.keys.toSeq.map(k => physToLogical.getOrElse(k, k)).sorted)
      .getOrElse(Nil)
  }

  // ------------------------------------------------------------------ writes

  /** W1/W3: append — new snapshot = parent files + new files.
    * `collectStats` names numeric columns whose per-file min/max are
    * recorded in the manifest for later file skipping (one extra
    * aggregation pass over the freshly written files).
    */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil,
      collectStats: Seq[String] = Nil,
      alsoSetProperties: Map[String, String] = Map.empty): Snapshot =
    commit(df, effectiveParts(partitionBy), "append", collectStats,
      alsoSetProperties = alsoSetProperties) { (parent, newFiles) =>
      parent.map(_.files).getOrElse(Nil) ++ newFiles
    }

  /** Append expecting the head the caller's read observed — the
    * serializable-ingest commit: if ANY commit moved the head past
    * `expectHeadId` (−1 = the caller saw no table), [[IceboxCommit
    * .SupersededCommit]] escapes so the caller re-runs its probe against
    * the new state instead of publishing a decision computed from a stale
    * one (the dedup-insert TOCTOU: two concurrent writers both probing,
    * both missing each other's rows, both appending the same content).
    */
  private[graft] def appendIfHead(df: DataFrame, expectHeadId: Long,
      collectStats: Seq[String] = Nil): Snapshot =
    commit(df, effectiveParts(Nil), "append", collectStats) { (parent, newFiles) =>
      if (parent.map(_.id).getOrElse(-1L) != expectHeadId) throw IceboxCommit.SupersededCommit
      parent.map(_.files).getOrElse(Nil) ++ newFiles
    }

  /** Rows of snapshot `to` whose files are absent from snapshot `fromId`
    * (−1, an expired, or an unknown id = ALL rows of `to`): the pinned
    * uncovered-delta read of the serializable dedup ingest. Compaction-
    * rewritten files count as added — re-deriving index entries for rows
    * already covered is harmless (the index is additive) and conservative
    * beats silent under-coverage.
    */
  private[graft] def changesBetween(spark: SparkSession, fromId: Long,
      to: Snapshot): DataFrame =
    IceboxFileIndex.scan(spark, this, addedFilesBetween(fromId, to), to.schemaJson)

  /** Manifest-only emptiness probe for [[changesBetween]]: lets the
    * serializable dedup ingest skip building the uncovered-delta plan
    * entirely (banding projection, persist, count job) in the steady
    * state where the covered marker already spans the head — the
    * single-writer common case, where the delta is zero files per wave.
    */
  private[graft] def hasChangesBetween(fromId: Long, to: Snapshot): Boolean =
    addedFilesBetween(fromId, to).nonEmpty

  private def addedFilesBetween(fromId: Long, to: Snapshot) = {
    val old: Set[String] =
      if (fromId < 0) Set.empty
      else scala.util.Try(readSnapshot(fromId).files.map(_.path).toSet)
        .getOrElse(Set.empty)
    to.files.filterNot(f => old(f.path))
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's evolve-spec analog): change the
    * table's identity partitioning for FUTURE writes — existing files keep
    * their old directory layout and stay readable (reads union one
    * relation per layout generation; manifest pruning stays exact per
    * generation, and files from a generation not partitioned by a pruned
    * column are kept conservatively). The next full compaction rewrites
    * everything into the current spec, completing the migration. Pass Nil
    * to evolve to unpartitioned.
    */
  def setPartitionSpec(cols: Seq[String]): Unit = {
    currentSchemaStruct.foreach { schema =>
      cols.foreach(c => require(schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"no such column: $c"))
    }
    setProperties(Map("partition.columns" -> cols.mkString(",")))
  }

  /** The identity-partition columns future writes use: the evolved spec if
    * [[setPartitionSpec]] was called, else the current files' layout.
    */
  def currentPartitionSpec: Seq[String] =
    properties.get("partition.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(partitionColumns)

  /** Caller-supplied partitioning wins; otherwise the table's current spec
    * applies automatically (so `append(df)` keeps honoring an evolved
    * spec without every caller threading it through).
    */
  private def effectiveParts(partitionBy: Seq[String]): Seq[String] =
    if (partitionBy.nonEmpty) partitionBy else currentPartitionSpec

  /** EXACTLY-ONCE streaming append (Iceberg sink semantics): the
    * `(streamId, batchId)` marker rides the op string of the atomic
    * manifest commit, so a foreachBatch retry after a crash BETWEEN the
    * table commit and Spark's checkpoint write finds the marker and skips —
    * the duplicate-append window plain `append` leaves open. Returns None
    * when the batch was already committed. `batchId`s must be monotonic per
    * stream (Spark's foreachBatch contract). The check-then-commit pair is
    * atomic per handle; Structured Streaming replays batches from ONE
    * driver sequentially, which is the contract this guards.
    */
  def appendStreamBatch(streamId: String, batchId: Long, df: DataFrame,
      partitionBy: Seq[String] = Nil): Option[Snapshot] = this.synchronized {
    require(streamId.nonEmpty && !streamId.contains(":"),
      s"streamId must be non-empty without ':' (got '$streamId')")
    if (lastStreamBatch(streamId).exists(_ >= batchId)) None
    else Some(commit(df, partitionBy, s"stream-append:$streamId:$batchId") {
      (parent, newFiles) => parent.map(_.files).getOrElse(Nil) ++ newFiles
    })
  }

  /** Highest batchId committed for `streamId` (newest-first chain walk over
    * cached manifests; the marker refreshes every batch, so the walk stops
    * within a few snapshots in steady state).
    */
  def lastStreamBatch(streamId: String): Option[Long] = {
    val prefix = s"stream-append:$streamId:"
    allSnapshots.iterator.map(_.operation).collectFirst {
      case op if op.startsWith(prefix) => op.stripPrefix(prefix).toLong
    }
  }

  /** The table's hidden-partition transform spec (`partition.spec` table
    * property, e.g. `"bucket(8, id), days(ts)"`), empty for identity-only
    * tables. See [[PartitionTransform]].
    */
  def partitionSpec: Seq[PartitionTransform] =
    properties.get("partition.spec").map(PartitionTransform.parseSpec).getOrElse(Nil)

  /** W4+ (beyond parity): append under a HIDDEN partition spec —
    * `"bucket(8, id), days(ts), region"` — the derived partition columns
    * never enter the table schema; readers prune them from predicates on
    * the SOURCE columns via the manifest index. The first write persists
    * the spec in table properties; later writers (including DML rewrites
    * and compaction, which re-derive automatically) must agree.
    */
  def appendTransformed(df: DataFrame, spec: String,
      collectStats: Seq[String] = Nil): Snapshot = {
    val ts = PartitionTransform.parseSpec(spec)
    val existing = partitionSpec
    if (existing.isEmpty)
      setProperties(Map("partition.spec" -> PartitionTransform.renderSpec(ts)))
    else require(
      PartitionTransform.renderSpec(existing) == PartitionTransform.renderSpec(ts),
      s"partition spec mismatch: table uses '${PartitionTransform.renderSpec(existing)}', " +
        s"write passed '${PartitionTransform.renderSpec(ts)}'")
    append(df, ts.map(_.name), collectStats)
  }

  /** Add any spec-derived hidden partition columns missing from `df` (the
    * write-side derivation every committer shares; sources absent from the
    * frame are skipped — commit's partitioning check catches real misuse).
    */
  private def withHiddenPartitions(df: DataFrame): DataFrame =
    partitionSpec
      .filter(t => !t.isInstanceOf[IdentityTransform] && !df.columns.contains(t.name))
      .foldLeft(df) { (d, t) =>
        d.schema.fields.find(_.name.equalsIgnoreCase(t.source)) match {
          case Some(src) => d.withColumn(t.name, t.derive(col(src.name), src.dataType))
          case None      => d
        }
      }

  /** W2/W3: overwrite — new snapshot = new files only. */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil): Snapshot =
    // an explicitly evolved spec applies to overwrites too; without one,
    // Nil means "unpartitioned" (the caller's call — overwrite replaces
    // the table, so the parent layout carries no authority)
    commit(df,
      if (partitionBy.nonEmpty) partitionBy
      else properties.get("partition.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      "overwrite") { (_, newFiles) => newFiles }

  /** Overwrite that records its operation as `op` (so cherry-pick and
    * lineage reporting can tell a view rebuild from a blind overwrite).
    */
  private[graft] def overwriteAs(op: String, df: DataFrame, partitionBy: Seq[String]): Snapshot =
    commit(df, partitionBy, op) { (_, newFiles) => newFiles }

  /** W6 partition-scoped: dynamic partition overwrite — replaces only the
    * partitions present in `df` (Spark's
    * `spark.sql.sources.partitionOverwriteMode=dynamic` semantics, but
    * snapshot-logged and atomic). At 100 TB this is the difference between
    * rewriting a few partitions and rewriting the world: untouched
    * partitions' files carry over into the new snapshot by reference.
    */
  def overwritePartitions(df: DataFrame, partitionBy: Seq[String]): Snapshot = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    val physKeys = partitionBy.map(toPhysical)
    val snap = currentSnapshot
    val nonConforming = snap.map(_.files.filterNot(f => physKeys.forall(f.partition.contains)))
      .getOrElse(Nil)
    if (nonConforming.isEmpty)
      return commit(df, partitionBy, "overwrite") { (parent, newFiles) =>
        val touched = newFiles.map(_.partition).toSet
        parent.map(_.files).getOrElse(Nil).filterNot(f => touched(f.partition)) ++ newFiles
      }
    // MIXED GENERATIONS: files from a spec generation not partitioned by
    // `partitionBy` may hold rows INSIDE the partitions being replaced —
    // carrying them over wholesale would silently duplicate exactly those
    // rows (caught by PartitionEvolutionSpec). In the SAME atomic commit:
    // such files retire, their rows OUTSIDE the replaced partitions are
    // rewritten into the current layout alongside `df`, and conforming
    // files carry over by reference as before. Rows compare in the
    // manifest's partition-directory rendering (nulls as the hive default
    // segment), matching readPartitions.
    val spark = df.sparkSession
    val nullSeg = "__HIVE_DEFAULT_PARTITION__"
    def rendered(c: String): Column =
      when(col(c).isNull, lit(nullSeg)).otherwise(col(c).cast(StringType))
    val sep = ""
    val replaced: Set[String] = df
      .select(concat_ws(sep, partitionBy.map(rendered): _*).as("__pv"))
      .distinct().collect().map(_.getString(0)).toSet // one row per touched partition
    val carry = IceboxFileIndex.scan(spark, this, nonConforming, snap.get.schemaJson)
      .filter(!concat_ws(sep, partitionBy.map(rendered): _*).isin(replaced.toSeq: _*))
    val retired = nonConforming.map(_.path).toSet
    commit(df.unionByName(carry), partitionBy, "overwrite") { (parent, newFiles) =>
      // conforming files drop iff their partition tuple was replaced by DF
      // (carry's partitions are disjoint from df's by construction, so the
      // written-files partition set must NOT be the drop rule here)
      parent.map(_.files).getOrElse(Nil)
        .filterNot(f => retired(f.path))
        .filterNot(f => physKeys.forall(f.partition.contains) &&
          replaced(physKeys.map(k => f.partition(k)).mkString(sep))) ++ newFiles
    }
  }

  /** Copy-on-write FILE-LEVEL rewrite, the one copy-on-write commit of
    * upsert, MERGE, DELETE and UPDATE: commits a snapshot where `removed`
    * files are replaced by the write of `replacement`; every other live
    * file carries over BY REFERENCE. At 100 TB this is the difference
    * between rewriting the table and rewriting only the files whose stats
    * admit the predicate ([[IceboxFileIndex.splitByPredicate]]) or a batch
    * key ([[splitByKeys]]) — the pruning the read path uses, applied to
    * the write path.
    */
  private[graft] def rewriteFiles(op: String, removed: Seq[DataFile],
      replacement: DataFrame, partitionBy: Seq[String],
      expectHeadId: Long = -2L): Snapshot = {
    val removedPaths = removed.map(_.path).toSet
    commit(replacement, partitionBy, op) { (parent, newFiles) =>
      // DRIFT GUARD (callers that pass the head id they classified
      // against, −1 for "no table"): `removed` and the replacement rows were
      // computed from that head — a cross-process commit in between (an
      // append of a batch key, an eq-delete attach on a candidate, a
      // compaction replacing one, a racing creation) would make this
      // rewrite drop, resurrect or duplicate rows. Throwing makes the
      // caller re-run its whole classification (see
      // IceboxCommit.retryingStaleHead).
      if (expectHeadId != -2L && parent.map(_.id).getOrElse(-1L) != expectHeadId)
        throw IceboxCommit.StaleCommitState
      parent.map(_.files).getOrElse(Nil).filterNot(f => removedPaths(f.path)) ++ newFiles
    }
  }

  /** Read a specific subset of the current snapshot's files (current table
    * schema applies; no table reads as the empty DataFrame).
    */
  private[graft] def readDataFiles(spark: SparkSession, files: Seq[DataFile]): DataFrame =
    currentSnapshot.fold(spark.emptyDataFrame)(s =>
      IceboxFileIndex.scan(spark, this, files, s.schemaJson))

  // ------------------------------------------------------------------- reads

  /** Read the current table state. */
  def read(spark: SparkSession): DataFrame = readSnapshotData(spark, currentSnapshot)

  /** P6/C3: time-travel read — state as of a wall-clock timestamp (latest
    * snapshot with `timestampMs <= asOfMs`; Oracle FLASHBACK `AS OF
    * TIMESTAMP` analog, oracle_to_iceberg_cdc_operator.py:195-201).
    */
  def readAsOf(spark: SparkSession, asOfMs: Long): DataFrame = {
    val snap = allSnapshots.filter(_.timestampMs <= asOfMs).sortBy(_.id).lastOption
    readSnapshotData(spark, snap)
  }

  /** Time-travel read pinned to an exact snapshot id. */
  def readSnapshotId(spark: SparkSession, id: Long): DataFrame =
    readSnapshotData(spark, Some(readSnapshot(id)))

  /** Read through the manifest-backed `FileIndex` (graft.plans
    * .IceboxFileIndex): filters on this DataFrame get partition pruning and
    * stats-based file skipping automatically during planning — no storage
    * listing, no caller opt-in. The native-table-format read path.
    */
  def readIndexed(spark: SparkSession): DataFrame =
    IceboxFileIndex.readIndexed(spark, this)

  /** Register this table under `name` on the session's SQL-text surface: a
    * temp view over the indexed read (so `spark.sql("SELECT ... FROM
    * name")` plans through manifest partition pruning and stats skipping)
    * AND as a [[graft.sql.MergeSql]] target, so text SELECT and MERGE INTO
    * compose against the same name. The view is pinned to the CURRENT
    * snapshot's file set; MergeSql re-registers it after each merge commit,
    * and callers using the programmatic write faces should re-register
    * after commits they want the view to reflect.
    */
  def registerView(spark: SparkSession, name: String): Unit = {
    readIndexed(spark).createOrReplaceTempView(name)
    // metadata tables, Iceberg's `t.snapshots` / `t.files` / `t.refs`
    // analog (dots aren't valid in temp-view names, so underscore-suffixed)
    snapshotsDf(spark).createOrReplaceTempView(s"${name}_snapshots")
    filesDf(spark).createOrReplaceTempView(s"${name}_files")
    refsDf(spark).createOrReplaceTempView(s"${name}_refs")
    graft.sql.MergeSql.register(name, this)
  }

  /** Incremental scan (C1/C3 at file granularity — Iceberg's
    * `incremental read` analog): rows in data files ADDED since
    * `sinceSnapshotId`. Pure manifest diff — only the delta files are read,
    * so a 5-minute sync against a 100 TB table costs O(new data), not a
    * table scan. Correct for append-only flows; after an overwrite/compact
    * rewrite the rewritten files count as added (callers pair this with
    * upsert-by-pk downstream, which absorbs re-delivery).
    */
  def changesSince(spark: SparkSession, sinceSnapshotId: Long): DataFrame = {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val old = readSnapshot(sinceSnapshotId).files.map(_.path).toSet
    val added = cur.files.filterNot(f => old(f.path))
    IceboxFileIndex.scan(spark, this, added, cur.schemaJson)
  }

  /** Incremental scan from a wall-clock watermark: delta vs the latest
    * snapshot at or before `asOfMs` (empty table state if none).
    */
  def changesSinceTime(spark: SparkSession, asOfMs: Long): DataFrame =
    allSnapshots.filter(_.timestampMs <= asOfMs).sortBy(_.id).lastOption match {
      case Some(s) => changesSince(spark, s.id)
      case None    => read(spark)
    }

  /** File skipping by manifest statistics: files whose recorded [min,max]
    * for `column` intersects [lo,hi] (either bound may be None for a
    * half-open range). Files with no stats for the column are kept
    * (conservative). Statistics are collected when `append`/`overwrite` is
    * called with `collectStats` — at 100 TB this turns a selective
    * non-partition predicate into a scan of only the intersecting files,
    * Iceberg's data-skipping behavior.
    */
  def prunedFilesByStats(column: String, lo: Option[Double], hi: Option[Double]): Seq[DataFile] = {
    val key = toPhysical(column) // stats are keyed by physical name
    currentSnapshot.map(_.files.filter { f =>
      f.stats.get(key) match {
        case None => true
        // stats are recorded for string/date/bool columns too (by default
        // since r7); a non-numeric stat string keeps the file, matching the
        // conservative contract used by IceboxFileIndex.admit
        case Some((mn, mx)) =>
          scala.util.Try(
            lo.forall(l => mx.toDouble >= l) && hi.forall(h => mn.toDouble <= h)
          ).getOrElse(true)
      }
    }).getOrElse(Nil)
  }

  /** Read only the files whose stats admit `column` ∈ [lo, hi]; callers
    * still apply the exact filter on the result (stats are a superset).
    */
  def readWhereStats(spark: SparkSession, column: String, lo: Option[Double], hi: Option[Double]): DataFrame =
    readDataFiles(spark, prunedFilesByStats(column, lo, hi))

  /** String-range variant of [[prunedFilesByStats]]: bounds compare in
    * unsigned-byte UTF8 order — the order Spark's string min/max, parquet
    * footer statistics, and [[graft.plans.IceboxFileIndex]] all use (plain
    * java.lang.String order disagrees for supplementary-plane characters).
    */
  def prunedFilesByStatsString(column: String, lo: Option[String], hi: Option[String]): Seq[DataFile] = {
    def le(a: String, b: String) =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0
    val key = toPhysical(column)
    currentSnapshot.map(_.files.filter { f =>
      f.stats.get(key) match {
        case None => true
        case Some((mn, mx)) => lo.forall(l => le(l, mx)) && hi.forall(h => le(mn, h))
      }
    }).getOrElse(Nil)
  }

  /** Manifest-level partition pruning: the files of the current snapshot whose
    * identity-partition value of `column` is in `values` — Iceberg-style
    * pruning that avoids even listing unrelated storage paths.
    */
  def prunedFiles(column: String, values: Set[String]): Seq[DataFile] = {
    val key = toPhysical(column) // partition dirs carry physical names
    // a file from a spec generation NOT partitioned by `column` has no
    // recorded value — keep it (it may contain any value; conservative
    // under partition-spec evolution). Resolution is shard-pruned: on a
    // sharded checkpoint only the matching partitions' shard files are
    // read, so a cold partition-scoped read never parses the full list.
    currentSnapshot
      .map(s => resolveFilesWhere(s.id, m => m.get(key).forall(values)))
      .getOrElse(Nil)
  }

  /** Read only the partitions matching `values` (prunes via the manifest
    * before Spark lists anything). On a MIXED-GENERATION table (partition
    * spec evolved, not yet compacted) files from a generation not
    * partitioned by `column` are kept conservatively by [[prunedFiles]] —
    * those may hold rows outside the requested partitions, so the exact
    * filter is applied whenever such a file is present (single-generation
    * tables pay zero plan overhead). Values compare in partition-directory
    * string form, the same rendering `values` uses.
    */
  def readPartitions(spark: SparkSession, column: String, values: Set[String]): DataFrame = {
    val key = toPhysical(column)
    val files = prunedFiles(column, values)
    val base = readDataFiles(spark, files)
    if (files.forall(_.partition.contains(key))) base
    else {
      // exact filter compares in the SAME rendering the manifest records for
      // partition directories: nulls render as __HIVE_DEFAULT_PARTITION__
      // (a plain cast would yield NULL, silently dropping old-generation
      // rows of a requested null partition), and a caller passing null in
      // `values` means that same segment
      val nullSeg = "__HIVE_DEFAULT_PARTITION__"
      val wanted = values.map(v => if (v == null) nullSeg else v)
      val rendered = when(col(column).isNull, lit(nullSeg))
        .otherwise(col(column).cast(StringType))
      base.filter(rendered.isin(wanted.toSeq: _*))
    }
  }

  // ------------------------------------------------------------- maintenance

  /** M1: bin-pack compaction — rewrite the current file set into
    * ~`targetFileMb`-sized files (reference default 512 MB,
    * iceberg_compaction_operator.py:57,120-126). Row multiset is preserved
    * (property-tested). Partitioned tables repartition on (partition cols,
    * salt) so a hot partition still splits across up to `n` tasks instead of
    * collapsing into one (skew safety at scale); the writer's `partitionBy`
    * re-routes rows to their partition dirs regardless.
    */
  def compact(spark: SparkSession, targetFileMb: Int = 512): Snapshot = IceboxCommit.retryingStaleHead {
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    // a declared table sort order (`write.sort.columns`) makes the plain
    // compaction a SORTED rewrite — Iceberg's "rewrite honors the table
    // sort order" behavior, so maintenance never destroys clustering
    val sortCols = properties.get("write.sort.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    if (sortCols.isDefined) return compactSorted(spark, sortCols.get, targetFileMb)
    val totalBytes = snap.files.map(_.sizeBytes).sum
    val n = math.max(1, math.ceil(totalBytes / (targetFileMb * 1024.0 * 1024.0)).toInt)
    // compact to the CURRENT spec — after partition evolution this is the
    // migration step that retires old layout generations
    val partCols = currentPartitionSpec
    val df = withHiddenPartitions(read(spark)) // re-derive hidden dirs for the shuffle key
    val repacked =
      if (partCols.nonEmpty) {
        val perPart = math.max(1, n / math.max(1, snap.files.map(_.partition).distinct.size))
        df.repartition(n, (partCols.map(col) :+ pmod(spark_partition_id(), lit(perPart))): _*)
      } else df.repartition(n)
    commit(repacked, partCols, "compact") { (parent, newFiles) =>
      // MAINTENANCE must never drop a concurrent commit: the rewrite was
      // computed from `snap` — if the head moved (a delete landed mid-
      // rewrite), publishing newFiles-only would silently discard it.
      // Recompute from the new head instead (Iceberg's rewrite-validation).
      if (!parent.map(_.id).contains(snap.id)) throw IceboxCommit.StaleCommitState
      newFiles
    }
  }

  /** M1 + clustering: sort-ordered compaction — rewrite the table
    * range-partitioned on `sortBy`, so each output file covers a disjoint
    * value range, and record per-file min/max for those columns. After this,
    * `readWhereStats` predicates on the sort column touch O(matching files):
    * the Iceberg "rewrite with sort order" maintenance action that makes
    * data skipping effective.
    *
    * With MULTIPLE numeric sort columns the clustering key is a Z-ORDER
    * interleave, not the lexicographic concatenation: lexicographic order
    * gives the trailing columns no file locality at all (a predicate on the
    * second column alone skips nothing), while interleaved quantile-bucket
    * bits give every sort column ~equal locality, so min/max skipping works
    * for each of them independently — Iceberg's z-order rewrite strategy.
    * Bucketing uses quantile boundaries fetched once to the driver (a
    * `percentile_approx` sketch for numeric columns, a TakeOrdered random
    * sample for strings — NOT a global sort either way) and baked into the
    * plan as literals; the only shuffle is the final range partition by
    * z-key. Falls back to lexicographic when any sort column is neither
    * numeric nor string.
    */
  def compactSorted(spark: SparkSession, sortBy: Seq[String],
      targetFileMb: Int = 512, numFiles: Option[Int] = None): Snapshot = IceboxCommit.retryingStaleHead {
    require(sortBy.nonEmpty, "compactSorted needs sort columns")
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val totalBytes = snap.files.map(_.sizeBytes).sum
    val n = numFiles.getOrElse(
      math.max(1, math.ceil(totalBytes / (targetFileMb * 1024.0 * 1024.0)).toInt))
    val base = read(spark)
    // case-insensitive like the rest of the read path — a case mismatch must
    // not silently fall back to lexicographic clustering
    val zOrderable = sortBy.forall(c => base.schema.fields.find(_.name.equalsIgnoreCase(c))
      .exists(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        f.dataType == org.apache.spark.sql.types.StringType))
    val df =
      if (sortBy.size < 2 || !zOrderable)
        base.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else {
        val z = Icebox.zOrderKey(base, sortBy, targetFiles = n)
        base.withColumn("__z", z)
          .repartitionByRange(n, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
    commit(df, currentPartitionSpec, "compact", collectStats = sortBy) { (parent, newFiles) =>
      if (!parent.map(_.id).contains(snap.id)) throw IceboxCommit.StaleCommitState // see compact()
      newFiles
    }
  }

  /** M1 partition-scoped: compact ONLY partitions with more than
    * `minFiles` data files, carrying every other partition's files into the
    * new snapshot by reference. At 100 TB this is the only sane compaction
    * cadence — a CDC table accretes small files in the partitions it
    * touches; rewriting cold partitions is wasted I/O. Returns the
    * partitions rewritten.
    */
  def compactPartitions(spark: SparkSession, targetFileMb: Int = 512,
      minFiles: Int = 4): Seq[Map[String, String]] = IceboxCommit.retryingStaleHead {
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val partCols = partitionColumns
    require(partCols.nonEmpty, "compactPartitions needs a partitioned table; use compact()")
    val byPartition = snap.files.groupBy(_.partition)
    val hot = byPartition.filter(_._2.size > minFiles)
    if (hot.isEmpty) Nil
    else {
      val hotFiles = hot.values.flatten.toSeq
      val bytes = hotFiles.map(_.sizeBytes).sum
      // at least one write task per hot partition, up to the cores: hash
      // partitioning on the partition columns still writes one file per
      // partition, however many tasks share the work
      val n = math.max(math.ceil(bytes / (targetFileMb * 1024.0 * 1024.0)).toInt,
        math.min(hot.size, spark.sparkContext.defaultParallelism))
      val df = withHiddenPartitions(IceboxFileIndex.scan(spark, this, hotFiles, snap.schemaJson))
        .repartition(n, partCols.map(col): _*)
      commit(df, partCols, "overwrite") { (parent, newFiles) =>
        if (!parent.map(_.id).contains(snap.id)) throw IceboxCommit.StaleCommitState // see compact()
        val touched = newFiles.map(_.partition).toSet
        parent.map(_.files).getOrElse(Nil).filterNot(f => touched(f.partition)) ++ newFiles
      }
      hot.keys.toSeq
    }
  }

  /** M2: snapshot expiry — drop snapshots older than `olderThanMs`, always
    * retaining the `retainLast` most recent and the current snapshot
    * (reference defaults 7 days / retain 10,
    * iceberg_aging_operator.py:62-63,118-186). Data files no longer
    * referenced by any kept snapshot are deleted. Orphaned commit dirs and
    * unreachable manifests (crashed writes) are also collected, but only when
    * older than `olderThanMs` — a concurrent in-flight commit's fresh dir is
    * never touched (it has a recent mtime), and the whole method is
    * synchronized against commit() on this instance. The
    * `expire.min-snapshot-age-ms` table property additionally floors the
    * cutoff (see the in-flight reader guard below).
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 10): Seq[Long] = this.synchronized {
    // IN-FLIGHT READER GUARD: `expire.min-snapshot-age-ms` (default 0 —
    // off) clamps the cutoff so snapshots younger than the grace window are
    // never expired regardless of how aggressive `olderThanMs` is. A
    // DataFrame pinned to a recent snapshot (time travel, a long scan, a
    // changeFeed consumer mid-batch) keeps its files alive while a
    // concurrent maintenance job runs with "expire everything" — the same
    // contract removeOrphans' graceMs already gives crash debris. Iceberg's
    // expire_snapshots pairs retention with exactly this kind of age floor.
    val minAge = properties.get("expire.min-snapshot-age-ms").map(_.toLong).getOrElse(0L)
    val cutoffMs =
      if (minAge <= 0L) olderThanMs
      else math.min(olderThanMs, System.currentTimeMillis() - minAge)
    val all = allSnapshots // committed main chain, newest first
    val currentId = currentSnapshotId
    // every snapshot reachable from a ref (branch/tag) is live, INCLUDING
    // its main-chain ancestors — expiring a fork point would break the
    // ref's delta replay
    val refChains: Seq[Snapshot] = refs.values.toSeq.flatMap(r => chainFrom(r.snapshotId))
    val refIds = refChains.map(_.id).toSet
    val keep = all.zipWithIndex.filter { case (s, i) =>
      i < retainLast || s.timestampMs >= cutoffMs || s.id == currentId || refIds(s.id)
    }.map(_._1).toList
    val keepIds = keep.map(_.id).toSet
    val live = keep ++ refChains
    val expired = all.filterNot(s => keepIds(s.id))
    val expiredIds = expired.map(_.id).toSet
    // Rebase to a full manifest every LIVE snapshot whose parent is being
    // expired: any delta replay entering the expired range passes through
    // such a snapshot first, so rebasing them all keeps every live chain
    // self-contained. Without refs the kept set is a newest-first prefix
    // and this degenerates to the oldest kept snapshot; a ref-kept fork
    // point can make the set non-contiguous. Content-equivalent rewrite
    // via write-temp + atomic rename (caches stay valid).
    if (expired.nonEmpty)
      live.filter(s => s.parentId >= 0 && expiredIds(s.parentId))
        .distinctBy(_.id)
      .foreach { oldest =>
      val m = manifest(oldest.id)
      // a sharded manifest is already self-contained (shards never hang
      // off an expired parent) — only true deltas need the rebase
      if (m.full.isEmpty && m.shards.isEmpty) {
        val fs = resolveFiles(oldest.id)
        val fullM =
          if (fs.size >= shardThreshold(properties)) {
            val (refs, canonical) = writeShardedCheckpoint(fs)
            m.copy(fileCount = canonical.size.toLong,
              totalBytes = canonical.map(_.sizeBytes).sum,
              deltaDepth = 0, full = None, added = Nil, removedPaths = Nil,
              shards = refs)
          } else
            m.copy(fileCount = fs.size.toLong, totalBytes = fs.map(_.sizeBytes).sum,
              deltaDepth = 0, full = Some(fs), added = Nil, removedPaths = Nil)
        store.atomicReplace(manifestPath(oldest.id),
          manifestJson(fullM).getBytes(StandardCharsets.UTF_8))
        manifestCache.put(oldest.id, fullM)
        filesCache.remove(oldest.id) // order may differ from the delta replay
      }
    }
    // resolve kept file sets BEFORE deleting any expired manifest a delta
    // replay might still walk through
    live.foreach(_.files)
    // newest first: a crash part-way leaves the chain from the head ending
    // at the oldest kept (rebased) snapshot, never a chain with a hole;
    // the expired manifests left below it are unreachable residue
    expired.foreach { s =>
      store.deleteIfExists(manifestPath(s.id))
      manifestCache.remove(s.id) // expired ids must fail reads like a fresh handle's
      filesCache.remove(s.id)
    }
    // files no kept snapshot references (incl. crash residue), mtime-gated
    // so an in-flight commit is never corrupted
    commits.reclaim(live, cutoffMs)
    expired.map(_.id)
  }

  /** Remove commit residue no snapshot references ([[IceboxCommit.reclaim]]):
    * data and delete files whose commit never landed (the crash window
    * between the data write and the manifest publish), unpublished
    * manifests, checkpoint shards, side files, and the temps of interrupted
    * metadata writes. Unlike [[expireSnapshots]] this retires no history:
    * every snapshot's file set stays intact. `graceMs` protects in-flight
    * commits (a freshly written commit dir whose manifest hasn't published
    * YET looks orphaned); Iceberg's `remove_orphan_files` defaults to 3
    * days for the same reason. Returns deleted paths.
    */
  def removeOrphans(graceMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = this.synchronized {
    commits.reclaim(allSnapshots ++ refs.values.toSeq.flatMap(r => chainFrom(r.snapshotId)),
      System.currentTimeMillis() - graceMs)
  }

  /** M5: rollback — repoint the table at an earlier snapshot's file set,
    * recorded as a new snapshot (history stays append-only; the Iceberg
    * `rollback_to_snapshot` analog the reference stubs out,
    * iceberg_snapshot_operator.py:158-173).
    */
  def rollbackTo(snapshotId: Long): Snapshot = {
    val target = readSnapshot(snapshotId)
    commits.publish("rollback", _ => target.files, _ => target.schemaJson)
  }

  /** M6: cherry-pick — re-apply an append-family snapshot's added files,
    * and remove the files it replaced, on top of the current state
    * (iceberg_snapshot_operator.py:175-187 stub). As in Iceberg, it is
    * refused when a replaced file is no longer live at the head.
    */
  def cherrypick(snapshotId: Long): Snapshot = {
    val target = readSnapshot(snapshotId)
    require(target.operation == "append" || target.operation == "upsert",
      s"cherry-pick supports append-family snapshots, got ${target.operation}")
    val parentPaths: Set[String] =
      if (target.parentId < 0) Set.empty
      else readSnapshot(target.parentId).files.map(_.path).toSet
    val replaced = parentPaths -- target.files.map(_.path)
    val delta = target.files.filterNot(f => parentPaths(f.path))
    commits.publish("cherrypick", { parent =>
      val cur = parent.map(_.files).getOrElse(Nil)
      val have = cur.map(_.path).toSet
      require(replaced.forall(have), s"cannot cherry-pick snapshot $snapshotId: " +
        s"${replaced.count(p => !have(p))} of the files it replaced are no longer live")
      cur.filterNot(f => replaced(f.path)) ++ delta.filterNot(f => have(f.path))
    }, _ => target.schemaJson)
  }

  // --------------------------------------------------------------- internals

  /** Snapshot reads plan through the manifest-backed FileIndex (the same
    * path as `readIndexed`): partition pruning against manifest values and
    * stats-based file skipping happen in the planner for EVERY read — no
    * caller opt-in, no storage listing.
    */
  private[graft] def readSnapshotData(spark: SparkSession, snap: Option[Snapshot]): DataFrame =
    snap match {
      case None    => spark.emptyDataFrame
      case Some(s) => IceboxFileIndex.readSnapshot(spark, this, s)
    }

  /** Like [[readDataFiles]] but with each row's physical position exposed
    * (`fpCol` = `_metadata.file_path`, `posCol` = `_metadata.row_index`),
    * existing position and equality deletes already applied — the input to
    * merge-on-read DML, which must evaluate predicates over LIVE rows only
    * (re-deleting a dead position is harmless, but an UPDATE must never
    * resurrect one).
    */
  private[graft] def readDataFilesWithPos(spark: SparkSession, files: Seq[DataFile],
      fpCol: String, posCol: String): DataFrame =
    IceboxFileIndex.scan(spark, this, files,
      currentSnapshot.getOrElse(sys.error(s"no table at $tableDir")).schemaJson,
      positions = Some(IceboxFileIndex.Positions(fpCol, posCol)))

  /** Merge-on-read row-level DELETE: records `positions` (in
    * `_metadata.file_path` URI form + row ordinal) as a position-delete
    * file and commits a snapshot where each affected data file references
    * it — NO data file is rewritten. Iceberg v2 position-delete semantics:
    * readers anti-join the positions away; compaction materializes them.
    */
  private[graft] def commitPositionDeletes(spark: SparkSession, op: String,
      positions: DataFrame): Snapshot =
    commitPositionDeletesImpl(spark, op, positions, None, Nil)

  /** Merge-on-read UPDATE: position-delete the matched rows AND append
    * their updated images in ONE atomic commit.
    */
  private[graft] def commitPositionDeletesWithData(op: String, positions: DataFrame,
      newData: DataFrame, partitionBy: Seq[String]): Snapshot =
    commitPositionDeletesImpl(newData.sparkSession, op, positions, Some(newData), partitionBy)

  /** Shared position-delete commit ([[commitMergeOnRead]]). `positions`
    * (`(file_path, pos)` rows in `_metadata` form) are written as ONE
    * position-delete file: merge-on-read deletes are small by construction
    * (the mode is chosen when the hit set is a small fraction of the
    * candidate files), so one output file keeps the read-side anti-join
    * broadcastable. Per-file position counts ride the manifest
    * (`DataFile.deleteRows`), so metadata row counts and the CBO stats
    * bridge stay EXACT: live rows = rows - deleteRows.
    */
  private def commitPositionDeletesImpl(spark: SparkSession, op: String,
      positions: DataFrame, newData: Option[DataFrame],
      partitionBy: Seq[String]): Snapshot = IceboxCommit.retryingStaleHead {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val affected = affectedPathCounts(positions)
    if (affected.isEmpty) // no matching rows: commit an explicit no-op snapshot
      commits.publish(op, p => p.map(_.files).getOrElse(Nil), _ => cur.schemaJson)
    else commitMergeOnRead(op, cur, f => affected.contains(pathOnly(f.path)), _.deletes.size,
      survivors = { overFiles =>
        // stacked deletes applied by the read, the NEW positions anti-joined
        val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
        val withPos = readDataFilesWithPos(spark, overFiles, "__icx_rw_fp", "__icx_rw_pos")
        val dels = positions.select(Icebox.normPathCol(col("file_path")).as("__del_fp"),
          col("pos").as("__del_pos"))
        withPos.join(dels,
            Icebox.normPathCol(col("__icx_rw_fp")) === col("__del_fp") &&
              col("__icx_rw_pos") === col("__del_pos"), "left_anti")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      },
      deleteFile = writeDeleteFile(positions, "delete"),
      attachTo = (f, file) => f.copy(deletes = f.deletes :+ file,
        deleteRows = // unknown stays unknown; never fabricate exactness
          if (f.deleteRows < 0L) -1L else f.deleteRows + affected(pathOnly(f.path))),
      newData, partitionBy)
  }

  /** The merge-on-read commit both delete kinds share: write ONE delete
    * file (`deleteFile`, its path, or None when it holds no rows), attach it
    * to every `hit` file of `cur` (`attachTo`), and add `newData`'s files in
    * the SAME atomic snapshot — no data file is read or rewritten. A delete
    * that holds no rows attaches and rewrites nothing: the snapshot carries
    * only `newData`, or is a no-op.
    *
    * READ-AMPLIFICATION BOUND: every attached delete adds work to each read
    * of its file, so a hit file whose `depth` (stacked deletes of this kind)
    * reached `write.merge-on-read.max-delete-files` is instead rewritten
    * copy-on-write in this commit (`survivors`: its rows with every delete,
    * the new one included, applied), resetting its depth to zero. O(batch)
    * writes for the common case and bounded delete fan-in forever (Delta's
    * DV-compaction analog).
    */
  private def commitMergeOnRead(op: String, cur: Snapshot, hit: DataFile => Boolean,
      depth: DataFile => Int, survivors: Seq[DataFile] => DataFrame,
      deleteFile: => Option[String], attachTo: (DataFile, String) => DataFile,
      newData: Option[DataFrame], partitionBy: Seq[String]): Snapshot = {
    val maxDepth = properties.get("write.merge-on-read.max-delete-files")
      .map(_.toInt).getOrElse(8)
    val file = deleteFile
    val overFiles = file.fold(Seq.empty[DataFile])(_ =>
      cur.files.filter(f => hit(f) && depth(f) >= maxDepth))
    val overPaths = overFiles.map(_.path).toSet
    val payload = (newData ++ Option.when(overFiles.nonEmpty)(survivors(overFiles)))
      .reduceOption(_ unionByName _)
    def attach(parent: Option[Snapshot]): Seq[DataFile] = {
      // DRIFT GUARD: the hit set, the over-depth files and the rewrite were
      // all derived from `cur` — if a cross-process commit moved the head
      // (a compaction replacing an over-depth file, an append whose rows
      // match a deleted key), attaching against the new parent would
      // double-commit rewritten rows or let matching rows escape the
      // delete; recompute everything against the new head instead. It
      // also keeps the attach list to files that existed at `cur`: this
      // commit's own new files never carry its delete (sequence semantics)
      if (!parent.map(_.id).contains(cur.id)) throw IceboxCommit.StaleCommitState
      parent.map(_.files).getOrElse(Nil).flatMap {
        case f if overPaths(f.path) => None // replaced by this commit's rewrite
        case f if hit(f) => Some(file.fold(f)(attachTo(f, _)))
        case f => Some(f)
      }
    }
    payload match {
      case None => commits.publish(op, attach, _ => cur.schemaJson)
      // rewritten rows land in the table's current layout even when the
      // caller (deleteByKeys) passes no partitioning
      case Some(df) =>
        commit(df, if (partitionBy.nonEmpty) partitionBy else currentPartitionSpec, op) {
          (parent, newFiles) => attach(parent) ++ newFiles
        }
    }
  }

  /** Build the "provably holds NONE of the batch's keys" predicate over
    * `files` — shared by the eq-delete attach pruning and [[splitByKeys]].
    * `keysPhys` columns are PHYSICAL key names. Both checks below are
    * aggregates over `keysPhys`; when it is a local frame (a held batch)
    * they fold on the driver ([[graft.plans.LocalAggregateFold]]) and run
    * no Spark job.
    *
    * Range check: the batch's per-column bounds, by one tiny agg. Numeric
    * keys compare numerically; STRING keys compare in UTF8 binary order —
    * the order Spark's string min/max, the parquet footer stats, and
    * prunedFilesByStatsString all use — so string-keyed CDC (uuids,
    * natural keys) gets the same pruning on a range-clustered table.
    *
    * Bloom check (the point-lookup complement, and the one that works on
    * UNSORTED keys where every file's [min,max] spans the domain): for key
    * columns with manifest blooms, a file is provably unaffected when NONE
    * of the batch's key hashes might be in it — blooms have no false
    * negatives, so the skip is exact; false positives only keep extra
    * files (conservative). The keys' distinct `xxhash64`es are collected
    * per column. Bounded: the probe costs |files| x |distinct keys|
    * driver-side bit tests, so it engages only when the batch's distinct
    * keys fit `bloom.attach.max-keys` (default 100k; short-circuiting
    * exits at the first possible hit, and CDC batches are typically far
    * smaller). Missing/untyped stats and missing blooms keep the file.
    * Both checks see a key column as `snap` stores it (a bloom holds the
    * stored value's hash: an INT's differs from the same BIGINT's); one
    * whose type does not widen losslessly to the stored type proves nothing.
    */
  private[graft] def keyDisjoint(snap: Snapshot, keysPhys: DataFrame): DataFile => Boolean = {
    val storedType = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType].fields
      .map(f => Icebox.physicalName(f) -> f.dataType).toMap.filter { case (c, t) =>
        keysPhys.schema.find(_.name == c).exists(k => t == k.dataType ||
          t != StringType && Cast.canUpCast(k.dataType, t)) }
    val keyCols = keysPhys.columns.toSeq.filter(storedType.contains)
    // each numeric or STRING key column's [min, max] over the batch, a
    // numeric one as doubles
    val boundedCols = keyCols.filter(c => keysPhys.schema(c).dataType match {
      case _: NumericType => true
      case t => t == StringType
    })
    val bounds: Map[String, (Any, Any)] = if (boundedCols.isEmpty) Map.empty else {
      val aggs = boundedCols.flatMap { c =>
        val b = Seq(min(col(c)), max(col(c)))
        if (keysPhys.schema(c).dataType == StringType) b else b.map(_.cast("double"))
      }
      val r = keysPhys.agg(aggs.head, aggs.tail: _*).collect()(0)
      boundedCols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(2 * i) => c -> (r.get(2 * i), r.get(2 * i + 1))
      }.toMap
    }
    def utf8Lt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    val bloomMaxKeys = properties.get("bloom.attach.max-keys").map(_.toInt).getOrElse(100000)
    val bloomKeyCols = keyCols.filter(c => snap.files.exists(_.blooms.contains(c)))
    val keyHashes: Map[String, Array[Long]] = bloomKeyCols.flatMap { c =>
      val hs = keysPhys.where(col(c).isNotNull).select(xxhash64(col(c).cast(storedType(c))))
        .distinct().limit(bloomMaxKeys + 1).collect().map(_.getLong(0))
      Option.when(hs.length <= bloomMaxKeys)(c -> hs)
    }.toMap
    (f: DataFile) =>
      bounds.exists { case (c, kb) =>
        f.stats.get(c).exists { case (mn, mx) => kb match {
          case (klo: String, khi: String) => utf8Lt(mx, klo) || utf8Lt(khi, mn)
          case (klo: Double, khi: Double) =>
            scala.util.Try(mx.toDouble < klo || mn.toDouble > khi).getOrElse(false)
        }}
      } || keyHashes.exists { case (c, hs) =>
        f.blooms.get(c).flatMap(loadBloom).exists(bf => !hs.exists(bf.mightContainLong))
      }
  }

  /** Read only the files that might hold ANY of the batch's key tuples
    * (columns of `keys` = the key columns): manifest stats + bloom pruned
    * via [[keyDisjoint]], deletes applied, generation-aware — a SUPERSET
    * of the rows whose keys appear in `keys`, so callers still join/filter
    * exactly. The point-operation read path: a small CDC batch joined
    * against a huge table scans O(files that might hold the keys), not
    * O(table) — on a range-clustered table the stats prune, on an
    * unsorted bloom-indexed table the membership filters prune, and with
    * neither this degrades to a plain [[read]].
    */
  def readForKeys(spark: SparkSession, keys: DataFrame): DataFrame =
    readForKeysAt(spark, keys, currentSnapshot)

  /** [[readForKeys]] pinned to an explicit snapshot — callers that
    * classified work against a head id (e.g. an incremental MV refresh
    * whose cursor rides that id) read the SAME state even if the table
    * advances concurrently.
    */
  private[graft] def readForKeysAt(spark: SparkSession, keys: DataFrame,
      at: Option[Snapshot]): DataFrame =
    at match {
      case None => read(spark)
      case Some(cur) => IceboxFileIndex.scan(spark, this, splitByKeys(keys, cur)._1, cur.schemaJson)
    }

  /** Split `snap`'s files by whether they may hold a row whose key tuple is
    * in `keys` (columns = the LOGICAL key columns): `(candidates,
    * untouched)`, the key-based twin of
    * [[IceboxFileIndex.splitByPredicate]]. A file is untouched only when
    * its manifest stats or blooms prove it holds none of the keys
    * ([[keyDisjoint]]). `keys` is used as given: a local frame is split on
    * the driver with no Spark job, any other by [[keyDisjoint]]'s
    * aggregates over it.
    */
  private[graft] def splitByKeys(keys: DataFrame, snap: Snapshot): (Seq[DataFile], Seq[DataFile]) = {
    val disjoint = keyDisjoint(snap,
      keys.select(keys.columns.toSeq.map(c => col(c).as(toPhysical(c))): _*))
    snap.files.partition(f => !disjoint(f))
  }

  /** EQUALITY-delete commit (Iceberg v2's other merge-on-read delete type,
    * [[commitMergeOnRead]]): records `keys` as an equality-delete file
    * attached to every data file of the head the deleter read — minus files
    * whose manifest stats and blooms PROVE they contain no batch key — and,
    * for merge-on-read upsert, appends `newData`'s files in the SAME atomic
    * snapshot. A CDC upsert/delete costs one tiny parquet write regardless
    * of table size. Readers filter the keys away
    * ([[Icebox.applyEqualityDeletes]]); compaction materializes. Neither
    * `newData`'s own files nor a concurrently committed append are
    * attached, so re-inserts of a deleted key survive.
    */
  private[graft] def commitEqualityDeletes(op: String, keys: DataFrame,
      newData: Option[DataFrame] = None, partitionBy: Seq[String] = Nil,
      expectHeadId: Long = -2L): Snapshot = IceboxCommit.retryingStaleHead {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    // expected-head contract: the caller derived `keys`/`newData` from a
    // specific head snapshot — if ANY commit (including a concurrent run
    // of the same caller) moved the head past it, publishing would apply
    // a stale computation; SupersededCommit escapes the internal retry so
    // the caller re-runs its whole cycle
    if (expectHeadId != -2L && cur.id != expectHeadId) throw IceboxCommit.SupersededCommit
    val tableCols = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType].fieldNames.toSet
    val logicalKeyCols = keys.columns.toSeq
    require(logicalKeyCols.nonEmpty && logicalKeyCols.forall(tableCols.contains),
      s"equality-delete key columns ${logicalKeyCols.mkString(",")} must be table columns")
    // delete files store PHYSICAL key names — rename-proof: the read-side
    // join runs below the logical aliasing, and a later column rename must
    // not orphan older delete files
    val named = keys.select(logicalKeyCols.map(c => col(c).as(toPhysical(c))): _*)
    // ONE bounded collect of the distinct keys (no job when `keys` is
    // already local) feeds the attach pruning and the delete file as a
    // local frame; over the cap both keep the distributed plan
    val keysPhys = EqualityDeletes.distinctAtMost(named)
      .fold(named)(EqualityDeletes.frame(keys.sparkSession, _, named.schema))
    val disjoint = keyDisjoint(cur, keysPhys)
    commitMergeOnRead(op, cur, f => !disjoint(f), _.eqDeletes.size,
      // stacked deletes applied by the read, the NEW keys anti-joined
      survivors = overFiles => IceboxFileIndex.scan(keys.sparkSession, this, overFiles,
        cur.schemaJson).join(broadcast(keys.dropDuplicates()), logicalKeyCols, "left_anti"),
      deleteFile = EqualityDeletes.write(keysPhys, writeDeleteFile(_, "eqdelete")),
      attachTo = (f, file) => f.copy(eqDeletes = f.eqDeletes :+ file), newData, partitionBy)
  }

  /** Write `df` as ONE delete file (one task, so one file) through
    * [[DataFileCommitter]], like a data file: created under its final
    * name in a fresh `deletes/<kind>-<id>/` dir (as a data commit's files
    * sit in theirs), nothing staged or renamed. Its path, or None when it
    * holds no rows (the committer drops a zero-row file).
    */
  private def writeDeleteFile(df: DataFrame, kind: String): Option[String] = {
    val id = UUID.randomUUID().toString.take(12)
    DataFileCommitter.write(df.coalesce(1), store.render(new HPath(deletesDir, s"$kind-$id")),
      Nil, Map.empty, id, None, Map.empty).headOption.map(f => store.render(new HPath(f.path)))
  }

  /** CDC hard-delete by key: remove every row whose key tuple appears in
    * `keys` (columns of `keys` = the equality columns) without reading or
    * rewriting ANY data — one equality-delete file and a metadata commit.
    * The merge-on-read complement of a predicate DELETE for the "stream of
    * deleted ids" CDC shape.
    */
  def deleteByKeys(keys: DataFrame): Snapshot = commitEqualityDeletes("eqdelete", keys)

  /** Per-file position count of one DML batch's `(file_path, pos)` frame,
    * keyed by SCHEME-FREE path (compare manifest paths through
    * [[pathOnly]]: a manifest records a path with or without a scheme,
    * depending on the table's filesystem) — one aggregate over a small
    * frame, a bounded driver collect of ≤ one row per candidate FILE;
    * positions are per-file distinct by construction (each physical row
    * contributes at most one pair to a DELETE/UPDATE match), so counts
    * subtract exactly from manifest rows.
    */
  private def affectedPathCounts(positions: DataFrame): Map[String, Long] =
    positions.groupBy("file_path").count().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath -> r.getLong(1)).toMap

  /** A path string reduced to its filesystem path — scheme/authority
    * stripped — for comparisons against `_metadata.file_path` /
    * `input_file_name` values, which carry a scheme on some read paths and
    * not others.
    */
  private def pathOnly(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Write `df` as a fresh commit dir, then publish the snapshot whose
    * file set is derived by `resolve(parent, newFiles)`
    * ([[IceboxCommit.publish]]). The write is one Spark job through
    * [[DataFileCommitter]]: each task writes its files under their final
    * names (bucket-stamped when the spec has one bucket transform) and
    * returns them with their footer's row count, min/max and null counts,
    * its zero-row files deleted. Footer-undecodable stats columns, blooms
    * and NDV sketches then take one pass over the written files
    * ([[sideData]]).
    */
  private def commit(df0: DataFrame, partitionBy: Seq[String], op: String,
      collectStats: Seq[String] = Nil, onBranch: Option[String] = None,
      alsoSetProperties: Map[String, String] = Map.empty)(
      resolve: (Option[Snapshot], Seq[DataFile]) => Seq[DataFile]): Snapshot = this.synchronized {
    require(!df0.columns.contains(CommitCol), s"column name $CommitCol is reserved")
    // the lineage this commit extends: a branch head, or the main head
    val base: Option[Snapshot] = onBranch.map(branchSnapshot).orElse(currentSnapshot)
    // HIDDEN partitions: derive any spec-defined partition column the
    // caller's frame doesn't carry (compaction and DML rewrites read the
    // schema-only view, so they re-derive here); the STORED schema excludes
    // hidden columns either way — they never enter the table schema
    val hiddenNames = partitionSpec
      .filterNot(_.isInstanceOf[IdentityTransform]).map(_.name).toSet
    // column-mapping evolution: carry each existing column's physical name
    // from the current schema; a brand-new column whose name was EVER used
    // physically before (dropped then re-added) gets a fresh physical name
    // so the dropped column's on-disk data can't resurrect
    val storedSchema = evolvedStoredSchema(StructType(
      df0.schema.fields.filterNot(f => hiddenNames.contains(f.name))), base)
    val schemaJsonStored = storedSchema.json
    val l2p = Icebox.logicalToPhysical(storedSchema)
    def phys(n: String): String = l2p.getOrElse(n, n)
    val df1 =
      if (partitionBy.exists(hiddenNames.contains)) withHiddenPartitions(df0) else df0
    // files are written with PHYSICAL column names (read paths alias back)
    val df =
      if (Icebox.hasMapping(storedSchema))
        df1.select(df1.columns.toIndexedSeq.map(c => col(c).as(phys(c))): _*)
      else df1
    val partitionByPhys = partitionBy.map(phys)
    // An append must use the table's current spec: the EVOLVED spec
    // (`partition.columns` property) if one is set, otherwise the parent's
    // single layout — anything else is a caller error. Mixed layout
    // generations are supported on read (one relation per generation), so
    // spec evolution doesn't rewrite history. Compare case-insensitively on
    // BOTH sides: directory names preserve the column's written case, so
    // lowercasing only one side spuriously rejects every append after the
    // first for uppercase partition columns.
    base.filter(p => op == "append" && p.files.nonEmpty).foreach { parent =>
      val expected = properties.get("partition.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(layoutColumns(Some(parent)))
      val mine = partitionByPhys.map(_.toLowerCase).sorted
      require(mine == expected.map(c => phys(c).toLowerCase).sorted,
        s"append partitioning ${partitionByPhys.mkString(",")} does not match the table's " +
          s"current partition spec ${expected.mkString(",")}")
    }
    val commitId = UUID.randomUUID().toString.take(12)
    val commitDir = new HPath(dataDir, s"$CommitCol=$commitId")
    // rider properties act as if already set: write shaping (sort/bloom/
    // distribution) sees them on the very commit that publishes them
    val props = properties ++ alsoSetProperties
    // WRITE SHAPING (Iceberg table-property analogs), applied after
    // physicalization so the columns are the on-disk names:
    //  - write.distribution-mode = hash | range: repartition by the
    //    partition columns before the write, so each partition's data is
    //    produced by few tasks instead of EVERY task writing a sliver into
    //    every partition — without this, N tasks x P partitions = N*P tiny
    //    files per commit, the classic small-file explosion at 100 TB;
    //  - write.sort.columns: sort within tasks before writing, so each
    //    file covers a narrow range of the sort key and per-file min/max
    //    stats prune effectively WITHOUT waiting for a sorted compaction.
    val distributed = props.get("write.distribution-mode") match {
      case Some("hash") if partitionByPhys.nonEmpty =>
        df.repartition(partitionByPhys.map(col): _*)
      case Some("range") if partitionByPhys.nonEmpty =>
        df.repartitionByRange(partitionByPhys.map(col): _*)
      case Some(m) if !Set("none", "hash", "range").contains(m) =>
        sys.error(s"write.distribution-mode=$m (expected none | hash | range)")
      case _ => df
    }
    val shaped = props.get("write.sort.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq) match {
      case Some(cols) if cols.nonEmpty =>
        // the PARTITION columns lead the sort: a partitioned write requires
        // task rows ordered by the partition columns, and if the incoming
        // order doesn't satisfy that, FileFormatWriter inserts its own
        // NON-STABLE sort on just those columns — silently destroying the
        // declared order inside every file. Leading with them satisfies
        // the writer's requirement, so no extra sort is inserted and each
        // file stays sorted by the declared columns.
        distributed.sortWithinPartitions(
          (partitionByPhys ++ cols.map(phys).filterNot(partitionByPhys.contains))
            .map(col): _*)
      case _ => distributed
    }
    // Footer-decodable primitive columns are stats-tracked BY DEFAULT: each
    // write task reads its files' footers for row counts anyway, so their
    // min/max is metadata-free — every table gets file skipping and
    // file-pruned DML without writer opt-in (Iceberg records metrics for
    // all columns by default for the same reason). Scan-fallback types
    // (decimals, timestamps, nested) still require explicit `collectStats`
    // and stay STICKY once tracked, so skipping remains effective
    // table-wide without every caller re-opting-in.
    // stats are keyed by PHYSICAL name throughout (files, manifests, and
    // the pruning paths all live below the logical aliasing)
    val sticky = base.map(_.files.flatMap(_.stats.keys).distinct
      .filter(df.columns.contains)).getOrElse(Nil)
    val footerDefaults = df0.schema.fields.toSeq
      .filter(f => Icebox.footerDecodable(f.dataType)).map(f => phys(f.name))
    val statsCols = (collectStats.map(phys) ++ sticky ++ footerDefaults).distinct
      .flatMap(c => df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(c -> _.dataType))
    // footer-undecodable types (decimals, timestamps, nested) can't be
    // decoded with exact string parity to the scan path: they pay a
    // data-scan aggregation over the written files
    val (footerStats, scanStats) = statsCols.partition(c => Icebox.footerDecodable(c._2))
    val bloomCols = props.get("write.bloom.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val options = Map("compression" -> props.getOrElse("write.compression", "zstd")) ++ // reference: spark_builder.py:248
      bloomCols.map(c => s"parquet.bloom.filter.enabled#${phys(c)}" -> "true")
    val bucket = partitionSpec.collect { case b: BucketTransform => b.name -> b.n } match {
      case Seq(b) => Some(b)
      case _ => None
    }
    val written = DataFileCommitter.write(shaped, store.render(commitDir), partitionByPhys,
      options, commitId, bucket, footerStats.toMap)
      .map(f => f.copy(path = store.render(new HPath(f.path))))
    // Manifest-level bloom index (`manifest.bloom.columns`) and NDV index
    // (`sketch.ndv.columns`, usually set via ANALYZE TABLE): per-file side
    // files, built after the write because bloom sizing needs the largest
    // row count in the commit, which no single task knows. Both are sticky
    // like stats columns: once any live file blooms or sketches a column,
    // later commits keep doing so for their new files without re-opting-in,
    // so point-lookup pruning and metadata-only approx COUNT(DISTINCT) stay
    // effective table-wide across appends and compactions.
    def indexed(keys: DataFile => Iterable[String], prop: String): Seq[String] =
      (props.get(prop).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        .map(phys) ++ base.toSeq.flatMap(_.files.flatMap(keys))).distinct.filter(df.columns.contains)
    val withSideData = sideData(df.sparkSession, written, schemaJsonStored, props,
      scanStats.map(_._1), indexed(_.blooms.keys, "manifest.bloom.columns"),
      indexed(_.sketches.keys, "sketch.ndv.columns"))
    val newFiles = written.map(withSideData)
    commits.publish(op, parent => resolve(parent, newFiles), _ => schemaJsonStored, onBranch,
      alsoSetProperties)
  }

  /** The current snapshot's schema as a StructType (logical names). */
  private[graft] def currentSchemaStruct: Option[StructType] =
    currentSnapshot.map(s => DataType.fromJson(s.schemaJson).asInstanceOf[StructType])

  /** Map a caller-facing (logical) column name to the physical name used in
    * files, manifests, and partition dirs. Identity when the table has no
    * mapping or no snapshot yet.
    */
  private[graft] def toPhysical(name: String): String =
    currentSchemaStruct.flatMap(_.fields.find(_.name.equalsIgnoreCase(name))
      .map(Icebox.physicalName)).getOrElse(name)

  /** Every physical column name any snapshot's schema ever used — the
    * collision set for assigning fresh physical names (driver-side metadata
    * walk over cached manifests; only consulted when a commit or
    * [[addColumn]] introduces a column name not in the current schema).
    */
  private def historicalPhysicalNames: Set[String] =
    allSnapshots.flatMap(s => DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
      .fields.map(Icebox.physicalName)).toSet

  /** The schema to STORE for a commit of `s` (logical, hidden dirs already
    * excluded): existing columns keep their physical mapping from the
    * current schema; brand-new columns get a fresh suffixed physical name
    * iff their logical name was ever used physically before (otherwise a
    * re-added column would read the DROPPED column's bytes out of old
    * files).
    */
  private def evolvedStoredSchema(s: StructType,
      base: Option[Snapshot] = currentSnapshot): StructType = base match {
    case None => s
    case Some(cur) =>
      val curByName = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
        .fields.map(f => f.name -> f).toMap
      lazy val usedPhysical = historicalPhysicalNames
      def withPhysical(f: StructField, physical: String): StructField =
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(Icebox.PhysicalKey, physical).build())
      StructType(s.fields.map { f =>
        curByName.get(f.name) match {
          case Some(cf) if Icebox.physicalName(cf) != f.name =>
            withPhysical(f, Icebox.physicalName(cf))
          case Some(_) => f
          case None if usedPhysical.contains(f.name) =>
            withPhysical(f, s"${f.name}__r${cur.id + 1}")
          case None => f
        }
      })
  }

  // ------------------------------------------------- ALTER TABLE evolution

  /** Rename a column — METADATA-ONLY (Iceberg/Delta column-mapping): the
    * stored schema's field takes the new logical name and records the old
    * physical name; no file is touched, and every older snapshot keeps the
    * name that was current then. Renaming a column referenced by the hidden
    * `partition.spec` is rejected (the spec text names source columns).
    */
  def renameColumn(oldName: String, newName: String): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    val f = schema.fields.find(_.name.equalsIgnoreCase(oldName)).getOrElse(
      sys.error(s"no such column: $oldName"))
    require(!schema.fields.exists(_.name.equalsIgnoreCase(newName)),
      s"column $newName already exists")
    require(!partitionSpec.exists(_.source.equalsIgnoreCase(oldName)),
      s"cannot rename $oldName: referenced by partition.spec '${properties.getOrElse("partition.spec", "")}'")
    val renamed = f.copy(name = newName,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(Icebox.PhysicalKey, Icebox.physicalName(f)).build())
    val next = StructType(schema.fields.map(x => if (x eq f) renamed else x))
    val snap = commits.publish("alter", p => p.map(_.files).getOrElse(Nil), _ => next.json)
    // an evolved identity spec (`partition.columns`) speaks LOGICAL names —
    // carry the rename, or the next append would auto-apply a ghost column
    // and die AFTER the schema commit landed. The property write follows
    // the schema commit; a crash between the two makes the next append fail
    // loudly (unknown column), never corrupt data.
    properties.get("partition.columns").foreach { spec =>
      val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
      if (cols.exists(_.equalsIgnoreCase(oldName)))
        setProperties(Map("partition.columns" -> cols.map(c =>
          if (c.equalsIgnoreCase(oldName)) newName else c).mkString(",")))
    }
    snap
  }

  /** Drop a column — metadata-only: the field leaves the schema, readers
    * stop projecting it, and the on-disk bytes are reclaimed by the next
    * compaction. Identity-partition and `partition.spec` source columns
    * cannot be dropped (the file layout depends on them).
    */
  def dropColumn(name: String): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    require(schema.fields.exists(_.name.equalsIgnoreCase(name)), s"no such column: $name")
    require(schema.fields.length > 1, "cannot drop the last column")
    require(!partitionColumns.exists(_.equalsIgnoreCase(name)),
      s"cannot drop partition column $name")
    require(!partitionSpec.exists(_.source.equalsIgnoreCase(name)),
      s"cannot drop $name: referenced by partition.spec")
    // the EVOLVED identity spec counts too: future appends auto-partition
    // by `partition.columns`, so dropping a column named there would break
    // every subsequent write after the metadata commit already landed
    require(!currentPartitionSpec.exists(_.equalsIgnoreCase(name)),
      s"cannot drop $name: named by the evolved partition.columns spec")
    val next = StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
    commits.publish("alter", p => p.map(_.files).getOrElse(Nil), _ => next.json)
  }

  /** Add a nullable column — metadata-only: files written before it read
    * the column as NULL. If the name was ever used physically before (a
    * dropped column), the new column maps to a fresh physical name so the
    * old bytes stay dead.
    */
  def addColumn(name: String, dataType: DataType): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    require(!schema.fields.exists(_.name.equalsIgnoreCase(name)),
      s"column $name already exists")
    val field =
      if (historicalPhysicalNames.contains(name))
        StructField(name, dataType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(Icebox.PhysicalKey, s"${name}__r${currentSnapshotId + 1}").build())
      else StructField(name, dataType, nullable = true)
    commits.publish("alter", p => p.map(_.files).getOrElse(Nil),
      _ => StructType(schema.fields :+ field).json)
  }

  /** Widen a column's type in place — metadata-only. Allowed promotions are
    * the ones Spark's parquet readers apply losslessly at scan time
    * (verified on this build) and Iceberg's evolution rules permit:
    * int→long, int→double, float→double. Old files keep their narrow
    * physical type; the scan up-casts.
    */
  def widenColumn(name: String, newType: DataType): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      sys.error(s"no such column: $name"))
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val ok = (f.dataType, newType) match {
      case (IntegerType, LongType) | (IntegerType, DoubleType) |
           (FloatType, DoubleType) => true
      case (a, b) => a == b
    }
    require(ok, s"cannot widen ${f.dataType.simpleString} to ${newType.simpleString} " +
      "(allowed: int->bigint, int->double, float->double)")
    // a hidden-partition transform derived its dir values from the OLD
    // type: bucket dirs hash the 32-bit value, truncate dirs floor the old
    // representation — widening the source would make literal-through-
    // transform pruning (and bucketed-read hashing) silently wrong for
    // every existing file, so refuse rather than mis-prune
    if (f.dataType != newType) {
      val hit = partitionSpec.filterNot(_.isInstanceOf[IdentityTransform])
        .find(_.source.equalsIgnoreCase(f.name))
      require(hit.isEmpty, s"cannot widen ${f.name}: it is the source of hidden " +
        s"partition transform ${hit.map(PartitionTransform.render).getOrElse("")} — " +
        "existing dir values were derived from the old type")
    }
    val next = StructType(schema.fields.map(x =>
      if (x eq f) x.copy(dataType = newType) else x))
    // an old file's bloom hashed the narrow value: it proves nothing now
    val stale = Option.when(f.dataType != newType)(Icebox.physicalName(f))
    commits.publish("alter", p => p.map(_.files).getOrElse(Nil)
      .map(d => d.copy(blooms = d.blooms -- stale)), _ => next.json)
  }

  /** Metadata-only commit: a new snapshot with the SAME file set whose op
    * string carries a marker (e.g. a materialized view advancing its
    * processed-source cursor past data-neutral commits like compactions).
    * O(delta)=O(0) manifest; no data is read or written.
    */
  private[graft] def commitMarker(op: String, expectHeadId: Long = -2L): Snapshot = {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    commits.publish(op, { parent =>
      if (expectHeadId != -2L && !parent.map(_.id).contains(expectHeadId))
        throw IceboxCommit.SupersededCommit
      parent.map(_.files).getOrElse(Nil)
    }, _ => cur.schemaJson)
  }

  /** A commit's per-file side data, built in ONE pass over `files`' raw
    * content (no deletes applied), read through the manifest-backed
    * [[IceboxFileIndex.rawScan]] with `schemaJson`: no listing job and no
    * schema-inference job. One `groupBy(file)` aggregation computes, over
    * the physical columns the files store:
    *  - `statsCols`' min/max (the data-scan fallback for footer-undecodable
    *    types); a rendering over [[Icebox.MaxStringStatBytes]] is dropped,
    *    as the footer path does, and the file is then kept by pruning;
    *  - a bloom filter per `bloomCols` column over `xxhash64` longs,
    *    [[graft.functions.BloomBuildAgg]] sized EXACTLY per commit:
    *    `expectedItems` = the largest footer row count among `files`
    *    (smaller files get a lower fpp than `manifest.bloom.fpp` asks,
    *    never a higher one);
    *  - an NDV (HyperLogLog) sketch per `sketchCols` column at
    *    `sketch.ndv.precision`, nulls excluded BEFORE hashing (xxhash64
    *    maps null to the seed, and COUNT(DISTINCT) excludes null).
    * The hashes stay in whole-stage codegen below the aggregate, partial
    * buffers merge, and the shuffle ships one filter or sketch per (file,
    * column). Blooms and sketches become content-addressed side files
    * (`_snapshots/blooms/<sha>.bloom`, `_snapshots/sketches/<sha>.hll`;
    * the manifest entry carries only the column→sha pointer, the way
    * Iceberg keeps big per-file stats in puffin side files), written FROM
    * THE EXECUTORS that hold each merged buffer: temp name + rename, and
    * content addressing makes a concurrent double write byte-identical.
    * The driver receives shas and bounded stat strings, never the buffers.
    *
    * Returns the merge of a file's side data into its entry (identity for
    * a file the pass did not cover).
    */
  private def sideData(spark: SparkSession, files: Seq[DataFile], schemaJson: String,
      props: Map[String, String], statsCols: Seq[String], bloomCols: Seq[String],
      sketchCols: Seq[String]): DataFile => DataFile = {
    import org.apache.spark.sql.functions.{col => fcol, input_file_name, when, xxhash64}
    if (files.isEmpty || statsCols.isEmpty && bloomCols.isEmpty && sketchCols.isEmpty)
      return identity
    val raw = IceboxFileIndex.rawScan(spark, this, files, schemaJson)
    val stored = raw.columns.toSet
    val (st, bl, sk) = (statsCols.filter(stored), bloomCols.filter(stored), sketchCols.filter(stored))
    if (st.isEmpty && bl.isEmpty && sk.isEmpty) return identity
    val values = raw.select(input_file_name().as("__file") +: (
      st.zipWithIndex.map { case (c, i) => fcol(c).as(s"__v$i") } ++
      bl.zipWithIndex.map { case (c, i) => xxhash64(fcol(c)).as(s"__b$i") } ++
      sk.zipWithIndex.map { case (c, i) =>
        when(fcol(c).isNotNull, xxhash64(fcol(c))).as(s"__h$i") }): _*)
    val expectedItems = math.max(1L, files.map(_.rows).max)
    val fpp = props.get("manifest.bloom.fpp").map(_.toDouble).getOrElse(0.03)
    val p = props.get("sketch.ndv.precision").map(_.toInt).getOrElse(graft.functions.Hll.DefaultP)
    val aggs = st.indices.flatMap(i => Seq(min(s"__v$i"), max(s"__v$i"))) ++
      bl.indices.map(i => graft.functions.BloomBuild.agg(spark, fcol(s"__b$i"), expectedItems, fpp)) ++
      sk.indices.map(i => graft.functions.HllBuild.agg(spark, fcol(s"__h$i"), p))
    val confBc = spark.sparkContext.broadcast(
      new Icebox.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val (bloomsDirStr, sketchesDirStr) = (bloomsDir.toString, sketchesDir.toString)
    import spark.implicits._
    val perFile = values.groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .map { r =>
        def sides(cols: Seq[String], at: Int, dir: String, ext: String): Map[String, String] =
          cols.zipWithIndex.flatMap { case (c, i) =>
            Option(r.getAs[Array[Byte]](at + i)).map(bytes =>
              c -> Icebox.writeSideFile(confBc.value.value, dir, bytes, ext))
          }.toMap
        val stats = st.zipWithIndex.flatMap { case (c, i) =>
          (Option(r.get(1 + 2 * i)).map(_.toString), Option(r.get(2 + 2 * i)).map(_.toString)) match {
            case (Some(mn), Some(mx))
              if mn.getBytes(StandardCharsets.UTF_8).length <= Icebox.MaxStringStatBytes &&
                 mx.getBytes(StandardCharsets.UTF_8).length <= Icebox.MaxStringStatBytes =>
              Some(c -> (mn, mx))
            case _ => None
          }
        }.toMap
        (r.getString(0), stats, sides(bl, 1 + 2 * st.size, bloomsDirStr, "bloom"),
          sides(sk, 1 + 2 * st.size + bl.size, sketchesDirStr, "hll"))
      }.collect()
      // input_file_name renders a URI; key by the decoded filesystem path
      .map { case (file, stats, blooms, sketches) =>
        new java.net.URI(file).getPath -> (stats, blooms, sketches) }.toMap
    f => perFile.get(pathOnly(f.path)).fold(f) { case (stats, blooms, sketches) =>
      f.copy(stats = f.stats ++ stats, blooms = f.blooms ++ blooms, sketches = f.sketches ++ sketches)
    }
  }

  /** Load one bloom side file by content sha (process-wide cache — shas
    * are immutable identities, and a planner point-lookup probes the same
    * handful of filters per query).
    */
  private[graft] def loadBloom(sha: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val hit = Icebox.bloomCache.get(sha)
    if (hit != null) return Some(hit)
    val p = bloomPath(sha)
    if (!store.exists(p)) return None
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(store.readBytes(p)))
    Icebox.bloomCache.put(sha, bf)
    Some(bf)
  }

  /** Load one NDV sketch side file by content sha (process-wide cache —
    * sketches are 2-4 KB and immutable).
    */
  private[graft] def loadSketch(sha: String): Option[Array[Byte]] = {
    val hit = Icebox.sketchCache.get(sha)
    if (hit != null) return Some(hit)
    val p = sketchPath(sha)
    if (!store.exists(p)) return None
    val bytes = store.readBytes(p)
    Icebox.sketchCache.put(sha, bytes)
    Some(bytes)
  }

  private def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Files-per-checkpoint above which full checkpoints shard, as the
    * table properties `props` set it.
    */
  private def shardThreshold(props: Map[String, String]): Int =
    props.get("checkpoint.shard.threshold").map(_.toInt)
      .getOrElse(Icebox.DefaultShardThreshold)

  /** Write `resolved` as a content-addressed sharded checkpoint; returns
    * the shard refs plus the CANONICAL file order (shards sorted by key,
    * files sorted by path within a shard — fully deterministic, so the
    * same partition state always serializes to the same shard bytes and
    * an untouched partition's shard is recognized by its sha and NOT
    * rewritten). Shard files are immutable once written; a losing commit
    * attempt's shards are either re-referenced by the retry or collected
    * by the mtime-gated [[IceboxCommit.reclaim]].
    */
  private def writeShardedCheckpoint(
      resolved: Seq[DataFile]): (Seq[Icebox.ShardRef], Seq[DataFile]) = {
    store.mkdirs(shardsDir)
    val maxShards = properties.get("checkpoint.max.shards").map(_.toInt)
      .getOrElse(Icebox.DefaultMaxShards)
    def partKey(f: DataFile): String =
      f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")
    val byPart = resolved.groupBy(partKey)
    val perPartition = byPart.size > 1 && byPart.size <= maxShards &&
      resolved.exists(_.partition.nonEmpty)
    val groups: Seq[(String, Option[Map[String, String]], Seq[DataFile])] =
      if (perPartition)
        byPart.toSeq.sortBy(_._1).map { case (k, fs) =>
          (k, Some(fs.head.partition), fs.sortBy(_.path))
        }
      else {
        // unpartitioned (or wider-than-maxShards) table: hash-bucket by
        // partition key (path for unpartitioned files) so a small commit
        // still dirties only the few buckets its files land in; ~16
        // files/bucket keeps each shard a few KB of JSON
        val n = math.min(maxShards, math.max(8, resolved.size / 16))
        resolved.groupBy { f =>
          math.floorMod((if (f.partition.nonEmpty) partKey(f) else f.path).hashCode, n)
        }.toSeq.sortBy(_._1).map { case (i, fs) => (f"b=$i%05d", None, fs.sortBy(_.path)) }
      }
    val metas = groups.map { case (key, pm, fs) =>
      val node = mapper.createObjectNode()
      writeFileArray(node, "files", fs)
      val bytes = node.toString.getBytes(StandardCharsets.UTF_8)
      (key, pm, fs, bytes, sha256Hex(bytes))
    }
    // content-addressed: exists means identical bytes; a concurrent
    // writer creating the same sha writes the same content, so a lost
    // createNew race is indistinguishable from a win. IO fans out over a
    // bounded pool — exists-probes and writes are per-shard round trips.
    def persist(bytes: Array[Byte], sha: String): Unit = {
      val p = shardPath(sha)
      if (!store.exists(p)) store.createNew(p, bytes)
    }
    if (metas.sizeIs <= 8) metas.foreach { case (_, _, _, bytes, sha) => persist(bytes, sha) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try metas.map { case (_, _, _, bytes, sha) =>
        val c: java.util.concurrent.Callable[Unit] = () => persist(bytes, sha)
        pool.submit(c)
      }.foreach(_.get())
      finally pool.shutdown()
    }
    val refs = metas.map { case (key, pm, fs, _, sha) =>
      shardCache.put(sha, fs)
      Icebox.ShardRef(key, sha, fs.size.toLong, fs.map(_.sizeBytes).sum, pm)
    }
    (refs, groups.flatMap(_._3))
  }

  /** Decide delta vs full for one commit (see class doc). Returns the
    * manifest plus the CANONICAL file order — parent survivors then added —
    * so the in-memory snapshot matches what a fresh handle reconstructs by
    * replaying the chain from disk.
    */
  private[table] def buildManifest(id: Long, parent: Option[Snapshot], op: String,
      resolved: Seq[DataFile], schemaJson: String): (Icebox.Manifest, Seq[DataFile]) = {
    val parentFiles = parent.map(_.files).getOrElse(Nil)
    val parentDepth = parent.map(p => manifest(p.id).deltaDepth).getOrElse(0)
    val pByPath = parentFiles.map(f => f.path -> f).toMap
    val rByPath = resolved.map(f => f.path -> f).toMap
    // a path present on both sides with a CHANGED entry (e.g. new stats)
    // is recorded as removed + re-added, so replay replaces it
    val added = resolved.filterNot(f => pByPath.get(f.path).contains(f))
    val removedPaths = parentFiles.filterNot(f => rByPath.get(f.path).contains(f)).map(_.path)
    val ts = System.currentTimeMillis()
    val parentId = parent.map(_.id).getOrElse(-1L)
    val props = properties
    val interval = props.get("checkpoint.interval").map(_.toInt).getOrElse(Icebox.MaxDeltaChain)
    val writeFull = parent.isEmpty ||
      added.size + removedPaths.size >= resolved.size ||
      parentDepth + 1 >= interval
    if (writeFull) {
      if (resolved.size >= shardThreshold(props)) {
        val (refs, canonical) = writeShardedCheckpoint(resolved)
        (Icebox.Manifest(id, parentId, ts, op, schemaJson, resolved.size.toLong,
          resolved.map(_.sizeBytes).sum, 0, None, Nil, Nil, refs), canonical)
      } else
        (Icebox.Manifest(id, parentId, ts, op, schemaJson, resolved.size.toLong,
          resolved.map(_.sizeBytes).sum, 0, Some(resolved), Nil, Nil), resolved)
    } else {
      val removedSet = removedPaths.toSet
      val canonical = parentFiles.filterNot(f => removedSet(f.path)) ++ added
      (Icebox.Manifest(id, parentId, ts, op, schemaJson, canonical.size.toLong,
        canonical.map(_.sizeBytes).sum, parentDepth + 1, None, added, removedPaths),
        canonical)
    }
  }

  // ------------------------------------------------- manifest serialization
  // JSON (jackson-databind ships with Spark). Full manifests carry "files";
  // delta manifests carry "added" + "removedPaths". Manifests written by the
  // pre-delta format (just "files", no counts) parse as full manifests.

  /** Serialize a file array onto `root`. Map-valued fields (partition,
    * stats) are written in sorted key order so the SAME logical content
    * always yields the SAME bytes — shard content addressing hashes these
    * bytes, and byte determinism is what lets an unchanged partition's
    * shard be recognized and reused across checkpoints.
    */
  private def writeFileArray(root: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, fs: Seq[DataFile]): Unit = {
    val arr = root.putArray(name)
    fs.foreach { f =>
      val o = arr.addObject()
      o.put("path", f.path).put("sizeBytes", f.sizeBytes)
      if (f.rows >= 0) o.put("rows", f.rows)
      val p = o.putObject("partition")
      f.partition.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      if (f.stats.nonEmpty) {
        val st = o.putObject("stats")
        f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val e = st.putObject(c); e.put("min", mn); e.put("max", mx)
        }
      }
      if (f.deletes.nonEmpty) {
        val ds = o.putArray("deletes")
        f.deletes.foreach(ds.add)
        // written (incl. -1 = unknown) whenever deletes exist, so a
        // manifest rewrite never upgrades unknown to a fake count
        o.put("deleteRows", f.deleteRows)
      }
      if (f.eqDeletes.nonEmpty) {
        val eds = o.putArray("eqDeletes")
        f.eqDeletes.foreach(eds.add)
      }
      if (f.blooms.nonEmpty) {
        val bl = o.putObject("blooms")
        f.blooms.toSeq.sortBy(_._1).foreach { case (c, sha) => bl.put(c, sha) }
      }
      if (f.sketches.nonEmpty) {
        val sk = o.putObject("sketches")
        f.sketches.toSeq.sortBy(_._1).foreach { case (c, sha) => sk.put(c, sha) }
      }
      if (f.nullCounts.nonEmpty) {
        val nc = o.putObject("nulls")
        f.nullCounts.toSeq.sortBy(_._1).foreach { case (c, n) => nc.put(c, n) }
      }
    }
  }

  /** Parse the file array `name` from a manifest/shard JSON node. */
  private def readFileArray(node: com.fasterxml.jackson.databind.JsonNode,
      name: String): Seq[DataFile] =
    Option(node.get(name)).map(_.elements().asScala.map { f =>
      val pm = f.get("partition")
      val partition = pm.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      val stats = Option(f.get("stats")).map { sn =>
        sn.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get("min").asText, e.getValue.get("max").asText)
        }.toMap
      }.getOrElse(Map.empty[String, (String, String)])
      val deletes = Option(f.get("deletes"))
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
      val eqDeletes = Option(f.get("eqDeletes"))
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
      val blooms = Option(f.get("blooms")).map { bn =>
        bn.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      val sketches = Option(f.get("sketches")).map { sn =>
        sn.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      val nullCounts = Option(f.get("nulls")).map { nn =>
        nn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      }.getOrElse(Map.empty[String, Long])
      DataFile(f.get("path").asText, f.get("sizeBytes").asLong, partition, stats,
        if (f.has("rows")) f.get("rows").asLong else -1L, deletes, eqDeletes, blooms,
        sketches, nullCounts,
        // legacy manifests recorded no count alongside their deletes: unknown
        deleteRows = if (f.has("deleteRows")) f.get("deleteRows").asLong
          else if (deletes.nonEmpty) -1L else 0L)
    }.toSeq).getOrElse(Nil)

  private[table] def manifestJson(m: Icebox.Manifest): String = {
    val root = mapper.createObjectNode()
    root.put("id", m.id).put("parentId", m.parentId)
      .put("timestampMs", m.timestampMs).put("operation", m.operation)
      .put("schemaJson", m.schemaJson)
      .put("fileCount", m.fileCount).put("totalBytes", m.totalBytes)
      .put("deltaDepth", m.deltaDepth)
    m.full match {
      case Some(fs) => writeFileArray(root, "files", fs)
      case None if m.shards.nonEmpty =>
        val arr = root.putArray("shards")
        m.shards.foreach { s =>
          val o = arr.addObject()
          o.put("key", s.key).put("sha", s.sha)
            .put("fileCount", s.fileCount).put("totalBytes", s.totalBytes)
          s.partition.foreach { pm =>
            val p = o.putObject("partition")
            pm.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
          }
        }
      case None =>
        writeFileArray(root, "added", m.added)
        val rm = root.putArray("removedPaths")
        m.removedPaths.foreach(rm.add)
    }
    root.toPrettyString
  }

  /** Parse (and cache) the manifest of snapshot `id`. */
  private[table] def manifest(id: Long): Icebox.Manifest = {
    val cached = manifestCache.get(id)
    if (cached != null) return cached
    val node = mapper.readTree(store.readBytes(manifestPath(id)))
    val full = if (node.has("files")) Some(readFileArray(node, "files")) else None
    val added = readFileArray(node, "added")
    val removedPaths = Option(node.get("removedPaths"))
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    val shards = Option(node.get("shards")).map(_.elements().asScala.map { s =>
      val pm = Option(s.get("partition")).map(p =>
        p.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      Icebox.ShardRef(s.get("key").asText, s.get("sha").asText,
        s.get("fileCount").asLong, s.get("totalBytes").asLong, pm)
    }.toSeq).getOrElse(Nil)
    val fileCount =
      if (node.has("fileCount")) node.get("fileCount").asLong
      else full.map(_.size.toLong).getOrElse(0L)
    val totalBytes =
      if (node.has("totalBytes")) node.get("totalBytes").asLong
      else full.map(_.map(_.sizeBytes).sum).getOrElse(0L)
    val m = Icebox.Manifest(node.get("id").asLong, node.get("parentId").asLong,
      node.get("timestampMs").asLong, node.get("operation").asText,
      node.get("schemaJson").asText, fileCount, totalBytes,
      if (node.has("deltaDepth")) node.get("deltaDepth").asInt else 0,
      full, added, removedPaths, shards)
    manifestCache.put(id, m)
    m
  }

  /** Load one checkpoint shard by content hash (cached — shas are
    * immutable identities).
    */
  private def loadShard(r: Icebox.ShardRef): Seq[DataFile] = {
    val hit = shardCache.get(r.sha)
    if (hit != null) return hit
    val fs = readFileArray(mapper.readTree(store.readBytes(shardPath(r.sha))), "files")
    shardCache.put(r.sha, fs)
    fs
  }

  /** Load shards concurrently (bounded pool): a cold resolve of a wide
    * checkpoint is N small metadata reads, latency-bound on object stores
    * — fan them out instead of paying N round trips serially.
    */
  private def loadShards(refs: Seq[Icebox.ShardRef]): Seq[DataFile] =
    if (refs.sizeIs <= 2) refs.flatMap(loadShard)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, refs.size))
      try {
        val futs = refs.map { r =>
          val c: java.util.concurrent.Callable[Seq[DataFile]] = () => loadShard(r)
          pool.submit(c)
        }
        futs.flatMap(_.get())
      } finally pool.shutdown()
    }

  /** Reconstruct the live file set of snapshot `id`: walk parent pointers up
    * to the nearest full manifest (or LRU-cached reconstruction), then
    * replay each delta — survivors keep parent order, added files append.
    * Bounded at `MaxDeltaChain` manifest reads by the checkpoint policy.
    */
  private def resolveFiles(id: Long): Seq[DataFile] = {
    val hit = filesCache.get(id)
    if (hit != null) return hit
    var deltas = List.empty[Icebox.Manifest] // nearest-to-base first after the walk
    var cur = manifest(id)
    var base: Seq[DataFile] = null
    while (base == null) {
      if (cur.full.isDefined) base = cur.full.get
      else if (cur.shards.nonEmpty) base = loadShards(cur.shards)
      else {
        deltas ::= cur
        val cachedParent = filesCache.get(cur.parentId)
        if (cachedParent != null) base = cachedParent
        else cur = manifest(cur.parentId)
      }
    }
    var files = base
    deltas.foreach { d =>
      val removed = d.removedPaths.toSet
      files = (if (removed.isEmpty) files else files.filterNot(f => removed(f.path))) ++ d.added
    }
    filesCache.put(id, files)
    files
  }

  /** Partition-pruned file resolution: the live files of snapshot `id`
    * whose partition map passes `pred` — equal to
    * `resolveFiles(id).filter(f => pred(f.partition))`, but on a SHARDED
    * checkpoint only the shards whose partition passes `pred` are ever
    * read (hash-bucketed / partitionless shards load conservatively). A
    * cold partition-scoped read of a 200k-file table parses O(matching
    * shards + delta chain) metadata, not the whole file list. Results are
    * not cached (they are per-predicate); a full resolution already in
    * cache is reused by in-memory filtering.
    */
  private[table] def resolveFilesWhere(id: Long,
      pred: Map[String, String] => Boolean): Seq[DataFile] = {
    val hit = filesCache.get(id)
    if (hit != null) return hit.filter(f => pred(f.partition))
    var deltas = List.empty[Icebox.Manifest]
    var cur = manifest(id)
    var base: Seq[DataFile] = null
    while (base == null) {
      if (cur.full.isDefined) base = cur.full.get.filter(f => pred(f.partition))
      else if (cur.shards.nonEmpty)
        base = loadShards(cur.shards.filter(_.partition.forall(pred)))
          .filter(f => pred(f.partition))
      else {
        deltas ::= cur
        val cachedParent = filesCache.get(cur.parentId)
        if (cachedParent != null) base = cachedParent.filter(f => pred(f.partition))
        else cur = manifest(cur.parentId)
      }
    }
    var files = base
    deltas.foreach { d =>
      val removed = d.removedPaths.toSet
      files = (if (removed.isEmpty) files else files.filterNot(f => removed(f.path))) ++
        d.added.filter(f => pred(f.partition))
    }
    files
  }

  private def readSnapshot(id: Long): Snapshot = {
    val m = manifest(id)
    new Snapshot(m.id, m.parentId, m.timestampMs, m.operation, m.schemaJson,
      m.fileCount, m.totalBytes, () => resolveFiles(id))
  }
}

object Icebox {
  /** Reserved synthetic partition column carrying the commit id in data paths. */
  val CommitCol = "graft_commit"

  /** Bucket id a file name encodes, parsed by SPARK'S OWN convention
    * (`BucketingUtils`) — using Spark's parser, not a re-implementation,
    * guarantees the writer's stamp and the scan's expectation can never
    * drift.
    */
  private[graft] def bucketIdFromName(name: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId(name)

  /** Process-wide bloom side-file cache, keyed by content sha (immutable).
    * Bounded LRU — filters are MBs for large files, so the bound is small;
    * a planner point-lookup probes few filters and re-probes the same ones.
    */
  private[table] val bloomCache: java.util.Map[String, org.apache.spark.util.sketch.BloomFilter] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, org.apache.spark.util.sketch.BloomFilter](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, org.apache.spark.util.sketch.BloomFilter]): Boolean =
          size > 64
      })

  /** Cache-only bloom lookup (no I/O): the planner's probe-budget check
    * distinguishes free cache hits from budgeted cold loads.
    */
  private[graft] def cachedBloom(sha: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    Option(bloomCache.get(sha))

  /** Process-wide NDV-sketch side-file cache, keyed by content sha.
    * Sketches are 2-4 KB each, so the bound is generous.
    */
  private[table] val sketchCache: java.util.Map[String, Array[Byte]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Array[Byte]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Byte]]): Boolean =
          size > 1024
      })

  /** Hadoop Configuration is not Serializable; this is the standard
    * write/readFields envelope so a broadcast can ship the session's
    * Hadoop conf (filesystem schemes, credentials) to executor-side
    * side-file writers.
    */
  private[table] final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Executor-side bloom side-file write: content-address the bytes,
    * write under a task-unique temp name, rename into place, return the
    * sha. Racing writers of the same sha produce byte-identical files, so
    * a failed rename-because-exists is success; a crashed task leaves only
    * a temp file [[IceboxCommit.reclaim]] removes as an unreferenced side
    * file.
    */
  private[table] def writeSideFile(conf: org.apache.hadoop.conf.Configuration,
      dirStr: String, bytes: Array[Byte], ext: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    val dir = new HPath(dirStr)
    val fs = dir.getFileSystem(conf)
    val dst = new HPath(dir, s"$sha.$ext")
    if (!fs.exists(dst)) {
      val tmp = new HPath(dir, s"_tmp-$sha-${java.util.UUID.randomUUID()}.$ext")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, dst)) fs.delete(tmp, false) // lost the race: identical bytes won
    }
    sha
  }

  /** A named snapshot ref: `kind` is "tag" (immutable) or "branch" (writable). */
  final case class Ref(kind: String, snapshotId: Long)

  /** StructField metadata key holding a column's PHYSICAL (on-disk) name.
    * Column-mapping schema evolution (Delta's name-mapping / Iceberg's
    * field-id analog): files always store the physical name a column was
    * CREATED with; renames only change the logical name in the snapshot
    * schema, so they are metadata-only commits and time travel reads every
    * snapshot with the mapping that was current then. Absent metadata means
    * logical == physical (the common un-evolved case pays nothing).
    */
  val PhysicalKey = "icx.physical"

  /** A field's on-disk column name (its logical name unless mapped). */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  /** `schema` with every field renamed to its physical name — the schema
    * files are actually read/written with.
    */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physicalName(f))))

  /** True iff any field is renamed (guards the extra projection). */
  def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name)

  /** logical name → physical name for every field of `schema`. */
  def logicalToPhysical(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> physicalName(f)).toMap

  /** Apply BOTH delete kinds — position then equality — to a file-relation
    * DataFrame carrying each row's `_metadata.file_path` / `row_index` as
    * `fpCol` / `posCol` (`_metadata` only resolves on the file relation
    * itself, so [[graft.plans.IceboxFileIndex.scan]] materializes them once
    * and both passes share them). Position deletes anti-join on
    * `(file path, row index)`; the delete side is small by construction,
    * so Spark broadcasts the join (an oversized set degrades to a shuffled
    * join, never to an error). Equality deletes filter by set membership
    * ([[applyEqualityDeletes]]). Each pass is a no-op when no file carries
    * a delete of its kind.
    */
  private[graft] def applyDeletes(spark: SparkSession, df: DataFrame,
      files: Seq[DataFile], fpCol: String, posCol: String): DataFrame =
    applyEqualityDeletes(spark,
      antiJoinDeletes(spark, df, files.flatMap(_.deletes).distinct, fpCol, posCol),
      files, fpCol)

  /** Anti-join `df` (carrying materialized `fpCol`/`posCol` position
    * columns) against the `(file_path, pos)` rows of `deletes`. Both
    * join keys normalize away the `scheme:[//authority]` prefix, matching
    * on the filesystem path: position-delete files already on disk were
    * written from relations that rendered `_metadata.file_path` with a
    * scheme (`file:/...`), while the manifest-backed scan renders each path
    * as the manifest records it.
    */
  private[graft] def antiJoinDeletes(spark: SparkSession, df: DataFrame,
      deletes: Seq[String], fpCol: String, posCol: String): DataFrame = {
    if (deletes.isEmpty) return df
    val dels = readPositionDeletes(spark, deletes)
      .select(normPathCol(col("file_path")).as("__del_fp"), col("pos").as("__del_pos"))
    df.join(dels,
      normPathCol(df(fpCol)) === col("__del_fp") && df(posCol) === col("__del_pos"), "left_anti")
  }

  /** The `(file_path, pos)` rows of position-delete files, read with the
    * schema they are written with (`_metadata.file_path` string,
    * `_metadata.row_index` long), so building a read's plan runs no
    * schema-inference job.
    */
  private[table] def readPositionDeletes(spark: SparkSession, deletes: Seq[String]): DataFrame =
    spark.read.schema("file_path STRING, pos BIGINT").parquet(deletes: _*)

  /** A path's `scheme:[//authority]` prefix (see [[antiJoinDeletes]] —
    * position-delete files on disk hold `file:`-prefixed paths, manifests
    * may not, so paths compare with it stripped).
    */
  private[table] val SchemePrefix = "^[a-zA-Z][\\w+.-]*:(//[^/]*)?"

  /** `c` without its [[SchemePrefix]]. */
  private[table] def normPathCol(c: Column): Column = regexp_replace(c, SchemePrefix, "")

  /** Apply EQUALITY deletes to a file-relation DataFrame carrying each
    * row's `_metadata.file_path` as `fpCol`: a row is removed
    * iff its key tuple appears in an equality-delete file AND its data file
    * carries that delete in `eqDeletes` (the attach list IS the sequence
    * semantics — files appended after the delete never carry it, so their
    * rows survive even on key match). Each delete file's schema names its
    * equality columns, so one table can mix deletes on different keys.
    *
    * Plan shape: ONE filter, `NOT (hit_1 OR ... OR hit_n)`, where each
    * `hit_i` is a membership test of the row's key tuple in the delete's
    * driver-held key set AND of its file in the delete's attach set, both
    * shipped as broadcast variables ([[EqualityDeletes.deletedBy]]) — no
    * join and no Spark job beyond the scan itself. A delete whose key set is
    * over [[EqualityDeletes.EqKeyCacheMaxRows]] adds one broadcast-hinted
    * left join for its keys. Never an `isin` literal list, never a
    * keys×files blow-up. Rows with a NULL in any key column are never
    * deleted (SQL equality semantics — conservative). A no-op (zero plan
    * overhead) when no file carries equality deletes.
    */
  private[graft] def applyEqualityDeletes(spark: SparkSession, base: DataFrame,
      files: Seq[DataFile], fpCol: String): DataFrame = {
    val deletes = files.flatMap(_.eqDeletes).distinct
    if (deletes.isEmpty) return base
    val paths = files.map(_.path)
    val tmps = deletes.indices.map(i => s"__eq_hit$i")
    val (joined, hits) = deletes.zip(tmps).foldLeft((base, Vector.empty[Column])) {
      case ((df, hs), (del, tmp)) =>
        val attached = files.filter(_.eqDeletes.contains(del)).map(_.path)
        val (j, hit) = EqualityDeletes.deletedBy(spark, df, del, attached, paths, fpCol, tmp)
        (j, hs :+ hit)
    }
    joined.filter(!hits.reduce(_ || _)).drop(tmps: _*)
  }

  /** Checkpoint cadence: a full manifest is forced once a delta chain
    * reaches this depth, bounding file-set reconstruction to
    * O(MaxDeltaChain) manifest reads for any snapshot (Delta Lake's
    * checkpoint-every-N-commits policy). Amortized manifest bytes per
    * commit stay O(delta + files/MaxDeltaChain).
    */
  private[table] val MaxDeltaChain = 16

  /** String min/max longer than this (UTF-8 bytes) are dropped from the
    * manifest rather than recorded — see [[decodeFooterMinMax]].
    */
  private[table] val MaxStringStatBytes = 64

  /** One written file's footer → a [[DataFile]] with its size, row count,
    * and the min/max and null counts of `colTypes`' columns. No data pages
    * are read. Lives on the OBJECT so the write task's committer captures
    * only its arguments, never an Icebox instance.
    */
  private[table] def footerMetaOne(conf: org.apache.hadoop.conf.Configuration,
      colTypes: Map[String, DataType])(p: HPath): DataFile = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val footer = Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in))(_.getFooter)
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    def chunksOf(c: String) =
      blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString.equalsIgnoreCase(c)))
    val st = colTypes.toSeq.flatMap { case (c, t) =>
      val ss = chunksOf(c).map(_.getStatistics)
      if (ss.size != blocks.size || ss.exists(s => s == null || s.isEmpty)) None
      else {
        val nonNull = ss.filter(_.hasNonNullValue)
        if (nonNull.isEmpty) None
        else Icebox.decodeFooterMinMax(t, nonNull).map(c -> _)
      }
    }.toMap
    // EXACT per-column null counts — same footer pass, no extra IO. Only
    // recorded when every block's chunk carries the count (a single
    // unset chunk would understate); the CBO bridge folds these into
    // ColumnStat.nullCount with the same all-files-covered refusal rule.
    val nc = colTypes.keys.toSeq.flatMap { c =>
      val ss = chunksOf(c).map(_.getStatistics)
      if (ss.size != blocks.size || ss.exists(s => s == null || !s.isNumNullsSet)) None
      else Some(c -> ss.map(_.getNumNulls).sum)
    }.toMap
    DataFile(p.toString, in.getLength, Map.empty, st, rows, nullCounts = nc)
  }

  /** Above this many live files a full checkpoint is written SHARDED
    * (content-addressed per-partition shard files) instead of inline —
    * see [[Icebox.Manifest.shards]]. Overridable per table via the
    * `checkpoint.shard.threshold` property.
    */
  private[table] val DefaultShardThreshold = 512

  /** Cap on shard count per checkpoint: more partitions than this and
    * shards group several partitions each (hash of the partition
    * rendering), trading prune precision for bounded metadata fan-out.
    * Overridable via `checkpoint.max.shards`.
    */
  private[table] val DefaultMaxShards = 4096

  /** One shard of a sharded full checkpoint: `sha` is the SHA-256 of the
    * shard file's bytes and doubles as its storage name
    * (`_snapshots/shards/<sha>.json`) — content addressing, so a
    * checkpoint whose partition didn't change since the previous
    * checkpoint re-REFERENCES the existing shard file instead of
    * rewriting it (Iceberg's manifest-reuse move: commit metadata IO is
    * O(touched partitions), not O(table)). `partition` is the shard's
    * single partition-value map when the shard covers exactly one
    * partition (enables shard-level pruning on cold reads); None for
    * hash-bucketed shards (loaded conservatively).
    */
  private[table] final case class ShardRef(
      key: String, sha: String, fileCount: Long, totalBytes: Long,
      partition: Option[Map[String, String]])

  /** On-disk manifest form of one snapshot: a FULL file listing (`full`
    * defined), a SHARDED full listing (`shards` non-empty — file entries
    * live in content-addressed side files), or a DELTA against the parent
    * (`added` + `removedPaths`). `fileCount`/`totalBytes` describe the
    * RESOLVED state either way, so listings never reconstruct.
    */
  private[table] final case class Manifest(
      id: Long, parentId: Long, timestampMs: Long, operation: String, schemaJson: String,
      fileCount: Long, totalBytes: Long, deltaDepth: Int,
      full: Option[Seq[DataFile]], added: Seq[DataFile], removedPaths: Seq[String],
      shards: Seq[ShardRef] = Nil)

  import org.apache.spark.sql.types._

  /** Z-order clustering key over numeric and string columns: each column is
    * mapped to a quantile bucket (boundaries baked into the plan as
    * literals — no global sort, no extra shuffle), and the bucket bits are
    * interleaved so every column gets ~equal file locality.
    * Codegen-friendly: the per-row work is a chain of literal comparisons +
    * bit ops, no HOFs.
    *
    * Numeric boundaries come from ONE `percentile_approx` sketch aggregate
    * over all numeric columns. String boundaries come from a per-column
    * uniform random sample taken with `orderBy(rand).limit(k)` —
    * TakeOrdered keeps the k smallest random keys per partition and merges
    * on the driver (the same sampling shape Spark's RangePartitioner uses),
    * so it stays one narrow pass at any scale; boundaries are then the
    * sorted sample's quantiles. String comparison in both Spark and parquet
    * footer stats is unsigned-byte UTF8 order, so bucket boundaries,
    * min/max manifests, and read-side predicates all agree.
    */
  private[table] def zOrderKey(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      targetFiles: Int = 64): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val ncols = cols.size
    // Resolution scales with the FILE count, not the row count: z-cells only
    // need to outnumber output files by a small factor for file-level
    // min/max locality, and the bucket expression (a literal comparison
    // chain) is codegen'd — oversizing it just inflates one-time Janino
    // compile latency. 4x target files in cells, clamped to [2,8] bits/col.
    val cellBits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(2, targetFiles).toLong * 4 - 1)
    val bits = math.min(8, math.max(2, math.ceil(cellBits.toDouble / ncols).toInt))
    val nb = (1 << bits) - 1
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    def fieldType(c: String) = df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    val numericCols = cols.filter(c =>
      fieldType(c).exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType]))
    // accuracy 1000 ≈ ±0.1% boundary error — invisible at 2^bits ≤ 32
    // buckets, and the sketch is ~4x cheaper to update than the default
    val numBoundaries: Map[String, Seq[Double]] =
      if (numericCols.isEmpty) Map.empty
      else {
        val aggs = numericCols.map(c =>
          percentile_approx(col(c).cast("double"), lit(probs), lit(1000)).as(s"__q_$c"))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        numericCols.zipWithIndex.map { case (c, i) =>
          c -> Option(row.getSeq[Double](i)).getOrElse(Seq.empty)
        }.toMap
      }
    def stringBoundaries(c: String): Seq[String] = {
      val k = math.max(nb * 64, 1024)
      val base = df.select(col(c)).where(col(c).isNotNull)
      // Poisson-sample first (scans but never sorts/ranks the corpus — no
      // per-row rand + TakeOrdered heap over 100 TB); the rank-k fallback
      // only runs on tables small enough that the sample came back thin,
      // where it costs nothing. Boundaries feed z-order bucketing, so
      // approximate sampling changes layout quality, never results.
      val sampled = base.sample(withReplacement = false, 0.05, 42).limit(k).collect()
      val rows = if (sampled.length >= math.min(k, 256)) sampled
                 else base.orderBy(rand(42)).limit(k).collect()
      val sample = rows.map(_.getString(0)).sorted
      if (sample.isEmpty) Nil
      else (1 to nb).map(i => sample(((sample.length - 1).toLong * i / (nb + 1)).toInt)).distinct
    }
    val buckets = cols.map { c =>
      fieldType(c) match {
        case Some(_: org.apache.spark.sql.types.NumericType) =>
          val bs = numBoundaries(c)
          if (bs.isEmpty) lit(0L) // all-null column: single bucket
          else bs.map(b => when(col(c).cast("double") > lit(b), 1L).otherwise(0L)).reduce(_ + _)
        case Some(org.apache.spark.sql.types.StringType) =>
          val bs = stringBoundaries(c)
          if (bs.isEmpty) lit(0L)
          else bs.map(b => when(col(c) > lit(b), 1L).otherwise(0L)).reduce(_ + _)
        case _ => lit(0L) // unsupported type contributes no locality bits
      }
    }
    (for (j <- 0 until bits; i <- 0 until ncols) yield
      shiftleft(shiftright(buckets(i), j).bitwiseAND(1L), j * ncols + i)
    ).reduce(_ bitwiseOR _)
  }

  /** Types whose parquet footer statistics decode to the exact same string
    * the data-scan path produces (so manifests stay byte-identical either
    * way). Decimals/timestamps/nested types take the scan fallback.
    */
  private[table] def footerDecodable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | DateType | StringType => true
    case _ => false
  }

  /** Fold row-group statistics into one (min, max) string pair, honoring
    * each type's order: integral/floating numerically, strings in UTF8
    * BINARY order (parquet's UTF8 comparator and Spark's string min/max
    * agree on unsigned byte order — java.lang.String order does not).
    */
  private[table] def decodeFooterMinMax(dt: DataType,
      ss: Seq[org.apache.parquet.column.statistics.Statistics[_]]): Option[(String, String)] = {
    def longs = (ss.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
                 ss.map(_.genericGetMax.asInstanceOf[Number].longValue).max)
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val (mn, mx) = longs; Some((mn.toString, mx.toString))
      case FloatType =>
        Some((ss.map(_.genericGetMin.asInstanceOf[java.lang.Float].floatValue).min.toString,
              ss.map(_.genericGetMax.asInstanceOf[java.lang.Float].floatValue).max.toString))
      case DoubleType =>
        Some((ss.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue).min.toString,
              ss.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue).max.toString))
      case BooleanType =>
        Some((ss.map(_.genericGetMin.asInstanceOf[java.lang.Boolean].booleanValue).min.toString,
              ss.map(_.genericGetMax.asInstanceOf[java.lang.Boolean].booleanValue).max.toString))
      case DateType =>
        val (mn, mx) = longs
        Some((java.time.LocalDate.ofEpochDay(mn).toString, java.time.LocalDate.ofEpochDay(mx).toString))
      case StringType =>
        val ord = java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])
        val mins = ss.map(_.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        val maxs = ss.map(_.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        val mn = mins.reduce((a, b) => if (ord(a, b) <= 0) a else b)
        val mx = maxs.reduce((a, b) => if (ord(a, b) >= 0) a else b)
        // LONG strings (document bodies, payloads) are not recorded: with
        // stats now on by default, embedding two page-sized values per file
        // would bloat every manifest for a column nobody range-prunes on.
        // Absent stats keep the file (conservative), never mis-prune.
        // (Iceberg instead truncates to 16 chars; skipping is simpler and
        // avoids the truncated-upper-bound increment edge cases.)
        if (mn.length > MaxStringStatBytes || mx.length > MaxStringStatBytes) None
        else Some((new String(mn, StandardCharsets.UTF_8), new String(mx, StandardCharsets.UTF_8)))
      case _ => None
    }
  }

  def apply(tableDir: String): Icebox = new Icebox(tableDir)

  /** W8 analog: namespace = a directory of tables (any Hadoop-resolvable
    * warehouse URI).
    */
  def table(warehouseDir: String, namespace: String, name: String): Icebox = {
    val dir = new HPath(new HPath(warehouseDir, namespace), name)
    val t = new Icebox(
      if (dir.toUri.getScheme == null) dir.toUri.getPath else dir.toString)
    t.store.mkdirs(dir.getParent)
    t
  }

  /** Decode ONLY %XX escapes in a hive partition path segment — unlike
    * URLDecoder, '+' stays '+' (Spark's path escaping never encodes space as
    * '+'; matches ExternalCatalogUtils.unescapePathName semantics).
    */
  def unescapePathSegment(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
