package graft.plans

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import graft.table.Icebox

/** Feeds the manifest's statistics suite to Catalyst's COST-BASED
  * OPTIMIZER. The engine already maintains, per snapshot and without any
  * data scan: exact row counts (manifest), per-column min/max (parquet
  * footer stats folded at commit), and per-column NDV (HyperLogLog rollup
  * sketches from `ANALYZE TABLE`). Without this bridge Spark plans blind —
  * the relation reports only on-disk `sizeInBytes`, so join reordering,
  * broadcast-side selection, and filter-selectivity estimation all fall
  * back to byte-size heuristics. At 100 TB a wrong join order or a missed
  * broadcast is the difference between hours and minutes; the numbers to
  * plan correctly were already in the manifests.
  *
  * Mechanism: [[IceboxStatsRule]] runs as a PRE-CBO optimizer rule
  * (`SparkSessionExtensions.injectPreCBORule`, registered by
  * [[graft.GraftExtensions]]) and attaches a stats-bearing `CatalogTable`
  * to every Icebox `LogicalRelation` that lacks one. `LogicalRelation
  * .computeStats` then surfaces rowCount + column stats to
  * `CostBasedJoinReorder` and `JoinSelection` whenever
  * `spark.sql.cbo.enabled` (or plan-stats) is on. Everything is
  * metadata-only and snapshot-pinned — time-travel reads get the stats of
  * the snapshot they read.
  *
  * Soundness contract (same refusal rules as the metadata query paths):
  * no rowCount under EQUALITY deletes (matched cardinality needs a scan)
  * or legacy manifests without position counts; under POSITION deletes
  * rowCount is exact (rows - per-file deleteRows) but column stats are
  * refused (they describe pre-delete file contents); no min/max for a
  * column unless EVERY file has footer stats for it; NDV only when the
  * rollup sketch is keyed to exactly this snapshot. Absent stats degrade
  * to the byte-size heuristic Spark used anyway — never a wrong estimate.
  */
object IceboxStats {

  /** Bounded per-(table, snapshot) cache: stats are derived from an
    * immutable snapshot, so entries never go stale — eviction exists only
    * to bound memory across many tables. An NDV rollup that lands AFTER an
    * entry is cached becomes visible at the next snapshot (conservative:
    * stats may be missing for one generation, never wrong).
    */
  private val cache = new ConcurrentHashMap[(String, Long), Option[CatalogStatistics]]()
  private val MaxCache = 256

  private[graft] def invalidate(): Unit = cache.clear()

  /** Drop cached stats for one table — called by the stats-PRODUCING
    * operations (ANALYZE, histogram build, rollup refresh): their own
    * internal reads plan through the rule and would otherwise cache a
    * pre-property entry for the very snapshot the new stats describe.
    */
  private[graft] def invalidate(tableDir: String): Unit =
    cache.keySet.removeIf(_._1 == tableDir)

  /** The column types whose manifest min/max strings convert exactly to
    * `CatalogColumnStat`'s external form: integral/floating types render
    * as plain numbers, dates as ISO `yyyy-MM-dd`, booleans as
    * `true`/`false` ([[Icebox.decodeFooterMinMax]]); decimals
    * (`BigDecimal.toString` from the scan-path stats — `Decimal(s)`
    * parses any decimal rendering) and zone-free timestamps
    * (`LocalDateTime.toString`, converted to micros and re-rendered
    * through Spark's own `toExternalString` formatter) convert at attach
    * time in [[foldMinMax]]. These are the reference domain's
    * most-filtered columns — the money (o_totalprice) and CDC-timestamp
    * shapes (reference: oracle_to_iceberg_cdc_operator.py:182-191).
    * Strings stay excluded (Spark's estimator ignores string min/max);
    * ZONED timestamps serve only under a fixed-offset JVM default zone,
    * where `java.sql.Timestamp.toString` (the manifest rendering) is
    * bijective — under a DST zone the local rendering is ambiguous one
    * hour a year, so refuse (same contract as the pruning path,
    * IceboxFileIndex admit()).
    */
  private def minMaxSafe(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | BooleanType | TimestampNTZType => true
    case _: DecimalType => true
    case TimestampType => java.time.ZoneId.systemDefault().getRules.isFixedOffset
    case _ => false
  }

  /** Only a relation that holds a snapshot's whole file set carries its
    * id; a file subset (a delta, one layout generation) gets no stats.
    */
  def statsFor(index: IceboxFileIndex): Option[CatalogStatistics] = {
    val snapId = index.snapshotId.getOrElse(return None)
    val key = (index.tableDirString, snapId)
    val hit = cache.get(key)
    if (hit != null) return hit
    val computed =
      try compute(index, snapId)
      catch { case scala.util.control.NonFatal(_) => None } // stats are advisory
    if (cache.size >= MaxCache) cache.clear()
    cache.put(key, computed)
    computed
  }

  private def compute(index: IceboxFileIndex, snapId: Long): Option[CatalogStatistics] = {
    val fs = index.manifestFiles
    // EQUALITY deletes: matched cardinality genuinely needs a scan — refuse
    // everything. POSITION deletes: manifests record exact per-file
    // attached-position counts (DataFile.deleteRows), so rowCount serves
    // as rows - deleteRows — the engine's flagship CDC write mode would
    // otherwise plan stats-blind. Legacy manifests (deleteRows = -1) refuse.
    if (fs.isEmpty || fs.exists(_.eqDeletes.nonEmpty) ||
        fs.exists(_.rows < 0L) || fs.exists(_.deleteRows < 0L)) return None
    val rowCount = fs.map(f => f.rows - f.deleteRows).sum
    val sizeInBytes = fs.map(_.sizeBytes).sum
    // COLUMN stats under pending position deletes stay refused: per-file
    // min/max/null-counts/sketches describe the PRE-delete file contents
    // (a delete may remove the extremum; nullCount could exceed live
    // rowCount and corrupt selectivity math). rowCount + sizeInBytes are
    // what broadcast/join-side decisions need, and those are exact.
    val hasPosDeletes = fs.exists(_.deletes.nonEmpty)
    val table = Icebox(index.tableDirString)
    val schema = DataType.fromJson(index.schemaJson).asInstanceOf[StructType]
    val colStats = if (hasPosDeletes) Map.empty[String, CatalogColumnStat]
    else schema.fields.flatMap { f =>
      val phys = Icebox.physicalName(f)
      val ndv = ndvFor(table, snapId, phys)
      val mm: Option[(String, String)] =
        if (!minMaxSafe(f.dataType)) None
        else {
          val perFile = fs.map(_.stats.get(phys))
          if (perFile.exists(_.isEmpty)) None // a stats-less file could hide the extremum
          else {
            val (mns, mxs) = (perFile.flatten.map(_._1), perFile.flatten.map(_._2))
            foldMinMax(f.dataType, mns, mxs)
          }
        }
      // exact null counts from the commit-time footer pass — only when
      // every file recorded one (Spark's FilterEstimation needs nullCount
      // alongside min/max/NDV before it will estimate selectivity)
      val nulls: Option[Long] = {
        val perFile = fs.map(_.nullCounts.get(phys))
        if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.sum)
      }
      val hist = histogramFor(table, snapId, phys, ndv)
      if (ndv.isEmpty && mm.isEmpty && nulls.isEmpty && hist.isEmpty) None
      else Some(phys -> CatalogColumnStat(
        distinctCount = ndv.map(BigInt(_)),
        min = mm.map(_._1), max = mm.map(_._2),
        nullCount = nulls.map(BigInt(_)),
        histogram = hist))
    }.toMap
    Some(CatalogStatistics(BigInt(sizeInBytes), Some(BigInt(rowCount)), colStats))
  }

  /** NDV from the table-level HLL rollup ONLY when it is keyed to exactly
    * the snapshot this relation reads — a rollup for any other snapshot
    * (older head, or the read is time travel) is not this data's NDV.
    */
  private def ndvFor(table: Icebox, snapId: Long, phys: String): Option[Long] =
    table.properties.get(s"sketch.ndv.rollup.$phys").flatMap { v =>
      v.split(':') match {
        case Array(sid, sha) if scala.util.Try(sid.toLong).toOption.contains(snapId) =>
          table.loadSketch(sha).map(graft.functions.Hll.estimate)
        case _ => None
      }
    }

  /** Fold per-file min/max strings in the column's native order, returning
    * the catalog external-string form (identical to the manifest form for
    * the [[minMaxSafe]] types).
    */
  private def foldMinMax(dt: DataType, mns: Seq[String],
      mxs: Seq[String]): Option[(String, String)] = {
    def viaLong = scala.util.Try((mns.map(_.toLong).min.toString,
      mxs.map(_.toLong).max.toString)).toOption
    dt match {
      case ByteType | ShortType | IntegerType | LongType => viaLong
      case FloatType | DoubleType =>
        scala.util.Try((mns.map(_.toDouble).min, mxs.map(_.toDouble).max))
          .toOption.map { case (a, b) =>
            // preserve the Float rendering for float columns (1.5 not 1.5000...)
            if (dt == FloatType) (a.toFloat.toString, b.toFloat.toString)
            else (a.toString, b.toString)
          }
      case DateType =>
        scala.util.Try((mns.map(java.time.LocalDate.parse).min(
            Ordering.by((d: java.time.LocalDate) => d.toEpochDay)).toString,
          mxs.map(java.time.LocalDate.parse).max(
            Ordering.by((d: java.time.LocalDate) => d.toEpochDay)).toString)).toOption
      case BooleanType =>
        scala.util.Try((mns.map(_.toBoolean).min.toString,
          mxs.map(_.toBoolean).max.toString)).toOption
      case _: DecimalType =>
        // manifest form is BigDecimal.toString (scan-path stats); the
        // catalog parses any decimal rendering via Decimal(s) — fold in
        // numeric order and render through Spark's own external form
        scala.util.Try {
          val mn = mns.map(new java.math.BigDecimal(_)).min
          val mx = mxs.map(new java.math.BigDecimal(_)).max
          (CatalogColumnStat.toExternalString(Decimal(mn), "", dt),
           CatalogColumnStat.toExternalString(Decimal(mx), "", dt))
        }.toOption
      case TimestampNTZType =>
        // manifest form is LocalDateTime.toString (ISO, 'T'; older scan
        // batches may carry "yyyy-MM-dd HH:mm:ss[.f]") — zone-free, so
        // micros conversion is exact; render via the catalog's own
        // TimestampFormatter so fromExternalString round-trips
        scala.util.Try {
          (CatalogColumnStat.toExternalString(ntzMicros(mns.min(Ordering.by(ntzMicros))), "", dt),
           CatalogColumnStat.toExternalString(ntzMicros(mxs.max(Ordering.by(ntzMicros))), "", dt))
        }.toOption
      case TimestampType =>
        // only reached under a fixed-offset JVM zone (minMaxSafe), where
        // java.sql.Timestamp.toString/valueOf are exact inverses
        scala.util.Try {
          def micros(s: String): Long = {
            val i = java.sql.Timestamp.valueOf(s).toInstant
            Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
          }
          (CatalogColumnStat.toExternalString(mns.map(micros).min, "", dt),
           CatalogColumnStat.toExternalString(mxs.map(micros).max, "", dt))
        }.toOption
      case _ => None
    }
  }

  /** Zone-free timestamp stat string → micros since epoch (same parse as
    * the pruning path: normalize the scan-path " " separator to ISO 'T').
    */
  private def ntzMicros(s: String): Long = {
    val ldt = java.time.LocalDateTime.parse(
      if (s.contains('T')) s else s.replaceFirst(" ", "T"))
    Math.addExact(Math.multiplyExact(
      ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), ldt.getNano / 1000L)
  }

  /** The exact equi-WIDTH histogram (`ANALYZE ... HISTOGRAM`, `hist.<col>`
    * table property) converted to the equi-HEIGHT form Catalyst's
    * `FilterEstimation` consumes — the consumer the r11 histogram stats
    * were built for. Under skew this is the difference between a sane and
    * a wildly wrong selectivity: min/max alone assumes UNIFORM density, so
    * a predicate over a sparse tail of the range estimates at the tail's
    * width share; the histogram knows where the rows actually are. Only
    * served when the property is keyed to exactly this snapshot — same
    * staleness refusal as `histogramMeta`.
    *
    * The conversion walks the exact bucket counts as a piecewise-linear
    * CDF and cuts `bins` equal-mass bins at interpolated positions —
    * bin BOUNDS are what range estimation uses; per-bin NDV (used for
    * equality estimates) is approximated as an equal share of the
    * table-level NDV when the sketch rollup knows it.
    */
  private def histogramFor(table: Icebox, snapId: Long, phys: String,
      tableNdv: Option[Long]): Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] =
    table.properties.get(s"hist.$phys").flatMap { v =>
      val parts = v.split(':')
      if (parts.length != 4 ||
        !scala.util.Try(parts(0).toLong).toOption.contains(snapId)) None
      else {
        val (lo, hi) = (parts(1).toDouble, parts(2).toDouble)
        val counts = parts(3).split(',').map(_.toLong)
        toEquiHeight(lo, hi, counts, tableNdv)
      }
    }

  private def toEquiHeight(lo: Double, hi: Double, counts: Array[Long],
      tableNdv: Option[Long]): Option[org.apache.spark.sql.catalyst.plans.logical.Histogram] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin}
    val total = counts.sum
    if (total <= 0L) return None
    val nBins = math.min(counts.length, 254) // Spark's own histogram bin cap
    val height = total.toDouble / nBins
    val width = if (hi > lo) (hi - lo) / counts.length else 0.0
    val binNdv = math.max(1L, tableNdv.getOrElse(total) / nBins)
    // piecewise-linear CDF over the equi-width buckets; cut at every
    // multiple of `height`, interpolating inside the covering bucket
    def invCdf(target: Double): Double = {
      if (width == 0.0) return lo
      var acc = 0.0
      var i = 0
      while (i < counts.length) {
        val c = counts(i).toDouble
        if (acc + c >= target && c > 0)
          return lo + i * width + ((target - acc) / c) * width
        acc += c
        i += 1
      }
      hi
    }
    val bounds = (0 to nBins).map {
      case 0 => lo
      case `nBins` => hi
      case k => invCdf(k * height)
    }
    Some(Histogram(height,
      (0 until nBins).map(k => HistogramBin(bounds(k), bounds(k + 1), binNdv)).toArray))
  }

  /** Minimal stats-bearing catalog descriptor — everything but `stats` is
    * plumbing (`LogicalRelation.computeStats` reads only the stats).
    */
  private[graft] def catalogTableFor(index: IceboxFileIndex,
      rel: HadoopFsRelation): Option[CatalogTable] =
    statsFor(index).map { st =>
      CatalogTable(
        identifier = TableIdentifier(
          s"icebox_${java.lang.Long.toHexString(index.tableDirString.hashCode & 0xffffffffL)}_${index.snapshotId.mkString}"),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = rel.schema,
        provider = Some("parquet"),
        stats = Some(st))
    }
}

/** Pre-CBO rule: attach manifest-derived [[CatalogStatistics]] to Icebox
  * relations so `CostBasedJoinReorder` / `JoinSelection` see exact row
  * counts, min/max, and NDV instead of byte-size heuristics. A no-op
  * unless CBO or plan-stats is enabled (nothing downstream would read the
  * stats) or when `spark.graft.stats.enabled=false`.
  */
class IceboxStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {
  private def enabled: Boolean =
    spark.conf.get("spark.graft.stats.enabled", "true").toBoolean &&
      (spark.conf.get("spark.sql.cbo.enabled", "false").toBoolean ||
        spark.conf.get("spark.sql.cbo.planStats.enabled", "false").toBoolean)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transform {
      case lr @ LogicalRelation(rel: HadoopFsRelation, _, None, _, _)
          if rel.location.isInstanceOf[IceboxFileIndex] =>
        IceboxStats.catalogTableFor(rel.location.asInstanceOf[IceboxFileIndex], rel)
          .map(ct => lr.copy(catalogTable = Some(ct)))
          .getOrElse(lr)
    }
}
