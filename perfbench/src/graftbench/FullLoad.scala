package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.cdc.{FileCdc, FileCheckpointStore}
import graft.table.Icebox

/** The HDFS→Iceberg full load and the readers of the loaded table.
  *
  * Set-up writes a Hive-partitioned ORC tree (`dt=` per ship month). Before
  * the timed loop, untimed, the table receives `ArchiveStates` commits of
  * one archive month each (months before any in the tree), so it starts
  * with a history of distinct states. Each cycle first commits one more
  * archive month (untimed), then runs one initial `FileCdc.runCycle` (a
  * fresh checkpoint, so every source file counts as new) that loads the
  * whole tree: it replaces every source partition and carries the archive
  * partitions over; one commit, no merge. So every snapshot holds a
  * different set of months. The table records per-file blooms on
  * `l_orderkey`, so its live files outnumber the bloom cache (64), and it
  * keeps `RetainSnapshots` snapshots, more than the file-list cache (4).
  *
  * After each load, timed as reads and not as part of the cycle:
  * `LookupsPerLoad` point lookups, a ship-month range aggregate and a
  * full-table aggregate through `readIndexed`, a time-travel aggregate
  * (`readSnapshotId`) at a random earlier retained snapshot, and an
  * incremental read (`changesSince`) since the snapshot before the cycle.
  * Each is checked against the oracle's answer for the months its snapshot
  * or change set holds; a read of the whole head fails both of the last
  * two. Between cycles, untimed, the run expires all but the newest
  * `RetainSnapshots` snapshots.
  */
final class FullLoad(ctx: Ctx) extends Workload {
  import ctx.{spark, seed, tracer}

  /** Lines in the source tree (TPC-H sf0.01 size: 15k orders over 84 ship months). */
  val Rows = 60000L
  val ArchiveStates = 3
  val ArchiveRows = 200
  val RetainSnapshots = 10
  val LookupsPerLoad = 8

  private var dir = ""
  private def source = s"$dir/source"
  private def tableDir = s"$dir/lineitem"
  private var table: Icebox = _ // one handle for the run, as the loading job holds it
  private var loads = 0
  private var archived = 0
  /** The months each retained snapshot holds, by snapshot id, oldest first. */
  private val history = mutable.LinkedHashMap[Long, Set[String]]()
  private var present = Set.empty[String]
  private val travelledTo = mutable.Set[Long]()
  /** Bytes of the ORC source tree: one load's user input. */
  var sourceBytes = 0L
  private var sourceFiles = 0
  private var loadedRows = 0L
  private var bytesWritten = 0L
  private var listing: Disk.Listing = Map.empty

  // seeded parameter pools
  private val orders = Rows / 4
  private val lookupPool: Seq[Long] =
    (0 until 30).map(i => Gen.below(Gen.mix(seed, i, 501), orders) + 1) ++ Seq(orders + 1, orders + 9)
  private val months = for (y <- 1992 to 1998; m <- 1 to 12) yield f"$y%04d-$m%02d"
  private val rangePool: Seq[(String, String)] = (0 until 8).map { i =>
    val a = Gen.below(Gen.mix(seed, i, 502), months.size - 12).toInt
    (months(a), months(a + 1 + Gen.below(Gen.mix(seed, i, 503), 11).toInt))
  }

  // the oracle: aggregates per month and (l_returnflag|l_linestatus) group,
  // from plain Spark over the source tree and from the generated archive
  // rows; the source's content hash; lookup rows
  private val groups = mutable.Map[String, Map[String, Agg]]()
  private var sourceMonths = Set.empty[String]
  private var sourceHash = (0L, 0L, 0L)
  private val archiveRows = mutable.ArrayBuffer[Row]()
  private var lookupAnswers = Map.empty[Long, Seq[String]]

  /** (rows, sum of l_quantity, sum of l_extendedprice), sums at scale 2 */
  private final case class Agg(rows: Long, qty: java.math.BigDecimal, price: java.math.BigDecimal) {
    def +(o: Agg) = Agg(rows + o.rows, qty.add(o.qty), price.add(o.price))
  }
  private def scaled(d: java.math.BigDecimal) = (if (d == null) java.math.BigDecimal.ZERO else d).setScale(2)
  private val zero = Agg(0L, scaled(null), scaled(null))
  private def agg(r: Row, from: Int) = Agg(r.getLong(from), scaled(r.getDecimal(from + 1)), scaled(r.getDecimal(from + 2)))
  private val aggCols = Seq(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))
  private def aggregate(df: DataFrame): Agg = agg(df.agg(aggCols.head, aggCols.tail: _*).collect()(0), 0)
  private def byGroup(rows: Seq[Row], from: Int): Map[String, Agg] =
    rows.map(r => s"${r.getString(from)}|${r.getString(from + 1)}" -> agg(r, from + 2)).toMap

  private def monthGroups(df: DataFrame): Map[String, Map[String, Agg]] =
    df.groupBy("dt", "l_returnflag", "l_linestatus").agg(aggCols.head, aggCols.tail: _*).collect().toSeq
      .groupBy(_.getString(0)).map { case (m, rs) => m -> byGroup(rs, 1) }
  private def grouped(ms: Iterable[String]): Map[String, Agg] =
    ms.toSeq.flatMap(groups(_)).groupMapReduce(_._1)(_._2)(_ + _)
  private def total(ms: Iterable[String]): Agg = grouped(ms).values.foldLeft(zero)(_ + _)

  private def load(checkpoint: Int): FileCdc.CycleResult =
    FileCdc.runCycle(spark, source, table, new FileCheckpointStore(s"$dir/ckpt/$checkpoint.json"),
      "dt", "mtime", "orc", ".orc")

  private def committed(ms: Set[String]): Unit = {
    present = ms
    history(table.currentSnapshotId) = ms
  }

  private def lines(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.lineitemSchema)

  /** Commit the next archive month (untimed), recording its oracle answers. */
  private def commitArchive(): Unit = {
    val rows = Gen.archiveLines(seed, archived, ArchiveRows)
    groups(Gen.archiveMonth(archived)) = rows.groupBy(r => s"${r.getString(8)}|${r.getString(9)}")
      .map { case (g, rs) => g -> rs.map(r => Agg(1L, scaled(r.getDecimal(4)), scaled(r.getDecimal(5)))).reduce(_ + _) }
    archiveRows ++= rows
    table.append(lines(rows).coalesce(1), Seq("dt"))
    committed(present + Gen.archiveMonth(archived))
    archived += 1
  }

  def setup(d: String): Unit = {
    dir = d
    Gen.lineitemDf(spark, seed, Rows).repartition(col("dt")).write.partitionBy("dt").orc(source)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
    table = Icebox(tableDir)
    table.setProperties(Map("manifest.bloom.columns" -> "l_orderkey"))
  }

  def prepare(): Unit = {
    val files = FileCdc.listFiles(source, ".orc")
    sourceFiles = files.size
    sourceBytes = files.map(_.sizeBytes).sum
    val src = spark.read.orc(source).cache()
    sourceHash = Workloads.contentHash(src)
    groups ++= monthGroups(src)
    sourceMonths = groups.keySet.toSet
    lookupAnswers = src.filter(col("l_orderkey").isin(lookupPool: _*)).collect().toSeq
      .groupBy(_.getAs[Long]("l_orderkey")).map { case (k, rs) => k -> rs.map(Workloads.canon).sorted }
    src.unpersist()
    (0 until ArchiveStates).foreach(_ => commitArchive())
  }

  private def draw[T](pool: Seq[T], i: Int, salt: Long): T =
    pool(Gen.below(Gen.mix(seed, i, salt), pool.size).toInt)

  def op(i: Int): Unit = {
    val keys = (0 until LookupsPerLoad).map(j => draw(lookupPool, i * LookupsPerLoad + j, 601))
    val range = draw(rangePool, i, 602)
    val prev = table.currentSnapshotId
    commitArchive()
    listing = Disk.listing(Seq(tableDir))

    val result = ctx.cycle()(tracer.span("filecdc.runCycle", Seq(tableDir))(load(i)))
    committed(present ++ sourceMonths)
    ctx.outcome(s"load $i row count") {
      result.rowsWritten == total(sourceMonths).rows && table.rowCount.contains(total(present).rows)
    }
    loads += 1
    loadedRows += result.rowsWritten
    bytesWritten += Disk.written(listing, Disk.listing(Seq(tableDir))).total

    keys.foreach { key =>
      val look = ctx.read("lookup") { table.readIndexed(spark).filter(col("l_orderkey") === key).collect() }
      ctx.outcome(s"load $i lookup $key") { look.map(Workloads.canon).toSeq.sorted == lookupAnswers.getOrElse(key, Nil) }
    }
    val rng = ctx.read("range") { aggregate(table.readIndexed(spark).filter(col("dt").between(range._1, range._2))) }
    ctx.outcome(s"load $i range $range") {
      rng == total(sourceMonths.filter(m => m >= range._1 && m <= range._2))
    }
    val full = ctx.read("full") {
      table.readIndexed(spark).groupBy("l_returnflag", "l_linestatus").agg(aggCols.head, aggCols.tail: _*).collect()
    }
    ctx.outcome(s"load $i full aggregate") { byGroup(full.toSeq, 0) == grouped(present) }
    val at = draw(history.keys.toSeq.init, i, 603)
    travelledTo += at
    val old = ctx.read("timetravel") { aggregate(table.readSnapshotId(spark, at)) }
    ctx.outcome(s"load $i time travel to $at") { old == total(history(at)) }
    // since `prev`: the archive month committed this cycle and every source
    // partition, which the load rewrote; not the archive months before it
    val delta = ctx.read("incremental") { aggregate(table.changesSince(spark, prev)) }
    ctx.outcome(s"load $i incremental since $prev") {
      delta == total(sourceMonths ++ (present -- history(prev)))
    }

    history --= table.expireSnapshots(System.currentTimeMillis(), RetainSnapshots)
  }

  def check(): Unit = ctx.outcome("head content hash") {
    Workloads.contentHash(table.read(spark)) ==
      Workloads.combine(sourceHash, Workloads.contentHash(lines(archiveRows.toSeq)))
  }

  def tableDirs: Seq[String] = Seq(tableDir)

  def writeAmp: Double = bytesWritten.toDouble / (sourceBytes * math.max(loads, 1))

  /** Table-directory bytes per byte of the data files the retained
    * snapshots reference: what the table keeps beyond the data its history
    * needs (metadata, side files, files expiry left behind).
    */
  def spaceAmp: Double = {
    val referenced = table.allSnapshots.flatMap(_.files).map(f => f.path -> f.sizeBytes).toMap.values.sum
    Disk.size(tableDir).toDouble / referenced
  }

  def inputs: collection.Map[String, Any] = {
    val (files, deletes, snaps) = Workloads.liveState(Seq(table))
    Json.obj(
      "source_rows" -> Rows, "source_files" -> sourceFiles, "source_bytes" -> sourceBytes,
      "source_format" -> "orc", "archive_months" -> archived, "archive_rows_per_month" -> ArchiveRows,
      "retain_snapshots" -> RetainSnapshots,
      "live_files" -> files, "live_delete_files" -> deletes, "snapshots" -> snaps,
      "timetravel_targets" -> travelledTo.size,
      "cache_sizes" -> Json.obj("filesCache" -> 4, "bloomCache" -> 64, "shardCache" -> 256),
      "pools" -> Json.obj("lookup_keys" -> lookupPool.size, "ranges" -> rangePool.size))
  }

  override def extra: collection.Map[String, Any] = Json.obj(
    "loads" -> loads, "load_rows_per_s" -> loadedRows / math.max(ctx.cycles.map(_.seconds).sum, 1e-9))
}
