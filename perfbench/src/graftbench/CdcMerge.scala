package graftbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, WatermarkStore}
import graft.operators.{MaterializedView, Upsert}
import graft.table.{Icebox, TableService}

/** The Oracle CDC sync job. Each cycle a seeded change batch lands in the
  * source staging area (untimed), then the timed cycle runs:
  *  1. `Cdc.runCycle` on `customer` into a copy-on-write `Upsert.intoTable`;
  *  2. `Cdc.runCycle` on `orders` into a merge-on-read upsert, partitioned by
  *     order month;
  *  3. `MaterializedView.refresh` of an aggregate view over `orders`;
  *  4. freshness reads of some of the batch's keys through `readIndexed`,
  *     `FreshReads` point reads of `KeysPerRead` keys each;
  *  5. every `TickEvery`-th cycle, `TableService.tick` on both tables
  *     (compaction and snapshot expiry).
  *
  * A round is `TickEvery` cycles, the last of which ticks, so the recorded
  * cycles always hold one tick per `TickEvery` cycles, whatever their number.
  */
final class CdcMerge(ctx: Ctx) extends Workload {
  import ctx.{spark, seed, tracer}
  import CdcMerge.{TickEvery, ticks}

  /** Base rows (TPC-H sf0.01 `customer`, sf0.01 `orders`) and change
    * batches of about 1% of them.
    */
  val BaseRows = Map("customer" -> 1500L, "orders" -> 15000L)
  val BatchRows = Map("customer" -> 15, "orders" -> 150)
  val FreshReads = 3
  val KeysPerRead = 2
  val MvKeys = Seq("o_orderpriority", "o_orderstatus")
  val T0Ms = 1700000000000L // base rows carry T0 - 1 day; batch c carries T0 + c minutes

  private val sources = Seq(Gen.Customer, Gen.Orders)
  private var dir = ""
  private def staging(s: Gen.Source) = s"$dir/staging/${s.name}"
  private def tableDir(name: String) = s"$dir/tables/$name"
  private val tables = mutable.Map[String, Icebox]() // one handle per table, as the sync job holds them
  private def table(name: String) = tables.getOrElseUpdate(name, Icebox(tableDir(name)))
  private var store: WatermarkStore = _

  private var cycle = 0 // cycles run on the current set-up; cycle c lands batch c
  private val maxKey = mutable.Map[String, Long]()
  private var batchBytes = 0L
  private var bytesWritten = 0L
  private var listing: Disk.Listing = Map.empty
  private val repeated = mutable.ArrayBuffer[Double]()
  private val recentShare = mutable.ArrayBuffer[Double]()
  private val touched = mutable.Map[Long, Int]().withDefaultValue(0)
  val mvModes = mutable.ArrayBuffer[String]()

  private def readStaging(s: Gen.Source): DataFrame =
    spark.read.schema(s.schema).option("recursiveFileLookup", "true").parquet(staging(s))

  private def land(s: Gen.Source, c: Int, rows: Seq[Row]): Unit = {
    val out = f"${staging(s)}/b$c%05d"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s.schema).coalesce(1).write.parquet(out)
    batchBytes += Disk.listing(Seq(out)).iterator.filter(_._1.endsWith(".parquet")).map(_._2.size).sum
  }

  private def sync(s: Gen.Source, sink: DataFrame => Unit): Unit =
    tracer.span(s"cdc.runCycle.${s.name}") {
      Cdc.runCycle(store, "src", s.name, _ => readStaging(s), "updated_at")(sink)(spark)
    }

  private def cowSink(b: DataFrame): Unit =
    tracer.span("upsert.cow", Seq(tableDir("customer"))) {
      Upsert.intoTable(table("customer"), b, Seq("c_custkey"), Some("updated_at"))
    }

  private def morSink(b: DataFrame): Unit =
    tracer.span("upsert.mor", Seq(tableDir("orders"))) {
      Upsert.intoTable(table("orders"), b, Seq("o_orderkey"), Some("updated_at"), Seq("o_month"))
    }

  private def refreshMv(): String =
    tracer.span("mv.refresh", Seq(tableDir("orders_mv"))) {
      MaterializedView.refresh(spark, table("orders"), table("orders_mv"), "orders_by_status",
        MvKeys, Seq("o_totalprice")).toString
    }

  def setup(d: String): Unit = {
    dir = d
    cycle = 0
    tables.clear()
    store = new WatermarkStore(s"$dir/watermarks")
    sources.foreach { s =>
      s.df(spark, seed, BaseRows(s.name), new Timestamp(T0Ms - 86400000L))
        .write.parquet(f"${staging(s)}/b00000")
      maxKey(s.name) = BaseRows(s.name)
    }
    sync(Gen.Customer, cowSink)
    sync(Gen.Orders, morSink)
    val maintenance = Map("maintenance.compact.min-files" -> "4",
      "maintenance.expire.max-age-ms" -> "0", "maintenance.expire.retain-last" -> "6")
    table("customer").setProperties(maintenance)
    table("orders").setProperties(maintenance + ("write.upsert.mode" -> "merge-on-read"))
    refreshMv()
  }

  def prepare(): Unit = listing = Disk.listing(tableDirs)

  override def round: Int = TickEvery
  override def warmupRounds: Int = 0

  def op(i: Int): Unit = {
    cycle += 1
    val batches = sources.map { s =>
      val rows = Gen.batch(s, seed, cycle, BatchRows(s.name), maxKey(s.name), T0Ms)
      land(s, cycle, rows)
      val keys = rows.map(_.getLong(0))
      repeated += Gen.repeatedShare(keys)
      val upd = keys.filter(_ <= maxKey(s.name))
      recentShare += upd.count(_ > maxKey(s.name) * 9 / 10).toDouble / math.max(upd.size, 1)
      if (s == Gen.Orders) keys.distinct.foreach(k => touched(k) += 1)
      maxKey(s.name) += BatchRows(s.name) / 5
      s.name -> rows
    }.toMap
    // the freshness reads: latest image within this batch of a few of its keys
    val orderRows = batches("orders")
    val fresh = (0 until FreshReads).map { j =>
      val keys = (0 until KeysPerRead).map(n => orderRows(Gen.below(
        Gen.mix(seed, cycle, 900L + j * KeysPerRead + n), orderRows.size).toInt).getLong(0)).distinct
      keys -> orderRows.filter(r => keys.contains(r.getLong(0)))
        .groupBy(_.getLong(0)).values.map(_.maxBy(_.getTimestamp(10).getTime))
        .map(Workloads.canon(_, Gen.Orders.schema.fieldNames)).toSeq.sorted
    }

    val tick = ticks(i)
    val got = ctx.cycle(maintenance = tick) {
      sync(Gen.Customer, cowSink)
      sync(Gen.Orders, morSink)
      mvModes += refreshMv()
      val rows = fresh.map { case (keys, _) =>
        ctx.read("lookup") { table("orders").readIndexed(spark).filter(col("o_orderkey").isin(keys: _*)).collect() }
      }
      if (tick) tracer.span("tableservice.tick", Seq(tableDir("customer"), tableDir("orders"))) {
        Seq("customer", "orders").foreach { t =>
          val tb = table(t)
          val before = tracer.paused(tb.currentSnapshot.map(_.files.map(_.path).toSet).getOrElse(Set.empty))
          TableService.tick(spark, tb)
          tracer.paused {
            val after = tb.currentSnapshot.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
            tracer.note(s"files_compacted.$t", (before -- after).size.toDouble)
          }
        }
      }
      rows
    }
    fresh.zip(got).foreach { case ((keys, expected), rows) =>
      ctx.outcome(s"cycle $cycle freshness read of ${keys.mkString(",")}") {
        rows.map(Workloads.canon).toSeq.sorted == expected
      }
    }
    val now = Disk.listing(tableDirs)
    bytesWritten += Disk.written(listing, now).total
    listing = now
  }

  /** Latest-wins replay of every landed batch over the base rows. */
  private def replay(s: Gen.Source): DataFrame = {
    val w = Window.partitionBy(s.key).orderBy(col("updated_at").desc)
    readStaging(s).withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  def check(): Unit = {
    sources.foreach { s =>
      ctx.outcome(s"final ${s.name} state") {
        Workloads.contentHash(table(s.name).read(spark)) == Workloads.contentHash(replay(s))
      }
    }
    ctx.outcome("final materialized view") {
      val expected = replay(Gen.Orders).groupBy(MvKeys.map(col): _*).agg(
        count(lit(1)).as("row_count"), sum("o_totalprice").as("sum_o_totalprice"),
        count("o_totalprice").as("nn_o_totalprice"))
      val cols = expected.columns.toSeq.map(col)
      Workloads.contentHash(table("orders_mv").read(spark).select(cols: _*)) == Workloads.contentHash(expected)
    }
  }

  def tableDirs: Seq[String] = Seq("customer", "orders", "orders_mv").map(tableDir)

  def writeAmp: Double = bytesWritten.toDouble / batchBytes

  def spaceAmp: Double = {
    val once = sources.map { s =>
      val parts = if (s == Gen.Orders) Seq("o_month") else Nil
      Workloads.writtenOnceBytes(table(s.name).read(spark), parts, s"${ctx.root}/once")
    }.sum
    Seq("customer", "orders").map(n => Disk.size(tableDir(n))).sum.toDouble / once
  }

  def inputs: collection.Map[String, Any] = {
    val (files, deletes, snaps) = Workloads.liveState(Seq("customer", "orders").map(table))
    Json.obj(
      "base_rows" -> BaseRows, "rows_per_batch" -> BatchRows,
      "batch_mix" -> "80% updates, 20% inserts", "cycles" -> cycle,
      "key_skew" -> "Zipf(s=1) on distance from the newest key",
      "update_share_newest_10pct_keys" -> (if (recentShare.isEmpty) 0.0 else Stats.median(recentShare.toSeq)),
      "keys_repeated_within_batch" -> (if (repeated.isEmpty) 0.0 else Stats.median(repeated.toSeq)),
      "order_keys_touched_more_than_once" ->
        (if (touched.isEmpty) 0.0 else touched.values.count(_ > 1).toDouble / touched.size),
      "tick_every" -> TickEvery,
      "live_files" -> files, "live_delete_files" -> deletes, "snapshots" -> snaps,
      "cache_sizes" -> Json.obj("filesCache" -> 4, "bloomCache" -> 64, "shardCache" -> 256))
  }

  override def extra: collection.Map[String, Any] = Json.obj(
    "mv_modes" -> mvModes.groupBy(identity).map { case (k, v) => k -> v.size })
}

object CdcMerge {
  val TickEvery = 2

  /** Op `i` (0-based) ends a round, and ticks. */
  def ticks(i: Int): Boolean = i % TickEvery == TickEvery - 1
}
