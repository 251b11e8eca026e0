package graft

import java.sql.Timestamp
import java.time.LocalDateTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.{Cdc, Watermark, WatermarkStore}
import graft.table.EqualityDeletes

/** The micro-batch CDC cycle: a batch of at most `EqKeyCacheMaxRows` rows
  * is collected once and its watermark taken from the rows; a larger one
  * keeps the cached batch and the `max` aggregate.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("updated_at", TimestampType)))

  private def land(dir: String, batch: Int): Unit =
    (1 to 30).map(i => (batch * 100L + i, new Timestamp(1000000L * batch + i)))
      .toDF("id", "updated_at").coalesce(1).write.mode("append").parquet(dir)

  private def cycle(store: WatermarkStore, source: DataFrame, versionCol: Option[String] = None)(
      sink: DataFrame => Unit): Watermark =
    Cdc.runCycle(store, "src", "t", _ => source, "updated_at", versionCol)(sink)(spark)

  test("a small batch is collected once: a cycle with a no-op sink runs 1 Spark job") {
    val staging = tmpDir("cdc-jobs")
    (0 until 6).foreach(land(staging, _))
    val store = new WatermarkStore(tmpDir("cdc-jobs-wm"))
    def source = spark.read.schema(schema).parquet(staging)
    cycle(store, source)(_ => ())
    land(staging, 6)
    var rows = 0L
    jobsOf { cycle(store, source)(b => rows = b.collect().length) } shouldBe 1
    rows shouldBe 30L
    store.get("src", "t").map(_.lastTimestampMs) shouldBe Some(6000030L)
  }

  test("the held watermark is the max aggregate's: timestamps, NTZ, versions, NULLs") {
    val rows = Seq(
      (1L, Some(new Timestamp(5000L)), Some(LocalDateTime.of(2024, 1, 2, 3, 4)), Some(7L)),
      (2L, None, None, None),
      (3L, Some(new Timestamp(9000L)), Some(LocalDateTime.of(2023, 1, 1, 0, 0)), Some(12L)),
      (4L, Some(new Timestamp(1000L)), None, Some(3L)))
    val batch = rows.toDF("id", "updated_at", "ntz", "scn")
    val store = new WatermarkStore(tmpDir("cdc-held-wm"))
    val held = cycle(store, batch, Some("scn"))(_ => ())
    held shouldBe Cdc.advance(batch, "src", "t", "updated_at", Some("scn"), None)
    held.lastTimestampMs shouldBe 9000L
    held.lastScn shouldBe 12L
    val ntz = Cdc.runCycle(new WatermarkStore(tmpDir("cdc-held-ntz")), "src", "t", _ => batch,
      "ntz")(_ => ())(spark)
    ntz shouldBe Cdc.advance(batch, "src", "t", "ntz", None, None)
    ntz.lastTimestampMs shouldBe LocalDateTime.of(2024, 1, 2, 3, 4)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }

  test("an empty batch reaches no sink and keeps the previous watermark") {
    val store = new WatermarkStore(tmpDir("cdc-empty"))
    val first = Seq((1L, new Timestamp(4000L))).toDF("id", "updated_at")
    cycle(store, first)(_ => ()).lastTimestampMs shouldBe 4000L
    var called = false
    cycle(store, first)(_ => called = true).lastTimestampMs shouldBe 4000L
    called shouldBe false
  }

  test("an over-cap batch reaches the sink whole and advances by the aggregate") {
    val n = EqualityDeletes.EqKeyCacheMaxRows + 1L
    val batch = spark.range(0L, n).select($"id",
      timestamp_seconds(lit(1000000L) + $"id").as("updated_at"))
    val store = new WatermarkStore(tmpDir("cdc-overcap"))
    var seen = 0L
    val next = cycle(store, batch)(b => seen = b.count())
    seen shouldBe n
    next shouldBe Cdc.advance(batch, "src", "t", "updated_at", None, None)
  }
}
