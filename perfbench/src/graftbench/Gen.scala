package graftbench

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the seed and
  * a row's coordinates (key, version), so the same seed always yields the
  * same inputs, whether a row is generated on the driver or in a task.
  * Shapes follow TPC-H `lineitem`, `orders` and `customer`.
  */
object Gen {

  def mix(seed: Long, a: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L ^ a * 0xC2B2AE3D27D4EB4FL ^ salt * 0x165667B19E3779F9L
    z += 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)
  def uniform(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  private def dec(cents: Long) = JBigDecimal.valueOf(cents, 2)
  private def pick(h: Long, xs: Array[String]) = xs(below(h, xs.length).toInt)
  private def text(h: Long, len: Int): String = {
    val b = new StringBuilder
    var x = h
    while (b.length < len) {
      b ++= Words(below(x, Words.length).toInt)
      b += ' '
      x = mix(x, b.length, 3)
    }
    b.result().take(len)
  }
  private val Words = Array("alpha", "bravo", "carefully", "deposits", "express", "final",
    "furiously", "ironic", "pending", "quickly", "regular", "slyly", "special", "theodolites")

  private val Day0 = LocalDate.of(1992, 1, 1)
  private val Flags = Array("A", "N", "R")
  private val Instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  // ----------------------------------------------------------------- lineitem

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DecimalType(15, 2)), StructField("l_extendedprice", DecimalType(15, 2)),
    StructField("l_discount", DecimalType(15, 2)), StructField("l_tax", DecimalType(15, 2)),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType), StructField("l_shipinstruct", StringType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType),
    StructField("dt", StringType)))

  /** Line `id` (0-based): four lines per order, ship dates over 1992-1998,
    * `dt` the ship month.
    */
  def lineitem(seed: Long, id: Long): Row = {
    val ok = id / 4 + 1
    def h(s: Long) = mix(seed, id, s)
    val qty = below(h(3), 50) + 1
    val ship = Day0.plusDays(below(h(8), 2526))
    Row(ok, below(h(1), 20000) + 1, below(h(2), 1000) + 1, (id % 4 + 1).toInt,
      dec(qty * 100), dec(qty * (90000 + below(h(4), 10000000))), dec(below(h(5), 11)),
      dec(below(h(6), 9)), pick(h(7), Flags), if (ship.isBefore(LocalDate.of(1995, 6, 17))) "F" else "O",
      Date.valueOf(ship), Date.valueOf(ship.plusDays(below(h(9), 60) - 30)),
      Date.valueOf(ship.plusDays(below(h(10), 30) + 1)), pick(h(11), Instructs), pick(h(12), Modes),
      text(h(13), 10 + below(h(14), 30).toInt),
      f"${ship.getYear}%04d-${ship.getMonthValue}%02d")
  }

  /** Archive month `k` (0 = 1991-12, counting back), before every ship
    * month of the source tree.
    */
  def archiveMonth(k: Int): String = {
    val m = LocalDate.of(1991, 12, 1).minusMonths(k)
    f"${m.getYear}%04d-${m.getMonthValue}%02d"
  }

  /** The `rows` lines of archive month `k`: lines with order keys above
    * 2^30, far from the source tree's, filed under `dt` = `archiveMonth(k)`.
    */
  def archiveLines(seed: Long, k: Int, rows: Int): Seq[Row] =
    (0 until rows).map { j =>
      val r = lineitem(seed, (1L << 32) + k.toLong * rows + j)
      Row.fromSeq(r.toSeq.init :+ archiveMonth(k))
    }

  def lineitemDf(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    spark.range(rows).map((id: java.lang.Long) => lineitem(seed, id))(Encoders.row(lineitemSchema))

  // ------------------------------------------------------- customer / orders

  /** A CDC source table: `key` is its primary key, rows carry an
    * `updated_at` watermark column, and `row(seed, key, version, ts)` gives
    * the image of `key` at `version` (0 = base load).
    */
  sealed trait Source extends Serializable {
    def name: String
    def key: String
    def schema: StructType
    def row(seed: Long, key: Long, version: Long, ts: Timestamp): Row
    def df(spark: SparkSession, seed: Long, rows: Long, ts: Timestamp): DataFrame =
      spark.range(1, rows + 1).map((k: java.lang.Long) => row(seed, k, 0L, ts))(Encoders.row(schema))
  }

  object Customer extends Source {
    val name = "customer"
    val key = "c_custkey"
    val schema: StructType = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_address", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_phone", StringType), StructField("c_acctbal", DecimalType(15, 2)),
      StructField("c_mktsegment", StringType), StructField("c_comment", StringType),
      StructField("updated_at", TimestampType)))
    def row(seed: Long, k: Long, v: Long, ts: Timestamp): Row = {
      def h(s: Long) = mix(seed, k, s + 1000 * v)
      Row(k, f"Customer#$k%09d", text(h(1), 12 + below(h(2), 20).toInt),
        below(mix(seed, k, 3), 25).toInt, f"${10 + below(h(4), 25)}-${below(h(5), 900) + 100}-${below(h(6), 9000) + 1000}",
        dec(below(h(7), 1099999) - 99999), pick(h(8), Segments), text(h(9), 20 + below(h(10), 60).toInt), ts)
    }
  }

  /** Orders' dates rise with the key (about 60 orders a day), so new keys
    * land in the newest `o_month` partition and a recency-skewed update
    * touches mostly recent partitions.
    */
  object Orders extends Source {
    val name = "orders"
    val key = "o_orderkey"
    val schema: StructType = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(15, 2)),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
      StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
      StructField("o_comment", StringType), StructField("o_month", StringType),
      StructField("updated_at", TimestampType)))
    def row(seed: Long, k: Long, v: Long, ts: Timestamp): Row = {
      def h(s: Long) = mix(seed, k, s + 1000 * v)
      val date = Day0.plusDays(k / 60 + below(mix(seed, k, 4), 3))
      Row(k, below(mix(seed, k, 1), 15000) + 1, pick(h(2), Array("F", "O", "P")),
        dec(100000 + below(h(3), 50000000)), Date.valueOf(date), pick(mix(seed, k, 5), Priorities),
        f"Clerk#${below(mix(seed, k, 6), 1000) + 1}%09d", 0, text(h(7), 19 + below(h(8), 60).toInt),
        f"${date.getYear}%04d-${date.getMonthValue}%02d", ts)
    }
  }

  /** One change batch of `size` rows for `cycle` (1-based) against a table
    * whose keys were 1..`maxKey` before it: 80% updates and 20% inserts of
    * the next keys. Update keys are Zipf(s=1)-skewed toward the newest
    * keys: the distance back from `maxKey` is log-uniform on [1, maxKey].
    * Each row's `updated_at` is unique and later than every earlier batch.
    */
  def batch(src: Source, seed: Long, cycle: Int, size: Int, maxKey: Long, t0Ms: Long): Seq[Row] = {
    val inserts = size / 5
    val updates = size - inserts
    val updKeys = (0 until updates).map { i =>
      val d = math.exp(uniform(mix(seed, cycle, 7000L + i)) * math.log(maxKey.toDouble)).toLong
      math.max(1L, maxKey - math.min(d, maxKey) + 1)
    }
    val insKeys = (1 to inserts).map(maxKey + _)
    val keys = (updKeys ++ insKeys).sortBy(k => mix(seed, cycle, 31L * k))
    keys.zipWithIndex.map { case (k, i) =>
      src.row(seed, k, cycle * 100000L + i, new Timestamp(t0Ms + cycle * 60000L + i))
    }
  }

  /** Keys touched by a batch that appear more than once in it, as a share of its distinct keys. */
  def repeatedShare(keys: Seq[Long]): Double = {
    val counts = keys.groupBy(identity).values.map(_.size)
    counts.count(_ > 1).toDouble / counts.size
  }
}
