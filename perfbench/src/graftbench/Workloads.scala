package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.Icebox

/** What one run shares between the driver loop and a workload: the session,
  * the seed, the run's scratch root, the tracer, and the samples and
  * outcomes the workload records.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val root: String, val tracer: Tracer) {
  val cycles = mutable.ArrayBuffer[Ctx.Cycle]()
  val reads = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Off for the warm-up rounds, which run and are checked but whose
    * timings are not samples.
    */
  var recording = true

  /** Count one checked outcome; a throw while checking is a failure too. */
  def outcome(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Exception => failures += s"$what: $e"; false }
    if (!good) {
      failed += 1
      if (!failures.lastOption.exists(_.startsWith(what))) failures += what
    }
  }

  /** Time one closed-loop cycle under a root span named `op`;
    * `maintenance` marks a cycle that runs table maintenance.
    */
  def cycle[T](maintenance: Boolean = false)(body: => T): T = {
    val (r, s) = tracer.timed(tracer.span("op")(body))
    if (recording) cycles += Ctx.Cycle(s, tracer.active, maintenance)
    r
  }

  /** Time one read of `kind` under a span named `read.<kind>`. */
  def read[T](kind: String)(body: => T): T = {
    val (r, s) = tracer.timed(tracer.span(s"read.$kind")(body))
    if (recording) reads.getOrElseUpdate(kind, mutable.ArrayBuffer()) += s
    r
  }
}

object Ctx {
  final case class Cycle(seconds: Double, traced: Boolean, maintenance: Boolean)
}

/** One benchmark workload: set-up builds its inputs and base tables, `op`
  * runs one closed-loop cycle and checks what it can cheaply, and `check`
  * compares the final state with a plain-Spark oracle.
  */
trait Workload {
  /** Build inputs and base state under `dir`; called several times, only
    * the last build is used.
    */
  def setup(dir: String): Unit
  /** Cycles per round: the loop runs whole rounds, so every round holds
    * the same mix of cycles.
    */
  def round: Int = 1
  /** Rounds run before the measured window to warm the JVM. */
  def warmupRounds: Int = 1
  /** Oracle work that runs outside the timed window, before it. */
  def prepare(): Unit
  def op(i: Int): Unit
  /** Final-state checks, outside the timed window. */
  def check(): Unit
  /** Table directories the workload writes to. */
  def tableDirs: Seq[String]
  /** Bytes written under table directories per byte of user input. */
  def writeAmp: Double
  /** Table bytes at the end per byte of the live rows written once. */
  def spaceAmp: Double
  /** Properties of the generated inputs, for the report. */
  def inputs: collection.Map[String, Any]
  /** Workload-specific figures for the report. */
  def extra: collection.Map[String, Any] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("full_load", "cdc_merge")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "full_load" => new FullLoad(ctx)
    case "cdc_merge" => new CdcMerge(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** A row as strings in column-name order: the form outputs are compared in. */
  def canon(row: Row): String =
    row.schema.fieldNames.sorted.map(c => String.valueOf(row.getAs[Any](c))).mkString("|")

  def canon(row: Row, names: Array[String]): String = {
    val idx = names.zipWithIndex.toMap
    names.sorted.map(c => String.valueOf(row.get(idx(c)))).mkString("|")
  }

  /** Order-independent content hash: (rows, sum of 32-bit row hashes, xor of
    * 64-bit row hashes) over every column cast to string.
    */
  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val cols: Seq[Column] = df.columns.sorted.toSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), bit_xor(col("h")))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** The content hash of the union of two disjoint row sets. */
  def combine(a: (Long, Long, Long), b: (Long, Long, Long)): (Long, Long, Long) =
    (a._1 + b._1, a._2 + b._2, a._3 ^ b._3)

  /** Bytes of `df` written once as zstd parquet (the session's codec),
    * partitioned like the table it stands for.
    */
  def writtenOnceBytes(df: DataFrame, partitionBy: Seq[String], dir: String): Long = {
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
    val b = Disk.listing(Seq(dir)).iterator.filter(_._1.endsWith(".parquet")).map(_._2.size).sum
    Disk.delete(dir)
    b
  }

  /** Live data files, attached delete files and snapshots of `tables`. */
  def liveState(tables: Seq[Icebox]): (Long, Long, Long) = tables.filter(_.exists).map { t =>
    val files = t.currentSnapshot.map(_.files).getOrElse(Nil)
    (files.size.toLong, files.flatMap(f => f.deletes ++ f.eqDeletes).distinct.size.toLong,
      t.allSnapshots.size.toLong)
  }.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
}
