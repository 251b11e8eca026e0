package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; ScalaTest runs suites sequentially in-process).
  * Built by the engine's session factory, so every suite runs on the
  * engine defaults whatever the suite order.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "graft-test", shufflePartitions = 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Rows as a sorted multiset of strings — order-insensitive DataFrame equality. */
  def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    canon(a) shouldBe canon(b)
  }
}
