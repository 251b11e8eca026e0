package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  // every tmpDir of this suite lives under one root, removed after the suite
  private var tmpRoot: Option[Path] = None

  def tmpDir(prefix: String): String = synchronized {
    val root = tmpRoot.getOrElse(Files.createTempDirectory(getClass.getSimpleName + "-"))
    tmpRoot = Some(root)
    Files.createTempDirectory(root, prefix).toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      tmpRoot.foreach(root => scala.util.Using.resource(Files.walk(root))(
        _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))))
      tmpRoot = None
    }

  /** Rows as a sorted multiset of strings — order-insensitive DataFrame equality. */
  def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    canon(a) shouldBe canon(b)
  }

  /** Spark jobs `body` runs on this thread: a listener counts job starts
    * tagged with a fresh job group; a marker job in a second group, seen
    * last, proves every earlier event has been delivered.
    */
  def jobsOf(body: => Unit): Int = jobNamesOf(body).size

  /** [[jobsOf]]'s jobs, each named by the description Spark gave it (such
    * as a file-listing job's) and its stages' call sites, e.g.
    * `measured: collect at Icebox.scala:12`.
    */
  def jobNamesOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => seen.add(e.properties.getProperty("spark.job.description") + ": " +
            e.stageInfos.map(_.name).mkString(", "))
          case g if g == group + "-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      marker.await(30, TimeUnit.SECONDS) shouldBe true
      seen.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}
