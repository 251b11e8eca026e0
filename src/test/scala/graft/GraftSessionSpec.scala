package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraftSessionSpec extends AnyFunSuite with Matchers {

  test("builder carries the reference storage conventions and scale defaults") {
    // SparkSpec is built by GraftSession.builder: read its conf directly —
    // a second getOrCreate would rewrite the shared session's conf for
    // every suite that runs after this one
    val conf = SparkSpec.spark.conf
    conf.get("spark.sql.parquet.compression.codec") shouldBe "zstd"
    conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    conf.get("spark.sql.sources.partitionOverwriteMode") shouldBe "dynamic"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    conf.get("spark.sql.shuffle.partitions") shouldBe "4"
  }

  test("builder installs the local aggregate fold in the optimizer") {
    SparkSpec.spark.sessionState.optimizer.batches.flatMap(_.rules) should
      contain(graft.plans.LocalAggregateFold)
  }

  test("create pre-registers the graft native functions") {
    // same arguments as SparkSpec: getOrCreate re-applies them to the
    // shared session, so they must not differ from what it already holds
    SparkSpec.spark
    val s = GraftSession.create("local[4]", "graft-test", shufflePartitions = 4)
    s.sql("SELECT graft_cosine(array(cast(1.0 as float)), array(cast(1.0 as float)))")
      .collect()(0).getDouble(0) shouldBe 1.0
    s.sql("SELECT graft_l2sq(array(cast(1.0 as float), cast(0.0 as float)), array(cast(0.0 as float), cast(0.0 as float)))")
      .collect()(0).getDouble(0) shouldBe 1.0
  }

  test("no source outside GraftSession.scala calls the session builder") {
    // every session goes through the one factory; a hand-rolled builder
    // drifts from the engine defaults
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => withClue(s"$r: ")(Files.isDirectory(r) shouldBe true))
    val needle = "SparkSession" + ".builder"
    val offenders = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala" &&
          Files.readString(p).contains(needle))
        .map(_.toString).toList
      finally walk.close()
    }
    offenders shouldBe empty
  }
}
