package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sql.MergeSql
import graft.streaming.Streaming
import graft.table.Icebox

/** Round-10 hardening from the round-9 advice: streamId upgrade migration,
  * create-path commit guards, MERGE ON clauses repeating a target column,
  * and null partitions on mixed-generation reads.
  */
class AdviceR10Spec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(dir: String, name: String, rows: Seq[(Long, String)]): Unit = {
    val stage = tmpDir("st10")
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = scala.util.Using.resource(Files.list(Paths.get(stage)))(
      _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
    Files.createDirectories(Paths.get(dir))
    Files.copy(part, Paths.get(dir, name))
  }

  test("fileIngest append honors a legacy String.hashCode stream marker across the upgrade") {
    val src = tmpDir("mig-src")
    val ckpt = tmpDir("mig-ckpt")
    val table = Icebox(tmpDir("mig-table"))
    val rows = Seq((1L, "a"), (2L, "b"))
    writeBatch(src, "f1.parquet", rows)
    val schema = rows.toDF("id", "v").schema

    // pre-upgrade state: batch 0 was committed by a build that derived the
    // marker from String.hashCode, and the crash happened BEFORE Spark's
    // checkpoint write — so the restarted stream replays batch 0
    val legacyId = "ingest-" + Integer.toHexString(ckpt.hashCode)
    table.appendStreamBatch(legacyId, 0L, rows.toDF("id", "v"))
    table.read(spark).count() shouldBe 2

    val q = Streaming.fileIngest(spark, src, schema, table, ckpt)
    q.awaitTermination(60000)
    // without the legacy probe this would be 4 (batch 0 appended twice)
    table.read(spark).count() shouldBe 2

    // post-migration batches commit under the NEW id and keep flowing
    writeBatch(src, "f2.parquet", Seq((3L, "c")))
    val q2 = Streaming.fileIngest(spark, src, schema, table, ckpt)
    q2.awaitTermination(60000)
    table.read(spark).count() shouldBe 3
  }

  test("create-path upsert commits are guarded: a racing creation throws, not silently replaced") {
    // the window the upsert create paths close: "table absent" was
    // observed, then another writer created it before the publish — the
    // guarded rewrite must surface StaleCommitState so retryingStaleHead
    // re-merges against the new head
    val t = Icebox(tmpDir("create-race"))
    t.append(Seq((1L, "other-writer")).toDF("id", "v")) // the racing creation
    an[Exception] should be thrownBy
      t.rewriteFiles("upsert", Nil, Seq((2L, "loser")).toDF("id", "v"), Nil, expectHeadId = -1L)
    t.read(spark).select("v").as[String].collect() shouldBe Array("other-writer")

    // and the normal create paths still work end-to-end
    val t2 = Icebox(tmpDir("create-mor"))
    operators.Upsert.intoTableMor(t2, Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id"))
    t2.read(spark).count() shouldBe 1
    val t3 = Icebox(tmpDir("create-parts"))
    operators.Upsert.intoTable(t3,
      Seq((1L, "a"), (2L, "b")).toDF("id", "dt"), Seq("id"), partitionBy = Seq("dt"))
    t3.read(spark).count() shouldBe 2
  }

  test("MERGE whose ON clause repeats a target column falls back to the generic cardinality check") {
    val t = Icebox(tmpDir("merge-repeat-on"))
    t.overwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "amount"))
    MergeSql.register("t_repeat", t)
    Seq((1L, 1L, "A"), (2L, 99L, "B")).toDF("id", "id2", "name")
      .createOrReplaceTempView("src_repeat")
    // t.id appears twice on the target side — the equi fast path's rename
    // to target names would be ambiguous; the statement is still valid
    MergeSql.merge(spark,
      """MERGE INTO t_repeat t USING src_repeat s ON t.id = s.id AND t.id = s.id2
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |""".stripMargin)
    val out = t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array((1L, "A", 10.0), (2L, "b", 20.0)) // only (1,1) satisfies both
  }

  test("readPartitions returns null-partition rows from old-generation files") {
    val t = Icebox(tmpDir("mixed-null-part"))
    // generation 0: unpartitioned — null dt lives inside a plain file
    t.append(Seq((1L, "a", 10), (2L, null, 20), (3L, "b", 30)).toDF("id", "dt", "v"))
    t.setPartitionSpec(Seq("dt"))
    t.append(Seq((4L, "a", 40)).toDF("id", "dt", "v"))
    // a caller-side null and the directory rendering mean the same partition
    val gotNull = t.readPartitions(spark, "dt", Set(null))
    gotNull.select("id").as[Long].collect() shouldBe Array(2L)
    val gotSeg = t.readPartitions(spark, "dt", Set("__HIVE_DEFAULT_PARTITION__"))
    gotSeg.select("id").as[Long].collect() shouldBe Array(2L)
    // non-null requests still exact-filter the old generation
    t.readPartitions(spark, "dt", Set("a")).select("id").as[Long].collect().sorted shouldBe
      Array(1L, 4L)
  }
}
