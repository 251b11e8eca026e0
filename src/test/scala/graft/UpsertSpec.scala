package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Upsert
import graft.table.Icebox

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1L, "old-1", 100L), (2L, "old-2", 100L), (3L, "old-3", 100L)
  ).toDF("id", "payload", "ver")

  private def incoming = Seq(
    (2L, "new-2", 200L), (4L, "new-4", 200L)
  ).toDF("id", "payload", "ver")

  test("matched keys take incoming, unmatched target rows survive") {
    val out = Upsert(target, incoming, Seq("id"))
    canon(out) shouldBe canon(Seq(
      (1L, "old-1", 100L), (2L, "new-2", 200L), (3L, "old-3", 100L), (4L, "new-4", 200L)
    ).toDF("id", "payload", "ver"))
  }

  test("upsert is idempotent: applying the same batch twice is a no-op") {
    val once = Upsert(target, incoming, Seq("id"))
    val twice = Upsert(once, incoming, Seq("id"))
    canon(twice) shouldBe canon(once)
  }

  test("duplicate pks in a batch resolve latest-wins by orderCol") {
    val dupBatch = Seq((2L, "v1", 10L), (2L, "v2", 20L), (2L, "v3", 15L)).toDF("id", "payload", "ver")
    val out = Upsert(target, dupBatch, Seq("id"), orderCol = Some("ver"))
    out.filter($"id" === 2).select("payload").as[String].collect() shouldBe Array("v2")
    out.count() shouldBe 3
  }

  test("the aggregate dedupe keeps what the window form kept: NULL orderCol loses, a tie keeps the first row") {
    def windowForm(df: DataFrame): DataFrame = {
      val w = Window.partitionBy($"id").orderBy($"ver".desc_nulls_last, monotonically_increasing_id())
      df.withColumn("__rn", row_number().over(w)).filter($"__rn" === 1).drop("__rn")
    }
    val batch = Seq((1L, "a", Some(10L)), (1L, "b", Some(20L)), (1L, "c", Some(20L)),
      (2L, "d", None), (2L, "e", Some(1L)), (3L, "f", None), (3L, "g", None), (4L, "h", Some(5L)))
      .toDF("id", "payload", "ver")
    val deduped = Upsert.dedupe(batch, Seq("id"), "ver")
    deduped.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    deduped.columns.toSeq shouldBe batch.columns.toSeq
    canon(deduped) shouldBe Seq("[1,b,20]", "[2,e,1]", "[3,f,null]", "[4,h,5]")
    canon(deduped) shouldBe canon(windowForm(batch))
    val spread = batch.repartition(2)
    canon(Upsert.dedupe(spread, Seq("id"), "ver")) shouldBe canon(windowForm(spread))
  }

  test("intoTable preserves the target's partition columns") {
    val t = Icebox(tmpDir("upsert"))
    val part = target.withColumn("dt", concat(lit("d"), ($"id" % 2).cast("string")))
    t.append(part, partitionBy = Seq("dt"))
    t.partitionColumns shouldBe Seq("dt")
    val inc = incoming.withColumn("dt", concat(lit("d"), ($"id" % 2).cast("string")))
    Upsert.intoTable(t, inc, Seq("id"))
    // partitioning survived the upsert → pruning still works
    t.partitionColumns shouldBe Seq("dt")
    t.prunedFiles("dt", Set("d0")) should not be empty
    t.read(spark).count() shouldBe 4
    t.currentSnapshot.get.operation shouldBe "upsert"
  }

  test("intoTable merges only touched partitions") {
    val t = Icebox(tmpDir("upsertp"))
    // d1's file spans ids 1..3, so its min/max admits key 2: the bloom on
    // the key proves it holds neither batch key
    t.setProperties(Map("manifest.bloom.columns" -> "id"))
    val part = target.withColumn("dt", concat(lit("d"), ($"id" % 2).cast("string")))
    t.append(part, partitionBy = Seq("dt"))
    val beforeFiles = t.currentSnapshot.get.files.filter(_.partition("dt") == "d1").map(_.path).toSet
    // incoming touches only dt=d0 (ids 2 and 4)
    val inc = incoming.withColumn("dt", lit("d0"))
    Upsert.intoTable(t, inc, Seq("id"))
    val afterFiles = t.currentSnapshot.get.files.filter(_.partition("dt") == "d1").map(_.path).toSet
    afterFiles shouldBe beforeFiles // untouched partition's files carried over BY REFERENCE
    val back = t.read(spark)
    back.count() shouldBe 4
    back.filter($"id" === 2).select("payload").as[String].collect() shouldBe Array("new-2")
  }
}
