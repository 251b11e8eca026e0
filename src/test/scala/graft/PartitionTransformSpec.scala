package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, In, LessThan, Literal}
import org.apache.spark.sql.types._
import graft.plans.IceboxFileIndex
import graft.sql.{DmlSql, MergeSql}
import graft.table.{BucketTransform, DaysTransform, Icebox, PartitionTransform, TruncateTransform}

/** Hidden-partition transforms (bucket / truncate / days / hours): derived
  * partition dirs that never enter the table schema, pruned from predicates
  * on the SOURCE column through the manifest index.
  */
class PartitionTransformSpec extends SparkSpec {
  import spark.implicits._

  test("spec strings round-trip through parse/render, including mixed specs") {
    val s = "bucket(8, id), truncate(3, name), days(ts), region"
    PartitionTransform.renderSpec(PartitionTransform.parseSpec(s)) shouldBe s
    PartitionTransform.parseSpec(s).map(_.name) shouldBe
      Seq("id_bucket", "name_trunc", "ts_day", "region")
  }

  test("bucket literal mapping agrees bit-exactly with the write expression") {
    val df = (1L to 200L).toDF("id")
    val written = df.withColumn("b", pmod(hash(col("id")), lit(8)))
      .select("id", "b").as[(Long, Int)].collect().toMap
    val t = BucketTransform(8, "id")
    (1L to 200L).foreach { v =>
      t.literalDirValue(Literal(v, LongType)) shouldBe Some(written(v).toString)
    }
  }

  test("bucketed write hides the derived column and prunes equality predicates") {
    val t = Icebox(tmpDir("pt-bucket"))
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "s")
    t.appendTransformed(df.repartition(4), "bucket(8, id)")
    // hidden column never surfaces
    t.read(spark).columns.toSeq shouldBe Seq("id", "s")
    t.readIndexed(spark).columns.toSeq shouldBe Seq("id", "s")
    // dirs are bucketed
    val snap = t.currentSnapshot.get
    snap.files.flatMap(_.partition.keys).distinct shouldBe Seq("id_bucket")
    snap.files.map(_.partition("id_bucket")).distinct.size should be > 4
    // planner prunes: id = 42 keeps only bucket(42)'s files
    val idx = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      new StructType())
    val a = AttributeReference("id", LongType)()
    val kept = idx.listFiles(Nil, Seq(EqualTo(a, Literal(42L, LongType))))
      .map(_.files.size).sum
    kept should be < snap.files.size
    val expected = BucketTransform(8, "id").literalDirValue(Literal(42L, LongType)).get
    snap.files.count(_.partition("id_bucket") == expected) shouldBe kept
    // IN prunes to the union of buckets
    val keptIn = idx.listFiles(Nil,
      Seq(In(a, Seq(Literal(42L, LongType), Literal(43L, LongType))))).map(_.files.size).sum
    keptIn should be < snap.files.size
    // correctness through the full read path
    t.readIndexed(spark).filter($"id" === 42L).count() shouldBe 1L
    assertSameRows(t.read(spark), df)
  }

  test("days(ntz) write prunes time-range predicates and repeated appends agree") {
    val t = Icebox(tmpDir("pt-days"))
    def month(m: Int) = spark.range(0, 40).selectExpr("id",
      s"make_timestamp_ntz(2024, $m, cast(id % 28 + 1 as int), 10, 0, 0) as ts")
    t.appendTransformed(month(1), "days(ts)")
    t.appendTransformed(month(2), "days(ts)")
    t.appendTransformed(month(3), "days(ts)")
    val snap = t.currentSnapshot.get
    snap.files.flatMap(_.partition.keys).distinct shouldBe Seq("ts_day")
    val idx = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      new StructType())
    val a = AttributeReference("ts", TimestampNTZType)()
    def micros(s: String) =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val kept = idx.listFiles(Nil, Seq(LessThan(a,
      Literal(micros("2024-02-01T00:00:00"), TimestampNTZType)))).map(_.files.size).sum
    kept should be < snap.files.size
    // conservative at the day boundary: a file with ts_day == 2024-02-01
    // could hold rows below a mid-day literal, so <= is the correct rule
    kept shouldBe snap.files.count(_.partition("ts_day") <= "2024-02-01")
    // GreaterThanOrEqual prunes the other side
    idx.listFiles(Nil, Seq(GreaterThanOrEqual(a,
      Literal(micros("2024-03-01T00:00:00"), TimestampNTZType)))).map(_.files.size).sum should
      be < snap.files.size
    // readIndexed applies the exact filter on top — correctness unchanged
    t.readIndexed(spark).filter($"ts" < "2024-02-01").count() shouldBe 40L
  }

  test("truncate(string) prunes equality and prefix ranges") {
    val t = Icebox(tmpDir("pt-trunc"))
    val df = Seq("apple", "apricot", "banana", "blueberry", "cherry", "citrus")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "name")
    t.appendTransformed(df, "truncate(2, name)")
    val snap = t.currentSnapshot.get
    snap.files.map(_.partition("name_trunc")).distinct.sorted shouldBe
      Seq("ap", "ba", "bl", "ch", "ci")
    val idx = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      new StructType())
    val a = AttributeReference("name", StringType)()
    import org.apache.spark.unsafe.types.UTF8String
    val kept = idx.listFiles(Nil, Seq(EqualTo(a,
      Literal(UTF8String.fromString("banana"), StringType)))).map(_.files.size).sum
    kept shouldBe snap.files.count(_.partition("name_trunc") == "ba")
    kept should be < snap.files.size
    t.readIndexed(spark).filter($"name" === "banana").count() shouldBe 1L
  }

  test("mixed spec (identity + hidden) and a second append must match the stored spec") {
    val t = Icebox(tmpDir("pt-mixed"))
    val df = (1L to 100L).map(i => (i, s"r${i % 2}", s"v$i")).toDF("id", "region", "s")
    t.appendTransformed(df, "region, bucket(4, id)")
    val snap = t.currentSnapshot.get
    snap.files.flatMap(_.partition.keys).distinct.sorted shouldBe Seq("id_bucket", "region")
    // identity column stays in the schema, hidden one doesn't
    t.read(spark).columns.toSeq shouldBe Seq("id", "region", "s")
    assertSameRows(t.read(spark), df)
    intercept[IllegalArgumentException] {
      t.appendTransformed(df, "bucket(4, id)") // spec mismatch
    }.getMessage should include("partition spec mismatch")
  }

  test("DML rewrites and compaction re-derive hidden partitions automatically") {
    val t = Icebox(tmpDir("pt-dml"))
    val df = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "s")
    t.appendTransformed(df.repartition(4), "bucket(8, id)")
    MergeSql.register("pt_dml_t", t)
    // copy-on-write DELETE rewrites candidate files partitioned by the spec
    val r = DmlSql.delete(spark, "DELETE FROM pt_dml_t WHERE id = 42")
    r.keptFiles should be > 0 // bucket pruning reached the DML split
    t.read(spark).count() shouldBe 199L
    t.read(spark).columns.toSeq shouldBe Seq("id", "s")
    // the rewritten files still carry bucketed dirs
    t.currentSnapshot.get.files.flatMap(_.partition.keys).distinct shouldBe Seq("id_bucket")
    // compaction round-trips the layout
    t.compact(spark, targetFileMb = 1)
    t.currentSnapshot.get.files.flatMap(_.partition.keys).distinct shouldBe Seq("id_bucket")
    t.read(spark).count() shouldBe 199L
    t.readIndexed(spark).filter($"id" === 100L).count() shouldBe 1L
  }

  test("days transform rejects zoned timestamp columns at write") {
    val t = Icebox(tmpDir("pt-zoned"))
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("id", "ts")
    intercept[RuntimeException] {
      t.appendTransformed(df, "days(ts)")
    }.getMessage should include("zone-free")
  }
}
