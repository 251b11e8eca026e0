package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import graft.plans.IceboxFileIndex
import graft.table.Icebox

class IceboxFileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): Icebox = {
    val t = Icebox(tmpDir("fidx"))
    val df = (1 to 100).map(i => (i.toLong, i * 1.0, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "score", "parity")
    // partitioned by parity, stats on score, three commits
    t.append(df.filter($"id" <= 40), partitionBy = Seq("parity"), collectStats = Seq("score"))
    t.append(df.filter($"id" > 40 && $"id" <= 80), partitionBy = Seq("parity"), collectStats = Seq("score"))
    t.append(df.filter($"id" > 80), partitionBy = Seq("parity"), collectStats = Seq("score"))
    t
  }

  test("readIndexed returns the same rows as the plain read") {
    val t = mkTable()
    assertSameRows(t.readIndexed(spark), t.read(spark))
  }

  test("filters through the index are correct (pruning never changes results)") {
    val t = mkTable()
    val idx = t.readIndexed(spark)
    idx.filter($"parity" === "even" && $"score" <= 40.0).count() shouldBe 20
    idx.filter($"score" > 90.0).count() shouldBe 10
    idx.filter($"parity" === "neither").count() shouldBe 0
  }

  test("listFiles prunes partitions by manifest values and files by stats") {
    val t = mkTable()
    val snap = t.currentSnapshot.get
    val partSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("parity", StringType)))
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      partSchema)

    val all = index.listFiles(Nil, Nil)
    all.map(_.files.size).sum shouldBe snap.files.size

    // partition filter: parity = 'even' keeps only that partition's files
    val parityAttr = AttributeReference("parity", StringType)()
    val evenOnly = index.listFiles(Seq(EqualTo(parityAttr, Literal("even"))), Nil)
    evenOnly.map(_.files.size).sum shouldBe
      snap.files.count(_.partition("parity") == "even")

    // data filter: score <= 40 skips files whose min > 40
    val scoreAttr = AttributeReference("score", DoubleType)()
    val lowScores = index.listFiles(Nil, Seq(LessThanOrEqual(scoreAttr, Literal(40.0))))
    lowScores.map(_.files.size).sum should be < snap.files.size
    // and never drops a file that could match
    val keptPaths = lowScores.flatMap(_.files.map(_.getPath.toString)).toSet
    snap.files.filter(f => f.stats("score")._1.toDouble <= 40.0)
      .foreach(f => keptPaths should contain(f.path))
  }

  test("string stats and IN-lists admit/skip files correctly") {
    val t = Icebox(tmpDir("fidx-str"))
    val df = Seq((1L, "apple"), (2L, "banana"), (3L, "cherry"), (4L, "plum"))
      .toDF("id", "fruit")
    df.collect() // force
    t.append(df.filter($"id" <= 2), collectStats = Seq("fruit"))  // [apple, banana]
    t.append(df.filter($"id" > 2), collectStats = Seq("fruit"))   // [cherry, plum]
    val snap = t.currentSnapshot.get
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      new org.apache.spark.sql.types.StructType())
    val fruitAttr = AttributeReference("fruit", StringType)()
    def nFiles(filter: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      index.listFiles(Nil, Seq(filter)).map(_.files.size).sum
    nFiles(EqualTo(fruitAttr, Literal("banana"))) should be < snap.files.size
    nFiles(LessThanOrEqual(fruitAttr, Literal("b"))) should be < snap.files.size
    nFiles(org.apache.spark.sql.catalyst.expressions.In(fruitAttr,
      Seq(Literal("zebra"), Literal("apple")))) should be < snap.files.size
    // correctness through the full read path
    t.readIndexed(spark).filter($"fruit" === "cherry").count() shouldBe 1
    t.readIndexed(spark).filter($"fruit".isin("apple", "plum")).count() shouldBe 2
  }

  test("date and timestamp_ntz stats admit/skip files on the epoch scale") {
    val t = Icebox(tmpDir("fidx-time"))
    def month(m: Int) = spark.range(0, 30).selectExpr("id",
      s"make_date(2024, $m, cast(id % 28 + 1 as int)) as d",
      s"make_timestamp_ntz(2024, $m, cast(id % 28 + 1 as int), 10, 30, 0) as ts")
    (1 to 3).foreach(m => t.append(month(m), collectStats = Seq("d", "ts")))
    val snap = t.currentSnapshot.get
    all(snap.files.map(_.stats.keySet)) should contain allOf ("d", "ts")
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      new org.apache.spark.sql.types.StructType())
    def nFiles(filter: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      index.listFiles(Nil, Seq(filter)).map(_.files.size).sum
    val dAttr = AttributeReference("d", org.apache.spark.sql.types.DateType)()
    val tsAttr = AttributeReference("ts", org.apache.spark.sql.types.TimestampNTZType)()
    // a one-month window skips the other months' files — on BOTH types
    nFiles(LessThanOrEqual(dAttr,
      Literal(java.time.LocalDate.of(2024, 1, 31)))) should be < snap.files.size
    nFiles(LessThanOrEqual(tsAttr,
      Literal(java.time.LocalDateTime.of(2024, 1, 31, 23, 59)))) should be < snap.files.size
    // zoned TimestampType predicates stay conservative (no stats recorded
    // under that type here; an unknown shape must keep every file)
    nFiles(EqualTo(AttributeReference("ts",
      org.apache.spark.sql.types.TimestampType)(),
      Literal(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))) shouldBe snap.files.size
    // pruning never changes results through the full read path
    t.readIndexed(spark).filter($"d" >= "2024-02-01" && $"d" < "2024-03-01")
      .count() shouldBe 30
    t.readIndexed(spark)
      .filter($"ts" >= "2024-03-01 00:00:00").count() shouldBe 30
  }

  test("date-partitioned tables read correctly through the index") {
    val t = Icebox(tmpDir("fidx-date"))
    val df = Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
      .toDF("id", "d").withColumn("d", to_date($"d"))
    t.append(df, partitionBy = Seq("d"))
    val idx = t.readIndexed(spark)
    idx.schema("d").dataType shouldBe org.apache.spark.sql.types.DateType
    assertSameRows(idx, t.read(spark))
    idx.filter($"d" === to_date(lit("2024-01-02"))).count() shouldBe 2
    idx.filter($"d" < to_date(lit("2024-01-02"))).select("id").as[Long].collect() shouldBe Array(1L)
  }

  test("long stats above 2^53 do not skip files that Double rounding would conflate") {
    val t = Icebox(tmpDir("fidx-big"))
    val base = (1L << 53)
    // one file whose min == max == base + 1: mx.toDouble == base.toDouble,
    // so a Double compare of (mx > base) is false and wrongly drops the file
    Seq((base + 1, "x")).toDF("big", "v").collect()
    t.append(Seq((base + 1, "x")).toDF("big", "v"), collectStats = Seq("big"))
    val snap = t.currentSnapshot.get
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      new org.apache.spark.sql.types.StructType())
    val bigAttr = AttributeReference("big", org.apache.spark.sql.types.LongType)()
    val kept = index.listFiles(Nil,
      Seq(org.apache.spark.sql.catalyst.expressions.GreaterThan(bigAttr, Literal(base))))
    kept.map(_.files.size).sum shouldBe 1
    // null literal keeps the file instead of NPEing
    val fruitless = index.listFiles(Nil,
      Seq(EqualTo(AttributeReference("v", StringType)(), Literal(null, StringType))))
    fruitless.map(_.files.size).sum shouldBe 1
  }

  test("the default read path plans through the Icebox index, time travel included") {
    val t = mkTable()
    def location(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
          r.location
      }.get
    location(t.read(spark)) shouldBe a[IceboxFileIndex]
    val firstId = t.allSnapshots.map(_.id).min
    location(t.readSnapshotId(spark, firstId)) shouldBe a[IceboxFileIndex]
    t.readSnapshotId(spark, firstId).count() shouldBe 40
  }

  test("stats columns are sticky across subsequent writes") {
    val t = Icebox(tmpDir("fidx-sticky"))
    val df = (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "score")
    t.append(df, collectStats = Seq("score"))
    t.append(df.withColumn("score", $"score" + 100.0)) // no collectStats passed
    val snap = t.currentSnapshot.get
    all(snap.files.map(_.stats.keySet)) should contain("score")
    // skipping fires on the inherited stats through the default read
    t.read(spark).filter($"score" > 100.0).count() shouldBe 10
  }

  test("the planned scan uses the Icebox index (no directory listing relation)") {
    val t = mkTable()
    val rel = t.readIndexed(spark).queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) => r
    }
    rel.get.location shouldBe a[IceboxFileIndex]
  }

  test("z-order compaction gives the SECOND sort column real file locality") {
    val t = Icebox(tmpDir("fidx-zorder"))
    // a cycles fast, b in blocks: under LEXICOGRAPHIC (a, b) clustering every
    // file would span b's whole domain — a predicate on b alone skips nothing
    val df = spark.range(0, 4096)
      .selectExpr("id", "cast(id % 64 as double) as a", "cast(id div 64 as double) as b")
    t.append(df)
    t.compactSorted(spark, Seq("a", "b"), numFiles = Some(16))
    val files = t.currentSnapshot.get.files
    files.size should be > 4
    files.foreach(_.stats.keySet should contain allOf ("a", "b"))
    // z-interleave: a narrow predicate on b ALONE must prune files
    val hit = t.prunedFilesByStats("b", Some(10.0), Some(12.0))
    hit.size should be < files.size / 2
    // pruning on the FIRST column still works too
    t.prunedFilesByStats("a", Some(10.0), Some(12.0)).size should be < files.size
    // and never changes results
    assertSameRows(
      t.readWhereStats(spark, "b", Some(10.0), Some(12.0)).filter($"b".between(10.0, 12.0)),
      df.filter($"b".between(10.0, 12.0)))
    // the default planner read agrees as well (stats skipping is in-plan)
    t.read(spark).filter($"b" === 20.0).count() shouldBe 64
  }

  test("a null partition value reads as NULL on every read path, string or int typed") {
    val strT = Icebox(tmpDir("fidx-null-str"))
    strT.append(Seq((1L, Option("a"))).toDF("id", "p"), partitionBy = Seq("p"))
    val strSince = strT.currentSnapshotId
    strT.append(Seq((2L, Option.empty[String]), (3L, Option("b"))).toDF("id", "p"),
      partitionBy = Seq("p"))
    val intT = Icebox(tmpDir("fidx-null-int"))
    intT.append(Seq((1L, Option(10))).toDF("id", "p"), partitionBy = Seq("p"))
    val intSince = intT.currentSnapshotId
    intT.append(Seq((2L, Option.empty[Int]), (3L, Option(20))).toDF("id", "p"),
      partitionBy = Seq("p"))
    for ((t, since) <- Seq(strT -> strSince, intT -> intSince)) {
      val reads = Seq(t.read(spark), t.readIndexed(spark), t.changesSince(spark, since))
      reads.foreach { df =>
        df.filter($"p".isNull).select("id").as[Long].collect() shouldBe Array(2L)
      }
      assertSameRows(t.readIndexed(spark), t.read(spark))
      assertSameRows(t.changesSince(spark, since), t.read(spark).filter($"id" > 1L))
    }
  }

  test("changesSince over more than 32 added files builds its DataFrame with no Spark job") {
    val t = Icebox(tmpDir("fidx-nojob"))
    t.append(spark.range(0, 10).toDF("id"))
    val since = t.currentSnapshotId
    t.append(spark.range(10, 410).toDF("id").repartition(40))
    t.currentSnapshot.get.files.size should be > 33
    var df: org.apache.spark.sql.DataFrame = null
    jobsOf { df = t.changesSince(spark, since) } shouldBe 0
    df.count() shouldBe 400L
  }
}
