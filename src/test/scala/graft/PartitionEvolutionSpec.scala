package graft

import org.apache.spark.sql.functions._
import graft.table.Icebox

/** Partition-spec evolution: change a table's identity partitioning for
  * future writes; old- and new-layout file generations coexist and read as
  * one table; compaction migrates everything to the current spec.
  */
class PartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("unpartitioned -> partitioned: generations coexist and read together") {
    val t = Icebox(tmpDir("pevo-up"))
    t.append((1 to 30).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"))
    t.setPartitionSpec(Seq("grp"))
    t.append((31 to 60).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp")) // auto-partitions
    val files = t.currentSnapshot.get.files
    files.map(_.partition.keys.toSet).distinct.size shouldBe 2 // two layouts live
    t.read(spark).count() shouldBe 60L
    t.readIndexed(spark).count() shouldBe 60L
    t.read(spark).filter($"grp" === "g1").count() shouldBe 20L
    t.readIndexed(spark).filter($"grp" === "g1").count() shouldBe 20L
    // manifest pruning: new-generation non-matching files pruned, old
    // (unpartitioned) generation kept conservatively
    val pruned = t.prunedFiles("grp", Set("g1"))
    pruned.size should be < files.size
    pruned.count(_.partition.isEmpty) shouldBe files.count(_.partition.isEmpty)
  }

  test("partitioned -> repartitioned: appends follow the new spec") {
    val t = Icebox(tmpDir("pevo-re"))
    t.append((1 to 30).map(i => (i.toLong, s"g${i % 3}", s"h${i % 2}")).toDF("id", "g", "h"),
      Seq("g"))
    t.setPartitionSpec(Seq("h"))
    t.append((31 to 60).map(i => (i.toLong, s"g${i % 3}", s"h${i % 2}")).toDF("id", "g", "h"))
    t.read(spark).count() shouldBe 60L
    t.read(spark).filter($"h" === "h1").count() shouldBe 30L
    // an append matching NEITHER the parent layout nor the spec errors
    an[Exception] should be thrownBy
      t.append(Seq((99L, "gx", "hx")).toDF("id", "g", "h"), Seq("id"))
  }

  test("compaction migrates every generation to the current spec") {
    val t = Icebox(tmpDir("pevo-compact"))
    t.append((1 to 40).map(i => (i.toLong, s"g${i % 4}")).toDF("id", "grp"))
    t.setPartitionSpec(Seq("grp"))
    t.append((41 to 80).map(i => (i.toLong, s"g${i % 4}")).toDF("id", "grp"))
    t.compact(spark)
    val files = t.currentSnapshot.get.files
    files.map(_.partition.keys.toSet).distinct.size shouldBe 1 // one layout again
    files.forall(_.partition.keySet == Set("grp")) shouldBe true
    t.read(spark).count() shouldBe 80L
    t.read(spark).filter($"grp" === "g2").count() shouldBe 20L
  }

  test("evolution to unpartitioned and DML across generations") {
    import graft.sql.{DmlSql, MergeSql}
    Seq("copy-on-write", "merge-on-read").foreach { mode =>
      val t = Icebox(tmpDir("pevo-dml"))
      t.append((1 to 30).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"), Seq("grp"))
      t.setPartitionSpec(Nil)
      t.append((31 to 40).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"))
      t.setProperties(Map("write.delete.mode" -> mode))
      t.read(spark).count() shouldBe 40L
      MergeSql.register("pevo_dml", t)
      // a predicate on the old partition column: the partitioned generation
      // prunes by partition value, the unpartitioned one by its data
      DmlSql.delete(spark, "DELETE FROM pevo_dml WHERE grp = 'g0'")
      t.read(spark).filter($"grp" === "g0").count() shouldBe 0L
      t.read(spark).count() shouldBe 27L
      // candidates in both generations (ids 1-5 partitioned, 36-40 not)
      DmlSql.delete(spark, "DELETE FROM pevo_dml WHERE id <= 5 OR id > 35")
      t.read(spark).count() shouldBe 20L
      t.read(spark).agg(min("id"), max("id")).as[(Long, Long)].head() shouldBe ((7L, 35L))
    }
  }

  test("merge-on-read UPDATE after evolving to unpartitioned writes the current layout") {
    import graft.sql.{DmlSql, MergeSql}
    val t = Icebox(tmpDir("pevo-mor-update"))
    t.append((1 to 30).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"), Seq("grp"))
    t.setPartitionSpec(Nil)
    t.append((31 to 40).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"))
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    MergeSql.register("pevo_mor_update", t)
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    DmlSql.update(spark, "UPDATE pevo_mor_update SET grp = 'gx' WHERE id IN (2, 35)")
    val added = t.currentSnapshot.get.files.filterNot(f => before(f.path))
    added should not be empty
    added.flatMap(_.partition.keys) shouldBe empty
    t.read(spark).filter($"grp" === "gx").select("id").as[Long].collect().sorted shouldBe
      Array(2L, 35L)
  }

  test("an append is checked against the current spec, not the first-listed file's layout") {
    val t = Icebox(tmpDir("pevo-append-check"))
    val df = (1 to 6).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "grp")
    t.append(df, Seq("grp"))
    t.setPartitionSpec(Nil)
    t.append(df)
    // the old generation's grp layout is listed first, but it is not the spec
    an[IllegalArgumentException] should be thrownBy t.append(df, Seq("grp"))
    t.read(spark).count() shouldBe 12L
  }

  test("write.distribution-mode=hash bounds files per partition") {
    val t = Icebox(tmpDir("pevo-dist"))
    val df = (1 to 4000).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "p")
      .repartition(8) // 8 tasks, each holding all 4 partition values
    t.append(df, Seq("p"))
    val naive = t.currentSnapshot.get.files.groupBy(_.partition).values.map(_.size).max
    naive should be > 1 // every task wrote a sliver into every partition
    val h = Icebox(tmpDir("pevo-dist-h"))
    h.setProperties(Map("write.distribution-mode" -> "hash"))
    h.append(df, Seq("p"))
    val hashed = h.currentSnapshot.get.files.groupBy(_.partition).values.map(_.size).max
    hashed shouldBe 1 // one file per partition
    h.read(spark).count() shouldBe 4000L
    an[Exception] should be thrownBy {
      h.setProperties(Map("write.distribution-mode" -> "bogus"))
      h.append(df, Seq("p"))
    }
  }

  test("write.sort.columns: sorted appends tighten per-file stats; compact() honors it") {
    val unsorted = Icebox(tmpDir("pevo-sort-no"))
    val df = (1 to 8000).map(i => ((i * 2654435761L) % 100000, i)).toDF("k", "v")
      .repartition(8)
    unsorted.append(df)
    val s = Icebox(tmpDir("pevo-sort-yes"))
    s.setProperties(Map("write.sort.columns" -> "k"))
    s.append(df.repartitionByRange(8, col("k"))) // distribute THEN in-task sort
    val lo = Some(0.0); val hi = Some(1000.0)
    val keptSorted = s.prunedFilesByStats("k", lo, hi).size
    val keptUnsorted = unsorted.prunedFilesByStats("k", lo, hi).size
    keptSorted should be < keptUnsorted // narrow ranges -> real skipping
    // compact() on a table with a declared sort order stays clustered:
    // bulk the table up so compaction yields multiple files, then check a
    // narrow range still skips most of them
    val bulk = (1 to 60000).map(i => ((i * 2654435761L) % 100000, i))
      .toDF("k", "v")
      .withColumn("pad", expr("repeat(md5(cast(v as string)), 8)")) // incompressible
      .repartition(8)
    s.append(bulk)
    s.compact(spark, targetFileMb = 1)
    val files = s.currentSnapshot.get.files.size
    files should be > 1
    s.prunedFilesByStats("k", lo, hi).size should be < files
    s.read(spark).count() shouldBe 68000L // 8000 sorted append + 60000 bulk
  }

  test("partition-scoped upsert into old-generation partitions duplicates nothing") {
    // the round-9 exact-filter fix, guarded on its own: files from a
    // generation NOT partitioned by the upsert column are kept
    // conservatively by manifest pruning, so without the exact filter
    // their out-of-partition rows would be re-merged AND carried over —
    // silent duplication on exactly the partitions the upsert touched
    val t = Icebox(tmpDir("pevo-upsert-mixed"))
    t.append((1 to 30).map(i => (i.toLong, s"d${i % 3}", i * 10)).toDF("id", "dt", "v"))
    t.setPartitionSpec(Seq("dt"))
    t.append((31 to 36).map(i => (i.toLong, s"d${i % 3}", i * 10)).toDF("id", "dt", "v"))
    // upsert touches ONLY dt=d0: updates one old-generation key, adds one
    val batch = Seq((3L, "d0", 999), (100L, "d0", 1000)).toDF("id", "dt", "v")
    operators.Upsert.intoTable(t, batch, Seq("id"))
    val back = t.read(spark)
    back.count() shouldBe 37L // 36 + 1 new, nothing duplicated
    back.groupBy("id").count().filter(col("count") > 1).count() shouldBe 0L
    back.filter(col("id") === 3L).select("v").as[Int].collect() shouldBe Array(999)
    // untouched partitions' rows intact
    back.filter(col("dt") =!= "d0").count() shouldBe 24L
  }

  test("time travel reads pre-evolution snapshots with their own layout") {
    val t = Icebox(tmpDir("pevo-tt"))
    t.append((1 to 20).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "grp"), Seq("grp"))
    val preId = t.currentSnapshotId
    t.setPartitionSpec(Nil)
    t.append((21 to 30).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "grp"))
    t.readSnapshotId(spark, preId).count() shouldBe 20L
    t.read(spark).count() shouldBe 30L
  }
}
