package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.cdc.{FileCdc, FileCheckpointStore}
import graft.table.Icebox

class FileCdcSpec extends SparkSpec {
  import spark.implicits._

  private def writePartFile(dir: String, dt: String, name: String, rows: Seq[(Long, String)]): String = {
    val pdir = Paths.get(dir, s"dt=$dt")
    Files.createDirectories(pdir)
    val tmp = tmpDir("fcdc")
    rows.toDF("id", "v").coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
    val dst = pdir.resolve(name)
    Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  test("extractPartition + groupByPartition mirror the reference path parsing") {
    FileCdc.extractPartition("/data/t/dt=2024-01-01/hour=10/f.orc", "dt") shouldBe Some("2024-01-01")
    FileCdc.extractPartition("/data/t/f.orc", "dt") shouldBe None
    FileCdc.groupByPartition(
      Seq("/t/dt=a/f1", "/t/dt=b/f2", "/t/f3"), "dt") shouldBe
      Map("a" -> Seq("/t/dt=a/f1"), "b" -> Seq("/t/dt=b/f2"), "default" -> Seq("/t/f3"))
  }

  test("checkpoint store round-trips the XCom-shaped record atomically") {
    val store = new FileCheckpointStore(tmpDir("ckpt") + "/cp.json")
    store.load() shouldBe None
    val cp = FileCdc.Checkpoint(123L, Seq("/a", "/b"), 2L,
      Map("2024-01-01" -> FileCdc.PartitionState(Seq("/a"), 120L)))
    store.save(cp)
    store.load() shouldBe Some(cp)
  }

  test("first cycle processes everything; unchanged second cycle is a no-op") {
    val src = tmpDir("cdc-src")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a"), (2L, "b")))
    writePartFile(src, "2024-01-02", "f2.parquet", Seq((3L, "c")))
    val table = Icebox(tmpDir("cdc-table"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp") + "/cp.json")

    val r1 = FileCdc.runCycle(spark, src, table, store)
    r1.changedFiles.size shouldBe 2
    r1.touchedPartitions shouldBe Seq("2024-01-01", "2024-01-02")
    table.read(spark).count() shouldBe 3

    val r2 = FileCdc.runCycle(spark, src, table, store)
    r2.changedFiles shouldBe empty
    table.read(spark).count() shouldBe 3
  }

  test("late data: a modified file re-detects ONLY its partition, which is reprocessed in full") {
    val src = tmpDir("cdc-src2")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a"), (2L, "b")))
    writePartFile(src, "2024-01-02", "f2.parquet", Seq((3L, "c")))
    val table = Icebox(tmpDir("cdc-table2"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp2") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store)
    Thread.sleep(20)

    // rewrite f1 with new content (same partition), add a late file to it
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a2"), (2L, "b2")))
    writePartFile(src, "2024-01-01", "f3.parquet", Seq((9L, "late")))
    val r = FileCdc.runCycle(spark, src, table, store)
    r.touchedPartitions shouldBe Seq("2024-01-01")   // 01-02 untouched
    val back = table.read(spark)
    back.count() shouldBe 4
    back.filter($"id" === 1L).select("v").as[String].collect() shouldBe Array("a2") // no dup rows
    back.filter($"dt" === "2024-01-02").count() shouldBe 1
  }

  test("size method detects a rewritten file of different size, ignores same state") {
    val src = tmpDir("cdc-src3")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    val table = Icebox(tmpDir("cdc-table3"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp3") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store, method = "size")
    FileCdc.runCycle(spark, src, table, store, method = "size").changedFiles shouldBe empty
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a-much-longer-value-now"), (5L, "x")))
    val r = FileCdc.runCycle(spark, src, table, store, method = "size")
    r.changedFiles.size shouldBe 1
    table.read(spark).count() shouldBe 2
  }

  test("size method: multi-cycle disjoint changes never re-detect earlier files (partitioned)") {
    val src = tmpDir("cdc-src5")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    val table = Icebox(tmpDir("cdc-table5"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp5") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store, method = "size")
    // cycle 2 touches the same partition with a late file only
    writePartFile(src, "2024-01-01", "f2.parquet", Seq((2L, "late")))
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles.size shouldBe 1
    // cycle 3 must be a no-op: f1 was NOT changed in cycle 2, but the
    // reprocessed partition must still remember it (replace-not-merge
    // folding re-detected it forever)
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles shouldBe empty
    table.read(spark).count() shouldBe 2
    store.load().get.totalFilesProcessed shouldBe 2L // accumulated, not reset
  }

  test("size method: multi-cycle disjoint changes never re-append earlier files (unpartitioned)") {
    val src = tmpDir("cdc-src6")
    def writeFlat(name: String, rows: Seq[(Long, String)]): Unit = {
      val f = writePartFile(src, "tmp", name, rows)
      Files.move(Paths.get(f), Paths.get(src, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFlat("f1.parquet", Seq((1L, "a")))
    Files.walk(Paths.get(src, "dt=tmp")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    val table = Icebox(tmpDir("cdc-table6"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp6") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store, method = "size")
    table.read(spark).count() shouldBe 1
    writeFlat("f2.parquet", Seq((2L, "b")))
    Files.walk(Paths.get(src, "dt=tmp")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles.size shouldBe 1
    // f1 must not be appended again (silent row duplication pre-fix)
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles shouldBe empty
    table.read(spark).count() shouldBe 2
  }

  test("rowsWritten counts the source rows, not the rows a mixed-generation overwrite carries") {
    // an unpartitioned old generation holding a month the source lacks
    val archive = tmpDir("cdc-archive")
    writePartFile(archive, "2023-12-31", "f0.parquet", Seq((7L, "old")))
    val table = Icebox(tmpDir("cdc-table7"))
    table.append(spark.read.parquet(archive))
    table.setPartitionSpec(Seq("dt"))
    val src = tmpDir("cdc-src7")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a"), (2L, "b")))
    val r = FileCdc.runCycle(spark, src, table, new FileCheckpointStore(tmpDir("cdc-cp7") + "/cp.json"))
    // the commit rewrites the carried archive row beside the two source rows
    r.rowsWritten shouldBe 2L
    table.currentSnapshot.get.files.map(_.rows).sum shouldBe 3L
    table.read(spark).count() shouldBe 3L
  }

  test("file utils: exists / stat / read bytes (S6-S8)") {
    val src = tmpDir("cdc-src4")
    val f = writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    FileCdc.fileExists(f) shouldBe true
    FileCdc.fileExists(f + ".nope") shouldBe false
    val info = FileCdc.fileInfo(f)
    info.sizeBytes should be > 0L
    FileCdc.readFileBytes(f).length.toLong shouldBe info.sizeBytes
    FileCdc.listFiles(src).map(_.path) should contain(f)
  }
}
