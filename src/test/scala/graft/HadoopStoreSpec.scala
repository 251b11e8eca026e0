package graft

import org.apache.spark.sql.functions._
import graft.table.Icebox

/** Icebox on a NON-local Hadoop FileSystem ([[MockFs]], scheme `mockfs://`):
  * the full table lifecycle — append, partitioned write, manifest pruning,
  * merge-on-read delete, schema + partition-spec evolution, time travel,
  * compaction, expiry, concurrency — runs with every storage call resolved
  * through the Hadoop FileSystem API (the round-9 port; the reference's
  * warehouse is MinIO/S3 behind the same API: utils/minio_manager.py:7-44).
  */
class HadoopStoreSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl", classOf[MockFs].getName)
    // MockFs implements a genuinely atomic create(overwrite=false) (O_EXCL
    // claim) — declare it so strict CAS mode treats the scheme as safe,
    // exactly as a real deployment with an atomic store would
    spark.sparkContext.hadoopConfiguration.set(
      graft.table.TableStore.AtomicSchemesKey, "mockfs")
  }

  private def mockDir(prefix: String): String = "mockfs://" + tmpDir(prefix)

  test("append/read/count round-trips on a mockfs:// table; manifests carry the scheme") {
    val t = Icebox(mockDir("hstore-basic"))
    t.append((1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    t.read(spark).count() shouldBe 50L
    t.rowCount shouldBe Some(50L)
    // manifest paths must be scheme-qualified so any reader resolves the
    // right FileSystem from the path alone
    val paths = t.currentSnapshot.get.files.map(_.path)
    paths should not be empty
    all(paths) should startWith("mockfs:")
    t.append((51 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    t.read(spark).count() shouldBe 60L
    t.readIndexed(spark).filter(col("id") <= 10).count() shouldBe 10L
  }

  test("bloom side files build (executor-side writes), probe, and GC on mockfs://") {
    val t = Icebox(mockDir("hstore-bloom"))
    t.setProperties(Map("manifest.bloom.columns" -> "id"))
    // unique key domain (content-addressed shas; see BloomIndexSpec note)
    def slice(off: Int) =
      (1 to 300).map(i => (7000000L + i * 5 + off, s"m$off-$i")).toDF("id", "s")
        .repartition(3, col("s"))
    t.append(slice(0)); t.append(slice(1))
    val files = t.currentSnapshot.get.files
    all(files.map(_.blooms.keySet)) shouldBe Set("id")
    // side files landed on the MOCK filesystem and load from a fresh handle
    val t2 = Icebox(t.tableDir)
    files.foreach(f => t2.loadBloom(f.blooms("id")) shouldBe defined)
    // point lookup prunes through the index on mockfs
    val snap = t.currentSnapshot.get
    val idx = new graft.plans.IceboxFileIndex(spark, t, snap.files, snap.schemaJson,
      Some(snap.id), org.apache.spark.sql.types.StructType(Nil))
    val k = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "id", org.apache.spark.sql.types.LongType)()
    idx.listFiles(Nil, Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(k,
      org.apache.spark.sql.catalyst.expressions.Literal(-5L)))) shouldBe empty
    t.readIndexed(spark).filter(col("id") === 7000005L).count() shouldBe 1L
  }

  test("partitioned writes, manifest pruning, and dynamic partition overwrite on mockfs://") {
    val t = Icebox(mockDir("hstore-part"))
    val df = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd")).toDF("id", "par")
    t.append(df, partitionBy = Seq("par"))
    t.prunedFiles("par", Set("even")).foreach(f => f.partition("par") shouldBe "even")
    t.readPartitions(spark, "par", Set("odd")).count() shouldBe 20L
    t.overwritePartitions(Seq((100L, "even")).toDF("id", "par"), Seq("par"))
    t.read(spark).count() shouldBe 21L // odd partition carried by reference
  }

  test("equality-delete merge-on-read and position-path reads work on mockfs://") {
    val t = Icebox(mockDir("hstore-mor"))
    t.append((1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    t.deleteByKeys(Seq(1L, 2L, 3L).toDF("id"))
    t.read(spark).count() shouldBe 27L
    // the delete file itself lives on the mockfs filesystem
    val eqDirs = t.currentSnapshot.get.files.flatMap(_.eqDeletes).distinct
    eqDirs should not be empty
    all(eqDirs) should startWith("mockfs:")
    // re-insert of a deleted key survives (sequence semantics)
    t.append(Seq((1L, "back")).toDF("id", "s"))
    t.read(spark).filter(col("id") === 1L).count() shouldBe 1L
  }

  test("schema + partition-spec evolution, time travel, compaction, expiry on mockfs://") {
    val t = Icebox(mockDir("hstore-evolve"))
    t.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "region", "v"))
    val v1 = t.currentSnapshotId
    t.renameColumn("region", "zone")
    t.setPartitionSpec(Seq("zone"))
    t.append(Seq((3L, "c", 30)).toDF("id", "zone", "v"))
    t.read(spark).count() shouldBe 3L
    t.read(spark).columns should contain("zone")
    t.readSnapshotId(spark, v1).columns should contain("region") // time travel keeps old names
    t.compact(spark) // migrates generations to the current spec
    t.read(spark).count() shouldBe 3L
    t.currentSnapshot.get.files.foreach(f => f.partition.keys should contain("region")) // physical name
    val expired = t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    expired should not be empty
    t.read(spark).count() shouldBe 3L
    t.removeOrphans(graceMs = -1000) // nothing live may be collected
    t.read(spark).count() shouldBe 3L
  }

  test("concurrent appends from separate handles lose no commits on mockfs://") {
    val dir = mockDir("hstore-conc")
    Icebox(dir).append(Seq((0L, "seed")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = (1 to 4).map { i =>
      val h = Icebox(dir)
      Future { (0 until 3).foreach(j => h.append(Seq((i * 10L + j, s"h$i-$j")).toDF("id", "v"))) }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    pool.shutdown()
    Icebox(dir).read(spark).count() shouldBe 13L // 1 seed + 12 concurrent appends
  }
}
