package graft

import org.apache.spark.sql.functions._
import graft.table.Icebox

/** Round-9 hardening: mixed-generation partition reads, branch-append
  * layout inheritance, rename/drop vs the evolved `partition.columns`
  * spec, and merge-on-read commit drift vs concurrent maintenance.
  */
class AdviceR9Spec extends SparkSpec {
  import spark.implicits._

  test("readPartitions on a mixed-generation table returns only requested partitions") {
    val t = Icebox(tmpDir("advice-mixed-gen"))
    // generation 0: unpartitioned — its files carry NO partition values and
    // are kept conservatively by manifest pruning
    t.append(Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)).toDF("id", "dt", "v"))
    t.setPartitionSpec(Seq("dt"))
    t.append(Seq((4L, "a", 40), (5L, "b", 50)).toDF("id", "dt", "v"))
    // rows outside dt=a live only in the old-generation file; without the
    // exact filter they leak into the result
    val got = t.readPartitions(spark, "dt", Set("a"))
    got.count() shouldBe 3L
    got.select("dt").distinct().collect().map(_.getString(0)).toSeq shouldBe Seq("a")
    // single-generation path unchanged: exact-keyed files only, no filter needed
    val t2 = Icebox(tmpDir("advice-single-gen"))
    t2.append(Seq((1L, "a"), (2L, "b")).toDF("id", "dt"), partitionBy = Seq("dt"))
    t2.readPartitions(spark, "dt", Set("b")).count() shouldBe 1L
  }

  test("appendToBranch inherits the partitioned layout like append does") {
    val t = Icebox(tmpDir("advice-branch-parts"))
    t.append(Seq((1L, "x"), (2L, "y")).toDF("id", "p"), partitionBy = Seq("p"))
    t.createBranch("wip")
    // round-8 behavior: this threw the append-layout require; now the
    // branch head's layout applies when the caller passes Nil
    t.appendToBranch("wip", Seq((3L, "x")).toDF("id", "p"))
    t.readRef(spark, "wip").count() shouldBe 3L
    t.read(spark).count() shouldBe 2L // main untouched
    // the branch commit landed in the partitioned layout
    t.branchSnapshot("wip").files.foreach(f => f.partition.keys should contain("p"))
  }

  test("renameColumn rewrites partition.columns; dropColumn rejects spec-named columns") {
    val t = Icebox(tmpDir("advice-rename-spec"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "region", "v"))
    t.setPartitionSpec(Seq("region"))
    t.append(Seq((3L, "c", 3.0)).toDF("id", "region", "v"))
    // dropping the spec-named column must fail BEFORE any metadata commit
    an[Exception] should be thrownBy t.dropColumn("region")
    t.renameColumn("region", "zone")
    t.properties("partition.columns") shouldBe "zone"
    // the next spec-driven append works against the renamed column
    t.append(Seq((4L, "d", 4.0)).toDF("id", "zone", "v"))
    t.read(spark).count() shouldBe 4L
    an[Exception] should be thrownBy t.dropColumn("zone")
  }

  test("expire.min-snapshot-age-ms shields a pinned reader from aggressive expiry") {
    val t = Icebox(tmpDir("advice-expire-grace"))
    t.append((1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    val s0 = t.currentSnapshotId
    t.overwrite((100 to 105).map(i => (i.toLong, s"w$i")).toDF("id", "s"))
    // a reader pinned to s0 BEFORE maintenance runs (plan built lazily —
    // the files must still exist when the action executes)
    val pinned = t.readSnapshotId(spark, s0)
    t.setProperties(Map("expire.min-snapshot-age-ms" -> "3600000"))
    // "expire everything" from a concurrent maintenance job
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000L,
      retainLast = 1) shouldBe empty
    pinned.count() shouldBe 40L // snapshot, manifest, and files all survived
    // dropping the guard restores the aggressive behavior
    t.removeProperties(Seq("expire.min-snapshot-age-ms"))
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000L,
      retainLast = 1) should not be empty
    t.read(spark).count() shouldBe 6L
  }

  test("merge-on-read deletes stay consistent under concurrent compaction (drift guard)") {
    val dir = tmpDir("advice-mor-drift")
    val t1 = Icebox(dir)
    t1.setProperties(Map("write.merge-on-read.max-delete-files" -> "2"))
    t1.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    val t2 = Icebox(dir) // separate handle: cross-handle commits can interleave
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // deleter: 12 single-key eq-deletes (depth cap 2 forces copy-on-write
    // rewrites whose captured state a concurrent compaction invalidates)
    val deleter = Future {
      (1 to 12).foreach(i => t1.deleteByKeys(Seq(i.toLong).toDF("id")))
    }
    val compactor = Future {
      (1 to 4).foreach { _ => t2.compact(spark, targetFileMb = 1); Thread.sleep(30) }
    }
    Await.result(Future.sequence(Seq(deleter, compactor)), 180.seconds)
    pool.shutdown()
    val survivors = Icebox(dir).read(spark)
    survivors.count() shouldBe 88L // no duplication, no lost deletes
    survivors.select("id").distinct().count() shouldBe 88L
    survivors.filter(col("id") <= 12).count() shouldBe 0L
  }

  test("copy-on-write SQL DELETE stays consistent under concurrent compaction") {
    val dir = tmpDir("advice-cow-drift")
    val t1 = Icebox(dir)
    t1.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    graft.sql.MergeSql.register("cow_drift", t1)
    val t2 = Icebox(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // each DELETE classifies candidate files against the head it read; a
    // compaction landing mid-statement must force a re-classification, not
    // a rewrite that resurrects rows or duplicates compacted ones
    val deleter = Future {
      (1 to 10).foreach(i =>
        graft.sql.DmlSql.delete(spark, s"DELETE FROM cow_drift WHERE id = $i"))
    }
    val compactor = Future {
      (1 to 4).foreach { _ => t2.compact(spark, targetFileMb = 1); Thread.sleep(40) }
    }
    Await.result(Future.sequence(Seq(deleter, compactor)), 180.seconds)
    pool.shutdown()
    val survivors = Icebox(dir).read(spark)
    survivors.count() shouldBe 90L
    survivors.select("id").distinct().count() shouldBe 90L
    survivors.filter(col("id") <= 10).count() shouldBe 0L
  }
}
