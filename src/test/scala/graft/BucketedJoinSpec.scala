package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.table.Icebox

/** Shuffle-free bucketed joins: a `bucket(n, col)` table stamps each data
  * file's bucket id into the file name at commit, and the manifest-backed
  * read declares a V1 `BucketSpec` — so joins and aggregations keyed on the
  * bucket column plan with no Exchange on the bucketed side(s).
  */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.size

  private def bucketedScans(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec if s.bucketedScan => s
    }.size

  private def noAqe[A](body: => A): A = {
    // AQE re-plans exchanges lazily; disable for deterministic plan asserts
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    try body finally spark.conf.set(k, prev)
  }

  test("data files carry Spark's bucket-id suffix after a transformed append") {
    val t = Icebox(tmpDir("bj-stamp"))
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "s")
    t.appendTransformed(df.repartition(4), "bucket(8, id)")
    val files = t.currentSnapshot.get.files
    files should not be empty
    files.foreach { f =>
      val name = new org.apache.hadoop.fs.Path(f.path).getName
      val dirId = f.partition("id_bucket").toInt
      Icebox.bucketIdFromName(name) shouldBe Some(dirId)
    }
  }

  test("co-bucketed join: zero shuffles, same result as the plain join") {
    noAqe {
      val a = Icebox(tmpDir("bj-a"))
      val b = Icebox(tmpDir("bj-b"))
      val left = (1L to 500L).map(i => (i, i * 2)).toDF("id", "x")
      val right = (200L to 700L).map(i => (i, s"n$i")).toDF("id", "name")
      a.appendTransformed(left.repartition(3), "bucket(8, id)")
      b.appendTransformed(right.repartition(3), "bucket(8, id)")
      // force a sort-merge join — at test sizes Spark would broadcast,
      // which hides the exchange question entirely
      val joined = a.readIndexed(spark)
        .join(b.readIndexed(spark).hint("shuffle_merge"), "id")
      bucketedScans(joined) shouldBe 2
      shuffles(joined) shouldBe 0
      assertSameRows(joined, left.join(right, "id"))
    }
  }

  test("bucketed groupBy aggregates without an exchange") {
    noAqe {
      val t = Icebox(tmpDir("bj-agg"))
      val df = (1L to 300L).map(i => (i % 50, i)).toDF("k", "v")
      t.appendTransformed(df.repartition(3), "bucket(4, k)")
      val agg = t.readIndexed(spark).groupBy("k").agg(sum("v").as("sv"))
      shuffles(agg) shouldBe 0
      assertSameRows(agg, df.groupBy("k").agg(sum("v").as("sv")))
    }
  }

  test("one bucketed side: only the other side shuffles") {
    noAqe {
      val a = Icebox(tmpDir("bj-one"))
      val left = (1L to 500L).map(i => (i, i * 3)).toDF("id", "x")
      a.appendTransformed(left.repartition(3), "bucket(8, id)")
      val right = (100L to 600L).map(i => (i, s"p$i")).toDF("id", "p")
      val p = Icebox(tmpDir("bj-plain"))
      p.append(right)
      val joined = a.readIndexed(spark)
        .join(p.readIndexed(spark).hint("shuffle_merge"), "id")
      shuffles(joined) shouldBe 1
      assertSameRows(joined, left.join(right, "id"))
    }
  }

  test("read.bucketed.enabled=false and unstamped tables fall back cleanly") {
    noAqe {
      val t = Icebox(tmpDir("bj-off"))
      val df = (1L to 200L).map(i => (i, i)).toDF("id", "v")
      t.appendTransformed(df.repartition(2), "bucket(4, id)")
      t.setProperties(Map("read.bucketed.enabled" -> "false"))
      bucketedScans(t.readIndexed(spark).groupBy("id").count()) shouldBe 0

      // a legacy table holding a file that was written unstamped reads fine
      val dir = tmpDir("bj-unstamped")
      Icebox(dir).appendTransformed(df.repartition(2), "bucket(4, id)")
      val stamped = Paths.get(Icebox(dir).currentSnapshot.get.files.head.path)
      val unstamped = stamped.resolveSibling(
        stamped.getFileName.toString.replaceFirst("_\\d{5}(?=\\.)", ""))
      Files.move(stamped, unstamped)
      val manifest = Paths.get(dir, "_snapshots", "0.json")
      Files.writeString(manifest,
        Files.readString(manifest).replace(stamped.toString, unstamped.toString))
      val u = Icebox(dir)
      u.currentSnapshot.get.files.map(f => Icebox.bucketIdFromName(
        new org.apache.hadoop.fs.Path(f.path).getName)) should contain(None)
      bucketedScans(u.readIndexed(spark).groupBy("id").count()) shouldBe 0
      assertSameRows(u.readIndexed(spark), df)
    }
  }

  test("a bucketed append names every file stamped at creation, with no rename") {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    spark.sparkContext.hadoopConfiguration.set(
      graft.table.TableStore.AtomicSchemesKey, "mockfs,faultfs")
    val t = Icebox("faultfs://" + tmpDir("bj-trace"))
    val df = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "s")
    t.appendTransformed(df.repartition(4), "bucket(8, id)")
    FaultFs.reset()
    t.appendTransformed(df.repartition(4), "bucket(8, id)")
    val trace = FaultFs.trace
    FaultFs.reset()
    val added = t.currentSnapshot.get.files.filterNot(f =>
      t.snapshot(t.currentSnapshot.get.parentId).files.contains(f))
    added.foreach { f =>
      Icebox.bucketIdFromName(new org.apache.hadoop.fs.Path(f.path).getName) shouldBe
        Some(f.partition("id_bucket").toInt)
    }
    val data = trace.filter(_.contains("/data/"))
    data.map(_.takeWhile(_ != ' ')).distinct shouldBe Seq("create")
    data.size shouldBe added.size
    trace.filter(_.startsWith("rename")).foreach(_ should not include "/data/")
  }

  test("bucketed reads survive merge-on-read deletes and compaction re-stamps") {
    noAqe {
      val t = Icebox(tmpDir("bj-mor"))
      val df = (1L to 400L).map(i => (i, i * 5)).toDF("id", "v")
      t.appendTransformed(df.repartition(3), "bucket(8, id)")
      t.deleteByKeys(Seq(7L, 13L, 21L).toDF("id"))
      // still bucketed — MoR deletes ride delete files, data files keep names
      val read = t.readIndexed(spark)
      assertSameRows(read, df.filter(!col("id").isin(7L, 13L, 21L)))
      bucketedScans(read.groupBy("id").count()) shouldBe 1
      // compaction rewrites but re-derives + re-stamps buckets
      t.compact(spark)
      t.currentSnapshot.get.files.foreach { f =>
        Icebox.bucketIdFromName(new org.apache.hadoop.fs.Path(f.path).getName) shouldBe
          Some(f.partition("id_bucket").toInt)
      }
      val joined = t.readIndexed(spark)
        .join(t.readIndexed(spark).hint("shuffle_merge"), "id")
      shuffles(joined) shouldBe 0
      assertSameRows(t.readIndexed(spark), df.filter(!col("id").isin(7L, 13L, 21L)))
    }
  }

  test("sorted buckets: after compaction to one file per bucket, the merge join drops its sorts") {
    noAqe {
      def mk(prefix: String, payload: String): Icebox = {
        val t = Icebox(tmpDir(prefix))
        t.setProperties(Map("write.sort.columns" -> "id"))
        t.appendTransformed((1L to 400L).map(i => (i, i * 2)).toDF("id", payload)
          .repartition(3), "bucket(4, id)")
        t.appendTransformed((401L to 800L).map(i => (i, i * 2)).toDF("id", payload)
          .repartition(3), "bucket(4, id)")
        t.compact(spark) // one sorted file per bucket
        val perBucket = t.currentSnapshot.get.files.groupBy(_.partition("id_bucket"))
        perBucket.values.foreach(fs => fs should have size 1)
        t
      }
      val a = mk("bjs-a", "v")
      val b = mk("bjs-b", "w")
      val ordKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      val prev = spark.conf.get(ordKey, "false")
      spark.conf.set(ordKey, "true")
      try {
        val j = a.readIndexed(spark)
          .join(b.readIndexed(spark).hint("shuffle_merge"), "id")
        shuffles(j) shouldBe 0
        val sorts = j.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        sorts shouldBe empty
        assertSameRows(j,
          (1L to 800L).map(i => (i, i * 2, i * 2)).toDF("id", "v", "w"))
      } finally spark.conf.set(ordKey, prev)
    }
  }

  test("widening a transform-source column is refused") {
    val t = Icebox(tmpDir("bj-widen"))
    val df = (1 to 100).map(i => (i, i)).toDF("id", "v")
    t.appendTransformed(df.repartition(2), "bucket(4, id)")
    val e = intercept[IllegalArgumentException] {
      t.widenColumn("id", org.apache.spark.sql.types.LongType)
    }
    e.getMessage should include("hidden")
    // non-source columns still widen fine
    t.widenColumn("v", org.apache.spark.sql.types.DoubleType)
  }
}
