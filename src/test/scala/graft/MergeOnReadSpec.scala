package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sql.{DmlSql, MergeSql}
import graft.table.Icebox

/** Position-delete merge-on-read DML (Iceberg v2 analog): small DELETEs and
  * UPDATEs write a `(file_path, pos)` delete file instead of rewriting data
  * files; readers anti-join the positions away; compaction materializes.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, n: Int = 80): (Icebox, String) = {
    val t = Icebox(tmpDir(prefix))
    val df = (1 to n).map(i => (i.toLong, i % 8, s"v$i")).toDF("id", "bucket", "s")
    t.append(df.repartitionByRange(8, col("id")), collectStats = Seq("id"))
    val name = prefix.replace("-", "_")
    MergeSql.register(name, t)
    (t, name)
  }

  test("merge-on-read DELETE rewrites NO data file and reads back correctly") {
    val (t, name) = freshTable("mor-del")
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val r = DmlSql.delete(spark, s"DELETE FROM $name WHERE id IN (3, 17, 42)")
    r.rewrittenFiles shouldBe 0
    val after = t.currentSnapshot.get.files
    after.map(_.path).toSet shouldBe before // identical data files
    after.count(_.deletes.nonEmpty) should be > 0
    t.read(spark).count() shouldBe 77L
    t.read(spark).filter($"id".isin(3L, 17L, 42L)).count() shouldBe 0L
    // indexed read path applies deletes too
    t.readIndexed(spark).count() shouldBe 77L
    // manifest COUNT(*) stays exact: per-file attached-position counts
    // (DataFile.deleteRows) subtract from the manifest rows
    t.rowCount shouldBe Some(77L)
  }

  test("repeated merge-on-read DELETEs stack delete files on one base file") {
    val (t, name) = freshTable("mor-stack")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 1")
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 2")
    val hit = t.currentSnapshot.get.files.filter(_.deletes.nonEmpty)
    hit.flatMap(_.deletes).distinct.size shouldBe 2
    t.read(spark).count() shouldBe 78L
    t.read(spark).agg(min("id")).as[Long].head() shouldBe 3L
  }

  test("building the read of a table with position deletes runs no Spark job") {
    val (t, name) = freshTable("mor-plan")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 1")
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 2")
    val fresh = Icebox(t.tableDir)
    jobsOf(fresh.read(spark)) shouldBe 0
    fresh.read(spark).count() shouldBe 78L
  }

  test("position-delete depth is bounded: over-threshold files rewrite copy-on-write") {
    val (t, name) = freshTable("mor-depth")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read",
      "write.merge-on-read.max-delete-files" -> "2"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 1")
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 2")
    val stacked = t.currentSnapshot.get.files.filter(_.deletes.nonEmpty).map(_.path).toSet
    stacked should not be empty
    // third sparse delete on the same file exceeds the bound -> that file
    // rewrites with all deletes applied; depth resets
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 3")
    val after = t.currentSnapshot.get.files
    after.map(_.path).toSet.intersect(stacked) shouldBe Set.empty
    after.map(_.deletes.size).max shouldBe 0
    t.read(spark).count() shouldBe 77L
    t.read(spark).agg(min("id")).as[Long].head() shouldBe 4L
    // merge-on-read UPDATE path honors the bound too
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    DmlSql.update(spark, s"UPDATE $name SET s = 'u' WHERE id = 10")
    DmlSql.update(spark, s"UPDATE $name SET s = 'v' WHERE id = 11")
    DmlSql.update(spark, s"UPDATE $name SET s = 'w' WHERE id = 12")
    t.currentSnapshot.get.files.map(_.deletes.size).max should be <= 2
    t.read(spark).filter($"s".isin("u", "v", "w")).count() shouldBe 3L
    t.read(spark).count() shouldBe 77L
  }

  test("merge-on-read UPDATE position-deletes old rows and appends new images atomically") {
    val (t, name) = freshTable("mor-upd")
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.setProperties(Map("write.update.mode" -> "merge-on-read"))
    val r = DmlSql.update(spark, s"UPDATE $name SET s = 'hit', bucket = bucket + 100 WHERE id <= 3")
    r.rewrittenFiles shouldBe 0
    val after = t.currentSnapshot.get.files
    before.subsetOf(after.map(_.path).toSet) shouldBe true // old files all kept
    after.map(_.path).toSet.size shouldBe before.size + 1  // plus appended images
    val out = t.read(spark)
    out.count() shouldBe 80L
    out.filter($"id" <= 3).select("s").as[String].collect().toSet shouldBe Set("hit")
    out.filter($"id" <= 3).agg(min("bucket")).as[Int].head() should be >= 100
    out.filter($"id" > 3 && $"s" === "hit").count() shouldBe 0L
    // schema stable under the cast-back
    out.schema("bucket").dataType.typeName shouldBe "integer"
  }

  test("auto mode: small delete goes merge-on-read, large delete falls back to copy-on-write") {
    val (t, name) = freshTable("mor-auto")
    t.setProperties(Map("write.delete.mode" -> "auto"))
    val small = DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 5") // 1/80 < 0.1
    small.rewrittenFiles shouldBe 0
    val large = DmlSql.delete(spark, s"DELETE FROM $name WHERE id > 10") // ~87% > 0.1
    large.rewrittenFiles should be > 0
    t.read(spark).select("id").as[Long].collect().sorted shouldBe
      (1L to 10L).filterNot(_ == 5L).toArray
  }

  test("merge-on-read DELETE with a subquery predicate") {
    val (t, name) = freshTable("mor-subq")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    Seq(7L, 9L).toDF("id").createOrReplaceTempView("mor_subq_src")
    val r = DmlSql.delete(spark,
      s"DELETE FROM $name WHERE id IN (SELECT id FROM mor_subq_src)")
    r.rewrittenFiles shouldBe 0
    t.read(spark).count() shouldBe 78L
    t.read(spark).filter($"id".isin(7L, 9L)).count() shouldBe 0L
  }

  test("an UPDATE after a DELETE never resurrects position-deleted rows") {
    val (t, name) = freshTable("mor-resurrect")
    t.setProperties(Map(
      "write.delete.mode" -> "merge-on-read", "write.update.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 2")
    // the matching predicate would ALSO match the deleted row's position
    DmlSql.update(spark, s"UPDATE $name SET s = 'hit' WHERE id <= 4")
    val out = t.read(spark)
    out.count() shouldBe 79L
    out.filter($"id" === 2).count() shouldBe 0L // still gone
    out.filter($"s" === "hit").select("id").as[Long].collect().sorted shouldBe
      Array(1L, 3L, 4L)
  }

  test("time travel to a pre-delete snapshot still sees every row") {
    val (t, name) = freshTable("mor-tt")
    val beforeId = t.currentSnapshotId
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id <= 4")
    t.read(spark).count() shouldBe 76L
    t.readSnapshotId(spark, beforeId).count() shouldBe 80L
  }

  test("compaction materializes position deletes and drops the delete refs") {
    val (t, name) = freshTable("mor-compact")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id IN (1, 80)")
    t.compact(spark, targetFileMb = 1)
    val files = t.currentSnapshot.get.files
    files.forall(_.deletes.isEmpty) shouldBe true
    t.read(spark).count() shouldBe 78L
    t.read(spark).filter($"id".isin(1L, 80L)).count() shouldBe 0L
    // counts exact again after materialization
    t.rowCount shouldBe Some(78L)
  }

  test("changeDiff reports a merge-on-read DELETE as delete rows, reading only hit files") {
    val (t, name) = freshTable("mor-cdf")
    val fromId = t.currentSnapshotId
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id IN (11, 12)")
    val diff = t.changeDiff(spark, fromId, t.currentSnapshotId)
    val rows = diff.collect()
    rows.length shouldBe 2
    rows.map(_.getAs[String]("_change_type")).toSet shouldBe Set("delete")
    rows.map(_.getAs[Long]("id")).sorted shouldBe Array(11L, 12L)
    diff.inputFiles.length should be < t.currentSnapshot.get.files.size * 2
  }

  test("expireSnapshots removes delete dirs no kept snapshot references") {
    val (t, name) = freshTable("mor-expire")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 1")
    val liveDelete = t.currentSnapshot.get.files.flatMap(_.deletes).head
    // compact: current state no longer references the delete file
    t.compact(spark, targetFileMb = 1)
    java.nio.file.Files.exists(java.nio.file.Paths.get(liveDelete)) shouldBe true
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    java.nio.file.Files.exists(java.nio.file.Paths.get(liveDelete)) shouldBe false
    t.read(spark).count() shouldBe 79L
  }

  test("merge-on-read DELETE matching nothing commits a no-op snapshot") {
    val (t, name) = freshTable("mor-noop")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val before = t.currentSnapshot.get.files
    val r = DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 999")
    r.rewrittenFiles shouldBe 0
    t.currentSnapshot.get.files shouldBe before
    t.read(spark).count() shouldBe 80L
  }

  test("a manifest naming a legacy delete dir still reads, and reclaim keeps the dir") {
    val (t, name) = freshTable("mor-legacy-dir")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id = 1")
    t.deleteByKeys(Seq(2L).toDF("id"))
    // the layout earlier versions wrote: the manifest names the delete's
    // dir, which holds its part file and Spark's _SUCCESS marker
    val files = t.currentSnapshot.get.files.flatMap(f => f.deletes ++ f.eqDeletes).distinct
    files should have size 2
    val dirs = files.map(f => Paths.get(f).getParent)
    dirs.foreach(d => Files.createFile(d.resolve("_SUCCESS")))
    Files.list(Paths.get(t.tableDir, "_snapshots")).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".json")).foreach { m =>
        Files.writeString(m, files.zip(dirs).foldLeft(Files.readString(m)) {
          case (json, (f, d)) => json.replace(f, d.toString)
        })
      }
    graft.plans.IceboxStats.invalidate(t.tableDir)
    val u = Icebox(t.tableDir)
    u.currentSnapshot.get.files.flatMap(f => f.deletes ++ f.eqDeletes).distinct.toSet shouldBe
      dirs.map(_.toString).toSet
    val expected = (3 to 80).map(_.toLong)
    u.read(spark).select("id").as[Long].collect().sorted shouldBe expected
    u.readIndexed(spark).select("id").as[Long].collect().sorted shouldBe expected
    Thread.sleep(2)
    u.removeOrphans(0L)
    dirs.foreach { d =>
      Files.exists(d.resolve("_SUCCESS")) shouldBe true
      Files.list(d).iterator.asScala.count(_.toString.endsWith(".parquet")) shouldBe 1
    }
    u.read(spark).count() shouldBe 78L
    // once no snapshot names them, the dirs go whole
    u.compact(spark, targetFileMb = 1)
    u.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    dirs.foreach(d => Files.exists(d) shouldBe false)
    u.read(spark).count() shouldBe 78L
  }
}
