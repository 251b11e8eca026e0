package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Except
import org.apache.spark.sql.functions._
import graft.sql.{DmlSql, MergeSql}
import graft.table.Icebox

/** [[Icebox.changeDiff]]'s same-path entry decomposition: the common CDC
  * shapes must avoid the multiset net-out (exceptAll) entirely —
  *  - pure append: added rows ARE the inserts, no Except node, only added
  *    files read;
  *  - merge-on-read delete attach: newly-deleted rows computed by flag
  *    joins against only the new delete files, no Except node;
  *  - metadata-only manifest change (ANALYZE sketches): empty diff with
  *    ZERO file I/O;
  * while mixed ranges keep the exact net semantics (a row appended and an
  * identical row deleted in the same range cancel) and compaction still
  * produces an empty diff.
  */
class ChangeDiffSpec extends SparkSpec {
  import spark.implicits._

  private def exceptNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case e: Except => e }.size

  private def fresh(prefix: String, n: Int = 80): (Icebox, String) = {
    val t = Icebox(tmpDir(prefix))
    val df = (1 to n).map(i => (i.toLong, i % 8, s"v$i")).toDF("id", "bucket", "s")
    t.append(df.repartitionByRange(4, col("id")), collectStats = Seq("id"))
    val name = prefix.replace("-", "_")
    MergeSql.register(name, t)
    (t, name)
  }

  test("pure-append range: inserts pass through with no exceptAll, reading only added files") {
    val (t, _) = fresh("cdiff-append")
    val from = t.currentSnapshotId
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.append(Seq((100L, 0, "v100"), (101L, 1, "v101")).toDF("id", "bucket", "s"))
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    exceptNodes(diff) shouldBe 0
    val rows = diff.collect()
    rows.map(_.getAs[String]("_change_type")).toSet shouldBe Set("insert")
    rows.map(_.getAs[Long]("id")).sorted shouldBe Array(100L, 101L)
    // none of the pre-existing data files feed the diff
    diff.inputFiles.count(f => before.exists(f.endsWith)) shouldBe 0
  }

  test("metadata-only manifest change (ANALYZE): empty diff with zero file I/O") {
    val (t, _) = fresh("cdiff-meta")
    val from = t.currentSnapshotId
    t.analyze(spark, Seq("id")) // attaches NDV sketches: entries change, content doesn't
    assert(t.currentSnapshotId != from, "analyze must commit a new snapshot")
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    diff.count() shouldBe 0L
    diff.inputFiles.length shouldBe 0
    exceptNodes(diff) shouldBe 0
  }

  test("merge-on-read position-delete attach: deletes only, no exceptAll") {
    val (t, name) = fresh("cdiff-pos")
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val from = t.currentSnapshotId
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id IN (11, 12, 63)")
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    exceptNodes(diff) shouldBe 0
    val rows = diff.collect()
    rows.map(_.getAs[String]("_change_type")).toSet shouldBe Set("delete")
    rows.map(_.getAs[Long]("id")).sorted shouldBe Array(11L, 12L, 63L)
  }

  test("equality-delete attach: deletes only, no exceptAll, stacked dirs stay exact") {
    val (t, _) = fresh("cdiff-eq")
    val from = t.currentSnapshotId
    t.deleteByKeys(Seq(5L, 6L).toDF("id"))
    t.deleteByKeys(Seq(6L, 7L).toDF("id")) // overlap: row 6 must not double-report
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    exceptNodes(diff) shouldBe 0
    val rows = diff.collect()
    rows.map(_.getAs[String]("_change_type")).toSet shouldBe Set("delete")
    rows.map(_.getAs[Long]("id")).sorted shouldBe Array(5L, 6L, 7L)
  }

  test("mid-range diff: only the SECOND delete's rows when cursor sits between them") {
    val (t, _) = fresh("cdiff-mid")
    t.deleteByKeys(Seq(5L).toDF("id"))
    val from = t.currentSnapshotId
    t.deleteByKeys(Seq(5L, 9L).toDF("id")) // 5 already dead at `from`
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    diff.collect().map(_.getAs[Long]("id")) shouldBe Array(9L)
  }

  test("mixed range keeps net semantics: appended row identical to a deleted row cancels") {
    val (t, _) = fresh("cdiff-net")
    val from = t.currentSnapshotId
    t.deleteByKeys(Seq(5L).toDF("id"))
    // re-append a row identical to the deleted one: net change is zero
    t.append(Seq((5L, 5, "v5")).toDF("id", "bucket", "s"))
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    diff.count() shouldBe 0L
  }

  test("compaction still yields an empty diff (net-out fallback engaged)") {
    val (t, _) = fresh("cdiff-compact")
    val from = t.currentSnapshotId
    t.compact(spark, targetFileMb = 64)
    assert(t.currentSnapshot.get.files.map(_.path).toSet !=
      t.snapshot(from).files.map(_.path).toSet, "compaction must rewrite paths")
    t.changeDiff(spark, from, t.currentSnapshotId).count() shouldBe 0L
  }
}
