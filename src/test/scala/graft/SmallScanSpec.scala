package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.operators.Upsert
import graft.plans.IceboxFileIndex
import graft.sql.{DmlSql, MergeSql}
import graft.table.{EqualityDeletes, Icebox}

/** Small Icebox file subsets are read on the driver
  * ([[IceboxFileIndex.scan]]): every subset read gives the rows its file
  * scan gives, deletes and positions included, and a write fed by one lays
  * out the files the scan would have. The file scan is forced by setting
  * `spark.sql.files.maxPartitionBytes` to the open cost, which no file set
  * fits under.
  */
class SmallScanSpec extends SparkSpec {
  import spark.implicits._

  private def distributed[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, spark.sessionState.conf.filesOpenCostInBytes.toString)
    try body finally spark.conf.unset(key)
  }

  private def leaves(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()

  private def fileRelations(df: DataFrame): Int = leaves(df).count {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation => r.location.isInstanceOf[IceboxFileIndex]
      case _ => false
    }
    case _ => false
  }

  /** `read` (a subset read) on the driver and through the file scan: the
    * same rows; the first has no file relation, the second does.
    */
  private def sameBothWays(read: => DataFrame): Seq[String] = {
    val local = read
    fileRelations(local) shouldBe 0
    leaves(local).exists(_.isInstanceOf[LocalRelation]) shouldBe true
    val scanned = distributed(read)
    fileRelations(scanned) should be > 0
    val rows = canon(local)
    rows shouldBe canon(scanned)
    rows
  }

  private def files(t: Icebox) = t.currentSnapshot.get.files

  test("a column added after older files were written reads NULL from them") {
    val t = Icebox(tmpDir("small-evolve"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.addColumn("n", IntegerType)
    t.append(Seq((3L, "c", 7)).toDF("id", "s", "n"))
    sameBothWays(t.readDataFiles(spark, files(t))) shouldBe
      Seq("[1,null,a]", "[2,null,b]", "[3,7,c]")
  }

  test("date, decimal and NULL partition values, across two layout generations") {
    val t = Icebox(tmpDir("small-parts"))
    val rows = Seq((1L, Some("2024-01-31"), "1.10"), (2L, None, "2.25"), (3L, Some("2023-12-01"), "2.25"))
      .toDF("id", "d", "x").select($"id", $"d".cast("date").as("d"), $"x".cast("decimal(10,2)").as("x"))
    t.append(rows, Seq("d"))
    t.setPartitionSpec(Seq("x"))
    t.append(Seq((4L, "2024-02-02", "3.50"), (5L, null, "1.10")).toDF("id", "d", "x")
      .select($"id", $"d".cast("date").as("d"), $"x".cast("decimal(10,2)").as("x")), Seq("x"))
    val all = sameBothWays(t.readDataFiles(spark, files(t)))
    all should have size 5
    all should contain("[null,2,2.25]")
    all should contain("[null,5,1.10]")
    sameBothWays(t.readDataFiles(spark, files(t)).filter($"d" === lit("2024-01-31").cast("date"))) shouldBe
      Seq("[2024-01-31,1,1.10]")
  }

  /** Position and equality deletes, read and diffed both ways, under `dir`. */
  private def deletes(dir: String): Unit = {
    val t = Icebox(dir)
    t.append((1 to 40).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "p", "s").repartition(2), Seq("p"))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val name = "small_deletes_" + math.abs(dir.hashCode)
    MergeSql.register(name, t)
    val s0 = t.currentSnapshotId
    DmlSql.delete(spark, s"DELETE FROM $name WHERE id IN (3, 4, 21)")
    files(t).exists(_.deletes.nonEmpty) shouldBe true
    val s1 = t.currentSnapshotId
    t.deleteByKeys(Seq(5L, 6L, 22L).toDF("id"))
    files(t).exists(_.eqDeletes.nonEmpty) shouldBe true
    val s2 = t.currentSnapshotId
    sameBothWays(t.readDataFiles(spark, files(t))) should have size 34
    // the positions a merge-on-read DML reads render as the file scan's do
    sameBothWays(t.readDataFilesWithPos(spark, files(t), "fp", "pos")
      .select($"id", $"fp", $"pos")) should have size 34
    // delete growth pairs (growthDeleteRows and its Positions hook)
    sameBothWays(t.changeDiff(spark, s0, s1)) should have size 3
    canon(t.changeDiff(spark, s0, s1).select("id")) shouldBe Seq("[21]", "[3]", "[4]")
    canon(t.changeDiff(spark, s1, s2).select("id")) shouldBe Seq("[22]", "[5]", "[6]")
    sameBothWays(t.changeDiff(spark, s0, s2)) should have size 6
    // a later append's rows survive both deletes
    t.append(Seq((5L, 1, "again")).toDF("id", "p", "s"), Seq("p"))
    sameBothWays(t.readDataFiles(spark, files(t)).filter($"id" === 5L)) shouldBe Seq("[5,1,again]")
  }

  test("position and equality deletes apply alike on the driver") {
    deletes(tmpDir("small-deletes"))
  }

  test("a table dir with a space and a % renders file paths as the file scan does") {
    deletes(tmpDir("small dir 100%"))
  }

  test("a file with no recorded row count, or a set over the bound, keeps the file scan") {
    val t = Icebox(tmpDir("small-bound"))
    t.append(spark.range(0, 40, 1, 32).toDF("id"))
    val fs = files(t)
    fs should have size 32 // 32 × the 4 MB open cost is over 128 MB
    fileRelations(t.readDataFiles(spark, fs)) should be > 0
    fileRelations(t.readDataFiles(spark, fs.take(31))) shouldBe 0
    val snap = t.currentSnapshot.get
    fileRelations(IceboxFileIndex.scan(spark, t, fs.take(2).map(_.copy(rows = -1L)),
      snap.schemaJson)) should be > 0
    val big = Icebox(tmpDir("small-rows"))
    big.append(spark.range(0, EqualityDeletes.EqKeyCacheMaxRows + 1L, 1, 1).toDF("id"))
    fileRelations(big.readDataFiles(spark, files(big))) should be > 0
    // a snapshot read never goes to the driver
    fileRelations(t.read(spark)) should be > 0
  }

  test("a merge-on-read upsert's diff aggregates with no Spark job") {
    val t = Icebox(tmpDir("small-jobs"))
    t.append((1 to 200).map(i => (i.toLong, i % 4, i * 10L)).toDF("id", "p", "v"), Seq("p"))
    t.setProperties(Map("write.upsert.mode" -> "merge-on-read"))
    val s0 = t.currentSnapshotId
    Upsert.intoTable(t, Seq((5L, 1, 1L), (500L, 0, 2L)).toDF("id", "p", "v"), Seq("id"))
    val delta = t.changeDiff(spark, s0, t.currentSnapshotId)
      .groupBy("p", "_change_type").agg(sum("v").as("v"), count(lit(1)).as("n"))
    var held: Option[Seq[org.apache.spark.sql.Row]] = None
    jobsOf { held = EqualityDeletes.collectAtMost(delta) } shouldBe 0
    held.get.map(_.toString).sorted shouldBe Seq("[0,insert,2,1]", "[1,delete,50,1]", "[1,insert,1,1]")
  }

  test("a write fed by a driver read writes the files the file scan would") {
    def newFiles(distribute: Boolean)(op: Icebox => Unit): Seq[Long] = {
      val t = Icebox(tmpDir("small-write"))
      t.append((1 to 30).map(i => (i.toLong, s"a$i")).toDF("id", "s").repartition(3))
      val before = files(t).map(_.path).toSet
      if (distribute) distributed(op(t)) else op(t)
      files(t).filterNot(f => before(f.path)).map(_.rows).sorted
    }
    def same(op: Icebox => Unit): Unit = newFiles(distribute = false)(op) shouldBe newFiles(distribute = true)(op)
    same(t => Upsert.intoTable(t, Seq((2L, "u2"), (31L, "u31")).toDF("id", "s"), Seq("id")))
    same(t => Upsert.intoTable(t, (1 to 30 by 3).map(i => (i.toLong, s"u$i")).toDF("id", "s"),
      Seq("id")))
    same { t =>
      val name = "small_write_" + math.abs(t.tableDir.hashCode)
      MergeSql.register(name, t)
      DmlSql.delete(spark, s"DELETE FROM $name WHERE id <= 10")
    }
  }
}
