package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Upsert
import graft.sql.MergeSql
import graft.table.{DataFile, Icebox}

/** Copy-on-write upsert and MERGE rewrite only their candidate files — the
  * files whose manifest stats or blooms admit a batch key
  * ([[Icebox.splitByKeys]]) — through [[Icebox.rewriteFiles]]; every other
  * file keeps its path.
  */
class CopyOnWriteRewriteSpec extends SparkSpec {
  import spark.implicits._

  // one task per append: one file per key range
  private def rows(ids: Seq[Int], tag: String): DataFrame =
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "s").coalesce(1)

  /** Four files, file `i` holding ids `i*100 + 1 .. i*100 + 10`. */
  private def clustered(name: String): (Icebox, Seq[DataFile]) = {
    val t = Icebox(tmpDir(name))
    (0 until 4).foreach(i => t.append(rows(i * 100 + 1 to i * 100 + 10, "a")))
    val files = t.currentSnapshot.get.files
    files.size shouldBe 4
    (t, files)
  }

  private def admitting(files: Seq[DataFile], id: Long): Seq[DataFile] =
    files.filter { f => val (lo, hi) = f.stats("id"); lo.toLong <= id && id <= hi.toLong }

  private def paths(t: Icebox): Set[String] = t.currentSnapshot.get.files.map(_.path).toSet

  test("a one-key upsert rewrites only the files whose stats admit the key") {
    val (t, before) = clustered("cow-upsert-keys")
    val hit = admitting(before, 205L)
    hit.size shouldBe 1
    Upsert.intoTable(t, Seq((205L, "u205")).toDF("id", "s"), Seq("id"))
    val after = paths(t)
    before.map(_.path).filterNot(after) shouldBe Seq(hit.head.path)
    val back = t.read(spark)
    back.count() shouldBe 40L
    back.filter($"id" === 205L).select("s").as[String].collect() shouldBe Array("u205")
    t.currentSnapshot.get.operation shouldBe "upsert"
  }

  test("an equi-ON copy-on-write MERGE rewrites only the files that may hold a source key") {
    val (t, before) = clustered("cow-merge-keys")
    MergeSql.register("cow_merge_keys", t)
    // 203 updates a row, 250 inserts one: the key range [203, 250] admits file 2 only
    Seq((203L, "m203"), (250L, "m250")).toDF("id", "s").createOrReplaceTempView("cow_merge_src")
    val hit = before.filter { f => val (lo, hi) = f.stats("id"); lo.toLong <= 250 && hi.toLong >= 203 }
    hit.size shouldBe 1
    MergeSql.merge(spark,
      """MERGE INTO cow_merge_keys t USING cow_merge_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = paths(t)
    before.map(_.path).filterNot(after) shouldBe Seq(hit.head.path)
    val back = t.read(spark)
    back.count() shouldBe 41L
    back.filter($"id".isin(203L, 250L)).select("s").as[String].collect().sorted shouldBe
      Array("m203", "m250")

    // an ON clause that is not a key equality makes every file a candidate
    MergeSql.merge(spark,
      """MERGE INTO cow_merge_keys t USING cow_merge_src s ON t.id = s.id AND t.s <> 'x'
        |WHEN MATCHED THEN UPDATE SET s = 'n'""".stripMargin)
    paths(t).intersect(after) shouldBe empty
    t.read(spark).filter($"s" === "n").count() shouldBe 2L
  }

  test("a local key batch is split with no Spark job") {
    val (t, before) = clustered("cow-split-local")
    val snap = t.currentSnapshot.get
    var split: (Seq[DataFile], Seq[DataFile]) = null
    jobsOf { split = t.splitByKeys(Seq(105L, 107L).toDF("id"), snap) } shouldBe 0
    split._1 shouldBe admitting(before, 105L)
    split._2.size shouldBe 3
    // INT keys are cast to the stored BIGINT on the driver too
    jobsOf { split = t.splitByKeys(Seq(105, 107).toDF("id"), snap) } shouldBe 0
    split._1 shouldBe admitting(before, 105L)
  }

  /** The clustered table with a bloom on its BIGINT key. */
  private def bloomed(name: String): Icebox = {
    val t = Icebox(tmpDir(name))
    t.setProperties(Map("manifest.bloom.columns" -> "id"))
    (0 until 4).foreach(i => t.append(rows(i * 100 + 1 to i * 100 + 10, "a")))
    t
  }

  // blooms hash the stored BIGINT and min/max are numeric: an INT or a
  // STRING key must be compared as the stored type, or the file holding it
  // is wrongly proven disjoint and the key ends up twice
  test("an INT- or STRING-keyed upsert into a bloom-indexed BIGINT table replaces the row") {
    val t = bloomed("cow-upsert-int-key")
    Upsert.intoTable(t, Seq((205, "i205")).toDF("id", "s"), Seq("id"))
    // "9" sorts after file 0's max "10" in UTF8 order
    Upsert.intoTable(t, Seq(("9", "s9"), ("307", "s307")).toDF("id", "s"), Seq("id"))
    val back = t.read(spark)
    back.count() shouldBe 40L
    back.groupBy("id").count().filter($"count" > 1).count() shouldBe 0L
    back.filter($"id".isin(205L, 9L, 307L)).select("s").as[String].collect().sorted shouldBe
      Array("i205", "s307", "s9")
  }

  test("a merge-on-read upsert of an INT batch into a BIGINT table stays readable") {
    val (t, _) = clustered("mor-upsert-int-key")
    t.setProperties(Map("write.upsert.mode" -> "merge-on-read"))
    Upsert.intoTable(t, Seq((205, "i205")).toDF("id", "s"), Seq("id"))
    val back = t.read(spark)
    back.schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
    back.count() shouldBe 40L
    back.filter($"id" === 205L).select("s").as[String].collect() shouldBe Array("i205")
    // a type that does not widen losslessly to the stored one is refused
    an[IllegalArgumentException] should be thrownBy
      Upsert.intoTable(t, Seq((205.5, "d")).toDF("id", "s"), Seq("id"))
  }

  test("cherry-picking a copy-on-write upsert replaces the files it rewrote") {
    val t = Icebox(tmpDir("cow-cherrypick"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1))
    Upsert.intoTable(t, Seq((2L, "b2")).toDF("id", "s"), Seq("id"))
    val upsert = t.currentSnapshot.get
    t.rollbackTo(0L)
    t.cherrypick(upsert.id)
    t.read(spark).as[(Long, String)].collect().sorted shouldBe
      Array((1L, "a"), (2L, "b2"), (3L, "c"))
    // the files it replaced are gone from the head: refused, not duplicated
    an[IllegalArgumentException] should be thrownBy t.cherrypick(upsert.id)
  }

  test("a MERGE with an INT source key into a bloom-indexed BIGINT table replaces the row") {
    val t = bloomed("cow-merge-int-key")
    MergeSql.register("cow_merge_int_key", t)
    MergeSql.merge(spark,
      """MERGE INTO cow_merge_int_key t USING (SELECT 205 AS id, 'm205' AS s) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val back = t.read(spark)
    back.count() shouldBe 40L
    back.filter($"id" === 205L).select("s").as[String].collect() shouldBe Array("m205")
  }

  test("a widened key column's older blooms prune nothing") {
    val t = Icebox(tmpDir("cow-upsert-widened"))
    t.setProperties(Map("manifest.bloom.columns" -> "id"))
    (0 until 2).foreach(i => t.append((i * 100 + 1 to i * 100 + 10)
      .map(j => (j, s"a$j")).toDF("id", "s").coalesce(1)))
    t.widenColumn("id", org.apache.spark.sql.types.LongType)
    Upsert.intoTable(t, Seq((105L, "w105")).toDF("id", "s"), Seq("id"))
    val back = t.read(spark)
    back.count() shouldBe 20L
    back.filter($"id" === 105L).select("s").as[String].collect() shouldBe Array("w105")
  }

  test("upserting a key whose partition changed leaves exactly one row for it") {
    val t = Icebox(tmpDir("cow-upsert-moved"))
    t.append(Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2")).toDF("id", "s", "dt"),
      partitionBy = Seq("dt"))
    Upsert.intoTable(t, Seq((1L, "a2", "d2")).toDF("id", "s", "dt"), Seq("id"))
    val back = t.read(spark)
    back.filter($"id" === 1L).select("s", "dt").as[(String, String)].collect() shouldBe
      Array(("a2", "d2"))
    back.count() shouldBe 3L
    t.partitionColumns shouldBe Seq("dt")
  }
}
