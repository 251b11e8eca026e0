package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.plans.IceboxFileIndex
import graft.table.Icebox

/** Manifest-level bloom index (`manifest.bloom.columns`): planning-time
  * point-lookup file pruning on high-cardinality UNSORTED columns — the
  * case min/max stats cannot prune because every file's range spans the
  * whole key domain — plus bloom-pruned equality-delete attach lists and
  * side-file GC.
  */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Keys deliberately INTERLEAVED across commits (i, i+1000, i+2000 ...)
    * so every file's [min,max] spans nearly the whole domain and min/max
    * pruning is useless — only the bloom can tell the files apart.
    */
  private def mkTable(name: String): Icebox = {
    val t = Icebox(tmpDir(name))
    t.setProperties(Map("manifest.bloom.columns" -> "k", "manifest.bloom.fpp" -> "0.001"))
    // hash-scatter rows across 4 writers per commit: every file's [min,max]
    // then spans nearly the whole key domain
    def slice(off: Int) =
      (1 to 500).map(i => ((i * 7 + off).toLong, s"v$off-$i")).toDF("k", "v")
        .repartition(4, col("v"))
    t.append(slice(0))
    t.append(slice(1))
    t.append(slice(2))
    t.append(slice(3))
    t
  }

  test("commits record per-file bloom pointers; side files exist and round-trip") {
    val t = mkTable("bloom1")
    val files = t.currentSnapshot.get.files
    files should not be empty
    all(files.map(_.blooms.keySet)) shouldBe Set("k")
    // side files are content-addressed and loadable from a FRESH handle
    val t2 = Icebox(t.tableDir)
    files.foreach { f =>
      val bf = t2.loadBloom(f.blooms("k"))
      bf shouldBe defined
    }
  }

  test("point lookup prunes to the one holding file; min/max alone cannot") {
    val t = mkTable("bloom2")
    val snap = t.currentSnapshot.get
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      StructType(Nil))
    val k = AttributeReference("k", LongType)()

    // key 707 (=101*7+0) lives in exactly one row of one file; every
    // commit's key range spans it
    val hit = index.listFiles(Nil, Seq(EqualTo(k, Literal(707L))))
    val kept = hit.map(_.files.size).sum
    kept should be < snap.files.size
    // min/max is powerless here: every commit's range covers key 7
    val inRange = snap.files.count(_.stats.get("k").exists { case (mn, mx) =>
      mn.toLong <= 707L && mx.toLong >= 707L })
    kept should be < inRange

    // an ABSENT key prunes everything (no false negatives)
    val miss = index.listFiles(Nil, Seq(EqualTo(k, Literal(999999L))))
    miss.map(_.files.size).sum shouldBe 0

    // IN over literals prunes per-literal and unions
    val inHit = index.listFiles(Nil, Seq(In(k, Seq(Literal(7L), Literal(999999L)))))
    inHit.map(_.files.size).sum shouldBe kept
  }

  test("pruning never changes results: indexed point lookup equals plain read filter") {
    val t = mkTable("bloom3")
    val viaIndex = t.readIndexed(spark).filter($"k" === 7L)
    val plain = t.read(spark).filter($"k" === 7L)
    assertSameRows(viaIndex, plain)
    viaIndex.count() shouldBe 1L
  }

  test("equality-delete attach lists are bloom-pruned on unsorted keys") {
    val t = mkTable("bloom4")
    t.setProperties(Map("write.upsert.mode" -> "merge-on-read"))
    val total = t.currentSnapshot.get.files.size
    // delete one key that exists in exactly one commit's files — the range
    // check can't prune (interleaved keys), the bloom must
    t.deleteByKeys(Seq(7L).toDF("k"))
    val attached = t.currentSnapshot.get.files.count(_.eqDeletes.nonEmpty)
    attached should be >= 1
    attached should be < total
    // the delete is effective
    t.read(spark).filter($"k" === 7L).count() shouldBe 0L
    t.read(spark).count() shouldBe (2000L - 1L)
  }

  test("expiry GCs unreferenced bloom side files, keeps referenced ones") {
    val t = mkTable("bloom5")
    val before = t.currentSnapshot.get.files.flatMap(_.blooms.values).toSet
    // compaction rewrites every file -> fresh blooms; old ones become unreferenced
    t.compact(spark, targetFileMb = 512)
    val after = t.currentSnapshot.get.files.flatMap(_.blooms.values).toSet
    after should not be empty
    (after intersect before) shouldBe empty
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000L, retainLast = 1)
    val dir = new java.io.File(t.tableDir, "_snapshots/blooms")
    val onDisk = dir.listFiles().map(_.getName.stripSuffix(".bloom")).toSet
    // all live blooms survive; every expired commit's bloom is gone
    after.foreach(sha => onDisk should contain(sha))
    (onDisk intersect before) shouldBe empty
    // and the compacted table still answers point lookups through blooms
    val snap = t.currentSnapshot.get
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      StructType(Nil))
    val k = AttributeReference("k", LongType)()
    index.listFiles(Nil, Seq(EqualTo(k, Literal(999999L)))).map(_.files.size).sum shouldBe 0
  }

  test("string keys bloom and probe with identical hashing (UTF8String literal path)") {
    val t = Icebox(tmpDir("bloomstr"))
    t.setProperties(Map("manifest.bloom.columns" -> "sk", "manifest.bloom.fpp" -> "0.001"))
    def slice(off: Int) =
      (1 to 400).map(i => (s"key-${i * 3 + off}", i.toLong)).toDF("sk", "n")
        .repartition(4, col("n"))
    t.append(slice(0)); t.append(slice(1)); t.append(slice(2))
    val snap = t.currentSnapshot.get
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      StructType(Nil))
    val sk = AttributeReference("sk", StringType)()
    def kept(lit: Any) = index.listFiles(Nil, Seq(EqualTo(sk,
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(lit.toString),
        StringType)))).map(_.files.size).sum
    // present key -> strictly pruned, never zero; absent key -> exact zero
    val hit = kept("key-302")
    hit should be >= 1
    hit should be < snap.files.size
    kept("key-no-such") shouldBe 0
    // and the pruned read still returns the row
    t.readIndexed(spark).filter($"sk" === "key-302").count() shouldBe 1L
  }

  test("plan-time probe budget: exhausted budget admits conservatively, results unchanged") {
    // UNIQUE key domain: blooms are content-addressed, so reusing another
    // test's keys would find its filters already cached — and cache hits
    // legitimately bypass the budget
    val t = Icebox(tmpDir("bloombudget"))
    t.setProperties(Map(
      "manifest.bloom.columns" -> "k", "bloom.plan.max-probes" -> "0"))
    def slice(off: Int) =
      (1 to 500).map(i => (9000000L + i * 7 + off, s"b$off-$i")).toDF("k", "v")
        .repartition(4, col("v"))
    t.append(slice(0)); t.append(slice(1))
    val snap = t.currentSnapshot.get
    val index = new IceboxFileIndex(spark, t, snap.files, snap.schemaJson, Some(snap.id),
      StructType(Nil))
    val k = AttributeReference("k", LongType)()
    val probe = 9000000L + 101 * 7
    // zero budget + cold cache: nothing probed, every min/max-admitted
    // file kept — planning does NO side-file I/O, the filter still runs
    val inRange = snap.files.count(_.stats.get("k").exists { case (mn, mx) =>
      mn.toLong <= probe && mx.toLong >= probe })
    index.listFiles(Nil, Seq(EqualTo(k, Literal(probe))))
      .map(_.files.size).sum shouldBe inRange
    // results stay exact either way
    t.readIndexed(spark).filter($"k" === probe).count() shouldBe 1L
  }

  test("readForKeys scans only files that might hold the batch's keys; rows exact") {
    val t = mkTable("bloomrfk")
    val total = t.currentSnapshot.get.files.size
    // interleaved keys: min/max is useless, the bloom must prune
    val keys = Seq(707L, 1414L).toDF("k")
    val pruned = t.readForKeys(spark, keys)
    pruned.inputFiles.length should be < total
    // superset contract: every matching row present, join exact
    assertSameRows(
      pruned.join(keys, Seq("k")),
      t.read(spark).join(keys, Seq("k")))
    // MoR point-MERGE drives the pruned path end-to-end
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    t.registerView(spark, "bloomrfk_t")
    Seq((707L, "UPDATED")).toDF("k", "v").createOrReplaceTempView("bloomrfk_src")
    graft.sql.MergeSql.register("bloomrfk_t", t)
    graft.sql.MergeSql.merge(spark,
      """MERGE INTO bloomrfk_t t USING bloomrfk_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    t.read(spark).filter($"k" === 707L).select("v").head.getString(0) shouldBe "UPDATED"
    t.read(spark).count() shouldBe 2000L
  }

  test("bloom columns are sticky: later commits bloom without re-opting-in") {
    val t = Icebox(tmpDir("bloom6"))
    t.setProperties(Map("manifest.bloom.columns" -> "k"))
    t.append((1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    t.removeProperties(Seq("manifest.bloom.columns"))
    t.append((101 to 200).map(i => (i.toLong, s"b$i")).toDF("k", "v"))
    val files = t.currentSnapshot.get.files
    all(files.map(_.blooms.keySet)) shouldBe Set("k")
  }

  test("a bloom + sketch append of 40 files builds its side data in one pass, no listing") {
    val t = Icebox(tmpDir("bloom-side-pass"))
    t.setProperties(Map("manifest.bloom.columns" -> "k", "sketch.ndv.columns" -> "k"))
    // 40 tasks, 40 files: past the 32-path parallel-listing threshold
    val df = spark.range(0, 4000, 1, 40).select(col("id").as("k"), (col("id") % 7).as("v"))
    val jobs = jobNamesOf(t.append(df))
    info(jobs.mkString("\n"))
    jobs.foreach { j =>
      j should not include "Listing leaf files"
      j should not include "parquet at " // a schema-inferring DataFrameReader.parquet
    }
    // the write, then one aggregation (its shuffle stage and its result)
    jobs should have size 3
    val files = t.currentSnapshot.get.files
    files should have size 40
    files.foreach { f =>
      f.blooms.keySet shouldBe Set("k")
      f.sketches.keySet shouldBe Set("k")
    }
  }
}
