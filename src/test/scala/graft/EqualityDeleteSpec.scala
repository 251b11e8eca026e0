package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.Upsert
import graft.table.{EqualityDeletes, Icebox}

/** Equality-delete merge-on-read (Iceberg v2's second delete type): a CDC
  * upsert or key-delete writes one small key file instead of reading or
  * rewriting ANY data; readers anti-join matched keys away from exactly the
  * files that pre-existed the delete (attach-list sequence semantics).
  */
class EqualityDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, n: Int = 60): Icebox = {
    val t = Icebox(tmpDir(prefix))
    val df = (1 to n).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "s", "grp")
    t.append(df.repartitionByRange(4, col("id")))
    t
  }

  test("deleteByKeys removes matched rows without touching any data file") {
    val t = freshTable("eqdel-basic")
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.deleteByKeys(Seq(3L, 17L, 42L).toDF("id"))
    val after = t.currentSnapshot.get.files
    after.map(_.path).toSet shouldBe before // no rewrite, no new data files
    after.count(_.eqDeletes.nonEmpty) should be > 0
    t.read(spark).count() shouldBe 57L
    t.read(spark).filter($"id".isin(3L, 17L, 42L)).count() shouldBe 0L
    t.readIndexed(spark).count() shouldBe 57L // planner-indexed path applies them too
    t.rowCount shouldBe None // manifest counts are upper bounds now
  }

  test("deleteByKeys of an empty key frame commits a no-op snapshot") {
    val t = freshTable("eqdel-empty")
    val before = t.currentSnapshot.get
    val rows = canon(t.read(spark))
    val after = t.deleteByKeys(Seq.empty[Long].toDF("id"))
    after.id shouldBe before.id + 1
    after.files shouldBe before.files
    after.files.flatMap(_.eqDeletes) shouldBe empty
    canon(t.read(spark)) shouldBe rows
  }

  test("merge-on-read upsert: new images win, unmatched rows survive, zero rewrite") {
    val t = freshTable("eqdel-upsert")
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.setProperties(Map("write.upsert.mode" -> "merge-on-read"))
    val batch = Seq((5L, "NEW5", 99), (61L, "NEW61", 99)).toDF("id", "s", "grp")
    Upsert.intoTable(t, batch, Seq("id"))
    val files = t.currentSnapshot.get.files
    // pre-existing files intact; exactly the batch's files added on top
    before.subsetOf(files.map(_.path).toSet) shouldBe true
    val got = t.read(spark).orderBy("id").as[(Long, String, Int)].collect()
    got.length shouldBe 61
    got.find(_._1 == 5L).map(_._2) shouldBe Some("NEW5") // matched key -> new image
    got.find(_._1 == 61L).map(_._2) shouldBe Some("NEW61") // unmatched key inserted
    got.find(_._1 == 6L).map(_._2) shouldBe Some("v6") // untouched rows survive
  }

  test("sequence semantics: a re-inserted key is NOT hit by an older equality delete") {
    val t = freshTable("eqdel-seq")
    t.deleteByKeys(Seq(10L).toDF("id"))
    t.read(spark).filter($"id" === 10L).count() shouldBe 0L
    t.append(Seq((10L, "reborn", 0)).toDF("id", "s", "grp"))
    // the new file postdates the delete and never carries its attach
    t.read(spark).filter($"id" === 10L).select("s").as[String].collect() shouldBe Array("reborn")
    // and a SECOND delete of the same key kills the reborn row too
    t.deleteByKeys(Seq(10L).toDF("id"))
    t.read(spark).filter($"id" === 10L).count() shouldBe 0L
  }

  test("stacked deletes on different key columns compose") {
    val t = freshTable("eqdel-stack")
    t.deleteByKeys(Seq(1L, 2L).toDF("id"))
    t.deleteByKeys(Seq("v7", "v8").toDF("s")) // different equality columns
    t.read(spark).count() shouldBe 56L
    t.read(spark).filter($"id".isin(1L, 2L) || $"s".isin("v7", "v8")).count() shouldBe 0L
  }

  test("compaction materializes equality deletes and drops the attach lists") {
    val t = freshTable("eqdel-compact")
    t.deleteByKeys(Seq(4L, 44L).toDF("id"))
    t.compact(spark)
    val files = t.currentSnapshot.get.files
    files.forall(_.eqDeletes.isEmpty) shouldBe true
    t.read(spark).count() shouldBe 58L
    t.rowCount shouldBe Some(58L) // metadata COUNT(*) exact again
  }

  test("snapshot expiry keeps referenced eq-delete dirs, drops unreferenced ones") {
    val t = freshTable("eqdel-expire")
    t.deleteByKeys(Seq(9L).toDF("id"))
    val dir = t.currentSnapshot.get.files.flatMap(_.eqDeletes).head
    t.compact(spark) // live snapshot no longer references the eq dir
    t.read(spark).count() shouldBe 59L
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir)) shouldBe false
    t.read(spark).count() shouldBe 59L // reads unaffected by the cleanup
  }

  test("stats-pruned attach: disjoint files never carry the delete") {
    val t = Icebox(tmpDir("eqdel-prune"))
    // two range-disjoint files with id stats (footer defaults record them)
    t.append((1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartitionByRange(2, col("id")))
    t.deleteByKeys(Seq(2L, 3L).toDF("id")) // keys live entirely in the low file
    val files = t.currentSnapshot.get.files
    files.count(_.eqDeletes.nonEmpty) shouldBe 1 // high-range file pruned from attach
    t.read(spark).count() shouldBe 48L
  }

  test("stats-pruned attach works for STRING keys (UTF8 order)") {
    val t = Icebox(tmpDir("eqdel-prune-str"))
    // two range-disjoint files clustered on the string key (footer stats
    // record string min/max by default)
    t.append((1 to 50).map(i => (f"k$i%03d", i)).toDF("k", "v")
      .repartitionByRange(2, col("k")))
    t.currentSnapshot.get.files.size shouldBe 2
    t.deleteByKeys(Seq("k002", "k003").toDF("k")) // entirely in the low file
    val files = t.currentSnapshot.get.files
    files.count(_.eqDeletes.nonEmpty) shouldBe 1 // high-range file pruned
    t.read(spark).count() shouldBe 48L
    // and a batch spanning both ranges attaches to both (no over-pruning)
    t.deleteByKeys(Seq("k001", "k050").toDF("k"))
    t.read(spark).count() shouldBe 46L
  }

  test("attach depth is bounded: over-threshold files rewrite copy-on-write") {
    val t = Icebox(tmpDir("eqdel-depth"))
    t.append((1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    t.setProperties(Map("write.merge-on-read.max-delete-files" -> "3"))
    (1 to 3).foreach(i => t.deleteByKeys(Seq(i.toLong).toDF("id")))
    val stacked = t.currentSnapshot.get.files
    stacked.map(_.eqDeletes.size).max shouldBe 3
    // only the file(s) carrying the stack get rewritten; disjoint
    // (stats-pruned) files keep their paths
    val stackedPaths = stacked.filter(_.eqDeletes.nonEmpty).map(_.path).toSet
    // 4th delete on the same file exceeds the bound -> hybrid copy-on-write
    t.deleteByKeys(Seq(4L).toDF("id"))
    val after = t.currentSnapshot.get.files
    after.map(_.eqDeletes.size).max shouldBe 0 // depth reset by the rewrite
    after.map(_.path).toSet.intersect(stackedPaths) shouldBe Set.empty
    t.read(spark).count() shouldBe 36L
    t.read(spark).filter($"id" <= 4).count() shouldBe 0L
    // partitioned table: the rewrite lands in the partition layout
    val p = Icebox(tmpDir("eqdel-depth-part"))
    p.append((1 to 40).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "g"), Seq("g"))
    p.setProperties(Map("write.merge-on-read.max-delete-files" -> "1"))
    p.deleteByKeys(Seq(1L).toDF("id"))
    p.deleteByKeys(Seq(2L).toDF("id")) // triggers rewrite
    p.read(spark).count() shouldBe 38L
    p.partitionColumns shouldBe Seq("g")
    p.read(spark).filter($"g" === "g1").count() shouldBe 19L
  }

  test("changeDiff across an equality-delete commit emits the deleted rows as CDF deletes") {
    val t = freshTable("eqdel-cdf")
    val from = t.currentSnapshotId
    t.deleteByKeys(Seq(7L, 13L).toDF("id"))
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    diff.filter($"_change_type" === "delete").select("id").as[Long].collect().sorted shouldBe
      Array(7L, 13L)
    diff.filter($"_change_type" === "insert").count() shouldBe 0L
  }

  test("time travel: the pre-delete snapshot still shows deleted rows") {
    val t = freshTable("eqdel-tt")
    val preId = t.currentSnapshotId
    t.deleteByKeys(Seq(30L).toDF("id"))
    t.readSnapshotId(spark, preId).filter($"id" === 30L).count() shouldBe 1L
    t.read(spark).filter($"id" === 30L).count() shouldBe 0L
    t.rollbackTo(preId)
    t.read(spark).filter($"id" === 30L).count() shouldBe 1L
  }

  test("copy-on-write DML over a table with eq deletes never resurrects dead rows") {
    val t = freshTable("eqdel-dml")
    t.deleteByKeys(Seq(20L, 21L).toDF("id"))
    import graft.sql.{DmlSql, MergeSql}
    MergeSql.register("eqdel_dml_t", t)
    DmlSql.delete(spark, "DELETE FROM eqdel_dml_t WHERE grp = 1")
    val ids = t.read(spark).select("id").as[Long].collect().toSet
    ids.contains(20L) shouldBe false
    ids.contains(21L) shouldBe false
    ids.count(_ % 4 == 1) shouldBe 0
    t.read(spark).count() shouldBe 44L // 60 - 15 (grp=1 incl. 21) - {20}
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().toSeq.sorted

  test("a row with a NULL key column survives a delete of that key") {
    val t = Icebox(tmpDir("eqdel-null"))
    t.append(Seq((Some(1L), "a"), (None, "n"), (Some(2L), "b"), (None, "m"))
      .toDF("id", "s"))
    t.deleteByKeys(Seq(Some(1L), None).toDF("id"))
    t.read(spark).select("s").as[String].collect().sorted shouldBe Array("b", "m", "n")
    t.readIndexed(spark).filter($"id".isNull).count() shouldBe 2L
  }

  test("a composite two-column key deletes exactly its tuples") {
    val t = Icebox(tmpDir("eqdel-composite"))
    t.append((for (a <- 1 to 3; b <- 1 to 3) yield (a.toLong, s"b$b", a * 10 + b))
      .toDF("a", "b", "v"))
    t.deleteByKeys(Seq((1L, "b2"), (3L, "b1"), (9L, "b9")).toDF("a", "b"))
    val left = t.read(spark).select("v").as[Int].collect().sorted
    left shouldBe Array(11, 13, 21, 22, 23, 32, 33) // (1,1),(2,2) etc. survive
    t.readIndexed(spark).select("v").as[Int].collect().sorted shouldBe left
  }

  test("a matching key in a file that is not attached survives on every read path") {
    val t = freshTable("eqdel-unattached")
    val from = t.currentSnapshotId
    t.deleteByKeys(Seq(10L, 11L).toDF("id"))
    t.append(Seq((10L, "reborn", 0), (11L, "reborn", 0)).toDF("id", "s", "grp"))
    val files = t.currentSnapshot.get.files
    files.exists(_.eqDeletes.isEmpty) shouldBe true
    files.exists(_.eqDeletes.nonEmpty) shouldBe true
    ids(t.read(spark).filter($"id".between(9L, 12L))) shouldBe Seq(9L, 10L, 11L, 12L)
    val reborn = t.readIndexed(spark).filter($"id".between(9L, 12L))
    ids(reborn) shouldBe Seq(9L, 10L, 11L, 12L)
    reborn.filter($"s" === "reborn").count() shouldBe 2L
    val diff = t.changeDiff(spark, from, t.currentSnapshotId)
    diff.filter($"_change_type" === "delete").select("s").as[String].collect().sorted shouldBe
      Array("v10", "v11")
    diff.filter($"_change_type" === "insert").select("s").as[String].collect() shouldBe
      Array("reborn", "reborn")
  }

  test("an oversize key set (distributed join) deletes the same rows as the set path") {
    val cap = EqualityDeletes.EqKeyCacheMaxRows
    val big = freshTable("eqdel-oversize", n = 200)
    val small = freshTable("eqdel-undersize", n = 200)
    // cap + 1 distinct keys, of which only the table's multiples of 7 match
    big.deleteByKeys(spark.range(7L, 7L * (cap + 2), 7L).toDF("id"))
    small.deleteByKeys(spark.range(7L, 201L, 7L).toDF("id"))
    val bigDir = big.currentSnapshot.get.files.flatMap(_.eqDeletes).head
    val smallDir = small.currentSnapshot.get.files.flatMap(_.eqDeletes).head
    EqualityDeletes.isDriverHeld(bigDir) shouldBe false
    EqualityDeletes.isDriverHeld(smallDir) shouldBe true
    ids(big.read(spark)) shouldBe ids(small.read(spark))
    ids(big.readIndexed(spark)) shouldBe ids(small.read(spark))
    ids(small.read(spark)).size shouldBe 200 - 28
  }

  test("key types the set cannot compare by value take the join path and still delete") {
    val bin = Icebox(tmpDir("eqdel-binary"))
    bin.append((1 to 6).map(i => (Array[Byte](i.toByte, 7), i)).toDF("k", "v"))
    bin.deleteByKeys(Seq(Array[Byte](2, 7), Array[Byte](5, 7)).toDF("k"))
    EqualityDeletes.isDriverHeld(bin.currentSnapshot.get.files.flatMap(_.eqDeletes).head) shouldBe
      false
    bin.read(spark).select("v").as[Int].collect().sorted shouldBe Array(1, 3, 4, 6)
    bin.readIndexed(spark).select("v").as[Int].collect().sorted shouldBe Array(1, 3, 4, 6)
    // keys typed narrower than the column (int keys, bigint column)
    val t = freshTable("eqdel-narrow")
    t.deleteByKeys(Seq(3, 4).toDF("id"))
    t.read(spark).filter($"id".isin(3L, 4L)).count() shouldBe 0L
    t.readIndexed(spark).count() shouldBe 58L
  }

  test("a read right after a merge-on-read upsert runs no key-file job") {
    val t = freshTable("eqdel-seeded")
    t.setProperties(Map("write.upsert.mode" -> "merge-on-read"))
    Upsert.intoTable(t, Seq((5L, "NEW5", 9), (6L, "NEW6", 9)).toDF("id", "s", "grp"), Seq("id"))
    val dirs = t.currentSnapshot.get.files.flatMap(_.eqDeletes).distinct
    dirs should have size 1
    EqualityDeletes.isDriverHeld(dirs.head) shouldBe true
    def read() = t.readIndexed(spark).filter($"grp" === 9).collect()
    val first = jobsOf(read())
    first shouldBe jobsOf(read())
    read().map(_.getAs[String]("s")).sorted shouldBe Array("NEW5", "NEW6")
  }

  test("reads with equality deletes attached run no more Spark jobs than without") {
    val t = freshTable("eqdel-jobs")
    // every delete hits the 31..45 file the point read lands on
    Seq(Seq(3L, 33L), Seq(34L), Seq(35L, 17L)).foreach(k => t.deleteByKeys(k.toDF("id")))
    t.currentSnapshot.get.files.map(_.eqDeletes.size).max shouldBe 3
    def point() = t.readIndexed(spark).filter($"id" === 40L).collect()
    point().length shouldBe 1
    val withDeletes = jobsOf(point())
    t.compact(spark)
    t.currentSnapshot.get.files.forall(_.eqDeletes.isEmpty) shouldBe true
    point().length shouldBe 1
    withDeletes shouldBe jobsOf(point())
  }

  test("one merge-on-read upsert of a small batch runs 2 Spark jobs, one file per touched partition") {
    val t = Icebox(tmpDir("eqdel-morjobs"))
    t.append((1 to 200).map(i => (i.toLong, i % 4, s"v$i", i.toLong)).toDF("id", "p", "s", "ts"),
      Seq("p"))
    t.setProperties(Map("write.upsert.mode" -> "merge-on-read"))
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    val batch = (195 to 210).map(i => (i.toLong, i % 4, s"w$i", 1000L + i))
      .toDF("id", "p", "s", "ts")
    // the batch dedupes on the driver; the delete file and the payload
    // are one write each
    val jobs = jobNamesOf(Upsert.intoTable(t, batch, Seq("id"), Some("ts")))
    jobs should have size 2
    jobs.count(_.contains("write at DataFileCommitter")) shouldBe 2
    t.currentSnapshot.get.files.map(_.path).filterNot(before).size shouldBe 4
    t.read(spark).filter($"id" >= 195L).select("s").as[String].collect().sorted shouldBe
      (195 to 210).map(i => s"w$i").sorted
    t.read(spark).count() shouldBe 210L
  }

  /** The files `keys` attach to at `t`'s head (each named by its `k`
    * minimum) and the rows of their delete file, from the local `keys`
    * frame (its aggregates fold on the driver) and from
    * `keys.repartition(2)` (they run as Spark jobs).
    */
  private def bothPaths(t: Icebox, keys: org.apache.spark.sql.DataFrame) = {
    val head = t.currentSnapshot.get
    val files = head.files
    def attached(keys: org.apache.spark.sql.DataFrame) = {
      val disjoint = t.keyDisjoint(head, keys)
      files.filterNot(disjoint).map(f => f.stats.get("k").map(_._1).getOrElse(f.path)).toSet
    }
    def written(keys: org.apache.spark.sql.DataFrame) = {
      var rows = Seq.empty[String]
      EqualityDeletes.write(keys, df => { rows = canon(df); None })
      rows
    }
    val held = EqualityDeletes.distinctAtMost(keys)
    held shouldBe defined
    jobsOf(attached(keys)) shouldBe 0
    val spread = keys.repartition(2)
    ((attached(keys), written(keys)), (attached(spread), written(spread)))
  }

  private def oneFilePerValue[T](name: String, values: Seq[T], stats: Seq[String] = Nil)(
      toDf: Seq[T] => org.apache.spark.sql.DataFrame): Icebox = {
    val t = Icebox(tmpDir(name))
    values.foreach(v => t.append(toDf(Seq(v)), collectStats = stats))
    t
  }

  test("held and distributed key handling attach the same files and write the same keys") {
    // UTF-8 order: "\uFFFF" < "\uFFFFz" < "😀"; UTF-16 order puts "😀"
    // first, so a Java-order bound would prune the "\uFFFFz" file
    val strs = oneFilePerValue("eqdel-eqv-str", Seq("a", "\uFFFF", "\uFFFFz", "😀", "😀z"))(
      _.toDF("k"))
    val (heldS, distS) = bothPaths(strs, Seq("\uFFFF", "😀", "😀").toDF("k"))
    heldS shouldBe distS
    heldS._1 shouldBe Set("\uFFFF", "\uFFFFz", "😀")
    heldS._2 shouldBe Seq("[😀]", "[\uFFFF]").sorted

    val decs = oneFilePerValue("eqdel-eqv-dec", Seq("1.10", "2.20", "3.30", "4.40"), Seq("k"))(
      vs => vs.map(BigDecimal(_)).toDF("k").select($"k".cast("decimal(10,2)").as("k")))
    val (heldD, distD) = bothPaths(decs,
      Seq("2.20", "3.30").map(BigDecimal(_)).toDF("k").select($"k".cast("decimal(10,2)").as("k")))
    heldD shouldBe distD
    heldD._1 shouldBe Set("2.20", "3.30")

    val longs = oneFilePerValue("eqdel-eqv-null", Seq(1L, 5L, 9L))(_.toDF("k"))
    val (heldN, distN) = bothPaths(longs, Seq(None, Some(5L), None).toDF("k"))
    heldN shouldBe distN
    heldN._1 shouldBe Set("5")

    val floats = oneFilePerValue("eqdel-eqv-nan", Seq(0.5f, 1.5f, 2.5f))(_.toDF("k"))
    val (heldF, distF) = bothPaths(floats, Seq(1.5f, Float.NaN).toDF("k"))
    heldF shouldBe distF
    // NaN is the greatest float: the bounds are [1.5, NaN]
    heldF._1 shouldBe Set("1.5", "2.5")

    val bloomed = Icebox(tmpDir("eqdel-eqv-bloom"))
    bloomed.setProperties(Map("manifest.bloom.columns" -> "k", "manifest.bloom.fpp" -> "0.001"))
    (0 until 4).foreach(off => bloomed.append((1 to 500).map(i => ((i * 7 + off).toLong,
      s"v$off-$i")).toDF("k", "v").repartition(4, col("v"))))
    val (heldB, distB) = bothPaths(bloomed, Seq(707L, 1414L).toDF("k"))
    heldB shouldBe distB
    heldB._1.size should be < bloomed.currentSnapshot.get.files.size
  }

  test("an over-cap collect is cancelled before every partition's result reaches the driver") {
    val cap = EqualityDeletes.EqKeyCacheMaxRows
    val parts = 8 * spark.sparkContext.defaultParallelism
    val sc = spark.sparkContext
    val group = s"overcap-${java.util.UUID.randomUUID()}"
    val jobIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobIds.add(e.jobId); e.stageIds.foreach(stages.add)
          case g if g == group + "-marker" => marker.countDown()
          case _ =>
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.reason == org.apache.spark.Success) done.incrementAndGet()
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobIds.contains(e.jobId)) ends.add(e.jobResult.toString)
    }
    sc.addSparkListener(listener)
    try {
      // every partition alone is over the cap: the first result overflows
      val df = spark.range(0L, parts * (cap + 1L), 1L, parts).toDF("k")
      sc.setJobGroup(group, "over-cap collect")
      try EqualityDeletes.collectAtMost(df) shouldBe None finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      marker.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      jobIds.size shouldBe 1
      done.get should (be >= 1 and be < parts)
      ends.asScala.toSeq match { case Seq(r) => r should include("cancelled") }
    } finally sc.removeSparkListener(listener)
    // partitions each under the cap but over it together
    EqualityDeletes.collectAtMost(spark.range(0L, cap + 1L, 1L, parts).toDF("k")) shouldBe None
    // under the cap every partition's rows arrive, in order
    EqualityDeletes.collectAtMost(spark.range(0L, 1000L, 1L, parts).toDF("k"))
      .map(_.map(_.getLong(0))) shouldBe Some(0L until 1000L)
  }

  test("an over-cap deleteByKeys on a bloom-indexed table deletes exactly its keys") {
    val cap = EqualityDeletes.EqKeyCacheMaxRows
    val t = Icebox(tmpDir("eqdel-overcap-bloom"))
    t.setProperties(Map("manifest.bloom.columns" -> "id"))
    (0 until 2).foreach(off => t.append((1 to 300).map(i => ((2 * i + off).toLong, s"v$i", i % 4))
      .toDF("id", "s", "grp").repartition(3, col("s"))))
    // cap + 1 distinct keys: every multiple of 3
    t.deleteByKeys(spark.range(0L, cap + 1L).select(($"id" * 3L).as("id")))
    EqualityDeletes.isDriverHeld(t.currentSnapshot.get.files.flatMap(_.eqDeletes).head) shouldBe
      false
    val expected = (2 to 601).map(_.toLong).filter(_ % 3 != 0)
    ids(t.read(spark)) shouldBe expected
    ids(t.readIndexed(spark)) shouldBe expected
  }
}
