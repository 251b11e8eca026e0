package graft

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{concat, lit, udf}
import graft.operators.Upsert
import graft.sql.{DmlSql, MergeSql}
import graft.table.Icebox

/** Crash sweep over the commit protocol ([[graft.table.IceboxCommit]]): each
  * write operation runs once cleanly on a tiny `faultfs://` table to count
  * its mutating filesystem steps, then once per step with the process
  * killed at that step ([[FaultFs]]). After every crash a fresh handle must
  * find:
  *  - '''state''': the table reads exactly the pre- or the post-operation
  *    snapshot (rows and snapshot history);
  *  - '''reclaim''': after `removeOrphans(0)`, no file that no snapshot
  *    references (a lock left by the dead holder aside);
  *  - '''recovery''': nothing wedged — from pre, re-running the operation
  *    commits it once; from post, the next append commits (a stream batch
  *    re-run with the same id is a no-op first). A crash inside the lock
  *    window leaves `_properties.lock`; it is aged past the 10 s staleness
  *    check instead of slept out.
  *
  * New I/O steps in the commit path join the sweep by running inside one
  * of these operations — not as hand-placed crash points.
  */
class CrashSweepSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    spark.sparkContext.hadoopConfiguration.set(
      graft.table.TableStore.AtomicSchemesKey, "mockfs,faultfs")
  }

  override def afterAll(): Unit = {
    FaultFs.reset()
    super.afterAll()
  }

  // one task per write keeps the step order deterministic
  private def rows(ids: Range, tag: String): DataFrame =
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "s").coalesce(1)

  private def local(p: String): JPath = Paths.get(new java.net.URI(p).getPath)

  private def walk(p: JPath): List[JPath] =
    scala.util.Using.resource(Files.walk(p))(_.iterator.asScala.toList)

  private def copyTree(from: JPath, to: JPath): Unit =
    walk(from).foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private def deleteTree(p: JPath): Unit =
    if (Files.exists(p))
      walk(p).reverse.foreach(Files.delete)

  private final case class Obs(rows: Seq[String], ids: Seq[Long])

  private def observe(t: Icebox): Obs = Obs(canon(t.read(spark)), t.allSnapshots.map(_.id))

  /** Files under the table no snapshot references — beyond the head
    * pointer, the properties and a lock left by a dead holder.
    */
  private def unreferenced(t: Icebox): Seq[String] = {
    val root = local(t.tableDir)
    val snaps = t.allSnapshots
    val files = snaps.flatMap(_.files)
    val data = files.map(f => local(f.path)).toSet
    val deletes = files.flatMap(f => f.deletes ++ f.eqDeletes).map(local)
    val meta = root.resolve("_snapshots")
    val kept = Set(root.resolve("_current"), root.resolve("_properties.json"),
      root.resolve("_properties.lock")) ++ snaps.map(s => meta.resolve(s"${s.id}.json")) ++
      files.flatMap(_.blooms.values).map(sha => meta.resolve(s"blooms/$sha.bloom")) ++
      files.flatMap(_.sketches.values).map(sha => meta.resolve(s"sketches/$sha.hll"))
    walk(root).filter(Files.isRegularFile(_)).filterNot { p =>
      kept(p) || data(p) || deletes.exists(d => p.startsWith(d))
    }.map(_.toString)
  }

  /** One operation under the sweep: `setup` builds the pre-operation table
    * once (restored byte-for-byte before every run), `run` performs the
    * operation on a handle; `next` is the append that must commit after a
    * crash left the post-operation state.
    */
  private final case class Op(name: String, setup: Icebox => Unit, run: Icebox => Unit,
      isStream: Boolean = false, next: DataFrame = rows(99 to 99, "z"))

  private def sweep(op: Op): Unit = {
    val dir = "faultfs://" + tmpDir(s"sweep-${op.name}")
    val root = local(dir)
    val backup = Paths.get(tmpDir(s"sweep-${op.name}-pre"))
    op.setup(Icebox(dir))
    copyTree(root, backup)
    def restore(): Unit = {
      deleteTree(root); copyTree(backup, root)
      graft.plans.IceboxStats.invalidate(dir)
    }
    val pre = observe(Icebox(dir))
    FaultFs.reset()
    op.run(Icebox(dir))
    val steps = FaultFs.count
    // data and delete files are created under their final names: no
    // committer staging or marker anywhere in the table, and no rename of
    // a table file (renames publish metadata only)
    FaultFs.trace.foreach { call =>
      Seq("_temporary", "_SUCCESS", ".spark-staging").foreach(call should not include _)
      if (call.startsWith("rename"))
        Seq(s"$root/data/", s"$root/deletes/").foreach(call should not include _)
    }
    val post = observe(Icebox(dir))
    post should not be pre
    info(s"${op.name}: $steps mutating steps")
    val lock = root.resolve("_properties.lock")
    (1 to steps).foreach { n =>
      withClue(s"${op.name}, crash at step $n of $steps: ") {
        restore()
        FaultFs.reset(crashAt = n)
        try op.run(Icebox(dir)) catch { case _: Exception => () }
        FaultFs.reset()
        val t = Icebox(dir)
        val state = observe(t)
        Seq(pre, post) should contain(state)
        Thread.sleep(2) // residue strictly older than the grace cutoff
        t.removeOrphans(0L)
        unreferenced(t) shouldBe empty
        if (Files.exists(lock))
          Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 60000L))
        if (state == pre) {
          op.run(t)
          val again = observe(Icebox(dir))
          (again.rows, again.ids.size) shouldBe ((post.rows, post.ids.size))
        } else {
          if (op.isStream) t.appendStreamBatch("s1", 7L, rows(90 to 91, "x")) shouldBe None
          t.append(op.next)
          val next = observe(Icebox(dir))
          next.rows shouldBe (post.rows ++ canon(op.next)).sorted
          next.ids.size shouldBe post.ids.size + 1
        }
        Files.exists(lock) shouldBe false
      }
    }
  }

  private def quiet(body: => Unit): Unit = {
    spark.sparkContext.setLogLevel("OFF") // injected task failures log stack traces
    try body finally spark.sparkContext.setLogLevel("ERROR")
  }

  private def seeded(t: Icebox): Unit = t.append(rows(1 to 4, "a"))

  test("crash at every step of an append") {
    quiet(sweep(Op("append", seeded, _.append(rows(5 to 6, "b")))))
  }

  // one task writing two partitions: two data files
  private def parted(ids: Range, tag: String): DataFrame =
    ids.map(i => (i.toLong, s"$tag$i", i % 2)).toDF("id", "s", "p").coalesce(1)

  test("crash at every step of a two-file append") {
    quiet(sweep(Op("append-2-files", _.append(parted(1 to 4, "a"), Seq("p")),
      _.append(parted(5 to 6, "b")), next = parted(99 to 99, "z"))))
  }

  test("a failed write task aborts the commit and leaves only reclaimable files") {
    val dir = "faultfs://" + tmpDir("sweep-task-failure")
    seeded(Icebox(dir))
    val pre = observe(Icebox(dir))
    val failOn6 = udf { (id: Long) => require(id != 6L, "injected task failure"); id }
    // two tasks, ids 0-3 and 4-7: the second throws part-way through
    val df = spark.range(0, 8, 1, 2)
      .select(failOn6($"id").as("id"), concat(lit("f"), $"id".cast("string")).as("s"))
    quiet(an[Exception] should be thrownBy Icebox(dir).append(df))
    val t = Icebox(dir)
    observe(t) shouldBe pre
    Thread.sleep(2)
    t.removeOrphans(0L)
    unreferenced(t) shouldBe empty
    // a merge-on-read DELETE whose delete-file task throws
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    MergeSql.register("sweep_task_failure", t)
    FaultFs.reset()
    FaultFs.before(_.toUri.getPath.contains("/deletes/")) {
      throw new java.io.IOException("injected task failure")
    }
    try quiet(an[Exception] should be thrownBy
      DmlSql.delete(spark, "DELETE FROM sweep_task_failure WHERE id = 2"))
    finally FaultFs.reset()
    val u = Icebox(dir)
    observe(u) shouldBe pre
    Thread.sleep(2)
    u.removeOrphans(0L)
    unreferenced(u) shouldBe empty
  }

  test("crash at every step of a merge-on-read DELETE") {
    quiet(sweep(Op("mor-delete",
      t => { seeded(t); t.setProperties(Map("write.delete.mode" -> "merge-on-read")) },
      t => {
        MergeSql.register("sweep_mor_delete", t)
        DmlSql.delete(spark, "DELETE FROM sweep_mor_delete WHERE id = 2")
      })))
  }

  test("crash at every step of deleteByKeys") {
    quiet(sweep(Op("eq-delete", seeded, _.deleteByKeys(Seq(2L, 3L).toDF("id")))))
  }

  test("crash at every step of a merge-on-read upsert") {
    quiet(sweep(Op("mor-upsert", seeded,
      t => Upsert.intoTableMor(t, rows(3 to 5, "u"), Seq("id")))))
  }

  test("crash at every step of a copy-on-write upsert") {
    quiet(sweep(Op("cow-upsert", seeded,
      t => Upsert.intoTable(t, rows(3 to 5, "u"), Seq("id")))))
  }

  private val mergeSql =
    """MERGE INTO %s t USING sweep_merge_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin

  test("crash at every step of a copy-on-write MERGE") {
    rows(3 to 5, "m").createOrReplaceTempView("sweep_merge_src")
    quiet(sweep(Op("cow-merge", seeded, t => {
      MergeSql.register("sweep_cow_merge", t)
      MergeSql.merge(spark, mergeSql.format("sweep_cow_merge"))
    })))
  }

  test("a copy-on-write MERGE re-merges over an append that lands mid-merge") {
    val dir = "faultfs://" + tmpDir("sweep-merge-race")
    seeded(Icebox(dir))
    rows(3 to 5, "m").createOrReplaceTempView("sweep_merge_src")
    MergeSql.register("sweep_merge_race", Icebox(dir))
    // a second handle's append lands after the merge read the table, just
    // before the merge claims its snapshot id: the merge must not publish a
    // file set computed without the appended rows
    FaultFs.reset()
    FaultFs.before(p => p.getParent.getName == "_snapshots" && p.getName.endsWith(".json")) {
      Icebox(dir).append(rows(7 to 8, "c"))
    }
    try MergeSql.merge(spark, mergeSql.format("sweep_merge_race")) finally FaultFs.reset()
    canon(Icebox(dir).read(spark)) shouldBe
      canon(rows(1 to 2, "a").union(rows(3 to 5, "m")).union(rows(7 to 8, "c")))
  }

  test("crash at every step of a compaction") {
    quiet(sweep(Op("compact",
      t => { seeded(t); t.append(rows(5 to 6, "b")); t.append(rows(7 to 8, "c")) },
      _.compact(spark))))
  }

  test("crash at every step of snapshot expiry") {
    quiet(sweep(Op("expire",
      t => { seeded(t); t.append(rows(5 to 6, "b")); t.overwrite(rows(7 to 9, "c"))
        t.append(rows(10 to 11, "d")) },
      _.expireSnapshots(System.currentTimeMillis() + 60000L, retainLast = 1))))
  }

  test("crash at every step of a stream batch") {
    quiet(sweep(Op("stream", seeded,
      t => t.appendStreamBatch("s1", 7L, rows(90 to 91, "x")), isStream = true)))
  }

  /** `(kind, name)` of each traced call; temp names lose their random id. */
  private def steps(trace: Seq[String]): Seq[(String, String)] = trace.map { s =>
    val Array(kind, path) = s.split(" ", 2)
    val name = Paths.get(path).getFileName.toString
    kind -> (if (name.contains(".tmp.")) name.take(name.indexOf(".tmp.") + 4) else name)
  }

  test("one publish is 5 mutating metadata steps, on a marker and ending an append") {
    val t = Icebox("faultfs://" + tmpDir("sweep-publish"))
    seeded(t)
    val tail = Seq("create" -> "1.json", "create" -> "_properties.lock",
      "create" -> "._current.tmp", "rename" -> "._current.tmp", "delete" -> "_properties.lock")
    FaultFs.reset()
    t.commitMarker("marker")
    steps(FaultFs.trace) shouldBe tail
    FaultFs.reset()
    t.append(rows(5 to 6, "b"))
    val trace = FaultFs.trace
    steps(trace).takeRight(5) shouldBe tail.updated(0, "create" -> "2.json")
    all(trace.dropRight(5)) should include(s"${local(t.tableDir)}/data/")
    // one task, one file: the data write is a single create
    FaultFs.reset()
    t.append(rows(7 to 7, "c"))
    steps(FaultFs.trace).map(_._1) shouldBe "create" +: tail.map(_._1)
    // a one-row merge-on-read DELETE: its delete file is a single create
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    MergeSql.register("sweep_publish", t)
    FaultFs.reset()
    DmlSql.delete(spark, "DELETE FROM sweep_publish WHERE id = 7")
    val delete = FaultFs.trace
    FaultFs.reset()
    steps(delete).map(_._1) shouldBe "create" +: tail.map(_._1)
    delete.head should include(s"${local(t.tableDir)}/deletes/")
  }

  test("cherrypick resolves its files against the head it lands on") {
    val dir = "faultfs://" + tmpDir("sweep-cherrypick")
    val t = Icebox(dir)
    seeded(t)
    val picked = t.append(rows(5 to 6, "b"))
    t.rollbackTo(0L)
    // a second writer's append lands just before the cherry-pick claims
    // its snapshot id, so the claim loses and the commit resolves again
    FaultFs.reset()
    FaultFs.before(p => p.getParent.getName == "_snapshots" && p.getName.endsWith(".json")) {
      Icebox(dir).append(rows(7 to 8, "c"))
    }
    t.cherrypick(picked.id)
    FaultFs.reset()
    canon(Icebox(dir).read(spark)) shouldBe
      canon(rows(1 to 4, "a").union(rows(5 to 6, "b")).union(rows(7 to 8, "c")))
  }
}
