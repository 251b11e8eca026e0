package graft

import java.util.concurrent.TimeUnit
import graft.table.Icebox

/** TRUE cross-process concurrency: the optimistic-commit protocol's
  * cross-process claims (CREATE_NEW id claims, lock-file CAS publication)
  * have so far been exercised by multiple HANDLES in one JVM — which shares
  * nothing through `this.synchronized` across handles, but does share the
  * JVM. This spec launches separate `java` processes (each with its own
  * SparkSession) appending to one table concurrently: the only
  * coordination is the on-disk protocol itself.
  */
class CrossProcessSpec extends SparkSpec {
  import spark.implicits._

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("optimistic commits from SEPARATE JVM processes lose nothing") {
    val dir = tmpDir("xproc")
    Icebox(dir).append(Seq(("seed", 0)).toDF("k", "v").coalesce(1))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path") // real: Test/fork := true
    val procs = (1 to 3).map { i =>
      new ProcessBuilder(
        (Seq(javaBin, "-Xmx1500m", "-cp", cp) ++ addOpens ++
          Seq("graft.tools.ConcurrentAppender", dir, "4", s"p$i")): _*)
        .redirectErrorStream(true)
        .redirectOutput(new java.io.File(tmpDir(s"xproc$i"), "out.log"))
        .start()
    }
    procs.zipWithIndex.foreach { case (p, i) =>
      assert(p.waitFor(240, TimeUnit.SECONDS), s"process $i timed out")
      assert(p.exitValue() == 0, s"process $i exited ${p.exitValue()}")
    }
    // 1 seed + 3 processes x 4 appends, every commit on the chain
    val t = Icebox(dir)
    t.read(spark).count() shouldBe 13L
    t.allSnapshots.size shouldBe 13
    t.read(spark).select("k").distinct().count() shouldBe 13L
  }

  private def launch(args: Seq[String], tag: String): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    new ProcessBuilder(
      (Seq(javaBin, "-Xmx1500m", "-cp", cp) ++ addOpens ++
        Seq("graft.tools.ConcurrentAppender") ++ args): _*)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File(tmpDir(tag), "out.log"))
      .start()
  }

  test("serializable near-dup ingest from SEPARATE processes admits each content exactly once") {
    import graft.operators.Dedup
    import graft.tools.ConcurrentAppender.docFor
    val cdir = tmpDir("xndi-c"); val idir = tmpDir("xndi-i")
    // bootstrap both tables single-writer so the child processes contend
    // on COMMITS, not on table creation
    Dedup.nearDupInsert(Icebox(cdir), Icebox(idir),
      Seq((0L, docFor(0))).toDF("id", "text"), "text", "id",
      threshold = 0.8, serializable = true) shouldBe 1L
    // overlapping seed ranges: contents 11..20 are offered by BOTH
    // processes (different ids) — the MVCC claim is each lands exactly once
    val p1 = launch(Seq(cdir, "4", "p1", "neardup", idir, "1", "20", "1000"), "xndi1")
    val p2 = launch(Seq(cdir, "4", "p2", "neardup", idir, "11", "30", "2000"), "xndi2")
    Seq(p1, p2).foreach { p =>
      // exit 0 = every wave committed within nearDupInsert's bounded
      // retries under real cross-process contention
      assert(p.waitFor(240, TimeUnit.SECONDS), "ingest process timed out")
      assert(p.exitValue() == 0, s"ingest process exited ${p.exitValue()}")
    }
    val corpus = Icebox(cdir)
    val rows = corpus.read(spark)
    rows.count() shouldBe 31L // seeds 0..30, zero double-admits
    rows.select("text").distinct().count() shouldBe 31L
    // a post-hoc re-offer of contended content drops through the INDEX and
    // the covered-marker converges to the corpus head (the zero-delta
    // probe heals whatever gap the last writer left)
    Dedup.nearDupInsert(corpus, Icebox(idir),
      Seq((9999L, docFor(11))).toDF("id", "text"), "text", "id",
      threshold = 0.8, serializable = true) shouldBe 0L
    Icebox(idir).properties(Dedup.CoveredProp).toLong shouldBe corpus.currentSnapshotId
  }

  test("merge-on-read deletes vs compaction from SEPARATE processes stay consistent") {
    val dir = tmpDir("xproc-drift")
    val t0 = Icebox(dir)
    t0.setProperties(Map("write.merge-on-read.max-delete-files" -> "2"))
    t0.append((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    // the drift guard's actual claim: the deleting PROCESS and the
    // compacting PROCESS coordinate only through the on-disk protocol —
    // an over-depth rewrite computed against a head a compaction replaced
    // must recompute, never double-commit
    val del = launch(Seq(dir, "8", "d", "delete"), "xdel")
    val cmp = launch(Seq(dir, "3", "c", "compact"), "xcmp")
    Seq(del, cmp).foreach { p =>
      assert(p.waitFor(240, TimeUnit.SECONDS), "process timed out")
      assert(p.exitValue() == 0, s"process exited ${p.exitValue()}")
    }
    val survivors = Icebox(dir).read(spark)
    survivors.count() shouldBe 92L // 100 - 8 deletes; nothing lost, nothing doubled
    survivors.select("id").distinct().count() shouldBe 92L
    survivors.filter(org.apache.spark.sql.functions.col("id") <= 8).count() shouldBe 0L
  }
}
