package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.table.{Icebox, IceboxCommit}

/** Serializable dedup ingest: the probe→append TOCTOU window under
  * concurrent writers is closed by head-CAS appends (`appendIfHead`), and
  * the near-dup index's covered-snapshot marker + on-the-fly banding of
  * the uncovered corpus delta make recall survive concurrent writers, the
  * corpus/index crash gap, AND bootstrap over a pre-existing corpus —
  * without rebuildNearDupIndex.
  */
class SerializableIngestSpec extends SparkSpec {
  import spark.implicits._

  private def doc(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    (0 until 60).map(_ =>
      (0 until 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
  }
  private def nearDocOf(seed: Int): String =
    doc(seed).split(" ").updated(3, "changedxx").updated(29, "alsochanged")
      .updated(47, "thirdedit").mkString(" ")

  test("appendIfHead commits on the expected head, raises SupersededCommit past it") {
    val t = Icebox(tmpDir("ser-cas"))
    t.appendIfHead(Seq((1L, "a")).toDF("id", "s"), expectHeadId = -1L)
    val head = t.currentSnapshotId
    t.appendIfHead(Seq((2L, "b")).toDF("id", "s"), expectHeadId = head)
    // stale expectation: the head moved
    val ex = intercept[RuntimeException] {
      t.appendIfHead(Seq((3L, "c")).toDF("id", "s"), expectHeadId = head)
    }
    assert(ex eq IceboxCommit.SupersededCommit)
    t.read(spark).count() shouldBe 2L
  }

  test("dedupInsert TOCTOU: default mode double-admits under the interleave, serializable retries and drops") {
    def interleaved(serializable: Boolean): Long = {
      val corpus = Icebox(tmpDir(s"ser-dd-$serializable"))
      corpus.setProperties(Map("manifest.bloom.columns" -> "fingerprint"))
      Dedup.dedupInsert(corpus, Seq((1L, "base doc")).toDF("id", "t"), "t", "id") shouldBe 1L
      // a concurrent worker lands the SAME new content between our probe
      // and our commit (the hook runs exactly there, once)
      var fired = false
      val hook = () => if (!fired) {
        fired = true
        Dedup.dedupInsert(corpus, Seq((50L, "contended doc")).toDF("id", "t"), "t", "id")
        ()
      }
      Dedup.dedupInsert(corpus, Seq((2L, "contended doc")).toDF("id", "t"), "t", "id",
        serializable = serializable, onBeforeCommit = hook)
      corpus.read(spark).filter(col("t") === "contended doc").count()
    }
    interleaved(serializable = false) shouldBe 2L // the documented gap
    interleaved(serializable = true) shouldBe 1L  // CAS + re-probe closes it
  }

  test("nearDupInsert serializable: a concurrent unindexed near-dup is seen via the uncovered delta") {
    val corpus = Icebox(tmpDir("ser-ndi-c")); val index = Icebox(tmpDir("ser-ndi-i"))
    val w1 = (1 to 5).map(i => (i.toLong, doc(i))).toDF("id", "text")
    Dedup.nearDupInsert(corpus, index, w1, "text", "id",
      threshold = 0.8, serializable = true) shouldBe 5L
    // concurrent writer commits a doc to the corpus and CRASHES before its
    // index commit — between our probe and our commit
    var fired = false
    val hook = () => if (!fired) {
      fired = true
      corpus.append(Seq((99L, doc(99))).toDF("id", "text"), collectStats = Seq("id"))
      ()
    }
    // our batch is a near-dup of that unindexed doc: the CAS retry must
    // band the uncovered delta and DROP it (default mode would admit)
    Dedup.nearDupInsert(corpus, index, Seq((201L, nearDocOf(99))).toDF("id", "text"),
      "text", "id", threshold = 0.8, serializable = true,
      onBeforeCommit = hook) shouldBe 0L
    corpus.read(spark).select("id").as[Long].collect().sorted shouldBe
      ((1 to 5).map(_.toLong) :+ 99L).toArray
    // the heal indexed the crashed writer's doc and advanced the marker
    index.read(spark).filter(col("id") === 99L).count() should be > 0L
    index.properties(Dedup.CoveredProp).toLong shouldBe corpus.currentSnapshotId
    // and with the marker current, a later near-dup of it drops via the
    // INDEX (no uncovered delta left)
    Dedup.nearDupInsert(corpus, index, Seq((301L, nearDocOf(99))).toDF("id", "text"),
      "text", "id", threshold = 0.8, serializable = true) shouldBe 0L
  }

  test("nearDupInsert serializable bootstraps over a pre-existing corpus without rebuild") {
    val corpus = Icebox(tmpDir("ser-boot-c")); val index = Icebox(tmpDir("ser-boot-i"))
    corpus.append((1 to 8).map(i => (i.toLong, doc(i))).toDF("id", "text"),
      collectStats = Seq("id"))
    // no index exists: the whole corpus is the uncovered delta
    val w = Seq((101L, nearDocOf(3)), (102L, doc(200))).toDF("id", "text")
    Dedup.nearDupInsert(corpus, index, w, "text", "id",
      threshold = 0.8, serializable = true) shouldBe 1L
    corpus.read(spark).count() shouldBe 9L
    // the bootstrap indexed the pre-existing docs too
    index.read(spark).select("id").distinct().count() shouldBe 9L
    index.properties(Dedup.CoveredProp).toLong shouldBe corpus.currentSnapshotId
  }

  test("embeddingNearDupInsert serializable: crash-gap near-dup drops via the uncovered delta") {
    def vec(seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(16)(rnd.nextGaussian().toFloat)
    }
    val corpus = Icebox(tmpDir("ser-endi-c")); val index = Icebox(tmpDir("ser-endi-i"))
    val w1 = (1 to 5).map(i => (i.toLong, vec(i))).toDF("id", "v")
    Dedup.embeddingNearDupInsert(corpus, index, w1, "v", "id",
      dim = 16, threshold = 0.95, planes = 4, serializable = true) shouldBe 5L
    var fired = false
    val hook = () => if (!fired) {
      fired = true
      corpus.append(Seq((99L, vec(99))).toDF("id", "v"), collectStats = Seq("id"))
      ()
    }
    Dedup.embeddingNearDupInsert(corpus, index,
      Seq((201L, vec(99).map(_ + 0.001f))).toDF("id", "v"), "v", "id",
      dim = 16, threshold = 0.95, planes = 4, serializable = true,
      onBeforeCommit = hook) shouldBe 0L
    index.read(spark).filter(col("id") === 99L).count() should be > 0L
    index.properties(Dedup.CoveredProp).toLong shouldBe corpus.currentSnapshotId
  }
}
