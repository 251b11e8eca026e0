package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streaming
import graft.table.Icebox

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(dir: String, name: String, rows: Seq[(Long, String, Long)]): Unit = {
    val stage = tmpDir("st")
    rows.toDF("id", "v", "ver").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = scala.util.Using.resource(Files.list(Paths.get(stage)))(
      _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
    Files.createDirectories(Paths.get(dir))
    Files.copy(part, Paths.get(dir, name))
  }

  test("fileIngest processes backlog with AvailableNow, then picks up only new files") {
    val src = tmpDir("stream-src")
    val ckpt = tmpDir("stream-ckpt")
    val table = Icebox(tmpDir("stream-table"))
    writeBatch(src, "f1.parquet", Seq((1L, "a", 1L), (2L, "b", 1L)))
    val schema = Seq((1L, "a", 1L)).toDF("id", "v", "ver").schema

    val q1 = Streaming.fileIngest(spark, src, schema, table, ckpt,
      pk = Seq("id"), orderCol = Some("ver"))
    q1.awaitTermination(60000)
    table.read(spark).count() shouldBe 2

    // second run: only the NEW file is processed (file-source checkpoint),
    // and the upsert replaces id=2
    writeBatch(src, "f2.parquet", Seq((2L, "b2", 2L), (3L, "c", 2L)))
    val q2 = Streaming.fileIngest(spark, src, schema, table, ckpt,
      pk = Seq("id"), orderCol = Some("ver"))
    q2.awaitTermination(60000)
    val back = table.read(spark)
    back.count() shouldBe 3
    back.filter($"id" === 2).select("v").as[String].collect() shouldBe Array("b2")
  }

  test("fileIngest refreshes attached materialized views per micro-batch, exactly once") {
    val src = tmpDir("stream-mv-src")
    val ckpt = tmpDir("stream-mv-ckpt")
    val table = Icebox(tmpDir("stream-mv-table"))
    val mv = Icebox(tmpDir("stream-mv-tgt"))
    // persisted MvSql-shape definition: groupBy v, sum(ver)
    mv.setProperties(Map(
      "mv.id" -> "smv#0",
      "mv.source.dir" -> table.tableDir,
      "mv.keys" -> "v",
      "mv.sums" -> "ver"))
    (1 to 3).foreach(i => writeBatch(src, s"f$i.parquet",
      Seq((i * 10L, s"g${i % 2}", i * 100L), (i * 10L + 1, "g0", i.toLong))))
    val schema = Seq((1L, "a", 1L)).toDF("id", "v", "ver").schema
    // maxFilesPerTrigger=1: three files -> three micro-batches -> three
    // source commits, each followed by an in-loop view refresh
    val q = Streaming.fileIngest(spark, src, schema, table, ckpt,
      maxFilesPerTrigger = Some(1), refreshViews = Seq(mv))
    q.awaitTermination(120000)
    table.read(spark).count() shouldBe 6
    // one refresh commit per micro-batch rode the source commits
    val refreshOps = mv.allSnapshots.map(_.operation).filter(_.startsWith("mv-refresh:smv#0:"))
    refreshOps.size shouldBe 3
    // refreshes 2..3 were INCREMENTAL: the first refresh's (full build)
    // data files survive in the final snapshot (merge-on-read updates)
    val buildFiles = mv.allSnapshots
      .filter(_.operation.startsWith("mv-refresh:smv#0:")).minBy(_.id)
      .files.map(_.path).toSet
    (buildFiles intersect mv.currentSnapshot.get.files.map(_.path).toSet) should not be empty
    // the view equals a full recompute over the final ingested state
    assertSameRows(
      mv.read(spark),
      table.read(spark).groupBy("v").agg(count(lit(1)).as("row_count"),
        sum($"ver").as("sum_ver"), count($"ver").as("nn_ver")))
    // cursor is current: a replayed/extra refresh no-ops
    graft.operators.MaterializedView.refreshFromProperties(spark, mv) shouldBe
      Some(graft.operators.MaterializedView.NoOp)
  }

  test("dedupIngest drops re-offered and re-id'd content at the door; restart converges") {
    val src = tmpDir("stream-dd-src")
    val ckpt = tmpDir("stream-dd-ckpt")
    val corpus = Icebox(tmpDir("stream-dd-corpus"))
    corpus.setProperties(Map("manifest.bloom.columns" -> "fingerprint"))
    def doc(id: Long, text: String) = (id, text, 1L)
    // wave 1: three distinct docs (one internal duplicate pair)
    writeBatch(src, "w1.parquet", Seq(
      doc(1, "alpha beta gamma"), doc(2, "delta epsilon"), doc(3, "alpha beta gamma")))
    // wave 2: one fresh doc + a re-offer of doc 1 + a re-id'd copy of doc 2
    writeBatch(src, "w2.parquet", Seq(
      doc(10, "zeta eta theta"), doc(1, "alpha beta gamma"), doc(99, "delta epsilon")))
    val schema = Seq(doc(0, "x")).toDF("id", "v", "ver").schema
    val q = Streaming.dedupIngest(spark, src, schema, corpus, ckpt,
      textCol = "v", idCol = "id", maxFilesPerTrigger = Some(1))
    q.awaitTermination(60000)
    val texts = corpus.read(spark).select("v").as[String].collect().sorted
    texts shouldBe Array("alpha beta gamma", "delta epsilon", "zeta eta theta")
    // restart with a pure-duplicate wave: nothing may append
    val before = corpus.rowCount.get
    writeBatch(src, "w3.parquet", Seq(doc(200, "zeta eta theta"), doc(201, "delta epsilon")))
    val q2 = Streaming.dedupIngest(spark, src, schema, corpus, ckpt,
      textCol = "v", idCol = "id", maxFilesPerTrigger = Some(1))
    q2.awaitTermination(60000)
    corpus.rowCount.get shouldBe before
  }

  test("nearDupIngest drops small-edit re-crawls at the door; replay converges") {
    val src = tmpDir("stream-ndi-src")
    val ckpt = tmpDir("stream-ndi-ckpt")
    val corpus = Icebox(tmpDir("stream-ndi-corpus"))
    val index = Icebox(tmpDir("stream-ndi-index"))
    def words(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      (0 until 60).map(_ =>
        (0 until 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    }
    def nearOf(seed: Int): String = // 3 of 60 words edited: Jaccard ≈ 0.9
      words(seed).split(" ").updated(3, "editedxx").updated(29, "alsoedit")
        .updated(47, "thirdone").mkString(" ")
    def doc(id: Long, text: String) = (id, text, 1L)
    writeBatch(src, "w1.parquet", Seq(doc(1, words(1)), doc(2, words(2))))
    // wave 2: a fresh doc + a small-edit RE-CRAWL of doc 1 (not verbatim —
    // exact dedup would admit it) + a verbatim re-id of doc 2
    writeBatch(src, "w2.parquet", Seq(
      doc(10, words(10)), doc(11, nearOf(1)), doc(12, words(2))))
    val schema = Seq(doc(0, "x")).toDF("id", "v", "ver").schema
    val q = Streaming.nearDupIngest(spark, src, schema, corpus, index, ckpt,
      textCol = "v", idCol = "id", threshold = 0.8, maxFilesPerTrigger = Some(1))
    q.awaitTermination(60000)
    corpus.read(spark).select("id").as[Long].collect().sorted shouldBe Array(1L, 2L, 10L)
    // replay convergence: a new wave of pure near-dups appends nothing
    val before = corpus.rowCount.get
    writeBatch(src, "w3.parquet", Seq(doc(200, nearOf(10)), doc(201, words(1))))
    val q2 = Streaming.nearDupIngest(spark, src, schema, corpus, index, ckpt,
      textCol = "v", idCol = "id", threshold = 0.8, maxFilesPerTrigger = Some(1))
    q2.awaitTermination(60000)
    corpus.rowCount.get shouldBe before
  }

  test("LM perplexity scoring composes with exactly-once streaming ingest") {
    import graft.operators.LmScore
    val src = tmpDir("stream-lm-src")
    val ckpt = tmpDir("stream-lm-ckpt")
    val out = Icebox(tmpDir("stream-lm-out"))
    // the LM is a STATIC side input (trained offline, stream-static joins)
    val lm = LmScore.trainBigramLm(
      Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("id", "v"), "v")
    writeBatch(src, "w1.parquet", Seq((10L, "the cat sat", 1L), (11L, "dog the", 1L)))
    val schema = Seq((0L, "x", 1L)).toDF("id", "v", "ver").schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          out.appendStreamBatch("lmscore", bid,
            LmScore.perplexityScore(batch, "v", "id", lm))
          ()
        }.start()
      q.awaitTermination(60000)
    }
    run()
    val r1 = out.read(spark).orderBy("id").collect()
    r1.map(_.getLong(0)).toSeq shouldBe Seq(10L, 11L)
    r1(0).getDouble(2) shouldBe math.log10(0.5) / 2 +- 5e-5
    r1(1).getDouble(2) shouldBe math.log10(0.12) +- 5e-5
    // restart: the processed file is not re-scored (checkpoint), and a new
    // wave lands exactly once
    writeBatch(src, "w2.parquet", Seq((20L, "the cat ran", 1L)))
    run()
    out.read(spark).count() shouldBe 3L
    out.read(spark).filter(col("id") === 20L).count() shouldBe 1L
  }

  test("CCNet cutoff selection composes with exactly-once streaming ingest") {
    import graft.operators.LmScore
    val src = tmpDir("stream-ccnet-src")
    val ckpt = tmpDir("stream-ccnet-ckpt")
    val out = Icebox(tmpDir("stream-ccnet-out"))
    // LM is a static side input; each micro-batch is selected against its
    // OWN per-language score distribution — the per-shard CCNet pattern
    val lm = LmScore.trainBigramLm(
      Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("id", "v"), "v")
    // scores (known from LmScoreSpec): sat=-0.1505, cat sat=-0.3010,
    // dog the=-0.9208, dog zebra=-1.3979 — keepFrac 0.5 keeps the top two
    writeBatch(src, "w1.parquet", Seq(
      (10L, "the cat sat", 1L), (11L, "cat sat", 1L),
      (12L, "dog the", 1L), (13L, "dog zebra", 1L)))
    val schema = Seq((0L, "x", 1L)).toDF("id", "v", "ver").schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val withLang = batch.withColumn("lang", lit("en"))
          out.appendStreamBatch("ccnet", bid,
            LmScore.ccnetSelectByCutoff(withLang, "v", "id", "lang", lm,
              keepFrac = 0.5, exact = true).filter(col("kept")).drop("kept"))
          ()
        }.start()
      q.awaitTermination(60000)
    }
    run()
    out.read(spark).select("id").as[Long].collect().sorted shouldBe Array(10L, 11L)
    // restart: the processed wave is not re-selected (checkpoint); a new
    // wave selects within itself and lands exactly once
    writeBatch(src, "w2.parquet", Seq(
      (20L, "the cat ran", 1L), (21L, "zebra dog", 1L)))
    run()
    out.read(spark).select("id").as[Long].collect().sorted shouldBe
      Array(10L, 11L, 20L)
  }

  test("windowedCounts declares watermark + tumbling window on a stream") {
    val src = tmpDir("stream-src2")
    val schema = Seq((1L, "a", 1L)).toDF("id", "v", "ver").schema
    // batch-equivalence check of the aggregation shape on a static frame:
    val static = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:20:00", "click", 2.0),
      ("2024-01-01 01:10:00", "view", 5.0)
    ).toDF("ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val out = static
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("total_value"))
      .select($"window.start".as("window_start"), $"event_type", $"cnt", $"total_value")
      .orderBy("window_start")
      .collect()
    out.length shouldBe 2
    out(0).getLong(2) shouldBe 2L
    out(0).getDouble(3) shouldBe 3.0
  }

  test("microBatchLoop runs N cycles at the configured cadence") {
    val seen = Streaming.microBatchLoop(intervalMs = 1, maxCycles = 3)(i => i * 10)
    seen shouldBe Seq(0, 10, 20)
  }

  test("appendStreamBatch is exactly-once: a replayed batchId commits nothing") {
    val t = graft.table.Icebox(tmpDir("stream-once"))
    t.appendStreamBatch("s1", 0L, Seq((1L, "a")).toDF("id", "s")) shouldBe defined
    t.appendStreamBatch("s1", 1L, Seq((2L, "b")).toDF("id", "s")) shouldBe defined
    val head = t.currentSnapshotId
    // crash-before-checkpoint replay: same stream, same batch
    t.appendStreamBatch("s1", 1L, Seq((2L, "b")).toDF("id", "s")) shouldBe None
    t.currentSnapshotId shouldBe head // no snapshot, no rows
    t.read(spark).count() shouldBe 2L
    // a DIFFERENT stream's batch 1 is independent
    t.appendStreamBatch("s2", 1L, Seq((3L, "c")).toDF("id", "s")) shouldBe defined
    t.read(spark).count() shouldBe 3L
    // markers survive interleaved non-stream commits
    t.append(Seq((4L, "d")).toDF("id", "s"))
    t.appendStreamBatch("s1", 1L, Seq((2L, "b")).toDF("id", "s")) shouldBe None
    t.appendStreamBatch("s1", 2L, Seq((5L, "e")).toDF("id", "s")) shouldBe defined
    t.read(spark).count() shouldBe 5L
    t.lastStreamBatch("s1") shouldBe Some(2L)
  }
}
