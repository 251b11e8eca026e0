package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class SemDeDupSpec extends SparkSpec {
  import spark.implicits._

  // two far-apart unit centroids; assignment is unambiguous for all fixtures
  private def centroids = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f))
  ).toDF("cluster_id", "centroid")

  test("keep-rule: the least-centroid-similar member of a duplicate group survives") {
    // ids 0 and 1 are near-dups (cosine 0.976) in cluster 0; id 0 sits ON
    // the centroid (csim 1.0), id 1 is the outlier — the paper's rule keeps
    // the OUTLIER, so min-id must NOT win here
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.2f)),
      (5L, Array(0.0f, 1.0f)) // unrelated, cluster 1
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDeDup(df, centroids, "embedding", "vec_id", threshold = 0.95)
      .orderBy("vec_id").collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 5L)
    val survivor = out.head
    survivor.getLong(1) shouldBe 0L // cluster_id
    survivor.getDouble(2) should be < 1.0 // the outlier, not the centroid-sitter
  }

  test("duplicate groups close transitively within a cluster") {
    // a~b (0.970) and b~c (0.966) but a~c only 0.88 — still ONE survivor,
    // and it is c, the least centroid-similar of the component
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.97f, 0.24f)),
      (2L, Array(0.88f, 0.47f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDeDup(df, centroids, "embedding", "vec_id", threshold = 0.95)
      .collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("candidacy is cluster-bounded: similar vectors in different clusters both survive") {
    // cosine((0.8,0.6),(0.6,0.8)) = 0.96 >= threshold, but they assign to
    // different centroids — SemDeDup by design never compares across
    // clusters, so both remain (the paper's documented recall bound)
    val df = Seq(
      (0L, Array(0.8f, 0.6f)),
      (1L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDeDup(df, centroids, "embedding", "vec_id", threshold = 0.95)
      .orderBy("vec_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((0L, 0L), (1L, 1L))
  }

  test("unique vectors pass through with assignment evidence") {
    val df = Seq(
      (7L, Array(1.0f, 0.0f)),
      (8L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDeDup(df, centroids, "embedding", "vec_id", threshold = 0.99)
      .orderBy("vec_id").collect()
    out.length shouldBe 2
    out(0).getLong(1) shouldBe 0L
    out(0).getDouble(2) shouldBe 1.0 +- 1e-9
    out(1).getLong(1) shouldBe 1L
  }

  test("maxClusterSize bounds the candidate fan-out of a pathological one-cluster corpus") {
    // every vector lands in cluster 0 (single centroid): unguarded
    // candidacy is the full n(n-1)/2 cartesian — the r13 scale hazard
    val rnd = new scala.util.Random(7)
    val n = 200
    val base = (0 until n).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }
    val keyed = base.toDF("__id", "__v")
      .withColumn("__cluster", lit(0L))
    val unguarded = Dedup.clusterPairs(keyed, maxClusterSize = 1 << 16, seed = 42L)
    unguarded.count() shouldBe n.toLong * (n - 1) / 2
    val guarded = Dedup.clusterPairs(keyed, maxClusterSize = 16, seed = 42L)
    // ceil(log2(200/16)) = 4 planes -> 16 sign buckets; the pair count
    // collapses from 19900 to the within-bucket sum (expected ~n²/2·2⁻ᵖ)
    val bounded = guarded.count()
    bounded should be < (n.toLong * (n - 1) / 2 / 4)
    // and identical vectors can NEVER be split by sign sub-bucketing
    val withDups = (base ++ base.take(5).map { case (id, v) => (id + 1000L, v) })
      .toDF("__id", "__v").withColumn("__cluster", lit(0L))
    val pairs = Dedup.clusterPairs(withDups, maxClusterSize = 16, seed = 42L)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i => pairs should contain((i.toLong, i + 1000L)) }
  }

  test("semDeDup under an engaged guard still drops every exact duplicate") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 120).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    }
    val df = (base ++ base.take(10).map { case (id, v) => (id + 5000L, v) })
      .toDF("vec_id", "embedding")
    val oneCentroid = Seq((0L, Array.fill(8)(0.1f))).toDF("cluster_id", "centroid")
    val out = Dedup.semDeDup(df, oneCentroid, "embedding", "vec_id",
      threshold = 0.9999, maxClusterSize = 8)
    out.count() shouldBe 120L
    out.filter(col("vec_id") >= 5000L).count() shouldBe 0L
  }

  test("KMeans-trained centroids dedup exact duplicates end to end") {
    val base = (0 until 40).map { i =>
      val a = (math.cos(i / 40.0 * math.Pi * 2)).toFloat
      val b = (math.sin(i / 40.0 * math.Pi * 2)).toFloat
      (i.toLong, Array(a, b))
    }
    val withDups = base ++ base.take(5).map { case (id, v) => (id + 1000L, v) }
    val df = withDups.toDF("vec_id", "embedding")
    val trained = Similarity.ivfTrain(df, nlist = 4, seed = 7L)
    val out = Dedup.semDeDup(df, trained, "embedding", "vec_id", threshold = 0.999)
    // every exact-duplicate pair co-clusters (identical vector, identical
    // argmin), has cosine 1.0, equal csim -> min id survives
    out.count() shouldBe 40L
    out.filter(col("vec_id") >= 1000L).count() shouldBe 0L
  }

  test("semDeDupInsert: corpus dups drop, novel admit, re-offer wave appends ZERO") {
    val corpus = graft.table.Icebox(tmpDir("sdi-corpus"))
    val w1 = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.2f)),  // near-dup of 0 -> in-batch keep-rule: outlier 1 wins
      (5L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    Dedup.semDeDupInsert(corpus, centroids, w1, "embedding", "vec_id",
      threshold = 0.95) shouldBe 2L
    corpus.read(spark).select("vec_id").as[Long].collect().sorted shouldBe Array(1L, 5L)
    // files are cluster-partitioned (the manifest-pruned probe layout)
    corpus.currentSnapshot.get.files.forall(_.partition.contains("cluster_id")) shouldBe true
    // wave 2: a near-dup of kept corpus content (even though it is MORE of
    // an outlier, corpus content is immutable -> it drops), plus novel
    val w2 = Seq(
      (10L, Array(0.85f, 0.3f)), // cosine vs kept (0.9,0.2) = 0.987 -> drop
      (11L, Array(-1.0f, 0.1f))  // novel
    ).toDF("vec_id", "embedding")
    Dedup.semDeDupInsert(corpus, centroids, w2, "embedding", "vec_id",
      threshold = 0.95) shouldBe 1L
    // wave 3: pure re-offer of corpus content under fresh ids -> ZERO
    // appended AND zero commits (the zero-work path)
    val before = corpus.currentSnapshotId
    val events0 = corpus.commitEvents.get()
    val w3 = corpus.read(spark).select(
      (col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Dedup.semDeDupInsert(corpus, centroids, w3, "embedding", "vec_id",
      threshold = 0.95) shouldBe 0L
    corpus.currentSnapshotId shouldBe before
    corpus.commitEvents.get() shouldBe events0
    // commit budget: a fresh two-wave run is ONE commit per appending wave
    val c2 = graft.table.Icebox(tmpDir("sdi-budget"))
    val e0 = c2.commitEvents.get()
    Dedup.semDeDupInsert(c2, centroids, w1, "embedding", "vec_id", threshold = 0.95)
    c2.commitEvents.get() - e0 shouldBe 1L
    c2.properties("semdedup.centroids").nonEmpty shouldBe true // rode the append
  }

  test("semDeDupInsert refuses different centroids on a later wave") {
    val corpus = graft.table.Icebox(tmpDir("sdi-refuse"))
    val w1 = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    Dedup.semDeDupInsert(corpus, centroids, w1, "embedding", "vec_id")
    val other = Seq((0L, Array(0.6f, 0.8f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cluster_id", "centroid")
    val e = intercept[IllegalArgumentException] {
      Dedup.semDeDupInsert(corpus, other,
        Seq((2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding"), "embedding", "vec_id")
    }
    e.getMessage should include("SAME")
  }

  test("semDeDupInsert wave-1 survivors equal batch semDeDup survivors") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 60L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i, base.map(x => x + rnd.nextGaussian().toFloat * 0.3f))
    }.toDF("vec_id", "embedding")
    val corpus = graft.table.Icebox(tmpDir("sdi-equiv"))
    Dedup.semDeDupInsert(corpus, centroids, vecs, "embedding", "vec_id",
      threshold = 0.98)
    val batchSurvivors = Dedup.semDeDup(vecs, centroids, "embedding", "vec_id",
      threshold = 0.98).select("vec_id")
    assertSameRows(corpus.read(spark).select("vec_id"), batchSurvivors)
  }

  test("semDeDupInsert probe reads only the batch's cluster partitions") {
    val corpus = graft.table.Icebox(tmpDir("sdi-prune"))
    val w1 = Seq((0L, Array(1.0f, 0.0f)), (5L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Dedup.semDeDupInsert(corpus, centroids, w1, "embedding", "vec_id")
    // a batch entirely in cluster 1: the probe's IN-filter on the
    // partition column must prune to cluster_id=1 files at the file index
    // (exactly the listing the planner asks for)
    val snap = corpus.currentSnapshot.get
    val partSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType)))
    val index = new graft.plans.IceboxFileIndex(spark, corpus, snap.files, snap.schemaJson, Some(snap.id),
      partSchema)
    val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "cluster_id", org.apache.spark.sql.types.LongType)()
    val pruned = index.listFiles(Seq(
      org.apache.spark.sql.catalyst.expressions.In(attr,
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(1L)))), Nil)
    val prunedPaths = pruned.flatMap(_.files.map(_.getPath.toString))
    prunedPaths should not be empty
    prunedPaths.foreach(p => p should include("cluster_id=1"))
    prunedPaths.size should be < snap.files.size
  }
}
