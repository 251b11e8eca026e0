package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three tiers, by scale:
  *  - `bruteForceTopK` — exact: broadcast the (small) query set against the
  *    full corpus; one corpus scan, no shuffle of the corpus. The baseline.
  *  - `lshTopK` — approximate: random-hyperplane signatures bucket the
  *    corpus; queries probe only their own bucket (plus optional multi-probe
  *    neighbors). Corpus-side work ∝ bucket size, not corpus size.
  *  - `ivfTopK` — approximate: IVF (inverted-file) clustering with
  *    deterministic seed centroids; queries probe the `nprobe` nearest
  *    centroid lists. This is the 100 TB path: the candidate join is an
  *    equi-join on `cluster_id`, so Catalyst shuffles candidates only.
  *
  * Scoring uses the native codegen'd `graft_cosine` expression
  * (`VectorExpressions` — ~30× the throughput of the interpreted
  * `zip_with`/`aggregate` route, bit-identical results); the builtin-only
  * `cosine`/`l2sq` columns remain for session-free composition.
  */
object Similarity {

  /** Cosine similarity of two float-array columns (0 when either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (sqrt(na) * sqrt(nb)))
  }

  /** Squared L2 distance. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Deterministic pseudo-random hyperplanes (driver-side seeded constants),
    * packed sign bits: bit p = [vec · plane_p > 0]. Used for LSH bucketing.
    * The planes are array<float> literals and each per-plane dot is the
    * native codegen'd dot product, a tight primitive loop.
    */
  def hyperplaneSignatureFast(spark: org.apache.spark.sql.SparkSession,
      vec: Column, dim: Int, planes: Int, seed: Long): Column = {
    val rnd = new scala.util.Random(seed)
    val planeVecs = Array.fill(planes, dim)(rnd.nextGaussian().toFloat)
    (0 until planes).map { p =>
      val dot = VectorExpressions.dot(spark, vec, lit(planeVecs(p)))
      when(dot > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Exact top-k by cosine: broadcast `queries` (must be small), scan the
    * corpus once, rank per query. Deterministic tie-break on corpus id.
    *
    * Shuffle volume: the `row_number <= k` filter is pushed below the
    * exchange by Spark's rank-limit pushdown — the physical plan shows
    * `WindowGroupLimit(..., row_number, k, Partial)` BEFORE the Exchange,
    * so each map task ships only its local top-k per query
    * (partitions × k × |Q| rows), not the full corpus × |Q| score matrix.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val joined = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .crossJoin(q)
    val scored = (if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id")) else joined)
      .withColumn("__cos", VectorExpressions.cosine(corpus.sparkSession, col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("__cos"), 4).as("cosine"),
        col("__rk").as("rank"))
  }

  /** LSH-bucketed approximate top-k: corpus and queries signed with the same
    * hyperplanes; candidates = same signature bucket. Recall improves with
    * fewer planes (bigger buckets) — the classic tradeoff knob.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      planes: Int = 8, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val sigC = hyperplaneSignatureFast(corpus.sparkSession, col(vecCol), dim, planes, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), sigC.as("__sig"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      hyperplaneSignatureFast(corpus.sparkSession, col(vecCol), dim, planes, seed).as("__sig")))
    val scored = c.join(q, "__sig")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__cos", VectorExpressions.cosine(corpus.sparkSession, col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("__cos"), 4).as("cosine"),
        col("__rk").as("rank"))
  }

  /** IVF with trained centroids: fit seeded KMeans (MLlib) on a sample of
    * the corpus and run the probe against those centroids. The win over
    * seed-row centroids is BALANCED lists (measured on the testdata:
    * median list ≈ mean, max ≈ 1.6× mean vs heavy skew for seed rows), so
    * per-probe candidate cost is bounded and predictable — on structureless
    * random vectors raw recall at equal nprobe can trail seed centroids
    * precisely because skewed seed lists scan more of the corpus; on real
    * clustered embeddings balanced cells dominate the cost/recall frontier.
    * Training is a one-time cost amortized over all queries (at 100 TB: fit
    * on a sample, persist centroids, reuse per sync).
    */
  def ivfTopKKmeans(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      trainFraction: Double = 1.0, maxIter: Int = 20,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    ivfTopKWith(corpus, queries,
      ivfTrain(corpus, nlist, seed, trainFraction, maxIter, vecCol),
      k, nprobe, vecCol, idCol)

  /** Train IVF centroids ONCE (seeded KMeans on a sample) and return them
    * as a tiny DataFrame `(cluster_id long, centroid array<float>)` —
    * persist to any table (an Icebox works) and hand to `ivfTopKWith` per
    * query batch. At 100 TB this is the operating shape: the fit touches a
    * sample, the centroids are metadata, and every subsequent probe skips
    * training entirely.
    */
  def ivfTrain(corpus: DataFrame, nlist: Int = 16, seed: Long = 42L,
      trainFraction: Double = 1.0, maxIter: Int = 20,
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import corpus.sparkSession.implicits._
    val train = (if (trainFraction < 1.0) corpus.sample(trainFraction, seed) else corpus)
      .select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter).fit(train)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }.toSeq
      .toDF("cluster_id", "centroid")
  }

  /** IVF top-k against PRE-TRAINED centroids `(cluster_id, centroid)` from
    * `ivfTrain` (possibly read back from a table). The centroid set is
    * collected to the driver (nlist rows — plan constants, not data) and
    * fused into the assignment projection exactly like the seed path.
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cs = centroids.select(col("cluster_id").cast("long"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    ivfWithCentroids(corpus, queries, cs, k, nprobe, vecCol, idCol)
  }

  /** IVF top-k: (1) pick `nlist` deterministic seed centroids (lowest ids —
    * at scale: a KMeans fit on a sample, plugged in the same way);
    * (2) assign every corpus vector to its nearest centroid — broadcast join
    * against the tiny centroid set; (3) per query, probe the `nprobe`
    * nearest centroids' lists only. The candidate join is an equi-join on
    * `__cluster`, so corpus rows outside probed lists are never touched.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // nlist rows to the driver — centroids are plan constants, not data
    val centroids = corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    ivfWithCentroids(corpus, queries, centroids, k, nprobe, vecCol, idCol)
  }

  /** Centroid assignment as pure expressions over centroid LITERALS — the
    * centroid set is tiny and known at plan time, so nearest-centroid is a
    * narrow, codegen'd projection (nlist fused `graft_l2sq` calls + a struct
    * argmin), NOT a crossJoin + window. The crossJoin form inflates the
    * corpus nlist× and then shuffles ALL of it just to compute a per-row
    * argmin — at 100 TB that shuffle IS the query; this form shuffles
    * nothing until the (probe-bounded) candidate join.
    */
  private def ivfWithCentroids(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
      vecCol: String, idCol: String): DataFrame = {
    val spark = corpus.sparkSession
    def nearestCluster(vec: Column): Column = nearestCidCol(spark, centroids, vec)
    def nearestClusters(vec: Column, n: Int): Column =
      transform(slice(array_sort(distStructs(spark, centroids, vec)), 1, n),
        s => s.getField("cid"))

    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      nearestCluster(col(vecCol)).as("__cluster"))
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(nearestClusters(col(vecCol), nprobe)).as("__cluster")))

    val scored = assigned.join(broadcast(probes), "__cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__cos", VectorExpressions.cosine(corpus.sparkSession, col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("__cos"), 4).as("cosine"),
        col("__rk").as("rank"))
  }

  /** Nearest-centroid CID via the native argmin kernel
    * (`graft_argmin_l2`: one tight generated loop over the flattened
    * centroid literal) — the CORPUS-side assignment used by every ingest/
    * migration path. The composed struct-array form below builds k struct
    * objects per row and re-evaluates wherever the optimizer inlines the
    * alias — measured 44 s for a 200k x 64-dim x k=64 ingest vs ~2 s
    * through the kernel (PLANS.md r15). Arithmetic and tie-breaks are
    * bit-identical: same left-to-right double L2, and sorting centroids
    * by cid makes the kernel's lowest-index tie equal the struct
    * ordering's lowest-cid tie.
    */
  private def nearestCidCol(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Long, Array[Float])], vec: Column): Column = {
    val sorted = centroids.sortBy(_._1)
    element_at(lit(sorted.map(_._1).toArray),
      VectorExpressions.argminL2(spark, vec,
        lit(sorted.flatMap(_._2).toArray), lit(sorted.size)) + 1)
  }

  /** array of struct(distance, cid) over the centroid LITERALS — struct
    * ordering = (distance, cid), a deterministic tie-break. Shared by the
    * one-shot IVF ops' QUERY side (top-n probes need the full ranking;
    * the corpus-side single-argmin goes through [[nearestCidCol]]).
    */
  private def distStructs(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Long, Array[Float])], vec: Column): Column =
    array(centroids.map { case (cid, c) =>
      struct(VectorExpressions.l2sq(spark, vec, lit(c)).as("d"), lit(cid).as("cid"))
    }: _*)

  private[graft] def collectCentroids(centroids: DataFrame): Seq[(Long, Array[Float])] =
    centroids.select(col("cluster_id").cast("long"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  /** Nearest-centroid assignment WITH the cosine to the winning centroid,
    * as `struct(cid, csim)` — the [[nearestCidCol]] kernel plus ONE cosine
    * against the winning centroid looked up from an `array<array<float>>`
    * literal (the previous k-struct array_min built k (d, cid, csim)
    * structs per row — 2k fused vector calls — and the caller's two
    * getFields each re-inlined the whole tree). Same values and
    * tie-breaks: argmin ties to the lowest index == lowest cid under the
    * cid-sorted flattening. Map-only: no join, no shuffle. Used by
    * [[Dedup.semDeDup]]'s cluster-bounded candidacy.
    */
  private[graft] def assignWithSim(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Long, Array[Float])], vec: Column): Column = {
    val sorted = centroids.sortBy(_._1)
    val idx = VectorExpressions.argminL2(spark, vec,
      lit(sorted.flatMap(_._2).toArray), lit(sorted.size))
    val cvec = element_at(typedLit(sorted.map(_._2.toSeq)), idx + 1)
    struct(
      element_at(lit(sorted.map(_._1).toArray), idx + 1).as("cid"),
      VectorExpressions.cosine(spark, vec, cvec).as("csim"))
  }

  // ------------------------------------------------- persisted IVF index

  /** Incrementally add `batch` to a PERSISTED IVF index: each vector is
    * assigned to its nearest centroid (codegen'd argmin over the centroid
    * literals — no crossJoin, no shuffle) and appended to the index table
    * PARTITIONED BY the assigned `list`, so the posting lists ARE the
    * table's partition layout. One-shot `ivfTopK*` re-assigns the whole
    * corpus per query batch; with the index, assignment is paid once per
    * vector at ingest and [[ivfSearch]] reads only the probed partitions —
    * the operating shape at 100 TB. `centroids` must be the SAME frame
    * (e.g. the persisted output of [[ivfTrain]]) across every insert and
    * search on one index. Returns the number of vectors appended
    * (manifest-exact, no extra job).
    */
  def ivfInsert(index: graft.table.Icebox, centroids: DataFrame, batch: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): Long = {
    val spark = batch.sparkSession
    val cs = collectCentroids(centroids)
    val before = index.rowCount.getOrElse(0L)
    if (!index.exists)
      // hash distribution: each posting list is written by the tasks that
      // own its rows, not a sliver from EVERY task (tasks x nlist files
      // per commit otherwise — the classic partitioned-write explosion)
      index.setProperties(Map("write.distribution-mode" -> "hash"))
    val assigned = batch.withColumn("list", nearestCidCol(spark, cs, col(vecCol)))
    index.append(assigned, partitionBy = Seq("list"))
    index.rowCount.getOrElse(0L) - before
  }

  /** Re-point a persisted IVF index at NEW centroids — O(moved), not
    * O(index): maintenance for the known failure mode of a frozen-centroid
    * IVF under distribution drift (later batches pile into few lists,
    * probe cost grows toward a corpus scan, boundary-straddling neighbors
    * split across lists).
    *
    * Two passes, both bounded by what actually changed:
    *
    *  1. DISCOVERY — one full scan computing the per-`(old list, new
    *     list)` movement counts (the same codegen'd argmin as ingest;
    *     the collect is bounded by nlist², plan-constant-sized like the
    *     centroids themselves). Unavoidable: every vector's nearest
    *     centroid can change under a retrain, so every vector must be
    *     LOOKED AT once — but looking is a columnar read, not a write.
    *  2. REWRITE — only the posting-list partitions that gained or lost
    *     vectors are re-read (manifest-pruned) and rewritten; every
    *     untouched list's files carry into the new snapshot BY REFERENCE
    *     (the [[graft.table.Icebox.overwritePartitions]] economics).
    *     Under gradual drift most lists are untouched, so index
    *     maintenance is proportional to moved vectors — at 100 TB the
    *     difference between rewriting a few posting lists and rewriting
    *     the world. The swap stays atomic at the table head, guarded
    *     against cross-process commits landing mid-reassign.
    *
    * Rebuild equivalence: the post-reassign table READS identically to an
    * index built from scratch under `centroids` (SimilaritySpec pins it).
    * Returns the number of vectors that MOVED lists (0 = no-op, no
    * commit).
    */
  def ivfReassign(spark: org.apache.spark.sql.SparkSession, index: graft.table.Icebox,
      centroids: DataFrame, vecCol: String = "embedding"): Long = {
    val cs = collectCentroids(centroids)
    require(cs.nonEmpty, "ivfReassign needs at least one centroid")
    val snap = index.currentSnapshot.getOrElse(return 0L)
    val headId = snap.id
    // pass 1: movement census — (old, new, count), collect bounded by nlist²
    val pairs = index.read(spark)
      .groupBy(col("list"), nearestCidCol(spark, cs, col(vecCol)).as("__new"))
      .count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val moved = pairs.filter { case (o, n, _) => o != n }
    if (moved.isEmpty) return 0L
    val affected: Set[String] =
      moved.flatMap { case (o, n, _) => Seq(o.toString, n.toString) }.toSet
    // pass 2: manifest-pruned — re-run the argmin on ONLY the affected
    // partitions' rows (vectors live in the index; unmoved rows in them
    // recompute to their own list). A file from a generation not
    // partitioned by `list` could hide rows of any list — if one exists,
    // rewrite everything (safe fallback; ivfInsert always partitions).
    val conforming = snap.files.forall(_.partition.contains("list"))
    val removedF = snap.files.filter(f =>
      !conforming || f.partition.get("list").forall(affected.contains))
    val replacement = index.readDataFiles(spark, removedF).drop("list")
      .withColumn("list", nearestCidCol(spark, cs, col(vecCol)))
    index.rewriteFiles("reassign", removedF, replacement, Seq("list"),
      expectHeadId = headId)
    moved.map(_._3).sum
  }

  /** Refit centroids on the CURRENT index contents (seeded KMeans on a
    * sample — [[ivfTrain]]) and migrate the posting lists to them
    * ([[ivfReassign]]). Returns the new `(cluster_id, centroid)` frame —
    * persist it: every subsequent [[ivfInsert]]/[[ivfSearch]] on this
    * index must use these centroids, and the old frame is invalid the
    * moment this returns.
    */
  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, index: graft.table.Icebox,
      nlist: Int = 16, seed: Long = 42L, trainFraction: Double = 1.0,
      maxIter: Int = 20, vecCol: String = "embedding"): DataFrame = {
    val newCentroids = ivfTrain(index.read(spark).drop("list"),
      nlist, seed, trainFraction, maxIter, vecCol)
    ivfReassign(spark, index, newCentroids, vecCol)
    newCentroids
  }

  // ----------------------------------------------- IVF-PQ (product quant.)

  /** Train product-quantization codebooks: the (L2-normalized) vector is
    * split into `m` contiguous subspaces and each subspace gets its own
    * `codes`-entry codebook from a seeded KMeans fit. Returns a tiny frame
    * `(subspace int, code int, centroid array<float>)` — persist it like
    * [[ivfTrain]]'s output; every encode/search on one index must use the
    * same frame.
    *
    * Normalizing before quantization makes ADC's L2 ordering monotone with
    * cosine (for unit vectors `|u-v|² = 2 - 2·cos`), so the PQ stage ranks
    * by the same geometry the exact re-rank scores.
    *
    * 100 TB: the fit touches a sample (`trainFraction`), the codebooks are
    * `m × codes × (dim/m)` floats of METADATA, and the index stores `m`
    * bytes per vector instead of `4·dim` — at dim 64 / m 8 that is 32× less
    * posting-list I/O per probe, which is the scan cost that dominates IVF
    * search once lists no longer fit in page cache.
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, codes: Int = 16, seed: Long = 42L,
      trainFraction: Double = 1.0, maxIter: Int = 20,
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(m >= 1 && m <= 8, s"m must be in 1..8 (one byte per subspace code, got $m)")
    require(codes >= 2 && codes <= 256, s"codes must be in 2..256 (got $codes)")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim must divide into $m subspaces")
    val sub = dim / m
    // codebook training is a BOUNDED-SAMPLE problem (the FAISS operating
    // shape: fit on <=1M sampled vectors regardless of corpus size), so the
    // fit runs DRIVER-SIDE: m seeded Lloyd's runs over the sample's
    // subvectors. A distributed KMeans per subspace costs hundreds of
    // scheduler round-trips (init rounds + maxIter jobs, times m) for zero
    // parallelism benefit at sample scale — measured 10-18 s of the
    // q_ann_ivfpq wall vs <0.5 s driver-side on the same 5000-row sample.
    val sample = withUnit(spark,
      (if (trainFraction < 1.0) corpus.sample(trainFraction, seed) else corpus)
        .select(col(vecCol).as("__v")), "__v", "__u")
      .select("__u").collect().map(_.getSeq[Float](0).toArray)
    require(sample.length >= codes,
      s"need at least $codes sample vectors to fit $codes codes (got ${sample.length})")
    require(sample.length <= (1 << 20),
      s"PQ training sample ${sample.length} exceeds 2^20 — lower trainFraction " +
        "(codebooks converge on a bounded sample; collecting more is waste)")
    fitCodebooks(spark, sample, m, codes, seed, maxIter)
  }

  /** Train the codebooks on RESIDUALS `u - m_list` (unit vector minus the
    * unit-normalized assigned IVF centroid) — the FAISS IVF-PQ shape and
    * what [[ivfPqInsert]]/[[ivfPqSearch]] encode. Residuals matter exactly
    * where plain PQ is weakest: within a tight cluster every vector is
    * near the centroid, so the RAW subvectors all quantize to the same few
    * codes and neighbor order drowns below quantization error, while the
    * residuals ARE the within-cluster geometry (measured: recall@refine
    * 0.23 -> far higher on an engineered tight-cluster corpus, PLANS.md
    * r15). Must be trained and searched with the same `centroids` frame.
    */
  def pqTrainResidual(corpus: DataFrame, centroids: DataFrame, m: Int = 8,
      codes: Int = 16, seed: Long = 42L, trainFraction: Double = 1.0,
      maxIter: Int = 20, vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    require(m >= 1 && m <= 8, s"m must be in 1..8 (one byte per subspace code, got $m)")
    require(codes >= 2 && codes <= 256, s"codes must be in 2..256 (got $codes)")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim must divide into $m subspaces")
    val cs = collectCentroids(centroids)
    require(cs.nonEmpty, "pqTrainResidual needs at least one centroid")
    val sample = withResidual(spark, cs,
      (if (trainFraction < 1.0) corpus.sample(trainFraction, seed) else corpus)
        .select(col(vecCol).as("__v")), "__v", "__r")
      .select("__r").collect().map(_.getSeq[Float](0).toArray)
    require(sample.length >= codes,
      s"need at least $codes sample vectors to fit $codes codes (got ${sample.length})")
    require(sample.length <= (1 << 20),
      s"PQ training sample ${sample.length} exceeds 2^20 — lower trainFraction")
    fitCodebooks(spark, sample, m, codes, seed, maxIter)
  }

  private def fitCodebooks(spark: org.apache.spark.sql.SparkSession,
      sample: Array[Array[Float]], m: Int, codes: Int, seed: Long,
      maxIter: Int): DataFrame = {
    import spark.implicits._
    val sub = sample.head.length / m
    val cb = (0 until m).flatMap { s =>
      val pts = sample.map { v =>
        val p = new Array[Double](sub)
        var i = 0
        while (i < sub) { p(i) = v(s * sub + i); i += 1 }
        p
      }
      lloyd(pts, codes, seed + s, maxIter).zipWithIndex.map { case (c, i) =>
        (s, i, c.map(_.toFloat))
      }
    }
    cb.toDF("subspace", "code", "centroid")
  }

  /** Unit-normalize driver-side (same arithmetic as [[withUnit]]'s column
    * path: double accumulate, divide, cast back).
    */
  private def unitF(v: Array[Float]): Array[Float] = {
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
    if (n2 == 0.0) v.clone()
    else {
      val n = math.sqrt(n2)
      v.map(x => (x.toDouble / n).toFloat)
    }
  }

  /** Adds `outCol` = the RESIDUAL of `vecCol`: unit(vec) minus the
    * unit-normalized nearest IVF centroid (assignment argmin on the RAW
    * vector — identical to the posting-list assignment, so residual and
    * list always agree). The argmin index is bound to its own column
    * first; the reference-vector lookup is one `element_at` over an
    * array-of-arrays literal, the subtraction a native kernel.
    */
  private def withResidual(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Long, Array[Float])], df: DataFrame,
      vecCol: String, outCol: String): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val refs = typedLit(sorted.map(c => unitF(c._2).toSeq))
    withUnit(spark, df, vecCol, "__pq_u")
      .withColumn("__pq_ci", VectorExpressions.argminL2(spark, col(vecCol),
        lit(sorted.flatMap(_._2).toArray), lit(sorted.size)))
      .withColumn(outCol, VectorExpressions.vecSub(spark, col("__pq_u"),
        element_at(refs, col("__pq_ci") + 1)))
      .drop("__pq_u", "__pq_ci")
  }

  /** Deterministic seeded Lloyd's k-means on driver-side points: seeded
    * shuffle picks k (distinct-preferred) initial centers; each iteration
    * assigns to the nearest center (ties to the lowest index) and
    * recomputes means; empty clusters keep their previous center. Exact
    * same-input same-output across runs.
    */
  private def lloyd(pts: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val shuffled = rnd.shuffle(pts.indices.toVector).map(pts)
    val distinct = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val seen = scala.collection.mutable.HashSet[Seq[Double]]()
    shuffled.foreach { p => if (seen.add(p.toSeq) && distinct.size < k) distinct += p }
    // fewer distinct points than codes: pad with repeats — duplicate
    // centers tie-break to the lowest code index, deterministically
    val centers = Array.tabulate(k)(i => distinct(i % distinct.size).clone())
    val dim = pts.headOption.map(_.length).getOrElse(0)
    val assign = new Array[Int](pts.length)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var j = 0
          while (j < dim) { val t = p(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i2 = 0
      while (i2 < pts.length) {
        val c = assign(i2)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += pts(i2)(j); j += 1 }
        i2 += 1
      }
      var c2 = 0
      while (c2 < k) {
        if (counts(c2) > 0) {
          var j = 0
          while (j < dim) { centers(c2)(j) = sums(c2)(j) / counts(c2); j += 1 }
        } // empty cluster: keep the previous center
        c2 += 1
      }
      iter += 1
    }
    centers
  }

  /** Add a unit-normalized copy of `vecCol` as `outCol` (zero vectors pass
    * through unscaled). The norm is bound to its own column FIRST so the
    * per-element division references an attribute — inlining the dot
    * product into the transform lambda would re-evaluate it per element
    * (the O(d²) trap bindOnce documents for shingles).
    */
  private def withUnit(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      vecCol: String, outCol: String): DataFrame =
    df.withColumn("__pq_nrm",
        sqrt(VectorExpressions.dot(spark, col(vecCol), col(vecCol))))
      .withColumn(outCol, when(col("__pq_nrm") === 0.0, col(vecCol))
        .otherwise(transform(col(vecCol),
          x => (x.cast("double") / col("__pq_nrm")).cast("float"))))
      .drop("__pq_nrm")

  private[graft] def collectCodebooks(codebooks: DataFrame): Array[Array[Array[Float]]] = {
    val rows = codebooks.select(col("subspace").cast("int"), col("code").cast("int"),
      col("centroid")).collect()
    require(rows.nonEmpty, "empty codebook frame")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Array[Float]](m, k)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    require(out.forall(_.forall(_ != null)), "codebook frame has holes")
    out
  }

  /** The codebooks as one flattened float-array literal (layout
    * `[(s*codes + c) * sub + j]`) — the constant the native PQ kernels
    * loop over. One plan literal regardless of m and codes.
    */
  private def cbFlatLit(cbs: Array[Array[Array[Float]]]): Column =
    lit(cbs.flatten.flatten)

  /** PQ codes of a unit-normalized bound vector column, PACKED into one
    * bigint (code of subspace s in byte s — m <= 8, codes <= 256 make the
    * pack exact). ONE native codegen'd expression (graft_pq_encode) looping
    * over the flattened codebook literal: the previous composed-builtin
    * form (m×codes fused l2sq calls inside array_min) generated past
    * janino's 64 KB method limit at the defaults and silently fell back to
    * interpreted execution. Arithmetic unchanged: per-subspace argmin of
    * left-to-right double L2, ties to the lowest code.
    */
  private def pqCodeCol(spark: org.apache.spark.sql.SparkSession,
      cbs: Array[Array[Array[Float]]], unitVec: Column): Column =
    graft.functions.PqExpressions.encode(spark, unitVec, cbFlatLit(cbs),
      lit(cbs.length), lit(cbs(0).length))

  /** The per-query ADC lookup table over the codebook literal: entry
    * `s*codes + c` holds the squared L2 distance between the query's s-th
    * (normalized) subvector and code c's centroid. Computed on the (small,
    * broadcast) query side only — same single-kernel form as the encode.
    */
  private def pqLutCol(spark: org.apache.spark.sql.SparkSession,
      cbs: Array[Array[Array[Float]]], unitVec: Column): Column =
    graft.functions.PqExpressions.lut(spark, unitVec, cbFlatLit(cbs),
      lit(cbs.length), lit(cbs(0).length))

  /** `(idCol, codes, list)` for a batch: one argmin kernel pass bound to
    * its own column serves BOTH the posting-list cid and the residual
    * reference lookup; codes encode the RESIDUAL `unit(vec) - m_list`
    * (the FAISS IVF-PQ shape — see [[pqTrainResidual]] for why).
    */
  private def pqAssignEncode(spark: org.apache.spark.sql.SparkSession,
      cs: Seq[(Long, Array[Float])], cbs: Array[Array[Array[Float]]],
      batch: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val sorted = cs.sortBy(_._1)
    val refs = typedLit(sorted.map(c => unitF(c._2).toSeq))
    val cids = lit(sorted.map(_._1).toArray)
    withUnit(spark, batch.select(col(idCol), col(vecCol).as("__v")), "__v", "__u")
      .withColumn("__ci", VectorExpressions.argminL2(spark, col("__v"),
        lit(sorted.flatMap(_._2).toArray), lit(sorted.size)))
      .withColumn("list", element_at(cids, col("__ci") + 1))
      .withColumn("codes", pqCodeCol(spark, cbs,
        VectorExpressions.vecSub(spark, col("__u"), element_at(refs, col("__ci") + 1))))
      .select(col(idCol), col("codes"), col("list"))
  }

  /** Incrementally add `batch` to a persisted IVF-PQ index: the posting
    * list is the full-vector nearest-centroid argmin (identical to
    * [[ivfInsert]]), but the stored payload is the PACKED PQ CODE — one
    * bigint of RESIDUAL codes (`unit(vec) - m_list`, the FAISS IVF-PQ
    * shape) — not the float vector. `(idCol, codes, list)` partitioned by
    * `list`: probes stay manifest-pruned partition reads, and each read
    * moves `m` bytes per candidate instead of `4·dim`. The full vectors
    * stay only in the corpus table, which [[ivfPqSearch]] joins for the
    * exact re-rank of the few surviving candidates. `codebooks` must be
    * [[pqTrainResidual]]'s output for the same `centroids`.
    */
  def ivfPqInsert(index: graft.table.Icebox, centroids: DataFrame,
      codebooks: DataFrame, batch: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): Long = {
    val spark = batch.sparkSession
    val cs = collectCentroids(centroids)
    val cbs = collectCodebooks(codebooks)
    val before = index.rowCount.getOrElse(0L)
    if (!index.exists)
      index.setProperties(Map("write.distribution-mode" -> "hash"))
    // record each list's RESIDUAL REFERENCE identity (`pq.ref.<cid>` =
    // hash of the unit centroid): codes are (vector, reference)-relative,
    // so [[ivfPqReassign]] needs to know which lists' references actually
    // changed to re-encode only those — and a second insert under
    // DIFFERENT centroids would silently corrupt the index (codes against
    // one reference, probes against another); require instead.
    val hashes = refHashes(cs)
    val recorded = recordedRefs(index)
    if (recorded.isEmpty) {
      // an index with rows but NO recorded references is a half-written
      // state (e.g. a crash mid-swap under the pre-replaceProperties
      // protocol): recording whatever centroids this call was handed
      // would bless them as truth over codes encoded under OTHERS —
      // refuse; the operator must reassign/retrain to re-establish them
      require(before == 0L,
        s"ivfPqInsert: index has $before rows but no recorded pq.ref.* " +
        "references — refusing to record this call's centroids over codes " +
        "of unknown provenance; run ivfPqReassign/ivfPqRetrain to " +
        "re-encode and re-record")
      index.setProperties(hashes.map { case (cid, h) => s"pq.ref.$cid" -> h } +
        ("pq.cb" -> cbHash(cbs)))
    }
    else require(hashes.forall { case (cid, h) => recorded.get(cid).contains(h) } &&
        recorded.keySet == hashes.keySet &&
        index.properties.get("pq.cb").forall(_ == cbHash(cbs)),
      "ivfPqInsert centroids/codebooks differ from the index's recorded " +
      "residual references — every insert on one index must use the SAME " +
      "centroid and codebook frames (retrain via ivfPqReassign/ivfPqRetrain, " +
      "which re-record them)")
    index.append(pqAssignEncode(spark, cs, cbs, batch, vecCol, idCol),
      partitionBy = Seq("list"))
    index.rowCount.getOrElse(0L) - before
  }

  /** MD5 of each list's unit-normalized centroid bits — the residual
    * reference identity [[ivfPqInsert]] records and [[ivfPqReassign]]
    * diffs (the reference is `unit(centroid)`, exactly what
    * `pqAssignEncode` subtracts before encoding).
    */
  private def refHashes(cs: Seq[(Long, Array[Float])]): Map[Long, String] =
    cs.map { case (cid, c) =>
      val u = unitF(c)
      val bb = java.nio.ByteBuffer.allocate(4 * u.length)
      u.foreach(bb.putFloat)
      val md = java.security.MessageDigest.getInstance("MD5")
      cid -> md.digest(bb.array()).map("%02x".format(_)).mkString
    }.toMap

  private def recordedRefs(index: graft.table.Icebox): Map[Long, String] =
    if (!index.exists) Map.empty
    else index.properties.collect {
      case (k, v) if k.startsWith("pq.ref.") => k.stripPrefix("pq.ref.").toLong -> v
    }

  /** Identity hash of a codebook set: codes are (vector, reference,
    * CODEBOOK)-relative, so a codebook refit invalidates every stored
    * code even where the reference is unchanged.
    */
  private def cbHash(cbs: Array[Array[Array[Float]]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(4)
    cbs.foreach(_.foreach(_.foreach { f =>
      bb.clear(); bb.putFloat(f); md.update(bb.array())
    }))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Re-point a persisted IVF-PQ index at NEW IVF centroids — the
    * [[ivfReassign]] maintenance path for the codes-only layout, O(moved
    * + changed-reference), not O(index). The index stores no vectors, so
    * discovery joins the stored ids back to `corpus` (the vector source
    * of truth) ONCE; codes encode RESIDUALS against the assigned list's
    * unit centroid, so a row needs re-encoding iff its list moved OR its
    * list's reference vector changed (diffed against the `pq.ref.<cid>`
    * hashes [[ivfPqInsert]] recorded — same codebooks throughout, the
    * usual FAISS retrain cadence until a [[pqTrainResidual]] refit).
    *
    * Cost shape at 100 TB:
    *  - discovery: one id-join pass (unavoidable — any vector's
    *    assignment can change); the cached frame keeps FULL VECTORS only
    *    for rows that must re-encode — O(moved) payload, ids/codes
    *    otherwise.
    *  - write: only partitions that gained/lost rows or whose reference
    *    changed are rewritten; untouched posting lists carry into the
    *    new snapshot BY REFERENCE. Under gradual drift that is a few
    *    lists, not the world.
    *
    * The stored ids must all resolve in `corpus`: an id the join would
    * silently drop would SHRINK the index with no signal, so missing ids
    * fail loud instead. Rebuild equivalence (SimilaritySpec): the
    * post-reassign table reads byte-identically to an index built from
    * scratch under `centroids` with the same codebooks. Returns the
    * number of vectors that MOVED lists (0 is a valid outcome when only
    * references changed — re-encodes still commit).
    */
  def ivfPqReassign(spark: org.apache.spark.sql.SparkSession,
      index: graft.table.Icebox, corpus: DataFrame, centroids: DataFrame,
      codebooks: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): Long = {
    val cs = collectCentroids(centroids)
    require(cs.nonEmpty, "ivfPqReassign needs at least one centroid")
    val cbs = collectCodebooks(codebooks)
    val snap = index.currentSnapshot.getOrElse(return 0L)
    val headId = snap.id
    val idxCount = index.rowCount.getOrElse(0L)
    val newHashes = refHashes(cs)
    val recorded = recordedRefs(index)
    // lists whose residual reference is new or changed (a pre-hash-era
    // index records nothing -> every list conservatively re-encodes);
    // a CODEBOOK refit invalidates every stored code — codes are
    // (vector, reference, codebook)-relative — so a changed pq.cb makes
    // every list a changed-reference list
    val newCb = cbHash(cbs)
    val cbChanged = !index.properties.get("pq.cb").contains(newCb)
    val changedRef: Set[Long] = cs.map(_._1)
      .filter(cid => cbChanged || !recorded.get(cid).contains(newHashes(cid))).toSet
    // DISCOVERY: one corpus join; vectors retained only where re-encoding
    // will need them (moved or changed-reference destination)
    val sorted = cs.sortBy(_._1)
    val newCol = nearestCidCol(spark, cs, col("__v"))
    val needVec = col("list") =!= col("__new") ||
      (if (changedRef.isEmpty) lit(false) else col("__new").isin(changedRef.toSeq: _*))
    val compact = index.read(spark).select(col(idCol), col("codes"), col("list"))
      .join(corpus.select(col(idCol), col(vecCol).as("__v")), Seq(idCol))
      .withColumn("__new", newCol)
      .select(col(idCol), col("codes"), col("list"), col("__new"),
        when(needVec, col("__v")).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = compact.groupBy(col("list"), col("__new")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val joined = pairs.map(_._3).sum
      require(joined == idxCount,
        s"ivfPqReassign: ${idxCount - joined} indexed ids are missing from " +
        "the corpus table — reassigning would silently shrink the index; " +
        "delete them from the index (or restore them in the corpus) first")
      val moved = pairs.filter { case (o, n, _) => o != n }
      val movedCount = moved.map(_._3).sum
      // partitions to rewrite: gained/lost rows, or hold rows under a
      // changed reference
      val occupied = pairs.flatMap { case (o, n, _) => Seq(o, n) }.toSet
      val rewrite: Set[Long] =
        moved.flatMap { case (o, n, _) => Seq(o, n) }.toSet ++
          (changedRef & occupied)
      if (rewrite.isEmpty) return 0L // nothing moved, no reference changed
      // a file from a generation not partitioned by `list` can hold rows
      // of ANY list: removing it forces every occupied list into the
      // rewrite set, or its untouched-list rows would be dropped (the
      // keep filter below must cover every row of every removed file)
      val conforming = snap.files.forall(_.partition.contains("list"))
      val rewriteFull = if (conforming) rewrite else occupied ++ rewrite
      val rewriteStr = rewriteFull.map(_.toString)
      val removedF = snap.files.filter(f =>
        !conforming || f.partition.get("list").forall(rewriteStr.contains))
      // REWRITE: unmoved rows under an unchanged reference keep their
      // stored codes verbatim; everything else re-encodes from the vector
      // the discovery pass retained
      val keep = compact.filter(col("list") === col("__new") && !needVec &&
          col("list").isin(rewriteFull.toSeq: _*))
        .select(col(idCol), col("codes"), col("list"))
      val reenc = pqAssignEncode(spark, sorted, cbs,
        compact.filter(needVec).select(col(idCol), col("__v").as(vecCol)),
        vecCol, idCol)
      index.rewriteFiles("reassign", removedF, keep.unionByName(reenc),
        Seq("list"), expectHeadId = headId)
      // the references now in force — recorded AFTER the commit so a
      // failed rewrite leaves the old (still-true) hashes in place, and
      // as ONE atomic swap: a crash between a separate remove and set
      // would leave rows with NO recorded references, which the next
      // insert's recorded.isEmpty branch would mis-read as a fresh index
      index.replaceProperties(
        recorded.keys.map(cid => s"pq.ref.$cid").toSeq,
        newHashes.map { case (cid, h) => s"pq.ref.$cid" -> h } +
          ("pq.cb" -> newCb))
      movedCount
    } finally compact.unpersist()
  }

  /** Full IVF-PQ retrain — the FAISS maintenance cadence in one call:
    * refit IVF centroids on the corpus (seeded bounded-sample KMeans,
    * [[ivfTrain]]), refit the RESIDUAL codebooks against them
    * ([[pqTrainResidual]] — the references move, so the codebooks that
    * quantize residuals against them must refit too), then migrate the
    * index ([[ivfPqReassign]] — O(moved + changed-reference): with every
    * reference refit this is a full re-encode, but posting lists whose
    * membership AND reference are unchanged still carry by reference).
    * Returns the new `(centroids, codebooks)` frames — persist them:
    * every subsequent insert/search on this index must use BOTH, and the
    * old frames are invalid the moment this returns (codes are
    * (vector, reference, codebook)-relative).
    */
  def ivfPqRetrain(spark: org.apache.spark.sql.SparkSession,
      index: graft.table.Icebox, corpus: DataFrame,
      nlist: Int = 16, m: Int = 8, codes: Int = 16, seed: Long = 42L,
      trainFraction: Double = 1.0, maxIter: Int = 20,
      vecCol: String = "embedding", idCol: String = "vec_id"): (DataFrame, DataFrame) = {
    val centroids = ivfTrain(corpus, nlist, seed, trainFraction, maxIter, vecCol)
    val cb = pqTrainResidual(corpus, centroids, m, codes, seed, trainFraction,
      maxIter, vecCol)
    ivfPqReassign(spark, index, corpus, centroids, cb, vecCol, idCol)
    (centroids, cb)
  }

  /** Top-k search against a persisted IVF-PQ index built by
    * [[ivfPqInsert]], in three bounded stages:
    *
    *  1. PROBE — per query, the `nprobe` nearest centroid lists; their
    *     union partition-prunes the index read (only probed posting lists
    *     are opened, and each candidate is one bigint of codes).
    *  2. ADC — asymmetric distance on RESIDUALS: each (query, probed
    *     list) pair carries an `m × codes` lookup table computed from the
    *     query's residual against THAT list's reference vector (codes
    *     encode `unit(x) - m_list`, so `|u_q - u_x|² = |(u_q - m_l) -
    *     r_x|²` decomposes exactly — the FAISS IVF-PQ identity); a
    *     candidate's approximate distance is m array lookups + adds,
    *     fully codegen'd. The ADC-top-`refineK` per query survive.
    *  3. RE-RANK — the few survivors join the CORPUS table by id for
    *     their full vectors and exact cosine; output is the exact-cosine
    *     top-k in [[ivfSearch]]'s schema.
    *
    * Work per query: `nprobe` list reads of m-byte codes + `refineK` full
    * vectors — the 100 TB shape where posting-list bytes dominate. With
    * `refineK` >= the probed candidate count the ADC cut passes everything
    * through and the result is EXACTLY the float-index [[ivfSearch]]
    * result (the oracle anchor); at realistic `refineK` the miss rate is
    * the PQ recall cost, which SimilaritySpec measures.
    */
  def ivfPqSearch(index: graft.table.Icebox, centroids: DataFrame,
      codebooks: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 4, refineK: Int = 32,
      vecCol: String = "embedding", idCol: String = "vec_id",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val cs = collectCentroids(centroids)
    val cbs = collectCodebooks(codebooks)
    val m = cbs.length
    val nCodes = cbs(0).length
    def nearestClusters(vec: Column, n: Int): Column =
      transform(slice(array_sort(distStructs(spark, cs, vec)), 1, n),
        s => s.getField("cid"))
    val refsByCid = typedLit(cs.map(c => c._1 -> unitF(c._2).toSeq).toMap)
    val probes = broadcast(withUnit(spark,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      "__qv", "__qu")
      .withColumn("list", explode(nearestClusters(col("__qv"), nprobe)))
      // per (query, list): LUT over the query's residual against THAT
      // list's reference — query batches are broadcast-small by contract
      .withColumn("__lut", pqLutCol(spark, cbs,
        VectorExpressions.vecSub(spark, col("__qu"), element_at(refsByCid, col("list")))))
      .drop("__qu"))
    val lists = probes.select("list").distinct().collect().map(_.getLong(0).toString).toSet
    val postings = index.readPartitions(spark, "list", lists)
      .select(col(idCol).as("neighbor_id"), col("codes"), col("list"))
    val joined = postings.join(probes, "list")
    val filtered =
      if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id"))
      else joined
    // ADC: sum over subspaces of lut[s*codes + code_s] (get() is 0-based)
    val adc = (0 until m).map { s =>
      get(col("__lut"),
        shiftrightunsigned(col("codes"), 8 * s).bitwiseAND(lit(255L)).cast("int")
          + lit(s * nCodes))
    }.reduce(_ + _)
    val wAdc = Window.partitionBy("query_id").orderBy(col("__adc").asc, col("neighbor_id"))
    val cands = filtered.withColumn("__adc", adc)
      .withColumn("__ark", row_number().over(wAdc))
      .filter(col("__ark") <= refineK)
      .select("query_id", "neighbor_id", "__qv")
    val exact = cands
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .withColumn("__cos", VectorExpressions.cosine(spark, col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    exact.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("__cos"), 4).as("cosine"),
        col("__rk").as("rank"))
  }

  /** Top-k search against a persisted IVF index built by [[ivfInsert]]:
    * per query, the `nprobe` nearest centroid lists are probed; the UNION
    * of probed lists becomes a PARTITION filter on the index table
    * (manifest-pruned — unprobed posting lists are never opened), then the
    * candidate equi-join + cosine ranking runs exactly like `ivfTopKWith`.
    * Results are identical to `ivfTopKWith` over the same rows and
    * centroids (same assignment arithmetic, same tie-breaks).
    */
  def ivfSearch(index: graft.table.Icebox, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val cs = collectCentroids(centroids)
    def nearestClusters(vec: Column, n: Int): Column =
      transform(slice(array_sort(distStructs(spark, cs, vec)), 1, n),
        s => s.getField("cid"))
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(nearestClusters(col(vecCol), nprobe)).as("list")))
    // the probed-list union is at most nlist values — plan constants, like
    // the centroids themselves (queries are small by the same contract as
    // bruteForceTopK's broadcast)
    val lists = probes.select("list").distinct().collect().map(_.getLong(0).toString).toSet
    val postings = index.readPartitions(spark, "list", lists)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("list"))
    val joined = postings.join(probes, "list")
    val scored = (if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id"))
                  else joined)
      .withColumn("__cos", VectorExpressions.cosine(spark, col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("__cos"), 4).as("cosine"),
        col("__rk").as("rank"))
  }
}
