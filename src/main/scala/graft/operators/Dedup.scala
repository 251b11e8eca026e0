package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines: exact (content
  * hash), MinHash-LSH, SimHash, n-gram Jaccard verification, and
  * embedding-cosine near-dup.
  *
  * 100 TB design rule: '''never all-pairs'''. Every fuzzy method buckets
  * candidates first (LSH bands / simhash bands / hyperplane signs) and
  * generates pairs ONLY within buckets, so the shuffle is proportional to
  * data + candidate volume, not N². Text methods bucket via one
  * shuffle + `collect_list` (see `bucketPairs`); hot buckets are bounded by
  * `maxBucketSize` (drop pathological buckets, the standard web-dedup guard).
  */
object Dedup {

  /** Index table property naming the corpus snapshot id whose docs are all
    * guaranteed to have index entries — the serializable-ingest coverage
    * marker (see [[nearDupInsert]]). Advanced only by serializable-mode
    * inserts, after the entries that justify it are committed.
    */
  val CoveredProp = "dedup.index.covered-corpus-snapshot"

  // ----------------------------------------------------------------- exact

  /** Exact dedup by content hash: keep the lowest-id row per sha256(text).
    * One hash-shuffle of (hash, id) — the full rows never move twice: winners
    * are selected via window on the hash, which shuffles each row once.
    */
  /** INCREMENTAL exact dedup against an existing corpus TABLE — the
    * continuous-ingest shape: append only the batch docs whose normalized
    * fingerprint ([[TextFunctions.fingerprint]]) is absent from the
    * corpus, reading only the corpus files that might hold the batch's
    * fingerprints ([[graft.table.Icebox.readForKeys]]: manifest stats +
    * bloom membership pruning — with `manifest.bloom.columns` on the
    * fingerprint column the membership check scans O(files relevant to
    * the batch), never O(corpus)). In-batch duplicates collapse to the
    * min-id doc first. The corpus table stores the fingerprint in `fpCol`
    * (created on first insert; stats collected for pruning). Returns the
    * number of rows appended — 0 commits nothing.
    *
    * At 100 TB this is the difference between re-hashing the corpus per
    * ingest cycle and a point-membership probe: dedup cost tracks the
    * BATCH, and the corpus is touched only where blooms/stats admit.
    */
  /** `serializable = true` closes the probe→append TOCTOU window under
    * CONCURRENT ingest workers: the membership probe is pinned to the
    * corpus snapshot it observed and the append expects that exact head
    * ([[graft.table.Icebox.appendIfHead]]) — a concurrent commit in the
    * window raises SupersededCommit and the cycle re-probes against the
    * new state (bounded by `maxRetries`). Default (single-writer ingest,
    * the reference's operating model) skips the CAS. `onBeforeCommit` is
    * a test seam for deterministic interleaving.
    */
  def dedupInsert(corpus: graft.table.Icebox, batch: DataFrame, textCol: String,
      idCol: String, fpCol: String = "fingerprint",
      serializable: Boolean = false, maxRetries: Int = 20,
      onBeforeCommit: () => Unit = () => ()): Long = {
    val spark = batch.sparkSession
    // null text fingerprints as empty text (all null/empty docs are
    // duplicates of each other) — a raw null fingerprint would make the
    // anti-join below pass every null-text doc on EVERY batch (null keys
    // never match), re-appending them unboundedly
    val withFp = batch.withColumn(fpCol,
      TextFunctions.fingerprint(coalesce(col(textCol), lit(""))))
    val w = Window.partitionBy(col(fpCol)).orderBy(col(idCol))
    val firsts = withFp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    var attempt = 0
    while (true) {
      val snap = corpus.currentSnapshot
      val fresh = (snap match {
        case None => firsts
        case Some(_) =>
          val hits = corpus.readForKeysAt(spark, firsts.select(fpCol), snap).select(fpCol)
          firsts.join(hits, Seq(fpCol), "left_anti")
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // persisted: the count action and the append job share one evaluation
      // of the window + membership probe instead of running them twice
      try {
        val n = fresh.count()
        onBeforeCommit()
        if (n > 0) {
          if (serializable)
            corpus.appendIfHead(fresh, snap.map(_.id).getOrElse(-1L),
              collectStats = Seq(fpCol))
          else corpus.append(fresh, collectStats = Seq(fpCol))
        }
        return n
      } catch {
        case e if e eq graft.table.IceboxCommit.SupersededCommit =>
          attempt += 1
          if (attempt > maxRetries) throw e
      } finally fresh.unpersist(blocking = false)
    }
    -1L // unreachable
  }

  /** Incremental NEAR-dup dedup of a batch against an accumulated corpus —
    * the continuous-ingest complement of [[minHashDedup]]: append only the
    * batch docs with NO verified near-duplicate (shingle Jaccard ≥
    * `threshold`) already in the corpus, probing a persisted LSH BAND
    * INDEX table at O(batch) instead of re-banding the corpus per cycle.
    *
    * The index is an auxiliary Icebox table of `(band int, key long,
    * <idCol>)` rows — `key` = xxhash64 of the signature's band slice,
    * band-seeded — maintained by this function (created on first insert
    * with manifest blooms + stats on `key`). A probe reads only the index
    * files whose blooms/stats admit the batch's band keys, then fetches
    * ONLY the candidate corpus docs' texts ([[graft.table.Icebox
    * .readForKeys]] on the id column) for the exact Jaccard verify — at
    * 100 TB both sides track the BATCH, never the corpus.
    *
    * In-batch near-duplicates collapse to the min-id survivor first (one
    * banding pass, shared with the probe). Batch docs too short to have a
    * shingle never pair — consistent with every other fuzzy method here.
    *
    * Crash contract: the corpus commit lands BEFORE the index commit, so
    * a crash between them only LOSES index entries (future near-dups of
    * those docs may be re-admitted — recall loss, never corruption);
    * [[rebuildNearDupIndex]] backfills the gap idempotently.
    *
    * `serializable = true` upgrades both contracts for CONCURRENT ingest
    * workers: the index records the corpus snapshot it covers
    * (`dedup.index.covered-corpus-snapshot`), each insert bands the
    * UNCOVERED corpus delta on the fly (pinned O(delta) read — covering
    * concurrent writers' not-yet-indexed docs AND healing any crash gap,
    * which also makes bootstrap over a pre-existing corpus automatic),
    * appends those bands to the index alongside its own, and commits the
    * corpus expecting the exact head it probed
    * ([[graft.table.Icebox.appendIfHead]]) — a concurrent commit in the
    * window raises SupersededCommit and the cycle re-probes (bounded by
    * `maxRetries`). Use it consistently per table pair: default-mode
    * inserts never advance the covered marker. `onBeforeCommit` is a test
    * seam for deterministic interleaving.
    *
    * Commit budget: steady state is exactly TWO fsync-bearing commits per
    * wave — the corpus append and the index append; the covered-marker
    * advance and the first wave's bloom/sort property init RIDE the index
    * append (pointer-then-props inside one lock window, so a crash mid-
    * commit leaves the marker conservatively stale, never ahead of the
    * published bands).
    *
    * Returns the number of docs appended.
    */
  def nearDupInsert(corpus: graft.table.Icebox, index: graft.table.Icebox,
      batch: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = -1,
      shingleSize: Int = 5, maxBucketSize: Int = 1000,
      serializable: Boolean = false, maxRetries: Int = 20,
      onBeforeCommit: () => Unit = () => ()): Long = {
    val spark = batch.sparkSession
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % b == 0, "numHashes must be divisible by bands")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the batch lineage (often a projection over a scan, with per-row
    // normalization) is referenced by the banding pass, both verify joins,
    // the survivor anti-joins, and BOTH appends — materialize it exactly
    // once (the batch is the small side of incremental ingest by
    // definition; the corpus is never persisted)
    val bp = batch.persist(lvl)
    // one signature pass feeds BOTH the intra-batch collapse and the probe
    val banded = bandedKeys(bp, textCol, idCol, numHashes, b, shingleSize)
      .persist(lvl)
    // verify on HASHED shingle sets — the same hash domain the LSH
    // signature is built from, so at threshold 1.0 the verify agrees with
    // band-key equality by construction (string shingles would re-shingle
    // every text into heavyweight arrays a second time; Jaccard over
    // 64-bit xxhash sets equals Jaccard over shingle sets w.h.p.)
    val sh = bp.select(col(idCol).as("__bid"),
      array_distinct(graft.functions.ShingleExpressions.shingleHashesFast(
        spark, col(textCol), shingleSize)).as("__shB"))
      .persist(lvl)
    def jac(a: Column, bc: Column): Column =
      when(size(array_union(a, bc)) === 0, lit(0.0))
        .otherwise(size(array_intersect(a, bc)).cast("double") /
          size(array_union(a, bc)))
    try {
      // 1. collapse the batch against itself: min-id survivor per verified pair
      val intraPairs = bucketPairs(banded, maxBucketSize)
      val intraDups = intraPairs
        .join(sh.select(col("__bid").as("idA"), col("__shB").as("__shA")), "idA")
        .join(sh.select(col("__bid").as("idB"), col("__shB")), "idB")
        .filter(jac(col("__shA"), col("__shB")) >= threshold)
        .select(col("idB").as("__dup")).distinct()
      val survivors = bp.join(intraDups, col(idCol) === col("__dup"), "left_anti")
      def emptyDups = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__dup", batch.schema(idCol).dataType))))
      var attempt = 0
      while (true) {
        // 2. probe the index (plus, serializable: the uncovered corpus
        //    delta banded on the fly) for candidates, verify against ONLY
        //    the candidate corpus docs (id-pruned, snapshot-pinned fetch)
        val snap = corpus.currentSnapshot
        val coveredId =
          if (serializable && index.exists)
            index.properties.get(Dedup.CoveredProp).map(_.toLong).getOrElse(-1L)
          else -1L
        // zero-delta fast path: when the marker already covers the head
        // (single-writer steady state) the manifest-only probe skips the
        // whole banding plan — no persist, no count job, no union branch
        val uncoveredBands: Option[DataFrame] = snap match {
          case Some(sn) if serializable && corpus.hasChangesBetween(coveredId, sn) =>
            Some(bandedKeys(corpus.changesBetween(spark, coveredId, sn),
              textCol, idCol, numHashes, b, shingleSize).persist(lvl))
          case _ => None
        }
        try {
          val indexHits: Option[DataFrame] =
            if (snap.isDefined && index.exists)
              Some(index.readForKeys(spark, banded.select(col("__band").as("band"),
                col("__key").as("key"))).select(col("band"), col("key"), col(idCol)))
            else None
          val liveHits: Option[DataFrame] = uncoveredBands.map(_.select(
            col("__band").as("band"), col("__key").as("key"), col("__id").as(idCol)))
          val corpusDups: DataFrame = (indexHits ++ liveHits).reduceOption(_ unionByName _) match {
            case None => emptyDups
            case Some(hits) =>
              val cands = banded
                .join(hits, banded("__band") === hits("band") && banded("__key") === hits("key"))
                .select(col("__id").as("__bid"), col(idCol).as("__cid"))
                .distinct().persist(lvl)
              try {
                // no explicit materialize needed: readForKeys' bounds probe
                // collects from `cands`' lineage, populating the persist
                val slice = corpus.readForKeysAt(spark,
                  cands.select(col("__cid").as(idCol)).distinct(), snap)
                val shC = slice.select(col(idCol).as("__cid2"),
                  array_distinct(graft.functions.ShingleExpressions.shingleHashesFast(
                    spark, col(textCol), shingleSize)).as("__shC"))
                cands
                  .join(sh, "__bid")
                  .join(shC, cands("__cid") === shC("__cid2"))
                  .filter(jac(col("__shB"), col("__shC")) >= threshold)
                  .select(col("__bid").as("__dup")).distinct()
              } finally cands.unpersist(blocking = false)
          }
          val fresh = survivors.join(corpusDups, col(idCol) === col("__dup"), "left_anti")
            .persist(lvl)
          try {
            val n = fresh.count()
            val healRows = uncoveredBands.map(_.count()).getOrElse(0L)
            onBeforeCommit()
            // corpus FIRST (see crash contract above)
            val appended: Option[graft.table.Snapshot] =
              if (n > 0) Some(
                if (serializable)
                  corpus.appendIfHead(fresh, snap.map(_.id).getOrElse(-1L),
                    collectStats = Seq(idCol))
                else corpus.append(fresh, collectStats = Seq(idCol)))
              else None
            // the covered-marker advance RIDES the index append (one
            // atomic commit, pointer-then-props inside one lock window)
            // instead of a third fsync-bearing cycle per wave; so does the
            // first wave's bloom/sort property init. Steady state is
            // exactly TWO commits per wave: corpus append + index append.
            val newCovered =
              if (serializable) appended.map(_.id).orElse(snap.map(_.id)).getOrElse(-1L)
              else -1L
            val markerProps: Map[String, String] =
              if (serializable && newCovered >= 0 && newCovered != coveredId)
                Map(Dedup.CoveredProp -> newCovered.toString)
              else Map.empty
            if (n > 0 || healRows > 0) {
              val initProps: Map[String, String] =
                if (!index.exists) Map("manifest.bloom.columns" -> "key",
                  // maintenance compaction range-clusters by key, so probe
                  // pruning survives file consolidation via min/max stats
                  // even past the bloom attach budget
                  "write.sort.columns" -> "key")
                else Map.empty
              // right-size the index commit from the KNOWN row count
              // (docs x b bands, ~30 B/row): an unpartitioned append would
              // otherwise emit one sliver file per task — 32 files per
              // wave, unbounded growth under continuous ingest. Range-
              // clustering on key makes every file cover a disjoint key
              // range, so probes prune on min/max stats immediately
              // (blooms on top). Serializable mode ALSO appends the
              // uncovered delta's bands — the self-heal that justifies
              // advancing the covered marker past docs other writers
              // banded but never indexed.
              val freshBands = banded
                .join(fresh.select(col(idCol).as("__id")), Seq("__id"), "left_semi")
                .select(col("__band").as("band"), col("__key").as("key"),
                  col("__id").as(idCol))
              val toIndex = liveHits match {
                case Some(lh) if healRows > 0 => freshBands.unionByName(lh)
                case _ => freshBands
              }
              val idxFiles = math.max(1, math.ceil((n + healRows) * b / 4e6).toInt)
              index.append(toIndex.repartitionByRange(idxFiles, col("key")),
                collectStats = Seq("key"),
                alsoSetProperties = initProps ++ markerProps)
            } else if (markerProps.nonEmpty)
              // nothing to index this wave (empty banded delta): the
              // marker still advances, standalone — rare, and still ≤2
              // total commits because neither append happened
              index.setProperties(markerProps)
            return n
          } catch {
            case e if e eq graft.table.IceboxCommit.SupersededCommit =>
              attempt += 1
              if (attempt > maxRetries) throw e
          } finally fresh.unpersist(blocking = false)
        } finally uncoveredBands.foreach(_.unpersist(blocking = false))
      }
      -1L // unreachable
    } finally {
      banded.unpersist(blocking = false)
      sh.unpersist(blocking = false)
      bp.unpersist(blocking = false)
    }
  }

  /** Backfill [[nearDupInsert]]'s band index for corpus docs missing from
    * it (a crash window between the corpus and index commits, or an index
    * bootstrapped over a pre-existing corpus). Idempotent; reads the
    * index's id column once (O(index)) and bands only the MISSING docs.
    * Returns the number of docs indexed. Parameters must match the ones
    * `nearDupInsert` is called with.
    */
  def rebuildNearDupIndex(corpus: graft.table.Icebox, index: graft.table.Icebox,
      textCol: String, idCol: String, numHashes: Int = 64, bands: Int = -1,
      threshold: Double = 0.8, shingleSize: Int = 5): Long = {
    val spark = corpus.currentSnapshot match {
      case None => return 0L
      case Some(_) => org.apache.spark.sql.SparkSession.active
    }
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    val missing =
      if (!index.exists) corpus.read(spark)
      else corpus.read(spark).join(index.read(spark).select(idCol), Seq(idCol), "left_anti")
    val banded = bandedKeys(missing, textCol, idCol, numHashes, b, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = banded.select("__id").distinct().count()
      if (rows > 0) {
        if (!index.exists)
          index.setProperties(Map("manifest.bloom.columns" -> "key",
              // maintenance compaction range-clusters by key, so probe
              // pruning survives file consolidation via min/max stats
              // even past the bloom attach budget
              "write.sort.columns" -> "key"))
        index.append(banded.select(col("__band").as("band"), col("__key").as("key"),
          col("__id").as(idCol))
          .repartitionByRange(math.max(1, math.ceil(rows * b / 4e6).toInt), col("key")),
          collectStats = Seq("key"))
      }
      rows
    } finally banded.unpersist(blocking = false)
  }

  /** `(id, band, key)` LSH band keys of every doc with ≥ 1 shingle — the
    * shared building block of [[minHashCandidates]] and [[nearDupInsert]].
    */
  private def bandedKeys(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    val r = numHashes / bands
    val bandKeys = array((0 until bands).map(i =>
      xxhash64(slice(col("__sig"), i * r + 1, r), lit(i))): _*)
    minhashSignatures(df, textCol, idCol, numHashes, shingleSize)
      .select(col("__id"), posexplode(bandKeys))
      .toDF("__id", "__band", "__key")
  }

  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact near-dup on the *normalized* fingerprint (case/whitespace
    * insensitive).
    */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(TextFunctions.fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** STREAMING exact dedup for ingest pipelines: first sighting of each
    * content hash passes through, duplicates arriving within the watermark
    * horizon are dropped, and per-hash state expires once the watermark
    * moves past it — so state is bounded by the dedup horizon, not the
    * stream's lifetime (`dropDuplicatesWithinWatermark`, the engine-native
    * bounded-state dedup). A duplicate arriving LATER than `watermarkDelay`
    * after its original is re-emitted: streaming dedup trades unbounded
    * memory for a horizon, the standard contract for ingest dedup; run
    * `exact` on the accumulated table for global guarantees.
    * `normalized = true` dedups on the whitespace/case-insensitive
    * fingerprint instead of the raw hash.
    */
  def streamingExact(events: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "10 minutes", normalized: Boolean = false): DataFrame = {
    val key = if (normalized) TextFunctions.fingerprint(col(textCol)) else sha2(col(textCol), 256)
    events
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("__h", key)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
  }

  // ------------------------------------------------------------ MinHash-LSH

  /** MinHash signatures as (id, sig array<long>) — computed via
    * explode(shingle hashes) → 64 min-aggregates. The explode looks like row
    * inflation but partial (map-side) aggregation collapses it before any
    * shuffle: shuffle volume is docs × 64 longs, and each shingle hash is
    * touched exactly once. (The tempting pure-expression form — 64 ×
    * `array_min(transform(hashes, ...))` — re-evaluates the shingle array
    * per seed after projection collapse: 64× the work. Measured 100×
    * slower at sf0.01.)
    */
  private[operators] def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int): DataFrame = {
    val exploded = df.select(col(idCol).as("__id"),
      explode(graft.functions.ShingleExpressions.shingleHashesFast(
        df.sparkSession, col(textCol), shingleSize)).as("__h"))
    // one imperative long[numHashes] buffer per group — bit-identical to
    // numHashes separate min(xxhash64(h, i)) aggregates, ~2× faster
    exploded.groupBy("__id")
      .agg(graft.functions.MinHashAgg.signature(df.sparkSession, col("__h"), numHashes).as("__sig"))
  }

  /** Banded LSH candidate pairs: docs sharing at least one band of their
    * MinHash signature. Returns (`idA`, `idB`) with idA < idB, distinct.
    *
    * With `numHashes = bands * rowsPerBand`, a pair with Jaccard j collides
    * with probability 1-(1-j^r)^b — defaults (64 = 16×4) catch j ≳ 0.5.
    * Docs with no shingles (shorter than the shingle size) have no
    * signature and can never pair — correct for near-dup purposes.
    */
  def minHashCandidates(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 5,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // (id, band_idx, band_key) — one row per band, then pairs within buckets
    bucketPairs(bandedKeys(df, textCol, idCol, numHashes, bands, shingleSize),
      maxBucketSize)
  }

  private val observeSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Pairs (idA < idB) of ids sharing a (band, key) bucket — via ONE shuffle
    * into buckets + inline pair generation, never a self-join (a self-join
    * would recompute the upstream signature pipeline once per side). Buckets
    * larger than `maxBucketSize` are dropped (boilerplate guard: quadratic
    * pair explosion on pathological content). Dropped buckets are NOT
    * silent: every run reports a `graft_dedup_buckets_N` observation
    * (dropped_oversize_buckets, max_bucket_size) via the standard
    * `QueryExecutionListener`/`StreamingQueryListener` metric channel, so a
    * recall loss from a cap undersized for the corpus is diagnosable.
    */
  private def bucketPairs(banded: DataFrame, maxBucketSize: Int): DataFrame =
    bucketPairRows(banded, maxBucketSize)
      .select(col("__p.idA"), col("__p.idB"))
      .distinct()

  /** Shared expansion core: `(band, key, idList)` bucket rows → exploded
    * `(__band, __p = (idA, idB))` pair rows. The bucket rows are spread
    * over an EXPLICIT-count round-robin repartition before the expansion:
    * the combination explode has tiny input (one row per bucket) but
    * quadratic output, so AQE's size-based partition coalescing — blind to
    * generator cardinality — collapses the post-shuffle stage to ONE task
    * (measured: 4.5 s single-task walls in the image/audio near-dup
    * queries, §2.5 of the optimization playbook). An explicit partition
    * count is exempt from AQE coalescing, and the per-bucket rows are
    * id-pure, so results are partitioning-independent.
    */
  private def bucketPairRows(banded: DataFrame, maxBucketSize: Int): DataFrame =
    expandPairs(groupedBuckets(banded, maxBucketSize), maxBucketSize)

  /** Grouped `(band, key, ids)` bucket rows with the oversize observe
    * metric — ONE logical subtree shared by the pair expansion and the
    * first-band flavor's dropped-bucket side, so the shuffle feeding the
    * aggregation is planned once and reused (ReuseExchange) rather than
    * re-running the upstream signature/hash pipeline per consumer.
    */
  private def groupedBuckets(banded: DataFrame, maxBucketSize: Int): DataFrame =
    banded.groupBy("__band", "__key")
      .agg(array_sort(collect_list("__id")).as("__ids"))
      .observe(s"graft_dedup_buckets_${observeSeq.incrementAndGet()}",
        sum(when(size(col("__ids")) > maxBucketSize, 1L).otherwise(0L)).as("dropped_oversize_buckets"),
        max(size(col("__ids"))).as("max_bucket_size"))

  /** Surviving buckets → exploded `(__band, __p = (idA, idB))` pair rows.
    * The bucket rows pass through an EXPLICIT-count round-robin repartition
    * first: the combination explode has tiny input (one row per bucket) but
    * quadratic output, so AQE's size-based partition coalescing — blind to
    * generator cardinality — collapses the post-shuffle stage to ONE task
    * (measured: 4.5 s single-task walls in the image/audio near-dup
    * queries, §2.5 of the optimization playbook). An explicit partition
    * count is exempt from AQE coalescing, and the per-bucket rows are
    * id-pure, so results are partitioning-independent. The count follows
    * the session (max of core count and shuffle partitions — the knob that
    * is sized to the cluster in production), never a tuned constant.
    */
  private def expandPairs(grouped: DataFrame, maxBucketSize: Int): DataFrame =
    grouped
      .filter(size(col("__ids")).between(2, maxBucketSize))
      .repartition(math.max(grouped.sparkSession.sparkContext.defaultParallelism,
        grouped.sparkSession.sessionState.conf.numShufflePartitions))
      .select(col("__band"), explode(flatten(transform(
        sequence(lit(1), size(col("__ids")) - 1),
        i => transform(slice(col("__ids"), i + 1, size(col("__ids"))),
          x => struct(element_at(col("__ids"), i).as("idA"), x.as("idB")))))).as("__p"))

  /** Distinct-free [[bucketPairs]] for banded 64-bit hashes whose pair
    * structs carry the FULL hash in field `hashField`: a colliding pair is
    * emitted only by the FIRST band whose bit-slices match (computable per
    * pair from the two hashes), so the output is distinct BY CONSTRUCTION
    * — near-identical hashes collide in most of their bands, and the
    * distinct() the generic flavor needs shuffles that duplication (8
    * bands ⇒ up to 8× pair volume) just to throw it away.
    *
    * Recall under the `maxBucketSize` cap matches the generic flavor
    * EXACTLY: a pair is attributed to its first SURVIVING colliding band.
    * When the first colliding band's bucket was oversize-dropped, the pair
    * row at the next surviving band is recovered by the repair branch —
    * an inner join against the (tiny, usually empty) dropped-bucket set
    * that demands every earlier colliding band be among the drops. Only a
    * pair whose EVERY colliding bucket is dropped is lost, which is the
    * generic flavor's behavior too (the cap is an explicit recall guard
    * and the observe metric reports every drop).
    */
  private[graft] def bucketPairsFirstBand(banded: DataFrame, maxBucketSize: Int,
      hashField: String, bands: Int): DataFrame = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    def bandSlice(c: Column, i: Int): Column =
      shiftright(c, i * width).bitwiseAND(mask)
    val hA = col("__p.idA").getField(hashField)
    val x = hA.bitwiseXOR(col("__p.idB").getField(hashField))
    // The bucket rows feed TWO consumers (the dropped-bucket set and the
    // pair expansion). Branching a lazy frame re-executes the whole
    // upstream hash/decode pipeline per consumer — exchange reuse does NOT
    // rescue this shape under AQE (measured: audio/video near-dup walls
    // doubled) — so the compact (band, key, ids) rows are eagerly
    // localCheckpoint'ed: one upstream pass, one materialization of one
    // row per bucket. Same eager/local-durability contract as
    // [[imageNearDup]]'s hash meta; blocks are reclaimed by the
    // ContextCleaner when the frame becomes unreachable.
    val grouped = groupedBuckets(banded, maxBucketSize).localCheckpoint()
    // The oversize-dropped (band, key) set, collected from the checkpointed
    // bucket rows into PLAN LITERALS — empty in the healthy case. Why a
    // bounded collect and not a join: the attribution filter below runs on
    // every exploded pair row (millions), and every join/higher-order-
    // function formulation tried put a CodegenFallback expression in that
    // fused stage (measured: +60 CPU-s on the media near-dups); per-band
    // literal arrays keep the filter whole-stage-codegen bit arithmetic.
    // Size bound: an oversize bucket has > maxBucketSize members, so the
    // set holds < bandRows/maxBucketSize entries (≤0.1% of band rows at
    // the default cap) — the same plan-constant class as collected
    // centroids/cutoffs elsewhere in this engine.
    val dropped: Map[Int, Array[Long]] = grouped
      .filter(size(col("__ids")) > maxBucketSize)
      .select(col("__band"), col("__key")).collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)) }
    // blocked(i): band i collided AND its bucket survived — the FIRST such
    // band emits the pair (its row is guaranteed to exist: a surviving
    // colliding bucket contains both ids). With no drops this reduces to
    // first-colliding-band exactly; with drops it is first-SURVIVING-band,
    // matching the generic flavor's recall. Exactly one band satisfies the
    // filter, so the output stays distinct by construction.
    val blocked = array((0 until bands).map { i =>
      val collide = bandSlice(x, i) === 0L
      dropped.get(i) match {
        case None     => collide
        case Some(ks) => collide && !array_contains(typedLit(ks), bandSlice(hA, i))
      }
    }: _*)
    val firstSurviving = array_position(blocked, true) - 1
    expandPairs(grouped, maxBucketSize)
      .filter(col("__band").cast("long") === firstSurviving)
      .select(col("__p.idA"), col("__p.idB"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs (the verify
    * stage after LSH): joins shingle sets back by id — candidates only,
    * never all-pairs.
    */
  def jaccardVerify(df: DataFrame, candidates: DataFrame, textCol: String,
      idCol: String, shingleSize: Int = 5): DataFrame = {
    val sh = df.select(col(idCol).as("__id"),
      TextFunctions.shingles(col(textCol), shingleSize).as("__sh"))
    candidates
      .join(sh.withColumnRenamed("__id", "idA").withColumnRenamed("__sh", "__shA"), "idA")
      .join(sh.withColumnRenamed("__id", "idB").withColumnRenamed("__sh", "__shB"), "idB")
      .withColumn("jaccard",
        when(size(array_union(col("__shA"), col("__shB"))) === 0, 0.0)
          .otherwise(size(array_intersect(col("__shA"), col("__shB"))).cast("double") /
            size(array_union(col("__shA"), col("__shB")))))
      .select(col("idA"), col("idB"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Pick the band count whose LSH collision threshold `(1/b)^(1/r)` is
    * closest to the verify threshold — banding mismatched to the threshold
    * floods the verify join with pairs the filter then rejects (measured:
    * 16 bands at threshold 1.0 on a near-dup-heavy corpus = 14× the work
    * of the matched 1-band config).
    */
  private[operators] def autoBands(numHashes: Int, threshold: Double): Int =
    (1 to numHashes).filter(numHashes % _ == 0)
      .minBy(b => math.abs(math.pow(1.0 / b, b.toDouble / numHashes) - threshold))

  /** Full MinHash-LSH dedup: drop every doc that is LSH-candidate AND
    * verified Jaccard ≥ `threshold` against a lower-id doc. (Default group
    * resolution is min-id-representative, the standard single-pass
    * approximation of connected components; `exactGroups = true` resolves
    * TRANSITIVE chains to one survivor per component via
    * [[connectedComponents]] — A~B, B~C with A≁C then keeps only A, where
    * the single pass keeps A and C.) `bands` defaults to the
    * threshold-matched count (`autoBands`); pass it explicitly to trade
    * recall against verify volume.
    */
  def minHashDedup(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = -1,
      shingleSize: Int = 5, exactGroups: Boolean = false): DataFrame = {
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    val cands = minHashCandidates(df, textCol, idCol, numHashes, b, shingleSize)
    val verified = jaccardVerify(df, cands, textCol, idCol, shingleSize)
      .filter(col("jaccard") >= threshold)
    if (exactGroups) dedupByComponents(df, idCol, verified)
    else {
      val dups = verified.select(col("idB").as("__dup")).distinct()
      df.join(dups, df(idCol) === col("__dup"), "left_anti")
    }
  }

  // ------------------------------------------------- connected components

  /** Connected components over an (idA, idB) duplicate-pair list: returns
    * `(id, rep)` for every id that appears in `pairs`, where `rep` is the
    * MINIMUM id reachable through any chain of pairs — the exact-groups
    * resolution for non-transitive similarity relations.
    *
    * Two-phase algorithm (the shape production dedup pipelines use):
    *
    *  1. '''Partition-local contraction''' — one `mapPartitions` pass runs
    *     an in-memory union-find over each partition's edges and emits one
    *     star edge `(node → partition-local min root)` per node per
    *     partition. This collapses all intra-partition structure, so the
    *     contracted edge set is bounded by the number of DISTINCT NODES in
    *     the pair graph (× partition multiplicity), not by the edge count —
    *     multi-edges and dense buckets disappear here.
    *  2. If the contracted set fits `maxDriverNodes` (default 4M ≈ 64 MB),
    *     a driver union-find finishes in milliseconds — iterative Spark
    *     jobs pay ~0.5 s of scheduling latency PER ROUND and a chain of
    *     hubs needs O(log diameter) rounds, so below the threshold the
    *     driver is strictly faster AND fewer moving parts. Above it, the
    *     distributed min-label loop below takes over, seeded with the
    *     phase-1 roots (already partially resolved).
    *
    * At 100 TB the duplicate GRAPH is far smaller than the corpus (only
    * docs appearing in some candidate pair), and phase 1 bounds the
    * collected set by its node count; corpora whose dup graph exceeds the
    * threshold get the distributed loop automatically — correctness never
    * depends on the cutoff (property-tested on both sides of it).
    *
    * Distributed fallback: iterated min-label propagation with POINTER
    * JUMPING — nodes take the min of their own and their neighbors' labels,
    * then labels shortcut through indirections (`rep := rep's rep`). Each
    * materialized round packs TWO propagate+jump passes into one
    * `localCheckpoint` lineage, and convergence is read from `sum(rep)`:
    * every label is non-increasing round over round, so an unchanged sum IS
    * the fixpoint. The edge list is never squared.
    *
    * Non-integral id columns (e.g. string keys) skip phase 1 and run the
    * loop directly.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      maxDriverNodes: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = pairs.schema(pairs.schema.fieldIndex("idA")).dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral) return minLabelLoop(
      pairs.select(col("idA").as("a"), col("idB").as("b"))
        .union(pairs.select(col("idB").as("a"), col("idA").as("b")))
        .distinct().localCheckpoint(true),
      seed = None, maxIter)

    val spark = pairs.sparkSession
    val pairEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    val stars = pairs
      .select(col("idA").cast("long").as("a"), col("idB").cast("long").as("b"))
      .mapPartitions(it => localUnionFind(it.map(r => (r.getLong(0), r.getLong(1)))))(pairEnc)
      .toDF("id", "rep")
      .localCheckpoint(true)
    val starCount = stars.count()
    val out =
      if (starCount <= maxDriverNodes) {
        // driver union-find over the CONTRACTED star edges
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
          r
        }
        stars.collect().foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        val resolved = parent.keys.toArray.map(k => (k, find(k))).toSeq
        stars.unpersist()
        spark.createDataset(resolved)(pairEnc).toDF("id", "rep")
      } else {
        val contractedEdges = stars.filter(col("id") =!= col("rep"))
          .select(col("id").as("a"), col("rep").as("b"))
        val bidi = contractedEdges
          .union(contractedEdges.select(col("b").as("a"), col("a").as("b")))
          .distinct().localCheckpoint(true)
        val seed = stars.groupBy("id").agg(min("rep").as("rep")).localCheckpoint(true)
        stars.unpersist()
        minLabelLoop(bidi, Some(seed), maxIter)
      }
    out.select(col("id").cast(idType).as("id"), col("rep").cast(idType).as("rep"))
  }

  /** In-memory union-find over one partition's edges; emits one
    * `(node, partition-local min root)` star edge per node seen. Memory is
    * O(nodes in partition) — bounded by the partition's edge count.
    */
  private def localUnionFind(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(k => (k, find(k)))
  }

  /** Distributed min-label propagation with pointer jumping (see
    * [[connectedComponents]] doc). `edges` must be bidirectional; `seed`
    * optionally pre-resolves labels (phase-1 roots).
    */
  private def minLabelLoop(edges: DataFrame, seed: Option[DataFrame],
      maxIter: Int): DataFrame = {
    var labels = seed.getOrElse(
      edges.select(col("a").as("id"), col("a").as("rep")).distinct()
        .localCheckpoint(true))
    def propagate(df: DataFrame): DataFrame = {
      val neighborReps = edges
        .join(df.select(col("id").as("b"), col("rep").as("__nr")), "b")
        .select(col("a").as("id"), col("__nr").as("rep"))
      df.union(neighborReps).groupBy("id").agg(min("rep").as("rep"))
    }
    def jump(df: DataFrame): DataFrame = df
      .join(df.select(col("id").as("__rid"), col("rep").as("__rrep")),
        col("rep") === col("__rid"), "left")
      .select(col("id"), coalesce(col("__rrep"), col("rep")).as("rep"))
    def repSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
    var it = 0
    var prevSum = repSum(labels)
    var converged = false
    while (!converged && it < maxIter) {
      val jumped = jump(propagate(jump(propagate(labels)))).localCheckpoint(true)
      val s = repSum(jumped)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = jumped
      it += 1
    }
    edges.unpersist()
    labels
  }

  /** Drop every doc that belongs to a duplicate component but is not its
    * min-id representative (see [[connectedComponents]]); docs in no pair
    * survive untouched.
    */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val dups = connectedComponents(pairs)
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("__dup"))
    df.join(dups, df(idCol) === col("__dup"), "left_anti")
  }

  /** SimHash dedup: drop every doc whose token multiset equals that of a
    * lower-id doc, found in the candidates→verify shape. Banded simhash
    * candidates at Hamming ≤ `maxHamming` come first; a drop then requires
    * exact token-multiset equality. Simhash is a function of the token
    * multiset, so every multiset-equal pair is a Hamming-0 candidate, and
    * the verify stage rejects pairs whose simhashes merely collide.
    * Survivors are exactly the min-id representative per token multiset
    * (the resolution `minHashDedup` uses). The verify join touches
    * candidates only — never all-pairs.
    */
  def simHashDedupVerified(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      array_sort(TextFunctions.tokens(col(textCol))).as("__tk"))
    val dups = simHashCandidates(df, textCol, idCol, maxHamming, maxBucketSize)
      .join(toks.withColumnRenamed("__id", "idA").withColumnRenamed("__tk", "__tkA"), "idA")
      .join(toks.withColumnRenamed("__id", "idB").withColumnRenamed("__tk", "__tkB"), "idB")
      .filter(col("__tkA") === col("__tkB"))
      .select(col("idB").as("__dup")).distinct()
    df.join(dups, df(idCol) === col("__dup"), "left_anti")
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset: bit b is set iff the sum of
    * (+1/-1) over token-hash bit b is positive. Near-dups have small Hamming
    * distance.
    */
  def simhash(text: Column): Column = {
    val tokenHashes = transform(TextFunctions.tokens(text), t => xxhash64(t))
    // bit positions unrolled at plan-build time (shiftright needs literal bits)
    (0 until 64).map { b =>
      val vote = aggregate(tokenHashes, lit(0L),
        (s, h) => s + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** SimHash per doc computed scalably: explode token hashes → 64 per-bit
    * vote sums (map-side combined) → pack bits. Same rationale as
    * `minhashSignatures`: one pass over tokens, shuffle = docs × 64 longs.
    */
  private[operators] def simhashes(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("__id"),
      explode(transform(TextFunctions.tokens(col(textCol)), t => xxhash64(t))).as("__h"))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"__v$b"))
    exploded.groupBy("__id")
      .agg(votes.head, votes.tail: _*)
      .select(col("__id"),
        (0 until 64).map(b => when(col(s"__v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("__sh"))
  }

  /** SimHash near-dup pairs: band the 64-bit simhash into 4×16-bit keys
    * (guarantees candidacy for Hamming distance ≤ 3), join within bands,
    * verify exact Hamming ≤ `maxHamming`. Docs with no tokens have no
    * simhash and never pair.
    */
  def simHashCandidates(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val banded = simhashes(df, textCol, idCol)
      .select(struct(col("__id"), col("__sh")).as("__id"), // pair travels as one value
        posexplode(array((0 until 4).map(b =>
          shiftright(col("__sh"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .toDF("__id", "__band", "__key")
    bucketPairsFirstBand(banded, maxBucketSize, "__sh", bands = 4)
      .select(col("idA.__id").as("idA"), col("idB.__id").as("idB"),
        bit_count(col("idA.__sh").bitwiseXOR(col("idB.__sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------- perceptual image near-dup

  /** Perceptual-hash near-dup candidate pairs over an image binary column:
    * 64-bit [[Multimodal.dHash]]/[[Multimodal.pHash]] per blob (ONE decode
    * pass — downstream never re-touches the bytes), banded into `bands`
    * equal bit-slices, join within bands, verify exact Hamming ≤
    * `maxHamming`. By pigeonhole, any pair within Hamming ≤ `bands − 1` is
    * GUARANTEED to collide in at least one band — size `bands` to the
    * Hamming radius you must not miss. Byte-identical dedup cannot catch
    * re-encoded/resized duplicate images (the dominant multimodal-corpus
    * failure mode); hash-banding catches them at the same
    * never-all-pairs cost shape as [[simHashCandidates]]. Undecodable
    * blobs have no hash and never pair.
    */
  def imageNearDupCandidates(df: DataFrame, binCol: String, idCol: String,
      maxHamming: Int = 8, bands: Int = 8, method: String = "dhash",
      maxBucketSize: Int = 1000): DataFrame =
    imageCandidatesFromMeta(Multimodal.imageHashMeta(df, idCol, binCol, method),
      idCol, maxHamming, bands, maxBucketSize)

  /** Candidate pairs from an already-hashed `(id, phash)` meta frame —
    * shared by [[imageNearDupCandidates]] (fresh decode) and
    * [[imageNearDup]] (checkpointed meta reused for the final id join).
    */
  private def imageCandidatesFromMeta(meta: DataFrame, idCol: String,
      maxHamming: Int, bands: Int, maxBucketSize: Int): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64 (got $bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = meta
      .filter(col("phash").isNotNull)
      .select(struct(col(idCol).as("__id"), col("phash").as("__ph")).as("__id"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("phash"), b * width).bitwiseAND(mask)): _*)))
      .toDF("__id", "__band", "__key")
    bucketPairsFirstBand(banded, maxBucketSize, "__ph", bands)
      .select(col("idA.__id").as("idA"), col("idB.__id").as("idB"),
        bit_count(col("idA.__ph").bitwiseXOR(col("idB.__ph"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Full perceptual image dedup: every document labeled with its
    * near-dup component (`dup_group` = min id over transitively-connected
    * near-dups, itself when unique) and `is_dup` = not the component
    * representative — the keep-first rule every other dedup flavor here
    * uses. Connected components run on the (tiny) verified pair set, never
    * the corpus.
    */
  def imageNearDup(df: DataFrame, binCol: String, idCol: String,
      maxHamming: Int = 8, bands: Int = 8, method: String = "dhash",
      maxBucketSize: Int = 1000): DataFrame = {
    // ONE decode pass: the 16-byte-per-row hash meta is eagerly
    // localCheckpoint'ed and serves BOTH the banded candidate generation
    // and the final id join — the id-only reference cannot be column-
    // pruned through the opaque decode lineage (Dataset.map), so without
    // the checkpoint the whole input pipeline (blob fetch + decode) runs
    // a second time just to list ids. imageHashMeta emits one row per
    // input row (null hash for undecodables), so meta's id set IS df's.
    //
    // CONTRACT of the eager checkpoint (documented trade-off): the decode
    // job runs at DataFrame-CONSTRUCTION time, so a caller's later
    // filter/limit cannot push below the decode, and the checkpointed
    // blocks are executor-local — unrecoverable on executor loss, making
    // this operator local-mode-durable only (a lazy persist would instead
    // risk the two consumers racing the first materialization into a
    // double decode). Blocks are reclaimed by the ContextCleaner once the
    // returned frame is unreachable, not by an explicit unpersist (the
    // caller owns the frame's lifetime).
    val meta = Multimodal.imageHashMeta(df, idCol, binCol, method)
      .localCheckpoint()
    val pairs = imageCandidatesFromMeta(meta, idCol, maxHamming, bands,
      maxBucketSize)
    val comp = connectedComponents(pairs.select(col("idA"), col("idB")))
      .withColumnRenamed("id", "__cid")
    // no broadcast hint: the labeled set is corpus-sized when duplication
    // is heavy (image corpora routinely are) — let AQE pick the join
    meta.select(col(idCol))
      .join(comp, col(idCol) === col("__cid"), "left")
      .select(col(idCol),
        coalesce(col("rep"), col(idCol).cast("long")).as("dup_group"),
        coalesce(col("rep") =!= col(idCol), lit(false)).as("is_dup"))
  }

  /** INCREMENTAL perceptual image dedup against a persisted hash index —
    * the [[nearDupInsert]] maintenance shape for image corpora: collapse
    * the batch against itself (banded candidacy + Hamming verify, min-id
    * survivor), probe the index for batch band keys (stats/bloom-pruned
    * `readForKeys` — O(batch) reads, never an index scan), drop batch
    * docs within `maxHamming` of an INDEXED hash, append the fresh docs
    * to `corpus` and their `(band, key, id, phash)` rows to `index`.
    *
    * Simpler than the text flavor by construction: the 8-byte hash IS
    * the verify payload and rides in the index, so the probe needs no
    * corpus fetch at all — one pruned index read per wave. Blobs that
    * don't decode have no hash, can't dedup, and pass through as fresh
    * (the caller's decode-quality gate runs before dedup). Returns the
    * number of docs appended.
    */
  def imageNearDupInsert(corpus: graft.table.Icebox, index: graft.table.Icebox,
      batch: DataFrame, binCol: String, idCol: String,
      maxHamming: Int = 8, bands: Int = 8, method: String = "dhash",
      maxBucketSize: Int = 1000): Long = {
    require(64 % bands == 0, s"bands must divide 64 (got $bands)")
    require(!batch.columns.contains("phash"),
      "batch must not already carry a 'phash' column")
    val spark = batch.sparkSession
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ONE decode pass serves banding, both verifies, and the index append
    val hp = batch.join(
      Multimodal.imageHashMeta(batch, idCol, binCol, method), Seq(idCol))
      .persist(lvl)
    try {
      val banded = hp.filter(col("phash").isNotNull)
        .select(struct(col(idCol).as("__id"), col("phash").as("__ph")).as("__id"),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("phash"), b * width).bitwiseAND(mask)): _*)))
        .toDF("__id", "__band", "__key")
        .persist(lvl)
      try {
        // 1. collapse the batch against itself (clique-free corpora keep
        //    the min id per verified pair chain, as every dedup here does)
        val intraDups = bucketPairsFirstBand(banded, maxBucketSize, "__ph", bands)
          .filter(bit_count(col("idA.__ph").bitwiseXOR(col("idB.__ph"))) <= maxHamming)
          .select(col("idB.__id").as("__dup")).distinct()
        val survivors = hp.join(intraDups, col(idCol) === col("__dup"), "left_anti")
        // 2. probe the index: pruned read of files that might hold the
        //    batch's band keys, verify Hamming against the STORED hash
        val corpusDups =
          if (!index.exists) banded.limit(0).select(col("__id.__id").as("__dup"))
          else index.readForKeys(spark,
              banded.select(col("__band").as("band"), col("__key").as("key")))
            .join(banded, col("band") === col("__band") && col("key") === col("__key"))
            .filter(bit_count(col("phash").bitwiseXOR(col("__id.__ph"))) <= maxHamming)
            .select(col("__id.__id").as("__dup")).distinct()
        val fresh = survivors.join(corpusDups, col(idCol) === col("__dup"), "left_anti")
          .persist(lvl)
        try {
          val n = fresh.count()
          if (n > 0) {
            corpus.append(fresh.drop("phash"), collectStats = Seq(idCol))
            // first-wave init rides the index append (≤2 commits per wave)
            val initProps: Map[String, String] =
              if (!index.exists) Map("manifest.bloom.columns" -> "key",
                "write.sort.columns" -> "key")
              else Map.empty
            val freshBands = banded
              .join(fresh.select(col(idCol)), col("__id.__id") === col(idCol), "left_semi")
              .select(col("__band").as("band"), col("__key").as("key"),
                col("__id.__id").as(idCol), col("__id.__ph").as("phash"))
            val idxFiles = math.max(1, math.ceil(n * bands / 4e6).toInt)
            index.append(freshBands.repartitionByRange(idxFiles, col("key")),
              collectStats = Seq("key"), alsoSetProperties = initProps)
          }
          n
        } finally fresh.unpersist(blocking = false)
      } finally banded.unpersist(blocking = false)
    } finally hp.unpersist(blocking = false)
  }

  // ------------------------------------------------- embedding-cosine near-dup

  /** Near-duplicate pairs by embedding cosine ≥ `threshold`, bucketed by
    * random-hyperplane LSH signs (deterministic seeded planes): only vectors
    * agreeing on all `planes` sign bits are compared.
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, threshold: Double = 0.95, planes: Int = 8, seed: Long = 42L): DataFrame = {
    val sig = Similarity.hyperplaneSignatureFast(df.sparkSession, col(vecCol), dim, planes, seed)
    val keyed = df.select(col(idCol).as("__id"), col(vecCol).as("__v"), sig.as("__sig"))
    keyed.as("a")
      .join(keyed.as("b"), col("a.__sig") === col("b.__sig") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("idA"), col("b.__id").as("idB"),
        round(graft.functions.VectorExpressions.cosine(df.sparkSession, col("a.__v"), col("b.__v")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup with
    * K-MEANS-CLUSTER-BOUNDED candidacy — the cluster-geometry sibling of
    * [[embeddingNearDup]]'s hyperplane LSH. Three stages, all
    * never-all-pairs:
    *
    *  1. '''Assign''' every vector to its nearest centroid via the
    *     codegen'd argmin-over-centroid-literals projection shared with
    *     the IVF family ([[Similarity.assignWithSim]]) — map-only, zero
    *     shuffle, and the cosine to the winning centroid rides along for
    *     the keep-rule.
    *  2. '''Candidates''' are WITHIN-CLUSTER only: a self-equi-join on the
    *     assigned cluster id, cosine ≥ `threshold`. At 100 TB the cluster
    *     count grows with the corpus (the paper runs k=50 000 on LAION),
    *     so per-cluster membership — and the join's per-key fan-out —
    *     stays bounded at ~n/k regardless of total scale.
    *  3. '''Keep-rule''': candidate pairs close transitively
    *     ([[connectedComponents]] — contracted union-find, driver-finished
    *     under the node threshold) and each duplicate group keeps exactly
    *     one member: the one LEAST similar to its cluster centroid (the
    *     paper's choice — keeps outliers, drops the redundant core; ties
    *     broken by min id).
    *
    * `centroids` is a tiny `(cluster_id, centroid)` frame — seeded KMeans
    * from [[Similarity.ivfTrain]] (sample-fit, the 100 TB shape) or any
    * deterministic seed set; it is collected to the driver and fused into
    * the plan as literals, exactly like the IVF reads. Returns the
    * SURVIVORS with their assignment evidence:
    * `(idCol, cluster_id, centroid_sim)` (cosine rounded to 4).
    *
    * `maxClusterSize` bounds the within-cluster pair fan-out — the
    * codebase rule ("never all-pairs", `bucketPairs`' `maxBucketSize`)
    * applied to the one stage that would otherwise inherit the paper's
    * O((N/k)²) blowup when k lags corpus growth: any cluster larger than
    * the bound is SUB-BUCKETED by secondary hyperplane LSH signs
    * ([[clusterPairs]]) before pairing. Identical vectors always share
    * every sign, so exact duplicates are never split; near-dups straddling
    * a hyperplane inside an oversized cluster are the (documented) recall
    * cost of bounding — the same trade [[embeddingNearDup]] makes
    * globally.
    */
  def semDeDup(df: DataFrame, centroids: DataFrame, vecCol: String,
      idCol: String, threshold: Double = 0.95,
      maxClusterSize: Int = 1 << 16, seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    val cs = Similarity.collectCentroids(centroids)
    require(cs.nonEmpty, "semDeDup needs at least one centroid")
    val asg = Similarity.assignWithSim(spark, cs, col(vecCol))
    val keyed = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        asg.getField("cid").as("__cluster"), asg.getField("csim").as("__csim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the drop LIST is materialized eagerly (localCheckpoint — dup-graph
    // sized, far smaller than the corpus), so the cached assignment scan
    // backs the edge join + keep-rule and is then released; the RETURNED
    // plan recomputes the map-only assignment exactly once (one corpus
    // scan), referencing only the checkpointed drop ids.
    val drops =
      try {
        val edges = clusterPairs(keyed, maxClusterSize, seed)
          .filter(graft.functions.VectorExpressions.cosine(spark,
            col("__va"), col("__vb")) >= threshold)
          .select(col("idA"), col("idB"))
        // only docs in some candidate pair enter the component graph — the
        // dup graph is far smaller than the corpus (connectedComponents doc)
        val comps = connectedComponents(edges)
        val members = keyed.join(comps, col("__id") === col("id"))
        // least-centroid-similar member survives; (csim, id) struct min is
        // the deterministic tie-break
        val keeps = members.groupBy("rep")
          .agg(min(struct(col("__csim"), col("__id"))).as("__k"))
          .select(col("__k").getField("__id").as("__keep"))
        members.join(keeps, members("__id") === keeps("__keep"), "left_anti")
          .select(col("__id")).localCheckpoint(true)
      } finally keyed.unpersist(blocking = false)
    df.select(col(idCol).as("__id"),
        asg.getField("cid").as("cluster_id"),
        round(asg.getField("csim"), 4).as("centroid_sim"))
      .join(drops, Seq("__id"), "left_anti")
      .select(col("__id").as(idCol), col("cluster_id"), col("centroid_sim"))
  }

  /** Incremental SemDeDup vs an ACCUMULATED corpus — [[semDeDup]]'s
    * continuous-ingest face, completing the incremental family (minhash,
    * embedding-LSH, image all have one): append only the batch vectors
    * with no semantic duplicate (cosine ≥ `threshold`) already kept, at
    * O(batch) probe cost per wave.
    *
    * The corpus table IS the index — `(idCol, vecCol, cluster_id,
    * centroid_sim)` PARTITIONED BY cluster (the IVF posting-list layout):
    * a probe assigns the batch with the shared argmin kernel (map-only,
    * centroids as plan literals) and reads ONLY the partitions of the
    * batch's assigned clusters — manifest-pruned, bounded by the centroid
    * count, never a corpus scan. Oversized corpus clusters (per-partition
    * MANIFEST row counts — metadata, no scan) verify under an additional
    * hyperplane sign equality, the [[clusterPairs]] fan-out bound;
    * identical vectors share every sign, so exact duplicates always meet.
    *
    * Keep-rule: in-batch duplicate groups collapse FIRST under semDeDup's
    * exact rule (least-centroid-similar member survives, ties min id);
    * batch vectors duplicating CORPUS content always drop — corpus
    * content is immutable, the contract every incremental flavor here
    * shares. Centroids must be the SAME every wave (codes of the layout
    * are centroid-relative): the first append records their identity hash
    * (`semdedup.centroids`, riding the append commit) and later waves
    * refuse a mismatch. One fsync-bearing commit per wave.
    *
    * Returns the number of vectors appended.
    */
  def semDeDupInsert(corpus: graft.table.Icebox, centroids: DataFrame,
      batch: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, maxClusterSize: Int = 1 << 16,
      seed: Long = 42L): Long = {
    val spark = batch.sparkSession
    val cs = Similarity.collectCentroids(centroids)
    require(cs.nonEmpty, "semDeDupInsert needs at least one centroid")
    val cHash = {
      val md = java.security.MessageDigest.getInstance("MD5")
      cs.sortBy(_._1).foreach { case (cid, v) =>
        md.update(java.nio.ByteBuffer.allocate(8).putLong(cid).array())
        val bb = java.nio.ByteBuffer.allocate(4 * v.length)
        v.foreach(bb.putFloat)
        md.update(bb.array())
      }
      md.digest().map("%02x".format(_)).mkString
    }
    val recorded = corpus.properties.get("semdedup.centroids")
    require(recorded.forall(_ == cHash),
      "semDeDupInsert centroids differ from the corpus table's recorded " +
      "set — every wave against one corpus must assign with the SAME " +
      "centroids (rebuild the table to re-cluster)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val asg = Similarity.assignWithSim(spark, cs, col(vecCol))
    val keyed = batch.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        asg.getField("cid").as("__cluster"), asg.getField("csim").as("__csim"))
      .persist(lvl)
    try {
      // 1. collapse the batch against itself under semDeDup's keep-rule
      val edges = clusterPairs(keyed, maxClusterSize, seed)
        .filter(graft.functions.VectorExpressions.cosine(spark,
          col("__va"), col("__vb")) >= threshold)
        .select(col("idA"), col("idB"))
      val comps = connectedComponents(edges)
      val members = keyed.join(comps, col("__id") === col("id"))
      val keeps = members.groupBy("rep")
        .agg(min(struct(col("__csim"), col("__id"))).as("__k"))
        .select(col("__k").getField("__id").as("__keep"))
      val intraDrops = members
        .join(keeps, members("__id") === keeps("__keep"), "left_anti")
        .select(col("__id").as("__dup"))
      val survivors = keyed.join(intraDrops, col("__id") === col("__dup"), "left_anti")
      // 2. probe ONLY the corpus partitions of the batch's clusters
      val corpusDups: DataFrame =
        if (!corpus.exists) keyed.limit(0).select(col("__id").as("__dup"))
        else {
          val clusters = keyed.select("__cluster").distinct()
            .collect().map(_.getLong(0)).toSeq // bounded by the centroid count
          val sizes: Map[Long, Long] = corpus.currentSnapshot.map(_.files
            .filter(_.partition.contains("cluster_id"))
            .groupBy(_.partition("cluster_id").toLong)
            .map { case (c, fs) => c -> fs.map(f => math.max(f.rows, 0L)).sum })
            .getOrElse(Map.empty)
          val oversized = sizes.filter(_._2 > maxClusterSize).keySet
          val slice = corpus.read(spark)
            .filter(col("cluster_id").isInCollection(clusters))
            .select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
              col("cluster_id").as("__ccl"))
          val sameBucket: Column =
            if (oversized.isEmpty) lit(true)
            else {
              val dim = cs.head._2.length
              val planes = 8
              val sigB = Similarity.hyperplaneSignatureFast(spark, col("__v"), dim, planes, seed)
              val sigC = Similarity.hyperplaneSignatureFast(spark, col("__cv"), dim, planes, seed)
              !col("__cluster").isInCollection(oversized.toSeq) || sigB === sigC
            }
          survivors.join(slice, col("__cluster") === col("__ccl") && sameBucket)
            .filter(graft.functions.VectorExpressions.cosine(spark,
              col("__v"), col("__cv")) >= threshold)
            .select(col("__id").as("__dup")).distinct()
        }
      val fresh = survivors.join(corpusDups, col("__id") === col("__dup"), "left_anti")
        .persist(lvl)
      try {
        val n = fresh.count()
        if (n > 0) {
          val initProps: Map[String, String] =
            if (recorded.isEmpty)
              Map("semdedup.centroids" -> cHash,
                // posting-list write shaping: rows of one cluster are
                // written by the tasks that own them, not a sliver from
                // every task (the ivfInsert lesson)
                "write.distribution-mode" -> "hash")
            else Map.empty
          corpus.append(
            fresh.select(col("__id").as(idCol), col("__v").as(vecCol),
              col("__cluster").as("cluster_id"),
              round(col("__csim"), 4).as("centroid_sim")),
            partitionBy = Seq("cluster_id"), collectStats = Seq(idCol),
            alsoSetProperties = initProps)
        }
        n
      } finally fresh.unpersist(blocking = false)
    } finally keyed.unpersist(blocking = false)
  }

  /** Candidate pairs for [[semDeDup]]: the within-cluster self-equi-join,
    * with oversized clusters sub-bucketed first. Cluster sizes are a
    * groupBy-count collected to the driver — bounded by the CENTROID count
    * (plan literals already), never the corpus. When some cluster exceeds
    * `maxClusterSize`, a secondary random-hyperplane signature with
    * `ceil(log2(maxSize / maxClusterSize))` planes (≤ 16) becomes part of
    * the join key FOR OVERSIZED CLUSTERS ONLY — splitting each into
    * ~2^planes sign buckets of expected size ≤ `maxClusterSize` — while
    * right-sized clusters keep sub-key 0 and pair exactly as before. The
    * expected per-key fan-out is thus bounded at maxClusterSize² pairs
    * regardless of how far k lags corpus growth.
    *
    * `keyed` must carry `(__id, __v, __cluster)`. Returns
    * `(idA, idB, __va, __vb)` with `idA < idB` — cosine filtering is the
    * caller's.
    */
  private[graft] def clusterPairs(keyed: DataFrame, maxClusterSize: Int,
      seed: Long): DataFrame = {
    require(maxClusterSize > 1, s"maxClusterSize must exceed 1, got $maxClusterSize")
    val spark = keyed.sparkSession
    // one row per cluster — at most |centroids| rows by construction
    val sizes = keyed.groupBy("__cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oversized = sizes.filter(_._2 > maxClusterSize)
    val sub: Column =
      if (oversized.isEmpty) lit(0L)
      else {
        val maxSize = oversized.values.max
        val planes = math.min(16,
          math.max(1, math.ceil(math.log(maxSize.toDouble / maxClusterSize) /
            math.log(2.0)).toInt))
        val dim = keyed.select(size(col("__v"))).head().getInt(0)
        when(col("__cluster").isInCollection(oversized.keys.toSeq),
          Similarity.hyperplaneSignatureFast(spark, col("__v"), dim, planes, seed))
          .otherwise(lit(0L))
      }
    val bucketed = keyed.withColumn("__sub", sub)
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.__cluster") === col("b.__cluster") &&
          col("a.__sub") === col("b.__sub") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("idA"), col("b.__id").as("idB"),
        col("a.__v").as("__va"), col("b.__v").as("__vb"))
  }

  /** Incremental embedding near-dup dedup of a batch against an
    * accumulated corpus — [[nearDupInsert]]'s vector-space sibling: append
    * only the batch rows with NO corpus vector at cosine ≥ `threshold` in
    * the same hyperplane sign bucket, probing a persisted SIGN-KEY INDEX
    * table `(key long, <idCol>)` (manifest blooms + stats on `key`).
    * Candidacy is all-planes sign agreement, exactly [[embeddingNearDup]]'s
    * contract; the verify computes cosine against ONLY the id-pruned
    * candidate corpus vectors, so both probe and verify are O(batch) at
    * any corpus size. In-batch near-dups collapse to the min-id survivor
    * first. Same crash contract as [[nearDupInsert]] (corpus commit before
    * index commit; [[rebuildEmbeddingNearDupIndex]] backfills). Returns
    * the number of rows appended.
    */
  def embeddingNearDupInsert(corpus: graft.table.Icebox, index: graft.table.Icebox,
      batch: DataFrame, vecCol: String, idCol: String, dim: Int,
      threshold: Double = 0.95, planes: Int = 8, seed: Long = 42L,
      serializable: Boolean = false, maxRetries: Int = 20,
      onBeforeCommit: () => Unit = () => ()): Long = {
    val spark = batch.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bp = batch.persist(lvl)
    val sig = Similarity.hyperplaneSignatureFast(spark, col(vecCol), dim, planes, seed)
    val keyed = bp.select(col(idCol).as("__id"), col(vecCol).as("__v"), sig.as("__key"))
      .persist(lvl)
    def cos(a: Column, b: Column): Column =
      graft.functions.VectorExpressions.cosine(spark, a, b)
    try {
      val intraDups = keyed.as("a")
        .join(keyed.as("b"), col("a.__key") === col("b.__key") && col("a.__id") < col("b.__id"))
        .filter(cos(col("a.__v"), col("b.__v")) >= threshold)
        .select(col("b.__id").as("__dup")).distinct()
      val survivors = bp.join(intraDups, col(idCol) === col("__dup"), "left_anti")
      def emptyDups = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__dup", batch.schema(idCol).dataType))))
      var attempt = 0
      while (true) {
        val snap = corpus.currentSnapshot
        val coveredId =
          if (serializable && index.exists)
            index.properties.get(Dedup.CoveredProp).map(_.toLong).getOrElse(-1L)
          else -1L
        // serializable: sign-key the uncovered corpus delta on the fly
        // (concurrent writers' unindexed rows + crash-gap heal + bootstrap)
        val uncoveredKeys: Option[DataFrame] = snap match {
          case Some(sn) if serializable && corpus.hasChangesBetween(coveredId, sn) =>
            Some(corpus.changesBetween(spark, coveredId, sn)
              .select(sig.as("key"), col(idCol))
              .persist(lvl))
          case _ => None
        }
        try {
          val indexHits: Option[DataFrame] =
            if (snap.isDefined && index.exists)
              Some(index.readForKeys(spark, keyed.select(col("__key").as("key")))
                .select(col("key"), col(idCol)))
            else None
          val corpusDups: DataFrame = (indexHits ++ uncoveredKeys).reduceOption(_ unionByName _) match {
            case None => emptyDups
            case Some(hits) =>
              val cands = keyed.join(hits, keyed("__key") === hits("key"))
                .select(col("__id").as("__bid"), col(idCol).as("__cid"))
                .distinct().persist(lvl)
              try {
                // no explicit materialize needed: readForKeys' bounds probe
                // collects from `cands`' lineage, populating the persist
                val slice = corpus.readForKeysAt(spark,
                  cands.select(col("__cid").as(idCol)).distinct(), snap)
                val cvec = slice.select(col(idCol).as("__cid2"), col(vecCol).as("__cv"))
                cands
                  .join(keyed.select(col("__id").as("__bid"), col("__v")), "__bid")
                  .join(cvec, cands("__cid") === cvec("__cid2"))
                  .filter(cos(col("__v"), col("__cv")) >= threshold)
                  .select(col("__bid").as("__dup")).distinct()
              } finally cands.unpersist(blocking = false)
          }
          val fresh = survivors.join(corpusDups, col(idCol) === col("__dup"), "left_anti")
            .persist(lvl)
          try {
            val n = fresh.count()
            val healRows = uncoveredKeys.map(_.count()).getOrElse(0L)
            onBeforeCommit()
            val appended: Option[graft.table.Snapshot] =
              if (n > 0) Some(
                if (serializable)
                  corpus.appendIfHead(fresh, snap.map(_.id).getOrElse(-1L),
                    collectStats = Seq(idCol))
                else corpus.append(fresh, collectStats = Seq(idCol))) // corpus FIRST
              else None
            // marker + first-wave init ride the index append — the same
            // ≤2-commits-per-wave contract as nearDupInsert
            val newCovered =
              if (serializable) appended.map(_.id).orElse(snap.map(_.id)).getOrElse(-1L)
              else -1L
            val markerProps: Map[String, String] =
              if (serializable && newCovered >= 0 && newCovered != coveredId)
                Map(Dedup.CoveredProp -> newCovered.toString)
              else Map.empty
            if (n > 0 || healRows > 0) {
              val initProps: Map[String, String] =
                if (!index.exists) Map("manifest.bloom.columns" -> "key",
                  // maintenance compaction range-clusters by key, so probe
                  // pruning survives file consolidation via min/max stats
                  // even past the bloom attach budget
                  "write.sort.columns" -> "key")
                else Map.empty
              val freshKeys = keyed
                .join(fresh.select(col(idCol).as("__id")), Seq("__id"), "left_semi")
                .select(col("__key").as("key"), col("__id").as(idCol))
              val toIndex = uncoveredKeys match {
                case Some(uk) if healRows > 0 => freshKeys.unionByName(uk)
                case _ => freshKeys
              }
              val idxFiles = math.max(1, math.ceil((n + healRows) / 4e6).toInt) // see nearDupInsert
              index.append(toIndex.repartitionByRange(idxFiles, col("key")),
                collectStats = Seq("key"),
                alsoSetProperties = initProps ++ markerProps)
            } else if (markerProps.nonEmpty)
              index.setProperties(markerProps)
            return n
          } catch {
            case e if e eq graft.table.IceboxCommit.SupersededCommit =>
              attempt += 1
              if (attempt > maxRetries) throw e
          } finally fresh.unpersist(blocking = false)
        } finally uncoveredKeys.foreach(_.unpersist(blocking = false))
      }
      -1L // unreachable
    } finally {
      keyed.unpersist(blocking = false)
      bp.unpersist(blocking = false)
    }
  }

  /** Backfill [[embeddingNearDupInsert]]'s sign-key index for corpus rows
    * missing from it — same contract as [[rebuildNearDupIndex]].
    * Idempotent; bands only the MISSING rows. Parameters must match the
    * insert calls.
    */
  def rebuildEmbeddingNearDupIndex(corpus: graft.table.Icebox, index: graft.table.Icebox,
      vecCol: String, idCol: String, dim: Int, planes: Int = 8,
      seed: Long = 42L): Long = {
    val spark = corpus.currentSnapshot match {
      case None => return 0L
      case Some(_) => org.apache.spark.sql.SparkSession.active
    }
    val missing =
      if (!index.exists) corpus.read(spark)
      else corpus.read(spark).join(index.read(spark).select(idCol), Seq(idCol), "left_anti")
    val sig = Similarity.hyperplaneSignatureFast(spark, col(vecCol), dim, planes, seed)
    val keyed = missing.select(sig.as("key"), col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = keyed.count()
      if (rows > 0) {
        if (!index.exists)
          index.setProperties(Map("manifest.bloom.columns" -> "key",
              // maintenance compaction range-clusters by key, so probe
              // pruning survives file consolidation via min/max stats
              // even past the bloom attach budget
              "write.sort.columns" -> "key"))
        index.append(keyed.repartitionByRange(
          math.max(1, math.ceil(rows / 4e6).toInt), col("key")),
          collectStats = Seq("key"))
      }
      rows
    } finally keyed.unpersist(blocking = false)
  }
}
