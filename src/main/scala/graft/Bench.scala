package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every registered query at the given scale
  * factor and prints one JSON line. Each query is fully materialized through
  * the `noop` sink (not `count()`, which parquet count-pushdown could
  * short-circuit for pure scans).
  *
  * The harness that captures this keeps only the LAST 2000 characters of
  * stdout, so the printed line holds a stable HEADLINE subset of per-query
  * times (3-decimal, fits the window — r02/r03/r10 all recorded
  * `parsed: null` from oversized lines); the FULL per-query map is written
  * to `BENCH_FULL.json` in the working directory (committed with the repo)
  * with the same `total` over ALL queries.
  *
  * `SPARK_GRAFT_BENCH_ONLY=q_a,q_b` restricts the run to named queries —
  * the regression-adjudication path (isolates a query from whole-suite
  * JVM/GC/ordering effects).
  *
  * The run self-certifies against host stalls at TWO granularities:
  *  - whole-run: a fixed sentinel query, and beside it a one-row Icebox
  *    append (the write and commit I/O the query does not touch), timed at
  *    start/every-25/end; the artifact carries both sets of readings and
  *    `"degraded": true` when either's maximum exceeds 2× its own floor by
  *    more than a second (multi-query stall windows).
  *  - per-query (r13, anchor hardened r14): the trailing-runs MIN from the
  *    committed `BENCH_HISTORY.jsonl` (one line per full run at this SF,
  *    appended by every full run; degraded-sentinel runs excluded when any
  *    clean run exists). A query whose best-of-2 min exceeds
  *    max(2× anchor, anchor + 1 s) is RE-RUN once at the end of the suite
  *    — temporally outside any short stall window the sentinel sampling
  *    missed — and the artifact records all three readings, the median,
  *    and a `suspect` flag (true only when even the post-rerun min stays
  *    over threshold). The reported per-query value is the min of all
  *    readings. Short stall windows that slipped between sentinel samples
  *    (r12: q_file_cdc 5.67 s vs 1.51 s on unchanged code) now
  *    self-adjudicate inside the artifact.
  */
object Bench {
  /** Round-over-round comparison anchors: one per major subsystem, names
    * stable across rounds. Keep the encoded line under ~1900 chars.
    */
  private val headline: Seq[String] = Seq(
    "q1_agg", "q_agg_multi", "q_topk", "q_window_hourly", "q_join_broadcast",
    "q_join_multi", "q_in_filter", "q_normalize", "q_scan_filter_project",
    "q_csv_scan", "q_orc_scan", "q_json_scan", "q_union_all",
    "q_icebox_append", "q_icebox_compact", "q_icebox_upsert", "q_icebox_zorder",
    "q_icebox_partition_prune", "q_bloom_prune", "q_merge_into", "q_merge_mor",
    "q_update_mor", "q_delete_mor", "q_cdc_cycle", "q_change_feed",
    "q_minhash_dedup", "q_simhash_dedup", "q_dedup_exact", "q_dedup_components",
    "q_ann_topk", "q_ann_ivf", "q_text_quality", "q_text_normalize", "q_bm25",
    "q_paragraph_dedup", "q_profile", "q_heavy_hitters", "q_mv_refresh",
    "q_mv_sql", "q_sessionize", "q_asof_join", "q_range_join", "q_salted_join",
    "q_pipeline", "q_llm_pipeline", "q_image_decode", "q_multimodal_decode",
    "q_mv_join", "q_mv_catalyst", "q_resample",
    "q_ccnet_select", "q_lm_5gram", "q_ann_ivfpq", "q_mv_snowflake_catalyst")

  private def fmt(v: Double): String = f"$v%.3f".replace(",", ".")

  private def enc(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  private def encNames(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The one-line machine-readable headline. BOUNDED: the capture harness
    * keeps only the tail of stdout, so the encoded line must fit its
    * window with room for surrounding noise — if the query subset pushes
    * the line past `maxChars`, trailing entries are dropped (and counted
    * in `headline_dropped`) until it fits; the FULL map always lives in
    * BENCH_FULL.json. BenchSpec pins both properties (valid JSON, fits)
    * against a full-suite-sized map. `failed` names the queries that threw;
    * they carry no time and are not in `total`.
    */
  private[graft] def encodeHeadline(queries: Seq[(String, Double)], total: Double,
      sfDir: String, cpus: String, nQueries: Int, degraded: Boolean,
      nSuspect: Int, failed: Seq[String] = Nil, maxChars: Int = 1900): String = {
    val f = s""""failed":${encNames(failed)}"""
    def render(qs: Seq[(String, Double)]): String = {
      val dropped = queries.size - qs.size
      val d = if (dropped > 0) s""","headline_dropped":$dropped""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${enc(qs)},"sf":"$sfDir","basis":"best-of-2-min","cpus":$cpus,"n_queries":$nQueries,"degraded":$degraded,"suspects":$nSuspect,$f,"full":"BENCH_FULL.json"$d}"""
    }
    var qs = queries
    var out = render(qs)
    while (out.length > maxChars && qs.nonEmpty) {
      qs = qs.dropRight(1)
      out = render(qs)
    }
    // the <= maxChars property must hold UNCONDITIONALLY: with every query
    // dropped, a pathological sfDir/cpus string can still overflow the
    // fixed envelope — shorten sf to its basename, then fall back to a
    // minimal valid-JSON envelope (still machine-parsable: metric, value,
    // unit, failure count, pointer to the full artifact)
    if (out.length > maxChars) {
      val base = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir).take(64)
      out = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{},"sf":"$base","basis":"best-of-2-min","cpus":$cpus,"n_queries":$nQueries,"degraded":$degraded,"suspects":$nSuspect,$f,"full":"BENCH_FULL.json","headline_dropped":${queries.size}}"""
      if (out.length > maxChars)
        out = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_failed":${failed.size},"full":"BENCH_FULL.json"}"""
    }
    out
  }

  /** Trailing per-query readings (last 5 runs) from the committed
    * `BENCH_HISTORY.jsonl`, restricted to runs at the SAME scale factor —
    * medians across SFs would be meaningless. Runs whose own sentinel
    * certified the window as degraded are EXCLUDED whenever at least one
    * clean run exists (r13: elevated-window draws kept in the history
    * raised q_neardup_insert's threshold to 15.8 s and let a 15.07 s
    * stall reading slip under it — a bad window must not set its own
    * bar). Absent/corrupt history degrades to no per-query adjudication,
    * never a failed run.
    */
  private[graft] def parseHistory(lines: Seq[String], sfDir: String): Map[String, Seq[Double]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    // (degraded, queries) per parseable line at this SF
    val runs: Seq[(Boolean, Seq[(String, Double)])] = lines.flatMap { line =>
      try {
        val node = mapper.readTree(line)
        if (node.get("sf") == null || node.get("sf").asText() != sfDir) Nil
        else {
          val deg = node.get("degraded") != null && node.get("degraded").asBoolean(false)
          Seq((deg, node.get("queries").properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toSeq))
        }
      } catch { case _: Throwable => Nil }
    }
    val kept = if (runs.exists(!_._1)) runs.filter(!_._1) else runs
    val clean = kept.flatMap(_._2).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).takeRight(5) }
    // per-query fallback: a query whose only readings sit in degraded runs
    // (added during a degraded window) would otherwise get NO adjudication
    // until the next clean run records it — serve its degraded readings
    // rather than nothing (weak anchor beats none, same rationale as the
    // all-degraded case above)
    val degradedOnly = runs.filter(_._1).flatMap(_._2)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).takeRight(5) }
      .filterNot { case (k, _) => clean.contains(k) }
    clean ++ degradedOnly
  }

  private def loadHistory(sfDir: String): Map[String, Seq[Double]] = try {
    val f = new java.io.File("BENCH_HISTORY.jsonl")
    if (!f.exists) return Map.empty
    val src = scala.io.Source.fromFile(f)
    val lines = try src.getLines().toList finally src.close()
    parseHistory(lines, sfDir)
  } catch { case _: Throwable => Map.empty }

  /** Per-query drift anchor over the trailing readings: the MIN, clamped
    * to no lower than second-lowest/1.5. Low, not central — trailing
    * draws from the SAME contaminated session move together (r13:
    * 9.5/7.9/8.0 for a 6.1 s query), so a median can be majority-elevated
    * while the floor stays honest; the min is the query's
    * demonstrated-achievable time. But the BARE min is fragile the other
    * way (r14 advice): ONE anomalously fast reading — warm-cache fluke,
    * partial work from a transient bug — would halve the threshold for
    * the next 5 runs and flag honest readings as suspects. The clamp
    * bounds a single fluke's pull: the anchor never drops more than 1.5x
    * below a time TWO independent runs demonstrated, while one elevated
    * draw still cannot raise it above the honest min. Anything past
    * max(2x, +1 s) of the anchor is worth one isolated re-run at suite
    * end (cost: one extra run — cheap against a phantom-regression
    * verdict).
    */
  private[graft] def anchor(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size < 2) s.head else math.max(s.head, s(1) / 1.5)
  }

  private[graft] def overThreshold(v: Double, m: Double): Boolean =
    v > math.max(2.0 * m, m + 1.0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim).toSet)
    // the engine's own session defaults (GraftSession): AQE coalesces the
    // small shuffles this suite is full of, so wide masters don't pay
    // 32-way task overhead on 600k-row stages
    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: interleaved WARN lines have corrupted the one-line
    // JSON capture downstream (BENCH_r02/r03 both show parsed: null)
    spark.sparkContext.setLogLevel("ERROR")
    // warm the session (codegen, parquet footer reads) so the first timed
    // query doesn't absorb JVM startup
    try SparkEntry.queries("q_count")(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // DRIFT CANARY: a fixed sentinel query (the q_normalize projection —
    // code untouched for many rounds, ~0.4 s isolated) timed at the start,
    // every `SentinelEvery` queries, and at the end. A host stall window
    // (four rounds of phantom "regressions" were adjudicated to exactly
    // this) shows up as a sentinel reading far above the run's own floor —
    // the artifact then SELF-CERTIFIES as degraded instead of demanding a
    // post-hoc isolated-rerun investigation.
    val SentinelEvery = 25
    val DegradedRatio = 2.0
    val sentinelReadings = scala.collection.mutable.ArrayBuffer[Double]()
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries("q_normalize")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }
    // I/O CANARY beside it: a one-row Icebox append (a data file, then the
    // commit's creates and rename) timed at each sentinel point. A window
    // where storage writes stall shows here even when the compute-bound
    // projection does not move.
    val appendDir = java.nio.file.Files.createTempDirectory("graft-bench-append-")
    val appendTable = graft.table.Icebox(appendDir.toString)
    val appendReadings = scala.collection.mutable.ArrayBuffer[Double]()
    def appendOnce(): Double = {
      val t0 = System.nanoTime()
      try appendTable.append(spark.range(1).toDF("id"))
      catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }
    def sentinel(): Unit = {
      sentinelReadings += sentinelOnce()
      appendReadings += appendOnce()
    }
    sentinelOnce(); appendOnce() // warm-up: the first execution absorbs
                   // codegen/plan compile (and the table's creation) and
                   // would read as phantom drift — discard it
    sentinel(); sentinel() // two at the start: the floor is in-run, not a constant
    // BEST-OF-2 per query (basis change recorded in BASELINE.md): a
    // transient host stall lands on one run, not both — rounds 7-9 each
    // recorded a multi-second phantom regression from a single-pass time.
    // A query that throws gets no time: it is listed in `failed`, left out
    // of `total`, and the run exits non-zero.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        None
      } finally SparkEntry.clearTmp() // after the clock: not timed
    }
    val raw: Seq[(String, Double, Double)] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .flatMap { case ((name, fn), i) =>
        if (i > 0 && i % SentinelEvery == 0) sentinel()
        for (a <- runOnce(name, fn); b <- runOnce(name, fn)) yield (name, a, b)
      }
    sentinel()
    // PER-QUERY DRIFT CANARY: adjudicate against the committed history's
    // trailing medians, re-running suspects now — after the whole suite,
    // outside any short stall window that produced the original readings
    val hist: Map[String, Seq[Double]] =
      if (only.isDefined) Map.empty else loadHistory(sfDir)
    // (name, reportedValue, Option[(allReadings, anchor, stillSuspect)])
    val adjudicated: Seq[(String, Double, Option[(Seq[Double], Double, Boolean)])] =
      raw.flatMap { case (name, a, b) =>
        val v = math.min(a, b)
        hist.get(name).filter(_.nonEmpty).map(anchor) match {
          case Some(m) if overThreshold(v, m) =>
            runOnce(name, SparkEntry.queries(name)).map { c =>
              val v3 = math.min(v, c)
              (name, v3, Some((Seq(a, b, c), m, overThreshold(v3, m))))
            }
          case _ => Some((name, v, None))
        }
      }
    val results: Seq[(String, Double)] = adjudicated.map(t => (t._1, t._2))
    val suspectJson: String =
      if (adjudicated.forall(_._3.isEmpty)) "\"suspect_queries\":{}"
      else "\"suspect_queries\":" + adjudicated.collect {
        case (n, _, Some((rs, m, still))) =>
          s""""$n":{"readings":[${rs.map(fmt).mkString(",")}],"anchor":${fmt(m)},"suspect":$still}"""
      }.mkString("{", ",", "}")
    org.apache.commons.io.FileUtils.deleteQuietly(appendDir.toFile)
    // both a RELATIVE (2× floor) and an ABSOLUTE (≥ 1 s over floor) excess:
    // sub-second readings jitter well past 2× from scheduling noise alone,
    // while the stall windows being guarded against are multi-second
    def stalled(rs: Seq[Double]): Boolean = rs.max > DegradedRatio * rs.min && rs.max - rs.min > 1.0
    def readingsJson(rs: Seq[Double]): String =
      s""""readings":[${rs.map(fmt).mkString(",")}],"floor":${fmt(rs.min)},"max":${fmt(rs.max)}"""
    val degraded = stalled(sentinelReadings.toSeq) || stalled(appendReadings.toSeq)
    val appendJson = s""""append":{${readingsJson(appendReadings.toSeq)},"degraded":${stalled(appendReadings.toSeq)}}"""
    val sentinelJson = s""""sentinel":{"query":"q_normalize",${readingsJson(sentinelReadings.toSeq)},$appendJson,"degraded":$degraded}"""
    System.err.println(s"[bench] $sentinelJson")
    val total = results.map(_._2).sum
    // full map -> file (survives the stdout tail window; committed
    // in-repo). Subset runs (SPARK_GRAFT_BENCH_ONLY) must NOT clobber the
    // committed full-suite artifact with a partial map.
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${enc(results)},"sf":"$sfDir","basis":"best-of-2-min","cpus":$cpus,"n_queries":${results.size},"failed":${encNames(failed.toSeq)},$sentinelJson,$suspectJson}"""
    if (only.isEmpty) try {
      val w = new java.io.PrintWriter("BENCH_FULL.json"); w.println(full); w.close()
      // committed per-query history the next round's canary adjudicates
      // against (sf-keyed; subset runs never append)
      // the sentinel verdict travels WITH the readings so future canaries
      // can drop degraded-window draws instead of anchoring on them
      val h = new java.io.FileWriter("BENCH_HISTORY.jsonl", true)
      h.write(s"""{"ts":${System.currentTimeMillis()},"sf":"$sfDir","degraded":$degraded,"queries":${enc(results)}}""" + "\n")
      h.close()
    } catch { case _: Throwable => () }
    val nSuspect = adjudicated.count(_._3.exists(_._3))
    val subset = results.filter { case (k, _) => only.isDefined || headline.contains(k) }
    val line = encodeHeadline(subset, total, sfDir, cpus, results.size, degraded, nSuspect,
      failed.toSeq)
    println(line)
    System.out.flush()
    spark.stop()
    // once more as the ABSOLUTE LAST stdout line: the capture harness
    // parses the tail of stdout, and Spark's stop()/shutdown logging (or a
    // stall between the first print and process exit) must not be what the
    // window ends on. Duplicate-printing the identical line is idempotent
    // to any parser that takes the last JSON line.
    println(line)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
