package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.table.Icebox

/** One benchmark run: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --root DIR [--trace-out FILE]`.
  *
  * Sets the workload up `Setups` times (timing each but the first),
  * computes the oracle, runs the workload's warm-up rounds, runs the
  * closed loop for `--seconds` in whole rounds, checks every output, and
  * prints two lines: a report object, then the result object whose
  * `metrics` are the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`). Exits 1 when any check failed.
  */
object Main {
  /** Set-ups per run: the first warms the JVM and is not a sample. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val root = opts.getOrElse("root", sys.error("--root is required"))
    val ok = run(workload, seed, seconds, traced, root, opts.get("trace-out"))
    sys.exit(if (ok) 0 else 1)
  }

  /** Recorded round `k` of a traced run is traced: the recorded rounds
    * alternate untraced (even) and traced (odd).
    */
  def tracedRound(k: Int): Boolean = k % 2 == 1

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, root: String,
      traceOut: Option[String]): Boolean = {
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(master = s"local[$cores]", appName = s"graftbench-$name")
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tracer = new Tracer
      val ctx = new Ctx(spark, seed, root, tracer)
      val wl = Workloads(name, ctx)
      phase("session")

      val setupSeconds = (0 until Setups).map { i =>
        val dir = s"$root/setup$i"
        val (_, s) = tracer.timed(wl.setup(dir))
        if (i > 0) Disk.delete(s"$root/setup${i - 1}")
        s
      }.drop(1)
      phase("setups")
      wl.prepare()
      phase("oracle")

      val jobs = new JobTrace
      val queries = new QueryTrace(jobs)
      if (traced) {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(queries)
      }
      // closed loop, one client, in whole rounds of `wl.round` cycles, so
      // every round holds the same mix of cycles (on cdc_merge one
      // maintenance tick each). `wl.warmupRounds` rounds run first, before
      // the measured window: they are checked but not timed. A round starts
      // while the window is open, so a run records about window / round
      // rounds, rounded up: the count holds steady while the round time
      // stays between two whole fractions of the window (on cdc_merge, two
      // rounds for any round between half the window and all of it). At
      // least one round is recorded, and in a traced run one untraced and
      // one traced round, which give the tracing overhead from one process
      // and like cycles
      def runRound(r: Int, traced: Boolean): Unit = (0 until wl.round).foreach { c =>
        val i = r * wl.round + c
        tracer.beginOp(i, traced)
        try wl.op(i)
        catch { case NonFatal(e) => ctx.outcome(s"cycle $i threw $e")(false) }
        finally tracer.endOp()
      }
      ctx.recording = false
      (0 until wl.warmupRounds).foreach(runRound(_, traced = false))
      phase("warmup")

      val probeStart = probe(spark, s"$root/probe0")
      val gc0 = gcMs
      ctx.recording = true
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      val minRounds = if (traced) 2 else 1
      var k = 0
      while (k < minRounds || System.nanoTime() < deadline) {
        runRound(wl.warmupRounds + k, traced && tracedRound(k))
        k += 1
      }
      val cyclesRun = k * wl.round
      phases("measured_window") = (System.nanoTime() - start) / 1e9
      val gcSeconds = (gcMs - gc0) / 1e3
      val heapMb = retainedHeapMb()
      val probeEnd = probe(spark, s"$root/probe1")
      if (traced) awaitListeners(jobs)
      phase("timed")

      wl.check()
      phase("check")
      val cycles = ctx.cycles.map(_.seconds).toSeq
      val reads = ctx.reads.values.flatten.toSeq
      val lookups = ctx.reads.getOrElse("lookup", Nil).toSeq
      require(cycles.nonEmpty && reads.nonEmpty, "the run completed no cycle")
      val cycleTail = Stats.tail(cycles)
      val readTail = Stats.tail(reads)
      val e2e = Json.obj(
        "setup_s" -> m(Stats.median(setupSeconds), "s"),
        "ok_frac" -> m(1.0 - ctx.failed.toDouble / math.max(ctx.attempted, 1L), "frac"),
        "cycle_s_p50" -> m(Stats.median(cycles), "s"),
        "cycle_s_tail" -> m(cycleTail.value, "s"),
        "read_s_p50" -> m(Stats.median(reads), "s"),
        "read_s_tail" -> m(readTail.value, "s"),
        "lookup_s_p50" -> m(Stats.median(lookups), "s"),
        "write_amp" -> m(wl.writeAmp, "ratio"),
        "space_amp" -> m(wl.spaceAmp, "ratio"),
        "heap_retained_mb" -> m(heapMb, "MB"))
      val layers =
        if (traced) Layers(ctx, wl, tracer, jobs, queries, gcSeconds / cyclesRun, traceOut) else Json.obj()
      phase("amplification_and_layers")

      val report = Json.obj(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "cores" -> cores, "cycles" -> cycles.size, "cycles_per_round" -> wl.round,
        "maintenance_cycles" -> Json.obj(
          "untraced" -> ctx.cycles.count(c => c.maintenance && !c.traced),
          "traced" -> ctx.cycles.count(c => c.maintenance && c.traced)),
        "reads" -> ctx.reads.map { case (k, v) => k -> v.size },
        "read_s_p50_by_kind" -> ctx.reads.map { case (k, v) => k -> Stats.median(v.toSeq) },
        "tails" -> Json.obj("cycle_s" -> tailInfo(cycleTail), "read_s" -> tailInfo(readTail)),
        "setup_s_samples" -> setupSeconds, "cycle_s_samples" -> cycles,
        "inputs" -> wl.inputs, "workload_figures" -> wl.extra,
        "host_probe" -> Json.obj("start" -> probeStart, "end" -> probeEnd),
        "failures" -> ctx.failures.take(20), "phase_s" -> phases,
        "end_to_end" -> e2e) ++ (if (traced) Seq("per_layer_detail" -> layers("detail")) else Nil)
      println(Json.render(Json.obj("report" -> report)))
      val correct = ctx.failed == 0
      println(Json.render(Json.obj(
        "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> (if (traced) layers("metrics") else e2e))))
      correct
    } finally spark.stop()
  }

  private def m(value: Double, unit: String) = Json.obj("value" -> value, "unit" -> unit)

  private def tailInfo(t: Stats.Tail) = Json.obj(
    "value" -> t.value, "percentile" -> t.percentile, "samples" -> t.samples, "beyond" -> t.beyond)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Heap still in use after full collections: the heap pools' usage as of
    * the last collection, lowest of three collections a moment apart (Spark's
    * ContextCleaner releases broadcasts and shuffles only after a collection
    * has found them unreachable).
    */
  private def retainedHeapMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum
  }.min / 1048576.0

  /** Host-window probe, run just before and just after the timed phase: a
    * CPU-only projection and a one-row Icebox commit (which also sees disk
    * stalls), timed in seconds.
    */
  private def probe(spark: SparkSession, dir: String): collection.Map[String, Any] = {
    val t1 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, spark.sparkContext.defaultParallelism)
      .select(sum(xxhash64(col("id"), col("id") * 3) % 1000)).collect()
    val cpu = (System.nanoTime() - t1) / 1e9
    val t0 = System.nanoTime()
    Icebox(dir).append(spark.range(1).toDF("id"))
    val commit = (System.nanoTime() - t0) / 1e9
    Disk.delete(dir)
    Json.obj("cpu_projection_s" -> cpu, "one_row_commit_s" -> commit)
  }

  /** Wait until every started job has ended and the listener queues have
    * been quiet for a moment (events are delivered asynchronously).
    */
  private def awaitListeners(jobs: JobTrace): Unit = {
    val limit = System.nanoTime() + 10000000000L
    while (System.nanoTime() < limit &&
        (jobs.pending || System.nanoTime() - jobs.lastEventNs < 300000000L)) Thread.sleep(50)
  }
}

/** Per-layer metrics from a traced run's spans, jobs and queries. */
object Layers {

  def apply(ctx: Ctx, wl: Workload, tracer: Tracer, jobTrace: JobTrace,
      queryTrace: QueryTrace, gcPerCycle: Double, traceOut: Option[String]): collection.Map[String, Any] = {
    val spans = tracer.spans.toSeq
    val self = Spans.selfNs(spans)
    val jobs = jobTrace.jobs.values().asScala.toSeq.filter(_.end >= 0)
    val queries = queryTrace.queries.asScala.toSeq
    val opSpans = spans.filter(_.name == "op")
    val tracedOps = math.max(opSpans.size, 1).toDouble
    // everything a traced cycle timed: its `op` span and any reads outside it
    val roots = spans.filter(_.parent < 0)

    def within[T](s: Span, xs: Seq[T])(start: T => Long): Seq[T] =
      xs.filter(x => start(x) >= s.start && start(x) < s.end)
    def jobsIn(s: Span) = within(s, jobs)(_.start)
    def jobWallNs(s: Span) = Stats.covered(jobsIn(s).map(j => (j.start, j.end)), s.start, s.end)
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def sec(ns: Double) = ns / 1e9
    def meanWall(prefix: String) = { val ss = named(prefix); if (ss.isEmpty) 0.0 else sec(ss.map(_.wallNs).sum.toDouble) / ss.size }
    def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def bytes(prefix: String) = meanOf(named(prefix).map(s => tracer.written.getOrElse(s.id, Written.zero).total.toDouble))
    def nonjobNs(s: Span) = s.wallNs - jobWallNs(s)
    def perCycle(f: Span => Double) = roots.map(f).sum / tracedOps
    def readP50(kinds: String*) = {
      val xs = kinds.flatMap(k => ctx.reads.getOrElse(k, Nil))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }

    val cdcSpans = named("cdc.runCycle")
    val fileCdc = named("filecdc.runCycle")
    val mvSpans = named("mv.refresh")
    val tickSpans = named("tableservice.tick")
    val readSpans = named("read.")
    val commitBearing = Seq("upsert.", "mv.refresh", "tableservice.tick", "filecdc.runCycle").flatMap(named)
    val cycleQueries = roots.flatMap(s => within(s, queries)(_.start))
    val readQueries = readSpans.flatMap(s => within(s, queries)(_.start))
    val cycleJobs = roots.flatMap(jobsIn)
    val opWritten = opSpans.flatMap(s => spans.filter(c => c.op == s.op && tracer.written.contains(c.id)))
      .map(c => tracer.written(c.id)).foldLeft(Written.zero)(_ + _)
    val sourceBytes = wl match { case f: FullLoad => f.sourceBytes.toDouble; case _ => 0.0 }
    val (liveFiles, liveDeletes, snaps) = Workloads.liveState(wl.tableDirs.map(Icebox(_)))
    val filesInIndex = readQueries.map(_.filesInIndex).sum
    // traced and untraced cycles come in whole rounds with the same mix of
    // cycles, so their means compare like with like
    val traced = ctx.cycles.filter(_.traced).map(_.seconds).toSeq
    val untraced = ctx.cycles.filterNot(_.traced).map(_.seconds).toSeq
    val overhead = if (traced.isEmpty || untraced.isEmpty) 0.0 else meanOf(traced) - meanOf(untraced)
    val mvModes = wl match { case c: CdcMerge => c.mvModes.toSeq; case _ => Nil }
    val layerWall = opSpans.map(o => spans.filter(_.parent == o.id).map(_.wallNs).sum).sum.toDouble

    // (name, unit, value); the names and units BENCHMARK.json lists
    val metrics: Seq[(String, String, Double)] = Seq(
      ("cdc.cycle_self_s", "s", sec(cdcSpans.map(s => self(s.id)).sum.toDouble) / tracedOps),
      ("cdc.jobs_per_cycle", "count", cdcSpans.map { s =>
        jobsIn(s).size - spans.filter(_.parent == s.id).map(jobsIn(_).size).sum
      }.sum / tracedOps),
      ("filecdc.jobs_per_load", "count", meanOf(fileCdc.map(jobsIn(_).size.toDouble))),
      ("filecdc.source_read_amp", "ratio",
        if (fileCdc.isEmpty || sourceBytes == 0) 0.0
        else fileCdc.flatMap(jobsIn).map(_.inputBytes).sum / (sourceBytes * fileCdc.size)),
      ("upsert.cow_s", "s", meanWall("upsert.cow")),
      ("upsert.cow_bytes_written", "bytes", bytes("upsert.cow")),
      ("upsert.mor_s", "s", meanWall("upsert.mor")),
      ("upsert.mor_bytes_written", "bytes", bytes("upsert.mor")),
      ("mv.refresh_s", "s", meanWall("mv.refresh")),
      ("mv.jobs_per_refresh", "count", meanOf(mvSpans.map(jobsIn(_).size.toDouble))),
      ("mv.incremental_frac", "frac",
        if (mvModes.isEmpty) 0.0 else mvModes.count(_ == "Incremental").toDouble / mvModes.size),
      ("icebox.commits", "count", opWritten.manifests / tracedOps),
      ("icebox.commit_nonjob_s", "s", sec(commitBearing.map(nonjobNs).sum.toDouble) / tracedOps),
      ("icebox.meta_bytes_written", "bytes", opWritten.metaBytes / tracedOps),
      ("icebox.live_files", "count", liveFiles.toDouble),
      ("icebox.live_delete_files", "count", liveDeletes.toDouble),
      ("icebox.snapshots", "count", snaps.toDouble),
      ("tableservice.tick_s", "s", meanWall("tableservice.tick")),
      ("tableservice.bytes_rewritten", "bytes",
        meanOf(tickSpans.map(s => tracer.written.getOrElse(s.id, Written.zero).dataBytes.toDouble))),
      ("tableservice.files_compacted", "count",
        meanOf(tickSpans.map(s => tracer.notes.getOrElse(s.id, Map.empty[String, Double]).values.sum))),
      ("icebox.read.head_s_p50", "s", readP50("lookup", "range", "full")),
      ("icebox.read.timetravel_s_p50", "s", readP50("timetravel")),
      ("icebox.read.incremental_s_p50", "s", readP50("incremental")),
      ("fileindex.files_read", "count", readQueries.map(_.filesRead).sum / math.max(readSpans.size, 1).toDouble),
      ("fileindex.kept_frac", "frac",
        if (filesInIndex == 0) 0.0 else readQueries.map(_.filesRead).sum.toDouble / filesInIndex),
      ("fileindex.metadata_s", "s", sec(readQueries.map(_.metadataNs).sum.toDouble) / math.max(readSpans.size, 1)),
      ("plan.s", "s", sec(cycleQueries.map(_.planNs).sum.toDouble) / tracedOps),
      ("spark.jobs", "count", cycleJobs.size / tracedOps),
      ("spark.tasks", "count", cycleJobs.map(_.tasks).sum / tracedOps),
      ("spark.job_wall_s", "s", sec(perCycle(s => jobWallNs(s).toDouble))),
      ("spark.executor_cpu_s", "s", sec(cycleJobs.map(_.cpuNs).sum.toDouble) / tracedOps),
      ("spark.shuffle_bytes", "bytes", cycleJobs.map(_.shuffleBytes).sum / tracedOps),
      ("spark.spill_bytes", "bytes", cycleJobs.map(_.spillBytes).sum / tracedOps),
      ("driver.nonjob_s", "s", sec(perCycle(s => nonjobNs(s).toDouble))),
      ("jvm.gc_s", "s", gcPerCycle),
      ("trace.overhead_s", "s", overhead),
      ("trace.overhead_frac", "frac", if (untraced.isEmpty) 0.0 else overhead / meanOf(untraced)),
      ("trace.layer_coverage", "frac", if (opSpans.isEmpty) 0.0 else layerWall / opSpans.map(_.wallNs).sum))

    // per span name: the layer table the report carries
    val detail = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.obj(
        "count" -> ss.size,
        "wall_s" -> sec(ss.map(_.wallNs).sum.toDouble),
        "self_s" -> sec(ss.map(s => self(s.id)).sum.toDouble),
        "jobs" -> ss.map(jobsIn(_).size).sum,
        "job_wall_s" -> sec(ss.map(jobWallNs).sum.toDouble),
        "nonjob_s" -> sec(ss.map(nonjobNs).sum.toDouble),
        "executor_cpu_s" -> sec(ss.flatMap(jobsIn).map(_.cpuNs).sum.toDouble),
        "tasks" -> ss.flatMap(jobsIn).map(_.tasks).sum,
        "shuffle_bytes" -> ss.flatMap(jobsIn).map(_.shuffleBytes).sum,
        "spill_bytes" -> ss.flatMap(jobsIn).map(_.spillBytes).sum,
        "plan_s" -> sec(ss.flatMap(s => within(s, queries)(_.start)).map(_.planNs).sum.toDouble),
        "bytes_written" -> ss.map(s => tracer.written.getOrElse(s.id, Written.zero).total).sum)
    }
    traceOut.foreach { path =>
      val lines = spans.map(s => Json.render(Json.obj("span" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end, "paused_ns" -> s.pausedNs,
        "self_ns" -> self(s.id)))) ++
        jobs.sortBy(_.id).map(j => Json.render(Json.obj("job" -> j.id, "start_ns" -> j.start, "end_ns" -> j.end,
          "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs, "shuffle_bytes" -> j.shuffleBytes,
          "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes)))
      Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
      Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    Json.obj(
      "metrics" -> Json.obj(metrics.map { case (k, u, v) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "detail" -> Json.obj(detail: _*))
  }
}
