package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Bytes a span or an operation wrote under table directories. */
final case class Written(dataBytes: Long, metaBytes: Long, manifests: Int) {
  def total: Long = dataBytes + metaBytes
  def +(o: Written): Written =
    Written(dataBytes + o.dataBytes, metaBytes + o.metaBytes, manifests + o.manifests)
}

object Written { val zero: Written = Written(0L, 0L, 0) }

/** File-tree listings of table directories. A file counts as written when
  * it is new or its size or mtime changed between two listings. Files under
  * a table's `data/` and `deletes/` are data; everything else (manifests,
  * pointers, properties, side files) is metadata. A manifest is a
  * `_snapshots/<id>.json` file: one per commit.
  */
object Disk {
  final case class Entry(size: Long, mtime: Long, data: Boolean, manifest: Boolean)
  type Listing = Map[String, Entry]

  private val ManifestName = """_snapshots/\d+\.json""".r

  def listing(dirs: Seq[String]): Listing = dirs.flatMap { d =>
    val root = Paths.get(d)
    if (!Files.isDirectory(root)) Nil
    else scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(p => Files.isRegularFile(p)).map { p =>
        val rel = root.relativize(p).toString
        val first = rel.takeWhile(_ != '/')
        p.toString -> Entry(Files.size(p), Files.getLastModifiedTime(p).toMillis,
          first == "data" || first == "deletes", ManifestName.pattern.matcher(rel).matches())
      }.toList
    }
  }.toMap

  def written(before: Listing, after: Listing): Written =
    after.foldLeft(Written.zero) { case (acc, (path, e)) =>
      before.get(path) match {
        case Some(b) if b.size == e.size && b.mtime == e.mtime => acc
        case prev =>
          val isNewManifest = e.manifest && prev.isEmpty
          if (e.data) acc.copy(dataBytes = acc.dataBytes + e.size)
          else acc.copy(metaBytes = acc.metaBytes + e.size,
            manifests = acc.manifests + (if (isNewManifest) 1 else 0))
      }
    }

  def size(dir: String): Long = listing(Seq(dir)).valuesIterator.map(_.size).sum

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      scala.util.Using.resource(Files.walk(root)) { st =>
        st.iterator().asScala.toList.reverse.foreach((p: Path) => Files.deleteIfExists(p))
      }
  }
}

/** In-memory span recorder for one client thread. Tracing is switched per
  * operation (`beginOp`), so one run can interleave traced and untraced
  * operations; with `active` false every call is a plain passthrough.
  */
final class Tracer {
  private var pausedTotal = 0L
  private var nextId = 0
  private var stack: List[(Int, Long, Long)] = Nil // (id, start, pausedAtStart)
  private var opId = -1
  var active = false
  val spans = mutable.ArrayBuffer[Span]()
  val written = mutable.HashMap[Int, Written]()
  val notes = mutable.HashMap[Int, mutable.Map[String, Double]]()

  def beginOp(op: Int, traced: Boolean): Unit = { opId = op; active = traced }
  def endOp(): Unit = active = false

  /** Measurement work that must not count as time of the layer or operation. */
  def paused[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedTotal += System.nanoTime() - t0
  }
  def pausedNs: Long = pausedTotal

  /** Wall seconds of `body`, minus any paused measurement work inside it. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val p0 = pausedTotal
    val r = body
    (r, (System.nanoTime() - t0 - (pausedTotal - p0)) / 1e9)
  }

  /** Record a span around `body`. `watch` names table directories whose
    * bytes written inside the span are recorded with it.
    */
  def span[T](name: String, watch: Seq[String] = Nil)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val before = if (watch.nonEmpty) paused(Disk.listing(watch)) else Map.empty[String, Disk.Entry]
      val start = System.nanoTime()
      stack = (id, start, pausedTotal) :: stack
      try body
      finally {
        val end = System.nanoTime()
        val (_, _, p0) = stack.head
        stack = stack.tail
        spans += Span(id, parent, name, opId, start, end, pausedTotal - p0)
        if (watch.nonEmpty) written(id) = paused(Disk.written(before, Disk.listing(watch)))
      }
    }

  /** Attach a named number to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (active) stack.headOption.foreach { case (id, _, _) =>
      notes.getOrElseUpdate(id, mutable.HashMap()) += key -> value
    }
}

/** Spark job and task records, collected by a listener. Listener events
  * arrive asynchronously with millisecond wall-clock times; they are placed
  * on the `System.nanoTime` axis of the spans through one paired reading.
  */
final class JobTrace extends SparkListener {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def toNano(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L

  final class Job(val id: Int, val start: Long) {
    @volatile var end: Long = -1L
    @volatile var tasks = 0L
    @volatile var cpuNs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var inputBytes = 0L
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  @volatile var lastEventNs: Long = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, toNano(e.time))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = toNano(e.time))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
    lastEventNs = System.nanoTime()
  }

  def pending: Boolean = jobs.values().asScala.exists(_.end < 0)
}

/** Per-query planning phases and Icebox scan counters, read from each
  * finished query's `QueryExecution`.
  */
final class QueryTrace(jobs: JobTrace) extends QueryExecutionListener {
  final case class Query(start: Long, planNs: Long, filesRead: Long, filesInIndex: Long,
      metadataNs: Long)
  val queries = new ConcurrentLinkedQueue[Query]()

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = jobs.toNano(phases.values.map(_.startTimeMs).min)
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      val scans = Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec if s.relation.location.isInstanceOf[graft.plans.IceboxFileIndex] => s
      }
      def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      queries.add(Query(start, planMs * 1000000L,
        scans.map(metric(_, "numFiles")).sum,
        scans.map(_.relation.location.inputFiles.length.toLong).sum,
        scans.map(metric(_, "metadataTime")).sum * 1000000L))
    }
    jobs.lastEventNs = System.nanoTime()
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    jobs.lastEventNs = System.nanoTime()
}
