package graftbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail reading: `value` is the nearest-rank percentile `percentile`
    * of `samples` timings, and `beyond` samples rank above it.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * ranked beyond it: with n sorted samples that is rank n - minBeyond,
    * i.e. percentile 100·(n − minBeyond)/n. When that rank falls below the
    * median (fewer than 2·`minBeyond` + 1 samples) the tail is unsupported:
    * it reads the median, and `beyond` (under `minBeyond`) says so.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val rank = n - minBeyond
    if (2 * rank >= n + 1) Tail(s(rank - 1), 100.0 * rank / n, n, minBeyond)
    else Tail(median(s), 50.0, n, n / 2)
  }

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One traced call into a layer. Times are `System.nanoTime` readings;
  * `pausedNs` is measurement work (directory walks) done inside the span,
  * which is not charged to the layer.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    start: Long, end: Long, pausedNs: Long) {
  def wallNs: Long = end - start - pausedNs
}

object Spans {
  /** Self time of every span: its wall time minus the wall time of its
    * direct children (children of one client thread never overlap).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childWall = mutable.HashMap[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childWall(s.parent) += s.wallNs)
    spans.map(s => s.id -> (s.wallNs - childWall(s.id))).toMap
  }
}

/** JSON for the report lines: insertion-ordered maps rendered by Jackson
  * (with its Scala module, as Spark ships it).
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(kv: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
