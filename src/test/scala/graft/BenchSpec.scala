package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The per-query drift canary's adjudication arithmetic (Bench.parseHistory
  * / anchor / overThreshold). Round-13 post-mortem: same-session elevated
  * draws raised a query's own trailing-median threshold to 15.8 s, letting
  * a 15.07 s stall reading pass as clean (isolated re-run: 6.14 s). The
  * guards under test: degraded-window runs are dropped from the history
  * when a clean run exists, and the anchor is the trailing MIN — so a bad
  * window can never raise its own bar.
  */
class BenchSpec extends AnyFunSuite with Matchers {

  private def line(sf: String, degraded: Boolean, qs: (String, Double)*): String =
    s"""{"ts":0,"sf":"$sf","degraded":$degraded,"queries":{${
      qs.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""

  test("degraded runs are excluded when any clean run exists") {
    val lines = Seq(
      line("sf0.1", degraded = false, "q_x" -> 6.1),
      line("sf0.1", degraded = true, "q_x" -> 9.5),
      line("sf0.1", degraded = true, "q_x" -> 8.0))
    Bench.parseHistory(lines, "sf0.1") shouldBe Map("q_x" -> Seq(6.1))
  }

  test("all-degraded history is kept rather than discarded (weak anchor beats none)") {
    val lines = Seq(
      line("sf0.1", degraded = true, "q_x" -> 9.5),
      line("sf0.1", degraded = true, "q_x" -> 8.0))
    Bench.parseHistory(lines, "sf0.1") shouldBe Map("q_x" -> Seq(9.5, 8.0))
  }

  test("pre-r14 lines without a degraded field parse as clean") {
    val legacy = """{"ts":0,"sf":"sf0.1","queries":{"q_x":5.0}}"""
    Bench.parseHistory(Seq(legacy), "sf0.1") shouldBe Map("q_x" -> Seq(5.0))
  }

  test("other scale factors and corrupt lines are ignored") {
    val lines = Seq(
      line("sf0.01", degraded = false, "q_x" -> 0.4),
      "not json at all",
      line("sf0.1", degraded = false, "q_x" -> 2.0))
    Bench.parseHistory(lines, "sf0.1") shouldBe Map("q_x" -> Seq(2.0))
  }

  test("anchor is the trailing min: a majority of elevated draws cannot raise it") {
    // the r13 shape: one honest 6.14 s draw among elevated 9.5/7.9/8.0 —
    // the median (8.0) put the threshold at 16 s; the min keeps it 12.28
    Bench.anchor(Seq(9.5, 7.9, 6.14, 8.0)) shouldBe 6.14
    // with the min anchor the r13 escape (15.07 s) is flagged
    Bench.overThreshold(15.07, Bench.anchor(Seq(9.5, 7.9, 6.14, 8.0))) shouldBe true
  }

  test("one anomalously fast reading cannot halve the threshold (r14 advice)") {
    // a warm-cache fluke (3.0 s) among honest ~6 s readings: the bare min
    // would set the threshold at 6.0 s and flag every honest draw; the
    // clamp anchors at second-lowest/1.5 = 4.0, threshold 8.0 — honest
    // readings stay clean, a real 2x regression (12+ s) still flags
    val a = Bench.anchor(Seq(3.0, 6.0, 6.1, 6.2))
    a shouldBe 4.0 +- 1e-9
    Bench.overThreshold(6.2, a) shouldBe false
    Bench.overThreshold(12.5, a) shouldBe true
    // honest floor twice demonstrated: the clamp never binds
    Bench.anchor(Seq(6.0, 6.05, 9.0)) shouldBe 6.0
    // a single reading is its own anchor
    Bench.anchor(Seq(5.0)) shouldBe 5.0
  }

  test("a query recorded only in degraded runs still gets a (weak) anchor") {
    // q_new was added during a degraded window: its readings exist only in
    // degraded runs, while q_x has clean history. q_new must fall back to
    // the degraded readings rather than silently skip adjudication.
    val lines = Seq(
      line("sf0.1", degraded = false, "q_x" -> 6.1),
      line("sf0.1", degraded = true, "q_x" -> 9.5, "q_new" -> 2.0),
      line("sf0.1", degraded = true, "q_new" -> 2.4))
    Bench.parseHistory(lines, "sf0.1") shouldBe
      Map("q_x" -> Seq(6.1), "q_new" -> Seq(2.0, 2.4))
  }

  test("headline line is valid JSON and fits the capture window") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // the actual headline subset shape: ~50 queries
    val subset = (1 to 50).map(i => s"q_headline_query_name_$i" -> i * 0.123)
    val l1 = Bench.encodeHeadline(subset, 123.456, "/root/testdata/sf0.1",
      "32", 157, degraded = false, nSuspect = 0)
    l1.length should be <= 1900
    mapper.readTree(l1).get("n_queries").asInt() shouldBe 157
    // a pathological full-suite-sized map still fits: entries drop from
    // the tail and the drop is recorded
    val full = (1 to 200).map(i => s"q_some_rather_long_query_name_$i" -> i * 1.5)
    val l2 = Bench.encodeHeadline(full, 9999.9, "/root/testdata/sf0.1",
      "32", 200, degraded = true, nSuspect = 3)
    l2.length should be <= 1900
    val node = mapper.readTree(l2)
    node.get("headline_dropped").asInt() should be > 0
    (node.get("queries").size() + node.get("headline_dropped").asInt()) shouldBe 200
  }

  test("failed queries are named in the headline, and counted when nothing else fits") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val l1 = Bench.encodeHeadline(Seq("q_ok" -> 1.0), 1.0, "sf0.1",
      "32", 1, degraded = false, nSuspect = 0, failed = Seq("q_a", "q_b"))
    val names = mapper.readTree(l1).get("failed")
    (0 until names.size()).map(names.get(_).asText()) shouldBe Seq("q_a", "q_b")
    val clean = Bench.encodeHeadline(Seq("q_ok" -> 1.0), 1.0, "sf0.1",
      "32", 1, degraded = false, nSuspect = 0)
    mapper.readTree(clean).get("failed").size() shouldBe 0
    // a failure list too long for the window still leaves its count
    val many = (1 to 200).map(i => s"q_some_rather_long_query_name_$i")
    val l2 = Bench.encodeHeadline(Seq("q_ok" -> 1.0), 1.0, "sf0.1",
      "32", 1, degraded = false, nSuspect = 0, failed = many)
    l2.length should be <= 1900
    mapper.readTree(l2).get("n_failed").asInt() shouldBe 200
  }

  test("threshold is relative AND absolute: sub-second jitter never flags") {
    Bench.overThreshold(0.9, 0.3) shouldBe false // 3x but under +1 s
    Bench.overThreshold(1.4, 0.3) shouldBe true // past both
    Bench.overThreshold(11.0, 6.0) shouldBe false // under 2x for multi-second
    Bench.overThreshold(12.1, 6.0) shouldBe true
  }
}
