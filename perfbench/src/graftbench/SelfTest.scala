package graftbench

/** Checks of the benchmark's own logic: generator determinism, the tail
  * percentile rule, span self time and interval union, and the round
  * schedule. Needs no Spark session. Run with `python3 perfbench/run.py --selftest`; exits 1 on the
  * first failed check.
  */
object SelfTest {
  private var checks = 0

  private def expect(what: String)(ok: Boolean): Unit = {
    checks += 1
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    generator()
    tailRule()
    selfTime()
    rounds()
    println(s"selftest: $checks checks passed")
  }

  private def generator(): Unit = {
    val a = (0L until 500L).map(Gen.lineitem(7L, _))
    expect("lineitem rows repeat for a seed")(a == (0L until 500L).map(Gen.lineitem(7L, _)))
    expect("lineitem rows differ across seeds")(a != (0L until 500L).map(Gen.lineitem(8L, _)))
    for (src <- Seq(Gen.Customer, Gen.Orders)) {
      val b1 = Gen.batch(src, 7L, 3, 150, 15000L, 0L)
      expect(s"${src.name} batch repeats for a seed")(b1 == Gen.batch(src, 7L, 3, 150, 15000L, 0L))
      expect(s"${src.name} batch differs across seeds")(b1 != Gen.batch(src, 8L, 3, 150, 15000L, 0L))
      expect(s"${src.name} batch differs across cycles")(b1 != Gen.batch(src, 7L, 4, 150, 15000L, 0L))
      val keys = b1.map(_.getLong(0))
      expect(s"${src.name} batch is 20% inserts of the next keys")(
        keys.filter(_ > 15000L).sorted == (15001L to 15030L))
      val upd = keys.filter(_ <= 15000L)
      expect(s"${src.name} updates favour recent keys")(upd.count(_ > 13500L) > upd.size / 4)
      expect(s"${src.name} watermarks rise within the batch")(
        b1.map(_.getTimestamp(src.schema.fieldIndex("updated_at")).getTime).sliding(2).forall(p => p(0) < p(1)))
    }
    val arch = Gen.archiveLines(7L, 2, 50)
    expect("archive lines repeat for a seed")(arch == Gen.archiveLines(7L, 2, 50))
    expect("archive lines differ across months")(arch.map(_.getLong(0)) != Gen.archiveLines(7L, 3, 50).map(_.getLong(0)))
    expect("archive lines are filed under their month, before the source tree")(
      arch.forall(_.getString(16) == Gen.archiveMonth(2)) && Gen.archiveMonth(0) == "1991-12" &&
        Gen.archiveMonth(12) == "1990-12")
    expect("archive order keys lie above the source tree's")(arch.forall(_.getLong(0) > (1L << 30)))
    expect("repeated share")(Gen.repeatedShare(Seq(1L, 2L, 2L, 3L)) == 1.0 / 3)
  }

  private def tailRule(): Unit = {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    expect(s"tail of 100 samples is p90 with 10 beyond (got $t)")(
      t.value == 90.0 && t.percentile == 90.0 && t.beyond == 10 && t.samples == 100)
    val t40 = Stats.tail((1 to 40).map(_.toDouble))
    expect(s"tail of 40 samples is p75 (got $t40)")(t40.value == 30.0 && t40.percentile == 75.0 && t40.beyond == 10)
    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    expect(s"tail of 21 samples is the median rank with 10 beyond (got $t21)")(
      t21.value == 11.0 && t21.beyond == 10)
    val t20 = Stats.tail((1 to 20).map(_.toDouble))
    expect(s"with 20 samples the tail is unsupported and reads the median (got $t20)")(
      t20.value == 10.5 && t20.percentile == 50.0 && t20.beyond == 10)
    val t4 = Stats.tail(Seq(4.0, 1.0, 3.0, 2.0))
    expect(s"with 4 samples the tail reads the median, 2 beyond (got $t4)")(t4.value == 2.5 && t4.beyond == 2)
    val t1 = Stats.tail(Seq(4.0))
    expect(s"one sample (got $t1)")(t1.value == 4.0 && t1.beyond == 0)
    expect("median odd")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median even")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def selfTime(): Unit = {
    // op [0,100) with children a [10,40) (holding grandchild [15,25)) and
    // b [50,90) of which 5 ns were paused measurement work
    val spans = Seq(
      Span(0, -1, "op", 0, 0, 100, 5),
      Span(1, 0, "a", 0, 10, 40, 0),
      Span(2, 1, "a.x", 0, 15, 25, 0),
      Span(3, 0, "b", 0, 50, 90, 5))
    val self = Spans.selfNs(spans)
    expect(s"self times (got $self)")(self == Map(0 -> 30L, 1 -> 20L, 2 -> 10L, 3 -> 35L))
    expect("self times sum to the root wall")(self.values.sum == spans.head.wallNs)
    expect("interval union clips and merges")(
      Stats.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L), (90L, 120L)), 2L, 100L) == 18L + 10L + 10L)
    expect("interval union of nothing")(Stats.covered(Nil, 0L, 10L) == 0L)
    expect("content hashes of disjoint sets combine")(
      Workloads.combine((2L, 5L, 6L), (3L, 7L, 3L)) == ((5L, 12L, 5L)))
  }

  /** Every cdc_merge round ticks once, on its last cycle, so traced and
    * untraced rounds (and any number of recorded rounds) hold the same mix.
    */
  private def rounds(): Unit = {
    val size = CdcMerge.TickEvery
    (0 until 9).foreach { r =>
      val cycles = (0 until size).map(r * size + _)
      expect(s"round $r ticks once, on its last cycle")(cycles.filter(CdcMerge.ticks) == Seq(cycles.last))
    }
    expect("recorded rounds alternate untraced and traced")(
      (0 until 6).map(Main.tracedRound) == Seq(false, true, false, true, false, true))
  }
}
