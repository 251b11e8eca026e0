package graft

import org.apache.spark.sql.functions._
import graft.operators.MaterializedView
import graft.table.{Icebox, IceboxCommit}

/** Incremental materialized aggregate: O(delta) refresh from the change
  * feed, exactly-once cursor in the commit op string, merge-on-read
  * target updates, vanished-group removal, null-sum semantics, and the
  * expired-cursor full-rebuild fallback.
  */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def fullAgg(src: Icebox) =
    src.read(spark).groupBy("g")
      .agg(count(lit(1)).as("row_count"), sum($"v").as("sum_v"), count($"v").as("nn_v"))

  test("initial refresh is a full build matching the direct aggregate") {
    val src = Icebox(tmpDir("mvsrc1"))
    src.append((1 to 100).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgt1"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.FullBuild
    assertSameRows(mv.read(spark), fullAgg(src))
    MaterializedView.lastRefreshedSource(mv, "m") shouldBe Some(src.currentSnapshotId)
    // already current -> NoOp, no new snapshot
    val snaps = mv.allSnapshots.size
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.NoOp
    mv.allSnapshots.size shouldBe snaps
  }

  test("incremental refresh after appends and deletes matches full recompute, merge-on-read") {
    val src = Icebox(tmpDir("mvsrc2"))
    src.append((1 to 100).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgt2"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    val filesAfterBuild = mv.currentSnapshot.get.files.map(_.path).toSet

    src.append((101 to 150).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "g", "v"))
    src.deleteByKeys((1 to 30).map(_.toLong).toDF("id"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.Incremental
    assertSameRows(mv.read(spark), fullAgg(src))
    // merge-on-read: the build's data files survive (deletes attach, no rewrite)
    val filesNow = mv.currentSnapshot.get.files.map(_.path).toSet
    (filesAfterBuild intersect filesNow) should not be empty
  }

  test("vanished groups are removed; untouched groups' rows are not re-read") {
    val src = Icebox(tmpDir("mvsrc3"))
    src.append(Seq((1L, 0, 5L), (2L, 0, 7L), (3L, 1, 9L), (4L, 2, 11L))
      .toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgt3"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    // delete every g=0 row -> that group must vanish from the view
    src.deleteByKeys(Seq(1L, 2L).toDF("id"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.Incremental
    mv.read(spark).filter($"g" === 0).count() shouldBe 0L
    assertSameRows(mv.read(spark), fullAgg(src))
  }

  test("sum goes null when a group's last non-null value is deleted (nn_c bookkeeping)") {
    val src = Icebox(tmpDir("mvsrc4"))
    src.append(Seq((1L, 0, Some(5L)), (2L, 0, None), (3L, 1, Some(9L)))
      .toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgt4"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    src.deleteByKeys(Seq(1L).toDF("id")) // g=0 keeps one row, but its v is null
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    val g0 = mv.read(spark).filter($"g" === 0).collect()
    g0.length shouldBe 1
    g0.head.getAs[Long]("row_count") shouldBe 1L
    g0.head.isNullAt(g0.head.fieldIndex("sum_v")) shouldBe true
    g0.head.getAs[Long]("nn_v") shouldBe 0L
    assertSameRows(mv.read(spark), fullAgg(src))
  }

  test("data-neutral source commit advances the cursor with a metadata-only marker") {
    val src = Icebox(tmpDir("mvsrc5"))
    src.append((1 to 40).map(i => (i.toLong, i % 3, i * 2L)).toDF("id", "g", "v")
      .repartition(4))
    val mv = Icebox(tmpDir("mvtgt5"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    src.compact(spark) // rewrites files, zero row change
    val dataFiles = mv.currentSnapshot.get.files.map(_.path).toSet
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.MarkerOnly
    MaterializedView.lastRefreshedSource(mv, "m") shouldBe Some(src.currentSnapshotId)
    mv.currentSnapshot.get.files.map(_.path).toSet shouldBe dataFiles
    assertSameRows(mv.read(spark), fullAgg(src))
  }

  test("expired cursor on the source falls back to a full rebuild") {
    val src = Icebox(tmpDir("mvsrc6"))
    src.append((1 to 20).map(i => (i.toLong, i % 2, i * 3L)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgt6"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    (1 to 5).foreach(k =>
      src.append(Seq((100L + k, k % 2, k * 7L)).toDF("id", "g", "v")))
    src.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000L, retainLast = 1)
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.FullBuild
    assertSameRows(mv.read(spark), fullAgg(src))
  }

  test("an incremental-path error that is not an expired cursor propagates") {
    val src = Icebox(tmpDir("mvsrcE"))
    src.append((1 to 10).map(i => (i.toLong, i % 2, i * 3L)).toDF("id", "g", "v"))
    src.append((11 to 20).map(i => (i.toLong, i % 2, i * 3L)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgtE"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    val before = src.currentSnapshot.get.files.map(_.path)
    src.compact(spark)
    before.toSet.intersect(src.currentSnapshot.get.files.map(_.path).toSet) shouldBe Set.empty
    // the cursor snapshot survives, but a file only the diff reads is gone:
    // a full rebuild would hide the damage
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(before.head).toUri.getPath))
    an[Exception] should be thrownBy
      MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
  }

  test("WHERE predicate filters both the build and every change diff") {
    val src = Icebox(tmpDir("mvsrcW"))
    src.append(Seq((1L, 0, 10L, "keep"), (2L, 0, 20L, "drop"), (3L, 1, 30L, "keep"))
      .toDF("id", "g", "v", "tag"))
    val mv = Icebox(tmpDir("mvtgtW"))
    val where = Some("tag = 'keep'")
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"), where) shouldBe
      MaterializedView.FullBuild
    def expect() = src.read(spark).filter($"tag" === "keep").groupBy("g")
      .agg(count(lit(1)).as("row_count"), sum($"v").as("sum_v"), count($"v").as("nn_v"))
    assertSameRows(mv.read(spark), expect())
    // append rows on both sides of the predicate; delete a kept row AND a
    // dropped row — only the kept deletions may move the aggregate
    src.append(Seq((4L, 0, 40L, "keep"), (5L, 1, 50L, "drop")).toDF("id", "g", "v", "tag"))
    src.deleteByKeys(Seq(1L, 2L).toDF("id"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"), where) shouldBe
      MaterializedView.Incremental
    assertSameRows(mv.read(spark), expect())
    // a change diff that is entirely OUTSIDE the predicate is data-neutral
    // for the view: cursor advances with a marker, no data commit
    src.append(Seq((6L, 2, 60L, "drop")).toDF("id", "g", "v", "tag"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"), where) shouldBe
      MaterializedView.MarkerOnly
    assertSameRows(mv.read(spark), expect())
  }

  test("deleting a group's extremum recomputes min/max from only the touched group") {
    val src = Icebox(tmpDir("mvsrcMM"))
    src.append(Seq((1L, 0, 5L), (2L, 0, 100L), (3L, 1, 9L), (4L, 1, 2L))
      .toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgtMM"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"),
      None, Seq("v")) shouldBe MaterializedView.FullBuild
    def expect() = src.read(spark).groupBy("g")
      .agg(count(lit(1)).as("row_count"), sum($"v").as("sum_v"), count($"v").as("nn_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))
    assertSameRows(mv.read(spark), expect())
    // id=2 is g=0's max: naive delta arithmetic can't lower max_v — the
    // touched-group recompute must
    src.deleteByKeys(Seq(2L).toDF("id"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"),
      None, Seq("v")) shouldBe MaterializedView.Incremental
    val g0 = mv.read(spark).filter($"g" === 0).collect()
    g0.head.getAs[Long]("max_v") shouldBe 5L
    assertSameRows(mv.read(spark), expect())
    // untouched group g=1 carried its extrema without a source re-read of
    // its rows; now raise g=1's max via an append — still exact
    src.append(Seq((5L, 1, 77L)).toDF("id", "g", "v"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"),
      None, Seq("v")) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), expect())
  }

  test("WHERE composes with min/max touched-group recompute") {
    val src = Icebox(tmpDir("mvsrcWM"))
    src.append(Seq((1L, 0, 5L, "keep"), (2L, 0, 100L, "drop"), (3L, 0, 50L, "keep"))
      .toDF("id", "g", "v", "tag"))
    val mv = Icebox(tmpDir("mvtgtWM"))
    val where = Some("tag = 'keep'")
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"), where, Seq("v"))
    // max over KEPT rows only: 50, not 100
    mv.read(spark).collect().head.getAs[Long]("max_v") shouldBe 50L
    src.deleteByKeys(Seq(3L).toDF("id")) // delete the kept max
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"), where, Seq("v")) shouldBe
      MaterializedView.Incremental
    mv.read(spark).collect().head.getAs[Long]("max_v") shouldBe 5L
  }

  test("refresh survives source schema evolution (appended column is ignored by the view)") {
    val src = Icebox(tmpDir("mvsrcE"))
    src.append(Seq((1L, 0, 10L), (2L, 1, 20L)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgtE"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.FullBuild
    // source evolves: a new column appears mid-history
    src.append(Seq((3L, 0, 30L, "web")).toDF("id", "g", "v", "channel"))
    src.deleteByKeys(Seq(1L).toDF("id"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.Incremental
    assertSameRows(mv.read(spark), fullAgg(src))
    // the view's schema is untouched by the evolution
    mv.read(spark).columns.toSet shouldBe Set("g", "row_count", "sum_v", "nn_v")
  }

  test("a commit carrying a stale expected head aborts with SupersededCommit (no double-apply)") {
    val src = Icebox(tmpDir("mvsrcS"))
    src.append(Seq((1L, 0, 10L), (2L, 1, 20L)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgtS"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    val staleHead = mv.currentSnapshotId
    // a concurrent refresher publishes first (emulated by a real refresh)
    src.append(Seq((3L, 0, 30L)).toDF("id", "g", "v"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.Incremental
    // the loser's commits, pinned to the superseded head, must ABORT —
    // not attach a stale delta on top of the winner's state
    intercept[RuntimeException](mv.commitMarker("mv-refresh:m:999",
      expectHeadId = staleHead)) shouldBe IceboxCommit.SupersededCommit
    intercept[RuntimeException](mv.commitEqualityDeletes("mv-refresh:m:999",
      Seq(0).toDF("g"), None, Nil, expectHeadId = staleHead)) shouldBe
      IceboxCommit.SupersededCommit
    // with the CURRENT head the same commit goes through (an op OUTSIDE
    // the mv-refresh marker namespace, so the cursor stays untouched)
    mv.commitMarker("maintenance-noop", expectHeadId = mv.currentSnapshotId)
    // and a re-entered refresh lands on NoOp — the winner already covered it
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) shouldBe
      MaterializedView.NoOp
    assertSameRows(mv.read(spark), fullAgg(src))
  }

  test("two independent views on one target namespace don't cross cursors") {
    val src = Icebox(tmpDir("mvsrc7"))
    src.append((1 to 10).map(i => (i.toLong, i % 2, i * 1L)).toDF("id", "g", "v"))
    val mvA = Icebox(tmpDir("mvtgtA"))
    val mvB = Icebox(tmpDir("mvtgtB"))
    MaterializedView.refresh(spark, src, mvA, "a", Seq("g"), Seq("v"))
    src.append(Seq((11L, 0, 100L)).toDF("id", "g", "v"))
    MaterializedView.refresh(spark, src, mvB, "b", Seq("g"), Seq("v")) shouldBe
      MaterializedView.FullBuild
    MaterializedView.refresh(spark, src, mvA, "a", Seq("g"), Seq("v")) shouldBe
      MaterializedView.Incremental
    assertSameRows(mvA.read(spark), fullAgg(src))
    assertSameRows(mvB.read(spark), fullAgg(src))
  }

  test("COUNT(DISTINCT) rides touched-group recompute: deletes lower it, dups don't raise it") {
    val src = Icebox(tmpDir("mvsrc8"))
    src.append((1 to 60).map(i => (i.toLong, i % 3, (i % 8).toLong)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgt8"))
    def expect() = src.read(spark).groupBy("g")
      .agg(count(lit(1)).as("row_count"), sum($"v").as("sum_v"),
        count($"v").as("nn_v"), countDistinct($"v").as("nd_v"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"),
      None, Nil, Seq("v")) shouldBe MaterializedView.FullBuild
    assertSameRows(mv.read(spark), expect())
    // remove every carrier of v=7 from g=1 (ids 7,31,55 are g 1; v=7 ids
    // are 7,15,23,...): delete ids where v==7 → nd drops only where the
    // LAST carrier left; also insert duplicates that must not raise nd
    src.deleteByKeys((1 to 60).filter(_ % 8 == 7).map(_.toLong).toDF("id"))
    src.append(Seq((61L, 0, 2L), (62L, 1, 2L)).toDF("id", "g", "v"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"),
      None, Nil, Seq("v")) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), expect())
  }

  test("one incremental refresh of an append runs 3 Spark jobs") {
    val src = Icebox(tmpDir("mvsrc-jobs"))
    src.append((1 to 100).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "g", "v"))
    val mv = Icebox(tmpDir("mvtgt-jobs"))
    MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    src.append((101 to 120).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "g", "v"))
    // the appended file is read on the driver and the delta aggregates
    // there; then the delete file, the touched target rows' broadcast and
    // the recomputed groups' write
    var mode: MaterializedView.Mode = null
    val jobs = jobNamesOf { mode = MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v")) }
    mode shouldBe MaterializedView.Incremental
    jobs should have size 3
    jobs.count(_.contains("write at DataFileCommitter")) shouldBe 2
    assertSameRows(mv.read(spark), fullAgg(src))
  }

  test("a refresh touching a NULL group rebuilds: the view keeps one NULL group") {
    val src = Icebox(tmpDir("mvsrc-null"))
    src.append(Seq((Some("a"), 1L), (None, 2L)).toDF("g", "v"))
    val mv = Icebox(tmpDir("mvtgt-null"))
    def refresh() = MaterializedView.refresh(spark, src, mv, "m", Seq("g"), Seq("v"))
    refresh() shouldBe MaterializedView.FullBuild
    src.append(Seq((None, 10L), (Some("a"), 5L)).toDF("g", "v"))
    val mode = refresh()
    canon(mv.read(spark)) shouldBe canon(Seq((Some("a"), 2L, 6L, 2L), (None, 2L, 12L, 2L))
      .toDF("g", "row_count", "sum_v", "nn_v"))
    mode shouldBe MaterializedView.FullBuild
    // a delta that leaves the NULL group alone stays incremental
    src.append(Seq((Some("b"), 7L)).toDF("g", "v"))
    refresh() shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), fullAgg(src))
  }

  // ---- join views: Δ(A⋈B) = ΔA⋈B₂ + A₁⋈ΔB ------------------------------

  /** fact(id, fk, v) ⋈ dim(k, g) on fk = k, grouped by the dim's g. */
  private def joinedAgg(fact: Icebox, dim: Icebox) =
    fact.read(spark).join(dim.read(spark), $"fk" === $"k", "inner")
      .groupBy("g").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))

  private def joinMv(fact: Icebox, dim: Icebox, mv: Icebox) =
    MaterializedView.refreshStar(spark, fact,
      Seq(MaterializedView.StarDim(dim, Seq("fk" -> "k"))), mv, "j", Seq("g"), Seq("v"))

  test("join view: full build matches the joined aggregate; pair cursor lands NoOp") {
    val fact = Icebox(tmpDir("jmvf1")); val dim = Icebox(tmpDir("jmvd1"))
    fact.append((1 to 80).map(i => (i.toLong, i % 7, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 5).map(k => (k, s"g${k % 3}")).toDF("k", "g")) // fk=6 dangles
    val mv = Icebox(tmpDir("jmvt1"))
    joinMv(fact, dim, mv) shouldBe MaterializedView.FullBuild
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
    MaterializedView.lastRefreshedStar(mv, "j", 1) shouldBe
      Some(Seq(fact.currentSnapshotId, dim.currentSnapshotId))
    joinMv(fact, dim, mv) shouldBe MaterializedView.NoOp
  }

  test("join view: appends on BOTH sides in one cycle refresh incrementally, no double count") {
    val fact = Icebox(tmpDir("jmvf2")); val dim = Icebox(tmpDir("jmvd2"))
    fact.append((1 to 60).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 4).map(k => (k, s"g${k % 2}")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt2"))
    joinMv(fact, dim, mv)
    // new facts point at BOTH old dims (k<5) and a dim inserted in the
    // SAME cycle (k=5): ΔA⋈B₂ must see the new dim, A₁⋈ΔB must not
    // re-count the new facts
    fact.append((61 to 90).map(i => (i.toLong, i % 6, i * 10L)).toDF("id", "fk", "v"))
    dim.append(Seq((5, "g2")).toDF("k", "g"))
    joinMv(fact, dim, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
  }

  test("join view: a deleted dim row removes its facts; a deleted fact leaves its group") {
    val fact = Icebox(tmpDir("jmvf3")); val dim = Icebox(tmpDir("jmvd3"))
    fact.append((1 to 60).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 4).map(k => (k, s"g$k")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt3"))
    joinMv(fact, dim, mv)
    dim.deleteByKeys(Seq(2).toDF("k"))                    // group g2 vanishes
    fact.deleteByKeys((1 to 10).map(_.toLong).toDF("id")) // facts leave groups
    joinMv(fact, dim, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
    mv.read(spark).filter($"g" === "g2").count() shouldBe 0L
  }

  test("join view: a dim UPDATE (delete+insert) re-points its facts to the new group") {
    val fact = Icebox(tmpDir("jmvf4")); val dim = Icebox(tmpDir("jmvd4"))
    fact.append((1 to 40).map(i => (i.toLong, i % 4, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 3).map(k => (k, s"g$k")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt4"))
    joinMv(fact, dim, mv)
    // re-label dim key 1: its delete version joins the old facts out of
    // g1, its insert version joins them into gX
    dim.deleteByKeys(Seq(1).toDF("k"))
    dim.append(Seq((1, "gX")).toDF("k", "g"))
    joinMv(fact, dim, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
    mv.read(spark).filter($"g" === "g1").count() shouldBe 0L
    mv.read(spark).filter($"g" === "gX").count() shouldBe 1L
  }

  test("join view: WHERE filters the joined delta on both terms") {
    val fact = Icebox(tmpDir("jmvf5")); val dim = Icebox(tmpDir("jmvd5"))
    fact.append((1 to 60).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 4).map(k => (k, s"g${k % 2}")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt5"))
    MaterializedView.refreshStar(spark, fact,
      Seq(MaterializedView.StarDim(dim, Seq("fk" -> "k"))), mv, "j",
      Seq("g"), Seq("v"), Some("v >= 200")) shouldBe MaterializedView.FullBuild
    fact.append((61 to 100).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    dim.deleteByKeys(Seq(3).toDF("k"))
    MaterializedView.refreshStar(spark, fact,
      Seq(MaterializedView.StarDim(dim, Seq("fk" -> "k"))), mv, "j",
      Seq("g"), Seq("v"), Some("v >= 200")) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark),
      fact.read(spark).join(dim.read(spark), $"fk" === $"k", "inner")
        .filter($"v" >= 200).groupBy("g").agg(count(lit(1)).as("row_count"),
          sum($"v").as("sum_v"), count($"v").as("nn_v")))
  }

  test("join view: data-neutral commits on either side advance the pair cursor by marker") {
    val fact = Icebox(tmpDir("jmvf6")); val dim = Icebox(tmpDir("jmvd6"))
    fact.append((1 to 20).map(i => (i.toLong, i % 2, i * 1L)).toDF("id", "fk", "v")
      .repartition(4))
    dim.append((0 to 1).map(k => (k, s"g$k")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt6"))
    joinMv(fact, dim, mv)
    fact.compact(spark) // rewrites files, zero row change
    joinMv(fact, dim, mv) shouldBe MaterializedView.MarkerOnly
    MaterializedView.lastRefreshedStar(mv, "j", 1) shouldBe
      Some(Seq(fact.currentSnapshotId, dim.currentSnapshotId))
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
  }

  test("join view: fact-side schema evolution mid-stream keeps the delta path exact") {
    val fact = Icebox(tmpDir("jmvf8")); val dim = Icebox(tmpDir("jmvd8"))
    fact.append((1 to 40).map(i => (i.toLong, i % 4, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 3).map(k => (k, s"g$k")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt8"))
    joinMv(fact, dim, mv)
    // a new fact column appears mid-history; older files read it as null
    fact.append(Seq((41L, 2, 500L, "mobile")).toDF("id", "fk", "v", "channel"))
    fact.deleteByKeys(Seq(3L).toDF("id"))
    joinMv(fact, dim, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
    mv.read(spark).columns.toSet shouldBe Set("g", "row_count", "sum_v", "nn_v")
  }

  test("join view: a concurrent commit between cursor read and publish forces clean re-entry") {
    val fact = Icebox(tmpDir("jmvf9")); val dim = Icebox(tmpDir("jmvd9"))
    fact.append((1 to 40).map(i => (i.toLong, i % 4, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 3).map(k => (k, s"g$k")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt9"))
    joinMv(fact, dim, mv)
    fact.append(Seq((41L, 1, 999L)).toDF("id", "fk", "v"))
    // simulate the race: another writer moves the TARGET head after this
    // refresher captured it — publishing with the stale expected head
    // must abort instead of double-applying the delta
    val staleHead = mv.currentSnapshotId
    mv.commitMarker("maintenance-noop", expectHeadId = staleHead)
    intercept[RuntimeException](mv.commitEqualityDeletes("mv-refresh:j:9:9",
      Seq("g1").toDF("g"), None, Nil, expectHeadId = staleHead)) shouldBe
      IceboxCommit.SupersededCommit
    // the operator's own path re-enters on the fresh head and lands exactly
    joinMv(fact, dim, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
  }

  test("join view: one refresh of a fact append plus a dim key-delete runs 7 Spark jobs") {
    val fact = Icebox(tmpDir("jmvf10")); val dim = Icebox(tmpDir("jmvd10"))
    fact.append((1 to 60).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    dim.append((0 to 4).map(k => (k, s"g$k")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt10"))
    joinMv(fact, dim, mv)
    fact.append((61 to 80).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    dim.deleteByKeys(Seq(2).toDF("k"))
    // both terms run; each pinned side is small, so it is read outright
    // with no pruning probe, and no pinned read is persisted; both diffs
    // are read on the driver and not persisted either; the touched groups
    // are collected once and feed every later step
    var mode: MaterializedView.Mode = null
    jobsOf { mode = joinMv(fact, dim, mv) } shouldBe 7
    mode shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
  }

  test("join view: a refresh touching a NULL group rebuilds: one NULL group") {
    val fact = Icebox(tmpDir("jmvf11")); val dim = Icebox(tmpDir("jmvd11"))
    fact.append((1 to 20).map(i => (i.toLong, i % 3, i * 1L)).toDF("id", "fk", "v"))
    dim.append(Seq((0, Some("g0")), (1, None), (2, None)).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt11"))
    joinMv(fact, dim, mv) shouldBe MaterializedView.FullBuild
    fact.append(Seq((21L, 1, 100L), (22L, 0, 50L)).toDF("id", "fk", "v"))
    val mode = joinMv(fact, dim, mv)
    mv.read(spark).filter($"g".isNull).count() shouldBe 1L
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
    mode shouldBe MaterializedView.FullBuild
  }

  test("join view: expired cursor on a source falls back to a full rebuild") {
    val fact = Icebox(tmpDir("jmvf7")); val dim = Icebox(tmpDir("jmvd7"))
    fact.append((1 to 20).map(i => (i.toLong, i % 2, i * 1L)).toDF("id", "fk", "v"))
    dim.append((0 to 1).map(k => (k, s"g$k")).toDF("k", "g"))
    val mv = Icebox(tmpDir("jmvt7"))
    joinMv(fact, dim, mv)
    fact.append((21 to 30).map(i => (i.toLong, i % 2, i * 1L)).toDF("id", "fk", "v"))
    fact.append((31 to 40).map(i => (i.toLong, i % 2, i * 1L)).toDF("id", "fk", "v"))
    fact.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000L,
      retainLast = 1)
    joinMv(fact, dim, mv) shouldBe MaterializedView.FullBuild
    assertSameRows(mv.read(spark), joinedAgg(fact, dim))
  }
}
