package graft

import org.apache.spark.sql.functions._
import graft.operators.MaterializedView
import graft.operators.MaterializedView.StarDim
import graft.table.Icebox

/** Star-schema materialized views: one fact inner-joined to N dims,
  * maintained by the telescoped bilinear delta rule with key-pruned
  * non-delta reads and an N-part exactly-once cursor.
  */
class StarMvSpec extends SparkSpec {
  import spark.implicits._

  /** fact(id, ck, pk2, v) ⋈ cust(ck→seg) ⋈ prod(pk2→cat), grouped by (seg, cat). */
  private def mkTables(tag: String): (Icebox, Icebox, Icebox, Icebox) = {
    val fact = Icebox(tmpDir(s"star-f$tag"))
    val cust = Icebox(tmpDir(s"star-c$tag"))
    val prod = Icebox(tmpDir(s"star-p$tag"))
    val mv = Icebox(tmpDir(s"star-t$tag"))
    fact.append((1 to 120).map(i => (i.toLong, i % 8, i % 5, i * 10L))
      .toDF("id", "ck", "pk2", "v"))
    cust.append((0 to 7).map(k => (k, s"seg${k % 3}")).toDF("c_id", "seg"))
    prod.append((0 to 4).map(k => (k, s"cat${k % 2}")).toDF("p_id", "cat"))
    (fact, cust, prod, mv)
  }

  private def dims(cust: Icebox, prod: Icebox) = Seq(
    StarDim(cust, Seq("ck" -> "c_id")),
    StarDim(prod, Seq("pk2" -> "p_id")))

  private def starAgg(fact: Icebox, cust: Icebox, prod: Icebox) =
    fact.read(spark)
      .join(cust.read(spark), $"ck" === $"c_id", "inner")
      .join(prod.read(spark), $"pk2" === $"p_id", "inner")
      .groupBy("seg", "cat").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))

  private def refresh(fact: Icebox, cust: Icebox, prod: Icebox, mv: Icebox) =
    MaterializedView.refreshStar(spark, fact, dims(cust, prod), mv, "st",
      Seq("seg", "cat"), Seq("v"))

  test("full build matches the 3-way aggregate; 3-part cursor lands NoOp") {
    val (fact, cust, prod, mv) = mkTables("1")
    refresh(fact, cust, prod, mv) shouldBe MaterializedView.FullBuild
    assertSameRows(mv.read(spark), starAgg(fact, cust, prod))
    MaterializedView.lastRefreshedStar(mv, "st", 2) shouldBe
      Some(Seq(fact.currentSnapshotId, cust.currentSnapshotId, prod.currentSnapshotId))
    refresh(fact, cust, prod, mv) shouldBe MaterializedView.NoOp
  }

  test("expired cursor on a dim falls back to a full rebuild") {
    val (fact, cust, prod, mv) = mkTables("x")
    refresh(fact, cust, prod, mv)
    cust.append(Seq((8, "seg9")).toDF("c_id", "seg"))
    cust.append(Seq((9, "seg9")).toDF("c_id", "seg"))
    cust.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000000L, retainLast = 1)
    refresh(fact, cust, prod, mv) shouldBe MaterializedView.FullBuild
    assertSameRows(mv.read(spark), starAgg(fact, cust, prod))
  }

  test("appends on fact AND both dims in one cycle refresh incrementally") {
    val (fact, cust, prod, mv) = mkTables("2")
    refresh(fact, cust, prod, mv)
    // new facts reference old dims AND dims inserted in the same cycle
    // (ck=8, pk2=5): the term with ΔF must see both dims at NEW snapshots,
    // the ΔD terms must not re-count the new facts
    fact.append((121 to 160).map(i => (i.toLong, i % 9, i % 6, i * 10L))
      .toDF("id", "ck", "pk2", "v"))
    cust.append(Seq((8, "seg9")).toDF("c_id", "seg"))
    prod.append(Seq((5, "cat9")).toDF("p_id", "cat"))
    refresh(fact, cust, prod, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), starAgg(fact, cust, prod))
  }

  test("deletes: a dim row drops its facts, a fact leaves its group; exact vs recompute") {
    val (fact, cust, prod, mv) = mkTables("3")
    refresh(fact, cust, prod, mv)
    cust.deleteByKeys(Seq(3).toDF("c_id"))
    prod.deleteByKeys(Seq(1).toDF("p_id"))
    fact.deleteByKeys((1 to 15).map(_.toLong).toDF("id"))
    refresh(fact, cust, prod, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), starAgg(fact, cust, prod))
  }

  test("dim UPDATE re-points its facts across groups (delete+insert version pair)") {
    val (fact, cust, prod, mv) = mkTables("4")
    refresh(fact, cust, prod, mv)
    // customer 2 moves segments: its facts must migrate wholesale
    cust.deleteByKeys(Seq(2).toDF("c_id"))
    cust.append(Seq((2, "segMOVED")).toDF("c_id", "seg"))
    refresh(fact, cust, prod, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), starAgg(fact, cust, prod))
    mv.read(spark).filter($"seg" === "segMOVED").count() should be > 0L
  }

  test("WHERE filters every term; data-neutral commits advance by marker") {
    val (fact, cust, prod, mv) = mkTables("5")
    MaterializedView.refreshStar(spark, fact, dims(cust, prod), mv, "st",
      Seq("seg", "cat"), Seq("v"), where = Some("v > 300"))
    fact.append((121 to 140).map(i => (i.toLong, i % 8, i % 5, i * 10L))
      .toDF("id", "ck", "pk2", "v"))
    MaterializedView.refreshStar(spark, fact, dims(cust, prod), mv, "st",
      Seq("seg", "cat"), Seq("v"), where = Some("v > 300")) shouldBe
      MaterializedView.Incremental
    val expected = fact.read(spark).filter($"v" > 300)
      .join(cust.read(spark), $"ck" === $"c_id", "inner")
      .join(prod.read(spark), $"pk2" === $"p_id", "inner")
      .groupBy("seg", "cat").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))
    assertSameRows(mv.read(spark), expected)
    // property-only commit on a dim: cursor advances with zero data change
    cust.setProperties(Map("custom.note" -> "x"))
    cust.commitMarker("note")
    MaterializedView.refreshStar(spark, fact, dims(cust, prod), mv, "st",
      Seq("seg", "cat"), Seq("v"), where = Some("v > 300")) shouldBe
      MaterializedView.MarkerOnly
  }

  // ---- star views through the SQL DDL ----------------------------------

  private def registerStar(tag: String): (Icebox, Icebox, Icebox) = {
    val (fact, cust, prod, _) = mkTables(tag)
    fact.registerView(spark, s"sfact$tag")
    cust.registerView(spark, s"scust$tag")
    prod.registerView(spark, s"sprod$tag")
    (fact, cust, prod)
  }

  test("CREATE over a star chain maintains incrementally through fact and dims") {
    val wh = tmpDir("starwh1")
    graft.sql.DmlSql.setWarehouse(wh)
    val (fact, cust, prod) = registerStar("7")
    graft.sql.DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW starmv AS
        |SELECT seg, cat, count(*), sum(v) FROM sfact7
        |JOIN scust7 ON sfact7.ck = scust7.c_id
        |JOIN sprod7 ON sfact7.pk2 = sprod7.p_id
        |GROUP BY seg, cat""".stripMargin)
    assertSameRows(spark.sql("SELECT * FROM starmv"), starAgg(fact, cust, prod))
    fact.append(Seq((500L, 1, 1, 777L)).toDF("id", "ck", "pk2", "v"))
    cust.deleteByKeys(Seq(4).toDF("c_id"))
    val op = graft.sql.DmlSql.run(spark, "REFRESH MATERIALIZED VIEW starmv")
      .head.getString(0)
    op shouldBe "refresh-mv:Incremental"
    assertSameRows(spark.sql("SELECT * FROM starmv"), starAgg(fact, cust, prod))
  }

  test("non-tree joins and dim-name collisions refuse loudly at CREATE") {
    val wh = tmpDir("starwh2")
    graft.sql.DmlSql.setWarehouse(wh)
    registerStar("8")
    // d2 joined via d1's HIDDEN join column (c_id equals ck after the
    // join, so the fact-side spelling exists) — refused with the
    // not-in-side error, the chain must use an exposed parent column
    val hidden = intercept[RuntimeException](graft.sql.DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW snowmv AS
        |SELECT seg, count(*) FROM sfact8
        |JOIN scust8 ON sfact8.ck = scust8.c_id
        |JOIN sprod8 ON scust8.c_id = sprod8.p_id
        |GROUP BY seg""".stripMargin))
    hidden.getMessage should include("not in their side")
    // a dim joining TWO earlier tables: cyclic join graph — refused
    val cyclic = intercept[RuntimeException](graft.sql.DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW cyclemv AS
        |SELECT seg, count(*) FROM sfact8
        |JOIN scust8 ON sfact8.ck = scust8.c_id
        |JOIN sprod8 ON sfact8.pk2 = sprod8.p_id AND scust8.seg = sprod8.cat
        |GROUP BY seg""".stripMargin))
    cyclic.getMessage should include("exactly ONE earlier table")
    // MIN over a star — refused like 2-way joins
    val mm = intercept[RuntimeException](graft.sql.DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW mmstar AS
        |SELECT seg, min(v) FROM sfact8
        |JOIN scust8 ON sfact8.ck = scust8.c_id
        |JOIN sprod8 ON sfact8.pk2 = sprod8.p_id
        |GROUP BY seg""".stripMargin))
    mm.getMessage should include("MIN/MAX")
  }

  // ------------------------------------------------------ snowflake chains

  /** fact(id, ck, v) ⋈ cust(c_id, nk) ⋈ nation(n_id, rk, nname) ⋈
    * region(r_id, rname) — the TPC-H customer→nation→region shape.
    */
  private def mkSnowflake(tag: String): (Icebox, Icebox, Icebox, Icebox, Icebox) = {
    val fact = Icebox(tmpDir(s"snow-f$tag"))
    val cust = Icebox(tmpDir(s"snow-c$tag"))
    val nat = Icebox(tmpDir(s"snow-n$tag"))
    val reg = Icebox(tmpDir(s"snow-r$tag"))
    val mv = Icebox(tmpDir(s"snow-t$tag"))
    fact.append((1 to 150).map(i => (i.toLong, i % 10, i * 10L)).toDF("id", "ck", "v"))
    cust.append((0 to 9).map(k => (k, k % 4)).toDF("c_id", "nk"))
    nat.append((0 to 3).map(k => (k, k % 2, s"nation$k")).toDF("n_id", "rk", "nname"))
    reg.append((0 to 1).map(k => (k, s"region$k")).toDF("r_id", "rname"))
    (fact, cust, nat, reg, mv)
  }

  private def snowDims(cust: Icebox, nat: Icebox, reg: Icebox) = Seq(
    StarDim(cust, Seq("ck" -> "c_id")),            // joins the fact
    StarDim(nat, Seq("nk" -> "n_id"), parent = 0), // joins cust
    StarDim(reg, Seq("rk" -> "r_id"), parent = 1)) // joins nation

  private def snowAgg(fact: Icebox, cust: Icebox, nat: Icebox, reg: Icebox) =
    fact.read(spark)
      .join(cust.read(spark), $"ck" === $"c_id", "inner")
      .join(nat.read(spark), $"nk" === $"n_id", "inner")
      .join(reg.read(spark), $"rk" === $"r_id", "inner")
      .groupBy("rname", "nname").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))

  private def snowRefresh(fact: Icebox, cust: Icebox, nat: Icebox, reg: Icebox,
      mv: Icebox) =
    MaterializedView.refreshStar(spark, fact, snowDims(cust, nat, reg), mv, "sn",
      Seq("rname", "nname"), Seq("v"))

  test("snowflake chain: full build, appends at every level, mid-chain delete") {
    val (fact, cust, nat, reg, mv) = mkSnowflake("1")
    snowRefresh(fact, cust, nat, reg, mv) shouldBe MaterializedView.FullBuild
    assertSameRows(mv.read(spark), snowAgg(fact, cust, nat, reg))
    // appends on the fact AND at every chain level in one cycle: new facts
    // reference a new customer, pointing at a new nation in a new region
    fact.append((151 to 180).map(i => (i.toLong, i % 11, i * 10L)).toDF("id", "ck", "v"))
    cust.append(Seq((10, 4)).toDF("c_id", "nk"))
    nat.append(Seq((4, 2, "nation4")).toDF("n_id", "rk", "nname"))
    reg.append(Seq((2, "region2")).toDF("r_id", "rname"))
    snowRefresh(fact, cust, nat, reg, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), snowAgg(fact, cust, nat, reg))
    // MID-CHAIN delete: dropping a nation drops every fact row whose
    // customer points at it — the ΔDʲ term's fact pruning walks the chain
    nat.deleteByKeys(Seq(1).toDF("n_id"))
    snowRefresh(fact, cust, nat, reg, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), snowAgg(fact, cust, nat, reg))
    // and a LEAF delete (region) prunes transitively down to the fact
    reg.deleteByKeys(Seq(0).toDF("r_id"))
    snowRefresh(fact, cust, nat, reg, mv) shouldBe MaterializedView.Incremental
    assertSameRows(mv.read(spark), snowAgg(fact, cust, nat, reg))
    snowRefresh(fact, cust, nat, reg, mv) shouldBe MaterializedView.NoOp
  }

  test("snowflake churn stress: 6 random mutate-refresh cycles track the recompute exactly") {
    // seeded randomness — deterministic failures reproduce; each cycle
    // mutates a RANDOM subset of the four sources (fact appends, dim
    // appends at any chain level, key-deletes at any level incl.
    // mid-chain) and one incremental refresh must land on the recompute
    val rnd = new scala.util.Random(20260814L)
    val (fact, cust, nat, reg, mv) = mkSnowflake("stress")
    var nextFactId = 151L
    var nextCust = 11
    var nextNat = 5
    var nextReg = 2
    snowRefresh(fact, cust, nat, reg, mv) shouldBe MaterializedView.FullBuild
    (1 to 6).foreach { cycle =>
      if (rnd.nextBoolean()) { // fact appends (possibly dangling ck — inner join drops)
        val n = 10 + rnd.nextInt(40)
        fact.append((0 until n).map(i =>
          (nextFactId + i, rnd.nextInt(nextCust + 2).toLong, (nextFactId + i) * 7L))
          .toDF("id", "ck", "v"))
        nextFactId += n
      }
      if (rnd.nextBoolean()) { // new customer, random nation (maybe dangling)
        cust.append(Seq((nextCust, rnd.nextInt(nextNat + 1))).toDF("c_id", "nk"))
        nextCust += 1
      }
      if (rnd.nextBoolean()) { // new nation, random region
        nat.append(Seq((nextNat, rnd.nextInt(nextReg + 1), s"nation$nextNat"))
          .toDF("n_id", "rk", "nname"))
        nextNat += 1
      }
      if (rnd.nextBoolean()) { // new region
        reg.append(Seq((nextReg, s"region$nextReg")).toDF("r_id", "rname"))
        nextReg += 1
      }
      if (rnd.nextInt(3) == 0) // mid-chain delete: a random nation
        nat.deleteByKeys(Seq(rnd.nextInt(nextNat)).toDF("n_id"))
      if (rnd.nextInt(3) == 0) // head delete: a random customer
        cust.deleteByKeys(Seq(rnd.nextInt(nextCust)).toDF("c_id"))
      if (rnd.nextInt(4) == 0) // leaf delete: a random region
        reg.deleteByKeys(Seq(rnd.nextInt(nextReg)).toDF("r_id"))
      if (rnd.nextInt(3) == 0) { // mid-chain UPDATE: re-point a nation to a
        val nid = rnd.nextInt(nextNat) // different region (delete+insert pair)
        nat.deleteByKeys(Seq(nid).toDF("n_id"))
        nat.append(Seq((nid, rnd.nextInt(nextReg), s"nation$nid"))
          .toDF("n_id", "rk", "nname"))
      }
      val mode = snowRefresh(fact, cust, nat, reg, mv)
      withClue(s"cycle $cycle mode $mode:") {
        Seq(MaterializedView.Incremental, MaterializedView.NoOp,
          MaterializedView.MarkerOnly) should contain(mode)
        assertSameRows(mv.read(spark), snowAgg(fact, cust, nat, reg))
      }
    }
  }

  test("snowflake DDL: CREATE accepts the chain, persists parents, maintains") {
    val (fact, cust, nat, reg, _) = mkSnowflake("2")
    val wh = tmpDir("snowwh")
    graft.sql.DmlSql.setWarehouse(wh)
    graft.sql.MergeSql.register("snf2", fact)
    graft.sql.MergeSql.register("snc2", cust)
    graft.sql.MergeSql.register("snn2", nat)
    graft.sql.MergeSql.register("snr2", reg)
    graft.sql.DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW snowview AS
        |SELECT rname, count(*), sum(v) FROM snf2
        |JOIN snc2 ON snf2.ck = snc2.c_id
        |JOIN snn2 ON snc2.nk = snn2.n_id
        |JOIN snr2 ON snn2.rk = snr2.r_id
        |GROUP BY rname""".stripMargin)
    val target = Icebox(s"$wh/_mv/snowview")
    target.properties.get("mv.star.parents") shouldBe Some("-1;0;1")
    val expected = fact.read(spark)
      .join(cust.read(spark), $"ck" === $"c_id", "inner")
      .join(nat.read(spark), $"nk" === $"n_id", "inner")
      .join(reg.read(spark), $"rk" === $"r_id", "inner")
      .groupBy("rname").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))
    assertSameRows(target.read(spark), expected)
    // incremental through the DDL surface: append + mid-chain delete
    fact.append(Seq((500L, 3, 5000L)).toDF("id", "ck", "v"))
    nat.deleteByKeys(Seq(2).toDF("n_id"))
    graft.sql.DmlSql.run(spark, "REFRESH MATERIALIZED VIEW snowview")
    val expected2 = fact.read(spark)
      .join(cust.read(spark), $"ck" === $"c_id", "inner")
      .join(nat.read(spark), $"nk" === $"n_id", "inner")
      .join(reg.read(spark), $"rk" === $"r_id", "inner")
      .groupBy("rname").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))
    assertSameRows(target.read(spark), expected2)
    // the refresh after the DDL CREATE was incremental, not a rebuild
    target.allSnapshots.map(_.operation).exists(_.startsWith("mv-refresh:")) shouldBe true
  }

  test("rewrite: star queries are served by a fresh matching star view, with rollup") {
    val wh = tmpDir("starwh3")
    graft.sql.DmlSql.setWarehouse(wh)
    val (fact, cust, prod) = registerStar("9")
    graft.sql.DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW starmv9 AS
        |SELECT seg, cat, count(*), sum(v) FROM sfact9
        |JOIN scust9 ON sfact9.ck = scust9.c_id
        |JOIN sprod9 ON sfact9.pk2 = sprod9.p_id
        |GROUP BY seg, cat""".stripMargin)
    val q = """SELECT seg, count(*), sum(v) FROM sfact9
      |JOIN scust9 ON sfact9.ck = scust9.c_id
      |JOIN sprod9 ON sfact9.pk2 = sprod9.p_id
      |GROUP BY seg""".stripMargin
    val (name, df) = graft.sql.MvSql.answer(spark, q, wh)
      .getOrElse(fail("star rewrite must engage"))
    name shouldBe "starmv9"
    assertSameRows(df, starAgg(fact, cust, prod).groupBy("seg")
      .agg(sum($"row_count").as("row_count"),
        sum($"sum_v").as("sum_v"), sum($"nn_v").as("nn_v")))
    // dim order in FROM is irrelevant to matching
    val qSwapped = """SELECT seg, count(*) FROM sfact9
      |JOIN sprod9 ON sfact9.pk2 = sprod9.p_id
      |JOIN scust9 ON sfact9.ck = scust9.c_id
      |GROUP BY seg""".stripMargin
    graft.sql.MvSql.answer(spark, qSwapped, wh).map(_._1) shouldBe Some("starmv9")
    // staleness refuses: a fact append invalidates until REFRESH
    fact.append(Seq((600L, 2, 2, 888L)).toDF("id", "ck", "pk2", "v"))
    graft.sql.MvSql.answer(spark, q, wh) shouldBe None
    graft.sql.DmlSql.run(spark, "REFRESH MATERIALIZED VIEW starmv9")
    graft.sql.MvSql.answer(spark, q, wh).map(_._1) shouldBe Some("starmv9")
  }

  test("refreshFromProperties routes snowflake parents (service/stream surface)") {
    val (fact, cust, nat, reg, mv) = mkSnowflake("props")
    mv.setProperties(Map(
      "mv.id" -> "snp",
      "mv.source.dir" -> fact.tableDir,
      "mv.keys" -> "rname,nname",
      "mv.sums" -> "v",
      "mv.star.dims" -> s"${cust.tableDir};${nat.tableDir};${reg.tableDir}",
      "mv.star.on" -> "ck=c_id;nk=n_id;rk=r_id",
      "mv.star.parents" -> "-1;0;1"))
    MaterializedView.refreshFromProperties(spark, mv) shouldBe
      Some(MaterializedView.FullBuild)
    assertSameRows(mv.read(spark), snowAgg(fact, cust, nat, reg))
    fact.append(Seq((900L, 3, 9000L)).toDF("id", "ck", "v"))
    nat.deleteByKeys(Seq(0).toDF("n_id")) // mid-chain through the property surface
    MaterializedView.refreshFromProperties(spark, mv) shouldBe
      Some(MaterializedView.Incremental)
    assertSameRows(mv.read(spark), snowAgg(fact, cust, nat, reg))
  }

  test("refreshFromProperties routes mv.star.* definitions (service/stream surface)") {
    val (fact, cust, prod, mv) = mkTables("6")
    mv.setProperties(Map(
      "mv.id" -> "st6",
      "mv.source.dir" -> fact.tableDir,
      "mv.keys" -> "seg,cat",
      "mv.sums" -> "v",
      "mv.star.dims" -> s"${cust.tableDir};${prod.tableDir}",
      "mv.star.on" -> "ck=c_id;pk2=p_id"))
    MaterializedView.refreshFromProperties(spark, mv) shouldBe
      Some(MaterializedView.FullBuild)
    fact.append(Seq((200L, 1, 1, 999L)).toDF("id", "ck", "pk2", "v"))
    MaterializedView.refreshFromProperties(spark, mv) shouldBe
      Some(MaterializedView.Incremental)
    assertSameRows(mv.read(spark), starAgg(fact, cust, prod))
  }
}
