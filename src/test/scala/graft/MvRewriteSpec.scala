package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import graft.sql.{DmlSql, MvRewrite}
import graft.table.Icebox

/** Optimizer-level materialized-view rewrite: plain `spark.sql`
  * aggregates over a registered Icebox table are served from a fresh
  * subsuming view — proven by the scan's input files — with exact
  * output schema/value preservation, conservative refusals (stale
  * views, non-key filters, pending merge-on-read deletes), and a kill
  * switch.
  */
class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  override def afterAll(): Unit = {
    MvRewrite.uninstall(spark)
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    super.afterAll()
  }

  private def servedFromView(df: org.apache.spark.sql.DataFrame): Boolean =
    df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains("/_mv/"))

  test("spark.sql rollup is served from the view; names, types and values are preserved") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw1_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw1_src"))
    src.append((1 to 120).map(i => (i.toLong, i % 4, i % 3, i * 10L, i * 0.5))
      .toDF("id", "g", "h", "v", "w"))
    src.registerView(spark, "mvrw1")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw1_view AS SELECT g, h, count(*), sum(v), sum(w), " +
      "min(v), max(v) FROM mvrw1 GROUP BY g, h")
    val q = "SELECT g, count(*) AS cnt, sum(v) AS sv, avg(w) AS aw, " +
      "min(v) AS mn, max(v) AS mx FROM mvrw1 GROUP BY g"
    val served = spark.sql(q)
    assert(servedFromView(served), s"expected view scan, got ${served.inputFiles.toSeq}")
    // the same text with the rule off answers from the source — results equal
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct = spark.sql(q)
    assert(!servedFromView(direct))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    served.schema shouldBe direct.schema
    assertSameRows(served, direct)
  }

  test("exact-key query becomes a projection: no Aggregate node survives") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw2_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw2_src"))
    src.append((1 to 60).map(i => (i.toLong, i % 3, i * 2L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvrw2")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw2_view AS SELECT g, count(*), sum(v), " +
      "count(DISTINCT v) FROM mvrw2 GROUP BY g")
    val q = "SELECT g, count(*) AS cnt, count(DISTINCT v) AS nd FROM mvrw2 GROUP BY g"
    val served = spark.sql(q)
    assert(servedFromView(served))
    served.queryExecution.optimizedPlan.collect { case a: Aggregate => a } shouldBe empty
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct = spark.sql(q)
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    assertSameRows(served, direct)
  }

  test("key filters ride the rewrite; non-key filters and uncovered aggregates refuse") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw3_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw3_src"))
    src.append((1 to 60).map(i => (i.toLong, i % 3, i * 2L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvrw3")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw3_view AS SELECT g, count(*), sum(v) FROM mvrw3 GROUP BY g")
    val fq = spark.sql("SELECT g, sum(v) AS sv FROM mvrw3 WHERE g <> 1 GROUP BY g")
    assert(servedFromView(fq), "key-only WHERE must still serve from the view")
    assertSameRows(fq, src.read(spark).filter($"g" =!= 1).groupBy("g")
      .agg(sum($"v").as("sv")))
    // non-key predicate: must scan the source
    assert(!servedFromView(
      spark.sql("SELECT g, sum(v) AS sv FROM mvrw3 WHERE v > 50 GROUP BY g")))
    // aggregate the view doesn't maintain: must scan the source
    assert(!servedFromView(
      spark.sql("SELECT g, min(v) AS mn FROM mvrw3 GROUP BY g")))
    // COUNT(DISTINCT) under rollup (subset keys) is not maintained here
    assert(!servedFromView(
      spark.sql("SELECT g, count(DISTINCT v) AS nd FROM mvrw3 GROUP BY g")))
  }

  test("stale views never serve; REFRESH re-enables; pending MoR deletes refuse conservatively") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw4_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw4_src"))
    src.append((1 to 60).map(i => (i.toLong, i % 3, i * 2L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvrw4")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw4_view AS SELECT g, count(*), sum(v) FROM mvrw4 GROUP BY g")
    val q = "SELECT g, sum(v) AS sv FROM mvrw4 GROUP BY g"
    assert(servedFromView(spark.sql(q)))
    // source advances; the re-registered view reads the new head but the
    // MV cursor is behind -> refuse, answer from source (fresh data)
    src.append(Seq((61L, 0, 1000L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvrw4")
    val stale = spark.sql(q)
    assert(!servedFromView(stale))
    assertSameRows(stale, src.read(spark).groupBy("g").agg(sum($"v").as("sv")))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvrw4_view")
    assert(servedFromView(spark.sql(q)))
    // a merge-on-read delete leaves delete files pending: the scan plan
    // carries anti-joins, the rule stays out, results stay exact
    src.deleteByKeys(Seq(5L, 6L).toDF("id"))
    src.registerView(spark, "mvrw4")
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvrw4_view")
    val afterDelete = spark.sql(q)
    assert(!servedFromView(afterDelete))
    assertSameRows(afterDelete, src.read(spark).groupBy("g").agg(sum($"v").as("sv")))
  }

  test("HAVING rides the optimizer rewrite for free (a Filter above the served Aggregate)") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw6_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw6_src"))
    src.append((1 to 90).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvrw6")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw6_view AS SELECT g, count(*), sum(v) FROM mvrw6 GROUP BY g")
    val q = "SELECT g, sum(v) AS sv FROM mvrw6 GROUP BY g HAVING sum(v) > 8000"
    val served = spark.sql(q)
    assert(servedFromView(served), "HAVING query must still serve from the view")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct = spark.sql(q)
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    assertSameRows(served, direct)
  }

  test("join query is served from a join view by the optimizer rule, with rollup") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrwj1_wh")
    DmlSql.setWarehouse(wh)
    val fact = Icebox(tmpDir("mvrwj1_f"))
    fact.append((1 to 80).map(i => (i.toLong, (i % 5).toLong, i * 10L)).toDF("id", "fk", "v"))
    val dim = Icebox(tmpDir("mvrwj1_d"))
    dim.append((0 to 4).map(k => (k.toLong, s"seg${k % 2}")).toDF("k", "seg"))
    fact.registerView(spark, "mvrwj1_f")
    dim.registerView(spark, "mvrwj1_d")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrwj1 AS SELECT seg, fk, count(*), sum(v) " +
      "FROM mvrwj1_f JOIN mvrwj1_d ON mvrwj1_f.fk = mvrwj1_d.k GROUP BY seg, fk")
    // rollup to a key subset, straight through spark.sql
    val q = "SELECT seg, count(*) AS cnt, sum(v) AS sv, avg(v) AS av " +
      "FROM mvrwj1_f JOIN mvrwj1_d ON mvrwj1_f.fk = mvrwj1_d.k GROUP BY seg"
    val served = spark.sql(q)
    assert(servedFromView(served), s"expected view scan, got ${served.inputFiles.toSeq}")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct = spark.sql(q)
    assert(!servedFromView(direct))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    served.schema shouldBe direct.schema
    assertSameRows(served, direct)
    // a key filter (pushed into the dim side by the optimizer) still serves
    val fq = "SELECT seg, sum(v) AS sv FROM mvrwj1_f JOIN mvrwj1_d " +
      "ON mvrwj1_f.fk = mvrwj1_d.k WHERE seg = 'seg1' GROUP BY seg"
    val fServed = spark.sql(fq)
    assert(servedFromView(fServed), "key-filtered join query must serve from the view")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val fDirect = spark.sql(fq)
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    assertSameRows(fServed, fDirect)
  }

  test("join rewrite refuses: different join shape, non-key filter, staleness") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrwj2_wh")
    DmlSql.setWarehouse(wh)
    val fact = Icebox(tmpDir("mvrwj2_f"))
    fact.append((1 to 40).map(i => (i.toLong, (i % 4).toLong, i * 10L)).toDF("id", "fk", "v"))
    val dim = Icebox(tmpDir("mvrwj2_d"))
    dim.append((0 to 3).map(k => (k.toLong, s"s$k")).toDF("k", "seg"))
    fact.registerView(spark, "mvrwj2_f")
    dim.registerView(spark, "mvrwj2_d")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrwj2 AS SELECT seg, count(*), sum(v) " +
      "FROM mvrwj2_f JOIN mvrwj2_d ON mvrwj2_f.fk = mvrwj2_d.k GROUP BY seg")
    val good = "SELECT seg, sum(v) AS sv FROM mvrwj2_f JOIN mvrwj2_d " +
      "ON mvrwj2_f.fk = mvrwj2_d.k GROUP BY seg"
    assert(servedFromView(spark.sql(good)))
    // a different join condition is a different result — never served
    assert(!servedFromView(spark.sql("SELECT seg, sum(v) AS sv FROM mvrwj2_f " +
      "JOIN mvrwj2_d ON mvrwj2_f.id = mvrwj2_d.k GROUP BY seg")))
    // a filter on a non-key column can't be applied to the view's rows
    assert(!servedFromView(spark.sql("SELECT seg, sum(v) AS sv FROM mvrwj2_f " +
      "JOIN mvrwj2_d ON mvrwj2_f.fk = mvrwj2_d.k WHERE v > 100 GROUP BY seg")))
    // staleness: a fact append un-serves until REFRESH catches the cursor up
    fact.append(Seq((1000L, 1L, 5L)).toDF("id", "fk", "v"))
    fact.registerView(spark, "mvrwj2_f")
    val stale = spark.sql(good)
    assert(!servedFromView(stale), "stale join view must never be served")
    assertSameRows(stale,
      fact.read(spark).join(dim.read(spark), $"fk" === $"k")
        .groupBy("seg").agg(sum($"v").as("sv")))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvrwj2")
    assert(servedFromView(spark.sql(good)), "refresh must re-enable the join rewrite")
  }

  test("a join view keyed by a fact column never answers a fact-only aggregate") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrwj3_wh")
    DmlSql.setWarehouse(wh)
    val fact = Icebox(tmpDir("mvrwj3_f"))
    // fk runs 0..5 but the dim holds keys 0..4: the inner join drops fk=5
    fact.append((1 to 60).map(i => (i.toLong, (i % 6).toLong, i * 10L)).toDF("id", "fk", "v"))
    val dim = Icebox(tmpDir("mvrwj3_d"))
    dim.append((0 to 4).map(k => (k.toLong, s"seg${k % 2}")).toDF("k", "seg"))
    fact.registerView(spark, "mvrwj3_f")
    dim.registerView(spark, "mvrwj3_d")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrwj3 AS SELECT fk, count(*), sum(v) " +
      "FROM mvrwj3_f JOIN mvrwj3_d ON mvrwj3_f.fk = mvrwj3_d.k GROUP BY fk")
    // the view is fresh: the join query it was built for is served
    assert(servedFromView(spark.sql("SELECT fk, sum(v) AS sv FROM mvrwj3_f " +
      "JOIN mvrwj3_d ON mvrwj3_f.fk = mvrwj3_d.k GROUP BY fk")))
    val q = "SELECT fk, count(*) AS cnt, sum(v) AS sv FROM mvrwj3_f GROUP BY fk"
    val single = spark.sql(q)
    assert(!servedFromView(single), "a join view must not answer an aggregate of its fact alone")
    assertSameRows(single, fact.read(spark).groupBy("fk")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sv")))
    single.filter($"fk" === 5L).count() shouldBe 1L
    graft.sql.MvSql.answer(spark, q, wh) shouldBe None
  }

  test("star query (fact + 2 dims) is served from a star view by the optimizer rule") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw9_wh")
    DmlSql.setWarehouse(wh)
    val fact = Icebox(tmpDir("mvrw9_f"))
    fact.append((1 to 120).map(i => (i.toLong, i % 8, i % 5, i * 10L))
      .toDF("id", "ck", "pk2", "v"))
    fact.registerView(spark, "mvrw9f")
    val cust = Icebox(tmpDir("mvrw9_c"))
    cust.append((0 to 7).map(k => (k, s"seg${k % 3}")).toDF("c_id", "seg"))
    cust.registerView(spark, "mvrw9c")
    val prod = Icebox(tmpDir("mvrw9_p"))
    prod.append((0 to 4).map(k => (k, s"cat${k % 2}")).toDF("p_id", "cat"))
    prod.registerView(spark, "mvrw9p")
    DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW mvrw9_view AS
        |SELECT seg, cat, count(*), sum(v) FROM mvrw9f
        |JOIN mvrw9c ON mvrw9f.ck = mvrw9c.c_id
        |JOIN mvrw9p ON mvrw9f.pk2 = mvrw9p.p_id
        |GROUP BY seg, cat""".stripMargin)
    // a ROLLUP over the star (subset keys), plain spark.sql text
    val q = """SELECT seg, count(*) AS cnt, sum(v) AS sv FROM mvrw9f
      |JOIN mvrw9c ON mvrw9f.ck = mvrw9c.c_id
      |JOIN mvrw9p ON mvrw9f.pk2 = mvrw9p.p_id
      |GROUP BY seg""".stripMargin
    val served = spark.sql(q)
    assert(servedFromView(served), s"expected view scan, got ${served.inputFiles.toSeq}")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct = spark.sql(q)
    assert(!servedFromView(direct))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    served.schema shouldBe direct.schema
    assertSameRows(served, direct)
    // staleness: a dim append refuses the rewrite until REFRESH
    prod.append(Seq((5, "catX")).toDF("p_id", "cat"))
    prod.registerView(spark, "mvrw9p") // temp view re-pinned at the new head
    assert(!servedFromView(spark.sql(q)))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvrw9_view")
    assert(servedFromView(spark.sql(q)))
    // a dim-dim condition (snowflake query shape) is never served
    val snow = spark.sql(
      """SELECT seg, count(*) FROM mvrw9f
        |JOIN mvrw9c ON mvrw9f.ck = mvrw9c.c_id
        |JOIN mvrw9p ON mvrw9c.c_id = mvrw9p.p_id
        |GROUP BY seg""".stripMargin)
    assert(!servedFromView(snow))
  }

  test("snowflake chain is served through the optimizer rule; wrong chains refuse") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw11_wh")
    DmlSql.setWarehouse(wh)
    val fact = Icebox(tmpDir("mvrw11_f"))
    fact.append((1 to 60).map(i => (i.toLong, (i % 10).toLong, i * 2L))
      .toDF("id", "ck", "v"))
    val dCust = Icebox(tmpDir("mvrw11_c"))
    dCust.append((0 until 10).map(i => (i.toLong, (i % 3).toLong)).toDF("c_id", "nk"))
    val dNat = Icebox(tmpDir("mvrw11_n"))
    dNat.append((0 until 3).map(i => (i.toLong, s"nation$i")).toDF("n_id", "n_name"))
    fact.registerView(spark, "mvrw11f")
    dCust.registerView(spark, "mvrw11c")
    dNat.registerView(spark, "mvrw11n")
    // dim-of-dim chain: nation hangs off customer, not off the fact
    DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW mvrw11_view AS
        |SELECT n_name, nk, count(*), sum(v) FROM mvrw11f
        |JOIN mvrw11c ON mvrw11f.ck = mvrw11c.c_id
        |JOIN mvrw11n ON mvrw11c.nk = mvrw11n.n_id
        |GROUP BY n_name, nk""".stripMargin)
    val q =
      """SELECT n_name, count(*) AS cnt, sum(v) AS sv FROM mvrw11f
        |JOIN mvrw11c ON mvrw11f.ck = mvrw11c.c_id
        |JOIN mvrw11n ON mvrw11c.nk = mvrw11n.n_id
        |GROUP BY n_name""".stripMargin // key subset: rollup over the view
    val served = spark.sql(q)
    assert(servedFromView(served), s"expected view scan, got ${served.inputFiles.toSeq}")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct = spark.sql(q)
    assert(!servedFromView(direct))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    served.schema shouldBe direct.schema
    assertSameRows(served, direct)
    // a query joining the leaf dim to the FACT does not follow the chain
    val wrong = spark.sql(
      """SELECT n_name, count(*) FROM mvrw11f
        |JOIN mvrw11n ON mvrw11f.ck = mvrw11n.n_id
        |JOIN mvrw11c ON mvrw11f.ck = mvrw11c.c_id
        |GROUP BY n_name""".stripMargin)
    assert(!servedFromView(wrong))
    // staleness gates the chain at EVERY level: a mid-chain append refuses
    // the rewrite until REFRESH moves the N-part cursor
    dCust.append(Seq((10L, 0L)).toDF("c_id", "nk"))
    dCust.registerView(spark, "mvrw11c") // re-pin the temp view at the new head
    assert(!servedFromView(spark.sql(q)))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvrw11_view")
    assert(servedFromView(spark.sql(q)))
  }

  test("kill switch and missing warehouse are honored") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw5_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw5_src"))
    src.append((1 to 30).map(i => (i.toLong, i % 3, i * 2L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvrw5")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw5_view AS SELECT g, count(*), sum(v) FROM mvrw5 GROUP BY g")
    val q = "SELECT g, sum(v) AS sv FROM mvrw5 GROUP BY g"
    assert(servedFromView(spark.sql(q)))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    assert(!servedFromView(spark.sql(q)))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    assert(servedFromView(spark.sql(q)))
  }

  test("decimal AVG rolls up bit-exactly (division scale preserved)") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw10_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw10_src"))
    // awkward divisors: group sizes that make repeating-decimal quotients,
    // where a wrong division scale would shift the HALF_UP rounding
    src.append((1 to 121).map(i => (i.toLong, i % 4, i % 3))
      .toDF("id", "g", "h")
      .withColumn("d", (col("id") * 7 + lit(0.13)).cast("decimal(12,2)")))
    src.registerView(spark, "mvrw10")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw10_view AS SELECT g, h, count(*), sum(d) " +
      "FROM mvrw10 GROUP BY g, h")
    // subset grouping → ROLLUP path (re-summed sum cast back to SUM's type)
    val q = "SELECT g, avg(d) AS ad FROM mvrw10 GROUP BY g"
    val served = spark.sql(q)
    assert(servedFromView(served), s"expected view scan, got ${served.inputFiles.toSeq}")
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct = spark.sql(q)
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    served.schema shouldBe direct.schema // decimal(16,6) both — Average's resultType
    assertSameRows(served, direct) // BigDecimal equality is exact, not approximate
    // exact-key form too
    val q2 = "SELECT g, h, avg(d) AS ad FROM mvrw10 GROUP BY g, h"
    val served2 = spark.sql(q2)
    assert(servedFromView(served2))
    spark.conf.set("spark.graft.mv.rewrite.enabled", "false")
    val direct2 = spark.sql(q2)
    spark.conf.set("spark.graft.mv.rewrite.enabled", "true")
    assertSameRows(served2, direct2)
  }

  test("MV discovery registry: one listing serves N rewrites; DDL invalidates") {
    MvRewrite.install(spark)
    val wh = tmpDir("mvrw11_wh")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvrw11_src"))
    src.append((1 to 40).map(i => (i.toLong, i % 3, i * 2L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvrw11")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw11_view AS SELECT g, count(*), sum(v) FROM mvrw11 GROUP BY g")
    MvRewrite.invalidateRegistry()
    val q = "SELECT g, sum(v) AS sv FROM mvrw11 GROUP BY g"
    val before = MvRewrite.mvListings.get()
    (1 to 5).foreach(_ => assert(servedFromView(spark.sql(q))))
    withClue("5 rewritten queries must share ONE _mv listing:") {
      (MvRewrite.mvListings.get() - before) shouldBe 1L
    }
    // DDL bumps the _mv dir mtime → registry refreshes and discovers the
    // new view (sleep past local-FS mtime granularity)
    Thread.sleep(15)
    val src2 = Icebox(tmpDir("mvrw11b_src"))
    src2.append((1 to 20).map(i => (i.toLong, i % 2, i * 3L)).toDF("id", "k", "w"))
    src2.registerView(spark, "mvrw11b")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvrw11b_view AS SELECT k, count(*), sum(w) FROM mvrw11b GROUP BY k")
    // CREATE now invalidates the registry explicitly (r12 advice) — the
    // rule's own queries during the create may re-list once; what matters
    // is the new view is discovered and steady-state stays one listing
    val afterCreate = MvRewrite.mvListings.get()
    assert(servedFromView(spark.sql("SELECT k, sum(w) AS sw FROM mvrw11b GROUP BY k")))
    (MvRewrite.mvListings.get() - afterCreate) should be <= 1L
    (1 to 3).foreach(_ =>
      assert(servedFromView(spark.sql("SELECT k, sum(w) AS sw FROM mvrw11b GROUP BY k"))))
    (MvRewrite.mvListings.get() - afterCreate) should be <= 1L
  }
}
