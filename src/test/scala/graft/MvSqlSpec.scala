package graft

import org.apache.spark.sql.functions._
import graft.sql.{DmlSql, MvSql}
import graft.table.Icebox

/** SQL-text materialized-view DDL: CREATE parses/validates through
  * Spark's parser, REFRESH runs the incremental delta maintenance from
  * properties alone (fresh-session durable), unsupported definitions
  * error loudly at CREATE time.
  */
class MvSqlSpec extends SparkSpec {
  import spark.implicits._

  private def mkSource(name: String): Icebox = {
    val t = Icebox(tmpDir(name))
    t.append((1 to 90).map(i => (i.toLong, i % 3, i * 10L)).toDF("id", "g", "v"))
    t.registerView(spark, name)
    t
  }

  test("CREATE ... AS SELECT builds, SELECT works, REFRESH is incremental") {
    DmlSql.setWarehouse(tmpDir("mvwh1"))
    val src = mkSource("mvsrc_sql1")
    val out = DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv1 AS SELECT g, count(*), sum(v) FROM mvsrc_sql1 GROUP BY g")
    out.collect().head.getString(0) shouldBe "create-mv:FullBuild"
    // SELECT over the registered view matches a direct aggregate
    assertSameRows(
      spark.sql("SELECT g, row_count, sum_v, nn_v FROM mv1"),
      src.read(spark).groupBy("g").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v")))
    // mutate the source, refresh: must run the DELTA path
    src.append(Seq((91L, 0, 1000L)).toDF("id", "g", "v"))
    src.deleteByKeys(Seq(1L, 2L).toDF("id"))
    val r = DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv1")
    r.collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(
      spark.sql("SELECT g, row_count, sum_v, nn_v FROM mv1"),
      src.read(spark).groupBy("g").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v")))
  }

  test("REFRESH works from a fresh handle with no in-memory state") {
    val wh = tmpDir("mvwh2")
    DmlSql.setWarehouse(wh)
    val src = mkSource("mvsrc_sql2")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv2 AS SELECT g, sum(v) FROM mvsrc_sql2 GROUP BY g")
    src.append(Seq((91L, 1, 500L)).toDF("id", "g", "v"))
    // simulate a fresh session: drop the in-memory registration and view
    spark.catalog.dropTempView("mv2")
    val r = DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv2")
    r.collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(
      spark.sql("SELECT * FROM mv2"),
      src.read(spark).groupBy("g").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v")))
  }

  test("unsupported definitions fail loudly at CREATE time") {
    DmlSql.setWarehouse(tmpDir("mvwh3"))
    mkSource("mvsrc_sql3")
    def bad(sql: String, fragment: String): Unit = {
      val e = intercept[RuntimeException](DmlSql.run(spark, sql))
      e.getMessage should include(fragment)
    }
    bad("CREATE MATERIALIZED VIEW b1 AS SELECT g, stddev(v) FROM mvsrc_sql3 GROUP BY g",
      "aggregate stddev")
    bad("CREATE MATERIALIZED VIEW b2 AS SELECT g, collect_list(v) FROM mvsrc_sql3 GROUP BY g",
      "aggregate collect_list")
    bad("CREATE MATERIALIZED VIEW b9 AS SELECT g, sum(v) FROM mvsrc_sql3 " +
      "WHERE id IN (SELECT id FROM mvsrc_sql3) GROUP BY g", "subquery in WHERE")
    bad("CREATE MATERIALIZED VIEW b10 AS SELECT g, sum(v) FROM mvsrc_sql3 " +
      "WHERE nope > 0 GROUP BY g", "not in source")
    // qualified refs can't resolve against the change diff at refresh —
    // refuse at CREATE rather than fail later
    bad("CREATE MATERIALIZED VIEW b11 AS SELECT g, sum(v) FROM mvsrc_sql3 " +
      "WHERE mvsrc_sql3.v > 5 GROUP BY g", "qualified column")
    // ungrouped aggregates parse as a Project (aggregate-ness is an
    // analysis-time concept), so they fail the top-level-shape check
    bad("CREATE MATERIALIZED VIEW b3 AS SELECT count(*) FROM mvsrc_sql3",
      "not an aggregate")
    // COUNT(DISTINCT c) is maintainable (touched-group recompute); other
    // DISTINCT aggregates are not
    bad("CREATE MATERIALIZED VIEW b4 AS SELECT g, sum(DISTINCT v) FROM mvsrc_sql3 GROUP BY g",
      "DISTINCT sum")
    // joins are supported, but keys/aggregates reference the joined row
    // UNQUALIFIED (the maintained schema has no qualifiers)
    bad("CREATE MATERIALIZED VIEW b5 AS SELECT a.g, sum(a.v) FROM mvsrc_sql3 a " +
      "JOIN mvsrc_sql3 b ON a.id = b.id GROUP BY a.g", "qualified column")
    bad("CREATE MATERIALIZED VIEW b6 AS SELECT g, v FROM mvsrc_sql3", "not an aggregate")
    bad("CREATE MATERIALIZED VIEW b7 AS SELECT g, sum(nope) FROM mvsrc_sql3 GROUP BY g",
      "not in source")
    bad("CREATE MATERIALIZED VIEW b8 AS SELECT g, sum(v) FROM unregistered GROUP BY g",
      "not a registered Icebox table")
  }

  test("re-CREATE with a different definition is rejected; DROP clears it") {
    DmlSql.setWarehouse(tmpDir("mvwh4"))
    mkSource("mvsrc_sql4")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv4 AS SELECT g, sum(v) FROM mvsrc_sql4 GROUP BY g")
    val e = intercept[IllegalArgumentException](DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv4 AS SELECT id, sum(v) FROM mvsrc_sql4 GROUP BY id"))
    e.getMessage should include("different definition")
    // idempotent re-create with the SAME definition is a NoOp refresh
    val same = DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv4 AS SELECT g, sum(v) FROM mvsrc_sql4 GROUP BY g")
    same.collect().head.getString(0) shouldBe "create-mv:NoOp"
    DmlSql.run(spark, "DROP MATERIALIZED VIEW mv4").collect()
      .head.getString(0) shouldBe "drop-mv"
    // definition gone -> refresh errors
    intercept[RuntimeException](DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv4"))
      .getMessage should include("no materialized view")
    // re-CREATE after DROP with a DIFFERENT definition: the epoch'd mvId
    // ignores the previous life's cursor markers -> FullBuild, right data
    val re = DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv4 AS SELECT id, sum(v) FROM mvsrc_sql4 GROUP BY id")
    re.collect().head.getString(0) shouldBe "create-mv:FullBuild"
    spark.sql("SELECT * FROM mv4").columns.toSet shouldBe
      Set("id", "row_count", "sum_v", "nn_v")
  }

  test("AVG definitions ride as sum/nn; the view exposes the derived avg") {
    DmlSql.setWarehouse(tmpDir("mvwh5"))
    val src = mkSource("mvsrc_sql5")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv5 AS SELECT g, avg(v) FROM mvsrc_sql5 GROUP BY g")
    assertSameRows(
      spark.sql("SELECT g, avg_v FROM mv5"),
      src.read(spark).groupBy("g").agg(avg($"v").as("avg_v")))
    // incremental refresh keeps the derived column exact
    src.append(Seq((91L, 0, 777L)).toDF("id", "g", "v"))
    src.deleteByKeys(Seq(3L).toDF("id"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv5")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(
      spark.sql("SELECT g, avg_v FROM mv5"),
      src.read(spark).groupBy("g").agg(avg($"v").as("avg_v")))
  }

  test("materialized views cascade: an MV can source another MV") {
    DmlSql.setWarehouse(tmpDir("mvwh6"))
    val src = Icebox(tmpDir("mvsrc_sql6"))
    // (id, region, store, sale): level-1 rolls up to (region, store),
    // level-2 rolls level-1 up to region
    src.append((1 to 120).map(i => (i.toLong, s"r${i % 2}", s"s${i % 6}", i * 10L))
      .toDF("id", "region", "store", "sale"))
    src.registerView(spark, "mvsrc_sql6")
    DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW mv_store AS
        |SELECT region, store, count(*), sum(sale) FROM mvsrc_sql6
        |GROUP BY region, store""".stripMargin)
    DmlSql.run(spark,
      """CREATE MATERIALIZED VIEW mv_region AS
        |SELECT region, count(*), sum(sum_sale) FROM mv_store GROUP BY region""".stripMargin)
    // level-2 over level-1's maintenance schema: sum of per-store sums
    assertSameRows(
      spark.sql("SELECT region, sum_sum_sale FROM mv_region"),
      src.read(spark).groupBy("region").agg(sum($"sale").as("sum_sum_sale")))
    // mutate the base, refresh BOTH levels in order: each must be incremental
    src.append(Seq((121L, "r0", "s0", 99999L)).toDF("id", "region", "store", "sale"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv_store")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv_region")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(
      spark.sql("SELECT region, sum_sum_sale FROM mv_region"),
      src.read(spark).groupBy("region").agg(sum($"sale").as("sum_sum_sale")))
  }

  test("SHOW MATERIALIZED VIEWS lists live definitions with their cursors") {
    val wh = tmpDir("mvwh7")
    DmlSql.setWarehouse(wh)
    val src = mkSource("mvsrc_sql7")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv7a AS SELECT g, sum(v) FROM mvsrc_sql7 GROUP BY g")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv7b AS SELECT g, count(*) FROM mvsrc_sql7 GROUP BY g")
    val listed = DmlSql.run(spark, "SHOW MATERIALIZED VIEWS").collect()
    listed.map(_.getString(0)).toSeq shouldBe Seq("mv7a", "mv7b")
    listed.foreach { r =>
      r.getString(1) shouldBe "mvsrc_sql7"
      r.getString(4) shouldBe src.currentSnapshotId.toString
    }
    // dropped views disappear from the listing
    DmlSql.run(spark, "DROP MATERIALIZED VIEW mv7a")
    DmlSql.run(spark, "SHOW MATERIALIZED VIEWS").collect()
      .map(_.getString(0)).toSeq shouldBe Seq("mv7b")
  }

  test("aliases and COUNT(c) forms are accepted; parse shape is exact") {
    val d = MvSql.parseDefinition(spark,
      "SELECT g, k2, count(*) AS row_count, sum(v) AS sum_v, count(v) AS nn_v, " +
      "sum(w) FROM t GROUP BY g, k2")
    d.source shouldBe "t"
    d.keys shouldBe Seq("g", "k2")
    d.sums shouldBe Seq("v", "w")
    d.where shouldBe None
    val d2 = MvSql.parseDefinition(spark,
      "SELECT g, sum(v), min(v), max(w) FROM t WHERE v > 5 AND g <> 2 GROUP BY g")
    d2.minmaxs shouldBe Seq("v", "w")
    d2.where shouldBe defined // predicate text round-trips through the parser
    spark.sessionState.sqlParser.parseExpression(d2.where.get) // must re-parse
  }

  test("WHERE-filtered view maintains the filtered aggregate incrementally") {
    DmlSql.setWarehouse(tmpDir("mvwh8"))
    val src = mkSource("mvsrc_sql8")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv8 AS SELECT g, count(*), sum(v) " +
      "FROM mvsrc_sql8 WHERE v > 100 GROUP BY g")
    def expect() = src.read(spark).filter($"v" > 100).groupBy("g")
      .agg(count(lit(1)).as("row_count"), sum($"v").as("sum_v"), count($"v").as("nn_v"))
    assertSameRows(spark.sql("SELECT * FROM mv8"), expect())
    // append rows on both sides of the predicate, delete a passing row
    src.append(Seq((91L, 0, 50L), (92L, 0, 5000L)).toDF("id", "g", "v"))
    src.deleteByKeys(Seq(30L).toDF("id")) // v=300 passes the filter
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv8")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(spark.sql("SELECT * FROM mv8"), expect())
    // definition (incl. WHERE text) survives a fresh handle
    spark.catalog.dropTempView("mv8")
    src.append(Seq((93L, 1, 999L)).toDF("id", "g", "v"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv8")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(spark.sql("SELECT * FROM mv8"), expect())
  }

  test("MIN/MAX definitions maintain min_/max_ via touched-group recompute") {
    DmlSql.setWarehouse(tmpDir("mvwh9"))
    val src = mkSource("mvsrc_sql9")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv9 AS SELECT g, count(*), min(v), max(v) " +
      "FROM mvsrc_sql9 GROUP BY g")
    def expect() = src.read(spark).groupBy("g")
      .agg(count(lit(1)).as("row_count"), min($"v").as("min_v"), max($"v").as("max_v"))
    assertSameRows(spark.sql("SELECT g, row_count, min_v, max_v FROM mv9"), expect())
    // delete g=0's maximum (id=90, v=900): delta arithmetic alone cannot
    // lower max_v — the touched-group recompute must
    src.deleteByKeys(Seq(90L).toDF("id"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv9")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(spark.sql("SELECT g, row_count, min_v, max_v FROM mv9"), expect())
  }

  test("COUNT(DISTINCT c) maintains nd_ via touched-group recompute") {
    DmlSql.setWarehouse(tmpDir("mvwh13"))
    val src = Icebox(tmpDir("mvsrc_sql13"))
    // v repeats within groups so distinct-count differs from row-count
    src.append((1 to 90).map(i => (i.toLong, i % 3, (i % 10).toLong))
      .toDF("id", "g", "v"))
    src.registerView(spark, "mvsrc_sql13")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv13 AS SELECT g, count(*), count(DISTINCT v) " +
      "FROM mvsrc_sql13 GROUP BY g")
    def expect() = src.read(spark).groupBy("g")
      .agg(count(lit(1)).as("row_count"), countDistinct($"v").as("nd_v"))
    assertSameRows(spark.sql("SELECT g, row_count, nd_v FROM mv13"), expect())
    // delete EVERY row carrying v=9 (ids 9,19,...,89): delta arithmetic
    // cannot lower a distinct count — the touched-group recompute must
    src.deleteByKeys((1 to 90).filter(_ % 10 == 9).map(_.toLong).toDF("id"))
    // and append a DUPLICATE value into g=0: row_count moves, nd_v doesn't
    src.append(Seq((91L, 0, 5L)).toDF("id", "g", "v"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv13")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(spark.sql("SELECT g, row_count, nd_v FROM mv13"), expect())
  }

  // ---- transparent aggregate rewrite -----------------------------------

  test("rewrite: a subset-key query rolls up from the view; results match the source") {
    val wh = tmpDir("mvwh14")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvsrc_sql14"))
    src.append((1 to 120).map(i => (i.toLong, i % 4, i % 3, i * 10L))
      .toDF("id", "g", "h", "v"))
    src.registerView(spark, "mvsrc_sql14")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv14 AS SELECT g, h, count(*), sum(v), min(v), max(v) " +
      "FROM mvsrc_sql14 GROUP BY g, h")
    val q = "SELECT g, count(*), sum(v), avg(v), min(v), max(v) FROM mvsrc_sql14 GROUP BY g"
    val (name, df) = MvSql.answer(spark, q, wh).getOrElse(fail("rewrite must engage"))
    name shouldBe "mv14"
    assertSameRows(df,
      src.read(spark).groupBy("g").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"),
        (sum($"v") / count($"v")).as("avg_v"),
        min($"v").as("min_v"), max($"v").as("max_v")))
    // exact-key query serves by projection (no re-aggregation needed)
    val qx = "SELECT g, h, count(*), sum(v) FROM mvsrc_sql14 GROUP BY g, h"
    MvSql.answer(spark, qx, wh).map(_._1) shouldBe Some("mv14")
  }

  test("rewrite: staleness refuses; view-key WHERE filters view rows; non-key WHERE refuses") {
    val wh = tmpDir("mvwh15")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvsrc_sql15"))
    src.append((1 to 60).map(i => (i.toLong, i % 3, i * 10L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvsrc_sql15")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv15 AS SELECT g, count(*), sum(v) FROM mvsrc_sql15 GROUP BY g")
    val q = "SELECT g, count(*), sum(v) FROM mvsrc_sql15 GROUP BY g"
    MvSql.answer(spark, q, wh).map(_._1) shouldBe Some("mv15")
    // a key-only WHERE applies to the VIEW's rows
    val qw = "SELECT g, sum(v) FROM mvsrc_sql15 WHERE g = 1 GROUP BY g"
    val (_, fdf) = MvSql.answer(spark, qw, wh).getOrElse(fail("key-WHERE must rewrite"))
    assertSameRows(fdf.select($"g", $"sum_v"),
      src.read(spark).filter($"g" === 1).groupBy("g").agg(sum($"v").as("sum_v")))
    // a non-key WHERE cannot be answered from the view
    MvSql.answer(spark, "SELECT g, sum(v) FROM mvsrc_sql15 WHERE v > 100 GROUP BY g",
      wh) shouldBe None
    // source advances -> stale -> refuse; REFRESH re-enables
    src.append(Seq((61L, 0, 999L)).toDF("id", "g", "v"))
    MvSql.answer(spark, q, wh) shouldBe None
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mv15")
    MvSql.answer(spark, q, wh).map(_._1) shouldBe Some("mv15")
    // uncovered aggregate (max not maintained) refuses
    MvSql.answer(spark, "SELECT g, max(v) FROM mvsrc_sql15 GROUP BY g", wh) shouldBe None
    // COUNT(DISTINCT) cannot roll up: no distincts maintained here
    MvSql.answer(spark, "SELECT g, count(DISTINCT v) FROM mvsrc_sql15 GROUP BY g",
      wh) shouldBe None
  }

  test("rewrite: HAVING filters the answered rows through canonical columns") {
    val wh = tmpDir("mvwh17")
    DmlSql.setWarehouse(wh)
    val src = Icebox(tmpDir("mvsrc_sql17"))
    src.append((1 to 90).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "g", "v"))
    src.registerView(spark, "mvsrc_sql17")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mv17 AS SELECT g, count(*), sum(v) FROM mvsrc_sql17 GROUP BY g")
    val q = "SELECT g, count(*), sum(v) FROM mvsrc_sql17 GROUP BY g HAVING sum(v) > 8000 AND count(*) >= 18"
    val (name, df) = MvSql.answer(spark, q, wh).getOrElse(fail("HAVING query must rewrite"))
    name shouldBe "mv17"
    assertSameRows(df,
      src.read(spark).groupBy("g").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))
        .filter($"sum_v" > 8000 && $"row_count" >= 18))
    // HAVING over an aggregate the view can't provide refuses
    MvSql.answer(spark,
      "SELECT g, count(*) FROM mvsrc_sql17 GROUP BY g HAVING min(v) > 5", wh) shouldBe None
  }

  test("rewrite: join queries are served by matching join views, with rollup") {
    val wh = tmpDir("mvwh16")
    DmlSql.setWarehouse(wh)
    val (fact, dim) = mkJoinSources("mvjf4", "mvjd4")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvj4 AS SELECT seg, fk, count(*), sum(v) " +
      "FROM mvjf4 JOIN mvjd4 ON mvjf4.fk = mvjd4.k GROUP BY seg, fk")
    val q = "SELECT seg, count(*), sum(v) FROM mvjf4 JOIN mvjd4 " +
      "ON mvjf4.fk = mvjd4.k GROUP BY seg"
    val (name, df) = MvSql.answer(spark, q, wh).getOrElse(fail("join rewrite must engage"))
    name shouldBe "mvj4"
    assertSameRows(df,
      fact.read(spark).join(dim.read(spark), $"fk" === $"k")
        .groupBy("seg").agg(count(lit(1)).as("row_count"),
          sum($"v").as("sum_v"), count($"v").as("nn_v")))
    // a different join shape is not served
    MvSql.answer(spark, "SELECT seg, sum(v) FROM mvjf4 JOIN mvjd4 " +
      "ON mvjf4.id = mvjd4.k GROUP BY seg", wh) shouldBe None
  }

  // ---- join views through the DDL --------------------------------------

  private def mkJoinSources(f: String, d: String): (Icebox, Icebox) = {
    val fact = Icebox(tmpDir(f))
    fact.append((1 to 80).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    fact.registerView(spark, f)
    val dim = Icebox(tmpDir(d))
    dim.append((0 to 4).map(k => (k, s"seg${k % 2}")).toDF("k", "seg"))
    dim.registerView(spark, d)
    (fact, dim)
  }

  test("CREATE over an inner equi-join maintains incrementally through both sides") {
    DmlSql.setWarehouse(tmpDir("mvwh10"))
    val (fact, dim) = mkJoinSources("mvjf1", "mvjd1")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvj1 AS SELECT seg, count(*), sum(v) " +
      "FROM mvjf1 JOIN mvjd1 ON mvjf1.fk = mvjd1.k GROUP BY seg")
      .collect().head.getString(0) shouldBe "create-mv:FullBuild"
    def expect() = fact.read(spark).join(dim.read(spark), $"fk" === $"k")
      .groupBy("seg").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))
    assertSameRows(spark.sql("SELECT g.* FROM mvj1 g"), expect())
    // mutate BOTH sides, refresh once: must take the delta path
    fact.append((81 to 100).map(i => (i.toLong, i % 5, i * 10L)).toDF("id", "fk", "v"))
    dim.deleteByKeys(Seq(4).toDF("k"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvj1")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(spark.sql("SELECT g.* FROM mvj1 g"), expect())
    // definition survives a fresh handle (properties-only REFRESH)
    spark.catalog.dropTempView("mvj1")
    fact.append(Seq((101L, 2, 7L)).toDF("id", "fk", "v"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvj1")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(spark.sql("SELECT g.* FROM mvj1 g"), expect())
  }

  test("join definitions validate loudly: outer joins, MIN/MAX, ambiguity, bad ON") {
    DmlSql.setWarehouse(tmpDir("mvwh11"))
    mkJoinSources("mvjf2", "mvjd2")
    def bad(sql: String, fragment: String): Unit = {
      val e = intercept[RuntimeException](DmlSql.run(spark, sql))
      e.getMessage should include(fragment)
    }
    bad("CREATE MATERIALIZED VIEW j1 AS SELECT seg, sum(v) FROM mvjf2 " +
      "LEFT JOIN mvjd2 ON mvjf2.fk = mvjd2.k GROUP BY seg", "INNER equi-joins")
    bad("CREATE MATERIALIZED VIEW j2 AS SELECT seg, min(v) FROM mvjf2 " +
      "JOIN mvjd2 ON mvjf2.fk = mvjd2.k GROUP BY seg", "over a join")
    bad("CREATE MATERIALIZED VIEW j3 AS SELECT seg, sum(v) FROM mvjf2 " +
      "JOIN mvjd2 ON mvjf2.fk < mvjd2.k GROUP BY seg", "AND of column")
    bad("CREATE MATERIALIZED VIEW j4 AS SELECT seg, sum(v) FROM mvjf2 " +
      "JOIN mvjd2 ON fk = k GROUP BY seg", "must be qualified")
    bad("CREATE MATERIALIZED VIEW j5 AS SELECT seg, sum(v) FROM mvjf2 CROSS JOIN mvjd2 " +
      "GROUP BY seg", "join without ON")
    // non-join column collision: both sides expose 'v'
    val clash = Icebox(tmpDir("mvjd2c"))
    import spark.implicits._
    clash.append((0 to 4).map(k => (k, k * 100L)).toDF("k", "v"))
    clash.registerView(spark, "mvjd2c")
    bad("CREATE MATERIALIZED VIEW j6 AS SELECT k, sum(v) FROM mvjf2 " +
      "JOIN mvjd2c ON mvjf2.fk = mvjd2c.k GROUP BY k", "ambiguous columns")
  }

  test("SHOW MATERIALIZED VIEWS names both join sources; maintenance tick refreshes a join view") {
    val wh = tmpDir("mvwh12")
    DmlSql.setWarehouse(wh)
    val (fact, dim) = mkJoinSources("mvjf3", "mvjd3")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvj3 AS SELECT seg, count(*), sum(v) " +
      "FROM mvjf3 JOIN mvjd3 ON mvjf3.fk = mvjd3.k GROUP BY seg")
    val row = DmlSql.run(spark, "SHOW MATERIALIZED VIEWS")
      .filter($"name" === "mvj3").collect().head
    row.getAs[String]("source") shouldBe "mvjf3 JOIN mvjd3"
    // the shared properties-driven entry point (TableService tick /
    // streaming hook) routes join definitions to refreshJoin
    fact.append(Seq((200L, 1, 5000L)).toDF("id", "fk", "v"))
    val tgt = Icebox(new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(wh), "_mv/mvj3").toString)
    graft.operators.MaterializedView.refreshFromProperties(spark, tgt) shouldBe
      Some(graft.operators.MaterializedView.Incremental)
    assertSameRows(tgt.read(spark),
      fact.read(spark).join(dim.read(spark), $"fk" === $"k")
        .groupBy("seg").agg(count(lit(1)).as("row_count"),
          sum($"v").as("sum_v"), count($"v").as("nn_v")))
  }

  test("a join view stored in the two-source property shape refreshes, serves and lists") {
    val wh = tmpDir("mvwh14")
    DmlSql.setWarehouse(wh)
    val (fact, dim) = mkJoinSources("mvjf5", "mvjd5")
    val create = "CREATE MATERIALIZED VIEW mvj5 AS SELECT seg, count(*), sum(v) " +
      "FROM mvjf5 JOIN mvjd5 ON mvjf5.fk = mvjd5.k GROUP BY seg"
    DmlSql.run(spark, create)
    // the definition as join views once stored it: the dim as a second
    // source and one join-pair list
    val tgt = Icebox(s"$wh/_mv/mvj5")
    tgt.replaceProperties(Seq("mv.star.dims", "mv.star.names", "mv.star.on"),
      Map("mv.source2.dir" -> dim.tableDir, "mv.source2.name" -> "mvjd5",
        "mv.join.on" -> "fk=k"))
    def expect() = fact.read(spark).join(dim.read(spark), $"fk" === $"k")
      .groupBy("seg").agg(count(lit(1)).as("row_count"),
        sum($"v").as("sum_v"), count($"v").as("nn_v"))
    // both terms run: new facts, and a new dim key that facts then join
    fact.append((81 to 90).map(i => (i.toLong, i % 6, i * 10L)).toDF("id", "fk", "v"))
    dim.append(Seq((5, "seg1")).toDF("k", "seg"))
    DmlSql.run(spark, "REFRESH MATERIALIZED VIEW mvj5")
      .collect().head.getString(0) shouldBe "refresh-mv:Incremental"
    assertSameRows(tgt.read(spark), expect())
    fact.append(Seq((91L, 1, 3L)).toDF("id", "fk", "v"))
    graft.operators.MaterializedView.refreshFromProperties(spark, tgt) shouldBe
      Some(graft.operators.MaterializedView.Incremental)
    assertSameRows(tgt.read(spark), expect())
    // the same SQL is the same definition
    DmlSql.run(spark, create).collect().head.getString(0) shouldBe "create-mv:NoOp"
    DmlSql.run(spark, "SHOW MATERIALIZED VIEWS").filter($"name" === "mvj5")
      .collect().head.getAs[String]("source") shouldBe "mvjf5 JOIN mvjd5"
    fact.registerView(spark, "mvjf5")
    dim.registerView(spark, "mvjd5")
    graft.sql.MvRewrite.install(spark)
    try {
      val served = spark.sql("SELECT seg, count(*) AS cnt FROM mvjf5 " +
        "JOIN mvjd5 ON mvjf5.fk = mvjd5.k GROUP BY seg")
      assert(served.inputFiles.nonEmpty && served.inputFiles.forall(_.contains("/_mv/")),
        s"expected a view scan, got ${served.inputFiles.toSeq}")
      assertSameRows(served, expect().select($"seg", $"row_count".as("cnt")))
    } finally graft.sql.MvRewrite.uninstall(spark)
  }

  test("DROP clears the whole definition: a snowflake's parents never reach the next CREATE") {
    val wh = tmpDir("mvwh13")
    DmlSql.setWarehouse(wh)
    val fact = Icebox(tmpDir("mvsf_f"))
    fact.append((1 to 60).map(i => (i.toLong, i % 6, i % 4, i * 10L))
      .toDF("id", "ck", "pk", "v"))
    fact.registerView(spark, "mvsf_f")
    val cust = Icebox(tmpDir("mvsf_c"))
    cust.append((0 to 5).map(k => (k, k % 3)).toDF("c_id", "nk"))
    cust.registerView(spark, "mvsf_c")
    val nat = Icebox(tmpDir("mvsf_n"))
    nat.append((0 to 2).map(k => (k, s"nation$k")).toDF("n_id", "nname"))
    nat.registerView(spark, "mvsf_n")
    val prod = Icebox(tmpDir("mvsf_p"))
    prod.append((0 to 3).map(k => (k, s"cat${k % 2}")).toDF("p_id", "cat"))
    prod.registerView(spark, "mvsf_p")
    DmlSql.run(spark,
      "CREATE MATERIALIZED VIEW mvsf AS SELECT nname, count(*), sum(v) FROM mvsf_f " +
      "JOIN mvsf_c ON mvsf_f.ck = mvsf_c.c_id JOIN mvsf_n ON mvsf_c.nk = mvsf_n.n_id " +
      "GROUP BY nname")
    DmlSql.run(spark, "DROP MATERIALIZED VIEW mvsf")
    // a plain star under the same name: both dims join the fact
    val star = "CREATE MATERIALIZED VIEW mvsf AS SELECT nk, cat, count(*), sum(v) " +
      "FROM mvsf_f JOIN mvsf_c ON mvsf_f.ck = mvsf_c.c_id " +
      "JOIN mvsf_p ON mvsf_f.pk = mvsf_p.p_id GROUP BY nk, cat"
    DmlSql.run(spark, star).collect().head.getString(0) shouldBe "create-mv:FullBuild"
    // the identical CREATE is the same definition: a NoOp refresh
    DmlSql.run(spark, star).collect().head.getString(0) shouldBe "create-mv:NoOp"
    val tgt = Icebox(s"$wh/_mv/mvsf")
    tgt.properties.contains("mv.star.parents") shouldBe false
    fact.append(Seq((61L, 1, 2, 7L)).toDF("id", "ck", "pk", "v"))
    graft.operators.MaterializedView.refreshFromProperties(spark, tgt) shouldBe
      Some(graft.operators.MaterializedView.Incremental)
    assertSameRows(tgt.read(spark),
      fact.read(spark).join(cust.read(spark), $"ck" === $"c_id")
        .join(prod.read(spark), $"pk" === $"p_id")
        .groupBy("nk", "cat").agg(count(lit(1)).as("row_count"),
          sum($"v").as("sum_v"), count($"v").as("nn_v")))
  }
}
