package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import graft.table.Icebox

/** The CBO stats bridge: manifest rowCount / min-max / NDV reach
  * Catalyst's optimizer through [[graft.plans.IceboxStatsRule]], and a
  * broadcast decision actually FLIPS when the stats are present — the dim
  * side is identified as small by estimated rows-after-filter, not by
  * on-disk byte heuristics.
  */
class IceboxStatsSpec extends SparkSpec {

  /** A second session on the SAME SparkContext with the graft extensions
    * (pre-CBO stats rule) and CBO enabled — the engine's own CBO session,
    * shared with the CBO queries. The shared test session has neither,
    * which doubles as the control group.
    */
  private lazy val cboSpark: SparkSession = GraftSession.cboSession(spark)

  /** Stats visitors read `SQLConf.get` from the THREAD-LOCAL active
    * session — calling `.stats` from the test thread with the control
    * session active would silently gate CBO off. Scope the active session
    * to the block (execution itself wraps withActive, but plan-level
    * assertions here run on the test thread).
    */
  private def withCbo[T](body: => T): T = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(cboSpark)
    try body finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
    case other => other +: other.children.flatMap(collectPlan)
  }

  test("optimizedPlan carries manifest rowCount, min/max, and NDV") { withCbo {
    import cboSpark.implicits._
    val t = Icebox(tmpDir("stats-basic"))
    t.append((1L to 1000L).map(i => (i, i % 50)).toDF("id", "grp"),
      collectStats = Seq("id", "grp"))
    t.analyze(cboSpark, Seq("grp"))
    val st = t.read(cboSpark).queryExecution.optimizedPlan.stats
    st.rowCount shouldBe Some(BigInt(1000))
    val byName = st.attributeStats.map { case (a, cs) => a.name -> cs }
    byName("id").min.map(_.toString) shouldBe Some("1")
    byName("id").max.map(_.toString) shouldBe Some("1000")
    val ndv = byName("grp").distinctCount.get.toLong
    ndv should be >= 45L // HLL ≈ 50 within error budget
    ndv should be <= 55L

    // the control session (no extensions / no CBO) plans from bytes only
    SparkSession.setActiveSession(spark) // control: stats read under the plain session
    try t.read(spark).queryExecution.optimizedPlan.stats.rowCount shouldBe None
    finally SparkSession.setActiveSession(cboSpark)
  } }

  test("broadcast decision flips when min/max selectivity is visible") { withCbo {
    import cboSpark.implicits._
    val dim = Icebox(tmpDir("stats-dim"))
    val fact = Icebox(tmpDir("stats-fact"))
    // dim: 20k rows, on-disk well above the broadcast threshold set below;
    // random-ish values so parquet can't compress it away
    dim.append((1L to 20000L).map(i => (i, i * 2654435761L % 1000003L))
      .toDF("id", "payload"), collectStats = Seq("id"))
    dim.analyze(cboSpark, Seq("id")) // NDV sketch: FilterEstimation needs distinctCount too
    fact.append((1L to 50000L).map(i => (i % 20000L + 1L, i.toDouble))
      .toDF("fk", "v"), collectStats = Seq("fk"))
    val dimBytes = dim.currentSnapshot.get.files.map(_.sizeBytes).sum
    val threshold = 10 * 1024
    assert(dimBytes > threshold, s"test setup: dim on disk $dimBytes must exceed $threshold")

    def joined(s: SparkSession) = {
      // filter keeps 10 of 20k dim rows — CBO with min/max estimates this
      // to a tiny relation; the byte heuristic still sees the full file size
      val d = dim.read(s).filter(col("id") <= 10L)
      fact.read(s).join(d, col("fk") === col("id")).agg(sum("v").as("s"), count(lit(1)).as("n"))
    }

    def withThreshold[T](s: SparkSession)(body: => T): T = {
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      try body finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    }

    val (cboHasBroadcast, cboRows) = withThreshold(cboSpark) {
      val df = joined(cboSpark)
      (collectPlan(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeExec]), canon(df))
    }
    val (plainHasBroadcast, plainRows) = withThreshold(spark) {
      val df = joined(spark)
      (collectPlan(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeExec]), canon(df))
    }
    withClue("stats session must broadcast the filtered dim:") {
      cboHasBroadcast shouldBe true
    }
    withClue("byte-heuristic session must NOT broadcast (file exceeds threshold):") {
      plainHasBroadcast shouldBe false
    }
    cboRows shouldBe plainRows // the plan changed; the answer did not
  } }

  test("histogram consumer: skew-aware selectivity flips a broadcast min/max alone gets wrong") { withCbo {
    import cboSpark.implicits._
    val dim = Icebox(tmpDir("stats-skewdim"))
    val fact = Icebox(tmpDir("stats-skewfact"))
    // SKEWED dim: 99% of 30k rows in [0,10], 1% spread over (10,10000].
    // A predicate on the sparse tail is where uniform density lies:
    // min/max estimates `v >= 200` at ~98% of rows (the tail's WIDTH
    // share), the histogram knows it's ~1% (the tail's MASS share). The
    // literal sits past the first equi-width bucket boundary (~156), so
    // the skewed head mass is fully outside the covered bins — within-
    // bucket uniformity can't smear it into the estimate.
    val lowRows = (1L to 29700L).map(i => (i, (i % 11).toDouble))
    val tailRows = (29701L to 30000L).map(i => (i, 10.0 + (i % 999) * 10.0))
    dim.append((lowRows ++ tailRows).toDF("id", "v"), collectStats = Seq("id", "v"))
    dim.analyze(cboSpark, Seq("id", "v"))
    dim.analyzeHistogram(cboSpark, "v", buckets = 64)
    fact.append((1L to 60000L).map(i => (i % 30000L + 1L, i.toDouble))
      .toDF("fk", "w"), collectStats = Seq("fk"))

    def joined(withHist: Boolean) = {
      graft.plans.IceboxStats.invalidate()
      // histogram absence is simulated by blanking the property (the
      // bridge's parse refuses it); presence by a fresh ANALYZE HISTOGRAM
      if (!withHist) dim.setProperties(Map("hist.v" -> ""))
      else dim.analyzeHistogram(cboSpark, "v", buckets = 64)
      val d = dim.read(cboSpark).filter(col("v") >= 200.0)
      fact.read(cboSpark).join(d, col("fk") === col("id")).agg(sum("w").as("s"))
    }
    val threshold = 64 * 1024 // between the ~1% and ~99% row estimates
    val old = cboSpark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    cboSpark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    try {
      // force each plan INSIDE its histogram state — planning is lazy, so
      // interleaving the two builds would plan both under the second state
      val noHist = joined(withHist = false)
      val bcNo = collectPlan(noHist.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeExec])
      val rowsNo = canon(noHist)
      val withH = joined(withHist = true)
      val bcYes = collectPlan(withH.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeExec])
      withClue("uniform min/max estimate must refuse the broadcast (~29.7k-row estimate):") {
        bcNo shouldBe false
      }
      withClue("histogram estimate must take the broadcast (~300-row estimate):") {
        bcYes shouldBe true
      }
      rowsNo shouldBe canon(withH) // the decision changed; the answer did not
    } finally cboSpark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  } }

  test("3-table join ORDER flips: CBO pairs the fact with the tiny dim first") { withCbo {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import cboSpark.implicits._
    val fact = Icebox(tmpDir("ro-fact"))
    val tiny = Icebox(tmpDir("ro-tiny"))
    val mid = Icebox(tmpDir("ro-mid"))
    fact.append((1L to 50000L).map(i => (i, i % 5L + 1L, i % 5000L + 1L, i.toDouble))
      .toDF("id", "bk", "ck", "v"), collectStats = Seq("bk", "ck"))
    tiny.append((1L to 5L).map(k => (k, s"t$k")).toDF("b_id", "b_name"))
    mid.append((1L to 5000L).map(k => (k, s"m$k")).toDF("c_id", "c_name"))
    // NDV on every join key: JoinEstimation sizes an equi-join from the
    // key distinct counts, and CostBasedJoinReorder only reorders items
    // whose estimates it trusts
    fact.analyze(cboSpark, Seq("bk", "ck"))
    tiny.analyze(cboSpark, Seq("b_id"))
    mid.analyze(cboSpark, Seq("c_id"))

    // written order joins the 5000-row mid FIRST — the expensive shape;
    // the 5-row tiny dim is declared last
    def query(s: SparkSession) =
      fact.read(s)
        .join(mid.read(s), col("ck") === col("c_id"))
        .join(tiny.read(s), col("bk") === col("b_id"))
        .agg(count(lit(1)).as("n"), sum("v").as("s"))

    /** Table dirs under the INNERMOST join (both children join-free). */
    def firstJoinDirs(plan: LogicalPlan): Set[String] = {
      def dirs(p: LogicalPlan): Set[String] = p.collect {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
            if r.location.isInstanceOf[graft.plans.IceboxFileIndex] =>
          r.location.asInstanceOf[graft.plans.IceboxFileIndex].tableDirString
      }.toSet
      plan.collect {
        case j: Join if !j.left.exists(_.isInstanceOf[Join]) &&
          !j.right.exists(_.isInstanceOf[Join]) => dirs(j)
      }.headOption.getOrElse(Set.empty)
    }

    val cboFirst = firstJoinDirs(query(cboSpark).queryExecution.optimizedPlan)
    withClue("CBO must pair the fact with the TINY dim first (reorder):") {
      cboFirst shouldBe Set(fact.tableDir, tiny.tableDir)
    }
    // the control session keeps the written (expensive) order
    SparkSession.setActiveSession(spark)
    val plainFirst = try firstJoinDirs(query(spark).queryExecution.optimizedPlan)
    finally SparkSession.setActiveSession(cboSpark)
    plainFirst shouldBe Set(fact.tableDir, mid.tableDir)
    // and the answer is order-independent
    canon(query(cboSpark)) shouldBe canon(query(spark))
  } }

  test("rule is a strict no-op when CBO is off (no planning overhead for non-CBO users)") {
    import spark.implicits._
    val t = Icebox(tmpDir("stats-noop"))
    t.append((1L to 100L).map(i => (i, i * 2)).toDF("id", "v"), collectStats = Seq("id"))
    val plan = t.read(spark).queryExecution.analyzed
    // the control session has cbo/planStats off → the rule must return the
    // SAME plan object without touching manifests or the cache
    val rule = new graft.plans.IceboxStatsRule(spark)
    graft.plans.IceboxStats.invalidate()
    rule(plan) should be theSameInstanceAs plan
    // and the kill switch overrides even a CBO session
    cboSpark.conf.set("spark.graft.stats.enabled", "false")
    try new graft.plans.IceboxStatsRule(cboSpark)(plan) should be theSameInstanceAs plan
    finally cboSpark.conf.set("spark.graft.stats.enabled", "true")
  }

  test("position deletes: rowCount stays EXACT (rows - deleteRows); column stats refused") { withCbo {
    import cboSpark.implicits._
    val t = Icebox(tmpDir("stats-mor"))
    t.append((1L to 500L).map(i => (i, i.toDouble)).toDF("id", "v"),
      collectStats = Seq("id"))
    t.read(cboSpark).queryExecution.optimizedPlan.stats.rowCount shouldBe Some(BigInt(500))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    graft.sql.MergeSql.register("stats_mor_t", t)
    graft.sql.DmlSql.delete(cboSpark, "DELETE FROM stats_mor_t WHERE id IN (1, 2, 3)")
    t.currentSnapshot.get.files.count(_.deletes.nonEmpty) should be > 0
    // the manifests record per-file attached-position counts — the CDC
    // write mode plans with an exact rowCount instead of stats-blind
    graft.plans.IceboxStats.invalidate()
    val st = t.read(cboSpark).queryExecution.optimizedPlan.stats
    st.rowCount shouldBe Some(BigInt(497))
    // ...but per-column stats describe the PRE-delete file contents — refused
    st.attributeStats shouldBe empty
  } }

  test("refusal: equality deletes and legacy no-count manifests drop rowCount") { withCbo {
    import cboSpark.implicits._
    val t = Icebox(tmpDir("stats-eqmor"))
    t.append((1L to 300L).map(i => (i, s"s$i")).toDF("id", "s"), collectStats = Seq("id"))
    t.deleteByKeys(Seq(5L, 6L).toDF("id"))
    t.currentSnapshot.get.files.count(_.eqDeletes.nonEmpty) should be > 0
    // equality-delete matched cardinality genuinely needs a scan — refuse
    graft.plans.IceboxStats.invalidate()
    t.read(cboSpark).queryExecution.optimizedPlan.stats.rowCount shouldBe None
    t.rowCount shouldBe None

    // legacy manifest: position deletes recorded WITHOUT deleteRows (a
    // pre-r13 writer) — strip the field from the manifest JSON on disk and
    // re-open; unknown must refuse, never estimate
    val t2 = Icebox(tmpDir("stats-legacy"))
    t2.append((1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v"))
    t2.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    graft.sql.MergeSql.register("stats_legacy_t", t2)
    graft.sql.DmlSql.delete(cboSpark, "DELETE FROM stats_legacy_t WHERE id = 7")
    t2.rowCount shouldBe Some(99L)
    val snapDir = new java.io.File(t2.tableDir, "_snapshots")
    snapDir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      java.nio.file.Files.write(f.toPath,
        txt.replaceAll("\"deleteRows\"\\s*:\\s*-?\\d+\\s*,?", "")
           .replaceAll(",\\s*\\}", "}").getBytes("UTF-8"))
    }
    val reopened = Icebox(t2.tableDir) // fresh handle: no cached manifests
    reopened.currentSnapshot.get.files.filter(_.deletes.nonEmpty)
      .foreach(_.deleteRows shouldBe -1L)
    reopened.rowCount shouldBe None
    graft.plans.IceboxStats.invalidate()
    reopened.read(cboSpark).queryExecution.optimizedPlan.stats.rowCount shouldBe None
  } }

  test("decimal min/max flips a broadcast the byte heuristic refuses") { withCbo {
    import cboSpark.implicits._
    val dim = Icebox(tmpDir("stats-decdim"))
    val fact = Icebox(tmpDir("stats-decfact"))
    // price: DECIMAL(12,2) with distinct cents so parquet can't dictionary-
    // compress it to nothing; 20k rows, filter keeps ~10
    val dimDf = (1L to 20000L).map(i => (i, BigDecimal(i * 100L + i % 97, 2)))
      .toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(12,2)").as("price"))
    dim.append(dimDf, collectStats = Seq("id", "price"))
    dim.analyze(cboSpark, Seq("id", "price"))
    fact.append((1L to 50000L).map(i => (i % 20000L + 1L, i.toDouble))
      .toDF("fk", "v"), collectStats = Seq("fk"))
    val dimBytes = dim.currentSnapshot.get.files.map(_.sizeBytes).sum
    val threshold = 10 * 1024
    assert(dimBytes > threshold, s"test setup: dim on disk $dimBytes must exceed $threshold")
    // sanity: the bridge serves the decimal extrema in catalog form
    val byName = dim.read(cboSpark).queryExecution.optimizedPlan.stats
      .attributeStats.map { case (a, cs) => a.name -> cs }
    byName("price").min.map(_.toString) shouldBe Some("1.01")
    byName("price").max.map(_.toString) shouldBe Some("20000.18")

    def joined(s: SparkSession) = {
      // keeps prices <= 11.00 → 10 of 20k dim rows; the byte heuristic
      // still sees the full file size
      val d = dim.read(s).filter(col("price") <= new java.math.BigDecimal("11.00"))
      fact.read(s).join(d, col("fk") === col("id")).agg(sum("v").as("s"), count(lit(1)).as("n"))
    }
    def withThreshold[T](s: SparkSession)(body: => T): T = {
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      try body finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    }
    val (cboHasBroadcast, cboRows) = withThreshold(cboSpark) {
      val df = joined(cboSpark)
      (collectPlan(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeExec]), canon(df))
    }
    val (plainHasBroadcast, plainRows) = withThreshold(spark) {
      val df = joined(spark)
      (collectPlan(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeExec]), canon(df))
    }
    withClue("decimal-range selectivity must drive the broadcast:") {
      cboHasBroadcast shouldBe true
    }
    withClue("byte heuristic must refuse (file exceeds threshold):") {
      plainHasBroadcast shouldBe false
    }
    cboRows shouldBe plainRows
  } }

  test("timestamp min/max round-trips through the catalog external form") { withCbo {
    import cboSpark.implicits._
    val t = Icebox(tmpDir("stats-ts"))
    // TIMESTAMP_NTZ (the testdata/CDC shape): zone-free, exact round-trip
    val rows = (1L to 400L).map { i =>
      (i, java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusMinutes(i * 7))
    }
    t.append(rows.toDF("id", "ts"), collectStats = Seq("ts"))
    val st = t.read(cboSpark).queryExecution.optimizedPlan.stats
    val byName = st.attributeStats.map { case (a, cs) => a.name -> cs }
    // attributeStats values went through fromExternalString — a format
    // mismatch would have thrown during stats conversion, and the values
    // must be the true micros extrema
    def micros(ldt: java.time.LocalDateTime): Long =
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    byName("ts").min shouldBe Some(micros(rows.head._2))
    byName("ts").max shouldBe Some(micros(rows.last._2))

    // ZONED timestamp: served only under a fixed-offset JVM zone (this
    // container runs UTC); under a DST zone the rendering is ambiguous
    // and the bridge must refuse
    assume(java.time.ZoneId.systemDefault().getRules.isFixedOffset,
      "container zone is not fixed-offset; zoned-timestamp case not testable")
    val tz = Icebox(tmpDir("stats-tsz"))
    val zrows = (1L to 100L).map(i => (i, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-06-01T00:00:00Z").plusSeconds(i * 60))))
    tz.append(zrows.toDF("id", "ts"), collectStats = Seq("ts"))
    val zStats = tz.read(cboSpark).queryExecution.optimizedPlan.stats
      .attributeStats.map { case (a, cs) => a.name -> cs }
    def zmicros(ts: java.sql.Timestamp): Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
    zStats("ts").min shouldBe Some(zmicros(zrows.head._2))
    zStats("ts").max shouldBe Some(zmicros(zrows.last._2))
  } }

  test("each layout generation's relation reports its own row count or none") { withCbo {
    import cboSpark.implicits._
    val t = Icebox(tmpDir("stats-gens"))
    t.append(Seq((1L, "a")).toDF("id", "grp"), Seq("grp"), collectStats = Seq("id"))
    t.setPartitionSpec(Nil)
    t.append((2L to 4L).map(i => (i, "b")).toDF("id", "grp"), collectStats = Seq("id"))
    val rels = t.read(cboSpark).queryExecution.optimizedPlan.collect {
      case lr @ org.apache.spark.sql.execution.datasources.LogicalRelation(
          r: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        (r.location.asInstanceOf[graft.plans.IceboxFileIndex].manifestFiles.map(_.rows).sum,
          lr.stats.rowCount)
    }
    rels.map(_._1).sorted shouldBe Seq(1L, 3L)
    rels.foreach { case (rows, rowCount) => rowCount.foreach(_ shouldBe BigInt(rows)) }
  } }
}
