package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, FileCdc, FileCheckpointStore, Watermark, WatermarkStore}
import graft.functions.TextFunctions
import graft.normalize.Normalize
import graft.operators.{AsofJoin, Decontaminate, Dedup, LmScore, Multimodal, Packing, RangeJoin, Sampling, Sessionize, Similarity, Skew, Upsert}
import graft.pipeline.{Config, Pipeline, Task}
import graft.sources.{FileSource, Testdata}
import graft.table.Icebox

/** Driver contract — one named query per implemented operator (SURVEY.md §2)
  * with a DuckDB-equivalent oracle in `oracleSql`. Column names and types are
  * aligned pairwise: integer outputs are LONG, float aggregates are rounded,
  * timestamps stay `timestamp_ntz` (what DuckDB produces for these files).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Testdata.table(s, dir, name)

  // every dir `tmp` makes lives under one root, deleted by `clearTmp`
  private var tmpRoot: Option[java.nio.file.Path] = None

  private def tmp(prefix: String): String = synchronized {
    if (tmpRoot.isEmpty) tmpRoot = Some(Files.createTempDirectory("graft-entry-"))
    Files.createTempDirectory(tmpRoot.get, prefix).toString
  }

  /** Delete every dir the queries made since the last call. Call it once a
    * query's result is materialized: until then its frame may read them.
    */
  def clearTmp(): Unit = synchronized {
    tmpRoot.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    tmpRoot = None
  }

  /** Spread a small id set across the session's cores before an expensive
    * per-row media kernel (synthesis + real decode): the documents table is
    * ONE small parquet file, so the opaque mapPartitions kernel otherwise
    * inherits the scan's 1-2 input splits and runs on 2 of the master's
    * cores (measured: q_audio_neardup spent 3.8 of its 5.0 s in a 2-task
    * job). Round-robin repartition is deterministic (sort-before-
    * repartition) and every kernel here is a pure function of the id, so
    * results are partitioning-independent. Parallelism follows the
    * master's core count — never a tuned constant.
    */
  private def spreadIds(s: SparkSession,
      ds: org.apache.spark.sql.Dataset[Long]): org.apache.spark.sql.Dataset[Long] =
    ds.repartition(s.sparkContext.defaultParallelism)

  /** Run INDEPENDENT setup actions (appends/deletes on different tables)
    * concurrently: Spark's FIFO scheduler lets the next job's tasks
    * backfill executors freed by the current job's straggler tail instead
    * of serializing whole commits (optimization guide §2.6). Only used
    * where the actions touch DISJOINT tables — same-table sequences keep
    * their program order (merge-on-read delete attachment is
    * commit-order-sensitive).
    */
  private def inParallel(fs: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
    try fs.map(f => pool.submit(new java.lang.Runnable {
      override def run(): Unit = f()
    })).foreach(_.get())
    finally pool.shutdown()
  }

  /** All (idA < idB) pairs of `__id`s sharing a `__key` — one shuffle +
    * inline combination expansion (never a self-join, which would recompute
    * the upstream pipeline once per side).
    */
  private def groupPairs(keyed: DataFrame): DataFrame =
    keyed.groupBy("__key")
      .agg(array_sort(collect_list("__id")).as("__ids"))
      .filter(size(col("__ids")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("__ids")) - 1),
        i => transform(slice(col("__ids"), i + 1, size(col("__ids"))),
          x => struct(element_at(col("__ids"), i).as("idA"), x.as("idB")))))).as("__p"))
      .select(col("__p.idA"), col("__p.idB"))

  /** Write `df` as a single parquet file at `destDir/name` (test scaffolding
    * for the file-CDC scenario).
    */
  private def writeOneFile(df: DataFrame, destDir: String, name: String): Unit = {
    val stage = tmp("stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = scala.util.Using.resource(Files.list(Paths.get(stage)))(
      _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
    Files.createDirectories(Paths.get(destDir))
    Files.copy(part, Paths.get(destDir, name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Flagship query (SURVEY §7.2): lineitem → normalize → filter → Icebox
    * append → re-read → groupBy-sum, on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sf = "/root/testdata/sf0.001"
    val table = Icebox(tmp("entry"))
    val src = Normalize.prepare(t(spark, sf, "lineitem")).filter(col("l_quantity") > 10)
    table.append(src)
    table.read(spark)
      .groupBy("l_suppkey")
      .agg(round(sum("l_extendedprice"), 2).as("total_amount"),
        round(sum("l_quantity"), 2).as("total_quantity"))
  }

  // ------------------------------------------------------------- the queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1/P2: scan + projection + predicate pushdown
    "q_scan_filter_project" -> ((s, dir) =>
      FileSource.table(dir, "lineitem").select(s,
        columns = Seq("l_orderkey", "l_quantity", "l_extendedprice"),
        where = Some("l_quantity > 30 AND l_discount < 0.05"))),

    // S4/A3: scalar count
    "q_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // U1/U2: union-all of two scans
    "q_union_all" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click")
        .unionByName(ev.filter(col("event_type") === "error"))
    }),

    // P7: partition-value (IN-list) filtering
    "q_in_filter" -> ((s, dir) =>
      FileSource(Seq(s"$dir/orders.parquet"),
        partitionColumn = Some("o_orderstatus"),
        partitionValues = Seq("O", "F")).load(s)),

    // P8/P9: normalize — lowercase names + NaN→null
    "q_normalize" -> ((s, dir) => {
      val upper = t(s, dir, "lineitem").toDF(
        t(s, dir, "lineitem").columns.map(_.toUpperCase).toIndexedSeq: _*)
      val withNan = upper.withColumn("NAN_COL",
        when(col("L_QUANTITY") < 25, lit(Double.NaN)).otherwise(col("L_DISCOUNT")))
      Normalize.prepare(withNan)
    }),

    // P10/F2: string→timestamp round-trip with explicit format
    "q_cast_timestamp" -> ((s, dir) => {
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      t(s, dir, "events").select(col("event_id"),
        to_timestamp(date_format(col("ts"), fmt), fmt).cast("timestamp_ntz").as("ts_rt"))
    }),

    // A1/A2: the reference's flagship groupBy-sum (example_function_usage.py:78-87)
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(round(sum("l_extendedprice"), 2).as("total_amount"),
          round(sum("l_quantity"), 2).as("total_quantity"))),

    // A1 multi-agg: count / sum / avg in one pass
    "q_agg_multi" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          round(sum("value"), 2).as("total_value"),
          round(avg("value"), 4).as("avg_value"))),

    // sort + limit (top-k)
    "q_topk" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(sum("l_extendedprice").as("__rev"))
        .orderBy(col("__rev").desc, col("l_suppkey"))
        .limit(10)
        .select(col("l_suppkey"), round(col("__rev"), 2).as("revenue"))),

    // window function: latest order per customer
    "q_window_latest" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }),

    // F3-F5 + event-time bucketing: hourly tumbling aggregation
    "q_window_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))),

    // broadcast join: orders × customer → revenue per segment
    "q_join_broadcast" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("order_cnt"))),

    // multi-way join: lineitem × supplier × nation
    "q_join_multi" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("l_extendedprice"), 2).as("revenue"))),

    // F1/F3/F4/F5: scalar string/date/epoch functions
    "q_scalar_funcs" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_u"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od_str"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("od_epoch_ms"),
        (col("o_orderdate") - expr("INTERVAL 7 DAYS")).cast("timestamp_ntz").as("od_minus7"))),

    // W1/W3/S10: Icebox append ×2 then read
    "q_icebox_append" -> ((s, dir) => {
      val table = Icebox(tmp("qa"))
      val o = t(s, dir, "orders")
      table.append(o.filter(col("o_orderkey") % 2 === 0))
      table.append(o.filter(col("o_orderkey") % 2 =!= 0))
      table.read(s)
    }),

    // W2: overwrite replaces previous content
    "q_icebox_overwrite" -> ((s, dir) => {
      val table = Icebox(tmp("qo"))
      val o = t(s, dir, "orders")
      table.append(o.filter(col("o_orderstatus") === "O"))
      table.overwrite(o)
      table.read(s)
    }),

    // P6/C3/M3/M4: snapshot time travel
    "q_icebox_timetravel" -> ((s, dir) => {
      val table = Icebox(tmp("qt"))
      val o = t(s, dir, "orders")
      val s0 = table.append(o.filter(col("o_orderstatus") === "O"))
      table.append(o.filter(col("o_orderstatus") =!= "O"))
      table.readSnapshotId(s, s0.id)
    }),

    // C1/C3 at file granularity: incremental manifest-diff scan
    "q_icebox_incremental" -> ((s, dir) => {
      val table = Icebox(tmp("qi"))
      val o = t(s, dir, "orders")
      val s0 = table.append(o.filter(col("o_orderstatus") === "O"))
      table.append(o.filter(col("o_orderstatus") =!= "O"))
      table.changesSince(s, s0.id)
    }),

    // S9: multi-file ORC scan round-trip (the reference's native input format)
    "q_orc_scan" -> ((s, dir) => {
      val base = tmp("qorc")
      val ev = t(s, dir, "events")
      ev.filter(col("event_id") % 2 === 0).write.mode("overwrite").orc(s"$base/a")
      ev.filter(col("event_id") % 2 =!= 0).write.mode("overwrite").orc(s"$base/b")
      FileSource(Seq(s"$base/a", s"$base/b"), format = "orc").load(s)
    }),

    // S9+: CSV and JSON-lines file sources with DECLARED schemas (no
    // inference pass) — integer/string columns round-trip text formats
    // exactly, so the DuckDB oracle hash-matches the re-read
    // S1-S5 LIVE: the JDBC path against a real embedded database (Derby,
    // in-JVM, ships with Spark's jars) — a lineitem slice round-trips
    // through a PARTITIONED JDBC range scan (the distributed form of the
    // reference's serial chunked extract) with the quantity predicate
    // pushed down to the database
    "q_jdbc_scan" -> ((s, dir) => {
      val url = "jdbc:derby:memory:graft" +
        java.util.UUID.randomUUID().toString.take(8) + ";create=true"
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice")
        .write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "lineitem").save()
      graft.sources.JdbcSource(url, table = "lineitem",
        partitionColumn = Some("l_orderkey"), lowerBound = Some(1L),
        upperBound = Some(2000L), numPartitions = 4).load(s)
        .filter(col("l_quantity") > 45.0)
    }),

    "q_csv_scan" -> ((s, dir) => {
      val base = tmp("qcsv")
      val ev = t(s, dir, "events").select("event_id", "user_id", "event_type")
      ev.filter(col("event_id") % 2 === 0).write.mode("overwrite")
        .option("header", "true").csv(s"$base/a")
      ev.filter(col("event_id") % 2 =!= 0).write.mode("overwrite")
        .option("header", "true").csv(s"$base/b")
      FileSource(Seq(s"$base/a", s"$base/b"), format = "csv",
        options = Map("header" -> "true"), schema = Some(ev.schema)).load(s)
    }),
    "q_json_scan" -> ((s, dir) => {
      val base = tmp("qjson")
      val ev = t(s, dir, "events").select("event_id", "user_id", "event_type")
      ev.write.mode("overwrite").json(base)
      FileSource.json(base, ev.schema).load(s)
    }),

    // file skipping: stats-pruned read after sort-clustered compaction
    "q_icebox_stats_skip" -> ((s, dir) => {
      val table = Icebox(tmp("qss"))
      val o = t(s, dir, "orders")
      (0 until 4).foreach(i => table.append(o.filter(col("o_orderkey") % 4 === i)))
      table.compactSorted(s, Seq("o_totalprice"), numFiles = Some(8))
      val total = table.currentSnapshot.get.files.size
      val pruned = table.prunedFilesByStats("o_totalprice", None, Some(5000.0))
      require(total > 1 && pruned.size < total,
        s"stats skipping had no effect: $total files, ${pruned.size} after prune")
      table.readWhereStats(s, "o_totalprice", None, Some(5000.0))
        .filter(col("o_totalprice") <= 5000.0)
    }),

    // Manifest-level bloom index: planning-time file pruning for a point
    // lookup on a high-cardinality UNSORTED key — commits interleave key
    // residues and hash-scatter rows, so every file's [min,max] spans the
    // domain and min/max stats are useless; only the per-file bloom side
    // files (manifest.bloom.columns) can tell the files apart.
    "q_bloom_prune" -> ((s, dir) => {
      val table = Icebox(tmp("qbp"))
      table.setProperties(Map(
        "manifest.bloom.columns" -> "o_orderkey", "manifest.bloom.fpp" -> "0.001"))
      val o = t(s, dir, "orders")
      (0 until 4).foreach(i =>
        table.append(o.filter(col("o_orderkey") % 4 === i).repartition(4)))
      val snap = table.currentSnapshot.get
      val total = snap.files.size
      val probe = o.agg(min("o_orderkey")).head.getLong(0)
      val idx = new graft.plans.IceboxFileIndex(s, table, snap.files, snap.schemaJson,
        Some(snap.id), org.apache.spark.sql.types.StructType(Nil))
      val kept = idx.listFiles(Nil, Seq(
        org.apache.spark.sql.catalyst.expressions.EqualTo(
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "o_orderkey", org.apache.spark.sql.types.LongType)(),
          org.apache.spark.sql.catalyst.expressions.Literal(probe))))
        .map(_.files.length).sum
      require(total >= 8 && kept < total,
        s"bloom pruning had no effect: $total files, $kept after probe")
      table.readIndexed(s).filter(col("o_orderkey") === probe)
    }),

    // SQL-text MERGE INTO (parsed by Spark's parser, executed copy-on-write
    // as one atomic Icebox commit): conditional DELETE + UPDATE + INSERT *
    "q_merge_into" -> ((s, dir) => {
      val table = Icebox(tmp("qmi"))
      val o = t(s, dir, "orders")
      table.overwrite(o)
      graft.sql.MergeSql.register("qmi_target", table)
      o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        // NOT MATCHED branch: inserted keys must clear the target key
        // domain at ANY data scale (sf1 keys reach ~6M; +1e6 collided)
        .unionByName(o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
        .createOrReplaceTempView("qmi_source")
      graft.sql.MergeSql.merge(s,
        """MERGE INTO qmi_target t USING qmi_source s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      table.read(s)
    }),

    // MERGE INTO in merge-on-read mode: the same statement as q_merge_into,
    // but the commit is ONE equality-delete file + the matched images /
    // inserts — the requires prove zero pre-existing data files were
    // removed or rewritten (write cost O(batch), not O(table))
    "q_merge_mor" -> ((s, dir) => {
      val table = Icebox(tmp("qmm"))
      val o = t(s, dir, "orders")
      table.overwrite(o)
      table.setProperties(Map("write.merge.mode" -> "merge-on-read"))
      graft.sql.MergeSql.register("qmm_target", table)
      o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        // NOT MATCHED branch: inserted keys must clear the target key
        // domain at ANY data scale (sf1 keys reach ~6M; +1e6 collided)
        .unionByName(o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
        .createOrReplaceTempView("qmm_source")
      val beforePaths = table.currentSnapshot.get.files.map(_.path).toSet
      val snap = graft.sql.MergeSql.merge(s,
        """MERGE INTO qmm_target t USING qmm_source s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(snap.operation == "merge-mor", s"expected merge-mor, got ${snap.operation}")
      require(beforePaths.subsetOf(table.currentSnapshot.get.files.map(_.path).toSet),
        "merge-on-read MERGE removed pre-existing data files")
      table.read(s)
    }),

    // SQL time travel (VERSION AS OF / TIMESTAMP AS OF through DmlSql.run):
    // the pinned earlier state re-reads exactly; the requires prove the
    // timestamp spelling and the FOR SYSTEM_VERSION alias agree with it
    "q_timetravel_sql" -> ((s, dir) => {
      val table = Icebox(tmp("qtts"))
      val o = t(s, dir, "orders")
      val s0 = table.append(o.filter(col("o_orderstatus") === "O"))
      Thread.sleep(5)
      val afterFirst = System.currentTimeMillis()
      Thread.sleep(5)
      table.append(o.filter(col("o_orderstatus") =!= "O"))
      table.registerView(s, "qtts_t")
      val pinned = graft.sql.DmlSql.run(s, s"SELECT * FROM qtts_t VERSION AS OF ${s0.id}")
      val n = pinned.count()
      require(graft.sql.DmlSql.run(s,
        s"SELECT * FROM qtts_t TIMESTAMP AS OF $afterFirst").count() == n,
        "TIMESTAMP AS OF disagrees with VERSION AS OF")
      require(graft.sql.DmlSql.run(s,
        s"SELECT * FROM qtts_t FOR SYSTEM_VERSION AS OF ${s0.id}").count() == n,
        "FOR SYSTEM_VERSION AS OF disagrees with VERSION AS OF")
      pinned
    }),

    // SQL-text INSERT INTO ... SELECT: appended through the same atomic
    // snapshot commit as the programmatic faces
    "q_insert_sql" -> ((s, dir) => {
      val table = Icebox(tmp("qis"))
      val o = t(s, dir, "orders")
      table.append(o.filter(col("o_orderkey") % 2 === 0))
      table.registerView(s, "qis_target")
      o.filter(col("o_orderkey") % 2 =!= 0).createOrReplaceTempView("qis_src")
      graft.sql.DmlSql.insert(s, "INSERT INTO qis_target SELECT * FROM qis_src")
      table.read(s)
    }),

    // SQL-text CTAS: partitioned table materialized from a query, read back
    // through the registered view (planner-indexed)
    "q_ctas_sql" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("qctas_src")
      graft.sql.DmlSql.createTable(s,
        """CREATE OR REPLACE TABLE qctas_orders PARTITIONED BY (o_orderstatus)
          |AS SELECT * FROM qctas_src WHERE o_totalprice > 100000""".stripMargin,
        tmp("qctas"))
      s.sql("SELECT * FROM qctas_orders")
    }),

    // SQL-text materialized view: CREATE ... AS SELECT parses through
    // Spark's parser and full-builds; a source append then REFRESH must
    // take the INCREMENTAL delta path (asserted via the returned op) and
    // land exactly on the full-recompute answer
    "q_mv_sql" -> ((s, dir) => {
      graft.sql.DmlSql.setWarehouse(tmp("qmvsql_wh"))
      val src = Icebox(tmp("qmvsql_src"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"))
      src.append(o.filter(col("o_orderkey") % 3 =!= 0))
      src.registerView(s, "qmvsql_orders")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmv_status AS
          |SELECT o_orderstatus, count(*), sum(o_totalprice), avg(o_totalprice)
          |FROM qmvsql_orders GROUP BY o_orderstatus""".stripMargin)
      src.append(o.filter(col("o_orderkey") % 3 === 0))
      val op = graft.sql.DmlSql.run(s, "REFRESH MATERIALIZED VIEW qmv_status")
        .head.getString(0)
      require(op == "refresh-mv:Incremental", s"expected incremental refresh, got $op")
      // present DECIMAL sums/avgs as rounded doubles (the q1_agg output
      // pattern) so the driver's pandas-side hash sees identical dtypes
      s.sql("SELECT * FROM qmv_status").select(col("o_orderstatus"), col("row_count"),
        round(col("sum_o_totalprice").cast("double"), 2).as("sum_o_totalprice"),
        col("nn_o_totalprice"),
        round(col("avg_o_totalprice").cast("double"), 4).as("avg_o_totalprice"))
    }),

    // Row-level change diff (CDF audit): an UPDATE's effect reads back as
    // its delete+insert pairs; only files differing between the snapshots
    // are read (carried-over files cancel out of the multiset diff)
    "q_change_diff" -> ((s, dir) => {
      val table = Icebox(tmp("qcd"))
      table.append(t(s, dir, "orders").repartitionByRange(8, col("o_totalprice")),
        collectStats = Seq("o_totalprice"))
      table.registerView(s, "qcd_t")
      graft.sql.DmlSql.update(s,
        "UPDATE qcd_t SET o_totalprice = o_totalprice * 2 WHERE o_totalprice < 10000")
      table.changeDiff(s, 0L, 1L)
    }),

    // The same row-level change feed through SQL TEXT (Delta's CDF
    // spelling): `table_changes('t', from[, to])` becomes a pinned view
    // over the manifest-pruned diff and composes with any SELECT
    "q_table_changes" -> ((s, dir) => {
      val table = Icebox(tmp("qtc"))
      table.append(t(s, dir, "orders").repartitionByRange(8, col("o_totalprice")),
        collectStats = Seq("o_totalprice"))
      table.registerView(s, "qtc_t")
      graft.sql.DmlSql.update(s,
        "UPDATE qtc_t SET o_totalprice = o_totalprice * 2 WHERE o_totalprice < 10000")
      graft.sql.DmlSql.run(s, "SELECT * FROM table_changes('qtc_t', 0, 1)")
    }),

    // Incrementally maintained materialized aggregate: build the view,
    // mutate the source (append + merge-on-read delete), then refresh in
    // O(delta) — the refresh must be INCREMENTAL (asserted), commit
    // merge-on-read (build files survive, asserted), and land exactly on
    // the full-recompute answer the oracle computes over the final state.
    "q_mv_refresh" -> ((s, dir) => {
      val src = Icebox(tmp("qmv_src"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("decimal(12,2)").as("l_quantity"))
      src.append(li.filter(col("l_orderkey") % 2 === 0))
      val mv = Icebox(tmp("qmv_tgt"))
      val m0 = graft.operators.MaterializedView.refresh(s, src, mv, "mv",
        Seq("l_returnflag"), Seq("l_quantity"))
      require(m0 == graft.operators.MaterializedView.FullBuild, s"expected FullBuild, got $m0")
      val buildFiles = mv.currentSnapshot.get.files.map(_.path).toSet
      src.append(li.filter(col("l_orderkey") % 2 === 1))
      src.deleteByKeys(li.filter(col("l_orderkey") % 10 === 3)
        .select("l_orderkey").distinct())
      val m1 = graft.operators.MaterializedView.refresh(s, src, mv, "mv",
        Seq("l_returnflag"), Seq("l_quantity"))
      require(m1 == graft.operators.MaterializedView.Incremental,
        s"expected Incremental, got $m1")
      val filesNow = mv.currentSnapshot.get.files.map(_.path).toSet
      require((buildFiles intersect filesNow).nonEmpty,
        "merge-on-read refresh must keep the build's data files")
      mv.read(s).select(col("l_returnflag"), col("row_count"),
        round(col("sum_l_quantity").cast("double"), 2).as("sum_l_quantity"),
        col("nn_l_quantity"))
    }),

    // WHERE-filtered materialized view: the predicate filters each change
    // diff before delta aggregation (sound because a row VERSION's
    // predicate value is immutable — updates arrive as delete+insert),
    // so appends AND key-deletes maintain the filtered aggregate in
    // O(delta); the refresh must be INCREMENTAL (asserted)
    "q_mv_where" -> ((s, dir) => {
      graft.sql.DmlSql.setWarehouse(tmp("qmvw_wh"))
      val src = Icebox(tmp("qmvw_src"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"))
      src.append(o.filter(col("o_orderkey") % 3 =!= 0))
      src.registerView(s, "qmvw_orders")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvw AS
          |SELECT o_orderpriority, count(*), sum(o_totalprice)
          |FROM qmvw_orders WHERE o_orderstatus = 'F'
          |GROUP BY o_orderpriority""".stripMargin)
      src.append(o.filter(col("o_orderkey") % 3 === 0))
      src.deleteByKeys(o.filter(col("o_orderkey") % 10 === 7)
        .select("o_orderkey").distinct())
      val op = graft.sql.DmlSql.run(s, "REFRESH MATERIALIZED VIEW qmvw")
        .head.getString(0)
      require(op == "refresh-mv:Incremental", s"expected incremental refresh, got $op")
      s.sql("SELECT * FROM qmvw").select(col("o_orderpriority"), col("row_count"),
        round(col("sum_o_totalprice").cast("double"), 2).as("sum_o_totalprice"),
        col("nn_o_totalprice"))
    }),

    // MIN/MAX materialized-view columns via BOUNDED TOUCHED-GROUP
    // RECOMPUTE: a key-delete may remove a group's extremum, so each
    // refresh re-aggregates min/max for only the touched groups, reading
    // only the stats/bloom-pruned source files that might hold those
    // keys — O(touched groups' files), not O(source). Refresh must still
    // be INCREMENTAL (asserted); sums ride the usual delta arithmetic.
    "q_mv_minmax" -> ((s, dir) => {
      val src = Icebox(tmp("qmvmm_src"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("decimal(12,2)").as("l_quantity"),
          col("l_extendedprice").cast("decimal(12,2)").as("l_extendedprice"))
      src.append(li.filter(col("l_orderkey") % 2 === 0))
      val mv = Icebox(tmp("qmvmm_tgt"))
      val m0 = graft.operators.MaterializedView.refresh(s, src, mv, "mm",
        Seq("l_returnflag"), Seq("l_quantity"), None, Seq("l_extendedprice"))
      require(m0 == graft.operators.MaterializedView.FullBuild, s"expected FullBuild, got $m0")
      src.append(li.filter(col("l_orderkey") % 2 === 1))
      src.deleteByKeys(li.filter(col("l_orderkey") % 10 === 3)
        .select("l_orderkey").distinct())
      val m1 = graft.operators.MaterializedView.refresh(s, src, mv, "mm",
        Seq("l_returnflag"), Seq("l_quantity"), None, Seq("l_extendedprice"))
      require(m1 == graft.operators.MaterializedView.Incremental,
        s"expected Incremental, got $m1")
      mv.read(s).select(col("l_returnflag"), col("row_count"),
        round(col("sum_l_quantity").cast("double"), 2).as("sum_l_quantity"),
        col("nn_l_quantity"),
        round(col("min_l_extendedprice").cast("double"), 2).as("min_l_extendedprice"),
        round(col("max_l_extendedprice").cast("double"), 2).as("max_l_extendedprice"))
    }),

    // Streaming ingest with an ATTACHED materialized view: three staged
    // files -> three micro-batches (maxFilesPerTrigger=1), each source
    // commit followed in the SAME batch turn by an O(delta) view refresh
    // riding the exactly-once cursor — end-to-end fresh aggregates with
    // no scheduler between ingest and view (3 refresh commits asserted).
    // Output is the view after the stream drains: must equal the full
    // recompute the oracle runs over everything ingested.
    "q_mv_stream" -> ((s, dir) => {
      import java.nio.file.{Files => JFiles, Paths}
      val srcDir = tmp("qmvs_files")
      val table = Icebox(tmp("qmvs_tbl"))
      val mv = Icebox(tmp("qmvs_mv"))
      mv.setProperties(graft.operators.MvDefinition.write("qmvs#0",
        graft.operators.MvDefinition("", table.tableDir, Nil, Seq("o_orderstatus"),
          Seq("o_totalprice"))))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"))
      (0 until 3).foreach { i =>
        val stage = tmp(s"qmvs_stage$i")
        o.filter(col("o_orderkey") % 3 === i).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = scala.util.Using.resource(JFiles.list(Paths.get(stage)))(
          _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
        JFiles.copy(part, Paths.get(srcDir, s"f$i.parquet"))
      }
      val q = graft.streaming.Streaming.fileIngest(s, srcDir, o.schema, table,
        tmp("qmvs_ckpt"), maxFilesPerTrigger = Some(1), refreshViews = Seq(mv))
      q.awaitTermination(180000)
      val refreshes = mv.allSnapshots.count(_.operation.startsWith("mv-refresh:qmvs#0:"))
      require(refreshes == 3, s"expected 3 in-loop view refreshes, got $refreshes")
      mv.read(s).select(col("o_orderstatus"), col("row_count"),
        round(col("sum_o_totalprice").cast("double"), 2).as("sum_o_totalprice"),
        col("nn_o_totalprice"))
    }),

    // Materialized view over an INNER EQUI-JOIN (fact orders ⋈ dim
    // customer, grouped by the dim's segment — a star with one dim),
    // maintained through changes on BOTH sides via the bilinear delta
    // rule Δ(A⋈B) = ΔA⋈B₂ + A₁⋈ΔB:
    // each refresh joins the fact diff against the dim at its new
    // snapshot plus the fact at its old (cursor) snapshot against the
    // dim diff — both non-delta sides stats/bloom-PRUNED to the files
    // admitting the diff's join keys — and must land exactly on the
    // oracle's full recompute over the final joined state. The refresh
    // must be INCREMENTAL (asserted): appended facts, deleted facts, and
    // deleted dim rows (whole customers dropping out with their orders)
    // all flow through one delta refresh.
    "q_mv_join" -> ((s, dir) => {
      graft.sql.DmlSql.setWarehouse(tmp("qmvj_wh"))
      val fact = Icebox(tmp("qmvj_orders"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"))
      val dim = Icebox(tmp("qmvj_customer"))
      inParallel( // disjoint tables (§2.6)
        () => fact.append(o.filter(col("o_orderkey") % 3 =!= 0)),
        () => dim.append(t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))))
      fact.registerView(s, "qmvj_orders")
      dim.registerView(s, "qmvj_customer")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvj AS
          |SELECT c_mktsegment, count(*), sum(o_totalprice)
          |FROM qmvj_orders JOIN qmvj_customer
          |  ON qmvj_orders.o_custkey = qmvj_customer.c_custkey
          |GROUP BY c_mktsegment""".stripMargin)
      inParallel( // fact sequence keeps its order; dim delete is disjoint (§2.6)
        () => {
          fact.append(o.filter(col("o_orderkey") % 3 === 0))
          fact.deleteByKeys(o.filter(col("o_orderkey") % 7 === 2)
            .select("o_orderkey").distinct())
        },
        () => dim.deleteByKeys(t(s, dir, "customer")
          .filter(col("c_custkey") % 10 === 6).select("c_custkey").distinct()))
      val op = graft.sql.DmlSql.run(s, "REFRESH MATERIALIZED VIEW qmvj")
        .head.getString(0)
      require(op == "refresh-mv:Incremental", s"expected incremental refresh, got $op")
      s.sql("SELECT * FROM qmvj").select(col("c_mktsegment"), col("row_count"),
        round(col("sum_o_totalprice").cast("double"), 2).as("sum_o_totalprice"),
        col("nn_o_totalprice"))
    }),

    // STAR-SCHEMA materialized view (fact ⋈ 2 dims) maintained by the
    // TELESCOPED bilinear delta rule: each term swaps one source for its
    // change diff, reading sources before it at NEW snapshots and after
    // it at OLD — every non-delta read key-pruned to the files the deltas
    // touch. Appends on the fact plus key-deletes on BOTH dims flow
    // through ONE incremental refresh (asserted) and must land exactly on
    // the oracle's full recompute of the final joined state.
    "q_mv_star" -> ((s, dir) => {
      val fact = Icebox(tmp("qmvs_li"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice").cast("decimal(12,2)").as("l_extendedprice"))
      val dOrders = Icebox(tmp("qmvs_ord"))
      val dSupp = Icebox(tmp("qmvs_sup"))
      inParallel( // three disjoint tables (§2.6)
        () => fact.append(li.filter(col("l_orderkey") % 2 === 0)),
        () => dOrders.append(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))),
        () => dSupp.append(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))))
      val dims = Seq(
        graft.operators.MaterializedView.StarDim(dOrders, Seq("l_orderkey" -> "o_orderkey")),
        graft.operators.MaterializedView.StarDim(dSupp, Seq("l_suppkey" -> "s_suppkey")))
      val mv = Icebox(tmp("qmvs_tgt"))
      def refresh() = graft.operators.MaterializedView.refreshStar(
        s, fact, dims, mv, "qstar", Seq("o_orderstatus", "s_nationkey"),
        Seq("l_extendedprice"))
      refresh()
      inParallel( // three disjoint tables (§2.6)
        () => fact.append(li.filter(col("l_orderkey") % 2 === 1)),
        () => dOrders.deleteByKeys(t(s, dir, "orders")
          .filter(col("o_orderkey") % 7 === 2).select("o_orderkey").distinct()),
        () => dSupp.deleteByKeys(t(s, dir, "supplier")
          .filter(col("s_suppkey") % 10 === 6).select("s_suppkey").distinct()))
      val mode = refresh()
      require(mode == graft.operators.MaterializedView.Incremental,
        s"expected incremental star refresh, got $mode")
      mv.read(s).select(col("o_orderstatus"), col("s_nationkey"), col("row_count"),
        round(col("sum_l_extendedprice").cast("double"), 2).as("sum_l_extendedprice"),
        col("nn_l_extendedprice"))
    }),

    // SNOWFLAKE-chain materialized view (dim-of-dim joins — the TPC-H
    // lineitem→orders→customer→nation shape): the telescoped delta rule
    // is join-shape agnostic, so chains maintain with the same algebra;
    // a ΔDʲ term's fact pruning maps the delta's keys UP the chain level
    // by level. Exercised through the DDL surface with appends on the
    // fact plus a MID-CHAIN (customer) key-delete, refreshed in ONE
    // incremental pass (asserted).
    "q_mv_snowflake" -> ((s, dir) => {
      graft.sql.DmlSql.setWarehouse(tmp("qmvsn_wh"))
      val fact = Icebox(tmp("qmvsn_li"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      val dOrd = Icebox(tmp("qmvsn_ord"))
      val dCust = Icebox(tmp("qmvsn_cust"))
      val dNat = Icebox(tmp("qmvsn_nat"))
      inParallel( // four disjoint tables (§2.6)
        () => fact.append(li.filter(col("l_orderkey") % 2 === 0)),
        () => dOrd.append(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))),
        () => dCust.append(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))),
        () => dNat.append(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))))
      graft.sql.MergeSql.register("qmvsn_li", fact)
      graft.sql.MergeSql.register("qmvsn_ord", dOrd)
      graft.sql.MergeSql.register("qmvsn_cust", dCust)
      graft.sql.MergeSql.register("qmvsn_nat", dNat)
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvsn AS
          |SELECT n_name, count(*), sum(l_quantity) FROM qmvsn_li
          |JOIN qmvsn_ord ON qmvsn_li.l_orderkey = qmvsn_ord.o_orderkey
          |JOIN qmvsn_cust ON qmvsn_ord.o_custkey = qmvsn_cust.c_custkey
          |JOIN qmvsn_nat ON qmvsn_cust.c_nationkey = qmvsn_nat.n_nationkey
          |GROUP BY n_name""".stripMargin)
      inParallel( // disjoint tables (§2.6); mid-chain delete: dropping
        // customers drops their orders' lineitems
        () => fact.append(li.filter(col("l_orderkey") % 2 === 1)),
        () => dCust.deleteByKeys(t(s, dir, "customer")
          .filter(col("c_custkey") % 7 === 3).select("c_custkey").distinct()))
      val op = graft.sql.DmlSql.run(s, "REFRESH MATERIALIZED VIEW qmvsn")
        .head.getString(0)
      require(op == "refresh-mv:Incremental", s"expected incremental refresh, got $op")
      s.sql("SELECT * FROM qmvsn").select(col("n_name"), col("row_count"),
        round(col("sum_l_quantity").cast("double"), 2).as("sum_qty"),
        col("nn_l_quantity").as("nn_qty"))
    }),

    // COUNT(DISTINCT c) materialized-view column via BOUNDED TOUCHED-
    // GROUP RECOMPUTE (the MIN/MAX machinery generalized): a key-delete
    // may remove a group's last carrier of a value, which delta
    // arithmetic cannot express — so each refresh re-counts distincts
    // for only the touched groups, reading only the stats/bloom-pruned
    // source files that might hold those keys. Refresh must be
    // INCREMENTAL (asserted); counts and sums ride the usual delta path.
    "q_mv_distinct" -> ((s, dir) => {
      graft.sql.DmlSql.setWarehouse(tmp("qmvd_wh"))
      val src = Icebox(tmp("qmvd_src"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_suppkey"))
      src.append(li.filter(col("l_orderkey") % 2 === 0))
      src.registerView(s, "qmvd_lineitem")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvd AS
          |SELECT l_returnflag, count(*), count(DISTINCT l_suppkey)
          |FROM qmvd_lineitem GROUP BY l_returnflag""".stripMargin)
      src.append(li.filter(col("l_orderkey") % 2 === 1))
      src.deleteByKeys(li.filter(col("l_orderkey") % 10 === 3)
        .select("l_orderkey").distinct())
      val op = graft.sql.DmlSql.run(s, "REFRESH MATERIALIZED VIEW qmvd")
        .head.getString(0)
      require(op == "refresh-mv:Incremental", s"expected incremental refresh, got $op")
      s.sql("SELECT * FROM qmvd").select(col("l_returnflag"), col("row_count"),
        col("nd_l_suppkey"))
    }),

    // Transparent AGGREGATE REWRITE: a GROUP BY query over the base
    // table is answered from a registered materialized view by ROLLUP —
    // the query's single key is a subset of the view's two, so counts/
    // sums re-sum and AVG re-derives as Σsum/Σnn from the view's k rows
    // instead of scanning the source. Freshness is load-bearing and
    // asserted both ways: after the source advances past the view's
    // cursor the rewrite REFUSES (None — a stale view is never silently
    // served), and after REFRESH it engages again naming the view. The
    // rewritten result must equal the oracle's direct aggregate.
    "q_mv_rewrite" -> ((s, dir) => {
      val wh = tmp("qmvrw_wh")
      graft.sql.DmlSql.setWarehouse(wh)
      val src = Icebox(tmp("qmvrw_src"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_linestatus"),
          col("l_quantity").cast("decimal(12,2)").as("l_quantity"))
      src.append(li.filter(col("l_orderkey") % 2 === 0))
      src.registerView(s, "qmvrw_lineitem")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvrw AS
          |SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity)
          |FROM qmvrw_lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)
      val rollup =
        """SELECT l_returnflag, count(*), sum(l_quantity), avg(l_quantity)
          |FROM qmvrw_lineitem GROUP BY l_returnflag""".stripMargin
      // source advances -> the view is STALE -> rewrite must refuse
      src.append(li.filter(col("l_orderkey") % 2 === 1))
      require(graft.sql.MvSql.answer(s, rollup, wh).isEmpty,
        "stale view must not serve the rewrite")
      graft.sql.DmlSql.run(s, "REFRESH MATERIALIZED VIEW qmvrw")
      val (served, df) = graft.sql.MvSql.answer(s, rollup, wh)
        .getOrElse(sys.error("fresh subsuming view must serve the rewrite"))
      require(served == "qmvrw", s"expected view qmvrw to serve, got $served")
      df.select(col("l_returnflag"), col("row_count"),
        round(col("sum_l_quantity").cast("double"), 2).as("sum_l_quantity"),
        col("nn_l_quantity"),
        round(col("avg_l_quantity").cast("double"), 4).as("avg_l_quantity"))
    }),

    // CATALYST-LEVEL materialized-view rewrite: the SAME `spark.sql`
    // text — no API, no hint — is answered from the view because the
    // optimizer rule (MvRewriteRule via spark.experimental) recognizes a
    // fresh subsuming view over the scanned table+snapshot and swaps the
    // full-table aggregate for a k-row view read with the original
    // output schema (names, types, exprIds) intact. Engagement is
    // PROVEN: every input file of the served plan lives under the view
    // warehouse's _mv directory (asserted), and the values must equal
    // the oracle's direct aggregate. The result is collected before the
    // rule is uninstalled, keeping the rewrite scoped to this query.
    "q_mv_catalyst" -> ((s, dir) => {
      val wh = tmp("qmvcat_wh")
      graft.sql.DmlSql.setWarehouse(wh)
      val src = Icebox(tmp("qmvcat_src"))
      // integer-valued doubles (quantities): float-exact at any grouping,
      // so the rewrite/oracle comparison is bit-deterministic
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        // decimal column: exercises the rewrite's decimal-AVG rollup (the
        // rolled-up sum casts back to SUM's result type so the division
        // scale — and the HALF_UP rounding — matches Spark's Average)
        col("l_quantity").cast("decimal(12,2)").as("l_qdec"))
      src.append(li)
      src.registerView(s, "qmvcat_lineitem")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvcat AS
          |SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_qdec)
          |FROM qmvcat_lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)
      graft.sql.MvRewrite.install(s)
      try {
        val served = s.sql(
          """SELECT l_returnflag, count(*) AS row_count,
            |       sum(l_quantity) AS sum_l_quantity,
            |       avg(l_quantity) AS avg_l_quantity,
            |       avg(l_qdec) AS avg_l_qdec
            |FROM qmvcat_lineitem GROUP BY l_returnflag""".stripMargin)
        require(served.inputFiles.nonEmpty && served.inputFiles.forall(_.contains("/_mv/")),
          s"optimizer rewrite must serve from the view, scanned: " +
            served.inputFiles.take(3).mkString(","))
        val out = served.select(col("l_returnflag"), col("row_count"),
          round(col("sum_l_quantity").cast("double"), 2).as("sum_l_quantity"),
          round(col("avg_l_quantity").cast("double"), 4).as("avg_l_quantity"),
          // decimal avg × 10^6 is integral at the result scale (6) — an
          // EXACT integer the oracle reproduces with integer arithmetic,
          // no float-boundary rounding risk
          (col("avg_l_qdec") * lit(1000000)).cast("bigint").as("avg_qdec_micro"))
        // materialize while the rule is active, then restore the session
        val rows = out.collect().toSeq
        s.createDataFrame(rows.asJava, out.schema) // LocalRelation: no job, no 32-task noop write
      } finally graft.sql.MvRewrite.uninstall(s)
    }),

    // Catalyst rewrite over a JOIN materialized view: an unchanged
    // fact⋈dim GROUP BY in spark.sql text is served from the join view
    // by the same star rule that serves 3+-table stars (a two-table join
    // is a star with one dim) — the rule certifies BOTH scans as
    // pinned-snapshot Icebox reads, matches the leaves to the view's fact
    // and dim by table dir and the equi-join condition to its join pairs,
    // absorbs the optimizer's pushed-down isnotnull(joinkey) filters,
    // rolls the key-subset grouping up, and gates on the 2-part cursor
    // sitting at both heads. Proven the same way: every scanned file
    // under _mv.
    "q_mv_join_catalyst" -> ((s, dir) => {
      import s.implicits._
      val wh = tmp("qmvjc_wh")
      graft.sql.DmlSql.setWarehouse(wh)
      val fact = Icebox(tmp("qmvjc_f"))
      val dim = Icebox(tmp("qmvjc_d"))
      inParallel( // disjoint tables (§2.6)
        () => fact.append(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))),
        () => dim.append(t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))))
      fact.registerView(s, "qmvjc_orders")
      dim.registerView(s, "qmvjc_customer")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvjc AS
          |SELECT c_mktsegment, o_orderpriority, count(*)
          |FROM qmvjc_orders JOIN qmvjc_customer
          |  ON qmvjc_orders.o_custkey = qmvjc_customer.c_custkey
          |GROUP BY c_mktsegment, o_orderpriority""".stripMargin)
      graft.sql.MvRewrite.install(s)
      try {
        val served = s.sql(
          """SELECT c_mktsegment, count(*) AS order_count
            |FROM qmvjc_orders JOIN qmvjc_customer ON o_custkey = c_custkey
            |GROUP BY c_mktsegment""".stripMargin)
        require(served.inputFiles.nonEmpty && served.inputFiles.forall(_.contains("/_mv/")),
          s"join rewrite must serve from the view, scanned: " +
            served.inputFiles.take(3).mkString(","))
        val rows = served.collect().toSeq
        s.createDataFrame(rows.asJava, served.schema) // LocalRelation: no job, no 32-task noop write
      } finally graft.sql.MvRewrite.uninstall(s)
    }),

    // Catalyst rewrite over a SNOWFLAKE materialized view: the TPC-H
    // lineitem -> orders -> customer -> nation chain in plain spark.sql
    // text is served from a dim-of-dim view — the rule orients every join
    // conjunct along the view's recorded parent graph (mv.star.parents:
    // each dim hangs off the fact OR an earlier dim), certifies all four
    // scans as pinned-snapshot Icebox reads, rolls the key-subset
    // grouping up, and gates on the 4-part cursor at every source's
    // head. Proven the same way as the join/star flavors: every scanned
    // file under _mv.
    "q_mv_snowflake_catalyst" -> ((s, dir) => {
      val wh = tmp("qmvsc_wh")
      graft.sql.DmlSql.setWarehouse(wh)
      val fact = Icebox(tmp("qmvsc_li"))
      val dOrd = Icebox(tmp("qmvsc_ord"))
      val dCust = Icebox(tmp("qmvsc_cust"))
      val dNat = Icebox(tmp("qmvsc_nat"))
      inParallel( // four disjoint tables (§2.6)
        () => fact.append(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
        () => dOrd.append(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))),
        () => dCust.append(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))),
        () => dNat.append(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))))
      fact.registerView(s, "qmvsc_li")
      dOrd.registerView(s, "qmvsc_ord")
      dCust.registerView(s, "qmvsc_cust")
      dNat.registerView(s, "qmvsc_nat")
      graft.sql.DmlSql.run(s,
        """CREATE MATERIALIZED VIEW qmvsc AS
          |SELECT n_name, c_nationkey, count(*), sum(l_quantity) FROM qmvsc_li
          |JOIN qmvsc_ord ON qmvsc_li.l_orderkey = qmvsc_ord.o_orderkey
          |JOIN qmvsc_cust ON qmvsc_ord.o_custkey = qmvsc_cust.c_custkey
          |JOIN qmvsc_nat ON qmvsc_cust.c_nationkey = qmvsc_nat.n_nationkey
          |GROUP BY n_name, c_nationkey""".stripMargin)
      graft.sql.MvRewrite.install(s)
      try {
        // key-subset query: the rule must ROLL UP the chain view's rows
        val served = s.sql(
          """SELECT n_name, count(*) AS row_count, sum(l_quantity) AS sum_qty
            |FROM qmvsc_li
            |JOIN qmvsc_ord ON l_orderkey = o_orderkey
            |JOIN qmvsc_cust ON o_custkey = c_custkey
            |JOIN qmvsc_nat ON c_nationkey = n_nationkey
            |GROUP BY n_name""".stripMargin)
        require(served.inputFiles.nonEmpty && served.inputFiles.forall(_.contains("/_mv/")),
          s"snowflake rewrite must serve from the view, scanned: " +
            served.inputFiles.take(3).mkString(","))
        val out = served.select(col("n_name"), col("row_count"),
          round(col("sum_qty").cast("double"), 2).as("sum_qty"))
        val rows = out.collect().toSeq
        s.createDataFrame(rows.asJava, out.schema) // LocalRelation: no job, no 32-task noop write
      } finally graft.sql.MvRewrite.uninstall(s)
    }),

    // Time-series RESAMPLE + GAP FILL: irregular per-user events densify
    // to a fixed daily grid — per-(user,day) aggregates, missing days
    // materialized with row_count=0, and a forward-filled value carrying
    // the last observation across gaps. One map-side-combined shuffle
    // over the events; the grid explode and fill window touch only
    // bucket rows (output-sized, independent of event volume). min/max
    // are order-deterministic (double-safe for the hash compare).
    "q_resample" -> ((s, dir) => {
      val out = graft.operators.Resample.resample(
        t(s, dir, "events"), "ts", "user_id", "value", "day")
      out.select(col("user_id"), col("bucket_ts"), col("row_count"),
        round(col("min_value"), 4).as("min_value"),
        round(col("max_value"), 4).as("max_value"),
        round(col("filled_value"), 4).as("filled_value"))
    }),

    // Metadata-only COUNT(*): manifests record per-file footer row counts
    // at write time, so the count never touches data
    "q_count_meta" -> ((s, dir) => {
      val table = Icebox(tmp("qcm"))
      val li = t(s, dir, "lineitem")
      table.append(li.filter(col("l_orderkey") % 2 === 0))
      table.append(li.filter(col("l_orderkey") % 2 =!= 0))
      val n = table.rowCount.getOrElse(sys.error("manifest row count missing"))
      s.createDataset(Seq(n))(org.apache.spark.sql.Encoders.scalaLong).toDF("cnt")
    }),

    // Metadata-only MIN/MAX: per-file manifest stats fold to the table
    // extrema with zero data I/O (the rowCount analog; refuses — and the
    // query would fail loudly — if any file lacked stats or carried
    // pending deletes that could hide an extremum)
    "q_minmax_meta" -> ((s, dir) => {
      val table = Icebox(tmp("qmm"))
      val li = t(s, dir, "lineitem")
      val statsCols = Seq("l_quantity", "l_extendedprice")
      table.append(li.filter(col("l_orderkey") % 2 === 0), collectStats = statsCols)
      table.append(li.filter(col("l_orderkey") % 2 =!= 0), collectStats = statsCols)
      val (qLo, qHi) = table.columnMinMaxMeta("l_quantity")
        .getOrElse(sys.error("manifest stats missing for l_quantity"))
      val (pLo, pHi) = table.columnMinMaxMeta("l_extendedprice")
        .getOrElse(sys.error("manifest stats missing for l_extendedprice"))
      import s.implicits._
      Seq((qLo, qHi, pLo, pHi)).toDF("min_qty", "max_qty", "min_price", "max_price")
        .select(round(col("min_qty"), 2).as("min_qty"), round(col("max_qty"), 2).as("max_qty"),
          round(col("min_price"), 2).as("min_price"), round(col("max_price"), 2).as("max_price"))
    }),

    // Manifest NDV index: ANALYZE TABLE builds per-file HyperLogLog
    // sketches as content-addressed side files (one parquet pass, executor-
    // built, O(new files) on later commits — sticky like stats); approx
    // COUNT(DISTINCT) is then answered from metadata with ZERO data I/O.
    // The requires prove each metadata estimate lands within the sketch's
    // error budget; the checked output is the exact distinct counts so the
    // oracle hash-matches.
    "q_ndv_meta" -> ((s, dir) => {
      val table = Icebox(tmp("qndv"))
      val li = t(s, dir, "lineitem")
      table.append(li.filter(col("l_orderkey") % 2 === 0))
      table.append(li.filter(col("l_orderkey") % 2 =!= 0))
      graft.sql.MergeSql.register("qndv_t", table)
      graft.sql.DmlSql.run(s,
        "ANALYZE TABLE qndv_t COMPUTE STATISTICS FOR COLUMNS l_orderkey, l_suppkey, l_returnflag")
      val exact = table.read(s).agg(
        countDistinct(col("l_orderkey")).as("nd_orderkey"),
        countDistinct(col("l_suppkey")).as("nd_suppkey"),
        countDistinct(col("l_returnflag")).as("nd_returnflag"))
      val r0 = exact.head()
      def check(c: String, exactV: Long): Unit = {
        val est = table.approxCountDistinctMeta(c)
          .getOrElse(sys.error(s"NDV index can't answer $c"))
        require(math.abs(est - exactV).toDouble <= math.max(0.05 * exactV, 2.0),
          s"NDV estimate for $c out of budget: est=$est exact=$exactV")
      }
      check("l_orderkey", r0.getLong(0))
      check("l_suppkey", r0.getLong(1))
      check("l_returnflag", r0.getLong(2))
      exact
    }),

    // Equi-width histogram stats: bucket bounds FIXED from the manifest's
    // min/max make the counts exact integers (not an approximation), so
    // the oracle replicates them bit-for-bit; the persisted histogram is
    // snapshot-keyed — served from metadata, never silently stale
    "q_histogram" -> ((s, dir) => {
      val table = Icebox(tmp("qhist"))
      val li = t(s, dir, "lineitem")
        .select(col("l_extendedprice").cast("double").as("price"))
      table.append(li, collectStats = Seq("price"))
      table.analyzeHistogram(s, "price", buckets = 16)
      val (_, _, cnts) = table.histogramMeta("price")
        .getOrElse(sys.error("no current histogram"))
      require(cnts.sum == table.rowCount.getOrElse(-1L),
        s"histogram covers ${cnts.sum} of ${table.rowCount} rows")
      import s.implicits._
      cnts.zipWithIndex.map { case (c, b) => (b.toLong, c) }.toDF("bucket", "cnt")
    }),

    // Metadata-only DISCRETE PERCENTILES: the equi-width histogram doubles
    // as an exact FREQUENCY TABLE when the column is integral and the
    // bucket width is <= 1 (l_linenumber: 1..7 over 32 buckets), so
    // p-tiles are served EXACTLY from table properties — zero data I/O
    // beyond the one ANALYZE scan (Icebox.percentileMeta; the refusal
    // contract — non-integral type, width > 1, stale snapshot, count
    // mismatch — is PercentileMetaSpec-covered). Oracle: DuckDB
    // quantile_disc over the raw rows.
    "q_percentile_meta" -> ((s, dir) => {
      val table = Icebox(tmp("qpct"))
      table.append(t(s, dir, "lineitem").select(col("l_linenumber")),
        collectStats = Seq("l_linenumber"))
      table.analyzeHistogram(s, "l_linenumber", buckets = 32)
      val ps = Seq(0.25, 0.5, 0.9, 0.99)
      val vals = table.percentileMeta("l_linenumber", ps)
        .getOrElse(sys.error("exact-readable histogram must serve percentiles"))
      import s.implicits._
      ps.zip(vals).toDF("p", "value")
    }),

    // Schema evolution: an append may ADD columns — files written before
    // the column existed read back as typed nulls (the manifest's schema is
    // per-snapshot; the reader nullable-normalizes, Iceberg's add-column)
    "q_schema_evolution" -> ((s, dir) => {
      val table = Icebox(tmp("qse"))
      val o = t(s, dir, "orders")
      table.append(o.filter(col("o_orderkey") % 2 === 0))
      table.append(o.filter(col("o_orderkey") % 2 =!= 0)
        .withColumn("o_channel",
          concat(lit("web-"), pmod(col("o_custkey"), lit(3)).cast("string"))))
      table.read(s)
    }),

    // SQL-text DELETE: file-pruned copy-on-write — range layout + id stats
    // mean only the files whose [min,max] admit the predicate are rewritten;
    // the require proves untouched files carried over by reference
    "q_delete_sql" -> ((s, dir) => {
      val table = Icebox(tmp("qds"))
      val li = t(s, dir, "lineitem")
      table.append(li.repartitionByRange(8, col("l_orderkey")),
        collectStats = Seq("l_orderkey"))
      table.registerView(s, "qds_target")
      val hi = li.agg(max("l_orderkey")).head().getLong(0)
      val r = graft.sql.DmlSql.delete(s,
        s"DELETE FROM qds_target WHERE l_orderkey > ${hi / 2}")
      require(r.keptFiles > 0,
        s"DELETE pruned nothing: ${r.rewrittenFiles} rewritten, ${r.keptFiles} kept")
      table.read(s)
    }),

    // SQL-text UPDATE: same pruned copy-on-write; assigned values cast back
    // to the column type so the schema is stable under repeated UPDATEs
    "q_update_sql" -> ((s, dir) => {
      val table = Icebox(tmp("qus"))
      val o = t(s, dir, "orders")
      table.append(o.repartitionByRange(8, col("o_totalprice")),
        collectStats = Seq("o_totalprice"))
      table.registerView(s, "qus_target")
      val r = graft.sql.DmlSql.update(s,
        "UPDATE qus_target SET o_totalprice = o_totalprice * 1.1, " +
          "o_orderpriority = '0-REPRICED' WHERE o_totalprice < 10000")
      require(r.keptFiles > 0,
        s"UPDATE pruned nothing: ${r.rewrittenFiles} rewritten, ${r.keptFiles} kept")
      table.read(s)
    }),

    // SQL-text DELETE with an IN-subquery predicate: the subquery runs
    // through the full analyzer against registered views; file pruning
    // still happens on the subquery-FREE conjunct (l_orderkey > hi/2) —
    // the require proves it. Iceberg-SQL parity for subquery DML.
    "q_delete_subquery" -> ((s, dir) => {
      val table = Icebox(tmp("qdsq"))
      val li = t(s, dir, "lineitem")
      table.append(li.repartitionByRange(8, col("l_orderkey")),
        collectStats = Seq("l_orderkey"))
      table.registerView(s, "qdsq_target")
      t(s, dir, "orders").createOrReplaceTempView("qdsq_orders")
      val hi = li.agg(max("l_orderkey")).head().getLong(0)
      val r = graft.sql.DmlSql.delete(s,
        s"DELETE FROM qdsq_target WHERE l_orderkey > ${hi / 2} AND l_orderkey IN " +
          "(SELECT o_orderkey FROM qdsq_orders WHERE o_orderpriority = '1-URGENT')")
      require(r.keptFiles > 0,
        s"subquery DELETE pruned nothing: ${r.rewrittenFiles} rewritten, ${r.keptFiles} kept")
      table.read(s)
    }),

    // SQL-text UPDATE with a correlated EXISTS predicate (correlates to the
    // target alias); the subquery-free range conjunct still prunes files
    "q_update_subquery" -> ((s, dir) => {
      val table = Icebox(tmp("qusq"))
      val o = t(s, dir, "orders")
      table.append(o.repartitionByRange(8, col("o_orderkey")),
        collectStats = Seq("o_orderkey"))
      table.registerView(s, "qusq_target")
      t(s, dir, "customer").createOrReplaceTempView("qusq_cust")
      val hi = o.agg(max("o_orderkey")).head().getLong(0)
      val r = graft.sql.DmlSql.update(s,
        s"UPDATE qusq_target t SET o_orderpriority = '9-VIP' WHERE o_orderkey > ${hi / 2} " +
          "AND EXISTS (SELECT 1 FROM qusq_cust c WHERE c.c_custkey = t.o_custkey " +
          "AND c.c_mktsegment = 'BUILDING')")
      require(r.keptFiles > 0,
        s"subquery UPDATE pruned nothing: ${r.rewrittenFiles} rewritten, ${r.keptFiles} kept")
      table.read(s)
    }),

    // HIDDEN bucket partitioning (beyond parity — Iceberg bucket(n, col)):
    // the derived id_bucket dir never enters the schema; an equality
    // predicate on the SOURCE column prunes to one bucket's files via the
    // manifest index (the require proves it), and the exact filter on top
    // keeps results identical to the oracle
    "q_icebox_bucket_prune" -> ((s, dir) => {
      val table = Icebox(tmp("qbp"))
      val o = t(s, dir, "orders")
      table.appendTransformed(o.repartition(8), "bucket(16, o_custkey)")
      val snap = table.currentSnapshot.get
      val idx = new graft.plans.IceboxFileIndex(s, table, snap.files, snap.schemaJson,
        Some(snap.id), new org.apache.spark.sql.types.StructType())
      val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "o_custkey", org.apache.spark.sql.types.LongType)()
      val kept = idx.listFiles(Nil, Seq(
        org.apache.spark.sql.catalyst.expressions.EqualTo(attr,
          org.apache.spark.sql.catalyst.expressions.Literal(7L,
            org.apache.spark.sql.types.LongType)))).map(_.files.size).sum
      require(snap.files.size > 1 && kept < snap.files.size,
        s"bucket pruning had no effect: ${snap.files.size} files, $kept kept")
      table.readIndexed(s).filter(col("o_custkey") === 7L)
    }),

    // SHUFFLE-FREE co-bucketed join: both tables bucket(16) on the join
    // key, data files carry Spark's bucket-id file-name stamp, and the
    // manifest read declares a V1 BucketSpec — so the fact⋈dim join plans
    // with ZERO exchanges (proved by the require, AQE off for a
    // deterministic plan). At 100 TB this is the join shuffle eliminated
    // entirely; only the final small re-aggregation by segment shuffles.
    "q_bucket_join" -> ((s, dir) => {
      val ot = Icebox(tmp("qbj_o"))
      val ct = Icebox(tmp("qbj_c"))
      inParallel( // two disjoint tables (§2.6)
        () => ot.appendTransformed(t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice").repartition(8),
          "bucket(16, o_custkey)"),
        () => ct.appendTransformed(t(s, dir, "customer")
          .select("c_custkey", "c_mktsegment").repartition(4),
          "bucket(16, c_custkey)"))
      val prev = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val j = ot.readIndexed(s).join(ct.readIndexed(s).hint("shuffle_merge"),
          col("o_custkey") === col("c_custkey"))
        val nshuf = j.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
        require(nshuf == 0, s"expected a shuffle-free co-bucketed join, got $nshuf exchanges")
      } finally s.conf.set("spark.sql.adaptive.enabled", prev)
      ot.readIndexed(s).join(ct.readIndexed(s), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("order_count"),
          round(sum("o_totalprice"), 2).as("revenue"))
    }),

    // RUNTIME BLOOM-JOIN FILE PRUNING (DPP for non-partition keys): the
    // fact (lineitem) is hash-scattered into 64 files so every file's
    // [min,max] on l_orderkey spans nearly the whole domain — min/max
    // pruning provably keeps everything (require #1) — and the dim side's
    // join keys (customer 7's ~10 orders) exist only at runtime. The
    // manifest per-file bloom index prunes the fact read to the files that
    // might hold those keys (require #2: ≤80% of files scanned; expected
    // ~55%). At 100 TB: the arrival-ordered fact reads O(files holding the
    // probe keys), not O(table), with no clustering requirement.
    "q_bloom_join" -> ((s, dir) => {
      val fact = Icebox(tmp("qbfj"))
      fact.setProperties(Map(
        "manifest.bloom.columns" -> "l_orderkey", "manifest.bloom.fpp" -> "0.001"))
      fact.append(t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount").repartition(64))
      // the dim key set is PINNED (10 lowest orderkeys of customer 7):
      // runtime bloom pruning targets bounded-key probe workloads —
      // when |keys| grows WITH the corpus over a random layout, every
      // file holds some key and no skipping index can prune
      // (information-theoretic, not implementation); the bounded set is
      // the shape that must keep pruning at every SF
      val dim = t(s, dir, "orders").filter(col("o_custkey") === 7L)
        .orderBy(col("o_orderkey")).limit(10)
        .select("o_orderkey", "o_custkey")
      val pruned = graft.operators.RuntimeFilterJoin.prunedFactRead(s, fact, dim,
        Seq("l_orderkey" -> "o_orderkey"))
      val files = fact.currentSnapshot.get.files
      val bounds = dim.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
      val (klo, khi) = (bounds.getLong(0), bounds.getLong(1))
      val rangeDisjoint = files.count(_.stats.get("l_orderkey").exists {
        case (mn, mx) => mx.toLong < klo || mn.toLong > khi })
      require(files.size >= 32 && rangeDisjoint == 0,
        s"setup must defeat min/max pruning: ${files.size} files, $rangeDisjoint range-disjoint")
      val scanned = pruned.inputFiles.length
      require(scanned < (files.size * 8) / 10,
        s"bloom file pruning too weak: $scanned of ${files.size} files scanned")
      pruned.join(dim, pruned("l_orderkey") === dim("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("line_count"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
    }),

    // COST-BASED OPTIMIZER fed by the manifest stats bridge, proven inside
    // the oracle gate: a 3-table TPC-H-shaped join where a range filter
    // keeps ~0.2% of orders. With the stats rule on, CBO's min/max
    // selectivity estimates the filtered side at a few hundred rows →
    // BroadcastHashJoin; with the rule off, the byte heuristic sees the
    // full column-pruned file size (over the threshold) → refuses the
    // broadcast. Both plans are built in-query and the flip is require'd;
    // the returned result runs the stats-driven plan and must exact-hash
    // against DuckDB. At 100 TB this decision — broadcast the post-filter
    // dim instead of shuffling the fact — is hours vs minutes.
    "q_cbo_join" -> ((s, dir) => {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      val lt = Icebox(tmp("qcbo_l")); val ot = Icebox(tmp("qcbo_o"))
      val ct = Icebox(tmp("qcbo_c"))
      inParallel( // three disjoint tables (§2.6)
        () => lt.append(t(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_quantity").repartition(4),
          collectStats = Seq("l_orderkey")),
        () => ot.append(t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice").repartition(2),
          collectStats = Seq("o_orderkey", "o_custkey", "o_totalprice")),
        () => ct.append(t(s, dir, "customer")
          .select("c_custkey", "c_mktsegment").repartition(2),
          collectStats = Seq("c_custkey")))
      val cbo = GraftSession.cboSession(s)
      // NDV sketches: FilterEstimation wants distinctCount alongside
      // min/max before it estimates range selectivity
      inParallel( // sketch passes on disjoint tables (§2.6)
        () => lt.analyze(cbo, Seq("l_orderkey")),
        () => ot.analyze(cbo, Seq("o_orderkey", "o_custkey", "o_totalprice")),
        () => ct.analyze(cbo, Seq("c_custkey")))
      def q(sess: SparkSession) =
        lt.read(sess)
          .join(ot.read(sess).filter(col("o_totalprice") <= 2000.0),
            col("l_orderkey") === col("o_orderkey"))
          .join(ct.read(sess), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            round(sum("l_extendedprice"), 2).as("revenue"))
      // does any BroadcastHashJoin BUILD the filtered orders side?
      def ordersBroadcast(df: DataFrame): Boolean =
        df.queryExecution.executedPlan.collect {
          case b: BroadcastHashJoinExec =>
            (b.buildSide match {
              case BuildLeft => b.left
              case BuildRight => b.right
            }).collect {
              case sc: FileSourceScanExec
                  if sc.relation.location.isInstanceOf[graft.plans.IceboxFileIndex] &&
                    sc.relation.location.asInstanceOf[graft.plans.IceboxFileIndex]
                      .tableDirString == ot.tableDir => sc
            }.nonEmpty
        }.exists(identity)
      val prevActive = SparkSession.getActiveSession
      SparkSession.setActiveSession(cbo) // stats visitors read the thread-local conf
      try {
        val oldT = cbo.conf.get("spark.sql.autoBroadcastJoinThreshold")
        // SCALE-INVARIANT threshold: anything strictly between the CBO
        // estimate (~0.2% of orders post-filter) and the byte heuristic's
        // full-relation size demonstrates the flip; a fixed constant works
        // only at one SF (a 64 KiB cap stopped flipping at sf1 where 0.2%
        // of 1.5M rows estimates past it). full/16 admits any filter
        // under ~6% selectivity while the unfiltered relation still
        // refuses, at every scale.
        val fullBytes = ot.read(s).queryExecution.optimizedPlan.stats.sizeInBytes
        cbo.conf.set("spark.sql.autoBroadcastJoinThreshold", (fullBytes / 16).toString)
        try {
          graft.plans.IceboxStats.invalidate()
          val statsOn = q(cbo)
          require(ordersBroadcast(statsOn),
            "CBO stats must broadcast the filtered orders side (estimate ~0.2% of rows)")
          cbo.conf.set("spark.graft.stats.enabled", "false")
          try require(!ordersBroadcast(q(cbo)),
            "byte heuristic must refuse the orders broadcast (file exceeds threshold)")
          finally cbo.conf.set("spark.graft.stats.enabled", "true")
          statsOn
        } finally cbo.conf.set("spark.sql.autoBroadcastJoinThreshold", oldT)
      } finally {
        prevActive match {
          case Some(p) => SparkSession.setActiveSession(p)
          case None => SparkSession.clearActiveSession()
        }
      }
    }),

    // COST-BASED JOIN ORDER on the TPC-H Q3/Q10 shape: written as
    // (lineitem JOIN orders) JOIN filtered-customer — the expensive order,
    // whose inner join is fact-sized. With manifest stats + NDV bridged
    // into Catalyst, CostBasedJoinReorder flips to
    // (orders JOIN filtered-customer) JOIN lineitem: the selective dim
    // filter (~2% of customers) shrinks orders BEFORE the fact join, so
    // the big join's probe side is 2% of orders instead of 100% of
    // lineitem rows surviving to the second join. Both optimized plans
    // are inspected in-query and the innermost-join pair is require'd;
    // the returned result runs the reordered plan and must exact-hash
    // against DuckDB. At 100 TB this decision is hours vs minutes —
    // join order, not join strategy (q_cbo_join covers that flip).
    "q_cbo_order" -> ((s, dir) => {
      import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val lt = Icebox(tmp("qcboo_l")); val ot = Icebox(tmp("qcboo_o"))
      val ct = Icebox(tmp("qcboo_c"))
      inParallel( // three disjoint tables (§2.6)
        () => lt.append(t(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount").repartition(4),
          collectStats = Seq("l_orderkey")),
        () => ot.append(t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderpriority").repartition(2),
          collectStats = Seq("o_orderkey", "o_custkey")),
        () => ct.append(t(s, dir, "customer")
          .select("c_custkey", "c_mktsegment").repartition(2),
          collectStats = Seq("c_custkey")))
      val cbo = GraftSession.cboSession(s)
      // NDV on every join key: JoinEstimation sizes equi-joins from
      // distinct counts, and CostBasedJoinReorder only moves items whose
      // estimates it trusts; c_custkey min/max feeds the range filter
      inParallel( // sketch passes on disjoint tables (§2.6)
        () => lt.analyze(cbo, Seq("l_orderkey")),
        () => ot.analyze(cbo, Seq("o_orderkey", "o_custkey")),
        () => ct.analyze(cbo, Seq("c_custkey")))
      def q(sess: SparkSession) =
        lt.read(sess)
          .join(ot.read(sess), col("l_orderkey") === col("o_orderkey"))
          .join(ct.read(sess).filter(col("c_custkey") <= 30L),
            col("o_custkey") === col("c_custkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("revenue"))
      // table dirs under the INNERMOST join (both children join-free)
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
      val prevActive = SparkSession.getActiveSession
      SparkSession.setActiveSession(cbo)
      try {
        graft.plans.IceboxStats.invalidate()
        val reordered = q(cbo)
        require(firstJoinDirs(reordered.queryExecution.optimizedPlan) ==
          Set(ot.tableDir, ct.tableDir),
          "CBO must pair orders with the filtered customer dim first")
        // the control session (no CBO) keeps the written expensive order
        SparkSession.setActiveSession(s)
        val plainFirst = try firstJoinDirs(q(s).queryExecution.optimizedPlan)
        finally SparkSession.setActiveSession(cbo)
        require(plainFirst == Set(lt.tableDir, ot.tableDir),
          "without CBO the written (lineitem x orders)-first order must hold")
        reordered
      } finally {
        prevActive match {
          case Some(p) => SparkSession.setActiveSession(p)
          case None => SparkSession.clearActiveSession()
        }
      }
    }),

    // DYNAMIC PARTITION PRUNING through the manifest index: the dim-side
    // filter's surviving keys prune the fact scan's partitions AT RUNTIME
    // (Spark plants a DynamicPruningExpression on the scan — the require
    // proves it's there; IceboxFileIndex.listFiles then drops every
    // partition the dim filter didn't name). At 100 TB: the fact table
    // reads O(selected partitions), not O(table), with zero caller hints.
    "q_dpp_join" -> ((s, dir) => {
      import s.implicits._
      val fact = Icebox(tmp("qdpp_f"))
      fact.append(t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .repartition(4), partitionBy = Seq("o_orderstatus"))
      val dimT = Icebox(tmp("qdpp_d"))
      dimT.append(Seq(("F", "archive"), ("O", "live"), ("P", "live"))
        .toDF("status", "tier"))
      def q = fact.readIndexed(s)
        .join(broadcast(dimT.readIndexed(s)), col("o_orderstatus") === col("status"))
        .filter(col("tier") === "archive")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
      val prev = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val planted = q.queryExecution.executedPlan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec
              if sc.relation.partitionSchema.nonEmpty =>
            sc.partitionFilters.exists(_.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
        }
        require(planted.contains(true),
          "expected a runtime partition-pruning subquery on the fact scan")
      } finally s.conf.set("spark.sql.adaptive.enabled", prev)
      q
    }),

    // HIDDEN days(ts) partitioning over the event stream (30 calendar days
    // — the natural grain for a log table; orders' 2400 distinct days would
    // be dir-explosion misuse): a time-range predicate prunes whole days
    "q_icebox_days_prune" -> ((s, dir) => {
      val table = Icebox(tmp("qdp"))
      val ev = t(s, dir, "events")
      table.appendTransformed(ev.repartition(4), "days(ts)")
      val snap = table.currentSnapshot.get
      val idx = new graft.plans.IceboxFileIndex(s, table, snap.files, snap.schemaJson,
        Some(snap.id), new org.apache.spark.sql.types.StructType())
      val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "ts", org.apache.spark.sql.types.TimestampNTZType)()
      val kept = idx.listFiles(Nil, Seq(
        org.apache.spark.sql.catalyst.expressions.LessThan(attr,
          org.apache.spark.sql.catalyst.expressions.Literal(
            java.time.LocalDateTime.of(2024, 1, 10, 0, 0))))).map(_.files.size).sum
      require(snap.files.size > 1 && kept < snap.files.size,
        s"days pruning had no effect: ${snap.files.size} files, $kept kept")
      table.readIndexed(s).filter(col("ts") < "2024-01-10")
    }),

    // M3/M4 snapshot listing under an exact oracle: three appends with known
    // row splits → snapshotsDf (id, operation) joined to per-snapshot
    // manifest row totals must equal DuckDB's cumulative counts. Exercises
    // the manifest parent-chain walk + per-file row counts end-to-end; the
    // require pins listing-vs-manifest file_count consistency.
    "q_snapshots_meta" -> ((s, dir) => {
      val table = Icebox(tmp("qsm"))
      val o = t(s, dir, "orders")
      (0 to 2).foreach(i => table.append(o.filter(col("o_orderkey") % 3 === i)))
      val snaps = table.allSnapshots.sortBy(_.id)
      require(snaps.map(_.fileCount) == snaps.map(_.files.size.toLong),
        "snapshot listing file_count disagrees with manifest file set")
      val totals = s.createDataset(snaps.map(x => (x.id, x.files.map(_.rows).sum)))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
        .toDF("snapshot_id", "row_total")
      table.snapshotsDf(s).select("snapshot_id", "operation")
        .join(totals, Seq("snapshot_id"))
    }),

    // Merge-on-read DELETE (Iceberg v2 position deletes): a sparse delete
    // writes ONE tiny (file_path, pos) delete file instead of rewriting
    // 512 MB data files — the requires prove zero data files were touched;
    // readers anti-join the positions away
    "q_delete_mor" -> ((s, dir) => {
      val table = Icebox(tmp("qdm"))
      val li = t(s, dir, "lineitem")
      table.append(li.repartitionByRange(8, col("l_orderkey")),
        collectStats = Seq("l_orderkey"))
      table.setProperties(Map("write.delete.mode" -> "merge-on-read"))
      table.registerView(s, "qdm_target")
      val beforePaths = table.currentSnapshot.get.files.map(_.path).toSet
      val r = graft.sql.DmlSql.delete(s,
        "DELETE FROM qdm_target WHERE l_orderkey % 1000 = 7")
      require(r.rewrittenFiles == 0,
        s"merge-on-read DELETE rewrote ${r.rewrittenFiles} data files")
      require(table.currentSnapshot.get.files.map(_.path).toSet == beforePaths,
        "merge-on-read DELETE changed the data file set")
      table.read(s)
    }),

    // Merge-on-read UPDATE: position-delete the old rows + append the new
    // images in one atomic commit; zero data-file rewrites
    "q_update_mor" -> ((s, dir) => {
      val table = Icebox(tmp("qum"))
      val o = t(s, dir, "orders")
      table.append(o.repartitionByRange(8, col("o_orderkey")),
        collectStats = Seq("o_orderkey"))
      table.setProperties(Map("write.update.mode" -> "merge-on-read"))
      table.registerView(s, "qum_target")
      val beforePaths = table.currentSnapshot.get.files.map(_.path).toSet
      val r = graft.sql.DmlSql.update(s,
        "UPDATE qum_target SET o_orderpriority = '9-MOR' WHERE o_orderkey % 500 = 3")
      require(r.rewrittenFiles == 0,
        s"merge-on-read UPDATE rewrote ${r.rewrittenFiles} data files")
      require(beforePaths.subsetOf(table.currentSnapshot.get.files.map(_.path).toSet),
        "merge-on-read UPDATE dropped data files")
      table.read(s)
    }),

    // Partition-spec EVOLUTION: change the identity partitioning for future
    // writes; the old (unpartitioned) and new (segment-partitioned) file
    // generations coexist and read as one table with per-generation
    // pruning, and compaction migrates everything to the current spec
    "q_partition_evolve" -> ((s, dir) => {
      val table = Icebox(tmp("qpev"))
      val c = t(s, dir, "customer")
      table.append(c.filter(col("c_custkey") % 2 === 0))
      table.setPartitionSpec(Seq("c_mktsegment"))
      table.append(c.filter(col("c_custkey") % 2 === 1))
      val files = table.currentSnapshot.get.files
      require(files.map(_.partition.keys.toSet).distinct.size == 2,
        "expected two coexisting layout generations")
      require(table.prunedFiles("c_mktsegment", Set("BUILDING")).size < files.size,
        "no partition pruning on the evolved generation")
      require(table.read(s).count() == c.count(), "generations did not union")
      table.compact(s)
      val after = table.currentSnapshot.get.files
      require(after.nonEmpty && after.forall(_.partition.contains("c_mktsegment")),
        "compaction did not migrate to the evolved spec")
      table.read(s)
    }),

    // SQL maintenance verbs through the unified entry point: OPTIMIZE
    // ZORDER BY rewrites into clustered files (the require proves file-count
    // change and row preservation), VACUUM trims history — and the row
    // multiset is untouched by both
    "q_maintenance_sql" -> ((s, dir) => {
      val table = Icebox(tmp("qmnt"))
      val o = t(s, dir, "orders")
      (0 until 4).foreach(i => table.append(o.filter(col("o_orderkey") % 4 === i)))
      table.registerView(s, "qmnt_t")
      val before = table.currentSnapshot.get.files.size
      graft.sql.DmlSql.run(s, "OPTIMIZE qmnt_t ZORDER BY (o_custkey, o_totalprice)")
      require(table.currentSnapshot.get.files.size != before, "OPTIMIZE was a no-op")
      graft.sql.DmlSql.run(s, "VACUUM qmnt_t RETAIN 0 HOURS")
      require(table.allSnapshots.nonEmpty, "VACUUM destroyed the head")
      table.read(s)
    }),

    // Snapshot refs (Iceberg branches/tags): a TAG pins history while main
    // moves on; a BRANCH takes appends on a divergent lineage without
    // touching the main head (write-audit-publish). The requires prove
    // isolation in both directions; the result is the branch read.
    "q_icebox_branch" -> ((s, dir) => {
      val table = Icebox(tmp("qbr"))
      val n = t(s, dir, "nation")
      table.append(n)
      table.createTag("base")
      table.createBranch("audit")
      table.appendToBranch("audit",
        n.withColumn("n_nationkey", col("n_nationkey") + 1000))
      table.append(n.withColumn("n_nationkey", col("n_nationkey") + 5000))
      val base = n.count()
      require(table.readRef(s, "base").count() == base, "tag drifted with main")
      require(table.read(s).count() == 2 * base, "branch append leaked into main")
      require(table.readRef(s, "audit").count() == 2 * base, "main append leaked into branch")
      table.readRef(s, "audit")
    }),

    // Column-mapping schema evolution: RENAME / DROP / ADD are metadata-only
    // commits (the requires prove zero data-file churn); files keep their
    // physical column names, reads alias to the logical schema, and appends
    // AFTER the evolution land in the same physical columns — old and new
    // file generations read as one table
    "q_schema_evolve" -> ((s, dir) => {
      val table = Icebox(tmp("qevo"))
      val o = t(s, dir, "orders")
      table.append(o.repartitionByRange(4, col("o_orderkey")))
      val beforePaths = table.currentSnapshot.get.files.map(_.path).toSet
      table.registerView(s, "qevo_t")
      graft.sql.DmlSql.run(s, "ALTER TABLE qevo_t RENAME COLUMN o_totalprice TO price")
      graft.sql.DmlSql.run(s, "ALTER TABLE qevo_t DROP COLUMN o_orderpriority")
      graft.sql.DmlSql.run(s, "ALTER TABLE qevo_t ADD COLUMN flag STRING")
      require(table.currentSnapshot.get.files.map(_.path).toSet == beforePaths,
        "schema evolution touched data files (must be metadata-only)")
      val post = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumnRenamed("o_totalprice", "price")
        .drop("o_orderpriority")
        .withColumn("flag", lit("NEW"))
      table.append(post.select(table.read(s).columns.map(col).toIndexedSeq: _*))
      // stats pruning keeps working under the RENAMED logical name
      val kept = table.prunedFilesByStats("price", Some(900000.0), None)
      require(kept.size < table.currentSnapshot.get.files.size,
        "stats pruning on renamed column kept every file")
      table.read(s)
    }),

    // Merge-on-read UPSERT (Iceberg v2 EQUALITY deletes): one atomic commit
    // writes the batch's pk tuples as an equality-delete file + the batch as
    // new data files — the target is never read nor rewritten (the CDC write
    // shape copy-on-write can't reach at 100 TB). The requires prove zero
    // rewrite and that the delete attached to pre-existing files only.
    "q_upsert_mor" -> ((s, dir) => {
      val table = Icebox(tmp("qemor"))
      val c = t(s, dir, "customer")
      table.append(c.repartitionByRange(4, col("c_custkey")))
      table.setProperties(Map("write.upsert.mode" -> "merge-on-read"))
      val beforePaths = table.currentSnapshot.get.files.map(_.path).toSet
      val batch = c.filter(col("c_custkey") % 100 === 1)
        .withColumn("c_mktsegment", lit("MOR-UPD"))
        .unionByName(c.filter(col("c_custkey") % 100 === 2)
          .withColumn("c_custkey", col("c_custkey") + 10000000L))
      graft.operators.Upsert.intoTable(table, batch, Seq("c_custkey"))
      val files = table.currentSnapshot.get.files
      require(beforePaths.subsetOf(files.map(_.path).toSet),
        "merge-on-read upsert rewrote pre-existing data files")
      require(files.filter(f => beforePaths(f.path)).exists(_.eqDeletes.nonEmpty),
        "merge-on-read upsert attached no equality delete")
      require(files.filterNot(f => beforePaths(f.path)).forall(_.eqDeletes.isEmpty),
        "equality delete leaked onto the batch's own files")
      table.read(s)
    }),

    // Equality-delete by key (the "stream of deleted ids" CDC shape): remove
    // every row whose key appears in a batch WITHOUT reading or rewriting
    // any data — one tiny key file and a metadata commit
    "q_delete_bykeys" -> ((s, dir) => {
      val table = Icebox(tmp("qdbk"))
      val p = t(s, dir, "part")
      table.append(p.repartitionByRange(4, col("p_partkey")))
      val beforePaths = table.currentSnapshot.get.files.map(_.path).toSet
      table.deleteByKeys(p.filter(col("p_partkey") % 50 === 0).select("p_partkey"))
      val files = table.currentSnapshot.get.files
      require(files.map(_.path).toSet == beforePaths,
        "deleteByKeys changed the data file set")
      require(files.exists(_.eqDeletes.nonEmpty), "no equality delete attached")
      table.read(s)
    }),

    // M1 z-order compaction: with TWO clustering columns, a predicate on the
    // SECOND alone must still skip files (lexicographic clustering gives the
    // trailing column zero locality — the require proves the interleave works)
    "q_icebox_zorder" -> ((s, dir) => {
      val table = Icebox(tmp("qzo"))
      val o = t(s, dir, "orders")
      (0 until 4).foreach(i => table.append(o.filter(col("o_orderkey") % 4 === i)))
      table.compactSorted(s, Seq("o_custkey", "o_totalprice"), numFiles = Some(16))
      val total = table.currentSnapshot.get.files.size
      val pruned = table.prunedFilesByStats("o_totalprice", None, Some(5000.0))
      require(total > 1 && pruned.size < total,
        s"z-order skipping on the 2nd column had no effect: $total files, ${pruned.size} kept")
      table.readWhereStats(s, "o_totalprice", None, Some(5000.0))
        .filter(col("o_totalprice") <= 5000.0)
    }),

    // TIME-RANGE stats skipping (the most common warehouse predicate):
    // per-file min/max on a timestamp_ntz column prune in the planner —
    // the require proves a 2-year window keeps a strict subset of files
    "q_icebox_time_skip" -> ((s, dir) => {
      val table = Icebox(tmp("qtsk"))
      val o = t(s, dir, "orders")
      table.append(o.filter(col("o_orderdate") < "1997-01-01"),
        collectStats = Seq("o_orderdate"))
      table.append(o.filter(col("o_orderdate") >= "1997-01-01" && col("o_orderdate") < "1999-01-01"))
      table.append(o.filter(col("o_orderdate") >= "1999-01-01")) // sticky stats continue
      val snap = table.currentSnapshot.get
      val idx = new graft.plans.IceboxFileIndex(s, table, snap.files, snap.schemaJson,
        Some(snap.id), new org.apache.spark.sql.types.StructType())
      val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "o_orderdate", org.apache.spark.sql.types.TimestampNTZType)()
      val kept = idx.listFiles(Nil, Seq(org.apache.spark.sql.catalyst.expressions.LessThan(
        attr, org.apache.spark.sql.catalyst.expressions.Literal(
          java.time.LocalDateTime.of(1997, 1, 1, 0, 0))))).map(_.files.size).sum
      require(snap.files.size > 1 && kept < snap.files.size,
        s"time-range skipping had no effect: ${snap.files.size} files, $kept kept")
      table.readIndexed(s).filter(col("o_orderdate") < "1997-01-01")
    }),

    // M1 z-order over a (numeric, STRING) column pair: string buckets come
    // from sampled UTF8-order boundaries, and an equality predicate on the
    // string column ALONE must skip files (the require proves it), with the
    // exact read going through the planner-indexed path
    "q_icebox_zorder_str" -> ((s, dir) => {
      val table = Icebox(tmp("qzs"))
      val o = t(s, dir, "orders")
      (0 until 4).foreach(i => table.append(o.filter(col("o_orderkey") % 4 === i)))
      table.compactSorted(s, Seq("o_custkey", "o_orderpriority"), numFiles = Some(16))
      val total = table.currentSnapshot.get.files.size
      val pruned = table.prunedFilesByStatsString("o_orderpriority",
        Some("1-URGENT"), Some("1-URGENT"))
      require(total > 1 && pruned.size < total,
        s"string z-order skipping on the 2nd column had no effect: $total files, ${pruned.size} kept")
      table.readIndexed(s).filter(col("o_orderpriority") === "1-URGENT")
    }),

    // manifest-backed FileIndex read: pruning in the planner, no opt-in
    "q_icebox_indexed_read" -> ((s, dir) => {
      val table = Icebox(tmp("qir"))
      val o = t(s, dir, "orders")
      (0 until 3).foreach(i => table.append(o.filter(col("o_orderkey") % 3 === i),
        partitionBy = Seq("o_orderstatus"), collectStats = Seq("o_totalprice")))
      table.readIndexed(s)
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") <= 50000.0)
    }),

    // M5: rollback
    "q_icebox_rollback" -> ((s, dir) => {
      val table = Icebox(tmp("qr"))
      val o = t(s, dir, "orders")
      val s0 = table.append(o.filter(col("o_orderstatus") === "O"))
      table.append(o.filter(col("o_orderstatus") =!= "O"))
      table.rollbackTo(s0.id)
      table.read(s)
    }),

    // W4/P7: partitioned write + manifest-pruned partition read
    "q_icebox_partition_prune" -> ((s, dir) => {
      val table = Icebox(tmp("qp"))
      table.append(t(s, dir, "orders"), partitionBy = Seq("o_orderstatus"))
      table.readPartitions(s, "o_orderstatus", Set("F"))
    }),

    // M1: compaction preserves the row multiset
    "q_icebox_compact" -> ((s, dir) => {
      val table = Icebox(tmp("qc"))
      val l = t(s, dir, "lineitem")
      (0 until 4).foreach(i => table.append(l.filter(col("l_orderkey") % 4 === i)))
      table.compact(s)
      table.read(s)
    }),

    // J2/W6: upsert-by-primary-key (real MERGE semantics)
    "q_icebox_upsert" -> ((s, dir) => {
      val table = Icebox(tmp("qu"))
      val o = t(s, dir, "orders")
      table.append(o.filter(col("o_orderkey") % 3 =!= 0))
      val incoming = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_orderpriority", lit("UPDATED"))
      Upsert.intoTable(table, incoming, Seq("o_orderkey"))
      table.read(s)
    }),

    // W6 into a partitioned table: only the files whose stats admit a
    // batch key are rewritten
    "q_icebox_upsert_partitioned" -> ((s, dir) => {
      val table = Icebox(tmp("qup"))
      val ev = t(s, dir, "events")
      table.append(ev, partitionBy = Seq("event_type"))
      val incoming = ev.filter(col("event_type") === "click" && col("event_id") % 10 === 0)
        .withColumn("value", col("value") * 3)
      Upsert.intoTable(table, incoming, Seq("event_id"))
      table.read(s)
    }),

    // C1/P4: timestamp high-watermark CDC filter
    "q_cdc_timestamp" -> ((s, dir) => {
      val wm = Watermark("src", "events", 1705276800000L, 0L) // 2024-01-15T00:00:00Z
      Cdc.timestampIncrement(t(s, dir, "events"), "ts", Some(wm))
    }),

    // C2/P5: version (SCN) CDC filter
    "q_cdc_scn" -> ((s, dir) => {
      val wm = Watermark("src", "events", 0L, 5000L)
      Cdc.scnIncrement(t(s, dir, "events"), "event_id", Some(wm))
    }),

    // Manifest-driven change feed end-to-end (the streaming-facing table
    // read): three source commits delivered over three feed cycles through
    // a durable cursor, each batch upserted by pk into a target table —
    // full first delivery, then exact per-commit deltas (changesSince),
    // with the repricing delta replacing matched keys
    "q_change_feed" -> ((s, dir) => {
      val src = Icebox(tmp("qcf_src"))
      val tgt = Icebox(tmp("qcf_tgt"))
      val cursor = tmp("qcf_cur") + "/cursor"
      val o = t(s, dir, "orders")
      def deliver(): Seq[Long] =
        graft.streaming.Streaming.changeFeed(s, src, cursor) { (batch, _) =>
          Upsert.intoTable(tgt, batch, Seq("o_orderkey")); ()
        }
      src.overwrite(o.filter(col("o_orderstatus") === "O"))
      val d1 = deliver()                              // full first delivery
      src.append(o.filter(col("o_orderstatus") =!= "O"))
      val d2 = deliver()                              // delta: the non-O commit only
      src.append(o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      val d3 = deliver()                              // delta: repriced rows upsert over matches
      require(d1.size + d2.size + d3.size == 3, s"expected 3 feed deliveries, got $d1 $d2 $d3")
      tgt.read(s)
    }),

    // Incremental exact dedup against a growing corpus TABLE: batch 2
    // re-offers every already-ingested doc PLUS re-id'd copies of batch 1
    // (same content, new ids) — all must drop via the fingerprint
    // membership probe (bloom/stats-pruned corpus read, O(batch) not
    // O(corpus)); only genuinely new content appends (count asserted)
    // Incremental NEAR-dup dedup vs a corpus through the persisted LSH
    // band index (Dedup.nearDupInsert): batch bands probe the index's
    // bloom-pruned files, candidates verify by exact shingle Jaccard
    // against an id-pruned corpus fetch — O(batch) both sides. ORACLE
    // EXACTNESS by construction: every text is salted with its own
    // normalized-content fingerprint, so at threshold 1.0 a drop happens
    // iff shingle SETS are equal iff the fingerprints are equal — the
    // DuckDB oracle replays the same two-wave fingerprint arithmetic as
    // q_dedup_insert. The in-query require cross-checks the second
    // wave's admitted count against the fingerprint expectation, so a
    // recall loss (a lost index entry, a pruned-away file) fails loudly.
    "q_neardup_insert" -> ((s, dir) => {
      val corpus = Icebox(tmp("qndi_c")); val index = Icebox(tmp("qndi_i"))
      val fpc = graft.functions.TextFunctions.fingerprint(
        coalesce(col("text"), lit("")))
      // the fingerprint salt (regexp normalize + md5 per doc) is the
      // query's hottest scalar work — materialize the salted projection
      // ONCE and derive both waves AND the recall check from the cache
      val docs = t(s, dir, "documents")
        // input-skew spread (§2.5) BEFORE the salted projection: the
        // one-file scan gives the md5-salt kernel (and everything the
        // persist serves downstream — banding, shingle verify) 2 splits
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"), col("n_chars"),
          fpc.as("__fp"),
          concat_ws(" ", fpc, coalesce(col("text"), lit(""))).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val batch1 = docs.drop("__fp").filter(col("doc_id") % 3 =!= 0)
        // serializable=true: the oracle also covers the head-CAS +
        // covered-marker path (single-writer here, so results and cost
        // are identical — the uncovered delta is zero files per wave)
        Dedup.nearDupInsert(corpus, index, batch1, "text", "doc_id",
          threshold = 1.0, bands = 2, serializable = true)
        // wave 2: the held-out third plus a RE-OFFERED sample of corpus
        // content under fresh ids — the sample (not the full corpus) keeps
        // the bench honest about batch-sized work while still proving
        // corpus-dups drop through the index probe
        val batch2 = docs.drop("__fp").filter(col("doc_id") % 3 === 0).unionByName(
          batch1.filter(col("doc_id") % 9 === 1)
            .withColumn("doc_id", col("doc_id") + 10000))
        val n2 = Dedup.nearDupInsert(corpus, index, batch2, "text", "doc_id",
          threshold = 1.0, bands = 2, serializable = true)
        // single-pass recall check: count fingerprints whose EVERY holder
        // is %3==0 (i.e. genuinely new to wave 2)
        val expected2 = docs
          .groupBy("__fp")
          .agg(max(when(col("doc_id") % 3 =!= 0, 1).otherwise(0)).as("held_w1"))
          .filter(col("held_w1") === 0).count()
        require(n2 == expected2,
          s"expected $expected2 fresh docs in wave 2, got $n2")
        corpus.read(s).select("doc_id", "source", "n_chars")
      } finally docs.unpersist(blocking = false)
    }),

    "q_dedup_insert" -> ((s, dir) => {
      val corpus = Icebox(tmp("qdi"))
      corpus.setProperties(Map("manifest.bloom.columns" -> "fingerprint"))
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars", "text")
      val batch1 = docs.filter(col("doc_id") % 3 =!= 0)
      Dedup.dedupInsert(corpus, batch1, "text", "doc_id")
      val batch2 = docs.unionByName(
        batch1.withColumn("doc_id", col("doc_id") + 10000))
      val n2 = Dedup.dedupInsert(corpus, batch2, "text", "doc_id")
      // fresh docs = DISTINCT fingerprints batch 2 introduces (the corpus
      // holds duplicate texts by construction at larger SFs — re-offered
      // and re-id'd copies, and batch-2 docs duplicating batch-1 content,
      // must all membership-drop; counting raw %3==0 rows would be wrong)
      def fp(d: DataFrame) = d.select(graft.functions.TextFunctions
        .fingerprint(coalesce(col("text"), lit(""))).as("fp")).distinct()
      val expected2 = fp(docs.filter(col("doc_id") % 3 === 0))
        .join(fp(batch1), Seq("fp"), "left_anti").count()
      require(n2 == expected2, s"expected $expected2 fresh docs in batch 2, got $n2")
      corpus.read(s).select("doc_id", "source", "n_chars", "fingerprint")
    }),

    // Streaming dedup-on-arrival: three file waves (fresh halves, re-id'd
    // copies, a full verbatim re-offer) ingest through a micro-batch loop
    // that membership-probes the growing corpus per batch — whatever order
    // the batches land, the corpus converges to exactly one row per
    // distinct content fingerprint (the order-invariant checked output;
    // the require proves zero duplicates ever committed)
    "q_stream_dedup" -> ((s, dir) => {
      import java.nio.file.{Files => JFiles, Paths}
      val srcDir = tmp("qsd_files")
      val corpus = Icebox(tmp("qsd_corpus"))
      corpus.setProperties(Map("manifest.bloom.columns" -> "fingerprint"))
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars", "text")
      val evens = docs.filter(col("doc_id") % 2 === 0)
      val waves = Seq(
        evens,
        docs.filter(col("doc_id") % 2 =!= 0)
          .unionByName(evens.withColumn("doc_id", col("doc_id") + 100000)),
        docs)
      waves.zipWithIndex.foreach { case (w, i) =>
        val stage = tmp(s"qsd_stage$i")
        w.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = scala.util.Using.resource(JFiles.list(Paths.get(stage)))(
          _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
        JFiles.copy(part, Paths.get(srcDir, s"w$i.parquet"))
      }
      val q = graft.streaming.Streaming.dedupIngest(s, srcDir, docs.schema,
        corpus, tmp("qsd_ckpt"), "text", "doc_id", maxFilesPerTrigger = Some(1))
      q.awaitTermination(180000)
      val out = corpus.read(s).select("fingerprint")
      val rows = corpus.rowCount.getOrElse(0L)
      val distinctFps = out.distinct().count()
      require(rows == distinctFps,
        s"corpus holds $rows rows but $distinctFps distinct fingerprints")
      out
    }),

    // Deterministic token-budget corpus assembly: per source, docs admit
    // in hash order until the running total fills that source's budget
    // (greedy prefix, ≤ one-doc overshoot) — the "N tokens of web, M of
    // books" mix shape, reproducible at any partitioning; one window
    "q_token_budget" -> ((s, dir) =>
      Sampling.takeTokenBudget(t(s, dir, "documents"), "source", col("doc_id"),
        col("n_chars"), Map("src0" -> 3000L, "src1" -> 4000L),
        defaultBudget = 2000L, seed = "mix1")
        .select("doc_id", "source", "n_chars")),

    // Gopher-rule document filter (Rae et al. 2021 A1.1): per-rule audit
    // flags + their conjunction — the published web-corpus quality gate
    // as one codegen-friendly projection (no shuffle, no UDF)
    "q_gopher_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.gopherRules(col("text")).as("g"))
        .select(col("doc_id"),
          col("g.word_count").as("word_count"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.g_word_count").as("g_word_count"),
          col("g.g_mean_word_len").as("g_mean_word_len"),
          col("g.g_symbol").as("g_symbol"),
          col("g.g_bullet").as("g_bullet"),
          col("g.g_ellipsis").as("g_ellipsis"),
          col("g.g_alpha").as("g_alpha"),
          col("g.g_stop").as("g_stop"),
          col("g.keep").as("keep"))),

    // LLM: CCNet-style LM quality filter (LmScore) — a stupid-backoff
    // bigram LM is TRAINED on the doc_id%5==0 reference slice (two
    // groupBy-count aggregations, LM stays distributed), then every
    // document is scored by mean log10 bigram probability: three
    // gram-keyed equi-joins, no UDFs, no collect beyond two O(1) scalars.
    // The oracle replays training + backoff arithmetic in SQL over the
    // identical lowercase-whitespace tokenization (the BM25 contract).
    "q_lm_perplexity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = LmScore.trainBigramLm(d.filter(col("doc_id") % 5 === 0), "text")
      LmScore.perplexityScore(d, "text", "doc_id", lm)
    }),

    // LLM: the order-3 LM (recursive stupid backoff tri -> bi -> add-one
    // uni) — the step toward the production 5-gram KenLMs; five gram-keyed
    // left joins, arithmetic fully replayed by the oracle
    "q_lm_trigram" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = LmScore.trainTrigramLm(d.filter(col("doc_id") % 5 === 0), "text")
      LmScore.perplexityScoreTrigram(d, "text", "doc_id", lm)
    }),

    // LLM: the CUTOFF flavor of CCNet selection — the dominant-language
    // scale path: per-language keep-score thresholds via ONE percentile
    // aggregation + a broadcast join, no per-language total sort. exact
    // percentile here so DuckDB's quantile_cont replays the threshold;
    // the output carries the keep DECISION (comparisons are robust to
    // interpolation-formula ulp; the raw cutoff float is not).
    "q_ccnet_cutoff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = LmScore.trainBigramLm(d.filter(col("doc_id") % 5 === 0), "text")
      val withLang = d.join(
        TextFunctions.langIdByDoc(d, "text", "doc_id"), Seq("doc_id"))
      LmScore.ccnetSelectByCutoff(withLang, "text", "doc_id", "lang_pred", lm,
        keepFrac = 1.0 / 3, exact = true)
    }),

    // LLM: the PRODUCTION CCNet pipeline COMPOSED — langId buckets ->
    // bigram-LM training on the reference slice -> per-language cutoff
    // selection (the dominant-language-regime flavor) -> MinHash dedup of
    // the kept head. Every stage is individually oracle-green
    // (q_lang_id, q_lm_perplexity, q_ccnet_cutoff, q_minhash_dedup); this
    // row proves they compose: the survivors' ids, languages, gram counts
    // and 4-decimal scores must all match the oracle's full replay. No
    // collects beyond the documented plan constants (LM count frames are
    // DataFrames; cutoffs broadcast as a tiny per-language table).
    "q_ccnet_pipeline" -> ((s, dir) => {
      // NO input-skew spread here: d feeds FOUR separate consumers (LM
      // training, langId, the selection join, the kept join) and a
      // repartition would re-shuffle the scan once per consumer — measured
      // +2.4 s (r18). The kept persist below remains the stage boundary.
      val d = t(s, dir, "documents")
      val lm = LmScore.trainBigramLm(d.filter(col("doc_id") % 5 === 0), "text")
      val withLang = d.join(
        TextFunctions.langIdByDoc(d, "text", "doc_id"), Seq("doc_id"))
      val sel = LmScore.ccnetSelectByCutoff(withLang, "text", "doc_id",
        "lang_pred", lm, keepFrac = 1.0 / 3, exact = true)
      // the dedup stage references the kept set several times (candidate
      // banding, jaccard verify joins, the final anti-join) — without a
      // stage boundary, every reference would re-run the whole selection
      // chain
      // (langId + LM scoring joins) from the scan; persisting the kept
      // THIRD between pipeline stages is the production shape
      val kept = d.join(sel.filter(col("kept"))
        .select(col("doc_id"), col("lang_pred"), col("n_bigrams"),
          col("avg_logp")), Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try Dedup.minHashDedup(kept, "text", "doc_id", threshold = 1.0)
        .select(col("doc_id"), col("lang_pred"), col("n_bigrams"), col("avg_logp"))
        .localCheckpoint(true)
      finally kept.unpersist(blocking = false)
    }),

    // LLM: the order-5 LM (KenLM order parity) with HASHED gram keys —
    // every train shuffle and scoring join keyed by xxhash64 of the gram
    // array (8 bytes at any order, vs a 5-string struct); recursive
    // stupid backoff through 5 -> 4 -> 3 -> 2 -> add-one unigram floor.
    // The oracle replays the arithmetic with TEXT keys — hash-keyed and
    // text-keyed scores agreeing IS the no-collision/no-mis-keying proof
    // (LmScoreSpec pins the same equivalence in-engine at orders 2/3).
    "q_lm_5gram" -> ((s, dir) => {
      // input-skew spread (§2.5): the order-5 gram explode is the query's
      // hottest kernel and inherits the one-file scan's splits
      val d = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
      val lm = LmScore.trainNgramLm(d.filter(col("doc_id") % 5 === 0), "text", 5)
      LmScore.perplexityScoreNgram(d, "text", "doc_id", lm)
    }),

    // LLM: CCNet's SELECTION step as one operator — langId buckets every
    // document by language, the LM scores it, and a per-language
    // percent_rank window labels head/middle/tail by score quantile
    // (Wenzek et al. §4.3: train on the head fraction per language). No
    // collect: selection is one hash-partitioned window; the oracle
    // replays langId + LM training + backoff + percent_rank in SQL.
    "q_ccnet_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = LmScore.trainBigramLm(d.filter(col("doc_id") % 5 === 0), "text")
      val withLang = d.join(
        TextFunctions.langIdByDoc(d, "text", "doc_id"), Seq("doc_id"))
      LmScore.ccnetSelect(withLang, "text", "doc_id", "lang_pred", lm)
    }),

    // Okapi BM25 relevance of every doc against a 3-term query — one
    // query-term-filtered explode, broadcast df/N/avgdl constants
    "q_bm25" -> ((s, dir) =>
      TextFunctions.bm25(t(s, dir, "documents"), "text", "doc_id",
          Seq("join", "vector", "stream"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))),

    // Connected-components dedup under a NON-transitive, SQL-expressible
    // pair relation (token counts differing by ≤1 chain across the corpus):
    // survivors are exactly each component's min doc_id. Pairs via a bin
    // equi-join (each doc emits keys n and n+1 — never all-pairs); the
    // oracle recomputes components with a recursive transitive closure.
    "q_dedup_components" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("__n"))
      // connectivity-equivalent SPARSE edge set (O(docs + distinct counts),
      // never the quadratic in-bucket pair list): every doc links to its
      // count's min-id hub, and hubs of adjacent counts link — components
      // under these edges equal components under the full |Δn| <= 1 closure
      val hubs = n.groupBy("__n").agg(min("doc_id").as("__hub"))
      val star = n.join(hubs, "__n")
        .filter(col("doc_id") =!= col("__hub"))
        .select(col("__hub").as("idA"), col("doc_id").as("idB"))
      val chain = hubs.select(col("__n"), col("__hub").as("__ha"))
        .join(hubs.select((col("__n") - 1).as("__n"), col("__hub").as("__hb")), "__n")
        .select(least(col("__ha"), col("__hb")).as("idA"),
          greatest(col("__ha"), col("__hb")).as("idB"))
      Dedup.dedupByComponents(d, "doc_id", star.unionByName(chain)).select(col("doc_id"))
    }),

    // C4/C9/S11/W9: full CDC micro-batch cycle (watermark store + sink)
    "q_cdc_cycle" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val store = new WatermarkStore(tmp("wm"))
      val table = Icebox(tmp("qcyc"))
      Cdc.runCycle(store, "src", "events", sp => t(sp, dir, "events"), "ts") { batch =>
        table.overwrite(batch); ()
      }
      table.read(s)
    }),

    // C5/C8/S12/W10: file CDC with late-data partition reprocessing — run 1
    // ingests dt=a + dt=b; f1 is then REWRITTEN (value*3) and run 2 picks up
    // only partition a, reprocessing it in full.
    "q_file_cdc" -> ((s, dir) => {
      val src = tmp("fcdc-src")
      val ev = t(s, dir, "events")
      writeOneFile(ev.filter(col("event_id") < 5000), s"$src/dt=a", "f1.parquet")
      writeOneFile(ev.filter(col("event_id") >= 5000), s"$src/dt=b", "f2.parquet")
      val table = Icebox(tmp("fcdc-table"))
      val store = new FileCheckpointStore(tmp("fcdc-cp") + "/cp.json")
      FileCdc.runCycle(s, src, table, store)
      Thread.sleep(15) // ensure the rewrite gets a later mtime
      writeOneFile(ev.filter(col("event_id") < 5000).withColumn("value", col("value") * 3),
        s"$src/dt=a", "f1.parquet")
      val r = FileCdc.runCycle(s, src, table, store)
      require(r.touchedPartitions == Seq("a"), s"late-data run touched ${r.touchedPartitions}")
      table.read(s)
    }),

    // C7 end-to-end: HASH-method file CDC — a content rewrite is re-detected
    // by content hash (the method the reference declares but leaves
    // unimplemented; mtime/size can both miss preserving rewrites) and the
    // touched partition reprocessed via dynamic partition overwrite
    "q_file_cdc_hash" -> ((s, dir) => {
      val src = tmp("fcdch-src")
      val ev = t(s, dir, "events")
      writeOneFile(ev.filter(col("event_id") < 5000), s"$src/dt=a", "f1.parquet")
      writeOneFile(ev.filter(col("event_id") >= 5000), s"$src/dt=b", "f2.parquet")
      val table = Icebox(tmp("fcdch-table"))
      val store = new FileCheckpointStore(tmp("fcdch-cp") + "/cp.json")
      FileCdc.runCycle(s, src, table, store, method = "hash")
      writeOneFile(ev.filter(col("event_id") < 5000).withColumn("value", col("value") * 3),
        s"$src/dt=a", "f1.parquet")
      val r = FileCdc.runCycle(s, src, table, store, method = "hash")
      require(r.touchedPartitions == Seq("a"), s"hash run touched ${r.touchedPartitions}")
      table.read(s)
    }),

    // M6: cherry-pick — rollback past an append, then re-apply exactly that
    // append's file delta on top of the rolled-back state
    "q_icebox_cherrypick" -> ((s, dir) => {
      val table = Icebox(tmp("qchp"))
      val o = t(s, dir, "orders")
      val s0 = table.append(o.filter(col("o_orderstatus") === "O"))
      val s1 = table.append(o.filter(col("o_orderstatus") === "F"))
      table.rollbackTo(s0.id)
      table.cherrypick(s1.id)
      table.read(s)
    }),

    // M1 partition-scoped: hot-partitions-only compaction preserves content
    "q_compact_partitions" -> ((s, dir) => {
      val table = Icebox(tmp("qcp"))
      val ev = t(s, dir, "events")
      (0 until 6).foreach(i =>
        table.append(ev.filter(col("event_type") === "click" && col("event_id") % 6 === i),
          partitionBy = Seq("event_type")))
      table.append(ev.filter(col("event_type") =!= "click"), partitionBy = Seq("event_type"))
      table.compactPartitions(s, minFiles = 4)
      table.read(s)
    }),

    // skew: salted two-phase aggregation == plain groupBy-agg
    "q_salted_agg" -> ((s, dir) =>
      Skew.saltedAgg(t(s, dir, "events"), Seq("event_type"), salts = 16)(
        Seq("value" -> "sum", "value" -> "count"))
        .select(col("event_type"), round(col("sum_value"), 2).as("total_value"),
          col("count_value").as("cnt"))),

    // skew: salted replicated join == plain join
    "q_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(o, c, "o_custkey", salts = 8)
    }),

    // flagship LLM pipeline: quality-filter -> exact-dedup -> snapshot table
    "q_llm_pipeline" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("quality") >= 0.8)
      val deduped = Dedup.exact(scored, "text", "doc_id")
      val table = Icebox(tmp("qllm"))
      table.append(deduped)
      table.read(s)
    }),

    // composed chunking pipeline: token-length gate → overlapping chunks →
    // cross-corpus exact chunk dedup (keep first occurrence) → per-chunk
    // token count. Exercises chunks/dedup/token-stats composing end to end
    // under a single oracle.
    "q_chunk_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .filter(trim(col("text")) =!= "" && TextFunctions.tokenCount(col("text")) >= 20)
      val w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_id")
      docs.select(col("doc_id"),
          explode(TextFunctions.chunks(col("text"), size = 10, overlap = 2)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").cast("long").as("chunk_id"),
          col("c.chunk").as("chunk"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn("n_tokens", TextFunctions.tokenCount(col("chunk")).cast("long"))
    }),

    // exact percentiles (interpolating — matches DuckDB quantile_cont)
    "q_percentiles" -> ((s, dir) =>
      t(s, dir, "events").groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))),

    // stateful sessionization (batch face; streaming face in Sessionize.streaming)
    "q_sessionize" -> ((s, dir) =>
      Sessionize.batch(t(s, dir, "events"), "user_id", "ts", "value", "event_id",
        gapMinutes = 30)),

    // set operations (beyond-parity: reference has union only)
    "q_set_ops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def users(tpe: String) = ev.filter(col("event_type") === tpe).select("user_id").distinct()
      users("click").intersect(users("purchase")).except(users("error"))
    }),

    // rollup aggregation (Catalyst-native grouping sets)
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "events").rollup("event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))),

    // JSON extraction from the events props column
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // as-of join (operator Spark lacks; single-shuffle union+window shape)
    "q_asof_join" -> ((s, dir) => {
      val dedupedOrders = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)
        t(s, dir, "orders").withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }.withColumnRenamed("o_custkey", "user_id")
      AsofJoin.asof(t(s, dir, "events"), dedupedOrders,
        "user_id", "ts", "o_orderdate", "o_orderkey", Seq("o_orderkey", "o_totalprice"))
    }),

    // range join (binned interval equi-join, no all-pairs nested loop)
    "q_range_join" -> ((s, dir) => {
      val intervals = t(s, dir, "part")
        .select(col("p_partkey"), (col("p_retailprice") - 100).as("lo"),
          (col("p_retailprice") + 100).as("hi"))
      RangeJoin.pointInInterval(t(s, dir, "supplier"), intervals, "s_acctbal", "lo", "hi", binSize = 50.0)
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("cnt"), round(sum("s_acctbal"), 2).as("total_bal"))
    }),

    // pipeline runner: transfer >> compact >> expire
    "q_pipeline" -> ((s, dir) => {
      val table = Icebox(tmp("qpipe"))
      val p = Pipeline.transform("transfer",
        sp => t(sp, dir, "orders"),
        df => df.filter(col("o_totalprice") > 1000),
        df => { table.append(df); () }) >>
        Task("compact", (sp, _) => { table.compact(sp); () }) >>
        Task("expire", (_, _) => { table.expireSnapshots(System.currentTimeMillis() + 1000, 1); () })
      p.run(s, Config())
      table.read(s)
    }),

    // W7/W8 under an exact oracle: namespace + table AUTO-CREATE on first
    // write, driven through a pipeline task — create-on-first-write, then a
    // fresh handle re-reads what landed (the requires pin not-exists →
    // exists around the write)
    "q_autocreate" -> ((s, dir) => {
      val wh = tmp("qac")
      val table = Icebox.table(wh, "analytics", "cust") // namespace dir created
      require(!table.exists, "table must not pre-exist")
      Pipeline(Seq(Pipeline.transform("load-cust",
        sp => t(sp, dir, "customer"),
        df => df.filter(col("c_mktsegment") === "BUILDING"),
        df => { table.append(df); () }))).run(s, Config())
      val reopened = Icebox.table(wh, "analytics", "cust")
      require(reopened.exists, "first write did not create the table")
      reopened.read(s)
    }),

    // Persistent namespace registry (the reference's REST-catalog listing
    // surface at the engine's path-rooted design point): two namespaced
    // tables created through one catalog handle, then a FRESH handle lists
    // the warehouse and re-loads both tables BY NAME ONLY — the joined
    // result is oracle-pinned, so a registry that loses an entry, points at
    // the wrong URI, or breaks load-by-name changes the row hash
    "q_catalog" -> ((s, dir) => {
      val wh = tmp("qcat")
      val cat = graft.table.Catalog(wh)
      cat.create(s, "ref", "nation").append(t(s, dir, "nation"))
      cat.create(s, "ref", "region").append(t(s, dir, "region"))
      val fresh = graft.table.Catalog(wh)
      require(fresh.tables(s).count() == 2, "catalog listing lost a table")
      require(fresh.namespaces(s).count() == 1, "namespace listing wrong")
      val n = fresh.load(s, "ref", "nation").read(s)
      val r = fresh.load(s, "ref", "region").read(s)
      n.join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("nations"))
    }),

    // F7 under an exact oracle: LAYERED CONFIG drives the query parameters —
    // runtime overrides operator overrides env. The oracle pins the RESULT
    // of correct precedence: a wrong layer winning changes the filter
    // values and the row hash with it.
    "q_config_layered" -> ((s, dir) => {
      val cfg = Config(
        operator = Map("segment" -> "AUTOMOBILE", "min_bal" -> "0"),
        env = Map("segment" -> "HOUSEHOLD", "min_bal" -> "-1"))
        .withRuntime("min_bal" -> "1000")
      require(cfg("segment") == "AUTOMOBILE" && cfg("min_bal") == "1000",
        "config precedence broken")
      t(s, dir, "customer").filter(col("c_mktsegment") === cfg("segment") &&
        col("c_acctbal") >= cfg("min_bal").toDouble)
    }),

    // LLM: exact dedup by content hash (duplicates injected, lowest id wins)
    "q_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exact(doubled, "text", "doc_id")
    }),

    // LLM: normalization-fingerprint dedup (case/whitespace variants collapse)
    "q_dedup_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val variants = d.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", upper(col("text")))
      Dedup.exactNormalized(d.unionByName(variants), "text", "doc_id")
    }),

    // LLM: per-language corpus statistics
    "q_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          // exact long sum / long count: one double division, bit-identical
          // across engines (plain avg() folds doubles in engine-dependent
          // order and can differ in the last ULP even after round())
          round(sum("n_chars").cast("double") / count(lit(1)), 4).as("avg_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))),

    // LLM: per-document quality/text metrics
    "q_text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(TextFunctions.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextFunctions.digitRatio(col("text")), 4).as("digit_ratio"),
        round(TextFunctions.meanWordLen(col("text")), 4).as("mean_word_len"))),

    // LLM: heuristic language ID (exploded-token aggregate shape — one
    // codegen'd pass over tokens; scalar face TextFunctions.langId is
    // covered by TextFunctionsSpec equivalence)
    "q_lang_id" -> ((s, dir) =>
      TextFunctions.langIdByDoc(t(s, dir, "documents"), "text", "doc_id")),

    // LLM: normalization fingerprint per document
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))),

    // LLM: deterministic content-keyed sampling — same rows kept on every
    // engine/run/partitioning (md5-prefix threshold), so DuckDB replays it
    "q_hash_sample" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), col("doc_id"), 0.35, seed = "s")),

    // LLM: weighted source mixing (the training-mix operator): src0 10%,
    // src1 50%, src2 90%, everything else 25% — one CASE over source
    "q_source_mix" -> ((s, dir) =>
      Sampling.mixSources(t(s, dir, "documents"), "source",
        Map("src0" -> 0.1, "src1" -> 0.5, "src2" -> 0.9),
        col("doc_id"), defaultRate = 0.25, seed = "mix")),

    // LLM: TEMPERATURE-tempered source mixing — per-source keep rates
    // computed FROM the observed source sizes (p_s ∝ n_s^(1/T); T=2 here,
    // so the tempering is sqrt — IEEE-exact in both engines and the
    // 6-decimal rate arithmetic replays verbatim). A synthetic skewed
    // source split (three 10% slices + one 70% bulk) makes the flattening
    // observable: the bulk source's rate lands well below the slices'.
    "q_temperature_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("src", least(pmod(col("doc_id"), lit(10)), lit(3)))
      Sampling.temperatureMix(d, "src", col("doc_id"),
          temperature = 2.0, totalFrac = 0.5, seed = "t")
        .select(col("doc_id"), col("src"), col("source"), col("lang"))
    }),

    // LLM: WEIGHTED sampling — every row carries its OWN keep probability
    // (here a length-derived quality proxy); acceptance is the
    // content-keyed uniform vs that probability, so the kept set is
    // deterministic and the oracle replays the identical integer-hash
    // arithmetic. The per-row-probability generalization of q_hash_sample
    // (importance resampling's acceptance step).
    "q_weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.weightedSample(d, col("doc_id"),
          (length(col("text")).cast("double") / lit(400.0)), seed = "w")
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // LLM capstone: the full modern data-prep pipeline composed from this
    // round's operators — token gate → benchmark decontamination →
    // fingerprint dedup → weighted source mix → sequence packing — one
    // oracle over the whole chain
    "q_dataprep_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val gated = d.filter(TextFunctions.tokenCount(col("text")) >= 5)
      val decon = Decontaminate.clean(gated, "text", "doc_id",
        d.filter(col("doc_id") % 19 === 0), "text", 8)
      val deduped = Dedup.exactNormalized(decon, "text", "doc_id")
      val mixed = Sampling.mixSources(deduped, "source",
        Map("src0" -> 0.2, "src1" -> 0.8), col("doc_id"), 0.5, "dp")
      Packing.packSequences(mixed, col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long"), 256, "source")
        .select(col("doc_id"), col("source"), col("seq_id"),
          col("seq_offset").cast("long").as("seq_offset"))
    }),

    // LLM: training-sequence packing — concatenate-then-chunk per source
    // shard, 512-token budget; one window sum, shards pack in parallel
    "q_pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Packing.packSequences(d, col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long"), 512, "source")
        .select(col("doc_id"), col("source"), col("seq_id"),
          col("seq_offset").cast("long").as("seq_offset"))
    }),

    // LLM: deterministic per-source quota — at most 10 docs per source,
    // chosen by hash order (reproducible unbiased N-sample per group)
    "q_cap_per_source" -> ((s, dir) =>
      Sampling.takePerKey(t(s, dir, "documents"), "source", col("doc_id"), 10,
        seed = "cap")),

    // LLM: PII scrub — deterministic synthetic email/phone/IP per doc (the
    // corpus has no real PII), then the fixed-order redact chain + audit
    // counts; patterns are Java-regex/RE2 semantics-identical by design
    "q_pii_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pii = concat(
        col("text"),
        lit(" reach user"), col("doc_id").cast("string"), lit("@example.com or 555-867-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".42"))
      d.select(col("doc_id"), pii.as("__s"))
        .select(col("doc_id"),
          TextFunctions.redactPii(col("__s")).as("redacted"),
          TextFunctions.piiCounts(col("__s")).getField("emails").cast("long").as("n_email"),
          TextFunctions.piiCounts(col("__s")).getField("phones").cast("long").as("n_phone"),
          TextFunctions.piiCounts(col("__s")).getField("ips").cast("long").as("n_ip"))
    }),

    // LLM: benchmark decontamination — flag every doc sharing an 8-token
    // shingle with the "benchmark" subset (doc_id % 19 = 0). The benchmark
    // gram set is broadcast; the corpus is never shuffled
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Decontaminate.flag(d, "text", "doc_id",
          d.filter(col("doc_id") % 19 === 0), "text", n = 8)
        .select(col("doc_id"), col("contaminated"))
    }),

    // LLM: SPAN-SCRUBBING decontamination — remove exactly the tokens
    // covered by a benchmark 8-gram occurrence, keep the rest (the
    // surgical alternative to dropping whole docs). Bench grams
    // broadcast; only MATCHED positions aggregate (contaminated docs
    // only) and broadcast back — the corpus never shuffles (in-query
    // require). The oracle replays positions, interval coverage, and the
    // ordered token reassembly in SQL.
    "q_decontaminate_scrub" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val out = Decontaminate.scrub(d, "text", "doc_id",
        d.filter(col("doc_id") % 19 === 0), "text", n = 8)
      // the one hash exchange in the plan aggregates MATCHED positions
      // (bounded by contamination volume); the corpus side itself meets
      // bench grams and the position sets in broadcast joins only
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
        "corpus joins must broadcast — the corpus never shuffles for a join")
      out
    }),

    // LLM: SEMANTIC decontamination — corpus vectors near-duplicate
    // (cosine >= 0.99) of any eval embedding are flagged; eval vectors
    // broadcast, candidacy by hyperplane-signature collision, the corpus
    // never shuffles (in-query plan require). The eval set here is a
    // re-id'd copy of vec_id < 20, and the testdata's max DISTINCT-vector
    // cosine is far below 0.99 (the q_embed_neardup property) — so the
    // exact flagged set is SQL-expressible even though the bucketing
    // isn't: exactly the copied ids (identical vectors always share every
    // plane sign).
    "q_decon_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val eval = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val flagged = graft.operators.Decontaminate.semanticFlag(
        e, "embedding", "vec_id", eval, "embedding", dim = 64)
      require(flagged.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the eval side must broadcast — the corpus never shuffles")
      flagged.select(col("vec_id"), col("label"), col("contaminated"))
    }),

    // LLM: MinHash-LSH near-dup candidates, RECALL-EXACT oracle: the raw
    // banded bucketing isn't ANSI-expressible (xxhash64 signatures), but
    // its recall guarantee is — identical NORMALIZED text ⇒ identical
    // signature ⇒ every band collides ⇒ candidate. The query emits the
    // candidates restricted to normalized-equal pairs; the oracle computes
    // that same set by self-join, so a candidate LOST by the LSH pipeline
    // (a recall bug) hash-mismatches the driver artifact. Precision-side
    // junk is bounded by the end-to-end q_minhash_dedup oracle.
    "q_minhash_candidates" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
        .repartition(s.sparkContext.defaultParallelism) // input-skew spread (§2.5)
      val cands = Dedup.minHashCandidates(doubled, "text", "doc_id")
      // the signature pipeline's own normalization (ShingleExpressions)
      val norm = doubled.select(col("doc_id"),
        lower(regexp_replace(trim(col("text")), "\\s+", " ")).as("__n"))
      cands
        .join(norm.select(col("doc_id").as("idA"), col("__n").as("__na")), Seq("idA"))
        .join(norm.select(col("doc_id").as("idB"), col("__n").as("__nb")), Seq("idB"))
        .filter(col("__na") === col("__nb"))
        .select(col("idA"), col("idB"))
    }),

    // LLM: SimHash banded pairs, RECALL-EXACT oracle (same construction —
    // simhash tokenizes on whitespace WITHOUT lowercasing, so the oracle's
    // equality is case-sensitive whitespace-normalized text; equal tokens
    // ⇒ equal simhash ⇒ hamming 0 ⇒ in every band bucket)
    "q_simhash_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
        .repartition(s.sparkContext.defaultParallelism) // input-skew spread (§2.5)
      val cands = Dedup.simHashCandidates(doubled, "text", "doc_id", maxHamming = 3)
      val norm = doubled.select(col("doc_id"),
        regexp_replace(trim(col("text")), "\\s+", " ").as("__n"))
      cands
        .join(norm.select(col("doc_id").as("idA"), col("__n").as("__na")), Seq("idA"))
        .join(norm.select(col("doc_id").as("idB"), col("__n").as("__nb")), Seq("idB"))
        .filter(col("__na") === col("__nb"))
        .select(col("idA"), col("idB"), col("hamming"))
    }),

    // LLM: end-to-end MinHash-LSH dedup, oracle-checkable construction — at
    // threshold 1.0 on a corpus of injected EXACT duplicates, the survivor
    // set equals the exact-dedup set (identical text shares every LSH band
    // and has Jaccard exactly 1.0). Docs whose NORMALIZED text is below the
    // shingle size (5) get no signature and can't dedup — both sides filter
    // them out identically so the equivalence can't silently depend on the
    // fixture containing none. Assumes no duplicate group exceeds
    // maxBucketSize (default 1000) — oversized LSH buckets are dropped by
    // the engine (graft_dedup_buckets metric counts them).
    "q_minhash_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(length(regexp_replace(lower(trim(col("text"))), "\\s+", " ")) >= 5)
      // input-skew spread (guide §2.5): the one-file bench scan hands the
      // signature kernel (shingles x 64 minhashes per doc) 2 splits; the
      // pipeline shuffles at banding anyway, so spreading the input adds
      // parallelism without changing the plan shape downstream
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.minHashDedup(doubled, "text", "doc_id", threshold = 1.0)
    }),

    // LLM: end-to-end SimHash dedup with exact verification — survivors are
    // exactly the min-id doc per token multiset (simhash candidacy is
    // necessary for multiset equality; the verify stage rejects hash
    // collisions), which IS ANSI-expressible. Tokenless docs (blank text)
    // get no simhash and can't dedup — filtered identically on both sides.
    // Assumes no 16-bit simhash band bucket exceeds maxBucketSize (1000);
    // dropped buckets are counted by the graft_dedup_buckets metric.
    "q_simhash_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(trim(col("text")) =!= "")
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
        .repartition(s.sparkContext.defaultParallelism) // input-skew spread (§2.5)
      Dedup.simHashDedupVerified(doubled, "text", "doc_id", maxHamming = 3)
    }),

    // LLM: overlapping token-window chunking (size 10, overlap 2) — the
    // long-document split; chunking is pure projection, no shuffle
    "q_text_chunks" -> ((s, dir) =>
      t(s, dir, "documents").filter(trim(col("text")) =!= "")
        .select(col("doc_id"),
          explode(TextFunctions.chunks(col("text"), size = 10, overlap = 2)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").cast("long").as("chunk_id"),
          col("c.chunk").as("chunk"))),

    // LLM: Gopher-style repetition signal (duplicate non-blank line ratio).
    // The corpus has no multi-line docs, so repetition is INJECTED
    // deterministically (doc_id % 3 == 0 gets its text duplicated on a
    // second line → ratio 0.5) with the identical construction in the
    // oracle — the metric, not the fixture, is what's under test.
    "q_text_repetition" -> ((s, dir) =>
      t(s, dir, "documents").filter(trim(col("text")) =!= "")
        .withColumn("__t", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\n"), col("text"))).otherwise(col("text")))
        .select(col("doc_id"),
          round(TextFunctions.dupLineRatio(col("__t")), 4).as("dup_line_ratio"))),

    // LLM: Gopher repetition signal #2 — share of chars covered by the most
    // frequent token bigram (explode → two-level agg, map-side combined)
    "q_text_topgram" -> ((s, dir) =>
      TextFunctions.topNgramCharRatioByDoc(
        t(s, dir, "documents").filter(trim(col("text")) =!= ""), "text", "doc_id", n = 2)
        .select(col("doc_id"), round(col("top_ngram_char_ratio"), 4).as("top_ngram_char_ratio"))),

    // LLM: exact ANN — brute-force cosine top-k, broadcast query side
    "q_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // LLM: IVF approximate ANN (rows-only: clustering not SQL-expressible)
    "q_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), k = 5, nlist = 16, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // LLM: PERSISTED IVF index — vectors land incrementally via ivfInsert
    // (codegen'd centroid argmin, appended partitioned by assigned list),
    // then ivfSearch reads ONLY the probed posting-list partitions
    // (manifest-pruned; the in-query require proves no unprobed partition
    // file is opened). Same centroids/assignment/tie-breaks as q_ann_ivf,
    // so the oracle is the identical SQL — but paid once per vector at
    // ingest instead of once per query batch.
    "q_ann_ivf_insert" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val index = Icebox(tmp("qivfi"))
      val centroids = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").cast("long").as("cluster_id"),
          col("embedding").as("centroid"))
      // two ingest waves — the index accretes across commits
      Similarity.ivfInsert(index, centroids, e.filter(col("vec_id") % 2 === 0))
      Similarity.ivfInsert(index, centroids, e.filter(col("vec_id") % 2 =!= 0))
      val out = Similarity.ivfSearch(index, centroids, e.filter(col("vec_id") < 8),
        k = 5, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
      out.count() // materialize before auditing the scan
      val probed = Similarity.ivfSearch(index, centroids, e.filter(col("vec_id") < 8),
        k = 5, nprobe = 4) // plan-only twin for the file audit
      val idxDir = index.tableDir.toString
      val prunedIdx = probed.inputFiles.count(_.contains(idxDir))
      val fullIdx = index.read(s).inputFiles.length
      require(prunedIdx > 0 && prunedIdx < fullIdx,
        s"probe must open fewer index files than the full index ($prunedIdx vs $fullIdx)")
      out
    }),

    // LLM: IVF-PQ — the persisted index stores ONE BIGINT of packed
    // product-quantization codes per vector instead of the 256-byte float
    // array (posting-list bytes ARE the probe cost at 100 TB). Search =
    // pruned partition read -> codegen'd ADC (per-query lookup table over
    // the codebook literals) -> exact cosine re-rank of the survivors
    // from the corpus table. At refineK >= every probed list the ADC cut
    // passes everything through, so the output must EQUAL the float-index
    // search — the same SQL oracle as q_ann_ivf_insert. In-query requires
    // prove the parts the oracle can't see: (a) ADC quality — recall at
    // refineK=64 (~13x k, the standard refine budget) vs the exact
    // result; (b) the byte win — the codes
    // payload at least 8x smaller than the float payload, single-file
    // parquet both sides; (c) probes stay partition-pruned.
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val index = Icebox(tmp("qivfpq"))
      val centroids = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").cast("long").as("cluster_id"),
          col("embedding").as("centroid"))
      // maxIter 8: codebooks converge on this corpus in a few sweeps and
      // each MLlib iteration is driver-roundtrip jobs - the dominant cost of
      // this query's one-time training step at bench scale
      val cb = Similarity.pqTrainResidual(e, centroids, m = 8, codes = 64,
        seed = 42L, maxIter = 8)
      // two ingest waves — the codes-only index accretes across commits
      Similarity.ivfPqInsert(index, centroids, cb, e.filter(col("vec_id") % 2 === 0))
      Similarity.ivfPqInsert(index, centroids, cb, e.filter(col("vec_id") % 2 =!= 0))
      val queries = e.filter(col("vec_id") < 8)
      val out = Similarity.ivfPqSearch(index, centroids, cb, e, queries,
        k = 5, nprobe = 4, refineK = 1000000)
        .withColumn("rank", col("rank").cast("long"))
      // materialize ONCE: the rows serve the recall baseline AND the
      // returned frame (returning the live plan would re-run the search)
      val outRows = out.collect().toSeq
      val exactPairs = outRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      // (a) ADC recall at a realistic refine budget
      val adcPairs = Similarity.ivfPqSearch(index, centroids, cb, e, queries,
        k = 5, nprobe = 4, refineK = 64)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = adcPairs.intersect(exactPairs).size.toDouble / exactPairs.size
      require(recall >= 0.8, f"ADC refine recall $recall%.3f below 0.8")
      // (b) the byte win, footer-overhead-controlled: one parquet file per
      // payload shape at the same row count
      val pqDir = tmp("qivfpq_bytes_pq")
      val fDir = tmp("qivfpq_bytes_float")
      index.read(s).coalesce(1).write.mode("overwrite").parquet(pqDir)
      e.select(col("vec_id"), col("embedding"), (col("vec_id") % 16).as("list"))
        .coalesce(1).write.mode("overwrite").parquet(fDir)
      def dataBytes(d: String): Long = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val (pqB, fB) = (dataBytes(pqDir), dataBytes(fDir))
      require(pqB > 0 && fB >= 8L * pqB,
        s"PQ payload must be >=8x smaller than the float payload ($fB vs $pqB)")
      // (c) probes open fewer index files than the full index
      val probed = Similarity.ivfPqSearch(index, centroids, cb, e, queries,
        k = 5, nprobe = 4, refineK = 16) // plan-only twin for the file audit
      val idxDir = index.tableDir.toString
      val prunedIdx = probed.inputFiles.count(_.contains(idxDir))
      val fullIdx = index.read(s).inputFiles.length
      require(prunedIdx > 0 && prunedIdx < fullIdx,
        s"probe must open fewer index files than the full index ($prunedIdx vs $fullIdx)")
      s.createDataFrame(outRows.asJava, out.schema) // LocalRelation: no job, no 32-task noop write
    }),

    // LLM: IVF index MAINTENANCE under distribution drift — the index is
    // built against a stale 8-centroid set (even vectors only), then
    // ivfReassign migrates every posting list to the canonical 16-centroid
    // set in one partitioned-overwrite commit (the compaction-style
    // rewrite; Similarity.ivfRetrain is the KMeans-refit flavor, proven by
    // SimilaritySpec's drift-recall case — here the new centroids are the
    // deterministic lowest-16 so the ORACLE replays the post-migration
    // assignment arithmetic: identical SQL to q_ann_ivf_insert). In-query
    // requires prove the migration actually moved the layout (8 -> 16
    // occupied lists, nothing lost) and that the migrated table still
    // partition-prunes probes.
    "q_ann_ivf_retrain" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val index = Icebox(tmp("qivfr"))
      val stale = e.filter(col("vec_id") % 2 === 0).orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").cast("long").as("cluster_id"),
          col("embedding").as("centroid"))
      Similarity.ivfInsert(index, stale, e.filter(col("vec_id") % 2 === 0))
      Similarity.ivfInsert(index, stale, e.filter(col("vec_id") % 2 =!= 0))
      val listsBefore = index.read(s).select("list").distinct().count()
      require(listsBefore <= 8L, s"stale layout can occupy at most 8 lists, saw $listsBefore")
      val fresh = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").cast("long").as("cluster_id"),
          col("embedding").as("centroid"))
      val total = e.count()
      val migrated = Similarity.ivfReassign(s, index, fresh)
      require(migrated > 0 && migrated <= total,
        s"reassign returns the MOVED count ($migrated of $total)")
      require(index.read(s).count() == total,
        s"migration must carry every vector (${index.read(s).count()} vs $total)")
      val listsAfter = index.read(s).select("list").distinct().count()
      require(listsAfter == 16L,
        s"each of the 16 new centroids owns its own vector, saw $listsAfter lists")
      val out = Similarity.ivfSearch(index, fresh, e.filter(col("vec_id") < 8),
        k = 5, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
      out.count() // materialize before auditing the scan
      val probed = Similarity.ivfSearch(index, fresh, e.filter(col("vec_id") < 8),
        k = 5, nprobe = 4) // plan-only twin for the file audit
      val idxDir = index.tableDir.toString
      val prunedIdx = probed.inputFiles.count(_.contains(idxDir))
      val fullIdx = index.read(s).inputFiles.length
      require(prunedIdx > 0 && prunedIdx < fullIdx,
        s"post-migration probe must stay pruned ($prunedIdx vs $fullIdx)")
      out
    }),

    // LLM: KMeans-trained IVF at FULL probe (nprobe = nlist): probing every
    // list makes the candidate set the whole corpus, so the result must
    // equal brute-force top-k EXACTLY, whatever centroids training produced
    // — an end-to-end oracle over the trained path (fit, assignment, probe
    // join) that no static SQL could give at partial probe.
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // trainFraction < 1: the oracle is centroid-independent at full probe,
      // so sampled training is free accuracy-wise and 4x cheaper
      Similarity.ivfTopKKmeans(e, e.filter(col("vec_id") < 8), k = 5, nlist = 8, nprobe = 8,
        trainFraction = 0.25, maxIter = 8)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // LLM: IVF-PQ index maintenance is O(moved), not O(index) — centroid 3
    // retires and vec 100's embedding becomes a new list, so exactly the
    // affected posting lists rewrite while every untouched list's files
    // carry into the new snapshot BY REFERENCE (at 100 TB, the difference
    // between rewriting a few partitions and rebuilding the index). The
    // ORACLE replays the post-migration assignment argmin over the new
    // centroid set; in-query requires prove what SQL can't see: the moved
    // count is the observed delta, rewritten partitions == exactly the
    // lists that gained/lost vectors, and at least one list carried its
    // files verbatim.
    "q_ann_ivfpq_reassign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // 64 lists so the retirement of ONE centroid cannot plausibly touch
      // them all: movers are exactly the former list-3 members (plus no
      // one else — no centroid was added or displaced)
      val c0 = e.filter(col("vec_id") < 64)
        .select(col("vec_id").cast("long").as("cluster_id"),
          col("embedding").as("centroid"))
      val cb = Similarity.pqTrainResidual(e, c0, m = 8, codes = 16,
        seed = 42L, maxIter = 4)
      val index = Icebox(tmp("qivfpqre"))
      Similarity.ivfPqInsert(index, c0, cb, e)
      val total = e.count()
      def paths(): Map[String, Set[String]] =
        index.currentSnapshot.get.files.groupBy(_.partition("list"))
          .map { case (l, fs) => l -> fs.map(_.path).toSet }
      val pathsBefore = paths()
      val assignBefore = index.read(s).select("vec_id", "list").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val c1 = c0.filter(col("cluster_id") =!= 3)
      val moved = Similarity.ivfPqReassign(s, index, e, c1, cb)
      require(moved > 0 && moved < total,
        s"delta maintenance moved $moved of $total — must be a strict subset")
      val out = index.read(s).select(col("vec_id"),
        col("list").cast("long").as("list"))
      val assignAfter = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val movedIds = assignBefore.keySet.filter(id => assignBefore(id) != assignAfter(id))
      require(movedIds.size.toLong == moved,
        s"returned count $moved must equal the observed moves ${movedIds.size}")
      val expected: Set[String] =
        movedIds.flatMap(id => Seq(assignBefore(id), assignAfter(id))).map(_.toString)
      val pathsAfter = paths()
      val changed = (pathsBefore.keySet ++ pathsAfter.keySet)
        .filter(l => pathsBefore.get(l) != pathsAfter.get(l))
      require(changed == expected,
        s"rewritten partitions ($changed) must be exactly the moved lists ($expected)")
      require((pathsAfter.keySet -- changed).nonEmpty,
        "untouched posting lists must carry by reference")
      out
    }),

    // LLM: LSH recall invariant — every pair with EQUAL normalized
    // fingerprints (⇒ equal shingle sets ⇒ identical MinHash signatures ⇒
    // shares every band) MUST be an LSH candidate pair; emits the violating
    // pairs, oracle = empty. Guards the banding/bucketing plumbing end to
    // end (same signature-less-doc filter as q_minhash_dedup). Exact pairs
    // come from ONE groupBy-key shuffle + inline pair generation — a
    // self-join would recompute the normalization pipeline per side.
    "q_minhash_recall" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(length(regexp_replace(lower(trim(col("text"))), "\\s+", " ")) >= 5)
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
        .repartition(s.sparkContext.defaultParallelism) // input-skew spread (§2.5)
      val exactPairs = groupPairs(
        doubled.select(col("doc_id").as("__id"),
          TextFunctions.fingerprint(col("text")).as("__key")))
      // the candidate-pair side grows with corpus duplication (quadratic
      // in family size on planted-dup corpora — sf1 broadcast-OOMed it);
      // a pair set is corpus-scale data, never a broadcast relation
      exactPairs.join(
        Dedup.minHashCandidates(doubled, "text", "doc_id").hint("shuffle_hash"),
        Seq("idA", "idB"), "left_anti")
    }),

    // LLM: simhash recall invariant — every token-multiset-equal pair is
    // Hamming-0, so it MUST survive banding as a candidate; oracle = empty.
    "q_simhash_recall" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(trim(col("text")) =!= "")
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
        .repartition(s.sparkContext.defaultParallelism) // input-skew spread (§2.5)
      val exactPairs = groupPairs(
        doubled.select(col("doc_id").as("__id"),
          array_sort(TextFunctions.tokens(col("text"))).as("__key")))
      exactPairs.join(
        Dedup.simHashCandidates(doubled, "text", "doc_id", maxHamming = 3)
          .select(col("idA"), col("idB")).hint("shuffle_hash"), // pair sets never broadcast
        Seq("idA", "idB"), "left_anti")
    }),

    // LLM: embedding-cosine near-dup via hyperplane LSH buckets (rows-only)
    "q_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val dups = e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000)
      Dedup.embeddingNearDup(e.unionByName(dups), "embedding", "vec_id",
        dim = 64, threshold = 0.99, planes = 6)
    }),

    // LLM: SemDeDup (Abbas et al. 2023) — semantic dedup with k-means-
    // cluster-bounded candidacy and the keep-the-outlier rule
    // (Dedup.semDeDup). Seed centroids (lowest-16 vec_ids, q_ann_ivf's
    // deterministic shape) so the ORACLE replays the full pipeline in SQL:
    // argmin assignment over the same 16 centroids, survivors = the base
    // rows (planted +1000000 copies co-cluster with their originals at
    // cosine 1.0, csim ties break to min id; no distinct-vector pair in
    // testdata reaches 0.99 — same exactness property as
    // q_embed_neardup). Every surviving row's cluster_id and centroid_sim
    // are value-checked, so a misassigned cluster or a lost/extra drop
    // hash-mismatches.
    "q_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val dups = e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000)
      val seeds = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").cast("long").as("cluster_id"),
          col("embedding").as("centroid"))
      Dedup.semDeDup(e.unionByName(dups), seeds, "embedding", "vec_id",
        threshold = 0.99)
    }),

    // LLM: incremental embedding near-dup vs an accumulated corpus through
    // a persisted sign-key index (Dedup.embeddingNearDupInsert) — the
    // vector-space sibling of q_neardup_insert. ORACLE EXACTNESS: testdata
    // embeddings have no distinct-vector pair above cosine 0.60 (checked
    // via DuckDB at sf0.01/sf0.1), so at threshold 0.99 a drop happens iff
    // the vectors are bit-identical — the oracle replays the two-wave
    // min-id arithmetic on exact vector equality. The in-query require
    // cross-checks wave-2 recall the same way (distinct-vector anti-join),
    // failing loudly on any lost index entry or over-pruned probe.
    "q_embed_neardup_insert" -> ((s, dir) => {
      val corpus = Icebox(tmp("qendi_c")); val index = Icebox(tmp("qendi_i"))
      val e = t(s, dir, "embeddings")
      val batch1 = e.filter(col("vec_id") % 3 =!= 0)
      Dedup.embeddingNearDupInsert(corpus, index, batch1, "embedding", "vec_id",
        dim = 64, threshold = 0.99, planes = 6, serializable = true)
      val batch2 = e.filter(col("vec_id") % 3 === 0).unionByName(
        batch1.filter(col("vec_id") % 9 === 1)
          .withColumn("vec_id", col("vec_id") + 1000000))
      val n2 = Dedup.embeddingNearDupInsert(corpus, index, batch2, "embedding", "vec_id",
        dim = 64, threshold = 0.99, planes = 6, serializable = true)
      // single-pass recall check: vectors whose EVERY holder is %3==0
      val expected2 = e.groupBy("embedding")
        .agg(max(when(col("vec_id") % 3 =!= 0, 1).otherwise(0)).as("held_w1"))
        .filter(col("held_w1") === 0).count()
      require(n2 == expected2,
        s"expected $expected2 fresh vectors in wave 2, got $n2")
      corpus.read(s).select("vec_id", "label")
    }),

    // LLM: multimodal blob stats (binary column plumbing, no decode)
    // LLM: incremental SemDeDup vs an accumulated cluster-partitioned
    // corpus (Dedup.semDeDupInsert) — completes the incremental family.
    // Same bit-identical-only property as q_embed_neardup_insert (no
    // distinct-vector pair above cosine 0.60), so at threshold 0.99 the
    // oracle replays the two-wave min-id arithmetic on exact vector
    // equality, plus the q_semdedup argmin assignment for the evidence
    // columns. In-query require cross-checks wave-2 recall (re-offered
    // corpus content MUST drop through the cluster-pruned probe).
    "q_semdedup_insert" -> ((s, dir) => {
      val corpus = Icebox(tmp("qsdi"))
      val e = t(s, dir, "embeddings")
      val seeds = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").cast("long").as("cluster_id"),
          col("embedding").as("centroid"))
      val batch1 = e.filter(col("vec_id") % 3 =!= 0)
      Dedup.semDeDupInsert(corpus, seeds, batch1, "embedding", "vec_id",
        threshold = 0.99)
      val batch2 = e.filter(col("vec_id") % 3 === 0).unionByName(
        batch1.filter(col("vec_id") % 9 === 1)
          .withColumn("vec_id", col("vec_id") + 1000000))
      val n2 = Dedup.semDeDupInsert(corpus, seeds, batch2, "embedding", "vec_id",
        threshold = 0.99)
      val expected2 = e.groupBy("embedding")
        .agg(max(when(col("vec_id") % 3 =!= 0, 1).otherwise(0)).as("held_w1"))
        .filter(col("held_w1") === 0).count()
      require(n2 == expected2,
        s"expected $expected2 fresh vectors in wave 2, got $n2")
      corpus.read(s).select("vec_id", "cluster_id", "centroid_sim")
    }),

    "q_multimodal_stats" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "text")
      Multimodal.blobStats(media).select(
        col("doc_id"), col("n_bytes"), col("content_hash"),
        col("media_meta.duration_ms").as("duration_ms"))
    }),

    // LLM: batched decode-stub kernel via mapPartitions. The audit face emits
    // only kernel-computed scalars so the oracle can check the binary
    // plumbing end-to-end (the feature values themselves are pinned by
    // MultimodalSpec; array<float> output is not driver-comparable).
    "q_multimodal_decode" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "text")
      Multimodal.decodeAudit(media)
    }),

    // LLM: REAL image decode (javax.imageio) — deterministic synthetic PNGs
    // are ENCODED per doc, then the kernel parses the actual bytes back to
    // dimensions / channel count / mean pixel value, each of which the
    // DuckDB oracle predicts arithmetically. A fake decode cannot pass:
    // the values only match if the raster was genuinely decoded.
    "q_image_decode" -> ((s, dir) => {
      import s.implicits._
      val pngs = spreadIds(s, t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long])
        .mapPartitions { ids =>
          ids.map { id =>
            (id, Multimodal.syntheticPng(
              width = (8 + id % 24).toInt, height = (8 + id % 16).toInt,
              v = (id % 256).toInt))
          }
        }.toDF("doc_id", "media_bytes")
      Multimodal.decodeImageMeta(pngs)
    }),

    // LLM: REAL audio decode (javax.sound.sampled) — deterministic synthetic
    // square-wave WAVs are ENCODED per doc, then the kernel decodes the
    // actual PCM back to rate / channels / frames / duration / RMS, each of
    // which the DuckDB oracle predicts arithmetically (RMS of a ±v signal
    // is exactly v/32768 in double arithmetic). A fake decode cannot pass.
    "q_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val wavs = spreadIds(s, t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long])
        .mapPartitions { ids =>
          ids.map { id =>
            (id, Multimodal.syntheticWav(
              sampleRateHz = 8000, channels = (1 + id % 2).toInt,
              frames = (800 + (id % 10) * 80).toInt, v = ((id % 100) * 300).toInt))
          }
        }.toDF("doc_id", "media_bytes")
      Multimodal.decodeAudioMeta(wavs)
    }),

    // LLM: REAL video decode (RIFF/AVI container parse + per-frame
    // javax.imageio) — deterministic AVIs with lossless-PNG frames are
    // ENCODED per doc (frame f a uniform gray v0+f, so per-frame decode is
    // observable: the mean over frames is v0 + (nf-1)/2, which a single
    // replicated frame cannot produce), then the kernel walks the actual
    // chunk tree and decodes every frame's pixels. The DuckDB oracle
    // predicts dimensions, frame count, fps, floor-divided duration, and
    // the exact frame-mean average arithmetically. A fake decode cannot
    // pass.
    "q_video_decode" -> ((s, dir) => {
      import s.implicits._
      val avis = spreadIds(s, t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long])
        .mapPartitions { ids =>
          ids.map { id =>
            val w = (8 + id % 16).toInt
            val h = (8 + id % 8).toInt
            val nf = (2 + id % 4).toInt
            val rate = (10 + id % 5).toInt
            val frames = (0 until nf).map(f =>
              Multimodal.syntheticPng(w, h, ((id % 200) + f).toInt))
            (id, Multimodal.syntheticAvi(w, h, rate, frames))
          }
        }.toDF("doc_id", "media_bytes")
      Multimodal.decodeVideoMeta(avis)
    }),

    // LLM: TOKENIZER-accurate token counts — greedy BPE merges from a
    // bounded vocabulary as ONE native expression (graft_bpe_count), the
    // counter token budgets and packing should run on instead of
    // whitespace words (the divergence is corpus-dependent: code and CJK
    // tokenize at multiples of their word count). The merge list rides
    // the plan as one array literal (no join/broadcast/shuffle — require-
    // proven); the ORACLE replays the merges in SQL on the double-space
    // token encoding, where sequential chained replace() equals the
    // rank-greedy loop because the list is topologically ordered (each
    // side is a raw char or an earlier merge's output). ws_tokens rides
    // along to pin the whitespace/BPE divergence.
    "q_bpe_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = typedLit(Seq("t h", "th e", "e r", "a b", "ab l", "abl e",
        "q u", "er y", "s c", "sc a", "sca n", "o r"))
      val out = d.select(col("doc_id"),
        graft.functions.BpeExpressions.tokenCount(s, col("text"), merges)
          .as("bpe_tokens"),
        TextFunctions.tokenCount(col("text")).cast("long").as("ws_tokens"))
      require(!out.queryExecution.executedPlan.toString.contains("Exchange"),
        "BPE counting must stay a narrow projection")
      out
    }),

    // LLM: TOKENIZER-BUDGET chunking — word-boundary chunks sized by BPE
    // tokens, not words (the divergence is exactly why q_bpe_tokens
    // exists): each word lands in chunk floor(prefix-BPE-sum / budget),
    // one kernel call per word against the plan-literal merges, no
    // shuffle (require-proven). The oracle replays the merge chain per
    // word, window-sums the prefix, and string_aggs the chunks.
    "q_bpe_chunks" -> ((s, dir) => {
      val merges = typedLit(Seq("t h", "th e", "e r", "a b", "ab l", "abl e",
        "q u", "er y", "s c", "sc a", "sca n", "o r"))
      val out = t(s, dir, "documents").filter(trim(col("text")) =!= "")
        .select(col("doc_id"),
          explode(TextFunctions.chunksByBudget(s, col("text"), merges, budget = 32))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_id").cast("long").as("chunk_id"),
          col("c.chunk"))
      require(!out.queryExecution.executedPlan.toString.contains("Exchange"),
        "BPE chunking must stay a narrow projection")
      out
    }),

    // LLM: tokenize → pack — the id-stream shape trainers consume. Encode
    // every doc to token IDS (graft_bpe_encode: one kernel call per doc,
    // vocab rides the plan as a positional array literal, id = index,
    // out-of-alphabet = -1), lay docs end to end per source with an EOT
    // separator, cut into budget-sized sequences (Packing.packTokenIds:
    // one window + one explode + ONE shuffle of the token stream). The
    // oracle replays the merge chain per word (the q_bpe_tokens
    // double-space technique), maps tokens through the same vocab list,
    // string_aggs the per-source stream, and slices it — exact-hash on
    // every sequence's id string.
    "q_bpe_pack" -> ((s, dir) => {
      val merges = typedLit(Seq("t h", "th e", "e r", "a b", "ab l", "abl e",
        "q u", "er y", "s c", "sc a", "sca n", "o r"))
      val vocab = typedLit(('a' to 'z').map(_.toString) ++ Seq("th", "the",
        "er", "ab", "abl", "able", "qu", "ery", "sc", "sca", "scan", "or"))
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        graft.functions.BpeExpressions.encode(s, col("text"), merges, vocab)
          .as("__ids"))
      graft.operators.Packing
        .packTokenIds(d, col("doc_id"), col("__ids"), budget = 64,
          shardCol = "source", docSep = 1000000L)
        .select(col("source"), col("seq_id").cast("long").as("seq_id"),
          array_join(transform(col("token_ids"), x => x.cast("string")), " ")
            .as("ids_str"))
    }),

    // LLM: URL-layer dedup (RefinedWeb stage 1) — canonicalize (real
    // graft_url_canon kernel: case, default ports, fragments, tracking
    // params, param sort, trailing slash), exact-dedup by canonical URL
    // (min doc_id), then a per-domain quota of 2 via takePerKey. The URLs
    // are PLANTED from doc_id arithmetic (five variants per group: three
    // canonicalize together, a non-default port and an https variant stay
    // distinct), so the oracle replays the DECISION as pure string
    // construction while the mechanism must parse/normalize for real.
    "q_url_dedup" -> ((s, dir) => {
      val g = (col("doc_id") % 50).cast("string")
      val v = (col("doc_id") / 50).cast("long") % 5
      val seg = substring(md5((col("doc_id") % 50).cast("string").cast("binary")), 1, 6)
      val url = when(v === 0, concat(lit("http://site"), g, lit(".example.com/a/"),
          seg, lit("?b=2&a=1")))
        .when(v === 1, concat(lit("HTTP://Site"), g, lit(".Example.COM:80/a/"),
          seg, lit("?a=1&b=2#frag")))
        .when(v === 2, concat(lit("http://site"), g, lit(".example.com/a/"),
          seg, lit("/?utm_source=feed&gclid="), g, lit("&b=2&a=1")))
        .when(v === 3, concat(lit("http://site"), g, lit(".example.com:8080/a/"),
          seg, lit("?a=1&b=2")))
        .otherwise(concat(lit("https://site"), g, lit(".example.com/a/"),
          seg, lit("?a=1&b=2")))
      val withCanon = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.UrlExpressions.canonicalize(s, url).as("url_canon"),
        graft.functions.UrlExpressions.domain(s, url).as("domain"))
      val deduped = Dedup.exact(withCanon, "url_canon", "doc_id")
      Sampling.takePerKey(deduped, "domain", col("doc_id"), n = 2, seed = "u")
        .select("doc_id", "url_canon", "domain")
    }),

    // LLM: deterministic shard export — the corpus in md5(seed||id) global
    // order cut into 5000-token shards; output is the export MANIFEST
    // (shard, doc_count, token_count, content_sha) so a re-export is
    // verifiable without reading a data byte. The global prefix sum runs
    // as fixed-hex-prefix ranges (deterministic, partitioning-independent;
    // per-range offsets are plan constants) — the oracle replays the whole
    // assignment as one ordered window plus the same md5-of-id:tokens
    // shard hash.
    "q_shard_export" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      graft.operators.ShardExport
        .shardManifest(d, col("doc_id"), col("n"), tokensPerShard = 5000L,
          seed = "exp")
        .select(col("shard_id").cast("long").as("shard_id"),
          col("doc_count").cast("long").as("doc_count"),
          col("token_count").cast("long").as("token_count"),
          col("content_sha"))
    }),

    // LLM: BPE merge-list TRAINING on the real corpus — greedy
    // highest-frequency pair, 4 rounds, ties lexical (BpeTrain: corpus
    // compresses to distinct-word frequencies once, then each round is ONE
    // map-side-combined agg; the driver holds only the merge list). The
    // oracle REPLAYS the greedy argmax rounds in SQL: each round
    // re-encodes words under the previous rounds' computed winners (the
    // q_bpe_tokens replace-chain — trained lists are topologically
    // ordered by construction, so rank-order replaces equal greedy) and
    // takes the same (count DESC, pair ASC) argmax.
    "q_bpe_train" -> ((s, dir) => {
      import s.implicits._
      val learned = graft.operators.BpeTrain
        .trainBpeMerges(t(s, dir, "documents"), "text", k = 4)
      learned.zipWithIndex
        .map { case (p, i) => (i.toLong, p) }.toDF("merge_rank", "pair")
    }),

    // LLM: TRAINED quality classifier (the fastText-analog third leg next
    // to Gopher rules and LM perplexity): logistic weights over hashed
    // unigram+bigram buckets, fit DRIVER-SIDE on a bounded labeled sample
    // (docs with id % 5 == 0: their real text labeled 1, a junk twin from
    // a fixed 50-token md5 pool labeled 0), then applied to the whole
    // corpus as ONE map-only projection (the model rides the plan as an
    // array literal — in-query require proves no exchange and no join).
    // The scored corpus plants the decision: even ids carry real text
    // (reference-like vocabulary), odd ids the junk construction, so the
    // DECISION the oracle replays is arithmetic while the separation
    // itself must be LEARNED end to end — a broken hash, gradient, or
    // gather mislabels some side. n_feats (integer) rides along as the
    // tokenization cross-check.
    "q_quality_classifier" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val junkText = concat_ws(" ", transform(sequence(lit(1), lit(30)),
        i => md5(pmod(col("doc_id") + i, lit(50)).cast("string").cast("binary"))))
      // labeled quality sets are FIXED-SIZE in production — cap the
      // sample so the driver-side fit cost is constant as the corpus
      // grows (at every bench SF <= 10000 ids this is the id%5 slice
      // unchanged; only beyond does the cap bind)
      val sample = d.filter(col("doc_id") % 5 === 0 && col("doc_id") < 10000)
      val labeled = sample.select(col("doc_id"), col("text"), lit(1).as("label"))
        .unionByName(sample.select((col("doc_id") + 10000000L).as("doc_id"),
          junkText.as("text"), lit(0).as("label")))
      val model = graft.operators.QualityClassifier.train(
        labeled, "text", "label", "doc_id")
      val corpus = d.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text")).otherwise(junkText).as("text"))
      val out = graft.operators.QualityClassifier.score(corpus, "text", "doc_id", model)
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange") && !plan.contains("Join"),
        "classifier scoring must be one narrow projection — no shuffle, no join")
      out
    }),

    // LLM: PERCEPTUAL image near-dup (dHash) — byte-identical dedup misses
    // re-encoded/resized duplicate images, so dedup runs on the decoded
    // raster's difference hash, banded + Hamming-verified + connected
    // components. The corpus is constructed so every decision is
    // arithmetic: doc_id % 16 picks a base bit pattern (each 16-bit band =
    // 4 repetitions of the group nibble -> distinct groups differ in >= 16
    // bits), and each member flips one CONSECUTIVE bit pair (corrupting at
    // most one band, within-group Hamming <= 4). Planted PNGs realize the
    // pattern exactly (syntheticDHashPng), the pipeline must therefore
    // recover components == doc_id % 16 through real decode -> hash ->
    // band -> verify -> components; any hash/banding/verify bug merges or
    // splits groups and hash-mismatches the oracle.
    "q_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val imgs = spreadIds(s, t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long])
        .mapPartitions { ids =>
          ids.map { id =>
            val g = id % 16
            var bits = 0L
            var i = 0
            while (i < 64) {
              if (((g >> (i % 4)) & 1L) == 1L) bits |= 1L << i
              i += 1
            }
            val m = ((id / 16) % 32).toInt
            if (m > 0) bits ^= 3L << (2 * m) // flip a consecutive pair
            (id, Multimodal.syntheticDHashPng(bits))
          }
        }.toDF("doc_id", "media_bytes")
      Dedup.imageNearDup(imgs, "media_bytes", "doc_id", maxHamming = 8, bands = 8)
    }),

    // LLM: PERCEPTUAL video near-dup — the trilogy's third modality: each
    // doc is a real 3-frame AVI whose every (lossless PNG) frame realizes
    // the planted dHash pattern, so the frame-MAJORITY video hash equals
    // the pattern exactly and decode -> hash -> band -> Hamming ->
    // components must recover components == doc_id % 16 arithmetically.
    "q_video_neardup" -> ((s, dir) => {
      import s.implicits._
      val avis = spreadIds(s, t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long])
        .mapPartitions { ids =>
          ids.map { id =>
            val g = id % 16
            var bits = 0L
            var i = 0
            while (i < 64) {
              if (((g >> (i % 4)) & 1L) == 1L) bits |= 1L << i
              i += 1
            }
            val m = ((id / 16) % 32).toInt
            if (m > 0) bits ^= 3L << (2 * m)
            val frame = Multimodal.syntheticDHashPng(bits)
            (id, Multimodal.syntheticAvi(9, 8, 10, Seq(frame, frame, frame)))
          }
        }.toDF("doc_id", "media_bytes")
      Dedup.imageNearDup(avis, "media_bytes", "doc_id", maxHamming = 8,
        bands = 8, method = "video")
    }),

    // LLM: PERCEPTUAL audio near-dup — the image construction's audio
    // twin: each doc carries a real mono WAV whose loudness ENVELOPE
    // realizes the planted 64-bit pattern exactly (amplitude walks up/
    // down per window; energy is strictly monotone in |amplitude|), so
    // decode -> envelope hash -> band -> Hamming -> components must
    // recover components == doc_id % 16 arithmetically.
    "q_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val wavs = spreadIds(s, t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long])
        .mapPartitions { ids =>
          ids.map { id =>
            val g = id % 16
            var bits = 0L
            var i = 0
            while (i < 64) {
              if (((g >> (i % 4)) & 1L) == 1L) bits |= 1L << i
              i += 1
            }
            val m = ((id / 16) % 32).toInt
            if (m > 0) bits ^= 3L << (2 * m)
            (id, Multimodal.syntheticAudioDHashWav(bits, framesPerWindow = 16))
          }
        }.toDF("doc_id", "media_bytes")
      Dedup.imageNearDup(wavs, "media_bytes", "doc_id", maxHamming = 8,
        bands = 8, method = "audio")
    }),

    // LLM: INCREMENTAL perceptual image dedup against a persisted hash
    // index — wave 1 inserts ids%3!=0 (each planted group collapses to its
    // min member), wave 2 offers the held-out third plus re-offered
    // content under fresh ids; every wave-2 doc matches an INDEXED group
    // hash, so the probe (stats/bloom-pruned readForKeys, no corpus
    // fetch — the 8-byte hash rides in the index) must drop them ALL.
    // Final corpus is pure arithmetic: group g's first %3!=0 member, i.e.
    // g itself or g+16 when 3 | g. The in-query require proves wave 2
    // appended nothing; the oracle pins the 16 survivors exactly.
    "q_image_neardup_insert" -> ((s, dir) => {
      import s.implicits._
      val corpus = Icebox(tmp("qini_c")); val index = Icebox(tmp("qini_i"))
      def imgs(ids: org.apache.spark.sql.Dataset[Long]) =
        ids.mapPartitions { it =>
          it.map { id =>
            val g = id % 16
            var bits = 0L
            var i = 0
            while (i < 64) {
              if (((g >> (i % 4)) & 1L) == 1L) bits |= 1L << i
              i += 1
            }
            val m = ((id / 16) % 32).toInt
            if (m > 0) bits ^= 3L << (2 * m)
            (id, Multimodal.syntheticDHashPng(bits))
          }
        }.toDF("doc_id", "media_bytes")
      val all = spreadIds(s, t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long])
      Dedup.imageNearDupInsert(corpus, index,
        imgs(all.filter(_ % 3 != 0)), "media_bytes", "doc_id")
      val n2 = Dedup.imageNearDupInsert(corpus, index,
        imgs(all.filter(_ % 3 == 0))
          .unionByName(imgs(all.filter(id => id % 3 != 0 && id % 9 == 1))
            .withColumn("doc_id", col("doc_id") + 100000)), // same pixels, fresh ids
        "media_bytes", "doc_id")
      require(n2 == 0, s"every wave-2 doc duplicates an indexed group, got $n2 fresh")
      corpus.read(s).select(col("doc_id"))
    }),

    // LLM: CCNet-style paragraph dedup — boilerplate headers/footers repeat
    // across documents (constructed deterministically so the oracle can
    // replicate them); each normalized paragraph survives only at its first
    // corpus occurrence and documents are reassembled in order
    "q_paragraph_dedup" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n\n",
          concat(lit("header "), (col("doc_id") % 7).cast("string")),
          substring(col("text"), 1, 120),
          concat(lit("footer "), (col("doc_id") % 3).cast("string"))).as("text"))
      graft.operators.PassageDedup.paragraphDedup(corpus, "text", "doc_id")
    }),

    // LLM: Lee-et-al duplicated-n-gram scoring — fraction of each doc's
    // word 3-grams that appear in more than one document
    "q_ngram_dupfrac" -> ((s, dir) =>
      graft.operators.PassageDedup.duplicatedNgramStats(
        t(s, dir, "documents"), "text", "doc_id", n = 3, minDf = 1L)),

    // LLM: DSIR importance weights (Xie et al. 2023) — every document
    // scored by how much likelier its hashed unigram+bigram features are
    // under the high-quality target sample (lang=en, src0) than under the
    // raw corpus; md5-bucket hashing so the oracle replicates the exact
    // arithmetic; one aggregation per distribution + a broadcast ratio join
    "q_dsir_weights" -> ((s, dir) => {
      // spread the 1-file scan before the gram-hashing kernels (§2.5 input
      // skew — same rationale as spreadIds; profiled 2.4 s of 2.8 s in
      // 1-task stages without it)
      val docs = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
      graft.operators.Dsir.importanceWeights(docs,
        docs.filter(col("lang") === "en" && col("source") === "src0"),
        "text", "doc_id", buckets = 4096)
    }),

    // LLM: ExactSubstr duplicated-SPAN removal (Lee et al.) — the corpus is
    // reconstructed with a shared boilerplate footer AND a full self-repeat
    // of every document, so every doc carries removable duplication; each
    // >=12-word repeated span is cut everywhere but its global first
    // occurrence and the survivors rejoin whitespace-canonically
    "q_exact_substr" -> ((s, dir) => {
      val boiler = "end of document boilerplate footer line rights " +
        "reserved contact us terms privacy policy sitemap"
      // spread the 1-file scan before the L-gram explode and the per-word
      // span-cut lambdas (§2.5 input skew; profiled 2.4 s of 3.1 s in
      // 1-2-task stages without it)
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" " + boiler + " "), col("text")).as("text"))
        .repartition(s.sparkContext.defaultParallelism)
      graft.operators.PassageDedup.removeDuplicateSpans(
        corpus, "text", "doc_id", minWords = 12)
    }),

    // LLM: Misra-Gries heavy hitters — per-language top-10 words via the
    // mergeable bounded-memory sketch; capacity 64 > the corpus vocabulary
    // (31 distinct words) so the sketch is provably EXACT and the oracle
    // is the exact groupBy-count ranking (count desc, word asc)
    "q_heavy_hitters" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("word"))
      words.groupBy("lang")
        .agg(graft.functions.HeavyHitters.topK(s, col("word"), 10, 64).as("hh"))
        .select(col("lang"), posexplode(col("hh")).as(Seq("rank0", "e")))
        .select(col("lang"), (col("rank0") + 1).cast("int").as("rank"),
          col("e.item").as("word"), col("e.count").as("cnt"))
    }),

    // LLM/ops: single-pass column profiler in exact mode — counts, nulls,
    // distincts, min/max, and a deterministic decimal-sum mean, one
    // aggregation job for all profiled columns, pivoted inside the plan
    // SCALE DEFAULT (r13): profileAuto picks exact distincts at/below the
    // 100k-row threshold — the verify SF (sf0.01, 60k rows) profiles
    // EXACT, so the DuckDB oracle hash-matches — and HLL above it: the
    // bench SF (sf0.1, 600k rows) skips the Expand-by-3-columns exact
    // pass a profiler doesn't need at scale.
    "q_profile" -> ((s, dir) =>
      graft.operators.Profile.profileAuto(
        t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_quantity", "l_returnflag"))),

    // write-audit-publish on branch refs: a good batch passes its audits
    // and fast-forwards main; a bad batch (violates o_totalprice >= 0)
    // is rejected on the staging branch and never reaches main
    "q_wap" -> ((s, dir) => {
      val table = Icebox(tmp("qwap"))
      val o = t(s, dir, "orders")
      table.append(o.filter(col("o_orderkey") % 2 === 0))
      val good = o.filter(col("o_orderkey") % 2 =!= 0)
      val bad = o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", -col("o_totalprice"))
      val r1 = graft.operators.Wap.writeAuditPublish(s, table, good,
        graft.operators.Wap.audits.all(
          graft.operators.Wap.audits.noNulls(Seq("o_orderkey")),
          graft.operators.Wap.audits.expect("o_totalprice >= 0"),
          graft.operators.Wap.audits.uniqueKey(Seq("o_orderkey"))))
      val r2 = graft.operators.Wap.writeAuditPublish(s, table, bad,
        graft.operators.Wap.audits.expect("o_totalprice >= 0"))
      assert(r1.published && !r2.published,
        s"WAP gate: good=${r1.published} bad=${r2.published} (${r2.auditError})")
      table.read(s)
    }),

    // SHOW PARTITIONS answered purely from the manifest — per-partition
    // row counts with no data scan (file_count/bytes are layout-dependent,
    // so the oracle pins the partition set and exact row counts)
    "q_show_partitions" -> ((s, dir) => {
      val table = Icebox(tmp("qsp"))
      table.append(t(s, dir, "orders"), Seq("o_orderstatus"))
      graft.sql.MergeSql.register("qsp_t", table)
      graft.sql.DmlSql.run(s, "SHOW PARTITIONS qsp_t")
        .select(col("partition"), col("row_count"))
    }),

    // LLM: unicode hygiene via the native codegen expressions — zero-width
    // + control chars stripped, then NFC composition (e + combining acute
    // becomes one codepoint, observable in the codepoint length)
    "q_text_normalize" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 40), lit("\u200b"),
          lit("cafe"), lit("\u0301"), lit("\u0007"), lit("end")).as("raw"))
      val cleaned = graft.functions.UnicodeExpressions.normalize(s,
        graft.functions.UnicodeExpressions.clean(s, col("raw")), "NFC")
      raw.select(col("doc_id"), cleaned.as("text"),
        length(cleaned).as("n_codepoints"))
    }),

    // policy-driven maintenance tick (the reference's scheduled Airflow
    // compaction/aging DAGs as an engine service): 8 small commits build
    // file pressure, one tick compacts + expires per table properties,
    // and the data must be byte-identical to orders afterwards
    "q_table_service" -> ((s, dir) => {
      val table = Icebox(tmp("qsvc"))
      val o = t(s, dir, "orders")
      (0 until 8).foreach(i => table.append(o.filter(col("o_orderkey") % 8 === i)))
      table.setProperties(Map(
        "maintenance.compact.min-files" -> "4",
        "maintenance.expire.max-age-ms" -> "0",
        "maintenance.expire.retain-last" -> "2"))
      val before = table.currentSnapshot.get.files.size
      val r = graft.table.TableService.tick(s, table,
        nowMs = System.currentTimeMillis() + 60000)
      val after = table.currentSnapshot.get.files.size
      assert(r.compactedWholeTable && after < before && r.expiredSnapshots.nonEmpty,
        s"tick: compacted=${r.compactedWholeTable} files $before->$after " +
          s"expired=${r.expiredSnapshots.size}")
      table.read(s)
    })
  )

  // ------------------------------------------------------------ the oracles

  def oracleSql: Map[String, String] = Map(
    "q_scan_filter_project" ->
      "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05",

    "q_count" -> "SELECT count(*) AS cnt FROM lineitem",

    "q_union_all" ->
      "SELECT * FROM events WHERE event_type = 'click' UNION ALL SELECT * FROM events WHERE event_type = 'error'",

    "q_in_filter" -> "SELECT * FROM orders WHERE o_orderstatus IN ('O','F')",

    "q_normalize" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        | l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
        | CASE WHEN l_quantity < 25 THEN NULL ELSE l_discount END AS nan_col
        | FROM lineitem""".stripMargin,

    "q_cast_timestamp" ->
      "SELECT event_id, strptime(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '%Y-%m-%d %H:%M:%S.%f') AS ts_rt FROM events",

    "q1_agg" ->
      "SELECT l_suppkey, round(sum(l_extendedprice), 2) AS total_amount, round(sum(l_quantity), 2) AS total_quantity FROM lineitem GROUP BY 1",

    "q_agg_multi" ->
      "SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total_value, round(avg(value), 4) AS avg_value FROM events GROUP BY 1",

    "q_topk" ->
      "SELECT l_suppkey, round(sum(l_extendedprice), 2) AS revenue FROM lineitem GROUP BY 1 ORDER BY sum(l_extendedprice) DESC, l_suppkey LIMIT 10",

    "q_window_latest" ->
      "SELECT * FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1",

    "q_window_hourly" ->
      "SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt, round(sum(value), 2) AS total_value FROM events GROUP BY 1",

    "q_join_broadcast" ->
      "SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue, count(*) AS order_cnt FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1",

    "q_join_multi" ->
      "SELECT n_name, round(sum(l_extendedprice), 2) AS revenue FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey GROUP BY 1",

    "q_scalar_funcs" ->
      """SELECT o_orderkey, upper(o_orderpriority) AS prio_u,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_str,
        | epoch_ms(o_orderdate) AS od_epoch_ms,
        | o_orderdate - INTERVAL 7 DAY AS od_minus7
        | FROM orders""".stripMargin,

    "q_icebox_append" -> "SELECT * FROM orders",
    "q_icebox_overwrite" -> "SELECT * FROM orders",
    "q_icebox_timetravel" -> "SELECT * FROM orders WHERE o_orderstatus = 'O'",
    "q_icebox_incremental" -> "SELECT * FROM orders WHERE o_orderstatus <> 'O'",
    "q_orc_scan" -> "SELECT * FROM events",

    "q_csv_scan" -> "SELECT event_id, user_id, event_type FROM events",
    "q_jdbc_scan" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_orderkey <= 2000 AND l_quantity > 45""".stripMargin,

    "q_json_scan" -> "SELECT event_id, user_id, event_type FROM events",
    "q_icebox_rollback" -> "SELECT * FROM orders WHERE o_orderstatus = 'O'",
    "q_icebox_partition_prune" -> "SELECT * FROM orders WHERE o_orderstatus = 'F'",
    "q_icebox_stats_skip" -> "SELECT * FROM orders WHERE o_totalprice <= 5000.0",
    "q_bloom_prune" ->
      "SELECT * FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)",
    "q_icebox_zorder" -> "SELECT * FROM orders WHERE o_totalprice <= 5000.0",
    "q_icebox_zorder_str" -> "SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'",
    "q_icebox_time_skip" -> "SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'",

    "q_timetravel_sql" -> "SELECT * FROM orders WHERE o_orderstatus = 'O'",

    // append = union of both halves
    "q_insert_sql" -> "SELECT * FROM orders",

    "q_count_meta" -> "SELECT count(*) AS cnt FROM lineitem",

    "q_minmax_meta" ->
      """SELECT round(min(l_quantity), 2) AS min_qty, round(max(l_quantity), 2) AS max_qty,
        |       round(min(l_extendedprice), 2) AS min_price, round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem""".stripMargin,

    "q_ndv_meta" ->
      """SELECT count(DISTINCT l_orderkey) AS nd_orderkey,
        |       count(DISTINCT l_suppkey) AS nd_suppkey,
        |       count(DISTINCT l_returnflag) AS nd_returnflag
        |FROM lineitem""".stripMargin,

    // same fixed-bound equi-width bucket arithmetic, empty buckets kept
    "q_histogram" ->
      """WITH s AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
        |                  CAST(max(l_extendedprice) AS DOUBLE) AS hi FROM lineitem),
        |b AS (SELECT greatest(least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - lo)
        |        / ((hi - lo) / 16)) AS BIGINT), 15), 0) AS bucket
        |      FROM lineitem CROSS JOIN s WHERE l_extendedprice IS NOT NULL),
        |g AS (SELECT unnest(generate_series(0, 15)) AS bucket)
        |SELECT CAST(g.bucket AS BIGINT) AS bucket, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM g LEFT JOIN (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket) c
        |  USING (bucket)""".stripMargin,

    "q_percentile_meta" ->
      """SELECT CAST(0.25 AS DOUBLE) AS p,
        |       CAST(quantile_disc(l_linenumber, 0.25) AS BIGINT) AS value FROM lineitem
        |UNION ALL SELECT 0.5, quantile_disc(l_linenumber, 0.5) FROM lineitem
        |UNION ALL SELECT 0.9, quantile_disc(l_linenumber, 0.9) FROM lineitem
        |UNION ALL SELECT 0.99, quantile_disc(l_linenumber, 0.99) FROM lineitem""".stripMargin,

    // the UPDATE's row-level effect, written longhand
    "q_change_diff" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |       o_orderdate, o_orderpriority, 'insert' AS _change_type
        |  FROM orders WHERE o_totalprice < 10000
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority, 'delete' AS _change_type
        |  FROM orders WHERE o_totalprice < 10000""".stripMargin,

    "q_table_changes" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |       o_orderdate, o_orderpriority, 'insert' AS _change_type
        |  FROM orders WHERE o_totalprice < 10000
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority, 'delete' AS _change_type
        |  FROM orders WHERE o_totalprice < 10000""".stripMargin,

    "q_ctas_sql" -> "SELECT * FROM orders WHERE o_totalprice > 100000",

    // the view's canonical maintenance schema over the full source state
    "q_mv_sql" ->
      """SELECT o_orderstatus, count(*) AS row_count,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_o_totalprice,
        |       count(o_totalprice) AS nn_o_totalprice,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |             / count(o_totalprice), 4) AS avg_o_totalprice
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // every ingested row reaches the view: the streamed slices partition
    // the full table, so the view equals the plain grouped aggregate
    "q_mv_stream" ->
      """SELECT o_orderstatus, count(*) AS row_count,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_o_totalprice,
        |       count(o_totalprice) AS nn_o_totalprice
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // the joined aggregate over the final state of BOTH sides: orders
    // appended then key-deleted (%7==2 gone), customers key-deleted
    // (%10==6 gone, taking their orders with them)
    "q_mv_join" ->
      """SELECT c_mktsegment, count(*) AS row_count,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_o_totalprice,
        |       count(o_totalprice) AS nn_o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 7 <> 2 AND c_custkey % 10 <> 6
        |GROUP BY c_mktsegment""".stripMargin,

    // full recompute of the star view's final state: the dim deletes
    // surface as inner-join drop-out
    "q_mv_star" ->
      """SELECT o_orderstatus, s_nationkey, count(*) AS row_count,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_l_extendedprice,
        |       count(l_extendedprice) AS nn_l_extendedprice
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE o_orderkey % 7 <> 2 AND s_suppkey % 10 <> 6
        |GROUP BY o_orderstatus, s_nationkey""".stripMargin,

    "q_mv_snowflake" ->
      """SELECT n_name, count(*) AS row_count,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       count(l_quantity) AS nn_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey % 7 <> 3
        |GROUP BY n_name""".stripMargin,

    // dense daily grid per user (generate_series) left-joined to the
    // bucket aggregates; forward fill via last_value IGNORE NULLS — the
    // exact series the operator's sequence/explode + window must produce
    "q_resample" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('day', ts) AS bucket_ts,
        |         count(*) AS row_count, min(value) AS min_value, max(value) AS max_value
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, unnest(generate_series(min(bucket_ts), max(bucket_ts),
        |                                         INTERVAL 1 DAY)) AS bucket_ts
        |  FROM b GROUP BY user_id)
        |SELECT g.user_id, g.bucket_ts,
        |       coalesce(b.row_count, 0) AS row_count,
        |       round(b.min_value, 4) AS min_value,
        |       round(b.max_value, 4) AS max_value,
        |       round(last_value(b.min_value IGNORE NULLS) OVER
        |         (PARTITION BY g.user_id ORDER BY g.bucket_ts), 4) AS filled_value
        |FROM g LEFT JOIN b USING (user_id, bucket_ts)""".stripMargin,

    // the optimizer-served rollup must equal the direct single-key
    // aggregate (integer-valued quantities: float-exact on both engines)
    "q_mv_catalyst" ->
      """SELECT l_returnflag, count(*) AS row_count,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_l_quantity,
        |       round(CAST(sum(l_quantity) AS DOUBLE) / count(l_quantity), 4) AS avg_l_quantity,
        |       (2 * CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100) AS BIGINT) * 10000
        |        + count(l_quantity)) // (2 * count(l_quantity)) AS avg_qdec_micro
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the rollup the rewrite must reproduce from the view's rows: the
    // full-table single-key aggregate (both halves ingested by then)
    "q_mv_rewrite" ->
      """SELECT l_returnflag, count(*) AS row_count,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_l_quantity,
        |       count(l_quantity) AS nn_l_quantity,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |             / count(l_quantity), 4) AS avg_l_quantity
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // distinct supplier count over the final state — the full recompute
    // the touched-group path must land on exactly (deleted orderkeys may
    // remove a group's last carrier of a suppkey)
    "q_mv_distinct" ->
      """SELECT l_returnflag, count(*) AS row_count,
        |       count(DISTINCT l_suppkey) AS nd_l_suppkey
        |FROM lineitem WHERE l_orderkey % 10 <> 3
        |GROUP BY l_returnflag""".stripMargin,

    // filtered final state after the append + key-delete cycle (rows
    // deleted from the source drop out of the WHERE'd aggregate)
    "q_mv_where" ->
      """SELECT o_orderpriority, count(*) AS row_count,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_o_totalprice,
        |       count(o_totalprice) AS nn_o_totalprice
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 <> 7
        |GROUP BY o_orderpriority""".stripMargin,

    // the join rewrite changes which files are SCANNED (all under _mv,
    // proved by the query's require), never the answer
    "q_mv_join_catalyst" ->
      """SELECT c_mktsegment, count(*) AS order_count
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment""".stripMargin,

    // the snowflake rewrite changes which files are SCANNED (all under
    // _mv, proved by the query's require), never the answer: the direct
    // 4-table chain aggregate (integer-valued quantities: float-exact)
    "q_mv_snowflake_catalyst" ->
      """SELECT n_name, count(*) AS row_count,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    // min/max over the final state — the full recompute the incremental
    // touched-group path must land on exactly
    "q_mv_minmax" ->
      """SELECT l_returnflag, count(*) AS row_count,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_l_quantity,
        |       count(l_quantity) AS nn_l_quantity,
        |       round(CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS min_l_extendedprice,
        |       round(CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS max_l_extendedprice
        |FROM lineitem WHERE l_orderkey % 10 <> 3
        |GROUP BY l_returnflag""".stripMargin,

    // final source state after the query's append + key-delete cycle
    "q_mv_refresh" ->
      """SELECT l_returnflag, count(*) AS row_count,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_l_quantity,
        |       count(l_quantity) AS nn_l_quantity
        |FROM lineitem WHERE l_orderkey % 10 <> 3
        |GROUP BY l_returnflag""".stripMargin,

    // pre-evolution rows carry a typed NULL for the added column
    "q_schema_evolution" ->
      """SELECT *, CAST(NULL AS VARCHAR) AS o_channel
        |  FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT *, 'web-' || CAST(o_custkey % 3 AS VARCHAR) AS o_channel
        |  FROM orders WHERE o_orderkey % 2 <> 0""".stripMargin,

    // DELETE written longhand: survivors are the predicate's complement
    // (l_orderkey is non-null, so NOT(k > t) is k <= t)
    "q_delete_sql" ->
      "SELECT * FROM lineitem WHERE l_orderkey <= (SELECT max(l_orderkey) // 2 FROM lineitem)",

    // UPDATE written longhand: both assignments read the PRE-update row
    // (simultaneous assignment semantics), hence both CASEs test the
    // original o_totalprice
    "q_update_sql" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CASE WHEN o_totalprice < 10000 THEN o_totalprice * 1.1
        |            ELSE o_totalprice END AS o_totalprice,
        |       o_orderdate,
        |       CASE WHEN o_totalprice < 10000 THEN '0-REPRICED'
        |            ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders""".stripMargin,

    // subquery DELETE longhand: survivors are the complement of
    // (range conjunct AND IN-subquery); all keys involved are non-null
    "q_delete_subquery" ->
      """SELECT * FROM lineitem
        | WHERE NOT (l_orderkey > (SELECT max(l_orderkey) // 2 FROM lineitem)
        |   AND l_orderkey IN (SELECT o_orderkey FROM orders
        |                       WHERE o_orderpriority = '1-URGENT'))""".stripMargin,

    // correlated-EXISTS UPDATE longhand
    "q_update_subquery" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |       CASE WHEN o_orderkey > (SELECT max(o_orderkey) // 2 FROM orders)
        |             AND EXISTS (SELECT 1 FROM customer c
        |                          WHERE c.c_custkey = orders.o_custkey
        |                            AND c.c_mktsegment = 'BUILDING')
        |            THEN '9-VIP' ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders""".stripMargin,

    // hidden partitioning is transparent: the oracle is the plain filter
    "q_icebox_bucket_prune" ->
      "SELECT * FROM orders WHERE o_custkey = 7",

    // runtime partition pruning changes the SCAN (the require proves the
    // planted subquery), never the rows: the dim filter keeps only 'F'
    "q_dpp_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS revenue
        |  FROM orders WHERE o_orderstatus = 'F'
        | GROUP BY o_orderpriority""".stripMargin,

    // bucketing changes the PLAN (zero-exchange join, proved by the
    // query's require), never the rows: the oracle is the plain join-agg
    "q_bucket_join" ->
      """SELECT c_mktsegment, count(*) AS order_count,
        |       round(sum(o_totalprice), 2) AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment""".stripMargin,
    "q_bloom_join" ->
      """SELECT o_orderkey, count(*) AS line_count,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderkey IN (SELECT o_orderkey FROM orders
        |                      WHERE o_custkey = 7 ORDER BY o_orderkey LIMIT 10)
        | GROUP BY o_orderkey""".stripMargin,
    "q_cbo_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       round(sum(l_extendedprice), 2) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | WHERE o_totalprice <= 2000.0
        | GROUP BY c_mktsegment""".stripMargin,
    "q_cbo_order" ->
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | WHERE c_custkey <= 30
        | GROUP BY o_orderpriority""".stripMargin,
    "q_icebox_days_prune" ->
      "SELECT * FROM events WHERE ts < '2024-01-10'",

    // snapshot listing longhand: cumulative row totals after each append
    "q_snapshots_meta" ->
      """SELECT CAST(0 AS BIGINT) AS snapshot_id, 'append' AS operation,
        |       count(*) AS row_total FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'append', count(*) FROM orders WHERE o_orderkey % 3 <= 1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append', count(*) FROM orders""".stripMargin,

    // merge-on-read DELETE longhand: survivors are the predicate complement
    "q_delete_mor" ->
      "SELECT * FROM lineitem WHERE NOT (l_orderkey % 1000 = 7)",

    // maintenance is row-preserving: OPTIMIZE + VACUUM leave the multiset
    "q_maintenance_sql" -> "SELECT * FROM orders",

    // partition evolution is row-preserving across generations + migration
    "q_partition_evolve" -> "SELECT * FROM customer",

    // branch read longhand: the base table plus the branch's appended rows
    // (the main lineage's +5000 append is absent)
    "q_icebox_branch" ->
      """SELECT * FROM nation
        |UNION ALL
        |SELECT n_nationkey + 1000, n_name, n_regionkey FROM nation""".stripMargin,

    // schema evolution longhand: original rows under renamed/dropped/added
    // columns (added column NULL), plus the post-evolution appended batch
    "q_schema_evolve" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice AS price,
        |       o_orderdate, CAST(NULL AS VARCHAR) AS flag
        |  FROM orders
        |UNION ALL
        |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, 'NEW'
        |  FROM orders WHERE o_orderkey % 10 = 0""".stripMargin,

    // merge-on-read (equality-delete) upsert longhand: matched keys take the
    // batch image, unmatched survive, shifted-key rows insert
    "q_upsert_mor" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |       CASE WHEN c_custkey % 100 = 1 THEN 'MOR-UPD'
        |            ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer
        |UNION ALL
        |SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 100 = 2""".stripMargin,

    // equality delete by key longhand
    "q_delete_bykeys" ->
      "SELECT * FROM part WHERE NOT (p_partkey % 50 = 0)",

    // merge-on-read UPDATE longhand
    "q_update_mor" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |       CASE WHEN o_orderkey % 500 = 3 THEN '9-MOR'
        |            ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders""".stripMargin,

    // the MERGE semantics written out longhand: matched F-status rows
    // deleted, other matched rows repriced, +1M-key source rows inserted
    "q_merge_into" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |       o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'F'
        |UNION ALL
        |SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_orderstatus,
        |       o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,

    // identical statement & semantics to q_merge_into — merge-on-read must
    // produce byte-identical results while touching no data file
    "q_merge_mor" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |       o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'F'
        |UNION ALL
        |SELECT * FROM orders WHERE o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_orderstatus,
        |       o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    "q_icebox_indexed_read" ->
      "SELECT * FROM orders WHERE o_orderstatus = 'O' AND o_totalprice <= 50000.0",
    "q_icebox_compact" -> "SELECT * FROM lineitem",

    "q_icebox_upsert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        | o_orderdate, 'UPDATED' AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
        | UNION ALL
        | SELECT * FROM orders WHERE o_orderkey % 3 != 0 AND o_orderkey % 2 != 0""".stripMargin,

    "q_icebox_upsert_partitioned" ->
      """SELECT * FROM events WHERE event_type <> 'click'
        | UNION ALL
        | SELECT event_id, ts, user_id, event_type, value * 3 AS value, props
        |   FROM events WHERE event_type = 'click' AND event_id % 10 = 0
        | UNION ALL
        | SELECT * FROM events WHERE event_type = 'click' AND event_id % 10 != 0""".stripMargin,

    // BM25 written longhand; every float constant CAST to DOUBLE (bare
    // numeric literals are DECIMAL in DuckDB and would change the rounding)
    // all original docs survive exactly once (texts are unique; every
    // copy and re-offer was dropped by the membership probe)
    // the corpus keeps ONE doc per distinct normalized fingerprint: the
    // min doc_id among batch-1 carriers, else (fingerprints batch 1 never
    // saw) the min doc_id among the %3==0 batch-2 carriers — duplicate
    // texts exist in the corpus by construction at larger SFs, and
    // re-id'd copies (+10000) can never win the min
    // salted texts make drop ⟺ fingerprint-equality at threshold 1.0, so
    // the near-dup insert replays q_dedup_insert's two-wave arithmetic:
    // wave-1 keeps = min id per fp among %3<>0; wave-2 keeps = min id per
    // fp whose every holder is %3==0 (re-id'd copies are corpus content)
    "q_neardup_insert" ->
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |         md5(lower(regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |k1 AS (SELECT fp, min(doc_id) AS keep FROM f
        |       WHERE doc_id % 3 <> 0 GROUP BY fp),
        |k2 AS (SELECT fp, min(doc_id) AS keep FROM f
        |       WHERE fp NOT IN (SELECT fp FROM k1) GROUP BY fp)
        |SELECT f.doc_id, f.source, f.n_chars
        |FROM f JOIN (SELECT keep FROM k1 UNION ALL SELECT keep FROM k2) k
        |  ON f.doc_id = k.keep""".stripMargin,

    "q_dedup_insert" ->
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |         md5(lower(regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents),
        |k1 AS (SELECT fingerprint, min(doc_id) AS keep FROM f
        |       WHERE doc_id % 3 <> 0 GROUP BY fingerprint),
        |k2 AS (SELECT fingerprint, min(doc_id) AS keep FROM f
        |       WHERE doc_id % 3 = 0
        |         AND fingerprint NOT IN (SELECT fingerprint FROM k1)
        |       GROUP BY fingerprint)
        |SELECT f.doc_id, f.source, f.n_chars, f.fingerprint
        |FROM f JOIN (SELECT keep FROM k1 UNION ALL SELECT keep FROM k2) k
        |  ON f.doc_id = k.keep""".stripMargin,

    // every wave's content comes from documents, so the converged corpus
    // is exactly the distinct content-fingerprint set
    "q_stream_dedup" ->
      """SELECT DISTINCT
        |  md5(lower(regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    // same greedy-prefix window: cumulative tokens BEFORE the doc (hash
    // order) must be under the per-source budget
    "q_token_budget" ->
      """WITH o AS (
        |  SELECT doc_id, source, n_chars,
        |         sum(n_chars) OVER (PARTITION BY source
        |           ORDER BY md5('mix1' || CAST(doc_id AS VARCHAR)), doc_id
        |           ROWS UNBOUNDED PRECEDING) - n_chars AS before_tok
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM o
        |WHERE before_tok < CASE source WHEN 'src0' THEN 3000
        |                               WHEN 'src1' THEN 4000 ELSE 2000 END""".stripMargin,

    // lateral alias reuse: keep references the per-rule flag aliases
    "q_gopher_quality" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |w AS (SELECT doc_id, t,
        |        regexp_extract_all(t, '\S+') AS words,
        |        list_filter(string_split(t, chr(10)), l -> length(trim(l)) > 0) AS nblines
        |      FROM d)
        |SELECT doc_id,
        |  len(words) AS word_count,
        |  round(CASE WHEN len(words) = 0 THEN 0
        |        ELSE length(regexp_replace(trim(t), '\s', '', 'g')) * 1.0 / len(words) END, 4)
        |    AS mean_word_len,
        |  len(words) BETWEEN 50 AND 100000 AS g_word_count,
        |  (CASE WHEN len(words) = 0 THEN 0
        |        ELSE length(regexp_replace(trim(t), '\s', '', 'g')) * 1.0 / len(words) END)
        |    BETWEEN 3.0 AND 10.0 AS g_mean_word_len,
        |  (CASE WHEN len(words) = 0 THEN 0
        |        ELSE (length(t) - length(replace(t, '#', ''))
        |              + (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) / 3)
        |             * 1.0 / len(words) END) <= 0.1 AS g_symbol,
        |  (CASE WHEN len(nblines) = 0 THEN 0
        |        ELSE len(list_filter(nblines, l -> left(ltrim(l, ' ' || chr(9)), 1)
        |                                          IN ('-', '*', '•'))) * 1.0 / len(nblines) END)
        |    <= 0.9 AS g_bullet,
        |  (CASE WHEN len(nblines) = 0 THEN 0
        |        ELSE len(list_filter(nblines, l -> rtrim(l, ' ' || chr(9)) LIKE '%...'))
        |             * 1.0 / len(nblines) END) <= 0.3 AS g_ellipsis,
        |  (CASE WHEN len(words) = 0 THEN 0
        |        ELSE len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
        |             * 1.0 / len(words) END) >= 0.8 AS g_alpha,
        |  len(list_filter(['the','a','of','and','to','in','is','it','for','on'],
        |      s -> list_contains(list_transform(words, x -> lower(x)), s))) >= 2 AS g_stop,
        |  (g_word_count AND g_mean_word_len AND g_symbol AND g_bullet
        |   AND g_ellipsis AND g_alpha AND g_stop) AS keep
        |FROM w""".stripMargin,

    // training + stupid-backoff scoring replayed end to end; slice
    // notation: t[:-2] is all-but-last (inclusive bounds), zipped against
    // t[2:] for the bigram pairs
    "q_lm_perplexity" ->
      """WITH reft AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 = 0 AND trim(text) <> ''),
        |uni AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(t) AS w FROM reft) GROUP BY w),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS n,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS v),
        |refg AS (
        |  SELECT g[1] AS w1, g[2] AS w2
        |  FROM (SELECT unnest(list_zip(t[:-2], t[2:])) AS g FROM reft WHERE len(t) >= 2)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c FROM refg GROUP BY 1, 2),
        |doc AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2
        |  FROM (SELECT doc_id, unnest(list_zip(t[:-2], t[2:])) AS g FROM doc WHERE len(t) >= 2)),
        |scored AS (
        |  SELECT dg.doc_id,
        |    log10(CASE WHEN bi.c IS NOT NULL THEN bi.c / u1.c
        |               ELSE 0.4 * (coalesce(u2.c, 0) + 1) / (tot.n + tot.v) END) AS lp
        |  FROM dg LEFT JOIN bi ON dg.w1 = bi.w1 AND dg.w2 = bi.w2
        |          LEFT JOIN uni u1 ON dg.w1 = u1.w
        |          LEFT JOIN uni u2 ON dg.w2 = u2.w
        |          CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |               round(avg(lp), 4) AS avg_logp
        |        FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.avg_logp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    "q_lm_trigram" ->
      """WITH reft AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 = 0 AND trim(text) <> ''),
        |uni AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(t) AS w FROM reft) GROUP BY w),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS n,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS v),
        |bi AS (
        |  SELECT g[1] AS w1, g[2] AS w2, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(list_zip(t[:-2], t[2:])) AS g FROM reft WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |tri AS (
        |  SELECT g[1] AS w1, g[2] AS w2, g[3] AS w3, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(list_zip(t[:-3], t[2:-2], t[3:])) AS g FROM reft WHERE len(t) >= 3)
        |  GROUP BY 1, 2, 3),
        |doc AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2, g[3] AS w3
        |  FROM (SELECT doc_id, unnest(list_zip(t[:-3], t[2:-2], t[3:])) AS g
        |        FROM doc WHERE len(t) >= 3)),
        |scored AS (
        |  SELECT dg.doc_id,
        |    log10(CASE WHEN tri.c IS NOT NULL THEN tri.c / b12.c
        |               WHEN b23.c IS NOT NULL THEN 0.4 * b23.c / u2.c
        |               ELSE 0.16 * (coalesce(u3.c, 0) + 1) / (tot.n + tot.v) END) AS lp
        |  FROM dg LEFT JOIN tri ON dg.w1 = tri.w1 AND dg.w2 = tri.w2 AND dg.w3 = tri.w3
        |          LEFT JOIN bi b12 ON dg.w1 = b12.w1 AND dg.w2 = b12.w2
        |          LEFT JOIN bi b23 ON dg.w2 = b23.w1 AND dg.w3 = b23.w2
        |          LEFT JOIN uni u2 ON dg.w2 = u2.w
        |          LEFT JOIN uni u3 ON dg.w3 = u3.w
        |          CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |               round(avg(lp), 4) AS avg_logp
        |        FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_trigrams, 0) AS n_trigrams, a.avg_logp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // order-5 recursive stupid backoff replayed with TEXT gram keys: the
    // engine joins on xxhash64 of the gram arrays, so value agreement
    // here is the collision-free/mis-keying-free proof
    "q_lm_5gram" ->
      """WITH reft AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 = 0 AND trim(text) <> ''),
        |uni AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(t) AS w FROM reft) GROUP BY w),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS n,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS v),
        |c2 AS (
        |  SELECT g[1] AS w1, g[2] AS w2, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(list_zip(t[:-2], t[2:])) AS g FROM reft WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |c3 AS (
        |  SELECT g[1] AS w1, g[2] AS w2, g[3] AS w3, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(list_zip(t[:-3], t[2:-2], t[3:])) AS g FROM reft WHERE len(t) >= 3)
        |  GROUP BY 1, 2, 3),
        |c4 AS (
        |  SELECT g[1] AS w1, g[2] AS w2, g[3] AS w3, g[4] AS w4,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(list_zip(t[:-4], t[2:-3], t[3:-2], t[4:])) AS g
        |        FROM reft WHERE len(t) >= 4)
        |  GROUP BY 1, 2, 3, 4),
        |c5 AS (
        |  SELECT g[1] AS w1, g[2] AS w2, g[3] AS w3, g[4] AS w4, g[5] AS w5,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(list_zip(t[:-5], t[2:-4], t[3:-3], t[4:-2], t[5:])) AS g
        |        FROM reft WHERE len(t) >= 5)
        |  GROUP BY 1, 2, 3, 4, 5),
        |doc AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2, g[3] AS w3, g[4] AS w4, g[5] AS w5
        |  FROM (SELECT doc_id, unnest(list_zip(t[:-5], t[2:-4], t[3:-3], t[4:-2], t[5:])) AS g
        |        FROM doc WHERE len(t) >= 5)),
        |scored AS (
        |  SELECT dg.doc_id,
        |    log10(CASE
        |      WHEN n5.c IS NOT NULL THEN n5.c / d4.c
        |      WHEN n4.c IS NOT NULL THEN 0.4 * n4.c / d3.c
        |      WHEN n3.c IS NOT NULL THEN 0.16000000000000003 * n3.c / d2.c
        |      WHEN n2.c IS NOT NULL THEN 0.06400000000000002 * n2.c / d1.c
        |      ELSE 0.025600000000000008 * (coalesce(u5.c, 0) + 1) / (tot.n + tot.v)
        |    END) AS lp
        |  FROM dg
        |    LEFT JOIN c5 n5 ON dg.w1 = n5.w1 AND dg.w2 = n5.w2 AND dg.w3 = n5.w3
        |                   AND dg.w4 = n5.w4 AND dg.w5 = n5.w5
        |    LEFT JOIN c4 d4 ON dg.w1 = d4.w1 AND dg.w2 = d4.w2 AND dg.w3 = d4.w3
        |                   AND dg.w4 = d4.w4
        |    LEFT JOIN c4 n4 ON dg.w2 = n4.w1 AND dg.w3 = n4.w2 AND dg.w4 = n4.w3
        |                   AND dg.w5 = n4.w4
        |    LEFT JOIN c3 d3 ON dg.w2 = d3.w1 AND dg.w3 = d3.w2 AND dg.w4 = d3.w3
        |    LEFT JOIN c3 n3 ON dg.w3 = n3.w1 AND dg.w4 = n3.w2 AND dg.w5 = n3.w3
        |    LEFT JOIN c2 d2 ON dg.w3 = d2.w1 AND dg.w4 = d2.w2
        |    LEFT JOIN c2 n2 ON dg.w4 = n2.w1 AND dg.w5 = n2.w2
        |    LEFT JOIN uni d1 ON dg.w4 = d1.w
        |    LEFT JOIN uni u5 ON dg.w5 = u5.w
        |    CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |               round(avg(lp), 4) AS avg_logp
        |        FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_ngrams, 0) AS n_ngrams, a.avg_logp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // the cutoff flavor: same LM + langId CTEs, threshold = per-language
    // quantile_cont (Spark's interpolating percentile), decision replayed
    // as avg_logp >= cutoff — null-language and unscorable docs never kept
    "q_ccnet_cutoff" ->
      """WITH reft AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 = 0 AND trim(text) <> ''),
        |uni AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(t) AS w FROM reft) GROUP BY w),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS n,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS v),
        |refg AS (
        |  SELECT g[1] AS w1, g[2] AS w2
        |  FROM (SELECT unnest(list_zip(t[:-2], t[2:])) AS g FROM reft WHERE len(t) >= 2)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c FROM refg GROUP BY 1, 2),
        |doc AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2
        |  FROM (SELECT doc_id, unnest(list_zip(t[:-2], t[2:])) AS g FROM doc WHERE len(t) >= 2)),
        |scored AS (
        |  SELECT dg.doc_id,
        |    log10(CASE WHEN bi.c IS NOT NULL THEN bi.c / u1.c
        |               ELSE 0.4 * (coalesce(u2.c, 0) + 1) / (tot.n + tot.v) END) AS lp
        |  FROM dg LEFT JOIN bi ON dg.w1 = bi.w1 AND dg.w2 = bi.w2
        |          LEFT JOIN uni u1 ON dg.w1 = u1.w
        |          LEFT JOIN uni u2 ON dg.w2 = u2.w
        |          CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |               round(avg(lp), 4) AS avg_logp
        |        FROM scored GROUP BY doc_id),
        |lm AS (SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.avg_logp
        |       FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
        |ltoks AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'), t -> lower(t)) AS w
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |   len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t))) AS en,
        |   len(list_filter(w, t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','nicht'], t))) AS de,
        |   len(list_filter(w, t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t))) AS es,
        |   len(list_filter(w, t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t))) AS fr,
        |   len(list_filter(w, t -> list_contains(['的','是','了','在','和','有','我','不','这','他'], t))) AS zh
        |  FROM ltoks),
        |lang AS (
        | SELECT doc_id,
        |  CASE WHEN greatest(en, de, es, fr, zh) = 0 THEN NULL
        |       WHEN zh = greatest(en, de, es, fr, zh) THEN 'zh'
        |       WHEN fr = greatest(en, de, es, fr, zh) THEN 'fr'
        |       WHEN es = greatest(en, de, es, fr, zh) THEN 'es'
        |       WHEN en = greatest(en, de, es, fr, zh) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        | FROM hits),
        |cut AS (
        |  SELECT g.lang_pred, quantile_cont(l.avg_logp, 1 - 1.0/3) AS cutoff
        |  FROM lm l JOIN lang g ON l.doc_id = g.doc_id
        |  WHERE l.avg_logp IS NOT NULL AND g.lang_pred IS NOT NULL
        |  GROUP BY g.lang_pred)
        |SELECT l.doc_id, g.lang_pred, l.n_bigrams, l.avg_logp,
        |  (CASE WHEN l.avg_logp IS NOT NULL AND c.cutoff IS NOT NULL
        |        AND l.avg_logp >= c.cutoff THEN true ELSE false END) AS kept
        |FROM lm l JOIN lang g ON l.doc_id = g.doc_id
        |LEFT JOIN cut c ON g.lang_pred = c.lang_pred""".stripMargin,

    // the composed replay: the q_ccnet_cutoff CTE chain end to end, then
    // the q_minhash_dedup shingle-set survivor rule over the kept docs
    "q_ccnet_pipeline" ->
      """WITH reft AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 = 0 AND trim(text) <> ''),
        |uni AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(t) AS w FROM reft) GROUP BY w),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS n,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS v),
        |refg AS (
        |  SELECT g[1] AS w1, g[2] AS w2
        |  FROM (SELECT unnest(list_zip(t[:-2], t[2:])) AS g FROM reft WHERE len(t) >= 2)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c FROM refg GROUP BY 1, 2),
        |doc AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2
        |  FROM (SELECT doc_id, unnest(list_zip(t[:-2], t[2:])) AS g FROM doc WHERE len(t) >= 2)),
        |scored AS (
        |  SELECT dg.doc_id,
        |    log10(CASE WHEN bi.c IS NOT NULL THEN bi.c / u1.c
        |               ELSE 0.4 * (coalesce(u2.c, 0) + 1) / (tot.n + tot.v) END) AS lp
        |  FROM dg LEFT JOIN bi ON dg.w1 = bi.w1 AND dg.w2 = bi.w2
        |          LEFT JOIN uni u1 ON dg.w1 = u1.w
        |          LEFT JOIN uni u2 ON dg.w2 = u2.w
        |          CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |               round(avg(lp), 4) AS avg_logp
        |        FROM scored GROUP BY doc_id),
        |lmv AS (SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.avg_logp
        |       FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
        |ltoks AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'), t -> lower(t)) AS w
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |   len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t))) AS en,
        |   len(list_filter(w, t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','nicht'], t))) AS de,
        |   len(list_filter(w, t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t))) AS es,
        |   len(list_filter(w, t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t))) AS fr,
        |   len(list_filter(w, t -> list_contains(['的','是','了','在','和','有','我','不','这','他'], t))) AS zh
        |  FROM ltoks),
        |lang AS (
        | SELECT doc_id,
        |  CASE WHEN greatest(en, de, es, fr, zh) = 0 THEN NULL
        |       WHEN zh = greatest(en, de, es, fr, zh) THEN 'zh'
        |       WHEN fr = greatest(en, de, es, fr, zh) THEN 'fr'
        |       WHEN es = greatest(en, de, es, fr, zh) THEN 'es'
        |       WHEN en = greatest(en, de, es, fr, zh) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        | FROM hits),
        |cut AS (
        |  SELECT g.lang_pred, quantile_cont(l.avg_logp, 1 - 1.0/3) AS cutoff
        |  FROM lmv l JOIN lang g ON l.doc_id = g.doc_id
        |  WHERE l.avg_logp IS NOT NULL AND g.lang_pred IS NOT NULL
        |  GROUP BY g.lang_pred),
        |kept AS (
        |  SELECT l.doc_id, g.lang_pred, l.n_bigrams, l.avg_logp
        |  FROM lmv l JOIN lang g ON l.doc_id = g.doc_id
        |  LEFT JOIN cut c ON g.lang_pred = c.lang_pred
        |  WHERE l.avg_logp IS NOT NULL AND c.cutoff IS NOT NULL
        |    AND l.avg_logp >= c.cutoff),
        |norm AS (
        |  SELECT k.*, lower(regexp_replace(trim(d.text), '\s+', ' ', 'g')) AS __n
        |  FROM kept k JOIN documents d ON k.doc_id = d.doc_id)
        |SELECT doc_id, lang_pred, n_bigrams, avg_logp FROM norm
        |QUALIFY row_number() OVER (
        |  PARTITION BY list_sort(list_distinct(
        |    list_transform(range(1, greatest(len(__n) - 3, 1)), i -> substr(__n, i, 5))))
        |  ORDER BY doc_id) = 1""".stripMargin,

    // the full CCNet selection replay: LM training + backoff scoring (the
    // q_lm_perplexity CTEs), stopword langId (the q_lang_id CTEs), then
    // percent_rank per language over (avg_logp DESC NULLS LAST, doc_id) —
    // rank arithmetic is (rank-1)/(n-1) in both engines, so pr and the
    // head/middle/tail boundaries are bit-identical
    "q_ccnet_select" ->
      """WITH reft AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 = 0 AND trim(text) <> ''),
        |uni AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS c
        |  FROM (SELECT unnest(t) AS w FROM reft) GROUP BY w),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS n,
        |               (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS v),
        |refg AS (
        |  SELECT g[1] AS w1, g[2] AS w2
        |  FROM (SELECT unnest(list_zip(t[:-2], t[2:])) AS g FROM reft WHERE len(t) >= 2)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c FROM refg GROUP BY 1, 2),
        |doc AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |dg AS (
        |  SELECT doc_id, g[1] AS w1, g[2] AS w2
        |  FROM (SELECT doc_id, unnest(list_zip(t[:-2], t[2:])) AS g FROM doc WHERE len(t) >= 2)),
        |scored AS (
        |  SELECT dg.doc_id,
        |    log10(CASE WHEN bi.c IS NOT NULL THEN bi.c / u1.c
        |               ELSE 0.4 * (coalesce(u2.c, 0) + 1) / (tot.n + tot.v) END) AS lp
        |  FROM dg LEFT JOIN bi ON dg.w1 = bi.w1 AND dg.w2 = bi.w2
        |          LEFT JOIN uni u1 ON dg.w1 = u1.w
        |          LEFT JOIN uni u2 ON dg.w2 = u2.w
        |          CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |               round(avg(lp), 4) AS avg_logp
        |        FROM scored GROUP BY doc_id),
        |lm AS (SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.avg_logp
        |       FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
        |ltoks AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'), t -> lower(t)) AS w
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |   len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t))) AS en,
        |   len(list_filter(w, t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','nicht'], t))) AS de,
        |   len(list_filter(w, t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t))) AS es,
        |   len(list_filter(w, t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t))) AS fr,
        |   len(list_filter(w, t -> list_contains(['的','是','了','在','和','有','我','不','这','他'], t))) AS zh
        |  FROM ltoks),
        |lang AS (
        | SELECT doc_id,
        |  CASE WHEN greatest(en, de, es, fr, zh) = 0 THEN NULL
        |       WHEN zh = greatest(en, de, es, fr, zh) THEN 'zh'
        |       WHEN fr = greatest(en, de, es, fr, zh) THEN 'fr'
        |       WHEN es = greatest(en, de, es, fr, zh) THEN 'es'
        |       WHEN en = greatest(en, de, es, fr, zh) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        | FROM hits),
        |ranked AS (
        |  SELECT l.doc_id, g.lang_pred, l.n_bigrams, l.avg_logp,
        |    percent_rank() OVER (PARTITION BY g.lang_pred
        |      ORDER BY l.avg_logp DESC NULLS LAST, l.doc_id) AS pr
        |  FROM lm l JOIN lang g ON l.doc_id = g.doc_id)
        |SELECT doc_id, lang_pred, n_bigrams, avg_logp, pr,
        |  CASE WHEN avg_logp IS NULL THEN 'tail'
        |       WHEN pr <= 1.0/3 THEN 'head'
        |       WHEN pr <= 1 - 1.0/3 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ranked""".stripMargin,

    "q_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |       FROM documents WHERE trim(text) <> ''),
        |dl AS (SELECT doc_id, CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS DOUBLE) AS dl
        |       FROM documents),
        |stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
        |                 (SELECT avg(dl) FROM dl) AS avgdl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
        |       WHERE term IN ('join', 'vector', 'stream') GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id,
        |        sum( ln((n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
        |             * (tf * CAST(2.2 AS DOUBLE))
        |             / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / avgdl)) ) AS bm25
        |      FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |      CROSS JOIN stats GROUP BY 1)
        |SELECT d.doc_id, CAST(round(coalesce(s.bm25, 0), 4) AS DOUBLE) AS bm25
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin,

    // min-reachable-id per component via recursive closure over the same
    // |Δ token count| <= 1 pair relation; docs in no pair survive untouched
    "q_dedup_components" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id,
        |           CASE WHEN trim(text) = '' THEN 0
        |                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |         FROM documents),
        |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb
        |            FROM toks a JOIN toks b
        |              ON abs(a.n - b.n) <= 1 AND a.doc_id < b.doc_id),
        |edges AS (SELECT ida AS a, idb AS b FROM pairs
        |          UNION SELECT idb AS a, ida AS b FROM pairs),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        |reps AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
        |SELECT d.doc_id FROM documents d LEFT JOIN reps ON d.doc_id = reps.id
        |WHERE reps.id IS NULL OR reps.rep = d.doc_id""".stripMargin,

    "q_cdc_timestamp" -> "SELECT * FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'",
    "q_cdc_scn" -> "SELECT * FROM events WHERE event_id > 5000",
    "q_cdc_cycle" -> "SELECT * FROM events",

    // the three feed cycles written longhand: %5 keys carry the repriced
    // value from the last delivery, everything else its original row
    "q_change_feed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |       o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 5 = 0
        |UNION ALL
        |SELECT * FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin,

    "q_file_cdc" ->
      """SELECT event_id, ts, user_id, event_type, value * 3 AS value, props, 'a' AS dt
        |   FROM events WHERE event_id < 5000
        | UNION ALL
        | SELECT event_id, ts, user_id, event_type, value, props, 'b' AS dt
        |   FROM events WHERE event_id >= 5000""".stripMargin,

    "q_pipeline" -> "SELECT * FROM orders WHERE o_totalprice > 1000",

    "q_autocreate" -> "SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'",

    "q_catalog" ->
      """SELECT r_name, count(*) AS nations
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name""".stripMargin,

    "q_config_layered" ->
      "SELECT * FROM customer WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal >= 1000",

    // identical final state to q_file_cdc: partition a carries the rewrite
    "q_file_cdc_hash" ->
      """SELECT event_id, ts, user_id, event_type, value * 3 AS value, props, 'a' AS dt
        |   FROM events WHERE event_id < 5000
        | UNION ALL
        | SELECT event_id, ts, user_id, event_type, value, props, 'b' AS dt
        |   FROM events WHERE event_id >= 5000""".stripMargin,

    "q_icebox_cherrypick" -> "SELECT * FROM orders WHERE o_orderstatus IN ('O', 'F')",

    "q_compact_partitions" -> "SELECT * FROM events",

    "q_llm_pipeline" ->
      """WITH scored AS (
        |  SELECT *,
        |    CAST(round(
        |      (CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END * 0.3)
        |      + (CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0 ELSE (len(text) - len(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g'))) * 1.0 / len(text) END) < 0.3 THEN 1.0 ELSE 0.0 END * 0.15)
        |      + (CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0 ELSE (len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / len(text) END) < 0.3 THEN 1.0 ELSE 0.0 END * 0.15)
        |      + (CASE WHEN (CASE WHEN trim(text) = '' THEN 0.0 ELSE len(regexp_replace(trim(text), '\s', '', 'g')) * 1.0 / len(regexp_split_to_array(trim(text), '\s+')) END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END * 0.1)
        |      + (CASE WHEN (CASE WHEN len(text) = 0 THEN 0.0 ELSE (len(text) - len(regexp_replace(text, '[A-Za-zÀ-ɏ一-鿿]', '', 'g'))) * 1.0 / len(text) END) >= 0.6 THEN 1.0 ELSE 0.0 END * 0.3)
        |    , 4) AS DOUBLE) AS quality
        |  FROM documents)
        | SELECT * FROM scored WHERE quality >= 0.8
        | QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99
        | FROM events GROUP BY 1""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        | s AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        | SELECT user_id, session_id, count(*) AS n_events,
        |   min(ts) AS session_start, max(ts) AS session_end,
        |   round(sum(value), 2) AS total_value
        | FROM s GROUP BY 1, 2""".stripMargin,

    "q_set_ops" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        | INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase'
        | EXCEPT SELECT user_id FROM events WHERE event_type = 'error'""".stripMargin,

    "q_rollup" ->
      "SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total_value FROM events GROUP BY ROLLUP(event_type)",

    "q_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",

    "q_asof_join" ->
      """WITH o AS (SELECT * FROM orders
        |   QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1)
        | SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
        |        o.o_orderkey, o.o_totalprice
        | FROM events e ASOF LEFT JOIN o
        |   ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,

    "q_range_join" ->
      """SELECT p_partkey, count(*) AS cnt, round(sum(s_acctbal), 2) AS total_bal
        | FROM part JOIN supplier
        |   ON s_acctbal BETWEEN p_retailprice - 100 AND p_retailprice + 100
        | GROUP BY 1""".stripMargin,

    "q_salted_agg" ->
      "SELECT event_type, round(sum(value), 2) AS total_value, count(value) AS cnt FROM events GROUP BY 1",

    "q_salted_join" ->
      "SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey",

    "q_dedup_exact" ->
      "SELECT * FROM documents QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1",

    "q_dedup_fingerprint" ->
      "SELECT * FROM documents QUALIFY row_number() OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) ORDER BY doc_id) = 1",

    // threshold-1.0 LSH dedup keeps exactly the min-id doc per distinct
    // 5-char shingle SET (equal sets ⇒ identical signatures ⇒ candidates,
    // and Jaccard is exactly 1.0 only for equal sets at these doc sizes) —
    // the oracle recomputes that set directly. Mirrors the query's filter of
    // docs whose normalized text is below the shingle size (they get no
    // signature on the engine side).
    "q_minhash_dedup" ->
      """WITH doubled AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars FROM documents),
        |norm AS (
        |  SELECT *, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS __n FROM doubled)
        |SELECT doc_id, text, lang, source, n_chars FROM norm
        |WHERE len(__n) >= 5
        |QUALIFY row_number() OVER (
        |  PARTITION BY list_sort(list_distinct(
        |    list_transform(range(1, greatest(len(__n) - 3, 1)), i -> substr(__n, i, 5))))
        |  ORDER BY doc_id) = 1""".stripMargin,

    // verified simhash dedup keeps the min-id doc per token MULTISET (the
    // corpus contains genuine permutation near-dups, which simhash+verify
    // correctly collapses and sha256 would not). Mirrors the query's filter
    // of tokenless docs (no simhash on the engine side).
    "q_simhash_dedup" ->
      """WITH doubled AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars FROM documents)
        |SELECT * FROM doubled
        |WHERE trim(text) <> ''
        |QUALIFY row_number() OVER (
        |  PARTITION BY list_sort(regexp_split_to_array(trim(text), '\s+'))
        |  ORDER BY doc_id) = 1""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs, round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        | CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens
        | FROM documents GROUP BY 1""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        | CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        | round(CASE WHEN len(text) = 0 THEN 0.0 ELSE (len(text) - len(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g'))) * 1.0 / len(text) END, 4) AS punct_ratio,
        | round(CASE WHEN len(text) = 0 THEN 0.0 ELSE (len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / len(text) END, 4) AS digit_ratio,
        | round(CASE WHEN trim(text) = '' THEN 0.0 ELSE len(regexp_replace(trim(text), '\s', '', 'g')) * 1.0 / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS mean_word_len
        | FROM documents""".stripMargin,

    "q_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'), t -> lower(t)) AS w
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id,
        |   len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t))) AS en,
        |   len(list_filter(w, t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','nicht'], t))) AS de,
        |   len(list_filter(w, t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t))) AS es,
        |   len(list_filter(w, t -> list_contains(['le','la','de','et','un','est','que','pour','dans','sur'], t))) AS fr,
        |   len(list_filter(w, t -> list_contains(['的','是','了','在','和','有','我','不','这','他'], t))) AS zh
        |  FROM toks)
        | SELECT doc_id,
        |  CASE WHEN greatest(en, de, es, fr, zh) = 0 THEN NULL
        |       WHEN zh = greatest(en, de, es, fr, zh) THEN 'zh'
        |       WHEN fr = greatest(en, de, es, fr, zh) THEN 'fr'
        |       WHEN es = greatest(en, de, es, fr, zh) THEN 'es'
        |       WHEN en = greatest(en, de, es, fr, zh) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        | FROM hits""".stripMargin,

    "q_fingerprint" ->
      "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents",

    // 0.35 * 2^32 = 1503238553 = 0x59999999; md5 prefixes are lowercase
    // fixed-width hex in both engines, so '<' compares numerically
    "q_hash_sample" ->
      """SELECT * FROM documents
        |WHERE substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 8) < '59999999'""".stripMargin,

    // per-source thresholds: 0.1->0x19999999, 0.5->0x80000000,
    // 0.9->0xe6666666, default 0.25->0x40000000
    "q_source_mix" ->
      """SELECT * FROM documents
        |WHERE substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE source WHEN 'src0' THEN '19999999'
        |              WHEN 'src1' THEN '80000000'
        |              WHEN 'src2' THEN 'e6666666'
        |              ELSE '40000000' END""".stripMargin,

    // tempered rates replayed from the source counts: q_s = sqrt(n_s)/Z,
    // rate_s = round(least(1, 0.5 * N * q_s / n_s), 6); acceptance is the
    // same content-keyed uniform as every sampling oracle
    "q_temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id, least(doc_id % 10, 3) AS src, source, lang
        |  FROM documents),
        |c AS (SELECT src, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY src),
        |t AS (SELECT sum(sqrt(n)) AS z, sum(n) AS total FROM c),
        |r AS (SELECT src, round(least(1.0, 0.5 * total * (sqrt(n) / z) / n), 6) AS rate
        |      FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.src, d.source, d.lang
        |FROM d JOIN r USING (src)
        |WHERE CAST(('0x' || substr(md5('t' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        / 4294967296.0 < r.rate""".stripMargin,

    // per-row probability: the content-keyed uniform (8-hex md5 prefix /
    // 2^32) compared against the same length-derived probability — pure
    // integer-hash + double arithmetic, identical in both engines
    "q_weighted_sample" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE CAST(('0x' || substr(md5('w' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        / 4294967296.0
        |      < least(1.0, greatest(0.0, CAST(length(text) AS DOUBLE) / 400.0))""".stripMargin,

    // the whole chain as CTEs: gate (n>=5) → decontaminate (8-gram overlap
    // vs doc_id%19) → fingerprint dedup → mix (0.2/0.8/0.5 thresholds
    // 33333333/cccccccc/80000000) → pack (budget 256)
    "q_dataprep_pipeline" ->
      """WITH toks AS (
        |  SELECT doc_id, text, source,
        |         CASE WHEN trim(text) = '' THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |gated AS (SELECT * FROM toks WHERE n >= 5),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           generate_series(1, len(ts) - 7),
        |           i -> array_to_string(ts[i:i+7], ' ')))) AS g
        |  FROM toks WHERE len(ts) >= 8),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 19 = 0),
        |bad AS (SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g)),
        |decon AS (SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |dedup AS (SELECT * FROM decon
        |  QUALIFY row_number() OVER (
        |    PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |    ORDER BY doc_id) = 1),
        |mixed AS (SELECT * FROM dedup
        |  WHERE substr(md5('dp' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |    CASE source WHEN 'src0' THEN '33333333'
        |                WHEN 'src1' THEN 'cccccccc'
        |                ELSE '80000000' END),
        |c AS (SELECT doc_id, source, n,
        |        CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS start
        |      FROM mixed)
        |SELECT doc_id, source,
        |       CAST(floor(start / 256.0) AS BIGINT) AS seq_id,
        |       start % 256 AS seq_offset
        |  FROM c""".stripMargin,

    // start-offset binning over the per-shard running token total; a doc
    // straddling a boundary belongs to the sequence its first token is in
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CASE WHEN trim(text) = '' THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n,
        |         CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |                           ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS start
        |  FROM t)
        |SELECT doc_id, source,
        |       CAST(floor(start / 512.0) AS BIGINT) AS seq_id,
        |       start % 512 AS seq_offset
        |  FROM c""".stripMargin,

    // hash order is engine-identical (md5 hex), ties impossible but broken
    // on doc_id anyway
    "q_cap_per_source" ->
      """SELECT * FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id) <= 10""".stripMargin,

    // same synthetic PII construction, same literal patterns ('g' = all
    // occurrences, Spark's regexp_replace default)
    "q_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text || ' reach user' || CAST(doc_id AS VARCHAR)
        |              || '@example.com or 555-867-'
        |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.42' AS s
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(s,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS redacted,
        |  len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(s, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
        |  len(regexp_extract_all(s, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ip
        |FROM p""".stripMargin,

    // contamination = sharing any 8-token shingle with the doc_id%19=0
    // "benchmark" subset; docs under 8 tokens have no shingles
    // the injected eval copies are bit-identical vectors: the only pairs
    // clearing cosine 0.99 on this corpus, and identical vectors always
    // share every hyperplane bucket — so the flag set is exact
    "q_decon_semantic" ->
      """SELECT vec_id, label, (vec_id < 20) AS contaminated
        |FROM embeddings""".stripMargin,

    // positions of matching 8-grams -> interval coverage -> ordered
    // reassembly of surviving normalized tokens
    "q_decontaminate_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i - 1 AS p0, array_to_string(ts[i:i+7], ' ') AS g
        |  FROM toks, unnest(range(1, len(ts) - 6)) AS u(i)
        |  WHERE len(ts) >= 8),
        |bench AS (
        |  SELECT DISTINCT array_to_string(ts[i:i+7], ' ') AS g
        |  FROM toks, unnest(range(1, len(ts) - 6)) AS u(i)
        |  WHERE len(ts) >= 8 AND doc_id % 19 = 0),
        |hits AS (SELECT DISTINCT grams.doc_id, p0 FROM grams JOIN bench USING (g)),
        |tok AS (
        |  SELECT doc_id, i - 1 AS idx, ts[i] AS w
        |  FROM toks, unnest(range(1, len(ts) + 1)) AS u(i)),
        |keepw AS (
        |  SELECT t.doc_id, t.idx, t.w
        |  FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM hits h
        |    WHERE h.doc_id = t.doc_id AND h.p0 <= t.idx AND t.idx <= h.p0 + 7)),
        |agg AS (
        |  SELECT doc_id, coalesce(string_agg(w, ' ' ORDER BY idx), '') AS text,
        |    count(*) AS n_kept
        |  FROM keepw GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.text, '') AS text,
        |  CAST(len(regexp_split_to_array(lower(trim(d.text)), '\s+'))
        |    - coalesce(a.n_kept, 0) AS BIGINT) AS n_scrubbed
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           generate_series(1, len(ts) - 7),
        |           i -> array_to_string(ts[i:i+7], ' ')))) AS g
        |  FROM toks WHERE len(ts) >= 8),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 19 = 0),
        |bad AS (SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g))
        |SELECT d.doc_id, (bad.doc_id IS NOT NULL) AS contaminated
        |  FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id""".stripMargin,

    // chunk i of the whitespace tokens w covers w[i*8+1 .. i*8+10]
    // (1-based inclusive slice); one chunk when len <= 10
    "q_text_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE trim(text) <> ''),
        |n AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 10 THEN 1
        |         ELSE 1 + CAST(ceil((len(w) - 10) / 8.0) AS INTEGER) END AS nc
        |  FROM d)
        |SELECT doc_id, i AS chunk_id, array_to_string(w[i*8+1 : i*8+10], ' ') AS chunk
        |FROM n, unnest(range(0, nc)) AS u(i)""".stripMargin,

    "q_chunk_pipeline" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |  WHERE trim(text) <> '' AND len(regexp_split_to_array(trim(text), '\s+')) >= 20),
        |n AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 10 THEN 1
        |         ELSE 1 + CAST(ceil((len(w) - 10) / 8.0) AS INTEGER) END AS nc
        |  FROM d),
        |ch AS (
        |  SELECT doc_id, i AS chunk_id, array_to_string(w[i*8+1 : i*8+10], ' ') AS chunk,
        |         len(w[i*8+1 : i*8+10]) AS n_tokens
        |  FROM n, unnest(range(0, nc)) AS u(i))
        |SELECT doc_id, chunk_id, chunk, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM ch
        |QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) = 1""".stripMargin,

    // LEFT JOIN keeps docs with < 2 tokens (no bigrams) at ratio 0, matching
    // the engine's explode_outer
    "q_text_topgram" ->
      """WITH d AS (
        |  SELECT doc_id, len(text) AS tl, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE trim(text) <> ''),
        |e AS (
        |  SELECT doc_id, tl, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM d WHERE len(w) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY 1, 2),
        |m AS (SELECT doc_id, max(cnt * len(gram)) AS top FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  round(CASE WHEN m.top IS NULL OR d.tl = 0 THEN CAST(0 AS DOUBLE)
        |             ELSE CAST(m.top AS DOUBLE) / d.tl END, 4) AS top_ngram_char_ratio
        |FROM d LEFT JOIN m USING (doc_id)""".stripMargin,

    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text ELSE text END AS tt
        |  FROM documents WHERE trim(text) <> ''),
        |l AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(tt, chr(10)), x -> trim(x) <> '')) AS nl,
        |    len(list_distinct(list_filter(string_split(tt, chr(10)), x -> trim(x) <> ''))) AS nd
        |  FROM t)
        |SELECT doc_id,
        |  round(CASE WHEN nl = 0 THEN CAST(0 AS DOUBLE)
        |             ELSE CAST(nl - nd AS DOUBLE) / nl END, 4) AS dup_line_ratio
        |FROM l""".stripMargin,

    "q_ann_topk" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine,
        | row_number() OVER (PARTITION BY a.vec_id
        |   ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < 8 AND b.vec_id != a.vec_id
        | QUALIFY rank <= 5""".stripMargin,

    // full-probe IVF (nprobe = nlist) degenerates to exact search: the
    // oracle is brute-force top-k, independent of the trained centroids
    "q_ann_ivf_kmeans" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine,
        | row_number() OVER (PARTITION BY a.vec_id
        |   ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < 8 AND b.vec_id != a.vec_id
        | QUALIFY rank <= 5""".stripMargin,

    // recall invariants: the engine emits every violating pair; the oracle
    // asserts there are none (the LSH guarantee is exactly "this is empty")
    "q_minhash_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS idA, CAST(NULL AS BIGINT) AS idB WHERE 1 = 0",
    "q_simhash_recall" ->
      "SELECT CAST(NULL AS BIGINT) AS idA, CAST(NULL AS BIGINT) AS idB WHERE 1 = 0",

    // the injected duplicates are bit-identical vectors: the only pairs that
    // can clear cosine >= 0.99 on this corpus (max inter-vector cosine ~0.45),
    // and identical vectors always share every LSH bucket — so the exact
    // output is SQL-expressible even though the bucketing isn't.
    "q_embed_neardup" ->
      """SELECT vec_id AS idA, vec_id + 1000000 AS idB, CAST(1.0 AS DOUBLE) AS cosine
        | FROM embeddings WHERE vec_id < 20""".stripMargin,

    // full-pipeline replay: same 16 seed centroids, same argmin assignment
    // (q_ann_ivf's arithmetic); survivors = min id per DISTINCT VECTOR
    // (identical vectors co-cluster at cosine 1.0 with equal csim, so the
    // tie-break keeps the min id; no distinct-vector pair reaches 0.99) —
    // the fp-group form stays exact at sf1, where the 10x embeddings are
    // re-id'd exact copies
    "q_semdedup" ->
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 20),
        |k AS (SELECT CAST(v AS VARCHAR) AS fp, min(vec_id) AS keep
        |      FROM u GROUP BY fp),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |      FROM embeddings ORDER BY vec_id LIMIT 16),
        |a AS (
        |  SELECT u.vec_id, c.cid, list_cosine_similarity(u.v, c.ce) AS csim
        |  FROM u CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY u.vec_id
        |    ORDER BY list_distance(u.v, c.ce), c.cid) = 1)
        |SELECT a.vec_id, a.cid AS cluster_id, round(a.csim, 4) AS centroid_sim
        |FROM a JOIN k ON a.vec_id = k.keep""".stripMargin,

    // same bit-identical-only property (max inter-vector cosine ~0.6 at
    // sf0.1) makes the incremental insert replay q_neardup_insert's
    // two-wave min-id arithmetic on exact vector equality: wave-1 keeps =
    // min id per vector among %3<>0; wave-2 keeps = min id per vector whose
    // every holder is %3==0 (re-id'd +1000000 copies are corpus content)
    "q_embed_neardup_insert" ->
      """WITH f AS (
        |  SELECT vec_id, label, CAST(embedding AS VARCHAR) AS fp FROM embeddings),
        |k1 AS (SELECT fp, min(vec_id) AS keep FROM f
        |       WHERE vec_id % 3 <> 0 GROUP BY fp),
        |k2 AS (SELECT fp, min(vec_id) AS keep FROM f
        |       WHERE fp NOT IN (SELECT fp FROM k1) GROUP BY fp)
        |SELECT f.vec_id, f.label
        |FROM f JOIN (SELECT keep FROM k1 UNION ALL SELECT keep FROM k2) k
        |  ON f.vec_id = k.keep""".stripMargin,

    // two-wave min-id keeps on exact vector equality (the bit-identical
    // property), assignment evidence replayed by the q_semdedup argmin
    "q_semdedup_insert" ->
      """WITH f AS (
        |  SELECT vec_id, CAST(embedding AS VARCHAR) AS fp,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |k1 AS (SELECT fp, min(vec_id) AS keep FROM f
        |       WHERE vec_id % 3 <> 0 GROUP BY fp),
        |k2 AS (SELECT fp, min(vec_id) AS keep FROM f
        |       WHERE fp NOT IN (SELECT fp FROM k1) GROUP BY fp),
        |kept AS (
        |  SELECT f.vec_id, f.v
        |  FROM f JOIN (SELECT keep FROM k1 UNION ALL SELECT keep FROM k2) k
        |    ON f.vec_id = k.keep),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |      FROM embeddings ORDER BY vec_id LIMIT 16)
        |SELECT kept.vec_id, c.cid AS cluster_id,
        |  round(list_cosine_similarity(kept.v, c.ce), 4) AS centroid_sim
        |FROM kept CROSS JOIN c
        |QUALIFY row_number() OVER (PARTITION BY kept.vec_id
        |  ORDER BY list_distance(kept.v, c.ce), c.cid) = 1""".stripMargin,

    "q_ann_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings ORDER BY vec_id LIMIT 16),
        | assigned AS (
        |   SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cv, c.cid AS cluster
        |   FROM embeddings e CROSS JOIN c
        |   QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.ce), c.cid) = 1),
        | probes AS (
        |   SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cid AS cluster
        |   FROM embeddings q CROSS JOIN c
        |   WHERE q.vec_id < 8
        |   QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), c.ce), c.cid) <= 4)
        | SELECT query_id, neighbor_id,
        |   round(list_cosine_similarity(qv, cv), 4) AS cosine,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        | FROM assigned a JOIN probes p ON a.cluster = p.cluster
        | WHERE neighbor_id != query_id
        | QUALIFY rank <= 5""".stripMargin,

    // identical arithmetic to q_ann_ivf — the persisted index changes WHERE
    // assignment happens (once at ingest, partition layout) but not WHAT is
    // computed, so the oracle is the same SQL
    "q_ann_ivf_insert" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings ORDER BY vec_id LIMIT 16),
        | assigned AS (
        |   SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cv, c.cid AS cluster
        |   FROM embeddings e CROSS JOIN c
        |   QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.ce), c.cid) = 1),
        | probes AS (
        |   SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cid AS cluster
        |   FROM embeddings q CROSS JOIN c
        |   WHERE q.vec_id < 8
        |   QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), c.ce), c.cid) <= 4)
        | SELECT query_id, neighbor_id,
        |   round(list_cosine_similarity(qv, cv), 4) AS cosine,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        | FROM assigned a JOIN probes p ON a.cluster = p.cluster
        | WHERE neighbor_id != query_id
        | QUALIFY rank <= 5""".stripMargin,

    // at refineK >= every probed list the ADC stage passes everything to
    // the exact re-rank, so IVF-PQ output == float-index output — the
    // q_ann_ivf_insert SQL verbatim (PQ internals are proven by the
    // in-query requires, not the oracle)
    "q_ann_ivfpq" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings ORDER BY vec_id LIMIT 16),
        | assigned AS (
        |   SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cv, c.cid AS cluster
        |   FROM embeddings e CROSS JOIN c
        |   QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.ce), c.cid) = 1),
        | probes AS (
        |   SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cid AS cluster
        |   FROM embeddings q CROSS JOIN c
        |   WHERE q.vec_id < 8
        |   QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), c.ce), c.cid) <= 4)
        | SELECT query_id, neighbor_id,
        |   round(list_cosine_similarity(qv, cv), 4) AS cosine,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        | FROM assigned a JOIN probes p ON a.cluster = p.cluster
        | WHERE neighbor_id != query_id
        | QUALIFY rank <= 5""".stripMargin,

    // post-migration assignment under the retired-centroid-3 set: the
    // argmin replay over that exact set (ties to the lowest cid, as the
    // kernel breaks them)
    "q_ann_ivfpq_reassign" ->
      """WITH c AS (
        |  SELECT CAST(vec_id AS BIGINT) AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings WHERE vec_id < 64 AND vec_id != 3)
        |SELECT e.vec_id, c.cid AS list
        |FROM embeddings e CROSS JOIN c
        |QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |  ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.ce), c.cid) = 1""".stripMargin,

    // post-migration state is vectors assigned to the SAME lowest-16
    // centroid set q_ann_ivf_insert uses — the stale 8-list era is
    // invisible after ivfReassign, so the oracle is that identical SQL
    "q_ann_ivf_retrain" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings ORDER BY vec_id LIMIT 16),
        | assigned AS (
        |   SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cv, c.cid AS cluster
        |   FROM embeddings e CROSS JOIN c
        |   QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.ce), c.cid) = 1),
        | probes AS (
        |   SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cid AS cluster
        |   FROM embeddings q CROSS JOIN c
        |   WHERE q.vec_id < 8
        |   QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), c.ce), c.cid) <= 4)
        | SELECT query_id, neighbor_id,
        |   round(list_cosine_similarity(qv, cv), 4) AS cosine,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        | FROM assigned a JOIN probes p ON a.cluster = p.cluster
        | WHERE neighbor_id != query_id
        | QUALIFY rank <= 5""".stripMargin,

    // replay the merges: per word, encode chars with double-space joints,
    // apply the 12 merges in rank order as boundary-anchored replaces
    // (equal to the greedy loop for a topologically-ordered list), count
    // surviving tokens
    "q_bpe_tokens" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        |  FROM documents),
        |enc AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(
        |      ' ' || trim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ',
        |      ' t  h ', ' th '), ' th  e ', ' the '), ' e  r ', ' er '),
        |      ' a  b ', ' ab '), ' ab  l ', ' abl '), ' abl  e ', ' able '),
        |      ' q  u ', ' qu '), ' er  y ', ' ery '), ' s  c ', ' sc '),
        |      ' sc  a ', ' sca '), ' sca  n ', ' scan '), ' o  r ', ' or ') AS e
        |  FROM w)
        |SELECT doc_id,
        |  CAST(sum(len(regexp_split_to_array(trim(e), ' +'))) AS BIGINT) AS bpe_tokens,
        |  CAST(count(*) AS BIGINT) AS ws_tokens
        |FROM enc GROUP BY doc_id""".stripMargin,

    // per word: the merge-chain token count; prefix window sum; chunk =
    // integer-divided prefix; words re-joined in position order
    "q_bpe_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE trim(text) <> ''),
        |words AS (
        |  SELECT doc_id, i AS pos, w[i] AS word
        |  FROM d, unnest(range(1, len(w) + 1)) AS u(i)),
        |cnt AS (
        |  SELECT doc_id, pos, word,
        |    len(regexp_split_to_array(trim(
        |    replace(replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(
        |      ' ' || trim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ',
        |      ' t  h ', ' th '), ' th  e ', ' the '), ' e  r ', ' er '),
        |      ' a  b ', ' ab '), ' ab  l ', ' abl '), ' abl  e ', ' able '),
        |      ' q  u ', ' qu '), ' er  y ', ' ery '), ' s  c ', ' sc '),
        |      ' sc  a ', ' sca '), ' sca  n ', ' scan '), ' o  r ', ' or ')
        |    ), ' +')) AS c
        |  FROM words),
        |pre AS (
        |  SELECT doc_id, pos, word,
        |    sum(c) OVER (PARTITION BY doc_id ORDER BY pos) - c AS bf
        |  FROM cnt)
        |SELECT doc_id, CAST(bf // 32 AS BIGINT) AS chunk_id,
        |  string_agg(word, ' ' ORDER BY pos) AS chunk
        |FROM pre GROUP BY doc_id, bf // 32""".stripMargin,

    // replay: merge-chain per word -> token ids by vocab position (-1 when
    // absent) -> per-source stream with the 1000000 separator -> 64-id
    // slices; list_position returns 0 for a missing element so -1 falls
    // out of the same arithmetic
    "q_bpe_pack" ->
      """WITH d AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, source, i AS pos, w[i] AS word
        |  FROM d, unnest(range(1, len(w) + 1)) AS u(i)
        |  WHERE w[i] <> ''),
        |enc AS (
        |  SELECT doc_id, source, pos,
        |    replace(replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(
        |      ' ' || trim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ',
        |      ' t  h ', ' th '), ' th  e ', ' the '), ' e  r ', ' er '),
        |      ' a  b ', ' ab '), ' ab  l ', ' abl '), ' abl  e ', ' able '),
        |      ' q  u ', ' qu '), ' er  y ', ' ery '), ' s  c ', ' sc '),
        |      ' sc  a ', ' sca '), ' sca  n ', ' scan '), ' o  r ', ' or ') AS e
        |  FROM words),
        |ids AS (
        |  SELECT doc_id, source, pos,
        |    array_to_string(list_transform(regexp_split_to_array(trim(e), ' +'),
        |      t -> CAST(list_position(['a','b','c','d','e','f','g','h','i','j',
        |        'k','l','m','n','o','p','q','r','s','t','u','v','w','x','y','z',
        |        'th','the','er','ab','abl','able','qu','ery','sc','sca','scan',
        |        'or'], t) - 1 AS VARCHAR)), ' ') AS idstr
        |  FROM enc),
        |docstr AS (
        |  SELECT dd.doc_id, dd.source,
        |    CASE WHEN i.s IS NULL THEN '1000000' ELSE i.s || ' 1000000' END AS dstr
        |  FROM (SELECT doc_id, source FROM documents) dd
        |  LEFT JOIN (SELECT doc_id, string_agg(idstr, ' ' ORDER BY pos) AS s
        |             FROM ids GROUP BY doc_id) i USING (doc_id)),
        |stream AS (
        |  SELECT source,
        |    regexp_split_to_array(string_agg(dstr, ' ' ORDER BY doc_id), ' +') AS ids
        |  FROM docstr GROUP BY source)
        |SELECT source, CAST(k AS BIGINT) AS seq_id,
        |  array_to_string(ids[k * 64 + 1 : least(len(ids), (k + 1) * 64)], ' ') AS ids_str
        |FROM stream, unnest(range(0, (len(ids) + 63) // 64)) AS u(k)""".stripMargin,

    // the planted canonical is pure arithmetic: variants 0-2 merge, the
    // :8080 and https variants stay distinct; min-id keeps, then the
    // per-domain quota replays takePerKey's md5 order
    "q_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, doc_id % 50 AS g, (doc_id // 50) % 5 AS v,
        |    substr(md5(CAST(doc_id % 50 AS VARCHAR)), 1, 6) AS seg
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    'site' || g || '.example.com' AS domain,
        |    CASE WHEN v IN (0, 1, 2)
        |      THEN 'http://site' || g || '.example.com/a/' || seg || '?a=1&b=2'
        |    WHEN v = 3
        |      THEN 'http://site' || g || '.example.com:8080/a/' || seg || '?a=1&b=2'
        |    ELSE 'https://site' || g || '.example.com/a/' || seg || '?a=1&b=2'
        |    END AS url_canon
        |  FROM u),
        |k AS (SELECT url_canon, min(doc_id) AS keep FROM c GROUP BY 1),
        |d AS (SELECT c.doc_id, c.url_canon, c.domain
        |      FROM c JOIN k ON c.doc_id = k.keep),
        |r AS (SELECT *, row_number() OVER (PARTITION BY domain
        |        ORDER BY md5('u' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM d)
        |SELECT doc_id, url_canon, domain FROM r WHERE rk <= 2""".stripMargin,

    // the md5 global order as ONE window; shard = floor(prefix/5000);
    // content_sha = md5 of 'id:tokens' joined in order
    "q_shard_export" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n,
        |    md5('exp' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n, k,
        |    sum(n) OVER (ORDER BY k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS st
        |  FROM n)
        |SELECT CAST(st // 5000 AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS doc_count,
        |  CAST(sum(n) AS BIGINT) AS token_count,
        |  md5(string_agg(doc_id || ':' || n, ',' ORDER BY k, doc_id)) AS content_sha
        |FROM p GROUP BY 1""".stripMargin,

    // four greedy argmax rounds, each re-encoding under the previous
    // winners (scalar subqueries), counting adjacent pairs weighted by
    // word frequency, tie-broken lexically
    "q_bpe_train" ->
      """WITH wf AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |e0 AS (
        |  SELECT f, ' ' || trim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ' AS e
        |  FROM wf),
        |m0 AS (
        |  SELECT p FROM (
        |    SELECT t[i] || ' ' || t[i+1] AS p, sum(f) AS c
        |    FROM (SELECT f, regexp_split_to_array(trim(e), ' +') AS t FROM e0),
        |         unnest(range(1, len(t))) AS u(i)
        |    GROUP BY 1)
        |  ORDER BY c DESC, p ASC LIMIT 1),
        |e1 AS (SELECT f, replace(e, ' ' || replace((SELECT p FROM m0), ' ', '  ') || ' ',
        |                            ' ' || replace((SELECT p FROM m0), ' ', '') || ' ') AS e
        |       FROM e0),
        |m1 AS (
        |  SELECT p FROM (
        |    SELECT t[i] || ' ' || t[i+1] AS p, sum(f) AS c
        |    FROM (SELECT f, regexp_split_to_array(trim(e), ' +') AS t FROM e1),
        |         unnest(range(1, len(t))) AS u(i)
        |    GROUP BY 1)
        |  ORDER BY c DESC, p ASC LIMIT 1),
        |e2 AS (SELECT f, replace(e, ' ' || replace((SELECT p FROM m1), ' ', '  ') || ' ',
        |                            ' ' || replace((SELECT p FROM m1), ' ', '') || ' ') AS e
        |       FROM e1),
        |m2 AS (
        |  SELECT p FROM (
        |    SELECT t[i] || ' ' || t[i+1] AS p, sum(f) AS c
        |    FROM (SELECT f, regexp_split_to_array(trim(e), ' +') AS t FROM e2),
        |         unnest(range(1, len(t))) AS u(i)
        |    GROUP BY 1)
        |  ORDER BY c DESC, p ASC LIMIT 1),
        |e3 AS (SELECT f, replace(e, ' ' || replace((SELECT p FROM m2), ' ', '  ') || ' ',
        |                            ' ' || replace((SELECT p FROM m2), ' ', '') || ' ') AS e
        |       FROM e2),
        |m3 AS (
        |  SELECT p FROM (
        |    SELECT t[i] || ' ' || t[i+1] AS p, sum(f) AS c
        |    FROM (SELECT f, regexp_split_to_array(trim(e), ' +') AS t FROM e3),
        |         unnest(range(1, len(t))) AS u(i)
        |    GROUP BY 1)
        |  ORDER BY c DESC, p ASC LIMIT 1)
        |SELECT CAST(0 AS BIGINT) AS merge_rank, p AS pair FROM m0
        |UNION ALL SELECT 1, p FROM m1
        |UNION ALL SELECT 2, p FROM m2
        |UNION ALL SELECT 3, p FROM m3""".stripMargin,

    // the planted separation: even ids carry reference-like text (keep),
    // odd ids the junk construction (drop); n_feats = unigrams + bigrams
    // of whichever text the row scored (every real doc has >= 10 words)
    "q_quality_classifier" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN 2 * len(regexp_split_to_array(trim(text), '\s+')) - 1
        |    ELSE 59 END AS BIGINT) AS n_feats,
        |  (doc_id % 2 = 0) AS keep
        |FROM documents""".stripMargin,

    // identical planted-group arithmetic as the image flavor
    "q_video_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_id % 16 AS BIGINT) AS dup_group,
        |  (doc_id >= 16) AS is_dup
        |FROM documents""".stripMargin,

    // identical planted-group arithmetic as the image flavor
    "q_audio_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_id % 16 AS BIGINT) AS dup_group,
        |  (doc_id >= 16) AS is_dup
        |FROM documents""".stripMargin,

    // the 16 survivors: group g's first member with id % 3 != 0 (ids are
    // dense from 0; 3 | g pushes the representative to g + 16)
    "q_image_neardup_insert" ->
      """SELECT CAST(CASE WHEN g % 3 <> 0 THEN g ELSE g + 16 END AS BIGINT) AS doc_id
        |FROM (SELECT unnest(range(0, 16)) AS g)""".stripMargin,

    // the planted perceptual groups: component = doc_id % 16 (ids are
    // dense from 0, so the min-id representative of group g is g itself)
    "q_image_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_id % 16 AS BIGINT) AS dup_group,
        |  (doc_id >= 16) AS is_dup
        |FROM documents""".stripMargin,

    "q_multimodal_stats" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS content_hash,
        | len(text) * 10 AS duration_ms FROM documents""".stripMargin,

    // every column is computed inside the decode kernel from the raw bytes;
    // the oracle recomputes the byte count and the kernel's structural
    // contract (8 features, all in [0,1]) independently
    "q_multimodal_decode" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | CAST(8 AS BIGINT) AS n_features, TRUE AS features_ok
        | FROM documents""".stripMargin,

    // the oracle predicts what a GENUINE raster decode must return for the
    // synthetic uniform-gray PNGs (mean_intensity on the raw 0-255 sample
    // scale; exact in double — every sample equals doc_id % 256)
    "q_image_decode" ->
      """SELECT doc_id, CAST(8 + doc_id % 24 AS INT) AS width,
        | CAST(8 + doc_id % 16 AS INT) AS height, CAST(3 AS INT) AS channels,
        | CAST(doc_id % 256 AS DOUBLE) AS mean_intensity
        | FROM documents""".stripMargin,

    // the oracle predicts what a GENUINE PCM decode must return for the
    // synthetic square-wave WAVs (RMS exactly v/32768; duration exact since
    // frames is a multiple of rate/1000)
    "q_audio_decode" ->
      """SELECT doc_id, CAST(8000 AS INT) AS sample_rate_hz,
        | CAST(1 + doc_id % 2 AS INT) AS channels,
        | CAST(800 + (doc_id % 10) * 80 AS BIGINT) AS frames,
        | CAST(100 + (doc_id % 10) * 10 AS BIGINT) AS duration_ms,
        | CAST((doc_id % 100) * 300 AS DOUBLE) / 32768 AS rms
        | FROM documents""".stripMargin,

    // the oracle predicts what a GENUINE container+frame decode must return
    // for the synthetic PNG-frame AVIs: dims from the decoded raster, frame
    // count from the movi chunk walk, duration floor-divided in the stream
    // timebase, and mean intensity v0 + (nf-1)/2 — exact in double
    // arithmetic (half-integers), and only reachable by decoding EVERY
    // frame (frame f is gray v0+f)
    "q_video_decode" ->
      """SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS width,
        | CAST(8 + doc_id % 8 AS INT) AS height,
        | CAST(2 + doc_id % 4 AS INT) AS frames,
        | CAST(10 + doc_id % 5 AS DOUBLE) AS fps,
        | CAST((2 + doc_id % 4) * 1000 // (10 + doc_id % 5) AS BIGINT) AS duration_ms,
        | CAST(doc_id % 200 AS DOUBLE) + (1 + doc_id % 4) / 2.0 AS mean_intensity
        | FROM documents""".stripMargin,

    // global first-occurrence paragraph dedup over the reconstructed
    // header/body/footer corpus: first = lowest (doc_id, position) per
    // case-folded paragraph; docs reassembled in order; all-boilerplate
    // docs vanish
    "q_paragraph_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |         'header ' || (doc_id % 7) || chr(10) || chr(10) ||
        |         substr(text, 1, 120) || chr(10) || chr(10) ||
        |         'footer ' || (doc_id % 3) AS text
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id,
        |         generate_subscripts(string_split(text, chr(10)||chr(10)), 1) - 1 AS pos,
        |         unnest(string_split(text, chr(10)||chr(10))) AS para
        |  FROM corpus),
        |ranked AS (
        |  SELECT doc_id, pos, para,
        |         row_number() OVER (PARTITION BY lower(trim(para))
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM paras WHERE lower(trim(para)) <> '')
        |SELECT doc_id,
        |       string_agg(CASE WHEN rn = 1 THEN para END,
        |                  chr(10)||chr(10) ORDER BY pos) AS text,
        |       count(CASE WHEN rn = 1 THEN 1 END) AS kept_paragraphs,
        |       count(CASE WHEN rn <> 1 THEN 1 END) AS dropped_paragraphs
        |  FROM ranked GROUP BY doc_id
        |HAVING count(CASE WHEN rn = 1 THEN 1 END) > 0""".stripMargin,

    // DSIR importance weights, written longhand: same md5-bucket hashing,
    // Laplace-smoothed bucket distributions, per-doc log-ratio sum
    "q_dsir_weights" ->
      """WITH cw AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |cu AS (SELECT doc_id, unnest(list_filter(w, x -> x <> '')) AS g FROM cw),
        |cbi AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w)-1,0))) AS i FROM cw),
        |cb AS (SELECT doc_id, w[i]||' '||w[i+1] AS g FROM cbi),
        |cg AS (SELECT doc_id, g FROM cu UNION ALL SELECT doc_id, g FROM cb),
        |cgb AS (SELECT doc_id, (('0x'||substring(md5(g),1,15))::UBIGINT % 4096) AS b FROM cg),
        |tw AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |       WHERE lang = 'en' AND source = 'src0'),
        |tu AS (SELECT doc_id, unnest(list_filter(w, x -> x <> '')) AS g FROM tw),
        |tbi AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w)-1,0))) AS i FROM tw),
        |tb AS (SELECT doc_id, w[i]||' '||w[i+1] AS g FROM tbi),
        |tg AS (SELECT doc_id, g FROM tu UNION ALL SELECT doc_id, g FROM tb),
        |tgb AS (SELECT doc_id, (('0x'||substring(md5(g),1,15))::UBIGINT % 4096) AS b FROM tg),
        |rawc AS (SELECT b, count(*) AS cr FROM cgb GROUP BY b),
        |tgtc AS (SELECT b, count(*) AS ct FROM tgb GROUP BY b),
        |tots AS (SELECT (SELECT count(*) FROM cgb) AS nr, (SELECT count(*) FROM tgb) AS nt),
        |ratio AS (SELECT coalesce(rawc.b, tgtc.b) AS b,
        |   ln((coalesce(ct,0) + 1.0) / (nt + 1.0*4096)) -
        |   ln((coalesce(cr,0) + 1.0) / (nr + 1.0*4096)) AS r
        |   FROM rawc FULL OUTER JOIN tgtc ON rawc.b = tgtc.b CROSS JOIN tots)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, round(sum(r), 6) AS weight
        |FROM cgb JOIN ratio USING (b) GROUP BY doc_id""".stripMargin,

    // ExactSubstr span removal, written longhand: L-gram cover of
    // duplicated substrings, keeper = global first (doc_id, pos), window
    // overlap-merge via gaps-and-islands, covered words cut
    "q_exact_substr" ->
      """WITH corpus AS (
        |  SELECT doc_id, text || ' end of document boilerplate footer line rights reserved contact us terms privacy policy sitemap ' || text AS text
        |  FROM documents),
        |w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM corpus),
        |pos AS (SELECT doc_id, words,
        |        unnest(generate_series(1, greatest(len(words) - 11, 0))) AS i FROM w),
        |g AS (SELECT doc_id, i, array_to_string(words[i:i+11], ' ') AS gram FROM pos),
        |d AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i, row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn,
        |           count(*) OVER (PARTITION BY gram) AS c FROM g) WHERE c > 1 AND rn > 1),
        |m AS (
        |  SELECT doc_id, i, CASE WHEN max(i) OVER (PARTITION BY doc_id ORDER BY i
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 11 >= i THEN 0 ELSE 1 END AS brk
        |  FROM d),
        |isl AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island FROM m),
        |spans AS (SELECT doc_id, min(i) AS s, max(i) + 11 AS e FROM isl GROUP BY doc_id, island),
        |wordpos AS (SELECT doc_id, unnest(generate_series(1, len(words))) AS j,
        |            unnest(words) AS word FROM w),
        |covered AS (
        |  SELECT wp.doc_id, wp.j, wp.word,
        |         EXISTS (SELECT 1 FROM spans s
        |                 WHERE s.doc_id = wp.doc_id AND wp.j BETWEEN s.s AND s.e) AS cov
        |  FROM wordpos wp)
        |SELECT doc_id,
        |       coalesce(array_to_string(list(word ORDER BY j) FILTER (WHERE NOT cov), ' '), '') AS clean_text,
        |       CAST(count(*) FILTER (WHERE cov) AS BIGINT) AS removed_words,
        |       CAST(count(*) AS BIGINT) AS total_words
        |FROM covered GROUP BY doc_id""".stripMargin,

    // duplicated word-3-gram occurrence counts: an n-gram is "hot" when it
    // appears in more than one distinct document; dup_ngrams counts the
    // doc's OCCURRENCES of hot n-grams (within-doc repeats each count)
    "q_ngram_dupfrac" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i, w
        |  FROM words),
        |g AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram FROM grams),
        |freq AS (
        |  SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram),
        |dup AS (
        |  SELECT g.doc_id, count(*) AS dup_ngrams
        |  FROM g JOIN freq USING (gram) WHERE freq.df > 1 GROUP BY g.doc_id),
        |tot AS (
        |  SELECT doc_id,
        |         greatest(len(regexp_split_to_array(text, '\s+')) - 2, 0) AS total_ngrams
        |  FROM documents)
        |SELECT tot.doc_id, CAST(total_ngrams AS BIGINT) AS total_ngrams,
        |       CAST(coalesce(dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
        |       CASE WHEN total_ngrams > 0
        |            THEN coalesce(dup_ngrams, 0) / CAST(total_ngrams AS DOUBLE)
        |            ELSE 0.0 END AS dup_fraction
        |  FROM tot LEFT JOIN dup USING (doc_id)""".stripMargin,

    // the Misra-Gries sketch at capacity > |vocab| is exact, so the oracle
    // is the true per-language word ranking with the same deterministic
    // tie-break (count desc, word asc)
    "q_heavy_hitters" ->
      """WITH words AS (
        |  SELECT lang, unnest(regexp_split_to_array(text, '\s+')) AS word
        |  FROM documents),
        |counts AS (
        |  SELECT lang, word, count(*) AS cnt FROM words GROUP BY lang, word),
        |ranked AS (
        |  SELECT lang, word, cnt,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY cnt DESC, word) AS rank
        |  FROM counts)
        |SELECT lang, CAST(rank AS INT) AS rank, word, cnt
        |  FROM ranked WHERE rank <= 10""".stripMargin,

    // one UNION ALL branch per profiled column; the mean replicates the
    // engine's exact-decimal-sum-then-one-double-division so doubles match
    // bit for bit
    "q_profile" ->
      """SELECT 'l_orderkey' AS "column", count(*) AS row_count,
        |       count(*) - count(l_orderkey) AS null_count,
        |       count(DISTINCT l_orderkey) AS distinct_count,
        |       CAST(min(l_orderkey) AS DOUBLE) AS num_min,
        |       CAST(max(l_orderkey) AS DOUBLE) AS num_max,
        |       CAST(sum(CAST(l_orderkey AS DECIMAL(38,6))) AS DOUBLE)
        |         / count(l_orderkey) AS mean,
        |       CAST(NULL AS VARCHAR) AS str_min, CAST(NULL AS VARCHAR) AS str_max
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |       count(DISTINCT l_quantity),
        |       CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE),
        |       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |         / count(l_quantity),
        |       NULL, NULL
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |       count(DISTINCT l_returnflag),
        |       NULL, NULL, NULL,
        |       min(l_returnflag), max(l_returnflag)
        |  FROM lineitem""".stripMargin,

    // only the audited-good batch lands: evens (pre-existing) + odds
    // (published); the negative-price batch was rejected on its branch
    "q_wap" -> "SELECT * FROM orders",

    // compaction + expiry must preserve content exactly
    "q_table_service" -> "SELECT * FROM orders",

    "q_show_partitions" ->
      """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
        |       count(*) AS row_count
        |  FROM orders GROUP BY o_orderstatus""".stripMargin,

    // chr(8203)=ZWSP and chr(7)=BEL are stripped, chr(769)=combining acute
    // composes with the preceding 'e' under NFC - so the codepoint length
    // is 40 + 4 ('cafe'->'caf'+e-acute) + 3 ('end')
    "q_text_normalize" ->
      """SELECT doc_id,
        |       nfc_normalize(substr(text, 1, 40) || 'cafe' || chr(769) || 'end')
        |         AS text,
        |       CAST(length(nfc_normalize(substr(text, 1, 40) || 'cafe' || chr(769)
        |         || 'end')) AS INT) AS n_codepoints
        |  FROM documents""".stripMargin,
    // recall-exact oracles for the LSH candidate dumps: identical
    // normalized text MUST be a candidate pair (minhash lowercases, simhash
    // does not) — a lost candidate is a recall bug and hash-mismatches
    "q_minhash_candidates" ->
      """WITH dd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |), n AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |  FROM dd)
        |SELECT a.doc_id AS "idA", b.doc_id AS "idB"
        |FROM n a JOIN n b ON a.norm = b.norm AND a.doc_id < b.doc_id""".stripMargin,

    "q_simhash_pairs" ->
      """WITH dd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |), n AS (
        |  SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS norm
        |  FROM dd)
        |SELECT a.doc_id AS "idA", b.doc_id AS "idB", 0 AS hamming
        |FROM n a JOIN n b ON a.norm = b.norm AND a.doc_id < b.doc_id""".stripMargin
  )
}
