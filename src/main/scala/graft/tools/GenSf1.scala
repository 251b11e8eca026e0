package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Testdata

/** Scratch: derive a 10x sf1 copy of the tables the five headline
  * table-format queries read (lineitem, orders, events, documents), with
  * key columns shifted per copy so pk/join semantics scale instead of
  * colliding. Deterministic — Spark and the DuckDB oracle read the same
  * generated files.
  */
object GenSf1 {
  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val out = "/tmp/graft_sf1_full"
    val spark = graft.GraftSession.builder("local[32]", shufflePartitions = 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def scaled(name: String, shift: DataFrame => Long => DataFrame): Unit = {
      val path = s"$out/$name.parquet"
      if (new java.io.File(path).exists()) { println(s"skip $name"); return }
      val base = Testdata.table(spark, src, name)
      val f = shift(base)
      (0 until 10).map(i => f(i.toLong)).reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(path)
      println(s"wrote $name")
    }

    // one shared shift unit for orderkey keeps lineitem<->orders joins valid
    val ordMax = Testdata.table(spark, src, "orders")
      .agg(max("o_orderkey")).head().getLong(0) + 1
    scaled("orders", df => i => df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordMax)))
    scaled("lineitem", df => i => df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordMax)))
    val evMax = Testdata.table(spark, src, "events")
      .agg(max("event_id")).head().getLong(0) + 1
    scaled("events", df => i => df.withColumn("event_id", col("event_id") + lit(i * evMax)))
    val docMax = Testdata.table(spark, src, "documents")
      .agg(max("doc_id")).head().getLong(0) + 1
    scaled("documents", df => i =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docMax))
        .withColumn("text", when(lit(i) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" #c"), lit(i)))))
    // the dim side of the join-MV check: customers copy over UNscaled —
    // the orders copies keep o_custkey, so every copy joins the same dims
    // (10x fact per dim, the realistic fact/dim growth shape)
    val custPath = s"$out/customer.parquet"
    if (!new java.io.File(custPath).exists())
      Testdata.table(spark, src, "customer").repartition(4)
        .write.mode("overwrite").parquet(custPath)
    // supplier: second dim of the STAR-MV check, unscaled like customer
    // (lineitem copies keep l_suppkey, so 10x facts per supplier)
    val supPath = s"$out/supplier.parquet"
    if (!new java.io.File(supPath).exists())
      Testdata.table(spark, src, "supplier").repartition(4)
        .write.mode("overwrite").parquet(supPath)
    // nation: tail of the SNOWFLAKE chain check, unscaled (customer copies
    // keep c_nationkey)
    val natPath = s"$out/nation.parquet"
    if (!new java.io.File(natPath).exists())
      Testdata.table(spark, src, "nation").repartition(1)
        .write.mode("overwrite").parquet(natPath)
    // part: 10x with shifted keys (q_range_join / q_delete_bykeys shapes
    // scale with it; retail prices repeat per copy, which only densifies
    // the range-join bins — the realistic shape)
    val partMax = Testdata.table(spark, src, "part")
      .agg(max("p_partkey")).head().getLong(0) + 1
    scaled("part", df => i => df.withColumn("p_partkey", col("p_partkey") + lit(i * partMax)))
    // region: fixed 5-row dim, unscaled
    val regPath = s"$out/region.parquet"
    if (!new java.io.File(regPath).exists())
      Testdata.table(spark, src, "region").repartition(1)
        .write.mode("overwrite").parquet(regPath)
    // embeddings: ids shift per copy, VECTORS stay identical — copies are
    // exact re-offers, so the vector-equality oracle of
    // q_embed_neardup_insert remains exact at 10x (a perturbed copy could
    // land anywhere in (0.6, 1.0) cosine and break oracle expressibility)
    val vecMax = Testdata.table(spark, src, "embeddings")
      .agg(max("vec_id")).head().getLong(0) + 1
    scaled("embeddings", df => i =>
      df.withColumn("vec_id", col("vec_id") + lit(i * vecMax)))
    spark.stop()
  }
}
