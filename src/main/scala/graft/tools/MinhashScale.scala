package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling proof for q_minhash_dedup's sf1 adjudication (VERDICT r14,
  * Next #3): the 9.95× wall at 10× data was attributed to GenSf1's corpus
  * SHAPE — every base doc gains `scale` near-dup suffix copies, so
  * near-dup family size grows WITH the scale factor and candidate-pair
  * volume per family grows ~quadratically. The realistic regime is a
  * CONSTANT duplication rate (a fixed fraction of docs have a bounded
  * number of near-dup partners): this tool measures candidate pairs and
  * wall for both corpus shapes at 1× and 4× and shows minHashDedup scales
  * ~linearly when the rate is constant.
  *
  *   sbt -batch "runMain graft.tools.MinhashScale"
  */
object MinhashScale {

  /** Synthetic corpus of `n` base docs (80 pseudo-random 8-hex-char words —
    * the engine's shingles are CHARACTER 5-grams, so hex words give a
    * shingle space large enough that two random docs share essentially
    * none) plus one near-dup partner (one word changed, Jaccard ~0.97) for
    * `dupFrac` of them. Duplication rate is scale-INVARIANT.
    */
  def constantRate(spark: SparkSession, n: Long, dupFrac: Double = 0.1): DataFrame = {
    val base = spark.range(n).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), lit(79)),
          j => substring(md5((col("doc_id") * 80 + j).cast("string")), 1, 8))))
    val partners = base.filter(pmod(col("doc_id"), lit((1 / dupFrac).toLong)) === 0)
      .withColumn("doc_id", col("doc_id") + n)
      // one changed leading word: ~5 of 76 shingles differ
      .withColumn("text", concat(lit("alt "),
        expr("substring(text, instr(text, ' ') + 1)")))
    base.unionByName(partners)
  }

  /** The GenSf1 shape: every base doc replicated `copies` times with a
    * tiny suffix tweak — family size grows WITH scale, the pathological
    * regime the sf1 audit hit.
    */
  def growingFamilies(spark: SparkSession, nBase: Long, copies: Int): DataFrame = {
    val base = constantRate(spark, nBase, dupFrac = 0.0)
    (0 until copies).map { c =>
      base.withColumn("doc_id", col("doc_id") + lit(c.toLong * nBase))
        .withColumn("text",
          if (c == 0) col("text") else concat(col("text"), lit(s" #c$c")))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def measure(label: String, df: DataFrame): Unit = {
      val docs = df.persist()
      val nDocs = docs.count()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.minHashCandidates(docs, "text", "doc_id").count()
      val t1 = System.nanoTime()
      graft.operators.Dedup.minHashDedup(docs, "text", "doc_id", threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[minhash-scale] $label%-28s docs=$nDocs%7d pairs=$pairs%9d " +
        f"cand=${(t1 - t0) / 1e9}%6.2f s dedup=${(t2 - t1) / 1e9}%6.2f s")
      docs.unpersist()
      ()
    }

    // warm-up absorbs codegen/JIT so the 1x readings aren't inflated
    measure("warmup", constantRate(spark, 2000))
    measure("constant-rate 1x", constantRate(spark, 12500))
    measure("constant-rate 4x", constantRate(spark, 50000))
    measure("growing-families 1x (c=3)", growingFamilies(spark, 4500, 3))
    measure("growing-families 4x (c=12)", growingFamilies(spark, 4500, 12))
    spark.stop()
  }
}
