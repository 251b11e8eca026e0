package graft.tools

/** Regenerate BENCH_SF1.json from HEAD over the FULL query surface at sf1
  * (VERDICT r15, Next #5 — the committed artifact was the r14 49-query
  * headline). Mirrors graft.Bench's protocol: q_count warm-up, best-of-2
  * per query, q_normalize sentinel at start / every 25 / end. Queries
  * whose in-query requires or input shapes cannot hold on the generated
  * 10x corpus are recorded under `failed` with their message — adjudicated
  * in PLANS.md, not silently dropped.
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1_full \
  *     sbt -batch "runMain graft.tools.BenchSf1"
  */
object BenchSf1 {
  private def fmt(v: Double): String = f"$v%.3f".replace(",", ".")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1_full")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.queries("q_count")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    val sentinelReadings = scala.collection.mutable.ArrayBuffer[Double]()
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries("q_normalize")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }
    sentinelOnce() // discard the codegen warm-up draw
    sentinelReadings += sentinelOnce(); sentinelReadings += sentinelOnce()

    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("[\"\\n\\r]", " ").take(220)
      }
      (System.nanoTime() - t0) / 1e9
    }

    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    graft.SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.foreach { case (name, i) =>
      if (i > 0 && i % 25 == 0) sentinelReadings += sentinelOnce()
      val a = runOnce(name)
      val b = if (failed.contains(name)) a else math.min(a, runOnce(name))
      if (!failed.contains(name)) results += name -> b
      System.err.println(f"[sf1] $name%-28s ${b}%8.2f s${if (failed.contains(name)) "  FAILED" else ""}")
    }
    sentinelReadings += sentinelOnce()

    val floor = sentinelReadings.min
    val degraded = sentinelReadings.max > 2.0 * floor && sentinelReadings.max - floor > 1.0
    val total = results.map(_._2).sum
    val qJson = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val fJson = failed.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val sJson = s"""{"query":"q_normalize","readings":[${sentinelReadings.map(fmt).mkString(",")}],"floor":${fmt(floor)},"max":${fmt(sentinelReadings.max)},"degraded":$degraded}"""
    val out =
      s"""{
 "metric": "full_suite_sf1",
 "unit": "sec",
 "sf1_dir": "$sfDir",
 "generated_from": "HEAD (round 16)",
 "basis": "best-of-2-min",
 "cpus": $cpus,
 "n_queries": ${results.size},
 "total_sf1": ${fmt(total)},
 "sentinel": $sJson,
 "failed": $fJson,
 "queries": $qJson
}"""
    val w = new java.io.PrintWriter("BENCH_SF1.json"); w.println(out); w.close()
    System.err.println(s"[sf1] total=${fmt(total)} n=${results.size} failed=${failed.size} degraded=$degraded")
    spark.stop()
  }
}
