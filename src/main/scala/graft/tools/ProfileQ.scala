package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}
import java.util.concurrent.atomic.AtomicInteger

/** Scratch (r17 optimization): generic per-job profile of any registered
  * query — run it twice (warm JIT), log every Spark job of the second run
  * with duration, task count and first-stage call site, so serialized
  * sub-second job chains and stragglers are visible without the UI.
  * Usage: runMain graft.tools.ProfileQ q_a q_b ...
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", shufflePartitions = 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val inflight = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    @volatile var logJobs = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = js.stageInfos.map(_.name).mkString(" | ").take(140)
        val tasks = js.stageInfos.map(_.numTasks).sum
        inflight.put(js.jobId, (System.nanoTime(), site, tasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = inflight.remove(je.jobId)
        if (logJobs && s != null) {
          val dt = (System.nanoTime() - s._1) / 1e9
          if (dt > 0.02)
            println(f"  JOB ${je.jobId}%4d ${dt}%6.2f s tasks=${s._3}%4d  ${s._2}")
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        if (logJobs) {
          val si = sc.stageInfo
          val wall = (for (a <- si.completionTime; b <- si.submissionTime)
            yield (a - b) / 1e3).getOrElse(-1.0)
          val run = si.taskMetrics.executorRunTime / 1e3
          if (wall > 0.05 || run > 0.05) {
            val site = si.details.linesIterator
              .find(l => l.contains("graft") && !l.contains("tools.ProfileQ"))
              .getOrElse(si.name).trim.take(120)
            println(f"  STAGE ${si.stageId}%4d wall=${wall}%6.2f run=${run}%7.2f tasks=${si.numTasks}%4d  $site")
          }
        }
      }
    })
    // session warm-up
    try graft.SparkEntry.queries("q_count")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def once(log: Boolean): Double = {
        logJobs = log
        val j0 = jobs.get(); val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"  FAILED: ${e.getMessage.take(200)}") }
        val dt = (System.nanoTime() - t0) / 1e9
        logJobs = false
        println(f"[profq] $name run ${dt}%6.2f s jobs=${jobs.get() - j0}")
        dt
      }
      println(s"== $name (run 1: warm-up) ==")
      once(log = false)
      println(s"== $name (run 2: logged) ==")
      once(log = true)
    }
    spark.stop()
  }
}
