package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dump each query's optimized and formatted physical plan to
  * `<outDir>/<name>.txt`, every query when no names are given, at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). Usage:
  *   runMain graft.tools.ExplainQ <outDir> [q_a q_b ...]
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.head)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", shufflePartitions = 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(out)
    val names = if (args.length > 1) args.tail.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
        Files.writeString(out.resolve(s"$name.txt"),
          s"== Optimized Logical Plan ==\n${qe.optimizedPlan}\n${qe.explainString(FormattedMode)}")
      } catch { case e: Exception => System.err.println(s"[explainq] $name failed: ${e.getMessage}")
      } finally graft.SparkEntry.clearTmp()
    }
    println(s"[explainq] wrote ${names.size} plans to $out")
    spark.stop()
  }
}
