package graft.tools

/** Scratch (r17): dump .explain("formatted") for named queries into
  * plans/r18/<name>_<suffix>.txt. Usage:
  *   runMain graft.tools.ExplainQ <suffix> q_a q_b ...
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val suffix = args.head
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", shufflePartitions = 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r18"))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"plans/r18/${name}_$suffix.txt"), txt)
      println(s"[explainq] wrote plans/r18/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
