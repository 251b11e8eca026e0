package graft

import org.apache.spark.sql.SparkSession
import graft.functions.VectorExpressions

/** Session factory — the engine analog of the reference's
  * `create_iceberg_spark_session` / spark-submit conf builders
  * (reference: utils/spark_builder.py:214-270, 10-124).
  *
  * Carries the reference's storage conventions (zstd parquet,
  * spark_builder.py:248) plus the scale defaults this engine assumes:
  * AQE with skew-join handling for runtime re-planning, dynamic partition
  * overwrite semantics for partition-scoped CDC merges, UTC session time,
  * the graft native functions pre-registered, and the optimizer rule that
  * folds an aggregate over a small LocalRelation on the driver
  * ([[graft.plans.LocalAggregateFold]]).
  *
  * `shufflePartitions` should track cluster parallelism (cores on local
  * mode, 2-3× total executor cores on a real cluster); AQE coalesces
  * oversized counts at runtime, so erring high is safe.
  *
  * Every session in the project is built here; callers chain only what
  * they really differ in (e.g. `spark.ui.enabled`) onto `builder`.
  * GraftSessionSpec fails the suite if another source calls the Spark
  * session builder directly.
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd") // spark_builder.py:248
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.filterPushdown", "true")
      .withExtensions(_.injectOptimizerRule(_ => graft.plans.LocalAggregateFold))

  def create(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(master, appName, shufflePartitions).getOrCreate()
    VectorExpressions.register(spark)
    spark
  }

  /** A CBO-enabled session on the caller's SparkContext, with the graft
    * extensions (pre-CBO stats rule) installed — the driver's plain
    * session has neither. Cached per context; AQE off so plan-level
    * `require`s are deterministic. Default/active session registrations
    * are preserved: only queries that explicitly opt in run CBO.
    */
  @volatile private var cboCache: SparkSession = _
  def cboSession(s: SparkSession): SparkSession = synchronized {
    if (cboCache == null || cboCache.sparkContext != s.sparkContext ||
        cboCache.sparkContext.isStopped) {
      val prevDefault = SparkSession.getDefaultSession
      val prevActive = SparkSession.getActiveSession
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      cboCache = SparkSession.builder()
        .withExtensions(e => new GraftExtensions().apply(e))
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.shuffle.partitions",
          s.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    cboCache
  }
}
