package graft

import org.apache.spark.sql.functions._
import graft.table.Icebox

class PercentileMetaSpec extends SparkSpec {
  import spark.implicits._


  test("serves exact discrete percentiles from the histogram, zero jobs") {
    val t = Icebox(tmpDir("pct"))
    // skewed frequency table: 1 x60, 2 x25, 3 x10, 7 x5 (n=100)
    val rows = Seq.fill(60)(1) ++ Seq.fill(25)(2) ++ Seq.fill(10)(3) ++ Seq.fill(5)(7)
    t.append(rows.toDF("v"), collectStats = Seq("v"))
    t.analyzeHistogram(spark, "v", buckets = 32)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    // percentile_disc: smallest value with cum count >= ceil(p*100)
    t.percentileMeta("v", Seq(0.0, 0.25, 0.5, 0.6, 0.61, 0.85, 0.95, 0.96, 1.0)) shouldBe
      Some(Seq(1L, 1L, 1L, 1L, 2L, 2L, 3L, 7L, 7L))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    after shouldBe before // metadata-only: no Spark job ran
  }

  test("single-value histogram serves that value for every p") {
    val t = Icebox(tmpDir("pct1"))
    t.append(Seq.fill(10)(42L).toDF("v"), collectStats = Seq("v"))
    t.analyzeHistogram(spark, "v", buckets = 8)
    t.percentileMeta("v", Seq(0.0, 0.5, 1.0)) shouldBe Some(Seq(42L, 42L, 42L))
  }

  test("refuses on non-integral columns") {
    val t = Icebox(tmpDir("pctd"))
    t.append(Seq(1.0, 2.5, 3.0).toDF("v"), collectStats = Seq("v"))
    t.analyzeHistogram(spark, "v", buckets = 8)
    t.histogramMeta("v").isDefined shouldBe true // histogram itself exists
    t.percentileMeta("v", Seq(0.5)) shouldBe None // but can't be read exactly
  }

  test("refuses when the bucket width exceeds 1 (range wider than buckets)") {
    val t = Icebox(tmpDir("pctw"))
    t.append((1 to 1000).toDF("v"), collectStats = Seq("v"))
    t.analyzeHistogram(spark, "v", buckets = 32)
    t.percentileMeta("v", Seq(0.5)) shouldBe None
  }

  test("refuses once the table advances past the analyzed snapshot") {
    val t = Icebox(tmpDir("pcts"))
    t.append((1 to 5).toDF("v"), collectStats = Seq("v"))
    t.analyzeHistogram(spark, "v", buckets = 8)
    t.percentileMeta("v", Seq(0.5)) shouldBe Some(Seq(3L))
    t.append(Seq(6).toDF("v"), collectStats = Seq("v"))
    t.percentileMeta("v", Seq(0.5)) shouldBe None // stale histogram never serves
  }

  test("rejects out-of-range percentile requests") {
    val t = Icebox(tmpDir("pctr"))
    t.append(Seq(1).toDF("v"), collectStats = Seq("v"))
    an[IllegalArgumentException] should be thrownBy t.percentileMeta("v", Seq(1.5))
    an[IllegalArgumentException] should be thrownBy t.percentileMeta("v", Nil)
  }
}
