package graft.tools

import graft.table.Icebox

/** Child-process worker for the cross-PROCESS concurrency specs: opens the
  * table at `args(0)` from its own JVM (own SparkSession, own FileSystem
  * instances, no shared locks beyond the on-disk protocol) and runs
  * `args(3)` (default `append`):
  *  - `append`: `args(1)` one-file commits tagged `args(2)`
  *  - `delete`: `args(1)` single-key equality deletes of ids 1..n
  *  - `compact`: `args(1)` whole-table compactions, 50 ms apart
  *  - `neardup`: serializable near-dup ingest of deterministic docs for
  *    seeds `args(5)..args(6)` (ids offset by `args(7)`), split into
  *    `args(1)` waves against the corpus at `args(0)` and the LSH band
  *    index at `args(4)` — the cross-process MVCC ingest workload.
  * Exit 0 iff every commit published.
  */
object ConcurrentAppender {
  /** Deterministic doc text per seed — the spec regenerates the same
    * strings to state its expectations; distinct seeds share no shingles
    * (random 8-char words), so at threshold 0.8 only SAME-seed offers
    * contend.
    */
  def docFor(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    (0 until 60).map(_ =>
      (0 until 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, n, tag) = args.take(3)
    val op = if (args.length > 3) args(3) else "append"
    val spark = graft.GraftSession.builder("local[2]", s"appender-$tag", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val t = Icebox(dir)
    op match {
      case "append" =>
        (1 to n.toInt).foreach { i =>
          t.append(Seq((s"$tag-$i", i)).toDF("k", "v").coalesce(1))
        }
      case "delete" =>
        (1 to n.toInt).foreach(i => t.deleteByKeys(Seq(i.toLong).toDF("id")))
      case "compact" =>
        (1 to n.toInt).foreach { _ =>
          t.compact(spark, targetFileMb = 1); Thread.sleep(50)
        }
      case "neardup" =>
        val index = Icebox(args(4))
        val lo = args(5).toInt; val hi = args(6).toInt; val idBase = args(7).toLong
        val seeds = (lo to hi).toSeq
        val per = math.max(1, math.ceil(seeds.size.toDouble / n.toInt).toInt)
        seeds.grouped(per).foreach { chunk =>
          val batch = chunk.map(sd => (idBase + sd, docFor(sd))).toDF("id", "text")
          graft.operators.Dedup.nearDupInsert(t, index, batch, "text", "id",
            threshold = 0.8, serializable = true)
        }
      case other => sys.error(s"unknown op $other")
    }
    spark.stop()
  }
}
