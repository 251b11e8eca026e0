package graft.table

import scala.collection.mutable
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.DataType

/** The commit protocol of every Icebox file write, data files and
  * merge-on-read delete files alike: each task writes its files straight
  * to their final names under the write's dir and reports them,
  * footer facts included, as [[DataFile]]s. Nothing is staged or renamed,
  * and the job hooks do nothing: the manifest [[IceboxCommit.publish]]
  * writes afterwards is the commit, and `IceboxCommit.reclaim` collects
  * the files of a write that never publishes.
  *
  *  - a file's name is unique per task attempt; when the spec has exactly
  *    one bucket transform `bucket` (its partition column and bucket
  *    count), the name carries the bucket id in Spark's bucketed-file form
  *    (`_NNNNN` before the extension), so reads can declare a V1
  *    `BucketSpec` (see `IceboxFileIndex.bucketSpecFor`);
  *  - `commitTask` reads each of its files' footers for the row count and
  *    the min/max and null counts of `statsTypes`' columns
  *    ([[Icebox.footerMetaOne]]) and deletes its zero-row files: they hold
  *    no data, and a stats-less empty file would disable metadata-only
  *    MIN/MAX for the whole table;
  *  - `abortTask` deletes its files, best effort.
  */
private[table] final class DataFileCommitter(dir: String, commitId: String,
    bucket: Option[(String, Int)], statsTypes: Map[String, DataType])
    extends FileCommitProtocol with Serializable {

  // per task: the committer is deserialized once per task
  @transient private lazy val written = mutable.ArrayBuffer.empty[(HPath, Map[String, String])]
  // on the driver: every task's files, set by commitJob
  @transient private var committed: Seq[DataFile] = Nil

  def files: Seq[DataFile] = committed

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    committed = msgs.flatMap(_.obj.asInstanceOf[Seq[DataFile]])

  override def abortJob(job: JobContext): Unit = ()

  override def setupTask(ctx: TaskAttemptContext): Unit = written.clear()

  override def newTaskTempFile(ctx: TaskAttemptContext, partDir: Option[String],
      spec: FileNameSpec): String = {
    val partition = partDir.toSeq.flatMap(_.split('/')).map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k -> Icebox.unescapePathSegment(v)
    }.toMap
    val stamp = bucket.flatMap { case (c, n) =>
      partition.get(c).flatMap(_.toIntOption).filter(id => id >= 0 && id < n)
    }.fold("")(id => f"_$id%05d")
    val attempt = ctx.getTaskAttemptID
    val name = f"${spec.prefix}part-${attempt.getTaskID.getId}%05d-$commitId-" +
      s"${attempt.getId}$stamp${spec.suffix}"
    val path = new HPath(partDir.fold(new HPath(dir))(new HPath(dir, _)), name)
    written += path -> partition
    path.toString
  }

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val conf = ctx.getConfiguration
    val files = written.toSeq.flatMap { case (path, partition) =>
      val f = Icebox.footerMetaOne(conf, statsTypes)(path)
      if (f.rows == 0L) { path.getFileSystem(conf).delete(path, false); None }
      else Some(f.copy(partition = partition))
    }
    new TaskCommitMessage(files)
  }

  override def abortTask(ctx: TaskAttemptContext): Unit =
    written.foreach { case (path, _) =>
      try path.getFileSystem(ctx.getConfiguration).delete(path, false)
      catch { case _: Exception => () }
    }
}

private[table] object DataFileCommitter {

  /** Write `df` as parquet under `dir`, partitioned by `partitionBy`, in
    * one Spark job; `options` go to both the Hadoop conf and the format,
    * as `DataFrameWriter` passes them. Returns the non-empty files, sorted
    * by path.
    */
  def write(df: DataFrame, dir: String, partitionBy: Seq[String], options: Map[String, String],
      commitId: String, bucket: Option[(String, Int)],
      statsTypes: Map[String, DataType]): Seq[DataFile] = {
    val qe = df.queryExecution
    val spark = qe.sparkSession
    val plan = qe.executedPlan
    val resolver = spark.sessionState.conf.resolver
    val partAttrs = partitionBy.map(c => plan.output.find(a => resolver(a.name, c)).getOrElse(
      sys.error(s"partition column $c is not in the written frame")))
    val committer = new DataFileCommitter(dir, commitId, bucket, statsTypes)
    SQLExecution.withNewExecutionId(qe, Some("icebox write")) {
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output),
        spark.sessionState.newHadoopConfWithOptions(options), partAttrs, None, Nil, options)
    }
    committer.files.sortBy(_.path)
  }
}
