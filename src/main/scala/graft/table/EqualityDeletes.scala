package graft.table

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import scala.collection.immutable.ArraySeq
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.{FutureAction, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, struct, udf}
import org.apache.spark.sql.types._

/** Equality deletes (Iceberg v2's merge-on-read delete type, written by
  * [[Icebox.commitEqualityDeletes]]): a row is deleted by a delete file iff
  * its key tuple is in the file's key set AND its data file carries the
  * delete in its attach list (the attach list IS the sequence semantics —
  * files appended after the delete never carry it).
  *
  * Both sets are driver-held and ship as driver-created broadcast
  * VARIABLES behind one membership predicate ([[deletedBy]]) — the way
  * Iceberg's own readers apply equality deletes (keys loaded into an
  * in-memory set, rows filtered against it, no join). A broadcast JOIN would not do: a
  * `BroadcastExchange` runs a Spark job to collect its side even when
  * that side is a driver-side LocalRelation. Key sets over
  * [[EqKeyCacheMaxRows]] are not driver-held; they keep a distributed
  * broadcast-hinted key join.
  *
  * The same cap bounds every relation the engine holds on the driver
  * because it is small by construction — a CDC batch, an upsert batch's
  * deduplicated rows and keys, a view refresh's touched groups:
  * [[collectAtMost]] collects one in a single job (none when it is already
  * a LocalRelation) and every consumer then reads a LocalRelation frame
  * over the rows ([[frame]]) instead of re-running its plan. Its
  * projections, filters and aggregates fold on the driver
  * ([[graft.plans.LocalAggregateFold]], under the same cap), so each
  * consumer has one plan whether its input is held or not. Over the cap
  * the input stays distributed.
  */
private[graft] object EqualityDeletes {

  /** The largest key set, or small relation, held on the driver; bigger
    * ones stay distributed.
    */
  private[graft] val EqKeyCacheMaxRows = 100000
  private val EqKeyCacheMaxEntries = 512

  /** One delete file's deduplicated key tuples as Catalyst-internal values,
    * plus the broadcast that ships them (created once per SparkContext).
    */
  private final class KeySet(val schema: StructType, val keys: Set[Any]) {
    private var shipped: (SparkContext, Broadcast[Set[Any]]) = _
    def broadcastOn(sc: SparkContext): Broadcast[Set[Any]] = synchronized {
      if (shipped == null || (shipped._1 ne sc)) shipped = (sc, sc.broadcast(keys))
      shipped._2
    }
  }

  /** Driver-held key sets, keyed by the path a manifest's `eqDeletes`
    * entry names (a delete file, or a delete dir in manifests written
    * before delete files were single files); `None` marks one whose set is
    * not driver-held (over the cap, or a key type the set cannot compare by
    * value). Safe because delete files are IMMUTABLE: each commit writes
    * its keys under a fresh uuid-named file that is never modified
    * afterwards (expiry deletes whole files, never rewrites them).
    * Metadata caching (the Iceberg manifest-cache analog), never a result
    * cache; cleared when it reaches [[EqKeyCacheMaxEntries]] entries.
    */
  private val cache = new ConcurrentHashMap[String, Option[KeySet]]()

  private def admit(path: String, entry: Option[KeySet]): Option[KeySet] = {
    if (cache.size >= EqKeyCacheMaxEntries) cache.clear()
    cache.put(path, entry)
    entry
  }

  /** Whether `path`'s key set is in the cache (no key-file job to read it). */
  private[graft] def isDriverHeld(path: String): Boolean =
    Option(cache.get(path)).exists(_.isDefined)

  /** Types whose Catalyst-internal values are equal exactly when the SQL
    * values are (binary arrays compare by identity; floating point differs
    * from join equality on NaN and -0.0; only the binary string collation
    * compares by bytes).
    */
  private def setComparable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => s == StringType
    case _ => false
  }

  private def comparable(schema: StructType): Boolean =
    schema.nonEmpty && schema.forall(f => setComparable(f.dataType))

  /** A key tuple as a set element — its values Catalyst-internal, so they
    * compare by value whatever external classes the session maps them to;
    * a bare value for a one-column key; `null` when any column is NULL.
    */
  private def keyOf(r: Row): Any = {
    val t = new Array[Any](r.length)
    var i = 0
    while (i < t.length) {
      val v = r.get(i)
      if (v == null) return null
      t(i) = CatalystTypeConverters.convertToCatalyst(v)
      i += 1
    }
    if (t.length == 1) t(0) else ArraySeq.unsafeWrapArray(t)
  }

  // a NULL-bearing key never matches a row: a NULL key is never deleted
  private def keySetOf(schema: StructType, rows: Seq[Row]): KeySet =
    new KeySet(schema, rows.iterator.map(keyOf).filter(_ != null).toSet)

  // a frame whose optimized plan is a LocalRelation — a [[frame]], or a
  // projection of one — is read with no Spark job
  private def localRows(df: DataFrame): Option[Seq[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect().toSeq)
      case _ => None
    }

  /** `df`'s rows, in partition order, when it has at most
    * [[EqKeyCacheMaxRows]] of them; None when it has more. A local frame
    * runs no Spark job; any other runs ONE job over all its partitions —
    * unlike `limit(cap + 1).collect()`, whose take scans one partition
    * first and then starts a second job for the rest. A partition over the
    * cap on its own ships no rows, only that it is over, and the job is
    * cancelled at the first result that takes the total over the cap: what
    * an over-cap `df` ships the driver is bounded by the tasks that finish
    * before the cancel lands, never one capped slice per partition.
    */
  private[graft] def collectAtMost(df: DataFrame): Option[Seq[Row]] = {
    val n = EqKeyCacheMaxRows
    localRows(df) match {
      case Some(rows) => Some(rows).filter(_.length <= n)
      case None =>
        val rdd = df.rdd
        val parts = new Array[Array[Row]](rdd.getNumPartitions)
        var total = 0L
        val over = new AtomicBoolean(false)
        val job = new AtomicReference[FutureAction[Unit]]()
        // cancelling only posts an event; a result may arrive before the
        // handle is set, so the caller cancels again once it is
        def cancel(): Unit = Option(job.get).foreach(_.cancel())
        job.set(df.sparkSession.sparkContext.submitJob(rdd,
          (it: Iterator[Row]) => Some(it.take(n + 1).toArray).filter(_.length <= n),
          parts.indices,
          (i: Int, rows: Option[Array[Row]]) => parts.synchronized {
            total += rows.fold(n + 1L)(_.length.toLong)
            if (total <= n) parts(i) = rows.get
            else if (!over.getAndSet(true)) { parts.indices.foreach(parts(_) = null); cancel() }
          }, ()))
        if (over.get) cancel()
        try Await.result(job.get, Duration.Inf)
        catch { case NonFatal(_) if over.get => }
        if (over.get) None else Some(parts.iterator.flatMap(_.iterator).toSeq)
    }
  }

  /** `df`'s distinct rows when there are at most [[EqKeyCacheMaxRows]] of
    * them: one bounded collect of `df.dropDuplicates()`, which runs no job
    * when `df` is local ([[graft.plans.LocalAggregateFold]]).
    */
  private[graft] def distinctAtMost(df: DataFrame): Option[Seq[Row]] =
    collectAtMost(df.dropDuplicates())

  /** Driver-held `rows` as a LocalRelation frame of `schema`: projections,
    * filters and aggregates over it fold into a LocalRelation and run no
    * job.
    */
  private[graft] def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Write `keys`' distinct rows (the equality columns) as one delete file
    * through `writeFile`, which returns its path (None when it holds no
    * rows). When `keys` is local — the caller holds them on the driver
    * ([[frame]]) — the distinct keys are a LocalRelation too, and when
    * their types compare by value they are admitted to the cache under the
    * file's path, so no reader ever runs a key-file job for it. Otherwise
    * the file is marked as not driver-held.
    */
  private[graft] def write(keys: DataFrame, writeFile: DataFrame => Option[String]): Option[String] = {
    val distinct = keys.dropDuplicates()
    val file = writeFile(distinct)
    file.foreach(admit(_, localRows(distinct).filter(_ => comparable(keys.schema))
      .map(keySetOf(keys.schema, _))))
    file
  }

  /** `path`'s key set when it is driver-held: from the cache, else one
    * schema read plus one bounded collect ([[distinctAtMost]]), admitted
    * for every later read.
    */
  private def keySet(spark: SparkSession, path: String): Option[KeySet] = {
    val hit = cache.get(path)
    if (hit != null) return hit
    val df = spark.read.parquet(path)
    if (!comparable(df.schema)) return admit(path, None)
    admit(path, distinctAtMost(df).map(keySetOf(df.schema, _)))
  }

  private val SchemePrefix = java.util.regex.Pattern.compile(Icebox.SchemePrefix)

  /** `p` without its [[Icebox.SchemePrefix]], as [[Icebox.normPathCol]] does. */
  private def normPath(p: String): String = SchemePrefix.matcher(p).replaceFirst("")

  /** `df` and its "deleted by `path`" flag: key tuple ∈ the delete's keys ∧
    * `fpCol`'s file ∈ `attached`, each a membership test against a
    * broadcast set, the key test first so the path is only normalized on a
    * key hit. Only the broadcast HANDLE travels with the plan, and each
    * executor fetches a set once (an `isin` literal list would plan slowly
    * at scale and ship the whole set inside every task). The attach test
    * is skipped when `attached` covers every one of `files`, the files
    * `df` reads. Off the set path (oversize set, a key type the set cannot
    * compare, or a key type that differs from the column's) the frame
    * gains a broadcast-hinted left join adding column `tmp`; callers drop
    * it.
    */
  private[table] def deletedBy(spark: SparkSession, df: DataFrame, path: String,
      attached: Seq[String], files: Seq[String], fpCol: String, tmp: String): (DataFrame, Column) = {
    val attachedSet = attached.toSet
    val inFile: Option[Column] =
      if (files.forall(attachedSet)) None
      else {
        // `fpCol` holds `_metadata.file_path`, the path's URI form (a space
        // reads `%20`): the manifest's paths are rendered the same way
        val paths = spark.sparkContext.broadcast(attachedSet.map(p =>
          normPath(SparkPath.fromPath(new Path(p)).toString)))
        Some(udf((p: String) => p != null && paths.value.contains(normPath(p))).apply(col(fpCol)))
      }
    val colTypes = df.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val (out, keyHit) = keySet(spark, path)
      .filter(_.schema.forall(f => colTypes.get(f.name.toLowerCase).contains(f.dataType))) match {
      case Some(ks) =>
        (df, member(ks.broadcastOn(spark.sparkContext), ks.schema))
      case None =>
        val keys = spark.read.parquet(path).dropDuplicates()
        (df.join(broadcast(keys.withColumn(tmp, lit(true))), keys.columns.toSeq, "left"),
          coalesce(col(tmp), lit(false)))
    }
    (out, inFile.fold(keyHit)(keyHit && _))
  }

  // true on rows whose `schema` columns hold one of `keys`' tuples
  private def member(keys: Broadcast[Set[Any]], schema: StructType): Column =
    udf { (r: Row) => val k = keyOf(r); k != null && keys.value.contains(k) }
      .apply(struct(schema.fieldNames.toSeq.map(col): _*))

  /** A predicate true on the rows whose `schema` columns hold one of the
    * driver-held key tuples `keys` (a NULL-bearing tuple never matches),
    * tested against a broadcast set like [[deletedBy]]'s; None when a key
    * type cannot compare by value in a set.
    */
  private[graft] def isIn(spark: SparkSession, schema: StructType, keys: Seq[Row]): Option[Column] =
    Option.when(comparable(schema))(
      member(spark.sparkContext.broadcast(keySetOf(schema, keys).keys), schema))
}
