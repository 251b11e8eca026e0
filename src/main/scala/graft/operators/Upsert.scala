package graft.operators

import org.apache.spark.sql.{DataFrame, GraftDatasets}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import graft.plans.IceboxFileIndex
import graft.table.{EqualityDeletes, Icebox, IceboxCommit}

/** Real upsert/MERGE semantics.
  *
  * The reference *documents* upsert-by-primary-key (README.md:509-510,
  * 594-606) but *implements* it as a blind overwrite
  * (oracle_to_iceberg_cdc_operator.py:211-221;
  * hdfs_to_iceberg_cdc_operator.py:361-367 carries a "Merge Into" TODO).
  * This module implements the documented contract:
  *
  *   result = dedupe(incoming, pk, latest-wins) ∪ (target ⟕̸ incoming on pk)
  *
  * i.e. matched keys take the incoming row, unmatched target rows survive —
  * exactly Oracle's `MERGE ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`
  * that the reference runs for its watermark row
  * (oracle_to_iceberg_cdc_operator.py:149-162).
  *
  * Scale notes: the anti-join shuffles both sides on the pk — at 100 TB
  * target / small incoming this is the classic CDC merge shape, and AQE
  * turns it into a broadcast anti-join when incoming fits. Duplicate pks
  * within a batch resolve deterministically latest-wins by `orderCol`
  * (SURVEY §7.4 — the reference is silent; we define it and property-test
  * idempotence). A copy-on-write upsert merges the batch against ONLY the
  * files whose stats and blooms admit one of its keys and rewrites just
  * those ([[Icebox.rewriteFiles]]) — a 5-minute CDC cycle into a
  * key-clustered or bloom-indexed table rewrites a few files, never the
  * whole 100 TB table, whatever partition a key moves to.
  */
object Upsert {

  /** Latest-wins dedupe of a batch on its primary key: per key, the row
    * with the greatest `orderCol` (a NULL loses to any value), the first
    * in input order on a tie. An aggregate, so a held batch dedupes on the
    * driver ([[graft.plans.LocalAggregateFold]]): Spark folds the
    * tie-break id into the batch's LocalRelation first.
    */
  def dedupe(incoming: DataFrame, pk: Seq[String], orderCol: String): DataFrame = {
    val row = struct(incoming.columns.toSeq.map(col): _*)
    incoming.withColumn("__seq", monotonically_increasing_id())
      .groupBy(pk.map(col): _*)
      .agg(max_by(row, struct(col(orderCol), -col("__seq"))).as("__latest"))
      .select(incoming.columns.toSeq.map(c => col("__latest").getField(c).as(c)): _*)
  }

  // latest-wins by `orderCol` when given, else one arbitrary row per key
  private def deduped(incoming: DataFrame, pk: Seq[String], orderCol: Option[String]) =
    orderCol.map(dedupe(incoming, pk, _)).getOrElse(incoming.dropDuplicates(pk))

  // a batch deduped on the driver, as its rows in one partition: a
  // distributed dedupe of a small batch ends in a shuffle AQE coalesces to
  // one partition, and a write of the batch then makes one file per
  // partition value, not one per core; the frame starts from the rows, so
  // later plans over it do not dedupe again
  private def oneTaskIfLocal(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case rows: LocalRelation => GraftDatasets.ofRows(df.sparkSession, rows).coalesce(1)
    case _ => df
  }

  /** Pure DataFrame upsert (no table write). */
  def apply(target: DataFrame, incoming: DataFrame, pk: Seq[String],
      orderCol: Option[String] = None): DataFrame = {
    val src = oneTaskIfLocal(deduped(incoming, pk, orderCol))
    target.join(src, pk, "left_anti").unionByName(src)
  }

  /** Upsert into an Icebox table with an atomic snapshot commit (the write
    * never destroys the previous state — rollback stays available, J2/W6).
    * Partitioning is preserved: when `partitionBy` is empty the target's
    * existing partition columns are reused, so an upsert never silently
    * degrades a partitioned table to an unpartitioned one; an explicit
    * `partitionBy` that differs from the table's layout re-lays out every
    * file.
    */
  def intoTable(table: Icebox, incoming: DataFrame, pk: Seq[String],
      orderCol: Option[String] = None, partitionBy: Seq[String] = Nil): Unit =
      IceboxCommit.retryingStaleHead {
    val spec = table.currentPartitionSpec
    val parts = if (partitionBy.nonEmpty) partitionBy else spec
    val mode = table.properties.getOrElse("write.upsert.mode", "copy-on-write")
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"write.upsert.mode=$mode (expected copy-on-write | merge-on-read)")
    if (mode == "merge-on-read" && table.exists) {
      intoTableMor(table, incoming, pk, orderCol, parts); return
    }
    // pin the head the merge reads, so a cross-process commit landing
    // mid-merge forces a re-merge instead of being silently replaced
    table.currentSnapshot match {
      case None =>
        table.rewriteFiles("upsert", Nil, oneTaskIfLocal(deduped(incoming, pk, orderCol)), parts,
          expectHeadId = -1L)
      case Some(head) =>
        // a row the batch replaces can only sit in a file whose stats and
        // blooms admit its key, whatever partition the key had; every other
        // file carries over by reference
        val candidates =
          if (parts.map(_.toLowerCase).sorted != spec.map(_.toLowerCase).sorted) head.files
          else table.splitByKeys(incoming.select(pk.map(col): _*), head)._1
        val target = IceboxFileIndex.scan(incoming.sparkSession, table, candidates, head.schemaJson)
        table.rewriteFiles("upsert", candidates, apply(target, incoming, pk, orderCol), parts,
          expectHeadId = head.id)
    }
    ()
  }

  /** Merge-on-read upsert (Iceberg v2 EQUALITY-delete analog): ONE atomic
    * commit writes (a) an equality-delete file carrying the batch's pk
    * tuples, attached to the pre-existing data files (minus stats-pruned
    * ones), and (b) the deduped batch as new data files. The target's
    * existing data is never read NOR rewritten — a CDC cycle costs
    * O(batch) regardless of table size, the write shape copy-on-write
    * upsert can't reach at 100 TB. Readers resolve matched keys to the new
    * images (old images anti-join away; the batch's own files are never
    * attached, so the new rows survive their own delete). Compaction
    * materializes the deletes back into plain files.
    *
    * Enabled per-table via `write.upsert.mode = merge-on-read` (picked up
    * by [[intoTable]]) or called directly.
    */
  def intoTableMor(table: Icebox, incoming: DataFrame, pk: Seq[String],
      orderCol: Option[String] = None, partitionBy: Seq[String] = Nil): Unit =
      IceboxCommit.retryingStaleHead {
    val parts = if (partitionBy.nonEmpty) partitionBy else table.currentPartitionSpec
    val src = deduped(asStored(table, incoming), pk, orderCol)
    // expectHeadId = −1: computed against "no table" — a creation racing in
    // between the exists check and the publish must force a re-merge (the
    // retry re-enters via the MoR delete path), never a silent replace
    if (!table.exists) {
      table.rewriteFiles("upsert", Nil, oneTaskIfLocal(src), parts, expectHeadId = -1L); return
    }
    // a deduped batch of at most EqKeyCacheMaxRows rows is collected ONCE:
    // its keys and its payload are LocalRelations (the delete commit's key
    // aggregates fold on the driver), and the payload is written from one
    // task — one file per touched partition value, as the deduped plan's
    // single post-shuffle partition writes them
    val held = EqualityDeletes.collectAtMost(src).map(EqualityDeletes.frame(src.sparkSession, _,
      src.schema))
    table.commitEqualityDeletes("upsert-mor", held.getOrElse(src).select(pk.map(col): _*),
      Some(held.fold(src)(_.coalesce(1))), parts)
    ()
  }

  /** `df` with each column cast to the type the table stores it as, by
    * name: the merge-on-read commit takes the batch's schema, so an INT
    * batch would make a BIGINT table unreadable. Only a lossless widening
    * (`Cast.canUpCast`) is allowed.
    */
  private def asStored(table: Icebox, df: DataFrame): DataFrame = {
    val stored = table.currentSchemaStruct.toSeq.flatMap(_.fields)
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    df.select(df.schema.fields.toSeq.map(f => stored.get(f.name.toLowerCase)
      .filterNot(DataTypeUtils.sameType(_, f.dataType)).fold(col(f.name)) { t =>
        require(Cast.canUpCast(f.dataType, t),
          s"upsert column ${f.name} is ${f.dataType.simpleString}, not widenable to ${t.simpleString}")
        col(f.name).cast(t).as(f.name)
      }): _*)
  }
}
