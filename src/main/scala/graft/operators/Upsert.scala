package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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
  * idempotence). For partitioned targets prefer `intoTablePartitions`:
  * it merges ONLY the partitions present in the batch and commits via
  * dynamic partition overwrite — a 5-minute CDC cycle rewrites a few
  * partitions, never the whole 100 TB table.
  */
object Upsert {

  /** Latest-wins dedupe of a batch on its primary key. */
  def dedupe(incoming: DataFrame, pk: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(col(orderCol).desc_nulls_last, monotonically_increasing_id())
    incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Pure DataFrame upsert (no table write). */
  def apply(target: DataFrame, incoming: DataFrame, pk: Seq[String],
      orderCol: Option[String] = None): DataFrame = {
    val src = orderCol.map(dedupe(incoming, pk, _)).getOrElse(incoming.dropDuplicates(pk))
    target.join(src, pk, "left_anti").unionByName(src)
  }

  /** Upsert into an Icebox table with an atomic snapshot commit (the write
    * never destroys the previous state — rollback stays available, J2/W6).
    * Partitioning is preserved: when `partitionBy` is empty the target's
    * existing partition columns are reused, so an upsert never silently
    * degrades a partitioned table to an unpartitioned one.
    */
  def intoTable(table: Icebox, incoming: DataFrame, pk: Seq[String],
      orderCol: Option[String] = None, partitionBy: Seq[String] = Nil): Unit =
      IceboxCommit.retryingStaleHead {
    val spark = incoming.sparkSession
    val parts = if (partitionBy.nonEmpty) partitionBy else table.currentPartitionSpec
    val mode = table.properties.getOrElse("write.upsert.mode", "copy-on-write")
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"write.upsert.mode=$mode (expected copy-on-write | merge-on-read)")
    if (mode == "merge-on-read" && table.exists) {
      intoTableMor(table, incoming, pk, orderCol, parts); return
    }
    // pin the head the merge reads, so a cross-process commit landing
    // mid-merge forces a re-merge instead of being silently replaced
    val head = table.currentSnapshotId
    val merged =
      if (head < 0) orderCol.map(dedupe(incoming, pk, _)).getOrElse(incoming.dropDuplicates(pk))
      else apply(table.readSnapshotId(spark, head), incoming, pk, orderCol)
    // Materialize before the commit touches metadata: `merged` reads the
    // pinned head's files, and the new snapshot is only flipped in after
    // the full result is durably written to a fresh commit dir.
    table.overwriteAs("upsert", merged, parts, expectHeadId = head)
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
    val src = orderCol.map(dedupe(incoming, pk, _)).getOrElse(incoming.dropDuplicates(pk))
    // expectHeadId = −1: computed against "no table" — a creation racing in
    // between the exists check and the publish must force a re-merge (the
    // retry re-enters via the MoR delete path), never a silent replace
    if (!table.exists) { table.overwriteAs("upsert", src, parts, expectHeadId = -1L); return }
    // a deduped batch of at most EqKeyCacheMaxRows rows is collected ONCE:
    // its keys and its payload are LocalRelations (the delete commit reads
    // the keys with no job), and the payload is written from one task — one
    // file per touched partition value, as the deduped plan's single
    // post-shuffle partition writes them
    val (keys, payload) = EqualityDeletes.collectAtMost(src) match {
      case Some(rows) =>
        val local = EqualityDeletes.frame(src.sparkSession, rows, src.schema)
        (local, local.coalesce(1))
      case None => (src, src)
    }
    table.commitEqualityDeletes("upsert-mor", keys.select(pk.map(col): _*), Some(payload), parts)
    ()
  }

  /** Partition-scoped upsert (the 100 TB path): merge the batch against ONLY
    * the target partitions it touches, then commit via dynamic partition
    * overwrite. Correct when the partition value of a given pk never changes
    * (the common CDC layout: partition = date of an immutable event/order
    * attribute). Reads are pruned via the manifest, the write replaces just
    * the touched partitions' files.
    */
  def intoTablePartitions(table: Icebox, incoming: DataFrame, pk: Seq[String],
      partitionCol: String, orderCol: Option[String] = None): Unit =
      IceboxCommit.retryingStaleHead {
    val spark = incoming.sparkSession
    if (!table.exists) {
      val src = orderCol.map(dedupe(incoming, pk, _)).getOrElse(incoming.dropDuplicates(pk))
      // −1 = computed against an empty table: a concurrent creation triggers
      // the enclosing retryingStaleHead re-merge instead of a silent replace
      table.overwriteAs("upsert", src, Seq(partitionCol), expectHeadId = -1L)
      return
    }
    val head = table.currentSnapshotId // the state this merge reads
    val values = incoming.select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet // small: one value per touched partition
    val target = table.readPartitions(spark, partitionCol, values)
    val merged = apply(target, incoming, pk, orderCol)
    table.overwritePartitions(merged, Seq(partitionCol), expectHeadId = head)
    ()
  }
}
