package graft.jobs

import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{SnapshotStore, WebPage}

/**
 * Copy-on-write DELETE (Iceberg-style): `DELETE FROM` on the graft table
 * rewrites ONLY the parts whose block metadata admits the predicate —
 * untouched parts keep their files, the affected parts' SURVIVING rows are
 * re-encoded through the same staged pipeline (fresh range boundaries, the
 * standard block kernel) and committed with a replacing manifest. Nothing is
 * deleted from disk, so time travel to pre-delete snapshots still works, and
 * the commit is marked rows-rehomed: an incremental stream must NOT replay the
 * surviving rows (it delivered them already; deletions are not signaled on the
 * append-only stream, same contract as overwrite).
 *
 * Part-id namespace: rewritten parts use the NEGATIVE compaction namespace
 * (below every id ever used) — a delete is a re-home, and negative ids cannot
 * poison a streaming store's upward batchId*parts namespace.
 *
 * SQL-null semantics: a row is deleted when the predicate is TRUE; rows where
 * it evaluates NULL survive (`!coalesce(cond, false)`).
 */
object DeleteJob {

  final case class DeleteResult(snapshotId: Long, partsRewritten: Int,
      partsCreated: Int, rowsBefore: Long, rowsAfter: Long)

  /**
   * Delete the rows of the current snapshot matching `cond`.
   * `prunePredicates` (possibly empty) is a SUPERSET condition of `cond` in
   * [[graft.sources.v2.ExactFilter]] leaves: parts none of whose block metadata
   * admits them are provably match-free and skip the rewrite entirely.
   */
  def deleteWhere(spark: SparkSession, root: String, cond: Column,
                  prunePredicates: Seq[graft.sources.v2.ExactFilter]): DeleteResult = {
    DecodeJob.requireWebtext(root) // the COW rewrite decodes/re-encodes WebPage rows
    import spark.implicits._
    // ONE pointer read: the affected parts are chosen from, and decoded at,
    // this snapshot's immutable manifest
    val pinned = SnapshotStore.currentSnapshotId(root)
    val entries = pinned.fold(Seq.empty[SnapshotStore.PartEntry])(SnapshotStore.entriesAt(root, _))
    val curSnap = pinned.getOrElse(0L)
    if (entries.isEmpty) return DeleteResult(curSnap, 0, 0, 0L, 0L)

    // part-level pruning (a part with no admitting group cannot hold a matching
    // row). Both the pruning and the survivor decode below ride the SAME
    // entry list read above — a concurrent compaction between manifest
    // re-reads could otherwise return re-homed ids this list doesn't hold,
    // and the replacing commit would tombstone parts whose rows were never
    // rewritten
    val affectedIds: Seq[Int] =
      DecodeJob.affectedParts(spark, root, entries, prunePredicates).toSeq
    if (affectedIds.isEmpty) return DeleteResult(curSnap, 0, 0, 0L, 0L)

    val affectedSet = affectedIds.toSet
    val affectedRows = entries.filter(e => affectedSet(e.partId)).map(_.nRows).sum
    val survivors = DecodeJob.decodePartsOf(spark, root, curSnap, affectedIds)
      .toDF()
      .where(!coalesce(cond, lit(false)))
      .as(Encoders.product[WebPage])

    // all-deleted fast path: commit the removal directly instead of running
    // an empty re-encode (isEmpty stops at the first surviving row; only the
    // rare everything-matched case pays a full scan of the affected parts)
    if (survivors.isEmpty) {
      val snap = SnapshotStore.commitReplacing(root, Seq.empty, affectedSet,
        rowsRehomed = true)
      return DeleteResult(snap, affectedIds.size, 0, affectedRows, 0L)
    }

    // re-encode the survivors (CompactJob's shape): affectedRows is a cheap
    // manifest-derived UPPER bound for the part count — an exact survivor
    // count would cost one extra full decode+filter pass
    val newParts = math.max(1L, (affectedRows + EncodeJob.BlockSize - 1) / EncodeJob.BlockSize).toInt
    val base = SnapshotStore.nextRehomeBase(root, newParts)
    val boundaries = EncodeJob.computeUrlBoundaries(
      survivors.select("url").as(Encoders.STRING), newParts)
    val prepared = EncodeJob.withPartIds(survivors.toDF(), boundaries, base)
    val (_, newEntries, _) = EncodeJob.stageEncode(spark, prepared, newParts, root)

    val snap = SnapshotStore.commitReplacing(root, newEntries, affectedSet,
      rowsRehomed = true)
    DeleteResult(snap, affectedIds.size, newEntries.size, affectedRows,
      newEntries.map(_.nRows).sum)
  }
}
