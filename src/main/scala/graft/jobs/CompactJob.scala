package graft.jobs

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.sources.SnapshotStore

/**
 * OPTIMIZE-style store maintenance: merge fragmented small parts into full-size
 * ones. The streaming sink gives every micro-batch its own part-id namespace
 * ([[graft.sources.v2.GraftStreamingWrite]]), so a long-running stream
 * accumulates many sub-block-size parts whose per-part overhead (manifest rows,
 * tiny block files, FSST tables per small block) degrades scans.
 *
 * The job decodes the small parts, re-range-partitions them by url into
 * `ceil(rows / targetRowsPerPart)` new parts, re-encodes with the SAME kernel the
 * encode job uses, and commits a manifest that REPLACES the compacted entries
 * ([[SnapshotStore.commitReplacing]]).
 *
 * Invariants preserved:
 *  - Time travel: old manifests still reference the old data dirs — nothing is
 *    deleted, pre-compaction snapshots stay readable.
 *  - Resume/exactly-once: compacted parts get ids in a NEGATIVE namespace (below
 *    every batch/wave id, which are always >= 0), so a replayed streaming batch
 *    can never collide with a compacted part in the sink's replay check.
 *  - Bounded memory: the rewrite is the standard shuffle-once encode pipeline —
 *    no per-part driver materialization.
 */
object CompactJob {

  final case class CompactResult(snapshotId: Long, partsCompacted: Int,
      partsCreated: Int, nRows: Long)

  /**
   * Compact every committed part smaller than `minRows`. No-op (returns the
   * current snapshot unchanged) when fewer than two such parts exist.
   */
  def run(spark: SparkSession, root: String,
          minRows: Long = EncodeJob.BlockSize / 2,
          targetRowsPerPart: Long = EncodeJob.BlockSize): CompactResult = {
    DecodeJob.requireWebtext(root) // the rewrite decodes/re-encodes WebPage rows
    // ONE pointer read: the parts are chosen from, and decoded at, this
    // snapshot's immutable manifest (a concurrent commit cannot slip between)
    val pinned = SnapshotStore.currentSnapshotId(root)
    val entries = pinned.fold(Seq.empty[SnapshotStore.PartEntry])(SnapshotStore.entriesAt(root, _))
    val curSnap = pinned.getOrElse(0L)
    val small = entries.filter(_.nRows < minRows)
    if (small.size < 2)
      return CompactResult(curSnap, 0, 0, 0L)

    val smallIds = small.map(_.partId)
    val totalRows = small.map(_.nRows).sum
    val newParts = math.max(1L, (totalRows + targetRowsPerPart - 1) / targetRowsPerPart).toInt

    val base = SnapshotStore.nextRehomeBase(root, newParts)

    val pages = DecodeJob.decodePartsOf(spark, root, curSnap, smallIds)
    // fresh boundaries for the compacted subset; the store-level BOUNDARIES file
    // (the batch job's work-unit definition) is deliberately left untouched.
    // The sample reads only the url column of the parts.
    val boundaries = EncodeJob.computeUrlBoundaries(
      pages.select("url").as(Encoders.STRING), newParts)
    val prepared = EncodeJob.withPartIds(pages.toDF(), boundaries, base)
    val (_, newEntries, _) = EncodeJob.stageEncode(spark, prepared, newParts, root)

    // rowsRehomed: this commit's parts carry only rows earlier snapshots
    // already delivered — the streaming reader must skip it
    val snap = SnapshotStore.commitReplacing(root, newEntries, smallIds.toSet,
      rowsRehomed = true)
    CompactResult(snap, small.size, newEntries.size, newEntries.map(_.nRows).sum)
  }
}
