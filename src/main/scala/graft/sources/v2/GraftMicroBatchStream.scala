package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}

import graft.sources.SnapshotStore

/** Stream offset = committed snapshot id. `fresh = true` marks a stream's OWN
  * initial offset: the one position where a missing predecessor manifest is
  * legal (the stream starts at the earliest RETAINED snapshot, whose manifest
  * is the full table state — there is nothing before it to have missed). A
  * checkpointed non-fresh offset with an expired predecessor is a retention
  * violation instead, and planning fails with the remediation. */
final case class GraftOffset(snapshotId: Long, fresh: Boolean = false) extends Offset {
  override def json(): String =
    if (fresh) s"""{"snapshotId":$snapshotId,"fresh":true}"""
    else s"""{"snapshotId":$snapshotId}"""
}

object GraftOffset {
  private val P = """\{\s*"snapshotId"\s*:\s*(-?\d+)\s*\}""".r
  private val PF = """\{\s*"snapshotId"\s*:\s*(-?\d+)\s*,\s*"fresh"\s*:\s*true\s*\}""".r
  def fromJson(json: String): GraftOffset = json.trim match {
    case PF(id) => GraftOffset(id.toLong, fresh = true)
    case P(id) => GraftOffset(id.toLong)
    case other => throw new IllegalArgumentException(
      s"not a graft stream offset: '$other'")
  }
}

/**
 * Incremental (micro-batch) read of the snapshot store:
 * `spark.readStream.format("graft").load(root)` — the normal downstream shape
 * of a training-data pipeline, where each new crawl commit feeds dedup/stats
 * consumers without re-scanning the table.
 *
 * One batch = the parts NEWLY COMMITTED in an offset range `(start, end]` of
 * snapshot ids. Per snapshot the delta is computed against its immediate
 * predecessor's manifest (ids are consecutive by construction,
 * [[SnapshotStore.commitReplacing]]), so a replayed batch — same checkpointed
 * offsets — plans the identical part set from the identical immutable
 * manifests: end-to-end exactly-once with a downstream idempotent sink.
 *
 * Commit kinds: a compaction re-homes rows earlier snapshots already streamed
 * and is SKIPPED, identified by its persisted `rowsRehomed` marker
 * ([[SnapshotStore.isRehomedCommit]]) — NOT by tombstone growth, because a
 * truncate/overwrite also grows tombstones yet carries genuinely new rows,
 * which DO stream. The stream is append-only: an overwrite delivers its new
 * rows, the logical deletion of the old rows is not signaled (consumers
 * needing replace semantics should re-read the snapshot, batch).
 *
 * Retention: planning `(start, end]` needs the manifests of every snapshot in
 * the range plus `start` itself (the first delta's predecessor) — a part is
 * read from the dir of the snapshot that born it, so a later compaction
 * cannot re-home rows out from under a lagging stream. A FRESH stream instead
 * starts at the earliest retained snapshot (full-table first batch, no
 * predecessor needed). If expiry outran a checkpointed stream, planning fails
 * with the remediation — size `expireSnapshots(keepLast)` to cover the
 * maximum stream lag.
 */
final class GraftMicroBatchStream(root: String,
    readSchema: org.apache.spark.sql.types.StructType,
    refColumn: String,
    initialPredicates: Seq[graft.jobs.DecodeJob.BlockPredicate] = Seq.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Pushed block predicates for per-batch group pruning. Spark's
    * MicroBatchExecution performs NO pushdown when building stream scans, so
    * these arrive from [[graft.plans.StreamFilterPushRule]] during each
    * micro-batch's optimization (always before that batch's
    * planInputPartitions; the query's filters are static, so every batch sets
    * the same value). Pruning-only — the plan keeps the Filter residual. */
  @volatile private var predicates: Seq[graft.jobs.DecodeJob.BlockPredicate] =
    initialPredicates

  private[graft] def setPushedPredicates(ps: Seq[graft.jobs.DecodeJob.BlockPredicate]): Unit =
    predicates = ps

  // pinned at prepareForTriggerAvailableNow: the AvailableNow run drains up to
  // HERE and stops, even if more commits land while it runs
  @volatile private var availableNowTarget: Option[Long] = None

  private def currentId: Long = SnapshotStore.currentSnapshotId(root).getOrElse(0L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentId)

  /** Start just below the earliest RETAINED snapshot (not a hardwired 0: on a
    * store that ever ran expireSnapshots, manifest 1 is gone and a 0-based
    * stream could never plan its first batch). The first batch then emits the
    * earliest retained manifest whole — the full table as of that snapshot. */
  override def initialOffset(): Offset = {
    val earliest = SnapshotStore.snapshotIds(root).headOption
    GraftOffset(earliest.map(_ - 1L).getOrElse(0L), fresh = true)
  }

  // SupportsAdmissionControl route (SupportsTriggerAvailableNow extends it):
  // no rate limiting — a batch is whatever snapshot range has committed, capped
  // at the pinned AvailableNow target
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    GraftOffset(availableNowTarget.getOrElse(currentId))

  override def reportLatestOffset(): Offset = GraftOffset(currentId)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)

  override def commit(end: Offset): Unit = () // offsets live in Spark's checkpoint

  override def stop(): Unit = planLock.synchronized {
    lastRange = null
    lastPlan = null
  }

  private def retentionFail(sid: Long, start: Long, end: Long,
      cause: Throwable): Nothing = throw new IllegalStateException(
    s"streaming read of $root needs the manifest of snapshot $sid to plan " +
    s"range ($start, $end], but it is gone — expired under a lagging stream. " +
    "Size SnapshotStore.expireSnapshots(keepLast) to cover the stream lag, or " +
    "restart the stream from a fresh checkpoint (re-reads the table).", cause)

  /** Entries of every part to EMIT in `(start.snapshotId, end]` — the shared
    * additions-changelog walk ([[SnapshotStore.deltaEntries]], also behind the
    * incremental batch read) with this stream's retention remediation. */
  private def emitEntries(start: GraftOffset, end: Long): Seq[SnapshotStore.PartEntry] =
    SnapshotStore.deltaEntries(root, start.snapshotId, end, freshFrom = start.fresh)(
      (sid, e) => retentionFail(sid, start.snapshotId, end, e))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftOffset]
    // Offset 0 = nothing consumed yet (snapshot ids start at 1; any stream
    // that emitted a batch checkpoints an id >= 1). The `fresh` flag is lost
    // once an EMPTY first batch is checkpointed (latestOffset builds plain
    // end offsets), so a stream started on an empty store would otherwise
    // retention-fail after commits + expiry despite having emitted nothing —
    // re-base it at the earliest retained snapshot like the fresh path, which
    // is lossless by the same argument (full first emit).
    // ONE manifests-dir listing feeds BOTH rebases below (offset-0 and
    // expired-fresh — same "earliest retained - 1, full first emit" value)
    lazy val earliestMinus1: Option[Long] =
      SnapshotStore.snapshotIds(root).headOption.map(_ - 1L)
    val s1 = if (s0.snapshotId == 0L && !s0.fresh)
      GraftOffset(earliestMinus1.getOrElse(0L), fresh = true)
    else s0
    val e = end.asInstanceOf[GraftOffset].snapshotId
    // a FRESH stream whose pinned first snapshot was expired between
    // initialOffset() and this (first) planning would retentionFail on every
    // restart — the fresh flag only excuses a missing PREDECESSOR, not a
    // missing first snapshot. Re-base to the current earliest retained
    // snapshot: lossless by the same full-first-emit argument as the offset-0
    // rebase (the stream has emitted nothing yet). Only when the rebased range
    // stays non-degenerate — otherwise fall through to the honest retention
    // failure instead of silently emitting an empty first batch.
    val s = if (s1.fresh) {
      earliestMinus1
        .filter(eb => eb > s1.snapshotId && eb < e)
        .map(eb => GraftOffset(eb, fresh = true))
        .getOrElse(s1)
    } else s1
    if (e <= s.snapshotId) return Array.empty
    val spark = SparkSession.active
    planLock.synchronized {
      // the engine plans one batch MULTIPLE times (logical planning + physical
      // execution) — memoize per offset range so re-planning reuses the same
      // partitions instead of re-running the manifest walk and metadata scan.
      // The manifest walk (emitEntries) sits INSIDE the memo: rangeKey does
      // not depend on it, and a memo hit must not re-parse every manifest in
      // the range.
      val rangeKey = (s.snapshotId, s.fresh, e, predicates)
      if (lastRange == rangeKey) return lastPlan
      val entries = emitEntries(s, e)
      // pushed predicates prune THIS BATCH's delta groups through the same
      // driver-side two-level planning as the batch scan (planPrunedKeys over
      // the emitted entries only) — the normal incremental-consumer shape
      // (new crawl snapshots -> filter lang -> dedup) decodes only matching
      // groups instead of every new part. Residual filters keep results exact.
      import graft.jobs.DecodeJob
      val keysOpt: Option[Array[(Int, Int)]] =
        if (predicates.isEmpty || entries.isEmpty) None
        else Some(DecodeJob.planPrunedKeys(settings, root, entries, predicates,
          Some(GraftDataSource.storeSchema(root).fieldNames.toSet)))
      val parts: Array[InputPartition] =
        if (entries.isEmpty) Array.empty
        else {
          // row path only (batch-sized ColumnarBatches buy nothing on micro-batches)
          val (p, f) = GraftDataSource.packPartitions(spark, root, entries,
            readSchema, refColumn, keys = keysOpt, columnar = false, limit = -1)
          GraftDataSource.recordPlanStats(root, GraftDataSource.PlanStats(
            p.length, f, predicates.size, keysOpt.map(_.length)))
          p
        }
      lastRange = rangeKey
      lastPlan = parts
      parts
    }
  }

  // per-range plan memo (see planInputPartitions)
  private val planLock = new Object
  private var lastRange: (Long, Boolean, Long, Seq[graft.jobs.DecodeJob.BlockPredicate]) = null
  private var lastPlan: Array[InputPartition] = null

  // the session's Hadoop settings, read once for the life of the stream and
  // shared by every batch: planning reads footers with them, and the
  // readers open block files with them
  private lazy val settings = HadoopSettings(SparkSession.active)

  override def createReaderFactory(): PartitionReaderFactory = GraftReaderFactory(settings)
}
