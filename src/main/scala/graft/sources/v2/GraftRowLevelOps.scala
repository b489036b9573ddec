package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.Distribution
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.jobs.DecodeJob
import graft.sources.SnapshotStore

/**
 * Group-based copy-on-write row-level operations (Iceberg-style COW): SQL
 * `UPDATE`, `MERGE INTO`, and `DELETE FROM` with conditions the
 * [[graft.jobs.DeleteJob]] path cannot express exactly.
 *
 * Spark rewrites the command into a `ReplaceData` plan:
 *
 *  - **Scan side** ([[GraftCowScan]]): the command's condition arrives via
 *    filter pushdown and is used ONLY to choose which PARTS to rewrite — a
 *    part none of whose block metadata admits the condition provably holds no
 *    matching row and keeps its files untouched. Every row of every affected
 *    part is emitted (no group-level key slicing, no row filters, no
 *    residual evaluation inside the reader): copy-on-write replaces whole
 *    parts, so dropping any unmatched row of an affected part would lose it.
 *    Block pruning being a superset is safe here for the same reason — an
 *    extra part is rewritten byte-identically, never changed.
 *  - **Write side** ([[GraftCowWrite]]): the rewritten rows run the standard
 *    distributed staged-encode pipeline (url range distribution + in-task
 *    sort, one block file per task) into the NEGATIVE rehoming
 *    part-id namespace (below every id ever used — the same namespace as
 *    compaction/DELETE, so a streamed store's upward `batchId*parts` ids are
 *    never poisoned), and the commit atomically replaces exactly the parts
 *    the scan planned. Old snapshots keep their manifests: time travel across
 *    a DML statement works like across a compaction.
 *
 * Commit kind: a COW DELETE carries only re-homed survivor rows, so it is
 * marked `rowsRehomed` and incremental streams skip it (they already
 * delivered those rows; deletions are not signaled on an append-only stream —
 * the DeleteJob contract). UPDATE/MERGE change or add row content, so their
 * commits are NOT rehomed-marked and stream their rewritten parts, like
 * overwrite. One granularity caveat: a MERGE whose only clause is
 * `WHEN MATCHED THEN DELETE` also carries only survivors, but the connector
 * API reports it as MERGE (clauses aren't exposed), so it streams like an
 * UPDATE of the affected parts — prefer `DELETE FROM` for pure deletions on
 * streamed stores (documented at the commit site).
 *
 * Exactness: DELETE with a condition expressible exactly over the decoded
 * view never reaches this path — Spark's `OptimizeMetadataOnlyDeleteFromTable`
 * converts it back to [[GraftTable.deleteWhere]] ([[graft.jobs.DeleteJob]]:
 * the affected parts are chosen from metadata, and their surviving rows are
 * decoded and re-encoded). UPDATE/MERGE and inexpressible DELETEs run the full
 * read-rewrite-replace cycle below.
 */
final class GraftRowLevelOperation(root: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Part ids the COW scan planned — the exact set the write's commit
    * tombstones. LAST-write-wins, not additive: Spark's `BatchScanExec` plans
    * input partitions once eagerly (before runtime filters, a superset) and
    * once more for execution after `filter()` delivered the runtime group
    * filter; only the LAST planning reflects the parts actually read and
    * rewritten — accumulating the pre-filter superset would tombstone parts
    * whose rows were never re-written (data loss). */
  @volatile private var replaced: Set[Int] = Set.empty

  private[v2] def recordScannedParts(parts: Set[Int]): Unit = replaced = parts

  private[v2] def scannedPartIds: Set[Int] = replaced

  override def command(): RowLevelOperation.Command = cmd

  /** `_part_id` is the group identity of this COW operation (the unit the
    * commit replaces). Declaring it does double duty: Spark's `ReplaceData`
    * planner only applies the row projection separating data columns from
    * plan-internal ones when metadata attributes are present (otherwise the
    * writer would receive raw plan rows), and the optimizer's
    * `RowLevelOperationRuntimeGroupFiltering` rule builds its runtime group
    * filter over exactly these attributes. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_part_id"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(root, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    val expected = GraftDataSource.PageSchema
    require(s.fields.map(f => (f.name, f.dataType)).toSeq ==
        expected.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft table schema is ${expected.simpleString}; cannot write ${s.simpleString}")
    new WriteBuilder { override def build(): Write = new GraftCowWrite(root, GraftRowLevelOperation.this) }
  }

  override def description(): String = s"GraftCopyOnWrite $cmd root=$root"
}

/** The command condition arrives here as ordinary pushed filters; they prune
  * at PART granularity only and are all returned as residuals (group-based
  * plans evaluate the condition themselves — inside the update projection /
  * merge rows / survivor filter — never as a scan-side row filter). */
final class GraftCowScanBuilder(root: String, op: GraftRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = GraftDataSource.PageSchema
  private var pushed: Array[Filter] = Array.empty
  private var predicates: Seq[ExactFilter] = Seq.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val converted =
      filters.map(f => f -> FilterConversion.toLeaves(f, GraftDataSource.PageSchema)._1)
    pushed = converted.collect { case (f, ls) if ls.nonEmpty => f }
    predicates = converted.flatMap(_._2).toSeq
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = requiredSchema = required

  override def build(): Scan = new GraftCowScan(root, op, requiredSchema, predicates)
}

/** Whole-part scan of the parts the condition might touch. Emits every row of
  * every affected part: each part's block file holds that part alone, so the
  * scan plans exactly the affected parts' files.
  *
  * Runtime group filtering: Spark's `RowLevelOperationRuntimeGroupFiltering`
  * optimizer rule plans a subquery for the matching rows (through the
  * ORIGINAL table's regular batch scan — block-pruned, never this scan) and
  * delivers the distinct `_part_id` values here via [[filter]] before
  * planning. This is what keeps an un-pushable condition — a MERGE join, a
  * `length(text) % 3` predicate — from rewriting every part: only parts that
  * actually HOLD a matching row are read, rewritten, and replaced. */
final class GraftCowScan(root: String, op: GraftRowLevelOperation,
    requiredSchema: StructType, predicates: Seq[ExactFilter])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Part ids holding at least one matching row, per the runtime group-filter
    * subquery; None = no runtime filter arrived (static superset is sound). */
  @volatile private var runtimeParts: Option[Set[Int]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_part_id"))

  // a filter shape other than int In/EqualTo on _part_id is ignored (a
  // superset rewrite is sound)
  override def filter(filters: Array[Filter]): Unit =
    filters.flatMap(FilterConversion.partIdsOf).foreach { ids =>
      runtimeParts = Some(runtimeParts.fold(ids)(_ intersect ids))
    }

  override def readSchema(): StructType = requiredSchema

  override def description(): String =
    s"GraftCopyOnWriteScan root=$root columns=[${requiredSchema.fieldNames.mkString(",")}] " +
      s"PartPruningPredicates: [${predicates.mkString(", ")}]"

  override def toBatch: Batch = this

  /** Manifest entries + statically affected parts, computed ONCE per
    * statement: `BatchScanExec` plans twice (eagerly before runtime filters,
    * again after `filter()` delivered them), and the part pruning (planned
    * on the driver from manifest stats and, for multi-group parts, their
    * footers) plus the manifest read depend only on immutable inputs —
    * re-running them on the second planning would double driver-side
    * planning cost for nothing. (Also keeps both plannings on ONE snapshot: a compaction
    * committing between them could otherwise shift the entry set.) */
  private lazy val staticPlan: (Seq[SnapshotStore.PartEntry], Set[Int]) = {
    val entries = SnapshotStore.currentEntries(root)
    // part-level pruning over the PINNED entries, not a manifest re-read: a
    // compaction committing between two reads could hand back re-homed part
    // ids this plan's entry list doesn't contain — zero rows would be
    // rewritten yet the commit would tombstone them (silent row loss). An
    // empty entry list (e.g. MERGE used as a first load) affects nothing.
    (entries, DecodeJob.affectedParts(SparkSession.active, root, entries, predicates))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (entries, staticAffected) = staticPlan
    // the FINAL set is what the commit tombstones — intersect the runtime
    // group filter (parts proven to hold a matching row) before recording
    val affected: Set[Int] = runtimeParts.fold(staticAffected)(_ intersect staticAffected)
    op.recordScannedParts(affected)
    val cowEntries = entries.filter(e => affected(e.partId))
    if (cowEntries.isEmpty) return Array.empty
    GraftDataSource.packPartitions(SparkSession.active, root, cowEntries,
      requiredSchema, "url", None, limit = -1)._1
  }

  // the session's Hadoop settings, read once per statement however often
  // Spark plans this scan
  private lazy val settings = HadoopSettings(SparkSession.active)

  override def createReaderFactory(): PartitionReaderFactory = GraftReaderFactory(settings)
}

/** Same physical layout contract as [[GraftWrite]] (url range distribution +
  * in-partition sort, explicit partition-count conf for big rewrites), but
  * ids come from the negative rehoming namespace and the commit REPLACES the
  * scanned parts. No stream-width pinning: rewrites never occupy the
  * streaming id space. */
final class GraftCowWrite(root: String, op: GraftRowLevelOperation)
    extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution = GraftWriteLayout.urlDistribution

  override def requiredOrdering(): Array[SortOrder] = GraftWriteLayout.UrlOrdered

  override def requiredNumPartitions(): Int = GraftWriteLayout.confWritePartitions()

  override def advisoryPartitionSizeInBytes(): Long =
    if (requiredNumPartitions() > 0) 0L else 64L << 20

  override def toBatch: BatchWrite = new GraftCowBatchWrite(root, op)

  override def description(): String =
    s"GraftCopyOnWriteStore root=$root command=${op.command()}"
}

final class GraftCowBatchWrite(root: String, op: GraftRowLevelOperation)
    extends BatchWrite {

  private val (relDir, absDir) = SnapshotStore.newDataDir(root)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val base = SnapshotStore.nextRehomeBase(root, info.numPartitions())
    GraftDataWriterFactory(absDir, base, HadoopSettings(SparkSession.active))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.map(_.asInstanceOf[GraftWriterCommitMessage])
    // exactly-once: only the accepted attempts' files become readable
    GraftWriteLayout.publish(absDir, msgs)
    val entries = GraftWriteLayout.entriesFrom(msgs, relDir)
    val replaced = op.scannedPartIds
    if (entries.isEmpty && replaced.isEmpty) {
      // the condition provably touched nothing: no snapshot, drop the staging
      GraftWriteLayout.sweepStrays(absDir, Set.empty, dropDirIfEmpty = true)
      return
    }
    // A COW DELETE re-homes surviving rows (streams must not replay them);
    // UPDATE/MERGE change or add content and must stream, like overwrite.
    // Known granularity limit, inherent to the connector API: a MERGE whose
    // only action is WHEN MATCHED THEN DELETE also emits only re-homed
    // survivors, but `command()` still reports MERGE (actions aren't exposed),
    // so its commit streams — downstream consumers see the rewritten parts'
    // survivors again, exactly as they would for an UPDATE of those parts.
    // Use `DELETE FROM` for pure deletions on streamed stores.
    SnapshotStore.commitReplacing(root, entries, replaced,
      rowsRehomed = op.command() == RowLevelOperation.Command.DELETE)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteLayout.dropStaging(absDir)
}
