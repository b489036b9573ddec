package graft.sources.v2

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.jobs.EncodeJob
import graft.sources.SnapshotStore

/**
 * DataSource V2 WRITE path: `df.write.format("graft").mode("append").save(root)`
 * and SQL `INSERT INTO` (over a `USING graft` relation) run the SAME staged
 * encode-and-commit pipeline as [[graft.jobs.EncodeJob]] — fully distributed,
 * with no inner Spark job:
 *
 *  - **Distribution/ordering** ([[RequiresDistributionAndOrdering]]): Spark is
 *    asked for a RANGE distribution on `url` with url-ascending order inside
 *    each partition — the V2 equivalent of the batch job's explicit sampled
 *    boundaries + sortWithinPartitions. Blocks therefore carry tight
 *    url min/max metadata, so the prefix/range pruning the read paths rely on
 *    works identically on SQL-written data.
 *  - **Each task IS an encode kernel** ([[GraftDataWriter]], which the batch
 *    job's tasks run too): the partition's rows stream through the shared
 *    [[graft.jobs.BlockEncoder]] block buffering and codec auto-selection,
 *    and the task streams its own native block file ([[BlockFile]], one file
 *    per task) straight into a staged data dir. Commit messages name the
 *    file and carry the per-part lineage rollup (rows, orig/enc bytes,
 *    per-column codecs, planning stats) folded in-task by
 *    [[graft.jobs.PartRollup]] — no post-write metrics job.
 *  - **Exactly-once commit**: tasks stage attempt-unique files under a
 *    dot-prefixed in-progress name (invisible to all readers) and never
 *    rename them. The driver's [[GraftBatchWrite.commit]] promotes exactly
 *    the files its accepted commit messages name
 *    ([[GraftWriteLayout.publish]]) and deletes every other staged file, then
 *    atomically commits the manifest (append, or replace-all for
 *    `mode("overwrite")` via [[SupportsTruncate]]). A zombie attempt
 *    flushing bytes after the fact only ever leaves a dot-file; a crash
 *    before commit leaves only an orphaned staging dir for the expiry sweep —
 *    the store never sees partial writes.
 *
 * Part-id namespace: each SQL write allocates fresh part ids above every
 * committed (and tombstoned) id — appends never collide with prior work
 * units. Writer-mixing rules, enforced: a streaming-encoded store REFUSES SQL
 * appends (they would occupy future batches' ids — see the require in
 * [[GraftBatchWrite]]), and the streaming sink refuses non-fresh stores
 * ([[graft.streaming.StreamingEncode.checkStreamParts]]). `EncodeJob.run` on
 * a SQL-grown store is safe but inert for ids it considers committed
 * (resume-by-part-id semantics).
 */
final class GraftWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var replaceAll = false

  override def truncate(): WriteBuilder = { replaceAll = true; this }

  override def build(): Write = {
    val s = info.schema()
    // the store's persisted schema (SCHEMA sidecar, written by the catalog's
    // CREATE TABLE / the first commit), else the webtext default
    val expected = GraftDataSource.storeSchema(root)
    require(s.fields.map(f => (f.name, f.dataType)).toSeq ==
        expected.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft table schema is ${expected.simpleString}; cannot write ${s.simpleString}")
    // pre-arranged by GraftWriteArrangeRule: the query already carries the
    // bucket exchange + sort-key sort, so requiring a distribution here would
    // stack a second (range, full-double-compute) exchange on top
    new GraftWrite(root, replaceAll,
      arranged = info.options.getBoolean(graft.plans.GraftWriteArrangeRule.ArrangedKey, false),
      schema = expected)
  }
}

/** Layout/sizing pieces shared by every write path into a store — the batch
  * append ([[GraftWrite]]) and the copy-on-write rewrite
  * ([[GraftCowWrite]]). One definition: a fix to the distribution contract or
  * the partitions-conf validation must not have to land twice. */
private[graft] object GraftWriteLayout {
  /** Range-partition + sort on url: the WEBTEXT store's physical layout
    * invariant (kept for the webtext-only row-level rewrite path). */
  val UrlOrdered: Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("url"), SortDirection.ASCENDING))

  def urlDistribution: Distribution = Distributions.ordered(UrlOrdered)

  /** Generalized layout: range-partition + sort on the schema's sort key (the
    * first string column, else the first column — GraftDataSource.sortKeyOf). */
  def sortOrderFor(schema: org.apache.spark.sql.types.StructType): Array[SortOrder] =
    Array(Expressions.sort(
      Expressions.column(GraftDataSource.sortKeyOf(schema).name), SortDirection.ASCENDING))

  def distributionFor(schema: org.apache.spark.sql.types.StructType): Distribution =
    Distributions.ordered(sortOrderFor(schema))

  /** `spark.graft.write.partitions`, validated; 0 = unset (Spark/AQE sizes the
    * exchange). See [[GraftWrite.requiredNumPartitions]] for why big writes
    * need the explicit count. */
  def confWritePartitions(): Int =
    org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.write.partitions").map { s =>
        val n = try s.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.write.partitions must be a positive int, got '$s'")
        }
        require(n > 0, s"spark.graft.write.partitions must be positive, got $n")
        n
      }.getOrElse(0)

  /** Exactly-once commit: promote the staged file of each attempt the driver
    * accepted (its commit message names it) to its readable name, then delete
    * every other file in the staging dir — crashed, aborted and zombie
    * attempts' staging. Tasks never rename, so an attempt whose result was
    * dropped can leave at most an unreadable dot-file, even when it finishes
    * after this call (the expiry sweep reclaims those). */
  def publish(absDir: String, msgs: Seq[GraftWriterCommitMessage]): Unit = {
    val dir = Paths.get(absDir)
    val names = msgs.iterator.map(_.fileName).filter(_ != null).toSet
    names.foreach { f =>
      val staged = dir.resolve(GraftDataWriter.stagedName(f))
      // a re-run commit (same messages) finds the file already promoted
      if (Files.exists(staged))
        Files.move(staged, dir.resolve(f), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else require(Files.exists(dir.resolve(f)), s"staged block file for $f is missing")
    }
    sweepStrays(absDir, names)
  }

  /** Delete any file in the staging dir not in `committedNames`, then — if
    * the whole staging is unused — the empty dir itself when `dropDirIfEmpty`. */
  def sweepStrays(absDir: String, committedNames: Set[String],
                  dropDirIfEmpty: Boolean = false): Unit = {
    val dir = Paths.get(absDir)
    if (Files.exists(dir)) {
      SnapshotStore.listFileNames(dir).filterNot(committedNames)
        .foreach(f => Files.deleteIfExists(dir.resolve(f)))
      if (dropDirIfEmpty && SnapshotStore.listFileNames(dir).isEmpty)
        Files.deleteIfExists(dir)
    }
  }

  /** Abort cleanup: drop the whole staging dir and its contents. */
  def dropStaging(absDir: String): Unit = {
    val dir = Paths.get(absDir)
    if (Files.exists(dir)) {
      SnapshotStore.listFileNames(dir).foreach(f => Files.deleteIfExists(dir.resolve(f)))
      Files.deleteIfExists(dir)
    }
  }

  /** Manifest entries from the tasks' commit messages (empty tasks dropped);
    * each names its task's file, which lives in `relDir`. */
  def entriesFrom(msgs: Seq[GraftWriterCommitMessage],
                  relDir: String): Seq[SnapshotStore.PartEntry] =
    msgs.iterator.filter(_.entry.nRows > 0).map(_.entry.copy(dataDir = relDir)).toSeq
}

final class GraftWrite(root: String, replaceAll: Boolean, arranged: Boolean = false,
    schema: StructType = GraftDataSource.PageSchema)
    extends Write with RequiresDistributionAndOrdering {

  // range-partition + sort on the schema's sort key: the store's physical
  // layout invariant. `arranged` = GraftWriteArrangeRule already injected the
  // (cheaper, sample-free) bucket exchange + sort into the query — ask for
  // nothing, or Spark stacks a second exchange with a full-double-compute
  // sample pass
  override def requiredDistribution(): Distribution =
    if (arranged) Distributions.unspecified() else GraftWriteLayout.distributionFor(schema)

  override def requiredOrdering(): Array[SortOrder] =
    if (arranged) Array.empty else GraftWriteLayout.sortOrderFor(schema)

  /** Writer task count. Default 0 lets Spark size the range exchange
    * (shuffle partitions / AQE) — right for everyday appends. For BIG writes
    * set `spark.graft.write.partitions` so each task lands ~16-64MB of rows:
    * AQE can only COALESCE a range exchange, never split it, so a 100GB write
    * over the default 32 shuffle partitions would stack GBs of sorted rows
    * per task on top of the kernel's 64MB block buffer and OOM a lean
    * executor (measured at the 5M-page checkpoint, when parquet also buffered
    * a row group: 32 × 360MB on an 8g heap died; 512-way, the batch job's own
    * sizing, encodes comfortably). This mirrors EncodeJob.run's explicit
    * `parts` — partition count is the one knob an engine cannot infer at
    * write-plan time because the input's size is unknown there. */
  override def requiredNumPartitions(): Int = {
    if (arranged) return 0 // count lives in the injected exchange
    // a store ever written by a STREAM has its width pinned in STREAM_PARTS —
    // a restarted stream must always ask Spark for exactly that width, never
    // the session conf (setting spark.graft.write.partitions for an unrelated
    // big batch write would otherwise change info.numPartitions() at the next
    // epoch replan and checkStreamParts would kill the stream; same if the
    // conf was set at first start and later unset)
    graft.streaming.StreamingEncode.pinnedStreamParts(root)
      .getOrElse(GraftWriteLayout.confWritePartitions())
  }

  /** When Spark sizes the exchange itself (partitions conf unset), ask AQE to
    * coalesce toward one block bound per task — small appends then produce few
    * well-sized files instead of shuffle-partition-many tiny ones. Spark
    * rejects a write that pins BOTH a partition count and an advisory size,
    * so this yields 0 (unset) whenever the count conf is in force. */
  override def advisoryPartitionSizeInBytes(): Long =
    if (arranged || requiredNumPartitions() > 0) 0L else 64L << 20

  override def toBatch: BatchWrite = {
    // fired-evidence hook: count arranged writes at EXECUTION — toBatch is
    // invoked by the write exec's run(), never by planning, so an
    // `EXPLAIN INSERT` (which analyzes the command and fires the arrange
    // rule) does not pollute the counter with writes that never ran
    if (arranged) graft.plans.GraftWriteArrangeRule.arranged.incrementAndGet()
    new GraftBatchWrite(root, replaceAll, schema)
  }

  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!arranged,
      s"${graft.plans.GraftWriteArrangeRule.ArrangedKey} is an internal batch-write " +
      "marker; a streaming write must keep its distribution requirement (the " +
      "STREAM_PARTS width pin rides on it) — drop the option")
    require(!replaceAll,
      "graft streaming write supports APPEND output mode only (complete/update " +
      "would truncate the store every epoch)")
    new GraftStreamingWrite(root, schema)
  }

  override def description(): String =
    s"GraftStore root=$root mode=${if (replaceAll) "truncate" else "append"}"
}

/** A writer task's file and its part's manifest entry, which names the file
  * and its length (the driver sets the entry's data dir at commit). */
final case class GraftWriterCommitMessage(
    fileName: String, // null when the task saw no rows (no file written)
    entry: SnapshotStore.PartEntry) extends WriterCommitMessage

final class GraftBatchWrite(root: String, replaceAll: Boolean,
    schema: StructType = GraftDataSource.PageSchema) extends BatchWrite {

  // a streaming-encoded store reserves the WHOLE upward id space as its
  // batchId*parts namespace: a SQL append at max+1 would occupy a future
  // batch's ids and the sink would take that batch for a replay — refuse
  // loudly instead (the reverse direction is guarded in
  // StreamingEncode.checkStreamParts)
  require(!java.nio.file.Files.exists(Paths.get(root, "STREAM_PARTS")),
    s"store at $root is written by a streaming encode (STREAM_PARTS pins its " +
    "batchId*parts id namespace); a SQL append would poison future batches' " +
    "part ids and their rows would be silently dropped — keep streaming into " +
    "it, or write to a separate store")

  // staged on the DRIVER at factory creation: one data dir per write, fresh
  // part-id namespace above everything committed or tombstoned
  private val (relDir, absDir) = SnapshotStore.newDataDir(root)
  private val partOffset: Int = {
    val used = SnapshotStore.committedPartIds(root)
    if (used.isEmpty) 0 else used.max + 1
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftDataWriterFactory(absDir, partOffset,
      HadoopSettings(org.apache.spark.sql.SparkSession.active), schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the store is self-describing from its first commit on: later reads,
    // writes, and the arrange rule all key off the persisted schema (absent =
    // the webtext default, so persisting it for webtext too is just explicit)
    if (GraftDataSource.persistedSchema(root).isEmpty)
      GraftDataSource.writeSchemaSidecar(root, schema)
    val msgs = messages.toSeq.map(_.asInstanceOf[GraftWriterCommitMessage])
    // exactly-once: only the accepted attempts' files become readable
    GraftWriteLayout.publish(absDir, msgs)
    val entries = GraftWriteLayout.entriesFrom(msgs, relDir)
    if (entries.isEmpty && !replaceAll) {
      // empty append: nothing to commit, drop the unused staging dir
      GraftWriteLayout.sweepStrays(absDir, Set.empty, dropDirIfEmpty = true)
      return
    }
    val replaced: Set[Int] =
      if (replaceAll) SnapshotStore.currentEntries(root).map(_.partId).toSet
      else Set.empty
    SnapshotStore.commitReplacing(root, entries, replaced)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteLayout.dropStaging(absDir)
}

final case class GraftDataWriterFactory(absDir: String, partOffset: Int,
    settings: HadoopSettings,
    schema: StructType = GraftDataSource.PageSchema)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(absDir, partOffset + partitionId, taskId, settings, schema)
}

/** Per-epoch original row totals, persisted at commit (`EPOCH_ROWS` sidecar:
  * one `"<epochId> <rows>"` line per committed epoch). This is what keeps
  * replay verification EXACT for the life of the store: the manifest-based
  * fallback loses the original totals once a compaction + expiry rewrites
  * history, and an unverifiable replay would force a choice between silently
  * dropping possibly-new rows and falsely killing genuine replays. ~16 bytes
  * per epoch — a year of minutely epochs is ~8 MB. Driver-only, single writer
  * per store (the same discipline as every sidecar), tmp + ATOMIC_MOVE. */
private[graft] object EpochRows {
  import java.nio.charset.StandardCharsets.UTF_8

  private def path(root: String) = Paths.get(root, "EPOCH_ROWS")

  def lookup(root: String, epochId: Long): Option[Long] = {
    val p = path(root)
    if (!Files.exists(p)) None
    else Files.readAllLines(p, UTF_8).asScala.iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val i = l.indexOf(' ')
        (l.substring(0, i).toLong, l.substring(i + 1).toLong)
      }
      .collectFirst { case (e, n) if e == epochId => n }
  }

  def record(root: String, epochId: Long, rows: Long): Unit = {
    val p = path(root)
    if (lookup(root, epochId).isDefined) return // replays never re-commit
    val prev = if (Files.exists(p)) new String(Files.readAllBytes(p), UTF_8) else ""
    SnapshotStore.writeSidecar(root, "EPOCH_ROWS", prev + s"$epochId $rows\n")
  }

  /** The epoch's committed ORIGINAL row total for namespace [lo, hi): the
    * sidecar when present, else the oldest retained manifest still listing the
    * epoch's ids un-tombstoned (a manifest that already tombstoned part of the
    * epoch lists only a PARTIAL total — unusable). The sink's replay
    * verification reads it; callers should [[record]] a recovered total
    * back (a crash between manifest commit and record() otherwise leaves the
    * verification window open until compaction+expiry erase the evidence). */
  def originalTotal(root: String, epochId: Long, lo: Long, hi: Long): Option[Long] =
    lookup(root, epochId).orElse {
      SnapshotStore.snapshotIds(root).iterator
        .map { sid =>
          val inRange = SnapshotStore.entriesAt(root, sid)
            .filter(e => e.partId >= lo && e.partId < hi)
          val partial = SnapshotStore.tombstonesAt(root, sid)
            .exists(id => id >= lo && id < hi)
          (inRange, partial)
        }
        .find(_._1.nonEmpty)
        .collect { case (orig, false) => orig.iterator.map(_.nRows).sum }
    }
}

/**
 * Native Structured Streaming sink: `df.writeStream.format("graft")
 * .start(root)`, which [[graft.streaming.StreamingEncode.encodeStream]]
 * wraps — each epoch (micro-batch) runs the same per-task encode kernels and
 * ends in one atomic manifest commit, exactly-once:
 *
 *  - The part-id namespace is `epochId * parts + partitionId` with `parts`
 *    PINNED in the STREAM_PARTS sidecar, and the writer count is enforced via
 *    [[RequiresDistributionAndOrdering.requiredNumPartitions]].
 *  - A REPLAYED epoch (engine restart after a commit) re-stages into a fresh
 *    dir, and [[GraftStreamingWrite.commit]] finds ids of its namespace
 *    already committed — once the row totals agree the duplicate staging is
 *    dropped, nothing double-commits.
 *  - Task attempts stage dot-named `.inprogress` files, and the epoch commit
 *    promotes only the files its messages name (the batch writer's zombie
 *    discipline), sweeping the rest before the manifest swap.
 */
final class GraftStreamingWrite(root: String,
    schema: StructType = GraftDataSource.PageSchema)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // one uuid per query RUN: replayed epochs in a new run stage into new dirs
  // (the old run's dir is either committed — replay skipped — or orphaned for
  // the expiry sweep)
  private val runUuid = java.util.UUID.randomUUID().toString

  private def relDir(epochId: Long): String = s"data/stream-$runUuid-e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val parts = info.numPartitions()
    // pin (or validate) the epoch namespace width — also refuses stores
    // already grown by batch/SQL appends (ids 0..parts-1 look committed and
    // epoch 0 would silently vanish)
    graft.streaming.StreamingEncode.checkStreamParts(root, parts)
    if (GraftDataSource.persistedSchema(root).isEmpty)
      GraftDataSource.writeSchemaSidecar(root, schema) // self-describing store
    GraftStreamingDataWriterFactory(root, runUuid, parts,
      HadoopSettings(org.apache.spark.sql.SparkSession.active), schema)
  }

  private def absDir(epochId: Long): String = Paths.get(root, relDir(epochId)).toString

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.map(_.asInstanceOf[GraftWriterCommitMessage])
    GraftWriteLayout.publish(absDir(epochId), msgs)
    val entries = GraftWriteLayout.entriesFrom(msgs, relDir(epochId))
    if (entries.isEmpty) { // empty epoch: nothing to commit
      GraftWriteLayout.sweepStrays(absDir(epochId), Set.empty, dropDirIfEmpty = true)
      return
    }
    // replayed epoch: ids of its namespace are already in the manifest — the
    // rows are committed, so the duplicate staging is dropped. The whole
    // namespace is checked, not only the staged ids: the range exchange may
    // re-split the same rows differently (a different sample, or a store
    // streamed with another bucketing), so ids and per-part counts can drift;
    // the SUM cannot. But an id overlap alone does NOT prove a replay: a
    // FRESH checkpoint over a grown source re-delivers committed data MIXED
    // WITH NEW ROWS inside the same epoch namespace, and dropping that would
    // silently lose the new rows. Verify by row count: each epoch is one
    // atomic commit, so equal totals = replay. The original total comes
    // from the EPOCH_ROWS sidecar (exact for the life of the store); stores
    // streamed before the sidecar existed fall back to the oldest surviving
    // manifest holding the epoch's ids — entries are immutable until
    // tombstoned, so that manifest lists the original total unless a
    // compaction already rewrote it.
    val parts = graft.streaming.StreamingEncode.pinnedStreamParts(root)
      .getOrElse(throw new IllegalStateException(
        s"store at $root streams an epoch but has no STREAM_PARTS sidecar"))
    val lo = epochId * parts
    val hi = lo + parts
    val committed = SnapshotStore.committedPartIds(root)
    if ((lo until hi).exists(id => committed(id.toInt))) {
      val stagedRows = entries.iterator.map(_.nRows).sum
      EpochRows.originalTotal(root, epochId, lo, hi) match {
        case Some(origRows) =>
          if (origRows != stagedRows) throw new IllegalStateException(
            s"stream epoch $epochId stages $stagedRows rows but its committed " +
            s"namespace [$lo, $hi) holds $origRows — this checkpoint does not " +
            "match the store (a fresh checkpoint over a grown source packs new " +
            "rows into already-committed epochs, and committing OR dropping " +
            "them would corrupt the store). Restart from the original " +
            "checkpoint, or stream into a fresh store")
          // verified replay recovered via the manifest fallback: backfill the
          // sidecar so a later compaction+expiry cannot reopen the window (a
          // crash between the original commit and record() lands here)
          EpochRows.record(root, epochId, origRows)
        case None =>
          // pre-sidecar store whose epoch entries were compacted away before
          // this replay arrived — the original total is gone, so the replay
          // cannot be verified; dropping is the only lossless-for-replays
          // choice, flag it for the operator (new stores never get here:
          // EPOCH_ROWS outlives compaction and expiry)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"stream epoch $epochId replays ids in [$lo, $hi) whose committed " +
            "entries were compacted/expired and which predates the EPOCH_ROWS " +
            "sidecar; dropping the staging UNVERIFIED " +
            s"($stagedRows staged rows assumed already committed)")
      }
      GraftWriteLayout.dropStaging(absDir(epochId))
      return
    }
    SnapshotStore.commit(root, entries)
    EpochRows.record(root, epochId, entries.iterator.map(_.nRows).sum)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftWriteLayout.dropStaging(absDir(epochId))
}

final case class GraftStreamingDataWriterFactory(root: String, runUuid: String,
    parts: Int, settings: HadoopSettings,
    schema: StructType = GraftDataSource.PageSchema)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    // deterministic epoch namespace (the replay-idempotence key); guard the
    // Int range — a wrapped id would collide silently
    val offset = epochId * parts
    require(offset >= 0 && offset + parts <= Int.MaxValue.toLong,
      s"stream epoch namespace [$offset, ${offset + parts}) exceeds the Int range")
    // a partition index at/above the pinned width would collide with the NEXT
    // epoch's ids (possible only if shuffle.partitions changed mid-run)
    require(partitionId < parts,
      s"writer partition $partitionId exceeds the pinned stream width $parts")
    val absDir = Paths.get(root, s"data/stream-$runUuid-e$epochId").toString
    new GraftDataWriter(absDir, offset.toInt + partitionId, taskId, settings,
      schema)
  }
}

object GraftDataWriter {
  /** Test hook (single-JVM/local only): when set, exactly ONE writer task
    * throws mid-write after staging a partial file — drives the task-retry
    * abort/cleanup path deterministically. */
  private[graft] val failNextWriteOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The dot-prefixed in-progress name a task stages `fileName` under;
    * no manifest names it, so no reader opens it. */
  def stagedName(fileName: String): String = s".$fileName.inprogress"

  /** A block file's readable name. It leads with the file's one part id. */
  def fileNameFor(partId: Int, taskId: Long): String = s"p$partId-task-$taskId${BlockFile.Extension}"

  private val PartFileName = """p(-?\d+)-task-\d+\.graft""".r

  /** The part id a block file's name carries; None for any other name. */
  def partIdOf(fileName: String): Option[Int] = fileName match {
    case PartFileName(pid) => pid.toIntOption
    case _ => None
  }
}

/**
 * One task's encode kernel, run by every V2 write task and by each
 * [[EncodeJob.stageEncode]] task: the partition's rows (all of part `partId`,
 * sort-key ordered) go through a [[graft.jobs.BlockEncoder]], and each block
 * streams into this task's native block file ([[BlockFile]]) as it leaves
 * it, so no more than one block is held in heap. [[graft.jobs.PartRollup]]
 * folds the part's manifest entry, and the commit message names the file and
 * its length. The file is staged under an attempt-unique dot-name and never
 * renamed here: only the driver promotes the files of the results it accepts
 * ([[GraftWriteLayout.publish]]).
 */
final class GraftDataWriter(absDir: String, partId: Int, taskId: Long,
    settings: HadoopSettings,
    schema: StructType = GraftDataSource.PageSchema,
    maxBlockBytes: Long = EncodeJob.MaxBlockBytes)
    extends DataWriter[InternalRow] {

  // attempt-unique name: taskId disambiguates retries/speculation (the
  // driver promotes only files named in the messages it accepts)
  private val fileName = GraftDataWriter.fileNameFor(partId, taskId)
  // a dot-file is invisible to every reader, so a ZOMBIE attempt (stalled
  // task whose executor dies without abort) flushing bytes after the
  // driver's commit can never surface as duplicate groups in a live dir
  private val stagedPath = Paths.get(absDir, GraftDataWriter.stagedName(fileName))

  private var file: BlockFile.Writer = _
  private var rows = 0L

  // per-part lineage + stats rollup, folded in-task (no metrics job)
  private val rollup = new graft.jobs.PartRollup

  private val encoder = new graft.jobs.BlockEncoder(schema, partId, maxBlockBytes)({ b =>
    if (file == null) {
      val p = new Path(stagedPath.toString)
      file = new BlockFile.Writer(BlockFile.fileSystem(p, settings.conf()).create(p, false), partId)
    }
    file.add(b)
    rollup.add(b)
  })

  override def write(row: InternalRow): Unit = {
    encoder.add(row)
    rows += 1
    if (rows == 50 && GraftDataWriter.failNextWriteOnce.compareAndSet(true, false)) {
      encoder.flush() // leave a partial staged file so abort/cleanup is actually exercised
      throw new RuntimeException("graft test hook: injected write failure")
    }
  }

  /** Flush and finish the staged file; the message names it and its length
    * (null when the task saw no rows) for the driver to promote. */
  override def commit(): GraftWriterCommitMessage = {
    encoder.flush()
    val e = rollup.entry(partId, dataDir = "")
    if (file == null) GraftWriterCommitMessage(null, e)
    else {
      val len = file.finish()
      file = null
      GraftWriterCommitMessage(fileName, e.copy(file = Some(fileName), fileLen = len))
    }
  }

  override def abort(): Unit = {
    close()
    Files.deleteIfExists(stagedPath)
  }

  override def close(): Unit =
    if (file != null) { file.close(); file = null }
}
