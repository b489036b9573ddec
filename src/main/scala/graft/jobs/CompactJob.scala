package graft.jobs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions.{array_position, col, lit, typedLit}
import org.apache.spark.sql.graftshim.Shim

import graft.sources.SnapshotStore
import graft.sources.v2.{BlockFile, GraftDataSource, GraftDataWriter, GraftWriteLayout, GraftWriterCommitMessage, HadoopSettings}

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
 * First it upgrades a store written before native block files ([[upgrade]]),
 * which readers refuse ([[SnapshotStore.PartEntry.filePath]]), by copying
 * each such part's blocks, unchanged, into a native file.
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
   * Upgrade every part that names no block file ([[upgrade]]), then compact
   * every committed part smaller than `minRows`. The merge is a no-op when
   * fewer than two such parts exist; the result then names the current
   * snapshot.
   */
  def run(spark: SparkSession, root: String,
          minRows: Long = EncodeJob.BlockSize / 2,
          targetRowsPerPart: Long = EncodeJob.BlockSize): CompactResult = {
    // ONE pointer read: the parts are chosen from, and decoded at, this
    // snapshot's (or the upgrade's) immutable manifest, so a concurrent
    // commit cannot slip between
    val read = SnapshotStore.currentSnapshotId(root)
    val upgraded = upgrade(spark, root, read.fold(Seq.empty[SnapshotStore.PartEntry])(
      SnapshotStore.entriesAt(root, _)))
    DecodeJob.requireWebtext(root) // the merge decodes/re-encodes WebPage rows
    val pinned = upgraded.orElse(read)
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

  /**
   * Re-homes every part of `entries` whose line names no block file (a part
   * written before native block files, as parquet [[BlockRow]]s). Spark's
   * parquet reader reads the parts' data dirs, restricted to their ids (a
   * column a file lacks reads as null); each part's blocks stream, group by
   * group with columns in schema order, unchanged, into one native file under
   * a fresh id ([[upgradeTargets]]); one rows-rehomed commit replaces the
   * parts ([[commitUpgrade]]). Returns its snapshot id, or None (no job, no
   * commit) when every part names a file.
   */
  private[graft] def upgrade(spark: SparkSession, root: String,
      entries: Seq[SnapshotStore.PartEntry]): Option[Long] = {
    val old = entries.filter(_.file.isEmpty)
    if (old.isEmpty) return None
    val targets = upgradeTargets(root, old)
    val parquet = spark.read.option("mergeSchema", "true")
      .parquet(old.map(e => s"$root/${e.dataDir}").distinct: _*)
    val columnOrder = typedLit(GraftDataSource.storeSchema(root).fieldNames.toSeq)
    val blocks = parquet.select(Encoders.product[BlockRow].schema.fields.toIndexedSeq.map(f =>
        if (parquet.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
      .where(Shim.column(InSet(Shim.expression(col("part_id")), targets.keySet.toSet[Any])))
      .repartition(math.min(old.size, spark.sparkContext.defaultParallelism), col("part_id"))
      .sortWithinPartitions(col("part_id"), col("block_seq"), array_position(columnOrder, col("column")))
      .as(Encoders.product[BlockRow])
    val (relDir, absDir) = SnapshotStore.newDataDir(root)
    val settings = HadoopSettings(spark)
    val copied = blocks.rdd.mapPartitions { it =>
      copyTask(absDir, settings.conf(), targets, TaskContext.get().taskAttemptId(), it.buffered)
    }.collect()
    Some(commitUpgrade(root, old, copied.toSeq, relDir, absDir))
  }

  /** The entries [[upgrade]] gives the parts of `old`, by old id: each keeps
    * its line but takes a fresh id below every id the store ever used. */
  private[graft] def upgradeTargets(root: String,
      old: Seq[SnapshotStore.PartEntry]): Map[Int, SnapshotStore.PartEntry] = {
    val base = SnapshotStore.nextRehomeBase(root, old.size)
    old.sortBy(_.partId).zipWithIndex.map { case (e, i) => e.partId -> e.copy(partId = base + i) }.toMap
  }

  /** One [[upgrade]] task: its blocks, sorted by (part, group, column), stream
    * part by part into staged files named for the parts' new ids. Returns,
    * per part, its old id, the rows its groups hold and the message naming
    * its file. A failed attempt deletes what it staged. */
  private def copyTask(absDir: String, conf: Configuration,
      targets: Map[Int, SnapshotStore.PartEntry], attemptId: Long,
      blocks: BufferedIterator[BlockRow]): Iterator[(Int, Long, GraftWriterCommitMessage)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, GraftWriterCommitMessage)]()
    val staged = scala.collection.mutable.ArrayBuffer[Path]()
    try {
      while (blocks.hasNext) {
        val oldId = blocks.head.part_id
        val t = targets(oldId)
        val name = GraftDataWriter.fileNameFor(t.partId, attemptId)
        val p = new Path(absDir, GraftDataWriter.stagedName(name))
        staged += p
        val w = new BlockFile.Writer(BlockFile.fileSystem(p, conf).create(p, false), t.partId)
        var rows = 0L
        var lastSeq = -1
        try while (blocks.hasNext && blocks.head.part_id == oldId) {
          val b = blocks.next()
          if (b.block_seq != lastSeq) { rows += b.n; lastSeq = b.block_seq }
          w.add(b.copy(part_id = t.partId))
        } catch { case e: Throwable => w.close(); throw e }
        out += ((oldId, rows, GraftWriterCommitMessage(name,
          t.copy(file = Some(name), fileLen = w.finish()))))
      }
      out.iterator
    } catch {
      case e: Throwable =>
        staged.foreach(p => BlockFile.fileSystem(p, conf).delete(p, false))
        throw e
    }
  }

  /** The commit of [[upgrade]] over [[copyTask]]'s results: a part whose row
    * count differs from its line drops the staging and fails; otherwise the
    * files are published and one rows-rehomed commit replaces `old`. */
  private[graft] def commitUpgrade(root: String, old: Seq[SnapshotStore.PartEntry],
      copied: Seq[(Int, Long, GraftWriterCommitMessage)], relDir: String,
      absDir: String): Long = {
    val rows = copied.map(c => c._1 -> c._2).toMap
    old.find(e => rows.getOrElse(e.partId, 0L) != e.nRows).foreach { e =>
      GraftWriteLayout.dropStaging(absDir)
      throw new IllegalStateException(s"part ${e.partId} of the graft store at $root: " +
        s"its parquet block files hold ${rows.getOrElse(e.partId, 0L)} rows, its manifest " +
        s"line ${e.nRows}; the upgrade committed nothing")
    }
    val msgs = copied.map(_._3)
    GraftWriteLayout.publish(absDir, msgs)
    SnapshotStore.commitReplacing(root, GraftWriteLayout.entriesFrom(msgs, relDir),
      old.map(_.partId).toSet, rowsRehomed = true)
  }
}
