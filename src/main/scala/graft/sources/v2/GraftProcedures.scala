package graft.sources.v2

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.jobs.CompactJob
import graft.sources.SnapshotStore

/**
 * SQL stored procedures for store maintenance and inspection — the `CALL`
 * surface of [[GraftCatalog]] (Spark 4's connector procedure API, the same
 * shape as Iceberg's `CALL cat.system.rewrite_data_files`):
 *
 * {{{
 *   CALL graftcat.system.compact('/data/store')
 *   CALL graftcat.system.expire_snapshots('/data/store', keep_last => 2)
 *   CALL graftcat.system.snapshots('/data/store')   -- time-travel discovery
 *   CALL graftcat.system.lineage('/data/store')     -- per-part codec metrics
 * }}}
 *
 * These close the last Scala-only gap in the SQL surface: reads, writes, and
 * row-level DML already work from pure SQL, but compaction/expiry/snapshot
 * inspection required [[graft.jobs.StoreMaintenance]]-style driver code. Each
 * procedure returns its result as rows (a [[LocalScan]] — driver-sized
 * summaries or manifest-sized listings, never data-scale).
 *
 * The first argument is always the store root path: this catalog's tables ARE
 * paths, so procedures address stores the same way.
 */
object GraftProcedures {

  /** Procedure names, as listed by `SHOW PROCEDURES`. */
  val Names: Seq[String] = Seq("compact", "expire_snapshots", "snapshots", "lineage")

  def load(name: String): UnboundProcedure = name.toLowerCase(java.util.Locale.ROOT) match {
    case "compact" => Compact
    case "expire_snapshots" => Expire
    case "snapshots" => Snapshots
    case "lineage" => Lineage
    case other => throw new IllegalArgumentException(
      s"unknown graft procedure '$other'; available: ${Names.mkString(", ")}")
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Same fail-loudly contract as every read surface: a typo'd path must not
    * look like a store with no history / nothing to do. */
  private def requireStore(root: String): String = {
    require(SnapshotStore.currentSnapshotId(root).isDefined,
      s"no committed snapshot under $root — not a graft store")
    root
  }

  private def param(name: String, dt: DataType, comment: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).comment(comment).build()

  private def paramD(name: String, dt: DataType, default: String,
                     comment: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).comment(comment).build()

  private def resultScan(schema: StructType, rs: Seq[InternalRow]): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = rs.toArray
    }
    Collections.singletonList(scan).iterator()
  }

  /** Shared base: one-shot bind (parameters are fixed), side-effecting. */
  sealed abstract class GraftProcedure(procName: String,
      procDescription: String) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // reads/mutates external state
  }

  /** `compact(path, min_rows, target_rows)`: merge fragmented small parts
    * ([[CompactJob]]) — the OPTIMIZE verb for long-streamed stores. It first
    * upgrades a store written before native block files ([[CompactJob.upgrade]]). */
  object Compact extends GraftProcedure("compact",
      "merge committed parts smaller than min_rows into ~target_rows parts " +
      "(rows re-homed in the negative id namespace; streams skip the commit)") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("path", StringType, "store root"),
      paramD("min_rows", LongType, (graft.jobs.EncodeJob.BlockSize / 2).toString,
        "compact parts holding fewer rows than this"),
      paramD("target_rows", LongType, graft.jobs.EncodeJob.BlockSize.toString,
        "rows per rewritten part"))
    private val schema = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parts_compacted", IntegerType, nullable = false),
      StructField("parts_created", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = requireStore(input.getUTF8String(0).toString)
      val r = CompactJob.run(SparkSession.active, root,
        minRows = input.getLong(1), targetRowsPerPart = input.getLong(2))
      resultScan(schema, Seq(new GenericInternalRow(Array[Any](
        r.snapshotId, r.partsCompacted, r.partsCreated, r.nRows))))
    }
  }

  /** `expire_snapshots(path, keep_last, orphan_grace_ms)`: drop old manifests,
    * delete unreferenced data dirs and aged crash debris. */
  object Expire extends GraftProcedure("expire_snapshots",
      "keep the last keep_last snapshots; delete data dirs no kept manifest " +
      "references plus aged orphan staging (crashed writes)") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("path", StringType, "store root"),
      paramD("keep_last", IntegerType, "1", "snapshots to retain (>= 1)"),
      paramD("orphan_grace_ms", LongType, "3600000",
        "minimum age before unreferenced staging is swept"))
    private val schema = StructType(Seq(
      StructField("kept_snapshots", IntegerType, nullable = false),
      StructField("removed_snapshots", IntegerType, nullable = false),
      StructField("removed_data_dirs", IntegerType, nullable = false),
      StructField("removed_bytes", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val r = SnapshotStore.expireSnapshots(requireStore(input.getUTF8String(0).toString),
        keepLast = input.getInt(1), orphanGraceMs = input.getLong(2))
      resultScan(schema, Seq(new GenericInternalRow(Array[Any](
        r.kept.size, r.removedSnapshots.size, r.removedDataDirs.size, r.removedBytes))))
    }
  }

  /** `snapshots(path)`: the committed history — time-travel discovery
    * (`.option("snapshotId", ...)` / `decodeAt` need an id to travel to). */
  object Snapshots extends GraftProcedure("snapshots",
      "committed snapshots, oldest first: id, commit kind (append-like or " +
      "rows-rehomed), live parts, rows, accumulated tombstones") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("path", StringType, "store root"))
    private val schema = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("parts", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("tombstones", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = requireStore(input.getUTF8String(0).toString)
      val current = SnapshotStore.currentSnapshotId(root)
      // ids beyond the pointer are uncommitted crash orphans — not history
      val ids = SnapshotStore.snapshotIds(root)
        .filter(id => current.exists(id <= _))
      val rows = ids.map { id =>
        val entries = SnapshotStore.entriesAt(root, id)
        new GenericInternalRow(Array[Any](
          id,
          utf8(if (SnapshotStore.isRehomedCommit(root, id)) "rows-rehomed" else "append"),
          entries.size, entries.map(_.nRows).sum,
          SnapshotStore.tombstoneCountAt(root, id),
          current.contains(id))): InternalRow
      }
      resultScan(schema, rows)
    }
  }

  /** `lineage(path)`: the current snapshot's per-part codec metrics — the
    * "metrics written back to the table layer" read from pure SQL. */
  object Lineage extends GraftProcedure("lineage",
      "current snapshot's per-part lineage: part id, data dir, rows, " +
      "original/encoded bytes, per-column codecs json") {
    override def parameters(): Array[ProcedureParameter] =
      Array(param("path", StringType, "store root"))
    private val schema = StructType(Seq(
      StructField("part_id", IntegerType, nullable = false),
      StructField("data_dir", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("orig_bytes", LongType, nullable = false),
      StructField("enc_bytes", LongType, nullable = false),
      StructField("codecs", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = requireStore(input.getUTF8String(0).toString)
      val rows = SnapshotStore.currentEntries(root).map { e =>
        new GenericInternalRow(Array[Any](
          e.partId, utf8(e.dataDir), e.nRows, e.origBytes, e.encBytes,
          utf8(e.codecsJson))): InternalRow
      }
      resultScan(schema, rows)
    }
  }
}
