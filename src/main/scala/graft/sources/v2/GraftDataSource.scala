package graft.sources.v2

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{IntBlockCodec, StringBlockCodec}
import graft.jobs.DecodeJob
import graft.sources.SnapshotStore

/**
 * DataSource V2 read provider for the snapshot store — the decoded page view as a
 * plain Spark table: `spark.read.format("graft").load(root)` (and therefore SQL
 * over a registered view) instead of the bespoke [[graft.jobs.DecodeJob]] API.
 * The reference's entire user surface is one CLI (util/golomb.cpp:253-255); this
 * engine's is one `SELECT`.
 *
 * What pushes down:
 *  - **Required columns** ([[SupportsPushDownRequiredColumns]]): only the
 *    requested page columns' blocks are read — a native block file's footer
 *    addresses each block, so text/html bytes never leave disk when only
 *    `url, lang` are selected. An EMPTY projection (`count(*)`) reads only
 *    the footers' row counts — no `encoded` bytes at all.
 *  - **Filters** ([[SupportsPushDownFilters]]): =, IN, <, <=, >, >=, IS NULL
 *    and IS NOT NULL on string, int-family and timestamp columns, and
 *    StringStartsWith on string columns, each become [[ExactFilter]] leaves
 *    ([[FilterConversion.toLeaves]]; an `And` is split into its conjuncts).
 *    Each leaf's stats test prunes whole block groups on their metadata
 *    (string bounds and dictionary, int bounds, null counts) BEFORE
 *    decompression — the north-star "predicate-push onto dictionary and FoR
 *    metadata". Pruning is block-level (inexact), so the scan also evaluates,
 *    exactly, every filter whose conjuncts all convert exactly on each
 *    surviving group's decoded columns, and returns only the others as
 *    residuals for Spark.
 *
 * Planning runs on the driver (Iceberg-style): one manifest read pins the
 *  snapshot, then [[DecodeJob.planPrunedKeys]] / [[DecodeJob.planTopNKeys]]
 *  prune in two levels with no Spark job — level 1 tests the manifest's
 *  per-part stats, level 2 the same test on each group of the surviving
 *  parts (a single-group part's stats are its group's; other parts' groups
 *  come from their footers, read on the driver). Each
 *  [[InputPartition]] is a bin of whole block files, named by the manifest
 *  ([[GraftDataSource.packPartitions]]); groups never straddle files (each
 *  write task writes its one part's groups whole), so the reader needs zero
 *  shuffle and no split repair, and fails loudly on a group that is not
 *  whole ([[BlockGroupStream]]). The [[DecodeJob]] API is a thin wrapper
 *  over this scan.
 */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // an existing store is self-describing via its SCHEMA sidecar; anything
    // else (new store about to be path-created) defaults to the webtext schema
    val root = options.get("path")
    if (root != null && root.nonEmpty) GraftDataSource.storeSchema(root)
    else GraftDataSource.PageSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val root = properties.get("path")
    require(root != null && root.nonEmpty,
      "graft table requires a store path: spark.read.format(\"graft\").load(root)")
    new GraftTable(root)
  }
}

object GraftDataSource {
  /** The decoded page view (input_hint schema: BASELINE.json:15) — the DEFAULT
    * store schema, used by every store without a persisted SCHEMA sidecar. */
  val PageSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = true),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  // -------- generalized store schemas (SCHEMA sidecar) --------
  // The codec family covers strings (dict/RLE/FSST), opaque binary, and the
  // full integer family (timestamps ride as epoch micros). A store created
  // through the catalog persists its schema as a sidecar; stores without one
  // (every pre-r6 store, and path-created webtext stores) read as PageSchema.

  /** Column types the encode kernel's per-column dispatch covers. */
  def supportedType(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | TimestampType |
         LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  def validateSchema(schema: StructType): Unit = {
    require(schema.nonEmpty, "graft table schema must have at least one column")
    val bad = schema.fields.filterNot(f => supportedType(f.dataType))
    require(bad.isEmpty,
      s"unsupported graft column types: ${bad.map(f => s"${f.name} ${f.dataType.simpleString}")
        .mkString(", ")} — supported: string, binary, timestamp, bigint, int, smallint, tinyint")
    val lower = schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
    require(lower.distinct.length == schema.length,
      s"duplicate column names in ${schema.simpleString}")
    require(!lower.contains("_part_id"),
      "_part_id is the reserved group-identity metadata column")
  }

  /** The store's physical sort/range-layout key: the FIRST string column
    * (range bucketing + prefix pruning ride string bounds), else the first
    * column (ordered-distribution writes still give tight int bounds). */
  def sortKeyOf(schema: StructType): StructField =
    schema.fields.find(_.dataType == StringType).getOrElse(schema.fields.head)

  def persistedSchema(root: String): Option[StructType] = {
    val p = java.nio.file.Paths.get(root, "SCHEMA")
    if (!java.nio.file.Files.exists(p)) None
    else Some(DataType.fromJson(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType])
  }

  def writeSchemaSidecar(root: String, schema: StructType): Unit =
    SnapshotStore.writeSidecar(root, "SCHEMA", schema.json)

  /** The schema a store decodes as (sidecar, else the webtext default). */
  def storeSchema(root: String): StructType =
    persistedSchema(root).getOrElse(PageSchema)

  /** A pushed `ORDER BY url|warc_ts` top-n (see [[GraftScanBuilder.pushTopN]]). */
  final case class TopN(column: String, asc: Boolean, nullsFirst: Boolean, limit: Int) {
    override def toString: String =
      s"$column ${if (asc) "ASC" else "DESC"} ${if (nullsFirst) "NULLS FIRST" else "NULLS LAST"} LIMIT $limit"
  }

  /** Last scan's planning decisions (driver-side, for tests/ops visibility). */
  final case class PlanStats(partitions: Int, files: Int, predicates: Int,
      prunedGroupKeys: Option[Int], pushedLimit: Option[Int] = None,
      pushedTopN: Option[TopN] = None)

  /** Per-root plan stats, bounded LRU (mirrors `Dedup.capReports`): concurrent
    * scans over DIFFERENT stores no longer race each other's assertions; two
    * concurrent scans of the SAME root last-write-win, which is inherent to a
    * per-root key and fine for the gating/ops use. */
  private val planStatsByRoot =
    new java.util.LinkedHashMap[String, PlanStats](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, PlanStats]): Boolean = size > 64
    }

  private[v2] def recordPlanStats(root: String, s: PlanStats): Unit =
    planStatsByRoot.synchronized { planStatsByRoot.put(root, s); () }

  /** Planning stats of the most recent scan over `root`. */
  def planStatsFor(root: String): Option[PlanStats] =
    planStatsByRoot.synchronized(Option(planStatsByRoot.get(root)))

  /**
   * Bin-pack the block files of `entries` into [[GraftInputPartition]]s using
   * Spark's own file-partition formula (maxSplitBytes/openCost/minPartitionNum
   * — one task per file measured 3× slower on many-file stores). Shared by the
   * batch [[GraftScan]], the copy-on-write [[GraftCowScan]] and the
   * [[GraftMicroBatchStream]] (which passes only the parts NEW in its offset
   * range).
   *
   * Every entry names its block file ([[SnapshotStore.PartEntry.filePath]],
   * which refuses a part that names none before anything is opened), so the
   * plan comes from the manifest alone: no directory is listed and no conf
   * is built, and a bin may hold files of several data dirs. Each partition
   * carries its files' paths and lengths; a file's name carries its part.
   *
   * `keys` are the scan's planned `(part_id, block_seq)` group keys, or None
   * for no pruning. Each partition carries the keys of its own files' parts
   * only, so its payload is bounded by its files' groups however many groups
   * the whole scan keeps. Returns (partitions, total file count).
   */
  private[v2] def packPartitions(spark: SparkSession, root: String,
      entries: Seq[SnapshotStore.PartEntry], readSchema: StructType,
      refColumn: String, keys: Option[Array[(Int, Int)]],
      limit: Int): (Array[InputPartition], Int) = {
    val keyParts: Option[Set[Int]] = keys.map(_.iterator.map(_._1).toSet)
    val packedKeys = keys.map(_.map(k => DecodeJob.packKey(k._1, k._2)).sorted)
    // manifest-level file pruning: a part this scan reads no group of is
    // never opened (but every part is refused if it names no file)
    val files = entries.map(e => (e, e.filePath(root))).filter(f => keyParts.forall(_(f._1.partId)))
    val sqlConf = spark.sessionState.conf
    val maxBytes = sqlConf.filesMaxPartitionBytes
    val openCost = sqlConf.filesOpenCostInBytes
    val totalBytes = files.iterator.map(_._1.fileLen + openCost).sum
    val minPartitionNum = sqlConf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val bytesPerCore = totalBytes / math.max(minPartitionNum, 1)
    val target = math.min(maxBytes, math.max(openCost, bytesPerCore))
    // next-fit bins of the files (largest first) up to `target` bytes each
    val bins = scala.collection.mutable.ArrayBuffer[Seq[(SnapshotStore.PartEntry, String)]]()
    var bin = Vector.empty[(SnapshotStore.PartEntry, String)]
    var binBytes = 0L
    files.sortBy(-_._1.fileLen).foreach { f =>
      if (binBytes > 0 && binBytes + f._1.fileLen + openCost > target) {
        bins += bin; bin = Vector.empty; binBytes = 0L
      }
      bin :+= f; binBytes += f._1.fileLen + openCost
    }
    if (bin.nonEmpty) bins += bin
    val partitions: Array[InputPartition] = bins.map { b =>
      GraftInputPartition(b.map(_._2).toArray, b.map(_._1.fileLen).toArray, readSchema,
        refColumn, packedKeys.map(keysOfParts(_, b.map(_._1.partId).sorted.toArray)).orNull,
        limit)
    }.toArray
    (partitions, files.length)
  }

  /** The keys of `parts` (ascending) out of the sorted packed `keys`: each
    * part's keys form one contiguous run, found by two binary searches. */
  private def keysOfParts(keys: Array[Long], parts: Array[Int]): Array[Long] = {
    def lowerBound(target: Long): Int = {
      var lo = 0; var hi = keys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < target) lo = mid + 1 else hi = mid
      }
      lo
    }
    val out = Array.newBuilder[Long]
    parts.foreach { pid =>
      val lo = lowerBound(pid.toLong << 32)
      val hi = if (pid == Int.MaxValue) keys.length else lowerBound((pid.toLong + 1) << 32)
      out.addAll(keys, lo, hi - lo)
    }
    out.result()
  }

  /** See [[GraftTable.metadataColumns]]. */
  object PartIdMetadataColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_part_id"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.IntegerType
    override def isNullable: Boolean = false
    override def comment(): String =
      "id of the store part (work unit) holding the row; constant per block group"
  }

  /** The one bare column a connector expression references, or None. Shared
    * by pushTopN / convertAgg / convertGroupedAgg so the reference-shape rule
    * cannot diverge between the pushdown surfaces. */
  private[v2] def singleColumnOf(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
    case n: org.apache.spark.sql.connector.expressions.NamedReference
        if n.fieldNames.length == 1 => Some(n.fieldNames()(0))
    case _ => None
  }

  /** Does the column's block metadata carry exact value bounds? Strings via
    * full-value `block_str_min/max`, the int family (timestamps as micros)
    * via `block_min/max`; opaque binary has neither. ONE definition shared by
    * top-n and aggregate pushdown — a new bounded type must light up both. */
  private[v2] def metadataBounded(schema: StructType, c: String): Boolean =
    schema.fields.find(_.name == c).exists(f =>
      f.dataType == StringType || f.dataType == TimestampType ||
      f.dataType == LongType || f.dataType == IntegerType ||
      f.dataType == ShortType || f.dataType == ByteType)

  sealed trait MetaAgg
  case object AggCountStar extends MetaAgg
  /** `count(col)` — exact from per-block `n`/`n_nulls`, any column. */
  final case class AggCountCol(column: String) extends MetaAgg
  /** `min(col)`/`max(col)` — exact from per-block bounds: `block_min/max`
    * for the int family (timestamps as epoch micros), `block_str_min/max`
    * (full-value unsigned-byte order = Spark's UTF8String order) for
    * strings; opaque binary has neither and declines at the shape gate. */
  final case class AggMin(column: String) extends MetaAgg
  final case class AggMax(column: String) extends MetaAgg
  /** `sum(col)` — exact from per-block `block_sum` (int family; declines on
    * any overflowing or sum-less block, Spark then computes with its own
    * overflow semantics). */
  final case class AggSum(column: String) extends MetaAgg
}

final class GraftTable(root: String) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft.`$root`"
  /** Store root for plan-level rules ([[graft.plans.GroupedAggMetadataRule]]). */
  private[graft] def storeRoot: String = root
  // cached per table instance (instances are per-query); the sidecar is one
  // tiny read and schemas are immutable for the life of a store
  private lazy val tableSchema: StructType = GraftDataSource.storeSchema(root)
  override def schema(): StructType = tableSchema
  private def isWebtext: Boolean = tableSchema == GraftDataSource.PageSchema

  /** `_part_id`: the work-unit (part) a row belongs to — constant per block
    * group, served from the group key with zero decode cost. Queryable like
    * Iceberg's `_file` (`SELECT _part_id, ...`), and the group identity that
    * row-level operations (UPDATE/MERGE/DELETE rewrites) scan, runtime-filter
    * on, and replace. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftDataSource.PartIdMetadataColumn)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(root, info)

  // ---- SQL UPDATE / MERGE INTO / inexpressible DELETE: group-based
  // copy-on-write ReplaceData (see GraftRowLevelOps.scala). Exact DELETEs are
  // converted BACK to the deleteWhere path below by Spark's
  // OptimizeMetadataOnlyDeleteFromTable rule ----
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    // the COW rewrite path rides the webtext decode/encode jobs; a silent
    // attempt on a generalized store would corrupt — refuse loudly
    if (!isWebtext) throw new UnsupportedOperationException(
      s"row-level ${info.command()} currently supports webtext-schema stores only; " +
      s"table at $root has schema ${tableSchema.simpleString} — rewrite via " +
      "CTAS/INSERT OVERWRITE instead")
    () => new GraftRowLevelOperation(root, info.command())
  }

  // ---- DELETE (SupportsDelete): graft.jobs.DeleteJob picks the affected
  // parts from metadata, then decodes and re-encodes their surviving rows ----

  /** Accept only conditions expressible EXACTLY over the decoded view — an
    * inexact condition would delete wrong rows (pruning, by contrast, is free
    * to be a superset because reads evaluate every filter exactly after it). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    isWebtext && // DeleteJob rewrites parts through the webtext decode job
      filters.forall(f => FilterConversion.toExactColumn(f, tableSchema).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cols = filters.map(f => FilterConversion.toExactColumn(f, tableSchema).getOrElse(
      throw new IllegalArgumentException(
        s"DELETE condition not expressible exactly on the graft table: $f")))
    // AND of all top-level filters; DELETE with no condition = truncate
    val cond = cols.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val prune = filters.toSeq.flatMap(f => FilterConversion.toLeaves(f, tableSchema)._1)
    graft.jobs.DeleteJob.deleteWhere(SparkSession.active, root, cond, prune)
    ()
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def longOpt(key: String): Option[Long] = Option(options.get(key)).map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"invalid $key option '$v': expected a numeric committed snapshot id")
      }
    }
    // time travel: .option("snapshotId", id) reads a historical committed
    // snapshot (manifests are immutable per id — same mechanism as decodeAt)
    val snapshotId = longOpt("snapshotId")
    // incremental read: .option("fromSnapshot", a)[.option("toSnapshot", b)]
    // reads the rows ADDED in (a, b] (b defaults to the current snapshot) —
    // batch consumption of a snapshot-range changelog without a stream
    val from = longOpt("fromSnapshot")
    val toOpt = longOpt("toSnapshot")
    require(snapshotId.isEmpty || from.isEmpty,
      "snapshotId (time travel) and fromSnapshot (incremental read) are " +
      "mutually exclusive: one reads a state, the other a range of changes")
    require(from.isDefined || toOpt.isEmpty,
      "toSnapshot requires fromSnapshot (the incremental range is (from, to])")
    val incremental = from.map { f =>
      val cur = SnapshotStore.currentSnapshotId(root).getOrElse(
        throw new IllegalArgumentException(s"no committed snapshot under $root"))
      val t = toOpt.getOrElse(cur)
      require(f >= 0 && t >= f,
        s"invalid incremental range (fromSnapshot=$f, toSnapshot=$t]: " +
        "need 0 <= from <= to")
      // an explicit bound past the head would otherwise surface as a
      // misleading retention ("expired") failure for a snapshot that never
      // existed
      require(t <= cur,
        s"toSnapshot=$t is beyond the current snapshot $cur of $root — " +
        "the range end must be a committed snapshot id")
      (f, t)
    }
    new GraftScanBuilder(root, snapshotId, tableSchema, incremental)
  }
}

/** Filter conversions shared by the scans (pruning leaves and the filters
  * the batch scan claims) and the DELETE path (pruning leaves and EXACT row
  * conditions). */
private[graft] object FilterConversion {

  /** Epoch micros of a pushed-down timestamp literal (either external form),
    * converted back the way Spark made it (a `java.sql.Timestamp` is in the
    * hybrid Julian/Gregorian calendar, so a literal before 1582 is rebased to
    * the proleptic Gregorian micros the store holds), and whether they are
    * exactly the micros Spark compared: always for an `Instant`; for a
    * `java.sql.Timestamp` (Spark made it from the micros, through the hybrid
    * calendar) only from 1900 on and when it round-trips. */
  private def tsMicros(v: Any): Option[(Long, Boolean)] =
    try v match {
      case i: java.time.Instant => Some((DateTimeUtils.instantToMicros(i), true))
      case t: java.sql.Timestamp =>
        val us = DateTimeUtils.fromJavaTimestamp(t)
        Some((us, !t.before(ExactTsFloor) && DateTimeUtils.toJavaTimestamp(us) == t))
      case _ => None
    } catch { case _: ArithmeticException => None }

  /** 1900-01-01 in the JVM's local time, the zone `java.sql.Timestamp` reads
    * in: from here on a timestamp literal is not rebased between calendars. */
  private val ExactTsFloor = java.sql.Timestamp.valueOf("1900-01-01 00:00:00")

  /** The raw long of an integral pushed-down literal. */
  private def intVal(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case b: java.lang.Byte => Some(b.toLong)
    case _ => None
  }

  /**
   * The one conversion of a pushed filter over a store of the given schema:
   * the leaves of its convertible conjuncts (`And` is split), and whether
   * they are the whole filter, exactly. Every leaf prunes, and only an exact
   * filter is claimed: the batch scan evaluates its leaves on each surviving
   * group and hands it no longer back to Spark as a residual.
   *
   * Converted: `EqualTo`, `In`, `<`, `<=`, `>`, `>=`, `IsNull`, `IsNotNull`
   * and `StringStartsWith` on top-level string, int-family and timestamp
   * columns. `Or`, `Not`, binary columns and literals of another type make
   * no leaf. A timestamp literal whose micros are not exactly the ones Spark
   * compared ([[tsMicros]]) still prunes, but is not exact.
   */
  def toLeaves(f: Filter, schema: StructType): (Seq[ExactFilter], Boolean) = {
    def typeOf(c: String): Option[DataType] = schema.fields.find(_.name == c).map(_.dataType)
    def isStr(c: String) = typeOf(c).contains(StringType)
    def isInt(c: String) = typeOf(c).exists {
      case TimestampType | LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    def longOf(c: String, v: Any): Option[(Long, Boolean)] = typeOf(c) match {
      case Some(TimestampType) => tsMicros(v)
      case Some(LongType | IntegerType | ShortType | ByteType) => intVal(v).map((_, true))
      case _ => None
    }
    def exact(leaf: ExactFilter) = (Seq(leaf), true)
    def str(c: String, lo: Option[String], loStrict: Boolean, hi: Option[String],
        hiStrict: Boolean) = exact(ExactFilter.StrRange(c, lo, loStrict, hi, hiStrict))
    def int(c: String, v: Any)(range: Long => (Long, Long)) = longOf(c, v) match {
      case Some((x, ex)) => val (lo, hi) = range(x); (Seq(ExactFilter.IntRange(c, lo, hi)), ex)
      case None => (Nil, false)
    }
    f match {
      case sources.And(l, r) =>
        val ((a, ea), (b, eb)) = (toLeaves(l, schema), toLeaves(r, schema))
        (a ++ b, ea && eb)
      case sources.EqualTo(c, v: String) if isStr(c) => str(c, Some(v), false, Some(v), false)
      case sources.GreaterThan(c, v: String) if isStr(c) => str(c, Some(v), true, None, false)
      case sources.GreaterThanOrEqual(c, v: String) if isStr(c) => str(c, Some(v), false, None, false)
      case sources.LessThan(c, v: String) if isStr(c) => str(c, None, false, Some(v), true)
      case sources.LessThanOrEqual(c, v: String) if isStr(c) => str(c, None, false, Some(v), false)
      case sources.StringStartsWith(c, p) if isStr(c) => exact(ExactFilter.StrPrefix(c, p))
      // a null in the list matches no row; filtering drops "unknown" as false
      case sources.In(c, vs) if isStr(c) && vs.forall(v => v == null || v.isInstanceOf[String]) =>
        exact(ExactFilter.StrIn(c, vs.toSeq.collect { case s: String => s }.distinct))
      case sources.In(c, vs) if isInt(c) =>
        val ls = vs.toSeq.filter(_ != null).map(longOf(c, _))
        if (ls.forall(_.isDefined))
          (Seq(ExactFilter.IntIn(c, ls.flatten.map(_._1).distinct)), ls.forall(_.get._2))
        else (Nil, false)
      case sources.EqualTo(c, v) => int(c, v)(x => (x, x))
      // an empty range (lo > hi) at the Long extremes matches nothing
      case sources.GreaterThan(c, v) =>
        int(c, v)(x => if (x == Long.MaxValue) (1L, 0L) else (x + 1, Long.MaxValue))
      case sources.GreaterThanOrEqual(c, v) => int(c, v)(x => (x, Long.MaxValue))
      case sources.LessThan(c, v) =>
        int(c, v)(x => if (x == Long.MinValue) (1L, 0L) else (Long.MinValue, x - 1))
      case sources.LessThanOrEqual(c, v) => int(c, v)(x => (Long.MinValue, x))
      case sources.IsNull(c) if isStr(c) || isInt(c) =>
        exact(ExactFilter.NullTest(c, isNull = true, isStr(c)))
      case sources.IsNotNull(c) if isStr(c) || isInt(c) =>
        exact(ExactFilter.NullTest(c, isNull = false, isStr(c)))
      case _ => (Nil, false)
    }
  }

  /** The leaves of a filter the batch scan claims ([[toLeaves]]), or None
    * when it stays a residual for Spark. */
  def toExactFilters(f: Filter, schema: StructType): Option[Seq[ExactFilter]] =
    Some(toLeaves(f, schema)).collect { case (leaves, true) => leaves }

  /** The part ids a filter on the `_part_id` metadata column admits; None
    * for any other filter (or one whose values are not all ints). */
  def partIdsOf(f: Filter): Option[Set[Int]] = f match {
    case sources.In("_part_id", vs) if vs.forall(_.isInstanceOf[java.lang.Integer]) =>
      Some(vs.iterator.map(_.asInstanceOf[java.lang.Integer].intValue).toSet)
    case sources.EqualTo("_part_id", v: java.lang.Integer) => Some(Set(v.intValue))
    case _ => None
  }

  /** EXACT Column form of a filter over the decoded view, or None when
    * not expressible (the DELETE path then refuses the whole statement —
    * unlike pruning, an inexact condition here would delete wrong rows). */
  def toExactColumn(f: Filter,
      schema: StructType = GraftDataSource.PageSchema): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    val names = schema.fieldNames.toSet
    def ref(c: String): Option[org.apache.spark.sql.Column] =
      if (names(c)) Some(col(c)) else None
    f match {
      case sources.And(l, r) =>
        for { a <- toExactColumn(l, schema); b <- toExactColumn(r, schema) } yield a && b
      case sources.Or(l, r) =>
        for { a <- toExactColumn(l, schema); b <- toExactColumn(r, schema) } yield a || b
      case sources.Not(c) => toExactColumn(c, schema).map(!_)
      case sources.EqualTo(c, v) => ref(c).map(_ === lit(v))
      case sources.EqualNullSafe(c, v) => ref(c).map(_ <=> lit(v))
      case sources.In(c, vs) => ref(c).map(_.isin(vs.toIndexedSeq: _*))
      case sources.GreaterThan(c, v) => ref(c).map(_ > lit(v))
      case sources.GreaterThanOrEqual(c, v) => ref(c).map(_ >= lit(v))
      case sources.LessThan(c, v) => ref(c).map(_ < lit(v))
      case sources.LessThanOrEqual(c, v) => ref(c).map(_ <= lit(v))
      case sources.IsNull(c) => ref(c).map(_.isNull)
      case sources.IsNotNull(c) => ref(c).map(_.isNotNull)
      case sources.StringStartsWith(c, p) => ref(c).map(_.startsWith(p))
      case sources.StringEndsWith(c, p) => ref(c).map(_.endsWith(p))
      case sources.StringContains(c, p) => ref(c).map(_.contains(p))
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

final class GraftScanBuilder(root: String, snapshotId: Option[Long],
    tableSchema: StructType = GraftDataSource.PageSchema,
    incremental: Option[(Long, Long)] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private var requiredSchema: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var predicates: Seq[ExactFilter] = Seq.empty
  private var exact: Seq[ExactFilter] = Seq.empty
  private var sawFilters = false
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[GraftDataSource.TopN] = None
  private var partIds: Option[Set[Int]] = None

  /** PARTIAL limit pushdown (isPartiallyPushed stays true): each task stops
    * pulling and decoding block groups once it has produced `limit` rows —
    * `SELECT * FROM graft LIMIT n` stops after ~one group per launched task
    * instead of decoding the store — and Spark's own GlobalLimit still trims
    * the cross-task union exactly. Spark offers a limit only when no residual
    * filter is left, and the rows a task produces have passed the filters the
    * scan claimed, so the cap counts matching rows. */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }

  /** PARTIAL top-n pushdown for `ORDER BY url|warc_ts [ASC|DESC] LIMIT n`:
    * planning keeps only an ordered PREFIX of block groups whose guaranteed
    * row count covers n ([[DecodeJob.planTopNKeys]] — block_str_min/max for
    * url, the exact int block_min/max for warc_ts, plus exact per-block null
    * counts), so the scan reads ~n rows instead of the store; Spark's retained
    * Sort+Limit (isPartiallyPushed) trims exactly. Only the filterless
    * single-key shape on a metadata-bounded column is accepted: with any
    * filter, residual or claimed, the per-group row counts no longer bound the
    * MATCHING rows, so a count-based prefix could cut off true top-n rows. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (sawFilters || orders.length != 1 || limit <= 0) return false
    val o = orders(0)
    val column = GraftDataSource.singleColumnOf(o.expression()).getOrElse(return false)
    if (!GraftDataSource.metadataBounded(tableSchema, column)) return false
    pushedTopN = Some(GraftDataSource.TopN(
      column = column,
      asc = o.direction() == SortDirection.ASCENDING,
      nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST,
      limit = limit))
    true
  }

  /** Both limit and top-n pushdown are prefixes, never exact. */
  override def isPartiallyPushed: Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val converted = filters.map(f => (f, FilterConversion.toLeaves(f, tableSchema)))
    // `_part_id` filters restrict the scan to those parts' manifest entries
    val partFilters = filters.flatMap(f => FilterConversion.partIdsOf(f).map(f -> _))
    partIds = partFilters.map(_._2).reduceOption(_ intersect _)
    pushed = (converted.collect { case (f, (ls, _)) if ls.nonEmpty => f } ++
      partFilters.map(_._1)).distinct
    predicates = converted.flatMap(_._2._1).toSeq
    exact = converted.collect { case (_, (ls, true)) => ls }.flatten.toSeq
    sawFilters = filters.nonEmpty
    // block pruning is inexact (a surviving group still holds non-matching
    // rows): the scan evaluates the claimed filters exactly on each group's
    // decoded columns, and only the others go back to Spark as residuals
    converted.collect { case (f, (_, false)) => f }
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = requiredSchema = required

  // -------- aggregate pushdown: count(*)/count(col)/min/max/sum from the manifest --------

  /** Convertible iff NOTHING was filtered (the manifest describes the
    * unfiltered table — a pushed predicate would make its counts wrong, and
    * Spark offers aggregates over scans whose filters were all claimed),
    * there is no grouping, and every aggregate is count(*) / non-distinct
    * count(col) / min(col) / max(col) of a metadata-bounded column / sum(col)
    * of an int column: the int family (incl. timestamps) carries exact part
    * `min/max`, strings exact full-value `strMin/strMax`; opaque binary has
    * neither. Whether the STORE's manifest can answer (per-part stats
    * coverage) is the data-dependent check in [[supportCompletePushDown]]. */
  private def convertAgg(agg: aggregate.Aggregation): Option[Seq[GraftDataSource.MetaAgg]] = {
    // incremental (fromSnapshot) scans answer over a snapshot-RANGE delta; the
    // metadata aggregate paths read one snapshot's state — decline, the
    // ordinary scan + Spark's aggregate stay exact over the delta rows
    if (incremental.isDefined) return None
    if (sawFilters || agg.groupByExpressions.nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      GraftDataSource.singleColumnOf(e)
    def bounded(c: String): Boolean = GraftDataSource.metadataBounded(tableSchema, c)
    def summable(c: String): Boolean = tableSchema.fields.find(_.name == c).exists(f =>
      f.dataType == LongType || f.dataType == IntegerType ||
      f.dataType == ShortType || f.dataType == ByteType)
    val fns = agg.aggregateExpressions.toSeq.map {
      case _: aggregate.CountStar => Some(GraftDataSource.AggCountStar)
      case ct: aggregate.Count if !ct.isDistinct =>
        colOf(ct.column).filter(tableSchema.fieldNames.contains)
          .map(GraftDataSource.AggCountCol)
      case m: aggregate.Min => colOf(m.column).filter(bounded).map(GraftDataSource.AggMin)
      case m: aggregate.Max => colOf(m.column).filter(bounded).map(GraftDataSource.AggMax)
      case s: aggregate.Sum if !s.isDistinct =>
        colOf(s.column).filter(summable).map(GraftDataSource.AggSum)
      case _ => None
    }
    if (fns.nonEmpty && fns.forall(_.isDefined)) Some(fns.flatten) else None
  }

  // -------- GROUPED aggregate pushdown from the manifest dict counts (GraftGroupedAgg) --------

  /** The grouped shape this source can answer from metadata: one bare textual
    * group column with only count(*) / count(<group column>) aggregates (an
    * EMPTY aggregate list = SELECT DISTINCT, also served). Whether the STORE
    * can answer it exactly is a separate data-dependent check (manifest
    * dict + counts coverage) performed in [[supportCompletePushDown]]. */
  private def convertGroupedAgg(agg: aggregate.Aggregation)
      : Option[(String, Seq[GroupedAggKind])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (incremental.isDefined) return None // see convertAgg: delta != state
    if (sawFilters) return None // see convertAgg
    if (agg.groupByExpressions.length != 1) return None
    val gcol = GraftDataSource.singleColumnOf(agg.groupByExpressions()(0))
      .getOrElse(return None)
    // textual dict-capable columns = the schema's string fields
    if (!tableSchema.fields.exists(f => f.name == gcol && f.dataType == StringType))
      return None
    def isGroupCol(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case n: NamedReference => n.fieldNames.toSeq == Seq(gcol)
        case _ => false
      }
    val kinds = agg.aggregateExpressions.toSeq.map {
      case _: aggregate.CountStar => Some(GroupedCountStar)
      case c: aggregate.Count if !c.isDistinct && isGroupCol(c.column) =>
        Some(GroupedCountCol)
      case _ => None
    }
    if (kinds.forall(_.isDefined)) Some((gcol, kinds.flatten)) else None
  }

  private var pushedGrouped: Option[(String, Seq[GroupedAggKind],
    Seq[GraftGroupedAgg.GroupRow])] = None
  private var pushedUngrouped: Option[(Seq[GraftDataSource.MetaAgg], Array[Any])] = None
  // build() serves a metadata scan ONLY after Spark ACCEPTED it through
  // pushAggregation — a supportCompletePushDown probe alone must not flip the
  // scan's output schema (Spark would still expect full-width rows)
  private var groupedAccepted = false
  private var ungroupedAccepted = false

  /** The manifest entries both aggregate pushdowns answer from: one read per
    * builder; None when `root` is not a store (decline, the scan then fails
    * loudly). */
  private lazy val stateEntries = SnapshotStore.entriesOf(root, snapshotId)

  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
    // data-dependent gate: every part's manifest stats must cover the asked
    // stat — the store answers from the manifest or not at all (a partial or
    // approximate answer is never served; see pushAggregation)
    (convertAgg(agg) match {
      case Some(as) =>
        stateEntries.flatMap(GraftUngroupedAgg.compute(_, as, tableSchema)) match {
          case Some(vals) => pushedUngrouped = Some((as, vals)); true
          case None => false
        }
      case None => false
    }) || (convertGroupedAgg(agg) match {
      case Some((c, kinds)) =>
        stateEntries.flatMap(GraftGroupedAgg.compute(_, c)) match {
          case Some(rows) => pushedGrouped = Some((c, kinds, rows)); true
          case None => false
        }
      case None => false
    })

  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    // both forms are accepted only as the COMPLETE pushdown prepared above,
    // for the SAME aggregate shape — Spark also probes pushAggregation on its
    // PARTIAL pushdown path (supportCompletePushDown false), and per-part
    // stats cannot serve Spark's partial agg row shape
    val ungroupedMatches = pushedUngrouped.exists(p => convertAgg(agg).contains(p._1))
    if (ungroupedMatches) { ungroupedAccepted = true; true }
    else {
      val matches = pushedGrouped.exists(p =>
        convertGroupedAgg(agg).contains((p._1, p._2)))
      if (matches) groupedAccepted = true
      matches
    }
  }

  override def build(): Scan = pushedUngrouped.filter(_ => ungroupedAccepted) match {
    // a pushed aggregate yields one metadata row — a limit on top is moot
    case Some((aggs, vals)) => new GraftAggScan(root, snapshotId, aggs, vals, tableSchema)
    case None => pushedGrouped.filter(_ => groupedAccepted) match {
      case Some((c, kinds, rows)) => new GraftGroupedAggScan(root, c, kinds, rows)
      case None =>
        // Spark pushes EITHER a bare limit or a top-n, never both; the per-task
        // early-stop row cap is sound only for the order-free bare limit (a task
        // truncating its url-ordered duty under top-n could drop true top-n rows)
        new GraftScan(root, snapshotId, requiredSchema, predicates,
          if (pushedTopN.isDefined) None else pushedLimit, pushedTopN, tableSchema,
          incremental, partIds, exact)
    }
  }
}

/**
 * Complete aggregate pushdown: `SELECT count(*), count(col), min(col),
 * max(col), sum(col)` over the graft table is answered WITHOUT reading a
 * block — driver arithmetic over the manifest's per-part row counts, exact
 * null counts, bounds and sums. The values were computed (and
 * coverage-gated) at PUSHDOWN time ([[GraftUngroupedAgg]]); execution serves
 * the one row from memory. Exact: the part stats are exact, and nulls take no
 * part in SQL min/max/sum.
 */
final class GraftAggScan(root: String, snapshotId: Option[Long],
                         aggs: Seq[GraftDataSource.MetaAgg],
                         values: Array[Any],
                         tableSchema: StructType = GraftDataSource.PageSchema)
    extends Scan with Batch {

  private def colType(c: String) = tableSchema(c).dataType

  override def readSchema(): StructType = StructType(aggs.zipWithIndex.map {
    case (GraftDataSource.AggCountStar, i) =>
      StructField(s"count_star_$i", LongType, nullable = false)
    case (GraftDataSource.AggCountCol(c), i) =>
      StructField(s"count_${c}_$i", LongType, nullable = false)
    case (GraftDataSource.AggMin(c), i) =>
      StructField(s"min_${c}_$i", colType(c), nullable = true)
    case (GraftDataSource.AggMax(c), i) =>
      StructField(s"max_${c}_$i", colType(c), nullable = true)
    case (GraftDataSource.AggSum(c), i) =>
      // Spark's final type for integral sums is LongType regardless of width
      StructField(s"sum_${c}_$i", LongType, nullable = true)
  })

  override def description(): String = {
    val snap = snapshotId.map(id => s" snapshotId=$id").getOrElse("")
    s"GraftStore root=$root$snap PushedAggregates: [${aggs.mkString(", ")}] (metadata-only)"
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // record THIS scan's stats: a gate reading planStatsFor after an
    // agg-pushed query must not validate the PREVIOUS scan's plan (the
    // stale-gate-result class); one metadata partition, zero data files
    GraftDataSource.recordPlanStats(root, GraftDataSource.PlanStats(
      partitions = 1, files = 0, predicates = 0, prunedGroupKeys = None))
    Array(GraftAggPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory = GraftAggReaderFactory
}

/** `values` are INTERNAL representations (Long/Int/Short/Byte, epoch-micros
  * Long for timestamps, UTF8String for strings, null for empty columns). */
final case class GraftAggPartition(values: Array[Any]) extends InputPartition

object GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vs = partition.asInstanceOf[GraftAggPartition].values
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(vs.length)
        var i = 0
        while (i < vs.length) { row.update(i, vs(i)); i += 1 }
        row
      }
      override def close(): Unit = ()
    }
}

/**
 * The batch scan. It reads the manifest ONCE and pins those entries for
 * statistics, planning and execution. Pruning is planned on the driver, with
 * no Spark job, in two levels from the pinned entries
 * ([[DecodeJob.planPrunedKeys]] for pushed and runtime predicates,
 * [[DecodeJob.planTopNKeys]] for a filterless top-n):
 *  1. each part's manifest stats (per-column bounds, null count, small dict)
 *     drop the parts no predicate can match;
 *  2. the same test then runs on each group of the surviving parts: a
 *     single-group part's stats are its group's, any other part's groups
 *     come from its block file's footer.
 * Parts committed before per-part stats existed are unbounded at level 1 and
 * plan from their footers. Planning makes no
 * broadcast: each input partition carries the keys of its own files' parts,
 * and the reader factory carries the session's programmatic Hadoop settings
 * ([[HadoopSettings]]) and the leaves of the filters the scan claimed
 * ([[FilterConversion.toLeaves]]), which the readers evaluate on each
 * surviving group.
 */
final class GraftScan(root: String, snapshotId: Option[Long],
                      requiredSchema: StructType,
                      initialPredicates: Seq[ExactFilter],
                      pushedLimit: Option[Int] = None,
                      pushedTopN: Option[GraftDataSource.TopN] = None,
                      tableSchema: StructType = GraftDataSource.PageSchema,
                      incremental: Option[(Long, Long)] = None,
                      partIds: Option[Set[Int]] = None,
                      exactFilters: Seq[ExactFilter] = Nil)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  /** The pinned entries plan-level rules answer from
    * ([[graft.plans.GroupedAggMetadataRule]]) when this scan reads ONE
    * snapshot's full state — the state the manifest stats describe; None for
    * incremental scans (a range delta is not that), for scans restricted to
    * some parts, for scans holding claimed filters (their rows are a subset
    * no plan node above shows), and when `root` is not a store. */
  private[graft] def metadataEntries: Option[Seq[SnapshotStore.PartEntry]] =
    if (incremental.isDefined || partIds.isDefined || exactFilters.nonEmpty ||
        (snapshotId.isEmpty && SnapshotStore.currentSnapshotId(root).isEmpty)) None
    else Some(pinnedEntries)

  /** Compile-time predicates + any runtime (DPP-style) In-filters Spark
    * delivers just before execution. */
  @volatile private var predicates: Seq[ExactFilter] = initialPredicates

  /** Runtime-filter value-list ceiling: a broadcast join key set larger than
    * this prunes little per value while every part and group of the plan
    * tests each value — ignore it (a no-op runtime filter is always sound;
    * the join still evaluates exactly). */
  private val MaxRuntimeInValues = 10000

  // ---- SupportsRuntimeFiltering: a broadcast-join build side over the
  // store's sort/partition key prunes block groups AT EXECUTION — the V2
  // analog of dynamic partition pruning, riding the same block metadata ----
  private val sortKeyName: String = GraftDataSource.sortKeyOf(tableSchema).name
  private val sortKeyIsString: Boolean =
    GraftDataSource.sortKeyOf(tableSchema).dataType == StringType

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (sortKeyIsString)
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(sortKeyName))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    val extra = filters.toSeq.filter {
      case sources.In(c, vs) => c == sortKeyName && vs.nonEmpty && vs.length <= MaxRuntimeInValues
      case sources.EqualTo(c, _) => c == sortKeyName
      case _ => false
    }.flatMap(f => FilterConversion.toLeaves(f, tableSchema)._1)
    // an unconvertible runtime filter adds nothing: the scan stays a superset
    if (extra.nonEmpty) predicates = predicates ++ extra
  }

  /** ONE manifest read per scan, pinned: estimateStatistics (optimization) and
    * planInputPartitions (execution, possibly twice around runtime filters)
    * must all describe the SAME snapshot — re-reading let a commit landing
    * between them skew the optimizer's stats against the scanned data, and
    * re-parsed a 100k-part manifest per call. The pinned entries carry the
    * per-part stats level-1 planning prunes with. */
  private lazy val pinnedEntries: Seq[SnapshotStore.PartEntry] = {
    val all = incremental match {
      // incremental read: the parts ADDED in (from, to] — the same additions-
      // changelog walk as the streaming reader, planned once per scan; every
      // downstream stage (pruning, projection, limit/top-n, runtime filtering)
      // rides these entries unchanged
      case Some((f, t)) => SnapshotStore.deltaEntries(root, f, t, freshFrom = false)(
        (sid, e) => throw new IllegalStateException(
          s"incremental read of $root needs the manifest of snapshot $sid to " +
          s"reconstruct range ($f, $t], but it is gone — expired. Widen " +
          "SnapshotStore.expireSnapshots(keepLast) to cover your consumption lag, " +
          "or read the full table and re-baseline.", e))
      case None => SnapshotStore.entriesOf(root, snapshotId).getOrElse(Seq.empty)
    }
    partIds.fold(all)(ids => all.filter(e => ids(e.partId)))
  }

  private def snapshotEntries(): Seq[SnapshotStore.PartEntry] = pinnedEntries

  // ---- the partition plan, memoized per predicate set: Spark plans one scan
  // more than once (before and after runtime filters, and again when
  // adaptive execution re-plans the query). The same predicates reuse the
  // whole plan, so the surviving parts' footers are read once. Changed
  // predicates (a runtime In landed) re-plan ----
  private val planLock = new Object
  private var planned: (Seq[ExactFilter],
    (Array[InputPartition], GraftDataSource.PlanStats)) = null

  /** The session's Hadoop settings, read once per scan: planning reads
    * footers with them, and the readers open block files with them. */
  private lazy val settings = HadoopSettings(SparkSession.active)

  /** Always row-based. Spark's default, `PARTITION_DEFINED`, makes
    * `DataSourceV2ScanExecBase.supportsColumnar` ask every input partition,
    * which would plan the partitions before runtime filters arrive. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  override def readSchema(): StructType = requiredSchema

  override def description(): String = {
    val cols = requiredSchema.fieldNames.mkString(",")
    val preds = predicates.mkString(", ")
    val snap = snapshotId.map(id => s" snapshotId=$id").getOrElse("")
    val inc = incremental.map { case (f, t) => s" incremental=($f,$t]" }.getOrElse("")
    val lim = pushedLimit.map(n => s" PushedLimit: $n").getOrElse("")
    val topn = pushedTopN.map(t => s" PushedTopN: [$t] (partial)").getOrElse("")
    val parts = partIds.map(p => s" PushedPartIds: ${p.size}").getOrElse("")
    s"GraftStore root=$root$snap$inc columns=[$cols] PruningPredicates: [$preds] " +
      s"ExactFilters: [${exactFilters.mkString(", ")}]$lim$topn$parts"
  }

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = {
    // manifest rollup: decoded (original) byte size + exact row count; both are
    // metadata-only. They bound the scan's output from above: neither the
    // filters the scan claims nor pruning is estimated, and Spark estimates
    // the residual filters above the scan.
    val entries = snapshotEntries()
    val rows = entries.map(_.nRows).sum
    val bytes = entries.map(_.origBytes).sum
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val entries = snapshotEntries()
    if (entries.isEmpty) {
      // an empty-ENTRIES snapshot (created-but-unloaded table, truncate,
      // all-matched DELETE) reads as zero rows; a root with no snapshot at all
      // is not a store and fails loudly (entriesAt already threw for an
      // explicit time-travel id with no manifest)
      require(snapshotId.isDefined || SnapshotStore.currentSnapshotId(root).isDefined,
        s"no committed snapshot under $root")
      return Array.empty
    }
    val (partitions, stats) = planLock.synchronized {
      val preds = predicates
      if (planned == null || planned._1 != preds) planned = (preds, plan(preds, entries))
      planned._2
    }
    GraftDataSource.recordPlanStats(root, stats)
    partitions
  }

  private def plan(preds: Seq[ExactFilter],
      entries: Seq[SnapshotStore.PartEntry])
      : (Array[InputPartition], GraftDataSource.PlanStats) = {
    val spark = SparkSession.active
    // two-level planning on the driver (manifest part stats, then the
    // surviving multi-group parts' footers) yields every surviving group key.
    // Each partition carries only its own files' keys, so no task payload
    // grows with the scan's survivor count, and a part with no surviving
    // group is never opened.
    val keys: Option[Array[(Int, Int)]] =
      if (preds.nonEmpty)
        Some(DecodeJob.planPrunedKeys(settings, root, entries, preds,
          Some(tableSchema.fieldNames.toSet)))
      // top-n prefix pruning only when NO predicate of any kind arrived (a
      // runtime filter landing via filter() makes per-group row counts stop
      // bounding the MATCHING rows — same reason pushTopN refuses filters)
      else pushedTopN.flatMap { t =>
        val intBounds = tableSchema.fields.find(_.name == t.column)
          .map(_.dataType != StringType)
        DecodeJob.planTopNKeys(settings, root, entries,
          t.column, t.asc, t.nullsFirst, t.limit, intBounds)
      }
    val (partitions, fileCount) = GraftDataSource.packPartitions(spark, root, entries,
      requiredSchema, tableSchema.fields.head.name, keys, pushedLimit.getOrElse(-1))
    (partitions, GraftDataSource.PlanStats(partitions.length, fileCount,
      preds.size, keys.map(_.length), pushedLimit, pushedTopN))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(settings, exactFilters)

  /** Micro-batch streaming read over the snapshot-id sequence (see
    * [[GraftMicroBatchStream]]); pushed predicates prune each batch's delta
    * groups exactly like the batch scan (and still run as Spark-side
    * residuals for exactness), column pruning applies too. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(snapshotId.isEmpty,
      "snapshotId (time travel) and readStream are mutually exclusive: a stream " +
      "already replays the snapshot sequence from its checkpointed offset")
    require(incremental.isEmpty,
      "fromSnapshot (incremental batch read) and readStream are mutually " +
      "exclusive: a stream IS the incremental consumption of the store")
    new GraftMicroBatchStream(root, requiredSchema, tableSchema.fields.head.name,
      initialPredicates)
  }
}

/** A bin of whole native block files, read by one [[GraftPartitionReader]];
  * groups are whole within each file by construction. Spark serializes every
  * partition once per task, so it holds only what its files need: their paths
  * and manifest lengths (a file's name carries its one part), the scan's
  * planned keys of those parts, and no Hadoop conf (the settings ride the
  * [[GraftReaderFactory]]). */
final case class GraftInputPartition(
    files: Array[String],
    fileLens: Array[Long],           // each file's length, from the manifest
    readSchema: StructType,          // required output columns + types, in order
    refColumn: String,               // store's first column: the count-only reference
    // sorted planned (part_id<<32|seq) keys of the files' parts, or null = no
    // pruning
    keys: Array[Long],
    limit: Int = -1) extends InputPartition { // pushed per-task row cap; -1 = none
  def columns: Array[String] = readSchema.fieldNames
}

/** The reader factory of every block-file scan ([[GraftScan]],
  * [[GraftCowScan]], [[GraftMicroBatchStream]]). It carries the session's
  * programmatic Hadoop settings ([[HadoopSettings]]), a few entries, not a
  * broadcast: each reader opens its block files ([[BlockGroupStream]])
  * from Spark's per-JVM Hadoop conf when that already holds them, else from
  * one overlaid copy per task. Settings from XML resources are the
  * executor's own, as for any Hadoop client. Every partition is read by a
  * [[GraftPartitionReader]]. `filters` are the batch scan's claimed filters;
  * the copy-on-write and streaming scans claim none. */
final case class GraftReaderFactory(settings: HadoopSettings, filters: Seq[ExactFilter] = Nil)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition], settings.conf(),
      filters)
}

/**
 * Streams a bin of whole native block files ([[BlockFile]]) as the complete
 * (part_id, block_seq) groups its keys keep, one group in flight. The keys
 * arrive already cut to the bin's own parts, so a task does no slicing.
 * Every group must hold exactly the requested columns, or the read fails
 * with the "corrupt or foreign store layout" IOException.
 *
 * Each file is opened once: its footer comes from one positioned read at the
 * manifest's length, and then, for each group the keys keep, only the
 * requested columns' blocks are read, one seek per run of adjacent blocks. A
 * count-only read takes the row counts from the footer and reads no block.
 */
private final class BlockGroupStream(p: GraftInputPartition, conf: Configuration,
                                     readCols: Array[String], countOnly: Boolean) {
  /** One complete block group (encoded bytes per requested column). */
  final case class GroupData(cols: Map[String, Array[Byte]], n: Int, pid: Int)

  private val expected: Set[String] = readCols.toSet

  private val keys: Array[Long] = p.keys // null = no pruning

  @inline private def liveGroup(packed: Long): Boolean =
    keys == null || java.util.Arrays.binarySearch(keys, packed) >= 0

  private def layoutError(file: String, packed: Long, cols: Iterable[String]) =
    new java.io.IOException(
      s"block group part_id=${(packed >>> 32).toInt} block_seq=${packed.toInt} in " +
      s"$file has columns ${cols.toSeq.sorted.mkString(",")}, expected " +
      s"${expected.toSeq.sorted.mkString(",")}: corrupt or foreign store layout")

  /** The kept groups of one file, in file order. */
  private final class NativeGroups(file: String, fileLen: Long) {
    private val path = new Path(file)
    private val partId = GraftDataWriter.partIdOf(path.getName).getOrElse(
      throw new BlockFile.CorruptBlockFileException(file, "its name carries no part id"))
    private val in = BlockFile.fileSystem(path, conf).open(path)
    private val refs =
      try BlockFile.readFooter(file, in, fileLen, partId)
      catch { case t: Throwable => in.close(); throw t }
    private var i = 0
    private var lastSeq = -1L

    /** The next kept group; null at the file's end. */
    def next(): GroupData = {
      while (i < refs.length) {
        val start = i
        val seq = refs(i).meta.block_seq
        // groups are written whole and in ascending order: a group seen twice
        // would otherwise decode its rows twice
        if (seq <= lastSeq) throw new BlockFile.CorruptBlockFileException(file,
          s"block group $seq follows group $lastSeq")
        lastSeq = seq
        while (i < refs.length && refs(i).meta.block_seq == seq) i += 1
        val packed = DecodeJob.packKey(partId, seq)
        if (liveGroup(packed)) {
          val wanted = refs.slice(start, i).filter(r => expected(r.meta.column))
          val cols = wanted.map(_.meta.column)
          if (cols.length != expected.size || cols.toSet != expected)
            throw layoutError(file, packed, refs.slice(start, i).map(_.meta.column))
          if (countOnly) return GroupData(Map.empty, wanted(0).meta.n, partId)
          val bytes = BlockFile.readBlocks(file, in, wanted.toSeq)
          return GroupData(cols.iterator.zip(bytes.iterator).toMap, wanted(0).meta.n, partId)
        }
      }
      null
    }

    def close(): Unit = in.close()
  }

  private val fileIndex = p.files.indices.iterator
  private var current: NativeGroups = _
  // a bin with zero surviving keys never plans
  private var eof = keys != null && keys.length == 0

  /** The next kept complete group, or null at end of the bin. */
  def nextGroup(): GroupData = {
    while (!eof) {
      if (current == null) {
        if (!fileIndex.hasNext) { eof = true; return null }
        val i = fileIndex.next()
        current = new NativeGroups(p.files(i), p.fileLens(i))
      }
      val g = current.next()
      if (g != null) return g
      current.close(); current = null
    }
    null
  }

  def close(): Unit = if (current != null) { current.close(); current = null }
}

private object BlockGroupStream {
  /** The columns a reader of `p` reads, and whether it reads only row counts:
    * the output's stored columns and the filter columns (Spark prunes a
    * column that only a claimed filter uses out of the read schema). With
    * neither (`count(*)`, `SELECT _part_id`), the store's first column is
    * read for its row counts alone: its `encoded` bytes never leave disk. */
  def readColumns(p: GraftInputPartition, filters: Seq[ExactFilter]): (Array[String], Boolean) = {
    // `_part_id` is a METADATA column (constant per block group, known from
    // the group key): it has no stored blocks
    val cols = (p.columns.filter(_ != "_part_id") ++ filters.map(_.column)).distinct
    if (cols.isEmpty) (Array(p.refColumn), true) else (cols, false)
  }

  /** A group's columns, each decoded once, on first use: the filters and the
    * output share one decode per column. */
  final class Decoded(cols: Map[String, Array[Byte]]) {
    private val strs = scala.collection.mutable.HashMap.empty[String, StringBlockCodec.Slices]
    private val ints =
      scala.collection.mutable.HashMap.empty[String, (Array[Long], Array[Boolean])]
    def strings(c: String): StringBlockCodec.Slices =
      strs.getOrElseUpdate(c, StringBlockCodec.decodeSlices(cols(c)))
    def longs(c: String): (Array[Long], Array[Boolean]) =
      ints.getOrElseUpdate(c, IntBlockCodec.decodeNullable(cols(c)))
    /** The rows passing `filters`, ascending; null = every row. */
    def select(filters: Seq[ExactFilter], n: Int): Array[Int] =
      ExactFilter.select(filters, n, strings, longs)
  }
}

/** The reader of every block-file scan: rows over [[BlockGroupStream]], with
  * string values wrapping the decode buffer as zero-copy `UTF8String`s.
  * Each group's filter columns are decoded first; a group with no matching row is skipped before
  * any other column is decoded, and rows are built for the matches only. */
final class GraftPartitionReader(p: GraftInputPartition, conf: Configuration,
    filters: Seq[ExactFilter] = Nil) extends PartitionReader[InternalRow] {

  private val stream = {
    val (readCols, countOnly) = BlockGroupStream.readColumns(p, filters)
    new BlockGroupStream(p, conf, readCols, countOnly)
  }

  private var current: InternalRow = _
  private var pending: Iterator[InternalRow] = Iterator.empty
  private var done = false
  private var produced = 0L

  private def decodeGroup(gd: BlockGroupStream#GroupData): Iterator[InternalRow] = {
    val cols = new BlockGroupStream.Decoded(gd.cols)
    val sel = cols.select(filters, gd.n)
    val n = if (sel == null) gd.n else sel.length
    if (p.columns.isEmpty) { // count(*): zero-width rows
      val empty: InternalRow = new GenericInternalRow(0)
      return Iterator.fill(n)(empty)
    }
    if (n == 0) return Iterator.empty
    // per-column decode dispatch is TYPE-driven off the read schema (the
    // store's persisted schema pruned to this scan): timestamps and the int
    // family ride IntBlockCodec as longs, binary values are copied out as
    // arrays, strings wrap zero-copy as UTF8String
    val decoded: Array[Int => Any] = p.readSchema.fields.map { f =>
      if (f.name == "_part_id") {
        val v = java.lang.Integer.valueOf(gd.pid)
        (_: Int) => v: Any
      } else f.dataType match {
        case TimestampType | LongType =>
          val (us, ok) = cols.longs(f.name)
          (i: Int) => if (ok(i)) java.lang.Long.valueOf(us(i)) else null
        case IntegerType =>
          val (vs, ok) = cols.longs(f.name)
          (i: Int) => if (ok(i)) java.lang.Integer.valueOf(vs(i).toInt) else null
        case ShortType =>
          val (vs, ok) = cols.longs(f.name)
          (i: Int) => if (ok(i)) java.lang.Short.valueOf(vs(i).toShort) else null
        case ByteType =>
          val (vs, ok) = cols.longs(f.name)
          (i: Int) => if (ok(i)) java.lang.Byte.valueOf(vs(i).toByte) else null
        case BinaryType =>
          val vs = cols.strings(f.name)
          (i: Int) => vs.bytes(i)
        case _ =>
          // values wrap the block's one decode buffer: no per-value copy
          val vs = cols.strings(f.name)
          (i: Int) =>
            if (vs.lens(i) < 0) null else UTF8String.fromBytes(vs.buf, vs.offs(i), vs.lens(i))
      }
    }
    (0 until n).iterator.map { k =>
      val i = if (sel == null) k else sel(k)
      val row = new GenericInternalRow(decoded.length)
      var j = 0
      while (j < decoded.length) { row.update(j, decoded(j)(i)); j += 1 }
      row
    }
  }

  override def next(): Boolean = {
    // pushed limit: stop pulling (and decoding) further groups once this task
    // has produced enough rows — Spark's GlobalLimit still trims exactly
    if (p.limit >= 0 && produced >= p.limit) return false
    while (!pending.hasNext) {
      if (done) return false
      val gd = stream.nextGroup()
      if (gd == null) { done = true; return false }
      pending = decodeGroup(gd)
    }
    current = pending.next()
    produced += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = stream.close()
}
