package graft.jobs

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{SnapshotStore, WebPage}

/**
 * Decode job: the typed and projected decode API over a committed snapshot,
 * and the per-url byte-identical `text` check (BASELINE.json input_hint).
 *
 * Every decode here is the V2 scan (`spark.read.format("graft")`,
 * [[graft.sources.v2.GraftScan]]): each task reads whole block files, so a
 * block group never straddles a task and the scan needs no shuffle and no
 * split repair. Block predicates become exact row filters; the scan pushes
 * them down and prunes groups with [[planPrunedKeys]], and Spark still runs
 * them on the decoded rows. Building a decode runs no Spark job; the scan is
 * planned at the first action, on the driver: from the manifest's part stats,
 * then from the footers of the surviving multi-group parts, one read per
 * file. Planning runs no Spark job either.
 */
object DecodeJob {

  /** The [[BlockRow]]s of `entries`' parts, read through
    * [[NativeBlocksRelation]]: each named file's footer, and its `encoded`
    * bytes only when the query selects that column, so a metadata query
    * reads footers alone. A part that names no file is refused
    * ([[SnapshotStore.PartEntry.filePath]]). An empty snapshot
    * (created-but-unloaded table, truncate, all-matched DELETE) reads as the
    * empty relation, correctly typed. */
  private[graft] def fromEntries(spark: SparkSession, root: String,
                          entries: Seq[SnapshotStore.PartEntry]) =
    spark.baseRelationToDataFrame(NativeBlocksRelation(spark.sqlContext,
      entries.map(e => (e.filePath(root), e.fileLen, e.partId)).toArray,
      graft.sources.v2.HadoopSettings(spark)))

  /** Read the current snapshot's blocks as a DataFrame of [[BlockRow]]s: the
    * block files its manifest names, one part each. Selecting no `encoded`
    * reads only footers. */
  def blocks(spark: SparkSession, root: String) = {
    requireStore(root)
    fromEntries(spark, root, SnapshotStore.currentEntries(root))
  }

  /** A root with no SNAPSHOT pointer is not a store (typo'd path, never-
    * committed dir) — fail loudly. An initialized store whose CURRENT snapshot
    * has zero entries (created-but-unloaded table, truncate, all-matched
    * DELETE) is legal and reads as empty everywhere. */
  private def requireStore(root: String): Unit =
    require(SnapshotStore.currentSnapshotId(root).isDefined,
      s"no committed snapshot under $root")

  /** The typed decode API reads WebPage rows — a generalized-schema store
    * (SCHEMA sidecar, r6) would fail at `.as[WebPage]` with a confusing
    * column error; name the problem at the entry point. The V2 SQL surface
    * reads every schema. */
  private[graft] def requireWebtext(root: String): Unit = {
    val s = graft.sources.v2.GraftDataSource.storeSchema(root)
    require(s == graft.sources.v2.GraftDataSource.PageSchema,
      s"this decode API reads webtext-schema stores; $root has schema " +
      s"${s.simpleString} — read it via spark.read.format(\"graft\").load(...)")
  }

  /** Decode the full snapshot back into pages. */
  def decode(spark: SparkSession, root: String): Dataset[WebPage] = {
    requireWebtext(root)
    requireStore(root)
    spark.read.format("graft").load(root).as(Encoders.product[WebPage])
  }

  // ---------------- predicate-pushed decode (decoded-view API) ----------------

  /** A pushable predicate over a decoded page column, evaluated twice: against
    * block METADATA to prune whole groups before any decompression, and exactly
    * against the decoded rows. Absent metadata always passes (soundness). */
  sealed trait BlockPredicate { def column: String }
  /** Equality on a UTF-8 string column with bounds/dict metadata (url/text/lang). */
  final case class StrEq(column: String, value: String) extends BlockPredicate
  /** Membership on a string column. */
  final case class StrIn(column: String, values: Seq[String]) extends BlockPredicate
  /** Prefix match on a string column — the most common web-archive access
    * pattern (`url LIKE 'https://host/%'`). Prunes via block_str_min/max
    * overlap with [prefix, successor(prefix)). */
  final case class StrPrefix(column: String, prefix: String) extends BlockPredicate
  /** Inclusive lexicographic range on a string column; None = open-ended on
    * that side. A finite stand-in bound (e.g. a run of U+FFFF) would be
    * UNSOUND: strings can sort above any finite string, and a pruned block is
    * never decoded, so the residual filter could not resurrect its rows. */
  final case class StrRange(column: String, lo: Option[String], hi: Option[String])
      extends BlockPredicate
  object StrRange {
    /** Closed-range convenience (both bounds finite). */
    def apply(column: String, lo: String, hi: String): StrRange =
      StrRange(column, Some(lo), Some(hi))
  }
  /** Inclusive epoch-micros range on `warc_ts`. */
  final case class TsRange(loMicros: Long, hiMicros: Long) extends BlockPredicate {
    def column: String = "warc_ts"
  }
  /** Inclusive raw-value range on ANY integer-family column (generalized
    * schemas: bigint/int/smallint/tinyint, and timestamps as epoch micros) —
    * prunes via the same exact block_min/max as [[TsRange]]. */
  final case class IntRange(column: String, lo: Long, hi: Long) extends BlockPredicate

  /**
   * Smallest string greater than EVERY string with the given prefix, under
   * Spark's UTF8 binary ordering: the prefix with its last rankable char
   * incremented. A char is dropped first only when its increment is not a
   * valid non-surrogate scalar: U+FFFF (no in-char successor) and
   * U+D7FF..U+DFFF (U+D7FF increments into the surrogate range; surrogates
   * themselves — possibly halves of a supplementary pair — cannot be
   * incremented byte-order-soundly). Everything else increments: UTF-8 is
   * monotone in scalar value and encodings are never byte-prefixes of each
   * other, so `prefix[0..i-1] + (c+1)` bounds every prefixed string. None =
   * no finite successor (pruning then uses only the lower bound, still sound).
   */
  private[jobs] def prefixSuccessor(prefix: String): Option[String] = {
    @inline def noSuccessor(c: Char): Boolean =
      c == 0xFFFF.toChar || (c >= 0xD7FF.toChar && c <= 0xDFFF.toChar)
    var i = prefix.length - 1
    while (i >= 0 && noSuccessor(prefix.charAt(i))) i -= 1
    if (i < 0) None
    else Some(prefix.substring(0, i) + (prefix.charAt(i) + 1).toChar)
  }

  /** 1900-01-01T00:00:00Z in epoch micros. */
  private val PushableTsFloorMicros = -2208988800L * 1000000L

  /** Exact row-level form of a predicate over decoded pages. */
  private def rowCond(p: BlockPredicate): org.apache.spark.sql.Column = p match {
    case StrEq(c, v) => col(c) === v
    case StrIn(c, vs) => col(c).isin(vs: _*)
    case StrPrefix(c, p) => col(c).startsWith(p)
    case StrRange(c, lo, hi) =>
      lo.map(col(c) >= _).getOrElse(lit(true)) && hi.map(col(c) <= _).getOrElse(lit(true))
    // exact on micros; the timestamp comparisons are what the V2 scan can
    // push. They are kept to bounds Spark hands the scan unchanged: before
    // 1900 it may rebase a timestamp literal between calendars, and near the
    // Long extremes that conversion overflows
    case TsRange(lo, hi) =>
      def pushable(us: Long) = us >= PushableTsFloorMicros
      val ts = col("warc_ts")
      unix_micros(ts).between(lo, hi) &&
        (if (pushable(lo)) ts >= timestamp_micros(lit(lo)) else lit(true)) &&
        (if (pushable(hi)) ts <= timestamp_micros(lit(hi)) else lit(true))
    // raw stored value (timestamp columns of generalized stores decode as
    // epoch-micros longs on the V2 surface, where residuals are Spark-side
    // anyway; this row form serves the int-typed decode API columns)
    case IntRange(c, lo, hi) => col(c).between(lo, hi)
  }

  /**
   * Group keys whose metadata admits ALL predicates — the set of (part_id,
   * block_seq) that must be decoded — planned on the driver over the current
   * manifest ([[planPrunedKeys]]), as a local DataFrame.
   */
  def matchingGroupKeys(spark: SparkSession, root: String,
                        predicates: Seq[BlockPredicate]): org.apache.spark.sql.DataFrame = {
    requireStore(root)
    import spark.implicits._
    planPrunedKeys(graft.sources.v2.HadoopSettings(spark), root,
      SnapshotStore.currentEntries(root), predicates).toSeq
      .toDF("part_id", "block_seq")
  }

  /** The parts of the PINNED `entries` that may hold a row matching all
    * `predicates` (every part when there are none) — the parts a
    * copy-on-write DELETE or MERGE rewrites: those of the groups
    * [[planPrunedKeys]] keeps. Callers keep planning AND the later
    * rewrite/commit on ONE manifest read: deriving affected parts from a
    * re-read manifest while holding an older entry list lets a concurrent
    * compaction slip between the two, and a commit that then tombstones parts
    * it never rewrote is silent row loss. */
  private[graft] def affectedParts(spark: SparkSession, root: String,
      entries: Seq[SnapshotStore.PartEntry],
      predicates: Seq[BlockPredicate]): Set[Int] =
    if (predicates.isEmpty || entries.isEmpty) entries.map(_.partId).toSet
    else planPrunedKeys(graft.sources.v2.HadoopSettings(spark), root, entries, predicates)
      .iterator.map(_._1).toSet

  private def requireValidPredicates(predicates: Seq[BlockPredicate],
                                     allowed: Option[Set[String]]): Unit = {
    require(predicates.nonEmpty, "no predicates")
    // a predicate naming a column the store does not have matches ZERO block
    // rows — the intersection would prune EVERYTHING and silently return
    // empty. The V2 surface passes its table schema's columns (`allowed`);
    // the webtext decode API keeps the fixed-page-column typo guard.
    allowed match {
      case Some(cols) =>
        require(predicates.forall(p => cols(p.column)),
          s"predicates must target store columns ${cols.toSeq.sorted.mkString(",")}; got " +
          predicates.map(_.column).distinct.mkString(","))
      case None =>
        require(predicates.forall {
          case _: IntRange => true // generalized-schema predicates: schema-validated upstream
          case p => PageColumns(p.column) && p.column != "html"
        }, "predicates must target url/warc_ts/text/lang (html is opaque binary: no metadata)")
        require(predicates.forall {
          case _: TsRange | _: IntRange => true
          case p => p.column != "warc_ts" // string bounds are meaningless on an i64 column
        }, "warc_ts predicates must be TsRange")
    }
  }

  // ------- planning on the driver: part stats, then the groups' footers -------

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  /** Can a part or block group whose column has these stats hold a row
    * matching `p`? Absent stats pass (soundness), and strings compare in
    * Spark's order (UTF-8 bytes). A part's stats are the rollup of its
    * blocks' (min of the mins, max of the maxes, dict union), no tighter than
    * any block's, so a part passes whenever ANY of its groups could: level 1
    * never prunes a part holding a group level 2 keeps. Literals are
    * converted once per predicate: a runtime In-filter can carry thousands
    * of values and the test runs once per part and group. */
  private def statsTest(p: BlockPredicate): SnapshotStore.ColumnStats => Boolean = {
    def le(a: Option[String], b: UTF8String) = a.forall(x => u8(x).compareTo(b) <= 0)
    def ge(a: Option[String], b: UTF8String) = a.forall(x => u8(x).compareTo(b) >= 0)
    def dictHas(s: SnapshotStore.ColumnStats)(f: UTF8String => Boolean) =
      s.dict.forall(_.exists(v => f(u8(v))))
    p match {
      case StrEq(_, v) =>
        val x = u8(v)
        s => le(s.strMin, x) && ge(s.strMax, x) && dictHas(s)(_ == x)
      case StrIn(_, vs) =>
        val us = vs.map(u8)
        val (lo, hi, set) = (us.min, us.max, us.toSet)
        s => le(s.strMin, hi) && ge(s.strMax, lo) && dictHas(s)(set)
      case StrPrefix(_, pre) =>
        // matches s satisfy pre <= s < successor(pre): the stats must overlap
        // that interval (only its lower end when there is no successor)
        val x = u8(pre)
        val succ = prefixSuccessor(pre).map(u8)
        s => ge(s.strMax, x) && succ.forall(su => s.strMin.forall(u8(_).compareTo(su) < 0)) &&
          dictHas(s)(_.startsWith(x))
      case StrRange(_, lo, hi) =>
        val (l, h) = (lo.map(u8), hi.map(u8))
        s => h.forall(le(s.strMin, _)) && l.forall(ge(s.strMax, _)) &&
          dictHas(s)(v => l.forall(v.compareTo(_) >= 0) && h.forall(v.compareTo(_) <= 0))
      case TsRange(lo, hi) => s => s.min.forall(_ <= hi) && s.max.forall(_ >= lo)
      case IntRange(_, lo, hi) => s => s.min.forall(_ <= hi) && s.max.forall(_ >= lo)
    }
  }

  /** Do per-column stats admit ALL predicates? A column without stats is
    * unbounded and admits. */
  private def admitsAll(predicates: Seq[BlockPredicate])
      : Map[String, SnapshotStore.ColumnStats] => Boolean = {
    val tests = predicates.map(p => (p.column, statsTest(p)))
    cols => tests.forall { case (c, t) => cols.get(c).forall(t) }
  }

  /** Level-1 survivors: the parts whose manifest stats admit ALL predicates
    * (parts without stats are unbounded and always survive). */
  private[graft] def partsMayMatch(entries: Seq[SnapshotStore.PartEntry],
      predicates: Seq[BlockPredicate]): Seq[SnapshotStore.PartEntry] = {
    val admits = admitsAll(predicates)
    entries.filter(_.stats.forall(s => admits(s.columns)))
  }

  /** One unit of level-2 planning: a block group, its row count and its
    * per-column stats. */
  private final case class Group(partId: Int, seq: Int, rows: Long,
      columns: Map[String, SnapshotStore.ColumnStats])

  /** A group's stats for one column, straight from the column's footer
    * entry. They are not cut to [[SnapshotStore.PartStats.MaxStringBound]]
    * or `MaxDictValues` as a part's are: a group prunes on its whole
    * metadata. */
  private def groupStats(b: BlockRow): SnapshotStore.ColumnStats =
    SnapshotStore.ColumnStats(b.block_min, b.block_max, b.block_str_min, b.block_str_max,
      b.n_nulls.toLong, b.block_str_dict.map(_.toSeq))

  /** Footers of more files than this are read through [[footerPool]]. */
  private val SerialFooterReads = 4

  /** The driver's footer readers: a fixed pool of daemon threads, made at
    * the first planning that needs it. */
  private lazy val footerPool = scala.concurrent.ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "graft-footer-reader")
      t.setDaemon(true)
      t
    }))

  /** The block groups of `parts`. A part with stats and one group is that
    * group, with its manifest stats. Any other part (several groups, or
    * committed without stats) yields its groups from its file's footer, read
    * on the driver with the caller's Hadoop `settings`: one positioned read
    * per file at its manifest length, no block bytes. */
  private def groupsOf(settings: graft.sources.v2.HadoopSettings, root: String,
      parts: Seq[SnapshotStore.PartEntry]): Seq[Group] = {
    val (single, multi) = parts.partition(_.stats.exists(_.nGroups == 1))
    val fromStats = single.map(e => Group(e.partId, 0, e.nRows, e.stats.get.columns))
    if (multi.isEmpty) return fromStats
    val conf = settings.conf()
    def read(e: SnapshotStore.PartEntry, path: String): Seq[Group] =
      graft.sources.v2.BlockFile.readAll(path, e.fileLen, e.partId, conf, withEncoded = false)
        .groupBy(_.block_seq).iterator.map { case (seq, bs) =>
          Group(e.partId, seq, bs.head.n.toLong,
            bs.iterator.map(b => b.column -> groupStats(b)).toMap)
        }.toSeq
    // paths are resolved first, so a part that names no file fails here
    val files = multi.map(e => (e, e.filePath(root)))
    val fromFooters =
      if (files.size <= SerialFooterReads) files.flatMap { case (e, p) => read(e, p) }
      else {
        import scala.concurrent.{Await, Future, duration}
        implicit val ec: scala.concurrent.ExecutionContext = footerPool
        Await.result(Future.traverse(files) { case (e, p) => Future(read(e, p)) },
          duration.Duration.Inf).flatten
      }
    fromStats ++ fromFooters
  }

  /** One packed block-group key: `(part_id << 32) | block_seq` — the V2
    * scan's broadcast key format ([[graft.sources.v2.GraftDataSource]]); one
    * definition so sign/width handling (negative rehomed part ids!) cannot
    * diverge between the planner and the reader. */
  private[graft] def packKey(pid: Int, seq: Int): Long =
    (pid.toLong << 32) | (seq.toLong & 0xffffffffL)

  /**
   * Two-level planning of the pruned-group keys over ONE pinned manifest read
   * (`entries`), on the driver, with no Spark job. Level 1 tests each part's
   * manifest stats ([[SnapshotStore.PartStats]]) against every predicate
   * ([[partsMayMatch]]). Level 2 applies the same test ([[statsTest]]) to
   * each group of the surviving parts ([[groupsOf]]): a single-group part's
   * stats are its group's, any other part's groups are read from its
   * footer. Every surviving key is returned, however many: each input
   * partition carries only its own parts' keys, and a part without one is
   * never opened.
   */
  private[graft] def planPrunedKeys(settings: graft.sources.v2.HadoopSettings, root: String,
                                    entries: Seq[SnapshotStore.PartEntry],
                                    predicates: Seq[BlockPredicate],
                                    allowed: Option[Set[String]] = None)
      : Array[(Int, Int)] = {
    requireValidPredicates(predicates, allowed)
    val admits = admitsAll(predicates)
    groupsOf(settings, root, partsMayMatch(entries, predicates)).iterator
      .filter(g => admits(g.columns)).map(g => (g.partId, g.seq)).toArray
  }

  /** The webtext columns a pushed top-n can plan a prefix over: url via the
    * string bounds, warc_ts via the exact int block_min/max. Generalized
    * schemas derive the set from their column types instead
    * ([[graft.sources.v2.GraftScanBuilder.pushTopN]]). */
  private[graft] val TopNColumns = Set("url", "warc_ts")

  /** A unit of the top-n prefix search (a part or a block group): its near
    * and far bound in the query's order (None = unbounded), the rows it is
    * sure to place within the prefix ending at its far bound, and whether it
    * may hold nulls. */
  private final case class TopNUnit[K](key: K, near: Option[Any], far: Option[Any],
      countable: Long, mayHoldNulls: Boolean)

  /** The units that can hold a row of the top-`limit` in order `dir`, or None
    * when the bounded units cannot fill the quota. Sorted by far bound, the
    * units' countable rows reach `limit` at a threshold `u`; a unit survives
    * when its near bound is unknown or within `u`, or, when nulls sort first,
    * when it may hold nulls. */
  private def topNPrefix[K](units: Seq[TopNUnit[K]], dir: Ordering[Any],
      nullsFirst: Boolean, limit: Int): Option[Seq[K]] = {
    var acc = 0L
    units.flatMap(u => u.far.map(_ -> u.countable)).sortBy(_._1)(dir).iterator
      .find { case (_, c) => acc += c; acc >= limit }
      .map { case (cut, _) =>
        units.collect { case u if u.near.forall(dir.lteq(_, cut)) ||
          (nullsFirst && u.mayHoldNulls) => u.key }
      }
  }

  /**
   * ORDER BY <column> LIMIT n planning for a metadata-bounded column (`url`
   * via block_str_min/max, `warc_ts` via the exact int block_min/max): the
   * (part_id, block_seq) groups that can contain a row of the global
   * top-`limit` under the given ordering — an ordered PREFIX of the store's
   * groups, found from metadata alone ([[topNPrefix]]). Sound with nulls:
   * units that may hold nulls always survive when nulls sort first, and
   * count only their non-null rows toward the quota when nulls sort last
   * (their null rows cannot push a non-null row out of the top-n).
   *
   * Two levels, like [[planPrunedKeys]]: the search runs over the manifest's
   * part stats and keeps the parts that can reach the prefix (all of them
   * when part stats cannot fill the quota), then over those parts' groups
   * ([[groupsOf]]). A part's far bound bounds all its groups', so level 1
   * only drops parts level 2 would drop too. None (the caller scans
   * everything — always sound) when the groups cannot fill the quota.
   */
  private[graft] def planTopNKeys(settings: graft.sources.v2.HadoopSettings, root: String,
                                  entries: Seq[SnapshotStore.PartEntry],
                                  column: String,
                                  asc: Boolean, nullsFirst: Boolean, limit: Int,
                                  intBounds: Option[Boolean] = None)
      : Option[Array[(Int, Int)]] = {
    require(limit > 0, s"pushed top-n limit must be positive, got $limit")
    val isInt = topNIsInt(column, intBounds)
    // int bounds as longs, string bounds as UTF8String (Spark's order)
    val ord: Ordering[Any] =
      if (isInt) Ordering.Long.asInstanceOf[Ordering[Any]]
      else (a: Any, b: Any) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    val dir = if (asc) ord else ord.reverse
    def lo(s: SnapshotStore.ColumnStats): Option[Any] = if (isInt) s.min else s.strMin.map(u8)
    def hi(s: SnapshotStore.ColumnStats): Option[Any] = if (isInt) s.max else s.strMax.map(u8)
    def unit[K](key: K, rows: Long, so: Option[SnapshotStore.ColumnStats]) = TopNUnit(key,
      so.flatMap(s => if (asc) lo(s) else hi(s)), so.flatMap(s => if (asc) hi(s) else lo(s)),
      so.fold(0L)(s => if (nullsFirst) rows else rows - s.nNulls), so.forall(_.nNulls > 0))
    val parts = topNPrefix(entries.map(e =>
        unit(e, e.nRows, e.stats.flatMap(_.columns.get(column)))), dir, nullsFirst, limit)
      .getOrElse(entries)
    topNPrefix(groupsOf(settings, root, parts).map(g =>
        unit((g.partId, g.seq), g.rows, g.columns.get(column))), dir, nullsFirst, limit)
      .map(_.toArray)
  }

  private def topNIsInt(column: String, intBounds: Option[Boolean]): Boolean =
    // webtext callers omit intBounds (derived from the fixed schema);
    // generalized-schema callers pass the column's kind explicitly
    intBounds.getOrElse {
      require(TopNColumns(column),
        s"top-n planning needs a metadata-bounded column ($TopNColumns), got $column")
      column == "warc_ts"
    }

  /**
   * Decode ONLY the pages that can satisfy `predicates`: block groups whose
   * metadata (block_min/block_max for warc_ts, block_str_min/max/dict for string
   * columns) excludes every predicate value are pruned BEFORE decompression —
   * the north-star "predicate-push onto dictionary and FoR metadata" surfaced on
   * the decoded-view API users actually write. The predicates' exact row forms
   * ([[rowCond]]) push into the V2 scan, which plans the surviving groups from
   * one pinned manifest read and evaluates each filter exactly, itself or as a
   * Spark residual, so results equal `decode(...).filter(...)`.
   */
  def decodeWhere(spark: SparkSession, root: String,
                  predicates: Seq[BlockPredicate]): Dataset[WebPage] = {
    if (predicates.isEmpty) return decode(spark, root) // no filter = plain decode
    requireValidPredicates(predicates, None)
    decode(spark, root).where(predicates.map(rowCond).reduce(_ && _))
  }

  /**
   * Projected AND predicate-pushed decode — the everyday read shape ("url, lang
   * where lang = 'en' and warc_ts in range"): block groups prune via metadata
   * ([[decodeWhere]]), the scan reads only the blocks of `wanted` and the
   * predicate columns, which are dropped after the exact filter. Output schema
   * follows [[decodeColumns]] (warc_ts as epoch-micros LongType, html as
   * BinaryType).
   */
  def decodeColumnsWhere(spark: SparkSession, root: String, wanted: Seq[String],
                         predicates: Seq[BlockPredicate]): org.apache.spark.sql.DataFrame = {
    requireColumns(wanted)
    if (predicates.isEmpty) return decodeColumns(spark, root, wanted) // projection-only
    requireValidPredicates(predicates, None)
    projected(decode(spark, root).where(predicates.map(rowCond).reduce(_ && _)), wanted)
  }

  /**
   * Metadata-only aggregate fast path — the classic snapshot-store trick:
   * `count(*)` comes from the manifest's per-part `nRows` (pure driver
   * arithmetic, zero file IO) and `min/max(warc_ts)` from the block min/max
   * metadata columns (a column-pruned footer scan that NEVER touches the
   * multi-MB `encoded` column — at 100 TB that is KBs of metadata instead of
   * decompressing every block). One row: (row_count, min_warc_ts_us,
   * max_warc_ts_us), micros so no timezone coupling. Exactness: every committed
   * block carries exact bounds over its non-null values, so min(block_min) /
   * max(block_max) equal the decoded min/max; nulls don't participate, matching
   * SQL aggregate semantics.
   */
  def statsFast(spark: SparkSession, root: String,
                snapshotId: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val entries = snapshotId match {
      case Some(id) => SnapshotStore.entriesAt(root, id)
      case None => requireStore(root); SnapshotStore.currentEntries(root)
    }
    val rowCount = entries.map(_.nRows).sum
    fromEntries(spark, root, entries) // same single manifest read as decode paths
      .where(col("column") === "warc_ts")
      .agg(min(col("block_min")).as("min_warc_ts_us"),
           max(col("block_max")).as("max_warc_ts_us"))
      .select(lit(rowCount).as("row_count"),
        col("min_warc_ts_us"), col("max_warc_ts_us"))
  }

  /** Time travel: decode the pages visible at a specific committed snapshot. */
  def decodeAt(spark: SparkSession, root: String, snapshotId: Long): Dataset[WebPage] = {
    requireWebtext(root)
    spark.read.format("graft").option("snapshotId", snapshotId).load(root)
      .as(Encoders.product[WebPage])
  }

  /** The pages of `partIds` in snapshot `snapshotId` — the CompactJob and
    * DeleteJob rewrite input. Callers choose the ids from
    * `SnapshotStore.entriesAt(root, snapshotId)`, so the choice and the read
    * come from one immutable manifest: a compaction committing in between
    * cannot re-home the chosen rows. The `_part_id` filter reaches the scan,
    * which plans only the files those parts' manifest lines name. The ids go in as
    * one `InSet` node: an `isin` of 100k literals costs ~4 s of driver
    * analysis, an `InSet` of them ~nothing. */
  private[graft] def decodePartsOf(spark: SparkSession, root: String,
      snapshotId: Long, partIds: Seq[Int]): Dataset[WebPage] =
    spark.read.format("graft").option("snapshotId", snapshotId).load(root)
      .where(Shim.column(InSet(Shim.expression(col("_part_id")), partIds.toSet[Any])))
      .as(Encoders.product[WebPage])

  private val PageColumns = Set("url", "warc_ts", "html", "text", "lang")

  private def requireColumns(wanted: Seq[String]): Unit = {
    require(wanted.nonEmpty, "no columns requested")
    require(wanted.forall(PageColumns), // fail fast: a typo'd name would silently yield nulls
      s"unknown columns ${wanted.filterNot(PageColumns)}; available: $PageColumns")
  }

  /** The requested page columns in request order, `warc_ts` as epoch micros. */
  private def projected(pages: Dataset[_], wanted: Seq[String]): org.apache.spark.sql.DataFrame =
    pages.select(wanted.map {
      case "warc_ts" => unix_micros(col("warc_ts")).as("warc_ts")
      case c => col(c)
    }: _*)

  /**
   * Projected decode: decode ONLY the requested columns. The V2 scan prunes
   * to these columns, so blocks of the others (e.g. multi-KB text/html blocks
   * when only url+lang are asked for) are never read: the block files'
   * footers address each column's blocks.
   *
   * Output schema: one field per requested column in request order — `warc_ts`
   * as nullable epoch-micros LongType, `html` as BinaryType (opaque bytes, no
   * UTF-8 re-interpretation), everything else StringType.
   */
  def decodeColumns(spark: SparkSession, root: String, wanted: Seq[String]): org.apache.spark.sql.DataFrame = {
    requireColumns(wanted)
    projected(decode(spark, root), wanted)
  }

  /** The rows a read actually returns, counted from its executed plan.
    * `count()` over a graft scan is answered from the manifest's row counts
    * (complete aggregate pushdown) without opening a block, so it cannot see
    * a read that drops or duplicates rows. */
  private[graft] def decodedRows(ds: Dataset[_]): Long = ds.queryExecution.toRdd.count()

  /**
   * Verify decoded pages against an original dataset: equi-join on url, compare every
   * column (text compared byte-exact). Returns mismatch count (0 == pass).
   * Decoded-side counts come from the executed read ([[decodedRows]]), never
   * from the manifest.
   */
  def verifyAgainst(original: Dataset[WebPage], decoded: Dataset[WebPage]): Long = {
    val o = original.toDF("url", "warc_ts", "html", "text", "lang")
    val d = decoded.toDF("url", "d_warc_ts", "d_html", "d_text", "d_lang")
    val oCnt = o.count()
    val dCnt = decodedRows(d)
    // PRECONDITION, enforced: url must be a unique non-null key of the
    // original (the synthetic corpus guarantees it). With duplicate urls the
    // equi-join cross-products same-url rows and reports mismatches on a
    // byte-perfect decode; with null urls rows silently never join.
    val oKeys = o.where(col("url").isNotNull).select(col("url")).distinct().count()
    require(oKeys == oCnt,
      s"verifyAgainst needs unique non-null urls in the original: " +
      s"$oCnt rows but $oKeys distinct non-null urls")
    // decoded-side DUPLICATES are invisible to the equi-join (every copy
    // matches) and can exactly offset a dropped row in the count delta —
    // count them directly (multiple decoded nulls land here too)
    // (an RDD distinct: a grouped count over the scan may be answered from
    // dictionary metadata)
    val dupDelta = dCnt - d.select(col("url")).rdd.map(_.getString(0)).distinct().count()
    // null-SAFE comparisons: `=!=` yields null (filtered out) when either side
    // is null, so a decoder regression that NULLS a column would pass silently
    val columnMismatches = o.join(d, Seq("url"), "full_outer")
      .where(
        !(col("d_text") <=> col("text")) ||
        !(col("d_lang") <=> col("lang")) ||
        !(col("d_warc_ts") <=> col("warc_ts")) ||
        !(col("d_html") <=> col("html")))
      .count()
    // the count delta catches dropped/extra rows (the double-decode failure
    // mode the live-part filtering exists to prevent); dupDelta covers the
    // drop+duplicate offset the delta misses
    columnMismatches + dupDelta + math.abs(oCnt - dCnt)
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.length > 0) args(0) else "/tmp/graft-store"
    val n = if (args.length > 1) args(1).toLong else -1L
    val spark = LocalSession.create("graft-decode")
    val decoded = decode(spark, root)
    // rows from the manifest: an extra full decode just to print a count
    // would double the timed runs' wall-clock on a large store
    val manifestRows = SnapshotStore.currentEntries(root).map(_.nRows).sum
    if (n >= 0) {
      val mismatches = verifyAgainst(graft.sources.Webtext.generate(spark, n, 32), decoded)
      println(s"decoded rows=$manifestRows mismatches=$mismatches")
      require(mismatches == 0L, s"$mismatches mismatching rows")
    } else {
      // min-of-3 timed decodes (first pays JIT) — the read-path number
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        decoded.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"decoded rows=$manifestRows decode_secs_min=${times.min}%.3f")
    }
    spark.stop()
  }
}

/** The [[BlockRow]]s of native block files ([[graft.sources.v2.BlockFile]]),
  * given as (path, manifest length, part id). One task reads a slice of the
  * files: each file's footer, and its blocks only when the scan selects
  * `encoded`. Filters on `column` (=, IN) are applied here, exactly, so the
  * rows of other columns never reach a filter Spark evaluates above. An
  * empty file list is an empty relation. */
private[graft] final case class NativeBlocksRelation(
    sqlContext: org.apache.spark.sql.SQLContext,
    files: Array[(String, Long, Int)],
    settings: graft.sources.v2.HadoopSettings)
    extends org.apache.spark.sql.sources.BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}

  override val schema: org.apache.spark.sql.types.StructType =
    Encoders.product[BlockRow].schema

  /** The columns a filter restricts `column` to, when this relation handles it. */
  private def columnsOf(f: Filter): Option[Set[String]] = f match {
    case EqualTo("column", v: String) => Some(Set(v))
    case In("column", vs) if vs.forall(_.isInstanceOf[String]) =>
      Some(vs.iterator.map(_.asInstanceOf[String]).toSet)
    case _ => None
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(columnsOf(_).isEmpty)

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val fields = requiredColumns.map(schema.fieldIndex)
    val withEncoded = requiredColumns.contains("encoded")
    val columns: Option[Set[String]] = filters.flatMap(columnsOf).reduceOption(_ intersect _)
    val s = settings
    val sc = sqlContext.sparkContext
    sc.parallelize(files.toSeq, math.max(1, math.min(files.length, sc.defaultParallelism)))
      .mapPartitions { it =>
        val conf = s.conf()
        it.flatMap { case (path, len, pid) =>
          graft.sources.v2.BlockFile.readAll(path, len, pid, conf, withEncoded,
              c => columns.forall(_(c))).iterator
            .map { b =>
              val all = b.productIterator.map {
                case o: Option[_] => o.getOrElse(null)
                case v => v
              }.toArray
              org.apache.spark.sql.Row.fromSeq(fields.map(all(_)).toSeq)
            }
        }
      }
  }
}
