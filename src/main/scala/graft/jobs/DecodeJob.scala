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
 * planned at the first action.
 */
object DecodeJob {

  /** The [[BlockRow]]s of `entries`' parts, read through
    * [[NativeBlocksRelation]]: each named file's footer, and its `encoded`
    * bytes only when the query selects that column, so the level-2 planning
    * jobs read footers alone. A part that names no file is refused
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

  /** Can a block with this metadata row contain a match? (null metadata => yes) */
  private def metaCond(p: BlockPredicate): org.apache.spark.sql.Column = p match {
    case StrEq(_, v) =>
      (col("block_str_min").isNull || col("block_str_min") <= v) &&
      (col("block_str_max").isNull || col("block_str_max") >= v) &&
      (col("block_str_dict").isNull || array_contains(col("block_str_dict"), v))
    case StrIn(_, vs) =>
      val arr = typedLit(vs)
      (col("block_str_min").isNull || col("block_str_min") <= array_max(arr)) &&
      (col("block_str_max").isNull || col("block_str_max") >= array_min(arr)) &&
      (col("block_str_dict").isNull || arrays_overlap(col("block_str_dict"), arr))
    case StrPrefix(_, p) =>
      // matches s satisfy p <= s < successor(p); a block overlaps that interval
      // iff max >= p and min < successor(p) (when the successor exists)
      (col("block_str_max").isNull || col("block_str_max") >= p) &&
      prefixSuccessor(p).map(succ =>
        col("block_str_min").isNull || col("block_str_min") < succ).getOrElse(lit(true)) &&
      (col("block_str_dict").isNull ||
        exists(col("block_str_dict"), v => v.startsWith(p)))
    case StrRange(_, lo, hi) =>
      hi.map(h => col("block_str_min").isNull || col("block_str_min") <= h)
        .getOrElse(lit(true)) &&
      lo.map(l => col("block_str_max").isNull || col("block_str_max") >= l)
        .getOrElse(lit(true)) &&
      (col("block_str_dict").isNull ||
        exists(col("block_str_dict"), v =>
          lo.map(v >= _).getOrElse(lit(true)) && hi.map(v <= _).getOrElse(lit(true))))
    case TsRange(lo, hi) =>
      (col("block_min").isNull || col("block_min") <= hi) &&
      (col("block_max").isNull || col("block_max") >= lo)
    case IntRange(_, lo, hi) =>
      (col("block_min").isNull || col("block_min") <= hi) &&
      (col("block_max").isNull || col("block_max") >= lo)
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
   * block_seq) that must be decoded. A column-pruned metadata-only scan
   * (block-file footers, never `encoded`), one key
   * DataFrame per predicate, intersected. Manifest-scale output.
   */
  def matchingGroupKeys(spark: SparkSession, root: String,
                        predicates: Seq[BlockPredicate]): org.apache.spark.sql.DataFrame =
    matchingKeysOf(blocks(spark, root), predicates)

  /** The parts of the PINNED `entries` that may hold a row matching all
    * `predicates` (every part when there are none) — the parts a
    * copy-on-write DELETE or MERGE rewrites. Level 1 first
    * ([[partsMayMatch]]); when every survivor is one block group with stats
    * the survivors are the answer and no Spark job runs, otherwise the
    * block-metadata job runs over the survivors only. Callers keep planning
    * AND the later rewrite/commit on ONE manifest read: deriving affected
    * parts from a re-read manifest while holding an older entry list lets a
    * concurrent compaction slip between the two, and a commit that then
    * tombstones parts it never rewrote is silent row loss. */
  private[graft] def affectedParts(spark: SparkSession, root: String,
      entries: Seq[SnapshotStore.PartEntry],
      predicates: Seq[BlockPredicate]): Set[Int] = {
    if (predicates.isEmpty || entries.isEmpty) return entries.map(_.partId).toSet
    requireValidPredicates(predicates, None)
    val survivors = partsMayMatch(entries, predicates)
    if (survivors.forall(_.stats.exists(_.nGroups == 1))) survivors.map(_.partId).toSet
    else {
      import spark.implicits._
      matchingKeysOf(fromEntries(spark, root, survivors), predicates)
        .select($"part_id").distinct().as[Int].collect().toSet
    }
  }

  private def matchingKeysOf(blocksDf: org.apache.spark.sql.DataFrame,
                             predicates: Seq[BlockPredicate],
                             allowed: Option[Set[String]] = None): org.apache.spark.sql.DataFrame = {
    requireValidPredicates(predicates, allowed)
    predicates.map { p =>
      blocksDf.where(col("column") === p.column && metaCond(p))
        .select(col("part_id"), col("block_seq"))
    }.reduce((a, c) => a.join(c, Seq("part_id", "block_seq")))
  }

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

  // ---------------- level 1: manifest part stats, on the driver ----------------

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  /** [[metaCond]] as a test of a part's rolled-up column stats (min of the
    * blocks' mins, max of their maxes, dict union) instead of one block's
    * metadata, with the same null-means-pass rule and Spark's string order
    * (UTF-8 bytes). A part passes whenever ANY of its blocks could, because
    * every part bound is no tighter than each block's — so level 1 never
    * prunes a part holding a block that [[metaCond]] keeps. Literals are
    * converted once per predicate: a runtime In-filter can carry thousands
    * of values and the test runs once per part. */
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

  /** Level-1 survivors: the parts whose manifest stats admit ALL predicates
    * (parts without stats, or without stats for a predicate's column, are
    * unbounded and always survive). */
  private[graft] def partsMayMatch(entries: Seq[SnapshotStore.PartEntry],
      predicates: Seq[BlockPredicate]): Seq[SnapshotStore.PartEntry] = {
    val tests = predicates.map(p => (p.column, statsTest(p)))
    entries.filter(e => tests.forall { case (c, t) =>
      e.stats.flatMap(_.columns.get(c)).forall(t) })
  }

  /** Level 1 is exact when every survivor is ONE block group with stats: its
    * part stats are then that group's block metadata, so the survivors'
    * `(part_id, 0)` are exactly the keys level 2 would collect — through the
    * same gate, with no Spark job. Otherwise `level2` (the block-metadata
    * job over the survivors only) plans the keys. */
  private def twoLevelKeys(survivors: Seq[SnapshotStore.PartEntry],
      totalGroupsEstimate: Long)(level2: => Option[Array[(Int, Int)]])
      : Option[Array[(Int, Int)]] =
    if (!survivors.forall(_.stats.exists(_.nGroups == 1))) level2
    else if (survivors.size > keyCollectThreshold(totalGroupsEstimate)) None
    else Some(survivors.iterator.map(e => (e.partId, 0)).toArray)

  /** One packed block-group key: `(part_id << 32) | block_seq` — the V2
    * scan's broadcast key format ([[graft.sources.v2.GraftDataSource]]); one
    * definition so sign/width handling (negative rehomed part ids!) cannot
    * diverge between the planner and the reader. */
  private[graft] def packKey(pid: Int, seq: Int): Long =
    (pid.toLong << 32) | (seq.toLong & 0xffffffffL)

  /**
   * Driver-side key-collect ceiling: above this many surviving groups the
   * predicate simply is not selective and Iceberg-style manifest planning stops
   * paying — the collect itself (and the broadcast built from it) becomes the
   * bottleneck. `private[jobs]` var so tests can force the ungated branch.
   */
  private[graft] var MaxPrunedKeyCollect = 1000000

  /** Fraction of total groups above which pruning is skipped: past half the
    * groups the key filters buy little IO (survivors sit in ~every file) while
    * the metadata collect and the pushed In-lists still cost; below it pruning
    * at least halves the decode. The driver-memory guard is the ABSOLUTE
    * [[MaxPrunedKeyCollect]] cap — this fraction is purely a break-even
    * heuristic, so it must not gate small stores where a 50%-selective
    * predicate still meaningfully prunes. `private[graft] var` so tests can
    * widen it: exercising the many-thousand-key pruning path at test scale
    * needs the heuristic (not the mechanism) out of the way. */
  private[graft] var PruneFractionCutoff = 0.5

  /** Total block groups from the manifest alone — zero file IO: each part's
    * stats carry its exact `n_groups`. A part committed without stats counts
    * ceil(nRows/BlockSize), which UNDER-estimates parts whose fat-row blocks
    * flushed on the byte bound and so only tightens the gate's fraction
    * threshold (less pruning, never wrong results). */
  private[graft] def estimatedGroups(entries: Seq[SnapshotStore.PartEntry]): Long =
    entries.map { e =>
      e.stats.map(_.nGroups.toLong).filter(_ > 0)
        .getOrElse(math.max(1L, (e.nRows + EncodeJob.BlockSize - 1) / EncodeJob.BlockSize))
    }.sum

  /**
   * GATED two-level planning of the pruned-group key set over ONE pinned
   * manifest read (`entries`). Level 1 runs on the driver: each part's
   * manifest stats ([[SnapshotStore.PartStats]]) are tested against every
   * predicate ([[partsMayMatch]]), and when every survivor is a single block
   * group the survivors ARE the keys — no Spark job. Otherwise level 2 runs
   * the column-pruned block-metadata job over the surviving parts only (parts
   * committed without stats always survive, so pre-stats stores plan exactly
   * as before). Either way the keys pass one gate: the store is sized from
   * the MANIFEST, and past min([[MaxPrunedKeyCollect]],
   * [[PruneFractionCutoff]]·total) surviving groups the caller gets None and
   * falls back to decode-everything + exact filter — identical rows by
   * construction, no unbounded driver collect at any table size.
   */
  private[graft] def planPrunedKeys(spark: SparkSession, root: String,
                                    entries: Seq[SnapshotStore.PartEntry],
                                    predicates: Seq[BlockPredicate],
                                    allowed: Option[Set[String]] = None): Option[Array[(Int, Int)]] = {
    requireValidPredicates(predicates, allowed)
    val survivors = partsMayMatch(entries, predicates)
    val total = estimatedGroups(entries)
    twoLevelKeys(survivors, total)(gatedKeyCollect(
      matchingKeysOf(fromEntries(spark, root, survivors), predicates, allowed),
      keyCollectThreshold(total)))
  }

  /** Surviving-group ceiling of the ONE driver-collect gate shared by every
    * group-key planner ([[planPrunedKeys]], [[planTopNKeys]], both levels):
    * min([[MaxPrunedKeyCollect]], [[PruneFractionCutoff]]·total). Shared so a
    * future tuning cannot give the planners different pruning ceilings. */
  private def keyCollectThreshold(totalGroupsEstimate: Long): Int =
    math.min(MaxPrunedKeyCollect.toLong,
      math.max(1L, (totalGroupsEstimate * PruneFractionCutoff).toLong)).toInt

  /** Level-2 collect: `take(threshold + 1)` so a non-selective plan never
    * materializes an unbounded key list; None past the threshold. */
  private def gatedKeyCollect(survivors: org.apache.spark.sql.DataFrame,
                              threshold: Int): Option[Array[(Int, Int)]] = {
    val spark = survivors.sparkSession
    import spark.implicits._
    val keys = survivors.select($"part_id", $"block_seq").as[(Int, Int)]
      .take(threshold + 1)
    if (keys.length > threshold) None else Some(keys)
  }

  /** The webtext columns a pushed top-n can plan a prefix over: url via the
    * string bounds, warc_ts via the exact int block_min/max. Generalized
    * schemas derive the set from their column types instead
    * ([[graft.sources.v2.GraftScanBuilder.pushTopN]]). */
  private[graft] val TopNColumns = Set("url", "warc_ts")

  /**
   * ORDER BY <column> LIMIT n planning for a metadata-bounded column (`url`
   * via block_str_min/max, `warc_ts` via the exact int block_min/max): the
   * (part_id, block_seq) groups that can contain a row of the global
   * top-`limit` under the given ordering — an ordered PREFIX of the store's
   * groups, found from metadata alone. Sound with nulls: groups that may
   * hold nulls (`n_nulls` > 0, or unknown on stores written before that column
   * existed) always survive when nulls sort first, and never count toward the
   * prefix quota when nulls sort last (their null rows cannot push a non-null
   * row out of the top-n).
   *
   * Two levels, like [[planPrunedKeys]]: level 1 runs the prefix search below
   * over the manifest's part stats on the driver and keeps the parts that can
   * reach the prefix; if they are all single-group parts with stats those are
   * the keys, else level 2 runs the same search over the survivors' block
   * metadata ([[topNKeysOf]]). The part-level threshold is never below the
   * block-level one (a part's far bound bounds all its blocks'), so level 1
   * only drops parts level 2 would drop too. None (caller scans everything —
   * always sound) when the quota is unreachable from bounded groups, the
   * threshold search exceeds [[MaxPrunedKeyCollect]] groups, or the survivor
   * set exceeds the collect gate.
   */
  private[graft] def planTopNKeys(spark: SparkSession, root: String,
                                  entries: Seq[SnapshotStore.PartEntry],
                                  column: String,
                                  asc: Boolean, nullsFirst: Boolean, limit: Int,
                                  intBounds: Option[Boolean] = None): Option[Array[(Int, Int)]] = {
    require(limit > 0, s"pushed top-n limit must be positive, got $limit")
    val isTs = topNIsInt(column, intBounds)
    // a part's near and far bound in the query's order (None = unbounded):
    // min/max for ASC, max/min for DESC, over the column's int or string stats
    val ord: Ordering[Any] =
      if (isTs) Ordering.Long.asInstanceOf[Ordering[Any]]
      else Ordering.by[Any, UTF8String](v => u8(v.asInstanceOf[String]))
    val dir = if (asc) ord else ord.reverse
    def lo(s: SnapshotStore.ColumnStats): Option[Any] = if (isTs) s.min else s.strMin
    def hi(s: SnapshotStore.ColumnStats): Option[Any] = if (isTs) s.max else s.strMax
    def near(s: SnapshotStore.ColumnStats) = if (asc) lo(s) else hi(s)
    def far(s: SnapshotStore.ColumnStats) = if (asc) hi(s) else lo(s)
    val colStats = entries.map(e => e -> e.stats.flatMap(_.columns.get(column)))
    // a part's rows guaranteed to sort within the prefix ending at its far
    // bound (see topNKeysOf); part stats always carry the exact null count
    val ordered = colStats.iterator.flatMap { case (e, so) =>
      so.flatMap(s => far(s).map(_ -> (if (nullsFirst) e.nRows else e.nRows - s.nNulls)))
    }.toSeq.sortBy(_._1)(dir)
    var u: Any = null
    var acc = 0L
    val it = ordered.iterator.take(MaxPrunedKeyCollect)
    while (u == null && it.hasNext) {
      val (b, c) = it.next()
      acc += c
      if (acc >= limit) u = b
    }
    val survivors =
      if (u == null) entries // quota unreachable from part stats: level 2 decides
      else colStats.collect {
        case (e, so) if so.flatMap(near).forall(dir.lteq(_, u)) ||
            (nullsFirst && so.forall(_.nNulls > 0)) => e
      }
    val total = estimatedGroups(entries)
    twoLevelKeys(survivors, total)(topNKeysOf(fromEntries(spark, root, survivors),
      column, asc, nullsFirst, limit, total, Some(isTs)))
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
   * Level 2 of [[planTopNKeys]] over a blocks scan. Mechanics: a DISTRIBUTED
   * sort of the manifest-scale block metadata by the prefix-establishing
   * bound (far bound: max for ASC, min for DESC — a group's rows are all
   * within the prefix ending at its far bound); the driver streams the sorted
   * pairs partition-by-partition (`toLocalIterator`, so only the needed prefix
   * is ever fetched) until the guaranteed-in-prefix row count reaches
   * `limit`, yielding the threshold value `u`; survivors are then collected
   * through the planners' shared gate.
   */
  private[graft] def topNKeysOf(blocksDf: org.apache.spark.sql.DataFrame,
                                column: String,
                                asc: Boolean, nullsFirst: Boolean, limit: Int,
                                totalGroupsEstimate: Long,
                                intBounds: Option[Boolean] = None): Option[Array[(Int, Int)]] = {
    val isTs = topNIsInt(column, intBounds)
    val spark = blocksDf.sparkSession
    import spark.implicits._
    val nn = if (blocksDf.columns.contains("n_nulls")) col("n_nulls").cast("long")
             else lit(null).cast("long") // pre-n_nulls store: nulls unknown
    val (mnCol, mxCol) =
      if (isTs) (col("block_min"), col("block_max"))
      else (col("block_str_min"), col("block_str_max"))
    val meta = blocksDf.where(col("column") === column)
      .select(col("part_id"), col("block_seq"), col("n").cast("long").as("n"),
        mnCol.as("mn"), mxCol.as("mx"), nn.as("nn"))
    // rows of a group GUARANTEED to sort within the prefix ending at its own
    // far bound: all n when nulls sort first (any null precedes everything),
    // else only its known-non-null rows (unknown null count -> contributes 0)
    val countable =
      if (nullsFirst) col("n")
      else when(col("nn").isNotNull, col("n") - col("nn")).otherwise(lit(0L))
    val boundCol = if (asc) col("mx") else col("mn")
    val ordered = meta.where(boundCol.isNotNull)
      .select(boundCol.as("b"), countable.as("c"))
      .sort(if (asc) col("b").asc else col("b").desc)
    var u: Any = null
    var acc = 0L
    var pulled = 0L
    val it = ordered.toLocalIterator()
    while (u == null && it.hasNext && pulled < MaxPrunedKeyCollect) {
      val r = it.next(); pulled += 1
      acc += r.getLong(1)
      if (acc >= limit) u = r.get(0)
    }
    if (u == null) return None
    // a group survives when it may contain a non-null row within the prefix
    // (near bound unknown or within u) — or any null row, when nulls sort first
    val within =
      if (asc) col("mn").isNull || col("mn") <= lit(u)
      else col("mx").isNull || col("mx") >= lit(u)
    val survivor = if (nullsFirst) within || col("nn").isNull || col("nn") > 0 else within
    gatedKeyCollect(meta.where(survivor), keyCollectThreshold(totalGroupsEstimate))
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
