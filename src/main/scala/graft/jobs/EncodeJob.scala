package graft.jobs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{DirectShufflePartitionID, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{IntBlockCodec, StringBlockCodec}
import graft.core.PhysicalIntType
import graft.sources.{SnapshotStore, WebPage, Webtext}
import graft.sources.v2.{GraftDataWriter, GraftWriteLayout, GraftWriterCommitMessage, HadoopSettings}
import graft.sources.v2.GraftDataSource.PageSchema

/**
 * One encoded block of one column of one work unit, with pruning metadata:
 *  - `block_min`/`block_max`: value bounds of integer blocks (None when the block
 *    holds no non-null value)
 *  - `block_dict`: all distinct values when cardinality <= 256 (dictionary metadata;
 *    None otherwise)
 *  - `block_str_min`/`block_str_max`: bounds for text-typed string blocks, emitted
 *    only when the bound string is <= 64 chars (None = no bound; truncating a max
 *    would be unsound)
 *  - `block_str_dict`: distinct strings when cardinality <= 64 (e.g. `lang`)
 *  - `n_nulls`: EXACT count of null values in the block — string bounds say
 *    nothing about nulls (they are computed over non-null values only), so
 *    order-sensitive planning (the V2 ORDER BY url LIMIT n group-prefix
 *    pruning) needs this to know whether a group can contribute null rows.
 *    Stores written before this column existed read it as null = unknown,
 *    which every consumer must treat as "may contain nulls" (sound).
 * [[graft.plans.BlockMinMaxPruneRule]] conjoins these onto decode filters so
 * blocks are skipped by their metadata before any decompression.
 */
final case class BlockRow(
    part_id: Int,
    block_seq: Int,
    column: String,
    typ: String,
    codec: String,
    n: Int,
    n_nulls: Int,
    block_min: Option[Long],
    block_max: Option[Long],
    // exact sum of the block's non-null values (int family only): what makes
    // `SELECT sum(col)` answerable from metadata. None for string blocks, for
    // all-null blocks, and when the block's own sum overflows a signed 64-bit
    // (the pushdown then declines — sound; Spark computes with its own
    // overflow semantics). Stores written before this column read it as
    // null = sum unknown (decline)
    block_sum: Option[Long],
    block_dict: Option[Array[Long]],
    block_str_min: Option[String],
    block_str_max: Option[String],
    block_str_dict: Option[Array[String]],
    // per-dict-value occurrence counts, aligned with block_str_dict: what
    // makes grouped aggregates (`SELECT lang, count(*) GROUP BY lang`)
    // answerable from metadata alone. None whenever block_str_dict is None;
    // stores written before this column read it as null = counts unknown
    // (grouped pushdown then declines — sound)
    block_str_dict_counts: Option[Array[Long]],
    orig_bytes: Long,
    enc_bytes: Long,
    encoded: Array[Byte])

/**
 * Columnar encode job (SURVEY.md §3.4 lifecycle):
 *
 *  1. PLAN    — read input snapshot; keep only pending work units, a narrow
 *               `part_id IN (…)` filter against the committed part manifest
 *               (resume from last checkpoint, north_rule).
 *  2. PARTITION — explicit range partitioning on `url` via deterministic sampled
 *               boundaries persisted next to the store (same work units on re-run),
 *               then a pass-through exchange: each task owns exactly one part.
 *  3. ENCODE  — each task sorts its part on url and runs the V2 writer's task
 *               kernel ([[graft.sources.v2.GraftDataWriter]] over [[BlockEncoder]]):
 *               per column slice, stats → codec auto-choice → self-describing block
 *               rows, written to the task's own staged block file while
 *               [[PartRollup]] folds the part's manifest entry. Single pass,
 *               bounded memory (64Ki rows per block).
 *  4. COMMIT  — the driver collects one (file, entry) per task, promotes exactly
 *               those files, and swaps the manifest atomically. Each commit is a
 *               checkpoint.
 *
 * Scale notes: the only wide exchange is the one by part id; encode, file write
 * and lineage/stats rollup all happen in the writing task, so no job runs after
 * the write. Work units are a pure function of (url, boundaries), so skew in
 * `lang`/`host` cannot skew tasks — urls are ~unique. Group-level skew is
 * handled where grouping happens (salted two-phase rollups in metrics queries).
 */
object EncodeJob {

  val BlockSize = 65536

  /**
   * Byte bound on one buffered block: 64Ki fat rows (multi-KB web pages) would
   * otherwise hold 100s of MB per in-flight task — 32 concurrent tasks × that is
   * an executor OOM at real page sizes. Blocks flush at whichever bound hits
   * first; the formats are self-describing, so variable block sizes cost nothing.
   */
  val MaxBlockBytes: Long = 64L << 20

  // ---------------- range boundaries (deterministic, persisted) ----------------

  /**
   * ONE-pass (row count, partition count, range boundaries): the store's one
   * url sampler, behind the batch job, compaction, delete and the V2
   * write-arrange rule. The count rides in the same pass, so no separate
   * `count()` job computes the input a second time.
   *
   * Per partition: exact row count + a deterministic uniform reservoir of
   * SAMPLEABLE urls. Null, empty and newline-holding urls never become split
   * points (they still bucket fine as data): a null buckets as "" (always
   * part 0), a "" boundary vanishes in the persisted file's split/filter
   * round-trip, and an embedded newline splits into two bogus boundaries, so
   * a resumed run would re-bucket rows under a different layout than the one
   * committed. Driver side: the caller's sizing function turns the exact
   * total into the partition count, then boundaries are weighted quantiles
   * over the merged reservoirs (each sampled url stands for
   * eligible_i/|sample_i| rows — the public RangePartitioner scheme).
   * Deterministic for a given input partitioning: the reservoir PRNG is
   * seeded per partition index.
   */
  def countAndUrlBoundaries(urls: Dataset[String],
                            partsFor: Long => Int): (Long, Int, Array[String]) = {
    val rdd = urls.rdd
    // driver-collect bound (review finding): a many-thousand-partition input
    // must not collect 4096 urls PER partition — scale the per-partition
    // reservoir so the total candidate collect stays ~2^18 strings at any
    // width, with a floor so every partition still contributes weighted
    // candidates
    val ReservoirPerPartition =
      math.max(16, math.min(4096, (1 << 18) / math.max(1, rdd.getNumPartitions)))
    val partials = rdd.mapPartitionsWithIndex { (idx, it) =>
      val rng = new java.util.Random(scala.util.hashing.byteswap32(idx).toLong)
      val res = new Array[String](ReservoirPerPartition)
      var total = 0L
      var eligible = 0L
      while (it.hasNext) {
        val u = it.next()
        total += 1
        if (u != null && u.nonEmpty && u.indexOf('\n') < 0) {
          if (eligible < ReservoirPerPartition) res(eligible.toInt) = u
          else {
            val j = (rng.nextDouble() * (eligible + 1).toDouble).toLong
            if (j < ReservoirPerPartition) res(j.toInt) = u
          }
          eligible += 1
        }
      }
      Iterator.single((total, eligible,
        java.util.Arrays.copyOf(res, math.min(eligible, ReservoirPerPartition.toLong).toInt)))
    }.collect()
    val total = partials.iterator.map(_._1).sum
    val parts = partsFor(total)
    val eligibleTotal = partials.iterator.map(_._2).sum
    if (parts <= 1 || eligibleTotal == 0) return (total, parts, Array.empty)
    // weighted candidates, sorted by url (the String ordering RangeBucketId
    // mirrors)
    val candidates = new scala.collection.mutable.ArrayBuffer[(String, Double)](
      partials.iterator.map(_._3.length).sum)
    partials.foreach { case (_, elig, sample) =>
      if (sample.nonEmpty) {
        val w = elig.toDouble / sample.length
        sample.foreach(u => candidates += ((u, w)))
      }
    }
    (total, parts, weightedQuantiles(candidates.sortBy(_._1).toArray,
      eligibleTotal.toDouble, parts))
  }

  /** The `parts - 1` weighted quantiles of url-sorted (url, weight)
    * candidates: for each target `j * total / parts`, the first candidate
    * whose cumulative weight reaches it. A heavy candidate can cross several
    * targets at once; all of them are consumed by that one boundary, so the
    * next boundary lands at the next unreached quantile instead of on the
    * following candidates (which would bunch boundaries and leave the last
    * bucket holding the rest). Equal urls yield one boundary. */
  private[graft] def weightedQuantiles(sorted: Array[(String, Double)], total: Double,
                                       parts: Int): Array[String] = {
    val step = total / parts
    val bounds = new scala.collection.mutable.ArrayBuffer[String](math.max(parts - 1, 0))
    var cum = 0.0
    var j = 1 // next unreached quantile: target j * step, j < parts
    var last: String = null
    var i = 0
    while (i < sorted.length && j < parts) {
      cum += sorted(i)._2
      if (cum >= j * step) {
        val u = sorted(i)._1
        if (last == null || u.compareTo(last) > 0) { bounds += u; last = u }
        while (j < parts && cum >= j * step) j += 1
      }
      i += 1
    }
    bounds.toArray
  }

  /** The `parts - 1` url range boundaries of `urls` (see
    * [[countAndUrlBoundaries]]): the sampler behind the batch job, compaction
    * and delete. */
  def computeUrlBoundaries(urls: Dataset[String], parts: Int): Array[String] =
    countAndUrlBoundaries(urls, _ => parts)._3

  def loadOrCreateBoundaries(root: String, pages: Dataset[WebPage], parts: Int): Array[String] = {
    val p = Paths.get(root, "BOUNDARIES")
    if (!Files.exists(p)) {
      // Assumes deterministic upstream row order: the reservoir is seeded per
      // input partition index, so the same input yields the same boundaries
      // only when each partition delivers its rows in a fixed order (a file
      // scan does; rows fresh out of a shuffle need not). Other orders only
      // move split points — any boundaries bucket every row — and resume
      // reads the persisted file, so this bears on reproducibility only.
      val spark = pages.sparkSession
      import spark.implicits._
      val bs = computeUrlBoundaries(pages.select($"url").as[String], parts)
      SnapshotStore.writeSidecar(root, "BOUNDARIES", bs.mkString("\n"))
    }
    // a fresh run returns what a RESUMED run will parse back, not the
    // in-memory array: create and resume must bucket identically or the
    // resume filter drops/duplicates rows
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
  }

  /** part_id = range bucket of url (pure function of url + persisted boundaries).
    * Single source of truth: [[graft.functions.RangeBucketId.bucket]] — the same
    * search the codegen'd expression runs, so the invariant cannot drift. */
  def partIdFor(url: String, boundaries: Array[String]): Int =
    graft.functions.RangeBucketId.bucket(boundaries, url)

  // ---------------- encode kernel ----------------

  /** Max distinct values stored as dictionary metadata per block. */
  val IntDictCap = 256
  val StrDictCap = 64
  /** Max chars for a stored string bound (a truncated max would be unsound). */
  val StrBoundMaxLen = 64

  /** One string/binary column's buffered values -> encoded BlockRow with
    * bounds/dict/count metadata. `textual` = UTF-8 string columns where that
    * metadata is meaningful; opaque binary gets none (converting it to String
    * would be unsound). Shared by the webtext kernel and the generalized
    * schema-driven V2 writer. */
  private[graft] def strBlockRow(partId: Int, seq: Int, name: String,
      vs: java.util.ArrayList[Array[Byte]], textual: Boolean): BlockRow = {
    val arr = vs.toArray(new Array[Array[Byte]](vs.size))
    val enc = StringBlockCodec.encode(arr)
    var orig = 0L
    var nulls = 0
    arr.foreach(v => if (v != null) orig += v.length else nulls += 1)

    var mn: Array[Byte] = null
    var mx: Array[Byte] = null
    // TreeMap value -> occurrence count: the counts are the dict metadata
    // that lets grouped aggregates answer from blocks without decoding
    var dict: java.util.TreeMap[String, Long] =
      if (textual) new java.util.TreeMap[String, Long]() else null
    if (textual) {
      var i = 0
      while (i < arr.length) {
        val v = arr(i)
        if (v != null) {
          if (mn == null || java.util.Arrays.compareUnsigned(v, mn) < 0) mn = v
          if (mx == null || java.util.Arrays.compareUnsigned(v, mx) > 0) mx = v
          // dict metadata is for short low-cardinality columns (lang); a long
          // value disqualifies the block and stops the per-value String copies
          if (dict != null) {
            if (v.length > 128 || dict.size > StrDictCap) dict = null
            else dict.merge(new String(v, StandardCharsets.UTF_8), 1L, (a, b) => a + b)
          }
        }
        i += 1
      }
    }
    def bound(v: Array[Byte]): Option[String] =
      if (v == null) None
      else {
        val s = new String(v, StandardCharsets.UTF_8)
        if (s.length <= StrBoundMaxLen) Some(s) else None
      }
    val (strDict, strDictCounts) =
      if (dict != null && dict.size <= StrDictCap && mn != null) {
        val ds = new Array[String](dict.size)
        val cs = new Array[Long](dict.size)
        val it = dict.entrySet().iterator()
        var j = 0
        while (it.hasNext) { val e = it.next(); ds(j) = e.getKey; cs(j) = e.getValue; j += 1 }
        (Some(ds), Some(cs))
      } else (None, None)

    BlockRow(partId, seq, name, "str", StringBlockCodec.codecName(enc), arr.length,
      nulls, None, None, None, None, bound(mn), bound(mx), strDict, strDictCounts,
      orig, enc.length.toLong, enc)
  }

  /** One integer-family column's buffered values (epoch-micros timestamps,
    * longs, ints, ...) -> encoded BlockRow with exact min/max + dict metadata.
    * Values ride as Long regardless of width; `t` picks the physical codec
    * family and the original-bytes accounting. */
  private[graft] def intBlockRow(partId: Int, seq: Int, name: String,
      vals: Array[Long], valid: Array[Boolean], n: Int,
      t: PhysicalIntType): BlockRow = {
    val slice = java.util.Arrays.copyOf(vals, n)
    val validSlice = java.util.Arrays.copyOf(valid, n)
    val enc = IntBlockCodec.encodeNullable(slice, validSlice, t)
    var mn = Long.MaxValue; var mx = Long.MinValue
    var any = false
    var validN = 0
    var sum = 0L
    var sumOk = true // a block whose own sum overflows i64 carries no sum
    val distinct = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) {
      if (valid(i)) {
        val v = vals(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (sumOk) {
          try sum = Math.addExact(sum, v)
          catch { case _: ArithmeticException => sumOk = false }
        }
        any = true
        validN += 1
        if (distinct.size <= IntDictCap) distinct.add(v)
      }
      i += 1
    }
    val intDict =
      if (any && distinct.size <= IntDictCap) {
        val out = new Array[Long](distinct.size)
        val it = distinct.iterator()
        var j = 0
        while (it.hasNext) { out(j) = it.next(); j += 1 }
        Some(out)
      } else None
    BlockRow(partId, seq, name, t.name, IntBlockCodec.info(enc).codecName, n,
      n - validN,
      if (any) Some(mn) else None, if (any) Some(mx) else None,
      if (any && sumOk) Some(sum) else None, intDict,
      None, None, None, None, n.toLong * (t.width / 8), enc.length.toLong, enc)
  }

  /** Kernel row: raw UTF-8 bytes and epoch micros (+ validity for null warc_ts),
    * nulls as null arrays (null != ""). */
  type EncRow = (Int, Array[Byte], Long, Boolean, Array[Byte], Array[Byte], Array[Byte])

  /** The [[BlockEncoder]] over rows sorted by (part_id, url): each part's
    * blocks number from 0, and a block never spans two parts. */
  def encodePartition(rows: Iterator[EncRow],
                      maxBlockBytes: Long = MaxBlockBytes): Iterator[BlockRow] = new Iterator[BlockRow] {
    private val out = new java.util.ArrayDeque[BlockRow]()
    private var enc: BlockEncoder = _
    private var curPart = 0
    private val row = new GenericInternalRow(5)

    @inline private def utf8(bs: Array[Byte]): UTF8String =
      if (bs == null) null else UTF8String.fromBytes(bs)

    override def hasNext: Boolean = {
      while (out.isEmpty && rows.hasNext) {
        val (pid, url, tsUs, tsOk, html, text, lang) = rows.next()
        if (enc == null || pid != curPart) {
          if (enc != null) enc.flush()
          enc = new BlockEncoder(PageSchema, pid, maxBlockBytes)(out.add(_))
          curPart = pid
        }
        row.update(0, utf8(url))
        row.update(1, if (tsOk) tsUs else null)
        row.update(2, html)
        row.update(3, utf8(text))
        row.update(4, utf8(lang))
        enc.add(row)
      }
      if (out.isEmpty && enc != null) { enc.flush(); enc = null }
      !out.isEmpty
    }
    override def next(): BlockRow = { if (!hasNext) throw new NoSuchElementException; out.poll() }
  }

  // ---------------- job ----------------

  final case class RunResult(snapshotId: Long, partsEncoded: Int, nRows: Long,
      origBytes: Long, encBytes: Long, jobSecs: Double)

  /** Narrow pre-shuffle projection with codegen'd range-bucket part ids and
    * the store's page columns, no case-class re-materialization (a Scala UDF
    * here broke whole-stage codegen). */
  def withPartIds(pages: DataFrame, boundaries: Array[String], offset: Int): DataFrame = {
    val partIdCol = Shim.column(
      graft.functions.RangeBucketId(Shim.expression(col("url")), boundaries, offset))
    pages.select(partIdCol.as("part_id"), col("url"),
      col("warc_ts").cast("timestamp").as("warc_ts"),
      col("html"), col("text"), col("lang"))
  }

  /**
   * Shuffle-once encode of a prepared narrow frame (part_id, url, warc_ts, html,
   * text, lang) into a fresh STAGED data dir plus per-part lineage entries —
   * no commit; callers commit (append for waves, replace for compaction).
   * The frame's part ids must lie within `numParts` consecutive ids: a task's
   * partition index is its part id mod `numParts`, so each task writes exactly
   * one part (ids missing from the window leave empty tasks).
   * Returns (relative data dir, entries, seconds in the distributed write).
   */
  def stageEncode(spark: SparkSession, prepared: DataFrame, numParts: Int,
                  root: String,
                  maxBlockBytes: Long = MaxBlockBytes): (String, Seq[SnapshotStore.PartEntry], Double) = {
    val width = math.max(numParts, 1)
    val slot = Shim.column(DirectShufflePartitionID(
      Shim.expression(pmod(col("part_id"), lit(width)))))
    val rows = prepared.repartition(width, slot).sortWithinPartitions(col("url"))
      .select((PageSchema.fieldNames.map(col) :+ col("part_id")).toIndexedSeq: _*)
    val (relDir, absDir) = SnapshotStore.newDataDir(root)
    val settings = HadoopSettings(spark)
    val jt0 = System.nanoTime()
    val msgs = rows.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      encodeTask(absDir, settings, maxBlockBytes, i, TaskContext.get().taskAttemptId(), it)
    }.collect()
    val secs = (System.nanoTime() - jt0) / 1e9
    GraftWriteLayout.publish(absDir, msgs)
    (relDir, GraftWriteLayout.entriesFrom(msgs, relDir), secs)
  }

  /** Ordinal of `part_id` in [[stageEncode]]'s task rows, after the page columns. */
  private val PartIdOrdinal = PageSchema.length

  /** One [[stageEncode]] task: its url-sorted rows (the page columns, then
    * `part_id`) all belong to one part and go through the V2 writer's task
    * kernel into one staged file. Returns that file's commit message, or
    * nothing for an empty task. A failed attempt deletes its staging; an
    * attempt whose result the driver drops never becomes readable, because
    * only the driver promotes staged files. */
  private[graft] def encodeTask(absDir: String, settings: HadoopSettings,
      maxBlockBytes: Long, partitionId: Int, attemptId: Long,
      rows: Iterator[InternalRow]): Iterator[GraftWriterCommitMessage] = {
    if (!rows.hasNext) return Iterator.empty
    val first = rows.next()
    val partId = first.getInt(PartIdOrdinal)
    val w = new GraftDataWriter(absDir, partId, attemptId,
      settings, PageSchema, maxBlockBytes)
    try {
      w.write(first)
      // a frame whose ids span more than `numParts` would mix parts here
      rows.foreach { r =>
        require(r.getInt(PartIdOrdinal) == partId,
          s"encode task $partitionId got parts $partId and ${r.getInt(PartIdOrdinal)}: " +
          "the frame's part ids must lie within numParts consecutive ids")
        w.write(r)
      }
      Iterator.single(w.commit())
    } catch {
      case t: Throwable => w.abort(); throw t
    } finally w.close()
  }

  /**
   * Encode all pending work units. `waves` splits the part range into that many
   * commit groups — each wave is one Spark job ending in an atomic manifest commit,
   * so a killed run loses at most one wave and the next run resumes behind the last
   * committed checkpoint. `maxWaves` exists for kill/resume tests.
   */
  def run(spark: SparkSession, pages: Dataset[WebPage], root: String, parts: Int,
          waves: Int = 1, maxWaves: Int = Int.MaxValue,
          maxBlockBytes: Long = MaxBlockBytes): RunResult = {
    Files.createDirectories(Paths.get(root))
    val boundaries = loadOrCreateBoundaries(root, pages, parts)
    // a smaller `parts` than the persisted range layout would leave buckets
    // >= parts outside every wave's pending set: rows bucketed there would be
    // SILENTLY skipped (never encoded, never an error). Boundaries define
    // bucket count for the life of the store — fail fast instead.
    require(parts >= boundaries.length + 1,
      s"store at $root is range-partitioned into ${boundaries.length + 1} buckets " +
      s"(BOUNDARIES); parts=$parts would silently skip buckets " +
      s"$parts..${boundaries.length} — pass parts >= ${boundaries.length + 1}")

    val withPart = withPartIds(pages.toDF(), boundaries, 0)

    // RESUME: drop work units already committed (a narrow part-id filter per
    // wave; manifest rows ≪ data at any scale). Only REACHABLE ids can
    // pend: the bucket function yields 0..boundaries.length, so when a skewed
    // sample left fewer distinct boundaries than parts-1, ids past the bucket
    // count can never produce a row — treating them as pending would re-scan
    // the whole input on every call to a fully-encoded store, forever.
    val committed = SnapshotStore.committedPartIds(root)
    val pendingParts = (0 to boundaries.length).filterNot(committed)
    val waveSize = math.max(1, (pendingParts.size + waves - 1) / math.max(waves, 1))
    val groups = pendingParts.grouped(waveSize).take(maxWaves).toSeq

    var totalEntries = Seq.empty[SnapshotStore.PartEntry]
    var lastSnap = SnapshotStore.currentSnapshotId(root).getOrElse(0L)
    var jobSecs = 0.0

    for (group <- groups) {
      // the wave's group already excludes committed ids; a CONCURRENT writer
      // racing the same ids is refused loudly by commitReplacing's uniqueness
      // guard at commit time (a re-filter here would hide the race silently)
      val pending = withPart.where(col("part_id").isin(group: _*))
      // ids are ascending: the wave's window runs from its first to its last id
      val (_, entries, secs) =
        stageEncode(spark, pending, group.last - group.head + 1, root, maxBlockBytes)
      jobSecs += secs
      // a wave of genuinely empty ranges stages nothing: committing would bump
      // an identical empty snapshot per call (manifest churn, never converges)
      if (entries.nonEmpty) lastSnap = SnapshotStore.commit(root, entries)
      totalEntries ++= entries
    }

    RunResult(lastSnap, totalEntries.size, totalEntries.map(_.nRows).sum,
      totalEntries.map(_.origBytes).sum, totalEntries.map(_.encBytes).sum, jobSecs)
  }

  /** spark-submit main: generate webtext and encode it into a snapshot store. */
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val root = if (args.length > 1) args(1) else "/tmp/graft-store"
    val parts = if (args.length > 2) args(2).toInt else 32
    val waves = if (args.length > 3) args(3).toInt else 1
    val spark = LocalSession.create("graft-encode")
    val res = run(spark, Webtext.generate(spark, n, parts), root, parts, waves)
    println(s"encoded: $res ratio=${res.origBytes.toDouble / math.max(res.encBytes, 1)}")
    spark.stop()
  }
}
