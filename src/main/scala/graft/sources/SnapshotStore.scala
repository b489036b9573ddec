package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/**
 * Minimal snapshot/manifest table layer with atomic commits and resume — the Iceberg
 * *behaviors* the north_rule needs (snapshot reads, atomic commit, per-partition
 * lineage, checkpoint resume), emulated because no Iceberg jars exist in this sandbox
 * (SURVEY.md §7.1). Behind this interface a real Iceberg catalog can drop in.
 *
 * Layout under `root/`:
 *   data/<commit-uuid>/p<part>-task-<attempt>.graft — immutable block files
 *                                        ([[graft.sources.v2.BlockFile]])
 *   manifests/<snapshotId>.jsonl       — full manifest: one line per committed part
 *   SNAPSHOT                           — pointer file, swapped atomically (tmp+rename)
 *
 * A manifest line is one JSON object ([[PartEntry]]):
 * {{{
 * {"part_id":3,"data_dir":"data/<uuid>","file":"p3-task-17.graft","file_len":901234,
 *  "n_rows":2500,"orig_bytes":..,"enc_bytes":..,
 *  "stats":{"n_groups":1,"columns":{
 *     "url":{"n_nulls":0,"str_min":"https://a/","str_max":"https://b/"},
 *     "warc_ts":{"n_nulls":0,"min":1700000000000000,"max":1700000999000000},
 *     "warc_ts":{"n_nulls":0,"min":1700000000000000,"max":1700000999000000,
 *                "sum":4250001248750000000},
 *     "lang":{"n_nulls":0,"str_min":"de","str_max":"ru","str_dict":["de","en","ru"],
 *             "str_dict_counts":[700,1500,300]},
 *     "html":{"n_nulls":0}}},
 *  "codecs":{"url":"str_fsst","warc_ts":"delta(eg(k=3))"}}
 * }}}
 * `stats` ([[PartStats]]) is optional: lines written before it existed parse
 * to `stats = None`, which planning reads as unbounded. Inside it every
 * bound, `sum`, `str_dict`, `str_dict_counts` and a whole column may be
 * absent, each meaning unknown; lines written before `sum` and
 * `str_dict_counts` existed parse them as absent. Strings are JSON-escaped,
 * so bounds may hold any text.
 *
 * `file` and `file_len` name the part's one native block file in `data_dir`
 * and its length, so a scan plans without listing the dir and opens the file
 * without a status call. A line without them is a part written before native
 * block files existed, as parquet block files. No reader reads those:
 * [[PartEntry.filePath]] refuses such a part, and one compaction
 * ([[graft.jobs.CompactJob.run]]) copies its blocks into a native file.
 *
 * A killed job leaves at most an orphaned data dir (never referenced by any
 * manifest): re-running resumes from the last committed snapshot's part set.
 */
object SnapshotStore {

  /** Manifest rollup of one column's block metadata over a part (see
    * [[PartStats]]). Each bound is None when ANY block of the part lacks it
    * (or a string bound is longer than [[PartStats.MaxStringBound]]), and
    * None always reads as unbounded. `nNulls` is the exact sum of the
    * blocks' `n_nulls`; `dict` the union of the blocks' `block_str_dict`,
    * kept only while it has at most [[PartStats.MaxDictValues]] values.
    * `sum` is the int column's summed `block_sum` (None when a block with a
    * non-null value lacks one, or the part's total leaves the i64 range);
    * `dictCounts` holds each `dict` value's row count, present only when
    * every block carried `block_str_dict_counts`. Together they answer
    * metadata aggregates ([[graft.sources.v2.GraftUngroupedAgg]],
    * [[graft.sources.v2.GraftGroupedAgg]]). */
  final case class ColumnStats(
      min: Option[Long] = None,
      max: Option[Long] = None,
      strMin: Option[String] = None,
      strMax: Option[String] = None,
      nNulls: Long = 0L,
      dict: Option[Seq[String]] = None,
      sum: Option[Long] = None,
      dictCounts: Option[Seq[Long]] = None)

  /** Per-part planning stats rolled up at commit time from the part's block
    * metadata ([[graft.jobs.PartRollup]]): the part's block-group count and,
    * per column, the [[ColumnStats]]. Lets the driver prune whole parts from
    * the manifest before any block file is read (level 1 of
    * [[graft.jobs.DecodeJob.planPrunedKeys]]) and answer metadata aggregates
    * without a Spark job. */
  final case class PartStats(nGroups: Int, columns: Map[String, ColumnStats])

  object PartStats {
    /** Longer string bounds are not stored: long `text` never enters the
      * manifest, and an absent bound reads as unbounded (sound). */
    val MaxStringBound = 256
    val MaxDictValues = 64
  }

  /** Per-partition lineage row (one work unit == one part_id). `stats` is
    * None on entries committed before per-part stats existed: no stats =
    * unbounded, so such parts always survive manifest-level pruning. `file`
    * names the part's native block file in `dataDir`, `fileLen` its length;
    * None marks a part written before native block files, which every reader
    * refuses ([[filePath]]) until a compaction copies its blocks. */
  final case class PartEntry(
      partId: Int,
      dataDir: String, // relative to root
      nRows: Long,
      origBytes: Long,
      encBytes: Long,
      codecsJson: String,
      stats: Option[PartStats] = None,
      file: Option[String] = None,
      fileLen: Long = 0L) {
    /** The path of the part's block file under `root`. Every reader resolves
      * its files here, so a part that names no file fails before any
      * directory is listed or any file is opened. */
    def filePath(root: String): String = file match {
      case Some(f) => s"${root.stripSuffix("/")}/$dataDir/$f"
      case None => throw new IllegalStateException(
        s"part $partId of the graft store at $root was written before native block " +
        "files and names no block file; upgrade the store once with " +
        s"graft.jobs.CompactJob.run(spark, \"$root\") or " +
        s"CALL graftcat.system.compact('$root'), which copies its blocks unchanged")
    }
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One manifest line (format: see the object doc). */
  private def entryToJson(e: PartEntry): String = {
    val w = new java.io.StringWriter(256)
    val g = Json.getFactory.createGenerator(w)
    g.writeStartObject()
    g.writeNumberField("part_id", e.partId)
    g.writeStringField("data_dir", e.dataDir)
    e.file.foreach { f =>
      g.writeStringField("file", f)
      g.writeNumberField("file_len", e.fileLen)
    }
    g.writeNumberField("n_rows", e.nRows)
    g.writeNumberField("orig_bytes", e.origBytes)
    g.writeNumberField("enc_bytes", e.encBytes)
    e.stats.foreach { s =>
      g.writeObjectFieldStart("stats")
      g.writeNumberField("n_groups", s.nGroups)
      g.writeObjectFieldStart("columns")
      s.columns.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        g.writeObjectFieldStart(c)
        g.writeNumberField("n_nulls", cs.nNulls)
        cs.min.foreach(g.writeNumberField("min", _))
        cs.max.foreach(g.writeNumberField("max", _))
        cs.strMin.foreach(g.writeStringField("str_min", _))
        cs.strMax.foreach(g.writeStringField("str_max", _))
        cs.sum.foreach(g.writeNumberField("sum", _))
        cs.dict.foreach { vs =>
          g.writeArrayFieldStart("str_dict")
          vs.foreach(g.writeString)
          g.writeEndArray()
        }
        cs.dictCounts.foreach { ks =>
          g.writeArrayFieldStart("str_dict_counts")
          ks.foreach(g.writeNumber)
          g.writeEndArray()
        }
        g.writeEndObject()
      }
      g.writeEndObject()
      g.writeEndObject()
    }
    g.writeFieldName("codecs")
    g.writeRawValue(e.codecsJson)
    g.writeEndObject()
    g.close()
    w.toString
  }

  private def parseStats(n: com.fasterxml.jackson.databind.JsonNode): PartStats = {
    val columns = n.path("columns").properties().asScala.iterator.map { c =>
      val v = c.getValue
      def long(k: String) = Option(v.get(k)).filter(_.isIntegralNumber).map(_.asLong)
      def str(k: String) = Option(v.get(k)).filter(_.isTextual).map(_.asText)
      def array(k: String) = Option(v.get(k)).filter(_.isArray).map(_.elements().asScala.toVector)
      c.getKey -> ColumnStats(long("min"), long("max"), str("str_min"), str("str_max"),
        v.path("n_nulls").asLong(0L), array("str_dict").map(_.map(_.asText)), long("sum"),
        array("str_dict_counts").map(_.map(_.asLong)))
    }.toMap
    PartStats(n.path("n_groups").asInt(0), columns)
  }

  private def parseEntry(line: String): PartEntry = {
    // fields are writer-controlled; the one corruption shape worth guarding is
    // a TRUNCATED line (partial write by a pre-atomic-manifest version, or
    // filesystem damage): defaulting its missing fields to 0/"" would read the
    // store ROOT as a data dir and return silently wrong rows — fail loudly.
    // A real JSON parse: string content (bounds, dirs) may hold quotes,
    // backslashes, or a literal `"codecs":`
    def corrupt(cause: Throwable) = new IllegalArgumentException(
      s"corrupt manifest line (truncated write?): '${line.take(200)}'", cause)
    val n = try Json.readTree(line)
      catch { case e: com.fasterxml.jackson.core.JsonProcessingException => throw corrupt(e) }
    if (n == null || !n.isObject || !n.has("part_id") || !n.has("data_dir")) throw corrupt(null)
    PartEntry(n.path("part_id").asInt, n.path("data_dir").asText,
      n.path("n_rows").asLong(0L), n.path("orig_bytes").asLong(0L),
      n.path("enc_bytes").asLong(0L),
      Option(n.get("codecs")).map(_.toString).getOrElse("{}"),
      Option(n.get("stats")).filter(_.isObject).map(parseStats),
      Option(n.get("file")).filter(_.isTextual).map(_.asText),
      n.path("file_len").asLong(0L))
  }

  def snapshotPointer(root: String): Path = Paths.get(root, "SNAPSHOT")

  /** Crash-safe sidecar write — THE one definition of the unique-tmp +
    * ATOMIC_MOVE discipline (SNAPSHOT pointer, STREAM_PARTS, BOUNDARIES*,
    * EPOCH_ROWS all use it): a crash mid-write must never leave a truncated
    * file that bricks later reads, and the safety rules must not be
    * re-implemented per sidecar. */
  def writeSidecar(root: String, name: String, content: String): Unit = {
    val p = Paths.get(root, name)
    Files.createDirectories(p.getParent)
    // tmp is a SIBLING of the target (nested names like manifests/<id>.jsonl
    // stage inside manifests/), dot-prefixed so every reader's listing skips it
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Files.list with the stream closed (unclosed directory streams leak fds in a
    * long-lived driver). */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Names of regular files directly under `dir` (stream closed). */
  def listFileNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir).filter(Files.isRegularFile(_)).map(_.getFileName.toString)

  def currentSnapshotId(root: String): Option[Long] = {
    val p = snapshotPointer(root)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  def currentEntries(root: String): Seq[PartEntry] = entriesOf(root, None).getOrElse(Seq.empty)

  /** Entries of `snapshotId`, or of the current snapshot when None; None
    * when `root` has no snapshot pointer, i.e. is not a store. */
  def entriesOf(root: String, snapshotId: Option[Long]): Option[Seq[PartEntry]] =
    snapshotId.orElse(currentSnapshotId(root)).map(entriesAt(root, _))

  /**
   * Entries of a SPECIFIC committed snapshot (time travel). Manifests are
   * immutable and retained per snapshot id, so any historical commit stays
   * readable: its data dirs are never rewritten, only newer dirs are added.
   */
  def entriesAt(root: String, snapshotId: Long): Seq[PartEntry] = {
    val mf = Paths.get(root, "manifests", s"$snapshotId.jsonl")
    require(Files.exists(mf), s"no committed snapshot $snapshotId under $root")
    Files.readAllLines(mf, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(parseEntry)
  }

  /** All committed snapshot ids, oldest first. */
  def snapshotIds(root: String): Seq[Long] = {
    val dir = Paths.get(root, "manifests")
    if (!Files.exists(dir)) Seq.empty
    else listDir(dir).iterator
      .map(_.getFileName.toString)
      .filter(_.endsWith(".jsonl"))
      .map(_.stripSuffix(".jsonl").toLong)
      .toSeq.sorted
  }

  /** Data dirs visible at a specific snapshot (time-travel read set). */
  def dataDirsAt(root: String, snapshotId: Long): Seq[String] =
    entriesAt(root, snapshotId).map(_.dataDir).distinct.map(d => Paths.get(root, d).toString)

  /**
   * Tombstoned part ids visible at a snapshot: every source part id a compaction
   * has REPLACED, accumulated across commits. Persisted as a sidecar per manifest
   * (`manifests/<id>.tombstones`) because removal from the live entry list alone
   * is not enough lineage: a resumed batch run (or a replayed streaming batch)
   * that lands AFTER a compaction must still see its original parts as committed,
   * or it would re-encode them and append duplicate rows.
   */
  def tombstonesAt(root: String, snapshotId: Long): Set[Int] = {
    val p = Paths.get(root, "manifests", s"$snapshotId.tombstones")
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).iterator.flatMap { line =>
        // "a-b" inclusive range or a bare id (legacy sidecars wrote one id/line).
        // NEGATIVE ids occur here: compaction re-homes rows into the negative
        // namespace, and a later compact-after-truncate tombstones them (see
        // nextRehomeBase) — e.g. "-3--1" or bare "-5". Starting the separator
        // search at index 1 skips a leading sign, so "-3--1" splits at the
        // middle dash into ("-3", "-1"); do NOT "simplify" to indexOf('-')
        val t = line.trim
        val dash = t.indexOf('-', 1)
        if (dash < 0) Iterator.single(t.toInt)
        else (t.substring(0, dash).toInt to t.substring(dash + 1).toInt).iterator
      }.toSet
  }

  /** Tombstone COUNT at a snapshot without materializing the id set: summed
    * from the sidecar's range widths (ranges are produced from distinct sorted
    * ids, so widths are disjoint). A long-streamed, repeatedly-compacted store
    * accumulates millions of tombstones — counting via [[tombstonesAt]] would
    * box them all just to take `.size`. */
  def tombstoneCountAt(root: String, snapshotId: Long): Long = {
    val p = Paths.get(root, "manifests", s"$snapshotId.tombstones")
    if (!Files.exists(p)) 0L
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.iterator
      .filter(_.nonEmpty).map { line =>
        val t = line.trim
        val dash = t.indexOf('-', 1) // from 1: skips a negative id's sign (see tombstonesAt)
        if (dash < 0) 1L
        else t.substring(dash + 1).toLong - t.substring(0, dash).toLong + 1L
      }.sum
  }

  /** Merge sorted ids into "a-b" range lines: tombstones accumulate monotonically
    * across every compaction, and streaming part ids come in contiguous
    * per-batch runs, so range encoding keeps the sidecar (re-read and rewritten
    * per commit) near-constant size on a long-lived store instead of growing by
    * one line per ever-replaced part. */
  private def encodeTombstones(ids: Array[Int]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < ids.length) {
      var j = i
      while (j + 1 < ids.length && ids(j + 1) == ids(j) + 1) j += 1
      if (j > i) sb.append(ids(i)).append('-').append(ids(j))
      else sb.append(ids(i))
      sb.append('\n')
      i = j + 1
    }
    sb.toString
  }

  def currentTombstones(root: String): Set[Int] =
    currentSnapshotId(root) match {
      case None => Set.empty
      case Some(id) => tombstonesAt(root, id)
    }

  /** part_ids already committed — the resume anti-join's build side. Includes
    * tombstoned (compacted-away) ids: their ROWS are committed, just re-homed. */
  def committedPartIds(root: String): Set[Int] =
    currentEntries(root).map(_.partId).toSet ++ currentTombstones(root)

  /** Base (lowest) part id for a rehoming commit of `newParts` parts
    * (compaction / DELETE rewrite): a disjoint NEGATIVE namespace below 0 and
    * below EVERY id ever used — tombstones included: a compact → overwrite →
    * compact sequence leaves the first compaction's negative ids only in the
    * tombstone set, and reusing them would trip commitReplacing's uniqueness
    * guard on every later run (permanently un-compactable store). */
  def nextRehomeBase(root: String, newParts: Int): Int =
    (committedPartIds(root) + 0).min - newParts // the `+ 0` bounds min at <= 0

  /** Allocate a fresh staging data dir (not visible until committed). */
  def newDataDir(root: String): (String, String) = {
    val rel = s"data/${java.util.UUID.randomUUID()}"
    val abs = Paths.get(root, rel)
    Files.createDirectories(abs.getParent)
    (rel, abs.toString)
  }

  /**
   * Atomic commit: new manifest = previous entries + `newEntries`, written to a new
   * snapshot file, then the SNAPSHOT pointer is swapped via tmp-write + ATOMIC_MOVE.
   * Idempotent per part: callers only pass parts not in the current snapshot.
   */
  def commit(root: String, newEntries: Seq[PartEntry]): Long =
    commitReplacing(root, newEntries, Set.empty)

  /** The current snapshot's per-partition lineage + codec metrics as a queryable
    * DataFrame (the north-star "codec metrics written back to the table layer"):
    * partId, dataDir, nRows, origBytes, encBytes, codecsJson. Manifest-sized —
    * one row per committed work unit. */
  def lineage(spark: org.apache.spark.sql.SparkSession, root: String): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(currentEntries(root).map(e =>
      (e.partId, e.dataDir, e.nRows, e.origBytes, e.encBytes, e.codecsJson)))
      .toDF("partId", "dataDir", "nRows", "origBytes", "encBytes", "codecsJson")

  final case class ExpireResult(kept: Seq[Long], removedSnapshots: Seq[Long],
      removedDataDirs: Seq[String], removedBytes: Long)

  /**
   * Iceberg-style `expire_snapshots` + orphan sweep: drop all but the last
   * `keepLast` manifests, then delete data dirs that no KEPT manifest references.
   * A dir shared with a kept snapshot survives (append-only commits reference old
   * dirs forever; only compaction makes dirs expirable). The orphan sweep also
   * removes staged dirs no manifest ever committed (crashed waves), but only ones
   * older than `orphanGraceMs` — a live run's freshly staged dir must not be
   * swept from under it.
   */
  def expireSnapshots(root: String, keepLast: Int = 1,
                      orphanGraceMs: Long = 3600000L): ExpireResult = synchronized {
    require(keepLast >= 1, "must keep at least the current snapshot")
    // "current" is the POINTER, not the highest manifest file: a commit killed
    // between manifest write and pointer swap leaves an orphan manifest with a
    // HIGHER id — keeping by directory listing would keep the orphan and drop
    // the genuinely current snapshot (bricking the store and, after a crashed
    // compaction, deleting data dirs the live snapshot still references)
    val current = currentSnapshotId(root)
    val allIds = snapshotIds(root)
    val ids = current match {
      case Some(c) => allIds.filter(_ <= c)
      case None => allIds
    }
    val nowMs = System.currentTimeMillis()
    // EVERY mtime probe in this sweep tolerates the probed path vanishing
    // between listing and probing (a concurrent writer's ATOMIC_MOVE, a
    // zombie task's rename, a parallel expiry) by reading as "just modified"
    // — the candidate stays in grace this round instead of aborting the
    // whole retention run partway through its deletions
    def mtimeOrNow(p: Path): Long =
      try Files.getLastModifiedTime(p).toMillis
      catch { case _: java.io.IOException => nowMs }
    // aged crash-orphan manifests beyond the pointer (grace: a commit may be
    // in its write-then-swap window right now)
    val orphanManifestIds = current.map(c => allIds.filter(_ > c)).getOrElse(Seq.empty)
      .filter { id =>
        val mf = Paths.get(root, "manifests", s"$id.jsonl")
        nowMs - mtimeOrNow(mf) >= orphanGraceMs
      }
    orphanManifestIds.foreach { id =>
      Files.deleteIfExists(Paths.get(root, "manifests", s"$id.jsonl"))
      Files.deleteIfExists(Paths.get(root, "manifests", s"$id.tombstones"))
      Files.deleteIfExists(Paths.get(root, "manifests", s"$id.rehomed"))
    }
    val (drop, keep) = ids.splitAt(math.max(ids.size - keepLast, 0))
    val keptDirs = keep.flatMap(id => entriesAt(root, id).map(_.dataDir)).toSet
    var removedBytes = 0L
    def deleteTree(p: Path): Unit = {
      // tolerate already-missing paths: a prior expiry killed between deleting
      // a data dir and its manifest recomputes the same drop set, and a size
      // probe on the gone dir would throw on EVERY later run (retention
      // permanently bricked; deleteIfExists already tolerates absence)
      if (Files.isDirectory(p)) listDir(p).foreach(deleteTree)
      else removedBytes +=
        (try Files.size(p) catch { case _: java.io.IOException => 0L })
      Files.deleteIfExists(p)
    }
    // dirs referenced only by dropped manifests
    val dropDirs = drop.flatMap(id => entriesAt(root, id).map(_.dataDir)).toSet -- keptDirs
    // orphans: staged dirs no manifest (kept or dropped) ever referenced.
    // Liveness = the NEWEST mtime anywhere in the subtree: a multi-minute
    // distributed write keeps touching nested files while the top-level dir's
    // mtime stays at creation — judging by the top level alone could sweep a
    // LIVE in-flight staging out from under its encode job
    def newestMtime(p: Path): Long =
      // tolerate paths vanishing mid-walk (same class deleteTree guards): an
      // orphan CANDIDATE may be a live staging dir whose writer is actively
      // renaming .inprogress files — a race must not abort the whole expiry.
      // A vanished path reads as "just modified": the dir stays in grace.
      try {
        var m = Files.getLastModifiedTime(p).toMillis
        if (Files.isDirectory(p)) listDir(p).foreach(c => m = math.max(m, newestMtime(c)))
        m
      } catch { case _: java.io.IOException => nowMs }
    val allRef = keptDirs ++ dropDirs
    val dataRoot = Paths.get(root, "data")
    val now = System.currentTimeMillis()
    val orphans =
      if (!Files.exists(dataRoot)) Seq.empty[String]
      else listDir(dataRoot).iterator
        .filter(p => !allRef.contains(s"data/${p.getFileName}"))
        .filter(p => now - newestMtime(p) >= orphanGraceMs)
        .map(p => s"data/${p.getFileName}").toSeq
    // sidecar crash debris: ONE generic predicate matching writeSidecar's
    // `.name.tmp.uuid` convention (a hard-coded per-sidecar whitelist here
    // silently leaked every NEWLY added sidecar's stranded tmps), swept in the
    // root AND the manifests dir; plus aged per-batch boundary files
    // (BOUNDARIES.b<N>: only stores streamed before `encodeStream` became a
    // wrapper over the native sink hold them, and nothing reads them now)
    def staleIn(dir: Path, rel: String => String): Seq[String] =
      if (!Files.isDirectory(dir)) Seq.empty
      else listDir(dir).iterator
        .filter(Files.isRegularFile(_))
        .filter { p =>
          val n = p.getFileName.toString
          (n.startsWith(".") && n.contains(".tmp.")) || n.startsWith("BOUNDARIES.b")
        }
        .filter(p => now - mtimeOrNow(p) >= orphanGraceMs) // ATOMIC_MOVE race: stays in grace
        .map(p => rel(p.getFileName.toString)).toSeq
    val staleTmps = staleIn(Paths.get(root), identity) ++
      staleIn(Paths.get(root, "manifests"), n => s"manifests/$n")
    val removedDirs = dropDirs.toSeq ++ orphans
    (removedDirs ++ staleTmps).foreach(d => deleteTree(Paths.get(root, d)))
    // aged in-progress debris INSIDE kept data dirs: a zombie V2 write attempt
    // can flush its dot-prefixed staging file after the driver's commit sweep;
    // it is invisible to readers but would otherwise leak disk for the life of
    // the store (kept dirs are never whole-deleted). Staging written through a
    // checksummed file system also left a `..<name>.inprogress.crc` beside it.
    keptDirs.foreach { d =>
      val dir = Paths.get(root, d)
      if (Files.isDirectory(dir)) listDir(dir)
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".") && (n.endsWith(".inprogress") || n.endsWith(".inprogress.crc")) &&
            now - mtimeOrNow(p) >= orphanGraceMs // zombie-rename race: stays in grace
        }
        .foreach { p => removedBytes += Files.size(p); Files.deleteIfExists(p) }
    }
    drop.foreach { id =>
      Files.deleteIfExists(Paths.get(root, "manifests", s"$id.jsonl"))
      // kept snapshots carry the full accumulated tombstone set themselves
      Files.deleteIfExists(Paths.get(root, "manifests", s"$id.tombstones"))
      Files.deleteIfExists(Paths.get(root, "manifests", s"$id.rehomed"))
    }
    // removedDataDirs reports DIRS (dropped + orphaned staging) — swept tmp
    // debris only shows in removedBytes, not inflating the dir count tooling
    // reads off the expire procedure
    ExpireResult(keep, drop, removedDirs.sorted, removedBytes)
  }

  /**
   * Was snapshot `id` a rows-REHOMED commit (compaction)? Such a commit's new
   * parts hold only rows that earlier snapshots already carried — the streaming
   * reader ([[graft.sources.v2.GraftMicroBatchStream]]) must emit nothing for
   * it, while a truncate/overwrite commit (which also grows tombstones) carries
   * genuinely NEW rows and must stream. Tombstone growth alone cannot tell the
   * two apart, so the kind is persisted explicitly as a marker sidecar.
   */
  def isRehomedCommit(root: String, id: Long): Boolean =
    Files.exists(Paths.get(root, "manifests", s"$id.rehomed"))

  /**
   * Entries of every part ADDED in the snapshot range `(from, to]` —
   * append-only changelog semantics shared by the streaming reader
   * ([[graft.sources.v2.GraftMicroBatchStream]]) and the incremental batch
   * read (`.option("fromSnapshot", n)`): rehomed commits (compaction,
   * COW DELETE) contribute nothing — their parts carry only rows earlier
   * snapshots already delivered — while append/overwrite/UPDATE/MERGE
   * commits contribute exactly their NEW parts. Row deletions are NOT
   * reflected (this is an additions changelog, not a diff).
   *
   * `freshFrom` marks `from` as a synthetic "earliest-1" position (a fresh
   * stream's initial offset): the first walked manifest is then a legal FULL
   * first emit even when `from`'s own manifest is expired, and that full
   * emit includes a compaction snapshot's state (the consumer has seen
   * nothing yet). `onMissing` is invoked with the id of a needed manifest
   * that no longer exists — the range is not reconstructible — and must not
   * return.
   */
  def deltaEntries(root: String, from: Long, to: Long, freshFrom: Boolean)
      (onMissing: (Long, Throwable) => Nothing): Seq[PartEntry] = {
    val out = Seq.newBuilder[PartEntry]
    var prevParts: Set[Int] = null
    var fullEmitFirst = false
    var sid = from + 1
    while (sid <= to) {
      // a manifest can vanish BETWEEN entriesAt's exists() check and its read
      // (concurrent expiry holds no lock this walk shares) — route the IO
      // form of "gone" to the same remediation as the checked form, not an
      // opaque NoSuchFileException
      val entries =
        try entriesAt(root, sid)
        catch {
          case e: IllegalArgumentException => onMissing(sid, e)
          case e: java.nio.file.NoSuchFileException => onMissing(sid, e)
        }
      if (prevParts == null) { // first walked snapshot: load its predecessor
        prevParts =
          if (sid == 1) Set.empty
          else try entriesAt(root, sid - 1).map(_.partId).toSet
          catch {
            case e @ (_: IllegalArgumentException | _: java.nio.file.NoSuchFileException) =>
              // legal exactly at a FRESH consumer's first batch: it began at
              // the earliest retained snapshot, whose manifest is the full
              // state — emit it whole. Anywhere else it is a retention hole.
              if (freshFrom && sid == from + 1) { fullEmitFirst = true; Set.empty }
              else onMissing(sid - 1, e)
          }
      }
      // rehomed (compaction) commits carry only already-delivered rows —
      // EXCEPT at a fresh full-emit: this consumer delivered nothing yet, so
      // even a compaction snapshot's full state is all-new to it (skipping it
      // here would drop the whole existing table with no error)
      if ((fullEmitFirst && sid == from + 1) || !isRehomedCommit(root, sid))
        out ++= entries.filterNot(e => prevParts(e.partId))
      prevParts = entries.map(_.partId).toSet
      sid += 1
    }
    out.result()
  }

  /**
   * Atomic commit that REPLACES the entries of `replaced` part ids with
   * `newEntries` (compaction/truncate): the new manifest drops the replaced
   * parts and adds the new ones. Old snapshots keep referencing the old data
   * dirs — nothing is deleted, so time travel across a compaction still works.
   * `rowsRehomed = true` marks the commit as carrying only re-homed rows
   * (compaction) for the streaming reader — see [[isRehomedCommit]].
   */
  def commitReplacing(root: String, newEntries: Seq[PartEntry],
                      replaced: Set[Int], rowsRehomed: Boolean = false): Long = synchronized {
    // ONE pointer read and ONE tombstone-sidecar parse per commit: the
    // tombstone set can hold millions of ids on a long-lived store, and the
    // clash guard + carry-forward below both need it
    val curId = currentSnapshotId(root)
    val prevAll = curId.map(entriesAt(root, _)).getOrElse(Seq.empty)
    val curTombs = curId.map(tombstonesAt(root, _)).getOrElse(Set.empty)
    // single-writer guard, atomic under this lock: a part id committed twice
    // (two concurrent writers racing the same offset, or a buggy caller) would
    // make every reader key-collide (part_id, block_seq) groups across dirs —
    // duplicated/merged rows. Fail the LOSING commit loudly before the swap;
    // its staged dir stays orphaned (swept by expiry), the store stays intact.
    val newIds = newEntries.map(_.partId)
    require(newIds.distinct.size == newIds.size,
      s"duplicate part ids within one commit: ${newIds.diff(newIds.distinct).distinct}")
    val clash = (prevAll.map(_.partId).toSet ++ curTombs)
      .intersect(newIds.toSet)
    require(clash.isEmpty,
      s"part ids ${clash.toSeq.sorted.take(10)} are already committed under $root — " +
      "concurrent writers to one store are not supported; this commit is refused " +
      "before the pointer swap (the store is unchanged)")
    // every replaced id must still be LIVE: a replaced id that is gone means a
    // concurrent rewrite (e.g. a compaction between this caller's pinned scan
    // and its commit) already re-homed those rows — silently filtering it out
    // would keep the compaction's copies AND add this rewrite's copies
    // (duplicated rows). Fail as loudly as the id-clash race above.
    val vanished = replaced.diff(prevAll.map(_.partId).toSet)
    require(vanished.isEmpty,
      s"replaced part ids ${vanished.toSeq.sorted.take(10)} are no longer live under " +
      s"$root — a concurrent rewrite re-homed them between this commit's planning " +
      "and now; committing would duplicate their rows. Re-run the rewrite against " +
      "the current snapshot (the store is unchanged)")
    val prev = prevAll.filterNot(e => replaced(e.partId))
    val nextId = curId.getOrElse(0L) + 1L
    val mfDir = Paths.get(root, "manifests")
    val content = (prev ++ newEntries).map(entryToJson).mkString("", "\n", "\n")
    // atomic like every sidecar: a JVM killed mid-write of a multi-MB manifest
    // would otherwise leave a TRUNCATED <id>.jsonl whose cut final line parses
    // as a garbage entry — silently wrong time-travel reads, not an error
    writeSidecar(root, s"manifests/$nextId.jsonl", content)
    // tombstone lineage: carry every previously replaced id forward plus this
    // commit's — written BEFORE the pointer swap so a crash between the two
    // leaves the new snapshot invisible (manifest+tombstones are orphans)
    val tombs = curTombs ++ replaced
    if (tombs.nonEmpty)
      // Array, not List: the range merge indexes ids(j)/ids(j+1), which is
      // O(n) per access on a List — quadratic on the per-commit path of a
      // long-lived store with millions of accumulated tombstones
      writeSidecar(root, s"manifests/$nextId.tombstones",
        encodeTombstones(tombs.toArray.sorted))
    else
      // a commit killed after writing <nextId>.tombstones but before the swap
      // leaves a stale sidecar this id would otherwise ADOPT (live parts
      // permanently reported as compacted-away) — reconcile explicitly
      Files.deleteIfExists(mfDir.resolve(s"$nextId.tombstones"))
    // commit-kind marker, with the same crash reconciliation as tombstones
    if (rowsRehomed)
      Files.write(mfDir.resolve(s"$nextId.rehomed"), Array.emptyByteArray,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    else
      Files.deleteIfExists(mfDir.resolve(s"$nextId.rehomed"))
    writeSidecar(root, "SNAPSHOT", nextId.toString)
    nextId
  }
}
