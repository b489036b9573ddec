package graft.jobs

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.sources.{SnapshotStore, Webtext}
import graft.sources.v2.ExactFilter

/**
 * Spark end-to-end coverage (SURVEY.md §5.2 item 4): encode job → snapshot store →
 * decode job with the per-url byte-identical invariant; kill-after-partial-commit
 * resume with no dupes/gaps; Catalyst expression surface; metadata pushdown rule.
 */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark()

  private def freshRoot(): String =
    Files.createTempDirectory("graft-store-").toString

  test("encode -> snapshot -> decode round-trips 20k pages byte-identically") {
    val root = freshRoot()
    val n = 20000L
    val pages = Webtext.generate(spark, n, 8)
    val res = EncodeJob.run(spark, pages, root, parts = 8)
    assert(res.partsEncoded == 8)
    assert(res.nRows == n)
    assert(res.encBytes < res.origBytes, "must actually compress")

    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == n)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 8), decoded) == 0L)

    // sampled range boundaries must yield balanced work units (skew guard)
    val sizes = SnapshotStore.currentEntries(root).map(_.nRows)
    val mean = sizes.sum.toDouble / sizes.size
    assert(sizes.forall(s => s > mean * 0.4 && s < mean * 2.0),
      s"unbalanced parts: $sizes")
  }

  test("killed-after-partial-commit run resumes with no dupes and no gaps") {
    val root = freshRoot()
    val n = 12000L
    val pages = Webtext.generate(spark, n, 8)

    // simulate a kill: 4 waves planned, die after 2 commits
    val partial = EncodeJob.run(spark, pages, root, parts = 8, waves = 4, maxWaves = 2)
    assert(partial.partsEncoded == 4)
    val committedAfterKill = SnapshotStore.committedPartIds(root)
    assert(committedAfterKill.size == 4)

    // resume: a fresh run picks up only the remaining work units
    val resumed = EncodeJob.run(spark, pages, root, parts = 8)
    assert(resumed.partsEncoded == 4, "resume must not re-encode committed parts")
    assert(SnapshotStore.committedPartIds(root) == (0 until 8).toSet)

    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == n, "no dupes, no gaps")
    assert(decoded.select("url").distinct().count() == n)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 8), decoded) == 0L)
  }

  test("null columns survive encode -> decode: null != empty, null warc_ts preserved") {
    import spark.implicits._
    val root = freshRoot()
    val base = Webtext.generate(spark, 3000, 4)
    val withNulls = base.map { p =>
      val h = math.abs(p.url.hashCode)
      p.copy(
        warc_ts = if (h % 5 == 0) null else p.warc_ts,
        text = if (h % 7 == 0) null else if (h % 7 == 1) "" else p.text,
        lang = if (h % 3 == 0) null else p.lang,
        html = if (h % 11 == 0) null else p.html)
    }
    EncodeJob.run(spark, withNulls, root, parts = 4)
    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == 3000)
    // exact field-level comparison including nulls and empty-vs-null distinction
    val mismatches = withNulls.toDF("url", "warc_ts", "html", "text", "lang")
      .join(decoded.toDF("url", "d_ts", "d_html", "d_text", "d_lang"), Seq("url"))
      .where(!(col("warc_ts") <=> col("d_ts")) ||
        !(col("text") <=> col("d_text")) ||
        !(col("lang") <=> col("d_lang")) ||
        !(col("html") <=> col("d_html")))
      .count()
    assert(mismatches == 0L, s"$mismatches rows lost nulls or conflated null with empty")
  }

  test("encode job emits block metadata and the prune rule fires on a REAL store") {
    import spark.implicits._
    val root = freshRoot()
    val pages = Webtext.generate(spark, 30000, 8)
    EncodeJob.run(spark, pages, root, parts = 8)
    val blocks = DecodeJob.blocks(spark, root)

    // metadata emission: int bounds + dict on warc_ts... dict only when card <= 256,
    // string bounds on textual columns, dict on low-cardinality lang
    val ts = blocks.where($"column" === "warc_ts")
    assert(ts.where($"block_min".isNull || $"block_max".isNull).count() == 0)
    val lang = blocks.where($"column" === "lang")
    assert(lang.where($"block_str_dict".isNull).count() == 0,
      "lang blocks must carry dictionary metadata")
    assert(lang.where($"block_str_min".isNull || $"block_str_max".isNull).count() == 0)
    assert(blocks.where($"column" === "html" && $"block_str_min".isNotNull).count() == 0,
      "binary html must not get string bounds")

    // prune rule on the real store: warc_ts range filter reaches the parquet scan
    GraftFunctions.registerAll(spark)
    val mn = ts.agg(min($"block_min")).as[Long].head()
    val q = ts.where(array_contains(GraftFunctions.graft_decode($"encoded"), lit(mn)))
      .select($"part_id", $"block_seq")
    val physical = q.queryExecution.executedPlan.toString()
    assert(physical.contains("PushedFilters: [") && physical.contains("block_min"),
      s"metadata filter not pushed to scan over the job-written store:\n$physical")
    assert(q.count() >= 1)

    // string dict membership conjunct appears for lang filters
    val ql = lang.where(array_contains(GraftFunctions.graft_decode_str($"encoded"), lit("zz")))
    assert(ql.queryExecution.optimizedPlan.toString().contains("block_str_dict"),
      "string dict conjunct missing")
    assert(ql.count() == 0, "no block contains lang 'zz'")
  }

  test("time travel: every committed snapshot stays readable and is a prefix of the next") {
    import spark.implicits._
    val root = freshRoot()
    val pages = Webtext.generate(spark, 6000, 8)
    EncodeJob.run(spark, pages, root, parts = 8, waves = 4)
    val ids = SnapshotStore.snapshotIds(root)
    assert(ids.size == 4, s"4 waves -> 4 snapshots, got $ids")
    assert(SnapshotStore.currentSnapshotId(root).contains(ids.last))
    // monotone growth + old snapshots still decodable
    val counts = ids.map(id => DecodeJob.decodedRows(DecodeJob.decodeAt(spark, root, id)))
    assert(counts == counts.sorted && counts.distinct == counts, s"not monotone: $counts")
    assert(counts.last == 6000L)
    // each snapshot's urls are a subset of the next (append-only isolation)
    val urlsAt = ids.map(id => DecodeJob.decodeAt(spark, root, id)
      .map(_.url).collect().toSet)
    urlsAt.sliding(2).foreach { case Seq(a, b) => assert(a.subsetOf(b)) }
  }

  test("compaction merges small parts; history and byte-identity survive") {
    val root = freshRoot()
    val pages = Webtext.generate(spark, 6000, 8)
    EncodeJob.run(spark, pages, root, parts = 8, waves = 4)
    val preSnap = SnapshotStore.currentSnapshotId(root).get
    val res = CompactJob.run(spark, root)
    assert(res.partsCompacted == 8 && res.partsCreated == 1 && res.nRows == 6000L)
    val entries = SnapshotStore.currentEntries(root)
    assert(entries.size == 1 && entries.head.partId < 0,
      s"compacted part must live in the negative namespace: $entries")
    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == 6000)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, 6000, 8), decoded) == 0L)
    // pre-compaction snapshot still readable (time travel across compaction)
    assert(DecodeJob.decodedRows(DecodeJob.decodeAt(spark, root, preSnap)) == 6000)
    // second run is a no-op: nothing small remains to merge
    assert(CompactJob.run(spark, root).partsCompacted == 0)
  }

  test("PARTIAL compaction of a shared data dir decodes each row exactly once") {
    // regression: one wave stages all parts into ONE data dir; compacting only the
    // smaller parts keeps that dir referenced via the surviving parts. The blocks
    // scan must filter to the manifest's live part ids, or the replaced parts are
    // decoded from the old dir AND from the compacted copy (duplicate rows).
    val root = freshRoot()
    val n = 8000L
    val pages = Webtext.generate(spark, n, 8)
    EncodeJob.run(spark, pages, root, parts = 8) // one wave -> one shared dir
    // the rewrite input reads just the chosen parts: the scan never lists the
    // other parts' files of the shared dir as input
    val snap = SnapshotStore.currentSnapshotId(root).get
    val chosen = SnapshotStore.entriesAt(root, snap).sortBy(_.nRows).take(2)
    val picked = DecodeJob.decodePartsOf(spark, root, snap, chosen.map(_.partId))
    assert(picked.select("url").distinct().count() == chosen.map(_.nRows).sum)
    assert(graft.sources.v2.GraftDataSource.planStatsFor(root).map(_.files).contains(2))
    val sizes = SnapshotStore.currentEntries(root).map(_.nRows)
    val res = CompactJob.run(spark, root, minRows = sizes.max, targetRowsPerPart = n)
    assert(res.partsCompacted >= 2, s"need a real partial compaction, sizes=$sizes")
    val kept = SnapshotStore.currentEntries(root)
    assert(kept.exists(_.partId >= 0) && kept.exists(_.partId < 0),
      s"dir must be SHARED between kept and compacted parts: $kept")
    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == n, "replaced parts must not be decoded twice")
    assert(decoded.select("url").distinct().count() == n)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 8), decoded) == 0L)
    // pre-compaction snapshot unaffected (time travel still exact)
    val preSnap = SnapshotStore.snapshotIds(root).head
    assert(DecodeJob.decodedRows(DecodeJob.decodeAt(spark, root, preSnap)) == n)
  }

  test("a batch replayed AFTER compaction is still dropped (tombstone lineage)") {
    // regression: commitReplacing removes the source part ids from the live entry
    // list; without tombstones a resumed run (or replayed streaming batch) no
    // longer sees them as committed and re-encodes them — duplicate rows.
    val root = freshRoot()
    val n = 4000L
    val pages = Webtext.generate(spark, n, 8)
    EncodeJob.run(spark, pages, root, parts = 4, waves = 2)
    assert(CompactJob.run(spark, root, minRows = Long.MaxValue).partsCompacted == 4)
    assert(SnapshotStore.committedPartIds(root).filter(_ >= 0) == (0 until 4).toSet,
      "compacted source ids must stay visible as committed (tombstones)")
    val replay = EncodeJob.run(spark, pages, root, parts = 4)
    assert(replay.partsEncoded == 0, "replay after compaction must be a no-op")
    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == n)
    assert(decoded.select("url").distinct().count() == n)
  }

  test("expire reclaims dirs only compaction freed; orphan sweep respects grace") {
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 4000, 8), root, parts = 8, waves = 2)
    // an orphan staged dir from a "crashed" run — never committed
    val (_, orphanAbs) = SnapshotStore.newDataDir(root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(orphanAbs))
    java.nio.file.Files.write(java.nio.file.Paths.get(orphanAbs, "junk.parquet"),
      Array.fill[Byte](128)(1))

    // append-only history: expiring must delete NO data dirs (all still referenced)
    val pre = SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = Long.MaxValue)
    assert(pre.removedSnapshots == Seq(1L) && pre.removedDataDirs.isEmpty,
      s"append-only dirs are shared with the kept snapshot: $pre")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 4000)

    // compaction strands the pre-compaction dirs; expire + orphan sweep reclaims
    assert(CompactJob.run(spark, root).partsCompacted == 8)
    val res = SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0L)
    assert(res.removedDataDirs.size == 3, s"2 stranded wave dirs + 1 orphan: $res")
    assert(res.removedBytes > 0)
    assert(SnapshotStore.snapshotIds(root).size == 1)
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 4000)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, 4000, 8),
      DecodeJob.decode(spark, root)) == 0L)
  }

  /** Spark jobs started while `body` runs, bracketed by two marker jobs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.jobId)
    }
    def marker(): Int = {
      val group = java.util.UUID.randomUUID().toString
      sc.setJobGroup(group, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      // the status store learns of the job through the listener bus, which
      // may still be behind when count() returns
      val deadline = System.currentTimeMillis() + 30000L
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      sc.statusTracker.getJobIdsForGroup(group).head
    }
    sc.addSparkListener(l)
    try {
      val before = marker()
      val out = body
      val after = marker()
      val deadline = System.currentTimeMillis() + 30000L
      while (!started.contains(after) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(started.contains(before) && started.contains(after), "marker jobs not observed")
      (out, started.toArray.count { case id: Int => id > before && id < after })
    } finally sc.removeSparkListener(l)
  }

  test("decode has no Exchange, no job before an action; exact under splits") {
    val root = freshRoot()
    val n = 20000L
    val pages = Webtext.generate(spark, n, 8)
    // small blocks: many block groups per file, so a reader planning Spark
    // file splits would cut files mid-group once maxPartitionBytes shrinks
    // below the file size
    EncodeJob.run(spark, pages, root, parts = 2, maxBlockBytes = 16 * 1024)
    assert(DecodeJob.blocks(spark, root).select("part_id", "block_seq").distinct().count() > 20,
      "need many groups per file for the split scenario")

    // building a decode runs no Spark job: the scan is planned at the first action
    val snap = SnapshotStore.currentSnapshotId(root).get
    val ((full, at, cols), jobs) = jobsDuring((DecodeJob.decode(spark, root),
      DecodeJob.decodeAt(spark, root, snap), DecodeJob.decodeColumns(spark, root, Seq("url", "lang"))))
    assert(jobs == 0, s"decode, decodeAt and decodeColumns ran $jobs Spark jobs before an action")

    // forced splits: the scan bins whole files whatever maxPartitionBytes says,
    // so no group straddles a task — no Exchange, same rows, no dupes or gaps
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val plan = full.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
      assert(DecodeJob.decodedRows(full) == n, "no group dropped or duplicated")
      assert(full.select("url").distinct().count() == n)
      assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 8), full) == 0L)
      assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 8), at) == 0L)
      assert(cols.columns.toSeq == Seq("url", "lang") && cols.distinct().count() == n)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  /** Fails unless `read` throws, somewhere in its causes, the layout IOException. */
  private def layoutError(read: => Any): Unit = {
    val e = intercept[Exception](read)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[java.io.IOException] &&
        t.getMessage.contains("corrupt or foreign store layout")), s"not the layout error: $e")
  }

  /** Rewrites the one-part store's block file with `blocks`, in this order,
    * and its manifest line's length to match. */
  private def rewriteFile(root: String, e: SnapshotStore.PartEntry,
      blocks: Seq[BlockRow]): Unit = {
    val path = java.nio.file.Paths.get(root, e.dataDir, e.file.get)
    val out = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
      .getRawFileSystem.create(new org.apache.hadoop.fs.Path(path.toString), true)
    val w = new graft.sources.v2.BlockFile.Writer(out, e.partId)
    blocks.foreach(w.add)
    val len = w.finish()
    val mf = java.nio.file.Paths.get(root, "manifests",
      s"${SnapshotStore.currentSnapshotId(root).get}.jsonl")
    Files.write(mf, new String(Files.readAllBytes(mf), "UTF-8")
      .replace(s""""file_len":${e.fileLen}""", s""""file_len":$len""").getBytes("UTF-8"))
    assert(SnapshotStore.currentEntries(root).head.fileLen == len)
  }

  /** A one-part store of several groups: (root, its entry, its blocks in file order). */
  private def onePartStore(maxBlockBytes: Long): (String, SnapshotStore.PartEntry, Seq[BlockRow]) = {
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 300, 4), root, parts = 1,
      maxBlockBytes = maxBlockBytes)
    val Seq(e) = SnapshotStore.currentEntries(root)
    (root, e, graft.sources.v2.BlockFile.readAll(
      java.nio.file.Paths.get(root, e.dataDir, e.file.get).toString, e.fileLen, e.partId,
      new org.apache.hadoop.conf.Configuration(), withEncoded = true).toSeq)
  }

  test("a block group that is not whole in its file fails both read surfaces") {
    val (root, e, blocks) = onePartStore(maxBlockBytes = 64L * 1024)
    assert(blocks.map(_.block_seq).distinct.size > 2, "several groups")
    // group 0's html block moves behind group 1: group 0 lies in two runs
    val (moved, rest) = blocks.partition(b => b.block_seq == 0 && b.column == "html")
    val (first, later) = rest.span(_.block_seq <= 1)
    rewriteFile(root, e, first ++ moved ++ later)

    layoutError(DecodeJob.decode(spark, root).collect())
    layoutError(DecodeJob.decodedRows(DecodeJob.decode(spark, root)))
    layoutError(spark.read.format("graft").load(root).collect())
    layoutError(DecodeJob.decodedRows(spark.read.format("graft").load(root)))
    // a read without html meets group 0 again after group 1
    val err = intercept[Exception](spark.read.format("graft").load(root).select("url").collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[graft.sources.v2.BlockFile.CorruptBlockFileException] &&
        t.getMessage.contains("block group 0 follows group 1")), s"not the split-group error: $err")
  }

  test("a native block file that lacks one column's block fails both read surfaces") {
    val (root, e, blocks) = onePartStore(maxBlockBytes = EncodeJob.MaxBlockBytes)
    // rewrite the part's file without the html block of group 0: the same
    // blocks and footer entries, minus that one
    rewriteFile(root, e, blocks.filterNot(b => b.block_seq == 0 && b.column == "html"))

    layoutError(DecodeJob.decode(spark, root).collect())
    layoutError(DecodeJob.decodedRows(DecodeJob.decode(spark, root)))
    layoutError(spark.read.format("graft").load(root).collect())
    layoutError(DecodeJob.decodedRows(spark.read.format("graft").load(root)))
  }

  test("decodeWhere prunes block groups via metadata before any decompression") {
    import spark.implicits._
    val root = freshRoot()
    val n = 20000L
    val pages = Webtext.generate(spark, n, 8)
    EncodeJob.run(spark, pages, root, parts = 8)
    val totalGroups = DecodeJob.blocks(spark, root)
      .select("part_id", "block_seq").distinct().count()

    // url equality: string bounds confine any single url to one group
    val someUrl = Webtext.page(12345L).url
    val urlPred = Seq(DecodeJob.StrEq("url", someUrl))
    val urlKeys = DecodeJob.matchingGroupKeys(spark, root, urlPred).count()
    assert(urlKeys < totalGroups && urlKeys >= 1,
      s"url bounds must prune groups: $urlKeys of $totalGroups")
    val hit = DecodeJob.decodeWhere(spark, root, urlPred)
    // the predicate reaches the scan, which reads only the surviving groups
    // and stays shuffle-free
    val plan = hit.queryExecution.executedPlan.toString()
    val pruning = "PruningPredicates: \\[(.*?)\\] ExactFilters".r.findFirstMatchIn(plan)
    assert(pruning.exists(m => s", ${m.group(1)}, ".contains(s", url = '$someUrl', ")) &&
      !plan.contains("Exchange"),
      s"pruned decode must push its predicate to the scan and not shuffle:\n$plan")
    val rows = hit.collect()
    assert(rows.length == 1 && rows.head.url == someUrl)
    val planned = graft.sources.v2.GraftDataSource.planStatsFor(root).flatMap(_.prunedGroupKeys)
    assert(planned.exists(k => k >= 1 && k < totalGroups),
      s"the scan must read only the url's groups: $planned of $totalGroups")

    // warc_ts range: the single global-max timestamp can live in few blocks
    // (webtext ts ranges of different parts otherwise overlap — pruning is
    // sound, so an overlapped range correctly keeps every block)
    val blocksDf = DecodeJob.blocks(spark, root)
    val hiTs = blocksDf.where($"column" === "warc_ts")
      .agg(max($"block_max")).as[Long].head()
    val tsPred = Seq(DecodeJob.TsRange(hiTs, hiTs))
    val tsKeys = DecodeJob.matchingGroupKeys(spark, root, tsPred).count()
    assert(tsKeys >= 1 && tsKeys < totalGroups,
      s"max-ts point range must prune groups: $tsKeys of $totalGroups")
    val pruned = DecodeJob.decodeWhere(spark, root, tsPred).toDF()
      .select($"url").orderBy($"url").collect()
    val full = DecodeJob.decode(spark, root).toDF()
      .where(unix_micros($"warc_ts") === hiTs)
      .select($"url").orderBy($"url").collect()
    assert(pruned.nonEmpty && pruned.toSeq == full.toSeq,
      "pruned result must equal decode+filter")

    // a value no metadata admits -> zero groups, zero rows, no crash
    assert(DecodeJob.decodedRows(DecodeJob.decodeWhere(spark, root,
      Seq(DecodeJob.StrEq("lang", "zz")))) == 0L)

    // conjunction across columns intersects key sets
    val both = DecodeJob.decodeWhere(spark, root,
      Seq(DecodeJob.StrEq("url", someUrl), DecodeJob.TsRange(Long.MinValue, Long.MaxValue)))
    assert(DecodeJob.decodedRows(both) == 1L)

    // projected + predicate-pushed: predicate column decoded for the filter
    // then dropped; equals the written pages + filter
    val cw = DecodeJob.decodeColumnsWhere(spark, root, Seq("url"),
      Seq(DecodeJob.StrEq("lang", "de")))
    assert(cw.columns.toSeq == Seq("url"))
    val expected = pages.toDF().where($"lang" === "de").select($"url")
    assert(cw.exceptAll(expected).count() == 0 && expected.exceptAll(cw).count() == 0)
    // TsRange over the projected micros form
    val cwTs = DecodeJob.decodeColumnsWhere(spark, root, Seq("url", "warc_ts"),
      Seq(DecodeJob.TsRange(hiTs, hiTs)))
    assert(cwTs.collect().forall(_.getLong(1) == hiTs))
    assert(DecodeJob.decodedRows(cwTs) == full.length)
  }

  test("property: decodeWhere equals decode+filter for randomized predicates") {
    import spark.implicits._
    val root = freshRoot()
    val n = 10000L
    EncodeJob.run(spark, Webtext.generate(spark, n, 8), root, parts = 8)
    val full = DecodeJob.decode(spark, root).toDF().cache()
    val langs = Seq("en", "zh", "de", "xx") // xx: matches nothing
    val tsBounds = full.agg(min(unix_micros($"warc_ts")), max(unix_micros($"warc_ts")))
      .as[(Long, Long)].head()
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 8) {
      val preds = scala.collection.mutable.ArrayBuffer[ExactFilter]()
      if (rnd.nextBoolean()) preds += DecodeJob.StrEq("lang", langs(rnd.nextInt(langs.length)))
      if (rnd.nextBoolean()) {
        val a = tsBounds._1 + (rnd.nextDouble() * (tsBounds._2 - tsBounds._1)).toLong
        val b = tsBounds._1 + (rnd.nextDouble() * (tsBounds._2 - tsBounds._1)).toLong
        preds += DecodeJob.TsRange(math.min(a, b), math.max(a, b))
      }
      if (rnd.nextBoolean() || preds.isEmpty)
        preds += DecodeJob.StrEq("url", Webtext.page(rnd.nextInt(20000).toLong).url)
      val got = DecodeJob.decodeWhere(spark, root, preds.toSeq).toDF()
        .select($"url").as[String].collect().sorted.toSeq
      val want = preds.foldLeft(full) { (df, p) =>
        df.where(p match {
          case ExactFilter.StrRange(c, Some(v), false, Some(w), false) if v == w => col(c) === v
          case ExactFilter.StrIn(c, vs) => col(c).isin(vs: _*)
          case ExactFilter.StrPrefix(c, pre) => col(c).startsWith(pre)
          case ExactFilter.StrRange(c, Some(lo), false, Some(hi), false) => col(c).between(lo, hi)
          case ExactFilter.IntRange("warc_ts", lo, hi) => unix_micros(col("warc_ts")).between(lo, hi)
          case p => throw new IllegalArgumentException(s"no reference form for $p")
        })
      }.select($"url").as[String].collect().sorted.toSeq
      assert(got == want, s"decodeWhere mismatch for $preds: got ${got.size}, want ${want.size}")
    }
    full.unpersist()
  }

  test("byte-bounded block flush splits fat-row runs without losing rows") {
    // 300 rows x ~10KB text with a 64KB cap -> many small blocks, same data back
    val rows = (0 until 300).iterator.map { i =>
      val fat = ("w" + (i % 7) + " ") * 2500 // ~10KB
      (1, s"u$i".getBytes, 1000L + i, true,
        fat.getBytes, fat.getBytes, "en".getBytes): EncodeJob.EncRow
    }
    val blocks = EncodeJob.encodePartition(rows, maxBlockBytes = 64 * 1024).toSeq
    val urlBlocks = blocks.filter(_.column == "url")
    assert(urlBlocks.length > 10, s"cap must split the run, got ${urlBlocks.length} blocks")
    assert(urlBlocks.map(_.n).sum == 300, "no rows lost across flushes")
    assert(urlBlocks.map(_.block_seq).sorted == urlBlocks.indices.toSeq, "contiguous seqs")
    val decoded = urlBlocks.sortBy(_.block_seq)
      .flatMap(b => graft.codec.StringBlockCodec.decode(b.encoded))
      .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
    assert(decoded == (0 until 300).map(i => s"u$i"))
  }

  test("projected decode reads only the requested columns' blocks (pushed In filter)") {
    import spark.implicits._
    val root = freshRoot()
    val n = 5000L
    val pages = Webtext.generate(spark, n, 4)
    EncodeJob.run(spark, pages, root, parts = 4)

    val proj = DecodeJob.decodeColumns(spark, root, Seq("url", "lang", "warc_ts"))
    // the projection must reach the block scan, whose parquet column filter
    // skips unwanted (text/html) blocks by row-group stats before any decompression
    val physical = proj.queryExecution.executedPlan.toString()
    assert(physical.contains("columns=[url,warc_ts,lang]"),
      s"column projection not pushed to the block scan:\n$physical")

    assert(DecodeJob.decodedRows(proj) == n)
    // values match the full decode on every projected column (micros == timestamp)
    val full = DecodeJob.decode(spark, root).toDF()
      .select($"url", $"lang", unix_micros($"warc_ts").as("warc_ts"))
    assert(proj.select($"url", $"lang", $"warc_ts").exceptAll(full).count() == 0)
    assert(full.exceptAll(proj.select($"url", $"lang", $"warc_ts")).count() == 0)
  }

  test("part-id expression stays in whole-stage codegen (no UDF in encode projection)") {
    import spark.implicits._
    val pages = Webtext.generate(spark, 1000, 4)
    val b = EncodeJob.computeUrlBoundaries(pages.map(_.url), 4)
    val partIdCol = org.apache.spark.sql.graftshim.Shim.column(
      graft.functions.RangeBucketId(
        org.apache.spark.sql.graftshim.Shim.expression(col("url")), b, 0))
    val df = pages.toDF().select(partIdCol.as("part_id"), col("url"))
    assert(!df.queryExecution.executedPlan.toString.contains("UDF"),
      "encode projection must not contain a codegen-breaking UDF")
    // with fallback disabled the generated Java MUST compile (no silent interpret)
    val old = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val counts = df.groupBy($"part_id").count().collect()
      assert(counts.map(_.getLong(1)).sum == 1000L)
      assert(counts.length == 4)
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
    // expression output matches the JVM binary search (and handles null as bucket 0)
    df.collect().foreach(r => assert(r.getInt(0) == EncodeJob.partIdFor(r.getString(1), b)))
    assert(graft.functions.RangeBucketId.bucket(b, null) == 0)
  }

  test("catalyst expressions: sql eg round-trip, graft auto codec, zigzag codegen") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._

    val df = spark.range(0, 1000).select(
      (col("id") % 7).as("g"),
      (col("id") * 31 - 500).as("v"))
    df.createOrReplaceTempView("t")

    // SQL surface: group values into arrays, eg-encode at k=3, decode, explode back
    val rt = spark.sql(
      """SELECT g, explode(eg_decode(eg_encode(vals, 3, 'i64'), 3, 'i64')) AS v
        |FROM (SELECT g, collect_list(v) AS vals FROM t GROUP BY g)""".stripMargin)
    assert(rt.count() == 1000)
    assert(rt.select(sum($"v")).as[Long].head() == df.select(sum($"v")).as[Long].head())

    // auto codec block + codec introspection
    val info = spark.sql(
      """SELECT graft_codec(graft_encode(vals)) AS c,
        |       aggregate(graft_decode(graft_encode(vals)), 0L, (a, x) -> a + x) AS s,
        |       aggregate(vals, 0L, (a, x) -> a + x) AS expected
        |FROM (SELECT collect_list(v) AS vals FROM t)""".stripMargin).head()
    assert(info.getString(0).nonEmpty)
    assert(info.getLong(1) == info.getLong(2))

    // adaptive round-trip via SQL
    val ad = spark.sql(
      """SELECT explode(eg_decode_adaptive(eg_encode_adaptive(vals, 2, 2, 'i64'), 2, 2, 'i64')) AS v
        |FROM (SELECT collect_list(v) AS vals FROM t)""".stripMargin)
    assert(ad.select(sum($"v")).as[Long].head() == df.select(sum($"v")).as[Long].head())

    // zigzag scalar pair stays exact over negatives and stays in codegen
    val zz = spark.sql("SELECT sum(abs(zigzag_decode(zigzag_encode(v)) - v)) FROM t").head().getLong(0)
    assert(zz == 0L)

    // INT input coerces to long before the shifts: without inputTypes the
    // codegen template ran in 32-bit arithmetic (1073741824 << 1 wrapped
    // negative) and the interpreted path threw ClassCastException
    assert(spark.sql("SELECT zigzag_encode(CAST(1073741824 AS INT))")
      .head().getLong(0) == 2147483648L)
    assert(spark.sql("SELECT zigzag_decode(zigzag_encode(CAST(-2147483648 AS INT)))")
      .head().getLong(0) == -2147483648L)
    // wrong arity is a named error, not a raw index exception
    val err = intercept[Exception](spark.sql("SELECT eg_decode_adaptive(X'00', 1, 2)").collect())
    assert(err.getMessage.contains("eg_decode_adaptive"), err.getMessage)

    // string block round trip via SQL
    val strs = spark.sql(
      """SELECT graft_decode_str(graft_encode_str(array('aa','bb','aa',''))) AS xs""").head()
    assert(strs.getSeq[String](0) == Seq("aa", "bb", "aa", ""))
  }

  test("block min/max pruning rule rewrites decode-filters onto metadata") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    // a blocks table with FoR metadata columns
    val dir = freshRoot() + "/blocks"
    Seq(
      (1, 0L, 99L, graft.codec.IntBlockCodec.encode(Array(0L, 50L, 99L), graft.core.PhysicalIntType.I64)),
      (2, 100L, 199L, graft.codec.IntBlockCodec.encode(Array(100L, 150L, 199L), graft.core.PhysicalIntType.I64)))
      .toDF("block_id", "block_min", "block_max", "encoded")
      .write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("blocks")

    val q = spark.sql("SELECT block_id FROM blocks WHERE array_contains(graft_decode(encoded), 150L)")
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("block_min") && optimized.contains("block_max"),
      s"pruning conjuncts missing from plan:\n$optimized")
    // the metadata conjuncts must reach the parquet scan as pushed filters
    val physical = q.queryExecution.executedPlan.toString()
    assert(physical.contains("PushedFilters: [") && physical.contains("block_min"),
      s"metadata filter not pushed to scan:\n$physical")
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(2))

    // dictionary-membership prune: null block_dict rows must PASS (soundness)
    val dictDir = freshRoot() + "/dictblocks"
    Seq(
      (1, Seq(5L, 7L, 9L), graft.codec.IntBlockCodec.encode(Array(5L, 7L, 9L), graft.core.PhysicalIntType.I64)),
      (2, Seq(10L, 20L), graft.codec.IntBlockCodec.encode(Array(10L, 20L), graft.core.PhysicalIntType.I64)),
      (3, null, graft.codec.IntBlockCodec.encode(Array(7L, 100L), graft.core.PhysicalIntType.I64)))
      .toDF("block_id", "block_dict", "encoded")
      .write.parquet(dictDir)
    spark.read.parquet(dictDir).createOrReplaceTempView("dict_blocks")
    val qd = spark.sql("SELECT block_id FROM dict_blocks WHERE array_contains(graft_decode(encoded), 7L)")
    assert(qd.queryExecution.optimizedPlan.toString().contains("block_dict"),
      "dict conjunct missing")
    assert(qd.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3),
      "dict prune must keep dict hit AND null-dict block")

    // soundness: no metadata columns -> rule is a no-op, same results
    val noMeta = spark.read.parquet(dir).select("block_id", "encoded")
    noMeta.createOrReplaceTempView("blocks_nometa")
    val q2 = spark.sql("SELECT block_id FROM blocks_nometa WHERE array_contains(graft_decode(encoded), 150L)")
    assert(q2.collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("planPrunedKeys keeps all groups of a non-selective predicate, exact") {
    import spark.implicits._
    val root = freshRoot()
    val n = 8000L
    EncodeJob.run(spark, Webtext.generate(spark, n, 8), root, parts = 8)
    val entries = SnapshotStore.currentEntries(root)
    val total = DecodeJob.blocks(spark, root).where($"column" === "url").count()

    // an all-matching predicate keeps every group: each part's file is read
    assert(DecodeJob.planPrunedKeys(graft.sources.v2.HadoopSettings(spark), root, entries,
      Seq(DecodeJob.TsRange(Long.MinValue, Long.MaxValue))).length == total)
    // ... and decodeWhere returns the exact row set
    assert(DecodeJob.decodedRows(DecodeJob.decodeWhere(spark, root,
      Seq(DecodeJob.TsRange(Long.MinValue, Long.MaxValue)))) == n)

    // a selective predicate prunes
    val someUrl = Webtext.page(7L).url
    val keys = DecodeJob.planPrunedKeys(graft.sources.v2.HadoopSettings(spark), root, entries,
      Seq(DecodeJob.StrEq("url", someUrl)))
    assert(keys.length >= 1 && keys.length < total)
    assert(DecodeJob.decodedRows(DecodeJob.decodeWhere(spark, root,
      Seq(DecodeJob.StrEq("url", someUrl)))) == 1L)
  }

  test("url prefix and string range predicates prune via block bounds") {
    import spark.implicits._
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 20000L, 8), root, parts = 8)
    val blocksDf = DecodeJob.blocks(spark, root)
    val totalGroups = blocksDf.where($"column" === "url").count()

    // range partitioning on url puts one host prefix in few parts
    val prefix = "https://host-1.example.com/"
    val pKeys = DecodeJob.matchingGroupKeys(spark, root,
      Seq(DecodeJob.StrPrefix("url", prefix))).count()
    assert(pKeys >= 1 && pKeys < totalGroups,
      s"prefix must prune groups: $pKeys of $totalGroups")
    val got = DecodeJob.decodeWhere(spark, root, Seq(DecodeJob.StrPrefix("url", prefix)))
      .toDF().select($"url").as[String].collect().sorted.toSeq
    // expected sides from the written pages: a decode of the store would push
    // the same filter into the same scan
    val written = Webtext.generate(spark, 20000L, 8).toDF()
    val want = written
      .where($"url".startsWith(prefix)).select($"url").as[String].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)

    // string range over urls: bounded interval prunes and equals decode+filter
    val lo = "https://host-0.example.com/"
    val hi = "https://host-1.example.com/\uffff"
    val rKeys = DecodeJob.matchingGroupKeys(spark, root,
      Seq(DecodeJob.StrRange("url", lo, hi))).count()
    assert(rKeys >= 1 && rKeys < totalGroups)
    val gotR = DecodeJob.decodeWhere(spark, root, Seq(DecodeJob.StrRange("url", lo, hi)))
      .toDF().select($"url").as[String].collect().sorted.toSeq
    val wantR = written
      .where($"url".between(lo, hi)).select($"url").as[String].collect().sorted.toSeq
    assert(gotR == wantR && gotR.nonEmpty)

    // projected form accepts the new predicates too
    val cw = DecodeJob.decodeColumnsWhere(spark, root, Seq("url"),
      Seq(DecodeJob.StrPrefix("url", prefix)))
    assert(cw.as[String].collect().sorted.toSeq == got)
  }

  test("prefixSuccessor bounds every prefixed string and nothing less") {
    assert(ExactFilter.prefixSuccessor("abc").contains("abd"))
    assert(ExactFilter.prefixSuccessor("a\u00ff").contains("a\u0100"))
    // only genuinely unrankable trailing chars are dropped before
    // incrementing: U+FFFF and U+D7FF..U+DFFF (increment would land in or
    // start from the surrogate range)
    assert(ExactFilter.prefixSuccessor("ab\uffff").contains("ac"))
    assert(ExactFilter.prefixSuccessor("\uffff\uffff").isEmpty)
    assert(ExactFilter.prefixSuccessor("").isEmpty)
    assert(ExactFilter.prefixSuccessor("a\ud7fe").contains("a\ud7ff"),
      "Hangul-range chars below U+D7FF must increment, not drop")
    assert(ExactFilter.prefixSuccessor("a\ud7ff").contains("b"),
      "U+D7FF increments into surrogates: drop it, rank the previous char")
    assert(ExactFilter.prefixSuccessor("a\ue000").contains("a\ue001"),
      "private-use chars above the surrogates must increment")
    assert(ExactFilter.prefixSuccessor("a\ufffe").contains("a\uffff"))
    // a supplementary char (surrogate pair) drops whole, then ranks 'a'
    assert(ExactFilter.prefixSuccessor("a" + new String(Character.toChars(0x10400)))
      .contains("b"))
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 500) {
      val p = rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
      val s = p + rnd.alphanumeric.take(rnd.nextInt(6)).mkString
      val succ = ExactFilter.prefixSuccessor(p).get
      assert(p <= s && s < succ, s"successor must bound '$s' for prefix '$p'")
    }
  }

  test("statsFast answers count/min/max from metadata without reading encoded") {
    import spark.implicits._
    val root = freshRoot()
    val n = 6000L
    EncodeJob.run(spark, Webtext.generate(spark, n, 4), root, parts = 4)
    val stats = DecodeJob.statsFast(spark, root)
    // the scan must never touch the encoded column (metadata-only fast path)
    val plan = stats.queryExecution.executedPlan.toString()
    val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("encoded")),
      s"statsFast must not read encoded:\n$plan")
    val (cnt, mn, mx) = stats.as[(Long, Long, Long)].head()
    val want = DecodeJob.decode(spark, root).toDF()
      .agg(count(lit(1)), min(unix_micros($"warc_ts")), max(unix_micros($"warc_ts")))
      .as[(Long, Long, Long)].head()
    assert((cnt, mn, mx) == want, s"statsFast $cnt/$mn/$mx != decoded $want")
  }

  test("tombstone sidecars are range-compressed and survive legacy format") {
    val root = freshRoot()
    def entry(id: Int) = SnapshotStore.PartEntry(id, "data/x", 1L, 1L, 1L, "{}")
    // replaced ids must be LIVE (commitReplacing now refuses vanished ids —
    // the concurrent-rewrite duplication guard), so commit them first
    SnapshotStore.commit(root, Seq(3, 4, 5, 9, 6, 10).map(entry))
    SnapshotStore.commitReplacing(root, Seq(entry(100)), Set(3, 4, 5, 9))
    SnapshotStore.commitReplacing(root, Seq.empty, Set(6, 10))
    assert(SnapshotStore.currentTombstones(root) == Set(3, 4, 5, 6, 9, 10))
    val id = SnapshotStore.currentSnapshotId(root).get
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "manifests", s"$id.tombstones")).toArray.toSeq
    assert(lines == Seq("3-6", "9-10"), s"expected range encoding, got $lines")
    // a legacy one-id-per-line sidecar still parses
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "manifests", s"$id.tombstones"),
      "3\n4\n9\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(SnapshotStore.currentTombstones(root) == Set(3, 4, 9))
  }

  test("negative (rehomed) tombstone ids round-trip the range encoding") {
    // compact -> truncate/overwrite -> compact re-homes ids into the NEGATIVE
    // namespace and later tombstones them; the sidecar's "a-b" parser starts
    // its separator search at index 1 to skip the sign ("-3--1"), and a
    // "simplified" indexOf('-') would corrupt every compacted store's lineage
    val root = freshRoot()
    def entry(id: Int) = SnapshotStore.PartEntry(id, "data/x", 1L, 1L, 1L, "{}")
    SnapshotStore.commit(root, Seq(-3, -2, -1, 7).map(entry))
    SnapshotStore.commitReplacing(root, Seq(entry(-10)), Set(-3, -2, -1))
    assert(SnapshotStore.currentTombstones(root) == Set(-3, -2, -1))
    val id = SnapshotStore.currentSnapshotId(root).get
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "manifests", s"$id.tombstones")).toArray.toSeq
    assert(lines == Seq("-3--1"), s"expected negative range encoding, got $lines")
    assert(SnapshotStore.tombstoneCountAt(root, id) == 3L)
    // bare negative id (legacy one-per-line form)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "manifests", s"$id.tombstones"),
      "-5\n-3--2\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(SnapshotStore.currentTombstones(root) == Set(-5, -3, -2))
    assert(SnapshotStore.tombstoneCountAt(root, id) == 3L)
  }

  test("expression surface: null elements reject (eg) or round-trip (graft); types check at analysis") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    // graft_encode/graft_decode carry element nulls via the validity bitmap
    Seq((1, Seq[java.lang.Long](1L, null, 3L))).toDF("id", "vals")
      .createOrReplaceTempView("null_vals")
    val rt = spark.sql("SELECT graft_decode(graft_encode(vals)) AS r FROM null_vals")
      .collect()(0).getSeq[Any](0)
    assert(rt == Seq(1L, null, 3L), s"null element must survive the graft block: $rt")
    // the bare reference bitstream has no validity: loud error, never silent 0
    val e = intercept[Exception] {
      spark.sql("SELECT eg_encode(vals, 3) FROM null_vals").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("NULL"),
      s"eg_encode must name the null element: ${e.getMessage}")
    // wrong argument TYPES fail at analysis, not as per-row ClassCastException
    // (a plain string 'abc' implicitly CASTS to binary now — also an upgrade
    // from the old ClassCastException — so use a genuinely uncastable shape)
    val analysisErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_decode(array(1L, 2L))").collect()
    }
    assert(analysisErr.getMessage.toLowerCase.contains("graft_decode") ||
      analysisErr.getMessage.toLowerCase.contains("binary"))
    // garbage bytes now surface as the typed corrupt-block error (cast path)
    intercept[graft.codec.IntBlockCodec.CorruptBlockException] {
      spark.sql("SELECT graft_decode('abc')").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT eg_encode_adaptive(array(1L), 'x', 2)").collect()
    }
    // 2-arg eg_encode infers the physical type from the element type (matches
    // eg_encode_adaptive); explicit i32 equals the inferred form on int arrays
    Seq((1, Seq(5, 6, 7))).toDF("id", "ivals").createOrReplaceTempView("int_vals")
    val pair = spark.sql(
      "SELECT eg_encode(ivals, 2), eg_encode(ivals, 2, 'i32') FROM int_vals").collect()(0)
    assert(java.util.Arrays.equals(pair.getAs[Array[Byte]](0), pair.getAs[Array[Byte]](1)))
  }

  test("prune rule binds metadata per leaf relation (joins of two block tables)") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    def mk(dir: String, shift: Long): Unit =
      Seq((1, 0L + shift, 99L + shift,
            graft.codec.IntBlockCodec.encode(Array(0L + shift, 50L + shift, 99L + shift), graft.core.PhysicalIntType.I64)),
          (2, 100L + shift, 199L + shift,
            graft.codec.IntBlockCodec.encode(Array(100L + shift, 150L + shift, 199L + shift), graft.core.PhysicalIntType.I64)))
        .toDF("block_id", "block_min", "block_max", "encoded")
        .write.mode("overwrite").parquet(dir)
    val base = freshRoot()
    mk(s"$base/a", 0L); mk(s"$base/b", 1000L)
    spark.read.parquet(s"$base/a").createOrReplaceTempView("blocks_a")
    spark.read.parquet(s"$base/b").createOrReplaceTempView("blocks_b")
    val q = spark.sql(
      """SELECT a.block_id, b.block_id FROM blocks_a a JOIN blocks_b b
        |ON a.block_id = b.block_id
        |WHERE array_contains(graft_decode(a.encoded), 150L)
        |  AND array_contains(graft_decode(b.encoded), 1150L)""".stripMargin)
    val optimized = q.queryExecution.optimizedPlan.toString()
    // BOTH sides' conjuncts must appear (the second table's metadata previously
    // resolved to the first table's attributes and was dropped)
    assert(optimized.contains("150"), s"side-a conjunct missing:\n$optimized")
    val minRefs = "block_min#\\d+".r.findAllIn(optimized).toSeq.distinct
    assert(minRefs.size >= 2,
      s"each join side must get its OWN metadata conjunct, saw $minRefs:\n$optimized")
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((2, 2)))
  }

  test("crash recovery: expiry respects the POINTER, stale sidecars are reconciled") {
    val root = freshRoot()
    val e1 = SnapshotStore.PartEntry(1, "data/d1", 10L, 100L, 50L, "{}")
    SnapshotStore.commit(root, Seq(e1))
    val cur = SnapshotStore.currentSnapshotId(root).get
    // simulate a commit killed AFTER manifest+sidecar write, BEFORE pointer swap
    val mfDir = java.nio.file.Paths.get(root, "manifests")
    val orphanId = cur + 1
    java.nio.file.Files.write(mfDir.resolve(s"$orphanId.jsonl"),
      "{\"part_id\":9,\"data_dir\":\"data/dead\",\"n_rows\":1,\"orig_bytes\":1,\"enc_bytes\":1,\"codecs\":{}}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(mfDir.resolve(s"$orphanId.tombstones"),
      "1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // expiry must keep the POINTED snapshot and remove the aged orphan, never
    // the live manifest (the old listing-based logic kept the orphan instead)
    SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0L)
    assert(SnapshotStore.currentSnapshotId(root).contains(cur))
    assert(SnapshotStore.currentEntries(root).map(_.partId) == Seq(1))
    assert(!java.nio.file.Files.exists(mfDir.resolve(s"$orphanId.jsonl")),
      "aged orphan manifest must be swept")
    // a stale orphan SIDECAR alone must not be adopted by the next commit
    java.nio.file.Files.write(mfDir.resolve(s"${cur + 1}.tombstones"),
      "1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    SnapshotStore.commit(root, Seq(SnapshotStore.PartEntry(2, "data/d2", 5L, 10L, 5L, "{}")))
    assert(SnapshotStore.currentTombstones(root).isEmpty,
      "commit must reconcile (delete) a stale crash-orphaned tombstone sidecar")
  }

  test("crash recovery: orphan sweep judges staged dirs by NEWEST nested mtime") {
    val root = freshRoot()
    SnapshotStore.commit(root, Seq(SnapshotStore.PartEntry(1, "data/d1", 1L, 1L, 1L, "{}")))
    // an in-flight staging: top-level dir is old, nested write is FRESH
    val staged = java.nio.file.Paths.get(root, "data", "in-flight-uuid")
    java.nio.file.Files.createDirectories(staged.resolve("_temporary"))
    java.nio.file.Files.write(staged.resolve("_temporary").resolve("part-0"),
      Array[Byte](1, 2, 3))
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.setLastModifiedTime(staged, old)
    java.nio.file.Files.setLastModifiedTime(staged.resolve("_temporary"), old)
    val res = SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 3600000L)
    assert(java.nio.file.Files.exists(staged),
      s"live in-flight staging must survive the sweep: $res")
    // once the WHOLE tree is aged it is reclaimable
    java.nio.file.Files.setLastModifiedTime(staged.resolve("_temporary").resolve("part-0"), old)
    val res2 = SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 3600000L)
    assert(!java.nio.file.Files.exists(staged), s"aged orphan staging must be swept: $res2")
  }

  test("smaller parts than the persisted range layout fails fast (no silent skips)") {
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 4000, 8), root, parts = 8)
    val e = intercept[IllegalArgumentException] {
      EncodeJob.run(spark, Webtext.generate(spark, 8000, 8), root, parts = 4)
    }
    assert(e.getMessage.contains("parts=4") && e.getMessage.contains("buckets"))
    // equal or larger parts resumes fine
    EncodeJob.run(spark, Webtext.generate(spark, 4000, 8), root, parts = 8)
  }

  test("empty predicate lists degrade to plain decode / projection") {
    import spark.implicits._
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 2000, 4), root, parts = 4)
    assert(DecodeJob.decodedRows(DecodeJob.decodeWhere(spark, root, Seq.empty)) == 2000L)
    val cols = DecodeJob.decodeColumnsWhere(spark, root, Seq("url", "lang"), Seq.empty)
    assert(cols.columns.toSeq == Seq("url", "lang") && DecodeJob.decodedRows(cols) == 2000L)
  }

  test("manifest string escaping round-trips control characters") {
    val root = freshRoot()
    val weird = "data/a\"b\\c\nd\u0001e"
    SnapshotStore.commit(root, Seq(SnapshotStore.PartEntry(1, weird, 1L, 1L, 1L, "{}")))
    assert(SnapshotStore.currentEntries(root).head.dataDir == weird,
      "q()/unescape must be exact inverses")
  }

  test("expiry re-run converges after a crash between data-dir and manifest deletion") {
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 400L, 2), root, 2)
    assert(CompactJob.run(spark, root).partsCompacted == 2) // snapshot 2 re-homes all rows
    // simulate expiry run 1 killed AFTER deleting the dropped snapshot-1 data
    // dirs but BEFORE deleting manifest 1: the re-run recomputes the same drop
    // set and must tolerate the already-missing dirs (a bare Files.size probe
    // bricked every later expiry with NoSuchFileException)
    SnapshotStore.dataDirsAt(root, 1L).foreach { d =>
      val dir = java.nio.file.Paths.get(d)
      val walk = java.nio.file.Files.walk(dir)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
      } finally walk.close()
      all.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val res = SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0L)
    assert(res.removedSnapshots == Seq(1L), s"re-run must finish the interrupted expiry: $res")
    assert(SnapshotStore.snapshotIds(root) == Seq(2L))
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 400L, "current snapshot intact")
  }
}
