package graft.sources.v2

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.HeadFormatStore
import graft.jobs.{CompactJob, DecodeJob, EncodeJob}
import graft.sources.{SnapshotStore, WebPage, Webtext}

/**
 * Native block files ([[BlockFile]]): stores written before them stay
 * readable and writable beside them, corrupt or truncated files fail with a
 * typed IOException that names the file, and the I/O a scan makes is what
 * the manifest and the footers say it needs.
 */
class NativeBlockFileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("native-block-file-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String = Files.createTempDirectory("graft-native-").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.mkString(",")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def pagesDf(pages: Seq[WebPage]): DataFrame = {
    import spark.implicits._
    pages.toDS().toDF()
  }

  private def graftDf(root: String): DataFrame = spark.read.format("graft").load(root)

  // ---------------- stores written before native block files ----------------

  test("a HEAD-format store reads identically through V2 SQL and DecodeJob") {
    val root = HeadFormatStore.copy()
    assert(SnapshotStore.currentEntries(root).forall(_.file.isEmpty), "fixture lines name no file")
    val want = sortedRows(pagesDf(HeadFormatStore.pages))
    assert(want.size == 339)
    assert(sortedRows(graftDf(root)) == want)
    assert(sortedRows(DecodeJob.decode(spark, root).toDF()) == want)
    // the block metadata of the live parts only: the DELETE's replaced part
    // still has its file in a dir another part references
    val live = SnapshotStore.currentEntries(root).map(_.partId).toSet
    val blockParts = DecodeJob.blocks(spark, root).select("part_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(blockParts == live)
    assert(DecodeJob.blocks(spark, root).where(col("column") === "url").count() ==
      SnapshotStore.currentEntries(root).map(_.stats.get.nGroups).sum)
  }

  test("a HEAD-format store takes a native append; pruned, pushed and top-n reads stay exact") {
    import spark.implicits._
    val root = HeadFormatStore.copy()
    val extra = (2000L until 2400L).map(Webtext.page)
    spark.conf.set("spark.graft.write.partitions", "2")
    try extra.toDS().write.format("graft").mode("append").save(root)
    finally spark.conf.unset("spark.graft.write.partitions")
    val entries = SnapshotStore.currentEntries(root)
    assert(entries.exists(_.file.isEmpty) && entries.exists(_.file.isDefined), "a mixed store")
    val all = pagesDf(HeadFormatStore.pages ++ extra)
    assert(sortedRows(graftDf(root)) == sortedRows(all))
    // planned at the default break-even cutoff: the gate counts each part's
    // groups from its manifest stats
    val prefix = "https://host-1."
    val pruned = col("url").startsWith(prefix) && col("lang") === "en"
    assert(sortedRows(graftDf(root).where(pruned).select("url")) ==
      sortedRows(all.where(pruned).select("url")))
    val kept = GraftDataSource.planStatsFor(root).get.prunedGroupKeys
    assert(kept.exists(k => k >= 1 && k < entries.map(_.stats.get.nGroups).sum), s"kept $kept")
    assert(sortedRows(DecodeJob.decodeWhere(spark, root,
      Seq(DecodeJob.StrPrefix("url", prefix))).toDF()) ==
      sortedRows(all.where(col("url").startsWith(prefix))))
    val lo = new java.sql.Timestamp(extra.map(_.warc_ts.getTime).min)
    val hi = new java.sql.Timestamp(lo.getTime + 3L * 86400000L)
    val pushed = col("warc_ts").between(lo, hi)
    assert(sortedRows(graftDf(root).where(pushed).select("url", "warc_ts")) ==
      sortedRows(all.where(pushed).select("url", "warc_ts")))
    val topN = graftDf(root).orderBy(col("url")).limit(25).select("url").collect().map(_.getString(0))
    assert(topN.toSeq == all.orderBy(col("url")).limit(25).select("url").collect()
      .map(_.getString(0)).toSeq)
    assert(GraftDataSource.planStatsFor(root).get.pushedTopN.isDefined)
    // block metadata spans both layouts
    assert(DecodeJob.blocks(spark, root).where(col("column") === "url").count() ==
      entries.map(_.stats.get.nGroups).sum)
  }

  test("UPDATE, MERGE and DELETE work on a HEAD-format store") {
    val root = HeadFormatStore.copy()
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val v = s"graftcat.`$root`"
    var want = pagesDf(HeadFormatStore.pages)
    val some = HeadFormatStore.pages.map(_.url).sorted
    spark.sql(s"UPDATE $v SET lang = 'xx' WHERE url <= '${some(40)}'")
    want = want.withColumn("lang", when(col("url") <= some(40), lit("xx")).otherwise(col("lang")))
    assert(sortedRows(graftDf(root)) == sortedRows(want))

    import spark.implicits._
    Seq(some(100), some(200), "zzz://new/1").toDF("url").createOrReplaceTempView("head_merge_src")
    spark.sql(
      s"""MERGE INTO $v t USING head_merge_src s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET text = 'merged'
         |WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
         |  VALUES (s.url, timestamp'2020-01-01 00:00:00', cast('h' as binary), 'new', 'nw')
         |""".stripMargin)
    want = want.withColumn("text",
        when(col("url").isin(some(100), some(200)), lit("merged")).otherwise(col("text")))
      .unionByName(Seq(("zzz://new/1", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        "h".getBytes("UTF-8"), "new", "nw")).toDF("url", "warc_ts", "html", "text", "lang"))
    assert(sortedRows(graftDf(root)) == sortedRows(want))

    spark.sql(s"DELETE FROM $v WHERE lang = 'de'")
    want = want.where(!(col("lang") <=> lit("de")))
    assert(sortedRows(graftDf(root)) == sortedRows(want))
    assert(sortedRows(DecodeJob.decode(spark, root).toDF()) == sortedRows(want))
  }

  test("CompactJob leaves a HEAD-format store with native files only") {
    val root = HeadFormatStore.copy()
    val res = CompactJob.run(spark, root, minRows = Long.MaxValue)
    assert(res.partsCompacted == 3)
    val entries = SnapshotStore.currentEntries(root)
    assert(entries.nonEmpty && entries.forall(e => e.file.exists(_.endsWith(".graft"))))
    entries.foreach { e =>
      assert(Files.size(Paths.get(root, e.dataDir, e.file.get)) == e.fileLen)
    }
    assert(sortedRows(graftDf(root)) == sortedRows(pagesDf(HeadFormatStore.pages)))
  }

  // ---------------- corrupt and truncated native files ----------------

  /** A one-part native store of several block groups; returns (root, its entry, file bytes). */
  private lazy val sample: (String, SnapshotStore.PartEntry, Array[Byte]) = {
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 300L, 2), root, parts = 1,
      maxBlockBytes = 64L * 1024)
    val Seq(e) = SnapshotStore.currentEntries(root)
    (root, e, Files.readAllBytes(Paths.get(root, e.dataDir, e.file.get)))
  }

  private val conf = new org.apache.hadoop.conf.Configuration()

  /** Reads `bytes` as the sample part's file, its manifest length `len`. */
  private def readAs(bytes: Array[Byte], len: Long): Array[graft.jobs.BlockRow] = {
    val f = Files.createTempFile("graft-corrupt-", "-p" + sample._2.partId)
    Files.write(f, bytes)
    try BlockFile.readAll(f.toString, len, sample._2.partId, conf, withEncoded = true)
    finally Files.delete(f)
  }

  /** The read must fail with the typed error, naming the file. */
  private def corrupt(bytes: Array[Byte], len: Long): String = {
    val e = intercept[BlockFile.CorruptBlockFileException](readAs(bytes, len))
    assert(e.getMessage.contains(e.file) && e.file.contains("graft-corrupt-"), e.getMessage)
    e.getMessage
  }

  private def i32At(b: Array[Byte], at: Int): Int = java.nio.ByteBuffer.wrap(b, at, 4).getInt

  private def patched(b: Array[Byte], at: Int, v: Int): Array[Byte] = {
    val c = b.clone()
    java.nio.ByteBuffer.wrap(c).putInt(at, v)
    c
  }

  private def patchedLong(b: Array[Byte], at: Int, v: Long): Array[Byte] = {
    val c = b.clone()
    java.nio.ByteBuffer.wrap(c).putLong(at, v)
    c
  }

  test("a native file's footer round-trips every block of the part") {
    val (_, e, bytes) = sample
    assert(e.fileLen == bytes.length)
    val blocks = readAs(bytes, bytes.length)
    assert(blocks.map(_.block_seq).distinct.length > 2, "several groups")
    val stored = {
      import spark.implicits._
      DecodeJob.blocks(spark, sample._1).as[graft.jobs.BlockRow].collect()
    }
    def norm(b: graft.jobs.BlockRow): Seq[Any] = b.productIterator.map {
      case a: Array[_] => a.toSeq
      case Some(a: Array[_]) => Some(a.toSeq)
      case x => x
    }.toSeq
    assert(blocks.map(norm).toSeq == stored.map(norm).toSeq)
  }

  test("truncation at every byte of the footer region fails loudly") {
    val bytes = sample._3
    val footerLen = i32At(bytes, bytes.length - 8)
    val footerStart = bytes.length - 8 - footerLen
    (footerStart until bytes.length).foreach { cut =>
      val cutBytes = java.util.Arrays.copyOf(bytes, cut)
      // the manifest still names the whole length: a short read
      assert(corrupt(cutBytes, bytes.length).contains("short read"))
      // a manifest that agrees with the cut: the footer no longer parses
      corrupt(cutBytes, cut)
    }
  }

  test("forged footer lengths, offsets, magics and versions fail loudly") {
    val bytes = sample._3
    val n = bytes.length
    val footerLen = i32At(bytes, n - 8)
    val footerStart = n - 8 - footerLen
    assert(corrupt(patched(bytes, n - 8, n + 100), n).contains("footer length"))
    assert(corrupt(patched(bytes, n - 8, Int.MaxValue), n).contains("footer length"))
    assert(corrupt(patched(bytes, n - 8, -1), n).contains("footer length"))
    assert(corrupt(patched(bytes, n - 4, 0x12345678), n).contains("trailer magic"))
    assert(corrupt(patched(bytes, footerStart, 0x12345678), n).contains("footer magic"))
    assert(corrupt(patched(bytes, footerStart + 4, 2), n).contains("version"))
    assert(corrupt(patched(bytes, footerStart + 8, sample._2.partId + 1), n).contains("part"))
    // the last entry ends the footer: offset i64 then length i32
    val lastOffset = n - 8 - 12
    val lastLength = n - 8 - 4
    Seq(footerStart.toLong, -1L, Long.MaxValue - 2, (footerStart - 1).toLong).foreach { off =>
      assert(corrupt(patchedLong(bytes, lastOffset, off), n).contains("outside the data region"))
    }
    Seq(footerStart + 1, -5, Int.MaxValue).foreach { len =>
      assert(corrupt(patched(bytes, lastLength, len), n).contains("outside the data region"))
    }
    // an entry count past what the footer can hold, and a forged string length
    assert(corrupt(patched(bytes, footerStart + 12, Int.MaxValue), n).contains("needs"))
    assert(corrupt(patched(bytes, footerStart + 20, 1 << 30), n).contains("needs"))
    // a manifest length far beyond the file: one bounded tail read, then the error
    corrupt(bytes, 1L << 40)
    corrupt(bytes, 3L)
  }

  test("fuzz: bit flips and truncations of a native file fail typed or read in bounds") {
    val bytes = sample._3
    val rnd = new scala.util.Random(11)
    val footerStart = bytes.length - 8 - i32At(bytes, bytes.length - 8)
    def attempt(b: Array[Byte], len: Long): Unit =
      try readAs(b, len).foreach(r => assert(r.encoded != null && r.encoded.length <= len))
      catch { case _: BlockFile.CorruptBlockFileException => () }
    for (_ <- 0 until 300) {
      val c = bytes.clone()
      for (_ <- 0 to rnd.nextInt(3)) {
        // mostly in the footer and trailer, where the reader trusts nothing
        val p = if (rnd.nextInt(4) == 0) rnd.nextInt(c.length)
          else footerStart + rnd.nextInt(c.length - footerStart)
        c(p) = (c(p) ^ (1 << rnd.nextInt(8))).toByte
      }
      attempt(c, c.length)
    }
    for (_ <- 0 until 100) {
      val cut = rnd.nextInt(bytes.length)
      attempt(java.util.Arrays.copyOf(bytes, cut), cut)
    }
  }

  test("a group missing a requested column fails with the layout error naming the file") {
    val (root, e, _) = sample
    val path = Paths.get(root, e.dataDir, e.file.get).toString
    val kept = BlockFile.readAll(path, e.fileLen, e.partId, conf, withEncoded = true)
      .filterNot(b => b.block_seq == 1 && b.column == "lang")
    val f = Files.createTempDirectory("graft-missing-").resolve(e.file.get)
    val w = new BlockFile.Writer(org.apache.hadoop.fs.FileSystem.getLocal(conf).getRawFileSystem
      .create(new org.apache.hadoop.fs.Path(f.toString), true), e.partId)
    kept.foreach(w.add)
    val len = w.finish()
    def only(cols: String*) = org.apache.spark.sql.types.StructType(
      GraftDataSource.PageSchema.fields.filter(f => cols.contains(f.name)))
    def readAll(cols: org.apache.spark.sql.types.StructType): Int = {
      val r = new GraftPartitionReader(GraftInputPartition(Array(f.toString), Array(len), cols,
        "url", Array(e.partId), null, columnar = false), conf)
      try { var n = 0; while (r.next()) n += 1; n } finally r.close()
    }
    val err = intercept[java.io.IOException](readAll(only("url", "lang")))
    assert(err.getMessage.contains("corrupt or foreign store layout") &&
      err.getMessage.contains(f.toString), err.getMessage)
    // a read that does not ask for the missing column is whole
    assert(readAll(only("url")) == 300)
  }

  // ---------------- the I/O a native scan makes ----------------

  /** Runs `body` with [[CountingLocalFileSystem]] as the session's file system. */
  private def counting[T](body: => T): T = {
    spark.conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    CountingLocalFileSystem.reset()
    try body
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  private def plannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputPartitions }
      .flatten.flatMap(_.asInstanceOf[GraftInputPartition].files)

  private lazy val fiveColumnStore: String = {
    val r = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, 8000L, 4), r, parts = 4)
    r
  }

  test("planning a native store lists no directory; a HEAD-format store still lists") {
    val r = fiveColumnStore
    counting {
      val full = plannedFiles(graftDf(r))
      val sel = plannedFiles(graftDf(r).where(col("url").startsWith("https://host-1.")))
      assert(full.size == 4 && sel.nonEmpty)
      assert(CountingLocalFileSystem.listings.isEmpty,
        s"native planning listed ${CountingLocalFileSystem.listings}")
    }
    val head = HeadFormatStore.copy()
    counting {
      assert(plannedFiles(graftDf(head)).nonEmpty)
      assert(CountingLocalFileSystem.listings.size() > 0, "the HEAD-format store is listed")
    }
  }

  test("a scan opens each planned file exactly once") {
    val r = fiveColumnStore
    Seq[DataFrame => DataFrame](
      identity,
      _.select("url", "lang"),
      _.where(col("url").startsWith("https://host-1.") && col("lang") === "en").select("url"),
      _.select(col("lang")).where(col("lang") === "de")).foreach { q =>
      counting {
        val df = q(graftDf(r))
        val planned = plannedFiles(df)
        df.collect()
        def pathOf(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
        val opened = CountingLocalFileSystem.opened.toArray.map(_.toString)
          .filter(_.contains(r)).toSeq.map(pathOf)
        assert(planned.nonEmpty && opened.sorted == planned.map(pathOf).sorted,
          s"opened $opened, planned $planned")
        assert(opened.distinct.size == opened.size, s"a file opened twice: $opened")
      }
    }
  }

  test("a lang-only scan reads under 5% of a 5-column store's file bytes") {
    val r = fiveColumnStore
    val fileBytes = SnapshotStore.currentEntries(r).map(_.fileLen).sum
    counting {
      val langs = graftDf(r).select("lang").collect()
      assert(langs.length == 8000)
      val read = CountingLocalFileSystem.bytesRead.get()
      assert(read > 0 && read < fileBytes * 0.05,
        s"a lang-only scan read $read of $fileBytes file bytes")
    }
  }
}
