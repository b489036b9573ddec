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
 * Native block files ([[BlockFile]]): a store written before them is refused
 * until one compaction copies its blocks into them unchanged, corrupt or
 * truncated files fail with a typed IOException that names the file, and the
 * I/O a scan makes is what the manifest and the footers say it needs.
 */
class NativeBlockFileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark()

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

  /** (column, SHA-256 of `encoded`, n, codec) of every block, as a sorted list. */
  private def blockDigests(blocks: DataFrame): Seq[String] =
    blocks.select(col("column"), sha2(col("encoded"), 256), col("n"), col("codec"))
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** What a manifest line says of its part's rows, besides where they live. */
  private def partFacts(e: SnapshotStore.PartEntry) =
    (e.nRows, e.origBytes, e.encBytes, e.codecsJson, e.stats)

  test("CompactJob upgrades a HEAD-format store by copying its blocks unchanged") {
    val root = HeadFormatStore.copy()
    val before = SnapshotStore.currentEntries(root)
    assert(before.nonEmpty && before.forall(_.file.isEmpty), "fixture lines name no file")
    // the fixture's live parquet rows: the DELETE's replaced part still has
    // its file in a dir another part references
    val parquetDigests = blockDigests(spark.read.parquet(before.map(_.dataDir).distinct
      .map(d => Paths.get(root, d).toString): _*).where(col("part_id").isin(before.map(_.partId): _*)))
    val snap = SnapshotStore.currentSnapshotId(root).get
    val res = CompactJob.run(spark, root, minRows = 0L)
    assert(res.snapshotId == snap + 1 && res.partsCompacted == 0)
    assert(SnapshotStore.isRehomedCommit(root, res.snapshotId), "streams skip the upgrade")
    val after = SnapshotStore.currentEntries(root)
    assert(after.size == before.size && after.forall(e => e.file.exists(_.endsWith(".graft"))))
    after.foreach { e =>
      assert(Files.size(Paths.get(root, e.dataDir, e.file.get)) == e.fileLen)
    }
    assert(after.map(partFacts).sortBy(_.toString) == before.map(partFacts).sortBy(_.toString),
      "each part keeps its row count, byte counts, codecs and stats")
    assert(blockDigests(DecodeJob.blocks(spark, root)) == parquetDigests)
    val blockParts = DecodeJob.blocks(spark, root).select("part_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(blockParts == after.map(_.partId).toSet)
    assert(DecodeJob.blocks(spark, root).where(col("column") === "url").count() ==
      after.map(_.stats.get.nGroups).sum)
    val want = sortedRows(pagesDf(HeadFormatStore.pages))
    assert(want.size == 339)
    assert(sortedRows(graftDf(root)) == want)
    assert(sortedRows(DecodeJob.decode(spark, root).toDF()) == want)
    // every part names a file now: no job, no commit
    assert(CompactJob.run(spark, root, minRows = 0L).snapshotId == res.snapshotId)
    assert(SnapshotStore.currentSnapshotId(root).contains(res.snapshotId))
  }

  test("a part that names no file is refused before any listing or open") {
    val root = HeadFormatStore.copy()
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    def refused(read: => Any): Unit = {
      val e = intercept[Exception](read)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(s"store at $root") && m.contains("part ") &&
        m.contains("CompactJob.run") && m.contains("CALL graftcat.system.compact")),
        s"not the refusal: $e")
    }
    counting {
      refused(graftDf(root).collect())
      refused(DecodeJob.decode(spark, root).collect())
      refused(spark.sql(s"DELETE FROM graftcat.`$root` WHERE lang = 'de'"))
      assert(CountingLocalFileSystem.listings.isEmpty,
        s"listed ${CountingLocalFileSystem.listings}")
      assert(CountingLocalFileSystem.opened.isEmpty, s"opened ${CountingLocalFileSystem.opened}")
    }
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
        "url", null), conf)
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

  test("planning a native store lists no directory") {
    val r = fiveColumnStore
    counting {
      val full = plannedFiles(graftDf(r))
      val sel = plannedFiles(graftDf(r).where(col("url").startsWith("https://host-1.")))
      assert(full.size == 4 && sel.nonEmpty)
      assert(CountingLocalFileSystem.listings.isEmpty,
        s"native planning listed ${CountingLocalFileSystem.listings}")
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
