package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotStore, Webtext}
import graft.sources.v2.{GraftDataWriter, GraftWriteLayout, HadoopSettings}

/**
 * The batch encode job writes through the V2 writer's task kernel: one part
 * per task, the part's manifest entry folded in-task, and no Spark job after
 * the write. Its blocks must equal what the encode kernel emits for the same
 * sorted rows, and its staging must stay exactly-once under crashed, aborted
 * and zombie attempts.
 */
class EncodeWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("encode-write-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String = Files.createTempDirectory("graft-encode-write-").toString

  /** Seeded pages with a sprinkling of null text/warc_ts/lang (and one null url). */
  private def pages(n: Long): DataFrame = {
    val df = Webtext.generate(spark, n, 8).toDF()
    val h = pmod(xxhash64(col("url")), lit(97))
    df.select(
      when(col("url").endsWith("/7"), lit(null).cast("string")).otherwise(col("url")).as("url"),
      when(h === 3, lit(null).cast("timestamp")).otherwise(col("warc_ts")).as("warc_ts"),
      col("html"),
      when(h === 5, lit(null).cast("string")).otherwise(col("text")).as("text"),
      when(h === 7, lit(null).cast("string")).otherwise(col("lang")).as("lang"))
  }

  /** Comparable view of a block: arrays as sequences. */
  private def norm(b: BlockRow): Seq[Any] = b.productIterator.map {
    case a: Array[_] => a.toSeq
    case Some(a: Array[_]) => Some(a.toSeq)
    case x => x
  }.toSeq

  private def storedBlocks(root: String): Seq[BlockRow] = {
    import spark.implicits._
    DecodeJob.blocks(spark, root).as[BlockRow].collect().toSeq
  }

  test("stageEncode blocks equal encodePartition over the same sorted rows; entries fold from blocks") {
    import spark.implicits._
    for ((n, parts, waves, maxBytes) <- Seq((1500L, 3, 1, 16L * 1024), (1200L, 4, 2, EncodeJob.MaxBlockBytes))) {
      val root = freshRoot()
      val in = pages(n)
      val res = EncodeJob.run(spark, in.as[graft.sources.WebPage], root, parts, waves = waves,
        maxBlockBytes = maxBytes)
      assert(res.nRows == n)
      val boundaries = new String(Files.readAllBytes(Paths.get(root, "BOUNDARIES")), "UTF-8")
        .split("\n").filter(_.nonEmpty)

      // the same rows, bucketed and sorted on the driver, through the kernel
      val rows = EncodeJob.withPartIds(in, boundaries, 0)
        .select(col("part_id"), col("url").cast("binary"),
          coalesce(unix_micros(col("warc_ts")), lit(0L)), col("warc_ts").isNotNull,
          col("html"), col("text").cast("binary"), col("lang").cast("binary"))
        .as[EncodeJob.EncRow].collect()
        .sortWith { (a, b) =>
          if (a._1 != b._1) a._1 < b._1
          else if (a._2 == null || b._2 == null) a._2 == null && b._2 != null
          else java.util.Arrays.compareUnsigned(a._2, b._2) < 0
        }
      val want = EncodeJob.encodePartition(rows.iterator, maxBytes).toSeq
      val got = storedBlocks(root)
      def key(b: BlockRow) = (b.part_id, b.block_seq, b.column)
      assert(got.map(key).sorted == want.map(key).sorted)
      val wantBy = want.map(b => key(b) -> norm(b)).toMap
      got.foreach(b => assert(norm(b) == wantBy(key(b)), s"block ${key(b)} differs"))
      if (maxBytes < EncodeJob.MaxBlockBytes)
        assert(got.map(_.part_id).distinct.forall(p => got.count(b => b.part_id == p &&
          b.column == "url") > 1), "every part must span several blocks")

      // the in-task fold equals a fold over the committed blocks, stats included
      val committed = SnapshotStore.currentEntries(root).sortBy(_.partId)
      val dirOf = committed.map(e => e.partId -> e.dataDir).toMap
      val folded = PartRollup.foldByPart(got.iterator).toSeq.sortBy(_._1)
        .map { case (pid, r) => r.entry(pid, dirOf(pid)) }
      // the fold knows no file: the writer adds its file's name and length
      assert(folded == committed.map(_.copy(file = None, fileLen = 0L)))
      assert(committed.forall(_.stats.isDefined))
      assert(committed.forall(e => e.file.exists(_.endsWith(".graft")) && e.fileLen > 0))
    }
  }

  test("exactly-once staging: crashed, aborted and zombie attempts never become readable") {
    val root = freshRoot()
    val (relDir, absDir) = SnapshotStore.newDataDir(root)
    val settings = HadoopSettings(spark)
    // task rows: the page columns, then part_id; part 0 = urls 0..119, part 1 = 200..279
    def rows(part: Int, ids: Range): Iterator[InternalRow] = ids.iterator.map { i =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(f"https://w.example.com/$i%05d"),
        1735689600000000L + i * 1000000L,
        Array[Byte](1, 2, 3),
        UTF8String.fromString(s"text $i"),
        UTF8String.fromString("en"),
        part))
    }
    def task(partition: Int, attempt: Long, it: Iterator[InternalRow]) =
      EncodeJob.encodeTask(absDir, settings, EncodeJob.MaxBlockBytes, partition, attempt, it).toSeq

    // attempt 1 of partition 0 crashes mid-write (after staging a partial block)
    GraftDataWriter.failNextWriteOnce.set(true)
    val ex = intercept[RuntimeException](task(0, 100L, rows(0, 0 until 120)))
    assert(ex.getMessage.contains("injected"))
    // attempt 1 of partition 1 is killed mid-stream and aborts
    val killed = rows(1, 200 until 280).zipWithIndex.map { case (r, i) =>
      if (i == 70) throw new InterruptedException("task killed") else r
    }
    intercept[InterruptedException](task(1, 101L, killed))
    // an attempt of partition 0 stages a whole file but its result is lost
    val lost = task(0, 102L, rows(0, 0 until 120))
    assert(lost.size == 1)
    // the accepted attempts
    val m0 = task(0, 103L, rows(0, 0 until 120))
    val m1 = task(1, 104L, rows(1, 200 until 280))
    assert(task(2, 105L, Iterator.empty).isEmpty, "an empty task stages nothing")
    // a task handed two parts refuses to mix them (and deletes its staging)
    val mixed = intercept[IllegalArgumentException](
      task(3, 107L, rows(0, 0 until 10) ++ rows(1, 300 until 310)))
    assert(mixed.getMessage.contains("got parts 0 and 1"))
    assert(!Files.exists(Paths.get(absDir,
      GraftDataWriter.stagedName(GraftDataWriter.fileNameFor(0, 107L)))))

    val msgs = m0 ++ m1
    GraftWriteLayout.publish(absDir, msgs)
    // a zombie twin of partition 1 finishes AFTER the driver's promotion
    val zombie = task(1, 106L, rows(1, 200 until 280))
    assert(zombie.size == 1 &&
      Files.exists(Paths.get(absDir, GraftDataWriter.stagedName(zombie.head.fileName))),
      "the zombie really staged its file")
    SnapshotStore.commit(root, GraftWriteLayout.entriesFrom(msgs, relDir))

    val visible = SnapshotStore.listFileNames(Paths.get(absDir)).filter(_.endsWith(".graft"))
    assert(visible.sorted == msgs.map(_.fileName).sorted,
      s"one readable file per part, and only the accepted attempts': $visible")
    assert(SnapshotStore.currentEntries(root).map(e => e.partId -> e.nRows).sorted ==
      Seq(0 -> 120L, 1 -> 80L))
    val decoded = DecodeJob.decode(spark, root).toDF()
    assert(DecodeJob.decodedRows(decoded) == 200L)
    assert(decoded.agg(countDistinct(col("url"))).collect()(0).getLong(0) == 200L,
      "no duplicated rows from lost or zombie attempts")
    // block files bypass the local file system's checksums: no `.crc` sidecars
    val dir = Paths.get(absDir)
    assert(!SnapshotStore.listFileNames(dir).exists(_.endsWith(".crc")))
    // expiry reclaims the zombie's staging, and the checksum sidecar a staged
    // file written through the checksummed file system left beside it
    Files.write(dir.resolve("." + GraftDataWriter.stagedName(GraftDataWriter.fileNameFor(1, 99L)) + ".crc"),
      Array[Byte](1))
    SnapshotStore.expireSnapshots(root, orphanGraceMs = 0L)
    assert(SnapshotStore.listFileNames(dir).sorted == msgs.map(_.fileName).sorted)
  }

  /** Jobs started while `body` runs, in order: (job id, stage count, tasks of
    * the job's last stage), bracketed by marker jobs. */
  private def jobsOf[T](body: => T): (T, Seq[(Int, Int, Int)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Int, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val last = e.stageInfos.maxBy(_.stageId)
        jobs.add((e.jobId, e.stageInfos.size, last.numTasks,
          Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.marker"))).orNull))
      }
    }
    sc.addSparkListener(l)
    def marker(name: String): Unit = {
      sc.setLocalProperty("graft.test.marker", name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
    }
    try {
      marker("before")
      val out = body
      marker("after")
      val deadline = System.currentTimeMillis() + 30000L
      def markers = jobs.toArray(Array.empty[(Int, Int, Int, String)]).filter(_._4 != null)
      while (markers.length < 2 && System.currentTimeMillis() < deadline) Thread.sleep(10)
      val Array(before, after) = markers.sortBy(_._1).map(_._1)
      val all = jobs.toArray(Array.empty[(Int, Int, Int, String)]).toSeq
      (out, all.filter(j => j._1 > before && j._1 < after).sortBy(_._1).map(j => (j._1, j._2, j._3)))
    } finally sc.removeSparkListener(l)
  }

  test("job shape: no Spark job after the encode write; one write task per pending part") {
    import spark.implicits._
    val root = freshRoot()
    val pagesDs = Webtext.generate(spark, 4000L, 8)
    val (res, jobs) = jobsOf(EncodeJob.run(spark, pagesDs, root, parts = 8))
    assert(res.partsEncoded == 8 && res.nRows == 4000L)
    // the write is the job that reads the exchange: a shuffle map stage
    // feeding the result stage whose tasks write the parts
    val writes = jobs.filter(_._2 >= 2)
    assert(writes.nonEmpty, s"no encode-write job among $jobs")
    assert(writes.last._3 == 8, s"one write task per pending part: $jobs")
    assert(jobs.last == writes.last, s"jobs started after the encode write: $jobs")
    // resume with no pending part runs no encode job at all
    val (again, noJobs) = jobsOf(EncodeJob.run(spark, pagesDs, root, parts = 8))
    assert(again.partsEncoded == 0)
    assert(noJobs.isEmpty, s"a fully encoded store must not be re-scanned: $noJobs")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root).as[graft.sources.WebPage]) == 4000L)
  }

  test("resume whose pending part ids are not contiguous encodes exactly the gaps") {
    val root = freshRoot()
    val n = 4000L
    val in = Webtext.generate(spark, n, 8)
    // waves of two parts, one committed: parts 0-1
    EncodeJob.run(spark, in, root, parts = 8, waves = 4, maxWaves = 1)
    // parts 4-5 committed out of order, as one wave over that window
    val boundaries = new String(Files.readAllBytes(Paths.get(root, "BOUNDARIES")), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    val (_, entries, _) = EncodeJob.stageEncode(spark,
      EncodeJob.withPartIds(in.toDF(), boundaries, 0).where(col("part_id").isin(4, 5)), 2, root)
    assert(entries.map(_.partId) == Seq(4, 5))
    SnapshotStore.commit(root, entries)
    assert(SnapshotStore.committedPartIds(root) == Set(0, 1, 4, 5))

    val resumed = EncodeJob.run(spark, in, root, parts = 8)
    assert(resumed.partsEncoded == 4, "resume encodes parts 2, 3, 6 and 7 only")
    assert(SnapshotStore.committedPartIds(root) == (0 until 8).toSet)
    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == n, "no dupes, no gaps")
    assert(decoded.select("url").distinct().count() == n)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 8), decoded) == 0L)
  }
}
