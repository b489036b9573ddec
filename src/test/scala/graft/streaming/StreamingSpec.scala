package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.DecodeJob
import graft.sources.{SnapshotStore, Webtext}

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark()

  private def tmp(): String = Files.createTempDirectory("graft-stream-").toString + "/d"

  test("streaming encode commits snapshots per micro-batch and decodes byte-identically") {
    import spark.implicits._
    val n = 6000L
    val src = tmp()
    // three parquet files = micro-batch input (maxFilesPerTrigger drives batching)
    Webtext.generate(spark, n, 3).write.parquet(src)

    val root = tmp()
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = StreamingEncode.encodeStream(stream, root, parts = 4, checkpointDir = tmp())
    q.awaitTermination(120000)

    assert(SnapshotStore.currentSnapshotId(root).exists(_ >= 1L))
    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == n)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 3), decoded) == 0L)
  }

  test("encodeStream and writeStream.format(graft) commit the same store, and share checkpoints") {
    val n = 3000L
    val src = tmp()
    Webtext.generate(spark, n, 3).write.parquet(src)
    def stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    // returns the source rows the query read (the range exchange's sample
    // pass reads each batch once more)
    def viaSink(root: String, ckpt: String): Long = {
      val q = stream.writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(root)
      try assert(q.awaitTermination(120000)) finally if (q.isActive) q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    val rootA = tmp(); val ckptA = tmp()
    assert(StreamingEncode.encodeStream(stream, rootA, parts = 2, ckptA).awaitTermination(120000))
    val rootB = tmp()
    spark.conf.set("spark.graft.write.partitions", "2")
    try viaSink(rootB, tmp())
    finally spark.conf.unset("spark.graft.write.partitions")

    def partIds(root: String) = SnapshotStore.currentEntries(root).map(_.partId).sorted
    def epochRows(root: String) = new String(
      Files.readAllBytes(java.nio.file.Paths.get(root, "EPOCH_ROWS")), "UTF-8")
    assert(partIds(rootA) == (0 until 6) && partIds(rootB) == partIds(rootA))
    assert(epochRows(rootA).linesIterator.size == 3)
    assert(epochRows(rootB) == epochRows(rootA))
    val a = DecodeJob.decode(spark, rootA).toDF()
    val b = DecodeJob.decode(spark, rootB).toDF()
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, rootA)) == n)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // restart A's checkpoint through the sink with its last batch uncommitted
    // in the checkpoint: the batch replays, and the store drops it
    val snap = SnapshotStore.currentSnapshotId(rootA)
    Seq("2", ".2.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(ckptA, "commits", f)))
    assert(viaSink(rootA, ckptA) > 0L, "the last batch must replay")
    assert(SnapshotStore.currentSnapshotId(rootA) == snap)
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, rootA)) == n)
  }

  test("lost-checkpoint streaming replay after compaction stays exactly-once") {
    import spark.implicits._
    val n = 4000L
    val src = tmp()
    Webtext.generate(spark, n, 4).write.parquet(src)
    val root = tmp()
    def schema = spark.read.parquet(src).schema
    def runStream(ckpt: String): Unit =
      StreamingEncode.encodeStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        root, parts = 2, ckpt).awaitTermination(120000)

    runStream(tmp())
    // compaction merges the micro-batch fragments and REMOVES their ids from
    // the live entry list; tombstones must keep them visible as committed
    assert(graft.jobs.CompactJob.run(spark, root, minRows = Long.MaxValue).partsCompacted >= 4)

    // a LOST checkpoint restarts batch ids at 0 — every batch replays with its
    // original part-id namespace; the manifest anti-join must drop them all
    runStream(tmp())
    val decoded = DecodeJob.decode(spark, root)
    assert(DecodeJob.decodedRows(decoded) == n, "replayed batches must not re-append rows")
    assert(decoded.select("url").distinct().count() == n)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, n, 4), decoded) == 0L)
  }

  test("watermarked windowed lang counts over a streamed source match batch") {
    import spark.implicits._
    val n = 4000L
    val src = tmp()
    // a single file -> a single micro-batch, so no cross-batch late data: closed
    // windows carry complete counts and must match the batch aggregation exactly
    Webtext.generate(spark, n, 2).coalesce(1).write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
    val agg = StreamingEncode.windowedLangCounts(stream)
    val q = agg.writeStream.outputMode("append").format("memory").queryName("lang_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode emits windows only after the watermark passes; with AvailableNow the
    // final watermark is max(event time) - 1h, so compare against batch for closed windows
    val streamed = spark.sql("SELECT * FROM lang_counts")
    val batch = StreamingEncode.windowedLangCounts(
      spark.read.parquet(src), watermark = "0 seconds")
    val maxTs = spark.read.parquet(src).agg(max(col("warc_ts").cast("timestamp"))).head().getTimestamp(0)
    // emitted iff window END <= watermark (= maxTs - 1h) -> start <= maxTs - 2h
    val cutoff = new java.sql.Timestamp(maxTs.getTime - 2 * 3600 * 1000)
    val closedBatch = batch.where(col("ws") <= cutoff)
    val closedStream = streamed.where(col("ws") <= cutoff)
    assert(closedStream.exceptAll(closedBatch).count() == 0)
    assert(closedBatch.exceptAll(closedStream).count() == 0)
    assert(closedStream.count() > 0)
  }

  test("stateful streaming dedup emits first occurrence per fingerprint") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[StreamingEncode.DedupIn]
    val src = tmp()
    // 20 distinct fingerprints, each repeated 5 times
    (0 until 100).map(i => StreamingEncode.DedupIn((i % 20).toLong, s"u$i"))
      .toDS().write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
      .as[StreamingEncode.DedupIn]
    // ttlMs <= 0 -> NoTimeout: the TTL path's ProcessingTimeTimeout trips a Spark 4.1
    // internal NPE on AvailableNow's extra timeout batch (documented on dedupStream)
    val out = StreamingEncode.dedupStream(stream, ttlMs = 0)
    val q = out.writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT fp FROM dedup_out").as[Long].collect().sorted
    assert(got.length == 20)
    assert(got.toSeq == (0L until 20L))
  }

  test("append-mode window DROPS a late row behind the watermark, emits closed windows") {
    val dir = tmp()
    val src = s"$dir/src"
    // batch 1: 4 hour-buckets x 10 rows; buckets 0/2 all-en, 1/3 all-de
    val b1 = spark.range(40).select(
      concat(lit("u"), col("id")).as("url"),
      timestamp_seconds(lit(1600000000L) + (col("id") % 4) * 3600L).as("warc_ts"),
      lit(null).cast("binary").as("html"),
      lit("t").as("text"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"))
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    def age(ms: Long): Unit = {
      val t = java.nio.file.attribute.FileTime.fromMillis(ms)
      java.nio.file.Files.list(java.nio.file.Paths.get(src)).forEach(f =>
        if (java.nio.file.Files.getLastModifiedTime(f).toMillis > ms)
          java.nio.file.Files.setLastModifiedTime(f, t))
    }
    val now = System.currentTimeMillis()
    age(now - 120000L)
    // batch 2: a far-future sentinel. Spark filters batch N's late rows with
    // batch N-1's watermark (two-watermark design, SPARK-39931), so the sentinel
    // first ADVANCES the watermark...
    spark.range(1).select(
      lit("sentinel").as("url"), timestamp_seconds(lit(1600000000L + 400L * 3600L)).as("warc_ts"),
      lit(null).cast("binary").as("html"), lit("t").as("text"), lit("ZZ").as("lang"))
      .coalesce(1).write.mode("append").parquet(src)
    age(now - 60000L)
    // ...batch 3: the LATE row (bucket 0, hours behind the batch-2 watermark)
    spark.range(1).select(
      lit("late").as("url"), timestamp_seconds(lit(1600000000L)).as("warc_ts"),
      lit(null).cast("binary").as("html"), lit("t").as("text"), lit("LATE").as("lang"))
      .coalesce(1).write.mode("append").parquet(src)

    val q = StreamingEncode.windowedLangCounts(
      spark.readStream.option("maxFilesPerTrigger", 1).schema(b1.schema).parquet(src))
      .writeStream.format("memory").queryName("append_window_sink")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sink = spark.table("append_window_sink").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000L, r.getString(1), r.getLong(2))).toSet
    // hour windows align to epoch hours: bucket b starts at 1599998400 + b*3600
    val want = (0 until 4).map(b =>
      (1599998400L + b * 3600L, if (b % 2 == 0) "en" else "de", 10L)).toSet
    assert(sink == want,
      s"append sink must hold exactly the on-time windows: got $sink")
    assert(!sink.exists(_._2 == "LATE"), "late row must be dropped by the watermark")
    assert(!sink.exists(_._2 == "ZZ"), "sentinel window never closes")
  }

  test("restarting a stream with a different parts value is refused (namespace guard)") {
    import spark.implicits._
    val dir = tmp()
    val src = s"$dir/src"; val store = s"$dir/store"; val ckpt = s"$dir/ckpt"
    val pages = Webtext.generate(spark, 500, 2).toDF()
    pages.write.mode("overwrite").parquet(src)
    StreamingEncode.encodeStream(
      spark.readStream.schema(pages.schema).parquet(src), store, parts = 2, ckpt)
      .awaitTermination()
    val e = intercept[IllegalArgumentException] {
      StreamingEncode.encodeStream(
        spark.readStream.schema(pages.schema).parquet(src), store, parts = 4, ckpt)
    }
    assert(e.getMessage.contains("parts=2") && e.getMessage.contains("parts=4"))
    // same parts restarts fine and stays exactly-once
    StreamingEncode.encodeStream(
      spark.readStream.schema(pages.schema).parquet(src), store, parts = 2, ckpt)
      .awaitTermination()
    assert(SnapshotStore.currentEntries(store).map(_.nRows).sum == 500L)
  }
}
