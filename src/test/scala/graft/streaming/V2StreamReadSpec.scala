package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{CompactJob, DecodeJob, EncodeJob}
import graft.sources.{SnapshotStore, Webtext}
import graft.sources.v2.GraftOffset

/**
 * Streaming READ of the store (`spark.readStream.format("graft")`): each
 * committed snapshot's new parts arrive exactly once, compaction commits
 * contribute nothing (their rows were already emitted from the parts that
 * born them), and a checkpointed restart resumes behind the last offset.
 */
class V2StreamReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("v2-stream-read-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-sread-").toString + "/d"

  /** Drain the stream AvailableNow into a driver-side set; returns the urls
    * THIS run delivered. */
  private def drain(root: String, ckpt: String): Set[String] = {
    val got = scala.collection.mutable.HashSet.empty[String]
    val q = spark.readStream.format("graft").load(root)
      .select(col("url"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val urls = batch.collect().map(_.getString(0))
        got.synchronized { got ++= urls }
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "stream drain timed out")
    got.toSet
  }

  test("incremental reads: append-only commits stream once; compaction adds nothing; restart resumes") {
    import spark.implicits._
    val root = tmp()
    val ckpt = tmp()
    // wave 1 via the batch job
    EncodeJob.run(spark, Webtext.generate(spark, 3000L, 4), root, parts = 4)
    val first = drain(root, ckpt)
    assert(first.size == 3000)
    assert(first == DecodeJob.decode(spark, root).select($"url").as[String].collect().toSet)

    // wave 2 via the SQL write path (fresh part-id namespace)
    Webtext.generate(spark, 800L, 4).toDF()
      .select(concat(lit("w2-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.format("graft").mode("append").save(root)
    val second = drain(root, ckpt)
    assert(second.size == 800 && second.forall(_.startsWith("w2-")),
      s"restart must deliver ONLY the new commit's rows, got ${second.size}")

    // compaction: rows re-home into new parts, tombstones grow — the stream
    // must emit NOTHING for it
    val compacted = CompactJob.run(spark, root)
    assert(SnapshotStore.currentTombstones(root).nonEmpty, s"compaction must tombstone: $compacted")
    val third = drain(root, ckpt)
    assert(third.isEmpty, s"compaction commit must not replay rows: ${third.size}")

    // a post-compaction append still streams exactly its own rows
    Webtext.generate(spark, 500L, 2).toDF()
      .select(concat(lit("w4-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.format("graft").mode("append").save(root)
    val fourth = drain(root, ckpt)
    assert(fourth.size == 500 && fourth.forall(_.startsWith("w4-")))

    // nothing new => empty drain
    assert(drain(root, ckpt).isEmpty)

    // an OVERWRITE also grows tombstones but carries genuinely NEW rows — the
    // marker-based commit-kind rule must stream them (the r5 review caught the
    // tombstone-growth heuristic silently dropping truncate writes)
    Webtext.generate(spark, 200L, 2).toDF()
      .select(concat(lit("ow-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.format("graft").mode("overwrite").save(root)
    val fifth = drain(root, ckpt)
    assert(fifth.size == 200 && fifth.forall(_.startsWith("ow-")),
      s"overwrite must stream its new rows (append-only semantics): ${fifth.size}")
  }

  test("fresh stream on an expired store starts at the earliest retained snapshot") {
    import spark.implicits._
    val root = tmp()
    // parts=6 with waves=3: wave size ceil(6/3)=2 -> exactly 3 commits
    EncodeJob.run(spark, Webtext.generate(spark, 1500L, 4), root, parts = 6, waves = 3)
    assert(SnapshotStore.snapshotIds(root).size == 3)
    SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0L)
    assert(SnapshotStore.snapshotIds(root).size == 1)
    // a brand-new stream must deliver the full current table, not die on the
    // expired manifest 1 (r5 review: initialOffset was hardwired to 0)
    val got = drain(root, tmp())
    assert(got == DecodeJob.decode(spark, root).select($"url").as[String].collect().toSet)
    assert(got.size == 1500)
  }

  test("fresh stream whose earliest retained snapshot is a compaction still full-emits") {
    import spark.implicits._
    // r5 review: the rehomed-skip must not apply to a fresh full-emit — a new
    // stream has delivered nothing, so even a compaction snapshot's state is
    // all-new to it. Build: fragmented store -> compact -> expire to the head.
    val root = tmp()
    val src = tmp(); val ckpt0 = tmp()
    Webtext.generate(spark, 1200L, 3).write.parquet(src)
    val q = StreamingEncode.encodeStream(
      spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      root, parts = 3, checkpointDir = ckpt0)
    assert(q.awaitTermination(120000))
    assert(CompactJob.run(spark, root).partsCompacted > 0)
    SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0L)
    assert(SnapshotStore.snapshotIds(root).size == 1)
    assert(SnapshotStore.isRehomedCommit(root, SnapshotStore.snapshotIds(root).head))
    val got = drain(root, tmp())
    assert(got.size == 1200,
      s"fresh stream must deliver the compacted store whole, got ${got.size}")
    assert(got == DecodeJob.decode(spark, root).select($"url").as[String].collect().toSet)
  }

  test("lagging stream whose start manifest expired fails with the retention remediation") {
    val root = tmp()
    val ckpt = tmp()
    EncodeJob.run(spark, Webtext.generate(spark, 600L, 2), root, parts = 2)
    assert(drain(root, ckpt).size == 600) // checkpoint now at snapshot 1
    // two more commits, then expire everything but the head
    Webtext.generate(spark, 100L, 2).toDF()
      .select(concat(lit("a-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.format("graft").mode("append").save(root)
    Webtext.generate(spark, 100L, 2).toDF()
      .select(concat(lit("b-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.format("graft").mode("append").save(root)
    SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0L)
    val e = intercept[Exception] { drain(root, ckpt) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("expired under a lagging stream")),
      s"must fail with the retention remediation, got: ${messages(e)}")
  }

  test("offset json round-trips; replaying an offset range plans identical parts") {
    val root = tmp()
    EncodeJob.run(spark, Webtext.generate(spark, 2000L, 4), root, parts = 4, waves = 2)
    assert(GraftOffset.fromJson(GraftOffset(7L).json()) == GraftOffset(7L))
    val stream = new graft.sources.v2.GraftMicroBatchStream(root,
      org.apache.spark.sql.types.StructType(Seq("url", "lang").map(c =>
        graft.sources.v2.GraftDataSource.PageSchema(c))), "url")
    val p1 = stream.planInputPartitions(GraftOffset(0L), GraftOffset(1L))
    val p2 = stream.planInputPartitions(GraftOffset(1L), GraftOffset(2L))
    val p1again = stream.planInputPartitions(GraftOffset(0L), GraftOffset(1L))
    def filesOf(ps: Array[org.apache.spark.sql.connector.read.InputPartition]): Set[String] =
      ps.flatMap(_.asInstanceOf[graft.sources.v2.GraftInputPartition].files).toSet
    assert(filesOf(p1).nonEmpty && filesOf(p2).nonEmpty)
    assert(filesOf(p1).intersect(filesOf(p2)).isEmpty, "batches must not overlap")
    assert(filesOf(p1) == filesOf(p1again), "replay must plan identical partitions")
    // empty / inverted ranges plan nothing
    assert(stream.planInputPartitions(GraftOffset(2L), GraftOffset(2L)).isEmpty)
  }

  test("native streaming WRITE: one commit per epoch, byte-identical, replay-idempotent") {
    import spark.implicits._
    def run(src: String, root: String, ckpt: String): Unit = {
      val q = spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(root)
      assert(q.awaitTermination(120000))
    }
    val src = tmp(); val root = tmp()
    Webtext.generate(spark, 3000L, 3).write.parquet(src)
    run(src, root, tmp())
    assert(SnapshotStore.snapshotIds(root).size == 3, "one atomic commit per epoch")
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, 3000L, 3),
      DecodeJob.decode(spark, root)) == 0L, "byte-identical through the native sink")
    // REPLAY idempotence, engine-level: a fresh checkpoint re-delivers the
    // same epochs (same deterministic epochId*parts ids) — every commit must
    // detect the already-committed namespace and drop its staging
    val snapsBefore = SnapshotStore.snapshotIds(root)
    run(src, root, tmp())
    assert(SnapshotStore.snapshotIds(root) == snapsBefore,
      "replayed epochs must not commit")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 3000L, "no duplicate rows")
    // restart with the ORIGINAL checkpoint + new source data: only new rows
    Webtext.generate(spark, 500L, 1).toDF()
      .select(concat(lit("nw-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.mode("append").parquet(src)
    val ckpt2 = tmp()
    run(src, root, ckpt2) // fresh ckpt: epochs 0-2 replay (dropped), 3 commits
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 3500L)
    assert(DecodeJob.decode(spark, root).toDF()
      .where(col("url").startsWith("nw-")).count() == 500L)
    // batch SQL append onto the (now streamed) store stays refused
    val e = intercept[Exception] {
      Webtext.generate(spark, 10L, 1).toDF()
        .write.format("graft").mode("append").save(root)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("streaming encode")))
  }

  test("native streaming WRITE: a mixed replay epoch (committed + NEW rows) fails loudly") {
    def run(src: String, root: String, ckpt: String, onePerTrigger: Boolean): Unit = {
      var r = spark.readStream.schema(spark.read.parquet(src).schema)
      if (onePerTrigger) r = r.option("maxFilesPerTrigger", "1")
      val q = r.parquet(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(root)
      assert(q.awaitTermination(120000))
    }
    val src = tmp(); val root = tmp()
    Webtext.generate(spark, 900L, 3).write.parquet(src)
    run(src, root, tmp(), onePerTrigger = true) // 3 files → epochs 0..2 commit
    val committedRows = DecodeJob.decodedRows(DecodeJob.decode(spark, root))
    assert(committedRows == 900L)
    // a 4th file lands, then a FRESH checkpoint with no per-trigger cap packs
    // ALL files into epoch 0 — its ids are committed but it carries NEW rows;
    // dropping it silently (the pre-check behavior) would lose them forever
    Webtext.generate(spark, 200L, 1).toDF()
      .select(concat(lit("mx-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.mode("append").parquet(src)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] { run(src, root, tmp(), onePerTrigger = false) }
    assert(messages(e).exists(_.contains("does not match the store")),
      s"mixed epoch must fail with the remediation message, got: ${messages(e)}")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == committedRows,
      "the failed epoch must not have committed anything")
  }

  test("native WRITE: replay verification survives compaction + expiry (EPOCH_ROWS sidecar)") {
    def run(src: String, root: String, ckpt: String, onePerTrigger: Boolean): Unit = {
      var r = spark.readStream.schema(spark.read.parquet(src).schema)
      if (onePerTrigger) r = r.option("maxFilesPerTrigger", "1")
      val q = r.parquet(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(root)
      assert(q.awaitTermination(120000))
    }
    val src = tmp(); val root = tmp()
    Webtext.generate(spark, 900L, 3).write.parquet(src)
    run(src, root, tmp(), onePerTrigger = true) // epochs 0..2 commit
    assert(Files.exists(java.nio.file.Paths.get(root, "EPOCH_ROWS")),
      "per-epoch totals persisted at commit")
    // compaction re-homes every epoch's rows, expiry drops the original
    // manifests: the manifest-walk fallback can no longer see the originals
    graft.jobs.CompactJob.run(spark, root)
    SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0)
    assert(SnapshotStore.snapshotIds(root).size == 1)
    // GENUINE replay (fresh checkpoint, unchanged source): the sidecar totals
    // verify each epoch exactly — staging drops, nothing duplicates
    run(src, root, tmp(), onePerTrigger = true)
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 900L, "replays dropped post-expiry")
    // MIXED epoch (new rows packed into a committed epoch namespace) must
    // still fail loudly — before the sidecar this was a silent WARN+drop that
    // lost the new rows forever
    Webtext.generate(spark, 200L, 1).toDF()
      .select(concat(lit("mx-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.mode("append").parquet(src)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] { run(src, root, tmp(), onePerTrigger = false) }
    assert(messages(e).exists(_.contains("does not match the store")),
      s"post-expiry mixed epoch must fail, got: ${messages(e)}")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 900L)
  }

  test("empty-store stream start survives later commits + expiry (offset 0 re-bases as fresh)") {
    import graft.sources.v2.{GraftMicroBatchStream, GraftOffset}
    val root = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // a stream that started on an EMPTY store checkpoints {snapshotId:0}
    // without the fresh flag after its first (empty) batch; commits + expiry
    // then remove manifests 1.. — planning from the checkpointed offset must
    // re-base at the earliest retained snapshot, not retention-fail
    EncodeJob.run(spark, Webtext.generate(spark, 300L, 1), root, 1) // snapshot 1
    Webtext.generate(spark, 200L, 1).toDF()
      .write.format("graft").mode("append").save(root) // snapshot 2
    SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0)
    val stream = new GraftMicroBatchStream(root,
      org.apache.spark.sql.types.StructType(Seq(graft.sources.v2.GraftDataSource.PageSchema("url"))), "url")
    val end = SnapshotStore.currentSnapshotId(root).get
    val parts = stream.planInputPartitions(
      GraftOffset(0L), GraftOffset(end)) // non-fresh zero offset
    assert(parts.nonEmpty, "zero offset must re-base as fresh and plan a full emit")
  }

  test("native streaming WRITE restart: pinned STREAM_PARTS width beats the session conf") {
    def run(src: String, root: String, ckpt: String): Unit = {
      val q = spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(root)
      assert(q.awaitTermination(120000))
    }
    val src = tmp(); val root = tmp(); val ckpt = tmp()
    Webtext.generate(spark, 1000L, 2).write.parquet(src)
    run(src, root, ckpt)
    val pinned = StreamingEncode.pinnedStreamParts(root)
    assert(pinned.nonEmpty, "first start must pin the stream width")
    // new data + a conf set for an UNRELATED big batch write: the restarted
    // stream must keep its pinned width (a different requiredNumPartitions
    // would re-width the exchange and checkStreamParts would kill the stream)
    Webtext.generate(spark, 300L, 1).toDF()
      .select(concat(lit("nw-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.mode("append").parquet(src)
    spark.conf.set("spark.graft.write.partitions", (pinned.get + 3).toString)
    try run(src, root, ckpt)
    finally spark.conf.unset("spark.graft.write.partitions")
    assert(StreamingEncode.pinnedStreamParts(root) == pinned, "width unchanged")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 1300L)
    assert(DecodeJob.decode(spark, root).toDF()
      .where(col("url").startsWith("nw-")).count() == 300L)
  }

  test("filtered stream prunes each batch's delta groups like the batch scan") {
    import spark.implicits._
    val root = tmp()
    val ckpt = tmp()
    EncodeJob.run(spark, Webtext.generate(spark, 8000L, 8), root, parts = 8)
    val prefix = "https://host-1.example.com/"
    val want = DecodeJob.decode(spark, root)
      .where($"url".startsWith(prefix)).select($"url").as[String].collect().toSet
    assert(want.nonEmpty)
    val totalGroups = DecodeJob.blocks(spark, root)
      .where(col("column") === "url").count()

    val got = scala.collection.mutable.HashSet.empty[String]
    val q = spark.readStream.format("graft").load(root)
      .where(col("url").startsWith(prefix))
      .select(col("url"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val urls = batch.collect().map(_.getString(0))
        got.synchronized { got ++= urls }
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "stream drain timed out")
    assert(got.toSet == want, "filtered drain must equal the filtered batch read")
    // plan-stats proof: the stream's batch planning saw the predicate and
    // pruned groups (not just a Spark-side residual over the full delta)
    val stats = graft.sources.v2.GraftDataSource.planStatsFor(root).get
    assert(stats.predicates >= 1, s"pushed predicate must reach stream planning: $stats")
    assert(stats.prunedGroupKeys.exists(k => k > 0 && k < totalGroups),
      s"stream batch must prune groups ($totalGroups total): $stats")
  }

  test("self-union of one stream never prunes by a single branch's filter") {
    import spark.implicits._
    // MicroBatchExecution dedups identical source nodes: s.where(a) union
    // s.where(b) holds ONE stream instance behind two relation references.
    // Pushing either branch's filter alone would prune groups the OTHER
    // branch needs — rows would vanish silently (the branch residual cannot
    // restore rows that were never read). The rule must detect the multi-
    // reference shape and reset the stream's predicates instead.
    val root = tmp()
    val ckpt = tmp()
    EncodeJob.run(spark, Webtext.generate(spark, 8000L, 8), root, parts = 8)
    val p1 = "https://host-1.example.com/"
    val p2 = "https://host-2.example.com/"
    val all = DecodeJob.decode(spark, root).toDF()
    val want = all.where($"url".startsWith(p1)).select($"url").as[String].collect().toSet ++
      all.where($"url".startsWith(p2)).select($"url").as[String].collect().toSet
    assert(want.nonEmpty)

    val got = scala.collection.mutable.HashSet.empty[String]
    val s = spark.readStream.format("graft").load(root)
    val q = s.where(col("url").startsWith(p1))
      .union(s.where(col("url").startsWith(p2)))
      .select(col("url"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val urls = batch.collect().map(_.getString(0))
        got.synchronized { got ++= urls }
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "stream drain timed out")
    assert(got.toSet == want,
      s"self-union drain lost rows: got ${got.size}, want ${want.size}")
    // plan-stats proof the safety valve engaged: the shared stream planned
    // its batch with ZERO pushed predicates (full-delta scan + residuals)
    val stats = graft.sources.v2.GraftDataSource.planStatsFor(root).get
    assert(stats.predicates == 0,
      s"multi-referenced stream must not push any branch's filter: $stats")
  }

  test("time travel option and readStream are mutually exclusive") {
    val root = tmp()
    EncodeJob.run(spark, Webtext.generate(spark, 500L, 2), root, parts = 2)
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("snapshotId", "1").load(root)
        .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
        .awaitTermination(60000)
    }
    assert(e.getMessage.contains("mutually exclusive") ||
      e.getCause != null && e.getCause.getMessage.contains("mutually exclusive"))
    // same for the incremental batch range: a stream IS incremental consumption
    val e2 = intercept[Exception] {
      spark.readStream.format("graft").option("fromSnapshot", "1").load(root)
        .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
        .awaitTermination(60000)
    }
    assert(e2.getMessage.contains("mutually exclusive") ||
      e2.getCause != null && e2.getCause.getMessage.contains("mutually exclusive"))
  }
}
