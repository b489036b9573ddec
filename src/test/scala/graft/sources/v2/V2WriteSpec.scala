package graft.sources.v2

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.DecodeJob
import graft.sources.{SnapshotStore, Webtext}

/**
 * DataSource V2 WRITE path: `df.write.format("graft")` and SQL `INSERT INTO`
 * must run the staged encode-and-commit pipeline distributed (each task = one
 * encode kernel + one block file), produce stores byte-identical to the
 * EncodeJob batch writer's decode view, keep block metadata pruning intact,
 * and stay exactly-once under task retries.
 */
class V2WriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("v2-write-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pages(n: Long): DataFrame = Webtext.generate(spark, n, 8).toDF()

  private def freshRoot(): String =
    Files.createTempDirectory("graft-v2-write-").toString

  test("append writes a store the job and V2 read paths decode identically") {
    val root = freshRoot()
    pages(5000L).write.format("graft").mode("append").save(root)
    // byte-identical round trip (url join compares every column incl. html/text)
    assert(DecodeJob.verifyAgainst(Webtext.generate(spark, 5000L, 8),
      DecodeJob.decode(spark, root)) == 0L)
    assert(spark.read.format("graft").load(root).count() == 5000L)
    // per-part lineage + codec metrics landed in the manifest
    val entries = SnapshotStore.currentEntries(root)
    assert(entries.nonEmpty)
    assert(entries.forall(e => e.nRows > 0 && e.encBytes > 0 &&
      e.origBytes > e.encBytes && e.codecsJson.contains("url")))
    assert(entries.map(_.nRows).sum == 5000L)
    // one block file per commit message / part entry, no strays
    val dir = Paths.get(root, entries.head.dataDir)
    val files = SnapshotStore.listFileNames(dir).filter(_.endsWith(".graft"))
    assert(files.size == entries.size, s"files $files vs entries ${entries.size}")
  }

  test("range distribution gives tight url bounds: prefix pruning works on SQL-written data") {
    val root = freshRoot()
    pages(5000L).write.format("graft").mode("append").save(root)
    val total = DecodeJob.blocks(spark, root).where(col("column") === "url").count()
    val matched = DecodeJob.matchingGroupKeys(spark, root,
      Seq(DecodeJob.StrPrefix("url", "https://host-1.example.com/"))).count()
    assert(matched > 0 && matched < total,
      s"SQL-written blocks must prune by url prefix: $matched of $total")
  }

  test("second append allocates a fresh part-id namespace; overwrite truncates; time travel survives") {
    val root = freshRoot()
    pages(3000L).write.format("graft").mode("append").save(root)
    val firstParts = SnapshotStore.currentEntries(root).map(_.partId).toSet
    pages(1000L).select(concat(lit("x-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .write.format("graft").mode("append").save(root)
    val all = SnapshotStore.currentEntries(root)
    assert(all.map(_.partId).toSet.size == all.size, "part ids must stay unique")
    assert((all.map(_.partId).toSet -- firstParts).forall(_ > firstParts.max),
      "append ids must sit above every committed id")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 4000L)
    pages(300L).write.format("graft").mode("overwrite").save(root)
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 300L)
    val ids = SnapshotStore.snapshotIds(root)
    assert(ids.size == 3)
    assert(DecodeJob.decodedRows(DecodeJob.decodeAt(spark, root, ids.head)) == 3000L,
      "pre-overwrite snapshots stay readable (nothing deleted at commit)")
  }

  test("SQL INSERT INTO a USING graft relation appends through the V2 write") {
    val root = freshRoot()
    pages(2000L).write.format("graft").mode("append").save(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_ins USING graft " +
      s"OPTIONS (path '$root')")
    pages(500L)
      .select(concat(lit("ins-"), col("url")).as("url"), col("warc_ts"),
        col("html"), col("text"), col("lang"))
      .createOrReplaceTempView("graft_ins_src")
    spark.sql("INSERT INTO graft_ins SELECT * FROM graft_ins_src")
    assert(spark.sql("SELECT count(*) FROM graft_ins").collect()(0).getLong(0) == 2500L)
    assert(spark.sql("SELECT count(*) FROM graft_ins WHERE url LIKE 'ins-%'")
      .collect()(0).getLong(0) == 500L)
  }

  test("task retries/crashes stay exactly-once: only files named in commit messages survive") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // drive the write PROTOCOL by hand (deterministic under any task-retry
    // conf, and covers the crash-without-abort case the engine can't inject):
    //  - attempt 1 of partition 0 stages a partial file then DIES (no abort)
    //  - attempt 2 of partition 0 commits
    //  - an aborted attempt of partition 1 deletes its own file
    //  - a committed attempt of partition 1 wins
    //  - a zombie twin of partition 1 commits a file whose message LOSES
    // driver commit must keep exactly the two winning files.
    val root = freshRoot()
    def row(i: Int): org.apache.spark.sql.catalyst.InternalRow =
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(f"https://w.example.com/$i%05d"),
        1735689600000000L + i * 1000000L,
        Array[Byte](1, 2, 3),
        UTF8String.fromString(s"text $i"),
        UTF8String.fromString("en")))
    val bw = new GraftBatchWrite(root, replaceAll = false)
    val factory = bw.createBatchWriterFactory(null)

    val crashed = factory.createWriter(0, 100L).asInstanceOf[GraftDataWriter]
    GraftDataWriter.failNextWriteOnce.set(true)
    val ex = intercept[RuntimeException] {
      (0 until 60).foreach(i => crashed.write(row(i))) // hook flushes a partial file at 50, then throws
    }
    assert(ex.getMessage.contains("injected"))

    val w0 = factory.createWriter(0, 101L)
    (0 until 120).foreach(i => w0.write(row(i)))
    val m0 = w0.commit()

    val abortedW1 = factory.createWriter(1, 102L).asInstanceOf[GraftDataWriter]
    (200 until 260).foreach(i => abortedW1.write(row(i)))
    abortedW1.commit() // closes + names a file...
    abortedW1.abort()  // ...which a Spark-side abort then removes

    val w1 = factory.createWriter(1, 103L)
    (200 until 280).foreach(i => w1.write(row(i)))
    val m1 = w1.commit()

    val zombie = factory.createWriter(1, 104L)
    (200 until 280).foreach(i => zombie.write(row(i)))
    zombie.commit() // message is DROPPED below (lost the commit race)

    bw.commit(Array(m0, m1))
    val entries = SnapshotStore.currentEntries(root)
    assert(entries.map(_.nRows).sum == 200L, s"exactly-once rows: $entries")
    val dir = Paths.get(root, entries.head.dataDir)
    val files = SnapshotStore.listFileNames(dir).filter(_.endsWith(".graft"))
    assert(files.size == 2,
      s"crash/zombie staged files must not survive the commit: $files")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 200L)
    assert(DecodeJob.decode(spark, root).toDF()
      .agg(countDistinct(col("url"))).collect()(0).getLong(0) == 200L,
      "no duplicated rows from zombie attempts")
  }

  test("writer-mixing guards: SQL append refuses a streamed store and vice versa") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // streaming encode onto a SQL-grown store: refused (batch 0 would reuse
    // ids 0..parts-1 the resume anti-join already sees as committed)
    val root = freshRoot()
    pages(100L).write.format("graft").mode("append").save(root)
    val srcDir = freshRoot() + "/src"
    pages(10L).write.parquet(srcDir)
    val e1 = intercept[Exception] {
      graft.streaming.StreamingEncode.encodeStream(
        spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
        root, parts = 4, checkpointDir = freshRoot())
    }
    assert(messages(e1).exists(_.contains("fresh store")), messages(e1).toString)
    // SQL append onto a streamed store: refused (it would occupy a future
    // batch's part ids and that batch would be silently dropped)
    val root2 = freshRoot()
    Files.createDirectories(Paths.get(root2))
    Files.write(Paths.get(root2, "STREAM_PARTS"), "4".getBytes)
    val e2 = intercept[Exception] {
      pages(100L).write.format("graft").mode("append").save(root2)
    }
    assert(messages(e2).exists(_.contains("streaming encode")), messages(e2).toString)
  }

  test("spark.graft.write.partitions pins the writer task count") {
    val root = freshRoot()
    spark.conf.set("spark.graft.write.partitions", "7")
    try pages(2000L).write.format("graft").mode("append").save(root)
    finally spark.conf.unset("spark.graft.write.partitions")
    assert(SnapshotStore.currentEntries(root).size == 7,
      "each range partition becomes one part entry")
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 2000L)
    val bad = intercept[Exception] {
      spark.conf.set("spark.graft.write.partitions", "zero")
      try pages(10L).write.format("graft").mode("append").save(freshRoot())
      finally spark.conf.unset("spark.graft.write.partitions")
    }
    assert(bad.getMessage != null)
  }

  test("SQL DELETE FROM: copy-on-write rewrite, part pruning, time travel, stream silence") {
    import spark.implicits._
    val root = freshRoot()
    pages(4000L).write.format("graft").mode("append").save(root)
    val preIds = SnapshotStore.snapshotIds(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_del_v2 USING graft " +
      s"OPTIONS (path '$root')")
    // part-level pruning FIRST, while the store is still multi-part: a url
    // prefix sits in few range partitions, so few parts rewrite
    val partsBefore = SnapshotStore.currentEntries(root).size
    assert(partsBefore > 2, s"fixture must be multi-part, got $partsBefore")
    val narrow = graft.jobs.DeleteJob.deleteWhere(spark, root,
      col("url").startsWith("https://host-1.example.com/"),
      Seq(DecodeJob.StrPrefix("url", "https://host-1.example.com/")))
    assert(narrow.partsRewritten >= 1 && narrow.partsRewritten < partsBefore,
      s"prefix delete must rewrite a strict subset of parts: $narrow of $partsBefore")
    assert(spark.sql(
      "SELECT count(*) FROM graft_del_v2 WHERE url LIKE 'https://host-1.example.com/%'")
      .collect()(0).getLong(0) == 0L)
    // SQL DELETE by value, content-exact
    val want = DecodeJob.decode(spark, root).toDF()
      .where(col("lang") =!= "en").select(col("url"), md5(col("html")).as("h"))
      .collect().map(_.toString).sorted.toSeq
    spark.sql("DELETE FROM graft_del_v2 WHERE lang = 'en'")
    val got = spark.sql("SELECT url, md5(html) AS h FROM graft_del_v2")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "survivors must be exactly the non-matching rows")
    // pre-delete snapshot stays readable (copy-on-write)
    assert(DecodeJob.decodedRows(DecodeJob.decodeAt(spark, root, preIds.last)) == 4000L)
    // the delete commit is rows-rehomed: a caught-up stream must emit nothing
    assert(SnapshotStore.isRehomedCommit(root, SnapshotStore.snapshotIds(root).last))
    // a provably match-free predicate rewrites nothing (no new snapshot)
    val snapBefore = SnapshotStore.currentSnapshotId(root)
    val noop = graft.jobs.DeleteJob.deleteWhere(spark, root,
      col("url").startsWith("zzz://nope"), Seq(DecodeJob.StrPrefix("url", "zzz://nope")))
    assert(noop.partsRewritten == 0 && SnapshotStore.currentSnapshotId(root) == snapBefore)
    // DELETE with no WHERE empties the table (truncateTable default path)
    spark.sql("DELETE FROM graft_del_v2")
    assert(SnapshotStore.currentEntries(root).isEmpty)
  }

  test("schema mismatch is rejected before any staging") {
    val root = freshRoot()
    val bad = spark.range(10).selectExpr("cast(id as string) AS url", "id AS warc_ts")
    val e = intercept[Exception] {
      bad.write.format("graft").mode("append").save(root)
    }
    assert(e.getMessage != null)
    assert(SnapshotStore.currentSnapshotId(root).isEmpty, "no commit on rejection")
  }

  test("write-arrange rule replaces the range-sample exchange; ordered fallback matches") {
    import graft.plans.GraftWriteArrangeRule
    // 1. the fast path must actually FIRE for plain appends — without this, a
    //    silently dead rule would keep every test green via the fallback
    val arrangedRoot = freshRoot()
    val n0 = GraftWriteArrangeRule.arranged.get()
    pages(4000L).write.format("graft").mode("append").save(arrangedRoot)
    assert(GraftWriteArrangeRule.arranged.get() > n0, "arrange rule did not fire")

    // 2. a write the rule does not arrange (the streaming sink's epochs) takes
    //    the ordered-distribution path, and the two paths produce
    //    content-identical stores
    val orderedRoot = freshRoot()
    val src = Paths.get(freshRoot(), "src").toString
    pages(4000L).write.parquet(src)
    val n1 = GraftWriteArrangeRule.arranged.get()
    graft.streaming.StreamingEncode.encodeStream(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src), orderedRoot,
      parts = 4, Paths.get(freshRoot(), "ckpt").toString).awaitTermination()
    assert(GraftWriteArrangeRule.arranged.get() == n1, "a streamed epoch must take the ordered path")
    def contentHash(root: String): Array[org.apache.spark.sql.Row] =
      DecodeJob.decode(spark, root)
        .agg(org.apache.spark.sql.functions.bit_xor(
          org.apache.spark.sql.functions.xxhash64(
            col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .collect()
    assert(contentHash(arrangedRoot).toSeq == contentHash(orderedRoot).toSeq)

    // 2b. EXPLAIN of an INSERT analyzes the command (and fires the rule) but
    //     never executes the write — the fired-evidence counter must not move
    //     (it counts toBatch at execution, not rule rewrites at analysis)
    val nExplain = GraftWriteArrangeRule.arranged.get()
    pages(100L).createOrReplaceTempView("arrange_explain_src")
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
    spark.sql("EXPLAIN EXTENDED INSERT INTO graftcat.`" + arrangedRoot + "` " +
      "SELECT * FROM arrange_explain_src").collect()
    assert(GraftWriteArrangeRule.arranged.get() == nExplain,
      "EXPLAIN must not count as an arranged write")

    // 3. arranged stores keep tight url bounds: blocks are url-sorted inside
    //    bucket runs, so prefix pruning must still skip most groups
    val blocks = DecodeJob.blocks(spark, arrangedRoot)
      .where(col("column") === "url")
      .select(col("block_str_min"), col("block_str_max")).collect()
    assert(blocks.nonEmpty)
    val wide = blocks.count { r =>
      r.isNullAt(0) || r.isNullAt(1) ||
        r.getString(0).take(12) != r.getString(1).take(12)
    }
    // most blocks must span a narrow url range (deterministic webtext urls share
    // long prefixes only within a range slice); allow the few bucket-gap blocks
    assert(wide <= blocks.length / 2,
      s"$wide of ${blocks.length} url blocks have wide bounds — arranged layout lost locality")
  }
}
