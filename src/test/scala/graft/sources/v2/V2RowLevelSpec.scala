package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{DecodeJob, EncodeJob}
import graft.sources.{SnapshotStore, Webtext}

/**
 * SQL row-level DML on the graft table: UPDATE and MERGE INTO (group-based
 * copy-on-write ReplaceData), DELETE FROM with conditions the metadata path
 * cannot express, and the guarantee that exact DELETEs keep the metadata-only
 * fast path. Every statement must leave the store exact (decode == expected),
 * rewrite ONLY provably-affected parts, keep time travel intact, and mark the
 * commit kind correctly for incremental streams.
 */
class V2RowLevelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark()

  private def freshRoot(): String =
    Files.createTempDirectory("graft-rowlevel-").toString

  /** Fresh store + catalog-qualified table name (row-level DML resolves only
    * through a catalog — see GraftCatalog's scaladoc); returns
    * (root, sqlName, original decode). */
  private def storeView(n: Long, parts: Int): (String, String, DataFrame) = {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val root = freshRoot()
    EncodeJob.run(spark, Webtext.generate(spark, n, 8), root, parts)
    (root, s"graftcat.`$root`", DecodeJob.decode(spark, root).toDF().cache())
  }

  private def assertSame(got: DataFrame, expected: DataFrame): Unit = {
    assert(got.count() == expected.count(),
      s"row count ${got.count()} vs expected ${expected.count()}")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "content mismatch vs expected")
  }

  test("UPDATE with a pushable condition rewrites only the admitting parts") {
    val (root, v, before) = storeView(4000L, 8)
    val allParts = SnapshotStore.currentEntries(root).map(_.partId).toSet
    val preSnap = SnapshotStore.currentSnapshotId(root).get
    // a url bound inside the data: parts above it are provably untouched
    val k = before.select("url").orderBy("url").limit(600)
      .collect().last.getString(0)

    spark.sql(s"UPDATE $v SET lang = 'xx' WHERE url <= '$k'")

    val expected = before.withColumn("lang",
      when(col("url") <= lit(k), lit("xx")).otherwise(col("lang")))
    assertSame(DecodeJob.decode(spark, root).toDF(), expected)
    // copy-on-write: only parts whose block url-range admits the bound were
    // tombstoned; the rest keep their files
    val replaced = SnapshotStore.currentTombstones(root)
    assert(replaced.nonEmpty && replaced.subsetOf(allParts))
    assert(replaced.size < allParts.size,
      s"UPDATE must not rewrite all ${allParts.size} parts for a prefix bound")
    // time travel: the pre-update snapshot is intact
    assertSame(DecodeJob.decodeAt(spark, root, preSnap).toDF(), before)
    // content changed => NOT a rehomed commit (incremental streams deliver it)
    val snap = SnapshotStore.currentSnapshotId(root).get
    assert(snap == preSnap + 1)
    assert(!SnapshotStore.isRehomedCommit(root, snap))
  }

  test("UPDATE with an untranslatable condition falls back to a full rewrite, still exact") {
    val (root, v, before) = storeView(1500L, 4)
    spark.sql(s"UPDATE $v SET lang = upper(lang), text = concat(text, '!') " +
      "WHERE length(text) % 3 = 0")
    val expected = before
      .withColumn("hit", length(col("text")) % 3 === 0)
      .withColumn("lang", when(col("hit"), upper(col("lang"))).otherwise(col("lang")))
      .withColumn("text", when(col("hit"), concat(col("text"), lit("!"))).otherwise(col("text")))
      .drop("hit")
    assertSame(DecodeJob.decode(spark, root).toDF(), expected)
  }

  test("UPDATE matching nothing provably commits nothing") {
    val (root, v, before) = storeView(800L, 4)
    val preSnap = SnapshotStore.currentSnapshotId(root).get
    spark.sql(s"UPDATE $v SET lang = 'xx' WHERE url > 'zzzz'")
    assert(SnapshotStore.currentSnapshotId(root).get == preSnap,
      "a no-match UPDATE must not create a snapshot")
    assertSame(DecodeJob.decode(spark, root).toDF(), before)
  }

  test("MERGE INTO: matched rows update, unmatched source rows insert") {
    val (root, v, before) = storeView(1200L, 4)
    val allParts = SnapshotStore.currentEntries(root).map(_.partId).toSet
    val preSnap = SnapshotStore.currentSnapshotId(root).get
    // source: half the target urls with new text, plus brand-new urls
    val matched = before.select("url").orderBy("url").limit(300)
      .withColumn("stext", lit("merged-text"))
      .withColumn("slang", lit("mg"))
    val fresh = spark.range(50).select(
      concat(lit("zzz://new/"), col("id").cast("string")).as("url"),
      lit("fresh-text").as("stext"), lit("nw").as("slang"))
    matched.unionByName(fresh).createOrReplaceTempView("rl_merge_src")

    spark.sql(
      s"""MERGE INTO $v t USING rl_merge_src s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET text = s.stext, lang = s.slang
         |WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
         |  VALUES (s.url, timestamp'2020-01-01 00:00:00', cast(s.stext as binary), s.stext, s.slang)
         |""".stripMargin)

    val after = DecodeJob.decode(spark, root).toDF()
    assert(DecodeJob.decodedRows(after) == 1250L)
    val expectedUpdated = before.join(matched, Seq("url"), "left")
      .select(col("url"), col("warc_ts"), col("html"),
        coalesce(col("stext"), col("text")).as("text"),
        coalesce(col("slang"), col("lang")).as("lang"))
    assertSame(after.where(!col("url").startsWith("zzz://new/"))
      .select("url", "warc_ts", "text", "lang"),
      expectedUpdated.select("url", "warc_ts", "text", "lang"))
    assert(after.where(col("url").startsWith("zzz://new/") &&
      col("text") === "fresh-text" && col("lang") === "nw").count() == 50L)
    // runtime group filtering: the ON join condition has no static pushdown,
    // yet only parts holding a matched url (the 300 smallest) are rewritten —
    // the dynamic `_part_id` subquery is the only thing that can prune here
    val replaced = SnapshotStore.currentTombstones(root)
    assert(replaced.nonEmpty && replaced.subsetOf(allParts))
    assert(replaced.size < allParts.size,
      s"MERGE touching a url prefix must not rewrite all ${allParts.size} parts")
    // time travel intact; merge commits are streamable (not rehomed)
    assertSame(DecodeJob.decodeAt(spark, root, preSnap).toDF(), before)
    assert(!SnapshotStore.isRehomedCommit(root, SnapshotStore.currentSnapshotId(root).get))
  }

  test("DELETE with an untranslatable condition runs copy-on-write, rehomed-marked") {
    val (root, v, before) = storeView(1000L, 4)
    // length(text)%2 has no source-filter translation => ReplaceData path
    spark.sql(s"DELETE FROM $v WHERE length(text) % 2 = 0")
    val expected = before.where(length(col("text")) % 2 =!= 0)
    assertSame(DecodeJob.decode(spark, root).toDF(), expected)
    // survivors are re-homed rows: streams must skip this commit
    val snap = SnapshotStore.currentSnapshotId(root).get
    assert(SnapshotStore.isRehomedCommit(root, snap))
  }

  test("CREATE TABLE initializes an empty readable store; INSERT loads it; MERGE works as first load") {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val root = freshRoot() + "/t" // not yet existing
    val v = s"graftcat.`$root`"
    spark.sql(s"CREATE TABLE $v (url STRING, warc_ts TIMESTAMP, html BINARY, " +
      "text STRING, lang STRING)")
    // readable while empty, on every surface
    assert(spark.sql(s"SELECT count(*) AS c FROM $v").collect().head.getLong(0) == 0L)
    assert(spark.sql(s"SELECT * FROM $v").collect().isEmpty)
    assert(DecodeJob.decode(spark, root).isEmpty)
    assert(spark.table(v).where(col("lang") === "en").collect().isEmpty)
    // re-create refused now that it IS a table
    assertThrows[Exception](spark.sql(s"CREATE TABLE $v (url STRING, warc_ts TIMESTAMP, " +
      "html BINARY, text STRING, lang STRING)"))
    // MERGE as a first load: no matches possible, all source rows insert
    spark.range(30).select(
      concat(lit("m://"), col("id").cast("string")).as("url"),
      lit("seed").as("stext")).createOrReplaceTempView("rl_first_load")
    spark.sql(
      s"""MERGE INTO $v t USING rl_first_load s ON t.url = s.url
         |WHEN MATCHED THEN UPDATE SET text = s.stext
         |WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
         |  VALUES (s.url, timestamp'2021-06-01 00:00:00', cast(s.stext as binary), s.stext, 'fl')
         |""".stripMargin)
    assert(spark.table(v).count() == 30L)
    // plain INSERT appends on top
    spark.sql(s"INSERT INTO $v VALUES ('z://one', timestamp'2022-01-01 00:00:00', " +
      "cast('h' as binary), 'hello', 'en')")
    assert(spark.table(v).count() == 31L)
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 31L)
  }

  test("truncate (DELETE FROM with no condition) leaves a readable empty store that accepts appends") {
    val (root, v, before) = storeView(500L, 4)
    spark.sql(s"DELETE FROM $v")
    assert(spark.sql(s"SELECT count(*) AS c FROM $v").collect().head.getLong(0) == 0L)
    assert(spark.table(v).collect().isEmpty)
    assert(DecodeJob.decode(spark, root).isEmpty)
    assert(DecodeJob.decodeColumnsWhere(spark, root, Seq("url"),
      Seq(DecodeJob.StrPrefix("url", "doc"))).isEmpty)
    // stats fast path: count 0, null ts bounds
    val st = DecodeJob.statsFast(spark, root).collect().head
    assert(st.getLong(0) == 0L && st.isNullAt(1) && st.isNullAt(2))
    // time travel to the pre-truncate snapshot still sees everything
    val preSnap = SnapshotStore.currentSnapshotId(root).get - 1
    assertSame(DecodeJob.decodeAt(spark, root, preSnap).toDF(), before)
    // the store keeps working: append again and read back
    spark.sql(s"INSERT INTO $v VALUES ('a://x', timestamp'2023-01-01 00:00:00', " +
      "cast('b' as binary), 'body', 'de')")
    assert(spark.table(v).count() == 1L)
  }

  test("catalog refuses to create over or drop a foreign non-store directory") {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("graft-foreign-")
    val precious = dir.resolve("precious.txt")
    Files.write(precious, "do not delete".getBytes)
    val v = s"graftcat.`$dir`"
    // non-empty non-store directory: CREATE refused (CTAS rollback would wipe it)
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $v (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)"))
    assert(e.getMessage.contains("not a graft store") ||
      Option(e.getCause).exists(_.getMessage.contains("not a graft store")))
    // not a table => DROP resolves to nothing; either way the dir survives
    assertThrows[Exception](spark.sql(s"DROP TABLE $v"))
    assert(Files.exists(precious), "DROP TABLE must never delete a non-store directory")
    // SELECT resolves to "table not found" at analysis, not a scan-time error
    assertThrows[Exception](spark.sql(s"SELECT * FROM $v").collect())
  }

  test("CTAS loads a new table in one statement; a failed CTAS rolls back without debris") {
    val (_, v0, before) = storeView(400L, 2)
    val parent = Files.createTempDirectory("graft-ctas-")
    val root = s"$parent/t"
    val v = s"graftcat.`$root`"
    spark.sql(s"CREATE TABLE $v AS SELECT * FROM $v0")
    assertSame(spark.table(v).toDF(), before)
    spark.sql(s"DROP TABLE $v")

    // failure mid-write: Spark rolls the CTAS back via dropTable — the
    // half-created store must vanish entirely (no orphan dir a later CREATE
    // would refuse), while unrelated siblings survive
    val sibling = parent.resolve("keepme.txt")
    Files.write(sibling, "sibling".getBytes)
    GraftDataWriter.failNextWriteOnce.set(true)
    try
      assertThrows[Exception](spark.sql(s"CREATE TABLE $v AS SELECT * FROM $v0"))
    finally GraftDataWriter.failNextWriteOnce.set(false)
    assert(!Files.exists(java.nio.file.Paths.get(root)),
      "failed CTAS must remove the half-created store")
    assert(Files.exists(sibling), "rollback must not touch unrelated files")
    // and the path is immediately reusable
    spark.sql(s"CREATE TABLE $v AS SELECT * FROM $v0")
    assertSame(spark.table(v).toDF(), before)
  }

  test("DROP TABLE deletes a real store") {
    val (root, v, _) = storeView(200L, 2)
    assert(spark.sql(s"SHOW TABLES").collect() != null) // catalog is alive
    spark.sql(s"DROP TABLE $v")
    assert(!Files.exists(java.nio.file.Paths.get(root)),
      "DROP TABLE must remove the store directory")
  }

  test("metadata-only projection (SELECT _part_id) serves counts without decoding data") {
    val (root, v, before) = storeView(900L, 4)
    val pids = spark.sql(s"SELECT _part_id FROM $v")
    assert(pids.count() == before.count(), "one _part_id row per stored row")
    val distinct = pids.distinct().collect().map(_.getInt(0)).toSet
    assert(distinct == SnapshotStore.currentEntries(root).map(_.partId).toSet)
    // grouped: per-part row counts match the manifest lineage exactly
    val counted = pids.groupBy("_part_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val manifest = SnapshotStore.currentEntries(root).map(e => e.partId -> e.nRows).toMap
    assert(counted == manifest)
  }

  test("exact DELETE keeps the metadata-only fast path (no ReplaceData in the plan)") {
    val (_, v, _) = storeView(600L, 4)
    val plan = spark.sql(s"EXPLAIN EXTENDED DELETE FROM $v WHERE lang = 'en'")
      .collect().map(_.getString(0)).mkString("\n")
    // the ANALYZED plan is always ReplaceData (row-level ops take precedence
    // at analysis); what matters is that the OPTIMIZER converted it back
    val optimizedOn = plan.substring(plan.indexOf("== Optimized Logical Plan =="))
    assert(optimizedOn.contains("DeleteFromTableWithFilters"),
      s"expected metadata delete, got:\n$plan")
    assert(!optimizedOn.contains("ReplaceData"),
      s"exact condition must not execute a copy-on-write rewrite:\n$plan")
  }
}
