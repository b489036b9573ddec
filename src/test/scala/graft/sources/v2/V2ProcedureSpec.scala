package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{DecodeJob, EncodeJob}
import graft.sources.{SnapshotStore, Webtext}

/**
 * SQL stored procedures (`CALL graftcat.system.<proc>(...)`): maintenance and
 * inspection from pure SQL. Each procedure must return its declared result
 * rows AND leave the store exactly as the underlying job would.
 */
class V2ProcedureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("v2-procedure-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fragmentedStore(n: Long, parts: Int): String = {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val root = Files.createTempDirectory("graft-proc-").toString
    EncodeJob.run(spark, Webtext.generate(spark, n, 8), root, parts)
    root
  }

  test("CALL compact merges fragmented parts, content-preserving, rehomed-marked") {
    val root = fragmentedStore(2000L, 8) // 250 rows/part << BlockSize/2
    val before = DecodeJob.decode(spark, root).toDF().cache()
    before.count()
    val preSnap = SnapshotStore.currentSnapshotId(root).get

    val r = spark.sql(s"CALL graftcat.system.compact('$root')").collect().head
    assert(r.getLong(0) == preSnap + 1, "compact commits one snapshot")
    assert(r.getInt(1) == 8, "all 8 fragmented parts compacted")
    assert(r.getInt(2) >= 1 && r.getInt(2) < 8, "merged into fewer parts")
    assert(r.getLong(3) == 2000L)

    val after = DecodeJob.decode(spark, root).toDF()
    assert(DecodeJob.decodedRows(after) == 2000L)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    assert(SnapshotStore.isRehomedCommit(root, preSnap + 1),
      "compaction commits are rows-rehomed (streams skip them)")
  }

  test("CALL compact honors named args and defaults (min_rows => 0 is a no-op)") {
    val root = fragmentedStore(1000L, 4)
    val preSnap = SnapshotStore.currentSnapshotId(root).get
    val r = spark.sql(
      s"CALL graftcat.system.compact(path => '$root', min_rows => 0)").collect().head
    assert(r.getLong(0) == preSnap && r.getInt(1) == 0,
      "no part is smaller than 0 rows: nothing compacts, no commit")
  }

  test("CALL snapshots lists the committed history; expire_snapshots trims it") {
    val root = fragmentedStore(800L, 4)
    spark.sql(s"CALL graftcat.system.compact('$root')").collect()

    val hist = spark.sql(s"CALL graftcat.system.snapshots('$root')").collect()
    assert(hist.length == 2, s"append + compaction = 2 snapshots, got ${hist.length}")
    assert(hist(0).getLong(0) < hist(1).getLong(0), "oldest first")
    assert(hist(0).getString(1) == "append" && !hist(0).getBoolean(5))
    assert(hist(1).getString(1) == "rows-rehomed" && hist(1).getBoolean(5))
    assert(hist(1).getLong(4) == 4L, "compaction tombstoned the 4 source parts")
    assert(hist.map(_.getLong(3)).forall(_ == 800L), "every snapshot holds all rows")

    val ex = spark.sql(s"CALL graftcat.system.expire_snapshots(path => '$root', " +
      "keep_last => 1, orphan_grace_ms => 0)").collect().head
    assert(ex.getInt(0) == 1 && ex.getInt(1) == 1, "kept 1, removed 1")
    assert(ex.getInt(2) >= 1 && ex.getLong(3) > 0L,
      "the pre-compaction data dirs are unreferenced now and must be deleted")
    assert(spark.sql(s"CALL graftcat.system.snapshots('$root')").collect().length == 1)
    assert(DecodeJob.decodedRows(DecodeJob.decode(spark, root)) == 800L, "current snapshot intact")
  }

  test("CALL lineage returns the manifest's per-part codec metrics") {
    val root = fragmentedStore(600L, 3)
    val rows = spark.sql(s"CALL graftcat.system.lineage('$root')").collect()
    val manifest = SnapshotStore.currentEntries(root)
    assert(rows.length == manifest.size)
    val byId = manifest.map(e => e.partId -> e).toMap
    rows.foreach { r =>
      val e = byId(r.getInt(0))
      assert(r.getString(1) == e.dataDir && r.getLong(2) == e.nRows &&
        r.getLong(3) == e.origBytes && r.getLong(4) == e.encBytes &&
        r.getString(5) == e.codecsJson)
    }
    assert(rows.map(_.getString(5)).forall(_.contains("\"url\"")),
      "codec json carries per-column codec names")
  }

  test("every procedure fails loudly on a non-store path (typo'd paths are not empty stores)") {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("graft-notstore-")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    Seq("snapshots", "lineage", "compact", "expire_snapshots").foreach { proc =>
      val e = intercept[Exception](
        spark.sql(s"CALL graftcat.system.$proc('$dir')").collect())
      assert(msgs(e).exists(_.contains("no committed snapshot")),
        s"$proc must reject a non-store path, got: ${msgs(e).headOption}")
    }
  }

  test("unknown procedure fails with the available list; namespace is checked") {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val e = intercept[Exception](spark.sql("CALL graftcat.system.vacuum('/tmp/x')").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("unknown graft procedure") || m.contains("vacuum")))
    assertThrows[Exception](
      spark.sql("CALL graftcat.elsewhere.compact('/tmp/x')").collect())
  }
}
