package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{DecodeJob, EncodeJob}
import graft.sources.Webtext

/**
 * DataSource V2 surface: `spark.read.format("graft").load(root)` must equal the
 * pages the store was written from, prune columns down to the block scan, prune
 * block groups via pushed filters, and answer empty-projection counts without
 * touching `encoded`. Expected sides come from those pages, never from a read
 * of the store: the DecodeJob API is the same V2 scan, so it would push the
 * same filters and aggregates.
 */
class V2SourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark()

  private val N = 20000L
  /** One shared store for the suite (encode once). */
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-v2-store-").toString
    EncodeJob.run(spark, Webtext.generate(spark, N, 8), r, parts = 8)
    r
  }

  private def graftTable: DataFrame = spark.read.format("graft").load(root)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The pages the shared store was written from. */
  private def written: DataFrame = Webtext.generate(spark, N, 8).toDF()

  test("full scan equals the DecodeJob view (count + content)") {
    def content(df: DataFrame): DataFrame =
      df.select(col("url"), unix_micros(col("warc_ts")).as("ts"), col("text"), col("lang"),
        md5(col("html")).as("h"))
    val viaV2 = content(graftTable)
    assert(viaV2.count() == N)
    // both read paths are the one V2 reader: each must equal the written pages
    val want = sortedRows(content(written))
    assert(sortedRows(viaV2) == want)
    assert(sortedRows(content(DecodeJob.decode(spark, root).toDF())) == want)
  }

  test("SQL over the registered view works with pushed filters") {
    graftTable.createOrReplaceTempView("graft_pages_v2")
    val one = Webtext.page(123L)
    val out = spark.sql(
      s"SELECT url, lang FROM graft_pages_v2 WHERE url = '${one.url}'").collect()
    assert(out.length == 1 && out(0).getString(1) == one.lang)
    // an exact-url StrEq must have pruned groups during planning
    val stats = GraftDataSource.planStatsFor(root).get
    assert(stats.predicates >= 1)
    assert(stats.prunedGroupKeys.exists(_ <= 2),
      s"exact-url predicate should prune to ~1 group: $stats")
  }

  test("column pruning reaches the scan (projection in plan, equality of values)") {
    val df = graftTable.select(col("url"), col("lang"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=[url,lang]"), s"scan must carry pruned columns:\n$plan")
    assert(sortedRows(df) == sortedRows(written.select(col("url"), col("lang"))))
  }

  test("url prefix filter prunes block groups and returns exact rows") {
    val prefix = "https://host-1.example.com/"
    val df = graftTable.where(col("url").startsWith(prefix)).select(col("url"))
    val got = sortedRows(df)
    val want = sortedRows(
      written.where(col("url").startsWith(prefix))
        .select(col("url")))
    assert(got == want && got.nonEmpty)
    val stats = GraftDataSource.planStatsFor(root).get
    val totalGroups = DecodeJob.blocks(spark, root).where(col("column") === "url").count()
    assert(stats.prunedGroupKeys.exists(k => k > 0 && k < totalGroups),
      s"prefix must prune block groups: $stats of $totalGroups groups")
    assert(df.queryExecution.executedPlan.toString.contains("StrPrefix"),
      "pushed predicate must be visible in the scan description")
  }

  test("EXPLAIN shows the filters the scan claims as ExactFilters; only residuals keep a Filter") {
    import org.apache.spark.sql.execution.{ExplainMode, FilterExec}
    val prefix = "https://host-1.example.com/"
    val hi = new java.sql.Timestamp(1735689600000L + 48L * 3600L * 1000L)
    def cond(t: DataFrame) = t.where(col("url").startsWith(prefix) && col("lang") === "en" &&
      col("warc_ts") < hi)
    val claimed = cond(graftTable).select(col("url"))
    val explained = claimed.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(explained.contains("ExactFilters: [") &&
      explained.contains(s"startswith(url, '$prefix')") && explained.contains("lang = 'en'") &&
      explained.contains("warc_ts <= "), s"claimed filters must show in EXPLAIN:\n$explained")
    assert(claimed.queryExecution.executedPlan.collect { case f: FilterExec => f }.isEmpty,
      s"every filter is claimed, so no Filter node is left:\n$explained")
    assert(sortedRows(claimed) == sortedRows(cond(written).select(col("url"))))
    // a Not stays a Spark residual beside the claimed prefix
    val mixed = graftTable.where(col("url").startsWith(prefix) && col("lang") =!= "en")
      .select(col("url"))
    val plan = mixed.queryExecution.executedPlan
    assert(plan.collect { case f: FilterExec => f }.nonEmpty &&
      plan.toString.contains(s"startswith(url, '$prefix')"), plan.toString)
    assert(sortedRows(mixed) == sortedRows(written.where(col("url").startsWith(prefix) &&
      col("lang") =!= "en").select(col("url"))))
  }

  test("warc_ts range filter prunes and returns exact rows") {
    // host-0 pages sit at the very bottom of the ts domain (base + 0*3600s)
    val hi = new java.sql.Timestamp(1735689600000L + 3600L * 1000L)
    val df = graftTable.where(col("warc_ts") <= hi).select(col("url"))
    val want = sortedRows(written
      .where(col("warc_ts") <= hi).select(col("url")))
    assert(sortedRows(df) == want && want.nonEmpty)
    assert(GraftDataSource.planStatsFor(root).get.predicates >= 1)
  }

  test("empty projection (count(*)) never reads the encoded column") {
    assert(graftTable.count() == N)
    // non-selective residual-only filter: still exact
    assert(graftTable.where(col("lang").isNotNull).count() ==
      written.where(col("lang").isNotNull).count())
  }

  test("non-selective pushed filter keeps every group and stays exact") {
    // lang='en' is in every block's dict (55% of rows): planning keeps every
    // group, and the scan's own filter still produces exact rows
    val df = graftTable.where(col("lang") === "en").select(col("url"))
    val got = df.count()
    val want = written.where(col("lang") === "en").count()
    assert(got == want)
    val stats = GraftDataSource.planStatsFor(root).get
    val groups = DecodeJob.blocks(spark, root).where(col("column") === "url").count().toInt
    assert(stats.prunedGroupKeys.contains(groups) &&
      stats.files == graft.sources.SnapshotStore.currentEntries(root).size,
      s"non-selective predicate must keep all $groups groups: $stats")
  }

  test("string >=/< filters push OPEN-ENDED ranges and stay exact") {
    // regression: a finite stand-in upper bound (e.g. '￿'*8) would prune
    // blocks whose strings sort above it — rows silently lost. The open-ended
    // StrRange keeps every url >= lo, including ones above any finite bound.
    val lo = "https://host-3"
    val df = graftTable.where(col("url") >= lo).select(col("url"))
    val want = sortedRows(written
      .where(col("url") >= lo).select(col("url")))
    assert(sortedRows(df) == want && want.nonEmpty)
    assert(df.queryExecution.executedPlan.toString.contains("StrRange"),
      "string range must be pushed as a block predicate")
    val strict = graftTable.where(col("url") < lo).select(col("url"))
    val wantStrict = sortedRows(written
      .where(col("url") < lo).select(col("url")))
    assert(sortedRows(strict) == wantStrict && wantStrict.nonEmpty)
  }

  test("count/min/max aggregate pushdown answers from metadata (no decode, no agg exec)") {
    graftTable.createOrReplaceTempView("graft_agg_v2")
    val df = spark.sql(
      "SELECT count(*) AS c, min(warc_ts) AS mn, max(warc_ts) AS mx FROM graft_agg_v2")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), s"aggregates must push to the scan:\n$plan")
    val row = df.collect()(0)
    val want = written
      .agg(count(lit(1)), min(col("warc_ts")), max(col("warc_ts"))).collect()(0)
    assert(row.getLong(0) == want.getLong(0))
    assert(row.getTimestamp(1) == want.getTimestamp(1))
    assert(row.getTimestamp(2) == want.getTimestamp(2))
    // a filtered aggregate must NOT push (metadata reflects the whole table)
    val filtered = spark.sql("SELECT count(*) AS c FROM graft_agg_v2 WHERE lang = 'en'")
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(filtered.collect()(0).getLong(0) ==
      written.where(col("lang") === "en").count())
    // grouped aggregates now push too — via the dict-metadata path (r6)
    val grouped = spark.sql("SELECT lang, count(*) FROM graft_agg_v2 GROUP BY lang")
    assert(grouped.queryExecution.executedPlan.toString.contains("group by lang"))
    assert(grouped.count() == written
      .select(col("lang")).distinct().count())
  }

  test("generalized aggregate pushdown: count(col)/min/max over ANY bounded column") {
    graftTable.createOrReplaceTempView("graft_agg_any")
    // strings (exact full-value bounds) + timestamps + null counts in one shot
    val df = spark.sql("SELECT count(lang) AS cl, min(url) AS mnu, max(url) AS mxu, " +
      "min(lang) AS mnl, max(warc_ts) AS mxt FROM graft_agg_any")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates") && plan.contains("(metadata-only)"),
      s"generalized aggregates must push completely:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must leave no aggregate exec:\n$plan")
    val want = written.agg(
      count(col("lang")), min(col("url")), max(col("url")),
      min(col("lang")), max(col("warc_ts"))).collect()(0)
    val got = df.collect()(0)
    assert(got == want, s"metadata answer must equal the decode: $got vs $want")
    // null counting: planted null langs make count(lang) < count(*)
    val r2 = Files.createTempDirectory("graft-v2-aggany-nulls-").toString
    val withNulls = locally {
      import spark.implicits._
      Webtext.generate(spark, 2000L, 4).map(p =>
        if (p.url.endsWith("1")) p.copy(lang = null) else p)
    }
    EncodeJob.run(spark, withNulls, r2, parts = 2)
    spark.read.format("graft").load(r2).createOrReplaceTempView("graft_agg_any_n")
    val nulls = spark.sql(
      "SELECT count(*) AS c, count(lang) AS cl FROM graft_agg_any_n")
    assert(nulls.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    val nRow = nulls.collect()(0)
    assert(nRow.getLong(0) == 2000L && nRow.getLong(1) < 2000L &&
      nRow.getLong(1) == withNulls.where(col("lang").isNotNull).count())
    // min/max over an opaque BINARY column has no metadata bounds: shape-decline
    val onHtml = spark.sql("SELECT min(html) AS h FROM graft_agg_any")
    assert(!onHtml.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "binary min/max must not push (no bounds metadata)")
    // distinct counts cannot be answered from per-block metadata
    val distinctCount = spark.sql("SELECT count(DISTINCT lang) AS d FROM graft_agg_any")
    assert(!distinctCount.queryExecution.executedPlan.toString.contains("(metadata-only)"))
    assert(distinctCount.collect()(0).getLong(0) ==
      written.select(col("lang")).distinct().count())
  }

  test("GROUPED aggregate pushdown: count(*) GROUP BY lang answers from dict metadata") {
    graftTable.createOrReplaceTempView("graft_gagg")
    val df = spark.sql(
      "SELECT lang, count(*) AS cnt, count(lang) AS cl FROM graft_gagg GROUP BY lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates") && plan.contains("group by lang") &&
      plan.contains("(metadata-only)"),
      s"grouped agg must push completely:\n$plan")
    val want = written
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"), count(col("lang")).as("cl"))
    assert(sortedRows(df) == sortedRows(want))

    // NULL group: plant null langs, rebuild, the (null, n, 0) row must appear
    import spark.implicits._
    val r2 = Files.createTempDirectory("graft-v2-gagg-nulls-").toString
    val pages = Webtext.generate(spark, 3000L, 8).map(p =>
      if (p.url.endsWith("7")) p.copy(lang = null) else p)
    EncodeJob.run(spark, pages, r2, parts = 4)
    spark.read.format("graft").load(r2).createOrReplaceTempView("graft_gagg_n")
    val dfn = spark.sql(
      "SELECT lang, count(*) AS cnt, count(lang) AS cl FROM graft_gagg_n GROUP BY lang")
    assert(dfn.queryExecution.executedPlan.toString.contains("(metadata-only)"))
    val wantN = pages.toDF()
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"), count(col("lang")).as("cl"))
    assert(sortedRows(dfn) == sortedRows(wantN))
    val nullRow = dfn.collect().find(_.isNullAt(0))
    assert(nullRow.exists(r => r.getLong(1) > 0 && r.getLong(2) == 0L),
      "the NULL group must count via n_nulls with count(lang) = 0")
  }

  test("GROUPED aggregate pushdown declines exactly when metadata cannot answer") {
    // text: high-cardinality long values never dict-qualify -> fallback, exact
    graftTable.createOrReplaceTempView("graft_gagg_d")
    val onText = spark.sql(
      "SELECT text, count(*) AS cnt FROM graft_gagg_d GROUP BY text")
    assert(!onText.queryExecution.executedPlan.toString.contains("(metadata-only)"),
      "text grouping must fall back (no dict coverage)")
    assert(onText.count() == written
      .groupBy(col("text")).count().count())

    // a filter blocks the pushdown (metadata reflects the unfiltered table)
    val filtered = spark.sql(
      "SELECT lang, count(*) AS cnt FROM graft_gagg_d WHERE lang <> 'en' GROUP BY lang")
    assert(!filtered.queryExecution.executedPlan.toString.contains("(metadata-only)"))
    val wantF = written.where(col("lang") =!= "en")
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    assert(sortedRows(filtered) == sortedRows(wantF))

    // count of a DIFFERENT column cannot be attributed across a block
    val otherCol = spark.sql(
      "SELECT lang, count(url) AS cu FROM graft_gagg_d GROUP BY lang")
    assert(!otherCol.queryExecution.executedPlan.toString.contains("(metadata-only)"))

    // one part committed before per-part stats: the manifest cannot answer,
    // the pushdown declines and the scan stays exact
    val r2 = Files.createTempDirectory("graft-v2-gagg-legacy-").toString
    val pages = Webtext.generate(spark, 2000L, 4).toDF()
    EncodeJob.run(spark, Webtext.generate(spark, 2000L, 4), r2, parts = 4)
    val oneLegacy = statsStrippedCopy(r2, firstOnly = true)
    val legacyEntries = graft.sources.SnapshotStore.currentEntries(oneLegacy)
    assert(legacyEntries.count(_.stats.isEmpty) == 1 && legacyEntries.size == 4)
    assert(GraftGroupedAgg.compute(legacyEntries, "lang").isEmpty,
      "a stats-less part must decline grouped pushdown")
    val legacyQ = spark.read.format("graft").load(oneLegacy)
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    assert(!legacyQ.queryExecution.executedPlan.toString.contains("(metadata-only)"))
    assert(sortedRows(legacyQ) ==
      sortedRows(pages.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))))
    // and a store answering normally yields the same counts as the data
    val viaMeta = GraftGroupedAgg.compute(graft.sources.SnapshotStore.currentEntries(root), "lang")
    assert(viaMeta.isDefined)
    val wantMap = written.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaMeta.get.map(g => g.value -> g.countStar).toMap == wantMap)
  }

  test("FILTERED grouped aggregate answers from metadata at plan level (zero scan)") {
    import spark.implicits._
    val n0 = graft.plans.GroupedAggMetadataRule.fired.get()
    graftTable.createOrReplaceTempView("graft_gaggf")
    val df = spark.sql("SELECT lang, count(*) AS cnt, count(lang) AS cl " +
      "FROM graft_gaggf WHERE lang <> 'en' AND lang LIKE '__' GROUP BY lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("GraftStore"),
      s"filtered grouped agg must become a local relation:\n$plan")
    assert(graft.plans.GroupedAggMetadataRule.fired.get() > n0, "rule did not fire")
    val want = written
      .where(col("lang") =!= "en" && col("lang").like("__"))
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"), count(col("lang")).as("cl"))
    assert(sortedRows(df) == sortedRows(want))

    // NULL-group three-valued logic on a store with planted null langs:
    // `<>` must DROP the NULL group, `IS NULL` must keep exactly it
    val r2 = Files.createTempDirectory("graft-v2-gaggf-nulls-").toString
    val pages = Webtext.generate(spark, 2000L, 4).map(p =>
      if (p.url.endsWith("3")) p.copy(lang = null) else p)
    EncodeJob.run(spark, pages, r2, parts = 2)
    spark.read.format("graft").load(r2).createOrReplaceTempView("graft_gaggf_n")
    val neq = spark.sql(
      "SELECT lang, count(*) AS cnt FROM graft_gaggf_n WHERE lang <> 'zz' GROUP BY lang")
    assert(neq.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(neq.collect().forall(!_.isNullAt(0)), "<> must drop the NULL group")
    val wantNeq = pages.toDF().where(col("lang") =!= "zz")
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    assert(sortedRows(neq) == sortedRows(wantNeq))
    val isNull = spark.sql(
      "SELECT lang, count(*) AS cnt, count(lang) AS cl FROM graft_gaggf_n " +
      "WHERE lang IS NULL GROUP BY lang")
    assert(isNull.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val rows = isNull.collect()
    assert(rows.length == 1 && rows(0).isNullAt(0) && rows(0).getLong(1) > 0 &&
      rows(0).getLong(2) == 0L, s"IS NULL must keep exactly the NULL group: ${rows.toSeq}")
    assert(rows(0).getLong(1) ==
      pages.toDF().where(col("lang").isNull).count())

    // declines, each falling back to an exact scan: a condition on ANOTHER
    // column; count of another column; a high-cardinality group column
    val otherCond = spark.sql("SELECT lang, count(*) AS c FROM graft_gaggf " +
      "WHERE url LIKE 'https%' GROUP BY lang")
    assert(!otherCond.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "a filter on another column must decline the metadata answer")
    val otherCount = spark.sql("SELECT lang, count(url) AS c FROM graft_gaggf " +
      "WHERE lang <> 'en' GROUP BY lang")
    assert(!otherCount.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val onText = spark.sql("SELECT text, count(*) AS c FROM graft_gaggf " +
      "WHERE text <> 'x' GROUP BY text")
    assert(!onText.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "no dict coverage must decline")
    val wantText = written.where(col("text") =!= "x")
      .groupBy(col("text")).agg(count(lit(1)).as("c"))
    assert(onText.count() == wantText.count())

    // the plan rule must not swallow the builder's option validation: an
    // unparseable snapshotId still throws (instead of silently answering the
    // CURRENT state from metadata before the builder ever sees the option)
    val badSnap = intercept[Exception] {
      spark.read.format("graft").option("snapshotId", "latest").load(root)
        .createOrReplaceTempView("graft_gaggf_bad")
      spark.sql("SELECT lang, count(*) AS c FROM graft_gaggf_bad " +
        "WHERE lang <> 'x' GROUP BY lang").collect()
    }
    assert(badSnap.getMessage.contains("invalid snapshotId"),
      s"rule must decline and let the builder validate: ${badSnap.getMessage}")

    // incremental (fromSnapshot) scans are NOT the state metadata describes
    spark.read.format("graft").option("fromSnapshot", "0").load(r2)
      .createOrReplaceTempView("graft_gaggf_incr")
    val incr = spark.sql("SELECT lang, count(*) AS c FROM graft_gaggf_incr " +
      "WHERE lang <> 'zz' GROUP BY lang")
    assert(!incr.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "an incremental scan must decline the metadata answer")
    assert(sortedRows(incr) == sortedRows(wantNeq.withColumnRenamed("cnt", "c")))
  }

  test("time travel: option(snapshotId) reads a historical snapshot, aggs included") {
    // a second committed wave on a COPY of the store (the shared fixture must
    // stay single-snapshot for the other tests)
    val r2 = Files.createTempDirectory("graft-v2-tt-").toString
    EncodeJob.run(spark, Webtext.generate(spark, 4000L, 4), r2, parts = 4, waves = 2)
    val ids = graft.sources.SnapshotStore.snapshotIds(r2)
    assert(ids.size == 2)
    val oldDf = spark.read.format("graft").option("snapshotId", ids.head.toString).load(r2)
    val newDf = spark.read.format("graft").load(r2)
    val (nOld, nNew) = (oldDf.count(), newDf.count())
    assert(nOld > 0 && nOld < nNew && nNew == 4000L,
      s"old snapshot must be a strict subset: $nOld vs $nNew")
    // aggregate pushdown respects the snapshot too
    oldDf.createOrReplaceTempView("graft_tt_old")
    val c = spark.sql("SELECT count(*) FROM graft_tt_old")
    assert(c.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(c.collect()(0).getLong(0) == nOld)
  }

  test("incremental read: option(fromSnapshot) returns rows ADDED in the range") {
    import org.apache.spark.sql.functions.{concat, lit}
    val r2 = Files.createTempDirectory("graft-v2-incr-").toString
    // snapshot 1: batch job; snapshot 2: SQL append; snapshot 3: compaction
    // (rehomed — must add nothing); snapshot 4: another SQL append
    EncodeJob.run(spark, Webtext.generate(spark, 1000L, 2), r2, parts = 2)
    def tagged(n: Long, tag: String): DataFrame =
      Webtext.generate(spark, n, 2).toDF()
        .select(concat(lit(tag), col("url")).as("url"), col("warc_ts"),
          col("html"), col("text"), col("lang"))
    tagged(400L, "w2-").write.format("graft").mode("append").save(r2)
    assert(graft.jobs.CompactJob.run(spark, r2).partsCompacted > 0)
    tagged(300L, "w4-").write.format("graft").mode("append").save(r2)
    val ids = graft.sources.SnapshotStore.snapshotIds(r2)
    assert(ids.size == 4)

    def delta(from: Long, to: Option[Long] = None): DataFrame = {
      var r = spark.read.format("graft").option("fromSnapshot", from.toString)
      to.foreach(t => r = r.option("toSnapshot", t.toString))
      r.load(r2)
    }
    // (1, current]: both appends, nothing from wave 1, nothing from compaction
    val d1 = delta(1L).select(col("url")).collect().map(_.getString(0))
    assert(d1.length == 700 && d1.forall(u => u.startsWith("w2-") || u.startsWith("w4-")),
      s"(1, head] must be exactly the two appends, got ${d1.length}")
    // bounded ranges
    assert(delta(1L, Some(2L)).count() == 400)
    assert(delta(2L, Some(3L)).count() == 0, "a compaction commit adds nothing")
    assert(delta(3L, Some(4L)).count() == 300)
    assert(delta(4L).count() == 0, "empty range (from == current) reads nothing")
    // from = 0 is the full additions history (original wave 1 dirs still exist)
    assert(delta(0L).count() == 1700)
    // pushed filters prune within the delta and stay exact
    val f = delta(1L).where(col("url").startsWith("w4-"))
    assert(f.count() == 300)
    // mutually exclusive options are refused loudly
    val ex = intercept[Exception] {
      spark.read.format("graft").option("fromSnapshot", "1")
        .option("snapshotId", "2").load(r2).count()
    }
    assert(ex.getMessage.contains("mutually exclusive"))
    val ex2 = intercept[Exception] {
      spark.read.format("graft").option("toSnapshot", "2").load(r2).count()
    }
    assert(ex2.getMessage.contains("toSnapshot requires fromSnapshot"))
    // a bound past the head is a user error, not a (misleading) retention one
    val exHead = intercept[Exception] {
      spark.read.format("graft").option("fromSnapshot", "1")
        .option("toSnapshot", "99").load(r2).count()
    }
    assert(exHead.getMessage.contains("beyond the current snapshot"))
    // a range whose manifests were expired fails with the remediation, never
    // a silent partial delta
    graft.sources.SnapshotStore.expireSnapshots(r2, keepLast = 1, orphanGraceMs = 0L)
    val ex3 = intercept[Exception] { delta(1L).count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex3).exists(_.contains("expired")),
      s"expired range must fail with remediation, got: ${messages(ex3)}")
  }

  test("multi-file bins: reader chains files, flushing groups at boundaries") {
    // at default confs every test-scale bin holds ONE file, so the cross-file
    // reader path (openNext, boundary flush) would go untested; forcing
    // minPartitionNum=1 packs all 8 files into 1-2 bins and must still decode
    // every group exactly once
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val viaV2 = graftTable.select(col("url"), unix_micros(col("warc_ts")).as("ts"),
        col("lang"))
      val got = sortedRows(viaV2) // materialize through GraftScan (not the agg scan)
      val stats = GraftDataSource.planStatsFor(root).get
      assert(stats.partitions < stats.files && stats.files >= 2,
        s"bins must pack multiple files under minPartitionNum=1: $stats")
      val want = sortedRows(written
        .select(col("url"), unix_micros(col("warc_ts")).as("ts"), col("lang")))
      assert(got.length == N && got == want, "no dropped/duplicated boundary groups")
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("runtime filtering: join-delivered url In-filter prunes groups; joins stay exact") {
    // deterministic unit check of the runtime-filter hook itself
    val urls = Seq(Webtext.page(5L).url, Webtext.page(77L).url)
    val scan = new GraftScan(root, None, GraftDataSource.PageSchema, Seq.empty)
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("url"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("url", urls.toArray[Any])))
    scan.planInputPartitions()
    val stats = GraftDataSource.planStatsFor(root).get
    val totalGroups = DecodeJob.blocks(spark, root).where(col("column") === "url").count()
    assert(stats.prunedGroupKeys.exists(k => k > 0 && k < totalGroups),
      s"runtime In-filter must prune groups: $stats of $totalGroups")
    // an oversized or unconvertible runtime filter is a sound no-op
    val scan2 = new GraftScan(root, None, GraftDataSource.PageSchema, Seq.empty)
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("url", Array.tabulate(20000)(i => s"u$i": Any))))
    scan2.planInputPartitions()
    assert(GraftDataSource.planStatsFor(root).get.prunedGroupKeys.isEmpty)
    // end-to-end: broadcast join over the V2 table returns exact rows
    import spark.implicits._
    val small = urls.toDF("url")
    val joined = graftTable.join(broadcast(small), Seq("url")).select(col("url"), col("lang"))
    val want = written
      .join(broadcast(small), Seq("url")).select(col("url"), col("lang"))
    assert(sortedRows(joined) == sortedRows(want) && joined.count() == 2)
  }

  test("SQL DDL: CREATE TEMPORARY VIEW ... USING graft works end-to-end") {
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_ddl_v2 USING graft " +
      s"OPTIONS (path '$root')")
    assert(spark.sql("SELECT count(*) FROM graft_ddl_v2").collect()(0).getLong(0) == N)
    val one = Webtext.page(42L)
    val row = spark.sql(
      s"SELECT lang FROM graft_ddl_v2 WHERE url = '${one.url}'").collect()
    assert(row.length == 1 && row(0).getString(0) == one.lang)
  }

  test("opt-in COLUMNAR scans: batches feed ColumnarToRow, values stay exact") {
    // columnar is opt-in (measured: copying multi-KB blobs into vectors loses
    // 2x to zero-copy row wrapping on full scans; narrow projections are ~even)
    spark.conf.set("spark.graft.v2.columnar", "true")
    graftTable.createOrReplaceTempView("graft_count_cols_v2")
    try {
      val df = graftTable.select(col("url"), col("lang"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"),
        s"scan must produce ColumnarBatches consumed via ColumnarToRow:\n$plan")
      // equality through the columnar path incl. nullable warc_ts + binary html
      val full = graftTable.select(col("url"), unix_micros(col("warc_ts")).as("ts"),
        md5(col("html")).as("h"), col("text"))
      val want = sortedRows(written
        .select(col("url"), unix_micros(col("warc_ts")).as("ts"),
          md5(col("html")).as("h"), col("text")))
      assert(sortedRows(full) == want)
      // empty-projection (constant select) through the zero-column batch path
      assert(spark.sql("SELECT 1 FROM graft_count_cols_v2").count() == N)
      // forced group splitting: a tiny per-column byte ceiling must slice every
      // group into many batches with identical results (the 2GB-contiguous
      // OnHeapColumnVector guard at scale)
      val saved = GraftColumnarReader.MaxBatchColumnBytes
      try {
        GraftColumnarReader.MaxBatchColumnBytes = 4096L
        val sliced = graftTable.select(col("url"), unix_micros(col("warc_ts")).as("ts"),
          md5(col("html")).as("h"), col("text"))
        assert(sortedRows(sliced) == want, "split batches must lose/duplicate nothing")
      } finally GraftColumnarReader.MaxBatchColumnBytes = saved
    } finally spark.conf.unset("spark.graft.v2.columnar")
    // default stays ROW-based (no ColumnarToRow over the graft scan)
    val rowPlan = graftTable.select(col("url")).queryExecution.executedPlan.toString
    assert(!rowPlan.contains("ColumnarToRow"), s"default must be row-based:\n$rowPlan")
  }

  test("pruning survives >4096 surviving groups (per-partition key slices)") {
    // r4 regression: the scan dropped ALL pruning past 4096 surviving groups
    // because the whole packed-key array rode every InputPartition. With each
    // partition carrying only its own files' keys the SQL surface must prune
    // as deep as the decodeWhere API. Fixture: 1-row block groups
    // (maxBlockBytes=1) make 12k groups from 12k rows.
    val r2 = Files.createTempDirectory("graft-v2-manykeys-").toString
    val input = Webtext.generate(spark, 12000L, 8)
    EncodeJob.run(spark, input, r2, parts = 8, maxBlockBytes = 1L)
    val R4TaskKeyCeiling = 4096
    val pred = col("url") < "https://host-2" // ~37% of zipf-hosted urls
    val want = sortedRows(input.toDF()
      .where(pred).select(col("url")))
    assert(want.length > R4TaskKeyCeiling,
      s"fixture must survive in >4096 groups, got ${want.length}")
    val df = spark.read.format("graft").load(r2).where(pred).select(col("url"))
    assert(sortedRows(df) == want)
    val stats = GraftDataSource.planStatsFor(r2).get
    assert(stats.prunedGroupKeys.exists(_ > R4TaskKeyCeiling),
      s"scan must prune past the old 4096 ceiling: $stats")
  }

  test("limit pushdown: scan carries the limit, tasks stop early, counts exact") {
    val df = graftTable.limit(777)
    assert(df.count() == 777)
    val stats = GraftDataSource.planStatsFor(root).get
    assert(stats.pushedLimit.contains(777), s"limit must reach the scan: $stats")
    val builder = new GraftScanBuilder(root, None)
    builder.pushLimit(777)
    assert(builder.build().description().contains("PushedLimit: 777"),
      "pushed limit must be visible in the scan description")
    // limit larger than the table is exact too
    assert(graftTable.limit((N + 5).toInt).count() == N)
    // a filter the scan claims: the pushed cap counts the rows that passed
    // it, so results must still be exact
    val filtered = graftTable.where(col("lang") === "en").limit(50)
    assert(filtered.count() == 50)
    // columnar path honors the cap at batch granularity
    spark.conf.set("spark.graft.v2.columnar", "true")
    try assert(graftTable.limit(777).count() == 777)
    finally spark.conf.unset("spark.graft.v2.columnar")
  }

  test("top-n pushdown: ORDER BY url LIMIT n prunes to a url-prefix of groups") {
    val df = graftTable.orderBy(col("url")).limit(40).select(col("url"), col("lang"))
    val want = written.orderBy(col("url")).limit(40)
      .select(col("url"), col("lang")).collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
    val stats = GraftDataSource.planStatsFor(root).get
    assert(stats.pushedTopN.exists(t => t.asc && t.nullsFirst && t.limit == 40),
      s"top-n must reach the scan: $stats")
    assert(stats.prunedGroupKeys.exists(_ <= 2),
      s"a 40-row prefix of an 8-group store should keep ~1 group: $stats")
    assert(df.queryExecution.executedPlan.toString.contains("PushedTopN"),
      "pushed top-n must be visible in the scan description")

    // DESC reads the url-SUFFIX groups instead
    val wantDesc = written.orderBy(col("url").desc).limit(40)
      .select(col("url")).collect().map(_.toString).toSeq
    assert(graftTable.orderBy(col("url").desc).limit(40).select(col("url"))
      .collect().map(_.toString).toSeq == wantDesc)
    val statsDesc = GraftDataSource.planStatsFor(root).get
    assert(statsDesc.pushedTopN.exists(t => !t.asc) && statsDesc.prunedGroupKeys.exists(_ <= 2),
      s"desc top-n should prune to the url-suffix groups: $statsDesc")

    // any filter blocks top-n pushdown (group row counts no longer bound the
    // MATCHING rows) — results stay exact via Spark's own sort+limit
    val filtered = graftTable.where(col("lang") === "en").orderBy(col("url")).limit(10)
    assert(filtered.collect().length == 10)
    assert(GraftDataSource.planStatsFor(root).get.pushedTopN.isEmpty,
      "a residual filter must keep top-n out of the scan")

    // a limit past the table keeps every row (quota unreachable -> no pruning)
    assert(graftTable.orderBy(col("url")).limit((N + 5).toInt).count() == N)
  }

  test("top-n pushdown: ORDER BY warc_ts LIMIT n prunes via exact int block bounds") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // a store whose warc_ts CORRELATES with the url layout (a time-partitioned
    // crawl): per-block ts bounds are then narrow/disjoint and the prefix plan
    // prunes. On the suite's shared store ts is random per block and most
    // groups survive — covered at the end of this test.
    val r2 = Files.createTempDirectory("graft-v2-topn-ts-").toString
    val pages = Webtext.generate(spark, 8000L, 8).toDF()
      .withColumn("rk", row_number().over(Window.orderBy(col("url"))))
      .withColumn("warc_ts",
        expr("timestampadd(SECOND, rk, timestamp'2024-01-01 00:00:00')"))
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[graft.sources.WebPage]
    EncodeJob.run(spark, pages, r2, parts = 8)
    val v2 = spark.read.format("graft").load(r2)
    val full = pages.toDF()

    val got = v2.orderBy(col("warc_ts")).limit(40).select(col("url"), col("warc_ts"))
      .collect().map(_.toString).sorted.toSeq
    val want = full.orderBy(col("warc_ts")).limit(40).select(col("url"), col("warc_ts"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    val stats = GraftDataSource.planStatsFor(r2).get
    assert(stats.pushedTopN.exists(t => t.column == "warc_ts" && t.asc && t.limit == 40),
      s"warc_ts top-n must reach the scan: $stats")
    assert(stats.prunedGroupKeys.exists(_ <= 3),
      s"a 40-row ts-prefix of an 8-group time-partitioned store keeps few groups: $stats")

    // DESC reads the ts-suffix groups
    val gotDesc = v2.orderBy(col("warc_ts").desc).limit(40).select(col("warc_ts"))
      .collect().map(_.toString).sorted.toSeq
    val wantDesc = full.orderBy(col("warc_ts").desc).limit(40).select(col("warc_ts"))
      .collect().map(_.toString).sorted.toSeq
    assert(gotDesc == wantDesc)
    assert(GraftDataSource.planStatsFor(r2).get.pushedTopN.exists(t =>
      t.column == "warc_ts" && !t.asc))
    assert(GraftDataSource.planStatsFor(r2).get.prunedGroupKeys.exists(_ <= 3))

    // shared store: ts does NOT correlate with the url layout — most groups
    // survive, the scan reads them and results stay exact (the ts multiset
    // is deterministic even with ties at the cut)
    val gotShared = graftTable.orderBy(col("warc_ts")).limit(40).select(col("warc_ts"))
      .collect().map(_.toString).sorted.toSeq
    val wantShared = written.orderBy(col("warc_ts"))
      .limit(40).select(col("warc_ts")).collect().map(_.toString).sorted.toSeq
    assert(gotShared == wantShared)
    val sharedStats = GraftDataSource.planStatsFor(root).get
    val sharedGroups = DecodeJob.blocks(spark, root).where(col("column") === "url").count()
    assert(sharedStats.pushedTopN.exists(_.column == "warc_ts") &&
      sharedStats.prunedGroupKeys.exists(k => k > sharedGroups / 2 && k <= sharedGroups),
      s"uncorrelated ts must keep most of the $sharedGroups groups: $sharedStats")
  }

  test("top-n pushdown on warc_ts with planted NULLs stays exact under both orderings") {
    import spark.implicits._
    val r2 = Files.createTempDirectory("graft-v2-topn-ts-nulls-").toString
    val nullIds = Set("100", "101", "102", "103", "104")
    val pages = Webtext.generate(spark, 4000L, 8).map { p =>
      if (nullIds.contains(p.url.substring(p.url.lastIndexOf('/') + 1)))
        p.copy(warc_ts = null)
      else p
    }
    EncodeJob.run(spark, pages, r2, parts = 4)
    val v2 = spark.read.format("graft").load(r2)
    val full = pages.toDF()
    def tss(df: DataFrame): Seq[String] =
      df.collect().map(r => if (r.isNullAt(0)) "null" else r.get(0).toString).sorted.toSeq

    // default asc = NULLS FIRST: the 5 null-ts rows are in the top-20
    val got = v2.orderBy(col("warc_ts")).limit(20).select(col("warc_ts"))
    val want = full.orderBy(col("warc_ts")).limit(20).select(col("warc_ts"))
    assert(tss(got) == tss(want))
    assert(got.collect().count(_.isNullAt(0)) == 5, "null ts must sort into the top-n")
    assert(GraftDataSource.planStatsFor(r2).get.pushedTopN.exists(t =>
      t.column == "warc_ts" && t.nullsFirst))

    // NULLS LAST: pure non-null top-15
    val gotLast = v2.orderBy(col("warc_ts").asc_nulls_last).limit(15).select(col("warc_ts"))
    val wantLast = full.orderBy(col("warc_ts").asc_nulls_last).limit(15).select(col("warc_ts"))
    assert(tss(gotLast) == tss(wantLast))
    assert(gotLast.collect().forall(!_.isNullAt(0)))
  }

  test("top-n pushdown with NULL urls stays exact under both null orderings") {
    import spark.implicits._
    val r2 = Files.createTempDirectory("graft-v2-topn-nulls-").toString
    val nullIds = Set("100", "101", "102", "103", "104")
    val pages = Webtext.generate(spark, 4000L, 8).map { p =>
      if (nullIds.contains(p.url.substring(p.url.lastIndexOf('/') + 1))) p.copy(url = null)
      else p
    }
    EncodeJob.run(spark, pages, r2, parts = 4)
    val v2 = spark.read.format("graft").load(r2)
    val full = pages.toDF()

    // Spark's default asc = NULLS FIRST: all 5 null-url rows are IN the top-20,
    // so the group holding them must survive pruning via its n_nulls metadata
    val got = v2.orderBy(col("url")).limit(20).select(col("url"), col("text"))
    val want = full.orderBy(col("url")).limit(20).select(col("url"), col("text"))
    assert(sortedRows(got) == sortedRows(want))
    assert(got.collect().count(_.isNullAt(0)) == 5, "null urls must sort into the top-n")
    val stats = GraftDataSource.planStatsFor(r2).get
    assert(stats.pushedTopN.exists(_.nullsFirst), s"default asc pushes NULLS FIRST: $stats")

    // NULLS LAST: the top-15 is pure non-null; null counts keep the quota honest
    val gotLast = v2.orderBy(col("url").asc_nulls_last).limit(15).select(col("url"))
    val wantLast = full.orderBy(col("url").asc_nulls_last).limit(15).select(col("url"))
    assert(sortedRows(gotLast) == sortedRows(wantLast))
    assert(gotLast.collect().forall(!_.isNullAt(0)))
    assert(GraftDataSource.planStatsFor(r2).get.pushedTopN.exists(!_.nullsFirst))
  }

  test("property: top-n over multi-group parts equals parquet in every order") {
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    val r2 = Files.createTempDirectory("graft-v2-topn-multi-").toString
    val pq = Files.createTempDirectory("graft-v2-topn-parquet-").toString + "/pages"
    // null urls and null timestamps, in parts of several groups each
    val pages = Webtext.generate(spark, 4000L, 8).map { p =>
      val id = p.url.substring(p.url.lastIndexOf('/') + 1)
      if (id.endsWith("17")) p.copy(url = null)
      else if (id.endsWith("3")) p.copy(warc_ts = null)
      else p
    }
    EncodeJob.run(spark, pages, r2, parts = 4, maxBlockBytes = 64L << 10)
    assert(graft.sources.SnapshotStore.currentEntries(r2).forall(_.stats.exists(_.nGroups >= 4)))
    pages.toDF().write.parquet(pq)
    def top(df: DataFrame, c: String, asc: Boolean, nullsFirst: Option[Boolean],
        n: Int): Seq[String] = {
      val order = (asc, nullsFirst) match {
        case (true, None) => col(c).asc
        case (true, Some(true)) => col(c).asc_nulls_first
        case (true, Some(false)) => col(c).asc_nulls_last
        case (false, None) => col(c).desc
        case (false, Some(true)) => col(c).desc_nulls_first
        case (false, Some(false)) => col(c).desc_nulls_last
      }
      df.orderBy(order).limit(n).select(col(c)).collect().map(r => String.valueOf(r.get(0))).toSeq
    }
    val shapes = for {
      c <- Gen.oneOf("url", "warc_ts")
      asc <- Gen.oneOf(true, false)
      nullsFirst <- Gen.oneOf(None, Some(true), Some(false))
      n <- Gen.choose(1, 400)
    } yield (c, asc, nullsFirst, n)
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(24)
        .withInitialSeed(org.scalacheck.rng.Seed(20261020L)).withWorkers(1),
      Prop.forAllNoShrink(shapes) { case (c, asc, nullsFirst, n) =>
        val got = top(spark.read.format("graft").load(r2), c, asc, nullsFirst, n)
        val pushed = GraftDataSource.planStatsFor(r2).get.pushedTopN
        val ok = got == top(spark.read.parquet(pq), c, asc, nullsFirst, n) &&
          pushed.exists(t => t.column == c && t.limit == n)
        if (!ok) println(s"counterexample ORDER BY $c asc=$asc nullsFirst=$nullsFirst " +
          s"LIMIT $n: pushed $pushed")
        ok
      })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("V2 scan reads compacted (negative part-id) stores completely") {
    // regression: the reader's one-group buffer used `bufKey < 0` as its
    // empty sentinel — compacted parts live in a NEGATIVE id namespace, so
    // every compacted group silently vanished from the V2 surface
    val r2 = Files.createTempDirectory("graft-v2-compacted-").toString
    val input = Webtext.generate(spark, 3000L, 8)
    EncodeJob.run(spark, input, r2, parts = 8)
    val cr = graft.jobs.CompactJob.run(spark, r2)
    assert(cr.partsCompacted > 0 && cr.partsCreated > 0)
    assert(graft.sources.SnapshotStore.currentEntries(r2).exists(_.partId < 0))
    val viaV2 = spark.read.format("graft").load(r2)
      .select(col("url"), md5(col("html")).as("h"), col("lang"))
    val want = sortedRows(input.toDF()
      .select(col("url"), md5(col("html")).as("h"), col("lang")))
    assert(viaV2.count() == 3000L, "compacted groups must not vanish from the V2 scan")
    assert(sortedRows(viaV2) == want)
  }

  test("statistics report manifest row count and decoded size") {
    val scan = new GraftScan(root, None, GraftDataSource.PageSchema, Seq.empty)
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == N)
    assert(st.sizeInBytes().getAsLong > 0)
  }

  /** Spark jobs submitted while `body` runs: job ids are assigned at
    * submission, so the jobs of `body` are exactly those between two marker
    * jobs run just before and just after it (listener delivery is
    * asynchronous, so the markers' ids are awaited, the body's need not be). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val markers = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.marker")))
          .foreach(m => markers.put(m, e.jobId))
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
      while (markers.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markers.size == 2, "marker job events never arrived")
      (out, markers.get("after") - markers.get("before") - 1)
    } finally sc.removeSparkListener(l)
  }

  /** Rows of `df` plus the Spark jobs its PLANNING ran: the window opens once
    * the optimized plan exists and closes once the scan's input partitions
    * are planned — the part of a query the manifest stats serve. */
  private def planJobs(df: DataFrame): (Seq[String], Int) = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.optimizedPlan
    val (_, jobs) = jobsDuring {
      df.queryExecution.executedPlan
      val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      assert(scans.nonEmpty, s"no graft scan in:\n${df.queryExecution.sparkPlan}")
      scans.foreach(_.inputPartitions)
    }
    (sortedRows(df), jobs)
  }

  /** A byte-for-byte copy of a store whose manifest lines lack `stats` — what
    * every store committed before per-part stats existed looks like. With
    * `firstOnly`, only each manifest's first line loses them. */
  private def statsStrippedCopy(src: String, firstOnly: Boolean = false): String = {
    import scala.jdk.CollectionConverters._
    val dst = Files.createTempDirectory("graft-v2-nostats-")
    val srcPath = java.nio.file.Paths.get(src)
    val walk = Files.walk(srcPath)
    try walk.iterator().asScala.toSeq.foreach { p =>
      val t = dst.resolve(srcPath.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val mfs = Files.list(dst.resolve("manifests"))
    try mfs.iterator().asScala.filter(_.toString.endsWith(".jsonl")).foreach { mf =>
      val lines = Files.readAllLines(mf).asScala.filter(_.nonEmpty).zipWithIndex.map {
        case (line, i) if firstOnly && i > 0 => line
        case (line, _) =>
          val node = json.readTree(line).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          assert(node.has("stats"), s"fresh stores must carry part stats: $line")
          node.remove("stats")
          json.writeValueAsString(node)
      }
      Files.write(mf, lines.asJava)
    } finally mfs.close()
    dst.toString
  }

  /** 16,000 pages in 16 parts, written with the block byte bound `maxBlockBytes`. */
  private def coldStore(maxBlockBytes: Long): String = {
    val r = Files.createTempDirectory("graft-v2-cold-").toString
    EncodeJob.run(spark, Webtext.generate(spark, 16000L, 8), r, parts = 16,
      maxBlockBytes = maxBlockBytes)
    r
  }
  private def groupsPerPart(r: String): Seq[Int] =
    graft.sources.SnapshotStore.currentEntries(r).map(_.stats.get.nGroups)

  /** The cold-planning pages with one block group per part. */
  private lazy val singleGroupStore: String = {
    val r = coldStore(EncodeJob.MaxBlockBytes)
    assert(groupsPerPart(r).forall(_ == 1), s"groups per part: ${groupsPerPart(r)}")
    r
  }

  /** The same pages with at least 4 block groups per part: the byte bound is
    * a sixth of the smallest part's input bytes. */
  private lazy val multiGroupStore: String = {
    val r = coldStore(graft.sources.SnapshotStore.currentEntries(singleGroupStore)
      .map(_.origBytes).min / 6)
    assert(groupsPerPart(r).forall(_ >= 4), s"groups per part: ${groupsPerPart(r)}")
    r
  }

  test("cold selective planning runs no Spark job; a stats-less copy prunes via block metadata") {
    val base = 1735689600000000L // Webtext's warc_ts origin
    val queries: Seq[String => DataFrame] = Seq(
      r => spark.read.format("graft").load(r)
        .where(col("url").startsWith("https://host-1.example.com/") && col("lang") === "en")
        .select(col("url"), col("lang")),
      r => spark.read.format("graft").load(r)
        // host h's pages start at base + h hours: only host-0, whose urls
        // sort first, reaches below base + 30 min
        .where(col("warc_ts").between(new java.sql.Timestamp(base / 1000L),
          new java.sql.Timestamp((base + 1800000000L) / 1000L)))
        .select(col("url"), unix_micros(col("warc_ts"))),
      r => spark.read.format("graft").load(r).orderBy(col("url")).limit(40)
        .select(col("url"), col("lang")))
    for (multiGroup <- Seq(false, true)) {
      val fresh = if (multiGroup) multiGroupStore else singleGroupStore
      val groups = groupsPerPart(fresh).sum
      // no stats: parts plan from their footers
      val legacy = statsStrippedCopy(fresh)
      assert(graft.sources.SnapshotStore.currentEntries(legacy).forall(_.stats.isEmpty))
      queries.zipWithIndex.foreach { case (q, i) =>
        val store = s"query $i, ${if (multiGroup) "multi-group" else "single-group"} parts"
        val (rows, jobs) = planJobs(q(fresh))
        assert(jobs == 0, s"$store: cold planning ran $jobs jobs")
        val kept = GraftDataSource.planStatsFor(fresh).get.prunedGroupKeys
        assert(kept.exists(k => k >= 1 && k < groups), s"$store must prune: $kept of $groups")
        val (legacyRows, legacyJobs) = planJobs(q(legacy))
        assert(legacyRows == rows && rows.nonEmpty, s"$store: stats-less copy differs")
        assert(legacyJobs == 0, s"$store: the stats-less copy's planning ran $legacyJobs jobs")
        assert(GraftDataSource.planStatsFor(legacy).get.prunedGroupKeys == kept,
          s"$store: footers must keep the groups the part stats kept")
      }
    }
  }

  test("metadata aggregates plan from the manifest with no Spark job") {
    graftTable.createOrReplaceTempView("graft_agg_jobs")
    graftTable.count() // the shared store is written before any window opens
    val queries = Seq(
      "SELECT count(*), min(warc_ts), max(warc_ts), count(lang), min(url), max(url) " +
        "FROM graft_agg_jobs" -> "(metadata-only)",
      "SELECT lang, count(*), count(lang) FROM graft_agg_jobs GROUP BY lang" ->
        "(metadata-only)",
      "SELECT lang, count(*) FROM graft_agg_jobs WHERE lang <> 'en' GROUP BY lang" ->
        "LocalTableScan")
    val want = Seq(
      written.agg(count(lit(1)), min(col("warc_ts")), max(col("warc_ts")), count(col("lang")),
        min(col("url")), max(col("url"))),
      written.groupBy(col("lang")).agg(count(lit(1)), count(col("lang"))),
      written.where(col("lang") =!= "en").groupBy(col("lang")).agg(count(lit(1))))
    queries.zip(want).foreach { case ((q, marker), w) =>
      val (plan, planned) = jobsDuring(spark.sql(q).queryExecution.executedPlan.toString)
      assert(plan.contains(marker), s"$q must answer from the manifest:\n$plan")
      assert(planned == 0, s"$q: planning ran $planned Spark jobs")
      val (rows, ran) = jobsDuring(spark.sql(q).collect().map(_.toString).sorted.toSeq)
      assert(rows == sortedRows(w), q)
      // a LocalTableScan collects on the driver; a BatchScan, even of one
      // in-memory row, is collected through one one-task job
      assert(ran == (if (marker == "LocalTableScan") 0 else 1), s"$q: the query ran $ran jobs")
    }
  }

  test("a DELETE whose predicate no part's stats admit runs no Spark job") {
    import graft.sources.SnapshotStore
    def deleteNothing(r: String, cond: org.apache.spark.sql.Column,
        pred: DecodeJob.BlockPredicate): Unit = {
      val snap = SnapshotStore.currentSnapshotId(r)
      val (res, jobs) = jobsDuring(graft.jobs.DeleteJob.deleteWhere(spark, r, cond, Seq(pred)))
      assert(jobs == 0, s"planning the affected parts of $pred ran $jobs Spark jobs")
      assert(res.partsRewritten == 0 && SnapshotStore.currentSnapshotId(r) == snap, s"$pred")
    }
    val r = Files.createTempDirectory("graft-v2-delete-none-").toString
    EncodeJob.run(spark, Webtext.generate(spark, 2000L, 4), r, parts = 4)
    deleteNothing(r, col("lang") === "zz", DecodeJob.StrEq("lang", "zz"))

    // multi-group parts: a url between two groups of one part is admitted by
    // the part's stats, and only the groups' footers rule it out
    val multi = multiGroupStore
    deleteNothing(multi, col("lang") === "zz", DecodeJob.StrEq("lang", "zz"))
    val e = SnapshotStore.currentEntries(multi).head
    val firstMax = DecodeJob.blocks(spark, multi)
      .where(col("part_id") === e.partId && col("block_seq") === 0 && col("column") === "url")
      .select(col("block_str_max")).head().getString(0)
    val between = firstMax + "\u0000"
    assert(DecodeJob.partsMayMatch(Seq(e), Seq(DecodeJob.StrEq("url", between))).nonEmpty,
      "the part's stats admit the url")
    deleteNothing(multi, col("url") === between, DecodeJob.StrEq("url", between))
  }

  test("a store dropped and recreated at the same path answers with the new store's counts") {
    import spark.implicits._
    val r = Files.createTempDirectory("graft-v2-recreate-").toString
    def recreate(pages: org.apache.spark.sql.Dataset[graft.sources.WebPage]): Unit = {
      graft.jobs.LocalSession.deleteRecursively(new java.io.File(r))
      EncodeJob.run(spark, pages, r, parts = 2)
      // snapshot ids restart, so (path, snapshot id) names both stores
      assert(graft.sources.SnapshotStore.currentSnapshotId(r).contains(1L))
      spark.read.format("graft").load(r).createOrReplaceTempView("graft_recreated")
      val all = spark.sql("SELECT lang, count(*) FROM graft_recreated GROUP BY lang")
      assert(all.queryExecution.executedPlan.toString.contains("(metadata-only)"))
      assert(sortedRows(all) == sortedRows(pages.toDF().groupBy(col("lang")).count()))
      val filtered = spark.sql(
        "SELECT lang, count(*) FROM graft_recreated WHERE lang <> 'zz' GROUP BY lang")
      assert(filtered.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      assert(sortedRows(filtered) == sortedRows(pages.toDF()
        .where(col("lang") =!= "zz").groupBy(col("lang")).count()))
    }
    recreate(Webtext.generate(spark, 1000L, 4))
    recreate(Webtext.generate(spark, 3000L, 4).map(p =>
      if (p.url.endsWith("1")) p.copy(lang = "ru") else p))
  }

  test("scan, append, scan, DELETE, scan: every scan sees its snapshot's rows and parts") {
    import graft.sources.SnapshotStore
    val r = Files.createTempDirectory("graft-v2-replan-").toString
    val input = Webtext.generate(spark, 6000L, 8)
    EncodeJob.run(spark, input, r, parts = 8)
    val prefix = "https://host-1.example.com/"
    val pred = Seq(DecodeJob.StrPrefix("url", prefix))
    def matching(df: DataFrame): Seq[String] =
      sortedRows(df.where(col("url").startsWith(prefix)).select(col("url"), col("lang")))
    def scan(): Seq[String] = matching(spark.read.format("graft").load(r))
    // the plan was made from the CURRENT manifest: its kept groups are the
    // block-metadata matches of exactly the live parts
    def assertFreshPlan(step: String): Unit = {
      val kept = GraftDataSource.planStatsFor(r).get.prunedGroupKeys
      val live = DecodeJob.matchingGroupKeys(spark, r, pred).count().toInt
      assert(kept.contains(live), s"$step: plan kept $kept groups, live store has $live")
    }

    val first = scan()
    assert(first == matching(input.toDF()) && first.nonEmpty)
    assertFreshPlan("initial scan")

    // V2 append of matching rows: new parts, new rows
    val extra = spark.createDataFrame(Seq.tabulate(50)(i =>
        graft.sources.WebPage(s"${prefix}appended/$i", new java.sql.Timestamp(0L),
          Array[Byte](1), s"t$i", "en")))
    extra.write.format("graft").mode("append").save(r)
    val appended = scan()
    assert(appended.size == first.size + 50 && appended == matching(input.toDF().union(extra)))
    assertFreshPlan("after append")

    // DELETE WHERE (rewrites the affected parts under new ids)
    val before = SnapshotStore.currentEntries(r).map(_.partId).toSet
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_replan USING graft OPTIONS (path '$r')")
    spark.sql(s"DELETE FROM graft_replan WHERE url LIKE '${prefix}appended/%'")
    assert(SnapshotStore.currentEntries(r).map(_.partId).toSet != before, "delete rewrote parts")
    val deleted = scan()
    assert(deleted == first)
    assertFreshPlan("after delete")
  }

  test("input partitions stay small: the Hadoop conf rides the factory, not each task") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def partitions(df: DataFrame): Seq[GraftInputPartition] =
      df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions }
        .flatten.map(_.asInstanceOf[GraftInputPartition])
    def javaBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o); out.close()
      bytes.size()
    }
    val selective = partitions(graftTable
      .where(col("url").startsWith("https://host-1.example.com/")).select(col("url")))
    val planned = GraftDataSource.planStatsFor(root).get.prunedGroupKeys
    assert(planned.isDefined, "selective scan must prune")
    // each partition carries the sorted keys of exactly its own files' parts,
    // and together the partitions carry every planned key once
    selective.foreach { p =>
      assert(p.keys != null && p.keys.sameElements(p.keys.sorted), "a sorted key slice")
      val fileParts = p.files.flatMap(f =>
        GraftDataWriter.partIdOf(new org.apache.hadoop.fs.Path(f).getName)).toSet
      assert(p.keys.map(k => (k >>> 32).toInt).toSet == fileParts,
        s"keys of parts ${p.keys.map(k => (k >>> 32).toInt).distinct.mkString(",")}, " +
        s"files of parts ${fileParts.mkString(",")}")
    }
    assert(selective.map(_.keys.length).sum == planned.get)
    val full = partitions(
      graftTable.select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang")))
    Seq("selective" -> selective, "full" -> full).foreach { case (name, ps) =>
      assert(ps.nonEmpty, s"$name scan planned no graft partitions")
      ps.foreach { p =>
        val n = javaBytes(p)
        assert(n < 4096, s"$name scan: a ${p.files.length}-file partition serializes to $n bytes")
      }
    }
  }

  test("the session's Hadoop conf reaches the executor-side reader") {
    val r = Files.createTempDirectory("graft-v2-conf-").toString
    EncodeJob.run(spark, Webtext.generate(spark, 4000L, 8), r, parts = 8)
    def opensDuring(df: DataFrame): (Int, Int) = {
      CountingLocalFileSystem.opened.clear()
      df.collect()
      val storeOpens = CountingLocalFileSystem.opened.toArray.count(_.toString.contains(r))
      (storeOpens, GraftDataSource.planStatsFor(r).get.files)
    }
    spark.conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      val (fullOpens, fullFiles) = opensDuring(
        spark.read.format("graft").load(r).select(col("url"), col("lang")))
      assert(fullFiles == 8 && fullOpens == fullFiles,
        s"full scan opened $fullOpens block files through the session's file system, " +
        s"planned $fullFiles")
      // planned from part stats (no Spark job), so every counted open is the reader's
      val (selOpens, selFiles) = opensDuring(spark.read.format("graft").load(r)
        .where(col("url").startsWith("https://host-1.example.com/") && col("lang") === "en")
        .select(col("url")))
      assert(selFiles >= 1 && selFiles < 8 && selOpens == selFiles,
        s"selective scan opened $selOpens block files, planned $selFiles")
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("a task shares the JVM's Hadoop conf unless a carried setting differs from it") {
    val jvmConf = org.apache.spark.sql.graftshim.Shim.jvmHadoopConf
    assert(HadoopSettings(Array.empty[(String, String)]).conf() eq jvmConf)
    val held = HadoopSettings(Array("fs.defaultFS" -> jvmConf.getRaw("fs.defaultFS")))
    assert(held.conf() eq jvmConf, "every carried value already held: no copy")
    val overlaid = HadoopSettings(Array("graft.test.setting" -> "on")).conf()
    assert(!(overlaid eq jvmConf) && overlaid.get("graft.test.setting") == "on")
    assert(jvmConf.get("graft.test.setting") == null, "the shared conf is never written")
    // what a session carries: its own keys, not Spark's or the XML defaults'
    spark.conf.set("graft.test.session.setting", "1")
    try {
      val carried = HadoopSettings(spark).entries.toMap
      assert(carried.get("graft.test.session.setting").contains("1"))
      assert(!carried.keys.exists(_.startsWith("spark.")))
      assert(!carried.contains("fs.defaultFS"), "core-default.xml values stay the executor's")
    } finally spark.conf.unset("graft.test.session.setting")
  }

  test("a default session's tasks share the JVM's Hadoop conf; a user's value for a Spark default is carried") {
    val jvmConf = org.apache.spark.sql.graftshim.Shim.jvmHadoopConf
    val settings = HadoopSettings(spark)
    assert(settings.conf() eq jvmConf, s"carried: ${settings.entries.mkString(", ")}")
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "fs.s3a.vectored.read.min.seek.size"
    val saved = Option(hc.getRaw(key))
    hc.set(key, "256K")
    try assert(HadoopSettings(spark).entries.toMap.get(key).contains("256K"))
    finally saved match {
      case Some(v) => hc.set(key, v)
      case None => hc.unset(key)
    }
  }

  test("Hadoop settings made on the context's Hadoop conf reach the executor-side reader") {
    val r = Files.createTempDirectory("graft-v2-hconf-").toString
    EncodeJob.run(spark, Webtext.generate(spark, 4000L, 8), r, parts = 8)
    def opensDuring(df: DataFrame): (Int, Int) = {
      CountingLocalFileSystem.opened.clear()
      df.collect()
      val storeOpens = CountingLocalFileSystem.opened.toArray.count(_.toString.contains(r))
      (storeOpens, GraftDataSource.planStatsFor(r).get.files)
    }
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    try {
      val (fullOpens, fullFiles) = opensDuring(
        spark.read.format("graft").load(r).select(col("url"), col("lang")))
      assert(fullFiles == 8 && fullOpens == fullFiles,
        s"full scan opened $fullOpens block files through the context's file system, " +
        s"planned $fullFiles")
      val (selOpens, selFiles) = opensDuring(spark.read.format("graft").load(r)
        .where(col("url").startsWith("https://host-1.example.com/") && col("lang") === "en")
        .select(col("url")))
      assert(selFiles >= 1 && selFiles < 8 && selOpens == selFiles,
        s"selective scan opened $selOpens block files, planned $selFiles")
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  test("planning a scan makes no broadcast") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.graftshim.BroadcastBlocks
    // single-group parts: every plan below is answered from the manifest, so
    // no Spark job (whose task binary is itself a broadcast) runs
    val r = Files.createTempDirectory("graft-v2-nobc-").toString
    EncodeJob.run(spark, Webtext.generate(spark, 4000L, 8), r, parts = 8)
    assert(graft.sources.SnapshotStore.currentEntries(r).forall(_.stats.exists(_.nGroups == 1)))
    /** Plans with `plan`, which returns the planned partition count, and
      * checks that no broadcast appeared meanwhile. */
    def assertNoBroadcast(name: String)(plan: => Int): Unit = {
      val before = BroadcastBlocks.ids()
      assert(plan > 0, s"$name: no partitions planned")
      val made = BroadcastBlocks.ids() -- before
      assert(made.isEmpty, s"$name planning made broadcasts ${made.mkString(",")}")
    }
    def planOf(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.map { b =>
        b.batch.createReaderFactory()
        b.inputPartitions.length
      }.sum
    val t = spark.read.format("graft").load(r)
    val host1 = "https://host-1.example.com/"
    assertNoBroadcast("selective")(planOf(t.where(col("url").startsWith(host1) &&
      col("lang") === "en").select(col("url"))))
    assert(GraftDataSource.planStatsFor(r).get.prunedGroupKeys.isDefined)
    assertNoBroadcast("full")(planOf(t))
    assertNoBroadcast("top-n")(planOf(t.orderBy(col("url")).limit(5)))
    assert(GraftDataSource.planStatsFor(r).get.pushedTopN.isDefined)
    assertNoBroadcast("copy-on-write") {
      val op = new GraftRowLevelOperation(r,
        org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
      val builder = op.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .asInstanceOf[GraftCowScanBuilder]
      builder.pushFilters(Array(org.apache.spark.sql.sources.StringStartsWith("url", host1)))
      val cow = builder.build().toBatch
      cow.createReaderFactory()
      cow.planInputPartitions().length
    }
    assertNoBroadcast("micro-batch") {
      val stream = new GraftMicroBatchStream(r, t.select(col("url")).schema, "url",
        Seq(DecodeJob.StrPrefix("url", host1)))
      stream.createReaderFactory()
      stream.planInputPartitions(stream.initialOffset(),
        GraftOffset(graft.sources.SnapshotStore.currentSnapshotId(r).get)).length
    }
  }

  test("pre-1582 timestamp literals prune on the store's proleptic Gregorian micros") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // warc_ts rises with the url layout, one hour per page from 1500-05-01, so
    // each part covers a few days of May 1500. A pushed java.sql.Timestamp is
    // a hybrid-calendar value: read without the Julian -> Gregorian rebase,
    // its bound lands 10 days late and prunes parts holding matching rows.
    val r2 = Files.createTempDirectory("graft-v2-ts-1500-").toString
    val pages = Webtext.generate(spark, 800L, 8).toDF()
      .withColumn("rk", row_number().over(Window.orderBy(col("url"))))
      .withColumn("warc_ts", expr("timestampadd(HOUR, rk, timestamp'1500-05-01 00:00:00')"))
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[graft.sources.WebPage]
    EncodeJob.run(spark, pages, r2, parts = 8)
    spark.read.format("graft").load(r2).createOrReplaceTempView("graft_ts_1500")
    val range = "warc_ts BETWEEN TIMESTAMP'1500-05-25 00:00:00' AND TIMESTAMP'1500-05-30 00:00:00'"
    val query = s"SELECT url, unix_micros(warc_ts) FROM graft_ts_1500 WHERE $range"
    // the unpruned residual: the same range evaluated by Spark over the written pages
    val want = sortedRows(pages.toDF().where(expr(range))
      .select(col("url"), unix_micros(col("warc_ts"))))
    assert(want.nonEmpty)
    def checkPruned(label: String): Unit = {
      val got = sortedRows(spark.sql(query))
      val same = got == want
      assert(same, s"$label: ${got.size} rows, the residual keeps ${want.size}")
      val stats = GraftDataSource.planStatsFor(r2).get
      assert(stats.predicates >= 1 && stats.prunedGroupKeys.exists(k => k >= 1 && k < 8),
        s"$label: the range must prune some groups and keep the matching ones: $stats")
    }
    checkPruned("java.sql.Timestamp literal")
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try checkPruned("java.time.Instant literal")
    finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
  }
}

/** A local file system that records every block file opened through it,
  * every directory listed, and the bytes read from block files. Registered
  * as `fs.file.impl` with the cache disabled, it shows which conf a reader
  * opened its files with and what I/O a scan made. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val in = super.open(f, bufferSize)
    if (f.getName.endsWith(".parquet") || f.getName.endsWith(".graft")) {
      CountingLocalFileSystem.opened.add(f.toString)
      new org.apache.hadoop.fs.FSDataInputStream(new CountingLocalFileSystem.CountingInput(in))
    } else in
  }

  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFileSystem.listings.add(f.toString)
    super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val listings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val bytesRead = new java.util.concurrent.atomic.AtomicLong()

  def reset(): Unit = { opened.clear(); listings.clear(); bytesRead.set(0L) }

  /** A block file's stream that adds every byte it returns to [[bytesRead]]. */
  final class CountingInput(in: org.apache.hadoop.fs.FSDataInputStream)
      extends org.apache.hadoop.fs.FSInputStream {
    private def counted(n: Int): Int = { if (n > 0) bytesRead.addAndGet(n); n }
    override def read(): Int = { val b = in.read(); if (b >= 0) bytesRead.incrementAndGet(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = counted(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      counted(in.read(pos, b, off, len))
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, b, off, len); bytesRead.addAndGet(len)
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def close(): Unit = in.close()
  }
}
