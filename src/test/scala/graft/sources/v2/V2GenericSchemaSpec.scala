package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Generalized store schemas (r6): a graft table created through the catalog
 * with ANY codec-covered schema (string/binary/timestamp/int family) must
 * round-trip CTAS/INSERT/SELECT exactly, keep the metadata pruning surface
 * (prefix/range/top-n/grouped-agg) on its own columns, and refuse the
 * webtext-only paths loudly instead of corrupting.
 */
class V2GenericSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = graft.TestSession.spark()
    s.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    s
  }

  private def tmp(): String = Files.createTempDirectory("graft-generic-").toString + "/t"

  /** Deterministic source rows of the second table shape. */
  private def src(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).selectExpr(
      "concat('host-', lpad(cast(id % 37 as string), 4, '0'), '.example/p', id) AS host",
      "id AS id",
      "cast(id % 1000 as int) AS score",
      "timestampadd(SECOND, cast(id as int), timestamp'2024-03-01 00:00:00') AS fetched")
  }

  test("CREATE TABLE + INSERT + SELECT round-trips a non-webtext schema exactly") {
    val root = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root` " +
      "(host string, id bigint, score int, fetched timestamp) USING graft")
    // persisted schema makes the store self-describing
    assert(GraftDataSource.persistedSchema(root).exists(_.fieldNames.toSeq ==
      Seq("host", "id", "score", "fetched")))
    assert(spark.sql(s"SELECT * FROM graftcat.`$root`").count() == 0)

    src(5000).createOrReplaceTempView("generic_src")
    spark.sql(s"INSERT INTO graftcat.`$root` SELECT host, id, score, fetched FROM generic_src")
    val got = spark.sql(s"SELECT host, id, score, fetched FROM graftcat.`$root`")
      .collect().map(_.toString).sorted.toSeq
    val want = src(5000).collect().map(_.toString).sorted.toSeq
    assert(got == want, "decoded rows must equal the source byte-for-byte")

    // second INSERT appends (fresh part ids)
    src(5000).limit(100)
      .selectExpr("concat('zzz-', host) AS host", "id + 100000 AS id", "score", "fetched")
      .createOrReplaceTempView("generic_src2")
    spark.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_src2")
    assert(spark.sql(s"SELECT count(*) FROM graftcat.`$root`").head().getLong(0) == 5100)

    // null handling in every column kind
    spark.sql(s"INSERT INTO graftcat.`$root` VALUES " +
      "(NULL, NULL, NULL, NULL), ('a-null-island', 1, 2, NULL)")
    val nulls = spark.sql(
      s"SELECT * FROM graftcat.`$root` WHERE host IS NULL OR host = 'a-null-island'")
      .collect()
    assert(nulls.length == 2)
    assert(nulls.exists(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)))
  }

  test("pruning rides the generic columns: host prefix, score range, fetched range, top-n") {
    val root = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root` " +
      "(host string, id bigint, score int, fetched timestamp) USING graft")
    spark.conf.set("spark.graft.write.partitions", "8")
    try {
      src(8000).createOrReplaceTempView("generic_src_p")
      spark.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_src_p")
    } finally spark.conf.unset("spark.graft.write.partitions")
    val totalGroups = graft.jobs.DecodeJob.blocks(spark, root)
      .where(col("column") === "host").count()
    assert(totalGroups >= 8)

    // host is the sort key (first string column): prefix pruning like url
    val prefix = spark.sql(
      s"SELECT host, id FROM graftcat.`$root` WHERE host LIKE 'host-0003.example/%'")
    val wantPrefix = src(8000).where(col("host").startsWith("host-0003.example/"))
      .select(col("host"), col("id")).collect().map(_.toString).sorted.toSeq
    assert(prefix.collect().map(_.toString).sorted.toSeq == wantPrefix)
    val s1 = GraftDataSource.planStatsFor(root).get
    assert(s1.predicates >= 1 && s1.prunedGroupKeys.exists(k => k > 0 && k < totalGroups),
      s"host prefix must prune groups: $s1")

    // int-range pushdown on a plain bigint column (IntRange via block_min/max)
    val byId = spark.sql(s"SELECT id FROM graftcat.`$root` WHERE id >= 7800")
    assert(byId.count() == 200)
    assert(GraftDataSource.planStatsFor(root).get.predicates >= 1)

    // timestamp range on a NON-warc_ts column
    val byTs = spark.sql(s"SELECT id FROM graftcat.`$root` " +
      "WHERE fetched >= timestamp'2024-03-01 02:00:00'")
    assert(byTs.count() == 8000 - 7200)
    assert(GraftDataSource.planStatsFor(root).get.predicates >= 1)

    // top-n pushdown on the generic string sort key
    val topHost = spark.sql(s"SELECT host FROM graftcat.`$root` ORDER BY host LIMIT 25")
    val wantTop = src(8000).orderBy(col("host")).limit(25).select(col("host"))
      .collect().map(_.toString).toSeq
    assert(topHost.collect().map(_.toString).toSeq == wantTop)
    assert(GraftDataSource.planStatsFor(root).get.pushedTopN.exists(_.column == "host"))

    // grouped aggregate pushdown on a generic string column (37 hosts share
    // prefixes; use the host's site part to stay under the dict cap)
    // NOTE: host itself is near-unique -> dict disqualifies -> falls back; a
    // low-cardinality string column pushes. Build one via CTAS:
    val root2 = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root2` AS " +
      "SELECT concat('site-', lpad(cast(id % 7 as string), 2, '0')) AS site, id AS id " +
      "FROM range(4000)")
    val gagg = spark.sql(s"SELECT site, count(*) AS cnt FROM graftcat.`$root2` GROUP BY site")
    assert(gagg.queryExecution.executedPlan.toString.contains("(metadata-only)"),
      "grouped agg must push on a dict-covered generic column")
    assert(gagg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      (0 until 7).map(i => f"site-$i%02d" -> (4000L / 7 + (if (i < 4000 % 7) 1 else 0))).toMap)
    // and CTAS round-trips
    assert(spark.sql(s"SELECT count(*) FROM graftcat.`$root2`").head().getLong(0) == 4000)
  }

  test("generalized aggregate pushdown answers min/max/count over generic columns") {
    val root = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root` " +
      "(host string, id bigint, score int, fetched timestamp) USING graft")
    src(4000).createOrReplaceTempView("generic_agg_src")
    spark.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_agg_src")
    val df = spark.sql("SELECT count(*) AS c, count(score) AS cs, " +
      "min(score) AS mns, max(score) AS mxs, min(fetched) AS mnf, " +
      "max(fetched) AS mxf, min(host) AS mnh, max(id) AS mxi, " +
      "sum(score) AS ss, sum(id) AS si " +
      s"FROM graftcat.`$root`")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates") && plan.contains("(metadata-only)"),
      s"generic-store aggregates must push completely:\n$plan")
    val want = src(4000).agg(count(lit(1)), count(col("score")),
      min(col("score")), max(col("score")), min(col("fetched")),
      max(col("fetched")), min(col("host")), max(col("id")),
      sum(col("score")), sum(col("id"))).collect()(0)
    val got = df.collect()(0)
    assert(got == want, s"metadata answer must equal the computed one: $got vs $want")

    // the two string bounds are INDEPENDENTLY absent (each None past
    // StrBoundMaxLen): a block whose min is short but whose max is >64 chars
    // must decline max() — answering from the remaining bounds would silently
    // exclude the true maximum
    val mixRoot = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$mixRoot` (k string, longtail string) USING graft")
    spark.sql(s"INSERT INTO graftcat.`$mixRoot` VALUES " +
      "('a', 'aaa'), ('b', concat('z', repeat('y', 100)))")
    val mx = spark.sql(s"SELECT max(longtail) AS m FROM graftcat.`$mixRoot`")
    assert(!mx.queryExecution.executedPlan.toString.contains("(metadata-only)"),
      "max over a block with an over-long max bound must decline")
    assert(mx.collect()(0).getString(0).startsWith("zy"), "fallback stays exact")
    val mn = spark.sql(s"SELECT min(longtail) AS m FROM graftcat.`$mixRoot`")
    assert(mn.collect()(0).getString(0) == "aaa", "min stays exact either way")

    // sum overflow safety: values big enough that a BLOCK's sum overflows i64
    // lose their block_sum at encode — the pushdown declines and Spark
    // computes the (representable) total itself, exactly
    val ovRoot = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$ovRoot` (host string, big bigint) USING graft")
    spark.range(200).selectExpr("concat('h-', id) AS host",
      "CAST(9e16 AS BIGINT) + id AS big").createOrReplaceTempView("generic_ov_src")
    spark.sql(s"INSERT INTO graftcat.`$ovRoot` SELECT * FROM generic_ov_src")
    val ov = spark.sql(s"SELECT sum(big) AS s FROM graftcat.`$ovRoot`")
    // 200 × 9e16 = 1.8e19 > Long.MaxValue: the true total is outside i64
    // (and a single-block layout overflows at encode) — either gate declines,
    // and Spark's own ANSI overflow semantics stay intact (plan-only check:
    // collecting would rightly raise Spark's overflow error)
    assert(!ov.queryExecution.executedPlan.toString.contains("(metadata-only)"),
      "an i64-overflowing sum must decline the metadata answer")
    // ... but count/min/max on the same store still push and stay exact
    val still = spark.sql(s"SELECT count(big) AS c, max(big) AS m FROM graftcat.`$ovRoot`")
    assert(still.queryExecution.executedPlan.toString.contains("(metadata-only)"))
    assert(still.collect()(0) ==
      spark.sql("SELECT count(big) AS c, max(big) AS m FROM generic_ov_src").collect()(0))
  }

  test("columnar read path serves generic int/short/byte columns exactly") {
    val root = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root` " +
      "(host string, id bigint, score int, tiny tinyint, small smallint) USING graft")
    spark.range(2000).selectExpr(
      "concat('h', lpad(cast(id % 11 as string), 3, '0'), '/', id) AS host",
      "id", "cast(id % 1000 - 500 as int) AS score",
      "cast(id % 100 - 50 as tinyint) AS tiny",
      "cast(id % 20000 - 10000 as smallint) AS small")
      .createOrReplaceTempView("generic_col_src")
    spark.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_col_src")
    val want = spark.table("generic_col_src").collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.v2.columnar", "true")
    try {
      val got = spark.sql(s"SELECT host, id, score, tiny, small FROM graftcat.`$root`")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, "columnar decode must equal the source for every int width")
    } finally spark.conf.unset("spark.graft.v2.columnar")
  }

  test("a schema with NO string column lays out on its first (int) column") {
    val root = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root` (id bigint, payload binary) USING graft")
    spark.range(3000).selectExpr("id", "cast(concat('p-', id) as binary) AS payload")
      .createOrReplaceTempView("generic_int_src")
    spark.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_int_src")
    // round-trip incl. the binary column
    val got = spark.sql(s"SELECT id, cast(payload as string) AS p FROM graftcat.`$root`")
      .collect().map(_.toString).sorted.toSeq
    val want = spark.range(3000).selectExpr("id", "concat('p-', id) AS p")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // int-range pruning on the sort key (ordered-distribution layout: the
    // arrange rule declines without a string key, Spark range-partitions)
    val filtered = spark.sql(s"SELECT id FROM graftcat.`$root` WHERE id < 100")
    assert(filtered.count() == 100)
    val stats = GraftDataSource.planStatsFor(root).get
    assert(stats.predicates >= 1, s"int sort-key range must push: $stats")
  }

  test("webtext-only paths refuse generalized stores loudly; bad schemas rejected") {
    val root = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root` (host string, id bigint) USING graft")
    spark.sql(s"INSERT INTO graftcat.`$root` VALUES ('h1', 1), ('h2', 2)")

    val e1 = intercept[Exception] { graft.jobs.DecodeJob.decode(spark, root) }
    assert(e1.getMessage.contains("webtext"), s"decode must name the schema problem: ${e1.getMessage}")
    val e2 = intercept[Exception] { graft.jobs.CompactJob.run(spark, root) }
    assert(e2.getMessage.contains("webtext"))
    val e3 = intercept[Exception] {
      spark.sql(s"UPDATE graftcat.`$root` SET host = 'x' WHERE id = 1")
    }
    assert(e3.getMessage != null)
    // the store is intact after every refusal
    assert(spark.sql(s"SELECT count(*) FROM graftcat.`$root`").head().getLong(0) == 2)

    // unsupported column type is rejected at CREATE
    val e4 = intercept[Exception] {
      spark.sql(s"CREATE TABLE graftcat.`${tmp()}` (a string, b double) USING graft")
    }
    assert(e4.getMessage.contains("unsupported"))

    // a webtext write into a generalized table is a schema mismatch, not chaos
    val e5 = intercept[Exception] {
      graft.sources.Webtext.generate(spark, 100L, 2).toDF()
        .write.format("graft").mode("append").save(root)
    }
    assert(e5.getMessage != null)
  }

  test("streaming read drains a generalized store with its own schema") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmp()
    val ckpt = tmp()
    spark.sql(s"CREATE TABLE graftcat.`$root` " +
      "(host string, id bigint, score int, fetched timestamp) USING graft")
    src(3000).createOrReplaceTempView("generic_stream_src")
    spark.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_stream_src")
    val got = scala.collection.mutable.HashSet.empty[Long]
    val q = spark.readStream.format("graft").load(root)
      .select(col("id"))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        got.synchronized { got ++= ids }
        ()
      }.start()
    assert(q.awaitTermination(120000), "drain timed out")
    assert(got.toSet == (0L until 3000L).toSet)
  }
}
