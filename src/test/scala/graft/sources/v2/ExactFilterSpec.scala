package graft.sources.v2

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{DecodeJob, EncodeJob}
import graft.sources.{WebPage, Webtext}

/**
 * The filters the batch scan claims ([[FilterConversion.toExactFilters]]) and
 * evaluates itself on each group's decoded columns, and the stats test each
 * leaf prunes with:
 *  - property: random conjunctions of claimed and residual leaves give the
 *    rows the same SQL gives over a parquet copy of the pages, through the
 *    scan's row reader, `count(*)`, `LIMIT n` and [[DecodeJob.decodeWhere]];
 *  - a query that differs from the last only in its literals compiles no
 *    code, and its plan holds no `FilterExec`;
 *  - metadata answers (manifest aggregates, [[graft.plans.GroupedAggMetadataRule]])
 *    stay exact beside claimed filters;
 *  - property: whenever a leaf keeps a row of a block, its stats test admits
 *    the block's group stats and its part's stats.
 * The properties run with fixed seeds.
 */
class ExactFilterSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import ExactFilterSpec._

  lazy val spark: SparkSession = graft.TestSession.spark()

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def filterExecs(df: DataFrame): Seq[FilterExec] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---------------- the pages: nulls, multibyte, empty and high-byte strings ----------------

  private val urlBases = Seq("https://a.example/", "https://a.example/x", "https://é.example/p",
    "https://😀.example/", "", "￿", "https://a.example/ÿ", "https://b.example/中文", "z")
  private val texts = Seq("", "t", "tt", "ü", "😀", "abc", "￿", "中文")
  private val langs = Seq("en", "de", "", "中文", "￿", "en")

  /** Timestamps around the modern range, before 1900 and before the 1582
    * calendar switch. */
  private val tsBases = Seq("2025-01-01 00:00:00", "2025-01-01 12:00:00", "1850-06-01 00:00:00",
    "1899-12-31 23:00:00", "1582-10-10 00:00:00", "1500-05-01 00:00:00", "1970-01-01 00:00:00")

  private val pages: Seq[WebPage] = {
    val r = new java.util.Random(20261020L)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.length))
    def orNull[T >: Null](p: Int)(v: => T): T = if (r.nextInt(p) == 0) null else v
    (0 until 900).map { i =>
      WebPage(
        orNull[String](12)(pick(urlBases) + (if (r.nextBoolean()) "" else (i % 37).toString)),
        orNull[Timestamp](10) {
          val t = Timestamp.valueOf(pick(tsBases))
          new Timestamp(t.getTime + r.nextInt(7200) * 1000L)
        },
        Array[Byte](1, 2, 3),
        orNull[String](10)(pick(texts)),
        orNull[String](8)(pick(langs)))
    }
  }

  /** The store (an encode job in small groups, then a V2 append: both
    * writers) and a parquet copy of the same pages. */
  private lazy val (root, parquet): (String, String) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-exact-").toString
    val (batch, appended) = pages.splitAt(700)
    EncodeJob.run(spark, spark.createDataset(batch).repartition(2), s"$dir/store", parts = 3,
      maxBlockBytes = 2000L)
    spark.createDataset(appended).toDF().write.format("graft").mode("append").save(s"$dir/store")
    spark.createDataset(pages).toDF().write.parquet(s"$dir/pq")
    (s"$dir/store", s"$dir/pq")
  }

  private def views(): Unit = {
    spark.read.format("graft").load(root).createOrReplaceTempView("g")
    spark.read.parquet(parquet).createOrReplaceTempView("pq")
  }

  /** Epoch micros of the stored timestamps. */
  private lazy val storedMicros: Seq[Long] = {
    views()
    spark.sql("SELECT unix_micros(warc_ts) FROM pq WHERE warc_ts IS NOT NULL")
      .collect().map(_.getLong(0)).distinct.sorted.toSeq
  }

  // ---------------- leaves ----------------

  private def lit(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
  private def tsLit(us: Long): String = s"timestamp_micros(CAST('$us' AS BIGINT))"

  private val strCols = Seq("url", "text", "lang")

  private def strValue(c: String): Gen[String] = {
    val seen = c match {
      case "url" => pages.flatMap(p => Option(p.url))
      case "text" => pages.flatMap(p => Option(p.text))
      case _ => pages.flatMap(p => Option(p.lang))
    }
    Gen.frequency(4 -> Gen.oneOf(seen), 1 -> Gen.oneOf(urlBases ++ texts ++ langs),
      1 -> Gen.oneOf("", "￿", "a", "https://", "😀", "ÿ", "\u007f", "zz"))
  }

  private def strLeaf: Gen[Leaf] = for {
    c <- Gen.oneOf(strCols)
    v <- strValue(c)
    vs <- Gen.listOfN(3, strValue(c))
    k <- Gen.choose(0, 12)
    leaf <- Gen.oneOf(
      Leaf(s"$c = ${lit(v)}", claimed = true, Some(DecodeJob.StrEq(c, v))),
      Leaf(s"$c IN (${vs.map(lit).mkString(", ")})", claimed = true, Some(DecodeJob.StrIn(c, vs))),
      Leaf(s"$c IN (${lit(v)}, NULL)", claimed = true),
      Leaf(s"$c < ${lit(v)}", claimed = true),
      Leaf(s"$c <= ${lit(v)}", claimed = true, Some(DecodeJob.StrRange(c, None, Some(v)))),
      Leaf(s"$c > ${lit(v)}", claimed = true),
      Leaf(s"$c >= ${lit(v)}", claimed = true, Some(DecodeJob.StrRange(c, Some(v), None))),
      Leaf(s"startswith($c, ${lit(v.take(k))})", claimed = true,
        Some(DecodeJob.StrPrefix(c, v.take(k)))),
      Leaf(s"$c IS NULL", claimed = true),
      Leaf(s"$c IS NOT NULL", claimed = true))
  } yield leaf

  /** Micros of a timestamp literal: stored values, the Long extremes, and
    * instants before 1582 and before 1900. */
  private def tsValue: Gen[Long] = Gen.frequency(
    4 -> Gen.oneOf(storedMicros),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, Long.MinValue + 1, Long.MaxValue - 1, 0L),
    1 -> Gen.oneOf(storedMicros).map(_ + 1))

  /** Whether the scan claims a timestamp literal of these micros: always as
    * an `Instant`, as a `java.sql.Timestamp` only from 1900 on. */
  private val Micros1900 = Timestamp.valueOf("1900-01-01 00:00:00").getTime * 1000L
  private def tsClaimed(us: Long, java8: Boolean): Boolean = java8 || us >= Micros1900

  private def tsLeaf(java8: Boolean): Gen[Leaf] = for {
    x <- tsValue
    xs <- Gen.listOfN(2, tsValue)
    leaf <- Gen.oneOf(
      Leaf(s"warc_ts = ${tsLit(x)}", tsClaimed(x, java8), Some(DecodeJob.TsRange(x, x))),
      Leaf(s"warc_ts < ${tsLit(x)}", tsClaimed(x, java8)),
      Leaf(s"warc_ts <= ${tsLit(x)}", tsClaimed(x, java8),
        Some(DecodeJob.TsRange(Long.MinValue, x))),
      Leaf(s"warc_ts > ${tsLit(x)}", tsClaimed(x, java8)),
      Leaf(s"warc_ts >= ${tsLit(x)}", tsClaimed(x, java8),
        Some(DecodeJob.TsRange(x, Long.MaxValue))),
      Leaf(s"warc_ts IN (${xs.map(tsLit).mkString(", ")})", xs.forall(tsClaimed(_, java8))),
      Leaf("warc_ts IS NULL", claimed = true),
      Leaf("warc_ts IS NOT NULL", claimed = true))
  } yield leaf

  /** Leaves Spark keeps as residuals. */
  private def residualLeaf: Gen[Leaf] = for {
    c <- Gen.oneOf(strCols)
    v <- strValue(c)
    w <- strValue("lang")
    x <- tsValue
    leaf <- Gen.oneOf(
      Leaf(s"NOT ($c = ${lit(v)})", claimed = false),
      Leaf(s"($c >= ${lit(v)} OR lang = ${lit(w)})", claimed = false),
      Leaf(s"length($c) > 2", claimed = false),
      Leaf(s"contains($c, ${lit(v.take(2))})", claimed = false),
      Leaf(s"$c <=> ${lit(v)}", claimed = false),
      Leaf(s"unix_micros(warc_ts) >= CAST('$x' AS BIGINT)", claimed = false))
  } yield leaf

  private val caseGen: Gen[Case] = for {
    java8 <- Gen.oneOf(false, true)
    inferNotNull <- Gen.oneOf(true, true, false)
    n <- Gen.choose(1, 3)
    leaves <- Gen.listOfN(n, Gen.frequency(4 -> strLeaf, 3 -> tsLeaf(java8), 2 -> residualLeaf))
    limit <- Gen.oneOf(1, 7, 60)
  } yield Case(java8, inferNotNull, leaves, limit)

  private val Cols = "url, unix_micros(warc_ts) AS ts, text, lang"

  /** The four read forms of one case, each against the parquet copy; the
    * failures, empty when the case holds. */
  private def failures(c: Case): Seq[String] = withConf(
      "spark.sql.datetime.java8API.enabled" -> c.java8.toString,
      "spark.sql.constraintPropagation.enabled" -> c.inferNotNull.toString) {
    views()
    val out = Seq.newBuilder[String]
    def expect(label: String, ok: Boolean, detail: => String): Unit =
      if (!ok) out += s"$label: $detail"
    val want = rowsOf(spark.sql(s"SELECT $Cols FROM pq WHERE ${c.cond}"))

    val rowRead = spark.sql(s"SELECT $Cols FROM g WHERE ${c.cond}")
    val gotRows = rowsOf(rowRead)
    expect("row reader", gotRows == want, s"${gotRows.size} rows, parquet ${want.size}")
    if (c.leaves.forall(_.claimed))
      expect("no residual", filterExecs(rowRead).isEmpty,
        s"every leaf is claimed, yet the plan filters:\n${rowRead.queryExecution.executedPlan}")

    val count = spark.sql(s"SELECT count(*) FROM g WHERE ${c.cond}").head().getLong(0)
    expect("count(*)", count == want.size, s"$count, parquet ${want.size}")

    val limited = rowsOf(spark.sql(s"SELECT $Cols FROM g WHERE ${c.cond} LIMIT ${c.limit}"))
    val unmatched = limited.diff(want)
    expect("LIMIT", limited.size == math.min(c.limit, want.size) && unmatched.isEmpty,
      s"${limited.size} rows for LIMIT ${c.limit} of ${want.size}; not matching: $unmatched")

    val blocks = c.leaves.filter(_.block.isDefined)
    if (blocks.nonEmpty) {
      val cond = blocks.map(_.sql).mkString(" AND ")
      val wantBlocks = rowsOf(spark.sql(s"SELECT $Cols FROM pq WHERE $cond"))
      val got = rowsOf(DecodeJob.decodeWhere(spark, root, blocks.flatMap(_.block)).toDF()
        .selectExpr(Cols.split(", "): _*))
      expect("decodeWhere", got == wantBlocks,
        s"${got.size} rows, parquet ${wantBlocks.size} for $cond")
    }
    out.result()
  }

  test("property: claimed and residual filters give parquet's rows on every read form") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(30)
      .withInitialSeed(Seed(20261020L))
      .withWorkers(1)
    val res = Test.check(params, Prop.forAllNoShrink(caseGen) { c =>
      val bad = failures(c)
      if (bad.nonEmpty) println(s"counterexample $c WHERE ${c.cond}:\n  " +
        bad.mkString("\n  "))
      bad.isEmpty
    })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("every claimed leaf but IS NULL rejects a null value, whatever its slot holds") {
    import graft.codec.StringBlockCodec.Slices
    // row 0 is null; a null's slot holds what a non-null row may (0, "")
    val strs = new Slices(Array[Byte](), Array(0, 0), Array(-1, 0))
    val longs = (Array(0L, 0L), Array(false, true))
    def sel(f: ExactFilter) = ExactFilter.select(Seq(f), 2, _ => strs, _ => longs).toSeq
    for (f <- Seq(ExactFilter.StrRange("s", Some(""), false, None, false),
        ExactFilter.StrRange("s", None, false, Some(""), false), ExactFilter.StrIn("s", Seq("")),
        ExactFilter.StrPrefix("s", ""), ExactFilter.IntRange("i", Long.MinValue, Long.MaxValue),
        ExactFilter.IntIn("i", Seq(0L)), ExactFilter.NullTest("s", isNull = false, true),
        ExactFilter.NullTest("i", isNull = false, false)))
      assert(sel(f) == Seq(1), f)
    assert(sel(ExactFilter.NullTest("s", isNull = true, true)) == Seq(0))
    assert(sel(ExactFilter.NullTest("i", isNull = true, false)) == Seq(0))
    assert(sel(ExactFilter.IntRange("i", 1L, 0L)).isEmpty, "an empty range matches nothing")
  }

  test("claims leaves on string, int-family and timestamp columns only, with exact literals") {
    import org.apache.spark.sql.sources._
    val schema = GraftDataSource.PageSchema
    def claims(f: Filter) = FilterConversion.toExactFilters(f, schema).isDefined
    val ts1950 = Timestamp.valueOf("1950-01-01 00:00:00")
    val ts1850 = Timestamp.valueOf("1850-01-01 00:00:00")
    for (f <- Seq(EqualTo("url", "a"), In("lang", Array("en", null)), IsNull("warc_ts"),
        GreaterThan("warc_ts", ts1950), LessThan("warc_ts", ts1850.toInstant),
        And(StringStartsWith("url", "h"), IsNotNull("text"))))
      assert(claims(f), f)
    for (f <- Seq(EqualTo("html", Array[Byte](1)), In("html", Array(null)), IsNotNull("html"),
        GreaterThan("warc_ts", ts1850), Or(EqualTo("url", "a"), EqualTo("url", "b")),
        Not(EqualTo("lang", "en")), And(EqualTo("url", "a"), Not(IsNull("lang"))),
        EqualTo("warc_ts", "2025-01-01"), StringEndsWith("url", "x"), EqualTo("nope", "a")))
      assert(!claims(f), f)
  }

  test("int-family literals at the Long extremes stay exact on a generalized store") {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    val t = s"graftcat.`${Files.createTempDirectory("graft-exact-int-")}/t`"
    spark.sql(s"CREATE TABLE $t (k string, b bigint, i int, s smallint, y tinyint) USING graft")
    spark.sql(s"INSERT INTO $t VALUES " + Seq(
      "('a', -9223372036854775808, -2147483648, -32768, -128)",
      "('b', 9223372036854775807, 2147483647, 32767, 127)",
      "('c', 0, 0, 0, 0)", "('d', NULL, NULL, NULL, NULL)",
      "('e', -1, 1, -1, 1)").mkString(", "))
    val pq = Files.createTempDirectory("graft-exact-int-pq-").resolve("t").toString
    spark.table(t).write.parquet(pq)
    spark.read.parquet(pq).createOrReplaceTempView("pq_int")
    val extremes = Seq(Long.MinValue, Long.MaxValue, 0L)
    val conds = (for {
      (c, lo, hi) <- Seq(("b", Long.MinValue, Long.MaxValue),
        ("i", Int.MinValue.toLong, Int.MaxValue.toLong),
        ("s", Short.MinValue.toLong, Short.MaxValue.toLong),
        ("y", Byte.MinValue.toLong, Byte.MaxValue.toLong))
      v <- (Seq(lo, hi) ++ extremes).distinct
      op <- Seq("=", "<", "<=", ">", ">=")
    } yield s"$c $op CAST('$v' AS BIGINT)") ++ Seq("b IS NULL", "i IS NOT NULL",
      "b IN (CAST('-9223372036854775808' AS BIGINT), 0)", "y IN (127, -1)")
    for (cond <- conds) {
      val want = rowsOf(spark.sql(s"SELECT * FROM pq_int WHERE $cond"))
      assert(rowsOf(spark.sql(s"SELECT * FROM $t WHERE $cond")) == want, cond)
      assert(spark.sql(s"SELECT count(*) FROM $t WHERE $cond").head().getLong(0) == want.size,
        s"count: $cond")
    }
  }

  // ---------------- stats soundness ----------------

  /** UTF-8 edge characters: a high single byte, U+FFFF, a surrogate pair,
    * NUL, DEL and CJK. */
  private val edgeChars = Seq("a", "b", "ÿ", "\uffff", "😀", "\u0000", "\u007f", "中")
  private val edgeString: Gen[String] =
    Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(edgeChars))).map(_.mkString)
  private val edgeLong: Gen[Long] = Gen.frequency(
    2 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue - 1, Long.MaxValue),
    1 -> Gen.choose(-3L, 3L))

  private val statsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.LongType)))

  /** A pushed filter on `s` or `i` of every shape the converter makes a leaf
    * of, with literals drawn like the values. */
  private def filterGen(string: Boolean): Gen[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val c = if (string) "s" else "i"
    val v: Gen[Any] = if (string) edgeString else edgeLong
    val shapes: Seq[Gen[Filter]] = Seq(
      v.map(EqualTo(c, _)), v.map(GreaterThan(c, _)), v.map(GreaterThanOrEqual(c, _)),
      v.map(LessThan(c, _)), v.map(LessThanOrEqual(c, _)),
      // IN lists: empty, or holding a NULL
      for (k <- Gen.choose(0, 3); vs <- Gen.listOfN(k, v); nul <- Gen.oneOf(false, true))
        yield In(c, (if (nul) vs :+ null else vs).toArray),
      Gen.const(IsNull(c)), Gen.const(IsNotNull(c))) ++
      (if (string) Seq(edgeString.map(StringStartsWith(c, _))) else Nil)
    Gen.oneOf(shapes).flatMap(identity)
  }

  test("property: a leaf's stats test admits every group and part holding a row it keeps") {
    import graft.jobs.{BlockRow, EncodeJob, PartRollup}
    val caseGen = for {
      string <- Gen.oneOf(false, true)
      blocks <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(1, 8).flatMap(Gen.listOfN(_,
        Gen.frequency(4 -> (if (string) edgeString else edgeLong).map(Some(_)),
          1 -> Gen.const(None))))))
      f <- filterGen(string)
    } yield (string, blocks, f)
    val params = Test.Parameters.default
      .withMinSuccessfulTests(400)
      .withInitialSeed(Seed(20261021L))
      .withWorkers(1)
    val res = Test.check(params, Prop.forAllNoShrink(caseGen) { case (string, blocks, f) =>
      val c = if (string) "s" else "i"
      val rows: Seq[BlockRow] = blocks.zipWithIndex.map { case (vs, seq) =>
        if (string) {
          val buf = new java.util.ArrayList[Array[Byte]]()
          vs.foreach(v => buf.add(v.map(_.asInstanceOf[String].getBytes("UTF-8")).orNull))
          EncodeJob.strBlockRow(0, seq, c, buf, textual = true)
        } else EncodeJob.intBlockRow(0, seq, c, vs.map(_.fold(0L)(_.asInstanceOf[Long])).toArray,
          vs.map(_.isDefined).toArray, vs.size, graft.core.PhysicalIntType.I64)
      }
      val rollup = new PartRollup()
      rows.foreach(rollup.add)
      val part = rollup.entry(0, "d").stats.get.columns(c)
      val (leaves, _) = FilterConversion.toLeaves(f, statsSchema)
      leaves.nonEmpty && leaves.forall { leaf =>
        rows.forall { b =>
          val kept = ExactFilter.select(Seq(leaf), b.n,
            _ => graft.codec.StringBlockCodec.decodeSlices(b.encoded),
            _ => graft.codec.IntBlockCodec.decodeNullable(b.encoded))
          val ok = kept.isEmpty ||
            (leaf.statsTest(DecodeJob.groupStats(b)) && leaf.statsTest(part))
          if (!ok) println(s"counterexample $f -> $leaf keeps rows $kept of block ${b.block_seq} " +
            s"of $blocks; group ${DecodeJob.groupStats(b)}, part $part")
          ok
        }
      }
    })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  // ---------------- literal-stable code ----------------

  private lazy val lookupRoot: String = {
    val r = Files.createTempDirectory("graft-exact-lookup-").toString
    EncodeJob.run(spark, Webtext.generate(spark, 4000L, 4), r, parts = 4)
    Webtext.generate(spark, 500L, 1).toDF().write.format("graft").mode("append").save(r)
    r
  }

  /** Codegen compiles of planning and running one SQL query over a fresh view
    * of the lookup store, and its plan. */
  private def compiles(sql: String): (Long, DataFrame) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.read.format("graft").load(lookupRoot).createOrReplaceTempView("pages")
    val df = spark.sql(sql)
    df.collect()
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, df)
  }

  test("a query differing only in its literals compiles nothing and plans no Filter") {
    val base = 1735689600000000L
    def tsRange(h: Int) = s"SELECT url, warc_ts, lang FROM pages WHERE " +
      s"warc_ts >= timestamp_micros(${base + h * 3600000000L}) AND " +
      s"warc_ts < timestamp_micros(${base + h * 3600000000L + 600000000L})"
    def prefixLang(h: Int, lang: String) = s"SELECT url, warc_ts, lang FROM pages WHERE " +
      s"url LIKE 'https://host-$h.example.com/%' AND lang = '$lang'"
    for ((label, first, second) <- Seq(("warc_ts range", tsRange(3), tsRange(11)),
        ("url prefix AND lang", prefixLang(2, "en"), prefixLang(7, "de")))) {
      compiles(first)
      val (n, df) = compiles(second)
      assert(filterExecs(df).isEmpty,
        s"$label: claimed filters leave no Filter:\n${df.queryExecution.executedPlan}")
      assert(n == 0, s"$label: the second literal compiled $n classes")
      assert(df.queryExecution.executedPlan.toString.contains("ExactFilters: [") &&
        !df.queryExecution.executedPlan.toString.contains("ExactFilters: []"), label)
    }
  }

  // ---------------- metadata answers beside claimed filters ----------------

  test("manifest and plan-level aggregate answers stay exact beside claimed filters") {
    views()
    val x = storedMicros(storedMicros.length / 2)
    val saved = spark.experimental.extraOptimizations
    // the rule in both positions: before scan building, and after it, where
    // it reads the built scan's entries
    spark.experimental.extraOptimizations = saved :+ graft.plans.GroupedAggMetadataRule
    try {
      for (q <- Seq(
          s"SELECT lang, count(*) FROM %s WHERE lang <> 'en' AND warc_ts >= ${tsLit(x)} GROUP BY lang",
          "SELECT count(*) FROM %s WHERE url IS NOT NULL",
          "SELECT lang, count(*) FROM %s WHERE url IS NOT NULL GROUP BY lang",
          "SELECT min(warc_ts) FROM %s WHERE lang = 'en'")) {
        val want = rowsOf(spark.sql(q.format("pq")))
        assert(rowsOf(spark.sql(q.format("g"))) == want, q)
      }
    } finally spark.experimental.extraOptimizations = saved
  }
}

object ExactFilterSpec {
  /** One conjunct: its SQL, whether the scan claims it, and its decode-API
    * form ([[DecodeJob.StrEq]] and the others) when it has one. */
  final case class Leaf(sql: String, claimed: Boolean,
      block: Option[ExactFilter] = None) {
    override def toString: String = sql
  }

  /** A conjunction of leaves, read with `java.time.Instant` literals when
    * `java8`, with or without Spark inferring `IS NOT NULL` conjuncts (then
    * every claimed comparison must reject nulls itself), and the `LIMIT` of
    * its limited read. */
  final case class Case(java8: Boolean, inferNotNull: Boolean, leaves: Seq[Leaf], limit: Int) {
    def cond: String = leaves.map(_.sql).mkString(" AND ")
  }
}
