package graft.jobs

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotStore, WebPage}
import graft.sources.SnapshotStore.{ColumnStats, PartEntry, PartStats}
import graft.sources.v2.ExactFilter

/**
 * Per-part manifest stats and the two-level planning built on them:
 *  - the shared fold ([[PartRollup]]): absent bounds absorb, the dict union
 *    and long string bounds are capped;
 *  - property: level 1 (manifest part stats) never prunes a part that a
 *    block-metadata test keeps, the two-level key plan
 *    ([[DecodeJob.planPrunedKeys]]) equals that test's keys, and every part
 *    holding a matching decoded row is planned, on random small stores
 *    written by both writers. The block-metadata test is a Spark `Column`
 *    over [[DecodeJob.blocks]] kept here, apart from the planner;
 *  - property: part stats survive manifest serialise -> parse -> carry-forward
 *    commit and the upgrade's commit ([[CompactJob.commitUpgrade]]) unchanged,
 *    whatever their strings hold, and lines written before `sum` /
 *    `str_dict_counts` existed parse them as absent;
 *  - property: the manifest aggregate answers ([[GraftUngroupedAgg]],
 *    [[GraftGroupedAgg]]) either decline or equal Spark's own aggregates.
 * Properties run with fixed seeds.
 */
class TwoLevelPlanningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark()

  private def check(name: String, p: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(20261017L))
      .withWorkers(1)
    val res = Test.check(params, p)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  private def block(column: String, n: Int = 10, nulls: Int = 0,
      min: Option[Long] = None, max: Option[Long] = None,
      smin: Option[String] = None, smax: Option[String] = None,
      dict: Option[Seq[String]] = None, seq: Int = 0): BlockRow =
    BlockRow(1, seq, column, "str", "str_plain", n, nulls, min, max, None, None,
      smin, smax, dict.map(_.toArray), None, 100L, 50L, null)

  test("PartRollup: bounds fold to min/max, absent bounds absorb, dict and long bounds cap") {
    val r = new PartRollup()
      .add(block("url", smin = Some("b"), smax = Some("d"), dict = Some(Seq("b", "d"))))
      .add(block("url", smin = Some("a"), smax = Some("c"), dict = Some(Seq("a")), seq = 1,
        nulls = 2))
      .add(block("ts", min = Some(5L), max = Some(9L)))
      .add(block("ts", seq = 1)) // an all-null block: no bounds
      .add(block("long", smin = Some("x" * 300), smax = Some("y")))
    val e = r.entry(1, "data/x")
    val s = e.stats.get
    assert(s.nGroups == 2 && e.nRows == 20)
    assert(s.columns("url") == ColumnStats(None, None, Some("a"), Some("d"), 2L,
      Some(Vector("a", "b", "d"))))
    assert(s.columns("ts") == ColumnStats(nNulls = 0L),
      "one bound-less block makes the part unbounded; the column still carries its null count")
    assert(s.columns("long") == ColumnStats(None, None, None, Some("y"), 0L, None),
      "string bounds over 256 chars are not stored")
    // UTF-8 byte order, not UTF-16: U+1D11E (a surrogate pair) sorts ABOVE U+FFFD
    val u = new PartRollup()
      .add(block("c", smin = Some("�"), smax = Some("�")))
      .add(block("c", smin = Some("𝄞"), smax = Some("𝄞"), seq = 1))
      .entry(1, "d").stats.get.columns("c")
    assert(u.strMin.contains("�") && u.strMax.contains("𝄞"))
    // the dict union is dropped once it passes 64 values
    val wide = (0 until 70).foldLeft(new PartRollup) { (acc, i) =>
      acc.add(block("lang", smin = Some("a"), smax = Some("z"), dict = Some(Seq(s"v$i")), seq = i))
    }
    assert(wide.entry(1, "d").stats.get.columns("lang").dict.isEmpty)
    // block order does not change the fold
    val bs = Seq(block("url", smin = Some("k"), smax = Some("m")),
      block("url", smin = Some("j"), smax = Some("l"), seq = 1))
    val whole = bs.foldLeft(new PartRollup)(_ add _).entry(1, "d")
    val reversed = bs.reverse.foldLeft(new PartRollup)(_ add _).entry(1, "d")
    assert(whole == reversed)
  }

  private def intBlock(n: Int, nulls: Int, sum: Option[Long], seq: Int): BlockRow =
    BlockRow(1, seq, "v", "i64", "eg", n, nulls, None, None, sum, None,
      None, None, None, None, 80L, 8L, null)

  private def langBlock(counts: Seq[(String, Long)], seq: Int,
      withCounts: Boolean = true): BlockRow =
    BlockRow(1, seq, "lang", "str", "str_plain", counts.map(_._2).sum.toInt, 0, None, None,
      None, None, Some(counts.head._1), Some(counts.last._1),
      Some(counts.map(_._1).toArray), if (withCounts) Some(counts.map(_._2).toArray) else None,
      10L, 5L, null)

  test("PartRollup: sums and dict counts fold; an all-null int block adds 0; overflow drops the sum") {
    def fold(bs: BlockRow*) = bs.foldLeft(new PartRollup)(_ add _).entry(1, "d").stats.get.columns
    assert(fold(intBlock(10, 0, Some(7L), 0), intBlock(10, 10, None, 1),
      intBlock(10, 2, Some(-3L), 2))("v").sum.contains(4L))
    assert(fold(intBlock(10, 0, Some(7L), 0), intBlock(10, 1, None, 1))("v").sum.isEmpty,
      "a block with values but no block_sum makes the part sum unknown")
    assert(fold(intBlock(1, 0, Some(Long.MaxValue), 0), intBlock(1, 0, Some(1L), 1))("v")
      .sum.isEmpty, "a part total past i64 is absent")
    // the fold is order-free even across an intermediate overflow
    val bs = Seq(intBlock(1, 0, Some(Long.MaxValue), 0), intBlock(1, 0, Some(1L), 1),
      intBlock(1, 0, Some(-1L), 2))
    assert(fold(bs: _*)("v").sum.contains(Long.MaxValue) &&
      fold(bs.reverse: _*)("v").sum.contains(Long.MaxValue))
    val lang = fold(langBlock(Seq("de" -> 2L, "en" -> 5L), 0),
      langBlock(Seq("en" -> 1L, "fr" -> 4L), 1))("lang")
    assert(lang.dict.contains(Vector("de", "en", "fr")) &&
      lang.dictCounts.contains(Vector(2L, 6L, 4L)))
    val noCounts = fold(langBlock(Seq("de" -> 2L), 0),
      langBlock(Seq("en" -> 1L), 1, withCounts = false))("lang")
    assert(noCounts.dict.isDefined && noCounts.dictCounts.isEmpty,
      "one block without counts leaves the part without counts")
    val wide = fold((0 until 70).map(i => langBlock(Seq(f"v$i%02d" -> 1L), i)): _*)("lang")
    assert(wide.dict.isEmpty && wide.dictCounts.isEmpty, "counts drop with the dict")
  }

  // ---------------- property (a): level 1 is a superset of level 2 ----------------

  private val hosts = Seq("https://a.example/", "https://b.example/\"q/", "http://c\\d/",
    "https://e/𝄞/", "https://f//", "https://a.example/deep/")
  private val langs = Seq("en", "de", "fr", "ja", null, "x" * 80)

  private val pageGen: Gen[WebPage] = for {
    host <- Gen.oneOf(hosts)
    path <- Gen.stringOfN(3, Gen.alphaNumChar)
    nullUrl <- Gen.frequency(19 -> false, 1 -> true)
    ts <- Gen.frequency(9 -> Gen.choose(0L, 5000000000L).map(Some(_)), 1 -> Gen.const(None))
    lang <- Gen.oneOf(langs)
    // a value over 128 bytes drops its block's dict, so parts mix blocks
    // with and without dicts
    text <- Gen.frequency(6 -> Gen.alphaStr.map(_.take(20)), 2 -> Gen.const("t" * 100),
      1 -> Gen.const("u" * 200), 1 -> Gen.const(null))
  } yield WebPage(if (nullUrl) null else host + path,
    ts.map(us => new Timestamp(us / 1000L)).orNull, Array[Byte](1, 2), text, lang)

  /** A store spec: rows for the batch encode job, its part count and block
    * byte bound (small bounds split parts into several groups), and rows for
    * one V2 append (the other writer). */
  private final case class StoreSpec(batch: Seq[WebPage], parts: Int, blockBytes: Long,
      appended: Seq[WebPage])

  private val storeGen: Gen[StoreSpec] = for {
    n <- Gen.choose(40, 300)
    batch <- Gen.listOfN(n, pageGen)
    parts <- Gen.choose(1, 4)
    blockBytes <- Gen.oneOf(600L, 4000L, EncodeJob.MaxBlockBytes)
    m <- Gen.choose(0, 60)
    appended <- Gen.listOfN(m, pageGen)
  } yield StoreSpec(batch, parts, blockBytes, appended)

  private def predicateGen(s: StoreSpec): Gen[ExactFilter] = {
    val pages = s.batch ++ s.appended
    def valueOf(c: String): Gen[String] = {
      val seen = pages.flatMap(p => Option(c match {
        case "url" => p.url
        case "lang" => p.lang
        case _ => p.text
      }))
      val fresh = Gen.oneOf(Gen.alphaStr.map(_.take(6)), Gen.oneOf(hosts),
        Gen.const("￿"), Gen.const(""))
      if (seen.isEmpty) fresh else Gen.frequency(3 -> Gen.oneOf(seen), 1 -> fresh)
    }
    val strCol = Gen.oneOf("url", "lang", "text")
    val tsVals = pages.flatMap(p => Option(p.warc_ts)).map(_.getTime * 1000L)
    val tsGen = if (tsVals.isEmpty) Gen.choose(0L, 5000000000L)
      else Gen.frequency(3 -> Gen.oneOf(tsVals), 1 -> Gen.choose(0L, 5000000000L))
    Gen.oneOf(
      for (c <- strCol; v <- valueOf(c)) yield DecodeJob.StrEq(c, v),
      for (c <- strCol; vs <- Gen.nonEmptyListOf(valueOf(c)).map(_.take(4)))
        yield DecodeJob.StrIn(c, vs),
      for (c <- strCol; v <- valueOf(c); k <- Gen.choose(0, 12))
        yield DecodeJob.StrPrefix(c, v.take(k)),
      for (c <- strCol; lo <- Gen.option(valueOf(c)); hi <- Gen.option(valueOf(c)))
        yield DecodeJob.StrRange(c, lo, hi),
      for (a <- tsGen; b <- tsGen) yield DecodeJob.TsRange(math.min(a, b), math.max(a, b)),
      for (c <- strCol; lo <- Gen.option(valueOf(c)); ls <- Gen.oneOf(false, true);
           hi <- Gen.option(valueOf(c)); hs <- Gen.oneOf(false, true))
        yield ExactFilter.StrRange(c, lo, ls, hi, hs),
      strCol.map(ExactFilter.StrIn(_, Nil)),
      for (vs <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, tsGen)))
        yield ExactFilter.IntIn("warc_ts", vs),
      Gen.const(ExactFilter.IntIn("warc_ts", Nil)),
      for (c <- Gen.oneOf("url", "lang", "text", "warc_ts"); isNull <- Gen.oneOf(false, true))
        yield ExactFilter.NullTest(c, isNull, c != "warc_ts"))
  }

  private def writeStore(s: StoreSpec): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-two-level-").toString
    EncodeJob.run(spark, spark.createDataset(s.batch).repartition(2), root, s.parts,
      maxBlockBytes = s.blockBytes)
    if (s.appended.nonEmpty)
      spark.createDataset(s.appended).toDF().write.format("graft").mode("append").save(root)
    root
  }

  /** The block-metadata test as a Spark `Column` over [[DecodeJob.blocks]]
    * rows: a form written apart from the planner's, for the property to check
    * it against. Null metadata admits. */
  private def metaCond(p: ExactFilter): Column = p match {
    case ExactFilter.StrRange(_, Some(v), false, Some(w), false) if v == w =>
      (col("block_str_min").isNull || col("block_str_min") <= v) &&
      (col("block_str_max").isNull || col("block_str_max") >= v) &&
      (col("block_str_dict").isNull || array_contains(col("block_str_dict"), v))
    case ExactFilter.StrIn(_, Seq()) => lit(false)
    case ExactFilter.StrIn(_, vs) =>
      val arr = typedLit(vs)
      (col("block_str_min").isNull || col("block_str_min") <= array_max(arr)) &&
      (col("block_str_max").isNull || col("block_str_max") >= array_min(arr)) &&
      (col("block_str_dict").isNull || arrays_overlap(col("block_str_dict"), arr))
    case ExactFilter.StrPrefix(_, p) =>
      // matches s satisfy p <= s < successor(p); a block overlaps that interval
      // iff max >= p and min < successor(p) (when the successor exists)
      (col("block_str_max").isNull || col("block_str_max") >= p) &&
      ExactFilter.prefixSuccessor(p).map(succ =>
        col("block_str_min").isNull || col("block_str_min") < succ).getOrElse(lit(true)) &&
      (col("block_str_dict").isNull ||
        exists(col("block_str_dict"), v => v.startsWith(p)))
    case ExactFilter.StrRange(_, lo, false, hi, false) =>
      hi.map(h => col("block_str_min").isNull || col("block_str_min") <= h)
        .getOrElse(lit(true)) &&
      lo.map(l => col("block_str_max").isNull || col("block_str_max") >= l)
        .getOrElse(lit(true)) &&
      (col("block_str_dict").isNull ||
        exists(col("block_str_dict"), v =>
          lo.map(v >= _).getOrElse(lit(true)) && hi.map(v <= _).getOrElse(lit(true))))
    // a strict bound keeps only values past it: the block's far bound must be too
    case ExactFilter.StrRange(_, lo, loStrict, hi, hiStrict) =>
      def above(x: Column, l: String) = if (loStrict) x > l else x >= l
      def below(x: Column, h: String) = if (hiStrict) x < h else x <= h
      hi.map(h => col("block_str_min").isNull || below(col("block_str_min"), h))
        .getOrElse(lit(true)) &&
      lo.map(l => col("block_str_max").isNull || above(col("block_str_max"), l))
        .getOrElse(lit(true)) &&
      (col("block_str_dict").isNull ||
        exists(col("block_str_dict"), v =>
          lo.map(above(v, _)).getOrElse(lit(true)) && hi.map(below(v, _)).getOrElse(lit(true))))
    case ExactFilter.IntRange(_, lo, hi) =>
      (col("block_min").isNull || col("block_min") <= hi) &&
      (col("block_max").isNull || col("block_max") >= lo)
    case ExactFilter.IntIn(_, Seq()) => lit(false)
    case ExactFilter.IntIn(_, vs) =>
      (col("block_min").isNull || col("block_min") <= vs.max) &&
      (col("block_max").isNull || col("block_max") >= vs.min)
    case ExactFilter.NullTest(_, isNull, _) => if (isNull) col("n_nulls") > 0 else lit(true)
  }

  /** The group keys whose block metadata admits every predicate, by
    * [[metaCond]] over the store's blocks: one key set per predicate,
    * intersected. */
  private def blockKeys(root: String, preds: Seq[ExactFilter]): Set[(Int, Int)] = {
    import spark.implicits._
    val blocks = DecodeJob.blocks(spark, root)
    preds.map(p => blocks.where(col("column") === p.column && metaCond(p))
      .select(col("part_id"), col("block_seq")).as[(Int, Int)].collect().toSet)
      .reduce(_ intersect _)
  }

  /** Does a decoded row (url, text, lang, `ts` in epoch micros) match `p`?
    * Strings compare as Spark compares them, by UTF-8 bytes. */
  private def rowMatches(p: ExactFilter, r: Row): Boolean = {
    def u(s: String) = UTF8String.fromString(s)
    def str(c: String) = Option(r.getAs[String](c)).map(u)
    def ts = Option(r.getAs[java.lang.Long]("ts")).map(_.longValue)
    p match {
      case ExactFilter.StrRange(c, Some(v), false, Some(w), false) if v == w =>
        str(c).contains(u(v))
      case ExactFilter.StrIn(c, vs) => str(c).exists(x => vs.exists(u(_) == x))
      case ExactFilter.StrPrefix(c, pre) => str(c).exists(_.startsWith(u(pre)))
      case ExactFilter.StrRange(c, lo, false, hi, false) => str(c).exists(x =>
        lo.forall(l => x.compareTo(u(l)) >= 0) && hi.forall(h => x.compareTo(u(h)) <= 0))
      case ExactFilter.StrRange(c, lo, loStrict, hi, hiStrict) => str(c).exists { x =>
        lo.forall(l => if (loStrict) x.compareTo(u(l)) > 0 else x.compareTo(u(l)) >= 0) &&
        hi.forall(h => if (hiStrict) x.compareTo(u(h)) < 0 else x.compareTo(u(h)) <= 0)
      }
      case ExactFilter.IntRange("warc_ts", lo, hi) => ts.exists(t => t >= lo && t <= hi)
      case ExactFilter.IntIn("warc_ts", vs) => ts.exists(vs.contains)
      case ExactFilter.NullTest("warc_ts", isNull, _) => ts.isEmpty == isNull
      case ExactFilter.NullTest(c, isNull, _) => str(c).isEmpty == isNull
      case p => throw new IllegalArgumentException(s"no row form for $p")
    }
  }

  test("property: level-1 survivors cover every part level 2 keeps; two-level keys equal block keys") {
    check("level 1 superset", Prop.forAllNoShrink(
        storeGen.flatMap(s => Gen.listOfN(12, Gen.nonEmptyListOf(predicateGen(s)).map(_.take(2)))
          .map(ps => (s, ps)))) { case (s, predLists) =>
        val root = writeStore(s)
        val entries = SnapshotStore.currentEntries(root)
        assert(entries.forall(_.stats.isDefined), "both writers commit part stats")
        // every row, with its part, read with no filter: no pruning applies
        val rows = spark.read.format("graft").load(root).select(col("_part_id"), col("url"),
          col("text"), col("lang"), unix_micros(col("warc_ts")).as("ts")).collect()
        predLists.forall { preds =>
          val reference = blockKeys(root, preds)
          val level1 = DecodeJob.partsMayMatch(entries, preds).map(_.partId).toSet
          val planned = DecodeJob.planPrunedKeys(graft.sources.v2.HadoopSettings(spark), root,
            entries, preds).toSet
          val matchingParts = rows.filter(r => preds.forall(rowMatches(_, r)))
            .map(_.getAs[Int]("_part_id")).toSet
          val ok = reference.map(_._1).subsetOf(level1) && planned == reference &&
            matchingParts.subsetOf(planned.map(_._1))
          if (!ok) println(s"counterexample $root $preds: level1=$level1 " +
            s"reference=$reference planned=$planned matching parts=$matchingParts")
          ok
        }
      }, cases = 4)
  }

  // ------------- property (b): stats survive the manifest round trip -------------

  private val nastyString: Gen[String] = Gen.oneOf(
    Gen.const("\""), Gen.const("\\"), Gen.const("\"codecs\":"),
    Gen.const("a\",\"codecs\":{\"x\":\"y\"}}"), Gen.const("𝄞"),
    Gen.const("😀 x"), Gen.const("\n\t\u0000 "), Gen.const(""),
    org.scalacheck.Arbitrary.arbitrary[String])
  private val strGen: Gen[String] = Gen.listOfN(3, nastyString).map(_.mkString)
  private val longGen: Gen[Long] =
    Gen.oneOf(Gen.const(Long.MinValue), Gen.const(Long.MaxValue), Gen.choose(-1000L, 1000L))

  private val columnStatsGen: Gen[ColumnStats] = for {
    mn <- Gen.option(longGen); mx <- Gen.option(longGen)
    smin <- Gen.option(strGen); smax <- Gen.option(strGen)
    nulls <- Gen.choose(0L, Long.MaxValue)
    dict <- Gen.option(Gen.listOf(strGen).map(_.take(5)))
    sum <- Gen.option(longGen)
    counts <- dict.fold(Gen.const(Option.empty[List[Long]]))(d =>
      Gen.option(Gen.listOfN(d.size, Gen.choose(0L, Long.MaxValue))))
  } yield ColumnStats(mn, mx, smin, smax, nulls, dict, sum, counts)

  private val entryGen: Gen[PartEntry] = for {
    dir <- strGen
    cols <- Gen.mapOf(Gen.zip(strGen, columnStatsGen)).map(_.take(4))
    groups <- Gen.choose(0, 1000)
    stats <- Gen.option(Gen.const(PartStats(groups, cols)))
    codecCols <- Gen.listOf(strGen).map(_.take(3))
    file <- Gen.option(strGen)
    fileLen <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val codecs = new java.util.TreeMap[String, String]()
    codecCols.foreach(c => codecs.put(c, "str_fsst+str_plain"))
    // a line names its file and that file's length together, or neither
    PartEntry(0, "data/" + dir, 7L, 70L, 20L,
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(codecs), stats,
      file, if (file.isDefined) fileLen else 0L)
  }

  test("property: part stats survive serialise -> parse -> carry-forward commit unchanged") {
    check("manifest round trip", Prop.forAllNoShrink(entryGen, entryGen) { (a0, b0) =>
      val a = a0.copy(partId = 1)
      val b = b0.copy(partId = 2)
      val root = Files.createTempDirectory("graft-manifest-prop-").toString
      val first = SnapshotStore.commit(root, Seq(a))
      val second = SnapshotStore.commit(root, Seq(b)) // carries `a` forward
      // the upgrade's commit: a part that names no file takes a new id and
      // its copied file, and keeps the rest of its line; `b` is carried
      val old = SnapshotStore.entriesAt(root, second).filter(_.file.isEmpty)
      val targets = CompactJob.upgradeTargets(root, old)
      val (relDir, absDir) = SnapshotStore.newDataDir(root)
      Files.createDirectories(java.nio.file.Paths.get(absDir))
      val copied = old.map { e =>
        val t = targets(e.partId)
        val name = graft.sources.v2.GraftDataWriter.fileNameFor(t.partId, 0L)
        Files.write(java.nio.file.Paths.get(absDir,
          graft.sources.v2.GraftDataWriter.stagedName(name)), Array[Byte](1, 2, 3))
        (e.partId, e.nRows, graft.sources.v2.GraftWriterCommitMessage(name,
          t.copy(file = Some(name), fileLen = 3L)))
      }
      val third = CompactJob.commitUpgrade(root, old, copied, relDir, absDir)
      val upgraded = old.map(e => e.copy(partId = targets(e.partId).partId, dataDir = relDir,
        file = copied.find(_._1 == e.partId).map(_._3.fileName), fileLen = 3L))
      SnapshotStore.entriesAt(root, first) == Seq(a) &&
        SnapshotStore.entriesAt(root, second) == Seq(a, b) &&
        SnapshotStore.entriesAt(root, third) == Seq(a, b).filter(_.file.isDefined) ++ upgraded &&
        SnapshotStore.isRehomedCommit(root, third)
    }, cases = 200)
  }

  test("a manifest line written before sum and str_dict_counts parses them as absent") {
    val root = Files.createTempDirectory("graft-manifest-old-").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "manifests"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "manifests", "1.jsonl"),
      ("""{"part_id":3,"data_dir":"data/u","n_rows":5,"orig_bytes":9,"enc_bytes":4,""" +
        """"stats":{"n_groups":1,"columns":{"lang":{"n_nulls":1,"str_min":"de",""" +
        """"str_max":"en","str_dict":["de","en"]},"warc_ts":{"n_nulls":0,"min":1,"max":8}}},""" +
        """"codecs":{"lang":"str_plain"}}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cols = SnapshotStore.entriesAt(root, 1L).head.stats.get.columns
    assert(cols("lang") == ColumnStats(None, None, Some("de"), Some("en"), 1L,
      Some(Seq("de", "en")), None, None))
    assert(cols("warc_ts") == ColumnStats(Some(1L), Some(8L), nNulls = 0L))
  }

  // ------ property (c): manifest aggregate answers decline or are exact ------

  /** A store spec whose `column` is null in every row (planted nulls in the
    * other columns come from [[pageGen]]). */
  private val answerStoreGen: Gen[(StoreSpec, String)] = for {
    s <- storeGen
    column <- Gen.oneOf("url", "warc_ts", "text", "lang")
  } yield {
    def blank(p: WebPage) = column match {
      case "url" => p.copy(url = null)
      case "warc_ts" => p.copy(warc_ts = null)
      case "text" => p.copy(text = null)
      case _ => p.copy(lang = null)
    }
    (s.copy(batch = s.batch.map(blank), appended = s.appended.map(blank)), column)
  }

  test("property: manifest aggregate answers are None or equal Spark's aggregates") {
    import org.apache.spark.sql.functions._
    import graft.sources.v2.{GraftDataSource, GraftGroupedAgg, GraftUngroupedAgg}
    import GraftDataSource.{AggCountCol, AggCountStar, AggMax, AggMin, AggSum}
    val schema = GraftDataSource.PageSchema
    def internal(v: Any): Any = v match {
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case other => other
    }
    check("manifest answers", Prop.forAllNoShrink(answerStoreGen) { case (s, blank) =>
      import spark.implicits._
      val root = writeStore(s)
      val fresh = SnapshotStore.currentEntries(root)
      // one entry as a part committed before per-part stats existed
      val stripped = fresh.updated(0, fresh.head.copy(stats = None))
      val pages = spark.createDataset(s.batch ++ s.appended).toDF()
        .withColumn("warc_ts", unix_micros(col("warc_ts")))
      val cols = Seq("url", "warc_ts", "text", "lang")
      val aggs = AggCountStar +: cols.flatMap(c => Seq(AggCountCol(c), AggMin(c), AggMax(c))) :+
        AggCountCol("html") :+ AggSum("warc_ts")
      val want = pages.agg(count(lit(1)), cols.flatMap(c =>
        Seq(count(col(c)), min(col(c)), max(col(c)))) :+ count(col("html")) :+
        sum(col("warc_ts")): _*).head().toSeq.map(internal)
      val ok = Seq(fresh, stripped).forall { entries =>
        // each aggregate alone: one uncovered aggregate must not hide the others
        aggs.zip(want).forall { case (a, w) =>
          GraftUngroupedAgg.compute(entries, Seq(a), schema).forall(_.toSeq == Seq(w)) &&
            (a match { // non-vacuity: every column's null count is in the manifest
              case AggCountStar | AggCountCol(_) if entries eq fresh =>
                GraftUngroupedAgg.compute(entries, Seq(a), schema).isDefined
              case _ => true
            })
        } && Seq("url", "text", "lang").forall { c =>
          val got = GraftGroupedAgg.compute(entries, c)
            .map(_.map(g => (g.value, g.countStar, g.countCol)).toSet)
          got.forall(_ == pages.groupBy(col(c)).agg(count(lit(1)), count(col(c)))
            .as[(String, Long, Long)].collect().toSet)
        }
      }
      val declined = stripped.head.nRows == 0 || aggs.tail.forall(a =>
        GraftUngroupedAgg.compute(stripped, Seq(a), schema).isEmpty)
      if (!ok || !declined) println(s"counterexample $root (all-null $blank)")
      ok && declined
    }, cases = 6)
  }

  test("a truncated manifest line still fails loudly") {
    val root = Files.createTempDirectory("graft-manifest-trunc-").toString
    val e = PartEntry(1, "data/d", 1L, 1L, 1L, "{}",
      Some(PartStats(1, Map("url" -> ColumnStats(strMin = Some("a"), strMax = Some("b"))))))
    val id = SnapshotStore.commit(root, Seq(e))
    val mf = java.nio.file.Paths.get(root, "manifests", s"$id.jsonl")
    val line = new String(Files.readAllBytes(mf), java.nio.charset.StandardCharsets.UTF_8).trim
    Seq(line.length / 2, line.length - 1, 20).foreach { cut =>
      Files.write(mf, line.take(cut).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val err = intercept[IllegalArgumentException](SnapshotStore.entriesAt(root, id))
      assert(err.getMessage.contains("corrupt manifest line"), s"cut at $cut")
    }
  }
}
