package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{IntBlockCodec, StringBlockCodec}
import graft.core.{GolombCodec, PhysicalIntType}
import graft.functions.GraftFunctions
import graft.jobs.{CompactJob, DecodeJob, EncodeJob}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.{SnapshotStore, WebPage}
import graft.streaming.StreamingEncode

/**
 * Driver contract: one entry per implemented operator (SURVEY.md §2), each with an
 * ANSI-SQL DuckDB oracle where expressible. Codec round-trips use IDENTITY oracles —
 * decode(encode(x)) must equal x, so the oracle is simply `SELECT x AS v`.
 * Pair-mining queries are self-verifying by construction: the input is documents ∪
 * perturbed copies with known ids, so the exact expected pair set is a plain SQL
 * projection.
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Round-trip a long column through per-partition blocks of 8192 values. */
  private def rtLong(df: DataFrame, c: String)(codec: Array[Long] => Array[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(c).cast("long")).as[Long]
      .mapPartitions(_.grouped(8192).flatMap(b => codec(b.toArray).iterator))
      .toDF("v")
  }

  /** Round-trip a nullable long column through validity-bitmap blocks (null != 0). */
  private def rtLongNullable(df: DataFrame, c: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(c).isNull.as("isn"), coalesce(col(c).cast("long"), lit(0L)).as("x"))
      .as[(Boolean, Long)]
      .mapPartitions(_.grouped(8192).flatMap { b =>
        val vals = b.map(_._2).toArray
        val valid = b.map(!_._1).toArray
        val (dv, dok) = IntBlockCodec.decodeNullable(
          IntBlockCodec.encodeNullable(vals, valid, PhysicalIntType.I64))
        dv.indices.iterator.map(i => (!dok(i), dv(i)))
      })
      .toDF("isn", "x")
      .select(when(col("isn"), lit(null).cast("long")).otherwise(col("x")).as("v"))
  }

  /** String block round-trip; the codec preserves null vs "" via its validity bitmap. */
  private def rtString(df: DataFrame, c: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(c)).as[String]
      .mapPartitions(_.grouped(4096).flatMap { b =>
        StringBlockCodec.decodeStrings(StringBlockCodec.encodeStrings(b.toArray)).iterator
      })
      .toDF("v")
  }

  // ---------------- shared fixtures for store-backed queries ----------------

  /**
   * documents mapped into the engine's WebPage shape (input_hint schema),
   * deterministically: warc_ts buckets 50 consecutive doc_ids per hour so range
   * partitioning on url puts each ts value in few parts (provable block pruning).
   */
  private def docsAsPages(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      concat(lit("doc://"), lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
      timestamp_seconds(lit(1600000000L) + expr("doc_id div 50") * 3600L).as("warc_ts"),
      col("text").cast("binary").as("html"),
      col("text"),
      col("lang"))

  /** Encode documents into a snapshot store once per (JVM, sf dir). */
  private val storeCache = scala.collection.mutable.Map[String, String]()
  private def encodedDocsStore(s: SparkSession, d: String): String = synchronized {
    storeCache.getOrElseUpdate(d, {
      val root = Files.createTempDirectory("graft-docs-store-").toString
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root, parts = 4)
      root
    })
  }

  /** Memoized per-store count of url block groups (stores under [[storeCache]]
    * are written once per JVM and never mutated): the pruning `require`s
    * compare against this total on every invocation, and re-counting the
    * metadata was a full Spark job per bench round spent recomputing a
    * constant (guide §1.2: don't compute things you throw away). The
    * RETURNED rows of every query stay computed fresh from the store. */
  private val urlBlockTotalCache = scala.collection.mutable.Map[String, Long]()
  private def urlBlockTotal(s: SparkSession, root: String): Long = synchronized {
    urlBlockTotalCache.getOrElseUpdate(root,
      DecodeJob.blocks(s, root).where(col("column") === "url").count())
  }

  /** Ensure the block-metadata pruning + stream-filter rules run in this
    * (driver-built) session. The write-arrange rule needs a RESOLUTION hook
    * and can only ride `spark.sql.extensions` (set in our own session
    * builders); writes in a session without it fall back to the
    * ordered-distribution path — slower, identical results. */
  private def withPruneRule(s: SparkSession): Unit = {
    if (!s.experimental.extraOptimizations.contains(graft.plans.BlockMinMaxPruneRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.BlockMinMaxPruneRule
    if (!s.experimental.extraOptimizations.contains(graft.plans.StreamFilterPushRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.StreamFilterPushRule
    if (!s.experimental.extraOptimizations.contains(graft.plans.GroupedAggMetadataRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.GroupedAggMetadataRule
  }

  /** Fixed ANN query vector (inlined into the DuckDB oracle as a literal list). */
  private val knnQueryVec: Array[Float] =
    Array.tabulate(64)(i => (math.sin(i.toDouble) * 0.5).toFloat)
  private def knnQueryList: String =
    knnQueryVec.map(v => v.toDouble.toString).mkString("[", ", ", "]")

  /** Flagship query on sf=0.001: encode+decode l_orderkey, prove identity + compression. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val rt = rtLong(li, "l_orderkey")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encode(vs, PhysicalIntType.I64)))
    val a = li.select(sum($"l_orderkey").as("orig_sum"), count(lit(1)).as("orig_n"))
    val b = rt.select(sum($"v").as("rt_sum"), count(lit(1)).as("rt_n"))
    a.crossJoin(b).where($"orig_sum" === $"rt_sum" && $"orig_n" === $"rt_n")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- codec round-trips (identity oracles) ----------------
    "rt_eg_i64" -> ((s, d) => rtLong(t(s, d, "lineitem"), "l_orderkey")(vs =>
      GolombCodec.decode(GolombCodec.encode(vs, 4, PhysicalIntType.I64), 4, PhysicalIntType.I64))),

    "rt_eg_adaptive_i32" -> ((s, d) => rtLong(t(s, d, "lineitem"), "l_linenumber")(vs =>
      GolombCodec.adaptiveDecode(
        GolombCodec.adaptiveEncode(vs, 2, 2, PhysicalIntType.I32), 2, 2, PhysicalIntType.I32))
      .select(col("v").cast("int").as("v"))),

    "rt_auto_ts" -> ((s, d) => rtLong(
      t(s, d, "lineitem").select(unix_micros(col("l_shipdate").cast("timestamp")).as("us")), "us")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encode(vs, PhysicalIntType.I64)))),

    "rt_auto_i64" -> ((s, d) => rtLong(t(s, d, "orders"), "o_custkey")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encode(vs, PhysicalIntType.I64)))),

    // drifting-magnitude column: bit-widths move in 512-row plateaus (by explicit
    // row rank — the test parquet's physical row order is scrambled) with mixed
    // signs, so the chooser's exact adaptive-cost simulation must pick
    // eg_adaptive (the reference's -a mode, now auto-chosen) — asserted in-query
    // for every full block; identity oracle proves the round trip.
    // r7: row_number() over a UNIQUE total order of an N-row table is, as a
    // multiset, always exactly {1..N} — the single-partition Window sort this
    // query carried (guide §2.4's accidental SinglePartition Exchange, which
    // also serialized every codec block onto one core) contributed nothing to
    // the result but the row COUNT. The count is still read fresh from the
    // parquet input each run; `range(1, N+1)` then yields the identical rn
    // multiset in contiguous per-partition runs (the same block layout the
    // sorted form produced), and the adaptive-chooser simulation + round trip
    // — the work this query exists to measure — run on every core.
    "rt_auto_drift" -> ((s, d) => {
      val n = t(s, d, "lineitem").count()
      val df = s.range(1, n + 1).toDF("rn")
        .selectExpr("CAST(CASE WHEN rn % 2 = 0 THEN 1 ELSE -1 END AS BIGINT) * " +
          "((rn * 7919) % 4096 + 4096) * " +
          "shiftleft(CAST(1 AS BIGINT), CAST((rn div 512) % 24 AS INT)) AS drift")
      rtLong(df, "drift")(vs => {
        val enc = IntBlockCodec.encode(vs, PhysicalIntType.I64)
        if (vs.length >= 4096)
          require(IntBlockCodec.info(enc).codecName.startsWith("eg_adaptive"),
            s"drifting block must auto-choose adaptive, got ${IntBlockCodec.info(enc).codecName}")
        IntBlockCodec.decode(enc)
      })
    }),

    // every codec-tree node forced explicitly (the auto queries above only cover
    // whatever the chooser picks for that data) — identity oracles each
    "rt_bitpack" -> ((s, d) => rtLong(t(s, d, "lineitem"), "l_suppkey")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encodeAs(vs, PhysicalIntType.I64,
        graft.codec.CodecSpec.BitPack)))),

    "rt_rle" -> ((s, d) => rtLong(t(s, d, "lineitem"), "l_linenumber")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encodeAs(vs, PhysicalIntType.I64,
        graft.codec.CodecSpec.Rle(graft.codec.CodecSpec.Eg(2), graft.codec.CodecSpec.Eg(0)))))
      .select(col("v").cast("int").as("v"))),

    "rt_for_eg" -> ((s, d) => rtLong(t(s, d, "lineitem"), "l_partkey")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encodeAs(vs, PhysicalIntType.I64,
        graft.codec.CodecSpec.For(graft.codec.CodecSpec.Eg(3)))))),

    "rt_delta_eg" -> ((s, d) => rtLong(t(s, d, "orders"), "o_orderkey")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encodeAs(vs, PhysicalIntType.I64,
        graft.codec.CodecSpec.Delta(graft.codec.CodecSpec.Eg(2)))))),

    "rt_dict_codec" -> ((s, d) => rtLong(t(s, d, "part"), "p_size")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encodeAs(vs, PhysicalIntType.I64,
        graft.codec.CodecSpec.Dict(
          graft.codec.CodecSpec.Delta(graft.codec.CodecSpec.Eg(0)),
          graft.codec.CodecSpec.BitPack))))
      .select(col("v").cast("int").as("v"))),

    "rt_const" -> ((s, d) => rtLong(
      t(s, d, "lineitem").select(lit(42L).as("c")), "c")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encodeAs(vs, PhysicalIntType.I64,
        graft.codec.CodecSpec.Const)))),

    "rt_str_text" -> ((s, d) => rtString(t(s, d, "documents"), "text")),

    "rt_str_lang" -> ((s, d) => rtString(t(s, d, "documents"), "lang")),

    // u64 raw-bit round trip: odd keys map into the top half of the u64 domain
    // (bit 63 set — true unsigned-range values), even keys spread via shift.
    // Overflow-free in BOTH engines (DuckDB's << and Spark ANSI arithmetic are
    // overflow-checked; subtracting MaxValue then 1 never leaves the Long range
    // for non-negative keys)
    "rt_u64" -> ((s, d) => rtLong(
      t(s, d, "orders").select(
        when(pmod(col("o_orderkey"), lit(2)) === 1,
          col("o_orderkey") - lit(Long.MaxValue) - lit(1L))
          .otherwise(shiftleft(col("o_orderkey"), 13)).as("h"),
        col("o_orderkey")), "h")(vs =>
      IntBlockCodec.decode(IntBlockCodec.encode(vs, PhysicalIntType.U64)))),

    // nullable round-trips: validity bitmaps must preserve null (and null != "")
    "rt_nulls_i64" -> ((s, d) => rtLongNullable(
      t(s, d, "lineitem").select(
        when(pmod(col("l_orderkey"), lit(7)) === 0, lit(null))
          .otherwise(col("l_orderkey")).cast("long").as("x")), "x")),

    "rt_nulls_str" -> ((s, d) => rtString(
      t(s, d, "documents").select(
        when(pmod(col("doc_id"), lit(7)) === 0, lit(null))
          .when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
          .otherwise(col("lang")).as("x")), "x")),

    // Catalyst expression surface: SQL-level eg_encode/eg_decode round trip
    "rt_expr_sql" -> ((s, d) => {
      GraftFunctions.registerAll(s)
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT explode(eg_decode(eg_encode(vals, 3, 'i64'), 3, 'i64')) AS v
          |FROM (SELECT collect_list(l_suppkey) AS vals
          |      FROM lineitem_v GROUP BY l_orderkey % 64)""".stripMargin)
    }),

    // string blocks through the SQL expression surface
    "rt_expr_str" -> ((s, d) => {
      GraftFunctions.registerAll(s)
      t(s, d, "documents").createOrReplaceTempView("documents_v")
      s.sql(
        """SELECT explode(graft_decode_str(graft_encode_str(vals))) AS v
          |FROM (SELECT collect_list(lang) AS vals FROM documents_v GROUP BY source)""".stripMargin)
    }),

    // ---------------- metadata pushdown over a job-written store ----------------
    // count one warc_ts hour-bucket by decoding blocks; BlockMinMaxPruneRule conjoins
    // block_min/block_max/block_dict so non-matching blocks are pruned by parquet
    // row-group stats (and short-circuited before decode) — results unchanged
    "q_prune_dict" -> ((s, d) => {
      withPruneRule(s)
      val root = encodedDocsStore(s, d)
      val target = (1600000000L + 7L * 3600L) * 1000000L // doc_id div 50 == 7, micros
      DecodeJob.blocks(s, root)
        .where(col("column") === "warc_ts" &&
          array_contains(GraftFunctions.graft_decode(col("encoded")), lit(target)))
        .select(explode(GraftFunctions.graft_decode(col("encoded"))).as("ts_us"))
        .where(col("ts_us") === target)
        .agg(count(lit(1)).as("cnt"))
    }),

    "q_prune_lang" -> ((s, d) => {
      withPruneRule(s)
      val root = encodedDocsStore(s, d)
      DecodeJob.blocks(s, root)
        .where(col("column") === "lang" &&
          array_contains(GraftFunctions.graft_decode_str(col("encoded")), lit("en")))
        .select(explode(GraftFunctions.graft_decode_str(col("encoded"))).as("lang"))
        .where(col("lang") === "en")
        .agg(count(lit(1)).as("cnt"))
    }),

    // ---------------- store round-trip: the north-rule per-row invariant ----------------
    // encode documents into the snapshot store, decode the committed blocks back into
    // pages, and return EVERY reassembled row — hash-matched against the original
    // table, so "byte-identical extracted text per url" (BASELINE.json input_hint)
    // is driver-verified with a DuckDB oracle, not only sbt-tested
    "q_store_roundtrip" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      DecodeJob.decode(s, root).toDF()
        .select(col("url"), unix_seconds(col("warc_ts")).as("ts_s"),
          col("text"), col("lang"))
    }),

    // compaction: a multi-batch stream fragments the store into many small parts
    // (one namespace per micro-batch); CompactJob merges them into full parts and
    // commits a REPLACING manifest. In-query asserts prove parts shrank; the
    // oracle hash-matches the post-compaction decode against the full table.
    "q_compact" -> ((s, d) => {
      val tmp = Files.createTempDirectory("graft-compact-").toString
      val src = s"$tmp/src"; val store = s"$tmp/store"; val ckpt = s"$tmp/ckpt"
      val pages = docsAsPages(s, d)
      pages.repartition(4).write.mode("overwrite").parquet(src)
      StreamingEncode.encodeStream(
        s.readStream.option("maxFilesPerTrigger", 1).schema(pages.schema).parquet(src),
        store, parts = 2, ckpt).awaitTermination()
      val before = SnapshotStore.currentEntries(store).size
      val res = CompactJob.run(s, store)
      val after = SnapshotStore.currentEntries(store).size
      require(res.partsCompacted >= 2 && after < before,
        s"compaction must merge parts (before=$before after=$after, $res)")
      DecodeJob.decode(s, store).toDF().select(col("url"), col("lang"))
    }),

    // lineage/metrics surface: the manifest as a DataFrame — all 4 work units
    // committed, row counts conserved, every part actually compressed
    "q_lineage" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      SnapshotStore.lineage(s, root).agg(
        count(lit(1)).as("parts"),
        sum(col("nRows")).as("rows"),
        min((col("encBytes") < col("origBytes")).cast("int")).as("all_compressed"))
    }),

    // snapshot expiry: compaction strands the pre-compaction wave dirs; expiring
    // to keepLast=1 must reclaim them (removedBytes > 0) while the surviving
    // snapshot still reproduces the full table (the oracle hash match)
    "q_expire" -> ((s, d) => {
      val root = Files.createTempDirectory("graft-expire-").toString
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root,
        parts = 4, waves = 2)
      CompactJob.run(s, root)
      val res = SnapshotStore.expireSnapshots(root, keepLast = 1, orphanGraceMs = 0L)
      require(res.removedSnapshots.nonEmpty && res.removedDataDirs.nonEmpty &&
        res.removedBytes > 0, s"expire must reclaim post-compaction dirs: $res")
      require(SnapshotStore.snapshotIds(root).size == 1, "only the head survives")
      DecodeJob.decode(s, root).toDF().select(col("url"))
    }),

    // snapshot time travel: two-wave encode leaves two committed snapshots; the
    // older one must stay readable (strict subset of rows), and the latest —
    // read through the time-travel API — must reproduce the full table. The
    // subset property is asserted in-query; the full-set is the DuckDB oracle.
    "q_time_travel" -> ((s, d) => {
      val root = Files.createTempDirectory("graft-tt-").toString
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root,
        parts = 4, waves = 2)
      val ids = SnapshotStore.snapshotIds(root)
      require(ids.size == 2, s"two waves must commit two snapshots, got $ids")
      val nOld = DecodeJob.decodeAt(s, root, ids.head).count()
      val latest = DecodeJob.decodeAt(s, root, ids.last)
      require(nOld > 0 && nOld < latest.count(),
        s"snapshot ${ids.head} must be a non-empty strict subset (got $nOld rows)")
      latest.toDF().select(col("url"))
    }),

    // incremental batch read: `.option("fromSnapshot", a)` reads only the rows
    // ADDED after snapshot a (the streaming reader's additions-changelog walk
    // on the batch surface) — wave 1 commits, wave 2 appends via the SQL write
    // path, and the delta read returns exactly wave 2, planned from the delta
    // manifests only (plan-stats-proven in-query)
    "q_incremental_read" -> ((s, d) => {
      val root = Files.createTempDirectory("graft-incr-").toString
      val pages = docsAsPages(s, d)
      // sf-independent wave split on the doc id embedded in the url
      val docId = col("url").substr(7, 8).cast("long")
      EncodeJob.run(s, pages.where(docId % 5 =!= 0)
        .as(Encoders.product[WebPage]), root, parts = 2)
      val snap1 = SnapshotStore.currentSnapshotId(root).get
      pages.where(docId % 5 === 0)
        .write.format("graft").mode("append").save(root)
      val delta = s.read.format("graft")
        .option("fromSnapshot", snap1.toString).load(root)
      delta.count() // force planning so the delta scope is observable
      val stats = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .getOrElse(sys.error("V2 scan did not record plan stats"))
      val totalFiles = SnapshotStore.currentEntries(root).size
      val wave2Files = SnapshotStore.deltaEntries(root, snap1,
        SnapshotStore.currentSnapshotId(root).get, freshFrom = false)((_, e) => throw e).size
      require(wave2Files > 0 && wave2Files < totalFiles &&
        stats.files == wave2Files,
        s"incremental scan must plan ONLY the delta parts: $stats, " +
        s"delta=$wave2Files of $totalFiles")
      delta.select(col("url"), col("lang"))
    }),

    // projected decode: only the url+lang blocks are read (the `column` filter is
    // a pushed parquet In-filter — text/html blocks never leave the row groups)
    "q_decode_projection" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      DecodeJob.decodeColumns(s, root, Seq("url", "lang"))
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    }),

    // binary-faithful projected decode: html comes back as BinaryType (no UTF-8
    // re-interpretation), digest-matched per url against the source table
    "q_decode_projection_html" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      DecodeJob.decodeColumns(s, root, Seq("url", "html"))
        .select(col("url"), md5(col("html")).as("h"))
    }),

    // projected + predicate-pushed decode: only url/warc_ts/lang blocks are
    // read, groups prune via metadata, lang is decoded for the exact filter
    // then dropped from the output
    "q_decode_cols_where" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      val target = (1600000000L + 7L * 3600L) * 1000000L
      DecodeJob.decodeColumnsWhere(s, root, Seq("url", "warc_ts"),
        Seq(DecodeJob.StrEq("lang", "en"), DecodeJob.TsRange(target, target)))
    }),

    // predicate-pushed decoded view: decodeWhere prunes block groups whose
    // block_min/block_max (warc_ts) or block_str_dict (lang) metadata excludes
    // the predicates, BEFORE any decompression; the in-query require proves real
    // pruning, the oracle proves the rows are exactly decode+filter
    "q_prune_decoded" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      val target = (1600000000L + 7L * 3600L) * 1000000L // doc_id div 50 == 7, micros
      val preds = Seq(DecodeJob.TsRange(target, target), DecodeJob.StrEq("lang", "en"))
      val total = DecodeJob.blocks(s, root).where(col("column") === "warc_ts").count()
      val matched = DecodeJob.matchingGroupKeys(s, root, preds).count()
      require(matched < total, s"metadata must prune block groups: $matched of $total")
      DecodeJob.decodeWhere(s, root, preds).toDF().select(col("url"), col("lang"))
    }),

    // DataSource V2 surface: the SAME predicate-pushed decoded view through plain
    // SQL over a registered `graft` table — LIKE 'prefix%' becomes a pushed
    // StringStartsWith, mapped onto block_str_min/max group pruning; lang = 'en'
    // becomes a StrEq over the lang dict metadata. The in-query require proves
    // groups were actually pruned during planning; exactness comes from the
    // scan evaluating both filters on each surviving group's decoded rows.
    "q_dsv2_pushdown" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      s.read.format("graft").load(root).createOrReplaceTempView("graft_store_v2")
      val df = s.sql("SELECT url, lang FROM graft_store_v2 " +
        "WHERE url LIKE 'doc://000001%' AND lang = 'en'")
      // force ONE planning pass so the pruning decision is observable: building
      // the scan's input-partition list records plan stats without running any
      // job — the previous `df.count()` EXECUTED the whole scan (decode
      // included) once here and then again for the returned rows (guide §1.4:
      // count() is not a free observation)
      df.queryExecution.toRdd.getNumPartitions
      val stats = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .getOrElse(sys.error("V2 scan did not record plan stats"))
      val total = urlBlockTotal(s, root)
      require(stats.predicates >= 2 && stats.prunedGroupKeys.exists(k => k > 0 && k < total),
        s"V2 pushdown must prune block groups: $stats of $total groups")
      df
    }),

    // the V2 row reader, driver-oracled: the scan claims the url prefix
    // (ExactFilters), so no Filter node evaluates it above the scan; the
    // prefix bounds the read to 100 rows at any sf
    "q_dsv2_columnar" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      val df = s.read.format("graft").load(root)
        .where(col("url").startsWith("doc://000001"))
        .select(col("url"), unix_seconds(col("warc_ts")).as("ts_s"), col("lang"))
      val plan = df.queryExecution.executedPlan
      val claimed = "ExactFilters: \\[(.*?)\\]".r.findFirstMatchIn(plan.toString).map(_.group(1))
      require(claimed.exists(_.contains("startswith(url, 'doc://000001')")) &&
        plan.collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
        s"the scan must claim the url prefix, leaving no Filter above it:\n$plan")
      df
    }),

    // url-prefix block pruning on the decoded-view API (the most common
    // web-archive access pattern): block_str_min/max overlap with
    // [prefix, successor(prefix)) prunes groups before any decompression
    "q_prune_url_prefix" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      val preds = Seq(DecodeJob.StrPrefix("url", "doc://000001"))
      val total = DecodeJob.blocks(s, root).where(col("column") === "url").count()
      val matched = DecodeJob.matchingGroupKeys(s, root, preds).count()
      require(matched > 0 && matched < total,
        s"url prefix must prune block groups: $matched of $total")
      DecodeJob.decodeWhere(s, root, preds).toDF().select(col("url"), col("lang"))
    }),

    // the SAME metadata-only aggregates through plain SQL over the V2 table:
    // complete aggregate pushdown (SupportsPushDownAggregates) — no decode, no
    // aggregation exec, one metadata row; the in-query require proves the push
    "q_dsv2_agg" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      s.read.format("graft").load(root).createOrReplaceTempView("graft_agg_store")
      val df = s.sql("SELECT count(*) AS row_count, " +
        "unix_micros(min(warc_ts)) AS min_warc_ts_us, " +
        "unix_micros(max(warc_ts)) AS max_warc_ts_us FROM graft_agg_store")
      require(df.queryExecution.executedPlan.toString.contains("PushedAggregates"),
        s"aggregates must push to the graft scan:\n${df.queryExecution.executedPlan}")
      df
    }),

    // GENERALIZED ungrouped aggregate pushdown (r6): count(col)/min/max over
    // ANY metadata-bounded column — string bounds are exact full values, so
    // min/max(url)/min/max(lang) answer from block metadata with zero decode
    // (plan-proven complete: no aggregate exec survives)
    "q_dsv2_agg_any" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      s.read.format("graft").load(root).createOrReplaceTempView("graft_aggany_store")
      val df = s.sql("SELECT count(lang) AS cl, min(url) AS mnu, max(url) AS mxu, " +
        "min(lang) AS mnl, max(lang) AS mxl FROM graft_aggany_store")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregates") && plan.contains("(metadata-only)"),
        s"generalized aggregates must push completely:\n$plan")
      require(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"complete pushdown must leave no aggregate exec:\n$plan")
      df
    }),

    // GROUPED aggregate pushdown: `SELECT lang, count(*) GROUP BY lang` is
    // answered from per-block dict metadata (block_str_dict + the r6
    // occurrence counts) — zero decode; the require proves the COMPLETE push
    // (no aggregate exec survives) and that no encoded bytes are read
    "q_dsv2_agg_group" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      s.read.format("graft").load(root).createOrReplaceTempView("graft_gagg_store")
      val df = s.sql("SELECT lang, count(*) AS cnt, count(lang) AS cnt_lang " +
        "FROM graft_gagg_store GROUP BY lang")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregates") && plan.contains("group by lang") &&
        plan.contains("(metadata-only)"),
        s"grouped aggregate must push completely to the graft scan:\n$plan")
      require(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"complete pushdown must leave no aggregate exec:\n$plan")
      df
    }),

    // FILTERED grouped aggregate from dict metadata: the V2 contract cannot
    // push an aggregate past a residual filter (`<>`, LIKE), so GroupedAggMetadataRule
    // answers `GROUP BY lang WHERE <cond on lang>` at plan level — the whole
    // subtree becomes a LocalTableScan (zero store IO, plan-proven in-query),
    // with the condition evaluated exactly per dict value
    "q_dsv2_agg_group_filtered" -> ((s, d) => {
      withPruneRule(s)
      val root = encodedDocsStore(s, d)
      s.read.format("graft").load(root).createOrReplaceTempView("graft_gaggf_store")
      val df = s.sql("SELECT lang, count(*) AS cnt FROM graft_gaggf_store " +
        "WHERE lang <> 'de' AND lang LIKE '__' GROUP BY lang")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") && !plan.contains("GraftStore"),
        s"filtered grouped aggregate must answer from metadata, not a scan:\n$plan")
      df
    }),

    // streaming READ of the store: readStream.format("graft") replays the
    // committed snapshot sequence as micro-batches (offset = snapshot id);
    // the union of the drained batches must equal the full decoded table
    "q_stream_v2_read" -> ((s, d) => {
      import s.implicits._
      val tmp = Files.createTempDirectory("graft-sread-").toString
      val root = s"$tmp/store"; val ckpt = s"$tmp/ckpt"
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root,
        parts = 4, waves = 2)
      require(SnapshotStore.snapshotIds(root).size == 2, "two committed snapshots")
      val got = scala.collection.mutable.HashSet.empty[String]
      val q = s.readStream.format("graft").load(root).select(col("url"))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val urls = b.collect().map(_.getString(0))
          got.synchronized { got ++= urls }
          ()
        }.start()
      // stop() in finally: a timeout leaves the AvailableNow query RUNNING —
      // a zombie stream would keep consuming cores under every later timed
      // query in the same bench session
      try require(q.awaitTermination(120000), "stream drain timed out")
      finally if (q.isActive) q.stop()
      got.toSeq.toDF("url")
    }),

    // SQL WRITE path: pages written through the distributed V2 BatchWrite
    // (range-distributed on url, per-task encode kernels writing their own
    // block files, staged atomic manifest commit) — then read back through
    // BOTH the V2 scan and the job API; the in-query require proves the two
    // reads agree row-for-row, the oracle proves content against the source
    "q_dsv2_write" -> ((s, d) => {
      val root = Files.createTempDirectory("graft-v2w-").toString
      docsAsPages(s, d).write.format("graft").mode("append").save(root)
      val viaV2 = s.read.format("graft").load(root)
        .select(col("url"), md5(col("text")).as("h"))
      val viaJob = DecodeJob.decode(s, root).toDF()
        .select(col("url"), md5(col("text")).as("h"))
      require(viaV2.exceptAll(viaJob).isEmpty && viaJob.exceptAll(viaV2).isEmpty,
        "V2 scan and DecodeJob must agree on the SQL-written store")
      viaV2
    }),

    // native streaming WRITE sink: writeStream.format("graft") — one atomic
    // manifest commit per epoch through the same per-task encode kernels,
    // exactly-once via the pinned epochId*parts namespace; oracle = the full
    // source table decoded back
    "q_stream_v2_write" -> ((s, d) => {
      val tmp = Files.createTempDirectory("graft-swrite-").toString
      val src = s"$tmp/src"; val root = s"$tmp/store"; val ckpt = s"$tmp/ckpt"
      docsAsPages(s, d).write.parquet(src)
      val q = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(root)
      try require(q.awaitTermination(120000), "stream write timed out")
      finally if (q.isActive) q.stop()
      require(SnapshotStore.currentSnapshotId(root).exists(_ >= 1L), "committed")
      DecodeJob.decode(s, root).toDF().select(col("url"), md5(col("text")).as("h"))
    }),

    // copy-on-write SQL DELETE: DELETE FROM rewrites only the parts whose
    // block metadata admits the condition (survivors re-encoded through the
    // standard staged pipeline, replacing commit, rehomed-marked for streams,
    // time travel intact); the oracle is the anti-filtered source table
    "q_dsv2_delete" -> ((s, d) => {
      val root = Files.createTempDirectory("graft-del-").toString
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root, parts = 4)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_delete_q USING graft " +
        s"OPTIONS (path '$root')")
      val before = SnapshotStore.snapshotIds(root)
      s.sql("DELETE FROM graft_delete_q WHERE lang = 'en'")
      require(SnapshotStore.isRehomedCommit(root, SnapshotStore.snapshotIds(root).last),
        "delete must commit rows-rehomed (streams must not replay survivors)")
      require(DecodeJob.decodeAt(s, root, before.last).count() >
        DecodeJob.decode(s, root).count(), "pre-delete snapshot stays whole")
      s.sql("SELECT url, lang FROM graft_delete_q")
    }),

    // SQL stored procedures (CALL surface): compaction runs from pure SQL and
    // preserves content exactly; snapshots() exposes the committed history
    // (the id a time-travel read needs), lineage() the per-part codec metrics
    "q_call_compact" -> ((s, d) => {
      val root = Files.createTempDirectory("graft-call-").toString
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root, parts = 8)
      s.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      val r = s.sql(s"CALL graftcat.system.compact('$root')").collect().head
      require(r.getInt(1) == 8, s"all 8 fragmented parts compact via CALL, got ${r.getInt(1)}")
      val hist = s.sql(s"CALL graftcat.system.snapshots('$root')").collect()
      require(hist.length == 2 && hist.last.getString(1) == "rows-rehomed",
        "history = append + rehomed compaction")
      require(s.sql(s"CALL graftcat.system.lineage('$root')").count() == r.getInt(2).toLong,
        "lineage rows == compacted part count")
      s.read.format("graft").load(root).select(col("url"), col("lang"))
    }),

    // GENERALIZED store schema (r6): CREATE TABLE with a non-webtext shape,
    // INSERT, SELECT back — the codec family keyed off the persisted SCHEMA
    // sidecar (string sort key range layout, int columns through the
    // width-matched physical codecs, timestamps as micros). The in-query
    // require proves prefix pruning works on the new schema's own sort key.
    "q_generic_roundtrip" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      val root = Files.createTempDirectory("graft-generic-").toString + "/t"
      t(s, d, "events").selectExpr(
        "concat('host-', lpad(cast(user_id % 50 as string), 4, '0'), '.example/e', " +
          "cast(event_id as string)) AS host",
        "event_id AS id",
        "cast(event_id % 1000 as int) AS score",
        "ts AS fetched").createOrReplaceTempView("generic_oracle_src")
      s.sql(s"CREATE TABLE graftcat.`$root` " +
        "(host string, id bigint, score int, fetched timestamp) USING graft")
      s.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_oracle_src")
      // prefix-pruning proof on the generic sort key (host = first string col)
      val total = DecodeJob.blocks(s, root).where(col("column") === "host").count()
      s.sql(s"SELECT id FROM graftcat.`$root` " +
        "WHERE host LIKE 'host-0003.example/%'").collect()
      val stats = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .getOrElse(sys.error("generic scan did not record plan stats"))
      require(stats.predicates >= 1 &&
        stats.prunedGroupKeys.exists(k => k > 0 && k < total),
        s"host prefix must prune the generic store's groups ($total total): $stats")
      s.sql(s"SELECT host, id, score, unix_micros(fetched) AS fetched_us " +
        s"FROM graftcat.`$root`")
    }),

    // sum/min/max/count pushdown over a GENERIC store's int columns — the
    // exact per-block sums (block_sum, written at encode) answer
    // `SELECT sum(score), sum(id), ...` with zero decode (plan-proven
    // complete: metadata-only scan, no aggregate exec)
    "q_generic_agg_sum" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      val root = Files.createTempDirectory("graft-generic-agg-").toString + "/t"
      t(s, d, "events").selectExpr(
        "concat('host-', lpad(cast(user_id % 50 as string), 4, '0'), '.example/e', " +
          "cast(event_id as string)) AS host",
        "event_id AS id",
        "cast(event_id % 1000 as int) AS score",
        "ts AS fetched").createOrReplaceTempView("generic_agg_oracle_src")
      s.sql(s"CREATE TABLE graftcat.`$root` " +
        "(host string, id bigint, score int, fetched timestamp) USING graft")
      s.sql(s"INSERT INTO graftcat.`$root` SELECT * FROM generic_agg_oracle_src")
      val df = s.sql("SELECT sum(score) AS ss, sum(id) AS si, count(score) AS cs, " +
        s"min(score) AS mns, max(id) AS mxi FROM graftcat.`$root`")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregates") && plan.contains("(metadata-only)"),
        s"generic sums must push completely:\n$plan")
      require(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"complete pushdown must leave no aggregate exec:\n$plan")
      df
    }),

    // SQL UPDATE (catalog-resolved row-level DML): group-based copy-on-write
    // ReplaceData — the pushed url bound prunes which parts get rewritten
    // (block metadata), survivors re-encode through the staged pipeline, the
    // commit atomically replaces exactly the scanned parts; time travel works
    // across the statement like across a compaction
    "q_dsv2_update" -> ((s, d) => {
      import s.implicits._
      val root = Files.createTempDirectory("graft-upd-").toString
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root, parts = 4)
      s.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      val maxId = t(s, d, "documents").agg(max(col("doc_id")).cast("long")).as[Long].head()
      val cut = f"doc://${maxId / 5}%08d"
      val allParts = SnapshotStore.currentEntries(root).map(_.partId).toSet
      val pre = SnapshotStore.currentSnapshotId(root).get
      s.sql(s"UPDATE graftcat.`$root` SET lang = 'xx' WHERE url <= '$cut'")
      val replaced = SnapshotStore.currentTombstones(root)
      require(replaced.nonEmpty && replaced.size < allParts.size,
        s"UPDATE of a url prefix must rewrite a strict subset of parts, " +
          s"got ${replaced.size}/${allParts.size}")
      require(DecodeJob.decodeAt(s, root, pre).count() == DecodeJob.decode(s, root).count(),
        "pre-update snapshot stays whole (time travel across DML)")
      s.read.format("graft").load(root).select(col("url"), col("lang"))
    }),

    // SQL MERGE INTO: matched target rows update, unmatched source rows
    // insert, both through ONE copy-on-write statement; the runtime group
    // filter (a `_part_id` subquery over the matching join) decides which
    // parts get rewritten — the ON condition itself has no static pushdown
    "q_dsv2_merge" -> ((s, d) => {
      val root = Files.createTempDirectory("graft-mrg-").toString
      EncodeJob.run(s, docsAsPages(s, d).as(Encoders.product[WebPage]), root, parts = 4)
      s.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      val matched = t(s, d, "documents").where(pmod(col("doc_id"), lit(10)) === 3)
        .select(concat(lit("doc://"), lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
          lit("mg").as("slang"))
      val fresh = s.range(20).select(
        concat(lit("zzz://new/"), lpad(col("id").cast("string"), 4, "0")).as("url"),
        lit("nw").as("slang"))
      matched.unionByName(fresh).createOrReplaceTempView("graft_merge_src")
      val pre = SnapshotStore.currentSnapshotId(root).get
      s.sql(
        s"""MERGE INTO graftcat.`$root` t USING graft_merge_src s ON t.url = s.url
           |WHEN MATCHED THEN UPDATE SET lang = s.slang
           |WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
           |  VALUES (s.url, timestamp'2020-01-01 00:00:00', cast(s.url as binary), s.url, s.slang)
           |""".stripMargin)
      require(DecodeJob.decodeAt(s, root, pre).count() + 20 ==
        DecodeJob.decode(s, root).count(), "merge adds exactly the 20 inserts")
      require(!SnapshotStore.isRehomedCommit(root, SnapshotStore.currentSnapshotId(root).get),
        "merge commits stream (content changed; not a rehomed commit)")
      s.read.format("graft").load(root).select(col("url"), col("lang"))
    }),

    // LIMIT pushdown on the V2 surface: the scan carries the pushed limit and
    // each task stops pulling/decoding block groups once it has produced n
    // rows; the oracle compares the COUNT (which rows a LIMIT picks is
    // nondeterministic on both engines, the count is not)
    "q_limit_pushdown" -> ((s, d) => {
      import s.implicits._
      val root = encodedDocsStore(s, d)
      val df = s.read.format("graft").load(root).limit(123)
      val n = df.count()
      val stats = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .getOrElse(sys.error("V2 scan did not record plan stats"))
      require(stats.pushedLimit.contains(123),
        s"limit must push down to the graft scan: $stats")
      Seq(n).toDF("cnt")
    }),

    // ORDER BY url LIMIT n: top-n pushdown plans a url-ordered PREFIX of block
    // groups (block_str bounds + exact per-block null counts) — the scan reads
    // ~n rows instead of the store; the in-query require proves both the
    // pushdown and the group pruning happened
    "q_topn_url" -> ((s, d) => {
      import s.implicits._
      val root = encodedDocsStore(s, d)
      val rows = s.read.format("graft").load(root)
        .orderBy(col("url")).limit(40).select(col("url"), col("lang"))
        .as[(String, String)].collect().toSeq
      val stats = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .getOrElse(sys.error("V2 scan did not record plan stats"))
      require(stats.pushedTopN.exists(t => t.asc && t.nullsFirst && t.limit == 40),
        s"ORDER BY url LIMIT 40 must push top-n down to the graft scan: $stats")
      require(stats.prunedGroupKeys.isDefined,
        s"top-n planning must prune to a url-prefix of groups: $stats")
      rows.toDF("url", "lang")
    }),

    // ORDER BY warc_ts LIMIT n: top-n pushdown on the OTHER metadata-indexed
    // column — exact int block_min/max bounds plan a ts-ordered prefix of
    // groups (docsAsPages stamps ts monotone in url, the time-partitioned-
    // crawl shape where this pays). Planted NULL ts rows prove null-exactness
    // under both orderings; requires prove pushdown AND pruning in-query.
    "q_topn_ts" -> ((s, d) => {
      import s.implicits._
      val root = synchronized(storeCache.getOrElseUpdate(d + "#topn_ts", {
        val r = Files.createTempDirectory("graft-topn-ts-store-").toString
        // nulls planted in the FIRST url range only: scattered nulls would
        // (correctly) force every null-holding group to survive a NULLS FIRST
        // plan — confining them keeps the oracle ALSO a pruning proof
        val pages = t(s, d, "documents").select(
          concat(lit("doc://"), lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
          when(col("doc_id") < 40, lit(null).cast("timestamp"))
            .otherwise(timestamp_seconds(lit(1600000000L) + expr("doc_id div 50") * 3600L))
            .as("warc_ts"),
          col("text").cast("binary").as("html"), col("text"), col("lang"))
        EncodeJob.run(s, pages.as(Encoders.product[WebPage]), r, parts = 4)
        r
      }))
      val v2 = s.read.format("graft").load(root)
      def stats() = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .getOrElse(sys.error("V2 scan did not record plan stats"))
      // asc = NULLS FIRST (Spark default): the planted nulls are in the top-n
      val ascRows = v2.orderBy(col("warc_ts")).limit(120)
        .select(unix_micros(col("warc_ts")).as("ts_us")).collect()
      val sa = stats()
      require(sa.pushedTopN.exists(t => t.column == "warc_ts" && t.asc && t.nullsFirst),
        s"ORDER BY warc_ts LIMIT 120 must push top-n to the graft scan: $sa")
      require(sa.prunedGroupKeys.isDefined,
        s"ts top-n planning must prune to a ts-prefix of groups: $sa")
      require(ascRows.exists(_.isNullAt(0)), "planted null ts must sort into the asc top-n")
      // desc = NULLS LAST (Spark default): pure non-null suffix
      val descRows = v2.orderBy(col("warc_ts").desc).limit(120)
        .select(unix_micros(col("warc_ts")).as("ts_us")).collect()
      val sd = stats()
      require(sd.pushedTopN.exists(t => t.column == "warc_ts" && !t.asc && !t.nullsFirst),
        s"DESC must push too: $sd")
      require(sd.prunedGroupKeys.isDefined, s"DESC must prune too: $sd")
      (ascRows.map(r => (if (r.isNullAt(0)) null else r.get(0)).asInstanceOf[java.lang.Long] -> "asc") ++
        descRows.map(r => (if (r.isNullAt(0)) null else r.get(0)).asInstanceOf[java.lang.Long] -> "desc"))
        .toSeq.toDF("ts_us", "dir")
    }),

    // FILTERED streaming read: the pushed predicate prunes each micro-batch's
    // delta groups (StreamFilterPushRule -> planPrunedKeys over the batch's
    // entries) — Spark itself performs NO pushdown when building stream scans,
    // so the require proves the engine-side path actually engaged
    "q_stream_v2_filtered" -> ((s, d) => {
      import s.implicits._
      withPruneRule(s)
      val root = encodedDocsStore(s, d)
      val ckpt = Files.createTempDirectory("graft-sfilt-ckpt-").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val q = s.readStream.format("graft").load(root)
        .where(col("url").startsWith("doc://000001"))
        .select(col("url"), col("lang"))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getString(0), r.getString(1)))
          got.synchronized { got ++= rows }
          ()
        }.start()
      try require(q.awaitTermination(120000), "filtered stream drain timed out")
      finally if (q.isActive) q.stop()
      val stats = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .getOrElse(sys.error("stream planning did not record plan stats"))
      require(stats.predicates >= 1,
        s"pushed predicate must reach the stream's batch planning: $stats")
      require(stats.prunedGroupKeys.exists(_ > 0),
        s"the stream batch must prune delta groups via block metadata: $stats")
      got.toSeq.toDF("url", "lang")
    }),

    // metadata-only aggregates: count(*) from manifest nRows, min/max(warc_ts)
    // from block min/max — the in-query require proves the plan never reads the
    // `encoded` column (zero decompression)
    "q_agg_pushdown" -> ((s, d) => {
      val root = encodedDocsStore(s, d)
      val df = DecodeJob.statsFast(s, root)
      val plan = df.queryExecution.executedPlan.toString
      val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
      require(readSchemas.nonEmpty && readSchemas.forall(!_.contains("encoded")),
        s"statsFast must answer from metadata only:\n$plan")
      df
    }),

    // ---------------- streaming: exactly-once encode with restart ----------------
    "q_stream_encode" -> ((s, d) => {
      import s.implicits._
      val tmp = Files.createTempDirectory("graft-stream-").toString
      val src = s"$tmp/src"; val store = s"$tmp/store"; val ckpt = s"$tmp/ckpt"
      val pages = docsAsPages(s, d)
      pages.write.mode("overwrite").parquet(src)
      StreamingEncode.encodeStream(
        s.readStream.schema(pages.schema).parquet(src), store, parts = 4, ckpt)
        .awaitTermination()
      // restart on the same checkpoint: nothing new to process; a replayed batch
      // would be dropped by the sink's epoch commit (exactly-once commits)
      StreamingEncode.encodeStream(
        s.readStream.schema(pages.schema).parquet(src), store, parts = 4, ckpt)
        .awaitTermination()
      val n = SnapshotStore.currentEntries(store).map(_.nRows).sum
      Seq(n).toDF("n")
    }),

    // ---------------- multimodal: video frame-sampling fan-out ----------------
    "q_frames" -> ((s, d) => {
      val media = t(s, d, "documents").select(
        struct(col("doc_id").cast("long").as("mediaId"), lit("video").as("kind"),
          lit("video/mp4").as("mimeType"), lit(640).as("width"), lit(480).as("height"),
          (lit(1000L) + pmod(col("doc_id"), lit(37)) * lit(211L)).as("durationMs")).as("meta"),
        col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(media, everyMs = 250)
        .select(col("media_id"), col("frame_ts_ms"))
    }),

    // REAL image decode (JDK javax.imageio, no external deps): deterministic
    // solid-color PNGs are encoded in-query per doc_id, then the distributed
    // decode kernel recovers format/geometry/channel means — the oracle knows
    // them in closed form (PNG is lossless)
    "q_image_meta" -> ((s, d) => {
      import s.implicits._
      val imgs = t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 8 + (id % 16).toInt
          val h = 4 + (id % 8).toInt
          (id, Multimodal.syntheticPng(w, h,
            ((id * 37) % 256).toInt, ((id * 59) % 256).toInt, ((id * 83) % 256).toInt))
        }).toDF("media_id", "payload")
      Multimodal.imageMeta(imgs, "media_id", "payload").toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    // REAL audio decode (JDK javax.sound.sampled): deterministic 16-bit PCM
    // WAVs generated in-query per doc_id; the distributed kernel recovers
    // rate/channels/frames/duration and the EXACT peak amplitude — all known
    // in closed form (lossless PCM)
    "q_audio_meta" -> ((s, d) => {
      import s.implicits._
      val wavs = t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val frames = 1000 + (id % 500).toInt
          val amp = 1 + ((id * 31) % 32000).toInt
          (id, Multimodal.syntheticWav(frames, 8000, amp))
        }).toDF("media_id", "payload")
      Multimodal.audioMeta(wavs, "media_id", "payload").toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("frames"), col("duration_ms"), col("peak"))
    }),

    // ---------------- aggregations / stats ----------------
    "q1_agg" -> ((s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))),

    "q_stats_profile" -> ((s, d) => t(s, d, "lineitem").agg(
      count(lit(1)).as("n"),
      min(col("l_partkey")).as("mn"),
      max(col("l_partkey")).as("mx"),
      countDistinct(col("l_partkey")).as("card"))),

    "q_rollup" -> ((s, d) => t(s, d, "documents")
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"))),

    // explicit grouping sets (finer than rollup/cube)
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_gs")
      s.sql("SELECT lang, source, count(*) AS cnt FROM docs_gs " +
        "GROUP BY GROUPING SETS ((lang), (source), ())")
    }),

    // correlated scalar subquery (planned as an aggregated left outer join)
    "q_scalar_subquery" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_sq")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_sq")
      s.sql("SELECT o_orderkey, (SELECT max(l_linenumber) FROM lineitem_sq " +
        "WHERE l_orderkey = o_orderkey) AS max_ln FROM orders_sq")
    }),

    // pivot with a fixed value list (static output schema)
    "q_pivot" -> ((s, d) => t(s, d, "documents")
      .groupBy(col("lang"))
      .pivot("source", Seq("src0", "src1", "src2", "src3"))
      .agg(count(lit(1)))),

    // salted two-phase aggregation (skew-safe heavy-hitter detection)
    "q_salted_topk_users" -> ((s, d) => {
      val e = t(s, d, "events")
      e.groupBy(col("user_id"), pmod(xxhash64(col("event_id")), lit(16)).as("salt"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id")).agg(sum(col("c")).as("cnt"))
        .orderBy(desc("cnt"), col("user_id"))
        .limit(10)
    }),

    // ---------------- joins ----------------
    "q_join_broadcast" -> ((s, d) => t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))),

    "q_join3" -> ((s, d) => t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("cnt"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))),

    // resume anti-join: pending = all work units minus committed
    "q_antijoin_resume" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val committed = orders.where(pmod(col("o_orderkey"), lit(10)) < 3)
        .select(col("o_orderkey"))
      orders.join(committed, Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"))
    }),

    "q_semijoin_exists" -> ((s, d) => t(s, d, "customer")
      .join(t(s, d, "orders").where(year(col("o_orderdate")) === 1995),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))),

    // ---------------- windows ----------------
    "q_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("event_id"), col("rn"))
    }),

    "q_window_gap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("gap_us", unix_micros(col("ts").cast("timestamp")) - lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .select(col("event_id"), col("gap_us"))
    }),

    // explicit ROWS window frame (deterministic: total order via (ts, event_id))
    "q_window_frame" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, 0)
      t(s, d, "events")
        .withColumn("fsum", sum(length(col("event_type"))).over(w))
        .select(col("event_id"), col("fsum"))
    }),

    // lateral explode: per-word counts over the corpus, deterministic top-20
    "q_words_top" -> ((s, d) => t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("w"))
      .limit(20)),

    // batch time-window aggregation (streaming-shaped plan)
    "q_time_window" -> ((s, d) => t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))),

    // ---------------- set ops ----------------
    "q_setops_exceptall" -> ((s, d) => {
      val e = t(s, d, "events")
      e.where(col("event_type") === "click").select(col("user_id"))
        .exceptAll(e.where(col("event_type") === "purchase").select(col("user_id")))
    }),

    "q_setops_union" -> ((s, d) => {
      val e = t(s, d, "events")
      e.where(col("event_type") === "click").select(col("user_id"))
        .union(e.where(col("event_type") === "view").select(col("user_id")))
    }),

    // ---------------- sorts / top-k ----------------
    "q_topk_price" -> ((s, d) => t(s, d, "lineitem")
      .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .limit(25)),

    // ---------------- scalar functions ----------------
    "q_scalar_funcs" -> ((s, d) => t(s, d, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("sp"))),

    "q_scalar_math" -> ((s, d) => t(s, d, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("ub"),
      length(col("p_name")).as("ln"),
      substring(col("p_type"), 1, 5).as("st"),
      floor(col("p_retailprice")).cast("long").as("fl"),
      ceil(col("p_retailprice")).cast("long").as("cl"),
      pmod(col("p_partkey"), lit(7)).as("md"))),

    "q_zigzag" -> ((s, d) => t(s, d, "lineitem").select(
      col("l_orderkey"),
      GraftFunctions.zigzag_encode(col("l_orderkey") - 3000).as("zz"),
      GraftFunctions.zigzag_decode(GraftFunctions.zigzag_encode(col("l_orderkey") - 3000)).as("rt"))),

    "q_stats_udaf" -> ((s, d) => t(s, d, "lineitem")
      .agg(graft.functions.StatsAggregator.graft_stats(col("l_partkey")).as("st"))
      .select(col("st.n").as("n"), col("st.mn").as("mn"),
        col("st.mx").as("mx"), col("st.maxbw").as("maxbw"))),

    "q_cube" -> ((s, d) => t(s, d, "events")
      .select(col("event_type"), year(col("ts").cast("timestamp")).as("y"))
      .cube(col("event_type"), col("y"))
      .agg(count(lit(1)).as("cnt"))),

    "q_setops_intersect" -> ((s, d) => {
      val e = t(s, d, "events")
      e.where(col("event_type") === "click").select(col("user_id"))
        .intersectAll(e.where(col("event_type") === "view").select(col("user_id")))
    }),

    "q_json" -> ((s, d) => t(s, d, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))),

    "q_array_funcs" -> ((s, d) => t(s, d, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      aggregate(transform(col("embedding"), x => x.cast("double")), lit(0.0d),
        (a, x) => a + x).as("vsum"))),

    // ---------------- dedup / text analysis (documents) ----------------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), "doc_id", "text")),

    "q_fingerprint_dedup" -> ((s, d) => t(s, d, "documents")
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))),

    "q_token_count" -> ((s, d) => t(s, d, "documents").select(
      col("doc_id"), TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.pieceCount(col("text")).as("pc"))),

    // deterministic stratified sampling (training-data quota step): keep/drop
    // is md5(doc_id)-keyed per language rate — a pure codegen'd filter, zero
    // shuffles, and the DuckDB oracle evaluates the IDENTICAL expression, so
    // the sample is bit-reproducible across engines and cluster sizes
    "q_sample_stratified" -> ((s, d) =>
      graft.operators.Sampling.stratifiedSample(t(s, d, "documents"),
        keyCol = "doc_id", strataCol = "lang",
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))),

    "q_quality" -> ((s, d) => t(s, d, "documents").select(
      col("doc_id"),
      TextAnalysis.punctRatio(col("text")).as("pr"),
      TextAnalysis.meanWordLen(col("text")).as("mwl"),
      TextAnalysis.stopwordRatio(col("text")).as("swr"),
      TextAnalysis.qualityScore(col("text")).as("qs"))),

    "q_langid" -> ((s, d) => t(s, d, "documents").select(
      col("doc_id"), TextAnalysis.langIdHeuristic(col("text")).as("lang_guess"))),

    // FULL-SEMANTICS near-dup mining: MinHash-LSH candidates (threshold 0 = every
    // banded collision) + EXACT n-gram-jaccard verify, so the result equals the
    // brute-force all-pairs jaccard >= 0.6 the oracle computes. The corpus =
    // documents ∪ ' tail'-perturbed copies; the data's own near-dup clusters
    // (min true-pair j = 0.75, max non-pair j = 0.07 — wide margin) are found too.
    "q_minhash_pairs" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text")))
      // est threshold 0.3 only discards random band collisions: a true pair has
      // exact j >= 0.75 here, and P(est < 0.3 | j = 0.75, 64 hashes) ~ 1e-15.
      // (r7: measured — dropping this pre-filter pushes every j~0.07 band
      // collision into the exact shingle verify and is a NET LOSS; it stays.)
      // maxBucket unbounded: this corpus needs no mega-cluster guard, and skipping
      // it saves the bucket-size aggregate + join
      val cand = Dedup.minhashPairs(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, shingleSize = 3, threshold = 0.3,
        maxBucket = Int.MaxValue)
      // shingle SETS via the one-pass kernel, computed once per doc and CACHED:
      // the cache is ALSO what lets the two verify joins below share ONE
      // broadcast — the cached scan canonicalizes identically under both
      // exchanges (AQE stage reuse), while the raw kernel plan holds two
      // distinct lambda instances and never matches (r7: verified in the
      // executed plan — a ReusedExchange per aliased pair)
      val sh = corpus.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, tx) =>
          (id, Dedup.distinctShingles(if (tx == null) "" else tx, 3))
        })
        .toDF("doc_id", "s")
        .cache()
      // mining convention (matches the oracle): two zero-shingle docs are NOT
      // near-dups (0/greatest(union,1) = 0), unlike ngramJaccard's 1.0 identity.
      // r7: both shingle attachments join the cached table through a plan alias
      // (not a renamed projection) so exchange reuse serves both joins from ONE
      // broadcast of the (heavy, string-array) shingle table instead of two.
      val union = size(array_union(col("sa.s"), col("sb.s")))
      val j = size(array_intersect(col("sa.s"), col("sb.s"))).cast("double") /
        greatest(union, lit(1)).cast("double")
      cand.join(sh.as("sa"), col("a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("b") === col("sb.doc_id"))
        .where(j >= 0.6)
        .select(col("a"), col("b"))
    }),

    // simhash hamming is not SQL-expressible, so this checks exact RECALL on the
    // planted relation: exact duplicates (hamming 0, always banded together) with
    // known ids; genuine corpus near-dups (b - a != 1M) are filtered out
    "q_simhash_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dup = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.simhashPairs(docs.union(dup), "doc_id", "text", maxHamming = 3)
        .where(col("b") - col("a") === 1000000L)
        .select(col("a"), col("b"))
    }),

    "q_ngram_jaccard" -> ((s, d) => t(s, d, "documents").select(col("doc_id"),
      Dedup.ngramJaccard(col("text"), concat(col("text"), lit(" tail")), 3).as("j"))),

    // pair mining → per-document keep/drop: connected components over the
    // mined simhash planted relation (restricted to it so the oracle stays
    // enumerable, like q_simhash_pairs) PLUS doc_id-chain edges within each
    // group of 5 — chains force genuine multi-round label propagation (the
    // planted pair alone is a 2-clique). Component = {5k..5k+4} ∪ their +1M
    // duplicates, so cluster_id/canonical are closed-form for the oracle.
    "q_cc_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val dup = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val mined = Dedup.simhashPairs(docs.union(dup), "doc_id", "text", maxHamming = 3)
        .where(col("b") - col("a") === 1000000L)
        .select(col("a"), col("b"))
      // join-built chains: both endpoints guaranteed to EXIST as documents
      // (an arithmetic d+1 edge at the table's tail would mint a phantom vertex)
      val ids = docs.select(col("doc_id"))
      val chains = ids.where(col("doc_id") % 5 =!= 4).select(col("doc_id").as("a"))
        .join(ids.select(col("doc_id").as("b")), col("b") === col("a") + 1L)
      Dedup.connectedComponents(mined.union(chains), "a", "b",
        docs.select("doc_id").union(dup.select("doc_id")), "doc_id")
    }),

    // ---------------- similarity search (embeddings) ----------------
    "q_knn_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        knnQueryVec, 10).select(col("vec_id"))),

    // planted global top-k: 10 scaled copies of the query (cosine == 1) are the
    // exact answer; the probe reads only (table, bucket) partitions of the
    // persisted MULTI-TABLE LSH index. planes ~ log2(n / desired_bucket_rows):
    // 8 here (256 buckets/table) for the test scale; at 10^12 rows the same
    // index uses ~24 planes and more tables (recall math in Similarity.buildIndex)
    "q_knn_ann" -> ((s, d) => {
      val planted = s.range(10).select(
        (col("id") + 2000000L).as("vec_id"),
        transform(typedLit(knnQueryVec),
          x => x * (lit(1.0f) + col("id").cast("float") / lit(1000.0f))).as("embedding"))
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = Files.createTempDirectory("graft-ann-idx-").toString
      Similarity.buildIndex(base.union(planted), "vec_id", "embedding", planes = 8, idx,
        tables = 2)
      Similarity.annTopK(s, idx, "vec_id", "embedding", knnQueryVec, 10, planes = 8,
        tables = 2)
        .select(col("vec_id"))
    }),

    // BATCHED ANN probes: a DataFrame of queries probes the persisted
    // multi-table LSH index in one distributed plan (kernel-side probe
    // buckets -> join on (table, bucket) -> per-query exact rerank). Each
    // query's planted scaled twins (cosine exactly 1.0, identical sign
    // buckets) must come back as its top-10, and the in-query require proves
    // batch rows identical to the per-query annTopK
    "q_knn_batch" -> ((s, d) => {
      import s.implicits._
      def qvec(qi: Int): Array[Double] =
        Array.tabulate(64)(j => (math.sin(j + qi * 3.0) * 0.5).toFloat.toDouble)
      val queries = (0 until 3).map(qi => (qi.toLong, qvec(qi)))
      val planted = queries.flatMap { case (qi, v) =>
        (0 until 10).map(r => (2100000L + qi * 100 + r, v.map(_ * (1.0 + r / 1000.0))))
      }
      val base = t(s, d, "embeddings").select(col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val df = base.union(s.createDataset(planted).toDF("vec_id", "embedding"))
      val idx = Files.createTempDirectory("graft-batch-ann-idx-").toString
      Similarity.buildIndex(df, "vec_id", "embedding", planes = 8, idx, tables = 2)
      val queriesDf = s.createDataset(queries).toDF("qid", "qvec")
      val batch = Similarity.annTopKBatch(s, idx, "vec_id", "embedding",
        queriesDf, "qid", "qvec", k = 10, planes = 8, tables = 2)
      val byQ = batch.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(x => (x._2, x._3)).toSeq }
      queries.foreach { case (qi, v) =>
        val single = Similarity.annTopK(s, idx, "vec_id", "embedding",
          v.map(_.toFloat), 10, planes = 8, tables = 2)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        require(byQ(qi) == single,
          s"batched probe for query $qi must be row-identical to annTopK")
      }
      s.createDataset(byQ.toSeq.flatMap { case (q, rows) => rows.map(r => (q, r._1)) })
        .toDF("qid", "vec_id")
    }),

    // stateful streaming exact-dedup (flatMapGroupsWithState): first occurrence
    // per content fingerprint passes; emitted count == distinct normalized texts
    "q_stream_dedup" -> ((s, d) => {
      import s.implicits._
      val tmp = Files.createTempDirectory("graft-streamd-").toString
      val src = s"$tmp/src"
      val docs = t(s, d, "documents")
        .select(TextAnalysis.fingerprint(col("text")).as("fp"),
          concat(lit("doc://"), col("doc_id")).as("url"))
      docs.write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(docs.schema).parquet(src)
        .as[graft.streaming.StreamingEncode.DedupIn]
      val q = StreamingEncode.dedupStream(stream, ttlMs = 0L)
        .writeStream.format("memory").queryName("q_stream_dedup_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q_stream_dedup_sink").agg(count(lit(1)).as("n"))
    }),

    // IVF variant of the ANN scale path: deterministic sample-trained coarse
    // quantizer, cell as partition column, probe = nProbe nearest cells. The
    // planted scaled copies of the query are its exact top-10 and sit in (or
    // adjacent to) the query's cell, well inside the 4-of-16 probe set.
    "q_knn_ivf" -> ((s, d) => {
      val planted = s.range(10).select(
        (col("id") + 3000000L).as("vec_id"),
        transform(typedLit(knnQueryVec),
          x => x * (lit(1.0f) + col("id").cast("float") / lit(1000.0f))).as("embedding"))
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val idx = Files.createTempDirectory("graft-ivf-idx-").toString
      Similarity.buildIvfIndex(base.union(planted), "vec_id", "embedding", k = 16, idx)
      Similarity.ivfTopK(s, idx, "vec_id", "embedding", knnQueryVec, 10, nProbe = 4)
        .select(col("vec_id"))
    }),

    // batched IVF probes: a DataFrame of query vectors probes the persisted
    // IVF index in one distributed plan — per-query nearest cells computed
    // kernel-side against the broadcast centroids, cell-partition-pruned join,
    // exact per-query rerank; row-identity to per-query ivfTopK is required
    // in-query, and each query's 10 planted near-twins (tight positive scales:
    // same cell as the query's probe) are the provable top-10
    "q_knn_ivf_batch" -> ((s, d) => {
      import s.implicits._
      def qvec(qi: Int): Array[Double] =
        Array.tabulate(64)(j => (math.sin(j + qi * 3.0) * 0.5).toFloat.toDouble)
      val queries = (0 until 3).map(qi => (qi.toLong, qvec(qi)))
      val planted = queries.flatMap { case (qi, v) =>
        (0 until 10).map(r => (3100000L + qi * 100 + r, v.map(_ * (1.0 + r / 1000.0))))
      }
      val base = t(s, d, "embeddings").select(col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val df = base.union(s.createDataset(planted).toDF("vec_id", "embedding"))
      val idx = Files.createTempDirectory("graft-batch-ivf-idx-").toString
      Similarity.buildIvfIndex(df, "vec_id", "embedding", k = 16, idx)
      val queriesDf = s.createDataset(queries).toDF("qid", "qvec")
      val batch = Similarity.ivfTopKBatch(s, idx, "vec_id", "embedding",
        queriesDf, "qid", "qvec", k = 10, nProbe = 4)
      val byQ = batch.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(x => (x._2, x._3)).toSeq }
      queries.foreach { case (qi, v) =>
        val single = Similarity.ivfTopK(s, idx, "vec_id", "embedding",
          v.map(_.toFloat), 10, nProbe = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        require(byQ(qi) == single,
          s"batched IVF probe for query $qi must be row-identical to ivfTopK")
      }
      s.createDataset(byQ.toSeq.flatMap { case (q, rows) => rows.map(r => (q, r._1)) })
        .toDF("qid", "vec_id")
    }),

    // watermarked event-time windowed aggregation over a bounded stream (complete
    // mode -> memory sink); hour buckets reduced to epoch seconds so the oracle
    // is pure integer arithmetic (no timezone coupling)
    "q_stream_window" -> ((s, d) => {
      val tmp = Files.createTempDirectory("graft-streamw-").toString
      val src = s"$tmp/src"
      val pages = docsAsPages(s, d)
      pages.write.mode("overwrite").parquet(src)
      val counts = StreamingEncode.windowedLangCounts(
        s.readStream.schema(pages.schema).parquet(src))
      val q = counts.writeStream
        .format("memory").queryName("q_stream_window_sink")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q_stream_window_sink")
        .select(expr("unix_micros(ws) div 1000000").as("ws_s"), col("lang"), col("cnt"))
    }),

    // APPEND-mode watermarked window with real late-data eviction, staged as
    // three micro-batches (mtime-ordered files + maxFilesPerTrigger=1): the
    // documents; a far-future sentinel that advances the watermark (Spark
    // filters batch N's late rows with batch N-1's watermark — SPARK-39931's
    // two-watermark design — so the advance must land one batch earlier); then
    // a row hours behind that watermark — PROVEN dropped (no 'xx' row reaches
    // the sink; had it survived, its already-past window would have emitted).
    // The sentinel's own window stays open (never emits), so the emitted counts
    // equal the documents table exactly — the DuckDB oracle.
    "q_stream_window_append" -> ((s, d) => {
      val tmp = Files.createTempDirectory("graft-streamwa-").toString
      val src = s"$tmp/src"
      val pages = docsAsPages(s, d)
      pages.coalesce(1).write.mode("overwrite").parquet(src)
      val maxSec = pages.agg(max(unix_seconds(col("warc_ts")))).head().getLong(0)
      require(maxSec >= 1600000000L + 2 * 3600L, "need >= 2 hour buckets for a late row")
      // deterministic batch order: age existing files before each append
      def age(ms: Long): Unit = {
        val t = java.nio.file.attribute.FileTime.fromMillis(ms)
        java.nio.file.Files.list(java.nio.file.Paths.get(src)).forEach(p =>
          if (java.nio.file.Files.getLastModifiedTime(p).toMillis > ms)
            java.nio.file.Files.setLastModifiedTime(p, t))
      }
      val now = System.currentTimeMillis()
      age(now - 120000L)
      s.range(1).select(lit("doc://sentinel").as("url"),
        timestamp_seconds(lit(maxSec + 360000L)).as("warc_ts"),
        lit(null).cast("binary").as("html"), lit("flush").as("text"), lit("zz").as("lang"))
        .coalesce(1).write.mode("append").parquet(src)
      age(now - 60000L)
      s.range(1).select(lit("doc://late").as("url"),
        timestamp_seconds(lit(1600000000L)).as("warc_ts"),
        lit(null).cast("binary").as("html"), lit("late").as("text"), lit("xx").as("lang"))
        .coalesce(1).write.mode("append").parquet(src)
      val counts = StreamingEncode.windowedLangCounts(
        s.readStream.option("maxFilesPerTrigger", 1).schema(pages.schema).parquet(src))
      val q = counts.writeStream
        .format("memory").queryName("q_stream_window_append_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sink = s.table("q_stream_window_append_sink")
      require(sink.where(col("lang") === "xx").isEmpty,
        "late row behind the watermark must be DROPPED in append mode")
      require(sink.where(col("lang") === "zz").isEmpty,
        "the sentinel's own window never closes and must not emit")
      sink.select(expr("unix_micros(ws) div 1000000").as("ws_s"), col("lang"), col("cnt"))
    }),

    "q_embedding_neardups" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val shifted = e.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
      // recall check on the planted relation (like q_simhash_pairs): genuine
      // corpus near-dup pairs, should the data ever contain them, are filtered
      // out because the oracle cannot enumerate them
      Dedup.embeddingNearDups(e.union(shifted), "vec_id", "embedding")
        .where(col("b") - col("a") === 1000000L)
        .select(col("a"), col("b"))
    }))

  def oracleSql: Map[String, String] = extraOracles ++ Map(
    "rt_eg_i64" -> "SELECT l_orderkey AS v FROM lineitem",
    "rt_eg_adaptive_i32" -> "SELECT l_linenumber AS v FROM lineitem",
    "rt_auto_ts" -> "SELECT epoch_us(l_shipdate) AS v FROM lineitem",
    "rt_auto_i64" -> "SELECT o_custkey AS v FROM orders",
    "rt_auto_drift" -> ("SELECT (CASE WHEN rn % 2 = 0 THEN 1 ELSE -1 END) * " +
      "((rn * 7919) % 4096 + 4096) * (CAST(1 AS BIGINT) << CAST((rn // 512) % 24 AS INT)) AS v " +
      "FROM (SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem)"),
    "rt_bitpack" -> "SELECT l_suppkey AS v FROM lineitem",
    "rt_rle" -> "SELECT l_linenumber AS v FROM lineitem",
    "rt_for_eg" -> "SELECT l_partkey AS v FROM lineitem",
    "rt_delta_eg" -> "SELECT o_orderkey AS v FROM orders",
    "rt_dict_codec" -> "SELECT p_size AS v FROM part",
    "rt_const" -> "SELECT CAST(42 AS BIGINT) AS v FROM lineitem",
    "rt_str_text" -> "SELECT text AS v FROM documents",
    "rt_str_lang" -> "SELECT lang AS v FROM documents",
    "rt_expr_sql" -> "SELECT l_suppkey AS v FROM lineitem",
    "rt_expr_str" -> "SELECT lang AS v FROM documents",
    "rt_u64" -> ("SELECT CASE WHEN o_orderkey % 2 = 1 " +
      "THEN o_orderkey - 9223372036854775807 - 1 ELSE o_orderkey << 13 END AS v " +
      "FROM orders"),
    "rt_nulls_i64" -> ("SELECT CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_orderkey END " +
      "AS v FROM lineitem"),
    "rt_nulls_str" -> ("SELECT CASE WHEN doc_id % 7 = 0 THEN NULL WHEN doc_id % 5 = 0 " +
      "THEN '' ELSE lang END AS v FROM documents"),

    "q_prune_dict" -> ("SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents " +
      "WHERE doc_id // 50 = 7"),
    "q_prune_lang" -> ("SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents " +
      "WHERE lang = 'en'"),
    "q_store_roundtrip" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600 AS ts_s, text, lang " +
      "FROM documents"),
    "q_time_travel" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url FROM documents"),
    "q_incremental_read" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents WHERE doc_id % 5 = 0"),
    "q_compact" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents"),
    "q_expire" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url FROM documents"),
    "q_lineage" -> ("SELECT CAST(4 AS BIGINT) AS parts, CAST(count(*) AS BIGINT) AS rows, " +
      "CAST(1 AS INTEGER) AS all_compressed FROM documents"),
    "q_decode_projection" -> ("SELECT lang, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM documents GROUP BY lang"),
    "q_decode_projection_html" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, md5(text) AS h FROM documents"),
    "q_prune_decoded" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents WHERE doc_id // 50 = 7 AND lang = 'en'"),
    "q_decode_cols_where" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, (CAST(1600000000 AS BIGINT) + 7 * 3600) * 1000000 AS warc_ts " +
      "FROM documents WHERE doc_id // 50 = 7 AND lang = 'en'"),
    "q_dsv2_pushdown" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents WHERE doc_id // 100 = 1 AND lang = 'en'"),
    "q_prune_url_prefix" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents WHERE doc_id // 100 = 1"),
    "q_dsv2_columnar" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600 AS ts_s, lang " +
      "FROM documents WHERE doc_id // 100 = 1"),
    "q_dsv2_agg" -> ("SELECT CAST(count(*) AS BIGINT) AS row_count, " +
      "min((CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600) * 1000000) AS min_warc_ts_us, " +
      "max((CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600) * 1000000) AS max_warc_ts_us " +
      "FROM documents"),
    "q_dsv2_agg_any" -> ("SELECT CAST(count(lang) AS BIGINT) AS cl, " +
      "min(concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0'))) AS mnu, " +
      "max(concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0'))) AS mxu, " +
      "min(lang) AS mnl, max(lang) AS mxl FROM documents"),
    "q_dsv2_agg_group" -> ("SELECT lang, CAST(count(*) AS BIGINT) AS cnt, " +
      "CAST(count(lang) AS BIGINT) AS cnt_lang FROM documents GROUP BY lang"),
    "q_dsv2_agg_group_filtered" -> ("SELECT lang, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM documents WHERE lang <> 'de' AND lang LIKE '__' GROUP BY lang"),
    "q_stream_v2_read" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url FROM documents"),
    "q_dsv2_write" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, md5(text) AS h FROM documents"),
    "q_stream_v2_write" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, md5(text) AS h FROM documents"),
    "q_dsv2_delete" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents WHERE lang <> 'en'"),
    "q_call_compact" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents"),
    "q_generic_roundtrip" -> ("SELECT concat('host-', lpad(CAST(user_id % 50 AS VARCHAR), 4, '0'), " +
      "'.example/e', CAST(event_id AS VARCHAR)) AS host, event_id AS id, " +
      "CAST(event_id % 1000 AS INTEGER) AS score, epoch_us(ts) AS fetched_us FROM events"),
    "q_generic_agg_sum" -> ("SELECT CAST(sum(event_id % 1000) AS BIGINT) AS ss, " +
      "CAST(sum(event_id) AS BIGINT) AS si, CAST(count(event_id) AS BIGINT) AS cs, " +
      "CAST(min(event_id % 1000) AS INTEGER) AS mns, max(event_id) AS mxi FROM events"),
    "q_dsv2_update" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS url, " +
      "CASE WHEN doc_id <= (SELECT max(doc_id) // 5 FROM documents) THEN 'xx' ELSE lang END AS lang " +
      "FROM documents"),
    "q_dsv2_merge" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS url, " +
      "CASE WHEN doc_id % 10 = 3 THEN 'mg' ELSE lang END AS lang FROM documents " +
      "UNION ALL SELECT concat('zzz://new/', lpad(CAST(i AS VARCHAR), 4, '0')) AS url, " +
      "'nw' AS lang FROM range(20) t(i)"),
    "q_limit_pushdown" -> ("SELECT CAST(count(*) AS BIGINT) AS cnt " +
      "FROM (SELECT * FROM documents LIMIT 123) t"),
    "q_topn_url" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents ORDER BY 1 LIMIT 40"),
    "q_topn_ts" -> ("SELECT ts_us, dir FROM (SELECT CASE WHEN doc_id < 40 THEN NULL " +
      "ELSE (CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600) * 1000000 END AS ts_us, " +
      "'asc' AS dir FROM documents ORDER BY ts_us ASC NULLS FIRST LIMIT 120) " +
      "UNION ALL SELECT ts_us, dir FROM (SELECT CASE WHEN doc_id < 40 THEN NULL " +
      "ELSE (CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600) * 1000000 END AS ts_us, " +
      "'desc' AS dir FROM documents ORDER BY ts_us DESC NULLS LAST LIMIT 120)"),
    "q_stream_v2_filtered" -> ("SELECT concat('doc://', lpad(CAST(doc_id AS VARCHAR), 8, '0')) " +
      "AS url, lang FROM documents WHERE doc_id // 100 = 1"),
    "q_agg_pushdown" -> ("SELECT CAST(count(*) AS BIGINT) AS row_count, " +
      "min((CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600) * 1000000) AS min_warc_ts_us, " +
      "max((CAST(1600000000 AS BIGINT) + (doc_id // 50) * 3600) * 1000000) AS max_warc_ts_us " +
      "FROM documents"),
    "q_stream_encode" -> "SELECT CAST(count(*) AS BIGINT) AS n FROM documents",
    "q_frames" -> ("SELECT media_id, CAST(f AS BIGINT) AS frame_ts_ms FROM (" +
      "SELECT CAST(doc_id AS BIGINT) AS media_id, " +
      "unnest(generate_series(0, CAST(1000 + (doc_id % 37) * 211 - 1 AS BIGINT), 250)) AS f " +
      "FROM documents)"),

    "q_audio_meta" -> ("SELECT CAST(doc_id AS BIGINT) AS media_id, " +
      "CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels, " +
      "CAST(1000 + doc_id % 500 AS BIGINT) AS frames, " +
      "(1000 + doc_id % 500) * 1000 // 8000 AS duration_ms, " +
      "CAST(1 + (doc_id * 31) % 32000 AS INTEGER) AS peak FROM documents"),
    "q_image_meta" -> ("SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format, " +
      "CAST(8 + doc_id % 16 AS INTEGER) AS width, CAST(4 + doc_id % 8 AS INTEGER) AS height, " +
      "CAST((doc_id * 37) % 256 AS INTEGER) AS mean_r, " +
      "CAST((doc_id * 59) % 256 AS INTEGER) AS mean_g, " +
      "CAST((doc_id * 83) % 256 AS INTEGER) AS mean_b FROM documents"),

    "q1_agg" -> ("SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt, " +
      "sum(l_quantity) AS sum_qty, min(l_extendedprice) AS min_price, " +
      "max(l_extendedprice) AS max_price FROM lineitem GROUP BY l_returnflag, l_linestatus"),

    "q_stats_profile" -> ("SELECT CAST(count(*) AS BIGINT) AS n, min(l_partkey) AS mn, " +
      "max(l_partkey) AS mx, CAST(count(DISTINCT l_partkey) AS BIGINT) AS card FROM lineitem"),

    "q_rollup" -> ("SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM documents GROUP BY ROLLUP(lang, source)"),

    "q_salted_topk_users" -> ("SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events " +
      "GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 10"),

    "q_grouping_sets" -> ("SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM documents GROUP BY GROUPING SETS ((lang), (source), ())"),

    "q_scalar_subquery" -> ("SELECT o_orderkey, (SELECT max(l_linenumber) FROM lineitem " +
      "WHERE l_orderkey = o_orderkey) AS max_ln FROM orders"),

    "q_pivot" -> ("SELECT lang, " +
      "CAST(sum(CASE WHEN source = 'src0' THEN 1 END) AS BIGINT) AS src0, " +
      "CAST(sum(CASE WHEN source = 'src1' THEN 1 END) AS BIGINT) AS src1, " +
      "CAST(sum(CASE WHEN source = 'src2' THEN 1 END) AS BIGINT) AS src2, " +
      "CAST(sum(CASE WHEN source = 'src3' THEN 1 END) AS BIGINT) AS src3 " +
      "FROM documents GROUP BY lang"),

    "q_join_broadcast" -> ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"),

    "q_join3" -> ("SELECT n_name, CAST(count(*) AS BIGINT) AS cnt, min(o_totalprice) AS mn, " +
      "max(o_totalprice) AS mx FROM orders " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),

    "q_antijoin_resume" -> "SELECT o_orderkey FROM orders WHERE o_orderkey % 10 >= 3",

    "q_semijoin_exists" -> ("SELECT c_custkey FROM customer WHERE EXISTS " +
      "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)"),

    "q_window_rank" -> ("SELECT event_id, rn FROM (SELECT event_id, CAST(row_number() OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn FROM events) WHERE rn <= 3"),

    "q_window_gap" -> ("SELECT event_id, epoch_us(ts) - lag(epoch_us(ts), 1) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events"),

    "q_time_window" -> ("SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY ws, event_type"),

    "q_window_frame" -> ("SELECT event_id, CAST(sum(length(event_type)) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS fsum FROM events"),

    "q_words_top" -> ("SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
      "WHERE length(w) > 0 GROUP BY w ORDER BY cnt DESC, w LIMIT 20"),

    "q_setops_exceptall" -> ("SELECT user_id FROM events WHERE event_type = 'click' " +
      "EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'purchase'"),

    "q_setops_union" -> ("SELECT user_id FROM events WHERE event_type = 'click' " +
      "UNION ALL SELECT user_id FROM events WHERE event_type = 'view'"),

    "q_topk_price" -> ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
      "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25"),

    "q_scalar_funcs" -> ("SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS y, " +
      "CAST(month(o_orderdate) AS INTEGER) AS m, " +
      "concat(o_orderstatus, '-', o_orderpriority) AS sp FROM orders"),

    "q_scalar_math" -> ("SELECT p_partkey, upper(p_brand) AS ub, " +
      "CAST(length(p_name) AS INTEGER) AS ln, substr(p_type, 1, 5) AS st, " +
      "CAST(floor(p_retailprice) AS BIGINT) AS fl, CAST(ceil(p_retailprice) AS BIGINT) AS cl, " +
      "p_partkey % 7 AS md FROM part"),

    "q_zigzag" -> ("SELECT l_orderkey, CASE WHEN l_orderkey - 3000 < 0 " +
      "THEN -2 * (l_orderkey - 3000) - 1 ELSE 2 * (l_orderkey - 3000) END AS zz, " +
      "l_orderkey - 3000 AS rt FROM lineitem"),

    "q_dedup_exact" -> "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY text",

    "q_fingerprint_dedup" -> ("SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents " +
      "GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"),

    "q_token_count" -> ("SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
      "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) END AS tc, " +
      "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) " +
      "AS INTEGER) AS pc FROM documents"),

    "q_sample_stratified" -> ("SELECT doc_id, lang FROM documents WHERE " +
      "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < " +
      "(CASE WHEN lang = 'en' THEN '80000000' WHEN lang = 'de' THEN '40000000' " +
      "ELSE '1999999a' END)"),

    "q_quality" -> ("SELECT doc_id, pr, mwl, swr, " +
      "(least(len_d / 500.0, 1.0) + CASE WHEN pr < 0.2 THEN 1.0 ELSE 0.0 END + " +
      "CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.0 END + " +
      "CASE WHEN mwl >= 2.5 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END) / 4.0 AS qs " +
      "FROM (SELECT doc_id, CAST(length(text) AS DOUBLE) AS len_d, " +
      "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
      "CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) " +
      "/ CAST(length(text) AS DOUBLE) END AS pr, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE " +
      "CAST(length(replace(trim(text), ' ', '')) AS DOUBLE) / " +
      "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) END AS mwl, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE " +
      "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), " +
      "w -> w IN ('the','a','an','and','or','of','to','in','is','it','that','this'," +
      "'for','on','with','as','at','by'))) * 1.0 / " +
      "len(regexp_split_to_array(trim(text), '\\s+')) END AS swr FROM documents)"))

  private val extraOracles: Map[String, String] = Map(
    "q_stats_udaf" -> ("SELECT CAST(count(*) AS BIGINT) AS n, min(l_partkey) AS mn, " +
      "max(l_partkey) AS mx, max(CASE WHEN zz = 0 THEN 0 ELSE " +
      "CAST(floor(log2(zz)) AS BIGINT) + 1 END) AS maxbw FROM " +
      "(SELECT l_partkey, CASE WHEN l_partkey < 0 THEN -2 * l_partkey - 1 " +
      "ELSE 2 * l_partkey END AS zz FROM lineitem)"),

    "q_cube" -> ("SELECT event_type, y, CAST(count(*) AS BIGINT) AS cnt FROM " +
      "(SELECT event_type, CAST(year(ts) AS INTEGER) AS y FROM events) " +
      "GROUP BY CUBE (event_type, y)"),

    "q_setops_intersect" -> ("SELECT user_id FROM events WHERE event_type = 'click' " +
      "INTERSECT ALL SELECT user_id FROM events WHERE event_type = 'view'"),

    "q_json" -> ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) " +
      "AS k FROM events"),

    "q_array_funcs" -> ("SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim, " +
      "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vsum FROM embeddings"),

    // language-id heuristic mirrored exactly (script fractions + stopword votes)
    "q_langid" -> ("SELECT doc_id, CASE " +
      "WHEN (length(text) - length(regexp_replace(text, '[\\x{3040}-\\x{30ff}]', '', 'g'))) * 1.0 / greatest(length(text), 1) > 0.05 THEN 'ja' " +
      "WHEN (length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))) * 1.0 / greatest(length(text), 1) > 0.2 THEN 'zh' " +
      "WHEN (length(text) - length(regexp_replace(text, '[\\x{0400}-\\x{04ff}]', '', 'g'))) * 1.0 / greatest(length(text), 1) > 0.2 THEN 'ru' " +
      "WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en' " +
      "WHEN de >= fr AND de >= es AND de > 0 THEN 'de' " +
      "WHEN fr >= es AND fr > 0 THEN 'fr' " +
      "WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_guess FROM (" +
      "SELECT doc_id, text, " +
      "len(list_filter(toks, w -> w IN ('the','and','of','to','is','that','for','with'))) AS en, " +
      "len(list_filter(toks, w -> w IN ('der','die','das','und','ist','nicht','ein','mit'))) AS de, " +
      "len(list_filter(toks, w -> w IN ('le','la','les','et','est','que','des','une'))) AS fr, " +
      "len(list_filter(toks, w -> w IN ('el','la','los','las','que','es','una','por'))) AS es " +
      "FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents))"),

    // exact 3-gram jaccard of text vs text+' tail' (set semantics, both engines)
    "q_ngram_jaccard" -> ("WITH w AS (SELECT doc_id, " +
      "regexp_split_to_array(lower(trim(text)), '\\s+') AS w1, " +
      "regexp_split_to_array(lower(trim(text || ' tail')), '\\s+') AS w2 FROM documents), " +
      "sh AS (SELECT doc_id, " +
      "list_distinct(CASE WHEN len(w1) - 2 <= 0 THEN [] ELSE list_transform(range(1, len(w1) - 1), i -> array_to_string(w1[i:i+2], ' ')) END) AS s1, " +
      "list_distinct(CASE WHEN len(w2) - 2 <= 0 THEN [] ELSE list_transform(range(1, len(w2) - 1), i -> array_to_string(w2[i:i+2], ' ')) END) AS s2 FROM w) " +
      "SELECT doc_id, CASE WHEN len(list_distinct(s1 || s2)) = 0 THEN 1.0 " +
      "ELSE len(list_distinct(list_intersect(s1, s2))) * 1.0 / len(list_distinct(s1 || s2)) END AS j FROM sh"),

    // brute-force all-pairs exact jaccard over the same corpus (LSH-free ground truth)
    "q_minhash_pairs" -> ("WITH corpus AS (" +
      "SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents " +
      "UNION ALL SELECT CAST(doc_id + 1000000 AS BIGINT), text || ' tail' FROM documents), " +
      "sh AS (SELECT id, list_distinct(CASE WHEN len(w) - 2 <= 0 THEN [] ELSE " +
      "list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s " +
      "FROM (SELECT id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM corpus)) " +
      "SELECT a.id AS a, b.id AS b FROM sh a JOIN sh b ON a.id < b.id " +
      "WHERE len(list_distinct(list_intersect(a.s, b.s))) * 1.0 / " +
      "greatest(len(list_distinct(a.s || b.s)), 1) >= 0.6"),
    // planted exact-duplicate recall relation
    "q_simhash_pairs" -> ("SELECT CAST(doc_id AS BIGINT) AS a, " +
      "CAST(doc_id + 1000000 AS BIGINT) AS b FROM documents"),
    // closed-form component labels: component = {5k..5k+4} ∪ {+1M dups},
    // min id (cluster_id) = 5k, canonical only on the min itself
    "q_cc_clusters" -> ("WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents " +
      "UNION ALL SELECT CAST(doc_id + 1000000 AS BIGINT) FROM documents) " +
      "SELECT id, CAST(((id % 1000000) // 5) * 5 AS BIGINT) AS cluster_id, " +
      "id = ((id % 1000000) // 5) * 5 AS canonical FROM ids"),
    "q_embedding_neardups" -> ("SELECT CAST(vec_id AS BIGINT) AS a, " +
      "CAST(vec_id + 1000000 AS BIGINT) AS b FROM embeddings"),
    "q_knn_ann" -> "SELECT CAST(2000000 + r AS BIGINT) AS vec_id FROM range(10) t(r)",
    "q_knn_batch" -> ("SELECT CAST(qi AS BIGINT) AS qid, " +
      "CAST(2100000 + qi * 100 + r AS BIGINT) AS vec_id " +
      "FROM range(3) q(qi), range(10) t(r)"),
    "q_knn_ivf" -> "SELECT CAST(3000000 + r AS BIGINT) AS vec_id FROM range(10) t(r)",
    "q_knn_ivf_batch" -> ("SELECT CAST(qi AS BIGINT) AS qid, " +
      "CAST(3100000 + qi * 100 + r AS BIGINT) AS vec_id " +
      "FROM range(3) q(qi), range(10) t(r)"),
    "q_stream_window" -> ("SELECT (1600000000 + (doc_id // 50) * 3600) // 3600 * 3600 AS ws_s, " +
      "lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2"),
    "q_stream_window_append" -> ("SELECT (1600000000 + (doc_id // 50) * 3600) // 3600 * 3600 " +
      "AS ws_s, lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2"),
    "q_stream_dedup" -> ("SELECT CAST(count(DISTINCT regexp_replace(lower(trim(text)), " +
      "'\\s+', ' ', 'g')) AS BIGINT) AS n FROM documents"),
    "q_knn_brute" -> knnBruteOracle)

  /** Brute-force kNN oracle: same cosine ranking computed by DuckDB list lambdas. */
  private def knnBruteOracle: String =
    "SELECT vec_id FROM (SELECT vec_id, " +
      s"list_sum(list_transform(range(1, 65), i -> embedding[i] * ($knnQueryList[i]))) / " +
      "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS score " +
      "FROM embeddings) ORDER BY score DESC, vec_id LIMIT 10"
}
