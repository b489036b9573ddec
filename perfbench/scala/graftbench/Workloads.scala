package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.{DecodeJob, EncodeJob}
import graft.sources.{SnapshotStore, WebPage, Webtext}

/** Input generation and result checks shared by the workloads. */
object Data {
  /** Webtext ids start here for a seed: every seed sees pages no other seed sees. */
  def idOffset(seed: Long): Long = seed * 1000000000L

  def generate(spark: SparkSession, firstId: Long, n: Long, path: String, parts: Int): Unit =
    spark.range(firstId, firstId + n, 1, parts)
      .map(id => Webtext.page(id))(Encoders.product[WebPage])
      .write.mode("overwrite").parquet(path)

  /** Uncompressed page bytes: url + 8-byte timestamp + html + text + lang. */
  def pageBytes(df: DataFrame): Long =
    df.agg(coalesce(sum(octet_length(col("url")) + 8 + octet_length(col("html")) +
      octet_length(col("text")) + octet_length(col("lang"))), lit(0L))).head().getLong(0)

  /** Row count plus an order-insensitive, multiset-sensitive hash of every page column. */
  def digestOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(
      xxhash64(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
        .bitwiseAND(lit(0xffffffffL))), lit(0L)))

  def digestRow(r: Row): (Long, Long) = (r.getLong(0), r.getLong(1))

  /** Bytes of every file under a store root. */
  def storeBytes(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  def delete(path: String): Unit = graft.jobs.LocalSession.deleteRecursively(new File(path))

  def storeRows(root: String): Long = SnapshotStore.currentEntries(root).map(_.nRows).sum

  /** Names the store's current snapshot, for telling first plans from repeats. */
  def scope(root: String): String = s"$root@${SnapshotStore.currentSnapshotId(root).getOrElse(0L)}"
}

/** What a full read of a store must return: the digest and the per-lang url figures of
  * the pages written to it, and their uncompressed bytes. */
final case class Expect(bytes: Long, digest: (Long, Long), groups: Map[String, (Long, Long)])

/** The three full-read paths: the V2 scan, DecodeJob.decode, and a projected url + lang
  * group-count through the V2 scan. Every result is checked against an [[Expect]]. */
object ReadPaths {
  val Kinds = Seq("scan", "decode_job", "projected_scan")

  def projected(df: DataFrame): DataFrame =
    df.groupBy(col("lang")).agg(count(lit(1)), sum(length(col("url"))))

  private def groups(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  def expect(spark: SparkSession, inputs: Seq[String]): Expect = {
    val in = spark.read.parquet(inputs: _*)
    Expect(Data.pageBytes(in), Data.digestRow(Data.digestOf(in).head()), groups(projected(in).collect()))
  }

  /** One read through each path, in the given order of [[Kinds]] indexes. */
  def readAll(h: Harness, root: String, exp: Expect, order: Seq[Int]): Boolean = {
    val spark = h.spark
    val scope = Data.scope(root)
    order.map {
      case 0 =>
        h.dfCall("scan", "scan", scope)(Data.digestOf(spark.read.format("graft").load(root)))(
          df => Data.digestRow(df.head()))._1 == exp.digest
      case 1 =>
        h.dfCall("decode_job", "decode_job", scope)(
          Data.digestOf(DecodeJob.decode(spark, root).toDF()))(df => Data.digestRow(df.head()))._1 ==
          exp.digest
      case _ =>
        groups(h.dfCall("projected_scan", "projected_scan", scope)(
          projected(spark.read.format("graft").load(root)))(_.collect())._1) == exp.groups
    }.forall(identity)
  }
}

/** A workload: fresh inputs and fixtures per set-up, then one op per `step`. */
trait Workload {
  def name: String
  /** One full set-up: inputs from the seed, fixture stores, one untimed op of each kind. */
  def setup(h: Harness, dir: String): Unit
  def step(h: Harness, i: Int): Unit
  /** Untimed checks after the loop. */
  def finish(h: Harness): Unit = ()
  /** Input bytes over the bytes of every file of the workload's committed store. */
  def compressionRatio: Double
  /** The workload's committed store, and the parquet inputs written into it. */
  def store: String
  def storeInputs: Seq[String]
  /** Parquet pages the traced run's layer probes read. */
  def probeInput: String
  /** The per-path figures a reader of this workload looks at: name, value, unit, samples. */
  def pathMetrics(h: Harness): Seq[(String, Double, String, Int)]
  /** Figures that depend only on the seed: the inputs, and what the first write made of them. */
  def fingerprint: Seq[(String, Double)]
}

object Workload {
  def timedCalls(h: Harness, kind: String): Seq[Double] =
    h.calls.iterator.filter(c => c.kind == kind && c.timed && !c.traced).map(_.ms).toSeq

  def gbps(bytes: Long, ms: Seq[Double]): Double =
    if (ms.isEmpty) 0.0 else bytes / 1e9 / (Stats.median(ms) / 1e3)
}

/**
 * Pages into a fresh store per op, through EncodeJob.run and through the V2 append
 * write, in a seeded order. Each write's row count is checked; after the loop the
 * last EncodeJob store is decoded and hashed against the input (untimed).
 */
final class BulkEncode(spark: SparkSession, seed: Long, pages: Int, parts: Int) extends Workload {
  val name = "bulk_encode"
  private val rng = new java.util.Random(seed * 31 + 1)
  private var dir = ""
  private var input = ""
  private var rows = 0L
  private var bytes = 0L
  private var expected = (0L, 0L)
  private var nStores = 0
  private var lastJobStore = ""
  private val ratios = mutable.ArrayBuffer[Double]()
  private var mismatch = 0L

  /** Test hook: shifts the expected decode hash so the final check must fail. */
  def injectMismatch(): Unit = mismatch = 1L

  def setup(h: Harness, d: String): Unit = {
    dir = d
    input = s"$dir/input"
    Data.generate(spark, Data.idOffset(seed), pages, input, parts)
    val in = spark.read.parquet(input)
    bytes = Data.pageBytes(in)
    expected = Data.digestRow(Data.digestOf(in).head())
    rows = expected._1
    spark.conf.set("spark.graft.write.partitions", parts.toString)
    ratios.clear()
    h.op("ingest")(ingest(h))
  }

  private def freshStore(): String = { nStores += 1; s"$dir/stores/s$nStores" }

  private def ingest(h: Harness): Boolean = {
    import spark.implicits._
    var ok = true
    val previous = lastJobStore
    for (viaJob <- if (rng.nextBoolean()) Seq(true, false) else Seq(false, true)) {
      val root = freshStore()
      if (viaJob) {
        val res = h.call("encode_job") {
          EncodeJob.run(spark, spark.read.parquet(input).as[WebPage], root, parts)
        }
        ok &&= res.nRows == rows
        ratios += bytes.toDouble / Data.storeBytes(root)
        lastJobStore = root
      } else {
        h.call("sql_write") {
          spark.read.parquet(input).write.format("graft").mode("append").save(root)
        }
        ok &&= Data.storeRows(root) == rows
        Data.delete(root)
      }
    }
    if (previous.nonEmpty) Data.delete(previous)
    ok
  }

  def step(h: Harness, i: Int): Unit = h.op("ingest")(ingest(h))

  override def finish(h: Harness): Unit =
    h.op("decode_check") {
      Data.digestRow(Data.digestOf(DecodeJob.decode(spark, lastJobStore).toDF()).head()) ==
        ((expected._1, expected._2 + mismatch))
    }

  def compressionRatio: Double = Stats.median(ratios.toSeq)
  def store: String = lastJobStore
  def storeInputs: Seq[String] = Seq(input)
  def probeInput: String = input

  def pathMetrics(h: Harness): Seq[(String, Double, String, Int)] = {
    val job = Workload.timedCalls(h, "encode_job")
    val sql = Workload.timedCalls(h, "sql_write")
    Seq(("encode_job_gbps", Workload.gbps(bytes, job), "GB/s", job.size),
      ("sql_write_gbps", Workload.gbps(bytes, sql), "GB/s", sql.size),
      ("compression_ratio", compressionRatio, "ratio", ratios.size),
      ("input_mb", bytes / 1e6, "MB", 1))
  }

  def fingerprint: Seq[(String, Double)] = Seq(("input_rows", rows.toDouble),
    ("input_bytes", bytes.toDouble), ("input_hash", expected._2.toDouble),
    ("compression_ratio", ratios.headOption.getOrElse(0.0)))
}

/**
 * Selective SQL on one store with a small append every `appendEvery` ops. Queries come
 * from seeded Zipf draws over pools much larger than the engine's key-plan memo, and
 * every append commits a new snapshot, so most plans are cold. Every result is checked
 * against the same predicate evaluated on the generated pages, appended ones included.
 */
final class LookupAppend(spark: SparkSession, seed: Long, pages: Int, parts: Int,
    appendPages: Int, appendEvery: Int) extends Workload {
  val name = "lookup_append"
  private val rng = new java.util.Random(seed * 31 + 3)
  private var dir = ""
  private var base = ""
  private var root = ""
  private var bytes = 0L
  private var baseRatio = 0.0
  private val chunks = mutable.ArrayBuffer[String]()

  // the generated pages the store holds: url, warc_ts micros, lang
  private val urls = mutable.ArrayBuffer[String]()
  private val tss = mutable.ArrayBuffer[Long]()
  private val langs = mutable.ArrayBuffer[String]()

  /** A pooled selective query: its SQL and the same predicate on one page. */
  final case class Query(kind: Int, sql: String, keep: (String, Long, String) => Boolean)
  /** Entries per template; the three pools together are 24x the 256-entry key-plan memo. */
  private val PoolSize = 2048
  private var pools = Array.empty[Array[Query]]
  private var zipfCdf = Array.empty[Double]
  private var firstKind = 0

  private val Langs = Array("en", "zh", "de", "es", "fr", "ru", "ja", "pt", "it", "nl")
  private val BaseMicros = 1735689600000000L

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** One pool per template (url prefix AND lang, a warc_ts range, a top-40 by url), with
    * hosts drawn like the generator's Zipf host skew, in a seeded rank order. */
  private def buildPools(r: java.util.Random): Unit = {
    def host(): Int = math.min((math.pow(4096.0, r.nextDouble()) - 1.0).toInt, 4095)
    pools = Array.tabulate(3) { kind =>
      Array.fill(PoolSize) {
        val h = host()
        kind match {
          case 0 =>
            val prefix = s"https://host-$h.example.com/"
            val lang = Langs(r.nextInt(if (r.nextBoolean()) 3 else Langs.length))
            Query(0, s"SELECT url, warc_ts, lang FROM pages WHERE url LIKE '$prefix%' AND lang = '$lang'",
              (u, _, l) => u.startsWith(prefix) && l == lang)
          case 1 =>
            val lo = BaseMicros + h * 3600000000L + r.nextInt(40) * 2400000000L
            val hi = lo + 600000000L
            Query(1, s"SELECT url, warc_ts, lang FROM pages WHERE warc_ts >= timestamp_micros($lo) " +
              s"AND warc_ts < timestamp_micros($hi)", (_, t, _) => t >= lo && t < hi)
          case _ =>
            val from = s"https://host-$h.example.com/p/${Integer.toHexString(r.nextInt(16))}"
            Query(2, s"SELECT url, warc_ts, lang FROM pages WHERE url >= '$from' ORDER BY url LIMIT 40",
              (u, _, _) => u >= from)
        }
      }
    }
    val w = Array.tabulate(PoolSize)(k => 1.0 / (k + 1))
    val total = w.sum
    var acc = 0.0
    zipfCdf = w.map { x => acc += x / total; acc }
    firstKind = r.nextInt(3)
  }

  /** The templates take turns; within one, the entry is a Zipf(s = 1) draw over its pool. */
  private def draw(i: Int): Query = {
    val k = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    pools((firstKind + i) % 3)(math.min(if (k >= 0) k else -k - 1, PoolSize - 1))
  }

  private def addPages(df: DataFrame): Unit =
    df.select("url", "warc_ts", "lang").collect().foreach { r =>
      urls += r.getString(0); tss += micros(r.getTimestamp(1)); langs += r.getString(2)
    }

  def setup(h: Harness, d: String): Unit = {
    import spark.implicits._
    dir = d
    base = s"$dir/base"
    root = s"$dir/store"
    Data.generate(spark, Data.idOffset(seed), pages, base, parts)
    val in = spark.read.parquet(base)
    bytes = Data.pageBytes(in)
    urls.clear(); tss.clear(); langs.clear(); chunks.clear()
    addPages(in)
    EncodeJob.run(spark, in.as[WebPage], root, parts)
    baseRatio = compressionRatio
    buildPools(new java.util.Random(seed * 31 + 4))
    spark.conf.unset("spark.graft.write.partitions")
    // warm-up: one query of each template, then one append
    for (kind <- 0 to 2) h.op("query")(query(h, pools(kind)(0)))
    h.op("append")(append(h))
  }

  private def query(h: Harness, q: Query): Boolean = {
    val scope = Data.scope(root)
    val (rows, df) = h.dfCall("query", q.sql, scope) {
      spark.read.format("graft").load(root).createOrReplaceTempView("pages")
      spark.sql(q.sql)
    }(_.collect())
    if (h.tracer.isDefined) {
      val returned = rows.length.toDouble
      val scanned = PlanWalk.scans(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      val kept = graft.sources.v2.GraftDataSource.planStatsFor(root)
        .flatMap(_.prunedGroupKeys).map(_.toDouble / totalGroups(scope))
      h.annotateLast(kept, if (returned > 0) Some(scanned / returned) else None)
    }
    val got = rows.map(r => (r.getString(0), micros(r.getTimestamp(1)), r.getString(2)))
    val want = urls.indices.iterator.filter(i => q.keep(urls(i), tss(i), langs(i)))
      .map(i => (urls(i), tss(i), langs(i))).toArray
    if (q.kind == 2) got.toSeq == want.sortBy(_._1).take(40).toSeq
    else got.sorted.toSeq == want.sorted.toSeq
  }

  private val groupTotals = mutable.Map[String, Double]()
  private def totalGroups(scope: String): Double = groupTotals.getOrElseUpdate(scope,
    DecodeJob.blocks(spark, root).where(col("column") === "url").count().toDouble)

  /** Appends the next chunk of pages. The chunk is generated and its expected rows
    * collected before the timed call; the call reads it and writes it to the store. */
  private def append(h: Harness): Boolean = {
    val chunk = s"$dir/append-${chunks.size}"
    Data.generate(spark, Data.idOffset(seed) + pages + chunks.size.toLong * appendPages,
      appendPages, chunk, 1)
    chunks += chunk
    val in = spark.read.parquet(chunk)
    bytes += Data.pageBytes(in)
    addPages(in)
    h.call("append") {
      spark.read.parquet(chunk).write.format("graft").mode("append").save(root)
    }
    Data.storeRows(root) == urls.length
  }

  def step(h: Harness, i: Int): Unit =
    if (i % appendEvery == appendEvery - 1) h.op("append")(append(h))
    else h.op("query")(query(h, draw(i)))

  def compressionRatio: Double = bytes.toDouble / Data.storeBytes(root)
  def store: String = root
  def storeInputs: Seq[String] = base +: chunks.toSeq
  def probeInput: String = base

  def pathMetrics(h: Harness): Seq[(String, Double, String, Int)] = {
    val q = Workload.timedCalls(h, "query")
    val a = Workload.timedCalls(h, "append")
    Seq(("query_p50_ms", Stats.median(q), "ms", q.size),
      ("query_p90_ms", Stats.quantile(q, 0.9), "ms", q.size),
      ("append_p50_ms", Stats.median(a), "ms", a.size),
      ("compression_ratio", compressionRatio, "ratio", 1),
      ("snapshots", SnapshotStore.snapshotIds(root).size.toDouble, "count", 1))
  }

  def fingerprint: Seq[(String, Double)] = Seq(("base_rows", pages.toDouble),
    ("base_ratio", baseRatio), ("pool_hash", pools.flatten.map(_.sql).mkString("\n").hashCode.toDouble))
}
