package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{CodecChooser, FsstLite, IntBlockCodec, StringBlockCodec}
import graft.core.{GolombCodec, PhysicalIntType}
import graft.jobs.{DecodeJob, EncodeJob}
import graft.sources.SnapshotStore

/**
 * Layer probes of the traced run: single-thread calls into the kernels' public
 * functions on the workload's own pages, and the store's metadata as the engine
 * wrote it. Each timing is the median of three rounds of at least 100 ms.
 */
object Probes {
  val SampleRows = 8192
  val StrCols = Seq("url", "html", "text", "lang")
  val StrCodecs = Seq("str_plain", "str_dict", "str_fsst")
  val IntFamilies = Seq("plain", "eg", "eg_adaptive", "bitpack", "for", "delta", "rle", "dict", "const")

  /** Median seconds per call of `f`. */
  private def secsPerCall(f: => Any): Double = {
    f
    Stats.median((0 until 3).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      var el = 0L
      while (el < 100000000L) { f; n += 1; el = System.nanoTime() - t0 }
      el / 1e9 / n
    })
  }

  /** Pareto(alpha = 1.3) magnitudes with random signs in the i32 range: the reference
    * CLI's benchmark shape, as in BASELINE.md. */
  def paretoI32(n: Int, seed: Long): Array[Long] = {
    val r = new java.util.Random(seed)
    Array.fill(n) {
      val u = (r.nextDouble() + Double.MinPositiveValue).min(1.0)
      val mag = math.min(math.pow(u, -1.0 / 1.3) - 1.0, Int.MaxValue.toDouble).toLong
      if (r.nextBoolean()) mag else -mag
    }
  }

  private def eg(prefix: String, values: Array[Long], k: Int, t: PhysicalIntType,
      valueBytes: Int): Seq[(String, Double, String)] = {
    val enc = GolombCodec.encode(values, k, t)
    val mb = values.length.toLong * valueBytes / 1e6
    val encS = secsPerCall(GolombCodec.encode(values, k, t))
    val decS = secsPerCall(GolombCodec.decodeRange(enc, 0, enc.length, k, t, values.length))
    require(GolombCodec.decodeRange(enc, 0, enc.length, k, t, values.length).sameElements(values),
      s"$prefix round trip")
    Seq((s"core.eg_encode_mbps$prefix", mb / encS, "MB/s"),
      (s"core.eg_decode_mbps$prefix", mb / decS, "MB/s"),
      (s"core.eg_bits_per_value$prefix", enc.length * 8.0 / values.length, "bits"))
  }

  def run(spark: SparkSession, input: String, store: String, seed: Long): Seq[(String, Double, String)] = {
    import spark.implicits._
    val rows: Array[Row] = spark.read.parquet(input)
      .select(col("url").cast("binary"), unix_micros(col("warc_ts")), col("html"),
        col("text").cast("binary"), col("lang").cast("binary"))
      .limit(SampleRows).collect()
    val strCol = Map("url" -> 0, "html" -> 2, "text" -> 3, "lang" -> 4)
      .map { case (c, i) => c -> rows.map(_.getAs[Array[Byte]](i)) }
    val ts = rows.map(_.getLong(1))

    // graft.core: exp-Golomb on the warc_ts micros (k = floor(log2(min))) and on the
    // reference shape
    val tsK = 63 - java.lang.Long.numberOfLeadingZeros(math.max(ts.min, 1L))
    val core = eg("", ts, tsK, PhysicalIntType.I64, 8) ++
      eg(".pareto_i32", paretoI32(1 << 20, seed), 0, PhysicalIntType.I32, 4)

    // graft.codec: each column's block codec, the FSST trainer and the chooser
    val codec = StrCols.flatMap { c =>
      val vals = strCol(c)
      val orig = vals.map(_.length.toLong).sum
      val enc = StringBlockCodec.encode(vals)
      require(StringBlockCodec.decode(enc).map(_.toSeq).toSeq == vals.map(_.toSeq).toSeq, s"$c round trip")
      Seq((s"codec.$c.encode_mbps", orig / 1e6 / secsPerCall(StringBlockCodec.encode(vals)), "MB/s"),
        (s"codec.$c.decode_mbps", orig / 1e6 / secsPerCall(StringBlockCodec.decode(enc)), "MB/s"),
        (s"codec.$c.ratio", orig.toDouble / enc.length, "ratio"))
    } ++ {
      val valid = Array.fill(ts.length)(true)
      val enc = IntBlockCodec.encodeNullable(ts, valid, PhysicalIntType.I64)
      val orig = ts.length * 8L
      Seq(("codec.warc_ts.encode_mbps",
        orig / 1e6 / secsPerCall(IntBlockCodec.encodeNullable(ts, valid, PhysicalIntType.I64)), "MB/s"),
        ("codec.warc_ts.decode_mbps", orig / 1e6 / secsPerCall(IntBlockCodec.decodeNullable(enc)), "MB/s"),
        ("codec.warc_ts.ratio", orig.toDouble / enc.length, "ratio"))
    } ++ Seq(
      ("codec.fsst_train_ms", secsPerCall(FsstLite.train(strCol("text").iterator)) * 1e3, "ms"),
      ("codec.chooser_ms", secsPerCall(CodecChooser.choose(ts, PhysicalIntType.I64)) * 1e3, "ms"))

    // the chooser's picks on the store the workload wrote, by codec family
    val picks = DecodeJob.blocks(spark, store).groupBy(col("column"), col("codec")).count().collect()
      .map(r => (r.getString(0), r.getString(1).takeWhile(_ != '('), r.getLong(2)))
    def picked(c: String, fam: String): Double =
      picks.iterator.filter(p => p._1 == c && p._2 == fam).map(_._3).sum.toDouble
    val blocks = StrCols.flatMap(c => StrCodecs.map(f => (s"codec.$c.blocks.$f", picked(c, f), "count"))) ++
      IntFamilies.map(f => (s"codec.warc_ts.blocks.$f", picked("warc_ts", f), "count"))

    // graft.jobs: the encode kernel on one sorted part, and the two url samplers
    val encRows = rows.sortBy(r => new String(r.getAs[Array[Byte]](0), UTF_8)).map(r =>
      (0, r.getAs[Array[Byte]](0), r.getLong(1), true, r.getAs[Array[Byte]](2),
        r.getAs[Array[Byte]](3), r.getAs[Array[Byte]](4)))
    val encodeS = secsPerCall(EncodeJob.encodePartition(encRows.iterator).foreach(_ => ()))
    val urls = spark.read.parquet(input).select("url").as[String]
    val jobs = Seq(
      ("jobs.encode_partition_rows_per_s", encRows.length / encodeS, "1/s"),
      ("jobs.boundaries_s.reservoir", secsPerCall(EncodeJob.countAndUrlBoundaries(urls, _ => 8)), "s"),
      ("jobs.boundaries_s.hash", secsPerCall(EncodeJob.computeUrlBoundaries(urls, 8)), "s"))

    // graft.sources: the manifest read and the snapshot count of the store
    val sources = Seq(
      ("sources.manifest_read_ms", secsPerCall(SnapshotStore.currentEntries(store)) * 1e3, "ms"),
      ("sources.snapshots", SnapshotStore.snapshotIds(store).size.toDouble, "count"))

    core ++ codec ++ blocks ++ jobs ++ sources
  }
}
