package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: one workload, one local[4] session, one closed-loop client.
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *        --spans <file> [--inject-mismatch]
 *
 * Set-up runs [[SetupRounds]] times (fresh inputs, fixtures and one untimed op of
 * each kind every time) and reports the median as `setup_s`. The measured loop then
 * runs for `--seconds`. With `--trace 1` a Spark listener is attached, every other
 * op of the loop records spans, the three full-read paths run traced over the
 * workload's store, and the layer probes run; the per-layer metrics are printed
 * instead of the end-to-end ones. The last stdout line is the result object.
 */
object Main {
  val SetupRounds = 3
  val Threads = 4
  val TracedReads = 3

  /** The call kinds whose Spark stages the traced run attributes. */
  val StageKinds = Seq("encode_job", "sql_write", "query", "append") ++ ReadPaths.Kinds

  /** Per-layer metric prefix -> the end-to-end metric it should move, and on which
    * workload. Printed beside every per-layer value of a traced run. */
  val Moves: Seq[(String, String)] = Seq(
    "core." -> "ops_per_s, op_p50_ms, compression_ratio on bulk_encode; no change on lookup_append",
    "codec." -> ("ops_per_s, op_p50_ms, compression_ratio on bulk_encode; " +
      "op_p50_ms on lookup_append (appends, decode of kept groups)"),
    "jobs." -> "ops_per_s, op_p50_ms on bulk_encode; no change on lookup_append",
    "stage.encode_job" -> "op_p50_ms on bulk_encode",
    "stage.sql_write" -> "op_p50_ms on bulk_encode",
    "stage.query" -> "op_p50_ms on lookup_append",
    "stage.append" -> "ops_per_s on lookup_append",
    "stage." -> "no gated metric: the full-read paths run only in traced runs (full_scan dropped)",
    "read." -> "no gated metric: the full-read paths run only in traced runs (full_scan dropped)",
    "sources." -> "op_p50_ms, ops_per_s on lookup_append; no change on bulk_encode",
    "plans." -> "op_p50_ms on lookup_append; no change on bulk_encode",
    "trace." -> "none: the cost and attribution of tracing")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      spans: String, injectMismatch: Boolean)

  def parse(args: Array[String]): Args = {
    def opt(k: String): Option[String] = args.sliding(2).collectFirst { case Array(`k`, v) => v }
    def need(k: String): String = opt(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      opt("--trace").contains("1"), need("--work"), need("--spans"),
      args.contains("--inject-mismatch"))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "bulk_encode" =>
      val w = new BulkEncode(spark, a.seed, pages = 12000, parts = 8)
      if (a.injectMismatch) w.injectMismatch()
      w
    case "lookup_append" =>
      new LookupAppend(spark, a.seed, pages = 16000, parts = 8, appendPages = 1000, appendEvery = 10)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The measured closed loop, a calibration sample before each op. With a tracer, odd
    * ops are traced and even ops are not, so both kinds see the same JIT and host state. */
  private def loop(h: Harness, w: Workload, seconds: Double, tracer: Option[Tracer]): Unit = {
    h.timed = true
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) {
      h.tracer = if (i % 2 == 1) tracer else None
      Calibration.sample(h.spark)
      w.step(h, i)
      i += 1
    }
    h.tracer = tracer
    h.timed = false
  }

  private def opMs(h: Harness, traced: Boolean): Seq[Double] =
    h.ops.iterator.filter(o => o.timed && o.traced == traced).map(_.ms).toSeq

  /** Exits non-zero, without a result, when anything outside a checked op fails. */
  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(2)
    }

  private def run(a: Args): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a.work)
    val h = new Harness(spark)
    val w = workload(a, spark)

    val setupS = (0 until SetupRounds).map { r =>
      Data.delete(s"${a.work}/round${r - 1}")
      val t0 = System.nanoTime()
      w.setup(h, s"${a.work}/round$r")
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"setup rounds (s): ${setupS.map(s => f"$s%.3f").mkString(" ")}")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        loop(h, w, a.seconds, None)
        w.finish(h)
        val ms = opMs(h, traced = false)
        report(h, w)
        // the loop's time metrics at the calibration's reference host speed
        val speed = Calibration.speed
        Seq(("setup_s", Stats.median(setupS), "s"),
          ("op_p50_ms", Stats.median(ms) * speed, "ms"),
          ("ops_per_s", if (ms.isEmpty) 0.0 else ms.size / (ms.sum / 1e3) / speed, "1/s"),
          ("compression_ratio", w.compressionRatio, "ratio"))
      } else {
        val tracer = new Tracer
        spark.sparkContext.addSparkListener(tracer)
        loop(h, w, a.seconds, Some(tracer))
        val exp = ReadPaths.expect(spark, w.storeInputs)
        for (i <- 0 until TracedReads)
          h.op("read")(ReadPaths.readAll(h, w.store, exp, ReadPaths.Kinds.indices.map(k => (k + i) % 3)))
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        h.tracer = None
        w.finish(h)
        val layer = traced(h, tracer, a.spans, exp.bytes) ++
          Probes.run(spark, w.probeInput, w.store, a.seed)
        printLayers(layer)
        layer
      }

    System.err.println("fingerprint " + w.fingerprint.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}"))
    val json = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$x,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    spark.stop()
    Data.delete(s"${a.work}/round${SetupRounds - 1}")
    println(s"""{"correct":${h.failed == 0},"attempted":${h.attempted},"failed":${h.failed},"metrics":$json}""")
  }

  /** The workload's per-path figures, unscaled, by name with unit and sample count (stderr). */
  private def report(h: Harness, w: Workload): Unit = {
    val ms = opMs(h, traced = false)
    System.err.println(s"workload ${w.name}: ${ms.size} timed ops, ${h.attempted} attempted, ${h.failed} failed")
    System.err.println(ms.map(x => f"$x%.0f").mkString("  op ms (unscaled): ", " ", ""))
    System.err.println("  " + Calibration.describe)
    (w.pathMetrics(h) :+ (("error_rate", h.failed.toDouble / math.max(h.attempted, 1), "ratio", h.attempted)))
      .foreach { case (n, v, u, k) => System.err.println(f"  $n%-22s $v%14.4f $u%-6s n=$k") }
  }

  private def covered(st: Seq[StageRec]): Double =
    Trace.covered(st.map(s => (s.startMs, s.endMs)), Double.MinValue, Double.MaxValue)

  /** Per-layer metrics from the traced calls: the loop's traced ops and the read paths. */
  private def traced(h: Harness, tracer: Tracer, spansOut: String, storeBytes: Long)
      : Seq[(String, Double, String)] = {
    val calls = h.calls.filter(_.traced).toSeq
    val stagesByGroup = tracer.stages.groupBy(_.group)
    val stage = StageKinds.flatMap { kind =>
      val per = calls.filter(_.kind == kind).map { c =>
        val st = stagesByGroup.getOrElse(c.group, Nil)
        val skew = if (st.isEmpty) 0.0 else {
          val longest = st.maxBy(s => s.endMs - s.startMs)
          val med = Stats.median(longest.taskMs.map(_.toDouble))
          if (longest.taskMs.isEmpty || med <= 0) 1.0 else longest.taskMs.max / med
        }
        (covered(st) / 1e3, st.map(_.cpuS).sum, st.map(_.gcS).sum, st.map(_.shuffleWriteBytes).sum / 1e6, skew)
      }
      Seq((s"stage.$kind.wall_s", Stats.median(per.map(_._1)), "s"),
        (s"stage.$kind.task_cpu_s", Stats.median(per.map(_._2)), "s"),
        (s"stage.$kind.gc_s", Stats.median(per.map(_._3)), "s"),
        (s"stage.$kind.shuffle_write_mb", Stats.median(per.map(_._4)), "MB"),
        (s"stage.$kind.task_skew", Stats.median(per.map(_._5)), "ratio"))
    }

    def readMs(kind: String): Seq[Double] = calls.filter(_.kind == kind).map(_.ms)
    val read = Seq(
      ("read.scan_gbps", Workload.gbps(storeBytes, readMs("scan")), "GB/s"),
      ("read.decode_job_gbps", Workload.gbps(storeBytes, readMs("decode_job")), "GB/s"),
      ("read.projected_scan_ms", Stats.median(readMs("projected_scan")), "ms"))

    val queries = h.dfs.filter(d => d.traced && d.kind == "query").toSeq
    val appendDriver = calls.filter(_.kind == "append")
      .map(c => c.ms - covered(stagesByGroup.getOrElse(c.group, Nil)))
    val sources = Seq(
      ("sources.plan_ms.first", Stats.median(queries.filter(_.first).map(_.planMs)), "ms"),
      ("sources.plan_ms.repeat", Stats.median(queries.filterNot(_.first).map(_.planMs)), "ms"),
      ("sources.exec_ms", Stats.median(queries.map(_.execMs)), "ms"),
      ("sources.groups_kept_fraction", Stats.median(queries.flatMap(_.keptFraction)), "ratio"),
      ("sources.rows_scanned_per_row_returned", Stats.median(queries.flatMap(_.scannedPerReturned)), "ratio"),
      ("sources.append_driver_ms", Stats.median(appendDriver), "ms"),
      ("plans.optimize_ms", Stats.median(queries.map(_.optimizeMs)), "ms"))

    // spans: ops, calls and DataFrame phases from the harness, stages from the listener
    val spanById = tracer.allSpans.map(s => s.id -> s).toMap
    val callSpanOfGroup = calls.flatMap(c => spanById.get(c.spanId).map(c.group -> _)).toMap
    val spans = tracer.allSpans ++ tracer.stageSpans(callSpanOfGroup)
    Files.createDirectories(Paths.get(spansOut).getParent)
    Trace.writeJsonl(spansOut, spans)
    val self = Trace.selfTimes(spans)
    val callTotal = calls.map(_.ms).sum
    val stageCovered = calls.map(c => covered(stagesByGroup.getOrElse(c.group, Nil))).sum
    System.err.println("self time by span name, summed over the traced ops (parallel stages overlap):")
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).foreach { case (n, ss) =>
      System.err.println(f"  $n%-16s ${ss.map(s => self(s.id)).sum}%12.1f ms  n=${ss.size}")
    }

    val untracedP50 = Stats.median(opMs(h, traced = false))
    val tracedP50 = Stats.median(opMs(h, traced = true))
    val tr = Seq(
      ("trace.overhead_pct", if (untracedP50 > 0) (tracedP50 / untracedP50 - 1) * 100 else 0.0, "%"),
      ("trace.stage_share", if (callTotal > 0) stageCovered / callTotal else 0.0, "ratio"),
      ("trace.spans", spans.size.toDouble, "count"))
    stage ++ read ++ sources ++ tr
  }

  private def printLayers(layer: Seq[(String, Double, String)]): Unit = {
    System.err.println(f"${"per-layer metric"}%-40s ${"value"}%14s unit   should move")
    layer.foreach { case (n, v, u) =>
      val moves = Moves.find(m => n.startsWith(m._1)).map(_._2).getOrElse("")
      System.err.println(f"$n%-40s $v%14.4f $u%-6s $moves")
    }
  }
}
