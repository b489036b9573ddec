package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One call into the engine inside an op (an op may make several). */
final case class CallRec(kind: String, ms: Double, group: String, timed: Boolean, traced: Boolean,
    spanId: Long)

/** One op of the closed loop: its latency is the sum of its calls, checks excluded. */
final case class OpRec(ms: Double, timed: Boolean, traced: Boolean)

/** Planning breakdown of one DataFrame call. `first` = first time this statement ran on
  * this store snapshot. The last two fields are filled for selective queries in traced runs. */
final case class DfRec(kind: String, first: Boolean, optimizeMs: Double, planMs: Double,
    execMs: Double, traced: Boolean, keptFraction: Option[Double] = None,
    scannedPerReturned: Option[Double] = None)

object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Seq[BatchScanExec] = collect(p) { case b: BatchScanExec => b }
}

/**
 * Closed-loop runner shared by the workloads: one client, each op starts when the
 * previous one has finished. Counts every op attempted and every op that threw or
 * failed its check; a failed op keeps its latency sample. When a [[Tracer]] is
 * attached, ops, calls and query phases also become spans.
 */
final class Harness(val spark: SparkSession) {
  var tracer: Option[Tracer] = None
  /** Set while the measured loop runs; set-up and warm-up ops are untimed. */
  var timed = false

  val ops = mutable.ArrayBuffer[OpRec]()
  val calls = mutable.ArrayBuffer[CallRec]()
  val dfs = mutable.ArrayBuffer[DfRec]()
  var attempted = 0
  var failed = 0

  private var nextOp = 0L
  private var curOp = 0L
  private var curOpSpan = 0L
  private var curCallSpan = 0L
  private var callMsInOp = 0.0
  private val seenStatements = mutable.Set[String]()

  private def spanId(): Long = tracer.map(_.newId()).getOrElse(0L)

  /** Runs one op; `body` makes the calls and returns whether every check passed. */
  def op(kind: String)(body: => Boolean): Boolean = {
    nextOp += 1
    curOp = nextOp
    curOpSpan = spanId()
    callMsInOp = 0.0
    attempted += 1
    val s0 = Clock.nowMs
    val ok = try {
      val passed = body
      if (!passed) System.err.println(s"op #$curOp $kind: check failed")
      passed
    } catch {
      case e: Throwable =>
        System.err.println(s"op #$curOp $kind threw: $e")
        false
    }
    if (!ok) failed += 1
    ops += OpRec(callMsInOp, timed, tracer.isDefined)
    tracer.foreach(_.add(Span(curOpSpan, 0L, curOp, kind, s0, Clock.nowMs)))
    ok
  }

  /** One timed call into the engine; its Spark jobs run under a job group of their own. */
  def call[T](kind: String)(f: => T): T = {
    val group = s"op-$curOp-${calls.size}-$kind"
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val id = spanId()
    curCallSpan = id
    val s0 = Clock.nowMs
    val t0 = System.nanoTime()
    try f
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      sc.clearJobGroup()
      callMsInOp += ms
      calls += CallRec(kind, ms, group, timed, tracer.isDefined, id)
      tracer.foreach(_.add(Span(id, curOpSpan, curOp, kind, s0, s0 + ms)))
    }
  }

  private def phase[T](name: String)(f: => T): (T, Double) = {
    val s0 = Clock.nowMs
    val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.foreach(t => t.add(Span(t.newId(), curCallSpan, curOp, name, s0, s0 + ms)))
    (r, ms)
  }

  /**
   * A DataFrame call split into optimize (analysis + logical rules), plan (physical
   * planning + the scans' input partitions) and exec (the action). Every DataFrame
   * call takes this path, traced or not, so tracing adds spans and nothing else.
   */
  def dfCall[T](kind: String, statement: String, scope: String)(build: => DataFrame)
      (action: DataFrame => T): (T, DataFrame) = call(kind) {
    val (df, optMs) = phase("optimize") { val d = build; d.queryExecution.optimizedPlan; d }
    val (_, planMs) = phase("plan") {
      PlanWalk.scans(df.queryExecution.executedPlan).foreach(_.inputPartitions)
    }
    val (r, execMs) = phase("exec")(action(df))
    dfs += DfRec(kind, seenStatements.add(s"$scope|$statement"), optMs, planMs, execMs,
      tracer.isDefined)
    (r, df)
  }

  /** Attaches the planning stats of the last [[dfCall]] (traced selective queries). */
  def annotateLast(kept: Option[Double], scannedPerReturned: Option[Double]): Unit =
    dfs(dfs.length - 1) = dfs.last.copy(keptFraction = kept, scannedPerReturned = scannedPerReturned)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
