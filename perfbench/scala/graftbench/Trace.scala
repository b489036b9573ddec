package graftbench

import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds; `parent` is 0 for an op's root span. */
final case class Span(id: Long, parent: Long, opId: Long, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Aggregate of one completed Spark stage, attributed to the call whose job group ran it. */
final case class StageRec(group: String, stageId: Int, startMs: Double, endMs: Double,
    cpuS: Double, gcS: Double, shuffleWriteBytes: Long, taskMs: Seq[Long])

object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with Spark's stage times. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/**
 * In-memory span store and Spark listener for the traced run. Spans are kept until
 * the end of the run and written once; stages are linked to the benchmark's calls
 * through the job group each call sets.
 */
final class Tracer extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private val groupOfStage = mutable.Map[Int, String]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageRecs = mutable.ArrayBuffer[StageRec]()

  def newId(): Long = synchronized { nextId += 1; nextId }
  def add(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized(spans.toList)
  def stages: Seq[StageRec] = synchronized(stageRecs.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => e.stageInfos.foreach(si => groupOfStage(si.stageId) = group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (group <- groupOfStage.get(si.stageId); start <- si.submissionTime; end <- si.completionTime) {
      val m = si.taskMetrics
      stageRecs += StageRec(group, si.stageId, start.toDouble, end.toDouble,
        if (m == null) 0.0 else m.executorCpuTime / 1e9,
        if (m == null) 0.0 else m.jvmGCTime / 1e3,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        taskMs.remove(si.stageId).map(_.toList).getOrElse(Nil))
    }
  }

  /** Stage spans, each parented to the phase of its call that covers its submission (a
    * DataFrame call's plan or exec phase), else to the call itself. */
  def stageSpans(callSpanOfGroup: Map[String, Span]): Seq[Span] = {
    val byParent = allSpans.groupBy(_.parent)
    stages.flatMap { st =>
      callSpanOfGroup.get(st.group).map { call =>
        val phase = byParent.getOrElse(call.id, Nil)
          .find(p => p.startMs <= st.startMs && st.startMs <= p.endMs)
        Span(newId(), phase.getOrElse(call).id, call.opId, "stage", st.startMs, st.endMs)
      }
    }
  }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - covered(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)),
      s.startMs, s.endMs))).toMap
  }

  def writeJsonl(path: String, spans: Seq[Span]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""" += '\n'
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
