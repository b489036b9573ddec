package graft.sources.v2

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.jobs.{EncodeJob, LocalSession}
import graft.sources.Webtext

/**
 * Per-phase timing of the three selective query templates of a lookup
 * workload on one store: url prefix AND lang, a 10-minute `warc_ts` range,
 * and `url >= x ORDER BY url LIMIT 40`. The store holds 16,000 pages written
 * by [[EncodeJob]] in 8 parts plus six 1,000-page V2 appends, in a local[4]
 * session.
 *
 *   sbt "Test/runMain graft.sources.v2.QueryTiming [rounds] [warmups]"
 *
 * Each round runs every template twice, with a literal no query used before
 * ("distinct") and with the template's one fixed literal ("repeated"), all
 * interleaved, so both see the same warmed JIT and the same window of host
 * noise; the first rounds are warm-ups and are not reported. Per query it
 * measures:
 *  - load+view: `load(root)` and `createOrReplaceTempView`;
 *  - optimize: `spark.sql` and the optimized plan;
 *  - plan: the executed plan and the scans' input partitions;
 *  - exec: `collect()`;
 *  - stage: summed wall time of the query's Spark stages;
 *  - compiles: whole-stage and expression classes Janino compiled.
 * Defaults: 20 rounds after 5 warm-ups. Prints, per template and literal
 * mode, the median and quartiles of each phase in ms and the mean compiles
 * per query.
 */
object QueryTiming extends AdaptiveSparkPlanHelper {
  private val Langs = Array("en", "zh", "de", "es", "fr", "ru", "ja", "pt", "it", "nl")
  private val BaseMicros = 1735689600000000L
  private val Templates = Seq("url prefix AND lang", "warc_ts range", "top-40 by url")
  private val Phases = Seq("load+view", "optimize", "plan", "exec", "stage")

  /** Template `t`'s SQL for draw `r`, as the lookup workload draws it. A
    * `warc_ts` range starts `unique` micros later, so no two draws share a
    * timestamp literal; string literals do not reach the generated code. */
  private def sql(t: Int, r: java.util.Random, unique: Long): String = {
    // hosts skewed like the generator's Zipf host ranks
    val h = math.min((math.pow(4096.0, r.nextDouble()) - 1.0).toInt, 4095)
    t match {
      case 0 =>
        s"SELECT url, warc_ts, lang FROM pages WHERE url LIKE 'https://host-$h.example.com/%' " +
          s"AND lang = '${Langs(r.nextInt(if (r.nextBoolean()) 3 else Langs.length))}'"
      case 1 =>
        val lo = BaseMicros + h * 3600000000L + r.nextInt(40) * 2400000000L + unique
        s"SELECT url, warc_ts, lang FROM pages WHERE warc_ts >= timestamp_micros($lo) " +
          s"AND warc_ts < timestamp_micros(${lo + 600000000L})"
      case _ =>
        s"SELECT url, warc_ts, lang FROM pages WHERE url >= " +
          s"'https://host-$h.example.com/p/${Integer.toHexString(r.nextInt(16))}' " +
          "ORDER BY url LIMIT 40"
    }
  }

  /** Wall time of each completed stage and the stages of each job, until the
    * job's end arrives. */
  private final class StageWall extends SparkListener {
    private val stagesOf = mutable.Map[Int, Seq[Int]]()
    private val wallMs = mutable.Map[Int, Double]()
    private val ended = mutable.Set[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      stagesOf(e.jobId) = e.stageIds
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        wallMs(e.stageInfo.stageId) = (c - s).toDouble
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }

    /** Summed stage wall of `jobs`, once every one of them has ended. */
    def wall(jobs: Seq[Int]): Double = {
      val deadline = System.nanoTime() + 10000000000L
      while (synchronized(!jobs.forall(ended)) && System.nanoTime() < deadline) Thread.sleep(1)
      synchronized(jobs.flatMap(j => stagesOf.getOrElse(j, Nil)).flatMap(wallMs.get).sum)
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: Int) = if (args.length > i) args(i).toInt else default
    val rounds = arg(0, 20)
    val warmups = arg(1, 5)

    val dir = Files.createTempDirectory("graft-query-timing-").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("query-timing")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    val listener = new StageWall
    spark.sparkContext.addSparkListener(listener)
    try {
      import spark.implicits._
      val root = s"$dir/store"
      EncodeJob.run(spark, Webtext.generate(spark, 16000L, 8), root, parts = 8)
      for (a <- 0 until 6)
        spark.range(16000L + a * 1000L, 17000L + a * 1000L, 1L, 1).map(id => Webtext.page(id))
          .write.format("graft").mode("append").save(root)

      // (template, repeated) -> phase -> ms per round; and compiles per round
      val ms = mutable.Map[(Int, Boolean), Array[mutable.ArrayBuffer[Double]]]()
      val compiles = mutable.Map[(Int, Boolean), mutable.ArrayBuffer[Long]]()
      val draws = new java.util.Random(7L)
      var unique = 1L
      var group = 0
      for (round <- 0 until warmups + rounds; t <- Templates.indices; repeated <- Seq(false, true)) {
        val q =
          if (repeated) sql(t, new java.util.Random(1000L + t), 0L)
          else { unique += 1; sql(t, draws, unique) }
        group += 1
        spark.sparkContext.setJobGroup(s"q$group", q, interruptOnCancel = false)
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (_, load) = timed(spark.read.format("graft").load(root).createOrReplaceTempView("pages"))
        val (query, optimize) = timed {
          val df = spark.sql(q)
          df.queryExecution.optimizedPlan
          df
        }
        val (_, plan) = timed {
          collect(query.queryExecution.executedPlan) { case b: BatchScanExec => b }
            .foreach(_.inputPartitions)
        }
        val (_, exec) = timed(query.collect())
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        spark.sparkContext.clearJobGroup()
        val stage = listener.wall(spark.sparkContext.statusTracker.getJobIdsForGroup(s"q$group")
          .toSeq)
        if (round >= warmups) {
          val key = (t, repeated)
          val m = ms.getOrElseUpdate(key, Array.fill(Phases.size)(mutable.ArrayBuffer[Double]()))
          Seq(load, optimize, plan, exec, stage).zip(m).foreach { case (v, b) => b += v }
          compiles.getOrElseUpdate(key, mutable.ArrayBuffer[Long]()) += compiled
        }
      }

      println(s"rounds=$rounds warmups=$warmups store=16000+6x1000 pages local[4]")
      println("ms per query: p50 [q1, q3]")
      for (t <- Templates.indices; repeated <- Seq(false, true)) {
        val key = (t, repeated)
        val phases = Phases.zip(ms(key)).map { case (p, b) =>
          val s = b.sorted
          def q(f: Double) = s(math.min(s.length - 1, (f * (s.length - 1)).round.toInt))
          f"$p ${q(0.5)}%.1f [${q(0.25)}%.1f, ${q(0.75)}%.1f]"
        }
        val c = compiles(key)
        println(f"${Templates(t)}%-20s ${if (repeated) "repeated" else "distinct"}%-8s " +
          phases.mkString("  ") + f"  compiles/query ${c.sum.toDouble / c.size}%.2f")
      }
    } finally {
      spark.stop()
      LocalSession.deleteRecursively(new java.io.File(dir))
    }
  }
}
