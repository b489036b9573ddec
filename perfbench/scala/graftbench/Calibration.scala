package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/**
 * Same-window host-speed normaliser. On a shared host whole minutes run slower: every
 * op of a run, set-up included, slows together. Before every op of the loop a fixed
 * Spark job with no graft code in it (a 4-partition range, hashed and summed) is
 * timed; the loop's time metrics are reported scaled by [[ReferenceMs]] over the
 * run's median of those samples, i.e. at the host speed where the job takes
 * [[ReferenceMs]]. The raw figures and the samples are printed beside them.
 */
object Calibration {
  /** The job's median on an idle 4-vCPU host of the kind the benchmark was sized on. */
  val ReferenceMs = 120.0

  private val samples = mutable.ArrayBuffer[Double]()

  def sample(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    spark.range(0, 2000000, 1, Main.Threads).selectExpr("sum(hash(id, cast(id as string)))").collect()
    samples += (System.nanoTime() - t0) / 1e6
  }

  /** Above 1 when the host runs the job faster than the reference, below 1 when slower. */
  def speed: Double = if (samples.isEmpty) 1.0 else ReferenceMs / Stats.median(samples.toSeq)

  def describe: String =
    f"calibration: ${samples.size} samples, median ${Stats.median(samples.toSeq)}%.1f ms, speed $speed%.4f"
}
