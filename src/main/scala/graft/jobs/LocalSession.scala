package graft.jobs

import org.apache.spark.sql.SparkSession

/** Shared local-mode session builder for the spark-submit entrypoints (encode /
  * decode / maintenance mains). Parallelism comes from SPARK_GRAFT_CPUS so the
  * N-vs-4N scaling evidence can drive the same binaries at both levels. */
object LocalSession {
  def create(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fresh tmpfs-backed scratch dir (falls back to /tmp when /dev/shm is not
    * writable) so measurements reflect compute, not sandbox disk noise.
    * Used by the `Bench` measurement main. */
  def tmpfsScratchDir(prefix: String): String = {
    val base = if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm" else "/tmp"
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(base), prefix).toString
  }

  def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }
}
