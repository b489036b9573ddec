package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

/**
 * The Hadoop settings a graft read or write task runs with. Every block-file
 * scan factory ([[GraftReaderFactory]]) and every write task kernel
 * ([[GraftDataWriter]]) carries one, in place of a serialized session
 * `Configuration` (~110 KB, 1,000+ entries) or a broadcast of one.
 *
 * It holds only the entries set programmatically in the session:
 *  - session-conf keys, such as `spark.conf.set("fs.file.impl", ...)`;
 *  - keys set on `sparkContext.hadoopConfiguration`, the ones Spark
 *    derives from `spark.hadoop.*` included.
 * `spark.*` keys are dropped: neither Hadoop's FileSystem nor parquet-mr
 * reads them. Settings that come from XML resources (`core-default.xml`,
 * `core-site.xml`, ...) are not carried: a task reads those from its own
 * JVM's resources, as any Hadoop client does. Nor are the keys Spark sets by
 * itself, with the values it gives them ([[HadoopSettings.setBySpark]]), so
 * a default session's tasks share their JVM's conf instead of copying it.
 */
final case class HadoopSettings(entries: Array[(String, String)]) {

  /** The conf to open files with: Spark's per-JVM Hadoop conf as it is when
    * it already holds every entry, else one copy of it with the entries set.
    * Nothing is cached: a caller that needs the conf again keeps it. */
  def conf(): Configuration = {
    val base = Shim.jvmHadoopConf
    if (entries.forall { case (k, v) => v == base.getRaw(k) }) base
    else {
      val c = new Configuration(base)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }
}

object HadoopSettings {
  /** Hadoop keys Spark sets by itself, with the values it gives them: the
    * `spark.hadoop.*` defaults `SparkContext` adds when they are missing
    * (Spark 4.1: the S3A vectored-read sizes), and the metastore warehouse
    * dir `SharedState` copies from `spark.sql.warehouse.dir`. A task's JVM
    * conf never holds them, so carrying them would make every task copy its
    * conf, and no block-file read or write consults them: block files are
    * read by positioned reads, not vectored ones. A user's own value for such
    * a key is still carried. */
  private def setBySpark(spark: SparkSession): Map[String, String] =
    Map("fs.s3a.vectored.read.min.seek.size" -> "128K",
      "fs.s3a.vectored.read.max.merged.size" -> "2M") ++
      spark.conf.getOption("spark.sql.warehouse.dir").map("hive.metastore.warehouse.dir" -> _)

  /** The programmatic Hadoop settings of `spark`'s session, with the session
    * conf overriding the context's Hadoop conf as in Spark's own
    * `SessionState.newHadoopConf`. */
  def apply(spark: SparkSession): HadoopSettings = {
    val out = new java.util.LinkedHashMap[String, String]()
    val hc = spark.sparkContext.hadoopConfiguration
    val bySpark = setBySpark(spark)
    hc.iterator().asScala.foreach { e =>
      val sources = hc.getPropertySources(e.getKey)
      if (!e.getKey.startsWith("spark.") &&
          (sources == null || !sources.exists(_.endsWith(".xml"))) &&
          !bySpark.get(e.getKey).contains(e.getValue))
        out.put(e.getKey, e.getValue)
    }
    spark.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      if (!k.startsWith("spark.") && v != null) out.put(k, v)
    }
    HadoopSettings(out.asScala.toArray)
  }
}
