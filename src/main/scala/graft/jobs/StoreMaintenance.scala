package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.sources.SnapshotStore

/**
 * Operational maintenance entrypoint (spark-submit): OPTIMIZE-style compaction of
 * fragmented small parts (after [[CompactJob.upgrade]] copies the blocks of a
 * store written before native block files), then snapshot expiry + orphan
 * sweep. The two run in this order on purpose — compaction is what strands
 * old data dirs, so expiring after it is when space is actually reclaimed.
 *
 * Usage: StoreMaintenance <storeRoot> [minRows] [keepSnapshots]
 */
object StoreMaintenance {

  final case class MaintenanceResult(
      compacted: CompactJob.CompactResult,
      expired: SnapshotStore.ExpireResult)

  def run(spark: SparkSession, root: String,
          minRows: Long = EncodeJob.BlockSize / 2,
          keepSnapshots: Int = 1,
          orphanGraceMs: Long = 3600000L): MaintenanceResult = {
    val compacted = CompactJob.run(spark, root, minRows)
    val expired = SnapshotStore.expireSnapshots(root, keepSnapshots, orphanGraceMs)
    MaintenanceResult(compacted, expired)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StoreMaintenance <storeRoot> [minRows] [keepSnapshots]")
    val root = args(0)
    val minRows = if (args.length > 1) args(1).toLong else EncodeJob.BlockSize / 2
    val keep = if (args.length > 2) args(2).toInt else 1
    val spark = LocalSession.create("graft-maintenance")
    val res = run(spark, root, minRows, keep)
    println(s"compacted: ${res.compacted}")
    println(s"expired: snapshots=${res.expired.removedSnapshots.size} " +
      s"dirs=${res.expired.removedDataDirs.size} bytes=${res.expired.removedBytes}")
    spark.stop()
  }
}
