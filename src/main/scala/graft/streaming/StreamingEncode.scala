package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.sources.v2.GraftDataSource.PageSchema

/**
 * Streaming surface. The codec core is explicitly single-pass with O(1) state
 * (reference: README.md:5-6, src/golomb.h:173-175), so the batch kernels slot into
 * Structured Streaming unchanged:
 *
 *  - [[encodeStream]]: readStream -> the native graft sink
 *    ([[graft.sources.v2.GraftStreamingWrite]]), whose writer tasks run the
 *    same block kernel as the batch job. Each micro-batch ends in an atomic
 *    snapshot commit; Spark's streaming checkpoint + the store's manifest give
 *    end-to-end exactly-once block commits (a replayed batch's staging is
 *    dropped once its row total matches the committed one).
 *  - [[windowedLangCounts]]: watermarked event-time windows over page arrivals —
 *    late data beyond the watermark is dropped by Spark, counts are append-mode.
 *  - [[dedupStream]]: stateful exact dedup by content fingerprint via
 *    flatMapGroupsWithState (first occurrence passes, repeats drop; state expires).
 */
object StreamingEncode {

  /** Encode a streaming pages source into the snapshot store, one commit per
    * batch: `pages` (the page columns, by name) through
    * `writeStream.format("graft")` with `parts` writer tasks per batch. */
  def encodeStream(pages: DataFrame, root: String, parts: Int,
                   checkpointDir: String): StreamingQuery = {
    // the exactly-once namespace is batchId*parts — a RESTART with a different
    // `parts` would re-home a replayed batch into fresh (uncommitted) ids.
    // Pinning it here, before the query starts, makes a mismatch (or a
    // non-fresh store) fail at call time; the sink then asks Spark for
    // exactly the pinned width.
    checkStreamParts(root, parts)
    pages.select(PageSchema.fieldNames.toIndexedSeq.map(col): _*)
      .writeStream
      .format("graft")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start(root)
  }

  /** The stream width pinned in the STREAM_PARTS sidecar, if this store has
    * ever been a streaming-write target. The native V2 sink's write plan reads
    * this so a RESTARTED stream always asks Spark for the pinned width — the
    * width must never track a mutable session conf
    * (`spark.graft.write.partitions` set for an unrelated big batch write
    * would otherwise kill every subsequent epoch of the stream). */
  private[graft] def pinnedStreamParts(root: String): Option[Int] = {
    val p = java.nio.file.Paths.get(root, "STREAM_PARTS")
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
  }

  /** Pins (or validates) the batchId*parts namespace in the STREAM_PARTS
    * sidecar: [[encodeStream]] calls it before starting, and the sink
    * ([[graft.sources.v2.GraftStreamingWrite]]) on each run's first epoch. */
  private[graft] def checkStreamParts(root: String, parts: Int): Unit = {
    pinnedStreamParts(root) match {
      case Some(prev) =>
        require(prev == parts,
          s"stream at $root was started with parts=$prev; restarting with parts=$parts " +
          "would break the exactly-once part-id namespace (batchId*parts) — keep the " +
          "original value or start a fresh store+checkpoint")
      case None =>
        // a store already holding batch/SQL-written parts cannot become a stream
        // target: streaming batch 0 would reuse ids 0..parts-1, which the sink
        // takes for an already-committed batch — its rows would never encode.
        // (The reverse direction is guarded in GraftBatchWrite.)
        val preexisting = graft.sources.SnapshotStore.committedPartIds(root)
          .filter(_ >= 0)
        require(preexisting.isEmpty,
          s"store at $root already holds batch/SQL-written part ids " +
          s"${preexisting.toSeq.sorted.take(5)}...; streaming encode needs a fresh " +
          "store (its exactly-once namespace is batchId*parts starting at 0) — " +
          "stream into a new root, or keep appending via the batch/SQL writers")
        // crash-safe write: a truncated file would make trim.toInt throw on
        // every later restart, permanently blocking the stream
        graft.sources.SnapshotStore.writeSidecar(root, "STREAM_PARTS", parts.toString)
    }
  }

  /** Watermarked TUMBLING-window page counts per lang (event time = warc_ts). */
  def windowedLangCounts(pages: DataFrame, watermark: String = "1 hour",
                         win: String = "1 hour"): DataFrame =
    pages
      .withColumn("warc_ts", col("warc_ts").cast("timestamp"))
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), win), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("lang"), col("cnt"))

  /** Existence-only dedup state; the payload is a deterministic constant so
    * checkpointed state bytes do not vary across task retries.
    *
    * Compatibility: this shape replaced an earlier `firstSeenBatchMs: Long`
    * field. Spark's state-schema check rejects a restart of a PRE-change
    * checkpoint against the new shape — dedup streams checkpointed on the old
    * schema need a fresh checkpoint directory (the store itself is unaffected:
    * its exactly-once guarantee is the sink's epoch commit, not this state). */
  final case class SeenState(seen: Boolean)
  final case class DedupIn(fp: Long, url: String)

  /**
   * Stateful streaming exact-dedup: keeps one state entry per content fingerprint,
   * emits only first occurrences. With `ttlMs > 0` state expires after that much
   * processing-time inactivity (bounded state at web scale). Caveat: Spark 4.1's
   * AvailableNow trigger schedules an extra timeout batch for ProcessingTimeTimeout
   * that can hit an internal planner NPE — use a ProcessingTime trigger with the
   * TTL path. `ttlMs <= 0` keeps state forever (NoTimeout), safe under any trigger.
   */
  def dedupStream(pages: Dataset[DedupIn], ttlMs: Long): Dataset[DedupIn] = {
    import pages.sparkSession.implicits._
    val mode =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    pages
      .groupByKey(_.fp)
      .flatMapGroupsWithState[SeenState, DedupIn](OutputMode.Append, mode) {
        (_: Long, rows: Iterator[DedupIn], state: GroupState[SeenState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            Iterator.empty // duplicates of an already-seen fingerprint
          } else {
            state.update(SeenState(seen = true))
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            rows.take(1) // first occurrence wins; same-batch repeats drop too
          }
      }
  }
}
