package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.StringType

/**
 * Analyzer rule that pre-arranges batch writes into a graft store, replacing
 * the V2 write's `Distributions.ordered(url)` requirement with the batch
 * [[graft.jobs.EncodeJob]]'s layout plan. Why: Spark implements an ordered
 * distribution as a RANGE exchange, and a range exchange's physical planning
 * runs a SAMPLE job that computes the ENTIRE child query a second time (the
 * sampler projects out the sort key only AFTER materializing each row — for a
 * webtext write that is a full second scan/decode of multi-KB html+text
 * columns). Measured on this host it roughly halved SQL-write throughput vs
 * the batch job on identical input and decomposition (BENCH_r05: 0.074 vs
 * 0.174 GB/s; see BASELINE.md round-6 A/B).
 *
 * The arranged plan is the batch job's, expressed over the write's child:
 *
 *  1. one url-ONLY count-and-sample job ([[graft.jobs.EncodeJob.countAndUrlBoundaries]]
 *     — column-pruned through the child query, so it reads ~the url bytes, not
 *     the full rows);
 *  2. a pass-through exchange — `DirectShufflePartitionID(RangeBucketId(url))`
 *     makes the partition id BE the bucket id, so each task owns exactly one
 *     contiguous url range (the batch job's layout);
 *  3. an in-partition sort on url — identical to the job's
 *     `sortWithinPartitions(part_id, url)` since a task holds one bucket.
 *
 * The rewritten command carries `graft.internal.arranged=true` in its write
 * options; [[graft.sources.v2.GraftWriteBuilder]] then skips the distribution/
 * ordering requirement (the plan already provides it). Blocks keep tight url
 * bounds — one contiguous range per task means no gap-spanning blocks at all —
 * so the read paths' prefix/range pruning is preserved exactly.
 *
 * Partition sizing: `spark.graft.write.partitions` set -> that exact count
 * (the operator pinned it). Unset -> ~8Ki rows per task from the counted
 * input, capped at 4x the shuffle width — tiny appends get one well-sized
 * file and big writes no longer need the conf (the r5 range exchange was
 * AQE-coalesce-only, so an unset conf could OOM fat tasks).
 *
 * Scope: batch `AppendData`/`OverwriteByExpression` (df.write + INSERT INTO /
 * INSERT OVERWRITE, path- or catalog-based, and CTAS, whose exec appends
 * through an analyzed `AppendData`). Streaming epochs keep the
 * ordered-distribution fallback: a stream's micro-batches are deltas (the
 * double-compute is small and per-epoch). The rule degrades safely: any
 * sampling failure logs and leaves the command unchanged (ordered-distribution
 * path, correct but slower).
 *
 * Known cost, accepted: ONE url-only boundary pass (r7: count and sample
 * FOLDED into a single job — [[graft.jobs.EncodeJob.countAndUrlBoundaries]])
 * runs at ANALYSIS of the write command (the only hook that sees the query
 * plan for AppendData), so `EXPLAIN INSERT INTO <graft store> ...` pays one
 * url-column pass of the source before printing — the same job the real
 * INSERT would pay anyway, column-pruned to the sort key. Deferring it to
 * execution would need a custom exchange (Spark's own range exchange samples
 * lazily inside doExecute); not worth the machinery for an explain-only
 * path. The fired-evidence counter is NOT affected:
 * [[graft.sources.v2.GraftWrite]] increments it at `toBatch` (execution), so
 * explain never counts.
 */
case class GraftWriteArrangeRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftWriteArrangeRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case a @ AppendData(r: DataSourceV2Relation, query, opts, _, None, _)
        if a.resolved && isGraftStore(r) && !flagged(opts, r) =>
      arrange(query, sortKeyName(r)).map { q =>
        val (newOpts, newRel) = withFlag(opts, r)
        a.copy(table = newRel, query = q, writeOptions = newOpts)
      }.getOrElse(a)
    case o @ OverwriteByExpression(r: DataSourceV2Relation, _, query, opts, _, None, _)
        if o.resolved && isGraftStore(r) && !flagged(opts, r) =>
      arrange(query, sortKeyName(r)).map { q =>
        val (newOpts, newRel) = withFlag(opts, r)
        o.copy(table = newRel, query = q, writeOptions = newOpts)
      }.getOrElse(o)
    case other => other // write commands are plan roots; no need to recurse
  }

  private def isGraftStore(r: DataSourceV2Relation): Boolean =
    r.table.isInstanceOf[graft.sources.v2.GraftTable]

  /** The table's physical layout key. RangeBucketId buckets strings, so only
    * a STRING sort key arranges; a schema without one keeps the
    * ordered-distribution fallback (still range-laid-out, via Spark). */
  private def sortKeyName(r: DataSourceV2Relation): Option[String] = {
    val key = graft.sources.v2.GraftDataSource.sortKeyOf(r.table.schema())
    if (key.dataType == StringType) Some(key.name) else None
  }

  private def flagged(opts: Map[String, String], r: DataSourceV2Relation): Boolean =
    opts.contains(ArrangedKey) || r.options.containsKey(ArrangedKey)

  /** Plant the flag so V2Writes' merged options carry it, WITHOUT tripping its
    * `assert(writeOptions == relationOptions || either.isEmpty)`: the two maps
    * arrive equal (DataFrameWriter) or one-sided (SQL INSERT), so the flag must
    * land on exactly the sides that are already non-empty (or on writeOptions
    * when both are empty). */
  private def withFlag(opts: Map[String, String], r: DataSourceV2Relation)
      : (Map[String, String], DataSourceV2Relation) = {
    val newOpts =
      if (opts.nonEmpty || r.options.isEmpty) opts + (ArrangedKey -> "true") else opts
    val newRel =
      if (!r.options.isEmpty) {
        val j = new java.util.HashMap[String, String](r.options.asCaseSensitiveMap())
        j.put(ArrangedKey, "true")
        r.copy(options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(j))
      } else r
    (newOpts, newRel)
  }

  private def arrange(query: LogicalPlan, keyName: Option[String]): Option[LogicalPlan] = {
    val url = keyName.flatMap(k => query.output.find(_.name.equalsIgnoreCase(k)))
      .filter(_.dataType == StringType)
      .getOrElse(return None) // no string sort key / mismatch: ordered fallback
    try {
      val pinned = graft.sources.v2.GraftWriteLayout.confWritePartitions()
      val urlsDs = {
        import spark.implicits._
        Shim.ofRows(spark, query).select(col(url.name).as("url")).as[String]
      }
      // row count drives both the boundary weighting and (when the operator
      // did not pin spark.graft.write.partitions) the task count: ~8Ki
      // rows/task (~20MB at webtext page sizes), with a parallelism floor —
      // once a write is non-trivial (512+ rows/core) it should use the
      // shuffle width — and a 4x-width cap so big writes neither OOM fat
      // tasks (the r5 range exchange was AQE-coalesce-only) nor need the
      // conf; tiny appends get ONE well-sized file instead of
      // shuffle-partition-many shards. r7: count and boundary sample are ONE
      // url-only pass (EncodeJob.countAndUrlBoundaries) — the separate
      // count() job computed the child a second time, and for a child whose
      // url projection column pruning cannot cheapen, a third. The sampler
      // assumes deterministic upstream row order (its reservoir is seeded
      // per input partition): a child whose partitions deliver rows in a
      // varying order (e.g. straight out of a shuffle) gets different split
      // points per run. The write stays correct — the exchange buckets
      // every row by whatever boundaries this pass chose — but block
      // layout is then not reproducible across runs.
      val width = spark.sessionState.conf.numShufflePartitions.toLong
      val (_, parts, boundaries) = graft.jobs.EncodeJob.countAndUrlBoundaries(
        urlsDs, total =>
          if (pinned > 0) pinned
          else {
            val byRows = (total + 8191) / 8192
            val useCores = math.min(width, (total + 511) / 512)
            math.min(math.max(math.max(byRows, useCores), 1L), 4L * width).toInt
          })
      val bucket = graft.functions.RangeBucketId(url, boundaries.toSeq, 0)
      // DirectShufflePartitionID: partition id IS the bucket id — one
      // contiguous url range per task (the batch job's exact layout: tight
      // block bounds, no hash-collision task skew, no gap-spanning blocks)
      val exchanged = RepartitionByExpression(
        Seq(org.apache.spark.sql.catalyst.expressions.DirectShufflePartitionID(bucket)),
        query, Some(parts), None)
      Some(Sort(Seq(SortOrder(url, Ascending)), global = false, exchanged))
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning("graft write-arrange sampling failed; falling back to the " +
          s"ordered-distribution write path: $e")
        None
    }
  }
}

object GraftWriteArrangeRule {
  /** Write option marking a pre-arranged query; the builder skips
    * RequiresDistributionAndOrdering when set. */
  val ArrangedKey = "graft.internal.arranged"
  /** Test hook: arranged writes EXECUTED in this JVM (incremented by
    * GraftWrite.toBatch at execution, asserting the fast path actually ran,
    * not just that results match — a silently dead rule would otherwise read
    * as green via the fallback; rule-side counting would also miscount
    * EXPLAINed-but-never-run writes). */
  val arranged = new java.util.concurrent.atomic.AtomicLong(0)
}
