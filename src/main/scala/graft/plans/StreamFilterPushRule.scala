package graft.plans

import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
import org.apache.spark.sql.graftshim.Shim

import graft.sources.v2.{FilterConversion, GraftMicroBatchStream}

/**
 * Filter pushdown for the STREAMING read — the piece Spark's engine does not
 * provide: `MicroBatchExecution` builds a stream's scan via
 * `newScanBuilder(options).build().toMicroBatchStream(...)` with NO
 * `pushFilters`/`pruneColumns` calls (verified against the Spark 4.1
 * bytecode), so a filtered incremental consumer — the normal training-data
 * shape, new crawl snapshots -> filter lang/url -> dedup — would decode every
 * new part while the same query on the batch surface prunes groups.
 *
 * Each micro-batch's logical plan IS optimized per trigger, so this
 * read-only rule runs every batch: it finds `Filter` directly above a graft
 * [[StreamingDataSourceV2ScanRelation]] (PushDownPredicates has already
 * pushed filters through any projections by this point), translates the
 * conjuncts through Spark's own `DataSourceStrategy.translateFilter`, and
 * hands the resulting [[graft.sources.v2.ExactFilter]] leaves
 * ([[graft.sources.v2.FilterConversion.toLeaves]]) to the [[GraftMicroBatchStream]] —
 * whose next `planInputPartitions` prunes the batch's delta groups through
 * the same driver-side metadata planning as the batch scan. The Filter node itself
 * is NEVER removed (pruning is block-level and inexact; the residual keeps
 * results exact), so the rule rewrites nothing and is trivially sound: at
 * worst no predicate converts and the stream scans the whole delta, exactly
 * as before.
 *
 * Shared-stream safety: `MicroBatchExecution` dedups identical source nodes,
 * so a self-union (`s.where(a) union s.where(b)`) holds ONE stream instance
 * behind several relation nodes that all read the same planned partitions —
 * pruning by either branch's filter alone would silently drop the other
 * branch's rows. The rule therefore groups occurrences by stream instance
 * and pushes a filter's predicates only when that stream is referenced
 * exactly once in the plan and that reference sits under the Filter; any
 * other shape (multiple references, or a reference with no filter above it)
 * resets the stream's predicates to empty — full-delta scan, exact results.
 */
object StreamFilterPushRule extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // every graft stream reference in the plan, grouped by stream INSTANCE
    val refs = plan.collect {
      case r: StreamingDataSourceV2ScanRelation
          if r.stream.isInstanceOf[GraftMicroBatchStream] =>
        r.stream.asInstanceOf[GraftMicroBatchStream]
    }
    if (refs.isEmpty) return plan
    val refCount = refs.groupBy(identity).view.mapValues(_.size).toMap
    val pushed = scala.collection.mutable.Set.empty[GraftMicroBatchStream]
    plan.foreach {
      case Filter(cond, r: StreamingDataSourceV2ScanRelation)
          if r.stream.isInstanceOf[GraftMicroBatchStream] =>
        val stream = r.stream.asInstanceOf[GraftMicroBatchStream]
        if (refCount(stream) == 1) {
          // column types come from the relation's own output attributes — the
          // store's (possibly generalized) schema as this stream reads it
          val schema = org.apache.spark.sql.types.StructType(
            r.output.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))
          val preds = splitConjunctivePredicates(cond)
            .flatMap(e => Shim.translateFilter(e))
            .flatMap(f => FilterConversion.toLeaves(f, schema)._1)
          stream.setPushedPredicates(preds)
          pushed += stream
        }
      case _ => ()
    }
    // multi-referenced streams, and single references with no Filter above
    // them, must scan their whole delta (also clears stale predicates left
    // by a previous micro-batch if this batch's plan lost its Filter)
    refCount.keysIterator.filterNot(pushed).foreach(_.setPushedPredicates(Seq.empty))
    plan
  }
}
