package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotStore
import graft.sources.v2.{GraftGroupedAgg, GraftScan, GraftTable}

/**
 * FILTERED grouped-aggregate answering from the manifest — the shape the
 * DataSource V2 pushdown contract cannot express: Spark only attempts
 * aggregate pushdown when NO post-scan filters remain. A filter the scan
 * claims leaves none, but the scan then declines the aggregate (the manifest
 * counts the unfiltered rows), and a `Not`/`Or`/LIKE condition stays a
 * residual, so `SELECT lang, count(*) FROM graft WHERE lang <> 'en' GROUP BY
 * lang` always decoded the store even though the unfiltered variant answers
 * from the manifest ([[graft.sources.v2.GraftGroupedAgg]], the V2 complete
 * pushdown).
 *
 * This optimizer rule closes that gap one level up, where the whole subtree
 * is visible: an `Aggregate(group = c)(Filter(cond)(graft relation))` whose
 * condition references ONLY the group column is replaced by a
 * [[LocalRelation]] of the manifest answer with `cond` evaluated EXACTLY per
 * group value on the driver (Catalyst expression eval over each dict value —
 * null three-valued logic, LIKE, IN, everything cond can say about one
 * string, for free). Zero file IO, zero Spark jobs: the plan becomes a local
 * scan. The answer is driver arithmetic over one manifest read, so the rule
 * recomputes it on every run of the fixed-point optimizer batches instead of
 * caching it — nothing can serve another snapshot's, or another store's,
 * counts.
 *
 * Exactness gates (any miss -> plan unchanged, Spark computes normally):
 *  - the store's manifest can answer at all (same dict + counts coverage
 *    gate as the unfiltered pushdown — [[GraftGroupedAgg.compute]] returns
 *    None otherwise);
 *  - single string group column, aggregates only count(*) / count(c)
 *    (non-distinct, unfiltered);
 *  - cond is deterministic, subquery-free, and references no column but c —
 *    a predicate on any OTHER column changes per-group counts in ways the
 *    per-value counts cannot attribute;
 *  - cond evaluation itself throws nothing (an ANSI cast error declines and
 *    surfaces through the normal scan instead).
 *
 * Matches BOTH relation stages, because the rule is registered both as an
 * extension optimizer rule (runs before V2 scan building — sees
 * [[DataSourceV2Relation]], and reads the manifest of the relation's
 * snapshot) and in `experimental.extraOptimizations` (runs last — sees the
 * built [[DataSourceV2ScanRelation]], and answers from the scan's pinned
 * entries). Incremental (fromSnapshot) scans are excluded in both forms: a
 * range delta is not the state the manifest describes. So is a built scan
 * holding claimed filters: its rows are already filtered, and no `Filter`
 * node shows by what ([[GraftScan.metadataEntries]]). The unfiltered shape
 * is deliberately NOT matched here — it already rides the V2 complete
 * pushdown with its plan-visible `PushedAggregates`.
 */
object GroupedAggMetadataRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case a @ Aggregate(Seq(g: AttributeReference), _, _, _) if g.dataType == StringType =>
      rewrite(a, g).getOrElse(a)
  }

  /** (table schema, the manifest entries its answer reads) when `p` is a
    * graft relation whose manifest describes the scanned state. The entries
    * are read only once the rest of the shape has matched. */
  private def graftScope(p: LogicalPlan)
      : Option[(StructType, () => Option[Seq[SnapshotStore.PartEntry]])] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        // decline on ANY incremental option (also a lone toSnapshot — the
        // builder rejects it; answering from full-state metadata here would
        // swallow that validation) and on an unparseable snapshotId (the
        // builder throws; defaulting to the CURRENT state would silently
        // answer the wrong snapshot)
        case t: GraftTable if !r.options.containsKey("fromSnapshot") &&
            !r.options.containsKey("toSnapshot") =>
          try {
            val id = Option(r.options.get("snapshotId")).map(_.toLong)
            Some((t.schema(), () => SnapshotStore.entriesOf(t.storeRoot, id)))
          } catch { case _: NumberFormatException => None }
        case _ => None
      }
      case r: DataSourceV2ScanRelation => r.scan match {
        case s: GraftScan => Some((r.relation.table.schema(), () => s.metadataEntries))
        case _ => None
      }
      case _ => None
    }

  /** Column pruning interleaves plain attribute Projects with the shape —
    * they change nothing the metadata answer depends on. */
  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => stripProjects(c)
    case other => other
  }

  private sealed trait OutCol
  private case object OutGroupValue extends OutCol
  private case object OutCountStar extends OutCol
  private case object OutCountCol extends OutCol

  private def rewrite(a: Aggregate, g: AttributeReference): Option[LogicalPlan] = {
    val (cond, rel) = stripProjects(a.child) match {
      case Filter(c, ch) => stripProjects(ch) match {
        case r @ (_: DataSourceV2Relation | _: DataSourceV2ScanRelation) => (c, r)
        case _ => return None
      }
      case _ => return None // unfiltered: the V2 complete pushdown's job
    }
    val (schema, entries) = graftScope(rel).getOrElse(return None)
    // the group attribute must BE the relation's column (same exprId), typed
    // string in the store schema
    if (!rel.output.exists(o => o.exprId == g.exprId && o.dataType == StringType))
      return None
    if (!schema.fields.exists(f => f.name == g.name && f.dataType == StringType))
      return None
    if (!cond.deterministic || !cond.references.subsetOf(AttributeSet(g)) ||
        cond.exists(_.isInstanceOf[PlanExpression[_]])) return None
    val outs: Seq[OutCol] = a.aggregateExpressions.map {
      case ar: AttributeReference if ar.exprId == g.exprId => OutGroupValue
      case Alias(ar: AttributeReference, _) if ar.exprId == g.exprId => OutGroupValue
      case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) if v != null => OutCountStar
          case Count(Seq(ar: AttributeReference)) if ar.exprId == g.exprId => OutCountCol
          case _ => return None
        }
      case _ => return None
    }
    val rows = entries().flatMap(GraftGroupedAgg.compute(_, g.name)).getOrElse(return None)
    // exact per-value filter: bind cond to a one-column row and evaluate with
    // full Catalyst semantics (three-valued null logic included — the SQL NULL
    // group passes iff cond(NULL) is TRUE, exactly like the row filter would)
    val bound = BindReferences.bindReference(cond, Seq(g): AttributeSeq)
    val holder = new GenericInternalRow(1)
    def passes(v: String): Boolean = {
      holder.update(0, if (v == null) null else UTF8String.fromString(v))
      bound.eval(holder) == true
    }
    val data =
      try rows.filter(r => passes(r.value)).map { r =>
        InternalRow.fromSeq(outs.map {
          case OutGroupValue => if (r.value == null) null else UTF8String.fromString(r.value)
          case OutCountStar => r.countStar
          case OutCountCol => r.countCol
        })
      } catch {
        // a condition that cannot evaluate (e.g. an ANSI cast error) declines:
        // the normal scan raises the same error with its proper query context
        case scala.util.control.NonFatal(_) => return None
      }
    fired.incrementAndGet()
    Some(LocalRelation(a.output, data))
  }

  /** Test hook: metadata-answered filtered grouped aggregates in this JVM. */
  val fired = new java.util.concurrent.atomic.AtomicLong(0)
}
