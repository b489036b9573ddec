package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotStore.{ColumnStats, PartEntry}

/** One column's manifest stats in every non-empty part, or None when a part
  * lacks them (committed before per-part stats, or before this column had
  * stats). The one coverage gate of both metadata aggregates. */
private object PartColumns {
  def of(entries: Seq[PartEntry], column: String): Option[Seq[(ColumnStats, Long)]] = {
    val found = entries.filter(_.nRows > 0)
      .map(e => e.stats.flatMap(_.columns.get(column)).map(_ -> e.nRows))
    if (found.forall(_.isDefined)) Some(found.flatten) else None
  }
}

/**
 * GROUPED aggregate pushdown from the manifest:
 * `SELECT lang, count(*) [, count(lang)] FROM graft GROUP BY lang` is driver
 * arithmetic over the scan's pinned [[PartEntry]]s. Each part's
 * [[ColumnStats]] carries the column's distinct values (`dict`) with their
 * row counts (`dictCounts`) and its exact null count, so the groups are the
 * summed counts per value plus the NULL group from `nNulls`. No Spark job
 * runs and no block file is opened.
 *
 * Exactness gate (decline -> Spark computes normally, identical results):
 *  - single GROUP BY key, a bare textual string column;
 *  - aggregates only count(*) and count(<group column>) — a count/min/max of
 *    a DIFFERENT column cannot be attributed to a value;
 *  - NO pushed filters (the manifest describes the unfiltered table);
 *  - EVERY non-empty part carries dict + counts for the column or holds
 *    nulls only. A part without them (committed before per-part stats or
 *    counts, a dict past [[graft.sources.SnapshotStore.PartStats.MaxDictValues]]
 *    values, or a block that voided the part's dict) declines the whole
 *    answer; it never falls back to reading blocks.
 */
object GraftGroupedAgg {

  /** One result row: group value (null = the SQL NULL group), count(*) value,
    * count(col) value. */
  final case class GroupRow(value: String, countStar: Long, countCol: Long)

  /** The grouped counts of `column` over `entries`, or None when a part
    * cannot answer (gate above). */
  private[graft] def compute(entries: Seq[PartEntry], column: String): Option[Seq[GroupRow]] = {
    val parts = PartColumns.of(entries, column).getOrElse(return None)
    val counts = scala.collection.mutable.TreeMap.empty[String, Long]
    for ((s, nRows) <- parts if s.nNulls != nRows) (s.dict, s.dictCounts) match {
      case (Some(vs), Some(ks)) if ks.sum + s.nNulls == nRows =>
        vs.iterator.zip(ks.iterator).foreach { case (v, k) =>
          counts(v) = counts.getOrElse(v, 0L) + k }
      case _ => return None
    }
    val nulls = parts.map(_._1.nNulls).sum
    val rows = counts.iterator.map { case (v, k) => GroupRow(v, k, k) }.toSeq
    // the SQL NULL group exists iff null rows exist; count(col) of it is 0
    Some(if (nulls > 0) rows :+ GroupRow(null, nulls, 0L) else rows)
  }
}

/**
 * UNGROUPED metadata aggregates — `count(*)` / `count(col)` / `min(col)` /
 * `max(col)` / `sum(col)` as driver arithmetic over the scan's pinned
 * [[PartEntry]]s: count(*) from `nRows`, count(col) from the exact `nNulls`,
 * min/max from the part bounds (the int family, timestamps as epoch micros,
 * via `min/max`; strings via the full-value `strMin/strMax` in unsigned-byte
 * order, which is Spark's UTF8String order), sum from the part `sum`. No
 * Spark job runs and no block file is opened.
 *
 * Coverage gate (None -> the pushdown declines, Spark computes normally):
 * every non-empty part carries the column's stats, and every part holding a
 * non-null value carries the needed bound or sum (a part of nulls only is
 * skipped: nulls take no part in min/max/sum). A sum whose total leaves the
 * i64 range declines, so Spark applies its own overflow semantics. Values
 * return in INTERNAL representation, ready for the scan's one row.
 */
private[graft] object GraftUngroupedAgg {
  import GraftDataSource.{AggCountCol, AggCountStar, AggMax, AggMin, AggSum, MetaAgg}

  def compute(entries: Seq[PartEntry], aggs: Seq[MetaAgg],
              schema: StructType): Option[Array[Any]] = {
    /** `stat` of every part holding a non-null value of `c`, or None when one
      * of them lacks it. */
    def nonNull[T](c: String)(stat: ColumnStats => Option[T]): Option[Seq[T]] =
      PartColumns.of(entries, c).flatMap { parts =>
        val vs = parts.collect { case (s, nRows) if s.nNulls != nRows => stat(s) }
        if (vs.forall(_.isDefined)) Some(vs.flatten) else None
      }
    def bound(c: String, isMin: Boolean): Option[Any] = schema(c).dataType match {
      case StringType =>
        nonNull(c)(s => if (isMin) s.strMin else s.strMax).map { vs =>
          val us = vs.map(UTF8String.fromString)
          if (us.isEmpty) null
          else us.reduce((a, b) => if ((a.compareTo(b) < 0) == isMin) a else b)
        }
      case t =>
        nonNull(c)(s => if (isMin) s.min else s.max).map { vs =>
          if (vs.isEmpty) null else internalInt(t, if (isMin) vs.min else vs.max)
        }
    }
    val totalRows = entries.map(_.nRows).sum
    Some(aggs.toArray.map {
      case AggCountStar => java.lang.Long.valueOf(totalRows): Any
      case AggCountCol(c) =>
        val parts = PartColumns.of(entries, c).getOrElse(return None)
        java.lang.Long.valueOf(totalRows - parts.map(_._1.nNulls).sum): Any
      case AggMin(c) => bound(c, isMin = true).getOrElse(return None)
      case AggMax(c) => bound(c, isMin = false).getOrElse(return None)
      case AggSum(c) =>
        val sums = nonNull(c)(_.sum).getOrElse(return None)
        if (sums.isEmpty) null // no non-null value: SQL sum is NULL
        else {
          val total = sums.foldLeft(BigInt(0))(_ + _)
          if (!total.isValidLong) return None
          java.lang.Long.valueOf(total.toLong): Any
        }
    })
  }

  /** An int-family bound in Spark's internal form for the column type
    * ([[GraftScanBuilder]]'s shape gate admits no other type here). */
  private def internalInt(t: DataType, v: Long): Any = t match {
    case IntegerType => java.lang.Integer.valueOf(v.toInt)
    case ShortType => java.lang.Short.valueOf(v.toShort)
    case ByteType => java.lang.Byte.valueOf(v.toByte)
    case _ => java.lang.Long.valueOf(v) // LongType, TimestampType (epoch micros)
  }
}

/** The aggregate kinds a grouped pushdown serves. */
private[v2] sealed trait GroupedAggKind
private[v2] case object GroupedCountStar extends GroupedAggKind
private[v2] case object GroupedCountCol extends GroupedAggKind

/**
 * Complete grouped-aggregate scan: rows are (group value, agg values...) in
 * the positional layout Spark expects from a complete pushdown (group columns
 * first, then aggregate expressions). The result was computed at PUSHDOWN time
 * from the manifest ([[GraftGroupedAgg]]); execution serves it from one
 * in-memory partition with zero file IO.
 */
final class GraftGroupedAggScan(root: String, column: String,
                                kinds: Seq[GroupedAggKind],
                                rows: Seq[GraftGroupedAgg.GroupRow])
    extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    StructField(column, StringType, nullable = true) +:
      kinds.zipWithIndex.map {
        case (GroupedCountStar, i) => StructField(s"count_star_$i", LongType, nullable = false)
        case (GroupedCountCol, i) => StructField(s"count_${column}_$i", LongType, nullable = false)
      })

  override def description(): String =
    s"GraftStore root=$root PushedAggregates: [group by $column; " +
      kinds.map { case GroupedCountStar => "count(*)"; case GroupedCountCol => s"count($column)" }
        .mkString(", ") + "] (metadata-only)"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    GraftDataSource.recordPlanStats(root, GraftDataSource.PlanStats(
      partitions = 1, files = 0, predicates = 0, prunedGroupKeys = None))
    Array(GraftGroupedAggPartition(
      rows.map(r => (r.value, r.countStar, r.countCol)).toArray, kinds.toArray))
  }

  override def createReaderFactory(): PartitionReaderFactory = GraftGroupedAggReaderFactory
}

final case class GraftGroupedAggPartition(
    rows: Array[(String, Long, Long)], kinds: Array[GroupedAggKind]) extends InputPartition

object GraftGroupedAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[GraftGroupedAggPartition]
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.rows.length }
      override def get(): InternalRow = {
        val (v, star, colCnt) = p.rows(i)
        val row = new GenericInternalRow(1 + p.kinds.length)
        row.update(0, if (v == null) null else UTF8String.fromString(v))
        var j = 0
        while (j < p.kinds.length) {
          row.update(1 + j, p.kinds(j) match {
            case GroupedCountStar => star
            case GroupedCountCol => colCnt
          })
          j += 1
        }
        row
      }
      override def close(): Unit = ()
    }
}
