package graft.jobs

import scala.collection.immutable.TreeSet

import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotStore.{ColumnStats, PartEntry, PartStats}

/**
 * THE fold from one part's block metadata to its manifest entry: row count,
 * original/encoded bytes, per-column codec names, and the per-part planning
 * [[PartStats]] (block-group count; per column min of `block_min`, max of
 * `block_max`, the same over `block_str_min/max`, summed `n_nulls` and
 * `block_sum`, and the union of `block_str_dict` with its summed
 * `block_str_dict_counts`). Every writer commits through it: the writer
 * task ([[graft.sources.v2.GraftDataWriter]], which the V2 write and
 * [[EncodeJob.stageEncode]] both run) folds its own blocks as it flushes them
 * and ships the resulting entry in its commit message. The fold is a
 * commutative monoid, so [[foldByPart]] over a store's blocks, in any order,
 * yields the committed entries again.
 */
final class PartRollup {
  private var cols = Map.empty[String, PartRollup.ColFold]

  def add(b: BlockRow): this.type = {
    val f = PartRollup.ColFold.of(b)
    cols = cols.updated(b.column, cols.get(b.column).fold(f)(_ ++ f))
    this
  }

  /** Every column carries every row of the part, one block per group. */
  def nRows: Long = cols.valuesIterator.map(_.rows).maxOption.getOrElse(0L)

  def entry(partId: Int, dataDir: String): PartEntry = {
    val codecs = new java.util.TreeMap[String, String]()
    cols.foreach { case (c, f) => codecs.put(c, f.codecs.mkString("+")) }
    PartEntry(partId, dataDir, nRows,
      cols.valuesIterator.map(_.orig).sum, cols.valuesIterator.map(_.enc).sum,
      PartRollup.Json.writeValueAsString(codecs),
      Some(PartStats(cols.valuesIterator.map(_.blocks).maxOption.getOrElse(0L).toInt,
        cols.map { case (c, f) => c -> f.stats })))
  }
}

object PartRollup {
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Spark's string order (unsigned UTF-8 bytes), which block bounds and
    * the block-metadata predicates use — not String.compareTo's UTF-16 order. */
  private val Utf8Order: Ordering[String] =
    (a: String, b: String) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Both sides known, else unknown: one block without a bound makes the
    * part's bound absent. */
  private def both[T](a: Option[T], b: Option[T])(f: (T, T) => T): Option[T] =
    for (x <- a; y <- b) yield f(x, y)

  /** `sum` folds in BigInt, so an intermediate total past the i64 range
    * cannot make the fold order-dependent; the range check is in [[stats]].
    * `counts` maps each `dict` value to its row count and is dropped with
    * `dict`. */
  private[jobs] final case class ColFold(
      blocks: Long, rows: Long, nulls: Long, orig: Long, enc: Long,
      codecs: TreeSet[String],
      min: Option[Long], max: Option[Long],
      strMin: Option[String], strMax: Option[String],
      sum: Option[BigInt],
      dict: Option[TreeSet[String]],
      counts: Option[Map[String, Long]]) {

    def ++(o: ColFold): ColFold = {
      val d = both(dict, o.dict)(_ ++ _).filter(_.size <= PartStats.MaxDictValues)
      ColFold(
        blocks + o.blocks, rows + o.rows, nulls + o.nulls, orig + o.orig, enc + o.enc,
        codecs ++ o.codecs,
        both(min, o.min)(math.min), both(max, o.max)(math.max),
        both(strMin, o.strMin)(Utf8Order.min), both(strMax, o.strMax)(Utf8Order.max),
        both(sum, o.sum)(_ + _),
        d, d.flatMap(_ => both(counts, o.counts)((a, b) =>
          b.foldLeft(a) { case (m, (v, k)) => m.updated(v, m.getOrElse(v, 0L) + k) })))
    }

    /** A column whose bounds are all None is unbounded; its `nNulls` is
      * exact either way. */
    def stats: ColumnStats = {
      def short(s: Option[String]) = s.filter(_.length <= PartStats.MaxStringBound)
      val d = dict.filter(_.forall(_.length <= PartStats.MaxStringBound)).map(_.toVector)
      ColumnStats(min, max, short(strMin), short(strMax), nulls, d,
        sum.filter(_.isValidLong).map(_.toLong),
        for (vs <- d; k <- counts) yield vs.map(k))
    }
  }

  private[jobs] object ColFold {
    def of(b: BlockRow): ColFold = {
      val dict = b.block_str_dict.filter(_.length <= PartStats.MaxDictValues)
      ColFold(1L, b.n.toLong, b.n_nulls.toLong,
        b.orig_bytes, b.enc_bytes, TreeSet(b.codec.split('+').toSeq: _*),
        b.block_min, b.block_max, b.block_str_min, b.block_str_max,
        // an int block of nulls only carries no block_sum; it adds 0
        (if (b.typ != "str" && b.n == b.n_nulls) Some(0L) else b.block_sum).map(BigInt(_)),
        dict.map(vs => TreeSet(vs.toSeq: _*)(Utf8Order)),
        for (vs <- dict; ks <- b.block_str_dict_counts if ks.length == vs.length)
          yield vs.iterator.zip(ks.iterator).toMap)
    }
  }

  /** Fold a stream of blocks, in any order, into per-part rollups. */
  def foldByPart(blocks: Iterator[BlockRow]): Iterator[(Int, PartRollup)] = {
    val byPart = scala.collection.mutable.HashMap.empty[Int, PartRollup]
    blocks.foreach(b => byPart.getOrElseUpdate(b.part_id, new PartRollup).add(b))
    byPart.iterator
  }
}
