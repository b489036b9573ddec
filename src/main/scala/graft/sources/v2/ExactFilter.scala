package graft.sources.v2

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String

import graft.codec.StringBlockCodec
import graft.sources.SnapshotStore.ColumnStats

/**
 * A predicate leaf over one column: the one form a pushed filter takes
 * ([[FilterConversion.toLeaves]] converts each filter once) and the form the
 * decode API's predicates take ([[graft.jobs.DecodeJob.StrEq]] and the other
 * constructors there). A leaf is evaluated two ways:
 *  - [[statsTest]]: may a part or block group whose column has these stats
 *    hold a matching row? Planning prunes with it on the driver, on the
 *    manifest's part stats and then on each surviving group's footer
 *    metadata ([[graft.jobs.DecodeJob.planPrunedKeys]]).
 *  - [[ExactFilter.select]]: exactly, on a group's decoded columns. The batch
 *    scan evaluates the leaves of every filter it claims, so the plan holds no
 *    `Filter` node with the literal, and its whole-stage code is the same for
 *    every literal.
 * The decode API turns a leaf into a Spark `Column` (`DecodeJob.rowCond`);
 * that form is kept there because it depends on the webtext schema, whose one
 * int-family column is the `warc_ts` timestamp.
 *
 * Every leaf is false on a null value except [[ExactFilter.NullTest]], and
 * only conjunctions of leaves are claimed, so "false" and SQL's "unknown"
 * drop the same rows. String leaves compare UTF-8 bytes unsigned, as
 * `UTF8String` does; int-family leaves (timestamps as epoch micros) compare
 * the stored longs.
 */
sealed trait ExactFilter extends Serializable {
  def column: String

  /** Can a part or block group whose column has these stats hold a row this
    * leaf keeps? Absent stats admit (soundness). Built once per leaf, on the
    * driver where planning runs, and never serialized: a runtime `In` can
    * carry thousands of values, and the test runs once per part and group. */
  @transient lazy val statsTest: ColumnStats => Boolean = ExactFilter.statsTestOf(this)
}

object ExactFilter {
  /** Spark's own string form of a string literal. */
  private def quoted(v: String) = "'" + v.replace("'", "\\'") + "'"

  /** `lo <= column <= hi` on a string column (None = open); a strict bound
    * excludes the value itself. */
  final case class StrRange(column: String, lo: Option[String], loStrict: Boolean,
      hi: Option[String], hiStrict: Boolean) extends ExactFilter {
    private[v2] val loBytes: Array[Byte] = lo.map(_.getBytes(UTF_8)).orNull
    private[v2] val hiBytes: Array[Byte] = hi.map(_.getBytes(UTF_8)).orNull
    override def toString: String = (lo, hi) match {
      case (Some(l), Some(h)) if l == h && !loStrict && !hiStrict => s"$column = ${quoted(l)}"
      case _ =>
        Seq(lo.map(l => s"$column ${if (loStrict) ">" else ">="} ${quoted(l)}"),
          hi.map(h => s"$column ${if (hiStrict) "<" else "<="} ${quoted(h)}")).flatten
          .mkString(" AND ")
    }
  }

  final case class StrIn(column: String, values: Seq[String]) extends ExactFilter {
    // built where the filter runs: a ByteBuffer does not serialize
    @transient private[v2] lazy val set: java.util.HashSet[java.nio.ByteBuffer] = {
      val s = new java.util.HashSet[java.nio.ByteBuffer]()
      values.foreach(v => s.add(java.nio.ByteBuffer.wrap(v.getBytes(UTF_8))))
      s
    }
    override def toString: String = s"$column IN (${values.map(quoted).mkString(", ")})"
  }

  final case class StrPrefix(column: String, prefix: String) extends ExactFilter {
    private[v2] val bytes: Array[Byte] = prefix.getBytes(UTF_8)
    override def toString: String = s"startswith($column, ${quoted(prefix)})"
  }

  /** `lo <= column <= hi` on an int-family column, both bounds inclusive; an
    * empty range (lo > hi) matches nothing. */
  final case class IntRange(column: String, lo: Long, hi: Long) extends ExactFilter {
    override def toString: String =
      if (lo > hi) s"$column IN ()"
      else if (lo == hi) s"$column = $lo"
      else Seq(if (lo == Long.MinValue) None else Some(s"$column >= $lo"),
        if (hi == Long.MaxValue) None else Some(s"$column <= $hi")).flatten match {
        case Seq() => s"$column IS NOT NULL"
        case bs => bs.mkString(" AND ")
      }
  }

  final case class IntIn(column: String, values: Seq[Long]) extends ExactFilter {
    private[v2] val sorted: Array[Long] = values.toArray.sorted
    override def toString: String = s"$column IN (${values.mkString(", ")})"
  }

  /** `column IS NULL` (or `IS NOT NULL` when `isNull` is false). */
  final case class NullTest(column: String, isNull: Boolean, stringColumn: Boolean)
      extends ExactFilter {
    override def toString: String = s"$column IS ${if (isNull) "" else "NOT "}NULL"
  }

  /**
   * Smallest string greater than EVERY string with the given prefix, under
   * Spark's UTF8 binary ordering: the prefix with its last rankable char
   * incremented. A char is dropped first only when its increment is not a
   * valid non-surrogate scalar: U+FFFF (no in-char successor) and
   * U+D7FF..U+DFFF (U+D7FF increments into the surrogate range; surrogates
   * themselves — possibly halves of a supplementary pair — cannot be
   * incremented byte-order-soundly). Everything else increments: UTF-8 is
   * monotone in scalar value and encodings are never byte-prefixes of each
   * other, so `prefix[0..i-1] + (c+1)` bounds every prefixed string. None =
   * no finite successor (pruning then uses only the lower bound, still sound).
   */
  private[graft] def prefixSuccessor(prefix: String): Option[String] = {
    @inline def noSuccessor(c: Char): Boolean =
      c == 0xFFFF.toChar || (c >= 0xD7FF.toChar && c <= 0xDFFF.toChar)
    var i = prefix.length - 1
    while (i >= 0 && noSuccessor(prefix.charAt(i))) i -= 1
    if (i < 0) None
    else Some(prefix.substring(0, i) + (prefix.charAt(i) + 1).toChar)
  }

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  /** The [[ExactFilter.statsTest]] of a leaf. Strings compare in Spark's
    * order (UTF-8 bytes): a string leaf admits when the stats' bounds overlap
    * the values it keeps and, when the stats carry a dictionary, a dictionary
    * value passes. A part's stats are the rollup of its blocks' (min of the
    * mins, max of the maxes, dict union, summed null counts), no tighter than
    * any block's, so a part passes whenever ANY of its groups could: level 1
    * never prunes a part holding a group level 2 keeps. Literals are converted
    * once per leaf. */
  private def statsTestOf(f: ExactFilter): ColumnStats => Boolean = {
    def dictHas(s: ColumnStats)(p: UTF8String => Boolean) = s.dict.forall(_.exists(v => p(u8(v))))
    f match {
      case StrRange(_, lo, loStrict, hi, hiStrict) =>
        val (l, h) = (lo.map(u8), hi.map(u8))
        def aboveLo(v: UTF8String) = l.forall { x =>
          val c = v.compareTo(x)
          if (loStrict) c > 0 else c >= 0
        }
        def belowHi(v: UTF8String) = h.forall { x =>
          val c = v.compareTo(x)
          if (hiStrict) c < 0 else c <= 0
        }
        s => s.strMax.forall(m => aboveLo(u8(m))) && s.strMin.forall(m => belowHi(u8(m))) &&
          dictHas(s)(v => aboveLo(v) && belowHi(v))
      case StrIn(_, vs) if vs.isEmpty => _ => false
      case StrIn(_, vs) =>
        val us = vs.map(u8)
        val (lo, hi, set) = (us.min, us.max, us.toSet)
        s => s.strMin.forall(u8(_).compareTo(hi) <= 0) && s.strMax.forall(u8(_).compareTo(lo) >= 0) &&
          dictHas(s)(set)
      case StrPrefix(_, pre) =>
        // matches s satisfy pre <= s < successor(pre): the stats must overlap
        // that interval (only its lower end when there is no successor)
        val x = u8(pre)
        val succ = prefixSuccessor(pre).map(u8)
        s => s.strMax.forall(u8(_).compareTo(x) >= 0) &&
          succ.forall(su => s.strMin.forall(u8(_).compareTo(su) < 0)) &&
          dictHas(s)(_.startsWith(x))
      case IntRange(_, lo, hi) if lo > hi => _ => false
      case IntRange(_, lo, hi) => s => s.min.forall(_ <= hi) && s.max.forall(_ >= lo)
      // an IN prunes on its values' range
      case f: IntIn if f.sorted.isEmpty => _ => false
      case f: IntIn =>
        val (lo, hi) = (f.sorted.head, f.sorted.last)
        s => s.min.forall(_ <= hi) && s.max.forall(_ >= lo)
      // null counts are exact; a group of nulls only is not told apart
      case NullTest(_, isNull, _) => if (isNull) _.nNulls > 0 else _ => true
    }
  }

  /** Unsigned lexicographic byte order, then length: `UTF8String.compareTo`. */
  private def compare(a: Array[Byte], off: Int, len: Int, b: Array[Byte]): Int = {
    val n = math.min(len, b.length)
    var i = 0
    while (i < n) {
      val d = (a(off + i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    len - b.length
  }

  private def startsWith(a: Array[Byte], off: Int, len: Int, p: Array[Byte]): Boolean =
    len >= p.length && java.util.Arrays.equals(a, off, off + p.length, p, 0, p.length)

  /**
   * The rows of a group of `n` that pass every leaf, ascending, or null when
   * there are no leaves (every row passes). Leaves narrow the selection one
   * at a time and each column is fetched only when its first leaf runs, so
   * once nothing is left no further column is decoded.
   */
  def select(leaves: Seq[ExactFilter], n: Int, strings: String => StringBlockCodec.Slices,
      longs: String => (Array[Long], Array[Boolean])): Array[Int] = {
    if (leaves.isEmpty) return null
    var sel: Array[Int] = null // null = 0 until n
    var k = n
    val it = leaves.iterator
    while (k > 0 && it.hasNext) {
      val out = if (sel == null) new Array[Int](n) else sel
      var m = 0
      /** Keeps the selected rows `keep` admits. */
      @inline def narrow(keep: Int => Boolean): Unit = {
        var j = 0
        while (j < k) {
          val i = if (sel == null) j else sel(j)
          if (keep(i)) { out(m) = i; m += 1 }
          j += 1
        }
      }
      it.next() match {
        case f: StrRange =>
          val s = strings(f.column)
          narrow { i =>
            val len = s.lens(i)
            len >= 0 && {
              val lo = if (f.loBytes == null) 1 else compare(s.buf, s.offs(i), len, f.loBytes)
              val hi = if (f.hiBytes == null) -1 else compare(s.buf, s.offs(i), len, f.hiBytes)
              (if (f.loStrict) lo > 0 else lo >= 0) && (if (f.hiStrict) hi < 0 else hi <= 0)
            }
          }
        case f: StrIn =>
          val s = strings(f.column)
          narrow { i =>
            s.lens(i) >= 0 && f.set.contains(java.nio.ByteBuffer.wrap(s.buf, s.offs(i), s.lens(i)))
          }
        case f: StrPrefix =>
          val s = strings(f.column)
          narrow(i => s.lens(i) >= 0 && startsWith(s.buf, s.offs(i), s.lens(i), f.bytes))
        case f: IntRange =>
          val (vs, ok) = longs(f.column)
          val lo = f.lo; val hi = f.hi
          narrow(i => ok(i) && vs(i) >= lo && vs(i) <= hi)
        case f: IntIn =>
          val (vs, ok) = longs(f.column)
          narrow(i => ok(i) && java.util.Arrays.binarySearch(f.sorted, vs(i)) >= 0)
        case f: NullTest =>
          if (f.stringColumn) {
            val s = strings(f.column)
            narrow(i => (s.lens(i) < 0) == f.isNull)
          } else {
            val ok = longs(f.column)._2
            narrow(i => !ok(i) == f.isNull)
          }
      }
      sel = out
      k = m
    }
    if (sel == null) Array.range(0, n)
    else if (k == sel.length) sel
    else java.util.Arrays.copyOf(sel, k)
  }
}
