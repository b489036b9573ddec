package graft.sources.v2

import java.nio.charset.StandardCharsets.UTF_8

import graft.codec.StringBlockCodec

/**
 * A pushed filter leaf the batch scan evaluates itself, exactly, on the
 * decoded columns of each block group ([[FilterConversion.toExactFilters]]
 * claims them). Claimed leaves are not handed back to Spark, so the plan
 * holds no `Filter` node with the literal, and its whole-stage code is the
 * same for every literal.
 *
 * Every leaf is false on a null value except [[ExactFilter.NullTest]], and
 * only conjunctions of leaves are claimed, so "false" and SQL's "unknown"
 * drop the same rows. String leaves compare UTF-8 bytes unsigned, as
 * `UTF8String` does; int-family leaves (timestamps as epoch micros) compare
 * the stored longs.
 */
sealed trait ExactFilter extends Serializable {
  def column: String
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
