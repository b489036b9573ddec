package graft.jobs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.core.PhysicalIntType

/**
 * The block kernel every writer runs: rows of `schema`, all of part `partId`
 * and ordered by the store's sort key, are buffered column-wise and leave as
 * one [[BlockRow]] per column through `emit` whenever a block holds
 * [[EncodeJob.BlockSize]] rows or `maxBlockBytes` buffered bytes (checked
 * after each row; [[flush]] emits the rest). Memory is one block in flight.
 * Columns are schema-driven: strings get textual bounds/dict metadata, binary
 * is opaque, timestamps ride as epoch micros, and the integer family encodes
 * through the width-matched physical codec (i64/i32/i16/i8).
 */
final class BlockEncoder(schema: StructType, partId: Int, maxBlockBytes: Long)(
    emit: BlockRow => Unit) {
  import EncodeJob.BlockSize

  private val fields = schema.fields
  // per field: a byte-array buffer (string/binary) OR a long+valid buffer
  // (ints). Buffers start small and grow with the block up to BlockSize rows,
  // so a writer of a small part never zeroes a full block's worth.
  private var intCap = math.min(1024, BlockSize)
  private val strBufs = new Array[java.util.ArrayList[Array[Byte]]](fields.length)
  private val textual = new Array[Boolean](fields.length)
  private val longBufs = new Array[Array[Long]](fields.length)
  private val validBufs = new Array[Array[Boolean]](fields.length)
  private val intKind = new Array[PhysicalIntType](fields.length)
  fields.zipWithIndex.foreach { case (f, i) =>
    def ints(t: PhysicalIntType): Unit = {
      longBufs(i) = new Array[Long](intCap); validBufs(i) = new Array[Boolean](intCap)
      intKind(i) = t
    }
    f.dataType match {
      case StringType =>
        strBufs(i) = new java.util.ArrayList[Array[Byte]](); textual(i) = true
      case BinaryType => strBufs(i) = new java.util.ArrayList[Array[Byte]]()
      case TimestampType | LongType => ints(PhysicalIntType.I64)
      case IntegerType => ints(PhysicalIntType.I32)
      case ShortType => ints(PhysicalIntType.I16)
      case ByteType => ints(PhysicalIntType.I8)
      case other => throw new IllegalArgumentException(
        s"unsupported graft column type ${f.name} ${other.simpleString}")
    }
  }
  private var blockSeq = 0
  private var n = 0
  private var bufBytes = 0L

  def add(row: InternalRow): Unit = {
    if (n == intCap) growInts()
    var i = 0
    while (i < fields.length) {
      if (strBufs(i) != null) {
        val v =
          if (row.isNullAt(i)) null
          else if (textual(i)) row.getUTF8String(i).getBytes
          else row.getBinary(i)
        strBufs(i).add(v)
        if (v != null) bufBytes += v.length
      } else {
        if (row.isNullAt(i)) { longBufs(i)(n) = 0L; validBufs(i)(n) = false }
        else {
          longBufs(i)(n) = fields(i).dataType match {
            case IntegerType => row.getInt(i).toLong
            case ShortType => row.getShort(i).toLong
            case ByteType => row.getByte(i).toLong
            case _ => row.getLong(i) // timestamp micros / bigint
          }
          validBufs(i)(n) = true
        }
        bufBytes += 8L
      }
      i += 1
    }
    n += 1
    bufBytes += 8L
    if (n == BlockSize || bufBytes >= maxBlockBytes) flush()
  }

  private def growInts(): Unit = {
    intCap = math.min(intCap * 2, BlockSize)
    var i = 0
    while (i < fields.length) {
      if (longBufs(i) != null) {
        longBufs(i) = java.util.Arrays.copyOf(longBufs(i), intCap)
        validBufs(i) = java.util.Arrays.copyOf(validBufs(i), intCap)
      }
      i += 1
    }
  }

  /** Emit the buffered rows as one block (no-op when empty). */
  def flush(): Unit = {
    if (n == 0) return
    var i = 0
    while (i < fields.length) {
      emit(
        if (strBufs(i) != null) {
          val b = EncodeJob.strBlockRow(partId, blockSeq, fields(i).name, strBufs(i), textual(i))
          strBufs(i).clear()
          b
        } else
          EncodeJob.intBlockRow(partId, blockSeq, fields(i).name,
            longBufs(i), validBufs(i), n, intKind(i)))
      i += 1
    }
    n = 0; bufBytes = 0L; blockSeq += 1
  }
}
