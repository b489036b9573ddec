package graft.codec

import java.util.Arrays

/** Growable big-endian byte sink for block headers and codec payloads. */
final class ByteWriter(initialCapacity: Int = 256) {
  private var buf = new Array[Byte](math.max(initialCapacity, 16))
  private var len = 0

  @inline private def ensure(extra: Int): Unit =
    if (len + extra > buf.length)
      buf = Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))

  def u8(v: Int): Unit = { ensure(1); buf(len) = v.toByte; len += 1 }
  def i32(v: Int): Unit = {
    ensure(4)
    buf(len) = (v >>> 24).toByte; buf(len + 1) = (v >>> 16).toByte
    buf(len + 2) = (v >>> 8).toByte; buf(len + 3) = v.toByte
    len += 4
  }
  def i64(v: Long): Unit = { i32((v >>> 32).toInt); i32(v.toInt) }
  def bytes(bs: Array[Byte]): Unit = { ensure(bs.length); System.arraycopy(bs, 0, buf, len, bs.length); len += bs.length }
  /** int32 length prefix + bytes. */
  def sized(bs: Array[Byte]): Unit = { i32(bs.length); bytes(bs) }
  /** int32 length prefix + the bytes written to `w`, copied from its buffer. */
  def sized(w: ByteWriter): Unit = {
    i32(w.len); ensure(w.len); System.arraycopy(w.buf, 0, buf, len, w.len); len += w.len
  }

  def length: Int = len
  /** The bytes written. A writer filled to its exact capacity hands back its
    * buffer without a copy: later writes grow into a new buffer first, so the
    * returned bytes never change. */
  def toByteArray: Array[Byte] = if (len == buf.length) buf else Arrays.copyOf(buf, len)

  // ---- bulk-writer escape hatch: reserve capacity once, write with a local
  // cursor (no per-byte ensure), then commit. Used by hot codec inner loops. ----
  /** Ensure `extra` writable bytes and return the current write offset. */
  def reserve(extra: Int): Int = { ensure(extra); len }
  /** The backing array (valid until the next growth; use with reserve). */
  def rawBuffer: Array[Byte] = buf
  /** Commit bulk writes up to absolute offset `newLen`. */
  def advanceTo(newLen: Int): Unit = {
    require(newLen >= len && newLen <= buf.length, "advanceTo out of reserved range")
    len = newLen
  }
}

/** Primitive byte-array loads for codec hot loops. */
object BytePack {
  /**
   * Unboxed big-endian 8-byte load. NOT a VarHandle: Scala compiles the
   * signature-polymorphic `VarHandle.get(...)` with an Object return, so every
   * call boxes a Long — profiled at ~5% of encode-job CPU. Plain shifts stay
   * allocation-free and JIT-friendly.
   */
  @inline def loadLongBE(s: Array[Byte], i: Int): Long =
    ((s(i) & 0xffL) << 56) | ((s(i + 1) & 0xffL) << 48) |
    ((s(i + 2) & 0xffL) << 40) | ((s(i + 3) & 0xffL) << 32) |
    ((s(i + 4) & 0xffL) << 24) | ((s(i + 5) & 0xffL) << 16) |
    ((s(i + 6) & 0xffL) << 8) | (s(i + 7) & 0xffL)

  // big-endian long STORE: VarHandle.set returns void, so (unlike the boxing
  // signature-polymorphic get) it stays allocation-free and compiles to one
  // 8-byte store (same pattern as FsstLite's packed-symbol store)
  private val LongStoreBE = java.lang.invoke.MethodHandles
    .byteArrayViewVarHandle(classOf[Array[Long]], java.nio.ByteOrder.BIG_ENDIAN)

  @inline def storeLongBE(s: Array[Byte], i: Int, v: Long): Unit =
    LongStoreBE.set(s, i, v)
}

/** Sequential big-endian cursor over a byte array. */
final class ByteCursor(val buf: Array[Byte], private var pos: Int) {
  def this(buf: Array[Byte]) = this(buf, 0)

  def u8(): Int = { val v = buf(pos) & 0xff; pos += 1; v }
  def i32(): Int = {
    val v = ((buf(pos) & 0xff) << 24) | ((buf(pos + 1) & 0xff) << 16) |
            ((buf(pos + 2) & 0xff) << 8) | (buf(pos + 3) & 0xff)
    pos += 4; v
  }
  def i64(): Long = (i32().toLong << 32) | (i32().toLong & 0xffffffffL)
  def bytes(n: Int): Array[Byte] = {
    // same hazard sizedSlice guards: copyOfRange silently zero-PADS past the
    // source end, so a truncated buffer would yield a wrong value, not an error
    if (n < 0 || n > buf.length - pos)
      throw new IllegalArgumentException(
        s"corrupt byte field: $n bytes at offset $pos of ${buf.length}")
    val v = Arrays.copyOfRange(buf, pos, pos + n); pos += n; v
  }
  /** Read an int32-length-prefixed byte slice without copying: returns (offset, length).
    * The length is validated against the remaining buffer — a corrupt/bit-flipped
    * length must throw, not drive a multi-GB allocation downstream
    * (`Arrays.copyOfRange` silently zero-PADS past the source end). */
  def sizedSlice(): (Int, Int) = {
    val n = i32()
    if (n < 0 || n > buf.length - pos)
      throw new IllegalArgumentException(
        s"corrupt sized field: $n bytes at offset $pos of ${buf.length}")
    val off = pos; pos += n; (off, n)
  }
  def position: Int = pos
}
