package graft.codec

import graft.core.PhysicalIntType
import java.nio.charset.StandardCharsets

/**
 * Self-describing encoded block for one string (UTF-8 bytes) column slice.
 *
 * Format: magic 'G','S' | codecId u8 | n i32 | codec-specific body. Lengths and
 * dictionary indices reuse [[IntBlockCodec]] so they benefit from the same integer
 * codec family.
 *
 * Nullability: a null entry is distinct from an empty string. When any entry is
 * null the codecId byte carries flag 0x80 and the body becomes
 * `sized(validity bitmap) | sized(inner block over the non-null entries)`;
 * all-valid blocks stay byte-identical to the null-free format.
 */
object StringBlockCodec {

  private val MAGIC0: Byte = 'G'
  private val MAGIC1: Byte = 'S'

  /** The ONE string-block magic test — dispatchers must use this instead of
    * duplicating the magic bytes (a header change would silently misroute
    * blocks at any copy). */
  def isStringBlock(bs: Array[Byte]): Boolean =
    bs.length >= 2 && bs(0) == MAGIC0 && bs(1) == MAGIC1

  private val ID_PLAIN = 0 // lengths block + concatenated bytes
  private val ID_DICT = 1  // distinct strings as nested block + index block
  private val ID_FSST = 2  // symbol table + compressed-lengths block + payload

  private val NullableFlag = 0x80

  /** Payload bytes an FSST decode samples to size its output buffer. */
  private val SizingSampleBytes = 4096

  def encodeStrings(values: Array[String]): Array[Byte] =
    encode(values.map(s => if (s == null) null else s.getBytes(StandardCharsets.UTF_8)))

  def decodeStrings(block: Array[Byte]): Array[String] =
    decode(block).map(bs => if (bs == null) null else new String(bs, StandardCharsets.UTF_8))

  /** Null-tolerant encode: wraps the dense block with a validity bitmap when needed. */
  def encode(values: Array[Array[Byte]]): Array[Byte] = {
    var hasNull = false
    var i = 0
    while (i < values.length && !hasNull) { if (values(i) == null) hasNull = true; i += 1 }
    if (!hasNull) return encodeDense(values)
    val valid = values.map(_ != null)
    val inner = encodeDense(values.filter(_ != null))
    val out = new ByteWriter(inner.length + values.length / 8 + 32)
    out.u8(MAGIC0); out.u8(MAGIC1)
    out.u8((inner(2) & 0xff) | NullableFlag)
    out.i32(values.length)
    out.sized(IntBlockCodec.packValidity(valid))
    out.sized(inner)
    out.toByteArray
  }

  /** 8-bytes-at-a-time content hash for the cardinality probe. */
  @inline private def hash64(bs: Array[Byte]): Long = {
    var h = 0x9E3779B97F4A7C15L ^ bs.length
    var i = 0
    val n8 = bs.length - 7
    while (i < n8) {
      val v = BytePack.loadLongBE(bs, i)
      h = java.lang.Long.rotateLeft(h ^ (v * 0x9E3779B97F4A7C15L), 27) * 0xBF58476D1CE4E5B9L
      i += 8
    }
    while (i < bs.length) { h = (h ^ bs(i)) * 0x100000001B3L; i += 1 }
    h
  }

  /** Auto-choose: dict for low cardinality, FSST when the sample compresses, else plain. */
  private def encodeDense(values: Array[Array[Byte]]): Array[Byte] = {
    val n = values.length
    val totalBytes = values.foldLeft(0L)(_ + _.length)
    // cardinality probe by 64-bit content hash (no per-value String copy) with
    // early exit at the dict viability bound: high-cardinality text blocks used to
    // hash+copy EVERY value before giving up — this was the #1 encode hotspot.
    // A hash collision can only undercount, which at worst picks a slightly
    // suboptimal dict encode (still exact: ID_DICT rebuilds true distinct values).
    // long-value blocks (avg > 256B) are never worth a dictionary and the probe
    // itself would hash a quarter of the block — go straight to FSST/plain
    if (n > 0 && totalBytes / n <= 256) {
      val cardCap = math.min(4096L, n.toLong / 4).toInt
      val distinct = new java.util.HashSet[java.lang.Long]()
      var card = 0
      var i = 0
      while (i < n && card <= cardCap) {
        if (distinct.add(hash64(values(i)))) card += 1
        i += 1
      }
      if (card <= cardCap) return encodeAs(values, ID_DICT)
    }
    if (totalBytes >= 4096) {
      // train once on a strided sample; reuse the same table for the real encode
      val stride = math.max(1, values.length / 64)
      val sample = values.indices.by(stride).take(64).map(values(_)).toArray
      val table = FsstLite.train(sample.iterator)
      val out = new ByteWriter(4096)
      var in = 0L
      sample.foreach { s => FsstLite.compress(table, s, out); in += s.length }
      if (in > 0 && out.length.toDouble / in < 0.80) return encodeFsst(values, table)
    }
    encodeAs(values, ID_PLAIN)
  }

  def encodeAs(values: Array[Array[Byte]], codecId: Int): Array[Byte] =
    if (codecId == ID_FSST) encodeFsst(values, FsstLite.train(values.iterator))
    else encodeOther(values, codecId)

  private def encodeFsst(values: Array[Array[Byte]], table: FsstLite.Table): Array[Byte] = {
    var totalIn = 0
    values.foreach(totalIn += _.length)
    val payload = new ByteWriter(totalIn / 2 + 4096)
    val compLens = new Array[Long](values.length)
    var i = 0
    while (i < values.length) {
      val before = payload.length
      FsstLite.compress(table, values(i), payload)
      compLens(i) = (payload.length - before).toLong
      i += 1
    }
    val lens = IntBlockCodec.encode(compLens, PhysicalIntType.U32)
    // sized exactly, so the payload is copied once, straight into the block
    // that toByteArray hands back
    val out = new ByteWriter(3 + 4 + table.serializedSize + 4 + lens.length + 4 + payload.length)
    out.u8(MAGIC0); out.u8(MAGIC1)
    out.u8(ID_FSST)
    out.i32(values.length)
    table.serialize(out)
    out.sized(lens)
    out.sized(payload)
    out.toByteArray
  }

  private def encodeOther(values: Array[Array[Byte]], codecId: Int): Array[Byte] = {
    val out = new ByteWriter(64)
    out.u8(MAGIC0); out.u8(MAGIC1)
    out.u8(codecId)
    out.i32(values.length)
    codecId match {
      case ID_PLAIN =>
        val lengths = values.map(_.length.toLong)
        out.sized(IntBlockCodec.encode(lengths, PhysicalIntType.U32))
        val payload = new ByteWriter(lengths.sum.toInt + 16)
        values.foreach(payload.bytes)
        out.sized(payload.toByteArray)

      case ID_DICT =>
        // byte-array keyed throughout: the previous ISO-8859-1 String per value
        // plus boxed Map lookups allocated on the hot low-cardinality path this
        // codec exists for (64Ki lang-like values per block). Unsigned byte
        // order == the old ISO-8859-1 String order, so the emitted dict payload
        // and codes are BYTE-IDENTICAL to the previous format.
        val cmp: java.util.Comparator[Array[Byte]] =
          (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
        val set = new java.util.TreeSet[Array[Byte]](cmp)
        values.foreach(set.add)
        val sortedDistinct = set.toArray(new Array[Array[Byte]](set.size))
        val codes = new Array[Long](values.length)
        var i = 0
        while (i < values.length) {
          codes(i) = java.util.Arrays.binarySearch(sortedDistinct, values(i), cmp).toLong
          i += 1
        }
        out.sized(encodeAs(sortedDistinct, ID_PLAIN))
        out.sized(IntBlockCodec.encode(codes, PhysicalIntType.U32))

      case other => throw new IllegalArgumentException(s"unknown string codec id $other")
    }
    out.toByteArray
  }

  def codecName(block: Array[Byte]): String = {
    if (block.length < 3 || (block(0) & 0xff) != MAGIC0 || (block(1) & 0xff) != MAGIC1)
      throw new IntBlockCodec.CorruptBlockException(
        s"not a string block (${block.length} bytes)", null)
    (block(2) & 0xff & ~NullableFlag) match {
      case ID_PLAIN => "str_plain"
      case ID_DICT => "str_dict"
      case ID_FSST => "str_fsst"
      case other => s"unknown($other)"
    }
  }

  /** A decoded string block as slices of one buffer: value `i` is the
    * `lens(i)` bytes of `buf` at `offs(i)`, or null when `lens(i)` is
    * negative. Readers wrap or copy values straight from `buf`. */
  final class Slices(val buf: Array[Byte], val offs: Array[Int], val lens: Array[Int]) {
    def length: Int = lens.length
    /** Value `i` as its own array (null for a null value). */
    def bytes(i: Int): Array[Byte] =
      if (lens(i) < 0) null else java.util.Arrays.copyOfRange(buf, offs(i), offs(i) + lens(i))
  }

  /** Every value of the block as its own array. */
  def decode(block: Array[Byte]): Array[Array[Byte]] = {
    val s = decodeSlices(block)
    val out = new Array[Array[Byte]](s.length)
    var i = 0
    while (i < out.length) { out(i) = s.bytes(i); i += 1 }
    out
  }

  /** The block's values as [[Slices]]: plain values stay in `block`, a dict
    * block's values in its dictionary, and an FSST block decodes into one
    * buffer, sized by a pre-pass over a sample of its codes. */
  def decodeSlices(block: Array[Byte]): Slices =
    try decodeImpl(block)
    catch {
      case e: IntBlockCodec.CorruptBlockException => throw e
      case e: ArrayIndexOutOfBoundsException =>
        throw new IntBlockCodec.CorruptBlockException(
          s"truncated or corrupt string block (${block.length} bytes)", e)
      case e: NegativeArraySizeException =>
        throw new IntBlockCodec.CorruptBlockException(
          s"corrupt string block lengths (${block.length} bytes)", e)
      case e: IllegalArgumentException =>
        throw new IntBlockCodec.CorruptBlockException(
          s"corrupt string block: ${e.getMessage}", e)
    }

  private def decodeImpl(block: Array[Byte]): Slices = {
    val c = new ByteCursor(block)
    require(c.u8() == MAGIC0 && c.u8() == MAGIC1, "bad string block magic")
    val codecId = c.u8()
    val n = c.i32()
    if (n < 0 || n > IntBlockCodec.MaxBlockValues)
      throw new IntBlockCodec.CorruptBlockException(s"implausible string block count $n", null)
    val offs = new Array[Int](n)
    val lens = new Array[Int](n)
    if ((codecId & NullableFlag) != 0) {
      val (voff, vlen) = c.sizedSlice()
      require(vlen >= (n + 7) / 8, "truncated validity bitmap")
      val (ioff, ilen) = c.sizedSlice()
      val inner = decodeSlices(java.util.Arrays.copyOfRange(c.buf, ioff, ioff + ilen))
      var j = 0
      var i = 0
      while (i < n) {
        if (((c.buf(voff + (i >> 3)) >> (i & 7)) & 1) == 1) {
          offs(i) = inner.offs(j); lens(i) = inner.lens(j); j += 1
        } else lens(i) = -1
        i += 1
      }
      return new Slices(inner.buf, offs, lens)
    }
    codecId match {
      case ID_PLAIN =>
        val (lo, ll) = c.sizedSlice()
        val lengths = IntBlockCodec.decode(java.util.Arrays.copyOfRange(c.buf, lo, lo + ll))
        val (po, plen) = c.sizedSlice()
        val payloadEnd = po + plen
        var off = po
        var i = 0
        while (i < n) {
          val len = lengths(i)
          // a corrupt length must throw, not slice past the payload
          if (len < 0 || len > payloadEnd - off)
            throw new IntBlockCodec.CorruptBlockException(
              s"corrupt string length $len at payload offset ${off - po}", null)
          offs(i) = off; lens(i) = len.toInt
          off += len.toInt
          i += 1
        }
        new Slices(c.buf, offs, lens)

      case ID_DICT =>
        val (doff, dlen) = c.sizedSlice()
        val dict = decodeSlices(java.util.Arrays.copyOfRange(c.buf, doff, doff + dlen))
        val (io, il) = c.sizedSlice()
        val codes = IntBlockCodec.decode(java.util.Arrays.copyOfRange(c.buf, io, io + il))
        var i = 0
        while (i < n) {
          val code = codes(i)
          // bound-check the LONG (same aliasing hole as the int-dict path:
          // .toInt mapped corrupt codes >= 2^32 onto valid slots silently)
          if (code < 0L || code >= dict.length)
            throw new IntBlockCodec.CorruptBlockException(
              s"corrupt string dict code $code (card ${dict.length})", null)
          offs(i) = dict.offs(code.toInt); lens(i) = dict.lens(code.toInt)
          i += 1
        }
        new Slices(dict.buf, offs, lens)

      case ID_FSST =>
        val table = FsstLite.deserializeTable(c)
        val (lo, ll) = c.sizedSlice()
        val compLens = IntBlockCodec.decode(java.util.Arrays.copyOfRange(c.buf, lo, lo + ll))
        val (po, plen) = c.sizedSlice()
        val payloadEnd = po + plen
        // one output buffer, sized by a pre-pass over the payload's first
        // codes (a pass over all of them cost as much as the decode) and
        // grown when the rest decodes longer; every value is checked to lie in
        // the payload first, and a code decodes to at most 8 bytes, so the
        // buffer stays bounded by 8x the block's own size
        val sample = math.min(plen, SizingSampleBytes)
        val sampled = FsstLite.decodedLength(table, c.buf, po, sample)
        var out = new Array[Byte](
          math.min(sampled.toDouble / math.max(sample, 1) * 1.25 * plen + 64, plen * 8.0 + 8).toInt)
        var o = 0
        var off = po
        var i = 0
        while (i < n) {
          val len = compLens(i)
          if (len < 0 || len > payloadEnd - off)
            throw new IntBlockCodec.CorruptBlockException(
              s"corrupt compressed length $len at payload offset ${off - po}", null)
          // +8: the packed 8-byte symbol store may run past the value's end
          val need = o + len * 8 + 8
          if (need > out.length) {
            if (need > Int.MaxValue - 8)
              throw new IntBlockCodec.CorruptBlockException(
                s"string block needs a $need-byte decode buffer, more than one array holds", null)
            out = java.util.Arrays.copyOf(out,
              math.max(math.min(out.length * 2L, math.min(plen * 8L + 8, Int.MaxValue - 8L)),
                need).toInt)
          }
          val end = FsstLite.decompressInto(table, c.buf, off, len.toInt, out, o)
          offs(i) = o; lens(i) = end - o
          o = end
          off += len.toInt
          i += 1
        }
        new Slices(out, offs, lens)

      case other => throw new IllegalArgumentException(s"unknown string codec id $other")
    }
  }
}
